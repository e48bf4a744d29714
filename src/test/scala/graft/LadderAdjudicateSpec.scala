package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.MiniJson.parse

class LadderAdjudicateSpec extends AnyFunSuite {

  test("parses nested 1x/100x blocks from the legacy hand-curated artifact") {
    val legacy = """{
      "rungs": {
        "1x_sf0.1": {"q174_dup_pagerank": 2.151, "q197_cc_star": 1.555},
        "100x_sf10": {"q174_dup_pagerank": 4.153, "q197_cc_star": 4.369}
      },
      "r11_graph_cube_rungs": {
        "protocol": "solo runs",
        "1x_sf0.1": {"q174_dup_pagerank": 2.695, "q266_cube_subtotals": 0.588},
        "100x_sf10": {"q174_dup_pagerank": 5.203, "q266_cube_subtotals": 3.347}
      }
    }"""
    val p = LadderAdjudicate.parsePrior(parse(legacy))
    // later section wins for the re-measured rung
    assert(p("q174_dup_pagerank") == (Some(2.695), Some(5.203)))
    assert(p("q197_cc_star") == (Some(1.555), Some(4.369)))
    assert(p("q266_cube_subtotals") == (Some(0.588), Some(3.347)))
    // protocol strings and non-query keys never parse as rungs
    assert(p.keySet.forall(_.startsWith("q")))
  }

  test("parses its own regular artifact format as the preferred prior") {
    val regular = """{"metric":"sf_ladder_adjudicated",
      "1x_sf0.1":{"q281_compaction_bytes":1.100},
      "100x_sf10":{"q281_compaction_bytes":2.970},
      "rungs":{"q281_compaction_bytes":{"x1":1.100,"x100":2.970,"ratio":2.700}}}"""
    assert(LadderAdjudicate.parsePrior(parse(regular))("q281_compaction_bytes") ==
      (Some(1.1), Some(2.97)))
  }

  test("flags a synthetic rung slowdown past 2x the prior ratio, not jitter or speedups") {
    def p(x1: Double, x100: Double) = (Some(x1), Some(x100))
    val prior = Map("q22" -> p(1.0, 13.7), "q281" -> p(1.0, 2.7),
      "q287" -> p(1.0, 3.0), "q266" -> p(1.0, 5.7), "q268" -> p(1.41, 2.19))
    val cur = Map(
      "q22" -> (41.0, 41.0),   // ratio 13.7 -> 41 AND x100 grew: a real break
      "q281" -> (5.1, 5.1),    // 2.7 -> 5.1: < 2x ratio growth, not flagged
      "q287" -> (0.9, 9.0),    // ratio exploded but 100x cost is sub-second —
                               // jitter floor exempts it
      "q266" -> (4.0, 6.2),    // x100 faster than prior: never flagged
      // the r13 first-run false positive: 1x improved 1.41->0.62 so the
      // ratio doubled, but x100 IMPROVED 2.19->2.00 — a speedup, not a break
      "q268" -> (2.00, 3.21))
    val flagged = LadderAdjudicate.rungRegressions(prior, cur)
    assert(flagged.keySet == Set("q22"), s"got $flagged")
    assert(math.abs(flagged("q22")._1 - 13.7) < 1e-9 && flagged("q22")._2 == 41.0)
    // boundary: exactly 2x does NOT flag (strictly past, like streamingDrops)
    assert(LadderAdjudicate.rungRegressions(
      Map("q" -> p(1.0, 2.0)), Map("q" -> (5.0, 4.0))).isEmpty)
    assert(LadderAdjudicate.rungRegressions(
      Map("q" -> p(1.0, 2.0)), Map("q" -> (5.0, 4.001))).nonEmpty)
    // a rung with no prior is new, not regressed
    assert(LadderAdjudicate.rungRegressions(
      Map.empty, Map("qnew" -> (50.0, 10.0))).isEmpty)
  }

  test("errored rungs stay enrolled via rung_names (no silent rot)") {
    // a rung that errors has no timing entries in the overwritten
    // artifact — its NAME must still round-trip so the next run
    // re-measures it instead of dropping it forever
    val artifact = """{"metric":"sf_ladder_adjudicated",
      "rung_names":["q281_compaction_bytes","q999_flaky_rung"],
      "1x_sf0.1":{"q281_compaction_bytes":1.1},
      "100x_sf10":{"q281_compaction_bytes":2.9},
      "rungs":{"q281_compaction_bytes":{"x1":1.1,"x100":2.9,"ratio":2.6},
               "q999_flaky_rung":{"error":"OOM"}}}"""
    assert(LadderAdjudicate.rungNames(parse(artifact)) ==
      Set("q281_compaction_bytes", "q999_flaky_rung"))
    assert(LadderAdjudicate.rungNames(parse("{}")).isEmpty)
    // the errored rung has no prior timings — parsePrior ignores it
    assert(!LadderAdjudicate.parsePrior(parse(artifact)).contains("q999_flaky_rung"))
  }

  test("ONLY-mode merge carries forward unmeasured rungs, overrides measured ones") {
    val prior = Map(
      "q100_old" -> (Some(1.0), Some(3.0)),
      "q200_remeasured" -> (Some(2.0), Some(5.0)),
      "q300_half" -> (Some(1.5), None: Option[Double])) // incomplete: not carryable
    val measured: Seq[(String, Either[String, (Double, Double)])] = Seq(
      "q200_remeasured" -> Right((1.8, 4.2)),
      "q400_new" -> Right((0.5, 1.1)),
      "q500_err" -> Left("OOM"))
    val (all, carried) = LadderAdjudicate.mergeCarried(prior, measured)
    assert(carried == Set("q100_old"))
    val m = all.toMap
    // carried rung keeps its prior timings verbatim
    assert(m("q100_old") == Right((1.0, 3.0)))
    // re-measured rung takes the NEW numbers, not the prior's
    assert(m("q200_remeasured") == Right((1.8, 4.2)))
    // new and errored measurements pass through; the half-recorded prior
    // rung can't be carried (no 100x) and is absent
    assert(m("q400_new") == Right((0.5, 1.1)) && m("q500_err") == Left("OOM"))
    assert(!m.contains("q300_half"))
    // output is name-sorted for stable artifacts
    assert(all.map(_._1) == all.map(_._1).sorted)
  }

  test("the real legacy artifact yields a non-trivial rung set") {
    val p = java.nio.file.Paths.get("BENCH_SF_LADDER.json")
    assume(java.nio.file.Files.exists(p))
    val prior = LadderAdjudicate.parsePrior(Harness.readArtifact(p.toString))
    // the r8-r12 sections hold at least the graph + event + decision rungs
    assert(prior.size >= 20, s"only ${prior.size} rungs parsed: ${prior.keySet}")
    assert(prior.contains("q174_dup_pagerank") &&
      prior.contains("q276_compaction_planner"))
    // every parsed rung with both ends yields a usable ratio
    val ratios = prior.collect { case (q, (Some(a), Some(b))) if a > 0 => q -> b / a }
    assert(ratios.nonEmpty && ratios.values.forall(r => r > 0 && r < 1000))

    // every committed artifact parses, and each reader that applies to it
    // returns a non-empty map of finite values
    def finite(m: Map[String, Double]): Boolean =
      m.nonEmpty && m.values.forall(v => !v.isNaN && !v.isInfinite)
    def read(name: String) = {
      assume(java.nio.file.Files.exists(java.nio.file.Paths.get(name)))
      Harness.readArtifact(name)
    }
    for (name <- Seq("BENCH_FULL.json", "BENCH_QUIET.json", "BENCH_SF1.json",
        "BENCH_SF1_FULL.json")) {
      assert(finite(BenchAdjudicate.queriesWarm(read(name))), name)
    }
    val ladder = read("BENCH_LADDER.json")
    val rungs = LadderAdjudicate.parsePrior(ladder)
    assert(rungs.nonEmpty && rungs.values.forall { case (a, b) =>
      a.exists(v => v > 0 && !v.isInfinite) && b.exists(v => v > 0 && !v.isInfinite) })
    assert(LadderAdjudicate.rungNames(ladder).size == rungs.size)
    for (name <- Seq("BENCH_LADDER.json", "BENCH_STREAMING_LADDER.json")) {
      val strm = StreamingLadder.parsePrior(read(name))
      assert(finite(strm.map { case (q, (rb, _)) => q -> rb }) &&
        finite(strm.map { case (q, (_, rs)) => q -> rs }), name)
    }
  }
}
