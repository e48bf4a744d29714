package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.MiniJson._

/** The bench artifact's self-adjudication pieces, refereed on synthetic
  * artifacts — including the demonstrated streaming slowdown VERDICT r11
  * item 6 asked for (a prior artifact with 10× the throughput must flag).
  */
class BenchAdjudicateSpec extends AnyFunSuite {

  /** An artifact's text as the harness reads it: "" stands for no file. */
  private def art(txt: String): JValue = if (txt.isEmpty) JObj(Nil) else parse(txt)

  private val priorArtifact =
    """{"metric":"total","value":100.0,"unit":"sec",
      |"queries_warm":{"q01_agg":0.512,"q02_filter":1.25,"q74_stream":2.0},
      |"canary_best_sec":0.420,
      |"streaming_metrics":{
      |  "q74_stream":{"input_rows":2000,"trigger_ms":100,"rows_per_trigger_sec":20000.0,"prior_rows_per_trigger_sec":19000.0,"prior_ratio":0.950},
      |  "q75_stream":{"input_rows":2000,"trigger_ms":400,"rows_per_trigger_sec":5000.0},
      |  "q76_stream":{"input_rows":0,"trigger_ms":0,"rows_per_trigger_sec":0.000,"prior_rows_per_trigger_sec":12.0}},
      |"sf":"/root/testdata/sf0.1"}""".stripMargin

  test("parses prior warm timings, streaming rates, and canary") {
    val warm = BenchAdjudicate.queriesWarm(art(priorArtifact))
    assert(warm == Map("q01_agg" -> 0.512, "q02_filter" -> 1.25, "q74_stream" -> 2.0))
    // q74/q76 carry the r12+ prior_* fields AFTER the rate — the reader
    // must read the rate, not the prior, despite the shared suffix
    val rates = BenchAdjudicate.streamingRates(art(priorArtifact))
    assert(rates == Map("q74_stream" -> 20000.0, "q75_stream" -> 5000.0,
      "q76_stream" -> 0.0))
    assert(BenchAdjudicate.priorCanary(art(priorArtifact)).contains(0.420))
    assert(BenchAdjudicate.queriesWarm(art("")) == Map.empty[String, Double])
    assert(BenchAdjudicate.streamingRates(art("{}")) == Map.empty[String, Double])
    assert(BenchAdjudicate.priorCanary(art("{}")).isEmpty)
  }

  test("adjudicated total takes min(warm, warm_retry) per query") {
    val warm = Seq("a" -> 5.0, "b" -> 1.0, "c" -> 2.0)
    val retry = Map("a" -> 0.8, "c" -> 3.0) // c's retry was SLOWER: keep 2.0
    assert(math.abs(BenchAdjudicate.adjudicatedTotal(warm, retry) - 3.8) < 1e-9)
    assert(BenchAdjudicate.adjudicatedTotal(warm, Map.empty) == 8.0)
  }

  test("streaming gate flags a synthetic 10x throughput drop, not jitter") {
    val prior = BenchAdjudicate.streamingRates(art(priorArtifact))
    // q74 collapsed 10x (flag), q75 wobbled 1.5x (no flag — inside 2x),
    // q76 was and is rate 0 (skip: correctness problem, not throughput),
    // q77 is new this round (no prior — nothing to compare)
    val current = Map("q74_stream" -> 2000.0, "q75_stream" -> 3400.0,
      "q76_stream" -> 0.0, "q77_stream" -> 9000.0)
    val drops = BenchAdjudicate.streamingDrops(prior, current)
    assert(drops == Map("q74_stream" -> (20000.0, 2000.0)))
    // exactly-2x sits on the boundary and must NOT flag (strict past-2x)
    assert(BenchAdjudicate.streamingDrops(
      Map("q" -> 10.0), Map("q" -> 5.0)).isEmpty)
    assert(BenchAdjudicate.streamingDrops(
      Map("q" -> 10.0), Map("q" -> 4.999)).nonEmpty)
  }

  test("canary pressure: within-run drift and vs-prior both detected") {
    // quiet box: flat canary, matches prior
    assert(BenchAdjudicate.pressure(0.42, 0.43, Some(0.42)) < 1.1)
    // load arrived mid-suite: end drifted 2x over start
    assert(BenchAdjudicate.pressure(0.42, 0.84, Some(0.42)) >= 2.0)
    // uniformly loaded suite (the r11 failure mode): start == end but both
    // 1.8x the prior round's quiet reading — only the prior comparison
    // can catch this, and it must
    assert(BenchAdjudicate.pressure(0.76, 0.76, Some(0.42)) > 1.7)
    // first round with a canary: no prior, drift only
    assert(BenchAdjudicate.pressure(0.42, 0.44, None) < 1.1)
    // start slower than end is JVM tier-up, NOT pressure (one-sided drift)
    assert(BenchAdjudicate.pressure(0.60, 0.42, Some(0.42)) == 1.0)
    // quieter than the prior round floors at 1.0, never below
    assert(BenchAdjudicate.pressure(0.30, 0.31, Some(0.42)) >= 1.0)
  }

  test("pressure peak names load that cleared mid-run (ADVICE r12)") {
    // start slow + end quiet: the primary metric reads 1.0 (one-sided
    // drift, min vs prior) — the PEAK signal must still name the loaded
    // first half
    assert(BenchAdjudicate.pressure(0.84, 0.42, Some(0.42)) == 1.0)
    assert(BenchAdjudicate.pressurePeak(0.84, 0.42, Some(0.42)) >= 2.0)
    // quiet box: peak stays at 1.0 (floored)
    assert(BenchAdjudicate.pressurePeak(0.42, 0.43, Some(0.43)) < 1.1)
    // no prior artifact: no peak comparison
    assert(BenchAdjudicate.pressurePeak(0.84, 0.42, None) == 1.0)
  }

  test("drift block: session factor from canaries, corrected speedups divide it out (r16 item 8)") {
    // session ran 1.2x slower than the prior artifact's canary floor
    assert(BenchAdjudicate.sessionDrift(0.504, Some(0.42)).exists(d =>
      math.abs(d - 1.2) < 1e-9))
    // no prior canary (first round / host change): no drift estimate
    assert(BenchAdjudicate.sessionDrift(0.504, None).isEmpty)
    assert(BenchAdjudicate.sessionDrift(0.504, Some(0.0)).isEmpty)
    // an untouched query that merely inherited the 1.2x session drift
    // (2.0 s -> 2.4 s) must read as flat once corrected...
    val corr = BenchAdjudicate.driftCorrected(
      Map("untouched" -> 2.4, "improved" -> 1.0, "noprior" -> 3.0),
      Map("untouched" -> 2.0, "improved" -> 2.0), drift = 1.2)
    assert(math.abs(corr("untouched") - 1.0) < 1e-9)
    // ...while a real 2x win still reads as a win on top of the drift
    assert(math.abs(corr("improved") - 2.4) < 1e-9)
    // queries without a prior are omitted, zero/negative guarded
    assert(!corr.contains("noprior"))
    assert(BenchAdjudicate.driftCorrected(
      Map("q" -> 1.0), Map("q" -> 2.0), drift = 0.0).isEmpty)
    assert(BenchAdjudicate.driftCorrected(
      Map("q" -> 0.0), Map("q" -> 2.0), drift = 1.0).isEmpty)
  }

  test("host fingerprint round-trips through the artifact; a drifted value type throws naming its key") {
    val fp = BenchAdjudicate.hostFingerprint(8)
    assert(fp.contains("cpu/") && fp.endsWith("/local[8]"))
    val txt = s"""{"canary_best_sec":0.42,"host_fingerprint":"$fp"}"""
    assert(BenchAdjudicate.priorHostFingerprint(art(txt)).contains(fp))
    assert(BenchAdjudicate.priorHostFingerprint(art("{}")).isEmpty)
    // a writer change to units-in-strings would silently turn the warm
    // gate off if it read as "no entries" — it must stop the run instead
    val drifted = """{"queries_warm":{"q01":"1.234s"},""" +
      """"streaming_metrics":{"q41":{"rows_per_trigger_sec":5.0}}}"""
    val e = intercept[IllegalArgumentException](
      BenchAdjudicate.queriesWarm(art(drifted)))
    assert(e.getMessage.contains("queries_warm"), e.getMessage)
    assert(BenchAdjudicate.streamingRates(art(drifted)) == Map("q41" -> 5.0))
    // healthy artifact and empty prior read normally
    val healthy = """{"queries_warm":{"q01":1.0},""" +
      """"streaming_metrics":{"q41":{"rows_per_trigger_sec":5.0}}}"""
    assert(BenchAdjudicate.queriesWarm(art(healthy)) == Map("q01" -> 1.0))
    assert(BenchAdjudicate.streamingRates(art(healthy)) == Map("q41" -> 5.0))
    assert(BenchAdjudicate.queriesWarm(art("")).isEmpty)
  }

  test("host fingerprint keys on the session core count: 8- and 32-core runs do not match") {
    val fp8 = BenchAdjudicate.hostFingerprint(8)
    val fp32 = BenchAdjudicate.hostFingerprint(32)
    assert(fp8 != fp32)
    assert(fp8 == BenchAdjudicate.hostFingerprint(8))
    // a 32-core run reading an 8-core prior sees a different host key, so
    // Bench disables every prior comparison instead of judging across them
    val prior8 = s"""{"canary_best_sec":0.42,"host_fingerprint":"$fp8"}"""
    assert(!BenchAdjudicate.priorHostFingerprint(art(prior8)).contains(fp32))
    // the fingerprint before the session core count was part of it
    // ("host/32cpu") matches neither
    val legacy = fp8.substring(0, fp8.lastIndexOf('/'))
    assert(legacy.endsWith("cpu") && legacy != fp8 && legacy != fp32)
  }

  test("provisional prior falls back to the last quiet artifact (r13 item 4)") {
    val loud = """{"ambient_pressure":1.44,"provisional":true,"queries_warm":{"q01":2.0}}"""
    val quiet = """{"ambient_pressure":1.02,"provisional":false,"queries_warm":{"q01":1.0}}"""
    assert(BenchAdjudicate.provisional(art(loud)))
    assert(!BenchAdjudicate.provisional(art(quiet)))
    // pre-r14 artifacts have no stamp: treated as quiet (no fallback)
    assert(!BenchAdjudicate.provisional(art("""{"ambient_pressure":1.44}""")))
    assert(BenchAdjudicate.selectPrior(art(loud), art(quiet)) == (art(quiet), "BENCH_QUIET.json"))
    assert(BenchAdjudicate.selectPrior(art(quiet), art(loud)) == (art(quiet), "BENCH_FULL.json"))
    // provisional prior but no quiet fallback yet: use what exists
    assert(BenchAdjudicate.selectPrior(art(loud), art("")) == (art(loud), "BENCH_FULL.json"))
    assert(BenchAdjudicate.selectPrior(art(""), art("")) == (art(""), "BENCH_FULL.json"))
  }

  test("concurrent pool assignment: deterministic, complete, balanced") {
    val names = (1 to 23).map(i => f"q$i%03d_x")
    val a = BenchAdjudicate.poolAssignment(names, 4)
    assert(a.keySet == names.toSet)
    assert(a.values.forall(p => p >= 0 && p < 4))
    val sizes = a.values.groupBy(identity).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"unbalanced: $sizes")
    // stable across calls and input order
    assert(BenchAdjudicate.poolAssignment(names.reverse, 4) == a)
  }

  test("mixed concurrent pass: picks cover three state-store families " +
      "and are registered streaming queries; contention gate flags a " +
      "collapse past pools+1, not FAIR-sharing slowdown") {
    val picks = BenchAdjudicate.ConcurrentStreamingPicks
    assert(picks.size == 3 && picks.distinct == picks)
    assert(picks.toSet.subsetOf(SparkEntry.streamingQueries),
      s"picks not registered: ${picks.filterNot(SparkEntry.streamingQueries)}")
    val seq = Map("q41_streaming_tumbling" -> 3000.0,
      "q108_streaming_decontaminate" -> 600.0,
      "q184_tws_running_totals" -> 1500.0)
    val conc = Map(
      "q41_streaming_tumbling" -> 700.0, // 4.3x slower: inside pools+1=5
      "q108_streaming_decontaminate" -> 90.0, // 6.7x: contention collapse
      "q184_tws_running_totals" -> 1400.0) // barely moved
    val drops = BenchAdjudicate.contentionDrops(seq, conc, factor = 5.0)
    assert(drops.keySet == Set("q108_streaming_decontaminate"), s"got $drops")
    assert(drops("q108_streaming_decontaminate") == (600.0, 90.0))
    // a missing sequential rate never flags
    assert(BenchAdjudicate.contentionDrops(Map.empty, conc).isEmpty)
  }

  /** A full Bench artifact over `names`, with the fields the summary reads. */
  private def fullArtifact(names: Seq[String], sf: String): JObj = obj(
    "metric" -> JStr("total"), "value" -> JNum(12345.678), "unit" -> JStr("sec"),
    "queries" -> JObj(names.zipWithIndex.map { case (n, i) => n -> JNum(1000.0 + i + 0.125) }),
    "total_warm" -> JNum(9876.543), "queries_warm" -> JObj(names.map(_ -> JNum(1.5))),
    "total_warm_adjudicated" -> JNum(9000.001), "canary_start_sec" -> JNum(0.421),
    "canary_end_sec" -> JNum(0.43), "ambient_pressure" -> JNum(1.021),
    "total_warm_batch" -> JNum(8000.5), "total_warm_streaming" -> JNum(1000.25),
    "streaming_regressions" -> JObj(Seq("q1" -> obj("prior" -> JNum(2), "current" -> JNum(1)))),
    "errors" -> JObj(Nil), "sf" -> JStr(sf))

  test("Bench summary line: one JSON line under the 2000-char output tail, with the driver's keys") {
    // the 20 longest registered names are the worst case for the line
    val names = SparkEntry.queries.keySet.toSeq.sortBy(n => (-n.length, n))
    val line = Bench.summary(fullArtifact(names, "/data/graft/sf0.1"),
      "BENCH_SF1_FULL.json").render
    assert(!line.contains('\n') && line.length <= 2000, s"${line.length} chars")
    val back = parse(line)
    for (k <- Seq("metric", "value", "unit", "queries", "sf"))
      assert(back.get(k).nonEmpty, k)
    // the slowest 20 by cold time, and totals stay numbers for
    // tools/bench_adjudicate.py
    val qs = back.obj("queries").fields
    assert(qs.size == 20 && qs.map(_._1) == names.takeRight(20).reverse)
    assert(back.obj("total_warm") == JNum(9876.543) && back.obj("n_queries") == JNum(names.size))
    assert(back.obj("n_streaming_regressions") == JNum(1) && back.obj("n_errors") == JNum(0))
  }

  test("artifact paths with quotes and backslashes round-trip through the written JSON") {
    val sf = """/data/we"ird\dir/sf0.1"""
    val artifact = """C:\bench\"full".json"""
    val full = fullArtifact(Seq("""q01_"agg"\x"""), sf)
    val back = parse(full.render)
    assert(back == full && back.obj("sf") == JStr(sf))
    val line = parse(Bench.summary(full, artifact).render)
    assert(line.obj("sf") == JStr(sf) && line.obj("queries_full") == JStr(artifact))
    assert(line.obj("queries").fields.map(_._1) == Seq("""q01_"agg"\x"""))
  }

  test("Fs.cleanupStale sweeps only old graft dirs, keeps fresh + scale corpora") {
    val root = java.nio.file.Files.createTempDirectory("cleanup-spec").toString
    def mk(name: String, old: Boolean): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(root, name)
      java.nio.file.Files.createDirectories(p)
      if (old) java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 48L * 3600 * 1000))
      p
    }
    val oldFixture = mk("graft-csv12345", old = true)
    val oldStream = mk("graft_stream999", old = true)
    val fresh = mk("graft-jsonl777", old = false)      // newest run's dir
    val corpus = mk("graft_sf10", old = true)          // keep: scale corpus
    val other = mk("unrelated-dir", old = true)        // not ours
    // an old FILE with the prefix is never touched (only directories)
    val f = java.nio.file.Paths.get(root, "graft_note.md")
    java.nio.file.Files.writeString(f, "x")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    val removed = graft.core.Fs.cleanupStale(root = root)
    assert(removed == 2, s"removed $removed")
    assert(!java.nio.file.Files.exists(oldFixture) &&
      !java.nio.file.Files.exists(oldStream))
    assert(java.nio.file.Files.exists(fresh) && java.nio.file.Files.exists(corpus) &&
      java.nio.file.Files.exists(other) && java.nio.file.Files.exists(f))
    graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
