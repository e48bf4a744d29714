package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.MiniJson._

/** The bench artifact's pure pieces, refereed on synthetic artifacts. */
class BenchAdjudicateSpec extends AnyFunSuite {

  /** An artifact's text as the harness reads it: "" stands for no file. */
  private def art(txt: String): JValue = if (txt.isEmpty) JObj(Nil) else parse(txt)

  private val priorArtifact =
    """{"metric":"total","value":100.0,"unit":"sec",
      |"queries_warm":{"q01_agg":0.512,"q02_filter":1.25,"q74_stream":2.0},
      |"streaming_metrics":{"q74_stream":{"input_rows":2000,"trigger_ms":100,"rows_per_trigger_sec":20000.0}},
      |"sf":"/root/testdata/sf0.1"}""".stripMargin

  test("parses prior warm timings") {
    val warm = BenchAdjudicate.numbers("queries_warm", art(priorArtifact).obj("queries_warm"))
    assert(warm == Map("q01_agg" -> 0.512, "q02_filter" -> 1.25, "q74_stream" -> 2.0))
    assert(BenchAdjudicate.numbers("queries_warm", JNull) == Map.empty[String, Double])
    assert(BenchAdjudicate.numbers("queries_warm", art("{}")) == Map.empty[String, Double])
  }

  test("host fingerprint round-trips through the artifact; a drifted value type throws naming its key") {
    val fp = BenchAdjudicate.hostFingerprint(8)
    assert(fp.contains("cpu/") && fp.endsWith("/local[8]"))
    // written as a label: tools/bench_adjudicate.py reads it back to
    // refuse comparing runs from different hosts
    val written = parse(fullArtifact(Seq("q01"), "/data/sf0.1", fp).render)
    assert(written.obj("host_fingerprint") == JStr(fp))
    // a writer change to units-in-strings must not read as "no entries"
    // (a reader would silently compare nothing): it stops the run instead
    def warm(txt: String) = BenchAdjudicate.numbers("queries_warm", art(txt).obj("queries_warm"))
    val drifted = """{"queries_warm":{"q01":"1.234s"}}"""
    val e = intercept[IllegalArgumentException](warm(drifted))
    assert(e.getMessage.contains("queries_warm"), e.getMessage)
    // healthy artifact and empty prior read normally
    assert(warm("""{"queries_warm":{"q01":1.0}}""") == Map("q01" -> 1.0))
    assert(warm("""{"queries_warm":{}}""").isEmpty)
  }

  test("host fingerprint keys on the session core count: 8- and 32-core runs do not match") {
    val fp8 = BenchAdjudicate.hostFingerprint(8)
    val fp32 = BenchAdjudicate.hostFingerprint(32)
    assert(fp8 != fp32)
    assert(fp8 == BenchAdjudicate.hostFingerprint(8))
    // the fingerprint before the session core count was part of it
    // ("host/32cpu") matches neither
    val legacy = fp8.substring(0, fp8.lastIndexOf('/'))
    assert(legacy.endsWith("cpu") && legacy != fp8 && legacy != fp32)
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
    // a missing sequential rate never flags, nor does a rate of 0 (no
    // batches drained: a correctness problem, not a throughput one)
    assert(BenchAdjudicate.contentionDrops(Map.empty, conc).isEmpty)
    assert(BenchAdjudicate.contentionDrops(Map("q" -> 0.0), Map("q" -> 0.0)).isEmpty)
    assert(BenchAdjudicate.contentionDrops(Map("q" -> 10.0), Map("q" -> 0.0)).isEmpty)
    // the bound is strict: exactly factor× slower does not flag
    assert(BenchAdjudicate.contentionDrops(
      Map("q" -> 10.0), Map("q" -> 5.0), factor = 2.0).isEmpty)
    assert(BenchAdjudicate.contentionDrops(
      Map("q" -> 10.0), Map("q" -> 4.999), factor = 2.0).nonEmpty)
  }

  /** A full Bench artifact over `names`, with the fields the summary reads. */
  private def fullArtifact(names: Seq[String], sf: String,
      host: String = "box/4cpu/local[4]"): JObj = obj(
    "metric" -> JStr("total"), "value" -> JNum(12345.678), "unit" -> JStr("sec"),
    "queries" -> JObj(names.zipWithIndex.map { case (n, i) => n -> JNum(1000.0 + i + 0.125) }),
    "total_warm" -> JNum(9876.543), "queries_warm" -> JObj(names.map(_ -> JNum(1.5))),
    "queries_warm_iqr" -> JObj(names.map(_ -> JNum(0.25))), "warm_samples" -> JNum(3),
    "host_fingerprint" -> JStr(host),
    "total_warm_batch" -> JNum(8000.5), "total_warm_streaming" -> JNum(1000.25),
    "errors" -> JObj(Seq("q1" -> JStr("boom"))), "sf" -> JStr(sf))

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
    assert(back.obj("n_errors") == JNum(1))
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
