package graft

/** The bench artifact's pure pieces, split from [[Bench]] so they are
  * unit-testable without a suite run: the typed readers of a committed
  * artifact (also used by the ladders), the host label every artifact
  * carries, and the concurrent pass's pool assignment and same-run
  * contention gate.
  *
  * Bench compares nothing across runs: each query's number is the median
  * of [[Harness.WarmRuns]] warm samples of one run ([[Harness.time]]).
  * Comparing runs is `tools/bench_adjudicate.py`'s job, and it refuses
  * runs whose `host_fingerprint` differs.
  */
object BenchAdjudicate {
  import graft.llm.MiniJson._

  private def typeError(key: String, expected: String, v: JValue): Nothing =
    throw new IllegalArgumentException(
      s"artifact key '$key': expected $expected, got ${v.render.take(60)}")

  /** The number under `key`; null reads as absent. Any other type throws,
    * naming the key: a format drift must stop the run, not silently turn
    * the gates off.
    */
  def number(key: String, v: JValue): Option[Double] = v match {
    case JNum(n) => Some(n)
    case JNull   => None
    case other   => typeError(key, "a number", other)
  }

  /** A `{name: number}` object read from under `key`; null reads as empty. */
  def numbers(key: String, v: JValue): Map[String, Double] = v match {
    case JObj(kvs) => kvs.flatMap { case (k, x) => number(s"$key.$k", x).map(k -> _) }.toMap
    case JNull     => Map.empty
    case other     => typeError(key, "an object", other)
  }

  /** The host label an artifact carries: hostname + core count + the
    * session's parallelism (`local[N]`, N = [[Harness.cores]]) — enough to
    * tell a committed artifact from other hardware, or a run at 8 cores
    * from a 32-core one on the same box, without recording anything
    * machine-identifying beyond what `hostname` says.
    */
  def hostFingerprint(sessionCores: Int): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Throwable => "unknown" }
    s"$host/${Runtime.getRuntime.availableProcessors()}cpu/local[$sessionCores]"
  }

  /** Deterministic assignment of queries to concurrent-bench pools
    * (VERDICT r14 item 8): sorted names round-robin over `nPools`, so
    * every query lands in exactly one pool, pool sizes differ by at
    * most one, and the assignment is stable round over round.
    */
  def poolAssignment(names: Seq[String], nPools: Int): Map[String, Int] =
    names.sorted.zipWithIndex.map { case (n, i) => n -> i % nPools }.toMap

  /** Streaming queries driven in the mixed concurrent pass (r16 —
    * VERDICT r15 item 6): one per state-store family — a watermarked
    * window aggregation (HDFS state store), a stateless stream-static
    * broadcast join, and a transformWithState counter on RocksDB. They
    * run SEQUENTIALLY inside one extra pool while the four batch pools
    * churn, so [[graft.BenchListener]]'s single-stream attribution
    * still holds (batch jobs emit no streaming progress events).
    */
  val ConcurrentStreamingPicks: Seq[String] = Seq(
    "q41_streaming_tumbling", "q108_streaming_decontaminate",
    "q184_tws_running_totals")

  /** Contention adjudication for the mixed pass: picks whose
    * under-contention rows/trigger-sec fell more than `factor`× below
    * the SAME run's sequential rate → (sequential, concurrent). The
    * default bound is pools+1: FAIR sharing across n busy pools
    * stretches trigger durations by at most ≈ the pool count, plus
    * harness margin. Rates ≤ 0 (no batches drained) are skipped —
    * absence is a correctness problem, not a throughput one.
    */
  def contentionDrops(sequential: Map[String, Double],
      concurrent: Map[String, Double],
      factor: Double = 5.0): Map[String, (Double, Double)] =
    concurrent.flatMap { case (k, c) =>
      sequential.get(k) match {
        case Some(s) if s > 0 && c > 0 && c * factor < s => Some(k -> (s, c))
        case _ => None
      }
    }
}
