package graft

/** Pure adjudication logic for the bench artifact — split from [[Bench]] so
  * the pieces reviewers rely on are unit-testable without a suite run.
  *
  * Why this exists (VERDICT r10/r11): two consecutive rounds of judge time
  * went to proving bench deltas were ambient box load, not plan
  * regressions. The artifact now adjudicates itself:
  *
  *  - a fixed synthetic CANARY job runs at suite start and end; its cost is
  *    data-independent, so a canary reading above the prior round's best
  *    (or start→end drift within the run) is ambient pressure, named in
  *    the artifact instead of discovered by a judge re-run;
  *  - `total_warm_adjudicated` = Σ min(warm, warm_retry) is the review
  *    number — the raw `total_warm` keeps round-over-round continuity but
  *    inherits whatever the box injected;
  *  - streaming `rows_per_trigger_sec` is compared per-query against the
  *    prior artifact; drops past 2× are flagged the way warm_retry flags
  *    wall-clock outliers.
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

  /** Per-query warm seconds of a prior BENCH_FULL.json. */
  def queriesWarm(a: JValue): Map[String, Double] =
    a.get("queries_warm").fold(Map.empty[String, Double])(numbers("queries_warm", _))

  /** Per-query `rows_per_trigger_sec` under a prior artifact's
    * `streaming_metrics`.
    */
  def streamingRates(a: JValue): Map[String, Double] =
    a.get("streaming_metrics").fold(Map.empty[String, Double])(_.fields.flatMap {
      case (q, m) => m.get("rows_per_trigger_sec")
        .flatMap(number(s"streaming_metrics.$q.rows_per_trigger_sec", _)).map(q -> _)
    }.toMap)

  /** `canary_best_sec` of a prior artifact (absent before r12). */
  def priorCanary(a: JValue): Option[Double] =
    a.get("canary_best_sec").flatMap(number("canary_best_sec", _))

  /** `host_fingerprint` of a prior artifact (absent before r13).
    * Canary-vs-prior comparisons assume same hardware; a differing
    * fingerprint disables them rather than reporting phantom pressure
    * (or phantom quiet) after a box change.
    */
  def priorHostFingerprint(a: JValue): Option[String] =
    a.get("host_fingerprint").map {
      case JStr(s) => s
      case other => typeError("host_fingerprint", "a string", other)
    }

  /** This run's canary-comparison key: hostname + core count + the
    * session's parallelism (`local[N]`, N = [[Harness.cores]]) — enough to
    * catch the committed-artifact-from-other-hardware case, and a run at
    * 8 cores judged against a 32-core prior on the same box, without
    * recording anything machine-identifying beyond what `hostname` says.
    */
  def hostFingerprint(sessionCores: Int): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Throwable => "unknown" }
    s"$host/${Runtime.getRuntime.availableProcessors()}cpu/local[$sessionCores]"
  }

  /** `provisional` of a prior artifact (absent before r14): the run
    * happened on a loud box (pressure > 1.25), so its warm timings,
    * streaming rates and canary carry the noise floor.
    */
  def provisional(a: JValue): Boolean = a.get("provisional") match {
    case None => false
    case Some(JBool(b)) => b
    case Some(other) => typeError("provisional", "a boolean", other)
  }

  /** Prior-artifact selection (VERDICT r13 item 4): a provisional prior
    * hands this round inflated warm/streaming/canary baselines, so fall
    * back to the last quiet artifact when one exists. Returns
    * (artifact, source-name); the source lands in the new artifact so a
    * reviewer can see which prior adjudicated this run.
    */
  def selectPrior(full: JValue, quiet: JValue): (JValue, String) =
    if (provisional(full) && quiet.fields.nonEmpty) (quiet, "BENCH_QUIET.json")
    else (full, "BENCH_FULL.json")

  /** Deterministic assignment of queries to concurrent-bench pools
    * (VERDICT r14 item 8): sorted names round-robin over `nPools`, so
    * every query lands in exactly one pool, pool sizes differ by at
    * most one, and the assignment is stable round over round.
    */
  def poolAssignment(names: Seq[String], nPools: Int): Map[String, Int] =
    names.sorted.zipWithIndex.map { case (n, i) => n -> i % nPools }.toMap

  /** The review total: every query at min(warm, warm_retry) — a retry that
    * came in faster proves the first warm carried transient pressure.
    */
  def adjudicatedTotal(warm: Seq[(String, Double)],
      retry: Map[String, Double]): Double =
    warm.map { case (k, w) => math.min(w, retry.getOrElse(k, w)) }.sum

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

  /** Contention adjudication for the mixed pass: a pick whose
    * under-contention rows/trigger-sec fell more than `factor`× below
    * the SAME run's sequential rate. The default bound is pools+1:
    * FAIR sharing across n busy pools stretches trigger durations by
    * at most ≈ the pool count, plus harness margin.
    */
  def contentionDrops(sequential: Map[String, Double],
      concurrent: Map[String, Double],
      factor: Double = 5.0): Map[String, (Double, Double)] =
    streamingDrops(sequential, concurrent, factor)

  /** Streaming queries whose engine-side throughput fell past `factor`
    * vs the prior artifact → (prior, current). Rates ≤ 0 (no batches
    * drained) are skipped — absence is a correctness problem, not a
    * throughput regression.
    */
  def streamingDrops(prior: Map[String, Double], cur: Map[String, Double],
      factor: Double = 2.0): Map[String, (Double, Double)] =
    cur.flatMap { case (k, c) =>
      prior.get(k) match {
        case Some(p) if p > 0 && c > 0 && c * factor < p => Some(k -> (p, c))
        case _ => None
      }
    }

  /** Ambient-pressure verdict from canary readings: the worst of
    * within-run drift and this run's best vs the prior round's best.
    * Drift is ONE-SIDED (end slower than start = load arrived mid-suite);
    * a start slower than the end is JVM tier-up, not pressure — the
    * uniform-load case that direction would mask is exactly what the
    * prior-round comparison catches. 1.0 = quiet box.
    */
  def pressure(canaryStart: Double, canaryEnd: Double,
      priorBest: Option[Double]): Double = {
    val drift = canaryEnd / math.max(1e-9, canaryStart)
    val vsPrior = priorBest.fold(1.0)(p =>
      math.min(canaryStart, canaryEnd) / math.max(1e-9, p))
    math.max(1.0, math.max(drift, vsPrior))
  }

  /** Session-drift factor (r17, VERDICT r16 item 8): this session's best
    * canary over the prior artifact's best — a data-independent estimate
    * of how much slower the WHOLE session runs (JVM/box ambience). r16's
    * 256 untouched queries read +16% on identical code because nothing
    * separated per-session fixed overhead from plan cost; this factor
    * names it. > 1 = this session is uniformly slower than the prior's.
    */
  def sessionDrift(canaryBest: Double,
      priorBest: Option[Double]): Option[Double] =
    priorBest.filter(_ > 1e-9).map(canaryBest / _)

  /** Drift-corrected warm speedups vs the prior artifact: for every query
    * with a positive prior, prior / (warmAdjudicated / drift) — i.e. the
    * round-over-round speedup AFTER dividing out the session-wide canary
    * drift, so a uniformly slower box does not read as per-query
    * regressions. Purely additional: the raw warm numbers stay the
    * round-over-round record.
    */
  def driftCorrected(warmAdj: Map[String, Double],
      prior: Map[String, Double], drift: Double): Map[String, Double] =
    if (drift <= 0) Map.empty
    else warmAdj.flatMap { case (k, w) =>
      prior.get(k).collect { case p if p > 0 && w > 0 =>
        k -> p / (w / drift)
      }
    }

  /** Secondary pressure signal (ADVICE r12): [[pressure]] is blind to
    * load that CLEARS mid-run — start slow + end quiet gives drift < 1
    * and min(start, end) ≈ prior, reporting 1.0 although the suite's
    * first half ran loaded. The PEAK canary vs the prior round's best
    * names that case: > 1.3 with pressure() quiet means transient load
    * early in the run — per-query warm_retry already mitigates it, this
    * makes it visible in the artifact.
    */
  def pressurePeak(canaryStart: Double, canaryEnd: Double,
      priorBest: Option[Double]): Double =
    priorBest.fold(1.0)(p =>
      math.max(1.0, math.max(canaryStart, canaryEnd) / math.max(1e-9, p)))
}
