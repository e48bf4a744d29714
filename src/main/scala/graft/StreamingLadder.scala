package graft

import org.apache.spark.sql.SparkSession
import graft.llm.MiniJson._

/** STREAMING scale ladder (VERDICT r13 item 3): `rows_per_trigger_sec`
  * was only ever measured at the fixed 2000-row bench feed on sf0.1 —
  * blind to the real streaming scale risk, STATE growth (watermark maps,
  * RocksDB ValueState/ListState, interval-join buffers). One command —
  *
  *   sbt "runMain graft.StreamingLadder"
  *
  * — re-measures EVERY streaming-gated query twice: the base rung (the
  * standing 2000-row feed from sf0.1) and a scaled rung (a 10× feed of
  * 20 000 rows drawn from the 100× ScaleUp corpus, so the keyed state
  * sees the 100× user/key space, not just more rows per key). The gated
  * quantity is the per-row throughput ratio base/scaled: a query whose
  * state work is linear holds ratio ≈ 1; super-linear state (e.g. a
  * per-batch full-state scan) collapses the scaled rate and the ratio
  * balloons. Results land in the `streaming_ladder` block of
  * [[Artifact]], which is also the prior it reads, with the batch
  * ladder's prior-ratio + regression protocol plus one re-measure before
  * a breach is called.
  */
object StreamingLadder {

  /** The streaming ladder's one artifact: its prior and its output. */
  private val Artifact = "BENCH_STREAMING_LADDER.json"

  /** Rows fed to the scaled rung and to the 100x rung. */
  private val ScaledFeed = 20000
  private val Feed100 = 200000

  /** (rate_base, rate_scaled) per query from a prior artifact's
    * `streaming_ladder.rungs` (absent → empty).
    */
  def parsePrior(a: JValue): Map[String, (Double, Double)] =
    a.get("streaming_ladder").flatMap(_.get("rungs")).fold(Map.empty[String, (Double, Double)])(
      _.fields.flatMap { case (q, r) =>
        def rate(k: String) = r.get(k).flatMap(BenchAdjudicate.number(s"streaming_ladder.rungs.$q.$k", _))
        for (rb <- rate("rate_base"); rs <- rate("rate_scaled")) yield q -> (rb, rs)
      }.toMap)

  /** Queries whose per-row slowdown ratio (base/scaled) grew past
    * `factor` × the prior ratio AND whose scaled rate actually fell —
    * the same two-condition rule as the batch ladder's rungRegressions
    * (a base rate that IMPROVED doubles the ratio with the scaled
    * behavior unchanged; that is a speedup, not a state break).
    */
  def regressions(prior: Map[String, (Double, Double)],
      cur: Map[String, (Double, Double)], factor: Double = 2.0)
    : Map[String, (Double, Double)] =
    cur.flatMap { case (q, (rb, rs)) =>
      prior.get(q) match {
        case Some((pb, ps)) if pb > 0 && ps > 0 && rb > 0 && rs > 0 &&
            (rb / rs) > (pb / ps) * factor && rs < ps =>
          Some(q -> (pb / ps, rb / rs))
        case _ => None
      }
    }

  /** Streaming queries whose state legitimately buffers ROWS inside the
    * watermark (join buffers / an explicit replay buffer) — exempt from
    * the keys-not-rows state gate, recorded for the report. Everything
    * else keeps keyed state (windows, sessions, dedup keys, TWS
    * counters, sketches) whose row count must NOT track the feed size.
    * Since r16 (VERDICT r15 item 5) the exemption is no longer
    * unmonitored: each of these carries its own DERIVED bound — the
    * expected buffer size computed from the feed itself
    * ([[expectedBufferRows]]) — and [[bufferRegressions]] flags any
    * rung whose observed state rows exceed 2× that expectation.
    */
  val RowBufferingQueries: Set[String] = Set(
    "q119_streaming_interval_join", "q132_streaming_outer_nulls",
    "q220_tws_replay_buffer")

  /** Expected state rows for each row-buffering query, DERIVED from the
    * feed prefix (not from the observed run):
    *
    *  - q119/q132 (the interval joins, 30-minute lookback, 10-minute
    *    watermark delay, driven in two half-feed batches): batch 1 ends
    *    with the whole first half buffered (the pre-batch watermark is
    *    the epoch, so nothing is evictable), and batch 2 ends with the
    *    rows the batch-1 watermark W1 = maxTs(first half) − 10 min
    *    cannot evict — purchases with ts ≥ W1 (a future click may still
    *    precede them) and clicks with ts ≥ W1 − 30 min (still inside
    *    some future purchase's lookback). Expected = max of the two
    *    batch-end totals.
    *  - q220 (TWS replay buffer, last-3 ids per user): two state
    *    variables per key (the seen-counter ValueState and the
    *    ListState row) → expected = 2 × distinct users in the prefix.
    *
    * The 2× gate headroom absorbs ms-vs-µs watermark rounding and
    * progress-reporting timing; a real leak (no eviction at all) shows
    * up as ≈ feed-size state, several × past these bounds.
    */
  def expectedBufferRows(spark: SparkSession, dir: String,
      feedRows: Int): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables(spark, dir, "events")
    // the interval joins' exact feed protocol (purchase/click prefix)
    val pc = ev.filter(col("event_type").isin("purchase", "click"))
      .select(expr("unix_micros(ts)").as("tsu"), col("event_id"),
        col("event_type"))
      .orderBy("tsu", "event_id").limit(feedRows)
      .collect()
    val n = pc.length
    val ivj =
      if (n == 0) 0L
      else {
        val half = pc.take(n / 2)
        val w1 = half.map(_.getLong(0)).max - 10L * 60 * 1000000
        val pLate = pc.count(r =>
          r.getString(2) == "purchase" && r.getLong(0) >= w1)
        val cLate = pc.count(r =>
          r.getString(2) == "click" && r.getLong(0) >= w1 - 30L * 60 * 1000000)
        math.max(n / 2, pLate + cLate).toLong
      }
    // q220's feed protocol: the unfiltered (ts, event_id) prefix
    val users = ev.select(col("ts"), col("event_id"), col("user_id"))
      .orderBy("ts", "event_id").limit(feedRows)
      .select(countDistinct(col("user_id")))
      .head().getLong(0)
    Map(
      "q119_streaming_interval_join" -> ivj,
      "q132_streaming_outer_nulls" -> ivj,
      "q220_tws_replay_buffer" -> 2 * users)
  }

  /** Row-buffering rungs whose observed state rows exceed `factor` × the
    * feed-derived expectation (VERDICT r15 item 5's gate).
    */
  def bufferRegressions(expected: Map[String, Long],
      actual: Map[String, Long], factor: Double = 2.0)
    : Map[String, (Long, Long)] =
    actual.flatMap { case (q, a) =>
      expected.get(q) match {
        case Some(e) if e > 0 && a > factor * e => Some(q -> (e, a))
        case _ => None
      }
    }

  /** Keyed-state queries whose state rows grew more than `factor`× when
    * the feed grew 10× over the SAME key space (r14 item 4: state must
    * grow with keys, not rows). A small floor ignores empty/near-empty
    * state.
    */
  def stateRegressions(rows10x: Map[String, Long], rows100x: Map[String, Long],
      factor: Double = 8.0, floor: Long = 64): Map[String, (Long, Long)] =
    rows100x.flatMap { case (q, r100) =>
      rows10x.get(q) match {
        case Some(r10) if !RowBufferingQueries.contains(q) &&
            r100 > factor * math.max(r10, floor) =>
          Some(q -> (r10, r100))
        case _ => None
      }
    }

  /** State-key expression (over the events feed prefix) for queries
    * whose state is EXACTLY one row per distinct key — used to
    * adjudicate a ratio flag literally: a flagged query is exonerated
    * when its state-row count equals COUNT(DISTINCT key) over the same
    * feed (the 100× corpus's key space is so large that a 200k-row
    * sample is ~87% unique (user, type) pairs, so "state grows with
    * keys" and "state grows with rows" converge numerically until the
    * key space saturates — measured r15: q189's 173 800 state rows =
    * exactly its distinct keys at the 200k feed). Windowed/session
    * queries are not listed (their state unit is windows, not keys).
    */
  val StateKeys: Map[String, String] = Map(
    "q189_tws_type_counts" -> "user_id, event_type")

  def main(args: Array[String]): Unit = {
    val dir1 = sys.env.getOrElse("SPARK_GRAFT_LADDER_DIR1", "/root/testdata/sf0.1")
    val dir100 = sys.env.getOrElse("SPARK_GRAFT_LADDER_DIR100", "/tmp/graft_sf10")
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir100)),
      s"100x corpus missing at $dir100 — generate it first: " +
        "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf10 100")
    val spark = Harness.session(Harness.cores)
    Harness.warmUp(spark)

    val prior = parsePrior(Harness.readArtifact(Artifact))

    val queries = SparkEntry.streamingQueries.toSeq.sorted
    // a failed run stops the ladder: its partial totals would read as a
    // measured rate
    def measure(name: String, dir: String, feed: Option[Int]): Runner.Stream =
      graft.streaming.StreamingOps.withFeedLimit(feed) {
        val r = Runner.once(spark, name, dir)(_.count())
        r.result.left.foreach(e => sys.error(s"[strm-ladder] $name failed: $e"))
        r.stream.get
      }
    val results: Seq[(String, (Runner.Stream, Runner.Stream, Runner.Stream))] = queries.map { q =>
      System.err.println(s"[strm-ladder] $q base feed")
      val rb = measure(q, dir1, None)
      System.err.println(f"[strm-ladder] $q base ${rb.rate}%.0f rows/trigger-sec; scaled feed $ScaledFeed")
      var rs = measure(q, dir100, Some(ScaledFeed))
      // retry protocol: same-code TWS rates swing ±1.7×; re-measure once
      // before calling a 2× prior-ratio breach a regression, keep the
      // better sample
      val priorRatio = prior.get(q).collect { case (pb, ps) if ps > 0 => pb / ps }
      if (rs.rate > 0 && priorRatio.exists(p => rb.rate / rs.rate > 2.0 * p)) {
        System.err.println(f"[strm-ladder] $q retry (ratio ${rb.rate / rs.rate}%.2f vs prior ${priorRatio.get}%.2f)")
        val again = measure(q, dir100, Some(ScaledFeed))
        if (again.rate > rs.rate) rs = again
      }
      // the 100x feed (r14 item 4): same key space, 10x the scaled rows —
      // keyed state must NOT grow with it, and per-row cost must not blow up
      System.err.println(s"[strm-ladder] $q 100x feed $Feed100")
      var r100 = measure(q, dir100, Some(Feed100))
      if (r100.rate > 0 && rs.rate / r100.rate > 3.0) {
        System.err.println(f"[strm-ladder] $q 100x retry (rate fell ${rs.rate / r100.rate}%.2f x)")
        val again = measure(q, dir100, Some(Feed100))
        if (again.rate > r100.rate) r100 = again
      }
      System.err.println(f"[strm-ladder] $q scaled ${rs.rate}%.0f 100x ${r100.rate}%.0f state ${rs.stateRows}->${r100.stateRows}")
      q -> ((rb, rs, r100))
    }
    val cur = results.map { case (q, (rb, rs, _)) => q -> (rb.rate, rs.rate) }.toMap
    val regs = regressions(prior, cur)
    // feed-derived row-buffering bounds (r16 — VERDICT r15 item 5)
    val expScaled = expectedBufferRows(spark, dir100, ScaledFeed)
    val exp100 = expectedBufferRows(spark, dir100, Feed100)
    val bufRegs = bufferRegressions(exp100,
      results.collect { case (q, (_, _, r100))
        if RowBufferingQueries.contains(q) => q -> r100.stateRows }.toMap) ++
      bufferRegressions(expScaled,
        results.collect { case (q, (_, rs, _))
          if RowBufferingQueries.contains(q) => q -> rs.stateRows }.toMap)
        .map { case (q, v) => s"$q@10x" -> v }
    val stateRegsRaw = stateRegressions(
      results.map { case (q, (_, rs, _)) => q -> rs.stateRows }.toMap,
      results.map { case (q, (_, _, r100)) => q -> r100.stateRows }.toMap)
    // literal adjudication of ratio flags: a per-key-state query whose
    // state rows EQUAL its distinct-key count over the same feed is
    // keyed by definition — the ratio only moved because the sampled
    // key density did (see StateKeys)
    val stateAdjudicated: Map[String, (Long, Long)] = stateRegsRaw.flatMap {
      case (q, (r10, r100)) => StateKeys.get(q).map { keys =>
        // the SAME feed protocol the streaming queries use: Tables'
        // converted ts (nanos->micros when the corpus stores Long
        // nanos), not the raw parquet column — a raw-ts ORDER BY could
        // pick different boundary rows (r15 review)
        graft.core.Tables(spark, dir100, "events")
          .createOrReplaceTempView("ladder_adj_events")
        val distinct = spark.sql(
          s"""SELECT COUNT(DISTINCT struct($keys)) FROM (
                SELECT * FROM ladder_adj_events
                ORDER BY ts, event_id LIMIT $Feed100)""").head().getLong(0)
        System.err.println(s"[strm-ladder] $q state flag adjudication: " +
          s"state_rows $r100 vs distinct keys $distinct")
        q -> (r100, distinct)
      }
    }.filter { case (_, (state, distinct)) =>
      distinct > 0 && math.abs(state - distinct) <= distinct / 50
    }
    val stateRegs = stateRegsRaw -- stateAdjudicated.keySet
    // per-row throughput at 10x-more rows: sub-linear trigger time means
    // the rate should hold within jitter; flag a >3x collapse (after the
    // retry above)
    val rateRegs100 = results.collect {
      case (q, (_, rs, r100)) if r100.rate > 0 && rs.rate / r100.rate > 3.0 =>
        q -> (rs.rate, r100.rate)
    }
    def d1(v: Double): JNum = fixed(v, 1)
    def d3(v: Double): JNum = fixed(v, 3)
    def n(v: Long): JNum = JNum(v.toDouble)
    val rungs = JObj(results.map { case (q, (rb, rs, r100)) =>
      val ratio = if (rs.rate > 0) rb.rate / rs.rate else -1.0
      val pr = prior.get(q).toSeq.collect { case (pb, ps) if ps > 0 =>
        ("prior_ratio" -> d3(pb / ps)) +:
          Option.when(ratio > 0)("ratio_vs_prior" -> d3(ratio / (pb / ps))).toSeq
      }.flatten
      val stateRatio =
        if (rs.stateRows > 0) r100.stateRows.toDouble / rs.stateRows else -1.0
      val expFields =
        if (RowBufferingQueries.contains(q))
          Seq("state_expected_rows_10x" -> n(expScaled.getOrElse(q, -1L)),
            "state_expected_rows_100x" -> n(exp100.getOrElse(q, -1L)))
        else Nil
      q -> JObj(Seq[(String, JValue)]("rate_base" -> d1(rb.rate),
        "rate_scaled" -> d1(rs.rate), "ratio" -> d3(ratio)) ++ pr ++
        Seq("rate_100x" -> d1(r100.rate), "state_rows_10x" -> n(rs.stateRows),
          "state_rows_100x" -> n(r100.stateRows), "state_bytes_10x" -> n(rs.stateBytes),
          "state_bytes_100x" -> n(r100.stateBytes), "state_ratio" -> d3(stateRatio)) ++
        expFields ++
        Seq("row_buffering" -> JBool(RowBufferingQueries.contains(q))))
    })
    val block = obj(
      "protocol" -> JStr(s"graft.StreamingLadder: rows/sum(triggerExecution) at the 2000-row sf0.1 feed (base) vs $ScaledFeed-row and $Feed100-row feeds from $dir100 (100x key space); ratio=base/scaled; retry past 2x prior ratio (scaled) / 3x rate fall (100x); state gate: keyed-state rows at the 100x feed must stay within 8x of the 10x feed; row-buffering joins/replay are exempt from THAT gate but carry their own feed-derived bound (state_expected_rows_*: watermark-horizon rows for the interval joins, 2 state rows per key for the replay buffer) gated at 2x expected (buffer_regressions); a ratio flag is exonerated when state rows EQUAL the distinct-key count over the same feed (state_adjudicated)"),
      "feed_scaled" -> JNum(ScaledFeed), "feed_100x" -> JNum(Feed100),
      "rungs" -> rungs,
      "regressions" -> JObj(regs.toSeq.sortBy(_._1).map { case (q, (p, c)) =>
        q -> obj("prior_ratio" -> d3(p), "ratio" -> d3(c)) }),
      "state_regressions" -> JObj(stateRegs.toSeq.sortBy(_._1).map { case (q, (a, b)) =>
        q -> obj("state_rows_10x" -> n(a), "state_rows_100x" -> n(b)) }),
      "state_adjudicated" -> JObj(stateAdjudicated.toSeq.sortBy(_._1).map { case (q, (st, dk)) =>
        q -> obj("state_rows_100x" -> n(st), "distinct_keys_100x" -> n(dk)) }),
      "rate_regressions_100x" -> JObj(rateRegs100.sortBy(_._1).map { case (q, (a, b)) =>
        q -> obj("rate_scaled" -> d1(a), "rate_100x" -> d1(b)) }),
      "buffer_regressions" -> JObj(bufRegs.toSeq.sortBy(_._1).map { case (q, (e, a)) =>
        q -> obj("state_expected_rows" -> n(e), "state_rows" -> n(a)) }))
    Harness.writeArtifact(Artifact, obj("metric" -> JStr("streaming_ladder"), "streaming_ladder" -> block))
    println(obj("metric" -> JStr("streaming_ladder"), "n_queries" -> JNum(results.size),
      "n_regressions" -> JNum(regs.size), "n_state_regressions" -> JNum(stateRegs.size),
      "n_state_adjudicated" -> JNum(stateAdjudicated.size),
      "n_buffer_regressions" -> JNum(bufRegs.size),
      "n_rate_regressions_100x" -> JNum(rateRegs100.size),
      "feed_scaled" -> JNum(ScaledFeed), "feed_100x" -> JNum(Feed100),
      "artifact" -> JStr(Artifact)).render)
    spark.stop()
  }
}
