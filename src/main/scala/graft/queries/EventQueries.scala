package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Event-time operators over the `events` table (batch shape of the
  * streaming surface — graft.streaming runs the same logic incrementally
  * with watermarks). The reference is strictly batch (SURVEY §2.J); these
  * are the Spark-native extension.
  *
  * Scale: both queries shuffle once on their natural keys (window bucket /
  * user). Sessionization partitions by user_id, so state per task is one
  * user's ordered events — no global sort.
  */
object EventQueries extends Registry {

  private def events(s: SparkSession, dir: String) = Tables(s, dir, "events")

  /** Fixed-width "(tus, event_id)" ordering key used by q235/q240.
    * Lexicographic == numeric ONLY while both components are
    * non-negative and event_id < 10^12: format_string WIDENS rather than
    * truncates on overflow, and a '-' sign sorts before digits — either
    * would silently reorder open/close picks. The capacity is therefore
    * ENFORCED, not just documented: an out-of-range row raises instead
    * of mis-sorting. The oracles mirror the guard with DuckDB error().
    */
  private[graft] def orderingKey(ts: org.apache.spark.sql.Column,
      eventId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // a NULL component yields a NULL key (argmin/argmax skip the row —
    // the pre-guard behavior); only a PRESENT out-of-range value raises
    when(ts.isNull || eventId.isNull, lit(null).cast("string"))
      .when(eventId.between(0L, 999999999999L) && unix_micros(ts) >= 0,
        format_string("%020d%012d", unix_micros(ts), eventId))
      .otherwise(raise_error(format_string(
        "ordering-key capacity exceeded: event_id=%s ts_us=%s",
        eventId, unix_micros(ts))))

  /** The oracle-side mirror of [[orderingKey]] (DuckDB dialect). */
  private def oracleOrderingKey: String =
    """CASE WHEN ts IS NULL OR event_id IS NULL THEN NULL
         WHEN event_id BETWEEN 0 AND 999999999999 AND epoch_us(ts) >= 0
         THEN printf('%020d%012d', epoch_us(ts), event_id)
         ELSE error('ordering-key capacity exceeded') END"""

  /** q273's stated planning rule: SALT the fact side iff the sampled-count
    * estimate of its hottest join key exceeds this many rows — one reducer
    * absorbing more than ~10M rows of a single key is the straggler the
    * 16-way salt exists to split. (Same shape as q260's 10M-key broadcast
    * ceiling: honest at 100 TB, which means the PLAIN branch is what the
    * benchmark data actually chooses; PlanShapeSpec forces the threshold
    * down to pin the salted branch too.)
    */
  val SaltRowThreshold: Long = 10000000L

  /** q273 body with the threshold exposed so PlanShapeSpec can force EACH
    * branch. The skew estimate is a DETERMINISTIC sketch — a 1/16
    * hash-Bernoulli row sample (detRand of event_id) counted per key and
    * scaled back — so unlike a Misra–Gries summary (whose contents are
    * arrival-order- and partition-dependent, see q201) the estimate, and
    * therefore the DECISION, is a pure function of the data that the
    * DuckDB oracle replays bit-for-bit. The join then executes under the
    * decision: q76's salt kernel (explode the dim over 16 salt buckets,
    * join on key+salt) or the plain key join. Both plans produce
    * identical rows — the gate hash checks the algebra, the plan pin
    * checks the physical choice.
    */
  def skewPlannedJoin(s: SparkSession, dir: String,
      threshold: Long): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val dim = Seq(("click", "1.50"), ("view", "0.50"), ("purchase", "10.00"),
        ("signup", "5.00"), ("error", "0.00")).toDF("event_type", "wt")
      .select($"event_type", $"wt".cast("decimal(6,2)").as("wt"))
    // deterministic sampled-count skew sketch: KB-scale aggregate, one
    // 1-row driver read (the decision), same contract as q260's sketches
    val top = ev
      .filter(graft.operators.Sampling.detRand(73L,
        $"event_id".cast("string")) < 1.0 / 16)
      .groupBy($"event_type").agg((count(lit(1)) * 16).as("est_rows"))
      .orderBy($"est_rows".desc, $"event_type").limit(1)
      .head()
    val (topKey, topRows) = (top.getString(0), top.getLong(1))
    val salted = topRows > threshold
    val joined =
      if (salted)
        graft.functions.SkewAgg.saltedJoin(ev, dim, Seq("event_type"),
          saltSource = xxhash64($"event_id"), buckets = 16)
      else ev.join(dim, Seq("event_type"))
    val result = joined
      .groupBy($"event_type", $"wt")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,6)")).as("sval"))
      .select(lit(topKey).as("est_top_key"),
        lit(topRows).as("est_top_rows"),
        lit(threshold).as("threshold"),
        lit(if (salted) "salted" else "plain").as("chosen"),
        $"event_type", $"wt".cast("double").as("weight"),
        $"n_events", ($"sval" * $"wt").cast("double").as("weighted_value"))
      .orderBy($"event_type")
    // ledger (q284): evidence = the join keys the built plan actually
    // carries — a salted decision that lost its salt column reads back
    // as the plain keyset and diverges the ledger gate
    val planStr = result.queryExecution.executedPlan.toString()
    val keys =
      if (planStr.contains("__salt")) "join-keys=event_type,__salt"
      else "join-keys=event_type"
    graft.ops.DecisionLog.record("skew_salt", topRows.toDouble,
      threshold.toDouble, if (salted) "salted" else "plain", keys)
    result
  }

  /** Daily event counts per type and their 30-day spine from the first
    * event day (q245, q246, q251). */
  private val dailySpineCtes = """WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d
            FROM events),
          d0 AS (SELECT min(d) AS d0 FROM ev),
          c AS (SELECT event_type, d, count(*) AS cnt FROM ev GROUP BY 1, 2),
          spine AS (SELECT t.event_type, r.range AS off, d0.d0 + r.range AS d
            FROM (SELECT DISTINCT event_type FROM c) t, d0, range(0, 30) r),"""

  /** Per-user session ids: a gap over 30 minutes starts a new session
    * (q247, q252). */
  private val sessionIdCtes = """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
          g AS (SELECT user_id, tus,
              CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id
                ORDER BY tus) > 1800000000 THEN 1 ELSE 0 END AS gap
            FROM ev),
          sg AS (SELECT user_id, tus,
              sum(gap) OVER (PARTITION BY user_id ORDER BY tus
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM g),"""

  override def entries: Seq[Q] = Seq(

    // ---- tumbling event-time window aggregation + JSON prop extraction ----
    Q("q32_event_tumbling",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum($"value".cast("decimal(18,6)")).cast("double").as("total_value"),
            countDistinct($"user_id").as("n_users"),
            sum(get_json_object($"props", "$.k").cast("long")).as("sum_k"))
          .select($"window.start".as("window_start"), $"event_type",
            $"n_events", $"total_value", $"n_users", $"sum_k")
          .orderBy($"window_start", $"event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
        count(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        count(DISTINCT user_id) AS n_users,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    // ---- gap-based sessionization (30 min inactivity closes a session) ----
    Q("q33_sessionize",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, dir)
          .withColumn("prev_ms", lag(unix_millis($"ts"), 1).over(w))
          .withColumn("new_sess",
            when($"prev_ms".isNull || unix_millis($"ts") - $"prev_ms" > 30 * 60 * 1000L, 1)
              .otherwise(0))
          .withColumn("sess_idx", sum($"new_sess").over(cum))
          .groupBy($"user_id", $"sess_idx")
          .agg(
            min($"ts").as("session_start"),
            max($"ts").as("session_end"),
            count(lit(1)).as("n_events"),
            countDistinct($"event_type").as("n_types"))
          .orderBy($"user_id", $"sess_idx")
      },
      Some("""WITH g AS (SELECT user_id, event_id, ts, event_type,
          CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
               THEN 1 ELSE 0 END AS new_sess
          FROM events),
        sess AS (SELECT user_id, ts, event_type,
            CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
          FROM g)
        SELECT user_id, sess_idx,
          min(ts) AS session_start, max(ts) AS session_end,
          count(*) AS n_events, count(DISTINCT event_type) AS n_types
        FROM sess GROUP BY user_id, sess_idx
        ORDER BY user_id, sess_idx""")),

    // ---- built-in session_window: must produce the same sessions as the
    //      lag+cumsum formulation in q33 (oracle = the same gap logic) -----
    Q("q44_session_window",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .groupBy($"user_id", session_window($"ts", "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events")
          .orderBy($"user_id", $"session_start")
      },
      // the oracle derives sessions with gap logic at MICROSECOND precision
      // (epoch_us — ms truncation could flip boundary-adjacent gaps) and the
      // session_window boundary semantics verified empirically: events
      // EXACTLY gap apart merge, so a new session starts only when the gap
      // is STRICTLY greater; end = last event + gap
      Some("""WITH g AS (SELECT user_id, event_id, ts,
          CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
               THEN 1 ELSE 0 END AS new_sess
          FROM events),
        sess AS (SELECT user_id, ts,
            CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
          FROM g)
        SELECT user_id, min(ts) AS session_start,
          max(ts) + INTERVAL 30 MINUTE AS session_end,
          count(*) AS n_events
        FROM sess GROUP BY user_id, sess_idx
        ORDER BY user_id, session_start""")),

    // ---- sliding event-time windows (2h window, 1h slide): each event
    //      lands in two windows ------------------------------------------
    Q("q45_sliding_window",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .groupBy(window($"ts", "2 hours", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n_events"))
          .select($"window.start".as("window_start"), $"event_type", $"n_events")
          .orderBy($"window_start", $"event_type")
      },
      Some("""SELECT ws AS window_start, event_type, count(*) AS n_events
        FROM (SELECT event_type,
                unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                        date_trunc('hour', ts)]) AS ws
              FROM events)
        GROUP BY ws, event_type ORDER BY window_start, event_type""")),

    // ---- as-of join: each view event aligned to the user's most recent
    //      prior-or-equal purchase (training-data feature alignment). The
    //      purchase side is pre-aggregated to one row per (user, ts) so the
    //      match is deterministic; DuckDB's native ASOF LEFT JOIN is the
    //      oracle. Plan: union + one user_id shuffle + in-partition sort —
    //      no O(|L|·|R|) range-join explosion. ----------------------------
    Q("q75_asof_join",
      (s, dir) => {
        import s.implicits._
        val e = events(s, dir)
        val views = e.filter($"event_type" === "view")
          .select($"user_id", $"ts", $"event_id")
        val purchases = e.filter($"event_type" === "purchase")
          .groupBy($"user_id", $"ts").agg(max($"value").as("value"))
        graft.operators.AsOfJoin.asOf(views, purchases, Seq("user_id"), "ts", prefix = "p_")
          .select($"user_id", $"event_id", $"ts", $"p_ts", $"p_value")
          .orderBy($"event_id")
      },
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
          p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts)
        SELECT v.user_id, v.event_id, v.ts, p.ts AS p_ts, p.p_value
        FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
        ORDER BY v.event_id""")),

    // ---- salted skew join: events (hot event_type keys) joined to a
    //      replicated weight dim via (key, salt) — result identical to the
    //      plain join, but no hot key funnels through one reducer. Weighted
    //      sums stay in exact decimal until the final double cast. ---------
    Q("q76_salted_join",
      (s, dir) => {
        import s.implicits._
        val dim = Seq(("click", "1.50"), ("view", "0.50"), ("purchase", "10.00"),
            ("signup", "5.00"), ("error", "0.00")).toDF("event_type", "wt")
          .select($"event_type", $"wt".cast("decimal(6,2)").as("wt"))
        graft.functions.SkewAgg.saltedJoin(
            events(s, dir), dim, Seq("event_type"),
            saltSource = xxhash64($"event_id"), buckets = 16)
          .groupBy($"event_type", $"wt")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast("decimal(18,6)")).as("sval"))
          .select($"event_type", $"wt".cast("double").as("weight"),
            $"n_events", ($"sval" * $"wt").cast("double").as("weighted_value"))
          .orderBy($"event_type")
      },
      Some("""WITH dim(event_type, wt) AS (VALUES
            ('click', CAST('1.50' AS DECIMAL(6,2))), ('view', CAST('0.50' AS DECIMAL(6,2))),
            ('purchase', CAST('10.00' AS DECIMAL(6,2))), ('signup', CAST('5.00' AS DECIMAL(6,2))),
            ('error', CAST('0.00' AS DECIMAL(6,2)))),
          j AS (SELECT e.event_type, wt, value FROM events e JOIN dim USING (event_type))
        SELECT event_type, CAST(wt AS DOUBLE) AS weight, count(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) * wt AS DOUBLE) AS weighted_value
        FROM j GROUP BY event_type, wt ORDER BY event_type""")),

    // ---- SECOND sketch-driven plan decision (q260's pattern, skew axis):
    //      a deterministic sampled-count sketch estimates the fact side's
    //      hottest join key, the stated SaltRowThreshold turns that into
    //      plain-vs-salted, and the join EXECUTES the choice (q76's salt
    //      kernel when hot). The estimate is a pure function of the data
    //      (hash-Bernoulli sample — not Misra–Gries, whose summary is
    //      partition-dependent), so the oracle replays estimate, decision
    //      AND join result; PlanShapeSpec pins both physical branches. ----
    Q("q273_skew_planned_join",
      (s, dir) => skewPlannedJoin(s, dir, SaltRowThreshold),
      Some {
        val u = graft.operators.Sampling.detRandSql(73L,
          Seq("CAST(event_id AS VARCHAR)"))
        s"""WITH est AS (SELECT event_type, count(*) * 16 AS est_rows
              FROM events WHERE $u < 0.0625 GROUP BY event_type),
          top AS (SELECT event_type AS tk, est_rows FROM est
                  ORDER BY est_rows DESC, event_type LIMIT 1),
          dim(event_type, wt) AS (VALUES
            ('click', CAST('1.50' AS DECIMAL(6,2))), ('view', CAST('0.50' AS DECIMAL(6,2))),
            ('purchase', CAST('10.00' AS DECIMAL(6,2))), ('signup', CAST('5.00' AS DECIMAL(6,2))),
            ('error', CAST('0.00' AS DECIMAL(6,2)))),
          j AS (SELECT e.event_type, wt, value FROM events e JOIN dim USING (event_type))
          SELECT top.tk AS est_top_key, CAST(top.est_rows AS BIGINT) AS est_top_rows,
            CAST($SaltRowThreshold AS BIGINT) AS threshold,
            CASE WHEN top.est_rows > $SaltRowThreshold THEN 'salted' ELSE 'plain' END AS chosen,
            event_type, CAST(wt AS DOUBLE) AS weight, count(*) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(18,6))) * wt AS DOUBLE) AS weighted_value
          FROM j, top GROUP BY top.tk, top.est_rows, event_type, wt
          ORDER BY event_type"""
      }),

    // ---- running totals: per-user cumulative purchase value + purchase
    //      index — both window functions share ONE (user_id) shuffle; the
    //      running sum stays exact decimal until the per-row double cast. --
    Q("q83_running_totals",
      (s, dir) => {
        import s.implicits._
        val ord = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, dir).filter($"event_type" === "purchase")
          .select($"user_id", $"event_id", $"ts",
            sum($"value".cast("decimal(18,6)")).over(cum).cast("double").as("running_value"),
            row_number().over(ord).as("purchase_idx"))
          .orderBy($"user_id", $"purchase_idx")
      },
      Some("""SELECT user_id, event_id, ts,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
            ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS purchase_idx
        FROM events WHERE event_type = 'purchase'
        ORDER BY user_id, purchase_idx""")),

    // ---- inter-event gaps: lag() per user, then gap stats. One (user_id)
    //      shuffle shared by the window and the aggregation (the groupBy
    //      reuses the window's hash partitioning — no second exchange).
    //      Gaps are exact microsecond longs end-to-end; the two double
    //      divisions at the end are single operations, identical in any
    //      IEEE engine — no parallel double summation anywhere. -----------
    Q("q88_event_gaps",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
        events(s, dir)
          .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
          .withColumn("gap_us", $"us" - lag($"us", 1).over(w))
          .filter($"gap_us".isNotNull)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_gaps"),
            sum($"gap_us").as("sum_us"),
            max($"gap_us").as("max_us"))
          .select($"user_id", $"n_gaps",
            ($"sum_us".cast("double") / 1000000.0 / $"n_gaps").as("avg_gap_sec"),
            ($"max_us".cast("double") / 1000000.0).as("max_gap_sec"))
          .orderBy($"user_id")
      },
      Some("""WITH g AS (SELECT user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events)
        SELECT user_id, count(*) AS n_gaps,
          CAST(sum(gap_us) AS DOUBLE) / 1000000.0 / count(*) AS avg_gap_sec,
          CAST(max(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_sec
        FROM g WHERE gap_us IS NOT NULL GROUP BY user_id ORDER BY user_id""")),

    // ---- interval join (batch twin of a stream-stream join): for every
    //      purchase, the clicks by the same user in the preceding 30
    //      minutes. Equi-key on user_id + a bounded time-range predicate —
    //      Spark plans one hash shuffle on user_id and evaluates the range
    //      inside the join; state is bounded exactly the way the streaming
    //      interval join bounds it with watermarks (StreamingOps.intervalJoin
    //      is the incremental twin, run on a MemoryStream in StreamingSpec).
    //      LEFT join keeps
    //      click-less purchases so the output is one row per purchase. ----
    Q("q94_interval_join",
      (s, dir) => {
        import s.implicits._
        val purch = events(s, dir).filter($"event_type" === "purchase")
          .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("p_ts"))
        val clicks = events(s, dir).filter($"event_type" === "click")
          .select($"user_id", $"ts".as("c_ts"))
        purch.join(clicks,
            purch("user_id") === clicks("user_id") &&
              $"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES") && $"c_ts" < $"p_ts",
            "left")
          .groupBy($"purchase_id", $"p_ts")
          .agg(count($"c_ts").as("n_prior_clicks"),
            max($"c_ts").as("last_click_ts"))
          .select($"purchase_id", $"p_ts", $"n_prior_clicks", $"last_click_ts")
          .orderBy($"purchase_id")
      },
      Some("""SELECT p.event_id AS purchase_id, p.ts AS p_ts,
          count(c.ts) AS n_prior_clicks, max(c.ts) AS last_click_ts
        FROM events p LEFT JOIN events c
          ON c.user_id = p.user_id AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY p.event_id, p.ts ORDER BY purchase_id""")),

    // ---- conversion funnel (forward as-of): for every signup, the same
    //      user's FIRST purchase at-or-after it, aggregated per signup day.
    //      Same union+window pattern as the q75 as-of join but scanning
    //      DESCENDING: one (user_id) shuffle, running min over purchase
    //      times seen so far = earliest purchase >= current signup. On
    //      equal timestamps kind 'p' sorts before 's' in the desc scan, so
    //      a same-instant purchase counts (inclusive at-or-after). No
    //      range join, no per-signup subquery — state per task is one
    //      user's event list. Waits stay exact microsecond longs; the two
    //      trailing double divisions are single IEEE ops. -----------------
    Q("q95_funnel",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .filter($"event_type".isin("signup", "purchase"))
          .select($"user_id", unix_micros($"ts").as("us"), $"ts",
            when($"event_type" === "purchase", "p").otherwise("s").as("kind"))
        val w = Window.partitionBy($"user_id").orderBy($"us".desc, $"kind")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("next_p_us", min(when($"kind" === "p", $"us")).over(w))
          .filter($"kind" === "s")
          .withColumn("wait_us", $"next_p_us" - $"us")
          .groupBy(date_trunc("day", $"ts").as("signup_day"))
          .agg(count(lit(1)).as("n_signups"),
            count($"wait_us").as("n_converted"),
            sum(when($"wait_us" <= 24L * 3600 * 1000000, 1L).otherwise(0L))
              .as("n_within_24h"),
            sum($"wait_us").as("sum_wait_us"))
          .select($"signup_day", $"n_signups", $"n_converted", $"n_within_24h",
            ($"sum_wait_us".cast("double") / $"n_converted" / 3600000000.0)
              .as("avg_hours_to_purchase"))
          .orderBy($"signup_day")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, ts,
            CASE WHEN event_type = 'purchase' THEN 'p' ELSE 's' END AS kind
          FROM events WHERE event_type IN ('signup', 'purchase')),
        nxt AS (SELECT *,
            min(CASE WHEN kind = 'p' THEN us END) OVER (PARTITION BY user_id
              ORDER BY us DESC, kind ROWS UNBOUNDED PRECEDING) AS next_p_us
          FROM ev),
        s AS (SELECT *, next_p_us - us AS wait_us FROM nxt WHERE kind = 's')
        SELECT date_trunc('day', ts) AS signup_day, count(*) AS n_signups,
          count(wait_us) AS n_converted,
          CAST(sum(CASE WHEN wait_us <= 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_within_24h,
          CAST(sum(wait_us) AS DOUBLE) / count(wait_us) / 3600000000.0
            AS avg_hours_to_purchase
        FROM s GROUP BY 1 ORDER BY signup_day""")),

    // ---- weekly retention: active / new / retained / churned users per
    //      week. Plan: one (user_id, week) distinct (shuffle 1), a per-user
    //      lag window + first-week flag riding the SAME user partitioning,
    //      then a week-keyed aggregation (shuffle 2, week-cardinality
    //      rows). Churn needs the PREVIOUS week's active count — computed
    //      with an unpartitioned lag over the aggregated weeks, which is
    //      safe because that frame is O(weeks), not O(users). Caveat
    //      (shared by the oracle, so the gate can't see it): lag() skips
    //      calendar weeks with ZERO active users — a fully-dark week's
    //      churn lands on the next active week against a stale baseline.
    //      For sparse deployments, spine-fill the weeks first (q102's
    //      sequence+explode pattern) so every week has a row. ------------
    Q("q96_retention",
      (s, dir) => {
        import s.implicits._
        val uw = events(s, dir)
          .select($"user_id",
            floor(datediff(to_date($"ts"), to_date(lit("2024-01-01"))) / 7)
              .cast("int").as("week"))
          .distinct()
        val w = Window.partitionBy($"user_id").orderBy($"week")
        val perWeek = uw
          .withColumn("prev_week", lag($"week", 1).over(w))
          .groupBy($"week")
          .agg(count(lit(1)).as("n_active"),
            sum(when($"prev_week".isNull, 1L).otherwise(0L)).as("n_new"),
            sum(when($"prev_week" === $"week" - 1, 1L).otherwise(0L)).as("n_retained"))
        val wAll = Window.orderBy($"week")
        perWeek
          .withColumn("n_churned",
            coalesce(lag($"n_active", 1).over(wAll) - $"n_retained", lit(0L)))
          .orderBy($"week")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
            CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS INT) AS week
          FROM events),
        lagged AS (SELECT *, lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
          FROM uw),
        pw AS (SELECT week, count(*) AS n_active,
            CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
            CAST(sum(CASE WHEN prev_week = week - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
          FROM lagged GROUP BY week)
        SELECT week, n_active, n_new, n_retained,
          COALESCE(lag(n_active) OVER (ORDER BY week) - n_retained, 0) AS n_churned
        FROM pw ORDER BY week""")),

    // ---- event-type transition matrix (first-order Markov counts): lag
    //      the per-user event sequence, count (prev → cur) pairs, and the
    //      per-prev transition probability. One user shuffle for the lag,
    //      one tiny (type², i.e. 25-row) aggregation; the probability is a
    //      window sum over those 25 rows — driver-scale state only. -------
    Q("q97_transitions",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
        val pairs = events(s, dir)
          .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"event_type")
          .withColumn("prev_type", lag($"event_type", 1).over(w))
          .filter($"prev_type".isNotNull)
          .groupBy($"prev_type", $"event_type").agg(count(lit(1)).as("n"))
        pairs
          .withColumn("p",
            $"n".cast("double") / sum($"n").over(Window.partitionBy($"prev_type")))
          .orderBy($"prev_type", $"event_type")
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          FROM events),
        pairs AS (SELECT prev_type, event_type, count(*) AS n FROM seq
          WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type)
        SELECT prev_type, event_type, n,
          CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) AS p
        FROM pairs ORDER BY prev_type, event_type""")),

    // ---- SCD2 validity intervals: each purchase's value holds until the
    //      user's NEXT purchase — the slowly-changing-dimension history
    //      build (effective_from/effective_to + is_current) every
    //      warehouse maintains. One user_id shuffle; lead() and the
    //      current-row flag ride the same sorted window. The open-ended
    //      current row closes at a fixed far-future sentinel rather than
    //      NULL so both engines serialize the column identically. ----------
    Q("q151_scd2_intervals",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        events(s, dir).filter($"event_type" === "purchase")
          .select($"user_id", $"event_id", $"ts".as("valid_from"), $"value")
          .withColumn("nxt", lead($"valid_from", 1).over(
            Window.partitionBy($"user_id").orderBy($"valid_from", $"event_id")))
          .select($"user_id", $"event_id", $"valid_from",
            coalesce($"nxt", lit("2200-01-01 00:00:00").cast("timestamp"))
              .as("valid_to"),
            when($"nxt".isNull, 1L).otherwise(0L).as("is_current"),
            $"value")
          .orderBy($"user_id", $"valid_from", $"event_id")
      },
      Some("""WITH p AS (SELECT user_id, event_id, ts AS valid_from, value
            FROM events WHERE event_type = 'purchase'),
          x AS (SELECT *, lead(valid_from) OVER (PARTITION BY user_id
                  ORDER BY valid_from, event_id) AS nxt FROM p)
          SELECT user_id, event_id, valid_from,
            COALESCE(nxt, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
            CAST(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
            value
          FROM x ORDER BY user_id, valid_from, event_id""")),

    // ---- Z-order layout audit: bit-interleave (user bucket, hour-of-day)
    //      into a Z-value, cluster rows into Z-buckets, and report each
    //      bucket's per-dimension min/max spans — the file-skipping
    //      statistic that justifies multi-dimensional clustering: under
    //      Z-order BOTH dimensions stay range-bounded per bucket, so a
    //      predicate on EITHER column prunes most buckets (a single-column
    //      sort bounds only its own column). Pure integer bit arithmetic
    //      (shifts/masks — identical cross-engine), one bucket rollup
    //      shuffle; at 100 TB the bucket becomes the output file and the
    //      spans become parquet footer min/max stats. ----------------------
    Q("q155_zorder_layout",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .select($"event_id", ($"user_id" % 64).cast("long").as("x"),
            hour($"ts").cast("long").as("y"))
          // shared Morton kernel (functions/ZOrder.scala) — one
          // interleave definition for q155, q257 and both oracles
          .withColumn("z",
            graft.functions.ZOrder.interleave("x", "y", bits = 6).cast("long"))
          .withColumn("zbucket", expr("z div 64"))
          .groupBy($"zbucket")
          .agg(count(lit(1)).as("n_rows"),
            min($"x").as("x_min"), max($"x").as("x_max"),
            min($"y").as("y_min"), max($"y").as("y_max"))
          .select($"zbucket", $"n_rows",
            ($"x_max" - $"x_min").as("x_span"),
            ($"y_max" - $"y_min").as("y_span"))
          .orderBy($"zbucket")
      },
      Some(s"""WITH b AS (SELECT event_id,
            CAST(user_id % 64 AS BIGINT) AS x,
            CAST(hour(ts) AS BIGINT) AS y
          FROM events),
        zv AS (SELECT x, y,
            ${graft.functions.ZOrder.interleaveSql("x", "y", bits = 6)} AS z
          FROM b)
        SELECT z // 64 AS zbucket, count(*) AS n_rows,
          max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
        FROM zv GROUP BY 1 ORDER BY zbucket""")),

    // ---- typed Aggregator (custom UDAF surface, SURVEY §2.K): exact
    //      one-pass per-type moments over `value`, all-integer buffer
    //      (count, Σm, Σm², min, max over 1e-3-quantized longs) so the
    //      partial/merge tree is associative-exact — bit-identical at any
    //      parallelism, which a double-accumulator Welford UDAF is NOT.
    //      Runs as a single partial+final aggregation (map-side combined)
    //      like any built-in; the oracle recomputes the same integer
    //      moments in SQL. ------------------------------------------------
    Q("q187_moment_aggregator",
      (s, dir) => {
        import s.implicits._
        val mom = org.apache.spark.sql.functions.udaf(graft.functions.MomentAggregator.of)
        events(s, dir)
          .select($"event_type", round($"value" * 1000).cast("long").as("m"))
          .groupBy($"event_type")
          .agg(mom($"m").as("mo"))
          .select($"event_type", $"mo.n".as("n_events"), $"mo.mean".as("mean_value"),
            $"mo.variance".as("var_value"), $"mo.vmin".as("min_value"),
            $"mo.vmax".as("max_value"))
          .orderBy($"event_type")
      },
      Some("""WITH q AS (SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS m
            FROM events)
          SELECT event_type, count(*) AS n_events,
            CAST(sum(m) AS DOUBLE) / count(*) / 1000.0 AS mean_value,
            CAST(sum(m * m) AS DOUBLE) / count(*) / 1000000.0
              - (CAST(sum(m) AS DOUBLE) / count(*) / 1000.0)
                * (CAST(sum(m) AS DOUBLE) / count(*) / 1000.0) AS var_value,
            CAST(min(m) AS DOUBLE) / 1000.0 AS min_value,
            CAST(max(m) AS DOUBLE) / 1000.0 AS max_value
          FROM q GROUP BY event_type ORDER BY event_type""")),

    // ---- INCREMENTAL MAINTENANCE of a NON-trivially-mergeable state
    //      (VERDICT r12 item 5a — q277 merges count/sum, the easy
    //      algebra): the stored snapshot here is q187's typed-Aggregator
    //      BUFFER (n, Σm, Σm², min, max as exact 1e-3-quantized longs)
    //      per event_type as of a cutoff; the new batch folds to the same
    //      buffer shape map-side; and the absorb step runs the
    //      AGGREGATOR'S OWN merge (MomentAggregator.merger's reduce IS
    //      of.merge) over the unioned state rows — not a hand-rolled SQL
    //      add, so the gate exercises the exact partial/merge tree a
    //      one-shot aggregation uses. The ORACLE takes the other road:
    //      one recompute over ALL rows up to the batch end — variance
    //      from merged Σm/Σm² ≡ variance recomputed from scratch is the
    //      gated claim, and that only holds because the buffer is exact
    //      integers (a Welford-double state would drift with merge
    //      order). Batch cost: O(delta) + a state-sized merge. ------------
    Q("q282_incremental_moments",
      (s, dir) => {
        import s.implicits._
        val cutoff = "2024-01-16"
        val batchEnd = "2024-01-24"
        val raw = org.apache.spark.sql.functions.udaf(
          graft.functions.MomentAggregator.raw)
        val mergeBufs = org.apache.spark.sql.functions.udaf(
          graft.functions.MomentAggregator.merger,
          org.apache.spark.sql.Encoders.product[
            graft.functions.MomentAggregator.MomBuf])
        val quant = events(s, dir)
          .select($"event_type", $"ts",
            round($"value" * 1000).cast("long").as("m"))
        // the stored snapshot: per-key aggregator BUFFER as of the cutoff
        val state = quant.filter($"ts" < lit(cutoff).cast("timestamp"))
          .groupBy($"event_type").agg(raw($"m").as("st"))
        // the new batch, folded to the same buffer shape map-side
        val delta = quant
          .filter($"ts" >= lit(cutoff).cast("timestamp") &&
            $"ts" < lit(batchEnd).cast("timestamp"))
          .groupBy($"event_type").agg(raw($"m").as("st"))
        // udaf flattens a case-class input into positional args — feed
        // the buffer's five fields; they re-assemble into MomBuf before
        // of.merge runs
        val merged = state.unionByName(delta)
          .groupBy($"event_type")
          .agg(mergeBufs($"st.n", $"st.sum", $"st.sumSq", $"st.mn", $"st.mx")
            .as("mo"))
        merged
          .join(state.select($"event_type", $"st.n".as("n_b")),
            Seq("event_type"), "left")
          .join(delta.select($"event_type", $"st.n".as("n_d")),
            Seq("event_type"), "left")
          .select($"event_type",
            coalesce($"n_b", lit(0L)).as("n_before"),
            coalesce($"n_d", lit(0L)).as("n_delta"),
            $"mo.n".as("n_after"), $"mo.mean".as("mean_after"),
            $"mo.variance".as("var_after"), $"mo.vmin".as("min_after"),
            $"mo.vmax".as("max_after"))
          .orderBy($"event_type")
      },
      Some("""WITH q AS (SELECT event_type, ts,
              CAST(round(value * 1000) AS BIGINT) AS m FROM events),
          st AS (SELECT event_type, count(*) AS n_b FROM q
            WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
          d AS (SELECT event_type, count(*) AS n_d FROM q
            WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
              AND ts < TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1),
          -- the ORACLE recomputes every moment from scratch over all rows
          -- up to the batch end: merge ≡ recompute is the gated claim
          f AS (SELECT event_type, count(*) AS n, sum(m) AS sm,
              sum(m * m) AS sm2, min(m) AS mn, max(m) AS mx
            FROM q WHERE ts < TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1)
          SELECT f.event_type,
            CAST(COALESCE(st.n_b, 0) AS BIGINT) AS n_before,
            CAST(COALESCE(d.n_d, 0) AS BIGINT) AS n_delta,
            CAST(f.n AS BIGINT) AS n_after,
            CAST(f.sm AS DOUBLE) / f.n / 1000.0 AS mean_after,
            CAST(f.sm2 AS DOUBLE) / f.n / 1000000.0
              - (CAST(f.sm AS DOUBLE) / f.n / 1000.0)
                * (CAST(f.sm AS DOUBLE) / f.n / 1000.0) AS var_after,
            CAST(f.mn AS DOUBLE) / 1000.0 AS min_after,
            CAST(f.mx AS DOUBLE) / 1000.0 AS max_after
          FROM f LEFT JOIN st ON st.event_type = f.event_type
          LEFT JOIN d ON d.event_type = f.event_type
          ORDER BY f.event_type""")),

    // ---- Misra-Gries heavy-hitter audit (functions/MisraGries.scala):
    //      bounded-memory top talkers over a bot-amplified event stream.
    //      The driver corpus is deliberately uniform (no user exceeds any
    //      N/(k+1) threshold), so the stream is skewed DETERMINISTICALLY
    //      in both engines first: every event from a FIXED bot set
    //      (user_id divisible by 37 AND < 150 — fixed so the bot count
    //      does NOT scale with the user population and each bot stays
    //      above N/(k+1) at every sf) is replayed 201x (the
    //      bot-retry-storm shape heavy-hitter sketches exist for). The
    //      raw MG summary is arrival-order- and
    //      partition-dependent — NOT gateable — so the query emits the
    //      deterministic implications of the mergeable-summaries theorem
    //      instead: every user with true count > N/(k+1) (exact integer
    //      cross-multiplied threshold) must be IN the k=16 sketch, with
    //      true − N/(k+1) ≤ estimate ≤ true. The oracle replays the exact
    //      counts and emits the verdict columns as literal 1s; any sketch
    //      bug in reduce/merge flips a 0 into ours and fails the hash.
    //      The ≤k-entry summary is the only driver-side collect. ----------
    Q("q201_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val k = 16
        val stream = events(s, dir)
          .select($"user_id",
            (lit(1) + when($"user_id" % 37 === 0 && $"user_id" < 150, 200)
              .otherwise(0)).as("rep"))
          .select(explode(array_repeat($"user_id".cast("string"),
            $"rep".cast("int"))).as("tok"))
        val mg = stream.as[String]
          .select(graft.functions.MisraGries.of(k).toColumn)
          .head().counts
        val exact = stream.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        val tot = stream.agg(count(lit(1)).as("n"))
        exact.crossJoin(broadcast(tot))
          .filter($"cnt" * (k + 1) > $"n")
          .select($"tok".cast("long").as("user_id"),
            $"cnt".cast("long").as("exact_cnt"),
            when(typedlit(mg).getItem($"tok").isNotNull, 1).otherwise(0)
              .cast("int").as("in_sketch"),
            when(coalesce(typedlit(mg).getItem($"tok"), lit(0L)) <= $"cnt" &&
              ($"cnt" - coalesce(typedlit(mg).getItem($"tok"), lit(0L))) * (k + 1) <= $"n",
              1).otherwise(0).cast("int").as("est_ok"))
          .orderBy($"user_id")
      },
      Some("""WITH ev AS (SELECT user_id,
            1 + CASE WHEN user_id % 37 = 0 AND user_id < 150 THEN 200 ELSE 0 END AS rep
          FROM events),
        st AS (SELECT user_id FROM ev, UNNEST(range(0, rep))),
        c AS (SELECT user_id, count(*) AS cnt FROM st GROUP BY user_id),
        n AS (SELECT count(*) AS n FROM st)
        SELECT user_id, CAST(cnt AS BIGINT) AS exact_cnt,
          CAST(1 AS INT) AS in_sketch, CAST(1 AS INT) AS est_ok
        FROM c, n WHERE cnt * 17 > n ORDER BY user_id""")),

    // ---- time-decayed engagement scores: recency-weighted per-user value
    //      with a 1-day half-life — the freshness signal feature stores
    //      serve (churn models, trending rankers). Exponential decay is
    //      normally a float exp() (not libm-portable); restricting the
    //      half-life to whole DAYS makes every weight an exact power of
    //      two, so each contribution is one integer shift-divide
    //      (v_micro DIV 2^age_days) and the per-user sum is an exact,
    //      order-independent long — bit-identical at any parallelism, and
    //      incrementally maintainable at scale (yesterday's total halves,
    //      today's arrivals add; no recompute over history). The anchor T
    //      = max(ts) rides in as a 1-row broadcast, never a driver
    //      collect. decay_ratio is one division of two exact longs. --------
    Q("q208_decayed_engagement",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).select($"user_id", $"ts",
          round($"value" * 1e6).cast("long").as("vmicro"))
        val anchor = ev.agg(max(unix_micros($"ts")).as("tmax"))
        ev.crossJoin(broadcast(anchor))
          .withColumn("age_days",
            expr("CAST((tmax - unix_micros(ts)) DIV 86400000000 AS INT)"))
          .withColumn("w", expr("vmicro DIV shiftleft(CAST(1 AS BIGINT), age_days)"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            sum($"vmicro").as("raw_micro"), sum($"w").as("dec_micro"))
          .select($"user_id", $"n_events".cast("long").as("n_events"),
            ($"raw_micro".cast("double") / 1e6).as("raw_sum"),
            ($"dec_micro".cast("double") / 1e6).as("decayed_sum"),
            ($"dec_micro".cast("double") / $"raw_micro").as("decay_ratio"))
          .orderBy($"user_id")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
            CAST(round(value * 1000000) AS BIGINT) AS vmicro
          FROM events),
        a AS (SELECT max(tus) AS tmax FROM ev),
        w AS (SELECT user_id, vmicro,
            vmicro // (CAST(1 AS BIGINT) << CAST((tmax - tus) // 86400000000 AS INT)) AS w
          FROM ev, a)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          CAST(sum(vmicro) AS DOUBLE) / 1000000.0 AS raw_sum,
          CAST(sum(w) AS DOUBLE) / 1000000.0 AS decayed_sum,
          CAST(sum(w) AS DOUBLE) / sum(vmicro) AS decay_ratio
        FROM w GROUP BY user_id ORDER BY user_id""")),

    // ---- per-group z-score OUTLIER AUDIT — the monitoring pass that
    //      flags anomalous event values against their own event-type
    //      distribution. Two scans, zero windows: scan 1 folds each group
    //      to integer-exact sufficient statistics (n, Σcents, Σcents² —
    //      bounded under 2⁵³ far past sf1); scan 2 re-reads the stream
    //      against the broadcast 5-row stats table and counts |z| > 3.
    //      mean/std come from the exact longs via one fixed IEEE
    //      expression (population variance (n·Σv² − (Σv)²)/n², identical
    //      op order in the oracle), so the 3σ threshold cuts bit-
    //      identically cross-engine. max_abs_z is an order-independent
    //      max of identical doubles. At 100 TB the stats table stays
    //      O(groups) and both scans are embarrassingly parallel — this is
    //      the shape monitoring jobs should have instead of per-row
    //      window ranks. -----------------------------------------------------
    Q("q226_zscore_outliers",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).select($"event_type",
          round($"value" * 100).cast("long").as("vc"))
        val stats = ev.groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"vc").as("s1"),
            sum($"vc" * $"vc").as("s2"))
          .select($"event_type", $"n",
            ($"s1".cast("double") / $"n".cast("double")).as("mean"),
            sqrt(($"n".cast("double") * $"s2".cast("double")
              - $"s1".cast("double") * $"s1".cast("double"))
              / ($"n".cast("double") * $"n".cast("double"))).as("std"))
        // zero-variance guard: a constant-valued group has std=0, so the
        // raw z is 0/0 = NaN — and NaN sorts ABOVE any threshold in both
        // engines, flagging every row. Degenerate groups report az=0
        // (no outliers) instead; mirrored in the oracle.
        ev.join(broadcast(stats), Seq("event_type"))
          .select($"event_type", $"n", $"mean", $"std",
            when($"std" > 0.0,
              abs(($"vc".cast("double") - $"mean") / $"std"))
              .otherwise(lit(0.0)).as("az"))
          .groupBy($"event_type")
          .agg(max($"n").as("n"),
            sum(when($"az" > 3.0, 1L).otherwise(0L)).as("n_outliers"),
            max($"az").as("max_abs_z"))
          .select($"event_type", $"n".cast("long").as("n"),
            $"n_outliers".cast("long").as("n_outliers"), $"max_abs_z")
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
            CAST(round(value * 100) AS BIGINT) AS vc FROM events),
          stats AS (SELECT event_type, count(*) AS n,
              CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS mean,
              sqrt((CAST(count(*) AS DOUBLE)
                  * CAST(CAST(sum(vc * vc) AS BIGINT) AS DOUBLE)
                - CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE)
                  * CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE))
                / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))) AS std
            FROM ev GROUP BY event_type),
          z AS (SELECT ev.event_type, s.n,
              CASE WHEN s.std > 0
                THEN abs((CAST(ev.vc AS DOUBLE) - s.mean) / s.std)
                ELSE 0.0 END AS az
            FROM ev JOIN stats s USING (event_type))
          SELECT event_type, CAST(max(n) AS BIGINT) AS n,
            CAST(sum(CASE WHEN az > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_outliers,
            max(az) AS max_abs_z
          FROM z GROUP BY event_type ORDER BY event_type""")),

    // ---- RFM customer segmentation (recency / frequency / monetary
    //      deciles) — the classic activation/churn cut a growth team runs
    //      over the event log. One event-scale aggregate folds each user
    //      to (last-seen, count, exact cents); everything after runs on
    //      the USER table, which is entity-scale, not event-scale — the
    //      windows ranking the three metrics sit on an Aggregate child
    //      (the bounded-window contract; a 10⁹-user deployment would swap
    //      in q216's bucket-rank trick, same output). Deciles are exact
    //      integer cuts ((rank−1)·10 div n — no ntile, whose remainder
    //      rule differs subtly across engines), recency anchors on the
    //      broadcast max-ts row, and ties break on user_id so ranks are
    //      total. rfm code = r·100 + f·10 + m. ------------------------------
    Q("q229_rfm_segments",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).select($"user_id", unix_micros($"ts").as("tus"),
          round($"value" * 100).cast("long").as("vc"))
        val anchor = ev.agg(max($"tus").as("tmax"))
        val users = ev.groupBy($"user_id")
          .agg(max($"tus").as("last_us"), count(lit(1)).as("f"),
            sum($"vc").as("m_cents"))
          .crossJoin(broadcast(anchor))
          .select($"user_id",
            expr("CAST((tmax - last_us) DIV 86400000000 AS BIGINT)").as("r_days"),
            $"f", $"m_cents")
        val n = users.agg(count(lit(1)).as("nu"))
        users
          .withColumn("rr", row_number().over(
            Window.orderBy($"r_days", $"user_id")))
          .withColumn("rf", row_number().over(
            Window.orderBy($"f".desc, $"user_id")))
          .withColumn("rm", row_number().over(
            Window.orderBy($"m_cents".desc, $"user_id")))
          .crossJoin(broadcast(n))
          .select($"user_id", $"r_days", $"f".cast("long").as("f"),
            $"m_cents".cast("long").as("m_cents"),
            expr("CAST(((rr - 1) * 10) div nu AS INT)").as("r_dec"),
            expr("CAST(((rf - 1) * 10) div nu AS INT)").as("f_dec"),
            expr("CAST(((rm - 1) * 10) div nu AS INT)").as("m_dec"))
          .withColumn("rfm",
            ($"r_dec" * 100 + $"f_dec" * 10 + $"m_dec").cast("int"))
          .orderBy($"user_id")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tus,
            CAST(round(value * 100) AS BIGINT) AS vc FROM events),
          a AS (SELECT max(tus) AS tmax FROM ev),
          u AS (SELECT user_id, max(tus) AS last_us, count(*) AS f,
                  CAST(sum(vc) AS BIGINT) AS m_cents FROM ev GROUP BY 1),
          r AS (SELECT user_id, (tmax - last_us) // 86400000000 AS r_days,
                  f, m_cents FROM u, a),
          rk AS (SELECT *,
              row_number() OVER (ORDER BY r_days, user_id) AS rr,
              row_number() OVER (ORDER BY f DESC, user_id) AS rf,
              row_number() OVER (ORDER BY m_cents DESC, user_id) AS rm,
              count(*) OVER () AS nu
            FROM r)
          SELECT user_id, CAST(r_days AS BIGINT) AS r_days,
            CAST(f AS BIGINT) AS f, m_cents,
            CAST(((rr - 1) * 10) // nu AS INT) AS r_dec,
            CAST(((rf - 1) * 10) // nu AS INT) AS f_dec,
            CAST(((rm - 1) * 10) // nu AS INT) AS m_dec,
            CAST((((rr - 1) * 10) // nu) * 100 + (((rf - 1) * 10) // nu) * 10
              + ((rm - 1) * 10) // nu AS INT) AS rfm
          FROM rk ORDER BY user_id""")),

    // ---- retention COHORT triangle: users bucketed by first-seen day,
    //      then per (cohort, day-offset) distinct-active counts and the
    //      retention ratio against the cohort's day-0 size. Two event-
    //      scale shuffles, both on user_id (first-seen aggregate, then the
    //      join-back — co-partitioned, AQE-local), and the (cohort, offset,
    //      user) distinct dedups map-side before it moves. Everything
    //      after lives on the (days × offsets) triangle — bounded by the
    //      calendar, not the data — so the cohort-size join-back is a
    //      justified explicit broadcast. Day arithmetic is exact integer
    //      epoch-day division in BOTH engines (no timezone/date-trunc
    //      cross-engine hazard). ------------------------------------------
    Q("q234_retention_cohorts",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"user_id",
            expr("unix_micros(ts) div 86400000000").as("d"))
        val first = ev.groupBy($"user_id").agg(min($"d").as("cohort_day"))
        val counts = ev.join(first, "user_id")
          .select($"cohort_day", ($"d" - $"cohort_day").as("day_offset"),
            $"user_id")
          .distinct()
          .groupBy($"cohort_day", $"day_offset")
          .agg(count(lit(1)).as("n_active"))
        val sizes = counts.filter($"day_offset" === 0)
          .select($"cohort_day", $"n_active".as("cohort_size"))
        counts.join(broadcast(sizes), Seq("cohort_day"))
          .select($"cohort_day".cast("long").as("cohort_day"),
            $"day_offset".cast("long").as("day_offset"),
            $"n_active".cast("long").as("n_active"),
            $"cohort_size".cast("long").as("cohort_size"),
            ($"n_active".cast("double") / $"cohort_size".cast("double"))
              .as("retention"))
          .orderBy($"cohort_day", $"day_offset")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
            FROM events),
          f AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1),
          act AS (SELECT DISTINCT f.cohort_day, ev.d - f.cohort_day AS day_offset,
              ev.user_id
            FROM ev JOIN f ON ev.user_id = f.user_id),
          c AS (SELECT cohort_day, day_offset, count(*) AS n_active
            FROM act GROUP BY 1, 2),
          sz AS (SELECT cohort_day, n_active AS cohort_size FROM c
            WHERE day_offset = 0)
          SELECT CAST(c.cohort_day AS BIGINT) AS cohort_day,
            CAST(day_offset AS BIGINT) AS day_offset,
            CAST(n_active AS BIGINT) AS n_active,
            CAST(cohort_size AS BIGINT) AS cohort_size,
            CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
          FROM c JOIN sz ON c.cohort_day = sz.cohort_day
          ORDER BY cohort_day, day_offset""")),

    // ---- OHLC downsampling: per (event_type, day) open/high/low/close
    //      bars — the time-series resample a metrics store runs to turn an
    //      event firehose into calendar-bounded bars. Open/close are
    //      min_by/max_by (partial+final aggregates — NEVER a per-(type,day)
    //      window, which would buffer a whole hot day on one task). The
    //      ordering key is a FIXED-WIDTH zero-padded "(tus, event_id)"
    //      string: lexicographic == numeric for non-negative ints (widths
    //      carry tus to y31k and event_id to 10^12, and orderingKey RAISES
    //      on out-of-range input rather than silently mis-sorting — re-pad
    //      before a deployment whose ids exceed the guard), and DuckDB's
    //      arg_min/arg_max accept VARCHAR keys where they reject structs
    //      — one encoding,
    //      bit-identical ordering in both engines, and event_id uniqueness
    //      makes the argmin tie-free. ---------------------------------------
    Q("q235_ohlc_bars",
      (s, dir) => {
        import s.implicits._
        events(s, dir)
          .select($"event_type",
            expr("unix_micros(ts) div 86400000000").as("d"),
            orderingKey($"ts", $"event_id").as("ok"),
            $"value")
          .groupBy($"event_type", $"d")
          .agg(count(lit(1)).as("n"),
            min_by($"value", $"ok").as("open"),
            max($"value").as("high"),
            min($"value").as("low"),
            max_by($"value", $"ok").as("close"))
          .select($"event_type", $"d".cast("long").as("d"),
            $"n".cast("long").as("n"), $"open", $"high", $"low", $"close")
          .orderBy($"event_type", $"d")
      },
      Some(s"""SELECT event_type,
            CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
            CAST(count(*) AS BIGINT) AS n,
            arg_min(value, $oracleOrderingKey) AS open,
            max(value) AS high, min(value) AS low,
            arg_max(value, $oracleOrderingKey) AS close
          FROM events GROUP BY 1, 2 ORDER BY event_type, d""")),

    // ---- robust MAD outlier audit — the median-based companion to q226's
    //      moment z-scores (medians shrug off the heavy tail that inflates
    //      a stdev and hides true outliers). Three embarrassingly parallel
    //      scans: exact median per type, exact median absolute deviation
    //      (join back the broadcast O(types) median table), then the
    //      3-MAD cut against the broadcast (median, mad) table. Exact
    //      percentile pins the contract (q89's caveat applies: at 100 TB
    //      the sketch swap-in is approx_percentile, judged against THIS).
    //      Interpolation is lo+(hi-lo)*frac in both engines — IEEE
    //      identical — and the deviation/cut expressions are single
    //      subtract/compare ops on bit-identical doubles. ------------------
    Q("q236_mad_outliers",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).select($"event_type", $"value")
        val med = ev.groupBy($"event_type")
          .agg(expr("percentile(value, 0.5)").as("med"))
        val dev = ev.join(broadcast(med), Seq("event_type"))
          .withColumn("dev", abs($"value" - $"med"))
        val mad = dev.groupBy($"event_type")
          .agg(expr("percentile(dev, 0.5)").as("mad"))
        dev.join(broadcast(mad), Seq("event_type"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), first($"med").as("med"),
            first($"mad").as("mad"),
            sum(when($"dev" > $"mad" * 3.0, 1L).otherwise(0L))
              .as("n_outliers"),
            max($"dev").as("max_dev"))
          .select($"event_type", $"n".cast("long").as("n"), $"med", $"mad",
            $"n_outliers".cast("long").as("n_outliers"), $"max_dev")
          .orderBy($"event_type")
      },
      Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1),
          dev AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
            FROM events e JOIN med m ON e.event_type = m.event_type),
          mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
            FROM dev GROUP BY 1)
          SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
            any_value(d.med) AS med, any_value(a.mad) AS mad,
            CAST(sum(CASE WHEN d.dev > a.mad * 3.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_outliers,
            max(d.dev) AS max_dev
          FROM dev d JOIN mad a ON d.event_type = a.event_type
          GROUP BY 1 ORDER BY d.event_type""")),

    // ---- seasonal-naive BACKTEST: forecast each type's daily event count
    //      on the last 7 days from the day-of-week mean of the first 23,
    //      and grade with MAE + WAPE. The eval-over-time-series shape a
    //      pipeline uses to qualify a monitoring forecast before trusting
    //      its alerts. Counts fold calendar-bounded immediately (type ×
    //      30 days); the zero-fill spine is types × sequence(0,29) —
    //      generated, not scanned. ERROR SUMS ARE EXACT INTEGERS: the
    //      dow-mean forecast is the rational S/nd with nd | 12, so
    //      12·|f−a| = |S·(12 div nd) − 12a| is a long and the per-type
    //      reduction is order-independent; MAE and WAPE are one final
    //      double division each. Day/dow arithmetic is epoch-day integer
    //      math in both engines — no locale/week-start hazard. -------------
    Q("q237_seasonal_backtest",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"event_type", expr("unix_micros(ts) div 86400000000").as("d"))
        val d0f = ev.agg(min($"d").as("d0"))
        val counts = ev.groupBy($"event_type", $"d").agg(count(lit(1)).as("cnt"))
        val spine = counts.select($"event_type").distinct()
          .crossJoin(broadcast(d0f))
          .select($"event_type", $"d0",
            explode(sequence(lit(0), lit(29))).as("off"))
          .select($"event_type", ($"d0" + $"off").as("d"), $"off")
        val filled = spine.join(counts, Seq("event_type", "d"), "left")
          .select($"event_type", $"off", ($"off" % 7).as("dow"),
            coalesce($"cnt", lit(0L)).as("a"))
        val train = filled.filter($"off" < 23)
          .groupBy($"event_type", $"dow")
          .agg(sum($"a").as("ts_sum"), count(lit(1)).as("nd"))
        filled.filter($"off" >= 23)
          .join(broadcast(train), Seq("event_type", "dow"))
          .withColumn("t12", expr("abs(ts_sum * (12 div nd) - a * 12)"))
          .groupBy($"event_type")
          .agg(sum($"a").as("n_test"), sum($"t12").as("e12"))
          .select($"event_type", $"n_test".cast("long").as("n_test"),
            ($"e12".cast("double") / (12.0 * 7.0)).as("mae"),
            // a type with zero test-window events would make WAPE 0/0 →
            // Infinity/NaN, which round-trips poorly through JSON/CSV
            // result channels — emit NULL instead (mirrored in the oracle)
            when($"n_test" > 0,
              $"e12".cast("double") / (lit(12.0) * $"n_test".cast("double")))
              .as("wape"))
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d
            FROM events),
          d0 AS (SELECT min(d) AS d0 FROM ev),
          c AS (SELECT event_type, d, count(*) AS cnt FROM ev GROUP BY 1, 2),
          spine AS (SELECT t.event_type, d0.d0 + r.range AS d, r.range AS off
            FROM (SELECT DISTINCT event_type FROM c) t, d0, range(0, 30) r),
          filled AS (SELECT s.event_type, s.off, s.off % 7 AS dow,
              COALESCE(c.cnt, 0) AS a
            FROM spine s LEFT JOIN c
              ON s.event_type = c.event_type AND s.d = c.d),
          train AS (SELECT event_type, dow, sum(a) AS ts_sum,
              count(*) AS nd
            FROM filled WHERE off < 23 GROUP BY 1, 2)
          SELECT f.event_type, CAST(sum(f.a) AS BIGINT) AS n_test,
            CAST(sum(abs(t.ts_sum * (12 // t.nd) - f.a * 12)) AS DOUBLE)
              / (12.0 * 7.0) AS mae,
            CASE WHEN sum(f.a) > 0
              THEN CAST(sum(abs(t.ts_sum * (12 // t.nd) - f.a * 12)) AS DOUBLE)
                / (12.0 * CAST(sum(f.a) AS DOUBLE))
              ELSE NULL END AS wape
          FROM filled f JOIN train t
            ON f.event_type = t.event_type AND f.dow = t.dow
          WHERE f.off >= 23
          GROUP BY 1 ORDER BY f.event_type""")),

    // ---- KAPLAN-MEIER time-to-conversion (right-censored): T = days from
    //      a user's first event to their first high-value purchase
    //      (value > 150); users who never convert are censored at the log
    //      horizon (their true conversion time is unobserved — dropping
    //      them would bias survival DOWN, the textbook mistake KM exists
    //      to fix). The event log folds ONCE to per-user (T, event);
    //      everything after runs on the ≤30-row time table (calendar-
    //      bounded): at-risk counts are a reverse cumsum over that bounded
    //      frame, and the survival curve is an ORDERED LEFT-FOLD product —
    //      both engines multiply the same factors in the same t order
    //      (Spark `aggregate` over a sorted prefix slice; DuckDB
    //      `list_reduce` over the same slice), and each factor is one
    //      correctly-rounded division of small exact ints, so the curve is
    //      bit-identical. Never exp(sum(log)) — libm's ln/exp are NOT
    //      cross-engine reproducible. --------------------------------------
    Q("q238_kaplan_meier",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"user_id", expr("unix_micros(ts) div 86400000000").as("d"),
            $"event_type", $"value")
        val horizon = ev.agg(max($"d").as("dmax"))
        val first = ev.groupBy($"user_id").agg(min($"d").as("f0"))
        val conv = ev
          .filter($"event_type" === "purchase" && $"value" > 150.0)
          .groupBy($"user_id").agg(min($"d").as("cd"))
        val life = first.join(conv, Seq("user_id"), "left")
          .crossJoin(broadcast(horizon))
          .select(
            coalesce($"cd" - $"f0", $"dmax" - $"f0").as("t"),
            when($"cd".isNotNull, 1L).otherwise(0L).as("ev"))
        val byT = life.groupBy($"t")
          .agg(count(lit(1)).as("leaving"), sum($"ev").as("d_t"))
        // at-risk n_t = users with lifetime >= t: reverse cumsum over the
        // bounded (<=30-row) lifetime table
        val wRev = Window.orderBy($"t".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val km = byT
          .withColumn("n_t", sum($"leaving").over(wRev))
          .filter($"d_t" > 0)
          .select($"t", $"n_t", $"d_t",
            (($"n_t" - $"d_t").cast("double") / $"n_t".cast("double"))
              .as("factor"))
        val arr = km.agg(expr(
          "transform(array_sort(collect_list(struct(t, factor))), s -> s.factor)")
          .as("fs"))
        km.withColumn("rn", row_number().over(Window.orderBy($"t")))
          .crossJoin(broadcast(arr))
          .select($"t".cast("long").as("t"), $"n_t".cast("long").as("n_risk"),
            $"d_t".cast("long").as("n_events"), $"factor",
            expr("aggregate(slice(fs, 1, rn), CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)")
              .as("survival"))
          .orderBy($"t")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d,
            event_type, value FROM events),
          h AS (SELECT max(d) AS dmax FROM ev),
          f AS (SELECT user_id, min(d) AS f0 FROM ev GROUP BY 1),
          conv AS (SELECT user_id, min(d) AS cd FROM ev
            WHERE event_type = 'purchase' AND value > 150.0 GROUP BY 1),
          life AS (SELECT COALESCE(cd - f0, dmax - f0) AS t,
              CASE WHEN cd IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM f LEFT JOIN conv USING (user_id), h),
          byt AS (SELECT t, count(*) AS leaving, sum(ev) AS d_t
            FROM life GROUP BY 1),
          km AS (SELECT t, n_t, d_t,
              CAST(n_t - d_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS factor
            FROM (SELECT t, d_t, sum(leaving) OVER (ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_t
                  FROM byt) x
            WHERE d_t > 0),
          numbered AS (SELECT t, n_t, d_t, factor,
              row_number() OVER (ORDER BY t) AS rn FROM km),
          arr AS (SELECT list(factor ORDER BY t) AS fs FROM km)
          SELECT CAST(t AS BIGINT) AS t, CAST(n_t AS BIGINT) AS n_risk,
            CAST(d_t AS BIGINT) AS n_events, factor,
            list_reduce(fs[1:rn], (acc, x) -> acc * x) AS survival
          FROM numbered, arr ORDER BY t""")),

    // ---- WELCH two-sample t-test per event type — the A/B experiment
    //      readout. Arms are the deterministic detRand hash split of
    //      user_id (partition-invariant, DuckDB-replayable); the metric is
    //      each user's count of that type's events, zero-filled over the
    //      users × types spine so silent users count. All sufficient
    //      statistics (n, Σx, Σx²) are exact longs from ONE partial+final
    //      aggregate; mean/variance/t/df evaluate in a pinned IEEE
    //      sequence (+,−,×,÷,sqrt are all correctly rounded, so identical
    //      operation order ⇒ identical bits — the q221/q226 contract).
    //      The per-type A/B pivot is conditional aggregation over the
    //      5×2-row stats table. ---------------------------------------------
    Q("q239_ab_welch",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir).select($"user_id", $"event_type")
        val users = ev.select($"user_id").distinct()
          .withColumn("arm",
            when(graft.operators.Sampling.detRand(77L, $"user_id") < 0.5,
              "A").otherwise("B"))
        val types = ev.select($"event_type").distinct()
        val counts = ev.groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("x"))
        val metric = users.crossJoin(broadcast(types))
          .join(counts, Seq("user_id", "event_type"), "left")
          .select($"event_type", $"arm", coalesce($"x", lit(0L)).as("x"))
        val stats = metric.groupBy($"event_type", $"arm")
          .agg(count(lit(1)).as("n"), sum($"x").as("s"),
            sum($"x" * $"x").as("q"))
        stats.groupBy($"event_type")
          .agg(
            max(when($"arm" === "A", $"n")).as("na"),
            max(when($"arm" === "A", $"s")).as("sa"),
            max(when($"arm" === "A", $"q")).as("qa"),
            max(when($"arm" === "B", $"n")).as("nb"),
            max(when($"arm" === "B", $"s")).as("sb"),
            max(when($"arm" === "B", $"q")).as("qb"))
          .selectExpr("event_type",
            "CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
            "CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a",
            "CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b",
            """CAST(na * qa - sa * sa AS DOUBLE)
               / CAST(na * (na - 1) AS DOUBLE) / CAST(na AS DOUBLE) AS sea""",
            """CAST(nb * qb - sb * sb AS DOUBLE)
               / CAST(nb * (nb - 1) AS DOUBLE) / CAST(nb AS DOUBLE) AS seb""")
          .selectExpr("event_type", "n_a", "n_b", "mean_a", "mean_b",
            "(mean_a - mean_b) / sqrt(sea + seb) AS t_stat",
            """((sea + seb) * (sea + seb))
               / (sea * sea / CAST(n_a - 1 AS DOUBLE)
                  + seb * seb / CAST(n_b - 1 AS DOUBLE)) AS df""")
          .selectExpr("event_type", "n_a", "n_b", "mean_a", "mean_b",
            "t_stat", "df",
            "CAST(CASE WHEN abs(t_stat) > 1.96 THEN 1 ELSE 0 END AS INT) AS significant")
          .orderBy($"event_type")
      },
      Some(s"""WITH users AS (SELECT DISTINCT user_id FROM events),
          arms AS (SELECT user_id,
              CASE WHEN ${graft.operators.Sampling.detRandSql(77L, Seq("user_id"))} < 0.5
                THEN 'A' ELSE 'B' END AS arm FROM users),
          types AS (SELECT DISTINCT event_type FROM events),
          c AS (SELECT user_id, event_type, count(*) AS x FROM events
            GROUP BY 1, 2),
          metric AS (SELECT t.event_type, a.arm, COALESCE(c.x, 0) AS x
            FROM arms a CROSS JOIN types t
            LEFT JOIN c ON c.user_id = a.user_id
              AND c.event_type = t.event_type),
          stats AS (SELECT event_type, arm, count(*) AS n, sum(x) AS s,
              sum(x * x) AS q
            FROM metric GROUP BY 1, 2),
          piv AS (SELECT event_type,
              max(CASE WHEN arm = 'A' THEN n END) AS na,
              max(CASE WHEN arm = 'A' THEN s END) AS sa,
              max(CASE WHEN arm = 'A' THEN q END) AS qa,
              max(CASE WHEN arm = 'B' THEN n END) AS nb,
              max(CASE WHEN arm = 'B' THEN s END) AS sb,
              max(CASE WHEN arm = 'B' THEN q END) AS qb
            FROM stats GROUP BY 1),
          se AS (SELECT event_type, na, nb,
              CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
              CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
              CAST(na * qa - sa * sa AS DOUBLE)
                / CAST(na * (na - 1) AS DOUBLE) / CAST(na AS DOUBLE) AS sea,
              CAST(nb * qb - sb * sb AS DOUBLE)
                / CAST(nb * (nb - 1) AS DOUBLE) / CAST(nb AS DOUBLE) AS seb
            FROM piv),
          tt AS (SELECT event_type, na, nb, mean_a, mean_b,
              (mean_a - mean_b) / sqrt(sea + seb) AS t_stat,
              ((sea + seb) * (sea + seb))
                / (sea * sea / CAST(na - 1 AS DOUBLE)
                   + seb * seb / CAST(nb - 1 AS DOUBLE)) AS df
            FROM se)
          SELECT event_type, CAST(na AS BIGINT) AS n_a,
            CAST(nb AS BIGINT) AS n_b, mean_a, mean_b, t_stat, df,
            CAST(CASE WHEN abs(t_stat) > 1.96 THEN 1 ELSE 0 END AS INT)
              AS significant
          FROM tt ORDER BY event_type""")),

    // ---- clickstream PATH MINING: each user-day's first three event
    //      types concatenated into a path, top-20 paths by frequency.
    //      The first-3 cut runs on the heap-based TopKPerKey operator
    //      (O(3) state per user-day — a hot session streams through, never
    //      a full per-key sort); path assembly sorts only the ≤3
    //      survivors. The path table is vocabulary-bounded (≤ |types|³),
    //      and the final cut is a TakeOrdered global top-20. Ordering key
    //      is the same padded (tus, event_id) string as q235 — tie-free,
    //      bit-identical in both engines. ----------------------------------
    Q("q240_session_paths",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"user_id",
            expr("unix_micros(ts) div 86400000000").as("d"),
            orderingKey($"ts", $"event_id").as("ok"),
            $"event_type")
        val first3 = graft.plans.TopK.perKey(ev, Seq("user_id", "d"),
          Seq(graft.plans.TopK.Order("ok")), 3)
        first3.groupBy($"user_id", $"d")
          .agg(expr(
            "concat_ws('>', transform(array_sort(collect_list(struct(ok, event_type))), s -> s.event_type))")
            .as("path"))
          .groupBy($"path")
          .agg(count(lit(1)).as("n_sessions"))
          .select($"path", $"n_sessions".cast("long").as("n_sessions"))
          .orderBy($"n_sessions".desc, $"path")
          .limit(20)
      },
      Some(s"""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d,
            $oracleOrderingKey AS ok, event_type
            FROM events),
          r AS (SELECT user_id, d, ok, event_type,
              row_number() OVER (PARTITION BY user_id, d ORDER BY ok) AS rn
            FROM ev),
          paths AS (SELECT user_id, d,
              string_agg(event_type, '>' ORDER BY ok) AS path
            FROM r WHERE rn <= 3 GROUP BY 1, 2)
          SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
          FROM paths GROUP BY 1
          ORDER BY n_sessions DESC, path LIMIT 20""")),

    // ---- trailing-window CONTROL CHART: flag days whose event volume
    //      deviates more than 3σ from the preceding 7 days — the
    //      monitoring alarm a pipeline runs on its own ingest rates. The
    //      corpus folds immediately to the calendar-bounded zero-filled
    //      (type × 30-day) counts table; the trailing stats are a BOUNDED
    //      SLIDING frame (ROWS 7 PRECEDING..1 PRECEDING) over that table —
    //      never the raw events. The 3σ decision is PURE INTEGER: with
    //      m7 = Σx and q7 = Σx² over the frame, anomaly ⇔
    //      (7a − m7)² > 9·(7·q7 − m7²) — exact longs, no sqrt, no float
    //      compare; only the reported mean is a (single) division. ---------
    Q("q245_volume_control_chart",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"event_type", expr("unix_micros(ts) div 86400000000").as("d"))
        val d0f = ev.agg(min($"d").as("d0"))
        val counts = ev.groupBy($"event_type", $"d").agg(count(lit(1)).as("cnt"))
        val spine = counts.select($"event_type").distinct()
          .crossJoin(broadcast(d0f))
          .select($"event_type", explode(sequence(lit(0), lit(29))).as("off"),
            $"d0")
          .select($"event_type", $"off", ($"d0" + $"off").as("d"))
        val filled = spine.join(counts, Seq("event_type", "d"), "left")
          .select($"event_type", $"off", coalesce($"cnt", lit(0L)).as("a"))
        val w = Window.partitionBy($"event_type").orderBy($"off")
          .rowsBetween(-7, -1)
        filled
          .withColumn("m7", sum($"a").over(w))
          .withColumn("q7", sum($"a" * $"a").over(w))
          .filter($"off" >= 7)
          .select($"event_type", $"off".cast("long").as("day_offset"),
            $"a".cast("long").as("n_events"),
            ($"m7".cast("double") / 7.0).as("mean7"),
            when(($"a" * 7 - $"m7") * ($"a" * 7 - $"m7")
              > ($"q7" * 7 - $"m7" * $"m7") * 9, 1).otherwise(0)
              .cast("int").as("anomaly"))
          .orderBy($"event_type", $"day_offset")
      },
      Some(s"""$dailySpineCtes
          filled AS (SELECT s.event_type, s.off, COALESCE(c.cnt, 0) AS a
            FROM spine s LEFT JOIN c
              ON s.event_type = c.event_type AND s.d = c.d),
          roll AS (SELECT event_type, off, a,
              sum(a) OVER (PARTITION BY event_type ORDER BY off
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS m7,
              sum(a * a) OVER (PARTITION BY event_type ORDER BY off
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS q7
            FROM filled)
          SELECT event_type, CAST(off AS BIGINT) AS day_offset,
            CAST(a AS BIGINT) AS n_events,
            CAST(m7 AS DOUBLE) / 7.0 AS mean7,
            CAST(CASE WHEN (a * 7 - m7) * (a * 7 - m7)
                 > (q7 * 7 - m7 * m7) * 9 THEN 1 ELSE 0 END AS INT) AS anomaly
          FROM roll WHERE off >= 7
          ORDER BY event_type, day_offset""")),

    // ---- EWMA smoothing (α = 1/2) of daily volumes — exponential
    //      smoothing is a SEQUENTIAL recursion (s_t = α·x_t + (1−α)·s_{t−1},
    //      s_0 = x_0), which engines normally can't reproduce bit-for-bit.
    //      Here it runs as the q238 ordered-fold pattern: the calendar-
    //      bounded per-type series collects once, and each day's value is
    //      a LEFT FOLD over the same sorted prefix (Spark `aggregate` with
    //      the first element as init; DuckDB `list_reduce`, whose no-init
    //      form seeds from the first element) — identical operation
    //      sequence ⇒ identical doubles. Event-scale work is ONE (type,
    //      day) count; the folds run over ≤30-element arrays. -------------
    Q("q246_ewma_smoothing",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"event_type", expr("unix_micros(ts) div 86400000000").as("d"))
        val d0f = ev.agg(min($"d").as("d0"))
        val counts = ev.groupBy($"event_type", $"d").agg(count(lit(1)).as("cnt"))
        val spine = counts.select($"event_type").distinct()
          .crossJoin(broadcast(d0f))
          .select($"event_type", explode(sequence(lit(0), lit(29))).as("off"),
            $"d0")
          .select($"event_type", $"off", ($"d0" + $"off").as("d"))
        val filled = spine.join(counts, Seq("event_type", "d"), "left")
          .select($"event_type", $"off",
            coalesce($"cnt", lit(0L)).cast("double").as("a"))
        val arrs = filled.groupBy($"event_type")
          .agg(expr(
            "transform(array_sort(collect_list(struct(off, a))), s -> s.a)")
            .as("fs"))
        filled.join(broadcast(arrs), Seq("event_type"))
          .select($"event_type", $"off".cast("long").as("day_offset"),
            $"a".cast("long").as("n_events"),
            expr("""aggregate(slice(fs, 2, off), CAST(element_at(fs, 1) AS DOUBLE),
                    (acc, x) -> 0.5D * x + 0.5D * acc)""").as("ewma"))
          .orderBy($"event_type", $"day_offset")
      },
      Some(s"""$dailySpineCtes
          filled AS (SELECT s.event_type, s.off,
              CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS a
            FROM spine s LEFT JOIN c
              ON s.event_type = c.event_type AND s.d = c.d),
          arrs AS (SELECT event_type, list(a ORDER BY off) AS fs
            FROM filled GROUP BY 1)
          SELECT f.event_type, CAST(f.off AS BIGINT) AS day_offset,
            CAST(f.a AS BIGINT) AS n_events,
            list_reduce(fs[1:f.off + 1], (acc, x) -> 0.5 * x + 0.5 * acc)
              AS ewma
          FROM filled f JOIN arrs ar ON f.event_type = ar.event_type
          ORDER BY f.event_type, day_offset""")),

    // ---- PEAK CONCURRENCY: the max number of simultaneously open user
    //      sessions per day — the capacity-planning number a serving team
    //      actually provisions against. Sessions are the 30-min-gap islands
    //      (q33's rule); each contributes a +1/−1 boundary pair and
    //      concurrency is the running sum over boundaries ordered by
    //      (t, delta DESC) (starts before ends at the same instant, so a
    //      back-to-back handoff counts both). The running sum is the q149
    //      TWO-PHASE prefix: within-day cumsum partitioned by day + a
    //      carry from the bounded per-day totals table — NEVER one global
    //      unpartitioned window over all boundaries. Cross-midnight
    //      sessions are handled by the carry (their −1 lands the next
    //      day). --------------------------------------------------------
    Q("q247_peak_concurrency",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"user_id", unix_micros($"ts").as("tus"))
        val wU = Window.partitionBy($"user_id").orderBy($"tus")
        val sess = ev
          .withColumn("gap",
            when($"tus" - lag($"tus", 1).over(wU) > 1800000000L, 1L)
              .otherwise(lit(0L)))
          .withColumn("sid", sum($"gap").over(
            wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"sid")
          .agg(min($"tus").as("s"), max($"tus").as("e"))
        val bounds = sess.select(expr("s div 86400000000").as("day"),
            $"s".as("t"), lit(1L).as("delta"))
          .unionByName(sess.select(expr("e div 86400000000").as("day"),
            $"e".as("t"), lit(-1L).as("delta")))
        val wIn = Window.partitionBy($"day").orderBy($"t", $"delta".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inDay = bounds.withColumn("run", sum($"delta").over(wIn))
        val perDay = inDay.groupBy($"day")
          .agg(max($"run").as("max_in_day"), sum($"delta").as("day_total"),
            sum(when($"delta" === 1L, 1L).otherwise(0L)).as("n_starts"))
        // carry = running total of prior days' deltas (bounded ≤30 rows)
        val wDays = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, -1)
        perDay
          .withColumn("carry", coalesce(sum($"day_total").over(wDays), lit(0L)))
          .select($"day".cast("long").as("day"),
            ($"carry" + $"max_in_day").cast("long").as("max_concurrent"),
            $"n_starts".cast("long").as("n_sessions_started"))
          .orderBy($"day")
      },
      Some(s"""$sessionIdCtes
          sess AS (SELECT user_id, sid, min(tus) AS s, max(tus) AS e
            FROM sg GROUP BY 1, 2),
          b AS (SELECT s // 86400000000 AS day, s AS t, 1 AS delta FROM sess
            UNION ALL
            SELECT e // 86400000000 AS day, e AS t, -1 AS delta FROM sess),
          run AS (SELECT day, t, delta,
              sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            FROM b),
          perday AS (SELECT day, max(run) AS max_in_day,
              sum(delta) AS day_total,
              sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_starts
            FROM run GROUP BY 1),
          carried AS (SELECT day, max_in_day, n_starts,
              COALESCE(sum(day_total) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS carry
            FROM perday)
          SELECT CAST(day AS BIGINT) AS day,
            CAST(carry + max_in_day AS BIGINT) AS max_concurrent,
            CAST(n_starts AS BIGINT) AS n_sessions_started
          FROM carried ORDER BY day""")),

    // ---- CUPED variance-reduced experiment readout: the q239 A/B frame
    //      with the pre-period covariate adjustment (Y′ = Y − θ(X − X̄),
    //      θ = cov(X,Y)/var(X)) that modern experimentation platforms use
    //      to shrink metric variance without touching the treatment
    //      effect. X = each user's event count in days 0-14, Y = days
    //      15-29; arms are the deterministic detRand user split. EVERY
    //      statistic derives from exact long sufficient statistics in one
    //      partial+final aggregate — θ is one division of exact longs, the
    //      adjusted means evaluate in a pinned IEEE sequence, and the
    //      variance-reduction ratio uses the closed form
    //      var(Y−θX) = var(Y) − 2θcov + θ²var(X) (the n² denominators
    //      cancel), so NO per-row float ever enters a sum. ----------------
    Q("q248_cuped",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"user_id", expr("unix_micros(ts) div 86400000000").as("d"))
        val d0f = ev.agg(min($"d").as("d0"))
        val xy = ev.crossJoin(broadcast(d0f))
          .groupBy($"user_id")
          .agg(sum(when($"d" - $"d0" < 15, 1L).otherwise(0L)).as("x"),
            sum(when($"d" - $"d0" >= 15, 1L).otherwise(0L)).as("y"))
          .withColumn("arm",
            when(graft.operators.Sampling.detRand(78L, $"user_id") < 0.5,
              "A").otherwise("B"))
        val pooled = xy.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
          sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
          sum($"x" * $"y").as("sxy"), sum($"y" * $"y").as("syy"))
        xy.groupBy($"arm")
          .agg(count(lit(1)).as("na"), sum($"x").as("sxa"),
            sum($"y").as("sya"))
          .crossJoin(broadcast(pooled))
          .selectExpr("arm", "CAST(na AS BIGINT) AS n",
            "CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_x",
            "CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mean_y",
            "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS theta",
            "CAST(n * syy - sy * sy AS DOUBLE) AS vy",
            "CAST(n * sxy - sx * sy AS DOUBLE) AS cxy",
            "CAST(n * sxx - sx * sx AS DOUBLE) AS vx",
            "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x_pool")
          .selectExpr("arm", "n", "mean_x", "mean_y", "theta",
            "mean_y - theta * (mean_x - mean_x_pool) AS adj_mean",
            "(vy - 2 * theta * cxy + theta * theta * vx) / vy AS var_ratio")
          .orderBy($"arm")
      },
      Some(s"""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
            FROM events),
          d0 AS (SELECT min(d) AS d0 FROM ev),
          xy AS (SELECT user_id,
              sum(CASE WHEN d - d0.d0 < 15 THEN 1 ELSE 0 END) AS x,
              sum(CASE WHEN d - d0.d0 >= 15 THEN 1 ELSE 0 END) AS y
            FROM ev, d0 GROUP BY user_id, d0.d0),
          armed AS (SELECT user_id, x, y,
              CASE WHEN ${graft.operators.Sampling.detRandSql(78L, Seq("user_id"))} < 0.5
                THEN 'A' ELSE 'B' END AS arm FROM xy),
          pooled AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
            FROM armed),
          pa AS (SELECT arm, count(*) AS na, sum(x) AS sxa, sum(y) AS sya
            FROM armed GROUP BY 1),
          m AS (SELECT arm, na,
              CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_x,
              CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mean_y,
              CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
              CAST(n * syy - sy * sy AS DOUBLE) AS vy,
              CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
              CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
              CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x_pool
            FROM pa, pooled)
          SELECT arm, CAST(na AS BIGINT) AS n, mean_x, mean_y, theta,
            mean_y - theta * (mean_x - mean_x_pool) AS adj_mean,
            (vy - 2 * theta * cxy + theta * theta * vx) / vy AS var_ratio
          FROM m ORDER BY arm""")),

    // ---- three-step WINDOWED funnel: signup → view within 7 days →
    //      purchase within 7 more days, per user — the product-analytics
    //      staple that q95's single as-of join doesn't cover (each step's
    //      window anchors on the PREVIOUS step's completion time, so the
    //      steps chain). Three event-scale aggregates/joins, ALL keyed on
    //      user_id — co-partitioned, one logical shuffle key end to end.
    //      Output is the 3-row funnel with exact counts and one division
    //      per conversion rate. ---------------------------------------------
    Q("q249_funnel_steps",
      (s, dir) => {
        import s.implicits._
        val W = 7L * 86400000000L
        val ev = events(s, dir)
          .select($"user_id", $"event_type", unix_micros($"ts").as("tus"))
        val s1 = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"tus").as("t1"))
        val s2 = ev.filter($"event_type" === "view")
          .join(s1, Seq("user_id"))
          .filter($"tus" >= $"t1" && $"tus" < $"t1" + W)
          .groupBy($"user_id").agg(min($"tus").as("t2"))
        val s3 = ev.filter($"event_type" === "purchase")
          .join(s2, Seq("user_id"))
          .filter($"tus" >= $"t2" && $"tus" < $"t2" + W)
          .groupBy($"user_id").agg(min($"tus").as("t3"))
        val counts = s1.agg(count(lit(1)).as("n1"))
          .crossJoin(s2.agg(count(lit(1)).as("n2")))
          .crossJoin(s3.agg(count(lit(1)).as("n3")))
        counts.selectExpr(
          "stack(3, 1, 'signup', n1, CAST(NULL AS BIGINT)," +
            " 2, 'view_7d', n2, n1," +
            " 3, 'purchase_14d', n3, n2) AS (step, stage, n_users, n_prev)")
          .selectExpr("CAST(step AS INT) AS step", "stage",
            "CAST(n_users AS BIGINT) AS n_users",
            "CAST(n_users AS DOUBLE) / CAST(n_prev AS DOUBLE) AS conv_rate")
          .orderBy($"step")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus
            FROM events),
          s1 AS (SELECT user_id, min(tus) AS t1 FROM ev
            WHERE event_type = 'signup' GROUP BY 1),
          s2 AS (SELECT e.user_id, min(e.tus) AS t2 FROM ev e
            JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'view' AND e.tus >= s1.t1
              AND e.tus < s1.t1 + 604800000000 GROUP BY 1),
          s3 AS (SELECT e.user_id, min(e.tus) AS t3 FROM ev e
            JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.tus >= s2.t2
              AND e.tus < s2.t2 + 604800000000 GROUP BY 1),
          c AS (SELECT (SELECT count(*) FROM s1) AS n1,
              (SELECT count(*) FROM s2) AS n2,
              (SELECT count(*) FROM s3) AS n3)
          SELECT step, stage, CAST(n_users AS BIGINT) AS n_users,
            CAST(n_users AS DOUBLE) / CAST(n_prev AS DOUBLE) AS conv_rate
          FROM (
            SELECT 1 AS step, 'signup' AS stage, n1 AS n_users,
              CAST(NULL AS BIGINT) AS n_prev FROM c
            UNION ALL SELECT 2, 'view_7d', n2, n1 FROM c
            UNION ALL SELECT 3, 'purchase_14d', n3, n2 FROM c)
          ORDER BY step""")),

    // ---- rolling ACTIVE USERS (DAU / trailing-7-day WAU / stickiness):
    //      the growth dashboard's daily line. Exact rolling DISTINCT
    //      cannot ride a sliding sum (distinct doesn't decompose), so the
    //      (user, day) distinct pairs fan out ×7 to every trailing window
    //      they belong to — a BOUNDED expansion (window length), then one
    //      distinct count per (window day). Both shuffles key on
    //      user-day/window-day; nothing is corpus² and the fan-out knob is
    //      the window length. Early days carry partial (shorter) windows —
    //      the standard dashboard convention. stickiness = dau/wau in one
    //      division. -------------------------------------------------------
    Q("q250_rolling_active_users",
      (s, dir) => {
        import s.implicits._
        val ud = events(s, dir)
          .select($"user_id", expr("unix_micros(ts) div 86400000000").as("d"))
          .distinct()
        val d0f = ud.agg(min($"d").as("d0"), max($"d").as("dmax"))
        val fan = ud.select($"user_id", $"d",
            explode(sequence(lit(0), lit(6))).as("k"))
          .select($"user_id", ($"d" + $"k").as("wd"))
          .crossJoin(broadcast(d0f))
          .filter($"wd" <= $"dmax")
          .select($"user_id", $"wd")
          .distinct()
        val wau = fan.groupBy($"wd").agg(count(lit(1)).as("wau"))
        val dau = ud.groupBy($"d").agg(count(lit(1)).as("dau"))
        dau.join(wau, $"d" === $"wd")
          .select($"d".cast("long").as("day"),
            $"dau".cast("long").as("dau"), $"wau".cast("long").as("wau"),
            ($"dau".cast("double") / $"wau".cast("double")).as("stickiness"))
          .orderBy($"day")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id,
              epoch_us(ts) // 86400000000 AS d FROM events),
          lim AS (SELECT max(d) AS dmax FROM ud),
          fan AS (SELECT DISTINCT user_id, ud.d + r.range AS wd
            FROM ud, range(0, 7) r, lim WHERE ud.d + r.range <= lim.dmax),
          wau AS (SELECT wd, count(*) AS wau FROM fan GROUP BY 1),
          dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1)
          SELECT CAST(d AS BIGINT) AS day, CAST(dau AS BIGINT) AS dau,
            CAST(wau AS BIGINT) AS wau,
            CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
          FROM dau JOIN wau ON d = wd ORDER BY day""")),

    // ---- CUSUM changepoint detection on daily volumes — the sequential
    //      control statistic C_t = max(0, C_{t−1} + (15·x_t − S15))
    //      (residuals against the 15-day training mean, scaled ×15 so
    //      everything stays an EXACT LONG — no float ever). The recursion
    //      runs as the q238/q246 ordered prefix fold; the alarm threshold
    //      h = 3·max training |residual| is itself an exact long, so the
    //      entire detector — fold, threshold, alarm — is pure integer
    //      arithmetic and engine-independent BY CONSTRUCTION, not merely
    //      by pinned IEEE order. Corpus work: one (type, day) count. ------
    Q("q251_cusum_changepoint",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"event_type", expr("unix_micros(ts) div 86400000000").as("d"))
        val d0f = ev.agg(min($"d").as("d0"))
        val counts = ev.groupBy($"event_type", $"d").agg(count(lit(1)).as("cnt"))
        val spine = counts.select($"event_type").distinct()
          .crossJoin(broadcast(d0f))
          .select($"event_type", explode(sequence(lit(0), lit(29))).as("off"),
            $"d0")
          .select($"event_type", $"off", ($"d0" + $"off").as("d"))
        val filled = spine.join(counts, Seq("event_type", "d"), "left")
          .select($"event_type", $"off", coalesce($"cnt", lit(0L)).as("a"))
        val withR = filled.join(broadcast(
            filled.filter($"off" < 15).groupBy($"event_type")
              .agg(sum($"a").as("s15"))), Seq("event_type"))
          .select($"event_type", $"off", $"a", ($"a" * 15 - $"s15").as("r"))
        val h = withR.filter($"off" < 15).groupBy($"event_type")
          .agg((max(abs($"r")) * 3).as("h"))
        val arrs = withR.groupBy($"event_type")
          .agg(expr(
            "transform(array_sort(collect_list(struct(off, r))), x -> x.r)")
            .as("rs"))
        withR.join(broadcast(arrs), Seq("event_type"))
          .join(broadcast(h), Seq("event_type"))
          .select($"event_type", $"off".cast("long").as("day_offset"),
            $"a".cast("long").as("n_events"),
            expr("aggregate(slice(rs, 1, off + 1), CAST(0 AS BIGINT)," +
              " (acc, x) -> greatest(acc + x, CAST(0 AS BIGINT)))").as("c_t"),
            $"h".cast("long").as("h"))
          .withColumn("alarm",
            when($"c_t" > $"h", 1).otherwise(0).cast("int"))
          .orderBy($"event_type", $"day_offset")
      },
      Some(s"""$dailySpineCtes
          filled AS (SELECT s.event_type, s.off, COALESCE(c.cnt, 0) AS a
            FROM spine s LEFT JOIN c
              ON s.event_type = c.event_type AND s.d = c.d),
          s15 AS (SELECT event_type, sum(a) AS s15 FROM filled
            WHERE off < 15 GROUP BY 1),
          wr AS (SELECT f.event_type, f.off, f.a, f.a * 15 - s.s15 AS r
            FROM filled f JOIN s15 s ON f.event_type = s.event_type),
          h AS (SELECT event_type, max(abs(r)) * 3 AS h FROM wr
            WHERE off < 15 GROUP BY 1),
          arrs AS (SELECT event_type, list(r ORDER BY off) AS rs
            FROM wr GROUP BY 1)
          SELECT w.event_type, CAST(w.off AS BIGINT) AS day_offset,
            CAST(w.a AS BIGINT) AS n_events,
            CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), rs[1:w.off + 1]),
              (acc, x) -> greatest(acc + x, 0)) AS BIGINT) AS c_t,
            CAST(hh.h AS BIGINT) AS h,
            CAST(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                rs[1:w.off + 1]), (acc, x) -> greatest(acc + x, 0)) > hh.h
              THEN 1 ELSE 0 END AS INT) AS alarm
          FROM wr w JOIN arrs ar ON w.event_type = ar.event_type
          JOIN h hh ON w.event_type = hh.event_type
          ORDER BY w.event_type, day_offset""")),

    // ---- session QUALITY KPIs per day: bounce rate (single-event
    //      sessions / sessions started) and duration stats — the
    //      engagement companions to q247's concurrency. Same 30-min-gap
    //      session derivation (one user_id-keyed shuffle); sessions fold
    //      to one row each, then a calendar-keyed aggregate. Durations
    //      are exact microsecond longs; the rate and mean are single
    //      divisions. A bounce is n_events = 1 (duration 0 by
    //      construction); sessions key to their START day. ------------------
    Q("q252_session_quality",
      (s, dir) => {
        import s.implicits._
        val ev = events(s, dir)
          .select($"user_id", unix_micros($"ts").as("tus"))
        val wU = Window.partitionBy($"user_id").orderBy($"tus")
        val sess = ev
          .withColumn("gap",
            when($"tus" - lag($"tus", 1).over(wU) > 1800000000L, 1L)
              .otherwise(lit(0L)))
          .withColumn("sid", sum($"gap").over(
            wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"sid")
          .agg(min($"tus").as("st"), max($"tus").as("en"),
            count(lit(1)).as("ne"))
        sess.groupBy(expr("st div 86400000000").as("day"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when($"ne" === 1L, 1L).otherwise(0L)).as("n_bounce"),
            sum($"en" - $"st").as("dur_sum"),
            max($"en" - $"st").as("dur_max"))
          .select($"day".cast("long").as("day"),
            $"n_sessions".cast("long").as("n_sessions"),
            $"n_bounce".cast("long").as("n_bounce"),
            ($"n_bounce".cast("double") / $"n_sessions".cast("double"))
              .as("bounce_rate"),
            ($"dur_sum".cast("double") / $"n_sessions".cast("double")
              / 1000000.0).as("mean_dur_s"),
            ($"dur_max".cast("double") / 1000000.0).as("max_dur_s"))
          .orderBy($"day")
      },
      Some(s"""$sessionIdCtes
          sess AS (SELECT user_id, sid, min(tus) AS st, max(tus) AS en,
              count(*) AS ne
            FROM sg GROUP BY 1, 2)
          SELECT CAST(st // 86400000000 AS BIGINT) AS day,
            CAST(count(*) AS BIGINT) AS n_sessions,
            CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_bounce,
            CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) AS bounce_rate,
            CAST(sum(en - st) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              / 1000000.0 AS mean_dur_s,
            CAST(max(en - st) AS DOUBLE) / 1000000.0 AS max_dur_s
          FROM sess GROUP BY 1 ORDER BY day""")),

    // ---- BRADLEY–TERRY rating aggregation (r14 — the preference-data
    //      operator an RLHF/eval pipeline runs over pairwise model
    //      comparisons): events derive deterministic (model_i vs
    //      model_j, winner) comparisons; ratings come from 5 rounds of
    //      the classic MM update p_i ← w_i / Σ_j n_ij/(p_i+p_j),
    //      normalized per round. SCALE SHAPE: the corpus is touched
    //      exactly twice (wins, directed pair counts — both vocab-sized
    //      ≤ 8 and ≤ 56 rows after one shuffle each); every MM round
    //      runs on those tiny frames via broadcast joins, the q93/q285
    //      "driver-bounded rounds, executor-sized state" pattern.
    //      DETERMINISM: the q285 recipe — every cross-row sum is over
    //      values pre-rounded to an exact integer grid (1e9) and summed
    //      as BIGINT, so partial-aggregation order can't move a bit;
    //      the per-round normalization divides two exact BIGINTs. The
    //      oracle replays all 5 unrolled rounds in SQL. --------------------
    Q("q304_bradley_terry",
      (s, dir) => {
        import s.implicits._
        val cmp = events(s, dir).select(
          ($"user_id" % 8).as("i"),
          expr("(user_id % 8 + 1 + (user_id div 8) % 7) % 8").as("j"),
          when(($"event_id" + ($"user_id" % 8) * 3 +
            expr("(user_id % 8 + 1 + (user_id div 8) % 7) % 8")) % 5 < 3, 0L)
            .otherwise(1L).as("winslot"))
        // ONE distributed pass folds the corpus to (winner-slot, i, j)
        // counts; everything after is METADATA-SIZED by construction —
        // 8 models, ≤ 56 directed pairs, independent of corpus scale —
        // so the 5 MM rounds run driver-side in exact Long arithmetic
        // (the footer-walk/knob-bounded-fold class of collect, not a
        // data collect; a DataFrame-step formulation was measured at
        // 12-147 s of pure plan/action overhead for the same 8 rows).
        val agg = cmp.groupBy($"i", $"j", $"winslot")
          .agg(count(lit(1)).as("n")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val wins = new Array[Long](8)
        val nDir = Array.ofDim[Long](8, 8) // directed match counts
        agg.foreach { case (i, j, slot, n) =>
          wins((if (slot == 0L) i else j).toInt) += n
          nDir(i.toInt)(j.toInt) += n
          nDir(j.toInt)(i.toInt) += n
        }
        var p = Array.fill(8)(0.125)
        var pq = new Array[Long](8)
        for (_ <- 0 until 5) {
          val praw = Array.tabulate(8) { i =>
            var denom = 0L // exact: per-pair terms on the 1e9 grid
            var j = 0
            while (j < 8) {
              if (nDir(i)(j) > 0)
                denom += math.round(1e9 * nDir(i)(j) / (p(i) + p(j)))
              j += 1
            }
            if (denom > 0) wins(i).toDouble * 1e9 / denom.toDouble * 1e9
            else 0.0
          }
          pq = praw.map(math.round)
          val sTot = pq.sum
          p = pq.map(_.toDouble / sTot.toDouble)
        }
        val ranks = (0 until 8).sortBy(m => (-pq(m), m))
          .zipWithIndex.map { case (m, r) => m -> (r + 1).toLong }.toMap
        s.createDataset((0 until 8).map { m =>
          (m.toLong, wins(m), nDir(m).sum, pq(m), p(m), ranks(m))
        }).toDF("model", "wins", "n_matches", "rating_e9", "rating", "rank")
          .orderBy($"model")
      },
      Some {
        def stepSql(prev: String, t: String, q: String, nxt: String) =
          s"""$t AS (SELECT pd.i AS model,
                sum(CAST(round(1000000000.0 * pd.n / (pi.p + pj.p)) AS BIGINT)) AS denom
              FROM pd JOIN $prev pi ON pi.model = pd.i
                      JOIN $prev pj ON pj.model = pd.j
              GROUP BY pd.i),
            $q AS (SELECT w.model, w.wins,
                CASE WHEN coalesce(t.denom, 0) > 0 THEN
                  CAST(round(CAST(w.wins AS DOUBLE) * 1000000000.0
                    / CAST(t.denom AS DOUBLE) * 1000000000.0) AS BIGINT)
                ELSE 0 END AS pq
              FROM wins w LEFT JOIN $t t USING (model)),
            $nxt AS (SELECT model,
                CAST(pq AS DOUBLE) /
                  CAST((SELECT sum(pq) FROM $q) AS DOUBLE) AS p
              FROM $q)"""
        s"""WITH cmp AS (
            SELECT user_id % 8 AS i,
              (user_id % 8 + 1 + (user_id // 8) % 7) % 8 AS j,
              CASE WHEN (event_id + (user_id % 8) * 3 +
                (user_id % 8 + 1 + (user_id // 8) % 7) % 8) % 5 < 3
                THEN 0 ELSE 1 END AS winslot
            FROM events),
          models AS (SELECT CAST(m.m AS BIGINT) AS model
            FROM UNNEST(range(0, 8)) AS m(m)),
          wins AS (SELECT m.model, CAST(coalesce(w.w, 0) AS BIGINT) AS wins
            FROM models m LEFT JOIN (
              SELECT CASE WHEN winslot = 0 THEN i ELSE j END AS model,
                count(*) AS w
              FROM cmp GROUP BY 1) w USING (model)),
          pd AS (SELECT i, j, count(*) AS n FROM (
              SELECT i, j FROM cmp UNION ALL SELECT j AS i, i AS j FROM cmp)
            GROUP BY i, j),
          r0 AS (SELECT model, 0.125 AS p FROM models),
          ${stepSql("r0", "t1", "q1", "r1")},
          ${stepSql("r1", "t2", "q2", "r2")},
          ${stepSql("r2", "t3", "q3", "r3")},
          ${stepSql("r3", "t4", "q4", "r4")},
          ${stepSql("r4", "t5", "q5", "r5")},
          nm AS (SELECT i AS model, sum(n) AS n_matches FROM pd GROUP BY i)
          SELECT w.model, w.wins,
            CAST(coalesce(nm.n_matches, 0) AS BIGINT) AS n_matches,
            q5.pq AS rating_e9, r5.p AS rating,
            CAST(row_number() OVER (ORDER BY q5.pq DESC, w.model) AS BIGINT)
              AS rank
          FROM wins w
          LEFT JOIN nm USING (model)
          JOIN q5 USING (model)
          JOIN r5 USING (model)
          ORDER BY w.model"""
      })
  )
}
