package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import Num.dec2

/** Relational operator inventory (SURVEY.md §2 B/C/D/E/G/H/I) expressed over
  * the driver-generated TPC-H-ish tables so the DuckDB oracle can verify each
  * operator family end-to-end.
  *
  * Design rules (scale-first):
  *   - declarative DataFrame plans only — Catalyst does pushdown/pruning;
  *   - money aggregates in decimal (exact, order-independent — see [[Num.dec2]]);
  *   - every query ends in a total ORDER BY so results are deterministic;
  *   - small dimensions joined with `broadcast(...)` hints.
  */
object RelationalQueries extends Registry {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** The (x, y) bounds of `d` and both axes scaled to an 8-bit grid
    * (q259, q291, q296). */
  private val grid8Ctes = """mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
              min(y) AS ymin, max(y) AS ymax FROM d),
          n AS (SELECT x, y,
              ((x - xmin) * 256) // (xmax - xmin + 1) AS x8,
              ((y - ymin) * 256) // (ymax - ymin + 1) AS y8
            FROM d, mm),"""

  /** [[grid8Ctes]] and the Hilbert index stage `h` over that grid (q291,
    * q296). */
  private def hilbertGridCtes(h: String): String =
    s"""$grid8Ctes
          hz AS ($h),"""

  /** Per-bucket x/y bounds `st` of the bucketed points `pts` (x, y,
    * `bucket`), the central-quarter window `w` over [[grid8Ctes]]' bounds,
    * and the files and rows a pruning reader of that window touches
    * (q259, q296). */
  private def skipReport(pts: String, bucket: String): String =
    s"""st AS (SELECT $bucket, min(x) AS fxmin, max(x) AS fxmax,
            min(y) AS fymin, max(y) AS fymax, count(*) AS nrows
          FROM $pts GROUP BY $bucket),
        w AS (SELECT
            xmin + (xmax - xmin + 1) * 3 // 8 AS xa,
            xmin + (xmax - xmin + 1) * 5 // 8 - 1 AS xb,
            ymin + (ymax - ymin + 1) * 3 // 8 AS ya,
            ymin + (ymax - ymin + 1) * 5 // 8 - 1 AS yb
          FROM mm)
        SELECT w.xa, w.xb, w.ya, w.yb,
          (SELECT count(*) FROM st) AS n_files,
          (SELECT count(*) FROM st) AS n_rowgroups,
          (SELECT count(*) FROM st
            WHERE fxmin <= w.xb AND fxmax >= w.xa
              AND fymin <= w.yb AND fymax >= w.ya) AS files_read,
          (SELECT count(*) FROM st) - (SELECT count(*) FROM st
            WHERE fxmin <= w.xb AND fxmax >= w.xa
              AND fymin <= w.yb AND fymax >= w.ya) AS files_pruned,
          (SELECT CAST(COALESCE(sum(nrows), 0) AS BIGINT) FROM st
            WHERE fxmin <= w.xb AND fxmax >= w.xa
              AND fymin <= w.yb AND fymax >= w.ya) AS rows_scanned,
          (SELECT count(*) FROM $pts
            WHERE x BETWEEN w.xa AND w.xb AND y BETWEEN w.ya AND w.yb) AS rows_selected
        FROM w"""

  override def entries: Seq[Q] = Seq(

    // ---- D4 grouped aggregates (ref: eval/eval_dataset.py:399-447) -------
    // Money math is exact decimal internally; FINAL columns are cast to
    // double on BOTH sides — the driver stringifies values, and a decimal
    // read from Spark parquet keeps trailing zeros ("318117.40") while the
    // DuckDB oracle's decimals surface as float64 ("318117.4"), so any
    // decimal output column hash-mismatches whenever a value ends in a zero
    // digit. Sums here stay < 2^53 units, so decimal→double is exact and
    // identical on both engines.
    Q("q01_pricing_summary",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum(dec2($"l_quantity")).cast("long").as("sum_qty"),
            sum(dec2($"l_extendedprice")).cast("double").as("sum_base_price"),
            sum(dec2($"l_extendedprice") * (lit(1).cast("decimal(19,2)") - dec2($"l_discount"))).cast("double").as("sum_disc_price"),
            (sum(dec2($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(19,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- B1/B2 projection + predicate (ref: InstanceDataHandler.py:211-217,439) ----
    Q("q02_filter_project",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_quantity" > 45 && $"l_returnflag" === "R")
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- C1 equi-join + grouped agg (ref: eval/eval_dataset.py:336-341) ----
    Q("q03_join_segment_revenue",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(sum(dec2($"o_totalprice")).cast("double").as("total_revenue"),
               count(lit(1)).as("n_orders"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- C3 semi-join membership (ref: eval/eval_utils.py:257-307) -------
    Q("q04_semi_join_active",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_semi")
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n_active_customers"))
          .orderBy($"c_nationkey")
      },
      Some("""SELECT c_nationkey, COUNT(*) AS n_active_customers
        FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ---- C2 anti-join (FP/FN difference; ref: eval/eval_dataset.py:336-341) ----
    Q("q05_anti_join_inactive",
      (s, dir) => {
        import s.implicits._
        val bigOrders = t(s, dir, "orders").filter($"o_totalprice" > 300000)
        t(s, dir, "customer")
          .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name", $"c_nationkey")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey
        FROM customer WHERE NOT EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        ORDER BY c_custkey""")),

    // ---- C4 bidirectional score fusion, full-outer + coalesce arithmetic
    //      (ref: ask_StableMatcher.py:142-198 save_avg_logits) --------------
    Q("q06_score_fusion",
      (s, dir) => {
        import s.implicits._
        val fwd = t(s, dir, "customer").groupBy($"c_nationkey".as("nationkey"))
          .agg(sum(dec2($"c_acctbal")).as("fwd_score"))
        val bwd = t(s, dir, "supplier").groupBy($"s_nationkey".as("nationkey"))
          .agg(sum(dec2($"s_acctbal")).as("bwd_score"))
        val z = lit(0).cast("decimal(28,2)")
        fwd.join(bwd, Seq("nationkey"), "full_outer")
          .select($"nationkey",
            coalesce($"fwd_score", z).cast("double").as("fwd_score"),
            coalesce($"bwd_score", z).cast("double").as("bwd_score"),
            (coalesce($"fwd_score", z) + coalesce($"bwd_score", z)).cast("double").as("combined"))
          .filter($"combined" =!= 0)
          .orderBy($"nationkey")
      },
      Some("""WITH f AS (SELECT c_nationkey AS nationkey,
                SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS fwd_score FROM customer GROUP BY 1),
             b AS (SELECT s_nationkey AS nationkey,
                SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS bwd_score FROM supplier GROUP BY 1)
        SELECT nationkey,
               CAST(COALESCE(fwd_score, 0) AS DOUBLE) AS fwd_score,
               CAST(COALESCE(bwd_score, 0) AS DOUBLE) AS bwd_score,
               CAST(COALESCE(fwd_score, 0) + COALESCE(bwd_score, 0) AS DOUBLE) AS combined
        FROM f FULL OUTER JOIN b USING (nationkey)
        WHERE COALESCE(fwd_score, 0) + COALESCE(bwd_score, 0) <> 0
        ORDER BY nationkey""")),

    // ---- C7 multi-way join through the star schema (ref: DatabaseManager.py:202-238
    //      executes arbitrary LLM-generated join SQL) ----------------------
    Q("q07_region_revenue",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val o  = t(s, dir, "orders").filter(year($"o_orderdate") === 1995)
        val c  = t(s, dir, "customer")
        val n  = broadcast(t(s, dir, "nation"))
        val r  = broadcast(t(s, dir, "region"))
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(n, $"c_nationkey" === $"n_nationkey")
          .join(r, $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name")
          .agg(sum(dec2($"l_extendedprice") * (lit(1).cast("decimal(19,2)") - dec2($"l_discount"))).cast("double").as("revenue"),
               count(lit(1)).as("n_lineitems"))
          .orderBy($"r_name")
      },
      Some("""SELECT r_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(19,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE EXTRACT(year FROM o_orderdate) = 1995
        GROUP BY r_name ORDER BY r_name""")),

    // ---- E1/E2 ranking + top-k cut (ref: ask_StableMatcher.py:196-198,
    //      eval_MatchMaker.py:227-244) -------------------------------------
    Q("q08_topk_suppliers",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"s_nationkey").orderBy($"s_acctbal".desc, $"s_suppkey")
        t(s, dir, "supplier")
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 3)
          .select($"s_nationkey", $"s_suppkey", $"s_acctbal", $"rnk")
          .orderBy($"s_nationkey", $"rnk")
      },
      Some("""SELECT s_nationkey, s_suppkey, s_acctbal, CAST(rnk AS INT) AS rnk FROM (
          SELECT s_nationkey, s_suppkey, s_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rnk
          FROM supplier) WHERE rnk <= 3
        ORDER BY s_nationkey, rnk""")),

    // ---- D1/D2 value frequency (ref: InstanceDataHandler.py:503-506,
    //      PromptBuilder.py:81-87) -----------------------------------------
    Q("q09_value_counts",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt FROM orders
        GROUP BY o_orderpriority ORDER BY cnt DESC, o_orderpriority""")),

    // ---- D3 distinct values (ref: InstanceDataHandler.py:483) ------------
    Q("q10_distinct_segments",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").select($"c_mktsegment").distinct().orderBy($"c_mktsegment")
      },
      Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment")),

    // ---- D6/E4 majority vote keeping ties at group max
    //      (ref: eval/eval_ensemble.py:70-88) ------------------------------
    Q("q11_majority_segment",
      (s, dir) => {
        import s.implicits._
        val cnt = t(s, dir, "customer")
          .groupBy($"c_nationkey", $"c_mktsegment")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"c_nationkey")
        cnt.withColumn("mx", max($"n").over(w))
          .filter($"n" === $"mx")
          .select($"c_nationkey", $"c_mktsegment", $"n")
          .orderBy($"c_nationkey", $"c_mktsegment")
      },
      Some("""SELECT c_nationkey, c_mktsegment, n FROM (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                 MAX(COUNT(*)) OVER (PARTITION BY c_nationkey) AS mx
          FROM customer GROUP BY c_nationkey, c_mktsegment)
        WHERE n = mx ORDER BY c_nationkey, c_mktsegment""")),

    // ---- H4/H2 INTERSECT distinct semantics (ref: Evaluator.py:126-130) ----
    Q("q12_setop_intersect",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        o.filter(year($"o_orderdate") === 1995).select($"o_custkey")
          .intersect(o.filter(year($"o_orderdate") === 1996).select($"o_custkey"))
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
        INTERSECT
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        ORDER BY o_custkey""")),

    // ---- H4 EXCEPT distinct semantics (ref: Evaluator.py:126-130) --------
    Q("q13_setop_except",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        o.filter(year($"o_orderdate") === 1995).select($"o_custkey")
          .except(o.filter(year($"o_orderdate") === 1996).select($"o_custkey"))
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
        EXCEPT
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        ORDER BY o_custkey""")),

    // ---- H1 distinct union (ref: eval_ensemble.py:20-28) -----------------
    Q("q14_setop_union",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        o.filter(year($"o_orderdate") === 1995).select($"o_custkey")
          .union(o.filter(year($"o_orderdate") === 1996).select($"o_custkey"))
          .distinct()
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
        UNION
        SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
        ORDER BY o_custkey""")),

    // ---- D9 uniqueness-violation audit (ref: DatabaseManager.py:195-198) ----
    Q("q15_uniqueness_audit",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_partkey", $"l_suppkey")
          .agg(count(lit(1)).as("n"))
          .filter($"n" > 1)
          .agg(count(lit(1)).as("n_violating_keys"),
               coalesce(sum($"n" - 1), lit(0)).cast("long").as("n_extra_rows"))
      },
      Some("""SELECT COUNT(*) AS n_violating_keys,
        CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_extra_rows
        FROM (SELECT l_partkey, l_suppkey, COUNT(*) AS n FROM lineitem
              GROUP BY l_partkey, l_suppkey HAVING COUNT(*) > 1)""")),

    // ---- D10 constraint audit counters (ref: DatabaseManager.py:163-200) ----
    Q("q16_constraint_audit",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").agg(
          sum(when($"c_acctbal".isNull, 1).otherwise(0)).cast("long").as("null_acctbal"),
          sum(when($"c_name".isNull || length($"c_name") === 0, 1).otherwise(0)).cast("long").as("empty_name"),
          sum(when($"c_acctbal" < 0, 1).otherwise(0)).cast("long").as("negative_acctbal"),
          sum(when(length($"c_name") > 25, 1).otherwise(0)).cast("long").as("oversize_name"),
          count(lit(1)).as("n_rows"))
      },
      Some("""SELECT
        CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_acctbal,
        CAST(SUM(CASE WHEN c_name IS NULL OR length(c_name) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_name,
        CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_acctbal,
        CAST(SUM(CASE WHEN length(c_name) > 25 THEN 1 ELSE 0 END) AS BIGINT) AS oversize_name,
        COUNT(*) AS n_rows
        FROM customer""")),

    // ---- D13/D14 confusion counts + P/R/F1/accuracy2/effort incl. the
    //      all-zero⇒perfect rule (ref: eval/eval_utils.py:477-502,
    //      AnalysisUtils/AnaylsisUtils.py:9-28) ----------------------------
    Q("q17_alignment_metrics",
      (s, dir) => {
        import s.implicits._
        val flags = t(s, dir, "part").select($"p_brand",
          ($"p_retailprice" > 950).as("gold"),
          ($"p_size" >= 25).as("pred"))
        val c = flags.groupBy($"p_brand").agg(
          sum(when($"gold" && $"pred", 1).otherwise(0)).cast("double").as("tp"),
          sum(when(!$"gold" && $"pred", 1).otherwise(0)).cast("double").as("fp"),
          sum(when($"gold" && !$"pred", 1).otherwise(0)).cast("double").as("fn"),
          sum(when(!$"gold" && !$"pred", 1).otherwise(0)).cast("double").as("tn"))
        graft.eval.Metrics.withPrfAccuracyEffort(c).orderBy($"p_brand")
      },
      Some("""SELECT p_brand, tp, fp, fn, tn,
        CASE WHEN tp = 0 AND fp = 0 AND fn = 0 THEN 1.0
             WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END AS precision,
        CASE WHEN tp = 0 AND fp = 0 AND fn = 0 THEN 1.0
             WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END AS recall,
        CASE WHEN tp = 0 AND fp = 0 AND fn = 0 THEN 1.0
             WHEN (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)
                + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END) = 0 THEN 0.0
             ELSE 2 * (CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)
                    * (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END)
                  / ((CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END)
                   + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END)) END AS f1,
        CASE WHEN tp + tn + fp + fn = 0 THEN 0.0
             ELSE (tp + tn) / (tp + tn + fp + fn) END AS accuracy2,
        CASE WHEN tp + fn = 0 THEN 0.0
             ELSE (3 * fn + fp) / (tp + fn) END AS effort
        FROM (SELECT p_brand,
          CAST(SUM(CASE WHEN p_retailprice > 950 AND p_size >= 25 THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
          CAST(SUM(CASE WHEN NOT (p_retailprice > 950) AND p_size >= 25 THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
          CAST(SUM(CASE WHEN p_retailprice > 950 AND NOT (p_size >= 25) THEN 1 ELSE 0 END) AS DOUBLE) AS fn,
          CAST(SUM(CASE WHEN NOT (p_retailprice > 950) AND NOT (p_size >= 25) THEN 1 ELSE 0 END) AS DOUBLE) AS tn
          FROM part GROUP BY p_brand)
        ORDER BY p_brand""")),

    // ---- D12 reciprocal rank of first gold hit (ref: eval/eval_utils.py:9-21) ----
    Q("q18_reciprocal_rank",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"s_nationkey").orderBy($"s_suppkey")
        t(s, dir, "supplier")
          .withColumn("rnk", row_number().over(w))
          .filter($"s_acctbal" > 4000)
          .groupBy($"s_nationkey")
          .agg(min($"rnk").as("first_gold_rank"))
          .select($"s_nationkey", $"first_gold_rank",
                  (lit(1.0) / $"first_gold_rank").as("rr"))
          .orderBy($"s_nationkey")
      },
      Some("""SELECT s_nationkey, CAST(first_gold_rank AS INT) AS first_gold_rank,
          CAST(1.0 AS DOUBLE) / first_gold_rank AS rr FROM (
          SELECT s_nationkey, MIN(rnk) AS first_gold_rank FROM (
            SELECT s_nationkey, s_acctbal,
                   ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS rnk
            FROM supplier)
          WHERE s_acctbal > 4000 GROUP BY s_nationkey)
        ORDER BY s_nationkey""")),

    // ---- I string kernel: lower/trim/regexp/substr/truncate/split
    //      (ref: stable_match.py:9-24, eval_utils.py:239-243,
    //      PromptBuilder.py:103-104) ---------------------------------------
    Q("q19_string_normalize",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part").select(
          $"p_partkey",
          lower($"p_brand").as("brand_lc"),
          upper(trim($"p_name")).as("name_uc"),
          regexp_extract($"p_type", "^(\\w+)", 1).as("type_head"),
          when(length($"p_name") > 20,
               concat(substring($"p_name", 1, 20), lit("...")))
            .otherwise($"p_name").as("name_trunc"),
          split($"p_type", " ").getItem(0).as("type_tok0"),
          length($"p_name").as("name_len"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
        lower(p_brand) AS brand_lc,
        upper(trim(p_name)) AS name_uc,
        regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        CASE WHEN length(p_name) > 20 THEN substr(p_name, 1, 20) || '...'
             ELSE p_name END AS name_trunc,
        string_split(p_type, ' ')[1] AS type_tok0,
        CAST(length(p_name) AS INT) AS name_len
        FROM part ORDER BY p_partkey""")),

    // ---- F4 surrogate-key mapping (ref: DatabaseManager.py:84-95) --------
    // Scale-safe: a dense_rank over a global Window collapses to ONE
    // partition; instead range-partition-sort the distinct keys and
    // zipWithIndex — each id is the global sort position, computed without
    // funnelling all keys through a single task.
    Q("q20_surrogate_keys",
      (s, dir) => {
        import s.implicits._
        graft.functions.SurrogateKeys.denseIds(t(s, dir, "part"), "p_brand", "brand_id")
          .select($"p_brand", $"brand_id".cast("int").as("brand_id"))
          .orderBy($"brand_id")
      },
      Some("""SELECT p_brand, CAST(DENSE_RANK() OVER (ORDER BY p_brand) AS INT) AS brand_id
        FROM (SELECT DISTINCT p_brand FROM part) ORDER BY brand_id""")),

    // ---- D4 extension: hierarchical totals via ROLLUP — per-(segment,
    //      nation) revenue plus segment subtotals plus a grand total in ONE
    //      aggregation pass (Spark expands grouping sets in the partial
    //      aggregate; no extra scan per level). NULL grouping keys are
    //      coalesced to sentinels so both engines label totals identically. -
    Q("q79_rollup_revenue",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .rollup($"c_mktsegment", $"c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(dec2($"o_totalprice")).cast("double").as("revenue"))
          .select(coalesce($"c_mktsegment", lit("ALL")).as("segment"),
            coalesce($"c_nationkey", lit(-1)).cast("int").as("nationkey"),
            $"n_orders", $"revenue")
          .orderBy($"segment", $"nationkey")
      },
      Some("""SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
          CAST(COALESCE(c_nationkey, -1) AS INT) AS nationkey,
          count(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY ROLLUP (c_mktsegment, c_nationkey)
        ORDER BY segment, nationkey""")),

    // ---- E extension: pivot (long → wide) — per-user event counts with one
    //      column per event type. The value list is EXPLICIT, which is the
    //      scale rule: an unlisted pivot runs a distinct-scan job first and
    //      caps at spark.sql.pivotMaxValues; listing values keeps the plan a
    //      single pass. Missing cells are 0, matching the CASE-count twin. --
    Q("q80_pivot_events",
      (s, dir) => {
        import s.implicits._
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = t(s, dir, "events")
          .groupBy($"user_id").pivot("event_type", types).agg(count(lit(1)))
        types.foldLeft(wide)((df, c) =>
            df.withColumn(c, coalesce(col(c), lit(0L))))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
          count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
          count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
          count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
          count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- CUBE multi-level aggregation (D-family extension): every subtotal
    //      combination over (returnflag, linestatus, ship year) — 2³ = 8
    //      grouping sets — in ONE scan. The scale story is the operator
    //      choice itself: Spark plans cube as Expand (each row replicated
    //      once per grouping set, keys nulled per set) feeding a single
    //      hash aggregate, so the corpus is read once where the naive
    //      union-of-8-GROUP-BYs reads it 8 times; partial aggregation
    //      absorbs the ×8 row fan-out map-side because output cardinality
    //      is Σ per-set key counts (≤ ~300 here — cube dims must be
    //      LOW-cardinality by design; a high-card dim belongs in GROUP BY,
    //      not CUBE). grouping_id disambiguates '(ALL)' cells from data
    //      (dims are non-null in lineitem, so the ALL sentinel is safe);
    //      both engines put the leftmost cube column in the MSB. Sums are
    //      exact decimal, cast to long/double only at the edge (q01's
    //      rule); avg is one division of those exact values. ----------------
    Q("q266_cube_subtotals",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .withColumn("ship_year", year($"l_shipdate"))
          .cube($"l_returnflag", $"l_linestatus", $"ship_year")
          .agg(
            grouping_id().cast("int").as("gid"),
            count(lit(1)).as("n_rows"),
            sum(dec2($"l_quantity")).cast("long").as("sum_qty"),
            sum(dec2($"l_extendedprice")).cast("double").as("sum_price"),
            (sum(dec2($"l_extendedprice")).cast("double") / count(lit(1)))
              .as("avg_price"))
          .select($"gid",
            coalesce($"l_returnflag", lit("ALL")).as("ret"),
            coalesce($"l_linestatus", lit("ALL")).as("status"),
            coalesce($"ship_year", lit(-1)).as("ship_year"),
            $"n_rows", $"sum_qty", $"sum_price", $"avg_price")
          .orderBy($"gid", $"ret", $"status", $"ship_year")
      },
      Some("""SELECT CAST(GROUPING_ID(l_returnflag, l_linestatus, ship_year) AS INT) AS gid,
          coalesce(l_returnflag, 'ALL') AS ret,
          coalesce(l_linestatus, 'ALL') AS status,
          CAST(coalesce(ship_year, -1) AS INT) AS ship_year,
          count(*) AS n_rows,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        FROM (SELECT *, CAST(year(l_shipdate) AS INT) AS ship_year FROM lineitem)
        GROUP BY CUBE(l_returnflag, l_linestatus, ship_year)
        ORDER BY gid, ret, status, ship_year""")),

    // ---- distribution-rank trio (E-family completion): ntile /
    //      percent_rank / cume_dist semantics — the last standard ranking
    //      functions the registry didn't exercise — over a UNIQUE
    //      (price, orderkey, linenumber) order per return flag (ntile
    //      splits ties by row order, so a non-unique ORDER BY would make
    //      bucket membership engine-dependent). The naive form is a
    //      per-flag window — which at 100× data concentrated 60M rows
    //      onto THREE window tasks (measured 53×/spilling on the sf10
    //      rung). So the engine side computes the global per-flag RANK
    //      with the q149 two-phase pattern instead: deterministic integer
    //      range split on price cents, per-(flag, range) counts, a
    //      ≤R-row window turns them into base offsets, and row_number
    //      runs per (flag, range) — R× the parallelism of the naive
    //      window, R a knob (32 here, raise with the cluster). Under a
    //      unique order rank == row_number, so the trio is CLOSED-FORM
    //      in (rank, n): ntile's standard first-(n%B)-buckets-take-one-
    //      extra rule as integer arithmetic, pr = (r−1)/(n−1),
    //      cd = r/n. The ORACLE keeps DuckDB's real window functions —
    //      the gate proves the distributed closed form IS the window
    //      semantics. Row-scale output folds to one row per
    //      (flag, decile) with exact rank-edge divisions + decimal sums. ----
    Q("q267_rank_deciles",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // the shared two-phase prefix kernel (operators/PrefixOps — the
        // same range-split/base algebra as q268's frontier, with sum as
        // the associative op); bases are per (flag, range): <= R rows per
        // flag, the window is partitioned AND tiny
        val base = t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_extendedprice", $"l_quantity",
            $"l_orderkey", $"l_linenumber",
            ($"l_extendedprice" * 100).cast("long").as("cents"))
        val withPid = graft.operators.PrefixOps.rangeSplit(base, "cents", 32)
        val bases = graft.operators.PrefixOps.bases(withPid,
          Seq("l_returnflag"), count(lit(1)), sum, lit(0L))
        val counts = base.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
        val wIn = Window.partitionBy($"l_returnflag", $"__pid")
          .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
        val ranked = withPid
          .join(broadcast(bases), Seq("l_returnflag", "__pid"))
          .withColumn("r", $"__base" + row_number().over(wIn))
          .join(broadcast(counts), Seq("l_returnflag"))
        // standard ntile: sz = n div B, rem = n mod B; first rem buckets
        // take sz+1 rows (lazy branches keep the sz=0 division unreached)
        val decile = {
          val sz = expr("n div 10")
          val rem = $"n" % 10
          when($"r" <= rem * (sz + 1),
            expr("(r - 1) div (n div 10 + 1) + 1"))
            .otherwise(rem + expr("(r - (n % 10) * (n div 10 + 1) - 1) div (n div 10)") + 1)
        }
        ranked
          .select($"l_returnflag", $"l_extendedprice", $"l_quantity",
            decile.cast("int").as("decile"),
            // greatest(n-1, 1): a single-row group would hit 0/0 — NULL
            // under Spark's non-ANSI division while DuckDB's
            // percent_rank() returns 0.0; the guard pins pr=0 for r=1,
            // matching window semantics in both engines.
            (($"r" - 1).cast("double")
              / greatest($"n" - 1, lit(1L)).cast("double")).as("pr"),
            ($"r".cast("double") / $"n".cast("double")).as("cd"))
          .groupBy($"l_returnflag", $"decile")
          .agg(count(lit(1)).as("n_rows"),
            min($"pr").as("pr_lo"), max($"pr").as("pr_hi"),
            min($"cd").as("cd_lo"), max($"cd").as("cd_hi"),
            sum(dec2($"l_quantity")).cast("long").as("sum_qty"),
            max(dec2($"l_extendedprice")).cast("double").as("max_price"))
          .orderBy($"l_returnflag", $"decile")
      },
      Some("""SELECT l_returnflag, CAST(decile AS INT) AS decile,
          count(*) AS n_rows,
          min(pr) AS pr_lo, max(pr) AS pr_hi,
          min(cd) AS cd_lo, max(cd) AS cd_hi,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS sum_qty,
          CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        FROM (SELECT l_returnflag, l_extendedprice, l_quantity,
            ntile(10) OVER w AS decile,
            percent_rank() OVER w AS pr,
            cume_dist() OVER w AS cd
          FROM lineitem
          WINDOW w AS (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber))
        GROUP BY l_returnflag, decile
        ORDER BY l_returnflag, decile""")),

    // ---- EXACT distributed median by two-phase SELECTION (the q89
    //      counterpoint): Spark's exact `percentile` buffers and sorts
    //      each group's values on one reducer — the same low-cardinality
    //      concentration q267's naive window hit. The selection kernel
    //      (operators/Selection.scala) needs TWO scans and no sort of any
    //      kind: a (group, bucket) histogram locates each group's k-th
    //      bucket, a second scan counts exact values inside only the
    //      target buckets, and the driver walks aggregate tables whose
    //      size is the `buckets` knob (4096), never rows. The bucket width
    //      comes from PARQUET FOOTER stats (FooterStats.longMax — the same
    //      metadata q259's pruner walks), so no max() sizing scan runs and
    //      the whole query is exactly two data scans (pinned in
    //      ScaleOpsSpec's job-count test). Integer-exact on price cents;
    //      k = (n+1) div 2 (lower median — an order statistic, so no
    //      interpolation convention can diverge). The oracle computes the
    //      same k-th with a rank window — single-node DuckDB's luxury,
    //      not the engine's. ----------------------------------------------
    Q("q270_exact_median",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_returnflag",
            ($"l_extendedprice" * 100).cast("long").as("cents"))
        // footer bound is ceil(max price)·100 ≥ true max cents — an upper
        // bound is all the kernel needs (granularity hint, never answers)
        val bound = graft.core.FooterStats
          .longMax(s, s"$dir/lineitem.parquet", "l_extendedprice")
          .map(_ * 100)
        graft.operators.Selection
          .exactKth(li, "l_returnflag", "cents", n => (n + 1) / 2,
            maxValue = bound)
          .select($"g".as("l_returnflag"), $"n", $"k",
            $"kth".as("median_cents"),
            ($"kth".cast("double") / 100.0).as("median_price"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH v AS (SELECT l_returnflag,
              CAST(l_extendedprice * 100 AS BIGINT) AS cents FROM lineitem),
          r AS (SELECT l_returnflag, cents,
                  row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
                FROM v)
          SELECT l_returnflag, CAST(n AS BIGINT) AS n,
            CAST((n + 1) // 2 AS BIGINT) AS k,
            cents AS median_cents,
            CAST(cents AS DOUBLE) / 100.0 AS median_price
          FROM r WHERE rn = (n + 1) // 2 ORDER BY l_returnflag""")),

    // ---- WEIGHTED median by the same selection kernel: the document
    //      length at which half the corpus's TOKEN MASS sits, per lang —
    //      the statistic a token-budget planner needs (the unweighted
    //      median length over-counts short docs; packing cost is weighted
    //      by tokens). Weighted lower median = smallest v whose cumulative
    //      weight reaches (W+1) div 2 — Selection.exactKthWeighted swaps
    //      weight sums for counts in both phases, still two data scans
    //      and knob-bounded driver tables. The oracle replays it with a
    //      cumulative-weight window (DuckDB's single-node luxury). ----------
    Q("q271_token_mass_median",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents").select($"lang",
          $"n_chars".cast("long").as("v"),
          size(split($"text", " ")).cast("long").as("w"))
        // n_chars is INT64 in the footer — exact domain bound, no sizing scan
        val bound = graft.core.FooterStats
          .longMax(s, s"$dir/documents.parquet", "n_chars")
        graft.operators.Selection
          .exactKthWeighted(d, "lang", "v", "w", W => (W + 1) / 2,
            maxValue = bound)
          .select($"g".as("lang"), $"n".as("total_tokens"), $"k",
            $"kth".as("token_mass_median_chars"))
          .orderBy($"lang")
      },
      Some("""WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS w
            FROM documents),
          c AS (SELECT lang, v, sum(w) AS wv FROM d GROUP BY 1, 2),
          r AS (SELECT lang, v,
                  sum(wv) OVER (PARTITION BY lang ORDER BY v) AS cw,
                  sum(wv) OVER (PARTITION BY lang) AS tw
                FROM c)
          SELECT lang, CAST(tw AS BIGINT) AS total_tokens,
            CAST((tw + 1) // 2 AS BIGINT) AS k,
            CAST(min(v) AS BIGINT) AS token_mass_median_chars
          FROM r WHERE cw >= (tw + 1) // 2
          GROUP BY lang, tw ORDER BY lang""")),

    // ---- exact percentiles: linear-interpolated quantiles of the price
    //      distribution per return flag. Spark's `percentile` is the exact
    //      sort-based aggregate (per-group sort, distributes across flags);
    //      at 100 TB swap in approx_percentile for a single-pass sketch —
    //      this query pins the exact contract the sketch is judged against.
    //      Both engines interpolate as lo + (hi-lo)*frac on doubles, a
    //      three-op expression identical under IEEE — no rounding needed on
    //      the quantile itself; inputs are exact 2-dp decimals. ------------
    Q("q89_percentiles",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            expr("percentile(l_extendedprice, 0.25)").as("p25"),
            expr("percentile(l_extendedprice, 0.5)").as("p50"),
            expr("percentile(l_extendedprice, 0.9)").as("p90"),
            expr("percentile(l_extendedprice, 0.99)").as("p99"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
          quantile_cont(l_extendedprice, 0.25) AS p25,
          quantile_cont(l_extendedprice, 0.5) AS p50,
          quantile_cont(l_extendedprice, 0.9) AS p90,
          quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- QUANTILE SKETCH AUDIT — the q201 theorem-implication pattern
    //      applied to approx_percentile, the single-pass GK-style sketch
    //      q89 says a 100 TB run swaps in for exact percentiles. The raw
    //      sketch output is merge-order-dependent (NOT gateable), so the
    //      query emits the deterministic implication instead: for each
    //      (flag, q) the estimate's exact rank interval [n_lt+1, n_le]
    //      must intersect [qN − 5εN, qN + 5εN] (ε = 1/1000, the accuracy
    //      knob). The slack is 5× because Spark's MERGED summaries carry
    //      no firm post-merge bound (SPARK-21184): the single-stream εN
    //      interval missed by ~2.3εN at sf0.001, and the merge tree
    //      depends on core count / split sizing, so a tight gate would
    //      flip across machines. 5εN still catches any real sketch bug
    //      (those are off by O(N), not O(εN)) while keeping the verdict
    //      machine-stable. Checked in PURE INTEGER form (×1000
    //      cross-multiplied, qk = 1000q whole). The oracle emits the verdict as
    //      a literal 1 plus the exact interpolated quantiles (identical
    //      IEEE three-op interpolation, q89 precedent); any sketch-bound
    //      violation flips our 0 against its 1 and fails the hash. The
    //      9-row estimate frame broadcasts for the rank scan. ---------------
    Q("q256_quantile_sketch_audit",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_extendedprice")
        val qks = array(lit(100), lit(500), lit(900))
        val est = li.groupBy($"l_returnflag")
          .agg(expr(
            "approx_percentile(l_extendedprice, array(0.1D, 0.5D, 0.9D), 1000)")
            .as("ap"), count(lit(1)).as("n"))
          .select($"l_returnflag", $"n",
            posexplode($"ap").as(Seq("i", "est")))
          .select($"l_returnflag", $"n",
            element_at(qks, $"i" + 1).cast("long").as("qk"), $"est")
        val ranks = li.join(broadcast(est), Seq("l_returnflag"))
          .groupBy($"l_returnflag", $"qk", $"n", $"est")
          .agg(sum(when($"l_extendedprice" < $"est", 1L).otherwise(0L)).as("n_lt"),
            sum(when($"l_extendedprice" <= $"est", 1L).otherwise(0L)).as("n_le"))
        val exact = li.groupBy($"l_returnflag")
          .agg(expr("percentile(l_extendedprice, array(0.1D, 0.5D, 0.9D))").as("ex"))
          .select($"l_returnflag", posexplode($"ex").as(Seq("j", "exact_q")))
          .select($"l_returnflag", element_at(qks, $"j" + 1).cast("long").as("qk"),
            $"exact_q")
        ranks.join(exact, Seq("l_returnflag", "qk"))
          .select($"l_returnflag", $"qk".cast("int").as("qk"),
            $"n".cast("long").as("n"), $"exact_q",
            when(lit(1000L) * ($"n_lt" + 1L) <= $"n" * $"qk" + lit(5L) * $"n" &&
              lit(1000L) * $"n_le" >= $"n" * $"qk" - lit(5L) * $"n", 1).otherwise(0)
              .cast("int").as("rank_ok"))
          .orderBy($"l_returnflag", $"qk")
      },
      Some("""WITH x AS (
          SELECT l_returnflag, 100 AS qk, count(*) AS n,
            quantile_cont(l_extendedprice, 0.1) AS exact_q
          FROM lineitem GROUP BY 1
          UNION ALL
          SELECT l_returnflag, 500, count(*),
            quantile_cont(l_extendedprice, 0.5)
          FROM lineitem GROUP BY 1
          UNION ALL
          SELECT l_returnflag, 900, count(*),
            quantile_cont(l_extendedprice, 0.9)
          FROM lineitem GROUP BY 1)
          SELECT l_returnflag, CAST(qk AS INT) AS qk, CAST(n AS BIGINT) AS n,
            exact_q, CAST(1 AS INT) AS rank_ok
          FROM x ORDER BY l_returnflag, qk""")),

    // ---- Z-ORDER LAYOUT AUDIT — the multi-dimensional clustering key
    //      lakehouse formats use for file pruning, measured rather than
    //      asserted: rows land in 64 buckets under three layouts
    //      (ship-day-sorted, suppkey-sorted, and the Morton z-order of
    //      both — each dim first normalized to 8 bits equal-width, then
    //      bit-interleaved via functions/ZOrder.scala, one flat
    //      shift/mask/add expression valid verbatim in BOTH engines;
    //      bucket = top 6 z bits ⇒ an 8×8 grid). The charged metric is
    //      the single-axis RANGE-SCAN numerator: a day-slice query must
    //      touch every bucket whose day-span covers it, so expected
    //      touched ∝ Σ_b dx_b (and Σ_b dy_b for supp-slices);
    //      `combined = Σdx·ry + Σdy·rx` cross-multiplies the two onto
    //      one integer scale. When BOTH axes carry cardinality the
    //      z-grid pays ~8× on each — combined ~16·rx·ry vs ~65·rx·ry
    //      for either sort (~4× win, hash-pinned at sf0.01/sf0.1). The
    //      sf0.001 rows pin the honest counter-case: with only 10
    //      distinct suppliers the supp axis is near-degenerate (ry=10),
    //      a supp sort is nearly free, and z-order LOSES to it — the
    //      deliverable quantifies that z-ordering only pays when every
    //      clustered dimension has real cardinality, the same rule
    //      OPTIMIZE ZORDER BY docs state. All integer (DIV / //);
    //      min/max ride in as 1-row broadcasts and the constant rx/ry
    //      join the 64-row bucket frame AFTER aggregation, never per
    //      row. At 100 TB: ~32 codegen'd integer ops per row, bucket
    //      boundaries become file boundaries. ----------------------------
    Q("q257_zorder_layout",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "lineitem")
          .select(
            datediff($"l_shipdate".cast("date"),
              lit("1992-01-01").cast("date")).cast("long").as("x"),
            ($"l_suppkey" % 65536).cast("long").as("y"))
        val mm = base.agg(min($"x").as("xmin"), max($"x").as("xmax"),
          min($"y").as("ymin"), max($"y").as("ymax"))
        val dims = base.crossJoin(broadcast(mm))
          .withColumn("x8", expr("((x - xmin) * 256) DIV (xmax - xmin + 1)"))
          .withColumn("y8", expr("((y - ymin) * 256) DIV (ymax - ymin + 1)"))
          .withColumn("z16",
            graft.functions.ZOrder.interleave("x8", "y8", bits = 8).cast("long"))
        val buckets = dims.select($"x", $"y",
            expr("((x - xmin) * 64) DIV (xmax - xmin + 1)").as("b_day"),
            expr("((y - ymin) * 64) DIV (ymax - ymin + 1)").as("b_supp"),
            expr("z16 DIV 1024").as("b_z"))
        val ranges = mm.select(($"xmax" - $"xmin" + 1L).as("rx"),
          ($"ymax" - $"ymin" + 1L).as("ry"))
        def charged(name: String, bCol: String) = buckets
          .groupBy(col(bCol).as("bkt"))
          .agg((max($"x") - min($"x") + 1L).as("dx"),
            (max($"y") - min($"y") + 1L).as("dy"))
          .agg(count(lit(1)).as("n_buckets"), sum($"dx").as("sum_dx"),
            sum($"dy").as("sum_dy"))
          .crossJoin(broadcast(ranges))
          .select(lit(name).as("scheme"),
            $"n_buckets".cast("long").as("n_buckets"),
            $"sum_dx".cast("long").as("sum_dx"),
            $"sum_dy".cast("long").as("sum_dy"),
            ($"sum_dx" * $"ry" + $"sum_dy" * $"rx").cast("long").as("combined"))
        charged("1_by_day", "b_day")
          .unionByName(charged("2_by_supp", "b_supp"))
          .unionByName(charged("3_zorder", "b_z"))
          .orderBy($"scheme")
      },
      Some {
        val z = graft.functions.ZOrder.interleaveSql("x8", "y8", bits = 8)
        s"""WITH d AS (SELECT
              date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS x,
              l_suppkey % 65536 AS y FROM lineitem),
          mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
              min(y) AS ymin, max(y) AS ymax FROM d),
          n AS (SELECT x, y, xmin, xmax, ymin, ymax,
              ((x - xmin) * 256) // (xmax - xmin + 1) AS x8,
              ((y - ymin) * 256) // (ymax - ymin + 1) AS y8
            FROM d, mm),
          bk AS (SELECT x, y,
              ((x - xmin) * 64) // (xmax - xmin + 1) AS b_day,
              ((y - ymin) * 64) // (ymax - ymin + 1) AS b_supp,
              ($z) // 1024 AS b_z
            FROM n),
          rg AS (SELECT xmax - xmin + 1 AS rx, ymax - ymin + 1 AS ry FROM mm),
          u AS (
            SELECT '1_by_day' AS scheme, b_day AS bkt, x, y FROM bk
            UNION ALL SELECT '2_by_supp', b_supp, x, y FROM bk
            UNION ALL SELECT '3_zorder', b_z, x, y FROM bk),
          b AS (SELECT scheme, bkt,
              max(x) - min(x) + 1 AS dx, max(y) - min(y) + 1 AS dy
            FROM u GROUP BY 1, 2)
          SELECT scheme, CAST(count(*) AS BIGINT) AS n_buckets,
            CAST(sum(dx) AS BIGINT) AS sum_dx,
            CAST(sum(dy) AS BIGINT) AS sum_dy,
            CAST(sum(dx) * max(ry) + sum(dy) * max(rx) AS BIGINT) AS combined
          FROM b, rg GROUP BY scheme ORDER BY scheme"""
      }),

    // ---- HILBERT-CURVE LAYOUT AUDIT (q257's upgrade; ZOrder's sibling
    //      with provably better locality): the 48-bucket charged-cost
    //      experiment run under FOUR layouts — the two single-axis
    //      sorts, the Morton z-order and the HILBERT index
    //      (functions/Hilbert.scala: the public iterative xy→d walk —
    //      per-level Gray-code quadrant digit + reflect/swap rotation —
    //      folded as simultaneous withColumns stages inside whole-stage
    //      codegen; HilbertSpec pins bijectivity, the Manhattan-1
    //      continuity Z lacks, and SQL-chain ≡ Scala-twin on the full
    //      grid). The DuckDB oracle replays the SAME per-level update
    //      texts as nested subquery stages, so bucket assignment,
    //      bounding boxes and charged costs are all hash-gated. The
    //      bucket count is 48 — deliberately NOT a power of two: under a
    //      dyadic cut (q257's 64 = top-6-bits) every curve-prefix bucket
    //      is the SAME 8×8 grid cell for both curves and the comparison
    //      degenerates to equality (measured before this query landed);
    //      non-dyadic buckets cross quadrant boundaries, where Morton's
    //      long jumps inflate the box and Hilbert's Manhattan-1
    //      continuity keeps it tight (~10% lower combined cost on the
    //      full grid). vs_zorder = sign(combined − combined_z) rides
    //      in-row — the number a table-layout OPTIMIZE decision reads.
    //      Same scale shape as q257: ~10 integer CASEs per level per
    //      row, min/max as 1-row broadcasts, the 48-row bucket frame
    //      aggregated before any join. --------------------------------------
    Q("q291_hilbert_layout",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "lineitem")
          .select(
            datediff($"l_shipdate".cast("date"),
              lit("1992-01-01").cast("date")).cast("long").as("x"),
            ($"l_suppkey" % 65536).cast("long").as("y"))
        val mm = base.agg(min($"x").as("xmin"), max($"x").as("xmax"),
          min($"y").as("ymin"), max($"y").as("ymax"))
        val dims0 = base.crossJoin(broadcast(mm))
          .withColumn("x8", expr("((x - xmin) * 256) DIV (xmax - xmin + 1)"))
          .withColumn("y8", expr("((y - ymin) * 256) DIV (ymax - ymin + 1)"))
          .withColumn("z16",
            graft.functions.ZOrder.interleave("x8", "y8", bits = 8).cast("long"))
        val dims = graft.functions.Hilbert.withIndex(dims0, "x8", "y8", "h16")
        val buckets = dims.select($"x", $"y",
            expr("((x - xmin) * 48) DIV (xmax - xmin + 1)").as("b_day"),
            expr("((y - ymin) * 48) DIV (ymax - ymin + 1)").as("b_supp"),
            expr("(z16 * 48) DIV 65536").as("b_z"),
            expr("(h16 * 48) DIV 65536").as("b_h"))
        val ranges = mm.select(($"xmax" - $"xmin" + 1L).as("rx"),
          ($"ymax" - $"ymin" + 1L).as("ry"))
        def charged(name: String, bCol: String) = buckets
          .groupBy(col(bCol).as("bkt"))
          .agg((max($"x") - min($"x") + 1L).as("dx"),
            (max($"y") - min($"y") + 1L).as("dy"))
          .agg(count(lit(1)).as("n_buckets"), sum($"dx").as("sum_dx"),
            sum($"dy").as("sum_dy"))
          .crossJoin(broadcast(ranges))
          .select(lit(name).as("scheme"),
            $"n_buckets".cast("long").as("n_buckets"),
            $"sum_dx".cast("long").as("sum_dx"),
            $"sum_dy".cast("long").as("sum_dy"),
            ($"sum_dx" * $"ry" + $"sum_dy" * $"rx").cast("long").as("combined"))
        val all = charged("1_by_day", "b_day")
          .unionByName(charged("2_by_supp", "b_supp"))
          .unionByName(charged("3_zorder", "b_z"))
          .unionByName(charged("4_hilbert", "b_h"))
        // the decision-relevant delta: Hilbert's charged cost relative to
        // Z on identical data, as a sign every row carries
        val zCost = all.filter($"scheme" === "3_zorder")
          .select($"combined".as("z_combined"))
        all.crossJoin(broadcast(zCost))
          .select($"scheme", $"n_buckets", $"sum_dx", $"sum_dy", $"combined",
            signum($"combined" - $"z_combined").cast("int").as("vs_zorder"))
          .orderBy($"scheme")
      },
      Some {
        val z = graft.functions.ZOrder.interleaveSql("x8", "y8", bits = 8)
        // x8/y8 (and x/y) ride THROUGH the hilbert stage chain — no join
        // back, so duplicate (x, y) rows can't fan out
        val h = graft.functions.Hilbert.indexSql(
          "SELECT x, y, x8, y8, x8 AS hx, y8 AS hy FROM n",
          Seq("x", "y", "x8", "y8"))
        s"""WITH d AS (SELECT
              date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS x,
              l_suppkey % 65536 AS y FROM lineitem),
          ${hilbertGridCtes(h)}
          bk AS (SELECT x, y,
              ((x - xmin) * 48) // (xmax - xmin + 1) AS b_day,
              ((y - ymin) * 48) // (ymax - ymin + 1) AS b_supp,
              (($z) * 48) // 65536 AS b_z,
              (hd * 48) // 65536 AS b_h
            FROM hz, mm),
          rg AS (SELECT xmax - xmin + 1 AS rx, ymax - ymin + 1 AS ry FROM mm),
          u AS (
            SELECT '1_by_day' AS scheme, b_day AS bkt, x, y FROM bk
            UNION ALL SELECT '2_by_supp', b_supp, x, y FROM bk
            UNION ALL SELECT '3_zorder', b_z, x, y FROM bk
            UNION ALL SELECT '4_hilbert', b_h, x, y FROM bk),
          b AS (SELECT scheme, bkt,
              max(x) - min(x) + 1 AS dx, max(y) - min(y) + 1 AS dy
            FROM u GROUP BY 1, 2),
          c AS (SELECT scheme, CAST(count(*) AS BIGINT) AS n_buckets,
              CAST(sum(dx) AS BIGINT) AS sum_dx,
              CAST(sum(dy) AS BIGINT) AS sum_dy,
              CAST(sum(dx) * max(ry) + sum(dy) * max(rx) AS BIGINT) AS combined
            FROM b, rg GROUP BY scheme),
          zc AS (SELECT combined AS z_combined FROM c WHERE scheme = '3_zorder')
          SELECT scheme, n_buckets, sum_dx, sum_dy, combined,
            CAST(sign(combined - z_combined) AS INT) AS vs_zorder
          FROM c, zc ORDER BY scheme"""
      }),

    // ---- HILBERT file skipping END-TO-END (q259's machinery on the
    //      q291 layout — closes the Hilbert story the way q259 closed
    //      z-order's): lineitem physically WRITTEN as parquet laid out
    //      by the Hilbert key under a NON-dyadic 48-bucket cut (the
    //      realistic case — equal-size file cuts never align to dyadic
    //      boundaries, and q291 showed the dyadic cut erases the curve
    //      difference), read back with the same central-quarter
    //      two-sided window, pruning statistics from the ACTUAL parquet
    //      footers (one row group per file, loudly enforced). The oracle
    //      replays bucket assignment through the SAME per-level Hilbert
    //      stage texts, so per-file footer min/max/count must equal
    //      per-bucket group aggregates — writer, stats or layout bugs
    //      diverge the hash. At 100 TB files_pruned/n_files is the
    //      fraction of the table never opened under the curve the
    //      OPTIMIZE decision (q291's vs_zorder sign) selects. ---------------
    Q("q296_hilbert_skipping",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "lineitem").select(
          datediff($"l_shipdate".cast("date"),
            lit("1992-01-01").cast("date")).cast("long").as("x"),
          $"l_suppkey".cast("long").as("y"))
        val mmRow = base.agg(min($"x"), max($"x"), min($"y"), max($"y")).head()
        val (xmin, xmax) = (mmRow.getLong(0), mmRow.getLong(1))
        val (ymin, ymax) = (mmRow.getLong(2), mmRow.getLong(3))
        val (rx, ry) = (xmax - xmin + 1L, ymax - ymin + 1L)
        val (xa, xb) = (xmin + rx * 3 / 8, xmin + rx * 5 / 8 - 1)
        val (ya, yb) = (ymin + ry * 3 / 8, ymin + ry * 5 / 8 - 1)
        val hdir = "/tmp/graft-hilbert-skip/" +
          graft.core.Det.md5hex(dir).take(12) + "-" + zorderProcToken
        graft.functions.Hilbert.withIndex(
            base
              .withColumn("x8", expr(s"((x - $xmin) * 256) DIV $rx"))
              .withColumn("y8", expr(s"((y - $ymin) * 256) DIV $ry")),
            "x8", "y8", "h16")
          .withColumn("hbucket", expr("(h16 * 48) DIV 65536"))
          .select($"x", $"y", $"hbucket")
          // r17: pin to the 48-bucket space (see q259) — AQE otherwise
          // coalesced the write to 4 tasks
          .repartition(48, col("hbucket"))
          .write.mode("overwrite")
          .option("parquet.block.size", (1L << 30).toString)
          .partitionBy("hbucket").parquet(hdir)
        import scala.jdk.CollectionConverters._
        val hconf = s.sparkContext.hadoopConfiguration
        val root = new org.apache.hadoop.fs.Path(hdir)
        val fs = root.getFileSystem(hconf)
        val files = {
          val it = fs.listFiles(root, true)
          val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
          while (it.hasNext) {
            val f = it.next()
            if (f.getPath.getName.endsWith(".parquet")) b += f.getPath
          }
          b.result()
        }
        final case class FileStats(rowGroups: Int, rows: Long,
            fxMin: Long, fxMax: Long, fyMin: Long, fyMax: Long)
        // r17: the footer walk is driver-side and was sequential — ~1 s of
        // open/close over the bucket files; order-preserving parallel map,
        // and every consumer reduces with order-independent aggregates
        val stats = graft.core.Par.mapOrdered(files) { p =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
          try {
            val blocks = r.getFooter.getBlocks.asScala.toSeq
            def colStats(name: String): Seq[org.apache.parquet.column.statistics.Statistics[_]] =
              blocks.map(_.getColumns.asScala
                .find(_.getPath.toDotString == name)
                .getOrElse(sys.error(s"column $name missing in footer of $p"))
                .getStatistics)
            def longs(st: Seq[org.apache.parquet.column.statistics.Statistics[_]],
                f: org.apache.parquet.column.statistics.Statistics[_] => Any): Seq[Long] =
              st.map(x => f(x).asInstanceOf[java.lang.Long].longValue)
            val (sx, sy) = (colStats("x"), colStats("y"))
            require(blocks.size == 1,
              s"hilbert layout contract violated: ${blocks.size} row groups in $p — " +
                "a bucket file exceeded the 1 GiB block size; raise the bucket count " +
                "so file == row group == pruning unit")
            FileStats(blocks.size, blocks.map(_.getRowCount).sum,
              longs(sx, _.genericGetMin).min, longs(sx, _.genericGetMax).max,
              longs(sy, _.genericGetMin).min, longs(sy, _.genericGetMax).max)
          } finally r.close()
        }
        val read = stats.filter(f =>
          f.fxMin <= xb && f.fxMax >= xa && f.fyMin <= yb && f.fyMax >= ya)
        s.read.parquet(hdir)
          .filter($"x" >= xa && $"x" <= xb && $"y" >= ya && $"y" <= yb)
          .agg(count(lit(1)).as("rows_selected"))
          .select(
            lit(xa).as("xa"), lit(xb).as("xb"), lit(ya).as("ya"), lit(yb).as("yb"),
            lit(stats.size.toLong).as("n_files"),
            lit(stats.map(_.rowGroups.toLong).sum).as("n_rowgroups"),
            lit(read.size.toLong).as("files_read"),
            lit((stats.size - read.size).toLong).as("files_pruned"),
            lit(read.map(_.rows).sum).as("rows_scanned"),
            $"rows_selected")
      },
      Some {
        val h = graft.functions.Hilbert.indexSql(
          "SELECT x, y, x8 AS hx, y8 AS hy FROM n", Seq("x", "y"))
        s"""WITH d AS (SELECT
              date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS x,
              CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
          ${hilbertGridCtes(h)}
          hb AS (SELECT x, y, (hd * 48) // 65536 AS hbucket FROM hz),
          ${skipReport("hb", "hbucket")}"""
      }),

    // ---- LAYOUT-CURVE DECISION (the sketch→plan QUINTET's fifth member,
    //      q260/q273/q275/q280's sibling, routed through the same
    //      DecisionLog): which clustering curve should OPTIMIZE rewrite
    //      this table with? A hash-Bernoulli 1/16 row sample estimates
    //      the 48-bucket charged cost of BOTH curves (q291's metric on
    //      the sample, normalized against full-table min/max so the
    //      sample sees the real grid), the cheaper curve wins, and the
    //      decision is EXECUTED — the table is physically rewritten
    //      partitioned by the chosen curve's bucket and the gated row
    //      carries the file count read back from the FILESYSTEM plus the
    //      row roundtrip. The oracle replays sample, both costs, the
    //      comparison, the chosen branch AND the expected file count
    //      (distinct buckets of the chosen curve over the full data) —
    //      an executed layout that drifts from the decision diverges the
    //      hash. At 100 TB this is the nightly OPTIMIZE planner: a KB
    //      sample decides a corpus-wide rewrite. ---------------------------
    Q("q298_layout_decision",
      (s, dir) => {
        import s.implicits._
        // r17: the decision's three passes (min/max grid, 1/16 sample,
        // full rewrite) each re-scanned lineitem's 3 splits single-threaded
        // (probe: stages of 3 tasks owning ~70% of the warm time) and
        // re-derived the md5 sample draw. Fan the narrow raw columns past
        // the 3-split scan (identity on well-split input), compute x/y/u
        // once, cache for all three consumers (blocks dropped by
        // SessionHygiene after the query). NOTE this is NOT the r16-rejected
        // layout-WRITE fanout — the write still partitions by bucket.
        val base = graft.core.Caching.materialize(
          graft.core.Tables.fanout(t(s, dir, "lineitem")
              .select($"l_shipdate", $"l_suppkey", $"l_orderkey", $"l_linenumber"))
            .select(
              datediff($"l_shipdate".cast("date"),
                lit("1992-01-01").cast("date")).cast("long").as("x"),
              ($"l_suppkey" % 65536).cast("long").as("y"),
              graft.operators.Sampling.detRand(298L, $"l_orderkey".cast("string"),
                $"l_linenumber".cast("string")).as("u")))
        val mmRow = base.agg(min($"x"), max($"x"), min($"y"), max($"y")).head()
        val (xmin, xmax) = (mmRow.getLong(0), mmRow.getLong(1))
        val (ymin, ymax) = (mmRow.getLong(2), mmRow.getLong(3))
        val (rx, ry) = (xmax - xmin + 1L, ymax - ymin + 1L)
        def withKeys(df: org.apache.spark.sql.DataFrame) =
          graft.functions.Hilbert.withIndex(
            df.withColumn("x8", expr(s"((x - $xmin) * 256) DIV $rx"))
              .withColumn("y8", expr(s"((y - $ymin) * 256) DIV $ry"))
              .withColumn("z16", graft.functions.ZOrder
                .interleave("x8", "y8", bits = 8).cast("long")),
            "x8", "y8", "h16")
          .withColumn("b_z", expr("(z16 * 48) DIV 65536"))
          .withColumn("b_h", expr("(h16 * 48) DIV 65536"))
        // 1. the ESTIMATE: both charged costs on the 1/16 sample
        def cost(df: org.apache.spark.sql.DataFrame, bCol: String): Long = df
          .groupBy(col(bCol))
          .agg((max($"x") - min($"x") + 1L).as("dx"),
            (max($"y") - min($"y") + 1L).as("dy"))
          .agg((sum($"dx") * ry + sum($"dy") * rx).as("c"))
          .head().getLong(0)
        val sample = withKeys(base.filter($"u" < 0.0625))
          .localCheckpoint() // both costs read it; don't re-scan the table
        val costZ = cost(sample, "b_z")
        val costH = cost(sample, "b_h")
        val chooseH = costH <= costZ
        val bucket = if (chooseH) "b_h" else "b_z"
        // 2. EXECUTE: rewrite the table partitioned by the chosen bucket
        val ldir = "/tmp/graft-hilbert-skip/" +
          graft.core.Det.md5hex(dir).take(12) + "-" + zorderProcToken + "-dec"
        withKeys(base).select($"x", $"y", col(bucket).as("bucket"))
          // r17: pinning this exchange to the 48-bucket width (as q259/q296
          // do) A/B'd flat-to-worse here — the rewrite reads the 32-partition
          // cache, so the write is already wide; left on AQE
          .repartition($"bucket")
          .write.mode("overwrite").partitionBy("bucket").parquet(ldir)
        val fs = new org.apache.hadoop.fs.Path(ldir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val nFiles = {
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(ldir), true)
          var n = 0L
          while (it.hasNext) {
            if (it.next().getPath.getName.endsWith(".parquet")) n += 1
          }
          n
        }
        val nRows = s.read.parquet(ldir).count()
        graft.ops.DecisionLog.record("layout_curve",
          costH.toDouble / costZ.toDouble, 1.0,
          if (chooseH) "hilbert" else "zorder",
          s"partitionBy=$bucket,files=$nFiles")
        s.range(1).select(
          lit(costZ).as("cost_z"), lit(costH).as("cost_h"),
          lit(if (chooseH) "hilbert" else "zorder").as("chosen"),
          lit(nFiles).as("n_files"), lit(nRows).as("n_rows"))
          .orderBy($"chosen") // single row; the gate requires a total order
      },
      Some {
        val u = graft.operators.Sampling.detRandSql(298L,
          Seq("CAST(l_orderkey AS VARCHAR)", "CAST(l_linenumber AS VARCHAR)"))
        val z = graft.functions.ZOrder.interleaveSql("x8", "y8", bits = 8)
        val h = graft.functions.Hilbert.indexSql(
          "SELECT x, y, u, x8, y8, x8 AS hx, y8 AS hy FROM n",
          Seq("x", "y", "u", "x8", "y8"))
        s"""WITH d AS (SELECT
              date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS x,
              l_suppkey % 65536 AS y, $u AS u FROM lineitem),
          mm AS (SELECT min(x) AS xmin, max(x) AS xmax,
              min(y) AS ymin, max(y) AS ymax FROM d),
          rg AS (SELECT xmax - xmin + 1 AS rx, ymax - ymin + 1 AS ry FROM mm),
          n AS (SELECT x, y, u,
              ((x - xmin) * 256) // (xmax - xmin + 1) AS x8,
              ((y - ymin) * 256) // (ymax - ymin + 1) AS y8
            FROM d, mm),
          hz AS ($h),
          k AS (SELECT x, y, u, (($z) * 48) // 65536 AS b_z,
              (hd * 48) // 65536 AS b_h
            FROM hz),
          sz AS (SELECT b_z, max(x) - min(x) + 1 AS dx,
              max(y) - min(y) + 1 AS dy FROM k WHERE u < 0.0625 GROUP BY b_z),
          sh AS (SELECT b_h, max(x) - min(x) + 1 AS dx,
              max(y) - min(y) + 1 AS dy FROM k WHERE u < 0.0625 GROUP BY b_h),
          cz AS (SELECT sum(dx) * max(ry) + sum(dy) * max(rx) AS c FROM sz, rg),
          ch AS (SELECT sum(dx) * max(ry) + sum(dy) * max(rx) AS c FROM sh, rg),
          pick AS (SELECT cz.c AS cost_z, ch.c AS cost_h,
              CASE WHEN ch.c <= cz.c THEN 'hilbert' ELSE 'zorder' END AS chosen
            FROM cz, ch),
          nf AS (SELECT
              (SELECT count(DISTINCT b_h) FROM k) AS files_h,
              (SELECT count(DISTINCT b_z) FROM k) AS files_z,
              (SELECT count(*) FROM k) AS n_rows)
          SELECT CAST(cost_z AS BIGINT) AS cost_z,
            CAST(cost_h AS BIGINT) AS cost_h, chosen,
            CAST(CASE WHEN chosen = 'hilbert' THEN files_h ELSE files_z END
              AS BIGINT) AS n_files,
            CAST(n_rows AS BIGINT) AS n_rows
          FROM pick, nf ORDER BY chosen"""
      }),

    // ---- COMPRESSION-CODEC audit (the storage family's codec knob,
    //      q276/q279/q281's sibling): the same projection is physically
    //      WRITTEN under snappy, zstd and gzip, then audited from the
    //      parquet FOOTERS — every column chunk must carry the requested
    //      codec (a silently-ignored write option is exactly the bug
    //      class this catches), the per-codec compressed byte total must
    //      undercut the uncompressed total, and the footer row count must
    //      equal the distributed read-back count (writer-correctness
    //      theorem, q279's gate shape: byte sizes aren't SQL facts, so
    //      the oracle pins the INVARIANT FLAGS plus the replayable row
    //      counts, and any footer/codec/roundtrip divergence flips a
    //      flag). At 100 TB this is the nightly job that validates a
    //      codec migration before pointing readers at it. /tmp layouts
    //      are pid-keyed and dead-process-swept like q259's. ----------------
    Q("q295_codec_audit",
      (s, dir) => {
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val codecs = Seq("gzip", "snappy", "zstd")
        val base = t(s, dir, "documents")
          .select($"doc_id", $"text", $"source")
        val root = "/tmp/graft-codec/" +
          graft.core.Det.md5hex(dir).take(12) + "-" + zorderProcToken
        val hconf = s.sparkContext.hadoopConfiguration
        codecs.map { c =>
          val path = s"$root/$c"
          base.coalesce(2).write.mode("overwrite")
            .option("compression", c).parquet(path)
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(hconf)
          val files = {
            val it = fs.listFiles(p, false)
            val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
            while (it.hasNext) {
              val f = it.next()
              if (f.getPath.getName.endsWith(".parquet")) b += f.getPath
            }
            b.result()
          }
          var chunks = 0L
          var okChunks = 0L
          var compBytes = 0L
          var rawBytes = 0L
          var rows = 0L
          files.foreach { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
            try r.getFooter.getBlocks.asScala.foreach { b =>
              rows += b.getRowCount
              b.getColumns.asScala.foreach { cc =>
                chunks += 1
                if (cc.getCodec.toString.toLowerCase == c) okChunks += 1
                compBytes += cc.getTotalSize
                rawBytes += cc.getTotalUncompressedSize
              }
            } finally r.close()
          }
          val back = s.read.parquet(path).count()
          (c, rows, back,
            if (chunks > 0 && okChunks == chunks) 1L else 0L,
            if (compBytes < rawBytes) 1L else 0L,
            if (back == rows) 1L else 0L)
        }.toDF("codec", "n_rows", "rows_read", "codec_ok", "shrinks",
          "roundtrip_ok")
          .orderBy($"codec")
      },
      Some("""SELECT codec,
            CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_rows,
            CAST((SELECT count(*) FROM documents) AS BIGINT) AS rows_read,
            CAST(1 AS BIGINT) AS codec_ok,
            CAST(1 AS BIGINT) AS shrinks,
            CAST(1 AS BIGINT) AS roundtrip_ok
          FROM (VALUES ('gzip'), ('snappy'), ('zstd')) AS t(codec)
          ORDER BY codec""")),

    // ---- z-order file skipping END-TO-END (VERDICT r9/r10 item 4,
    //      closing q155/q257's layout-statistics loop to REAL pruning):
    //      lineitem is physically WRITTEN as parquet laid out by the
    //      Morton key (one file per deterministic z-bucket: repartition
    //      on the bucket key then partitionBy, so bucket boundaries ARE
    //      file boundaries), read back with a two-sided range predicate,
    //      and the pruning statistics come from the ACTUAL parquet
    //      footers (parquet-hadoop ParquetFileReader, driver-side over
    //      ≤64 files — exactly the footer walk a stats-pruning reader
    //      does): n_files / n_rowgroups written, files whose footer
    //      [min,max]×[min,max] box overlaps the window (files_read),
    //      files skipped (files_pruned), rows resident in the read files
    //      (rows_scanned) and the true selectivity (rows_selected, from
    //      the distributed filtered read-back whose scan pins
    //      PushedFilters on both x and y — PlanShapeSpec). The oracle
    //      replays every number from raw data: the bucket assignment is
    //      pure integer bit arithmetic, so per-file footer min/max/count
    //      must equal per-bucket group aggregates, and a writer, stats
    //      or layout bug diverges the hash. At 100 TB the same walk is
    //      the NameNode-side planning step and files_pruned/n_files is
    //      the fraction of the table never opened (~15/16ths here:
    //      the window is the central quarter of both dimensions). -------
    Q("q259_zorder_skipping",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "lineitem").select(
          datediff($"l_shipdate".cast("date"),
            lit("1992-01-01").cast("date")).cast("long").as("x"),
          $"l_suppkey".cast("long").as("y"))
        val mmRow = base.agg(min($"x"), max($"x"), min($"y"), max($"y")).head()
        val (xmin, xmax) = (mmRow.getLong(0), mmRow.getLong(1))
        val (ymin, ymax) = (mmRow.getLong(2), mmRow.getLong(3))
        val (rx, ry) = (xmax - xmin + 1L, ymax - ymin + 1L)
        // central-quarter window in BOTH dimensions, integer-derived so
        // the oracle reproduces the exact bounds
        val (xa, xb) = (xmin + rx * 3 / 8, xmin + rx * 5 / 8 - 1)
        val (ya, yb) = (ymin + ry * 3 / 8, ymin + ry * 5 / 8 - 1)
        // per-process path component (same reason as sessionConfs'
        // warehouse UUID): a concurrent Bench and Verify JVM on the same
        // sfDir must not overwrite each other's layout mid-footer-walk
        val zdir = "/tmp/graft-zorder-skip/" +
          graft.core.Det.md5hex(dir).take(12) + "-" + zorderProcToken
        base
          .withColumn("x8", expr(s"((x - $xmin) * 256) DIV $rx"))
          .withColumn("y8", expr(s"((y - $ymin) * 256) DIV $ry"))
          .withColumn("z16",
            graft.functions.ZOrder.interleave("x8", "y8", bits = 8).cast("long"))
          .withColumn("zbucket", expr("z16 DIV 1024"))
          .select($"x", $"y", $"zbucket")
          // r17: pin the write exchange to the bucket-space width (z16 <
          // 65536 DIV 1024 = 64 buckets — value-derived, not a core-count
          // tune); without it AQE coalesced the small exchange to 4 tasks
          // and the write ran 4-wide. One file per bucket either way.
          .repartition(64, col("zbucket"))
          // layout CONTRACT: one row group per file, so file == row group
          // == pruning unit and the oracle's n_rowgroups (= bucket count)
          // is exact by construction, not by accident of small test files.
          // The 1 GiB block size keeps the contract until a single bucket
          // file exceeds 1 GiB — enforced loudly below rather than left to
          // diverge the gate hash silently.
          .write.mode("overwrite")
          .option("parquet.block.size", (1L << 30).toString)
          .partitionBy("zbucket").parquet(zdir)
        // real footer walk — the stats a pruning reader would consult
        import scala.jdk.CollectionConverters._
        val hconf = s.sparkContext.hadoopConfiguration
        val root = new org.apache.hadoop.fs.Path(zdir)
        val fs = root.getFileSystem(hconf)
        val files = {
          val it = fs.listFiles(root, true)
          val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
          while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) b += f.getPath }
          b.result()
        }
        final case class FileStats(rowGroups: Int, rows: Long,
            fxMin: Long, fxMax: Long, fyMin: Long, fyMax: Long)
        // r17: the footer walk is driver-side and was sequential — ~1 s of
        // open/close over the bucket files; order-preserving parallel map,
        // and every consumer reduces with order-independent aggregates
        val stats = graft.core.Par.mapOrdered(files) { p =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
          try {
            val blocks = r.getFooter.getBlocks.asScala.toSeq
            def colStats(name: String): Seq[org.apache.parquet.column.statistics.Statistics[_]] =
              blocks.map(_.getColumns.asScala
                .find(_.getPath.toDotString == name)
                .getOrElse(sys.error(s"column $name missing in footer of $p"))
                .getStatistics)
            def longs(st: Seq[org.apache.parquet.column.statistics.Statistics[_]],
                f: org.apache.parquet.column.statistics.Statistics[_] => Any): Seq[Long] =
              st.map(x => f(x).asInstanceOf[java.lang.Long].longValue)
            val (sx, sy) = (colStats("x"), colStats("y"))
            require(blocks.size == 1,
              s"z-order layout contract violated: ${blocks.size} row groups in $p — " +
                "a bucket file exceeded the 1 GiB block size; shrink buckets " +
                "(raise the zbucket divisor) so file == row group == pruning unit")
            FileStats(blocks.size, blocks.map(_.getRowCount).sum,
              longs(sx, _.genericGetMin).min, longs(sx, _.genericGetMax).max,
              longs(sy, _.genericGetMin).min, longs(sy, _.genericGetMax).max)
          } finally r.close()
        }
        val read = stats.filter(f =>
          f.fxMin <= xb && f.fxMax >= xa && f.fyMin <= yb && f.fyMax >= ya)
        // the distributed read-back: both range predicates must reach the
        // scan (PushedFilters) — rows_selected is the only non-footer field
        s.read.parquet(zdir)
          .filter($"x" >= xa && $"x" <= xb && $"y" >= ya && $"y" <= yb)
          .agg(count(lit(1)).as("rows_selected"))
          .select(
            lit(xa).as("xa"), lit(xb).as("xb"), lit(ya).as("ya"), lit(yb).as("yb"),
            lit(stats.size.toLong).as("n_files"),
            lit(stats.map(_.rowGroups.toLong).sum).as("n_rowgroups"),
            lit(read.size.toLong).as("files_read"),
            lit((stats.size - read.size).toLong).as("files_pruned"),
            lit(read.map(_.rows).sum).as("rows_scanned"),
            $"rows_selected")
      },
      Some(s"""WITH d AS (SELECT
            date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS x,
            CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
        $grid8Ctes
        zb AS (SELECT x, y,
            (${graft.functions.ZOrder.interleaveSql("x8", "y8", bits = 8)}) // 1024 AS zbucket
          FROM n),
        ${skipReport("zb", "zbucket")}""")),

    // ---- SMALL-FILE COMPACTION planner + executor (q259's storage layer,
    //      maintenance axis): the operational 100 TB lake problem — ingest
    //      leaves thousands of KB-scale files; readers pay a footer+open
    //      per file. The query (a) writes documents as a deliberately
    //      fragmented one-file-per-(doc_id%24) layout, (b) walks the REAL
    //      parquet footers for per-fragment row counts (the FooterStats
    //      metadata layer — no data scan), (c) plans bins by streaming
    //      concat in fragment order: bin = cumulative-rows-before div
    //      4096 (fragments are atomic, the same prefix-sum-div-capacity
    //      kernel as sequence packing; at 100 TB the prefix runs through
    //      PrefixOps, here the 24-row inventory folds on the driver —
    //      metadata-bounded like q259), (d) EXECUTES the compaction —
    //      one file per bin via hash-repartition + partitionBy — and
    //      (e) walks the COMPACTED footers back: actual_rows and
    //      files_written are read from the new files, so a row lost or
    //      duplicated by the rewrite diverges the gate. Oracle replays
    //      the fragment counts, the prefix-sum bin assignment, and the
    //      planned==actual identity. Capacity here is a ROW count — the
    //      exactly-SQL-replayable proxy; production compactors target a
    //      byte size, which q281 adds with footer-byte bins and
    //      invariant-flag gating (rows aren't a safe proxy when document
    //      lengths skew — ADVICE r12). ----------------------------------------
    Q("q276_compaction_planner",
      (s, dir) => {
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val targetRows = 4096L
        val base = s"/tmp/graft-compact/" +
          graft.core.Det.md5hex(dir).take(12) + "-" + zorderProcToken
        val fragDir = s"$base/frags"
        val binDir = s"$base/bins"
        t(s, dir, "documents")
          .withColumn("frag", ($"doc_id" % 24).cast("int"))
          .repartition($"frag")
          .write.mode("overwrite").partitionBy("frag").parquet(fragDir)
        val hconf = s.sparkContext.hadoopConfiguration
        def footerRows(root: String, key: String): Seq[(Int, Long)] =
          graft.core.FooterStats.listParquetFiles(s, root).map { f =>
            val k = f.getParent.getName.stripPrefix(s"$key=").toInt
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
            try (k, r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
            finally r.close()
          }
        // inventory: per-fragment rows summed across its files (≤24 rows)
        val inv = footerRows(fragDir, "frag").groupBy(_._1)
          .map { case (k, fs) => k -> fs.map(_._2).sum }.toSeq.sortBy(_._1)
        // streaming-concat plan: cumulative rows BEFORE each fragment
        val plan = inv.scanLeft((0, 0L, 0L)) { case ((_, cum, _), (frag, n)) =>
          (frag, cum + n, cum / targetRows)
        }.drop(1).map { case (frag, cumAfter, bin) => (frag, bin.toInt) }
        val binOf = plan.toMap
        val binCol = (0 until 24).foldLeft(lit(-1)) { (acc, f) =>
          when($"frag" === f, lit(binOf.getOrElse(f, -1))).otherwise(acc)
        }
        val nBins = plan.map(_._2).distinct.size
        s.read.parquet(fragDir)
          .withColumn("bin", binCol)
          .repartition(nBins, $"bin")
          .write.mode("overwrite").partitionBy("bin").parquet(binDir)
        val actual = footerRows(binDir, "bin").groupBy(_._1)
          .map { case (b, fs) => b -> (fs.map(_._2).sum, fs.size) }
        val rows = plan.groupBy(_._2).toSeq.map { case (bin, frags) =>
          val planned = frags.map(f => inv.find(_._1 == f._1).get._2).sum
          val (act, nf) = actual(bin)
          (bin, frags.size.toLong, planned, act, nf.toLong)
        }
        s.createDataFrame(rows.sortBy(_._1))
          .toDF("bin", "n_frags", "planned_rows", "actual_rows", "files_written")
          .orderBy($"bin")
      },
      Some("""WITH f AS (SELECT CAST(doc_id % 24 AS INT) AS frag, count(*) AS n
              FROM documents GROUP BY 1),
          c AS (SELECT frag, n,
                sum(n) OVER (ORDER BY frag ROWS UNBOUNDED PRECEDING) - n AS cum_before
              FROM f),
          p AS (SELECT frag, n, CAST(cum_before // 4096 AS INT) AS bin FROM c)
          SELECT bin, count(*) AS n_frags,
            CAST(sum(n) AS BIGINT) AS planned_rows,
            CAST(sum(n) AS BIGINT) AS actual_rows,
            CAST(1 AS BIGINT) AS files_written
          FROM p GROUP BY bin ORDER BY bin""")),

    // ---- BYTE-binned compaction (q276's production knob — VERDICT r12
    //      item 6 / ADVICE): bins are planned by CUMULATIVE FOOTER BYTES
    //      (each block's total_byte_size from the real fragment footers,
    //      prefix-sum ÷ a byte target, fragments atomic) — the unit a
    //      128 MB-class lake compactor actually plans in, because
    //      row-uniform bins stay byte-skewed when document lengths skew.
    //      Byte sizes are encoding facts, NOT SQL-replayable — so the gate
    //      takes the q279 theorem shape: per-fragment rows (exactly
    //      replayable) ride next to engine-verified INVARIANT flags that
    //      any planner/executor bug flips to 0 and diverges the hash:
    //      bins contiguous in fragment order; every multi-fragment bin
    //      fits the byte target (a lone oversized fragment is allowed —
    //      it can't be split without breaking fragment atomicity); the
    //      EXECUTED rewrite lands one file per bin; that file's footer
    //      returns exactly the planned rows; and its total_byte_size is
    //      within 3x of the planned bytes (same rows, same writer — the
    //      slack only absorbs encoding drift, a dropped or doubled
    //      fragment is far outside it). ----------------------------------------
    Q("q281_compaction_bytes",
      (s, dir) => {
        import s.implicits._
        import scala.jdk.CollectionConverters._
        // 32 KiB: small enough that the 24-fragment test corpora plan
        // MULTI-fragment bins at sf0.001/sf0.01 (capacity invariant
        // active) while sf0.1's ~70 KiB fragments exercise the oversized-
        // single-fragment atomicity case — both planner branches gated.
        // Production would pass 128 MiB; the kernel is unit-blind.
        val targetBytes = 32L * 1024
        val base = s"/tmp/graft-compact/" +
          graft.core.Det.md5hex(dir).take(12) + "-" + zorderProcToken + "-by"
        val fragDir = s"$base/frags"
        val binDir = s"$base/bins"
        t(s, dir, "documents")
          .withColumn("frag", ($"doc_id" % 24).cast("int"))
          .repartition($"frag")
          .write.mode("overwrite").partitionBy("frag").parquet(fragDir)
        val hconf = s.sparkContext.hadoopConfiguration
        // footer walk: per-fragment (rows, total_byte_size) — metadata only
        def footerStats(root: String, key: String): Seq[(Int, Long, Long)] =
          graft.core.FooterStats.listParquetFiles(s, root).map { f =>
            val k = f.getParent.getName.stripPrefix(s"$key=").toInt
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
            try {
              val blocks = r.getFooter.getBlocks.asScala
              (k, blocks.map(_.getRowCount).sum, blocks.map(_.getTotalByteSize).sum)
            } finally r.close()
          }
        val inv = footerStats(fragDir, "frag").groupBy(_._1)
          .map { case (k, fs) => (k, fs.map(_._2).sum, fs.map(_._3).sum) }
          .toSeq.sortBy(_._1)
        // NEXT-FIT packing over BYTES in fragment order: close the bin
        // when the next fragment would overflow the target (q276's
        // prefix-sum-÷-capacity lets the boundary fragment overflow — fine
        // for a row proxy, wrong for a byte budget). One driver pass over
        // the ≤24-row metadata inventory; at 100 TB the same fold runs
        // over a footer inventory that is still only one row per fragment.
        val plan = {
          var bin = 0; var cur = 0L
          inv.map { case (frag, _, b) =>
            if (cur > 0 && cur + b > targetBytes) { bin += 1; cur = 0L }
            cur += b
            (frag, bin)
          }
        }
        val binOf = plan.toMap
        val binCol = (0 until 24).foldLeft(lit(-1)) { (acc, f) =>
          when($"frag" === f, lit(binOf.getOrElse(f, -1))).otherwise(acc)
        }
        val nBins = plan.map(_._2).distinct.size
        s.read.parquet(fragDir)
          .withColumn("bin", binCol)
          .repartition(nBins, $"bin")
          .write.mode("overwrite").partitionBy("bin").parquet(binDir)
        val actual = footerStats(binDir, "bin").groupBy(_._1)
          .map { case (b, fs) =>
            b -> (fs.map(_._2).sum, fs.map(_._3).sum, fs.size) }
        val planned = plan.groupBy(_._2).map { case (bin, frags) =>
          bin -> (frags.map(f => inv.find(_._1 == f._1).get._2).sum,
            frags.map(f => inv.find(_._1 == f._1).get._3).sum, frags.size)
        }
        val rows = inv.map { case (frag, nRows, _) =>
          val bin = binOf(frag)
          val (pRows, pBytes, pFrags) = planned(bin)
          val (aRows, aBytes, aFiles) = actual(bin)
          (frag, nRows,
            // contiguity: fragment order survives into bin order
            if (frag == 0 || binOf(frag - 1) <= bin) 1 else 0,
            // capacity: multi-fragment bins fit the byte target
            if (pFrags == 1 || pBytes <= targetBytes) 1 else 0,
            // executed rewrite: one file per bin, planned rows exactly
            if (aFiles == 1 && aRows == pRows) 1 else 0,
            // compacted footer bytes within encoding-drift slack of plan
            if (aBytes * 3 >= pBytes && aBytes <= pBytes * 3) 1 else 0)
        }
        s.createDataFrame(rows).toDF("frag", "n_rows", "bin_contiguous",
            "fits_or_single", "rows_roundtrip", "bytes_roundtrip")
          .select($"frag", $"n_rows", $"bin_contiguous".cast("int").as("bin_contiguous"),
            $"fits_or_single".cast("int").as("fits_or_single"),
            $"rows_roundtrip".cast("int").as("rows_roundtrip"),
            $"bytes_roundtrip".cast("int").as("bytes_roundtrip"))
          .orderBy($"frag")
      },
      Some("""SELECT CAST(doc_id % 24 AS INT) AS frag,
            count(*) AS n_rows,
            CAST(1 AS INT) AS bin_contiguous,
            CAST(1 AS INT) AS fits_or_single,
            CAST(1 AS INT) AS rows_roundtrip,
            CAST(1 AS INT) AS bytes_roundtrip
          FROM documents GROUP BY 1 ORDER BY frag""")),

    // ---- BUCKET-PRUNED point lookup (the read-side payoff of the
    //      bucketed layout ScaleOpsSpec proves shuffle-free joins on):
    //      orders written bucketBy(16, o_custkey); an equality probe on
    //      the bucket column scans ONE bucket's files — the executed scan
    //      advertises "SelectedBucketsCount: 1 out of 16" (pinned in
    //      PlanShapeSpec). At 100 TB this is the difference between a
    //      full-table scan and 1/16th of one for every keyed lookup,
    //      with zero index structures — the layout IS the index. Probe
    //      key = min(o_custkey) (deterministic, reaches the plan as a
    //      literal so bucket pruning can fire). The keyed aggregate rides
    //      the SAME layout shuffle-free (the scan's hash distribution
    //      already satisfies the agg — no Exchange in the pinned plan);
    //      a bare filter-project would let the planner fall back to a
    //      non-bucketed scan and silently lose the pruning. -----------------
    Q("q278_bucket_pruned_lookup",
      (s, dir) => {
        import s.implicits._
        s.sql("CREATE DATABASE IF NOT EXISTS graftbuckets")
        val tbl = "graftbuckets.orders_bkt_" + graft.core.Det.md5hex(dir).take(8)
        Tables(s, dir, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .write.mode("overwrite")
          .bucketBy(16, "o_custkey").sortBy("o_custkey").saveAsTable(tbl)
        val probe = Tables(s, dir, "orders")
          .agg(min($"o_custkey")).head().getLong(0)
        s.table(tbl).filter($"o_custkey" === probe)
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            min($"o_orderkey").as("first_order"),
            max($"o_orderkey").as("last_order"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("sum_total"))
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n_orders,
            min(o_orderkey) AS first_order, max(o_orderkey) AS last_order,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
          FROM orders
          WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
          GROUP BY o_custkey ORDER BY o_custkey""")),

    // ---- PARQUET BLOOM-FILTER consistency audit (q259's footer layer,
    //      bloom axis): documents written one-file-per-(doc_id%8) with
    //      parquet.bloom.filter.enabled#doc_id, then every row group's
    //      REAL bloom filter (parquet-hadoop BloomFilterReader, split-
    //      block xxhash64 bits) is probed for a fixed key. Bloom bits are
    //      an OR of value hashes — insertion-order-free, so the filter is
    //      a pure function of each fragment's doc_id SET — but the bits
    //      aren't SQL-expressible, so the gate emits the filter's
    //      deterministic IMPLICATION (q201's theorem pattern): maybe=0
    //      must imply the key is truly absent (no false negatives,
    //      checked per fragment against the data), while the skip COUNT
    //      stays a diagnostic. A reader honoring these blooms would open
    //      only maybe=1 files for this probe. ------------------------------
    Q("q279_bloom_rowgroup_audit",
      (s, dir) => {
        import s.implicits._
        import scala.jdk.CollectionConverters._
        val probe = 42L
        val base = s"/tmp/graft-bloom/" +
          graft.core.Det.md5hex(dir).take(12) + "-" + zorderProcToken
        t(s, dir, "documents").select($"doc_id",
            ($"doc_id" % 8).cast("int").as("frag"))
          .repartition($"frag")
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#doc_id", "true")
          .partitionBy("frag").parquet(base)
        val hconf = s.sparkContext.hadoopConfiguration
        val files = graft.core.FooterStats.listParquetFiles(s, base)
        val maybeByFrag: Map[Int, Boolean] = files.map { p =>
          val frag = p.getParent.getName.stripPrefix("frag=").toInt
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
          try {
            val maybe = r.getFooter.getBlocks.asScala.exists { blk =>
              val cc = blk.getColumns.asScala
                .find(_.getPath.toDotString == "doc_id")
                .getOrElse(sys.error(s"doc_id missing in footer of $p"))
              val bf = r.getBloomFilterDataReader(blk).readBloomFilter(cc)
              require(bf != null, s"bloom filter missing for doc_id in $p")
              bf.findHash(bf.hash(probe))
            }
            frag -> maybe
          } finally r.close()
        }.groupBy(_._1).map { case (f, vs) => f -> vs.exists(_._2) }
        val maybeCol = (0 until 8).foldLeft(lit(false)) { (acc, f) =>
          when($"frag" === f, lit(maybeByFrag.getOrElse(f, false))).otherwise(acc)
        }
        s.read.parquet(base)
          .groupBy($"frag")
          .agg(sum(when($"doc_id" === probe, 1L).otherwise(0L)).as("key_rows"))
          .withColumn("bloom_maybe01", maybeCol.cast("int"))
          .select($"frag".cast("int").as("frag"), $"key_rows",
            // the filter contract: maybe=0 ⇒ key absent — ALWAYS 1; a
            // bloom that loses its key flips this and diverges the hash
            when($"bloom_maybe01" === 0 && $"key_rows" > 0, 0)
              .otherwise(1).cast("int").as("no_false_negative"),
            // home fragment must read maybe=1 (its set contains the key)
            when($"frag" === (probe % 8).toInt,
              $"bloom_maybe01").otherwise(lit(1)).cast("int").as("home_hit"))
          .orderBy($"frag")
      },
      Some("""SELECT CAST(doc_id % 8 AS INT) AS frag,
            CAST(sum(CASE WHEN doc_id = 42 THEN 1 ELSE 0 END) AS BIGINT) AS key_rows,
            CAST(1 AS INT) AS no_false_negative,
            CAST(1 AS INT) AS home_hit
          FROM documents GROUP BY 1 ORDER BY frag""")),

    // ---- deterministic stratified sample: fixed-size per-stratum draw
    //      keyed by md5 of the row key — partition-invariant (unlike
    //      rand()-based sampleBy) and reproducible in any engine. The
    //      per-stratum cut runs on the custom heap-based TopKPerKey
    //      operator: O(k) state per stratum, so a billion-row stratum
    //      streams through instead of sorting on one task (the window
    //      row_number form would buffer the whole stratum). The final
    //      rk numbering windows over the ≤ k·strata SURVIVORS only. -------
    Q("q90_stratified_sample",
      (s, dir) => {
        import s.implicits._
        val cut = graft.plans.TopK.perKey(
          t(s, dir, "documents")
            .select($"source", $"doc_id", $"lang",
              md5($"doc_id".cast("string")).as("rk_hash")),
          keyCols = Seq("source"),
          order = Seq(graft.plans.TopK.Order("rk_hash"),
            graft.plans.TopK.Order("doc_id")),
          k = 2)
        val w = Window.partitionBy($"source").orderBy($"rk_hash", $"doc_id")
        cut.withColumn("rk", row_number().over(w))
          .select($"source", $"doc_id", $"lang", $"rk")
          .orderBy($"source", $"rk")
      },
      Some("""SELECT source, doc_id, lang, CAST(rk AS INT) AS rk FROM (
          SELECT source, doc_id, lang, row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
        WHERE rk <= 2 ORDER BY source, rk""")),

    // ---- CUBE grouping sets: revenue over every subset of
    //      (market segment, order priority) in ONE aggregation pass —
    //      Catalyst plans an Expand (×4 grouping sets) feeding a single
    //      partial+final aggregate, exactly like q79's ROLLUP but over the
    //      full lattice. grouping_id() disambiguates real NULLs from
    //      subtotal rows. Exact decimal sums — associative under any
    //      partitioning — cast to double at the edge. ---------------------
    Q("q101_cube_revenue",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").join(t(s, dir, "customer"),
            $"o_custkey" === $"c_custkey")
          .cube($"c_mktsegment", $"o_orderpriority")
          .agg(grouping_id().cast("int").as("gid"),
            count(lit(1)).as("n_orders"),
            sum(Num.dec2($"o_totalprice")).cast("double").as("revenue"))
          .select($"gid", $"c_mktsegment", $"o_orderpriority", $"n_orders", $"revenue")
          .orderBy($"gid", $"c_mktsegment", $"o_orderpriority")
      },
      Some("""SELECT CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
          c_mktsegment, o_orderpriority, count(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY CUBE (c_mktsegment, o_orderpriority)
        ORDER BY gid, c_mktsegment, o_orderpriority""")),

    // ---- time-series gap fill: hourly event counts INCLUDING empty hours.
    //      The hour spine derives from a 1-row min/max aggregate expanded
    //      row-locally (sequence + explode — no driver collect, no
    //      generate_series job) and cross-joins the 5 event types — both
    //      sides metadata-sized, so the spine build is a broadcast, and the
    //      only data shuffle is the hourly count aggregation. LEFT join +
    //      coalesce(0) fills the gaps. ------------------------------------
    Q("q102_gap_fill",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val spine = ev
          .agg(date_trunc("hour", min($"ts")).as("h0"),
            date_trunc("hour", max($"ts")).as("h1"))
          .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
          .crossJoin(ev.select($"event_type").distinct())
        val counts = ev
          .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
          .agg(count(lit(1)).as("n"))
        spine.join(counts, Seq("hour", "event_type"), "left")
          .select($"hour", $"event_type", coalesce($"n", lit(0L)).as("n_events"))
          .orderBy($"hour", $"event_type")
      },
      Some("""WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
            date_trunc('hour', max(ts)) AS h1 FROM events),
        spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT s.hour, t.event_type, COALESCE(c.n, 0) AS n_events
        FROM spine s CROSS JOIN types t
        LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
        ORDER BY s.hour, t.event_type""")),

    // ---- column profile: per-column completeness + cardinality in ONE
    //      scan — the audit that runs before every ingest decision. The
    //      multi-distinct aggregate plans via Expand (row ×N_cols), a
    //      deliberate, documented trade: profiling is occasional and one
    //      expanded shuffle beats N separate scans of a 100 TB table. The
    //      single result row unpivots row-locally (stack). ----------------
    Q("q113_column_profile",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
        val cols = c.schema.fieldNames.toSeq
        val aggs = cols.flatMap(n => Seq(
          sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"${n}__nulls"),
          countDistinct(col(n)).as(s"${n}__distinct")))
        val stackExpr = cols.map(n =>
          s"'$n', ${n}__nulls, ${n}__distinct").mkString(", ")
        c.agg(aggs.head, aggs.tail: _*)
          .select(expr(
            s"stack(${cols.size}, $stackExpr) AS (col_name, n_null, n_distinct)"))
          .crossJoin(broadcast(c.agg(count(lit(1)).as("n_rows"))))
          .select($"col_name", $"n_rows", $"n_null", $"n_distinct")
          .orderBy($"col_name")
      },
      Some("""WITH n AS (SELECT count(*) AS n_rows FROM customer)
        SELECT col_name, n_rows, n_null, n_distinct FROM (
          SELECT 'c_custkey' AS col_name, n_rows,
            (SELECT count(*) FROM customer WHERE c_custkey IS NULL) AS n_null,
            (SELECT count(DISTINCT c_custkey) FROM customer) AS n_distinct FROM n
          UNION ALL SELECT 'c_name', n_rows,
            (SELECT count(*) FROM customer WHERE c_name IS NULL),
            (SELECT count(DISTINCT c_name) FROM customer) FROM n
          UNION ALL SELECT 'c_nationkey', n_rows,
            (SELECT count(*) FROM customer WHERE c_nationkey IS NULL),
            (SELECT count(DISTINCT c_nationkey) FROM customer) FROM n
          UNION ALL SELECT 'c_acctbal', n_rows,
            (SELECT count(*) FROM customer WHERE c_acctbal IS NULL),
            (SELECT count(DISTINCT c_acctbal) FROM customer) FROM n
          UNION ALL SELECT 'c_mktsegment', n_rows,
            (SELECT count(*) FROM customer WHERE c_mktsegment IS NULL),
            (SELECT count(DISTINCT c_mktsegment) FROM customer) FROM n)
        ORDER BY col_name""")),

    // ---- quantile sketch audit: per-group EXACT percentiles (p50/p90/p99
    //      of extended price) alongside a rank check of the t-digest-style
    //      `approx_percentile` sketch — the q91 count-min / bloom pattern
    //      applied to quantiles. The oracle can only replay the exact side
    //      (DuckDB has no GK sketch), so the approx value itself never
    //      leaves the plan: the emitted column is the RANK-BOUND verdict
    //      (fraction of rows ≤ sketch value within p ± 1%, guaranteed by
    //      accuracy=10000 ⇒ rank error ≤ 0.01%·n plus ties), which the
    //      oracle asserts as literal 1. Two passes over lineitem — the
    //      exact+sketch aggregation, then a broadcast probe re-counting
    //      ranks of the 12 sketch values; both single-shuffle. At 100 TB
    //      the exact percentile is the luxury (full sort-based aggregation
    //      buffering per group) and the sketch is the product — mergeable,
    //      bounded-memory partials; this query is the accuracy monitor one
    //      runs at small scale to trust the sketch at large. ---------------
    Q("q117_quantile_audit",
      (s, dir) => {
        import s.implicits._
        val ps = Seq(0.5, 0.9, 0.99)
        // r16: four consumers (cum build, rank table, approx sketch, rank
        // audit) each re-scanned the table — materialize the 2-column
        // projection once (q263's pattern); dropped between queries
        val li = t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_extendedprice").persist()
        li.count()
        // cumulative counts over DISTINCT prices per group (the window sorts
        // ~distinct-values rows, not the raw table). The type-7 interpolation
        // x_lo + (x_hi − x_lo)·frac is written out EXPLICITLY and identically
        // in the oracle: built-in percentile/quantile_cont pairs differ by an
        // ulp (observed flipping a price across the cent boundary), while the
        // same IEEE expression over the same order statistics is bit-exact.
        val cum = li.groupBy($"l_returnflag", $"l_extendedprice")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum($"cnt").over(Window.partitionBy($"l_returnflag")
            .orderBy($"l_extendedprice")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("prev", $"cum" - $"cnt")
          .persist() // r16: both rank probes (lo, hi) read it — one window
        cum.count() // eager: a lazy persist first touched inside the
                    // lo⋈hi self-join plans pathologically (A13 pattern)
        val ranks = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
          .select($"l_returnflag", $"n", explode(typedLit(ps)).as("p"))
          .withColumn("r", ($"n" - 1).cast("double") * $"p")
          .withColumn("k_lo", floor($"r"))
          .withColumn("k_hi", ceil($"r"))
        val lo = cum.join(broadcast(ranks), Seq("l_returnflag"))
          .where($"prev" <= $"k_lo" && $"k_lo" < $"cum")
          .select($"l_returnflag", $"p", $"n", $"r",
            $"l_extendedprice".as("x_lo"))
        val hi = cum.join(broadcast(ranks.select($"l_returnflag", $"p", $"k_hi")),
            Seq("l_returnflag"))
          .where($"prev" <= $"k_hi" && $"k_hi" < $"cum")
          .select($"l_returnflag", $"p", $"l_extendedprice".as("x_hi"))
        val exact = lo.join(hi, Seq("l_returnflag", "p"))
          .select($"l_returnflag", $"p", $"n",
            ($"x_lo" + ($"x_hi" - $"x_lo") * ($"r" - floor($"r"))).as("exact_v"))
        // sketch audit: re-count the rank of each approx value; accuracy
        // 10000 bounds rank error at 0.01%·n, well inside ±1%. The returned
        // value's true rank is anywhere in (rank_lt, rank_le] when the value
        // carries tie mass, so the verdict tests the INTERVAL against p —
        // a value tied across >1% of a group cannot flip the gate.
        val appr = li.groupBy($"l_returnflag")
          .agg(percentile_approx($"l_extendedprice", typedLit(ps), lit(10000)).as("a"))
          .select($"l_returnflag", posexplode($"a"))
          .select($"l_returnflag",
            element_at(typedLit(ps), $"pos" + 1).as("p"), $"col".as("appr_v"))
        val audit = li.join(broadcast(appr), Seq("l_returnflag"))
          .groupBy($"l_returnflag", $"p")
          .agg(sum(when($"l_extendedprice" <= $"appr_v", 1L).otherwise(0L)).as("rank_le"),
            sum(when($"l_extendedprice" < $"appr_v", 1L).otherwise(0L)).as("rank_lt"))
        exact.join(audit, Seq("l_returnflag", "p"))
          .select($"l_returnflag", $"p", $"exact_v".as("exact_price"),
            when($"p" >= $"rank_lt".cast("double") / $"n" - 0.01 &&
                 $"p" <= $"rank_le".cast("double") / $"n" + 0.01, 1)
              .otherwise(0).cast("int").as("approx_ok"))
          .orderBy($"l_returnflag", $"p")
      },
      Some("""WITH cum AS (
            SELECT l_returnflag, l_extendedprice, count(*) AS cnt,
              sum(count(*)) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                ROWS UNBOUNDED PRECEDING) AS cum
            FROM lineitem GROUP BY l_returnflag, l_extendedprice),
          c2 AS (SELECT *, cum - cnt AS prev FROM cum),
          ranks AS (SELECT l_returnflag, count(*) AS n, unnest([0.5, 0.9, 0.99]) AS p
                    FROM lineitem GROUP BY l_returnflag),
          r2 AS (SELECT l_returnflag, n, p, CAST(n - 1 AS DOUBLE) * p AS r,
                   floor(CAST(n - 1 AS DOUBLE) * p) AS k_lo,
                   ceil(CAST(n - 1 AS DOUBLE) * p) AS k_hi
                 FROM ranks),
          lo AS (SELECT c2.l_returnflag, p, r, l_extendedprice AS x_lo
                 FROM c2 JOIN r2 ON c2.l_returnflag = r2.l_returnflag
                  AND prev <= k_lo AND k_lo < cum),
          hi AS (SELECT c2.l_returnflag, p, l_extendedprice AS x_hi
                 FROM c2 JOIN r2 ON c2.l_returnflag = r2.l_returnflag
                  AND prev <= k_hi AND k_hi < cum)
          SELECT lo.l_returnflag, lo.p,
                 x_lo + (x_hi - x_lo) * (r - floor(r)) AS exact_price,
                 1 AS approx_ok
          FROM lo JOIN hi ON lo.l_returnflag = hi.l_returnflag AND lo.p = hi.p
          ORDER BY lo.l_returnflag, lo.p""")),

    // ---- HyperLogLog distinct audit: exact countDistinct beside the
    //      `approx_count_distinct` sketch verdict. rsd 2% is a STANDARD
    //      DEVIATION, not a hard bound, and HLL++ bias-correction crossover
    //      cardinalities can exceed 3σ — the verdict uses a ±15% sanity
    //      margin (catches an off-by-magnitude sketch bug, never flips on
    //      legitimate estimator variance). The q117 pattern applied to
    //      cardinality. At 100 TB the exact
    //      count (an Expand + two-phase distinct aggregation) is the
    //      occasional calibration pass; the HLL sketch — a fixed few-KB
    //      mergeable register set per group, map-side combined — is what a
    //      monitoring pipeline actually runs. The sketch estimate itself
    //      never leaves the plan (no DuckDB HLL to mirror); the emitted
    //      column is the bound verdict the oracle asserts as 1. -----------
    Q("q120_hll_audit",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").groupBy($"l_returnflag")
          .agg(countDistinct($"l_orderkey").as("exact_distinct"),
            approx_count_distinct($"l_orderkey", 0.02).as("hll"))
          .select($"l_returnflag", $"exact_distinct",
            when(abs($"hll".cast("double") / $"exact_distinct" - 1.0) <= 0.15, 1)
              .otherwise(0).cast("int").as("hll_ok"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct,
            1 AS hll_ok
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- functional-dependency discovery (data-profiling sweep): for
    //      each candidate A→B, count LHS groups carrying >1 distinct RHS
    //      value. This is the column-level evidence a schema-matching
    //      pipeline feeds on (key discovery, denormalization detection) —
    //      the distributed analogue of the reference's uniqueness audit
    //      (project_datasets.py's constraint checks) widened to arbitrary
    //      determinant sets, incl. a COMPOSITE LHS. One candidate = one
    //      groupBy shuffle on its own LHS (partial-agg'd countDistinct)
    //      collapsing to a 1-row summary; candidates then union — at 100 TB
    //      each runs independently, nothing cross-candidate. The candidate
    //      LIST is one Scala value driving BOTH engines, so the plans
    //      can't drift from the oracle. ------------------------------------
    Q("q203_fd_discovery",
      (s, dir) => {
        import s.implicits._
        fdCandidates.map { case (tab, lhs, rhs) =>
          t(s, dir, tab)
            .groupBy(lhs.map(col): _*)
            .agg(countDistinct(col(rhs)).as("d"))
            .agg(count(lit(1)).as("n_groups"),
              sum(when($"d" > 1, 1L).otherwise(0L)).as("viol_groups"),
              sum($"d" - 1).as("extra_vals"))
            .select(lit(tab).as("tab"),
              lit(s"${lhs.mkString(",")} -> $rhs").as("fd"),
              $"n_groups".cast("long").as("n_groups"),
              $"viol_groups".cast("long").as("viol_groups"),
              $"extra_vals".cast("long").as("extra_vals"),
              when($"viol_groups" === 0, 1).otherwise(0).cast("int").as("holds"))
        }.reduce(_ unionByName _).orderBy($"tab", $"fd")
      },
      Some(fdCandidates.map { case (tab, lhs, rhs) =>
        s"""SELECT '$tab' AS tab, '${lhs.mkString(",")} -> $rhs' AS fd,
            CAST(count(*) AS BIGINT) AS n_groups,
            CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS viol_groups,
            CAST(sum(d - 1) AS BIGINT) AS extra_vals,
            CAST(CASE WHEN sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0
                 THEN 1 ELSE 0 END AS INT) AS holds
          FROM (SELECT ${lhs.mkString(", ")}, count(DISTINCT $rhs) AS d
                FROM $tab GROUP BY ${lhs.mkString(", ")})"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY tab, fd"))),

    // ---- inclusion-dependency / foreign-key discovery: distinct-value
    //      containment child ⊆ parent for every candidate column pair —
    //      the cross-TABLE half of schema profiling (q203 is the
    //      cross-COLUMN half); together they recover the join graph a
    //      mapping pipeline needs when XML/DDL metadata is absent. Each
    //      candidate: child-side distinct (one shuffle, pre-aggregated
    //      map-side), left join against the parent's distinct set —
    //      key-sized tables, broadcastable when the parent is a dimension.
    //      containment is one int/int double division; is_fk is the exact
    //      n_contained = n_child integer predicate. orders⊆lineitem fails
    //      on the driver data (257 orders have no lineitems) so the
    //      verdict column genuinely discriminates. -------------------------
    Q("q204_ind_discovery",
      (s, dir) => {
        import s.implicits._
        indCandidates.map { case (ct, cc, pt, pc) =>
          val cx = t(s, dir, ct).select(col(cc).as("v")).distinct()
          val px = t(s, dir, pt).select(col(pc).as("v")).distinct()
          cx.join(px.withColumn("hit", lit(1)), Seq("v"), "left")
            .agg(count(lit(1)).as("n_child"),
              sum(coalesce($"hit", lit(0))).as("n_contained"))
            .select(lit(s"$ct.$cc").as("child_col"),
              lit(s"$pt.$pc").as("parent_col"),
              $"n_child".cast("long").as("n_child"),
              $"n_contained".cast("long").as("n_contained"),
              ($"n_contained".cast("double") / $"n_child").as("containment"),
              when($"n_contained" === $"n_child", 1).otherwise(0)
                .cast("int").as("is_fk"))
        }.reduce(_ unionByName _).orderBy($"child_col", $"parent_col")
      },
      Some(indCandidates.map { case (ct, cc, pt, pc) =>
        s"""SELECT '$ct.$cc' AS child_col, '$pt.$pc' AS parent_col,
            CAST(count(*) AS BIGINT) AS n_child,
            CAST(sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contained,
            CAST(sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS containment,
            CAST(CASE WHEN sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) = count(*)
                 THEN 1 ELSE 0 END AS INT) AS is_fk
          FROM (SELECT DISTINCT $cc AS v FROM $ct) c
          LEFT JOIN (SELECT DISTINCT $pc AS v FROM $pt) p USING (v)"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY child_col, parent_col"))),

    // ---- Benford first-digit audit over money columns — the
    //      synthetic-data / fraud / unit-mixing screen: naturally-grown
    //      multiplicative amounts follow log10(1+1/d); a generator that
    //      draws uniforms (this driver corpus does) or a feed that
    //      silently rebases units shows up as a flat digit histogram. The
    //      audit emits observed share beside the Benford expectation so
    //      the deviation is the deliverable, not a pass/fail gamble on
    //      synthetic data. First-digit extraction is INTEGER-exact in both
    //      engines: cents = round(x·100) as BIGINT → first char of the
    //      decimal string — never floor(log10) float gymnastics. share is
    //      one division of identical longs (bit-identical); the Benford
    //      constant is rounded to 6 dp on both sides (libm log10 is not
    //      correctly-rounded-portable, q87's rule). One groupBy per
    //      column over 9 digits — map-side combined, scale-free. ----------
    Q("q205_benford_audit",
      (s, dir) => {
        import s.implicits._
        benfordCols.map { case (tab, c) =>
          t(s, dir, tab)
            .select(substring(expr(s"CAST(round($c * 100) AS BIGINT)").cast("string"), 1, 1)
              .cast("int").as("digit"))
            .groupBy($"digit").agg(count(lit(1)).as("observed"))
            .select(lit(s"$tab.$c").as("col_name"), $"digit",
              $"observed".cast("long").as("observed"))
        }.reduce(_ unionByName _)
          .join(broadcast(
            benfordCols.map { case (tab, c) =>
              t(s, dir, tab).agg(count(lit(1)).as("total"))
                .select(lit(s"$tab.$c").as("col_name"), $"total")
            }.reduce(_ unionByName _)), Seq("col_name"))
          .select($"col_name", $"digit", $"observed",
            ($"observed".cast("double") / $"total").as("share"),
            round(log10(lit(1.0) + lit(1.0) / $"digit"), 6).as("benford"))
          .orderBy($"col_name", $"digit")
      },
      Some(benfordCols.map { case (tab, c) =>
        s"""SELECT '$tab.$c' AS col_name, digit,
            CAST(count(*) AS BIGINT) AS observed,
            CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM $tab) AS share,
            round(log10(1.0 + 1.0 / digit), 6) AS benford
          FROM (SELECT CAST(substr(CAST(CAST(round($c * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
                FROM $tab)
          GROUP BY digit"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name, digit"))),

    // ---- instance-informed SCHEMA MATCHING, the reference's core problem
    //      (its LLM proposes source→target attribute maps; this is the
    //      classical signal stack the literature matches against): for
    //      every customer×supplier column pair, fuse NAME similarity (the
    //      q199 damerau_levenshtein kernel, transposition-aware) with
    //      INSTANCE-profile similarity (type class + distinct-ratio
    //      delta, the q203/q204 statistics), weights in exact binary
    //      fractions (1/2, 1/4, 1/4 — one fused double, deterministic).
    //      Each table's profile is ONE scan (a single multi-aggregate row
    //      unpivoted with stack); the pair matrix is |A|×|B| rows of
    //      metadata, driver-free and trivially broadcastable. Output =
    //      the argmax proposal per source column with total tie-breaks —
    //      on the driver data it recovers the homologous s_* column for
    //      every c_* except the unmatched c_custkey/c_mktsegment, whose
    //      best scores stay visibly lower. ---------------------------------
    Q("q209_schema_match",
      (s, dir) => {
        import s.implicits._
        graft.expressions.TextExpressions.register(s)
        def profile(tab: String, cols: Seq[(String, String)]) = {
          val aggs = cols.flatMap { case (c, _) =>
            Seq(countDistinct(col(c)).as(s"d_$c"),
              sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"z_$c"))
          } :+ count(lit(1)).as("n")
          t(s, dir, tab).agg(aggs.head, aggs.tail: _*)
            .selectExpr("n", s"stack(${cols.size}, " +
              cols.map { case (c, tc) => s"'$c', '$tc', d_$c, z_$c" }.mkString(", ") +
              ") AS (col, tclass, n_distinct, n_null)")
        }
        val pa = profile("customer", custCols)
          .select($"col".as("a_col"), $"tclass".as("a_t"),
            ($"n_distinct".cast("double") / $"n").as("a_ratio"))
        val pb = profile("supplier", suppCols)
          .select($"col".as("b_col"), $"tclass".as("b_t"),
            ($"n_distinct".cast("double") / $"n").as("b_ratio"))
        val scored = pa.crossJoin(pb)
          .withColumn("name_sim",
            lit(1.0) - call_function("damerau_levenshtein", $"a_col", $"b_col")
              .cast("double") / greatest(length($"a_col"), length($"b_col")))
          .withColumn("type_match", when($"a_t" === $"b_t", 1).otherwise(0))
          .withColumn("ratio_diff", abs($"a_ratio" - $"b_ratio"))
          .withColumn("score",
            lit(0.5) * $"name_sim" + lit(0.25) * $"type_match" +
              lit(0.25) * (lit(1.0) - $"ratio_diff"))
        val w = Window.partitionBy($"a_col").orderBy($"score".desc, $"b_col")
        scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"a_col", $"b_col", $"name_sim",
            $"type_match".cast("int").as("type_match"), $"score")
          .orderBy($"a_col")
      },
      Some {
        def profSql(tab: String, cols: Seq[(String, String)]) =
          cols.map { case (c, tc) =>
            s"""SELECT '$c' AS col, '$tc' AS tclass,
                CAST(count(DISTINCT $c) AS DOUBLE) / count(*) AS ratio
              FROM $tab"""
          }.mkString(" UNION ALL ")
        s"""WITH pa AS (${profSql("customer", custCols)}),
          pb AS (${profSql("supplier", suppCols)}),
          scored AS (SELECT pa.col AS a_col, pb.col AS b_col,
              CAST(1.0 AS DOUBLE) - CAST(damerau_levenshtein(pa.col, pb.col) AS DOUBLE)
                / greatest(length(pa.col), length(pb.col)) AS name_sim,
              CASE WHEN pa.tclass = pb.tclass THEN 1 ELSE 0 END AS type_match,
              abs(pa.ratio - pb.ratio) AS ratio_diff
            FROM pa, pb)
          SELECT a_col, b_col, name_sim, CAST(type_match AS INT) AS type_match,
            CAST(0.5 AS DOUBLE) * name_sim + CAST(0.25 AS DOUBLE) * type_match
              + CAST(0.25 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - ratio_diff) AS score
          FROM (SELECT *, row_number() OVER (PARTITION BY a_col ORDER BY
                  CAST(0.5 AS DOUBLE) * name_sim + CAST(0.25 AS DOUBLE) * type_match
                    + CAST(0.25 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - ratio_diff) DESC, b_col) AS rn
                FROM scored)
          WHERE rn = 1 ORDER BY a_col"""
      }),

    // ---- per-group OLS trend lines (closed-form simple regression) —
    //      "is this segment's spend drifting?" as one distributed pass:
    //      slope/intercept of o_totalprice (cents) over o_orderdate
    //      (days since 1992-01-01) per order priority. The five sums
    //      (n, Σx, Σy, Σxy, Σx²) are INTEGER-exact partial+final
    //      aggregates — x ≤ ~2 500 days and y ≤ 5·10⁷ cents keep Σxy
    //      under 2⁵³ through sf0.1, so casting each sum to double is
    //      lossless and the closed form (n·Σxy − Σx·Σy)/(n·Σx² − Σx·Σx)
    //      evaluates in the SAME IEEE order in both engines — never
    //      DuckDB's regr_slope (different accumulation order). At larger
    //      scale the longs would overflow silently: the documented knob
    //      is decimal(38,0) sums (exact, associative) with the same
    //      final-division shape. Zero windows, one shuffle over 5 groups
    //      (map-side combined), the textbook "aggregate then tiny
    //      driver-free math" pattern. ---------------------------------------
    Q("q213_ols_trends",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders").select($"o_orderpriority",
          datediff(to_date($"o_orderdate"), lit("1992-01-01"))
            .cast("long").as("x"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"))
        o.groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
          .select($"o_orderpriority", $"n".cast("long").as("n"),
            (($"n".cast("double") * $"sxy".cast("double")
              - $"sx".cast("double") * $"sy".cast("double"))
              / ($"n".cast("double") * $"sxx".cast("double")
                - $"sx".cast("double") * $"sx".cast("double"))).as("slope"),
            (($"sy".cast("double")
              - (($"n".cast("double") * $"sxy".cast("double")
                - $"sx".cast("double") * $"sy".cast("double"))
                / ($"n".cast("double") * $"sxx".cast("double")
                  - $"sx".cast("double") * $"sx".cast("double")))
                * $"sx".cast("double")) / $"n".cast("double")).as("intercept"))
          .orderBy($"o_orderpriority")
      },
      Some("""WITH sums AS (SELECT o_orderpriority,
            CAST(count(*) AS DOUBLE) AS n,
            CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
            CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
            CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
            CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx
          FROM (SELECT o_orderpriority,
                  CAST(date_diff('day', DATE '1992-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS y
                FROM orders)
          GROUP BY 1)
        SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
          (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
          (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
        FROM sums ORDER BY o_orderpriority""")),

    // ---- deterministic RANGE-PARTITIONER planning + balance audit — the
    //      operator behind every global sort / range layout at 100 TB.
    //      Spark's own repartitionByRange draws a reservoir sample whose
    //      boundaries change run to run; a production layout wants
    //      REPRODUCIBLE cuts, so the sample here is the detRand hash gate
    //      (~2% of rows, a pure function of the row key) and the 7
    //      boundary values are the sample's exact octile order statistics.
    //      Rank extraction never global-sorts even the sample: values land
    //      in ~100 coarse buckets (cents >> 10), per-bucket counts give
    //      each bucket's start rank (window over the TINY aggregate),
    //      row_number sorts only within buckets (q177's trick). The audit
    //      then assigns EVERY corpus row to its would-be partition (pid =
    //      #boundaries ≤ v, computed against the domain-bounded per-value
    //      histogram, broadcast-joined with the 7-row boundary table) and
    //      emits per-partition row counts + value ranges + skew vs the
    //      ideal n/8 — the "is a 2% sample enough?" answer measured, not
    //      guessed. -------------------------------------------------------
    Q("q218_range_partition_plan",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
            graft.operators.Sampling.detRand(23L,
              $"l_orderkey".cast("string"), $"l_linenumber".cast("string")).as("u"))
        val sample = li.filter($"u" < 0.02).select($"v")
          .withColumn("bk", expr("v >> 10"))
        val starts = sample.groupBy($"bk").agg(count(lit(1)).as("cnt"))
          .withColumn("start", coalesce(sum($"cnt").over(
            Window.orderBy($"bk").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select($"bk", $"start")
        val m = sample.agg(count(lit(1)).as("m"))
        val ranked = sample.withColumn("rn", row_number().over(
            Window.partitionBy($"bk").orderBy($"v")))
          .join(broadcast(starts), Seq("bk"))
          .select($"v", ($"start" + $"rn").as("grank"))
        val bounds = ranked.crossJoin(broadcast(m))
          .withColumn("i", explode(array((1 to 7).map(lit): _*)))
          .filter($"grank" === expr("(i * m) div 8"))
          .select($"i", $"v".as("bv"))
        val hist = li.groupBy($"v").agg(count(lit(1)).as("cnt"))
        val audit = hist.crossJoin(broadcast(bounds))
          .groupBy($"v", $"cnt")
          .agg(sum(when($"bv" <= $"v", 1).otherwise(0)).as("pid"))
          .groupBy($"pid")
          .agg(sum($"cnt").as("n_rows"), min($"v").as("min_v"), max($"v").as("max_v"))
        val total = li.agg(count(lit(1)).as("total"))
        audit.crossJoin(broadcast(total))
          .select($"pid".cast("int").as("pid"),
            $"n_rows".cast("long").as("n_rows"),
            $"min_v", $"max_v",
            ($"n_rows".cast("double")
              / ($"total".cast("double") / 8.0)).as("skew"))
          .orderBy($"pid")
      },
      Some(s"""WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
              ${graft.operators.Sampling.detRandSql(23L,
                Seq("CAST(l_orderkey AS VARCHAR)", "CAST(l_linenumber AS VARCHAR)"))} AS u
            FROM lineitem),
          sample AS (SELECT v FROM li WHERE u < 0.02),
          m AS (SELECT count(*) AS m FROM sample),
          ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS grank FROM sample),
          bounds AS (SELECT i, v AS bv FROM ranked, m,
                       UNNEST(range(1, 8)) AS t(i)
                     WHERE grank = (i * m) // 8),
          hist AS (SELECT v, count(*) AS cnt FROM li GROUP BY v),
          pids AS (SELECT v, cnt,
                     (SELECT count(*) FROM bounds WHERE bv <= hist.v) AS pid
                   FROM hist),
          audit AS (SELECT pid, sum(cnt) AS n_rows, min(v) AS min_v,
                      max(v) AS max_v FROM pids GROUP BY pid),
          total AS (SELECT count(*) AS total FROM li)
          SELECT CAST(pid AS INT) AS pid, CAST(n_rows AS BIGINT) AS n_rows,
            CAST(min_v AS BIGINT) AS min_v, CAST(max_v AS BIGINT) AS max_v,
            CAST(n_rows AS DOUBLE) / (CAST(total AS DOUBLE) / 8.0) AS skew
          FROM audit, total ORDER BY pid""")),

    // ---- pairwise Pearson CORRELATION MATRIX over the numeric lineitem
    //      measures — the profiling pass that decides which columns are
    //      redundant (|ρ|→1), which are independent (ρ→0), and which
    //      deserve a z-order pairing. ONE aggregation computes all 14
    //      sufficient statistics (4 sums, 4 sums of squares, 6 cross
    //      products) as INTEGER-exact longs over quantized units chosen
    //      to keep every Σ under 2⁵³ through sf1 (dollars not cents for
    //      price, basis points for rates); the 6 output rows are then
    //      pure arithmetic on the single sums row — casting each exact
    //      long to double losslessly and evaluating
    //      (n·Σxy − ΣxΣy)/(√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) in the SAME
    //      IEEE order as the oracle — never the engines' own corr()
    //      accumulators (different orders, different ulps). One shuffle
    //      of one row; everything else is map-side. ------------------------
    Q("q221_corr_matrix",
      (s, dir) => {
        import s.implicits._
        val cols = Seq("qty", "price", "disc", "tax")
        val base = t(s, dir, "lineitem").select(
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice) AS BIGINT)").as("price"),
          expr("CAST(round(l_discount * 10000) AS BIGINT)").as("disc"),
          expr("CAST(round(l_tax * 10000) AS BIGINT)").as("tax"))
        val aggs = Seq(count(lit(1)).as("n")) ++
          cols.map(c => sum(col(c)).as(s"s_$c")) ++
          cols.map(c => sum(col(c) * col(c)).as(s"ss_$c")) ++
          cols.combinations(2).map { case Seq(a, b) =>
            sum(col(a) * col(b)).as(s"sp_${a}_$b")
          }.toSeq
        val sums = base.agg(aggs.head, aggs.tail: _*)
        def d(c: String) = col(c).cast("double")
        val pairs = cols.combinations(2).map { case Seq(a, b) =>
          sums.select(lit(a).as("col_x"), lit(b).as("col_y"),
            $"n".cast("long").as("n"),
            ((d("n") * d(s"sp_${a}_$b") - d(s"s_$a") * d(s"s_$b"))
              / (sqrt(d("n") * d(s"ss_$a") - d(s"s_$a") * d(s"s_$a"))
                * sqrt(d("n") * d(s"ss_$b") - d(s"s_$b") * d(s"s_$b"))))
              .as("corr"))
        }.toSeq
        pairs.reduce(_ unionByName _).orderBy($"col_x", $"col_y")
      },
      Some {
        val cols = Seq("qty", "price", "disc", "tax")
        val sumsSel = (cols.map(c => s"CAST(CAST(sum($c) AS BIGINT) AS DOUBLE) AS s_$c") ++
          cols.map(c => s"CAST(CAST(sum($c * $c) AS BIGINT) AS DOUBLE) AS ss_$c") ++
          cols.combinations(2).map { case Seq(a, b) =>
            s"CAST(CAST(sum($a * $b) AS BIGINT) AS DOUBLE) AS sp_${a}_$b"
          }).mkString(", ")
        val rows = cols.combinations(2).map { case Seq(a, b) =>
          s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
              (CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b)
                / (sqrt(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)
                   * sqrt(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)) AS corr
            FROM sums"""
        }.mkString(" UNION ALL ")
        s"""WITH base AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
              CAST(round(l_extendedprice) AS BIGINT) AS price,
              CAST(round(l_discount * 10000) AS BIGINT) AS disc,
              CAST(round(l_tax * 10000) AS BIGINT) AS tax FROM lineitem),
          sums AS (SELECT count(*) AS n, $sumsSel FROM base)
          SELECT * FROM ($rows) ORDER BY col_x, col_y"""
      }),

    // ---- SKYLINE (Pareto frontier) over (price↓, size↑): the parts no
    //      other part beats on both dimensions — the multi-objective
    //      shortlist operator (cheapest-for-its-size catalog, best
    //      quality-per-cost doc selection). 2-D skylines have a linear
    //      structure the plan exploits instead of the naive all-pairs
    //      dominance test: group to per-distinct-price max size (domain-
    //      bounded aggregate, map-side combined), prefix-max over prices
    //      BELOW each (window over the tiny distinct-price table — the
    //      q117 precedent, never the corpus), and a point survives iff its
    //      size tops everything cheaper and equals its price's max. The
    //      oracle is deliberately the OTHER algorithm — a NOT EXISTS
    //      dominance anti-join — so the two engines cross-check the
    //      frontier definition itself, not a shared plan. Integer-exact
    //      (cents, sizes); ~n²-free on both sides. ------------------------
    Q("q222_skyline",
      (s, dir) => {
        import s.implicits._
        val pts = t(s, dir, "part")
          .select(expr("CAST(round(p_retailprice * 100) AS BIGINT)")
            .as("price_cents"), $"p_size")
          .distinct()
        val peq = pts.groupBy($"price_cents").agg(max($"p_size").as("meq"))
        val withPrev = peq.withColumn("mlt", coalesce(max($"meq").over(
            Window.orderBy($"price_cents")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(-1)))
        withPrev.filter($"meq" > $"mlt")
          .select($"price_cents", $"meq".cast("int").as("p_size"))
          .orderBy($"price_cents")
      },
      Some("""WITH pts AS (SELECT DISTINCT
              CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
              p_size
            FROM part)
          SELECT price_cents, CAST(p_size AS INT) AS p_size
          FROM pts p
          WHERE NOT EXISTS (SELECT 1 FROM pts q
            WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
              AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))
          ORDER BY price_cents""")),

    // ---- MUTUAL INFORMATION between categorical column pairs — the
    //      GRADED dependency measure completing the q203/q204 exact
    //      FD/IND sweep (an FD either holds or it doesn't; MI says HOW
    //      MUCH one column tells you about another, which is what ranks
    //      schema-matching and feature-selection candidates). Per pair:
    //      one (x,y) cell aggregate + two margin aggregates (all map-side
    //      combined, cardinality-bounded by the value domains), cell
    //      log-ratios micro-quantized to longs (q105's rule: the LONG sum
    //      is addition-order-independent, so the corpus-sized reduction
    //      is exact and only the final /1e6/N divisions are float — in
    //      identical IEEE order in the oracle). Margin join-backs are
    //      un-hinted: domain-bounded, AQE broadcasts when they fit. ---------
    Q("q225_column_mi",
      (s, dir) => {
        import s.implicits._
        miPairs.map { case (tab, cx, cy) =>
          val base = t(s, dir, tab)
            .select(col(cx).cast("string").as("x"), col(cy).cast("string").as("y"))
          val cells = base.groupBy($"x", $"y").agg(count(lit(1)).as("cnt"))
          val mx = base.groupBy($"x").agg(count(lit(1)).as("cx"))
          val my = base.groupBy($"y").agg(count(lit(1)).as("cy"))
          val n = base.agg(count(lit(1)).as("n"))
          cells.join(mx, Seq("x")).join(my, Seq("y")).crossJoin(broadcast(n))
            .select($"cnt", $"n",
              (round(log(($"cnt".cast("double") * $"n".cast("double"))
                / ($"cx".cast("double") * $"cy".cast("double"))) * 1e6)
                .cast("long") * $"cnt").as("mi_term"))
            .agg(max($"n").as("n"), sum($"mi_term").as("mi_micro"))
            .select(lit(s"$tab.$cx|$cy").as("col_pair"),
              $"n".cast("long").as("n"),
              ($"mi_micro".cast("double") / 1e6 / $"n".cast("double"))
                .as("mi_nats"))
        }.reduce(_ unionByName _).orderBy($"col_pair")
      },
      Some(miPairs.map { case (tab, cx, cy) =>
        s"""SELECT '$tab.$cx|$cy' AS col_pair, CAST(n AS BIGINT) AS n,
            CAST(mi_micro AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mi_nats
          FROM (SELECT max(n) AS n, sum(mi_term) AS mi_micro FROM (
            SELECT c.cnt, n.n,
              CAST(round(ln((CAST(c.cnt AS DOUBLE) * CAST(n.n AS DOUBLE))
                / (CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))) * 1000000)
                AS BIGINT) * c.cnt AS mi_term
            FROM (SELECT CAST($cx AS VARCHAR) AS x, CAST($cy AS VARCHAR) AS y,
                    count(*) AS cnt FROM $tab GROUP BY 1, 2) c
            JOIN (SELECT CAST($cx AS VARCHAR) AS x, count(*) AS cx
                  FROM $tab GROUP BY 1) mx USING (x)
            JOIN (SELECT CAST($cy AS VARCHAR) AS y, count(*) AS cy
                  FROM $tab GROUP BY 1) my USING (y)
            CROSS JOIN (SELECT count(*) AS n FROM $tab) n))"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_pair"))),

    // ---- ROLLUP with grouping_id — the OLAP subtotal operator surface
    //      (detail rows, per-returnflag subtotals, grand total in ONE
    //      aggregation pass; Spark plans it as a single Expand+Aggregate,
    //      not three scans). Revenue keeps the repo-wide integer-cent
    //      quantize contract so every level's sum is exact and
    //      order-independent. gid is the engine-portable level marker
    //      (bit per column, 1 = rolled up — probed identical in DuckDB's
    //      GROUPING()); the ORDER BY leads with it so NULL group keys
    //      only ever compare within a level, never against values (Spark
    //      and DuckDB default NULL sort orders differ). ---------------------
    Q("q227_rollup_revenue",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(grouping_id().as("gid"), count(lit(1)).as("n_items"),
            (sum(round($"l_extendedprice" * 100).cast("long")).cast("double")
              / 100.0).as("revenue"))
          .select($"l_returnflag", $"l_linestatus",
            $"gid".cast("long").as("gid"), $"n_items", $"revenue")
          .orderBy($"gid", $"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
            CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
            count(*) AS n_items,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
              / 100.0 AS revenue
          FROM lineitem
          GROUP BY ROLLUP(l_returnflag, l_linestatus)
          ORDER BY gid, l_returnflag, l_linestatus""")),

    // ---- chi-square independence test over the q225 column pairs — the
    //      SIGNIFICANCE companion to MI's effect size (MI says how much
    //      dependence; χ² + Cramér's V say whether the cell counts could
    //      be chance at this n). Same bounded aggregates (cells, margins,
    //      N); each cell's (obs−exp)²/exp term is a deterministic double
    //      from exact longs, MICRO-QUANTIZED to a long before the
    //      reduction (a parallel double sum would be addition-order-
    //      dependent — the q105 rule applies to any float reduction, not
    //      just logs). dof and Cramér's V come from distinct counts.
    //      Margin join-backs un-hinted, domain-bounded. ---------------------
    Q("q228_chi_square",
      (s, dir) => {
        import s.implicits._
        miPairs.map { case (tab, cx, cy) =>
          val base = t(s, dir, tab)
            .select(col(cx).cast("string").as("x"), col(cy).cast("string").as("y"))
          val cells = base.groupBy($"x", $"y").agg(count(lit(1)).as("obs"))
          val mx = base.groupBy($"x").agg(count(lit(1)).as("cx"))
          val my = base.groupBy($"y").agg(count(lit(1)).as("cy"))
          val tot = base.agg(count(lit(1)).as("n"),
            countDistinct($"x").as("nx"), countDistinct($"y").as("ny"))
          val exp = ($"cx".cast("double") * $"cy".cast("double")) /
            $"n".cast("double")
          cells.join(mx, Seq("x")).join(my, Seq("y")).crossJoin(broadcast(tot))
            .select($"n", $"nx", $"ny",
              round(($"obs".cast("double") - exp) * ($"obs".cast("double") - exp)
                / exp * 1e6).cast("long").as("term_micro"))
            .agg(max($"n").as("n"), max($"nx").as("nx"), max($"ny").as("ny"),
              sum($"term_micro").as("chi_micro"))
            .select(lit(s"$tab.$cx|$cy").as("col_pair"),
              $"n".cast("long").as("n"),
              (($"nx" - 1) * ($"ny" - 1)).cast("long").as("dof"),
              ($"chi_micro".cast("double") / 1e6).as("chi2"),
              sqrt(($"chi_micro".cast("double") / 1e6)
                / ($"n".cast("double")
                  * least($"nx" - 1, $"ny" - 1).cast("double"))).as("cramers_v"))
        }.reduce(_ unionByName _).orderBy($"col_pair")
      },
      Some(miPairs.map { case (tab, cx, cy) =>
        s"""SELECT '$tab.$cx|$cy' AS col_pair, CAST(n AS BIGINT) AS n,
            CAST((nx - 1) * (ny - 1) AS BIGINT) AS dof,
            CAST(chi_micro AS DOUBLE) / 1000000.0 AS chi2,
            sqrt((CAST(chi_micro AS DOUBLE) / 1000000.0)
              / (CAST(n AS DOUBLE) * CAST(least(nx - 1, ny - 1) AS DOUBLE)))
              AS cramers_v
          FROM (SELECT max(n) AS n, max(nx) AS nx, max(ny) AS ny,
                  sum(term_micro) AS chi_micro FROM (
            SELECT tot.n, tot.nx, tot.ny,
              CAST(round((CAST(c.obs AS DOUBLE)
                  - (CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))
                    / CAST(tot.n AS DOUBLE))
                * (CAST(c.obs AS DOUBLE)
                  - (CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))
                    / CAST(tot.n AS DOUBLE))
                / ((CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE))
                  / CAST(tot.n AS DOUBLE)) * 1000000) AS BIGINT) AS term_micro
            FROM (SELECT CAST($cx AS VARCHAR) AS x, CAST($cy AS VARCHAR) AS y,
                    count(*) AS obs FROM $tab GROUP BY 1, 2) c
            JOIN (SELECT CAST($cx AS VARCHAR) AS x, count(*) AS cx
                  FROM $tab GROUP BY 1) mx USING (x)
            JOIN (SELECT CAST($cy AS VARCHAR) AS y, count(*) AS cy
                  FROM $tab GROUP BY 1) my USING (y)
            CROSS JOIN (SELECT count(*) AS n, count(DISTINCT $cx) AS nx,
                          count(DISTINCT $cy) AS ny FROM $tab) tot))"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_pair"))),

    // ---- incremental materialized-view maintenance audit: the lakehouse
    //      pattern where a daily job folds only the DELTA into yesterday's
    //      aggregate instead of rescanning history. The view (count +
    //      exact-cent revenue per priority) is additively mergeable, so
    //      merge(agg(base), agg(delta)) must equal agg(base ∪ delta) —
    //      and this query EMITS both sides beside integer match flags, so
    //      the maintenance identity is the gated deliverable, not an
    //      assumption. The cutoff is a fixed date literal (both engines),
    //      the merge is a full-outer join of two 5-row aggregates with
    //      coalesce-0, and at 100 TB the base aggregate is yesterday's
    //      stored view — only the delta partition is ever scanned. ----------
    Q("q231_incremental_view",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders").select($"o_orderpriority",
          $"o_orderdate",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        def view(d: org.apache.spark.sql.DataFrame, pre: String) =
          d.groupBy($"o_orderpriority")
            .agg(count(lit(1)).as(s"${pre}_n"), sum($"cents").as(s"${pre}_c"))
        val cut = to_date(lit("1998-01-01"))
        val merged = view(o.filter(to_date($"o_orderdate") < cut), "b")
          .join(view(o.filter(to_date($"o_orderdate") >= cut), "d"),
            Seq("o_orderpriority"), "full_outer")
          .select($"o_orderpriority",
            (coalesce($"b_n", lit(0L)) + coalesce($"d_n", lit(0L))).as("n_merged"),
            (coalesce($"b_c", lit(0L)) + coalesce($"d_c", lit(0L))).as("c_merged"))
        val full = view(o, "f")
        merged.join(full, Seq("o_orderpriority"))
          .select($"o_orderpriority",
            $"n_merged".cast("long").as("n_merged"),
            $"f_n".cast("long").as("n_full"),
            ($"c_merged".cast("double") / 100.0).as("rev_merged"),
            ($"f_c".cast("double") / 100.0).as("rev_full"),
            when($"n_merged" === $"f_n" && $"c_merged" === $"f_c", 1)
              .otherwise(0).cast("int").as("view_ok"))
          .orderBy($"o_orderpriority")
      },
      Some("""WITH o AS (SELECT o_orderpriority, o_orderdate,
              CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
          b AS (SELECT o_orderpriority, count(*) AS b_n,
                  CAST(sum(cents) AS BIGINT) AS b_c
                FROM o WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                GROUP BY 1),
          d AS (SELECT o_orderpriority, count(*) AS d_n,
                  CAST(sum(cents) AS BIGINT) AS d_c
                FROM o WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                GROUP BY 1),
          m AS (SELECT o_orderpriority,
                  COALESCE(b_n, 0) + COALESCE(d_n, 0) AS n_merged,
                  COALESCE(b_c, 0) + COALESCE(d_c, 0) AS c_merged
                FROM b FULL OUTER JOIN d USING (o_orderpriority)),
          f AS (SELECT o_orderpriority, count(*) AS f_n,
                  CAST(sum(cents) AS BIGINT) AS f_c FROM o GROUP BY 1)
          SELECT o_orderpriority,
            CAST(n_merged AS BIGINT) AS n_merged,
            CAST(f_n AS BIGINT) AS n_full,
            CAST(c_merged AS DOUBLE) / 100.0 AS rev_merged,
            CAST(f_c AS DOUBLE) / 100.0 AS rev_full,
            CAST(CASE WHEN n_merged = f_n AND c_merged = f_c
                 THEN 1 ELSE 0 END AS INT) AS view_ok
          FROM m JOIN f USING (o_orderpriority)
          ORDER BY o_orderpriority""")),

    // ---- market-basket ASSOCIATION RULES (the apriori pair pass):
    //      frequent part pairs across order baskets with support /
    //      directional confidence / lift. Pair generation is the SELF-
    //      JOIN CO-PARTITIONED ON THE BASKET KEY, so fan-out is
    //      Σ C(|basket|,2) — linear in orders for bounded baskets. The
    //      bound is ENFORCED: MarketBasket.cappedBaskets drops baskets
    //      above 500 items before pair expansion (a power-law 100k-item
    //      basket would otherwise emit 5×10⁹ pairs in one task), and the
    //      oracle mirrors the cap. The min-support cut (≥3) is the
    //      apriori pruning that keeps the rule table domain-sized before
    //      the item-count join-backs (vocabulary-sized, un-hinted, AQE
    //      broadcasts when small). lift > 1 separates genuinely
    //      co-purchased pairs from popularity coincidence; all three
    //      metrics are single pinned-order divisions of exact longs. ------
    Q("q232_association_rules",
      (s, dir) => {
        import s.implicits._
        // the basket frame feeds FOUR consumers (both self-join sides, the
        // item counts, the order total) — eager-persist it once (the A13
        // materialize pattern) instead of re-running the distinct shuffle
        // per consumer
        val baskets = graft.operators.MarketBasket
          .cappedBaskets(t(s, dir, "lineitem")).persist()
        baskets.count()
        val pairs = graft.operators.MarketBasket
          .pairCounts(baskets, "l_orderkey", "l_partkey", 3L)
        val items = baskets.groupBy($"l_partkey").agg(count(lit(1)).as("ni"))
        val nOrders = baskets.select($"l_orderkey").distinct()
          .agg(count(lit(1)).as("n_orders"))
        pairs
          .join(items.select($"l_partkey".as("part_a"), $"ni".as("na")), Seq("part_a"))
          .join(items.select($"l_partkey".as("part_b"), $"ni".as("nb")), Seq("part_b"))
          .crossJoin(broadcast(nOrders))
          .select($"part_a", $"part_b", $"sup_cnt".cast("long").as("sup_cnt"),
            ($"sup_cnt".cast("double") / $"n_orders".cast("double")).as("support"),
            ($"sup_cnt".cast("double") / $"na".cast("double")).as("conf_ab"),
            ($"sup_cnt".cast("double") / $"nb".cast("double")).as("conf_ba"),
            (($"sup_cnt".cast("double") * $"n_orders".cast("double"))
              / ($"na".cast("double") * $"nb".cast("double"))).as("lift"))
          .orderBy($"part_a", $"part_b")
      },
      Some(s"""WITH ${graft.operators.MarketBasket.oracleCappedBasketsCte()},
          pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
              count(*) AS sup_cnt
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 3),
          items AS (SELECT l_partkey, count(*) AS ni FROM baskets GROUP BY 1),
          n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets)
          SELECT part_a, part_b, CAST(sup_cnt AS BIGINT) AS sup_cnt,
            CAST(sup_cnt AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
            CAST(sup_cnt AS DOUBLE) / CAST(ia.ni AS DOUBLE) AS conf_ab,
            CAST(sup_cnt AS DOUBLE) / CAST(ib.ni AS DOUBLE) AS conf_ba,
            (CAST(sup_cnt AS DOUBLE) * CAST(n_orders AS DOUBLE))
              / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)) AS lift
          FROM pairs JOIN items ia ON part_a = ia.l_partkey
          JOIN items ib ON part_b = ib.l_partkey
          CROSS JOIN n
          ORDER BY part_a, part_b""")),

    // ---- right-to-erasure DELETE PROPAGATION audit: tombstoned
    //      customers (deterministic key gate — stands in for the erasure-
    //      request table) cascade through the FK graph customer → orders
    //      → lineitem as ANTI-JOINS, and the query emits per-table
    //      before/purged/after counts PLUS the post-purge orphan count —
    //      rows whose parent vanished — which must be 0 for the cascade
    //      to be complete. The orphan probe re-derives referential
    //      integrity from the purged frames themselves (left anti against
    //      the retained parent), so a missed cascade level shows up as a
    //      nonzero deliverable, not a silent leak. Each level is one
    //      co-partitioned anti-join; tombstone keys are dimension-sized.
    //      At 100 TB this is the compliance job shape: no full rewrites,
    //      deletions flow key-wise down the lineage. -----------------------
    Q("q233_delete_propagation",
      (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer").select($"c_custkey")
        val ords = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        val li = t(s, dir, "lineitem").select($"l_orderkey")
        val tomb = cust.filter($"c_custkey" % 97 === 0)
        val keepC = cust.join(tomb, Seq("c_custkey"), "left_anti")
        val keepO = ords.join(tomb.select($"c_custkey".as("o_custkey")),
          Seq("o_custkey"), "left_anti")
        val purgedO = ords.join(tomb.select($"c_custkey".as("o_custkey")),
          Seq("o_custkey"), "left_semi")
        val keepL = li.join(purgedO.select($"o_orderkey".as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        val orphO = keepO.join(keepC.select($"c_custkey".as("o_custkey")),
          Seq("o_custkey"), "left_anti")
        val orphL = keepL.join(keepO.select($"o_orderkey".as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        def row(name: String, before: org.apache.spark.sql.DataFrame,
            after: org.apache.spark.sql.DataFrame,
            orph: org.apache.spark.sql.DataFrame) = {
          val b = before.agg(count(lit(1)).as("n_before"))
          val a = after.agg(count(lit(1)).as("n_after"))
          val o = orph.agg(count(lit(1)).as("orphans_after"))
          b.crossJoin(a).crossJoin(o)
            .select(lit(name).as("table_name"),
              $"n_before".cast("long").as("n_before"),
              ($"n_before" - $"n_after").cast("long").as("n_purged"),
              $"n_after".cast("long").as("n_after"),
              $"orphans_after".cast("long").as("orphans_after"))
        }
        row("customer", cust, keepC, keepC.limit(0))
          .unionByName(row("orders", ords, keepO, orphO))
          .unionByName(row("lineitem", li, keepL, orphL))
          .orderBy($"table_name")
      },
      Some("""WITH tomb AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
          keepc AS (SELECT c_custkey FROM customer
                    WHERE c_custkey NOT IN (SELECT c_custkey FROM tomb)),
          keepo AS (SELECT o_orderkey, o_custkey FROM orders
                    WHERE o_custkey NOT IN (SELECT c_custkey FROM tomb)),
          purgedo AS (SELECT o_orderkey FROM orders
                      WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
          keepl AS (SELECT l_orderkey FROM lineitem
                    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM purgedo)),
          orpho AS (SELECT count(*) AS n FROM keepo
                    WHERE o_custkey NOT IN (SELECT c_custkey FROM keepc)),
          orphl AS (SELECT count(*) AS n FROM keepl
                    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM keepo))
          SELECT * FROM (
            SELECT 'customer' AS table_name,
              CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
              CAST((SELECT count(*) FROM customer)
                - (SELECT count(*) FROM keepc) AS BIGINT) AS n_purged,
              CAST((SELECT count(*) FROM keepc) AS BIGINT) AS n_after,
              CAST(0 AS BIGINT) AS orphans_after
            UNION ALL
            SELECT 'lineitem',
              CAST((SELECT count(*) FROM lineitem) AS BIGINT),
              CAST((SELECT count(*) FROM lineitem)
                - (SELECT count(*) FROM keepl) AS BIGINT),
              CAST((SELECT count(*) FROM keepl) AS BIGINT),
              CAST((SELECT n FROM orphl) AS BIGINT)
            UNION ALL
            SELECT 'orders',
              CAST((SELECT count(*) FROM orders) AS BIGINT),
              CAST((SELECT count(*) FROM orders)
                - (SELECT count(*) FROM keepo) AS BIGINT),
              CAST((SELECT count(*) FROM keepo) AS BIGINT),
              CAST((SELECT n FROM orpho) AS BIGINT))
          ORDER BY table_name""")),

    // ---- GINI revenue-concentration per market segment: the inequality
    //      audit a marketplace runs over its customer base. Orders fold
    //      ONCE to customer-level cents (partial+final, exact longs);
    //      ranking runs over that entity-scale aggregate (the q229
    //      contract — a 10⁹-customer deployment swaps in q216's
    //      coarse-bucket ranks, same output). Gini via the rank form
    //      G = (2·Σi·x − (n+1)·Σx) / (n·Σx): every sum is an exact long
    //      (rank·cents ≤ 2^53 at any test SF), so G is ONE division of
    //      exact integers — bit identical. Tie-break on custkey makes
    //      ranks total. ----------------------------------------------------
    Q("q241_gini_concentration",
      (s, dir) => {
        import s.implicits._
        val rev = t(s, dir, "orders")
          .select($"o_custkey",
            round($"o_totalprice" * 100).cast("long").as("cents"))
          .groupBy($"o_custkey").agg(sum($"cents").as("rev"))
        val cust = t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
        val ranked = rev
          .join(cust, $"o_custkey" === $"c_custkey")
          .select($"c_mktsegment", $"c_custkey", $"rev")
          .withColumn("i", row_number().over(
            Window.partitionBy($"c_mktsegment").orderBy($"rev", $"c_custkey")))
        ranked.groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), sum($"rev").as("sx"),
            sum($"i" * $"rev").as("six"))
          .select($"c_mktsegment", $"n".cast("long").as("n_customers"),
            $"sx".cast("long").as("total_cents"),
            (($"six" * 2 - ($"n" + 1) * $"sx").cast("double")
              / ($"n" * $"sx").cast("double")).as("gini"))
          .orderBy($"c_mktsegment")
      },
      Some("""WITH rev AS (SELECT o_custkey,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
            FROM orders GROUP BY 1),
          ranked AS (SELECT c.c_mktsegment, r.rev,
              row_number() OVER (PARTITION BY c.c_mktsegment
                ORDER BY r.rev, c.c_custkey) AS i
            FROM rev r
            JOIN customer c ON r.o_custkey = c.c_custkey)
          SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
            CAST(sum(rev) AS BIGINT) AS total_cents,
            CAST(sum(i * rev) * 2 - (count(*) + 1) * sum(rev) AS DOUBLE)
              / CAST(count(*) * sum(rev) AS DOUBLE) AS gini
          FROM ranked GROUP BY 1 ORDER BY c_mktsegment""")),

    // ---- item-item COLLABORATIVE FILTERING neighbors: cosine over basket
    //      co-occurrence (sim = c_ab / sqrt(c_a·c_b)) with top-5 neighbors
    //      per item. Pair counts come from the same basket-key-local self-
    //      join as q232 (fan-out Σ C(|basket|,2), basket-size-capped in
    //      code via MarketBasket.cappedBaskets, min-support 2); the
    //      neighbor cut runs on the heap-based TopKPerKey operator — O(5)
    //      state per item, so a popularity-skewed item streams through
    //      instead of sorting its whole candidate list on one task. sim is
    //      one correctly-rounded division (sqrt of an exact long product),
    //      ties broken on neighbor id. -------------------------------------
    Q("q242_cf_item_neighbors",
      (s, dir) => {
        import s.implicits._
        val baskets = graft.operators.MarketBasket
          .cappedBaskets(t(s, dir, "lineitem"))
        val items = baskets.groupBy($"l_partkey").agg(count(lit(1)).as("ni"))
        val pairs = graft.operators.MarketBasket
          .pairCounts(baskets, "l_orderkey", "l_partkey", 2L)
          .select($"part_a".as("pa"), $"part_b".as("pb"),
            $"sup_cnt".as("c"))
        val sym = pairs.select($"pa".as("item"), $"pb".as("nbr"), $"c")
          .unionByName(pairs.select($"pb".as("item"), $"pa".as("nbr"), $"c"))
        val scored = sym
          .join(items.select($"l_partkey".as("item"), $"ni".as("na")), Seq("item"))
          .join(items.select($"l_partkey".as("nbr"), $"ni".as("nb")), Seq("nbr"))
          .select($"item", $"nbr", $"c",
            ($"c".cast("double") / sqrt(($"na" * $"nb").cast("double")))
              .as("sim"))
        val top = graft.plans.TopK.perKey(scored, Seq("item"),
          Seq(graft.plans.TopK.Order("sim", ascending = false),
            graft.plans.TopK.Order("nbr")), 5)
        top.withColumn("rk", row_number().over(
            Window.partitionBy($"item").orderBy($"sim".desc, $"nbr")))
          .select($"item", $"nbr", $"c".cast("long").as("c"), $"sim",
            $"rk".cast("int").as("rk"))
          .orderBy($"item", $"rk")
      },
      Some(s"""WITH ${graft.operators.MarketBasket.oracleCappedBasketsCte()},
          items AS (SELECT l_partkey, count(*) AS ni FROM baskets GROUP BY 1),
          pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
              count(*) AS c
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2),
          sym AS (SELECT pa AS item, pb AS nbr, c FROM pairs
            UNION ALL SELECT pb, pa, c FROM pairs),
          scored AS (SELECT s.item, s.nbr, s.c,
              CAST(s.c AS DOUBLE) / sqrt(CAST(ia.ni * ib.ni AS DOUBLE)) AS sim
            FROM sym s JOIN items ia ON s.item = ia.l_partkey
            JOIN items ib ON s.nbr = ib.l_partkey),
          rk AS (SELECT item, nbr, c, sim,
              row_number() OVER (PARTITION BY item
                ORDER BY sim DESC, nbr) AS rk
            FROM scored)
          SELECT item, nbr, CAST(c AS BIGINT) AS c, sim, CAST(rk AS INT) AS rk
          FROM rk WHERE rk <= 5 ORDER BY item, rk""")),

    // ---- LOCAL CLUSTERING COEFFICIENT on the thresholded co-purchase
    //      graph (edges = co-purchase pairs with support>=2): per node,
    //      incident triangles / wedges (d·(d−1)/2) — "are my neighbors
    //      also neighbors" community structure. Triangle enumeration is
    //      the shared DEGREE-ORDERED kernel (Components.triangleCounts,
    //      same as q200): each edge points low→high in (degree, id)
    //      order, so wedge fan-out is bounded by oriented out-degree —
    //      O(√m) on ANY graph, hub-item-proof — at a measured ~1.2 s
    //      constant cost over the old id-ordered join at bench scale
    //      (the two degree join-backs), which is the right trade for a
    //      power-law catalog. Basket edges come from the capped
    //      MarketBasket frame; per-node counts explode the 3 corners.
    //      lcc is one division of exact longs. ------------------------------
    Q("q243_clustering_coefficient",
      (s, dir) => {
        import s.implicits._
        val baskets = graft.operators.MarketBasket
          .cappedBaskets(t(s, dir, "lineitem"))
        val edges = graft.operators.MarketBasket
          .pairCounts(baskets, "l_orderkey", "l_partkey", 2L)
          .select($"part_a".as("u"), $"part_b".as("v"))
        // the shared DEGREE-ORDERED triangle kernel (same as q200): wedge
        // fan-out is bounded by a node's ORIENTED out-degree — O(√m) on
        // any graph — so a hub item the support cut lets through can't
        // hot-spot one task the way the previous id-ordered wedge join
        // could. The triangle SET (and so every per-node count) is
        // orientation-independent, which is why the id-ordered DuckDB
        // oracle below is unchanged.
        val tri = graft.operators.Components.triangleCounts(edges, "u", "v")
        tri.filter($"degree" >= 2)
          .select($"node", $"degree", $"n_tri",
            ($"n_tri".cast("double") * 2.0
              / ($"degree" * ($"degree" - 1)).cast("double")).as("lcc"))
          .orderBy($"node")
      },
      Some(s"""WITH ${graft.operators.MarketBasket.oracleCappedBasketsCte()},
          e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2),
          deg AS (SELECT node, count(*) AS degree FROM (
              SELECT u AS node FROM e UNION ALL SELECT v FROM e) x
            GROUP BY 1),
          w AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v),
          tri AS (SELECT w.a, w.b, w.c FROM w
            JOIN e ON w.b = e.u AND w.c = e.v),
          tn AS (SELECT node, count(*) AS n_tri FROM (
              SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri) x
            GROUP BY 1)
          SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
            CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_tri,
            CAST(COALESCE(tn.n_tri, 0) AS DOUBLE) * 2.0
              / CAST(d.degree * (d.degree - 1) AS DOUBLE) AS lcc
          FROM deg d LEFT JOIN tn ON d.node = tn.node
          WHERE d.degree >= 2 ORDER BY d.node"""))
  )

  /** q225's column pairs — (table, x, y): a strong dependency
    * (orderstatus↔priority would be weak; linestatus↔returnflag strong),
    * a cross-type pair, and two near-independent controls.
    */
  /** Stable within one JVM (q259 reuses the written layout across bench
    * cold/warm runs) but distinct across processes, so concurrent JVMs on
    * the same sfDir never clobber each other's layout mid-footer-walk.
    * The pid prefix makes leftovers attributable: first access sweeps
    * sibling layouts whose owning process is DEAD (ADVICE r12 — repeated
    * runs used to accumulate /tmp state with no cleanup), exactly the
    * pruneStaleFixtures pattern. Live processes' layouts are never
    * touched, and this JVM's own layouts stay reusable across cold/warm.
    */
  private lazy val zorderProcToken: String = {
    // <md5 12>-<pid>-<uuid8>[-suffix]; anything else is a legacy
    // (pre-pid) layout from an older binary — its JVM is gone, sweep it
    for (root <- Seq("/tmp/graft-zorder-skip", "/tmp/graft-compact",
        "/tmp/graft-bloom", "/tmp/graft-codec", "/tmp/graft-hilbert-skip"))
      graft.core.Fs.sweepDeadPidDirs(root,
        "^[0-9a-f]{12}-(\\d+)-\\w+(?:-\\w+)?$".r, sweepLegacy = true)
    ProcessHandle.current().pid() + "-" +
      java.util.UUID.randomUUID().toString.take(8)
  }

  private val miPairs: Seq[(String, String, String)] = Seq(
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("customer", "c_mktsegment", "c_nationkey"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("part", "p_brand", "p_size"))

  /** q209's schema-matching inputs — (column, type class) per table. */
  private val custCols: Seq[(String, String)] = Seq(
    ("c_custkey", "num"), ("c_name", "str"), ("c_nationkey", "num"),
    ("c_acctbal", "num"), ("c_mktsegment", "str"))
  private val suppCols: Seq[(String, String)] = Seq(
    ("s_suppkey", "num"), ("s_name", "str"), ("s_nationkey", "num"),
    ("s_acctbal", "num"))

  /** q205's money columns — (table, column). */
  private val benfordCols: Seq[(String, String)] = Seq(
    ("lineitem", "l_extendedprice"), ("orders", "o_totalprice"))

  /** q203's candidate set — (table, determinant columns, dependent column).
    * Mixed by design: keys that hold, non-keys that fail, one composite.
    */
  private val fdCandidates: Seq[(String, Seq[String], String)] = Seq(
    ("nation", Seq("n_nationkey"), "n_name"),
    ("nation", Seq("n_regionkey"), "n_name"),
    ("customer", Seq("c_custkey"), "c_name"),
    ("customer", Seq("c_nationkey"), "c_mktsegment"),
    ("orders", Seq("o_orderkey"), "o_custkey"),
    ("orders", Seq("o_custkey"), "o_orderstatus"),
    ("lineitem", Seq("l_orderkey"), "l_partkey"),
    ("lineitem", Seq("l_orderkey", "l_linenumber"), "l_partkey"))

  /** q204's candidate set — (child table, child col, parent table, parent
    * col); the TPC-H FK graph plus a reversed edge that must fail.
    */
  private val indCandidates: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier", "s_suppkey", "lineitem", "l_suppkey"))
}
