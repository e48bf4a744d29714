package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Sampling

/** Mergeable-sketch operators — the summaries a 100 TB profiling pass
  * actually ships to the driver. Exact per-column statistics (distinct
  * counts, frequency tables) are themselves corpus-sized shuffles; the
  * sketches here are the bounded-size stand-ins, and every query carries
  * its own "measure, don't guess" audit: the exact answer is computed
  * beside the estimate at test scale so the error is a deliverable, not
  * folklore. All hashing is the shared md5 kernel (Sampling.detRand /
  * TextFunctions.hexPolySql) so the DuckDB oracle replays the sketch
  * content bit-for-bit — these are deterministic data structures, not
  * RNG-dependent approximations.
  *
  * Extends the reference's profiling surface (its per-column value
  * counts, e.g. profiling in DataLoader.py / eval_utils.py, are exact
  * pandas ops that fit because its tables are small) with the
  * sublinear-memory equivalents that survive when a column no longer
  * fits. Siblings elsewhere in the registry: q120 (HLL distinct,
  * verdict-gated because Spark's sketch has no DuckDB twin), q166
  * (count-min frequencies), q201/q206 (Misra-Gries heavy hitters,
  * batch + streaming). q210 here is the distinct-count sketch whose
  * CONTENT the oracle replays exactly, not just its verdict.
  */
object SketchQueries extends Registry {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Eager persist for a subplan read k times inside ONE query (the
    * TextQueries.materialize pattern, r16): the sketch queries re-derived
    * their hashed projection per consumer — the md5 draw per row is the
    * dominant scan cost, and the direct/merged/audit passes each paid it
    * again. One materialization, k cheap cache reads; dropped by
    * SessionHygiene between queries, so nothing leaks across runs.
    */
  // shared core helper since r17 (ADVICE r16): this copy used to omit the
  // storage-level assertion the TextQueries original carried
  private def materialize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.core.Caching.materialize(df)

  /** KMV sample size. */
  private val kmvK = 256

  /** (table, column) pairs profiled by q210 — two int keys, two strings
    * (one short, one corpus text).
    */
  private val kmvCols: Seq[(String, String)] = Seq(
    ("lineitem", "l_partkey"), ("orders", "o_custkey"),
    ("customer", "c_name"), ("documents", "text"))

  /** The 60-bit HLL hash of each lineitem's order key (q254, q283). */
  private val hllOrderKeyHash = graft.functions.TextFunctions.hexPolySql(15,
    "concat_ws('|', 'hll', l_orderkey)")

  /** HLL registers per return flag from the 60-bit hash `h`: bucket and
    * rank of each row, max rank per bucket, and per flag the bucket count
    * and register sums `p` (q254, q283). */
  private val hllRegisterCtes = {
    import graft.functions.HyperLogLog.{RhoMax, WordBits}
    s"""b AS (SELECT l_returnflag, h >> $WordBits AS bkt,
              h & ${(1L << WordBits) - 1} AS w FROM h),
          r AS (SELECT l_returnflag, bkt,
              max(CASE WHEN w = 0 THEN $RhoMax
                  ELSE CAST(log2(w & (-w)) AS INT) + 1 END) AS reg
            FROM b GROUP BY 1, 2),
          p AS (SELECT l_returnflag, count(*) AS n_buckets,
              sum(CAST(1 AS BIGINT) << ($RhoMax - reg)) AS d_present,
              sum(reg) AS reg_sum, max(reg) AS reg_max
            FROM r GROUP BY 1),"""
  }

  /** Per-flag HLL summary over `p` and the exact distinct count `exact`
    * from `e`: empty registers, the scaled harmonic denominator and the
    * register checksums (q254, q283). */
  private def hllSummaryCte(exact: String): String = {
    import graft.functions.HyperLogLog.{M, RhoMax}
    s"""s AS (SELECT p.l_returnflag,
              CAST($M - n_buckets AS BIGINT) AS v_empty,
              CAST(d_present + ($M - n_buckets) * (CAST(1 AS BIGINT) << $RhoMax)
                AS BIGINT) AS d_scaled,
              CAST(reg_sum AS BIGINT) AS reg_sum,
              CAST(reg_max AS INT) AS reg_max,
              CAST($exact AS BIGINT) AS $exact
            FROM p JOIN e USING (l_returnflag))"""
  }

  override def entries: Seq[Q] = Seq(

    // ---- KMV (k-minimum-values) distinct-count sketch, one row per
    //      profiled column: hash every value to the deterministic
    //      detRand uniform, keep the k smallest DISTINCT hashes, estimate
    //      |D| ≈ (k-1)/u_k. The plan is the scale story: values are
    //      hashed scan-side, so the DISTINCT is a map-side-combined
    //      aggregate over 8-byte doubles (never shuffles strings), and
    //      the k-cut is orderBy+limit → TakeOrdered's bounded per-
    //      partition heap, NOT a global sort. The sketch is provably
    //      mergeable — min-k of a union = min-k of the per-part min-ks —
    //      and the query REPLAYS that: the value space is split by the
    //      hash itself (u<1/2 vs u≥1/2, disjoint by construction for any
    //      type), sketched per half, merged, and `merge_ok` asserts the
    //      merged u_k equals the direct one. exact_distinct (the full
    //      countDistinct shuffle the sketch replaces) is the test-scale
    //      audit; rel_err lands ~1/√k. All doubles are the shared md5
    //      draw → bit-identical in DuckDB. ---------------------------------
    Q("q210_kmv_distinct",
      (s, dir) => {
        import s.implicits._
        kmvCols.map { case (tab, c) =>
          // r16: the distinct-hash set feeds THREE k-cuts (direct + both
          // halves of the merge replay) — materialize it once instead of
          // paying the scan + md5 + distinct shuffle per consumer
          val base = materialize(t(s, dir, tab)
            .where(col(c).isNotNull)
            .select(Sampling.detRand(41L, col(c).cast("string")).as("u"))
            .distinct())
          def kcut(d: org.apache.spark.sql.DataFrame) =
            d.orderBy($"u").limit(kmvK)
          val direct = kcut(base)
            .agg(max($"u").as("u_k"), count(lit(1)).as("k_got"))
          val merged = kcut(
              kcut(base.where($"u" < 0.5)).unionByName(kcut(base.where($"u" >= 0.5))))
            .agg(max($"u").as("u_k2"))
          val exact = t(s, dir, tab)
            .agg(countDistinct(col(c)).as("exact_distinct"))
          direct.crossJoin(merged).crossJoin(exact)
            .select(lit(s"$tab.$c").as("col_name"),
              $"k_got".cast("long").as("k"),
              $"u_k",
              (($"k_got" - 1).cast("double") / $"u_k").as("est_distinct"),
              $"exact_distinct".cast("long").as("exact_distinct"),
              round(abs(($"k_got" - 1).cast("double") / $"u_k"
                  - $"exact_distinct".cast("double"))
                / $"exact_distinct".cast("double"), 6).as("rel_err"),
              when($"u_k2" === $"u_k", 1).otherwise(0).cast("int").as("merge_ok"))
        }.reduce(_ unionByName _).orderBy($"col_name")
      },
      Some(kmvCols.map { case (tab, c) =>
        val u = Sampling.detRandSql(41L, Seq(s"CAST($c AS VARCHAR)"))
        s"""SELECT '$tab.$c' AS col_name,
            CAST(k_got AS BIGINT) AS k, u_k,
            CAST(k_got - 1 AS DOUBLE) / u_k AS est_distinct,
            CAST(exact_distinct AS BIGINT) AS exact_distinct,
            round(abs(CAST(k_got - 1 AS DOUBLE) / u_k
                - CAST(exact_distinct AS DOUBLE))
              / CAST(exact_distinct AS DOUBLE), 6) AS rel_err,
            CAST(CASE WHEN u_k2 = u_k THEN 1 ELSE 0 END AS INT) AS merge_ok
          FROM (SELECT max(u) AS u_k, count(*) AS k_got FROM
                 (SELECT u FROM (SELECT DISTINCT $u AS u FROM $tab
                                 WHERE $c IS NOT NULL)
                  ORDER BY u LIMIT $kmvK)),
               (SELECT max(u) AS u_k2 FROM
                 (SELECT u FROM (
                    (SELECT u FROM (SELECT DISTINCT $u AS u FROM $tab
                                    WHERE $c IS NOT NULL)
                     WHERE u < 0.5 ORDER BY u LIMIT $kmvK)
                    UNION ALL
                    (SELECT u FROM (SELECT DISTINCT $u AS u FROM $tab
                                    WHERE $c IS NOT NULL)
                     WHERE u >= 0.5 ORDER BY u LIMIT $kmvK))
                  ORDER BY u LIMIT $kmvK)),
               (SELECT count(DISTINCT $c) AS exact_distinct FROM $tab)"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name"))),

    // ---- KMV set-operation estimates — what a join PLANNER reads before
    //      committing a 100 TB shuffle: estimated distinct-key overlap of
    //      orders.o_custkey vs customer.c_custkey from two k=256 sketches
    //      (the classic Beyer et al. KMV algebra). Both columns hash
    //      through the SAME detRand kernel, so a shared key has the same
    //      draw in both sketches; the union sketch is the k smallest of
    //      the merged min-k sets, Jaccard ≈ |union-min-k present in both
    //      sketches| / k, and |A∩B| ≈ J·(k−1)/u_k. The exact semi-join
    //      counts ride along as the test-scale audit (at production scale
    //      they're the cost being avoided: sketches are KBs shipped from
    //      two independent profiling passes — no co-shuffle at all).
    //      Membership probes are broadcast joins of 256-row frames;
    //      every estimate is arithmetic on bit-identical doubles. ----------
    Q("q230_kmv_join_estimate",
      (s, dir) => {
        import s.implicits._
        def mink(tab: String, c: String) =
          t(s, dir, tab).where(col(c).isNotNull)
            .select(Sampling.detRand(41L, col(c).cast("string")).as("u"))
            .distinct().orderBy($"u").limit(kmvK)
        // r16: each sketch feeds the union AND a membership probe —
        // materialize the 256-row frames so the base-table scan + distinct
        // behind each runs once, not twice
        val a = materialize(mink("orders", "o_custkey"))
        val b = materialize(mink("customer", "c_custkey"))
        val union = a.unionByName(b).distinct().orderBy($"u").limit(kmvK)
        val stats = union
          .join(broadcast(a.select($"u", lit(1).as("in_a"))), Seq("u"), "left")
          .join(broadcast(b.select($"u", lit(1).as("in_b"))), Seq("u"), "left")
          .agg(count(lit(1)).as("k_got"), max($"u").as("u_k"),
            sum(when($"in_a" === 1 && $"in_b" === 1, 1L).otherwise(0L))
              .as("k_both"))
        val exact = t(s, dir, "orders").select($"o_custkey".as("key")).distinct()
          .join(t(s, dir, "customer").select($"c_custkey".as("key")).distinct(),
            Seq("key"))
          .agg(count(lit(1)).as("exact_inter"))
        stats.crossJoin(exact)
          .select($"k_got".cast("long").as("k"),
            $"k_both".cast("long").as("k_both"),
            (($"k_got" - 1).cast("double") / $"u_k").as("est_union"),
            (($"k_both".cast("double") / $"k_got".cast("double"))
              * (($"k_got" - 1).cast("double") / $"u_k")).as("est_inter"),
            $"exact_inter".cast("long").as("exact_inter"),
            round(abs(($"k_both".cast("double") / $"k_got".cast("double"))
                * (($"k_got" - 1).cast("double") / $"u_k")
                - $"exact_inter".cast("double"))
              / $"exact_inter".cast("double"), 6).as("rel_err"))
      },
      Some {
        def minkSql(tab: String, c: String) = {
          val u = Sampling.detRandSql(41L, Seq(s"CAST($c AS VARCHAR)"))
          s"""SELECT u FROM (SELECT DISTINCT $u AS u FROM $tab
              WHERE $c IS NOT NULL) ORDER BY u LIMIT $kmvK"""
        }
        s"""WITH a AS (${minkSql("orders", "o_custkey")}),
          b AS (${minkSql("customer", "c_custkey")}),
          un AS (SELECT u FROM (SELECT DISTINCT u FROM
                   (SELECT u FROM a UNION ALL SELECT u FROM b))
                 ORDER BY u LIMIT $kmvK),
          stats AS (SELECT count(*) AS k_got, max(un.u) AS u_k,
              sum(CASE WHEN a.u IS NOT NULL AND b.u IS NOT NULL
                  THEN 1 ELSE 0 END) AS k_both
            FROM un LEFT JOIN a ON un.u = a.u LEFT JOIN b ON un.u = b.u),
          exact AS (SELECT count(*) AS exact_inter FROM
            (SELECT DISTINCT o_custkey AS key FROM orders) o
            JOIN (SELECT DISTINCT c_custkey AS key FROM customer) c USING (key))
          SELECT CAST(k_got AS BIGINT) AS k, CAST(k_both AS BIGINT) AS k_both,
            CAST(k_got - 1 AS DOUBLE) / u_k AS est_union,
            (CAST(k_both AS DOUBLE) / CAST(k_got AS DOUBLE))
              * (CAST(k_got - 1 AS DOUBLE) / u_k) AS est_inter,
            CAST(exact_inter AS BIGINT) AS exact_inter,
            round(abs((CAST(k_both AS DOUBLE) / CAST(k_got AS DOUBLE))
                * (CAST(k_got - 1 AS DOUBLE) / u_k)
                - CAST(exact_inter AS DOUBLE))
              / CAST(exact_inter AS DOUBLE), 6) AS rel_err
          FROM stats, exact"""
      }),

    // ---- bottom-k-by-hash SAMPLE-QUANTILE sketch — the quantile member
    //      of the content-replayable sketch family (q210 distinct, q166
    //      frequency, q254 HLL): a uniform row sample is the k rows whose
    //      deterministic md5 draw (keyed by the row's primary key, NOT its
    //      value) is smallest, so the sample is a pure function of the
    //      data — mergeable exactly like KMV (min-k of a union = min-k of
    //      per-part min-ks, replayed here by splitting the hash space at
    //      1/2 and re-merging, merge_ok pins est equality), and TakeOrdered
    //      keeps the k-cut a bounded per-partition heap, never a global
    //      sort. Quantile estimate = order statistic ⌈p·k⌉ of the sample
    //      (sort_array over k=512 doubles, aggregation not a window). The
    //      audit is the RANK ERROR — achieved_pct = (#rows ≤ est)/n vs the
    //      target p — because that is what sampling theory bounds
    //      (|err| ~ √(p(1−p)/k) ≈ 2.2% at k=512, flagged at 5σ), and a
    //      rank audit needs no interpolation convention to match across
    //      engines: every float here is the same division on both sides.
    //      At 100 TB the sketch is k doubles from one scan; the exact
    //      second scan exists only as the test-scale audit. ---------------
    Q("q263_sample_quantiles",
      (s, dir) => {
        import s.implicits._
        val k = 512
        // r16: four consumers (direct k-cut, two half k-cuts, rank audit)
        // each re-scanned lineitem and re-paid the per-row md5 draw —
        // materialize the 16-byte (v, u) projection once
        val li = materialize(t(s, dir, "lineitem").select(
          $"l_extendedprice".cast("double").as("v"),
          Sampling.detRand(263L, $"l_orderkey".cast("string"),
            $"l_linenumber".cast("string")).as("u")))
        def kcut(d: org.apache.spark.sql.DataFrame) =
          d.orderBy($"u", $"v").limit(k)
        val arr = kcut(li)
          .agg(sort_array(collect_list($"v")).as("vs"),
            count(lit(1)).as("k_got"))
        val arr2 = kcut(
            kcut(li.where($"u" < 0.5)).unionByName(kcut(li.where($"u" >= 0.5))))
          .agg(sort_array(collect_list($"v")).as("vs2"))
        def stat(vs: Column, p: Double) =
          element_at(vs, ceil(lit(p) * $"k_got").cast("int"))
        val ests = arr.crossJoin(arr2).select($"k_got",
          stat($"vs", 0.5).as("e50"), stat($"vs", 0.9).as("e90"),
          stat($"vs", 0.99).as("e99"),
          stat($"vs2", 0.5).as("f50"), stat($"vs2", 0.9).as("f90"),
          stat($"vs2", 0.99).as("f99"))
        val audit = li.crossJoin(broadcast(ests)).agg(
          count(lit(1)).as("n"),
          sum(when($"v" <= $"e50", 1L).otherwise(0L)).as("c50"),
          sum(when($"v" <= $"e90", 1L).otherwise(0L)).as("c90"),
          sum(when($"v" <= $"e99", 1L).otherwise(0L)).as("c99"),
          first($"e50").as("e50"), first($"e90").as("e90"),
          first($"e99").as("e99"), first($"f50").as("f50"),
          first($"f90").as("f90"), first($"f99").as("f99"),
          first($"k_got").as("k_got"))
        val sigma5 = (p: Column) =>
          lit(5.0) * sqrt(p * (lit(1.0) - p) / $"k_got".cast("double"))
        audit.selectExpr("n", "k_got",
          """stack(3,
             0.5D,  e50, c50, f50,
             0.9D,  e90, c90, f90,
             0.99D, e99, c99, f99) AS (pct, est, cnt, mest)""")
          .select($"pct", $"est",
            ($"cnt".cast("double") / $"n".cast("double")).as("achieved_pct"),
            round(abs($"cnt".cast("double") / $"n".cast("double") - $"pct"), 6)
              .as("rank_err"),
            when(abs($"cnt".cast("double") / $"n".cast("double") - $"pct")
                <= sigma5($"pct"), 1).otherwise(0).cast("int").as("within_5sigma"),
            when($"est" === $"mest", 1).otherwise(0).cast("int").as("merge_ok"))
          .orderBy($"pct")
      },
      Some {
        val k = 512
        val u = Sampling.detRandSql(263L,
          Seq("CAST(l_orderkey AS VARCHAR)", "CAST(l_linenumber AS VARCHAR)"))
        s"""WITH li AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v, $u AS u
              FROM lineitem),
          arr AS (SELECT list(v ORDER BY v) AS vs, count(*) AS k_got FROM
            (SELECT v FROM li ORDER BY u, v LIMIT $k)),
          arr2 AS (SELECT list(v ORDER BY v) AS vs2 FROM
            (SELECT v FROM (
               (SELECT v, u FROM li WHERE u < 0.5 ORDER BY u, v LIMIT $k)
               UNION ALL
               (SELECT v, u FROM li WHERE u >= 0.5 ORDER BY u, v LIMIT $k))
             ORDER BY u, v LIMIT $k)),
          e AS (SELECT k_got,
              vs[CAST(ceil(0.5 * k_got) AS INT)] AS e50,
              vs[CAST(ceil(0.9 * k_got) AS INT)] AS e90,
              vs[CAST(ceil(0.99 * k_got) AS INT)] AS e99,
              vs2[CAST(ceil(0.5 * k_got) AS INT)] AS f50,
              vs2[CAST(ceil(0.9 * k_got) AS INT)] AS f90,
              vs2[CAST(ceil(0.99 * k_got) AS INT)] AS f99
            FROM arr, arr2),
          a AS (SELECT count(*) AS n, max(k_got) AS k_got,
              sum(CASE WHEN v <= e50 THEN 1 ELSE 0 END) AS c50,
              sum(CASE WHEN v <= e90 THEN 1 ELSE 0 END) AS c90,
              sum(CASE WHEN v <= e99 THEN 1 ELSE 0 END) AS c99,
              max(e50) AS e50, max(e90) AS e90, max(e99) AS e99,
              max(f50) AS f50, max(f90) AS f90, max(f99) AS f99
            FROM li, e)
          SELECT pct, est,
            CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS achieved_pct,
            round(abs(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) - pct), 6)
              AS rank_err,
            CAST(CASE WHEN abs(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) - pct)
                 <= 5.0 * sqrt(pct * (1.0 - pct) / CAST(k_got AS DOUBLE))
                 THEN 1 ELSE 0 END AS INT) AS within_5sigma,
            CAST(CASE WHEN est = mest THEN 1 ELSE 0 END AS INT) AS merge_ok
          FROM (
            SELECT CAST(0.5 AS DOUBLE) AS pct, e50 AS est, c50 AS cnt,
                   f50 AS mest, n, k_got FROM a
            UNION ALL
            SELECT CAST(0.9 AS DOUBLE), e90, c90, f90, n, k_got FROM a
            UNION ALL
            SELECT CAST(0.99 AS DOUBLE), e99, c99, f99, n, k_got FROM a)
          ORDER BY pct"""
      }),

    // ---- HyperLogLog with ORACLE-REPLAYABLE registers — the white-box
    //      twin of q120's opaque `approx_count_distinct`: registers are
    //      max-of-rho per (group, bucket) over the shared md5 hash kernel
    //      (HyperLogLog.scala — groupBy max IS the mergeable-summary
    //      contract, partial+final, no custom buffer), so DuckDB rebuilds
    //      the SAME register table from the rows and the gate hash-matches
    //      the folded summary (empty-bucket count, EXACT scaled harmonic
    //      denominator Σ2^(54−reg) as a long, register checksums) — not a
    //      tolerance verdict. The only floats are the final single-
    //      division estimate and its rel-err, pinned-order identical in
    //      both engines; the 5σ acceptance flag (σ = 1.04/√m) is computed
    //      from those identical doubles. At 100 TB the register table is
    //      O(groups·128) longs shipped from one pass — the profiling
    //      deliverable exact distinct can't be. ---------------------------
    Q("q254_hll_registers",
      (s, dir) => {
        import s.implicits._
        import graft.functions.HyperLogLog
        val li = t(s, dir, "lineitem").select($"l_returnflag", $"l_orderkey")
        val regs = HyperLogLog.registers(li, Seq("l_returnflag"),
          HyperLogLog.hash60("hll", $"l_orderkey"))
        val summ = HyperLogLog.summarize(regs, Seq("l_returnflag"))
        val exact = li.groupBy($"l_returnflag")
          .agg(countDistinct($"l_orderkey").as("exact_distinct"))
        val sigma5 = lit(5.0) * lit(1.04) / sqrt(lit(HyperLogLog.M.toDouble))
        summ.join(exact, Seq("l_returnflag"))
          .select($"l_returnflag", $"v_empty", $"d_scaled", $"reg_sum",
            $"reg_max", $"hll_estimate",
            $"exact_distinct".cast("long").as("exact_distinct"),
            (abs($"hll_estimate" - $"exact_distinct".cast("double"))
              / $"exact_distinct".cast("double")).as("rel_err"),
            when(abs($"hll_estimate" - $"exact_distinct".cast("double"))
              / $"exact_distinct".cast("double") <= sigma5, 1).otherwise(0)
              .cast("int").as("within_5sigma"))
          .orderBy($"l_returnflag")
      },
      Some {
        import graft.functions.HyperLogLog.M
        val estSql = graft.functions.HyperLogLog.estimateSql("d_scaled")
        val relErrSql =
          s"abs($estSql - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE)"
        s"""WITH h AS (SELECT l_returnflag, $hllOrderKeyHash AS h FROM lineitem),
          $hllRegisterCtes
          e AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct
            FROM lineitem GROUP BY 1),
          ${hllSummaryCte("exact_distinct")}
          SELECT l_returnflag, v_empty, d_scaled, reg_sum, reg_max,
            $estSql AS hll_estimate, exact_distinct,
            $relErrSql AS rel_err,
            CAST(CASE WHEN $relErrSql <= 5.0 * 1.04 / sqrt($M.0)
                 THEN 1 ELSE 0 END AS INT) AS within_5sigma
          FROM s ORDER BY l_returnflag"""
      }),

    // ---- INCREMENTAL MAINTENANCE of HLL REGISTERS (VERDICT r12 item 5b —
    //      q282's sibling on sketch state): a stored per-(flag, bucket)
    //      register snapshot as of a ship-date cutoff absorbs a new
    //      batch's register partials via groupBy-MAX over the unioned
    //      register rows — max IS the HLL merge (the mergeable-summaries
    //      contract: registers are a pure function of the key SET, so
    //      merge order, batch boundaries and partitioning all vanish).
    //      The ORACLE rebuilds the register table from ALL rows up to the
    //      batch end in one pass: register-merge ≡ register-recompute is
    //      the gated claim, hash-exact on the register summary (v_empty,
    //      exact scaled harmonic denominator, checksums) with the
    //      estimate as the single pinned float step. At 100 TB the state
    //      is O(groups·m) longs and each nightly batch costs O(delta) +
    //      a KB-scale merge — the profiling pipeline q254 feeds, made
    //      restartable. -----------------------------------------------------
    Q("q283_incremental_hll",
      (s, dir) => {
        import s.implicits._
        import graft.functions.HyperLogLog
        val cutoff = "1995-01-01"
        val batchEnd = "1995-07-01"
        val li = t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_shipdate", $"l_orderkey")
        def regsOf(df: org.apache.spark.sql.DataFrame) =
          HyperLogLog.registers(df, Seq("l_returnflag"),
            HyperLogLog.hash60("hll", $"l_orderkey"))
        // stored snapshot + fresh batch partials, same register shape
        val state = regsOf(li.filter($"l_shipdate" < lit(cutoff)))
        val delta = regsOf(li.filter(
          $"l_shipdate" >= lit(cutoff) && $"l_shipdate" < lit(batchEnd)))
        // the merge: elementwise max over unioned register rows
        val merged = state.unionByName(delta)
          .groupBy($"l_returnflag", $"bkt").agg(max($"reg").as("reg"))
        val summ = HyperLogLog.summarize(merged, Seq("l_returnflag"))
        val exact = li.filter($"l_shipdate" < lit(batchEnd))
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_orderkey").as("exact_after"))
        summ.join(exact, Seq("l_returnflag"))
          .select($"l_returnflag", $"v_empty", $"d_scaled", $"reg_sum",
            $"reg_max", $"hll_estimate",
            $"exact_after".cast("long").as("exact_after"))
          .orderBy($"l_returnflag")
      },
      Some {
        val estSql = graft.functions.HyperLogLog.estimateSql("d_scaled")
        s"""WITH h AS (SELECT l_returnflag, $hllOrderKeyHash AS h FROM lineitem
            WHERE CAST(l_shipdate AS DATE) < DATE '1995-07-01'),
          $hllRegisterCtes
          e AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_after
            FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1995-07-01'
            GROUP BY 1),
          ${hllSummaryCte("exact_after")}
          SELECT l_returnflag, v_empty, d_scaled, reg_sum, reg_max,
            $estSql AS hll_estimate, exact_after
          FROM s ORDER BY l_returnflag"""
      }),

    // ---- HLL REGISTER MERGE across TABLES — sketch-based join sizing,
    //      the q230 KMV estimate's union/intersection companion: the
    //      orders.o_custkey and customer.c_custkey register tables merge
    //      by ELEMENTWISE MAX (full-outer join on bucket + greatest),
    //      giving |A∪B| without ever co-shuffling the tables, and
    //      |A∩B| = Ê_A + Ê_B − Ê_{A∪B} by inclusion-exclusion — the
    //      cardinality input a join planner needs from two independent
    //      profiling passes (two KB-scale sketches, no data movement).
    //      Registers, merged registers and every d_scaled are exact
    //      longs; the three estimates and the intersection are
    //      pinned-order float expressions — DuckDB rebuilds all of it
    //      from the same rows and the gate hash-matches content. The
    //      exact intersection rides along as the test-scale audit (at
    //      production scale it IS the semi-join being avoided). ------------
    Q("q258_hll_union_join_estimate",
      (s, dir) => {
        import s.implicits._
        import graft.functions.HyperLogLog
        def regs(tab: String, c: String) =
          HyperLogLog.registers(
            t(s, dir, tab).select(col(c).cast("long").as("k")),
            Seq.empty, HyperLogLog.hash60("hlljoin", $"k"))
        val ra = regs("orders", "o_custkey")
        // B side restricted to one market segment so the two keysets
        // genuinely differ (every customer places an order in this data —
        // unfiltered sets would be identical and the union degenerate)
        val rb = HyperLogLog.registers(
          t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
            .select($"c_custkey".cast("long").as("k")),
          Seq.empty, HyperLogLog.hash60("hlljoin", $"k"))
        val merged = ra.select($"bkt", $"reg".as("reg_a"))
          .join(rb.select($"bkt", $"reg".as("reg_b")), Seq("bkt"), "full")
          .select($"bkt",
            greatest(coalesce($"reg_a", lit(0)), coalesce($"reg_b", lit(0)))
              .as("reg"))
        def dScaled(r: org.apache.spark.sql.DataFrame) = r
          .agg(count(lit(1)).as("nb"),
            sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HyperLogLog.RhoMax} - reg)"))
              .as("dp"))
          .select(($"dp" + (lit(HyperLogLog.M) - $"nb")
            * lit(1L << HyperLogLog.RhoMax)).as("d"))
        val est = dScaled(ra).select(HyperLogLog.estimate($"d").as("est_a"),
            $"d".as("d_a"))
          .crossJoin(dScaled(rb).select(HyperLogLog.estimate($"d").as("est_b"),
            $"d".as("d_b")))
          .crossJoin(dScaled(merged).select(
            HyperLogLog.estimate($"d").as("est_union"), $"d".as("d_union")))
        val exact = t(s, dir, "orders").select($"o_custkey".as("k")).distinct()
          .join(t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
            .select($"c_custkey".as("k")).distinct(), Seq("k"), "left_semi")
          .agg(count(lit(1)).as("exact_inter"))
        est.crossJoin(broadcast(exact))
          .select($"d_a".cast("long").as("d_a"), $"d_b".cast("long").as("d_b"),
            $"d_union".cast("long").as("d_union"),
            $"est_a", $"est_b", $"est_union",
            ($"est_a" + $"est_b" - $"est_union").as("est_inter"),
            $"exact_inter".cast("long").as("exact_inter"))
          .orderBy($"d_a") // single row; the gate requires a total order
      },
      Some {
        import graft.functions.HyperLogLog.{M, RhoMax, WordBits}
        def regsCte(name: String, tab: String, c: String) =
          s"""${name}_h AS (SELECT ${graft.functions.TextFunctions.hexPolySql(15,
            s"concat_ws('|', 'hlljoin', CAST($c AS BIGINT))")} AS h FROM $tab),
          $name AS (SELECT h >> $WordBits AS bkt,
              max(CASE WHEN h & ${(1L << WordBits) - 1} = 0 THEN $RhoMax
                  ELSE CAST(log2((h & ${(1L << WordBits) - 1})
                    & (-(h & ${(1L << WordBits) - 1}))) AS INT) + 1 END) AS reg
            FROM ${name}_h GROUP BY 1)"""
        def dCte(name: String, src: String) =
          s"""$name AS (SELECT sum(CAST(1 AS BIGINT) << ($RhoMax - reg))
              + ($M - count(*)) * (CAST(1 AS BIGINT) << $RhoMax) AS d
            FROM $src)"""
        val estA = graft.functions.HyperLogLog.estimateSql("da.d")
        val estB = graft.functions.HyperLogLog.estimateSql("db.d")
        val estU = graft.functions.HyperLogLog.estimateSql("du.d")
        s"""WITH ${regsCte("ra", "orders", "o_custkey")},
          ${regsCte("rb",
            "(SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') cb",
            "c_custkey")},
          m AS (SELECT COALESCE(ra.bkt, rb.bkt) AS bkt,
              greatest(COALESCE(ra.reg, 0), COALESCE(rb.reg, 0)) AS reg
            FROM ra FULL OUTER JOIN rb ON ra.bkt = rb.bkt),
          ${dCte("da", "ra")}, ${dCte("db", "rb")}, ${dCte("du", "m")},
          e AS (SELECT count(*) AS exact_inter FROM
            (SELECT DISTINCT o_custkey AS k FROM orders) o
            JOIN (SELECT DISTINCT c_custkey AS k FROM customer
              WHERE c_mktsegment = 'BUILDING') c USING (k))
          SELECT CAST(da.d AS BIGINT) AS d_a, CAST(db.d AS BIGINT) AS d_b,
            CAST(du.d AS BIGINT) AS d_union,
            $estA AS est_a, $estB AS est_b, $estU AS est_union,
            $estA + $estB - $estU AS est_inter,
            CAST(exact_inter AS BIGINT) AS exact_inter
          FROM da, db, du, e ORDER BY d_a"""
      }),

    // ---- DECISION LEDGER (VERDICT r12 item 8): the quartet of
    //      sketch→plan decisions — broadcast-vs-shuffle (q260), skew
    //      salting (q273), partition count (q275), LSH band precision
    //      (q280) — routed through ONE auditable ledger
    //      (ops/DecisionLog): each operator appends (estimate, threshold,
    //      branch, executed-plan evidence) at the moment it decides,
    //      without changing its own gate. This query runs all four under
    //      a capture scope and emits the run's ledger; since every
    //      estimate is a deterministic sketch (HLL registers,
    //      hash-Bernoulli samples), the ORACLE replays estimate,
    //      threshold comparison, chosen branch AND the expected plan
    //      evidence from the raw rows — a decision whose executed plan
    //      drifts from its choice (lost salt column, wrong join node,
    //      ignored partition count) flips the evidence string and fails
    //      the hash. At 100 TB this is the one table an operator reads
    //      to audit what the self-tuning pipeline decided and why. --------
    Q("q284_decision_ledger",
      (s, dir) => {
        import s.implicits._
        val (_, ledger) = graft.ops.DecisionLog.withCapture {
          plannedJoin(s, dir, BroadcastKeyThreshold)
          graft.queries.EventQueries.skewPlannedJoin(s, dir,
            graft.queries.EventQueries.SaltRowThreshold)
          graft.queries.TextQueries.adaptivePartitioning(s, dir,
            graft.queries.TextQueries.TargetPartitionBytes)
          graft.queries.TextQueries.lshPlannedBands(s, dir,
            graft.queries.TextQueries.LshBandT8,
            graft.queries.TextQueries.LshBandT4)
        }
        s.createDataFrame(ledger.map(d =>
            (d.op, d.estimate, d.threshold, d.branch, d.evidence)))
          .toDF("op", "estimate", "threshold", "branch", "evidence")
          .orderBy($"op")
      },
      Some {
        import graft.functions.HyperLogLog.{M, RhoMax, WordBits}
        val mask = (1L << WordBits) - 1
        def hllCtes(pfx: String, hashExpr: String, src: String) =
          s"""${pfx}_h AS (SELECT $hashExpr AS h FROM $src),
            ${pfx}_r AS (SELECT h >> $WordBits AS bkt,
                max(CASE WHEN h & $mask = 0 THEN $RhoMax
                    ELSE CAST(log2((h & $mask) & (-(h & $mask))) AS INT) + 1 END) AS reg
              FROM ${pfx}_h GROUP BY 1),
            ${pfx}_d AS (SELECT sum(CAST(1 AS BIGINT) << ($RhoMax - reg))
                + ($M - count(*)) * (CAST(1 AS BIGINT) << $RhoMax) AS d
              FROM ${pfx}_r)"""
        val custHash = graft.functions.TextFunctions.hexPolySql(15,
          "concat_ws('|', 'hlljoin', CAST(c_custkey AS BIGINT))")
        val docHash = graft.functions.TextFunctions.hexPolySql(15,
          "concat_ws('|', 'lshsz', doc_id)")
        val estBj = graft.functions.HyperLogLog.estimateSql("bjd.d")
        val estLb = graft.functions.HyperLogLog.estimateSql("lbd.d")
        val uEvt = graft.operators.Sampling.detRandSql(73L,
          Seq("CAST(event_id AS VARCHAR)"))
        val uDoc = graft.operators.Sampling.detRandSql(97L,
          Seq("CAST(doc_id AS VARCHAR)"))
        val bKT = BroadcastKeyThreshold
        val sRT = graft.queries.EventQueries.SaltRowThreshold
        val tPB = graft.queries.TextQueries.TargetPartitionBytes
        val (t8, t4) = (graft.queries.TextQueries.LshBandT8,
          graft.queries.TextQueries.LshBandT4)
        s"""WITH ${hllCtes("bj", custHash, "customer")},
          ${hllCtes("lb", docHash, "documents")},
          bj AS (SELECT 'broadcast_join' AS op, $estBj AS estimate,
              CAST($bKT AS DOUBLE) AS threshold,
              CASE WHEN $estBj <= $bKT THEN 'broadcast' ELSE 'shuffle' END AS branch,
              CASE WHEN $estBj <= $bKT THEN 'BroadcastHashJoin'
                   ELSE 'ShuffledHashJoin' END AS evidence
            FROM bj_d bjd),
          lbp AS (SELECT $estLb AS est,
              CASE WHEN $estLb <= $t8 THEN 8
                   WHEN $estLb <= $t4 THEN 4 ELSE 2 END AS b
            FROM lb_d lbd),
          lb AS (SELECT 'lsh_bands' AS op, est AS estimate,
              CASE WHEN b = 8 THEN CAST($t8 AS DOUBLE)
                   ELSE CAST($t4 AS DOUBLE) END AS threshold,
              'bands-' || CAST(b AS VARCHAR) AS branch,
              'band-rows=' || CAST(16 // b AS VARCHAR) AS evidence
            FROM lbp),
          pce AS (SELECT COALESCE(sum(octet_length(encode(text))), 0) * 16 AS b
            FROM documents WHERE $uDoc < 0.0625),
          pcn AS (SELECT b, least(4096, greatest(1, (b + $tPB - 1) // $tPB)) AS n
            FROM pce),
          pc AS (SELECT 'partition_count' AS op, CAST(b AS DOUBLE) AS estimate,
              CAST($tPB AS DOUBLE) AS threshold,
              'repartition-' || CAST(n AS VARCHAR) AS branch,
              'hashpartitioning=' || CAST(n AS VARCHAR) AS evidence
            FROM pcn),
          sse AS (SELECT event_type, count(*) * 16 AS est_rows
            FROM events WHERE $uEvt < 0.0625 GROUP BY event_type),
          sst AS (SELECT est_rows FROM sse
            ORDER BY est_rows DESC, event_type LIMIT 1),
          ss AS (SELECT 'skew_salt' AS op, CAST(est_rows AS DOUBLE) AS estimate,
              CAST($sRT AS DOUBLE) AS threshold,
              CASE WHEN est_rows > $sRT THEN 'salted' ELSE 'plain' END AS branch,
              CASE WHEN est_rows > $sRT THEN 'join-keys=event_type,__salt'
                   ELSE 'join-keys=event_type' END AS evidence
            FROM sst)
          SELECT op, estimate, threshold, branch, evidence FROM
            (SELECT * FROM bj UNION ALL SELECT * FROM lb
             UNION ALL SELECT * FROM pc UNION ALL SELECT * FROM ss)
          ORDER BY op"""
      }),

    // ---- the sketches USED for a planning decision (VERDICT r9/r10
    //      item 5): q258's HLL registers size the dimension build side,
    //      q230's KMV min-k algebra predicts the matched-key overlap,
    //      and the query DERIVES broadcast-vs-shuffle from the HLL
    //      estimate under the stated [[BroadcastKeyThreshold]] — then
    //      EXECUTES the chosen physical plan (broadcast() hint vs a
    //      forced SHUFFLE_HASH, so neither branch depends on Catalyst's
    //      own size guess). PlanShapeSpec pins BOTH branches by forcing
    //      the threshold through [[plannedJoin]]. The oracle replays the
    //      register table, the min-k algebra, the threshold CASE and the
    //      join aggregate from raw rows — decision inputs, decision and
    //      executed result all hash-gated. At 100 TB this is the real
    //      sequence: two KB-scale sketches from independent profiling
    //      passes decide whether the dimension ships to every executor
    //      or both sides co-shuffle; the estimates are in the output
    //      next to the exact per-segment audit so the planner's error
    //      is itself a deliverable. -------------------------------------
    Q("q260_sketch_planned_join",
      (s, dir) => plannedJoin(s, dir, BroadcastKeyThreshold),
      Some {
        import graft.functions.HyperLogLog.{M, RhoMax, WordBits}
        val mask = (1L << WordBits) - 1
        def minkSql(tab: String, c: String) = {
          val u = Sampling.detRandSql(41L, Seq(s"CAST($c AS VARCHAR)"))
          s"""SELECT u FROM (SELECT DISTINCT $u AS u FROM $tab
              WHERE $c IS NOT NULL) ORDER BY u LIMIT $kmvK"""
        }
        s"""WITH ch AS (SELECT ${graft.functions.TextFunctions.hexPolySql(15,
              "concat_ws('|', 'hlljoin', CAST(c_custkey AS BIGINT))")} AS h
            FROM customer),
          regs AS (SELECT h >> $WordBits AS bkt,
              max(CASE WHEN h & $mask = 0 THEN $RhoMax
                  ELSE CAST(log2((h & $mask) & (-(h & $mask))) AS INT) + 1 END) AS reg
            FROM ch GROUP BY 1),
          dd AS (SELECT sum(CAST(1 AS BIGINT) << ($RhoMax - reg))
              + ($M - count(*)) * (CAST(1 AS BIGINT) << $RhoMax) AS d
            FROM regs),
          a AS (${minkSql("orders", "o_custkey")}),
          b AS (${minkSql("customer", "c_custkey")}),
          un AS (SELECT u FROM (SELECT DISTINCT u FROM
                   (SELECT u FROM a UNION ALL SELECT u FROM b))
                 ORDER BY u LIMIT $kmvK),
          kst AS (SELECT count(*) AS k_got, max(un.u) AS u_k,
              sum(CASE WHEN a.u IS NOT NULL AND b.u IS NOT NULL
                  THEN 1 ELSE 0 END) AS k_both
            FROM un LEFT JOIN a ON un.u = a.u LEFT JOIN b ON un.u = b.u),
          est AS (SELECT ${graft.functions.HyperLogLog.estimateSql("dd.d")} AS est_dim,
              (CAST(k_both AS DOUBLE) / CAST(k_got AS DOUBLE))
                * (CAST(k_got - 1 AS DOUBLE) / u_k) AS est_inter
            FROM dd, kst),
          j AS (SELECT c_mktsegment, count(*) AS n_orders,
              count(DISTINCT o_custkey) AS n_custs
            FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
          SELECT est.est_dim AS est_dim_keys, est.est_inter AS est_matched_keys,
            CAST($BroadcastKeyThreshold AS BIGINT) AS threshold,
            CASE WHEN est.est_dim <= $BroadcastKeyThreshold
                 THEN 'broadcast' ELSE 'shuffle' END AS chosen,
            j.c_mktsegment, j.n_orders, j.n_custs
          FROM j, est ORDER BY c_mktsegment"""
      })
  )

  /** Stated q260 planning rule: broadcast the dimension iff its
    * HLL-estimated distinct key count is at most this (10M 8-byte keys
    * ≈ a 160 MB hash build — the upper edge of a sane executor
    * broadcast; above it, co-shuffle).
    */
  val BroadcastKeyThreshold = 10000000L

  /** q260 body with the threshold exposed so PlanShapeSpec can force
    * EACH branch: the HLL dimension-size estimate and the KMV overlap
    * estimate are computed first (two sketch passes, KB-scale results),
    * then the join executes under the decision — broadcast() hint or
    * forced SHUFFLE_HASH, never Catalyst's own size-based guess, so the
    * decision in the output row is provably the plan that ran.
    */
  def plannedJoin(s: SparkSession, dir: String,
      threshold: Long): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.functions.HyperLogLog
    // HLL: dimension build-side distinct keys (q258's register kernel)
    val regs = HyperLogLog.registers(
      t(s, dir, "customer").select($"c_custkey".cast("long").as("k")),
      Seq.empty, HyperLogLog.hash60("hlljoin", $"k"))
    val estDim = regs
      .agg(count(lit(1)).as("nb"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${HyperLogLog.RhoMax} - reg)"))
          .as("dp"))
      .select(HyperLogLog.estimate(
        ($"dp" + (lit(HyperLogLog.M) - $"nb")
          * lit(1L << HyperLogLog.RhoMax))).as("est"))
      .head().getDouble(0)
    // KMV: expected matched-key overlap (q230's min-k algebra)
    def mink(tab: String, c: String) =
      t(s, dir, tab).where(col(c).isNotNull)
        .select(Sampling.detRand(41L, col(c).cast("string")).as("u"))
        .distinct().orderBy($"u").limit(kmvK)
    // each sketch subtree (full fact/dim scan + distinct + sort-limit)
    // appears TWICE in kRow's plan (union arm + broadcast membership join);
    // Spark re-executes common subtrees per branch (same trap q47 hit), so
    // pin the ≤ kmvK-row results once — at scale the orders sketch pass is
    // the expensive side and must run exactly once per invocation
    val a = mink("orders", "o_custkey").localCheckpoint()
    val b = mink("customer", "c_custkey").localCheckpoint()
    val kRow = a.unionByName(b).distinct().orderBy($"u").limit(kmvK)
      .join(broadcast(a.select($"u", lit(1).as("in_a"))), Seq("u"), "left")
      .join(broadcast(b.select($"u", lit(1).as("in_b"))), Seq("u"), "left")
      .agg(count(lit(1)).as("k_got"), max($"u").as("u_k"),
        sum(when($"in_a" === 1 && $"in_b" === 1, 1L).otherwise(0L)).as("k_both"))
      .head()
    val (kGot, uK, kBoth) = (kRow.getLong(0), kRow.getDouble(1), kRow.getLong(2))
    // same float operation structure as q230's gated expression
    val estInter = (kBoth.toDouble / kGot.toDouble) * ((kGot - 1).toDouble / uK)
    val broadcastChosen = estDim <= threshold.toDouble
    val dim = t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
    val joined =
      if (broadcastChosen)
        t(s, dir, "orders").join(broadcast(dim), $"o_custkey" === $"c_custkey")
      else
        t(s, dir, "orders").join(dim.hint("shuffle_hash"), $"o_custkey" === $"c_custkey")
    val result = joined.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"))
      .select(
        lit(estDim).as("est_dim_keys"), lit(estInter).as("est_matched_keys"),
        lit(threshold).as("threshold"),
        lit(if (broadcastChosen) "broadcast" else "shuffle").as("chosen"),
        $"c_mktsegment", $"n_orders", $"n_custs")
      .orderBy($"c_mktsegment")
    // ledger (q284): evidence read back from the PLAN the decision built —
    // the physical join node, not the hint we asked for
    val planStr = result.queryExecution.executedPlan.toString()
    val joinNode =
      if (planStr.contains("BroadcastHashJoin")) "BroadcastHashJoin"
      else if (planStr.contains("ShuffledHashJoin")) "ShuffledHashJoin"
      else "missing-join-node"
    graft.ops.DecisionLog.record("broadcast_join", estDim, threshold.toDouble,
      if (broadcastChosen) "broadcast" else "shuffle", joinNode)
    result
  }
}
