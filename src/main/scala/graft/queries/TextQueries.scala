package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.TextFunctions._

/** Training-data-pipeline text operators over the `documents` table:
  * deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash), document
  * fingerprinting, language ID, quality scoring, token counting.
  *
  * These extend the reference's surface (its dedup appears only as
  * drop-duplicates on ingest, DataLoader.py:190-196; its string kernel in
  * eval_utils.py:239-243 / stable_match.py:9-24) to the operators a 100 TB
  * pretraining-data pipeline needs. Scale design notes per query; every
  * plan is shuffle-bounded (no cross join of the full corpus — candidate
  * generation always goes through an inverted index or LSH buckets).
  */
object TextQueries extends Registry {

  // NOT blanket-fanned-out (r16, measured): a global Tables.fanout here
  // shuffles the full-width doc rows ahead of every consumer and costs
  // more than the single-task scan it parallelizes for the many light
  // queries (q21 0.15→0.48 s, q87 0.54→1.38 s measured at sf0.1).
  // Queries whose per-row kernels are genuinely heavy apply
  // Tables.fanout AFTER their own narrow projection instead.
  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Distinct (doc_id, shingle) pairs — the inverted-index building block.
    * The token array is materialized as a column BEFORE the shingle lambda:
    * common-subexpression elimination does not reach inside higher-order
    * functions, so an inline `split()` would be re-evaluated per
    * element_at — O(words²) per document (measured 10× slower).
    */
  private def shingleSet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", tokens($"text").as("w"))
      .select($"doc_id", explode(wordShingles($"w", 3)).as("shingle"))
      .distinct()
      // lazy persist: the shingle table is the shared base of q22 and q23 —
      // Spark's CacheManager matches the identical logical plan, so within
      // one session the second query reads the cache instead of re-deriving
      .persist()
  }

  private val shingleCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(w) - 1)) AS t(i))""".stripMargin

  private val nPerms = 16

  /** q264 fixed peel budget / q265 fixed LPA rounds — part of each
    * query's DEFINITION (both oracles unroll exactly this many rounds;
    * see the Components scaladoc for why fixed budgets are what make
    * iterative graph kernels oracle-replayable).
    */
  private val kcoreRounds = 8
  private val lpaRounds = 4
  private val nBands = 4

  /** Decontamination building blocks shared by q104 and the q108
    * streaming probe (PipelineQueries): the held-out benchmark sources,
    * distinct (doc_id, source, shingle) triples, and the DuckDB CTE twin
    * ending in the `bench` distinct-shingle set. One definition — the
    * batch check and its stream twin cannot silently diverge.
    */
  private[queries] val benchSources = Seq("src0", "src1")

  private[queries] def sourceShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select($"doc_id", $"source", tokens($"text").as("w"))
      .select($"doc_id", $"source", explode(wordShingles($"w", 3)).as("shingle"))
      .distinct()
  }

  private[queries] val benchShingleCte =
    """w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, source,
      |              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(w) - 1)) AS t(i)),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE source IN ('src0', 'src1'))""".stripMargin

  /** Materialize a reused subplan once (eager persist): a LAZY persist that
    * first gets populated inside a self-join plans pathologically (measured
    * 3-8× slower than computing it twice); forcing it with a count first
    * makes every downstream use a cheap cache scan.
    */
  // shared core helper since r17 (ADVICE r16) — the A13 storage-level
  // assertion lives there; every green q22/q23/q103/q104 run certifies it
  private def materialize(df: DataFrame): DataFrame =
    graft.core.Caching.materialize(df)

  /** doc_id -> 16 minhash columns h0..h15 (bigint).
    *
    * ROW-LOCAL since r16 (guide §2.4, remove shuffles outright): a doc's
    * signature is a pure function of its own shingle multiset — min over
    * the affine-permuted 60-bit base hashes — so the former
    * explode → distinct → groupBy pipeline (two corpus-wide shuffles whose
    * payload was the shingle STRINGS) is replaced by per-row array
    * kernels: hash every shingle once (`hma` gets its own projection so
    * the md5 is not re-evaluated per permutation — CSE does not reach
    * inside lambdas), then 16 array_min passes over the long array.
    * Dropping the DISTINCT is exact: min over a multiset equals min over
    * its set, and the affine map is injective mod p, so duplicate
    * shingles (or 60-bit prefix collisions within one doc) cannot move
    * any h_j. Docs with fewer than 3 tokens have no shingles and are
    * absent from the result — same as the explode path. The oracle CTE
    * (distinct-then-min over the same md5 arithmetic) is unchanged; the
    * 12 green minhash-family gates re-certify the equivalence.
    */
  private def minhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hm = (sh: Column) =>
      conv(substring(md5(sh), 1, 15), 16, 10).cast("long") % minhashP
    val mins = (0 until nPerms).map { j =>
      val (a, b) = permConsts(j)
      array_min(transform($"hma", x => (lit(a) * x + lit(b)) % minhashP))
        .as(s"h$j")
    }
    // r17 RE-MEASURE of the r16 fanout rejection: that A/B predated the
    // split-decision memo — every fanout call then paid a full extra
    // physical-planning pass, which on this hot shared feed dominated the
    // exchange it added (the r16 "10-30% family regression"). With the memo
    // the probe runs once per file set and the exchange is the only cost;
    // the 2.2 s single-task md5+array_min kernel spreads across all cores.
    graft.core.Tables.fanout(docs(s, dir).select($"doc_id", $"text"))
      .select($"doc_id", tokens($"text").as("w"))
      .filter(size($"w") >= 3)
      .select($"doc_id", transform(wordShingles($"w", 3), hm).as("hma"))
      .select($"doc_id" +: mins: _*)
  }

  private val minhashCte = {
    val mins = (0 until nPerms)
      .map(j => s"${minhashAggSql(j)} AS h$j").mkString(", ")
    s"""$shingleCte,
       |shh AS (SELECT doc_id, ${baseHashSql("shingle")} AS hm FROM sh),
       |mh AS (SELECT doc_id, $mins FROM shh GROUP BY doc_id)""".stripMargin
  }

  /** LSH candidate pairs with their minhash agreement count (shared by
    * q23 similarity estimates and q73 component edges): band the signature,
    * self-join on (band, band key), count agreeing permutations.
    */
  private def lshScored(mh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lshScoredWith(mh, nBands)

  /** [[lshScored]] with the band count as a parameter (q280's decision
    * executes this with a sketch-chosen value; everything else uses the
    * pipeline default `nBands`). Bands are contiguous runs of
    * nPerms/bands signature slots, so coarser bandings nest inside finer
    * ones: candidates(b=2) ⊆ candidates(b=4) ⊆ candidates(b=8) — the
    * cross-branch invariant PlanShapeSpec checks.
    */
  private[queries] def lshScoredWith(mh: org.apache.spark.sql.DataFrame,
      nb: Int): org.apache.spark.sql.DataFrame = {
    require(nPerms % nb == 0, s"bands=$nb must divide nPerms=$nPerms")
    val nSlots = nPerms / nb
    // EXACT band-key packing (r16; guide §2.3, shuffle narrower keys):
    // every h_j < minhashP, so h_i·P + h_{i+1} is a bijection on pairs —
    // the band key becomes ⌈slots/2⌉ BIGINT columns instead of a
    // "_"-joined string (~40 B/row → 8-16 B/row through the bands
    // self-join shuffle), with a PROVABLY identical bucket partition (a
    // pack collision is impossible, so the candidate set cannot move;
    // the string-keyed DuckDB oracle is unchanged).
    val nKeys = (nSlots + 1) / 2
    val bandStructs = (0 until nb).map { b =>
      val hs = (0 until nSlots).map(j => col(s"h${nSlots * b + j}"))
      val packed = hs.grouped(2).map {
        case Seq(x, y) => x * lit(minhashP) + y
        case Seq(x) => x
      }.toSeq
      struct(lit(b).as("band") +:
        packed.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
    }
    val keyNames = "band" +: (0 until nKeys).map(i => s"k$i")
    val bands = mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id") +: keyNames.map(n => col(s"bb.$n").as(n)): _*)
    val cand = bands.as("a").join(bands.as("b"),
        keyNames.map(n => col(s"a.$n") === col(s"b.$n")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val agree = (0 until nPerms)
      .map(j => when(col(s"ma.h$j") === col(s"mb.h$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(mh.as("ma"), col("doc_a") === col("ma.doc_id"))
      .join(mh.as("mb"), col("doc_b") === col("mb.doc_id"))
      .select(col("doc_a"), col("doc_b"), agree.as("agree"))
  }

  // ---- shared quality-score expressions (q28 columns + q74 filter);
  //      operate on `text` plus a materialized token-array column `w` ------
  private def docDigitRatio = {
    val len = length(col("text")).cast("double")
    (len - length(regexp_replace(col("text"), "[0-9]", "")).cast("double")) / len
  }
  private def docStopRatio = {
    val stops = LangLexicon.entries.map(_._1)
    size(filter(col("w"), x => x.isin(stops: _*))).cast("double") /
      size(col("w")).cast("double")
  }
  private def docQuality =
    least(lit(1.0), size(col("w")).cast("double") / 100.0) *
      (lit(1.0) - docDigitRatio) * (lit(1.0) - lit(0.5) * docStopRatio)

  private val qualitySqlExpr =
    s"""least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
       * (1.0 - (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text))
       * (1.0 - 0.5 * (CAST(len(list_filter(string_split(text, ' '), x -> x IN (${LangLexicon.sqlWordList}))) AS DOUBLE)
                       / len(string_split(text, ' '))))"""

  /** q146's fixed-weight classifier logit (requires a `w` token-array
    * column in scope); shared with the q168 calibration audit. All
    * weights are exact binary fractions over int/int divisions — the
    * logit is bit-identical cross-engine with this evaluation order.
    */
  private def classifierLogit = {
    val nTok = size(col("w")).cast("double")
    val fLen = least(lit(1.0), nTok / 100.0)
    val meanWlen = (length(col("text")).cast("double") - (nTok - lit(1.0))) / nTok
    lit(-1.0) + lit(2.5) * fLen - lit(4.0) * docDigitRatio +
      lit(1.0) * docStopRatio - lit(0.25) * meanWlen
  }

  private val logitSqlExpr =
    s"""-1.0 + 2.5 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
       - 4.0 * ((CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text))
       + 1.0 * (CAST(len(list_filter(string_split(text, ' '), x -> x IN (${LangLexicon.sqlWordList}))) AS DOUBLE)
                / len(string_split(text, ' ')))
       - 0.25 * ((CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE))"""

  /** DuckDB twin of [[lshScored]] (appended after [[minhashCte]]). */
  private val lshScoredCte = {
    val bandSelects = (0 until nBands).map { b =>
      val hs = (0 until nPerms / nBands)
        .map(j => s"CAST(h${nPerms / nBands * b + j} AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $hs AS bkey FROM mh"
    }.mkString(" UNION ALL ")
    val agree = (0 until nPerms)
      .map(j => s"(CASE WHEN ma.h$j = mb.h$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$minhashCte,
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |scored AS (SELECT doc_a, doc_b, $agree AS agree
       |           FROM cand JOIN mh ma ON doc_a = ma.doc_id
       |                     JOIN mh mb ON doc_b = mb.doc_id)""".stripMargin
  }

  /** [[lshScoredCte]] with the band count as a parameter and
    * `_<bands>`-suffixed CTE names, so q280's oracle can hold all three
    * precision variants in one query (appended after [[minhashCte]]).
    */
  private def lshScoredCteWith(nb: Int): String = {
    val bandSelects = (0 until nb).map { b =>
      val hs = (0 until nPerms / nb)
        .map(j => s"CAST(h${nPerms / nb * b + j} AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $hs AS bkey FROM mh"
    }.mkString(" UNION ALL ")
    val agree = (0 until nPerms)
      .map(j => s"(CASE WHEN ma.h$j = mb.h$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""bands_$nb AS ($bandSelects),
       |cand_$nb AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands_$nb a JOIN bands_$nb b
       |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |scored_$nb AS (SELECT doc_a, doc_b, $agree AS agree
       |           FROM cand_$nb JOIN mh ma ON doc_a = ma.doc_id
       |                     JOIN mh mb ON doc_b = mb.doc_id)""".stripMargin
  }

  /** q280's stated precision ladder: small corpora maximize RECALL (8
    * bands of 2 rows — collisions are cheap when n is small), large ones
    * buy PRECISION with longer band keys (candidate volume ~ n²·P[band
    * collision] — the knob that keeps the candidate join linear as n
    * grows). Thresholds compare the HLL corpus estimate.
    */
  val LshBandT8: Double = 2000.0
  val LshBandT4: Double = 200000.0

  /** q280 body with both thresholds exposed so PlanShapeSpec can force
    * every branch. The corpus-size estimate is the q254 HLL register
    * kernel (order-free, oracle-replayable); the chosen band count then
    * EXECUTES through [[lshScoredWith]]. Contiguous-run banding nests, so
    * candidates(2) ⊆ candidates(4) ⊆ candidates(8) — the spec's
    * cross-branch invariant.
    */
  def lshPlannedBands(s: SparkSession, dir: String,
      t8: Double, t4: Double): DataFrame = {
    import s.implicits._
    import graft.functions.HyperLogLog
    val est = HyperLogLog.summarize(
        HyperLogLog.registers(docs(s, dir).select($"doc_id"), Seq.empty,
          HyperLogLog.hash60("lshsz", $"doc_id")), Seq.empty)
      .head().getAs[Double]("hll_estimate")
    val bands = if (est <= t8) 8 else if (est <= t4) 4 else 2
    // ledger (q284): the deciding boundary is t8 below it, t4 everywhere
    // above (the 4-vs-2 split AND the exceeded ceiling); evidence = the
    // band-key width the parametrized kernel executes with
    graft.ops.DecisionLog.record("lsh_bands", est,
      if (est <= t8) t8 else t4, s"bands-$bands",
      s"band-rows=${nPerms / bands}")
    val mh = materialize(minhashes(s, dir))
    lshScoredWith(mh, bands)
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("agree") >= nPerms / 2, 1L).otherwise(0L)).as("n_survivors"))
      .select(lit(est).as("est_docs"), lit(bands).as("bands"),
        lit(t8).as("t8"), lit(t4).as("t4"),
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        coalesce($"n_survivors", lit(0L)).as("n_survivors"))
  }

  /** q275's stated sizing rule: one shuffle partition per 64 MB of
    * estimated input — the SCALING.md q267 lesson ("partition COUNT must
    * scale with data") operationalized as the third sketch→plan decision
    * (q260 broadcast, q273 salt, q275 parallelism). At bench scale the
    * estimate is KBs → 1 partition; at 100 TB the same rule yields ~1.6M.
    * PlanShapeSpec forces the target down to pin a many-partition plan.
    */
  val TargetPartitionBytes: Long = 64L << 20

  /** q275 body with the target exposed so PlanShapeSpec can force the
    * multi-partition branch. Corpus bytes are estimated from a
    * DETERMINISTIC 1/16 hash-Bernoulli sample (q273's sketch pattern —
    * order- and partition-free, so the oracle replays estimate, derived
    * partition count AND the aggregate), then the plan EXECUTES
    * `repartition(n, doc_id)` with the derived n — an explicit
    * numPartitions AQE must respect, asserted from the executed plan's
    * ShuffleExchange in the spec. Integer ceiling ((b + t - 1) div t),
    * clamped to [1, 4096] (the single-box ceiling; a cluster raises it).
    */
  def adaptivePartitioning(s: SparkSession, dir: String,
      targetBytes: Long): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val estBytes = d
      .filter(graft.operators.Sampling.detRand(97L,
        $"doc_id".cast("string")) < 1.0 / 16)
      .agg((coalesce(sum(octet_length($"text")), lit(0L)) * 16).as("b"))
      .head().getLong(0)
    val nParts = math.min(4096L,
      math.max(1L, (estBytes + targetBytes - 1) / targetBytes)).toInt
    val result = d.repartition(nParts, $"doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length($"text")).as("n_bytes"))
      .select(lit(estBytes).as("est_bytes"),
        lit(targetBytes).as("target_bytes"),
        lit(nParts).as("n_partitions"),
        $"lang", $"n_docs", $"n_bytes")
      .orderBy($"lang")
    // ledger (q284): evidence = the partition count read back from the
    // built plan's repartition exchange, not the number we asked for
    val planStr = result.queryExecution.executedPlan.toString()
    val m = java.util.regex.Pattern
      .compile("hashpartitioning\\(doc_id[^,)]*, (\\d+)\\)").matcher(planStr)
    // n = 1 short-circuits to a SinglePartition exchange (no hash keys in
    // the plan text) — still the requested one-partition layout
    val planParts =
      if (m.find()) m.group(1)
      else if (nParts == 1 && planStr.contains("SinglePartition")) "1"
      else "missing"
    graft.ops.DecisionLog.record("partition_count", estBytes.toDouble,
      targetBytes.toDouble, s"repartition-$nParts",
      s"hashpartitioning=$planParts")
    result
  }

  /** q292's shard-parallel next-fit fold over a (shard, tok, doc_id)
    * frame — one exchange, one sorted streaming pass with per-shard state
    * reset; shared with q300's manifest. Returns one row per shard:
    * (shard, n_docs, n_bins, sum_tokens, waste).
    */
  private def packShards(s: SparkSession, sized: DataFrame,
      cap: Long): DataFrame = {
    import s.implicits._
    sized
      .repartition(col("shard"))
      .sortWithinPartitions($"shard", $"tok".desc, $"doc_id")
      .select($"shard", $"tok", $"doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var shard = -1L
        var fill = 0L
        var bins = 0L
        var nDocs = 0L
        var sumTok = 0L
        def flush(): Unit = if (shard >= 0)
          out += ((shard, nDocs, bins, sumTok, bins * cap - sumTok))
        it.foreach { case (sh, tok, _) =>
          if (sh != shard) {
            flush(); shard = sh; fill = 0; bins = 0; nDocs = 0; sumTok = 0
          }
          if (bins == 0 || fill + tok > cap) { bins += 1; fill = 0 }
          fill += tok; nDocs += 1; sumTok += tok
        }
        flush()
        out.iterator
      }
      .toDF("shard", "n_docs", "n_bins", "sum_tokens", "waste")
  }

  // ---- q305/q308 shared BPE machinery ---------------------------------

  /** Word-frequency vocab with the '_'-terminated space-delimited symbol
    * encoding (see q305's registration comment for why this encoding
    * makes replace() exactly BPE's greedy merge). Spark's split('') keeps
    * a trailing empty element DuckDB's string_split drops — filtered so
    * both engines see the same initial sequence. Vocab-sized on a
    * handful of partitions (the per-round jobs are latency-bound).
    */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame =
    // MEASURED REJECTION (r17): fanning the text feed past the single-split
    // scan (the probe showed a 1.5 s one-task explode+regex stage) read
    // WORSE end to end — q305 3.3/1.6 s → 7.5/2.9 s cold/warm in quiet-box
    // fresh-JVM A/B. The vocab is built once and the six latency-bound
    // rounds dominate; the extra exchange ahead of the coalesce(4) chain
    // costs more than the one-task stage it removes. Kept unfanned.
    materialize(docs(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]{2,12}$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("sym", expr(
        "' ' || concat_ws(' ', transform(filter(split(word, ''), " +
          "c -> c != ''), c -> c || '_')) || ' '"))
      .coalesce(4))

  private def bpePairCounts(v: DataFrame): DataFrame = v
    .select(col("freq"), split(trim(col("sym")), " ").as("arr"))
    .filter(size(col("arr")) >= 2) // a fully-merged word has no pairs
    .select(col("freq"), col("arr"),
      posexplode(expr("sequence(0, size(arr) - 2)")))
    .select(col("freq"), expr("arr[col]").as("l"), expr("arr[col + 1]").as("r"))
    .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("c"))

  /** Six learned merge rounds: (round, winning pair frame, merged vocab).
    * Each round ends in localCheckpoint, NOT persist: each round's sym
    * is a replace() over the previous round's, so a persist-only chain
    * keeps the full nested lineage in the logical plan and Catalyst/
    * codegen time doubles per round (measured: 20 s at round 6 — the
    * q192 post-mortem class; SCALING.md's iterative-kernel rule).
    */
  private def bpeRounds(s: SparkSession,
      v0: DataFrame): Seq[(Int, DataFrame, DataFrame)] = {
    var v = v0
    (1 to 6).map { k =>
      // best is read twice (rewrite + output row): checkpoint the 1-row
      // frame so the vocab-wide pair count runs once
      val best = bpePairCounts(v)
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).localCheckpoint(true)
      val merged = v.crossJoin(broadcast(best))
        .select(col("word"), col("freq"), expr(
          "replace(sym, ' ' || l || ' ' || r, ' ' || substr(l, 1, length(l) - 1) || r)")
          .as("sym"))
        .localCheckpoint(true)
      v = merged
      (k, best, merged)
    }
  }

  /** The DuckDB twin of [[bpeVocab]] + [[bpeRounds]]: wf and the six
    * unrolled rounds (p/b/v/tk CTEs per round), shared by the q305 and
    * q308 oracles.
    */
  private val bpeCtes: String = {
    def roundSql(k: Int, prev: String) =
      s"""p$k AS (SELECT l, r, sum(freq) AS c FROM (
            SELECT freq, arr[i] AS l, arr[i + 1] AS r FROM (
              SELECT freq, string_split(trim(sym), ' ') AS arr FROM $prev),
            UNNEST(range(1, len(arr))) AS t(i))
          GROUP BY l, r),
        b$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
        v$k AS (SELECT word, freq,
            replace(sym, ' ' || b.l || ' ' || b.r,
              ' ' || substr(b.l, 1, length(b.l) - 1) || b.r) AS sym
          FROM $prev, b$k b),
        tk$k AS (SELECT sum(freq * len(string_split(trim(sym), ' '))) AS t
          FROM v$k)"""
    s"""wf AS (
        SELECT word, count(*) AS freq,
          ' ' || array_to_string(list_transform(string_split(word, ''),
            c -> c || '_'), ' ') || ' ' AS sym
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
              FROM documents)
        WHERE regexp_matches(word, '^[a-z0-9]{2,12}$$')
        GROUP BY word),
      ${roundSql(1, "wf")},
      ${roundSql(2, "v1")},
      ${roundSql(3, "v2")},
      ${roundSql(4, "v3")},
      ${roundSql(5, "v4")},
      ${roundSql(6, "v5")}"""
  }

  /** Language-ID votes (q27, q78, q161, q300): the lexicon and each
    * document's token hits per candidate language. */
  private def langHitsCtes: String = s"""lex(word, cand_lang) AS (VALUES ${LangLexicon.sqlValues}),
          hits AS (SELECT doc_id, cand_lang, count(*) AS n_hits
                   FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                         FROM documents) tok
                   JOIN lex USING (word) GROUP BY doc_id, cand_lang),"""

  /** q161's funnel stages as DuckDB CTEs (s1..s5), shared with q300. */
  private def funnelCtes: String = s"""s1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
          $langHitsCtes
          en AS (SELECT doc_id FROM (
                   SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY n_hits DESC, cand_lang) AS rn FROM hits)
                 WHERE rn = 1 AND cand_lang = 'en'),
          s2 AS (SELECT doc_id FROM s1 JOIN en USING (doc_id)),
          qual AS (SELECT doc_id FROM documents WHERE $qualitySqlExpr >= 0.4),
          s3 AS (SELECT doc_id FROM s2 JOIN qual USING (doc_id)),
          $benchShingleCte,
          contaminated AS (SELECT DISTINCT f.doc_id FROM sh f
                           JOIN bench USING (shingle)
                           WHERE f.source NOT IN ('src0', 'src1')),
          s4 AS (SELECT doc_id FROM s3 WHERE doc_id NOT IN
                   (SELECT doc_id FROM contaminated
                    UNION ALL SELECT doc_id FROM documents
                    WHERE source IN ('src0', 'src1'))),
          fp AS (SELECT doc_id,
              md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
            FROM documents),
          s5 AS (SELECT min(s4.doc_id) AS doc_id FROM s4
                 JOIN fp ON fp.doc_id = s4.doc_id GROUP BY fingerprint)"""

  /** q161's six funnel stages (raw → exact dedup → lang → quality →
    * decontaminated → near-dup survivors), shared with q300's manifest —
    * each stage keeps its standalone query's plan shape.
    */
  private def funnelStages(s: SparkSession, dir: String)
      : Seq[(Long, String, DataFrame)] = {
    import s.implicits._
    val s0 = docs(s, dir).select($"doc_id")
        val s1 = docs(s, dir)
          .groupBy(md5($"text").as("h")).agg(min($"doc_id").as("doc_id"))
          .select($"doc_id")
        val lex = LangLexicon.entries.toDF("word", "cand_lang")
        // fanout (r17, guide §2.5): the lang-id token explode and the
        // row-local quality fold are per-token kernels that ran on one
        // core of the single-row-group fixture scan; round-robin the
        // narrow (doc_id, text) projection first. Identity on well-split
        // input. (Contrast the r16 docs()-blanket rejection, which moved
        // FULL-width doc rows ahead of every consumer.)
        val hits = graft.core.Tables.fanout(
            docs(s, dir).select($"doc_id", $"text"))
          .select($"doc_id", explode(tokens(lower($"text"))).as("word"))
          .join(broadcast(lex), "word")
          .groupBy($"doc_id", $"cand_lang").agg(count(lit(1)).as("n_hits"))
        val lw = Window.partitionBy($"doc_id").orderBy($"n_hits".desc, $"cand_lang")
        val en = hits.withColumn("rn", row_number().over(lw)).filter($"rn" === 1)
          .filter($"cand_lang" === "en").select($"doc_id")
        val s2 = s1.join(en, Seq("doc_id"))
        val qual = graft.core.Tables.fanout(
            docs(s, dir).select($"doc_id", $"text"))
          .withColumn("w", tokens($"text"))
          .filter(docQuality >= 0.4).select($"doc_id")
        val s3 = s2.join(qual, Seq("doc_id"))
        val contaminated = sourceShingles(s, dir)
          .filter(!$"source".isin(benchSources: _*))
          .join(broadcast(sourceShingles(s, dir)
            .filter($"source".isin(benchSources: _*))
            .select($"shingle").distinct()), Seq("shingle"))
          .select($"doc_id").distinct()
        val benchDocs = docs(s, dir)
          .filter($"source".isin(benchSources: _*)).select($"doc_id")
        val s4 = s3.join(contaminated.unionAll(benchDocs), Seq("doc_id"), "left_anti")
        val fp = docs(s, dir)
          .select($"doc_id", md5(normalize($"text")).as("fingerprint"))
        val s5 = s4.join(fp, Seq("doc_id"))
          .groupBy($"fingerprint").agg(min($"doc_id").as("doc_id"))
          .select($"doc_id")
    Seq(
      (0L, "raw", s0), (1L, "exact_dedup", s1), (2L, "lang_en", s2),
      (3L, "quality", s3), (4L, "decontaminated", s4),
      (5L, "neardup_survivors", s5))
  }

  /** The near-dup graph's components (q73, q197, q176, q103): LSH-scored
    * pairs at >= half the permutations, made undirected, and their
    * transitive closure `reach(a, b)`. */
  private val lshReachCtes = s"""WITH RECURSIVE $lshScoredCte,
          und AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE agree >= ${nPerms / 2}
                  UNION
                  SELECT doc_b, doc_a FROM scored WHERE agree >= ${nPerms / 2}),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION
                          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)"""

  /** q122 and q165's incremental-dedup split: the last tenth of doc ids
    * is the new batch, every document is cut into 20-token chunks hashed
    * every 10 tokens, and `existing` holds the older documents' chunks. */
  private val chunkCtes = """WITH m AS (SELECT max(doc_id) - max(doc_id) // 10 AS cut FROM documents),
          t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
          c AS (SELECT DISTINCT doc_id, unnest(
              [md5(array_to_string(toks[i:i+19], ' '))
               for i in range(1, greatest(len(toks) - 19, 0) + 1, 10)]) AS chunk
            FROM t),
          existing AS (SELECT DISTINCT chunk FROM c, m WHERE doc_id < cut),"""

  /** The sigmoid of the logistic-regression oracles (q178, q285) in 1e-6
    * units, for weights row `w` over the features f1..f3. */
  private def lrPmSql(w: String) =
    s"""CAST(round(1000000 / (1.0 + exp(-($w.w0 + $w.w1 * f1 + $w.w2 * f2 + $w.w3 * f3)))) AS BIGINT)"""

  /** q178 and q285's features `f` (length, digit ratio, stop-word ratio,
    * quality label) and two exactly quantized batch gradient steps,
    * weights wa -> wb -> wc. */
  private val lrTwoStepCtes = {
    val digitSql =
      "((CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text))"
    val stopSql =
      s"""(CAST(len(list_filter(string_split(text, ' '), x -> x IN (${LangLexicon.sqlWordList}))) AS DOUBLE)
              / len(string_split(text, ' ')))"""
    def stepSql(prev: String, p: String, g: String, nxt: String) =
      s"""$p AS (SELECT f.*, ${lrPmSql("w")} AS pm FROM f CROSS JOIN $prev w),
            $g AS (SELECT
                sum(CAST(round((CAST(pm AS DOUBLE) / 1000000 - y) * 1000000) AS BIGINT)) AS g0,
                sum(CAST(round((CAST(pm AS DOUBLE) / 1000000 - y) * f1 * 1000000) AS BIGINT)) AS g1,
                sum(CAST(round((CAST(pm AS DOUBLE) / 1000000 - y) * f2 * 1000000) AS BIGINT)) AS g2,
                sum(CAST(round((CAST(pm AS DOUBLE) / 1000000 - y) * f3 * 1000000) AS BIGINT)) AS g3,
                count(*) AS n FROM $p),
            $nxt AS (SELECT w.w0 - CAST(g.g0 AS DOUBLE) / 1000000 / g.n AS w0,
                            w.w1 - CAST(g.g1 AS DOUBLE) / 1000000 / g.n AS w1,
                            w.w2 - CAST(g.g2 AS DOUBLE) / 1000000 / g.n AS w2,
                            w.w3 - CAST(g.g3 AS DOUBLE) / 1000000 / g.n AS w3
                     FROM $prev w CROSS JOIN $g g)"""
    s"""WITH f AS (SELECT doc_id,
                least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) AS f1,
                $digitSql AS f2,
                $stopSql AS f3,
                CASE WHEN ($qualitySqlExpr) >= 0.4 THEN 1 ELSE 0 END AS y
              FROM documents),
            wa AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
            ${stepSql("wa", "p1", "g1", "wb")},
            ${stepSql("wb", "p2", "g2", "wc")},"""
  }

  override def entries: Seq[Q] = Seq(

    // ---- corpus curation: the end-to-end filter chain a training-data
    //      pipeline actually runs — exact-dedup survivors ∩ lexicon
    //      language-ID == 'en' ∩ quality threshold, emitting doc_id with
    //      its token count and score. Composes the q21/q27/q28 subplans;
    //      every stage keeps its own scale shape (one md5 shuffle, broadcast
    //      lexicon, row-local quality). --------------------------------------
    Q("q78_corpus_curation",
      (s, dir) => {
        import s.implicits._
        val survivors = docs(s, dir)
          .groupBy(md5($"text").as("h")).agg(min($"doc_id").as("doc_id"))
          .select($"doc_id")
        val lex = LangLexicon.entries.toDF("word", "cand_lang")
        val hits = docs(s, dir)
          .select($"doc_id", explode(tokens(lower($"text"))).as("word"))
          .join(broadcast(lex), "word")
          .groupBy($"doc_id", $"cand_lang").agg(count(lit(1)).as("n_hits"))
        val w = Window.partitionBy($"doc_id").orderBy($"n_hits".desc, $"cand_lang")
        val best = hits.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"doc_id", $"cand_lang".as("pred_lang"))
        docs(s, dir).withColumn("w", tokens($"text"))
          .select($"doc_id", size($"w").as("n_tokens"), docQuality.as("quality"))
          .join(survivors, Seq("doc_id"))
          .join(best, Seq("doc_id"))
          .filter($"pred_lang" === "en" && $"quality" >= 0.4)
          .select($"doc_id", $"pred_lang", $"n_tokens", $"quality")
          .orderBy($"doc_id")
      },
      Some(s"""WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
          $langHitsCtes
          best AS (SELECT doc_id, cand_lang AS pred_lang FROM (
                     SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY n_hits DESC, cand_lang) AS rn FROM hits)
                   WHERE rn = 1),
          q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                       $qualitySqlExpr AS quality FROM documents)
        SELECT q.doc_id, pred_lang, n_tokens, quality
        FROM q JOIN surv ON q.doc_id = surv.doc_id
               JOIN best ON q.doc_id = best.doc_id
        WHERE pred_lang = 'en' AND quality >= 0.4
        ORDER BY q.doc_id""")),

    // ---- curation FUNNEL report: the per-stage survivor counts a data
    //      team publishes with every corpus release — raw → exact-dedup →
    //      language gate → quality gate → decontamination → fingerprint
    //      near-dup survivors. Each stage reuses the proven plan shape of
    //      its standalone query (q21/q27/q28/q104/q26); the funnel only
    //      adds per-stage count rollups (1-row aggregates, no new scale
    //      surface). The drop BETWEEN stages is the signal reviewers read:
    //      a stage suddenly eating 90% flags a broken gate. ----------------
    Q("q161_curation_funnel",
      (s, dir) => {
        import s.implicits._
        // r16: persist every stage — stage i's plan contains stages 1..i-1
        // as subtrees, so without the caches the 6-branch union re-derived
        // the whole prefix chain per count (O(stages²) passes: the lang-id
        // window ran 4×, the shingle decontamination 2×, exact dedup 5×).
        // CacheManager sameResult-substitutes each cached stage into every
        // later branch; blocks drop via SessionHygiene between queries.
        val staged = funnelStages(s, dir)
        staged.foreach { case (_, _, df) => df.persist() }
        staged.map { case (i, nm, df) =>
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(i).as("stage"), lit(nm).as("stage_name"), $"n_docs")
        }.reduce(_.unionAll(_)).orderBy($"stage")
      },
      Some(s"""WITH $funnelCtes
        SELECT * FROM (
          SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
                 count(*) AS n_docs FROM documents
          UNION ALL SELECT 1, 'exact_dedup', count(*) FROM s1
          UNION ALL SELECT 2, 'lang_en', count(*) FROM s2
          UNION ALL SELECT 3, 'quality', count(*) FROM s3
          UNION ALL SELECT 4, 'decontaminated', count(*) FROM s4
          UNION ALL SELECT 5, 'neardup_survivors', count(*) FROM s5)
        ORDER BY stage""")),

    // ---- vocabulary build: corpus-wide token frequency + document
    //      frequency, top-100 — the vocab/stopword-discovery step of a
    //      tokenizer pipeline. One shuffle for the (token) aggregation;
    //      the top-k is TakeOrdered (per-partition heaps), not a global
    //      sort, so the full vocab never funnels through one task. ---------
    Q("q84_vocab_topk",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id", explode(tokens(lower($"text"))).as("token"))
          .groupBy($"token")
          .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("df"))
          .orderBy($"n".desc, $"token").limit(100)
          .orderBy($"n".desc, $"token")
      },
      Some("""SELECT token, count(*) AS n, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
              FROM documents)
        GROUP BY token ORDER BY n DESC, token LIMIT 100""")),

    // ---- exact dedup: hash-groupBy on content (ref: DataLoader.py:190-196
    //      duplicate-line detection; Spark-scale: one shuffle on md5(text),
    //      survivor = min id — no sort, no window) ------------------------
    Q("q21_exact_dedup",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .groupBy(md5($"text").as("content_hash"))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select($"keep_id", $"n_copies")
          .orderBy($"keep_id")
      },
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // ---- n-gram Jaccard near-dup: top-50 most similar pairs. Candidate
    //      generation via the shingle inverted index (self-join on shingle),
    //      with stop-shingles (doc-freq > 100) dropped first — at 100 TB the
    //      df-filter is what keeps the join from exploding on boilerplate. --
    Q("q22_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        // one shuffle builds the inverted index: shingle -> sorted doc list
        // (df-filtered); pairs expand LOCALLY per posting list instead of a
        // self-join — at scale this avoids re-shuffling the whole shingle
        // table against itself and caps pair fan-out at df².
        val postings = materialize(shingleSet(s, dir)
          .groupBy($"shingle").agg(sort_array(collect_list($"doc_id")).as("ds"))
          .filter(size($"ds") <= 100))
        val sizes = postings.select(explode($"ds").as("doc_id"))
          .groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val common = postings
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), y -> struct(x AS doc_a, y AS doc_b))))"))
            .as("p"))
          .select($"p.doc_a", $"p.doc_b")
          .groupBy($"doc_a", $"doc_b")
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
          .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
          .select($"doc_a", $"doc_b", $"common",
            ($"common".cast("double") / ($"na" + $"nb" - $"common")).as("jaccard"))
          .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
          .limit(50)
      },
      Some(s"""WITH $shingleCte,
        rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
        com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
                FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b, common,
               CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        FROM com JOIN sizes sa ON com.doc_a = sa.doc_id
                 JOIN sizes sb ON com.doc_b = sb.doc_id
        ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""")),

    // ---- EXACT set-similarity join via prefix filtering (the
    //      PPJoin/AllPairs family): the completeness-guaranteed complement
    //      to q22's df-capped inverted index and q23's probabilistic LSH —
    //      both can MISS a pair (q22 when every shared shingle is high-df,
    //      q23 with banding probability); prefix filtering cannot. Shingles
    //      get a global rarity order (df asc, shingle asc); a doc's PREFIX
    //      is its first n DIV 2 + 1 tokens in that order, and any pair with
    //      Jaccard ≥ 0.5 provably shares a prefix token — so candidate
    //      generation explodes only prefixes (rare tokens ⇒ short posting
    //      lists), then size filtering (na ≤ 2nb ∧ nb ≤ 2na) AND the PPJoin
    //      position filter (common ≤ 1 + min(na−i, nb−j) at the matching
    //      token's prefix ranks — lossless, see inline proof) prune before
    //      the exact verify, whose sets travel as 60-bit md5 longs instead
    //      of strings. The θ = 0.5 predicate is the integer
    //      cross-multiplication 3·inter ≥ na+nb — no float boundary. The
    //      ORACLE runs the UNPRUNED all-shared-token STRING join:
    //      cross-engine equality proves the pruning dropped nothing. -------
    Q("q202_setsim_join",
      (s, dir) => {
        import s.implicits._
        val sh = shingleSet(s, dir)
        val df = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
        // byDoc feeds THREE consumers (the prefix explode and both sides of
        // the verify join) — without the cache Spark re-runs the shingle
        // scan + df join + double collect_list aggregate per consumer,
        // which was the whole warm cost of this query (~3x the kernel)
        // the verify sets are 60-bit md5 longs, not strings: the candidate
        // join ships two full sets per pair, and at 100x corpus (7.8M
        // candidates measured on the perturbation ladder) the string-array
        // payload IS the job — longs cut the shuffle ~5x and the intersect
        // compares primitives. `common` still gate-matches the string-based
        // oracle exactly unless two of a doc's ~300 shingles collide in 60
        // bits (~1e-14 per doc — and the 3-SF hash gate would catch it).
        val byDoc = materialize(sh.join(df, "shingle")
          .groupBy($"doc_id")
          .agg(sort_array(collect_list(struct($"df", $"shingle"))).as("by_df"),
            sort_array(collect_list(
              conv(substring(md5($"shingle"), 1, 15), 16, 10).cast("long")))
              .as("set"),
            count(lit(1)).as("n")))
        // r17 (§2.3): the candidate self-join travels/compares the 60-bit
        // md5 long of the prefix token, not the ~40 B shingle string (the
        // global (df, shingle) ORDER that defines the prefix is unchanged —
        // only the join key is packed). Losslessness is preserved: string
        // equality implies hash equality, so no qualifying pair is dropped;
        // a 60-bit collision can only ADD a candidate, which the exact
        // verify (3·common ≥ na+nb over the same md5-long sets) discards.
        val prefix = byDoc
          .select($"doc_id", $"n",
            posexplode(expr("slice(by_df, 1, CAST(n DIV 2 + 1 AS INT))"))
              .as(Seq("i", "t")))
          .select($"doc_id", $"n", ($"i" + 1).as("rk"),
            conv(substring(md5($"t.shingle"), 1, 15), 16, 10).cast("long")
              .as("shingle"))
        // PPJoin position filter, PROVABLY lossless: for a qualifying pair
        // its FIRST common token t0 (lowest in the global (df, shingle)
        // order) is inside both prefixes whenever any common token is, and
        // at t0 no common token precedes it in either set, so
        // common ≤ 1 + min(na − i, nb − j) there — a pair meeting
        // 3·common ≥ na+nb therefore always survives via t0, while pairs
        // matching only deep in one prefix are pruned before the verify
        // join. The UNPRUNED oracle still certifies zero false negatives.
        val cand = prefix.as("a").join(prefix.as("b"),
            $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id" &&
              $"a.n" <= $"b.n" * 2 && $"b.n" <= $"a.n" * 2 &&
              lit(3) * (lit(1) + least($"a.n" - $"a.rk", $"b.n" - $"b.rk"))
                >= $"a.n" + $"b.n")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .distinct()
        cand
          .join(byDoc.select($"doc_id".as("doc_a"), $"set".as("sa"), $"n".as("na")), "doc_a")
          .join(byDoc.select($"doc_id".as("doc_b"), $"set".as("sb"), $"n".as("nb")), "doc_b")
          .select($"doc_a", $"doc_b",
            size(array_intersect($"sa", $"sb")).cast("long").as("common"),
            $"na".cast("long").as("na"), $"nb".cast("long").as("nb"))
          .filter($"common" * 3 >= $"na" + $"nb")
          .withColumn("jaccard",
            $"common".cast("double") / ($"na" + $"nb" - $"common"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""WITH $shingleCte,
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b, CAST(c AS BIGINT) AS common,
          CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
          CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        FROM com JOIN sizes sa ON com.doc_a = sa.doc_id
                 JOIN sizes sb ON com.doc_b = sb.doc_id
        WHERE 3 * c >= sa.n + sb.n
        ORDER BY doc_a, doc_b""")),

    // ---- MinHash + LSH near-dup: shingle → 16 seeded minhashes → 4 bands
    //      of 4 → bucket-join candidates → estimated Jaccard = fraction of
    //      agreeing minhashes. The scale path: candidates come only from
    //      band-bucket collisions, never all-pairs. ------------------------
    Q("q23_minhash_lsh",
      (s, dir) => {
        import s.implicits._
        // signatures feed three downstream uses (bands + both sides of the
        // candidate join) — materialize once instead of recomputing the
        // shingle scan + 16 aggregations per use
        val mh = materialize(minhashes(s, dir))
        lshScored(mh)
          .select(col("doc_a"), col("doc_b"),
            (col("agree").cast("double") / nPerms).as("est_jaccard"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""WITH $lshScoredCte
          SELECT doc_a, doc_b, CAST(agree AS DOUBLE) / $nPerms AS est_jaccard
          FROM scored ORDER BY doc_a, doc_b""")),

    // ---- near-dup CLUSTERS: LSH pairs (est similarity >= 1/2) closed into
    //      connected components — the survivor-selection step a dedup
    //      pipeline actually needs (a~b, b~c ⇒ one survivor for {a,b,c}).
    //      Iterative min-label propagation, one shuffle per round, rounds =
    //      cluster diameter (tiny for near-dups); the oracle closes the same
    //      edge set with a recursive CTE. ------------------------------------
    Q("q73_dedup_components",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        val edges = lshScored(mh)
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.Components.connectedComponents(edges)
          .select(col("node").as("doc_id"), col("comp").as("component"))
          .orderBy($"doc_id")
      },
      Some(s"""$lshReachCtes
          SELECT a AS doc_id, least(a, min(b)) AS component
          FROM reach GROUP BY a ORDER BY doc_id""")),

    // ---- diameter-safe connected components: the large-star/small-star
    //      contraction (Kiveris et al. 2014) on the SAME near-dup edge set
    //      as q73. Min-label propagation (q73) costs O(diameter) rounds —
    //      fine for dup clusters, catastrophic if template drift chains
    //      docs into a long path; the star algorithm converges in O(log² n)
    //      rounds on ANY topology. Same oracle as q73 certifies the two
    //      kernels agree end-to-end on real LSH edges; the path-graph
    //      divergence (where q73's loop would NOT converge in budget) is
    //      pinned in GraphXCrossCheckSpec. ------------------------------------
    Q("q197_cc_star",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        val edges = lshScored(mh)
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.Components.starComponents(edges)
          .select(col("node").as("doc_id"), col("comp").as("component"))
          .orderBy($"doc_id")
      },
      Some(s"""$lshReachCtes
          SELECT a AS doc_id, least(a, min(b)) AS component
          FROM reach GROUP BY a ORDER BY doc_id""")),

    // ---- triangle counting + local clustering coefficient over the
    //      near-dup graph (same LSH edges as q73): triangles separate
    //      TEMPLATE clusters (dense, high clustering — one page copied
    //      many times, every pair similar) from DRIFT chains (sparse,
    //      zero triangles — a~b~c where a̸~c), which need different dedup
    //      treatment (drop-all-but-one vs keep-endpoints). Uses the
    //      degree-ordered orientation (each edge points low→high in
    //      (degree, id) order) so every wedge enumeration fans out by a
    //      node's ORIENTED out-degree — bounded by O(√m) on any graph,
    //      the standard skew-proof triangle kernel; id-ordered enumeration
    //      would hot-spot whichever node LSH made a hub. Each triangle is
    //      materialized exactly once, then exploded to its 3 corners for
    //      per-node counts. clustering = 2·tri / (deg·(deg−1)) is one
    //      int/int double division — exact cross-engine. -------------------
    Q("q200_triangles",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        val edges = lshScored(mh)
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.Components.triangleCounts(edges)
          .select($"node".as("doc_id"), $"degree", $"n_tri")
          .withColumn("clustering",
            when($"degree" >= 2,
              lit(2.0) * $"n_tri" / ($"degree" * ($"degree" - 1))).otherwise(lit(0.0)))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $lshScoredCte,
          ed AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE agree >= ${nPerms / 2}),
          deg AS (SELECT v, count(*) AS deg FROM (
                    SELECT a AS v FROM ed UNION ALL SELECT b FROM ed) GROUP BY v),
          e AS (SELECT
              CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS src,
              CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS dst,
              CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg ELSE da.deg END AS dst_deg
            FROM ed JOIN deg da ON ed.a = da.v JOIN deg db ON ed.b = db.v),
          tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
            FROM e e1 JOIN e e2 ON e1.src = e2.src
              AND (e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst)
            JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
          pn AS (SELECT v, count(*) AS n_tri FROM (
                   SELECT u AS v FROM tri UNION ALL SELECT v FROM tri
                   UNION ALL SELECT w FROM tri) GROUP BY v)
          SELECT deg.v AS doc_id, CAST(deg.deg AS BIGINT) AS degree,
            CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri,
            CASE WHEN deg.deg >= 2
                 THEN 2.0 * coalesce(pn.n_tri, 0) / (deg.deg * (deg.deg - 1))
                 ELSE 0.0 END AS clustering
          FROM deg LEFT JOIN pn ON deg.v = pn.v ORDER BY doc_id""")),

    // ---- k-core peeling over the near-dup graph (same LSH edges as
    //      q73/q197/q200): iteratively delete nodes of degree < k. The
    //      2-core is exactly the subgraph q200's per-node triangle counts
    //      hint at — template FARMS (near-cliques) survive, drift CHAINS
    //      (paths, zero cycles) peel away — delivered as a subgraph a dedup
    //      policy can act on (aggressive dedup inside cores, conservative
    //      outside). Defined as a FIXED 8-round peel so the oracle unrolls
    //      the identical rounds with no convergence test; the engine's
    //      early exit at fixpoint is output-equivalent because a converged
    //      round is the identity (Components.kCore doc). Three k values
    //      stack in one output: k=1 pins the full incident-node set
    //      (guaranteed non-degenerate at every SF), k=2 kills chains,
    //      k=3 keeps only dense farm kernels. Per round: one node-keyed
    //      degree aggregate + one semi-join restriction — same shuffle key
    //      throughout, rounds ≈ half the longest chain (1-3 here). ----------
    Q("q264_kcore_dedup",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        // ONE materialization of the edge set shared by all three peels —
        // lshScored's candidate pairs are already distinct with
        // doc_a < doc_b (the canonical (lo, hi) contract), so the
        // canonical kernel entry skips re-deriving the LSH self-join AND
        // the per-call canonicalize shuffle
        val canon = lshScored(mh)
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("lo"), col("doc_b").as("hi"))
          .localCheckpoint(true)
        Seq(1, 2, 3).map { k =>
          graft.operators.Components.kCoreCanonical(canon, k, rounds = kcoreRounds)
            .select(lit(k).as("k"), col("node").as("doc_id"), col("degree"))
        }.reduce(_ unionByName _).orderBy($"k", $"doc_id")
      },
      Some {
        // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and a
        // peel round references its predecessor 3× — 8 inlined rounds is
        // 3⁸ re-expansions of the whole minhash pipeline (observed as an
        // fd-exhaustion error, not just slowness)
        def peel(k: Int): String = {
          val init = s"""ek${k}r0 AS MATERIALIZED (SELECT doc_a AS lo, doc_b AS hi
              FROM scored WHERE agree >= ${nPerms / 2})"""
          val steps = (1 to kcoreRounds).map { r =>
            s"""dk${k}r$r AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
                  SELECT lo AS v FROM ek${k}r${r - 1}
                  UNION ALL SELECT hi FROM ek${k}r${r - 1}) GROUP BY v),
              kk${k}r$r AS MATERIALIZED (SELECT v FROM dk${k}r$r WHERE deg >= $k),
              ek${k}r$r AS MATERIALIZED (SELECT lo, hi FROM ek${k}r${r - 1}
                JOIN kk${k}r$r ka ON lo = ka.v
                JOIN kk${k}r$r kb ON hi = kb.v)"""
          }
          val fin = s"""fk$k AS (SELECT v, count(*) AS deg FROM (
              SELECT lo AS v FROM ek${k}r$kcoreRounds
              UNION ALL SELECT hi FROM ek${k}r$kcoreRounds) GROUP BY v)"""
          (Seq(init) ++ steps :+ fin).mkString(",\n")
        }
        s"""WITH $lshScoredCte,
          ${Seq(1, 2, 3).map(peel).mkString(",\n")}
          SELECT CAST(k AS INT) AS k, v AS doc_id, CAST(deg AS BIGINT) AS degree
          FROM (SELECT 1 AS k, v, deg FROM fk1
                UNION ALL SELECT 2, v, deg FROM fk2
                UNION ALL SELECT 3, v, deg FROM fk3)
          ORDER BY k, doc_id"""
      }),

    // ---- label-propagation communities over the near-dup graph: the
    //      sparse-cut refinement of q73's connected components — one LSH
    //      component holding two template families bridged by a single
    //      drifted pair is ONE component but TWO communities, and dedup
    //      survivor selection wants the finer unit. Deterministic
    //      synchronous LPA (Components.labelPropagation): every node
    //      adopts its neighbors' most frequent label, ties to the smallest
    //      label, for EXACTLY 4 rounds — fixed-round definition because
    //      synchronous LPA can oscillate, so both engines run the same
    //      pure function of the edge set (oracle unrolls 4 rounds; the
    //      deterministic mode is arg_max over the composite integer key
    //      cnt·2³² − lbl, one aggregate, no window). community_size rides
    //      along so the output ranks farm mass directly. --------------------
    Q("q265_label_communities",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        // same canonical-contract shortcut as q264 (distinct, doc_a < doc_b)
        val canon = lshScored(mh)
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("lo"), col("doc_b").as("hi"))
        val lbls = graft.operators.Components.labelPropagationCanonical(canon, rounds = lpaRounds)
        val sized = lbls.groupBy($"lbl").agg(count(lit(1)).as("community_size"))
        lbls.join(sized, Seq("lbl"))
          .select($"node".as("doc_id"), $"lbl".as("community"),
            $"community_size".cast("long").as("community_size"))
          .orderBy($"doc_id")
      },
      Some {
        val rounds = (1 to lpaRounds).map { r =>
          s"""lc$r AS (SELECT e.u AS u, l.lbl AS lbl, count(*) AS cnt
                FROM und e JOIN ll${r - 1} l ON e.v = l.node GROUP BY 1, 2),
            ll$r AS (SELECT u AS node, arg_max(lbl, cnt * 4294967296 - lbl) AS lbl
                FROM lc$r GROUP BY 1)"""
        }.mkString(",\n")
        s"""WITH $lshScoredCte,
          und AS (SELECT doc_a AS u, doc_b AS v FROM scored WHERE agree >= ${nPerms / 2}
                  UNION
                  SELECT doc_b, doc_a FROM scored WHERE agree >= ${nPerms / 2}),
          ll0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
          $rounds,
          sz AS (SELECT lbl, count(*) AS community_size FROM ll$lpaRounds GROUP BY 1)
          SELECT node AS doc_id, f.lbl AS community,
            CAST(community_size AS BIGINT) AS community_size
          FROM ll$lpaRounds f JOIN sz ON f.lbl = sz.lbl
          ORDER BY doc_id"""
      }),

    // ---- PARETO FRONTIER (skyline) of the curation tradeoff: the set of
    //      (length, quality) points no document strictly beats on both
    //      axes — maximize stopword quality (stops·10⁴ div n_tokens, an
    //      exact integer like every q198 threshold) while MINIMIZING the
    //      token budget a doc costs. Computed over DISTINCT (x, y) points
    //      (equal points never dominate each other, so doc multiplicity
    //      rides along as n_docs). q222 is the sibling skyline whose plan
    //      leans on a SMALL distinct-x domain (one window over the
    //      distinct-price table); this one drops that assumption — the
    //      kernel is q149's TWO-PHASE prefix pattern with max instead of
    //      sum (operators/Pareto.scala), correct for ANY x cardinality:
    //      deterministic integer range split on x, per-range max-y totals,
    //      an 8-ROW base window, and each range scans its own slice in
    //      parallel under (x asc, y desc) order. A point is on the
    //      frontier iff its y strictly exceeds the running max of
    //      everything ordered before it — exactly the NOT-EXISTS dominance
    //      the oracle replays (quadratic in DuckDB, linear-after-sort
    //      here; never an unpartitioned window). Frontier x values are
    //      unique by construction, so ORDER BY x is total. ------------------
    Q("q268_pareto_frontier",
      (s, dir) => {
        import s.implicits._
        val stops = LangLexicon.entries.map(_._1)
        val pts = docs(s, dir)
          .select(tokens($"text").as("w"))
          .select(size($"w").cast("long").as("x"),
            size(filter($"w", t => t.isin(stops: _*))).cast("long").as("st"))
          .select($"x", expr("st * 10000 div x").as("y"))
          .groupBy($"x", $"y").agg(count(lit(1)).as("n_docs"))
        graft.operators.Pareto.frontier(pts, "x", "y")
          .select($"x".as("n_tokens"), $"y".as("quality_permyriad"), $"n_docs")
          .orderBy($"n_tokens")
      },
      Some(s"""WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
              CAST(len(list_filter(string_split(text, ' '),
                t -> t IN (${LangLexicon.sqlWordList}))) AS BIGINT) AS st
            FROM documents),
          pts AS (SELECT x, st * 10000 // x AS y, count(*) AS n_docs
                  FROM d GROUP BY 1, 2),
          fr AS (SELECT * FROM pts a WHERE NOT EXISTS (
                   SELECT 1 FROM pts b
                   WHERE b.x <= a.x AND b.y >= a.y
                     AND (b.x < a.x OR b.y > a.y)))
          SELECT x AS n_tokens, y AS quality_permyriad, n_docs
          FROM fr ORDER BY n_tokens""")),

    // ---- filter-funnel attribution: the per-rule kill/survivor ledger a
    //      curation pipeline publishes with every corpus release (C4 /
    //      Gopher / FineWeb report exactly this table). Six rules applied
    //      in a FIXED order; rule i's `docs_in` is the survivor count of
    //      rules 1..i-1, so the numbers are MARGINAL kills (the actionable
    //      form — a rule's raw kill count double-books docs an earlier rule
    //      already removed). Every threshold is an INTEGER cross-multiplied
    //      comparison (5·digits < len, not digits/len < 0.2): exact in both
    //      engines, no float boundary can flip a doc. Only the top-bigram
    //      coverage rule needs a shuffle (per-doc bigram mode via
    //      doc_id-keyed partial agg — map-side combine, never corpus-wide);
    //      all other rules are row-local. The funnel itself is one
    //      per-lang aggregate unpivoted with stack(). -----------------------
    Q("q198_filter_funnel",
      (s, dir) => {
        import s.implicits._
        def grams(n: Int) = expr(
          s"""CASE WHEN size(w) >= $n
               THEN transform(sequence(1, size(w) - ${n - 1}), i -> array_join(slice(w, i, $n), ' '))
               ELSE array() END""")
        val stops = LangLexicon.entries.map(_._1)
        // fanout (r16): the whole funnel is row-local since the top-bigram
        // fold moved in-row — without it the entire rule chain runs on the
        // one unsplittable scan task (measured 0.97 → 0.49 s at sf0.1)
        val base = graft.core.Tables.fanout(
            docs(s, dir).select($"doc_id", $"lang", $"text"))
          .withColumn("w", tokens($"text"))
          .withColumn("g2", grams(2)).withColumn("g3", grams(3))
          .select($"doc_id", $"lang", $"g2",
            size($"w").as("n"),
            length($"text").as("len"),
            (length($"text") - (size($"w") - 1)).as("sumw"),
            (length($"text") - length(regexp_replace($"text", "[0-9]", ""))).as("digits"),
            size(filter($"w", x => x.isin(stops: _*))).as("stops"),
            (size($"g3") - size(array_distinct($"g3"))).as("dup3"),
            size($"g3").as("ng3"))
        // ROW-LOCAL top-bigram coverage since r16 (guide §2.4): the rule's
        // t2 = max over a doc's distinct bigrams of count·length is a pure
        // function of the doc's own bigram array, so the former
        // explode → (doc_id, gm) agg → doc_id agg → join-back (the one
        // corpus shuffle this funnel paid, with every bigram STRING as
        // payload) collapses to sort + one run-scan inside the row: equal
        // bigrams are adjacent after array_sort, a run's final element
        // sees run-length = the bigram's full count, and intermediate
        // run prefixes are dominated by their own run's last step — so
        // the fold's best equals max(cnt·len) exactly. Empty g2 folds to
        // 0, matching the old left-join + coalesce(0). Oracle unchanged.
        val flags = base
          .withColumn("t2", expr(
            """aggregate(array_sort(g2),
                 struct(CAST('' AS STRING) AS prev, 0L AS run, 0L AS best),
                 (acc, x) -> struct(x AS prev,
                   IF(x = acc.prev, acc.run + 1L, 1L) AS run,
                   GREATEST(acc.best, IF(x = acc.prev, acc.run + 1L, 1L)
                     * CAST(length(x) AS BIGINT)) AS best),
                 acc -> acc.best)"""))
          .select($"lang",
            ($"n" >= 30 && $"n" <= 10000).cast("int").as("p1"),
            ($"sumw" >= $"n" * 3 && $"sumw" <= $"n" * 10).cast("int").as("p2"),
            ($"stops" * 50 >= $"n" * 3).cast("int").as("p3"),
            ($"digits" * 5 < $"len").cast("int").as("p4"),
            ($"t2" * 5 <= $"len").cast("int").as("p5"),
            ($"dup3" * 10 <= $"ng3" * 3).cast("int").as("p6"))
        val pref = flags.select($"lang",
          $"p1".as("c1"), ($"p1" * $"p2").as("c2"),
          ($"p1" * $"p2" * $"p3").as("c3"),
          ($"p1" * $"p2" * $"p3" * $"p4").as("c4"),
          ($"p1" * $"p2" * $"p3" * $"p4" * $"p5").as("c5"),
          ($"p1" * $"p2" * $"p3" * $"p4" * $"p5" * $"p6").as("c6"))
        val agg = pref.groupBy($"lang").agg(
          count(lit(1)).as("docs"),
          sum($"c1").as("s1"), sum($"c2").as("s2"), sum($"c3").as("s3"),
          sum($"c4").as("s4"), sum($"c5").as("s5"), sum($"c6").as("s6"))
        agg.selectExpr("lang",
          """stack(6,
             1L, 'word_count',      docs, s1,
             2L, 'mean_word_len',   s1,   s2,
             3L, 'stopword_ratio',  s2,   s3,
             4L, 'digit_ratio',     s3,   s4,
             5L, 'top_bigram_frac', s4,   s5,
             6L, 'dup_trigram_frac',s5,   s6) AS (rule_no, rule, docs_in, survivors)""")
          .select($"lang", $"rule_no", $"rule",
            $"docs_in".cast("long").as("docs_in"),
            ($"docs_in" - $"survivors").cast("long").as("killed"),
            $"survivors".cast("long").as("survivors"))
          .orderBy($"lang", $"rule_no")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id, lang, text, w,
          [array_to_string(w[i:i+1], ' ') for i in range(1, greatest(len(w) - 1, 0) + 1)] AS g2,
          [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 2, 0) + 1)] AS g3
          FROM t),
        tc AS (SELECT doc_id, max(cnt * length(gm)) AS top2chars FROM (
                 SELECT doc_id, gm, count(*) AS cnt
                 FROM (SELECT doc_id, unnest(g2) AS gm FROM g) GROUP BY doc_id, gm)
               GROUP BY doc_id),
        f AS (SELECT g.lang,
          CASE WHEN len(w) BETWEEN 30 AND 10000 THEN 1 ELSE 0 END AS p1,
          CASE WHEN length(text) - (len(w) - 1) >= len(w) * 3
                AND length(text) - (len(w) - 1) <= len(w) * 10 THEN 1 ELSE 0 END AS p2,
          CASE WHEN len(list_filter(w, x -> x IN (${LangLexicon.sqlWordList}))) * 50 >= len(w) * 3 THEN 1 ELSE 0 END AS p3,
          CASE WHEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 5 < length(text) THEN 1 ELSE 0 END AS p4,
          CASE WHEN coalesce(top2chars, 0) * 5 <= length(text) THEN 1 ELSE 0 END AS p5,
          CASE WHEN (len(g3) - len(list_distinct(g3))) * 10 <= len(g3) * 3 THEN 1 ELSE 0 END AS p6
          FROM g LEFT JOIN tc ON g.doc_id = tc.doc_id),
        a AS (SELECT lang, count(*) AS docs,
          sum(p1) AS s1, sum(p1*p2) AS s2, sum(p1*p2*p3) AS s3,
          sum(p1*p2*p3*p4) AS s4, sum(p1*p2*p3*p4*p5) AS s5,
          sum(p1*p2*p3*p4*p5*p6) AS s6 FROM f GROUP BY lang)
        SELECT lang, rule_no, rule,
          CAST(docs_in AS BIGINT) AS docs_in,
          CAST(docs_in - survivors AS BIGINT) AS killed,
          CAST(survivors AS BIGINT) AS survivors
        FROM (
          SELECT lang, 1 AS rule_no, 'word_count' AS rule, docs AS docs_in, s1 AS survivors FROM a
          UNION ALL SELECT lang, 2, 'mean_word_len', s1, s2 FROM a
          UNION ALL SELECT lang, 3, 'stopword_ratio', s2, s3 FROM a
          UNION ALL SELECT lang, 4, 'digit_ratio', s3, s4 FROM a
          UNION ALL SELECT lang, 5, 'top_bigram_frac', s4, s5 FROM a
          UNION ALL SELECT lang, 6, 'dup_trigram_frac', s5, s6 FROM a)
        ORDER BY lang, rule_no""")),

    // ---- duplication-centrality PageRank: 3 quantized power iterations
    //      over q73's undirected near-dup pair graph — a VALUE-propagation
    //      iterative kernel beside q73's label propagation. High rank = a
    //      document at the hub of a duplication web (boilerplate center),
    //      the triage-priority signal. GraphX's unnormalized variant
    //      (r0 = 1, r' = 0.15 + 0.85·Σ r(u)/deg(u)) with every rank a
    //      MICRO-LONG and every division integer — bit-identical
    //      cross-engine and under repartitioning; the DuckDB oracle
    //      unrolls the same three iterations, and GraphXCrossCheckSpec
    //      referees against graphx.lib.PageRank within quantization
    //      drift. Per iteration: one edge-keyed join + one dst groupBy;
    //      at 3 fixed rounds the lineage stays flat (the >O(10)-round
    //      variant would localCheckpoint per round like Components). ------
    Q("q174_dup_pagerank",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        val pairs = lshScored(mh).filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val und = pairs.union(pairs.select($"b".as("a"), $"a".as("b")))
        val deg = und.groupBy($"a").agg(count(lit(1)).as("deg"))
        val undD = und.join(deg, Seq("a"))
        val nodes = deg.select($"a".as("v"))
        var r = nodes.select($"v", lit(1000000L).as("r"))
        for (_ <- 1 to 3) {
          val inflow = undD.join(r.withColumnRenamed("v", "a"), Seq("a"))
            .select($"b".as("v"), expr("r div deg").as("c"))
            .groupBy($"v").agg(sum($"c").as("inflow"))
          r = nodes.join(inflow, Seq("v"), "left")
            .select($"v",
              (lit(150000L) + expr("(85 * coalesce(inflow, 0)) div 100")).as("r"))
        }
        r.select($"v".as("doc_id"), $"r".as("rank_micro")).orderBy($"doc_id")
      },
      Some(s"""WITH $lshScoredCte,
          p AS (SELECT doc_a AS a, doc_b AS b FROM scored WHERE agree >= ${nPerms / 2}),
          und AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
          deg AS (SELECT a, count(*) AS deg FROM und GROUP BY a),
          r0 AS (SELECT a AS v, CAST(1000000 AS BIGINT) AS r FROM deg),
          i1 AS (SELECT u.b AS v,
                   150000 + (85 * COALESCE(sum(r0.r // d.deg), 0)) // 100 AS r
                 FROM und u JOIN deg d ON u.a = d.a JOIN r0 ON r0.v = u.a
                 GROUP BY u.b),
          i2 AS (SELECT u.b AS v,
                   150000 + (85 * COALESCE(sum(i1.r // d.deg), 0)) // 100 AS r
                 FROM und u JOIN deg d ON u.a = d.a JOIN i1 ON i1.v = u.a
                 GROUP BY u.b),
          i3 AS (SELECT u.b AS v,
                   150000 + (85 * COALESCE(sum(i2.r // d.deg), 0)) // 100 AS r
                 FROM und u JOIN deg d ON u.a = d.a JOIN i2 ON i2.v = u.a
                 GROUP BY u.b)
          SELECT v AS doc_id, CAST(r AS BIGINT) AS rank_micro
          FROM i3 ORDER BY doc_id""")),

    // ---- dedup-aware train/val/test split: the split key is the doc's
    //      near-dup COMPONENT (q73's connected components; singletons key
    //      by their own doc_id), so a whole duplication cluster always
    //      lands in one split — the fix for the leakage q136 audits
    //      (near-identical docs straddling train and test inflate eval).
    //      Same md5 detRand draw as q81, so the assignment is a pure
    //      function of the component id: identical at any partitioning
    //      and replayable by the oracle. Cost over q73 is one left join
    //      of the corpus against the (much smaller) component table —
    //      un-hinted, AQE broadcasts it only when it truly fits. ----------
    Q("q176_dedup_aware_split",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        val edges = lshScored(mh)
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val comp = graft.operators.Components.connectedComponents(edges)
          .select(col("node").as("doc_id"), col("comp"))
        val keyed = docs(s, dir).select($"doc_id")
          .join(comp, Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"comp", $"doc_id").as("component"))
        val r = graft.operators.Sampling.detRand(13L, col("component"))
        keyed.withColumn("split",
            when(r < 0.90, "train").when(r < 0.95, "val").otherwise("test"))
          .orderBy($"doc_id")
      },
      Some(s"""$lshReachCtes,
          comp AS (SELECT a AS doc_id, least(a, min(b)) AS comp
                   FROM reach GROUP BY a),
          keyed AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component
                    FROM documents d LEFT JOIN comp c USING (doc_id))
          SELECT doc_id, component,
            CASE WHEN ${graft.operators.Sampling.detRandSql(13L, Seq("component"))} < 0.90 THEN 'train'
                 WHEN ${graft.operators.Sampling.detRandSql(13L, Seq("component"))} < 0.95 THEN 'val'
                 ELSE 'test' END AS split
          FROM keyed ORDER BY doc_id""")),

    // ---- CCNet perplexity buckets (Wenzek et al., LREC 2020): per-LANG
    //      head/middle/tail tertiles of the q105 unigram-LM score — the
    //      classic "keep the head, audit the tail" curation signal, with
    //      per-language cuts so low-resource langs aren't judged on the
    //      dominant lang's scale. Tertiles are EXACT ranks, but never a
    //      per-lang global sort (one task per language = the 100 TB
    //      bottleneck): q167's coarse-bucket trick — per-(lang, bucket)
    //      counts give every bucket's start rank, the row_number window
    //      sorts only within small buckets, rank = bucket start + offset.
    //      Integer rank*3 comparisons, no float cut points. The oracle
    //      ranks directly with one window — same ranks, different plan. ----
    Q("q177_perplexity_buckets",
      (s, dir) => {
        import s.implicits._
        val toks = docs(s, dir)
          .select($"doc_id", $"lang", explode(tokens(lower($"text"))).as("token"))
        val freq = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
        val total = freq.agg(sum($"cnt").cast("double").as("total"))
        val lp = round(log($"cnt".cast("double") / $"total") * 1e6).cast("long")
        val docLp = toks.join(freq, Seq("token"))
          .join(broadcast(total))
          .select($"doc_id", $"lang", lp.as("lp"))
          .groupBy($"doc_id", $"lang")
          .agg((sum($"lp").cast("double") / 1e6 / count(lit(1))).as("mean_logprob"))
        val nl = docLp.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
        val bkt = docLp.withColumn("bk", floor($"mean_logprob" * 100).cast("long"))
        val bcum = bkt.groupBy($"lang", $"bk").agg(count(lit(1)).as("cnt"))
          .withColumn("c_gt", coalesce(sum($"cnt").over(
            Window.partitionBy($"lang").orderBy($"bk".desc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"lang", $"bk", $"c_gt")
        bkt.withColumn("rn", row_number().over(
            Window.partitionBy($"lang", $"bk").orderBy($"mean_logprob".desc, $"doc_id")))
          .join(bcum, Seq("lang", "bk"))
          .join(nl, Seq("lang"))
          .select($"doc_id", $"lang", $"mean_logprob",
            when(($"c_gt" + $"rn") * 3 <= $"n_lang", "head")
              .when(($"c_gt" + $"rn") * 3 <= $"n_lang" * 2, "middle")
              .otherwise("tail").as("ppl_bucket"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS token
              FROM documents),
          freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
          total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
          lp AS (SELECT doc_id, lang,
                        CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1000000) AS BIGINT) AS lp
                 FROM toks JOIN freq USING (token) CROSS JOIN total),
          doclp AS (SELECT doc_id, lang,
                           CAST(sum(lp) AS DOUBLE) / 1000000 / count(*) AS mean_logprob
                    FROM lp GROUP BY doc_id, lang),
          ranked AS (SELECT *,
                       row_number() OVER (PARTITION BY lang
                         ORDER BY mean_logprob DESC, doc_id) AS r,
                       count(*) OVER (PARTITION BY lang) AS nl
                     FROM doclp)
          SELECT doc_id, lang, mean_logprob,
            CASE WHEN r * 3 <= nl THEN 'head'
                 WHEN r * 3 <= nl * 2 THEN 'middle'
                 ELSE 'tail' END AS ppl_bucket
          FROM ranked ORDER BY doc_id""")),

    // ---- distributed logistic-regression training: two full-batch
    //      gradient steps (lr = 1) on a 4-weight quality model — the
    //      TRAINING side of q146's fixed-weight classifier, the same way
    //      q152 is the training side of q127. Per step: one broadcast of
    //      the 1-row weight table, one map-side pass computing per-doc
    //      residuals, one partial+final aggregate of MICRO-QUANTIZED
    //      gradient terms — exact LONG sums, so the learned weights are
    //      bit-identical at any parallelism (KMeans.lloydStep's contract
    //      applied to a gradient). No driver-side collect: weights flow
    //      between steps as a 1-row DataFrame. At 100 TB each step is one
    //      corpus scan + a 5-long reduce; steps scale linearly and the
    //      model state is O(features). Labels come from the independent
    //      q28 quality heuristic (distillation, like q146/q168). ----------
    Q("q178_logreg_train",
      (s, dir) => {
        import s.implicits._
        val feats = materialize(docs(s, dir).withColumn("w", tokens($"text"))
          .select($"doc_id",
            least(lit(1.0), size($"w").cast("double") / 100.0).as("f1"),
            docDigitRatio.as("f2"),
            docStopRatio.as("f3"),
            when(docQuality >= 0.4, 1L).otherwise(0L).as("y")))
        val w0 = Seq((0.0, 0.0, 0.0, 0.0)).toDF("w0", "w1", "w2", "w3")
        def pMicro = round(lit(1e6) / (lit(1.0) +
          exp(-($"w0" + $"w1" * $"f1" + $"w2" * $"f2" + $"w3" * $"f3")))).cast("long")
        def step(wDf: DataFrame): DataFrame =
          feats.crossJoin(broadcast(wDf))
            .select((pMicro.cast("double") / 1e6 - $"y".cast("double")).as("r"),
              $"f1", $"f2", $"f3")
            .agg(sum(round($"r" * 1e6).cast("long")).as("g0"),
              sum(round($"r" * $"f1" * 1e6).cast("long")).as("g1"),
              sum(round($"r" * $"f2" * 1e6).cast("long")).as("g2"),
              sum(round($"r" * $"f3" * 1e6).cast("long")).as("g3"),
              count(lit(1)).as("n"))
            .crossJoin(broadcast(wDf))
            .select(($"w0" - $"g0".cast("double") / 1e6 / $"n").as("w0"),
              ($"w1" - $"g1".cast("double") / 1e6 / $"n").as("w1"),
              ($"w2" - $"g2".cast("double") / 1e6 / $"n").as("w2"),
              ($"w3" - $"g3".cast("double") / 1e6 / $"n").as("w3"))
        val w2 = step(step(w0))
        feats.crossJoin(broadcast(w2))
          .select($"y", when(pMicro >= 500000L, 1L).otherwise(0L).as("pred"))
          .agg(count(lit(1)).as("n_docs"),
            (sum(when($"pred" === $"y", 1L).otherwise(0L)).cast("double")
              / count(lit(1))).as("train_acc"))
          .crossJoin(broadcast(w2))
          .select($"n_docs", $"w0", $"w1", $"w2", $"w3", $"train_acc")
      },
      Some(s"""$lrTwoStepCtes
            acc AS (SELECT count(*) AS n_docs,
                CAST(sum(CASE WHEN (pm >= 500000 AND y = 1) OR (pm < 500000 AND y = 0)
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS train_acc
              FROM (SELECT f.y, ${lrPmSql("w")} AS pm FROM f CROSS JOIN wc w))
          SELECT CAST(a.n_docs AS BIGINT) AS n_docs, w.w0, w.w1, w.w2, w.w3, a.train_acc
          FROM acc a CROSS JOIN wc w""")),

    // ---- LOSS CURVE of the q178 training loop (VERDICT r12 item 9's
    //      pin): the same two exact-quantized gradient steps, with the
    //      per-step LOG-LOSS emitted and the non-increase gated — the
    //      q261-Lloyd-convergence claim applied to gradient descent.
    //      Loss is Σ round(−10⁶·ln p_y) over micro-quantized probabilities
    //      (exact long sums, so the curve is bit-identical at any
    //      parallelism); p_micro never hits 0/10⁶ because |z| ≤ Σ|wᵢ|
    //      stays small under mean-gradient lr=1 from w=0. noninc flags
    //      are COMPUTED comparisons (not literal 1s): the oracle replays
    //      both steps and both losses from raw rows, so a step that
    //      raised the loss flips the flag in BOTH engines only if the
    //      algebra says so — a Spark-side gradient bug diverges the
    //      sums first. One corpus scan per step/loss pass; model state
    //      flows as 1-row broadcasts, never a collect. --------------------
    Q("q285_logreg_loss_curve",
      (s, dir) => {
        import s.implicits._
        val feats = materialize(docs(s, dir).withColumn("w", tokens($"text"))
          .select($"doc_id",
            least(lit(1.0), size($"w").cast("double") / 100.0).as("f1"),
            docDigitRatio.as("f2"),
            docStopRatio.as("f3"),
            when(docQuality >= 0.4, 1L).otherwise(0L).as("y")))
        def pMicro = round(lit(1e6) / (lit(1.0) +
          exp(-($"w0" + $"w1" * $"f1" + $"w2" * $"f2" + $"w3" * $"f3")))).cast("long")
        def step(wDf: DataFrame): DataFrame =
          feats.crossJoin(broadcast(wDf))
            .select((pMicro.cast("double") / 1e6 - $"y".cast("double")).as("r"),
              $"f1", $"f2", $"f3")
            .agg(sum(round($"r" * 1e6).cast("long")).as("g0"),
              sum(round($"r" * $"f1" * 1e6).cast("long")).as("g1"),
              sum(round($"r" * $"f2" * 1e6).cast("long")).as("g2"),
              sum(round($"r" * $"f3" * 1e6).cast("long")).as("g3"),
              count(lit(1)).as("n"))
            .crossJoin(broadcast(wDf))
            .select(($"w0" - $"g0".cast("double") / 1e6 / $"n").as("w0"),
              ($"w1" - $"g1".cast("double") / 1e6 / $"n").as("w1"),
              ($"w2" - $"g2".cast("double") / 1e6 / $"n").as("w2"),
              ($"w3" - $"g3".cast("double") / 1e6 / $"n").as("w3"))
        val w0 = Seq((0.0, 0.0, 0.0, 0.0)).toDF("w0", "w1", "w2", "w3")
        val w1 = step(w0)
        val w2 = step(w1)
        def lossOf(wDf: DataFrame, tag: String): DataFrame =
          feats.crossJoin(broadcast(wDf))
            .select($"y", (pMicro.cast("double") / 1e6).as("pd"))
            .select(round(lit(-1e6) *
              log(when($"y" === 1L, $"pd").otherwise(lit(1.0) - $"pd")))
              .cast("long").as("lm"))
            .agg(sum($"lm").as(s"loss$tag"), count(lit(1)).as(s"n$tag"))
        lossOf(w0, "0").crossJoin(lossOf(w1, "1")).crossJoin(lossOf(w2, "2"))
          .select($"n0".as("n_docs"),
            $"loss0".as("loss0_micro"), $"loss1".as("loss1_micro"),
            $"loss2".as("loss2_micro"),
            ($"loss0".cast("double") / 1e6 / $"n0").as("mean_loss0"),
            ($"loss2".cast("double") / 1e6 / $"n2").as("mean_loss2"),
            when($"loss1" <= $"loss0", 1).otherwise(0).cast("int").as("noninc_01"),
            when($"loss2" <= $"loss1", 1).otherwise(0).cast("int").as("noninc_12"))
      },
      Some {
        def lossSql(w: String, tag: String) =
          s"""l$tag AS (SELECT
              sum(CAST(round(-1000000.0 * ln(CASE WHEN y = 1
                  THEN CAST(pm AS DOUBLE) / 1000000.0
                  ELSE 1.0 - CAST(pm AS DOUBLE) / 1000000.0 END)) AS BIGINT)) AS loss$tag,
              count(*) AS n$tag
            FROM (SELECT f.y, ${lrPmSql("w")} AS pm FROM f CROSS JOIN $w w))"""
        s"""$lrTwoStepCtes
            ${lossSql("wa", "0")}, ${lossSql("wb", "1")}, ${lossSql("wc", "2")}
          SELECT CAST(n0 AS BIGINT) AS n_docs,
            CAST(loss0 AS BIGINT) AS loss0_micro,
            CAST(loss1 AS BIGINT) AS loss1_micro,
            CAST(loss2 AS BIGINT) AS loss2_micro,
            CAST(loss0 AS DOUBLE) / 1000000.0 / n0 AS mean_loss0,
            CAST(loss2 AS DOUBLE) / 1000000.0 / n2 AS mean_loss2,
            CAST(CASE WHEN loss1 <= loss0 THEN 1 ELSE 0 END AS INT) AS noninc_01,
            CAST(CASE WHEN loss2 <= loss1 THEN 1 ELSE 0 END AS INT) AS noninc_12
          FROM l0, l1, l2"""
      }),

    // ---- LSH recall audit ("measure, don't guess" for the dedup stack):
    //      ground truth = exact Jaccard >= 0.5 over q22's df-capped
    //      inverted index (the indexable space — at 100 TB uncapped exact
    //      Jaccard does not exist, and hot shingles carry no dedup
    //      signal); candidates = q23's band-bucket pairs. Reports how many
    //      true near-dup pairs the banding recovers plus the minhash
    //      estimator's mean absolute error over the recovered pairs
    //      (micro-quantized exact sum). This is the dial-tuning audit for
    //      nPerms/nBands: run it per corpus before committing band
    //      geometry. Cost: the q22 index + the q23 candidates (both
    //      already bounded), one broadcast-sized join between them. -------
    Q("q179_lsh_recall_audit",
      (s, dir) => {
        import s.implicits._
        val postings = materialize(shingleSet(s, dir)
          .groupBy($"shingle").agg(sort_array(collect_list($"doc_id")).as("ds"))
          .filter(size($"ds") <= 100))
        val sizes = postings.select(explode($"ds").as("doc_id"))
          .groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val truth = postings
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), y -> struct(x AS doc_a, y AS doc_b))))"))
            .as("p"))
          .select($"p.doc_a", $"p.doc_b")
          .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("common"))
          .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
          .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
          .select($"doc_a", $"doc_b",
            ($"common".cast("double") / ($"na" + $"nb" - $"common")).as("jaccard"))
          .filter($"jaccard" >= 0.5)
        val mh = materialize(minhashes(s, dir))
        val cand = lshScored(mh)
          .select($"doc_a", $"doc_b", ($"agree".cast("double") / nPerms).as("est"))
        val joined = truth.join(cand, Seq("doc_a", "doc_b"), "left")
        joined.agg(
            count(lit(1)).as("n_true"),
            sum(when($"est".isNotNull, 1L).otherwise(0L)).as("n_hit"),
            (sum(when($"est".isNotNull,
                round(abs($"est" - $"jaccard") * 1e6).cast("long")).otherwise(0L))
              .cast("double") / 1e6
              / greatest(sum(when($"est".isNotNull, 1L).otherwise(0L)), lit(1L)))
              .as("mean_abs_err"))
          .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
          .select($"n_true", $"n_cand", $"n_hit",
            when($"n_true" === 0, 1.0)
              .otherwise($"n_hit".cast("double") / $"n_true".cast("double")).as("recall"),
            $"mean_abs_err")
      },
      Some(s"""WITH $lshScoredCte,
          rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
          shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
          sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
          com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
                  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id),
          truth AS (SELECT doc_a, doc_b,
                      CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
                    FROM com JOIN sizes sa ON com.doc_a = sa.doc_id
                             JOIN sizes sb ON com.doc_b = sb.doc_id
                    WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5),
          lcand AS (SELECT doc_a, doc_b, CAST(agree AS DOUBLE) / $nPerms AS est
                    FROM scored),
          j AS (SELECT t.jaccard, c.est
                FROM truth t LEFT JOIN lcand c USING (doc_a, doc_b)),
          a AS (SELECT count(*) AS n_true,
                  CAST(sum(CASE WHEN est IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                  CAST(sum(CASE WHEN est IS NOT NULL
                           THEN CAST(round(abs(est - jaccard) * 1000000) AS BIGINT)
                           ELSE 0 END) AS DOUBLE) / 1000000
                    / greatest(sum(CASE WHEN est IS NOT NULL THEN 1 ELSE 0 END), 1)
                    AS mean_abs_err
                FROM j),
          cn AS (SELECT count(*) AS n_cand FROM lcand)
          SELECT CAST(a.n_true AS BIGINT) AS n_true, CAST(cn.n_cand AS BIGINT) AS n_cand,
            a.n_hit,
            CASE WHEN a.n_true = 0 THEN 1.0
                 ELSE CAST(a.n_hit AS DOUBLE) / a.n_true END AS recall,
            a.mean_abs_err
          FROM a CROSS JOIN cn""")),

    // ---- quality-percentile filter: keep the top 10% of documents by
    //      quality score. The threshold is RANK-based (exact), not an
    //      approximate percentile: n is one count, the cut is a TakeOrdered
    //      top-k — no global sort, no percentile_approx drift vs the oracle.
    Q("q74_quality_filter",
      (s, dir) => {
        import s.implicits._
        val scored = docs(s, dir).withColumn("w", tokens($"text"))
          .select($"doc_id", docQuality.as("quality"))
        val k = math.ceil(scored.count() * 0.1).toInt
        scored.orderBy($"quality".desc, $"doc_id").limit(k)
          .orderBy($"doc_id")
      },
      Some(s"""WITH q AS (SELECT doc_id, $qualitySqlExpr AS quality FROM documents),
          r AS (SELECT doc_id, quality,
                  ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS rn FROM q)
        SELECT doc_id, quality FROM r
        WHERE rn <= ceil(0.1 * (SELECT count(*) FROM documents))
        ORDER BY doc_id""")),

    // ---- SimHash: 60-bit signature from token-frequency-weighted bit
    //      votes. Hash bits come from md5 hex digits (portable to the
    //      oracle); the 60-bit cap keeps every sum inside BIGINT. ----------
    Q("q24_simhash",
      (s, dir) => simhashDF(s, dir).orderBy(col("doc_id")),
      Some(s"""WITH $simhashCte
        SELECT doc_id, simhash FROM sim ORDER BY doc_id""")),

    // ---- SimHash near-dup pairs: 4 bands of 15 bits index the signature;
    //      candidates share a band value; keep pairs with hamming <= 20. ---
    Q("q25_simhash_neardup",
      (s, dir) => {
        import s.implicits._
        // both sides of the band self-join reuse the signature table
        val sim = materialize(simhashDF(s, dir))
        val bandStructs = (0 until 4).map(b =>
          struct(lit(b).as("band"),
            expr(s"shiftright(simhash, ${15 * b}) & 32767").as("bval")))
        val bands = sim.select($"doc_id", $"simhash", explode(array(bandStructs: _*)).as("bb"))
          .select($"doc_id", $"simhash", $"bb.band".as("band"), $"bb.bval".as("bval"))
        bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bval" === $"b.bval" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
            expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").as("hamming"))
          .distinct()
          .filter($"hamming" <= 20)
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""WITH $simhashCte,
        bands AS (SELECT doc_id, simhash, b AS band,
                         (simhash >> CAST(15 * b AS INT)) & 32767 AS bval
                  FROM sim, UNNEST(range(0, 4)) AS r(b)),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
                  FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM pairs
        WHERE hamming <= 20 ORDER BY doc_a, doc_b""")),

    // ---- document fingerprint: md5 over normalized content — catches
    //      case/punctuation-variant duplicates exact dedup misses. The group
    //      size is attached with a window count over the fingerprint — one
    //      shuffle, and normalize (two full-text regex passes) runs exactly
    //      once per row, vs the join-back-to-groupBy form that re-derives
    //      the fingerprint subtree on both sides of a shuffle join.
    //      Skew caveat: WindowExec buffers each fingerprint partition, so a
    //      mega duplicate group (boilerplate/empty docs collapsing to one
    //      fingerprint, common in web corpora) lands on one task and relies
    //      on spill; if a dominant fingerprint is expected, salt-count the
    //      group sizes first and broadcast-join them back. ------------------
    Q("q26_fingerprint",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id", md5(normalize($"text")).as("fingerprint"))
          .withColumn("n_same", count(lit(1)).over(Window.partitionBy($"fingerprint")))
          .orderBy($"doc_id")
      },
      Some("""WITH fp AS (SELECT doc_id,
          md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
          FROM documents),
        dups AS (SELECT fingerprint, count(*) AS n_same FROM fp GROUP BY fingerprint)
        SELECT doc_id, fingerprint, n_same FROM fp JOIN dups USING (fingerprint)
        ORDER BY doc_id""")),

    // ---- language ID: stopword-lexicon scoring (n-gram heuristic family).
    //      argmax language by stopword hits, deterministic tie-break on
    //      language code; docs with no hits -> 'und'. ----------------------
    Q("q27_langid",
      (s, dir) => {
        import s.implicits._
        val lex = LangLexicon.entries.toDF("word", "cand_lang")
        val hits = docs(s, dir)
          .select($"doc_id", explode(tokens(lower($"text"))).as("word"))
          .join(broadcast(lex), "word")
          .groupBy($"doc_id", $"cand_lang").agg(count(lit(1)).as("n_hits"))
        val w = Window.partitionBy($"doc_id").orderBy($"n_hits".desc, $"cand_lang")
        val best = hits.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"doc_id", $"cand_lang", $"n_hits")
        docs(s, dir).select($"doc_id", $"lang")
          .join(best, Seq("doc_id"), "left")
          .select($"doc_id", $"lang",
            coalesce($"cand_lang", lit("und")).as("pred_lang"),
            coalesce($"n_hits", lit(0L)).as("n_hits"),
            when(coalesce($"cand_lang", lit("und")) === $"lang", 1).otherwise(0).as("correct"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $langHitsCtes
        best AS (SELECT doc_id, cand_lang, n_hits FROM (
                   SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY n_hits DESC, cand_lang) AS rn FROM hits)
                 WHERE rn = 1)
        SELECT d.doc_id, d.lang,
               COALESCE(best.cand_lang, 'und') AS pred_lang,
               COALESCE(best.n_hits, 0) AS n_hits,
               CASE WHEN COALESCE(best.cand_lang, 'und') = d.lang THEN 1 ELSE 0 END AS correct
        FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
        ORDER BY d.doc_id""")),

    // ---- quality scoring: length/stopword/digit/punct ratios composed
    //      into a [0,1] score — all row-local expressions (codegen'd, no
    //      shuffle at any scale). -----------------------------------------
    Q("q28_quality_score",
      (s, dir) => {
        import s.implicits._
        val len = length($"text").cast("double")
        val nPunct = length(regexp_replace(lower($"text"), "[a-z0-9 ]", "")).cast("double")
        // token array materialized as `w` (lambda-CSE, see shingleSet)
        docs(s, dir).withColumn("w", tokens($"text")).select(
          $"doc_id",
          size($"w").as("n_tokens"),
          docDigitRatio.as("digit_ratio"),
          ((len - nPunct) / len).as("alnum_ratio"),
          docStopRatio.as("stopword_ratio"),
          docQuality.as("quality"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS digit_ratio,
        (CAST(length(text) AS DOUBLE) - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))) / length(text) AS alnum_ratio,
        CAST(len(list_filter(string_split(text, ' '), x -> x IN (${LangLexicon.sqlWordList}))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stopword_ratio,
        least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
          * (1.0 - (CAST(length(text) AS DOUBLE) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text))
          * (1.0 - 0.5 * (CAST(len(list_filter(string_split(text, ' '), x -> x IN (${LangLexicon.sqlWordList}))) AS DOUBLE)
                          / len(string_split(text, ' ')))) AS quality
        FROM documents ORDER BY doc_id""")),

    // ---- token counting: whitespace tokens + BPE-ish regex tokens
    //      (letters / digit runs / single punctuation) + char audit. -------
    Q("q29_token_count",
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          size(tokens($"text")).as("n_ws_tokens"),
          size(regexp_extract_all(lower($"text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_re_tokens"),
          when(length($"text") === $"n_chars", 1).otherwise(0).as("chars_match"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_re_tokens,
        CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END AS chars_match
        FROM documents ORDER BY doc_id""")),

    // ---- winnowing fingerprints (rolling-hash document fingerprinting,
    //      Schleimer et al. MOSS): hash every char 8-gram, keep the min
    //      hash of each 4-wide sliding window, count distinct selected
    //      fingerprints. Entirely ROW-LOCAL via array higher-order
    //      functions — zero shuffle, no per-position explode: at 100 TB
    //      the whole operator is a map over the corpus partitions. The
    //      O(len·w) window scan is bounded by w=4; the per-doc arrays
    //      (len·32B md5 strings) stay under task memory for any document
    //      that fits in a row. -------------------------------------------
    Q("q85_winnowing",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .withColumn("grams", expr(
            """CASE WHEN length(text) >= 8
                 THEN transform(sequence(1, length(text) - 7), i -> md5(substring(text, i, 8)))
                 ELSE array() END"""))
          .withColumn("wins", expr(
            """CASE WHEN size(grams) >= 4
                 THEN transform(sequence(1, size(grams) - 3), i -> array_min(slice(grams, i, 4)))
                 ELSE array() END"""))
          .select($"doc_id",
            size($"grams").as("n_kgrams"),
            size(array_distinct($"wins")).as("n_fp"),
            array_min($"wins").as("min_fp"))
          .orderBy($"doc_id")
      },
      Some("""WITH g AS (SELECT doc_id,
          [md5(substr(text, i, 8)) for i in range(1, greatest(len(text) - 7, 0) + 1)] AS grams
          FROM documents),
        w AS (SELECT doc_id, len(grams) AS n_kgrams,
          [list_min(grams[i:i+3]) for i in range(1, greatest(len(grams) - 3, 0) + 1)] AS wins
          FROM g)
        SELECT doc_id, CAST(n_kgrams AS INT) AS n_kgrams,
          CAST(len(list_distinct(wins)) AS INT) AS n_fp,
          list_min(wins) AS min_fp
        FROM w ORDER BY doc_id""")),

    // ---- n-gram repetition filter (Gopher-style quality rule): fraction
    //      of duplicated word bigrams/trigrams per document; high values
    //      flag boilerplate/looping text. Row-local array ops — zero
    //      shuffle; the dup fraction is a ratio of two small exact ints so
    //      the double division is engine-agnostic. ------------------------
    Q("q86_repetition_filter",
      (s, dir) => {
        import s.implicits._
        def grams(n: Int) = expr(
          s"""CASE WHEN size(toks) >= $n
               THEN transform(sequence(1, size(toks) - ${n - 1}), i -> array_join(slice(toks, i, $n), ' '))
               ELSE array() END""")
        docs(s, dir)
          .withColumn("toks", tokens(lower($"text")))
          .withColumn("g2", grams(2)).withColumn("g3", grams(3))
          .select($"doc_id",
            size($"g2").as("n_bigrams"),
            (size($"g2") - size(array_distinct($"g2"))).as("n_dup_bigrams"),
            ((size($"g2") - size(array_distinct($"g2"))).cast("double") /
              greatest(size($"g2"), lit(1))).as("dup2_frac"),
            ((size($"g3") - size(array_distinct($"g3"))).cast("double") /
              greatest(size($"g3"), lit(1))).as("dup3_frac"))
          .withColumn("keep", when($"dup2_frac" <= 0.2, 1).otherwise(0))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        g AS (SELECT doc_id,
          [array_to_string(toks[i:i+1], ' ') for i in range(1, greatest(len(toks) - 1, 0) + 1)] AS g2,
          [array_to_string(toks[i:i+2], ' ') for i in range(1, greatest(len(toks) - 2, 0) + 1)] AS g3
          FROM t)
        SELECT doc_id,
          CAST(len(g2) AS INT) AS n_bigrams,
          CAST(len(g2) - len(list_distinct(g2)) AS INT) AS n_dup_bigrams,
          CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / greatest(len(g2), 1) AS dup2_frac,
          CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / greatest(len(g3), 1) AS dup3_frac,
          CASE WHEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / greatest(len(g2), 1) <= 0.2
               THEN 1 ELSE 0 END AS keep
        FROM g ORDER BY doc_id""")),

    // ---- TF-IDF top terms per document: tf from the target docs only
    //      (filter pushed below the explode), df from the whole corpus.
    //      Scale: the df table is vocab-sized (≪ corpus) and joins on
    //      token after its own single aggregation; the corpus-size scalar
    //      rides in via a 1-row broadcast cross join, never a driver-side
    //      collect. Top-3 cut per doc partitions by doc_id — per-task state
    //      is one document's term list. ln() is not correctly-rounded
    //      libm-portable, so the score is rounded to 6 dp on both sides. --
    Q("q87_tfidf",
      (s, dir) => {
        import s.implicits._
        val toks = docs(s, dir).select($"doc_id", explode(tokens(lower($"text"))).as("token"))
        val tf = toks.filter($"doc_id" < 20)
          .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
        val dfreq = toks.groupBy($"token").agg(countDistinct($"doc_id").as("df"))
        val total = docs(s, dir).agg(countDistinct($"doc_id").as("n_docs"))
        val w = Window.partitionBy($"doc_id")
          .orderBy($"tfidf".desc, $"token")
        tf.join(dfreq, "token")
          .join(broadcast(total))
          .withColumn("tfidf", round($"tf" * log($"n_docs".cast("double") / $"df"), 6))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"doc_id", $"rank", $"token", $"tf".cast("long").as("tf"),
            $"df".cast("long").as("df"), $"tfidf")
          .orderBy($"doc_id", $"rank")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
              FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM toks WHERE doc_id < 20 GROUP BY doc_id, token),
        dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
        total AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (SELECT doc_id, token, tf, df,
            round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
          FROM tf JOIN dfreq USING (token) CROSS JOIN total),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, token) AS rank FROM scored)
        SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, tfidf
        FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // ---- exact substring (chunk) dedup, Lee-et-al-style: hash overlapping
    //      20-token chunks (stride 10), count how many documents share each
    //      chunk, report the per-doc duplicated-chunk fraction. The suffix
    //      -array of the paper collapses to a distributed-friendly shape:
    //      chunking is row-local, the chunk table shuffles ONCE on the
    //      chunk hash (window count — same pattern as q26), and the per-doc
    //      rollup is the second, doc-keyed shuffle. Docs under 20 tokens
    //      have no chunks and drop out (mirrored by the oracle). Skew
    //      caveat: a boilerplate chunk shared by millions of docs lands one
    //      window partition — salt-count + re-merge if expected. ----------
    Q("q99_chunk_dedup",
      (s, dir) => {
        import s.implicits._
        val chunks = docs(s, dir)
          .select($"doc_id", tokens(lower($"text")).as("toks"))
          .withColumn("hs", expr(
            """CASE WHEN size(toks) >= 20
                 THEN transform(sequence(1, size(toks) - 19, 10),
                        i -> md5(array_join(slice(toks, i, 20), ' ')))
                 ELSE array() END"""))
          .select($"doc_id", explode($"hs").as("chunk")).distinct()
        chunks
          .withColumn("n_docs", count(lit(1)).over(Window.partitionBy($"chunk")))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when($"n_docs" >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
          .select($"doc_id", $"n_chunks", $"n_dup_chunks",
            ($"n_dup_chunks".cast("double") / $"n_chunks").as("dup_frac"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        c AS (SELECT DISTINCT doc_id, unnest(
            [md5(array_to_string(toks[i:i+19], ' ')) for i in range(1, greatest(len(toks) - 19, 0) + 1, 10)]
          ) AS chunk FROM t),
        w AS (SELECT doc_id, count(*) OVER (PARTITION BY chunk) AS n_docs FROM c)
        SELECT doc_id, count(*) AS n_chunks,
          CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
          CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
        FROM w GROUP BY doc_id ORDER BY doc_id""")),

    // ---- PII scrubbing: redact emails / IPv4s / long digit runs, count
    //      matches, pin the scrubbed text by md5. Entirely row-local
    //      (regex over each doc; zero shuffle before the final sort). The
    //      synthetic corpus has no organic PII, so the fixture is
    //      generation-inverse (same pattern as the ingest queries): both
    //      engines append a deterministic doc_id-derived email + IP to the
    //      text, then both scrub it back out — the md5 pin proves the
    //      redaction found exactly the planted + organic spans. -----------
    Q("q100_pii_scrub",
      (s, dir) => {
        import s.implicits._
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val ip = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
        val digits = "\\d{9,}"
        docs(s, dir)
          .select($"doc_id",
            concat($"text", lit(" reach user"), $"doc_id".cast("string"),
              lit("@example.com at 10.0."), ($"doc_id" % 256).cast("string"),
              lit(".7 ref 1234567890")).as("aug"))
          .select($"doc_id",
            regexp_count($"aug", lit(email)).cast("long").as("n_emails"),
            regexp_count($"aug", lit(ip)).cast("long").as("n_ips"),
            length($"aug").as("len_before"),
            md5(regexp_replace(regexp_replace(regexp_replace(
              $"aug", email, "[EMAIL]"), ip, "[IP]"), digits, "[NUM]")).as("scrub_md5"))
          .orderBy($"doc_id")
      },
      Some("""WITH a AS (SELECT doc_id,
            text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7 ref 1234567890' AS aug
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(aug, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
          CAST(length(aug) AS INT) AS len_before,
          md5(regexp_replace(regexp_replace(regexp_replace(aug,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
            '\b\d{1,3}(\.\d{1,3}){3}\b', '[IP]', 'g'),
            '\d{9,}', '[NUM]', 'g')) AS scrub_md5
        FROM a ORDER BY doc_id""")),

    // ---- dedup survivor selection: closes the near-dup pipeline — every
    //      doc gets its LSH connected component (own id when unclustered)
    //      and a keep/drop verdict. Survivor = min doc_id in the component,
    //      a choice that costs NO extra shuffle because the component label
    //      IS the min reachable id. The join back is deliberately UN-hinted:
    //      at web dedup rates (30-50% of docs in some cluster) the component
    //      table is corpus-scale and a forced broadcast would OOM the
    //      driver; both sides are keyed by doc id, so the shuffle join is
    //      already co-partitioned, and AQE still converts it to a broadcast
    //      at runtime whenever `comp` measures small. ----------------------
    Q("q103_dedup_survivors",
      (s, dir) => {
        import s.implicits._
        val mh = materialize(minhashes(s, dir))
        val edges = lshScored(mh)
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val comp = graft.operators.Components.connectedComponents(edges)
        docs(s, dir).select($"doc_id")
          .join(comp, $"doc_id" === comp("node"), "left")
          .select($"doc_id",
            coalesce($"comp", $"doc_id").cast("long").as("component"),
            when($"doc_id" === coalesce($"comp", $"doc_id"), 1L).otherwise(0L)
              .as("keep"))
          .orderBy($"doc_id")
      },
      Some(s"""$lshReachCtes,
          comp AS (SELECT a AS node, least(a, min(b)) AS component
                   FROM reach GROUP BY a)
          SELECT d.doc_id,
                 CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
                 CAST(CASE WHEN d.doc_id = COALESCE(c.component, d.doc_id)
                      THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
          ORDER BY doc_id""")),

    // ---- benchmark decontamination: flag training docs that share any
    //      3-token shingle with a held-out benchmark slice (sources src0/
    //      src1 stand in for the eval suite). The benchmark shingle set is
    //      tiny next to the corpus, so at 100 TB the contamination check is
    //      a map-side broadcast semi-join over the training shingles; only
    //      the per-doc hit rollup shuffles (on doc_id), and the final
    //      left join is doc_id↔doc_id co-keyed. -----------------------------
    Q("q104_decontaminate",
      (s, dir) => {
        import s.implicits._
        val sh = materialize(sourceShingles(s, dir))
        val bench = sh.filter($"source".isin(benchSources: _*))
          .select($"shingle").distinct()
        val hits = sh.filter(!$"source".isin(benchSources: _*))
          .join(broadcast(bench), Seq("shingle"))
          .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
        docs(s, dir).filter(!$"source".isin(benchSources: _*)).select($"doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_hits", lit(0L)).cast("long").as("n_hits"),
            when(coalesce($"n_hits", lit(0L)) > 0, 1L).otherwise(0L)
              .as("contaminated"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $benchShingleCte,
          hits AS (SELECT doc_id, count(*) AS n_hits
                   FROM sh JOIN bench USING (shingle)
                   WHERE source NOT IN ('src0', 'src1') GROUP BY doc_id)
          SELECT d.doc_id,
                 CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                 CAST(CASE WHEN COALESCE(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS contaminated
          FROM documents d LEFT JOIN hits h USING (doc_id)
          WHERE d.source NOT IN ('src0', 'src1')
          ORDER BY doc_id""")),

    // ---- unigram LM scoring: corpus token frequencies → mean per-token
    //      log-probability per doc (the cheap LM-perplexity proxy filter).
    //      Two shuffles — token counts, then the per-doc mean; the corpus
    //      total derives from the frequency table (no third scan) and rides
    //      along as a broadcast scalar. Per-token logprob is quantized to
    //      micro-units (round(ln·1e6) → long) BEFORE the cross-row sum, so
    //      the mean is addition-order-independent and bit-identical to the
    //      oracle at any parallelism. The token↔vocab join is UN-hinted: a
    //      100 TB web corpus has hundreds of millions of vocab entries, so
    //      a forced broadcast cannot size-gate — AQE broadcasts when freq
    //      measures small and otherwise runs a shuffle join, where its
    //      skew-split (or the SkewAgg.saltedJoin fallback, equivalence-
    //      pinned in ScaleOpsSpec) absorbs the zipf head. The corpus total
    //      stays a 1-row broadcast scalar. --------------------------------
    Q("q105_unigram_logprob",
      (s, dir) => {
        import s.implicits._
        val toks = docs(s, dir)
          .select($"doc_id", explode(tokens(lower($"text"))).as("token"))
        val freq = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
        val total = freq.agg(sum($"cnt").cast("double").as("total"))
        val lp = round(log($"cnt".cast("double") / $"total") * 1e6).cast("long")
        toks.join(freq, Seq("token"))
          .join(broadcast(total))
          .select($"doc_id", lp.as("lp"))
          .groupBy($"doc_id")
          .agg((sum($"lp").cast("double") / 1e6 / count(lit(1))).as("mean_logprob"),
            count(lit(1)).cast("long").as("n_tokens"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
              FROM documents),
          freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
          total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
          lp AS (SELECT doc_id,
                        CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1000000) AS BIGINT) AS lp
                 FROM toks JOIN freq USING (token) CROSS JOIN total)
          SELECT doc_id,
                 CAST(sum(lp) AS DOUBLE) / 1000000 / count(*) AS mean_logprob,
                 count(*) AS n_tokens
          FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // ---- training-sequence packing: concatenate each source's docs in
    //      doc_id order and cut at a fixed token budget (2048) — the batch
    //      prep step between curation and the trainer. Token-level layout
    //      is a per-source prefix sum: one shuffle on source, window state
    //      is a running long. At 100 TB a shard key replaces `source`
    //      (pack within hash shards — packing has no cross-shard semantics)
    //      so no single source can pin a task. ----------------------------
    Q("q106_sequence_pack",
      (s, dir) => {
        import s.implicits._
        val budget = 2048L
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        docs(s, dir)
          .select($"source", $"doc_id",
            size(tokens($"text")).cast("long").as("n_tokens"))
          .withColumn("start_off",
            coalesce(sum($"n_tokens").over(w), lit(0L)))
          .withColumn("seq_id", floor($"start_off" / budget).cast("long"))
          .withColumn("spans_boundary",
            when(floor(($"start_off" + $"n_tokens" - 1) / budget) =!= $"seq_id", 1L)
              .otherwise(0L))
          .orderBy($"source", $"doc_id")
      },
      Some("""WITH t AS (SELECT source, doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
          o AS (SELECT source, doc_id, n_tokens,
                  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS start_off
                FROM t)
          SELECT source, doc_id, n_tokens, start_off,
                 CAST(floor(start_off / 2048) AS BIGINT) AS seq_id,
                 CAST(CASE WHEN floor((start_off + n_tokens - 1) / 2048)
                      != floor(start_off / 2048) THEN 1 ELSE 0 END AS BIGINT)
                   AS spans_boundary
          FROM o ORDER BY source, doc_id""")),

    // ---- key-skew audit: heavy-hitter keys with their share of total —
    //      the diagnostic that decides salting/broadcast strategy before a
    //      big join. One key shuffle for counts, TakeOrdered top-10, the
    //      scalar total broadcast back; nothing corpus-sized moves twice. --
    // ---- THIRD sketch-driven plan decision — PARALLELISM (q260
    //      broadcast, q273 salt): shuffle-partition count derived from a
    //      deterministic sampled-size estimate under the stated
    //      64 MB/partition rule, then EXECUTED as repartition(n, doc_id)
    //      with explicit numPartitions (AQE respects it; the spec reads n
    //      back out of the executed ShuffleExchange). This is SCALING.md's
    //      q267 lesson — partition count must scale with data — as an
    //      operator rather than advice. The oracle replays the sample
    //      sum, the integer-ceiling division and the clamp. ----------------
    Q("q275_adaptive_partitioning",
      (s, dir) => adaptivePartitioning(s, dir, TargetPartitionBytes),
      Some {
        val u = graft.operators.Sampling.detRandSql(97L,
          Seq("CAST(doc_id AS VARCHAR)"))
        val t = TargetPartitionBytes
        s"""WITH est AS (SELECT COALESCE(sum(octet_length(encode(text))), 0) * 16 AS b
              FROM documents WHERE $u < 0.0625),
          np AS (SELECT b, least(4096, greatest(1, (b + $t - 1) // $t)) AS n FROM est)
          SELECT CAST(np.b AS BIGINT) AS est_bytes,
            CAST($t AS BIGINT) AS target_bytes,
            CAST(np.n AS INT) AS n_partitions,
            lang, count(*) AS n_docs,
            CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
          FROM documents, np GROUP BY np.b, np.n, lang ORDER BY lang"""
      }),

    // ---- FOURTH sketch-driven plan decision — dedup INDEX PRECISION
    //      (q260 broadcast, q273 salt, q275 parallelism): the LSH band
    //      count chosen from the HLL corpus-size estimate under the
    //      stated recall/precision ladder, then EXECUTED through the
    //      parametrized banding kernel. Candidate volume scales with
    //      n²·P[band collision]; longer band keys (fewer bands) are what
    //      keep the candidate join linear as the corpus grows — this is
    //      the dedup pipeline tuning itself from its own sketches. The
    //      oracle replays the HLL estimate, the CASE ladder, and all
    //      three banding variants, selecting the chosen one's counts. ------
    Q("q280_lsh_band_decision",
      (s, dir) => lshPlannedBands(s, dir, LshBandT8, LshBandT4),
      Some {
        import graft.functions.HyperLogLog.{M, RhoMax, WordBits}
        val mask = (1L << WordBits) - 1
        val hll = graft.functions.TextFunctions.hexPolySql(15,
          "concat_ws('|', 'lshsz', doc_id)")
        val est = graft.functions.HyperLogLog.estimateSql("dd.d")
        s"""WITH $minhashCte,
          ${lshScoredCteWith(8)},
          ${lshScoredCteWith(4)},
          ${lshScoredCteWith(2)},
          dh AS (SELECT $hll AS h FROM documents),
          regs AS (SELECT h >> $WordBits AS bkt,
              max(CASE WHEN h & $mask = 0 THEN $RhoMax
                  ELSE CAST(log2((h & $mask) & (-(h & $mask))) AS INT) + 1 END) AS reg
            FROM dh GROUP BY 1),
          dd AS (SELECT sum(CAST(1 AS BIGINT) << ($RhoMax - reg))
              + ($M - count(*)) * (CAST(1 AS BIGINT) << $RhoMax) AS d
            FROM regs),
          es AS (SELECT $est AS est FROM dd),
          pick AS (SELECT est,
              CASE WHEN est <= $LshBandT8 THEN 8
                   WHEN est <= $LshBandT4 THEN 4 ELSE 2 END AS b
            FROM es),
          a8 AS (SELECT count(*) AS nc,
              COALESCE(sum(CASE WHEN agree >= ${nPerms / 2} THEN 1 ELSE 0 END), 0) AS ns
            FROM scored_8),
          a4 AS (SELECT count(*) AS nc,
              COALESCE(sum(CASE WHEN agree >= ${nPerms / 2} THEN 1 ELSE 0 END), 0) AS ns
            FROM scored_4),
          a2 AS (SELECT count(*) AS nc,
              COALESCE(sum(CASE WHEN agree >= ${nPerms / 2} THEN 1 ELSE 0 END), 0) AS ns
            FROM scored_2)
          SELECT p.est AS est_docs, CAST(p.b AS INT) AS bands,
            CAST($LshBandT8 AS DOUBLE) AS t8, CAST($LshBandT4 AS DOUBLE) AS t4,
            CAST(CASE p.b WHEN 8 THEN a8.nc WHEN 4 THEN a4.nc ELSE a2.nc END AS BIGINT) AS n_candidates,
            CAST(CASE p.b WHEN 8 THEN a8.ns WHEN 4 THEN a4.ns ELSE a2.ns END AS BIGINT) AS n_survivors
          FROM pick p, a8, a4, a2"""
      }),

    Q("q107_skew_audit",
      (s, dir) => {
        import s.implicits._
        val counts = Tables(s, dir, "lineitem")
          .groupBy($"l_suppkey").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum($"n").cast("double").as("total"))
        counts.orderBy($"n".desc, $"l_suppkey").limit(10)
          .join(broadcast(total))
          .select($"l_suppkey", $"n",
            round($"n" / $"total", 8).as("share"))
          .orderBy($"n".desc, $"l_suppkey")
      },
      Some("""WITH c AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey),
          t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
          SELECT l_suppkey, n, round(n / total, 8) AS share
          FROM c CROSS JOIN t
          ORDER BY n DESC, l_suppkey LIMIT 10""")),

    // ---- RAG chunking: fixed-size token windows (64 tokens, stride 48 ⇒
    //      16-token overlap) with a content hash per chunk — the retrieval
    //      prep between curation and embedding. Entirely ROW-LOCAL: the
    //      token array materializes once per doc, window starts come from
    //      `sequence`, and each chunk is a `slice` off the same array — no
    //      shuffle at all until the final presentation sort, so the op
    //      scales linearly with corpus bytes (the fan-out is ~n_tokens/48
    //      rows per doc, each a bounded slice, never a cross join). -------
    Q("q115_rag_chunks",
      (s, dir) => {
        import s.implicits._
        val chunk = 64
        val stride = 48
        docs(s, dir)
          .select($"doc_id", tokens($"text").as("t"))
          // largest start ≤ n-1 that is a multiple of stride; sequence's
          // step is pinned (start>stop would otherwise flip it negative)
          .select($"doc_id", $"t",
            explode(expr(s"sequence(0L, (size(t) - 1) div $stride * $stride, ${stride}L)"))
              .as("start"))
          .select($"doc_id",
            ($"start" / stride).cast("long").as("chunk_idx"),
            $"start".cast("long").as("start_tok"),
            least(size($"t") - $"start", lit(chunk)).cast("long").as("n_chunk_tokens"),
            md5(array_join(slice($"t", ($"start" + 1).cast("int"), lit(chunk)), " "))
              .as("chunk_md5"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          st AS (SELECT doc_id, t, i AS start
                 FROM t, UNNEST(range(0, len(t), 48)) AS r(i))
          SELECT doc_id,
                 CAST(start // 48 AS BIGINT) AS chunk_idx,
                 CAST(start AS BIGINT) AS start_tok,
                 CAST(least(len(t) - start, 64) AS BIGINT) AS n_chunk_tokens,
                 md5(array_to_string(t[start + 1:start + 64], ' ')) AS chunk_md5
          FROM st ORDER BY doc_id, chunk_idx""")),

    // ---- interpolated bigram LM scoring: the step up from q105's unigram
    //      proxy — P(w2|w1) smoothed with the unigram prior
    //      (0.75·c12/c1 + 0.25·cu/total), mean log-prob per doc. Bigrams
    //      are extracted ROW-LOCALLY (transform over the token array — no
    //      positional self-join), so the only corpus-sized shuffles are the
    //      two count aggregations and the per-doc mean. The three count
    //      tables (bigram — strictly larger than vocab — context, unigram)
    //      are UN-hinted: at 100 TB they outgrow any broadcast, the probes
    //      run as shuffle joins on (w1,w2)/(w1)/(w2), and AQE skew-split or
    //      the SkewAgg.saltedJoin fallback (equivalence-pinned in
    //      ScaleOpsSpec) absorbs the zipf head; at bench scale AQE measures
    //      them small and broadcasts at runtime anyway. Only the 1-row
    //      total stays hinted. Per-token log-probs are micro-quantized
    //      before summing so the mean is addition-order-independent. ------
    Q("q116_bigram_logprob",
      (s, dir) => {
        import s.implicits._
        val bg = docs(s, dir)
          .select($"doc_id", tokens(lower($"text")).as("t"))
          .where(size($"t") >= 2)
          .select($"doc_id", explode(expr(
            "transform(sequence(1, size(t) - 1), " +
              "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
            .as("b"))
          .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
        val cbg = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
        val cctx = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
        val uni = docs(s, dir)
          .select(explode(tokens(lower($"text"))).as("w2"))
          .groupBy($"w2").agg(count(lit(1)).as("cu"))
        val tot = uni.agg(sum($"cu").cast("double").as("total"))
        val p = lit(0.75) * ($"c12".cast("double") / $"c1") +
          lit(0.25) * ($"cu".cast("double") / $"total")
        val lp = round(log(p) * 1e6).cast("long")
        bg.join(cbg, Seq("w1", "w2"))
          .join(cctx, Seq("w1"))
          .join(uni, Seq("w2"))
          .join(broadcast(tot))
          .select($"doc_id", lp.as("lp"))
          .groupBy($"doc_id")
          .agg((sum($"lp").cast("double") / 1e6 / count(lit(1))).as("mean_bigram_logprob"),
            count(lit(1)).as("n_bigrams"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
          bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                 FROM t, UNNEST(range(1, len(t))) AS r(i)),
          cbg AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
          cctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
          uni AS (SELECT w AS w2, count(*) AS cu FROM
                    (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
                  GROUP BY w),
          tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS total FROM uni),
          lp AS (SELECT doc_id,
                   CAST(round(ln(0.75 * (CAST(c12 AS DOUBLE) / c1)
                     + 0.25 * (CAST(cu AS DOUBLE) / total)) * 1000000) AS BIGINT) AS lp
                 FROM bg JOIN cbg USING (w1, w2) JOIN cctx USING (w1)
                   JOIN uni USING (w2) CROSS JOIN tot)
          SELECT doc_id,
                 CAST(sum(lp) AS DOUBLE) / 1000000 / count(*) AS mean_bigram_logprob,
                 count(*) AS n_bigrams
          FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // ---- mixture rebalancing: downsample every language to the size of
    //      the smallest one (uniform target mixture) with a DETERMINISTIC
    //      per-doc coin — acceptance is a pure function of doc_id, so the
    //      sample is identical under any partitioning or scale, unlike
    //      `sampleBy`. One lang-count aggregation (5 rows, broadcast back);
    //      the corpus pass itself is a map-side filter — this is how
    //      pretraining mixes rebalance sources at 100 TB without a global
    //      sort or per-group windows. ---------------------------------------
    Q("q118_mixture_resample",
      (s, dir) => {
        import s.implicits._
        val c = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("n"))
        val m = c.agg(min($"n").cast("double").as("minn"))
        docs(s, dir)
          .join(broadcast(c), Seq("lang"))
          .join(broadcast(m))
          .where(graft.operators.Sampling.detRand(118L, $"doc_id".cast("string"))
            < $"minn" / $"n")
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      Some(s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          m AS (SELECT CAST(min(n) AS DOUBLE) AS minn FROM c)
          SELECT doc_id, lang
          FROM documents JOIN c USING (lang) CROSS JOIN m
          WHERE ${graft.operators.Sampling.detRandSql(118L, Seq("CAST(doc_id AS VARCHAR)"))}
            < minn / n
          ORDER BY doc_id""")),

    // ---- epoch upsampling (data echo): the other half of mixture
    //      rebalancing — q118 downsamples the big languages to the
    //      smallest; this REPEATS the small ones up to the largest, the
    //      way pretraining mixes run high-quality sources for >1 epoch.
    //      rate = n_max/n_lang capped at 4.0 (the "max epochs" knob every
    //      real mix sets — unbounded repetition of a tiny source is a
    //      memorization hazard, and the cap also bounds the output blow-up
    //      to ≤4× input). Fractional epochs are per-doc, not per-source:
    //      every doc gets floor(rate) guaranteed copies plus one more iff
    //      its deterministic md5 coin lands under frac(rate), so the
    //      expected per-lang size is exactly min(n_max, 4·n_lang) and the
    //      realized sample is a pure function of doc_id — identical under
    //      any partitioning or executor count, unlike rand()-based echo.
    //      Plan shape: one 5-row lang aggregate broadcast back, then the
    //      corpus pass is map-side (join-broadcast + row-local explode) —
    //      zero corpus-keyed shuffles before the gate's ORDER BY, so at
    //      100 TB this is a single scan that writes the echoed dataset. --
    Q("q262_epoch_upsample",
      (s, dir) => {
        import s.implicits._
        val c = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("n"))
        val m = c.agg(max($"n").cast("double").as("maxn"))
        val rate = least($"maxn" / $"n".cast("double"), lit(4.0))
        docs(s, dir)
          .join(broadcast(c), Seq("lang"))
          .join(broadcast(m))
          .withColumn("n_copies",
            (floor(rate) + when(
              graft.operators.Sampling.detRand(262L, $"doc_id".cast("string"))
                < rate - floor(rate), 1L).otherwise(0L)).cast("int"))
          .select($"doc_id", $"lang",
            explode(sequence(lit(1), $"n_copies")).as("epoch_copy"))
          .orderBy($"doc_id", $"epoch_copy")
      },
      Some(s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          m AS (SELECT CAST(max(n) AS DOUBLE) AS maxn FROM c),
          r AS (SELECT doc_id, lang,
                  least(maxn / CAST(n AS DOUBLE), 4.0) AS rate,
                  ${graft.operators.Sampling.detRandSql(262L, Seq("CAST(doc_id AS VARCHAR)"))} AS u
                FROM documents JOIN c USING (lang) CROSS JOIN m),
          k AS (SELECT doc_id, lang,
                  CAST(floor(rate) + CASE WHEN u < rate - floor(rate)
                       THEN 1 ELSE 0 END AS INT) AS n_copies
                FROM r)
          SELECT doc_id, lang, CAST(t.ec AS INT) AS epoch_copy
          FROM k, UNNEST(range(1, n_copies + 1)) AS t(ec)
          ORDER BY doc_id, epoch_copy""")),

    // ---- shard manifest: the dataset-publishing step — deterministic
    //      hash shard assignment (8 shards) plus the per-shard manifest a
    //      consumer validates against: doc count, id range, byte volume,
    //      and an ORDER-INDEPENDENT content checksum (sum of per-doc
    //      md5-derived longs mod p — associative, so map-side combine and
    //      any merge order give the same value; the summands are < 1e9 so
    //      the running long sum overflows only past ~9e9 docs PER SHARD,
    //      far beyond a shard's intended size). One shuffle on shard_id;
    //      at 100 TB this IS the final write layout (shard = output file
    //      bucket), and the manifest rides the same aggregation. ----------
    Q("q121_shard_manifest",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id", $"n_chars",
            (baseHash($"doc_id".cast("string")) % 8).as("shard_id"),
            baseHash($"text").as("h"))
          .groupBy($"shard_id")
          .agg(count(lit(1)).as("n_docs"),
            min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
            sum($"n_chars").as("sum_chars"),
            (sum($"h") % graft.functions.TextFunctions.minhashP).as("checksum"))
          .orderBy($"shard_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, n_chars,
            ${graft.functions.TextFunctions.baseHashSql("CAST(doc_id AS VARCHAR)")} % 8
              AS shard_id,
            ${graft.functions.TextFunctions.baseHashSql("text")} AS h
          FROM documents)
          SELECT shard_id, count(*) AS n_docs, min(doc_id) AS min_doc,
            max(doc_id) AS max_doc, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            CAST(sum(h) % 1000000007 AS BIGINT) AS checksum
          FROM d GROUP BY shard_id ORDER BY shard_id""")),

    // ---- incremental ingest dedup: the latest crawl batch (top 10% of
    //      the doc_id range — an ingest-time id watermark) lands against
    //      the EXISTING corpus, and every new doc that shares ANY 20-token
    //      chunk hash with the index is dropped (the n-gram-overlap rule
    //      GPT-3-style pipelines apply between crawl refreshes; exact
    //      whole-text hashing never fires on near-dups). Per batch doc the
    //      query emits the shared-chunk count and the keep/drop verdict.
    //      Chunk hashing is row-local (q99's recipe); the probe is one
    //      shuffle of each side's distinct chunk hashes. At 100 TB the
    //      existing-corpus chunk index is a table BUCKETED on the hash, so
    //      only the (small) incoming batch shuffles, and a runtime bloom
    //      filter over the batch's hashes sheds index partitions before
    //      the join. Day-2 shape of q21's one-shot dedup. ------------------
    Q("q122_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val chunkExpr = expr(
          """CASE WHEN size(toks) >= 20
               THEN transform(sequence(1, size(toks) - 19, 10),
                      i -> md5(array_join(slice(toks, i, 20), ' ')))
               ELSE array() END""")
        // integer cut (max - max div 10), NOT 0.9*max: an IEEE-double 0.9
        // differs from DuckDB's exact DECIMAL 0.9 at integral boundaries,
        // which would flip the boundary doc between 'existing' and 'batch'
        // whenever max(doc_id) is a multiple of 10
        val all = docs(s, dir)
          .select($"doc_id", tokens(lower($"text")).as("toks"))
          .join(broadcast(docs(s, dir)
            .agg(expr("max(doc_id) - max(doc_id) div 10").as("cut"))))
        def chunksOf(df: DataFrame): DataFrame =
          df.select($"doc_id", explode(chunkExpr).as("chunk")).distinct()
        val existing = chunksOf(all.filter($"doc_id" < $"cut"))
          .select($"chunk").distinct()
        val batch = all.filter($"doc_id" >= $"cut")
        val hits = chunksOf(batch).join(existing, Seq("chunk"))
          .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        batch.select($"doc_id").join(hits, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_shared", lit(0L)).as("n_shared_chunks"),
            when(coalesce($"n_shared", lit(0L)) > 0, "drop").otherwise("keep")
              .as("verdict"))
          .orderBy($"doc_id")
      },
      Some(s"""$chunkCtes
          batch AS (SELECT doc_id FROM documents, m WHERE doc_id >= cut),
          hits AS (SELECT c.doc_id, count(*) AS n_shared
                   FROM c, m WHERE c.doc_id >= m.cut
                     AND chunk IN (SELECT chunk FROM existing)
                   GROUP BY c.doc_id)
          SELECT b.doc_id, CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared_chunks,
            CASE WHEN COALESCE(n_shared, 0) > 0 THEN 'drop' ELSE 'keep' END AS verdict
          FROM batch b LEFT JOIN hits USING (doc_id) ORDER BY doc_id""")),

    // ---- Zipf-law corpus audit: least-squares slope of ln(freq) over
    //      ln(rank) for the top-256 tokens — natural text sits near −1;
    //      a drifting slope flags boilerplate floods or tokenizer damage.
    //      One token-count shuffle; the rank window runs over the 256-row
    //      TakeOrdered result only (bounded, not a global corpus sort).
    //      Every log is micro-quantized to a LONG before the regression
    //      sums, so Σx, Σy, Σxy, Σxx are exact integers at any parallelism
    //      and the final slope/intercept doubles are bit-identical to the
    //      oracle (the long products stay under 2^63: |x_µ| ≤ 5.6e6,
    //      |y_µ| ≤ ~2e7, n = 256). ------------------------------------------
    Q("q126_zipf_audit",
      (s, dir) => {
        import s.implicits._
        val top = docs(s, dir)
          .select(explode(tokens(lower($"text"))).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"token").limit(256)
          .withColumn("rank",
            row_number().over(Window.orderBy($"cnt".desc, $"token")))
        val q = top.select(
          round(log($"rank".cast("double")) * 1e6).cast("long").as("xq"),
          round(log($"cnt".cast("double")) * 1e6).cast("long").as("yq"))
        q.agg(count(lit(1)).as("n"), sum($"xq").as("sx"), sum($"yq").as("sy"),
            sum($"xq" * $"yq").as("sxy"), sum($"xq" * $"xq").as("sxx"))
          .select($"n".as("n_top"),
            (($"n" * $"sxy" - $"sx" * $"sy").cast("double")
              / ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("zipf_slope"))
      },
      Some("""WITH f AS (SELECT token, count(*) AS cnt FROM
              (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
            GROUP BY token),
          top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
                  FROM f ORDER BY cnt DESC, token LIMIT 256),
          q AS (SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS xq,
                       CAST(round(ln(cnt) * 1000000) AS BIGINT) AS yq FROM top),
          s AS (SELECT count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
                       sum(xq * yq) AS sxy, sum(xq * xq) AS sxx FROM q)
          SELECT CAST(n AS BIGINT) AS n_top,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
          FROM s""")),

    // ---- subword tokenization via RECURSIVE CTE (Spark 4 recursion):
    //      greedy longest-prefix-match against a fixed merge vocab — the
    //      actual mechanics of a wordpiece tokenizer, expressed
    //      DECLARATIVELY so the loop runs distributed (one UNION ALL
    //      iteration per consumed piece, all words advance in parallel)
    //      instead of per-row UDF loops. The per-step argmax is a
    //      correlated MAX subquery Catalyst decorrelates into a join; an
    //      unmatched character falls back to one <unk> piece via COALESCE.
    //      State is vocab-sized (DISTINCT words), never corpus-sized;
    //      the corpus-sized work is only the final broadcast-shaped join
    //      of tokens to per-word piece counts. COST BOUND (VERDICT r9/r10
    //      item 8): iteration count ≤ max word length + 1 (each round
    //      advances ≥ 1 char), and the words CTE drops tokens longer
    //      than 50 chars — so ONE pathological megabyte "word" cannot add
    //      rounds for the whole corpus; depth is hard-capped at 51. Bench
    //      records the ACTUAL executed depth (max pieces per word + 1,
    //      via subwordIterations — the greedy match usually converges far
    //      under the cap) as q127_cte_iterations. The SAME recursive SQL
    //      text runs in DuckDB — the oracle executes the identical
    //      program (including the length cap, so both engines drop the
    //      same pathological tokens). --------------------------------------
    Q("q127_subword_tokenize",
      (s, dir) => {
        // MEASURED REJECTION (r17): fanning out the docs view past the
        // single-row-group scan removed the 2.3 s single-task explode stage
        // from the job trace, but the RoundRobin exchange is re-paid by the
        // recursion's references to the view — quiet-box fresh-JVM A/B read
        // warm 3.5-3.8 s without fanout vs 4.5-4.8 s with. Kept unfanned.
        docs(s, dir).createOrReplaceTempView("q127_docs")
        s.sql(subwordSql(
          "SELECT doc_id, explode(split(lower(text), ' ')) AS token FROM q127_docs"))
      },
      // INDEPENDENT DuckDB formulation (VERDICT r14 item 5 — this was
      // the one shared-sql-text gate): the longest-prefix match is
      // computed SET-WISE per (word, position) with CASE/IN lists built
      // from the vocab by piece length, and the recursion merely walks
      // precomputed step sizes via a join — vs Spark's recursive CTE
      // whose per-step argmax is a correlated MAX subquery over a
      // pieces table. Two different programs; only the vocab (the
      // tokenizer's DATA) is shared. The in-JVM greedy re-derivation in
      // QueriesSpec stays as the third implementation.
      Some(subwordOracleSql)),

    // ---- source temperature rebalancing: cap every source at
    //      floor(sqrt(n)) docs (keep the lowest doc_ids) — the sublinear
    //      per-domain quota web-curation pipelines apply so one crawl host
    //      can't dominate the mixture (q118 rebalances BETWEEN fixed
    //      sources; this caps WITHIN each source by its own size). One
    //      source-keyed shuffle; both windows share the exchange. A
    //      dominant source buffers on one task (q26's caveat) — at
    //      unbounded skew swap the exact rank for q118's deterministic
    //      md5-coin at rate sqrt(n)/n, which needs no per-source order. ----
    Q("q145_source_rebalance",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
        docs(s, dir).select($"doc_id", $"source")
          .withColumn("rn", row_number().over(w))
          .withColumn("n_source_docs",
            count(lit(1)).over(Window.partitionBy($"source")))
          .select($"doc_id", $"source", $"n_source_docs",
            when($"rn" <= floor(sqrt($"n_source_docs".cast("double"))).cast("long"), 1L)
              .otherwise(0L).as("keep"))
          .orderBy($"doc_id")
      },
      Some("""WITH r AS (SELECT doc_id, source,
            row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
            count(*) OVER (PARTITION BY source) AS n
          FROM documents)
        SELECT doc_id, source, CAST(n AS BIGINT) AS n_source_docs,
          CAST(CASE WHEN rn <= CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)
               THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM r ORDER BY doc_id""")),

    // ---- linear quality classifier (fastText-style filter): a fixed
    //      weight vector over row-local text features — length saturation,
    //      digit ratio, stopword ratio, mean word length — scored as a
    //      logit with keep = logit > 0. The shape of every
    //      classifier-based filter (CCNet, FineWeb-Edu): inference is one
    //      codegen'd map pass, zero shuffle before the presentation sort.
    //      All weights are exact binary fractions and the feature ratios
    //      are int/int divisions, so the logit is bit-identical
    //      cross-engine with a fixed evaluation order. ---------------------
    Q("q146_quality_classifier",
      (s, dir) => {
        import s.implicits._
        docs(s, dir).withColumn("w", tokens($"text"))
          .withColumn("logit", classifierLogit)
          .select($"doc_id", $"logit",
            when($"logit" > 0.0, 1L).otherwise(0L).as("keep"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH f AS (SELECT doc_id, $logitSqlExpr AS logit FROM documents)
        SELECT doc_id, logit,
          CAST(CASE WHEN logit > 0.0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM f ORDER BY doc_id""")),

    // ---- quality-aware survivor selection: within each fingerprint group
    //      (q26's normalize+md5 fuzzy key) keep the HIGHEST-quality doc,
    //      not the lowest id — the "keep best, drop rest" dedup policy a
    //      curation pipeline actually wants. Quality is q28's row-local
    //      score (bit-identical cross-engine), so ordering by it is safe;
    //      one fingerprint shuffle, both windows share it. ------------------
    Q("q147_quality_survivors",
      (s, dir) => {
        import s.implicits._
        val fp = docs(s, dir).withColumn("w", tokens($"text"))
          .select($"doc_id", md5(normalize($"text")).as("fingerprint"),
            docQuality.as("quality"))
        val w = Window.partitionBy($"fingerprint").orderBy($"quality".desc, $"doc_id")
        fp.withColumn("rn", row_number().over(w))
          .withColumn("n_same", count(lit(1)).over(Window.partitionBy($"fingerprint")))
          .select($"doc_id", $"quality", $"n_same",
            when($"rn" === 1, 1L).otherwise(0L).as("keep"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH fp AS (SELECT doc_id,
            md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint,
            $qualitySqlExpr AS quality
          FROM documents),
        r AS (SELECT doc_id, quality,
            row_number() OVER (PARTITION BY fingerprint ORDER BY quality DESC, doc_id) AS rn,
            count(*) OVER (PARTITION BY fingerprint) AS n_same
          FROM fp)
        SELECT doc_id, quality, CAST(n_same AS BIGINT) AS n_same,
          CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM r ORDER BY doc_id""")),

    // ---- sequence-length bucketed batching: docs sort into power-of-two
    //      length classes, fixed-size batches form within each class, and
    //      the audit reports per-batch padding waste (n·max − Σlen) — the
    //      batch-construction pass that decides real GPU utilization.
    //      Buckets are integer range compares (no float log2 whose
    //      boundary could flip cross-engine). Two exchanges: the bucket
    //      window, then the (bucket, batch) partial+final rollup. ----------
    Q("q148_length_buckets",
      (s, dir) => {
        import s.implicits._
        val n = size(tokens($"text")).cast("long")
        val bucket = when(n < 64, 0L).when(n < 128, 1L).when(n < 256, 2L)
          .when(n < 512, 3L).when(n < 1024, 4L).otherwise(5L)
        val w = Window.partitionBy($"bucket").orderBy($"doc_id")
        docs(s, dir)
          .select($"doc_id", n.as("n_tokens"), bucket.as("bucket"))
          .withColumn("rn", row_number().over(w))
          .withColumn("batch_id", expr("CAST((rn - 1) div 8 AS BIGINT)"))
          .groupBy($"bucket", $"batch_id")
          .agg(count(lit(1)).as("n_docs"), max($"n_tokens").as("max_tokens"),
            sum($"n_tokens").as("sum_tokens"))
          .select($"bucket", $"batch_id", $"n_docs", $"max_tokens",
            ($"n_docs" * $"max_tokens" - $"sum_tokens").as("padding_waste"))
          .orderBy($"bucket", $"batch_id")
      },
      Some("""WITH t AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        b AS (SELECT doc_id, n_tokens,
            CAST(CASE WHEN n_tokens < 64 THEN 0 WHEN n_tokens < 128 THEN 1
                 WHEN n_tokens < 256 THEN 2 WHEN n_tokens < 512 THEN 3
                 WHEN n_tokens < 1024 THEN 4 ELSE 5 END AS BIGINT) AS bucket
          FROM t),
        r AS (SELECT bucket, n_tokens,
            CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8
              AS BIGINT) AS batch_id
          FROM b)
        SELECT bucket, batch_id, count(*) AS n_docs,
          max(n_tokens) AS max_tokens,
          CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_waste
        FROM r GROUP BY bucket, batch_id ORDER BY bucket, batch_id""")),

    // ---- corpus-wide token offsets via the TWO-PHASE distributed prefix
    //      sum: a naive global cumsum is an unpartitioned window = one task
    //      holding the corpus. Instead: (1) a deterministic integer range
    //      split (pid = doc_id·8 div (max+1) — no sampling, so the split is
    //      reproducible cross-engine), (2) per-range token totals (8 rows),
    //      (3) an 8-ROW window turns totals into range base offsets,
    //      (4) base offsets broadcast back and each range cumsums its own
    //      slice in parallel. Offset algebra: global_cumsum(d) =
    //      base(pid(d)) + within-range cumsum — exact longs throughout.
    //      At 1000 executors raise the range count to match; phase (3)
    //      stays cluster-trivial (one row per range). ----------------------
    Q("q149_global_token_offsets",
      (s, dir) => {
        import s.implicits._
        val t = docs(s, dir)
          .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
          .join(broadcast(docs(s, dir).agg(max($"doc_id").as("mx"))))
          .withColumn("pid", expr("doc_id * 8 div (mx + 1)"))
        val po = t.groupBy($"pid").agg(sum($"n_tokens").as("pt"))
          .withColumn("base", coalesce(sum($"pt").over(
            Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select($"pid", $"base")
        val w = Window.partitionBy($"pid").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        t.join(broadcast(po), Seq("pid"))
          .withColumn("token_offset",
            $"base" + coalesce(sum($"n_tokens").over(w), lit(0L)))
          .select($"doc_id", $"n_tokens", $"token_offset")
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents)
        SELECT doc_id, n_tokens,
          CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS token_offset
        FROM t ORDER BY doc_id""")),

    // ---- BPE merge-candidate mining (the TRAINING side of q127's
    //      tokenizer): count every adjacent character pair inside words
    //      across the corpus — the statistic each BPE merge round argmaxes
    //      over. Pair extraction is row-local (a bounded transform over
    //      each word, no per-character explode-join); one count shuffle
    //      with map-side combine; the merge decision is a 20-row
    //      TakeOrdered. At 100 TB each merge round repeats this same plan
    //      on the re-segmented corpus. --------------------------------------
    Q("q152_bpe_pairs",
      (s, dir) => {
        import s.implicits._
        val pairs = expr(
          """CASE WHEN length(w) >= 2
               THEN transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))
               ELSE array() END""")
        docs(s, dir)
          .select(explode(tokens(lower($"text"))).as("w"))
          .select(explode(pairs).as("pair"))
          .groupBy($"pair").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"pair").limit(20)
      },
      Some("""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents),
          p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
                FROM w, UNNEST(range(1, length(w))) AS t(i)
                WHERE length(w) >= 2)
          SELECT pair, count(*) AS cnt FROM p GROUP BY pair
          ORDER BY cnt DESC, pair LIMIT 20""")),

    // ---- vocabulary coverage / OOV-rate audit: before committing a
    //      tokenizer, measure the fraction of corpus tokens its vocab
    //      covers, per language. Vocab = the corpus's own top-100 tokens
    //      (deterministic tie-break) — vocab-sized, so the membership
    //      probe is a broadcast join and the corpus never shuffles for it;
    //      one (lang) rollup shuffle follows. The 100 TB shape of "will
    //      this vocab leave Swahili at 40% <unk>". -------------------------
    Q("q153_vocab_coverage",
      (s, dir) => {
        import s.implicits._
        val toks = docs(s, dir)
          .select($"lang", explode(tokens(lower($"text"))).as("w"))
        val vocab = toks.groupBy($"w").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"w").limit(100)
          .select($"w", lit(1L).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("w"), "left")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(coalesce($"in_vocab", lit(0L))).as("n_covered"))
          .select($"lang", $"n_tokens", $"n_covered",
            (lit(1.0) - $"n_covered".cast("double") / $"n_tokens").as("oov_rate"))
          .orderBy($"lang")
      },
      Some("""WITH toks AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
              FROM documents),
          vocab AS (SELECT w, CAST(1 AS BIGINT) AS in_vocab FROM (
                SELECT w, count(*) AS cnt FROM toks GROUP BY w
                ORDER BY cnt DESC, w LIMIT 100)),
          j AS (SELECT lang, COALESCE(in_vocab, 0) AS iv
                FROM toks LEFT JOIN vocab USING (w))
          SELECT lang, count(*) AS n_tokens,
            CAST(sum(iv) AS BIGINT) AS n_covered,
            1.0 - CAST(sum(iv) AS DOUBLE) / count(*) AS oov_rate
          FROM j GROUP BY lang ORDER BY lang""")),

    // ---- boilerplate-line removal: global line-frequency dedup (the
    //      RefinedWeb/CCNet pass that strips nav bars, footers, cookie
    //      banners — lines repeated verbatim across many documents).
    //      Lines are derived row-locally (8-token non-overlapping windows
    //      — the synthetic corpus has no newlines); a line whose text
    //      appears in >= 3 DISTINCT docs is boilerplate, and every
    //      occurrence of it is dropped. One shuffle keyed on the line text
    //      builds the document-frequency table; joining it back is
    //      line-keyed and co-partitioned with the pairs (AQE broadcasts
    //      the df table only when it is genuinely small — no hint, the
    //      boilerplate side is corpus-vocabulary-sized at 100 TB). The
    //      kept content is pinned by an ORDER-INDEPENDENT md5-prefix
    //      checksum (q121's recipe), so no per-doc ordered string-agg. ----
    Q("q164_boilerplate_lines",
      (s, dir) => {
        import s.implicits._
        val pairs = docs(s, dir)
          .select($"doc_id", tokens($"text").as("w"))
          .select($"doc_id", explode(expr(
            "transform(sequence(0, (size(w) - 1) div 8), i -> array_join(slice(w, i * 8 + 1, 8), ' '))"))
            .as("line"))
        val df = pairs.select($"line", $"doc_id").distinct()
          .groupBy($"line").agg(count(lit(1)).as("n_docs"))
        val lineCk =
          expr("cast(conv(substring(md5(line), 1, 12), 16, 10) as bigint) % 1000000007")
        pairs.join(df, Seq("line"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_lines"),
            sum(when($"n_docs" >= 3, 1L).otherwise(0L)).as("n_boiler"),
            sum(when($"n_docs" < 3, lineCk).otherwise(lit(0L))).as("kept_checksum"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          ln AS (SELECT doc_id, array_to_string(w[i : i + 7], ' ') AS line
                 FROM w, UNNEST(range(1, len(w) + 1, 8)) AS t(i)),
          df AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM ln GROUP BY line),
          j AS (SELECT doc_id, ln.line, n_docs FROM ln JOIN df USING (line))
          SELECT doc_id, count(*) AS n_lines,
            CAST(sum(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
            CAST(sum(CASE WHEN n_docs < 3
                 THEN ${hexPolySql(12, "line")} % 1000000007 ELSE 0 END) AS BIGINT)
              AS kept_checksum
          FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // ---- distributed Bloom-filter membership: the incremental-dedup
    //      probe (q122) rebuilt around the fixed-size structure a 100 TB
    //      pipeline actually ships between crawl refreshes. The existing
    //      corpus's 20-token chunk hashes set k=3 bit positions (md5-
    //      derived — the [[SCALING.md]] hash-family rule) in an m=2^17-bit
    //      filter stored as 4096 32-bit words built by ONE bit_or shuffle
    //      whose state is m/32 rows REGARDLESS of corpus size; the batch
    //      probes it word-keyed (AQE broadcasts the 32 KB filter). The
    //      exact join runs alongside purely as the audit: n_bloom_hits >=
    //      n_exact_hits always (no false negatives), and n_false_pos
    //      measures the m-vs-corpus sizing. At 100 TB only m grows (2^33
    //      bits = 1 GiB of words — still corpus-independent); 1<<63 is
    //      avoided by 32-bit words (DuckDB BIGINT << 63 overflows). -------
    Q("q165_bloom_membership",
      (s, dir) => {
        import s.implicits._
        val m = 131072
        val chunkExpr = expr(
          """CASE WHEN size(toks) >= 20
               THEN transform(sequence(1, size(toks) - 19, 10),
                      i -> md5(array_join(slice(toks, i, 20), ' ')))
               ELSE array() END""")
        val all = docs(s, dir)
          .select($"doc_id", tokens(lower($"text")).as("toks"))
          .join(broadcast(docs(s, dir)
            .agg(expr("max(doc_id) - max(doc_id) div 10").as("cut"))))
        def chunksOf(df: DataFrame): DataFrame =
          df.select($"doc_id", explode(chunkExpr).as("chunk")).distinct()
        val existing = chunksOf(all.filter($"doc_id" < $"cut"))
          .select($"chunk").distinct()
        val posCols = (0 until 3).map(j => expr(
          s"cast(conv(substring(md5(concat('bloom$j:', chunk)), 1, 12), 16, 10) as bigint) % $m"))
        val filt = existing
          .select(explode(array(posCols: _*)).as("pos"))
          .groupBy(expr("pos div 32").as("word"))
          .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(pos % 32 as int)))").as("bits"))
        val pp = chunksOf(all.filter($"doc_id" >= $"cut"))
          .select($"doc_id", $"chunk", explode(array(posCols: _*)).as("pos"))
          .withColumn("word", expr("pos div 32"))
          .withColumn("mask", expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))"))
        val member = pp.join(filt, Seq("word"), "left")
          .withColumn("hit",
            when(coalesce($"bits", lit(0L)).bitwiseAND($"mask") =!= 0, 1L).otherwise(0L))
          .groupBy($"doc_id", $"chunk").agg(min($"hit").as("member"))
        member.join(existing.select($"chunk", lit(1L).as("ex")), Seq("chunk"), "left")
          .withColumn("exact", coalesce($"ex", lit(0L)))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum($"member").as("n_bloom_hits"),
            sum($"exact").as("n_exact_hits"),
            (sum($"member") - sum($"exact")).as("n_false_pos"))
          .orderBy($"doc_id")
      },
      Some {
        val pos = s"(${hexPolySql(12, "'bloom' || j || ':' || chunk")} % 131072)"
        s"""$chunkCtes
          filt AS (SELECT pos // 32 AS word,
                     bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
                   FROM (SELECT $pos AS pos
                         FROM existing, UNNEST(range(0, 3)) AS r(j))
                   GROUP BY 1),
          pp AS (SELECT doc_id, chunk, $pos AS pos
                 FROM (SELECT c.doc_id, chunk FROM c, m WHERE c.doc_id >= m.cut),
                      UNNEST(range(0, 3)) AS r(j)),
          ph AS (SELECT doc_id, chunk,
                   min(CASE WHEN COALESCE(bits, 0)
                        & (1::BIGINT << CAST(pos % 32 AS INT)) <> 0
                       THEN 1 ELSE 0 END) AS member
                 FROM pp LEFT JOIN filt ON pp.pos // 32 = filt.word
                 GROUP BY doc_id, chunk),
          pe AS (SELECT doc_id, member,
                   CASE WHEN ph.chunk IN (SELECT chunk FROM existing)
                   THEN 1 ELSE 0 END AS exact
                 FROM ph)
          SELECT doc_id, count(*) AS n_chunks,
            CAST(sum(member) AS BIGINT) AS n_bloom_hits,
            CAST(sum(exact) AS BIGINT) AS n_exact_hits,
            CAST(sum(member) - sum(exact) AS BIGINT) AS n_false_pos
          FROM pe GROUP BY doc_id ORDER BY doc_id"""
      }),

    // ---- count-min-sketch frequency audit: the point-query sketch that
    //      answers "how often does this token appear" in d·w counters
    //      independent of corpus size (d=4 rows × w=16 columns here — w
    //      deliberately narrow so collisions actually occur at test scale;
    //      at 100 TB w grows to ~2^20 and the sketch is still KBs). Build
    //      is one (row, col) shuffle whose map-side combine bounds shuffle
    //      volume at d·w rows per task; estimates are min-over-rows. The
    //      audit joins the exact counts for the top-20 tokens: the CMS
    //      guarantee is one-sided — overcount >= 0 ALWAYS (never an
    //      undercount), and the overcount magnitude measures the w-vs-
    //      vocabulary sizing. Column positions are md5-derived per row
    //      ([[derived-constant-hash-families]] — independent rows are what
    //      make the min tight). ---------------------------------------------
    Q("q166_cms_frequency",
      (s, dir) => {
        import s.implicits._
        def cmsCol(j: Int) = expr(
          s"cast(conv(substring(md5(concat('cms$j:', token)), 1, 12), 16, 10) as bigint) % 16")
        def rcArr = array((0 until 4).map(j =>
          struct(lit(j.toLong).as("j"), cmsCol(j).as("c"))): _*)
        // r16: the token explode feeds BOTH aggregations (exact counts and
        // sketch cells), and the 4-hash cell derivation ran on the one
        // unsplittable scan task — materialize the fanned-out token column
        // once; both consumers read the 32-way cache
        val toks = materialize(graft.core.Tables.fanout(
          docs(s, dir).select(explode(tokens(lower($"text"))).as("token"))))
        val exact = toks.groupBy($"token").agg(count(lit(1)).as("exact_cnt"))
        val probes = exact.orderBy($"exact_cnt".desc, $"token").limit(20)
        val cells = toks.select(explode(rcArr).as("rc"))
          .select($"rc.j".as("j"), $"rc.c".as("c"))
          .groupBy($"j", $"c").agg(count(lit(1)).as("cell"))
        probes.select($"token", $"exact_cnt", explode(rcArr).as("rc"))
          .select($"token", $"exact_cnt", $"rc.j".as("j"), $"rc.c".as("c"))
          .join(cells, Seq("j", "c"))
          .groupBy($"token", $"exact_cnt").agg(min($"cell").as("cms_est"))
          .select($"token", $"exact_cnt", $"cms_est",
            ($"cms_est" - $"exact_cnt").as("overcount"))
          .orderBy($"exact_cnt".desc, $"token")
      },
      Some {
        val c = s"(${hexPolySql(12, "'cms' || j || ':' || token")} % 16)"
        s"""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents),
          exact AS (SELECT token, count(*) AS exact_cnt FROM toks GROUP BY token),
          probes AS (SELECT token, exact_cnt FROM exact
                     ORDER BY exact_cnt DESC, token LIMIT 20),
          cells AS (SELECT j, $c AS c, count(*) AS cell
                    FROM toks, UNNEST(range(0, 4)) AS r(j) GROUP BY 1, 2),
          pp AS (SELECT token, exact_cnt, j, $c AS c
                 FROM probes, UNNEST(range(0, 4)) AS r(j)),
          est AS (SELECT token, exact_cnt, min(cell) AS cms_est
                  FROM pp JOIN cells USING (j, c) GROUP BY token, exact_cnt)
          SELECT token, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
            CAST(cms_est - exact_cnt AS BIGINT) AS overcount
          FROM est ORDER BY exact_cnt DESC, token"""
      }),

    // ---- DSIR-style importance resampling (Xie et al., NeurIPS'23 —
    //      "Data Selection for Language Models via Importance Resampling"):
    //      hashed-bigram features, per-bucket log-ratio of the TARGET
    //      domain distribution (lang='en' here) over the RAW corpus
    //      distribution with add-one smoothing, per-doc importance weight
    //      = Σ log-ratios (micro-quantized to a LONG so cross-engine sums
    //      are exact), keep the exact top 20%. The 128-bucket table is a
    //      tiny join-back; selection avoids both a global sort AND a
    //      driver-sized top-k: docs land in coarse weight buckets
    //      ((lw + 2^40) div 2^20 — the offset keeps the dividend positive
    //      so Spark's truncating div == DuckDB's flooring //), the
    //      cumulative bucket counts (a window over the BOUNDED bucket
    //      table only) locate the threshold bucket, and row_number ranks
    //      only WITHIN buckets — the two-level exact-selection pattern;
    //      at 100 TB the bucket cumsum would reuse q149's two-phase
    //      prefix sum. ------------------------------------------------------
    Q("q167_dsir_resample",
      (s, dir) => {
        import s.implicits._
        val f = docs(s, dir)
          .select($"doc_id", $"lang", tokens(lower($"text")).as("w"))
          .select($"doc_id", $"lang", explode(wordShingles($"w", 2)).as("bg"))
          .select($"doc_id", $"lang",
            (expr("cast(conv(substring(md5(bg), 1, 12), 16, 10) as bigint)") % 128).as("b"))
        val raw = f.groupBy($"b").agg(count(lit(1)).as("cr"))
        val tgt = f.filter($"lang" === "en").groupBy($"b").agg(count(lit(1)).as("ct"))
        val tot = f.agg(count(lit(1)).cast("double").as("r_tot"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).cast("double").as("t_tot"))
        val buck = raw.join(tgt, Seq("b"), "left").join(broadcast(tot))
          .select($"b",
            round((log((coalesce($"ct", lit(0L)) + lit(1L)).cast("double") / ($"t_tot" + lit(128.0)))
              - log(($"cr" + lit(1L)).cast("double") / ($"r_tot" + lit(128.0)))) * 1e6)
              .cast("long").as("lp"))
        val scored = docs(s, dir).select($"doc_id")
          .join(f.join(buck, Seq("b")).groupBy($"doc_id").agg(sum($"lp").as("s")),
            Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"s", lit(0L)).as("lw"))
        val k = (docs(s, dir).count() + 4) / 5
        val bkt = scored.withColumn("bk", expr("(lw + 1099511627776) div 1048576"))
        val bcum = bkt.groupBy($"bk").agg(count(lit(1)).as("cnt"))
          .withColumn("c_gt", coalesce(sum($"cnt").over(
            Window.orderBy($"bk".desc).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"bk", $"c_gt")
        bkt.withColumn("rn", row_number().over(
            Window.partitionBy($"bk").orderBy($"lw".desc, $"doc_id")))
          .join(bcum, Seq("bk"))
          .select($"doc_id", $"lw".as("logw_micro"),
            when($"c_gt" + $"rn" <= k, 1L).otherwise(0L).as("keep"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w
                FROM documents),
          bg AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS bg
                 FROM w, UNNEST(range(1, len(w))) AS t(i)),
          f AS (SELECT doc_id, lang, ${hexPolySql(12, "bg")} % 128 AS b FROM bg),
          raw AS (SELECT b, count(*) AS cr FROM f GROUP BY b),
          tgt AS (SELECT b, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY b),
          tot AS (SELECT CAST(count(*) AS DOUBLE) AS r_tot,
                         CAST(count(*) FILTER (lang = 'en') AS DOUBLE) AS t_tot FROM f),
          buck AS (SELECT raw.b,
                     CAST(round((ln((COALESCE(ct, 0) + 1) / (t_tot + 128))
                               - ln((cr + 1) / (r_tot + 128))) * 1000000) AS BIGINT) AS lp
                   FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
          s1 AS (SELECT doc_id, sum(lp) AS lw FROM f JOIN buck USING (b) GROUP BY doc_id),
          scored AS (SELECT d.doc_id, CAST(COALESCE(lw, 0) AS BIGINT) AS lw
                     FROM documents d LEFT JOIN s1 USING (doc_id)),
          bkt AS (SELECT doc_id, lw, (lw + 1099511627776) // 1048576 AS bk FROM scored),
          bcum AS (SELECT bk, COALESCE(sum(cnt) OVER (ORDER BY bk DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_gt
                   FROM (SELECT bk, count(*) AS cnt FROM bkt GROUP BY bk)),
          rk AS (SELECT doc_id, lw, bk,
                   row_number() OVER (PARTITION BY bk ORDER BY lw DESC, doc_id) AS rn
                 FROM bkt)
          SELECT doc_id, lw AS logw_micro,
            CAST(CASE WHEN c_gt + rn <= (SELECT (count(*) + 4) // 5 FROM documents)
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM rk JOIN bcum USING (bk) ORDER BY doc_id""")),

    // ---- classifier calibration audit (ECE bins): before trusting
    //      q146's quality classifier as a corpus FILTER, check whether
    //      its probabilities mean what they say — per confidence bin,
    //      predicted probability vs empirical positive rate (label =
    //      q28's independent quality heuristic >= 0.4, the q78 curation
    //      threshold). The sigmoid is micro-quantized to a LONG before
    //      binning, so bin membership and the mean-p sums are exact
    //      integers cross-engine (exp's last-ULP divergence is absorbed
    //      by the rounding, q105's ln recipe). Row-local probability,
    //      one 10-row groupBy — the plan is corpus-size-independent
    //      state, unchanged at 100 TB. --------------------------------------
    Q("q168_calibration_bins",
      (s, dir) => {
        import s.implicits._
        val pMicro = round(lit(1e6) / (lit(1.0) + exp(-classifierLogit))).cast("long")
        docs(s, dir).withColumn("w", tokens($"text"))
          .select(pMicro.as("p_micro"),
            when(docQuality >= 0.4, 1L).otherwise(0L).as("label"))
          .select(least(expr("p_micro div 100000"), lit(9L)).as("bin"),
            $"p_micro", $"label")
          .groupBy($"bin")
          .agg(count(lit(1)).as("n"),
            (sum($"p_micro").cast("double") / 1e6 / count(lit(1))).as("mean_p"),
            (sum($"label").cast("double") / count(lit(1))).as("frac_pos"))
          .withColumn("gap", abs($"mean_p" - $"frac_pos"))
          .orderBy($"bin")
      },
      Some(s"""WITH s AS (SELECT
              CAST(round(1000000 / (1.0 + exp(-($logitSqlExpr)))) AS BIGINT) AS p_micro,
              CASE WHEN ($qualitySqlExpr) >= 0.4 THEN 1 ELSE 0 END AS label
            FROM documents),
          b AS (SELECT CAST(least(p_micro // 100000, 9) AS BIGINT) AS bin,
                  p_micro, label FROM s),
          g AS (SELECT bin, count(*) AS n,
                  CAST(sum(p_micro) AS DOUBLE) / 1000000 / count(*) AS mean_p,
                  CAST(sum(label) AS DOUBLE) / count(*) AS frac_pos
                FROM b GROUP BY bin)
          SELECT bin, n, mean_p, frac_pos, abs(mean_p - frac_pos) AS gap
          FROM g ORDER BY bin""")),

    // ---- inter-annotator agreement (Cohen's kappa): when two labelers
    //      (two LLM seeds, two heuristics, a model vs a human sample)
    //      disagree, raw accuracy overstates consensus — kappa corrects
    //      for chance agreement. The two annotators here are noisy
    //      thresholds over q28's quality score (md5-derived per-doc
    //      noise, so both engines replay the same raters; the shared
    //      signal makes kappa genuinely positive rather than hash
    //      noise). Verdicts are row-local; the 2×2 contingency table is
    //      ONE partially-aggregated global agg — four longs of state at
    //      any corpus size. Single-row, order-free. -------------------------
    Q("q169_annotator_kappa",
      (s, dir) => {
        import s.implicits._
        def noise(tag: String) = expr(
          s"cast(conv(substring(md5(concat('$tag:', doc_id)), 1, 12), 16, 10) as bigint) % 1000")
          .cast("double") / 1000.0 * 0.2 - 0.1
        def ann(tag: String) = when(docQuality + noise(tag) >= 0.35, 1L).otherwise(0L)
        docs(s, dir).withColumn("w", tokens($"text"))
          .select(ann("annA").as("ya"), ann("annB").as("yb"))
          .agg(count(lit(1)).as("n"),
            sum(when($"ya" === 1 && $"yb" === 1, 1L).otherwise(0L)).as("n11"),
            sum(when($"ya" === 1 && $"yb" === 0, 1L).otherwise(0L)).as("n10"),
            sum(when($"ya" === 0 && $"yb" === 1, 1L).otherwise(0L)).as("n01"),
            sum(when($"ya" === 0 && $"yb" === 0, 1L).otherwise(0L)).as("n00"))
          .select($"n", $"n11", $"n10", $"n01", $"n00",
            (($"n11" + $"n00").cast("double") / $"n").as("po"),
            ((($"n11" + $"n10").cast("double") / $"n") * (($"n11" + $"n01").cast("double") / $"n")
              + (($"n01" + $"n00").cast("double") / $"n") * (($"n10" + $"n00").cast("double") / $"n")).as("pe"))
          .withColumn("kappa", ($"po" - $"pe") / (lit(1.0) - $"pe"))
      },
      Some {
        def annSql(tag: String) =
          s"""CASE WHEN ($qualitySqlExpr)
                + (CAST(${hexPolySql(12, s"'$tag:' || doc_id")} % 1000 AS DOUBLE)
                   / 1000 * 0.2 - 0.1) >= 0.35 THEN 1 ELSE 0 END"""
        s"""WITH a AS (SELECT ${annSql("annA")} AS ya, ${annSql("annB")} AS yb
              FROM documents),
          c AS (SELECT count(*) AS n,
                  sum(CASE WHEN ya = 1 AND yb = 1 THEN 1 ELSE 0 END) AS n11,
                  sum(CASE WHEN ya = 1 AND yb = 0 THEN 1 ELSE 0 END) AS n10,
                  sum(CASE WHEN ya = 0 AND yb = 1 THEN 1 ELSE 0 END) AS n01,
                  sum(CASE WHEN ya = 0 AND yb = 0 THEN 1 ELSE 0 END) AS n00 FROM a),
          p AS (SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
                  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
                  CAST(n00 AS BIGINT) AS n00,
                  CAST(n11 + n00 AS DOUBLE) / n AS po,
                  (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                    + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n) AS pe
                FROM c)
          SELECT n, n11, n10, n01, n00, po, pe, (po - pe) / (1.0 - pe) AS kappa
          FROM p"""
      }),

    // ---- epoch-weighted mixture schedule: the LLaMA-style data recipe
    //      where each source is seen a FRACTIONAL number of epochs (wiki
    //      3.3×, web 0.8×). Per doc the replication count is
    //      floor(epochs) plus an md5-coin for the fractional epoch —
    //      deterministic, partition-invariant, and exactly replayed by
    //      the oracle; per-source sums audit that realized replication
    //      tracks the recipe. Everything is row-local until the final
    //      per-source agg; materializing the replicas themselves is a
    //      row-local explode(sequence(1, emit)) — no shuffle at any
    //      corpus size. Epochs (×10) are md5-derived per source standing
    //      in for a recipe table a real pipeline would broadcast. ----------
    Q("q170_epoch_schedule",
      (s, dir) => {
        import s.implicits._
        val ep = expr("cast(conv(substring(md5(source), 1, 12), 16, 10) as bigint) % 26") + lit(5L)
        val coin = expr(
          "cast(conv(substring(md5(concat('epoch:', doc_id)), 1, 12), 16, 10) as bigint) % 10")
        docs(s, dir).select($"doc_id", $"source")
          .withColumn("epochs_x10", ep)
          .withColumn("emit", expr("epochs_x10 div 10") +
            when(coin < $"epochs_x10" % 10, 1L).otherwise(0L))
          .groupBy($"source")
          .agg(max($"epochs_x10").as("epochs_x10"), count(lit(1)).as("n_docs"),
            sum($"emit").as("n_emitted"))
          .orderBy($"source")
      },
      Some(s"""WITH e AS (SELECT doc_id, source,
              5 + ${hexPolySql(12, "source")} % 26 AS epochs_x10,
              ${hexPolySql(12, "'epoch:' || doc_id")} % 10 AS coin
            FROM documents),
          d AS (SELECT source, epochs_x10,
                  epochs_x10 // 10
                    + CASE WHEN coin < epochs_x10 % 10 THEN 1 ELSE 0 END AS emit
                FROM e)
          SELECT source, CAST(max(epochs_x10) AS BIGINT) AS epochs_x10,
            count(*) AS n_docs, CAST(sum(emit) AS BIGINT) AS n_emitted
          FROM d GROUP BY source ORDER BY source""")),

    // ---- exact duplicated-substring spans (Lee et al., "Deduplicating
    //      Training Data Makes Language Models Better", ACL'22 —
    //      substring-level dedup at a token threshold): every STRIDE-1
    //      20-token window is hashed (q99's stride-10 chunks can MISS
    //      repeats shifted by up to 9 tokens; stride 1 is exact), any
    //      window whose hash recurs anywhere in the corpus is a
    //      duplicated substring, and overlapping occurrences merge into
    //      MAXIMAL per-doc spans (interval union: running-max-of-end
    //      window → break flags → running-sum group ids) whose token
    //      mass is exactly what the substring-dedup pass would cut.
    //      One gram-hash shuffle + one doc-keyed window pair sharing a
    //      single exchange; gram extraction is row-local. At 100 TB the
    //      stride-1 gram table is ~tokens×1 rows — the df filter (cnt>1)
    //      shrinks it to the duplicated tail before the join back, and
    //      the 100 TB answer to the gram-table size is q165's Bloom
    //      pre-filter on the hash before the shuffle. ----------------------
    Q("q172_substring_spans",
      (s, dir) => {
        import s.implicits._
        val L = 20
        // r16 (guide §2.3/§2.4): the gram hash travels as unhex(md5) BINARY
        // (16 B, the same 128 bits the 32-char hex string carried — a pure
        // re-encoding, so the duplicate relation is bit-identical), and
        // the former agg + join-back-to-g (TWO scans of the corpus grams,
        // two shuffles on h, then the join) is one groupBy(h) carrying the
        // (doc_id, start) occurrence list, filtered to cnt>1 and exploded
        // back — ONE scan, ONE shuffle; per-h groups are bounded by the
        // duplicate fan-out the old join paid anyway. Oracle unchanged.
        // fanout (r16): one md5 per gram position is the scan-side cost
        // here, and the single-row-group scan ran it all on one task
        val g = graft.core.Tables.fanout(docs(s, dir)
            .select($"doc_id", tokens(lower($"text")).as("w"))
            .filter(size($"w") >= L))
          .select($"doc_id", explode(expr(
            s"""transform(sequence(1, size(w) - ${L - 1}),
                i -> struct(i as start, unhex(md5(array_join(slice(w, i, $L), ' '))) as h))"""))
            .as("gh"))
          .select($"doc_id", $"gh.start".as("start"), $"gh.h".as("h"))
        val wPrev = Window.partitionBy($"doc_id").orderBy($"start")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy($"doc_id").orderBy($"start")
          .rowsBetween(Window.unboundedPreceding, 0)
        g.groupBy($"h")
          .agg(count(lit(1)).as("cnt"),
            collect_list(struct($"doc_id", $"start")).as("os"))
          .filter($"cnt" > 1)
          .select(explode($"os").as("o"))
          .select($"o.doc_id".as("doc_id"), $"o.start".as("start"))
          .withColumn("brk",
            when($"start" > coalesce(max($"start" + L).over(wPrev), lit(-1)), 1L)
              .otherwise(0L))
          .withColumn("grp", sum($"brk").over(wRun))
          .groupBy($"doc_id", $"grp")
          .agg(min($"start").as("s0"), (max($"start") + L).as("s1"),
            count(lit(1)).as("n_grams"))
          .groupBy($"doc_id")
          .agg(sum($"n_grams").as("n_dup_grams"), count(lit(1)).as("n_spans"),
            sum($"s1" - $"s0").cast("long").as("dup_token_mass"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
          g AS (SELECT doc_id, i AS start, md5(array_to_string(w[i : i + 19], ' ')) AS h
                FROM t, UNNEST(range(1, len(w) - 19 + 1)) AS r(i)),
          dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
          o AS (SELECT doc_id, start FROM g WHERE h IN (SELECT h FROM dup)),
          m AS (SELECT doc_id, start,
                  CASE WHEN start > COALESCE(max(start + 20) OVER (
                         PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS brk
                FROM o),
          s AS (SELECT doc_id, start,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
                FROM m),
          sp AS (SELECT doc_id, grp, min(start) AS s0, max(start) + 20 AS s1,
                   count(*) AS n_grams
                 FROM s GROUP BY doc_id, grp)
          SELECT doc_id, CAST(sum(n_grams) AS BIGINT) AS n_dup_grams,
            count(*) AS n_spans, CAST(sum(s1 - s0) AS BIGINT) AS dup_token_mass
          FROM sp GROUP BY doc_id ORDER BY doc_id""")),

    // ---- confident-learning label-noise audit (Northcutt et al., JAIR'21
    //      — the Cleanlab pruning recipe): labels here are the q28
    //      heuristic with a deterministic 5% md5-coin FLIP injected, the
    //      model is q146's sigmoid. Per-class confidence thresholds are
    //      the mean predicted confidence among docs OBSERVED as that
    //      class; a doc is confidently assigned to the class whose
    //      confidence clears its threshold (larger margin wins when both
    //      do), and off-diagonal confident assignments are the suspected
    //      label errors. Because the flips are replayable, the audit
    //      self-validates: every confident suspect at test scale IS a
    //      flipped doc (perfect precision, partial recall — the CL
    //      profile). Thresholds are two global means over micro-longs
    //      (one partial agg + a 1-row broadcast); verdicts are row-local.
    //      Single-row, order-free. -------------------------------------------
    Q("q173_label_noise_audit",
      (s, dir) => {
        import s.implicits._
        val pMicro = round(lit(1e6) / (lit(1.0) + exp(-classifierLogit))).cast("long")
        val flip = expr(
          "cast(conv(substring(md5(concat('noise:', doc_id)), 1, 12), 16, 10) as bigint) % 20")
        val s2 = docs(s, dir).withColumn("w", tokens($"text"))
          .select($"doc_id", pMicro.as("c1"),
            when(docQuality >= 0.4, 1L).otherwise(0L).as("yt"),
            when(flip === 0, 1L).otherwise(0L).as("flip"))
          .select($"doc_id", $"c1", (lit(1000000L) - $"c1").as("c0"),
            when($"flip" === 1, lit(1L) - $"yt").otherwise($"yt").as("y"), $"flip")
        val t = s2.agg(
          avg(when($"y" === 1, $"c1".cast("double"))).as("t1"),
          avg(when($"y" === 0, $"c0".cast("double"))).as("t0"))
        s2.join(broadcast(t))
          .select($"y", $"flip",
            when($"c1" >= $"t1" && ($"c0" < $"t0" || $"c1" - $"t1" >= $"c0" - $"t0"), 1L)
              .when($"c0" >= $"t0", 0L).otherwise(-1L).as("yhat"))
          .agg(count(lit(1)).as("n"),
            sum(when($"y" === 1 && $"yhat" === 1, 1L).otherwise(0L)).as("c_11"),
            sum(when($"y" === 1 && $"yhat" === 0, 1L).otherwise(0L)).as("c_10"),
            sum(when($"y" === 0 && $"yhat" === 1, 1L).otherwise(0L)).as("c_01"),
            sum(when($"y" === 0 && $"yhat" === 0, 1L).otherwise(0L)).as("c_00"),
            sum(when($"yhat" === -1, 1L).otherwise(0L)).as("n_unassigned"),
            sum(when($"yhat" >= 0 && $"yhat" =!= $"y", 1L).otherwise(0L)).as("n_suspects"),
            sum($"flip").as("n_flipped"),
            sum(when($"yhat" >= 0 && $"yhat" =!= $"y" && $"flip" === 1, 1L).otherwise(0L))
              .as("n_suspects_flipped"))
      },
      Some(s"""WITH s AS (SELECT doc_id,
              CAST(round(1000000 / (1.0 + exp(-($logitSqlExpr)))) AS BIGINT) AS c1,
              CASE WHEN ($qualitySqlExpr) >= 0.4 THEN 1 ELSE 0 END AS yt,
              CASE WHEN ${hexPolySql(12, "'noise:' || doc_id")} % 20 = 0
                   THEN 1 ELSE 0 END AS flip
            FROM documents),
          s2 AS (SELECT doc_id, c1, 1000000 - c1 AS c0,
                   CASE WHEN flip = 1 THEN 1 - yt ELSE yt END AS y, flip FROM s),
          t AS (SELECT avg(CASE WHEN y = 1 THEN CAST(c1 AS DOUBLE) END) AS t1,
                       avg(CASE WHEN y = 0 THEN CAST(c0 AS DOUBLE) END) AS t0 FROM s2),
          j AS (SELECT doc_id, y, flip,
                  CASE WHEN c1 >= t1 AND (c0 < t0 OR c1 - t1 >= c0 - t0) THEN 1
                       WHEN c0 >= t0 THEN 0
                       ELSE -1 END AS yhat
                FROM s2 CROSS JOIN t)
          SELECT count(*) AS n,
            CAST(sum(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_11,
            CAST(sum(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_10,
            CAST(sum(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_01,
            CAST(sum(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_00,
            CAST(sum(CASE WHEN yhat = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unassigned,
            CAST(sum(CASE WHEN yhat >= 0 AND yhat <> y THEN 1 ELSE 0 END) AS BIGINT) AS n_suspects,
            CAST(sum(flip) AS BIGINT) AS n_flipped,
            CAST(sum(CASE WHEN yhat >= 0 AND yhat <> y AND flip = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_suspects_flipped
          FROM j""")),

    // ---- Unicode NFC canonicalization (custom codegen Expression):
    //      web-scraped corpora mix composed (U+00E9) and decomposed
    //      (e + U+0301) forms of identical visible text, which silently
    //      defeats every hash-based dedup upstream. Spark has no built-in
    //      normalizer, so `nfc_normalize` is a native Catalyst expression
    //      (expressions/TextExpressions.scala) — row-local, inside
    //      whole-stage codegen, zero shuffles. The corpus is ASCII, so the
    //      query first INJECTS decomposed sequences deterministically
    //      (every 'e'→'e'+COMBINING ACUTE, 'a'→'a'+COMBINING GRAVE) in
    //      both engines, then both normalize: agreement of per-doc md5 +
    //      lengths proves the JDK normalizer and DuckDB's nfc_normalize
    //      compute the same Unicode canonical composition. n_composed
    //      counts re-composed pairs (code-point length delta). -------------
    Q("q180_nfc_normalize",
      (s, dir) => {
        import s.implicits._
        graft.expressions.TextExpressions.register(s)
        docs(s, dir)
          .select($"doc_id",
            regexp_replace(regexp_replace($"text", "e", "é"), "a", "à")
              .as("dirty"))
          .select($"doc_id", length($"dirty").as("len_dirty"),
            call_function("nfc_normalize", $"dirty").as("norm"))
          .select($"doc_id", $"len_dirty", length($"norm").as("len_norm"),
            md5($"norm").as("norm_md5"),
            ($"len_dirty" - length($"norm")).as("n_composed"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, length(dirty) AS len_dirty,
            length(nfc_normalize(dirty)) AS len_norm,
            md5(nfc_normalize(dirty)) AS norm_md5,
            length(dirty) - length(nfc_normalize(dirty)) AS n_composed
          FROM (SELECT doc_id,
                  replace(replace(text, 'e', 'e' || chr(769)), 'a', 'a' || chr(768)) AS dirty
                FROM documents)
          ORDER BY doc_id""")),

    // ---- PMI collocation mining (phrase/vocab induction signal): top-V
    //      words by corpus frequency (V=20, deterministic count-then-word
    //      tie-break), then pointwise mutual information over their
    //      document-level co-occurrence. The vocab is a broadcast-sized
    //      constant at ANY corpus size (V is a knob, not a function of
    //      data), per-doc present-word sets are ≤ V elements, and pair
    //      expansion happens ROW-LOCALLY on those sorted sets (same
    //      slice/transform idiom as q179) — never a corpus self-join. Three
    //      bounded shuffles: vocab count, doc word-sets, pair counts. PMI's
    //      ln() is micro-quantized (×1e6 round) before the cross-engine
    //      compare, the repo-wide float contract. ---------------------------
    Q("q182_pmi_collocations",
      (s, dir) => {
        import s.implicits._
        val tok = docs(s, dir)
          .select($"doc_id", explode(tokens($"text")).as("w"))
        val vocab = tok.groupBy($"w").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"w").limit(20)
        val tv = tok.join(broadcast(vocab.select($"w")), "w")
        val dw = tv.select($"doc_id", $"w").distinct()
        val pairs = dw.groupBy($"doc_id").agg(sort_array(collect_set($"w")).as("ws"))
          .select(explode(expr(
            "flatten(transform(ws, (x, i) -> transform(slice(ws, i + 2, size(ws)), y -> struct(x AS wa, y AS wb))))"))
            .as("p"))
          .select($"p.wa", $"p.wb")
          .groupBy($"wa", $"wb").agg(count(lit(1)).as("c_ab"))
        val dfw = dw.groupBy($"w").agg(count(lit(1)).as("dfw"))
        val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        pairs
          .join(dfw.select($"w".as("wa"), $"dfw".as("c_a")), "wa")
          .join(dfw.select($"w".as("wb"), $"dfw".as("c_b")), "wb")
          .crossJoin(broadcast(n))
          .select($"wa", $"wb", $"c_ab", $"c_a", $"c_b",
            (round(log(($"c_ab" * $"n_docs").cast("double") / ($"c_a" * $"c_b")) * 1e6)
              .cast("long").cast("double") / 1e6).as("pmi"))
          .orderBy($"pmi".desc, $"wa", $"wb").limit(50)
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          vocab AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tok
                                   GROUP BY w ORDER BY cnt DESC, w LIMIT 20)),
          tv AS (SELECT t.doc_id, t.w FROM tok t JOIN vocab USING (w)),
          dw AS (SELECT DISTINCT doc_id, w FROM tv),
          pairs AS (SELECT a.w AS wa, b.w AS wb, count(*) AS c_ab
                    FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
                    GROUP BY a.w, b.w),
          dfw AS (SELECT w, count(*) AS dfw FROM dw GROUP BY w),
          n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT wa, wb, c_ab, ca.dfw AS c_a, cb.dfw AS c_b,
            CAST(round(ln(CAST(c_ab * n_docs AS DOUBLE) / (ca.dfw * cb.dfw)) * 1000000) AS BIGINT)
              / 1000000.0 AS pmi
          FROM pairs JOIN dfw ca ON pairs.wa = ca.w
                     JOIN dfw cb ON pairs.wb = cb.w
                     CROSS JOIN n
          ORDER BY pmi DESC, wa, wb LIMIT 50""")),

    // ---- character-entropy quality filter (Gopher-class signal): low
    //      Shannon entropy over the char distribution flags repetitive /
    //      boilerplate / binary-garbage docs that length and stopword
    //      ratios miss. ENTIRELY ROW-LOCAL: the per-doc histogram is a
    //      transform over array_distinct (O(distinct·len) per doc, ~30
    //      distinct chars on text), each −p·ln p term micro-quantizes to a
    //      1e-6 long INSIDE the row before an integer list-fold, so the
    //      plan has zero data-path shuffles at any corpus size — the same
    //      shape as q85's winnowing. top_frac (modal-char share) rides
    //      along as the cheap degenerate-doc tripwire. ---------------------
    Q("q185_char_entropy",
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          // code-POINT split: Java's empty-pattern split halves surrogate
          // pairs (UTF-16 code units) while DuckDB's string_split(text, '')
          // yields code points — the `(?<=.)` lookbehind advances one code
          // point per match, so astral chars stay whole in both engines.
          // array_remove drops the trailing empty piece limit=-1 keeps.
          .select($"doc_id",
            array_remove(split($"text", "(?<=.)"), "").as("cs"),
            length($"text").as("n_chars"))
          .select($"doc_id", $"n_chars",
            expr("size(array_distinct(cs))").as("n_distinct"),
            (expr("""aggregate(
                transform(array_distinct(cs), c ->
                  cast(round((cast(size(filter(cs, x -> x = c)) as double) / n_chars)
                    * ln(cast(size(filter(cs, x -> x = c)) as double) / n_chars)
                    * 1000000) as bigint)),
                cast(0 as bigint), (acc, x) -> acc + x)""")
              .cast("double") * -1.0 / 1e6).as("entropy"),
            expr("""cast(array_max(transform(array_distinct(cs), c ->
                size(filter(cs, x -> x = c)))) as double) / n_chars""").as("top_frac"))
          .withColumn("keep", when($"entropy" >= 2.87, 1L).otherwise(0L))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, length(text) AS n_chars,
            CAST(len(list_distinct(string_split(text, ''))) AS INT) AS n_distinct,
            CAST(-list_sum(list_transform(list_distinct(string_split(text, '')),
                c -> CAST(round((CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE)
                       / length(text))
                     * ln(CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE)
                       / length(text)) * 1000000) AS BIGINT)))
              AS DOUBLE) / 1000000.0 AS entropy,
            CAST(list_max(list_transform(list_distinct(string_split(text, '')),
                c -> len(list_filter(string_split(text, ''), x -> x = c)))) AS DOUBLE)
              / length(text) AS top_frac,
            CASE WHEN CAST(-list_sum(list_transform(list_distinct(string_split(text, '')),
                c -> CAST(round((CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE)
                       / length(text))
                     * ln(CAST(len(list_filter(string_split(text, ''), x -> x = c)) AS DOUBLE)
                       / length(text)) * 1000000) AS BIGINT)))
              AS DOUBLE) / 1000000.0 >= 2.87 THEN 1 ELSE 0 END AS keep
          FROM documents ORDER BY doc_id""")),

    // ---- content-defined chunking (CDC) dedup: gear/Rabin-style chunk
    //      boundaries from a rolling window hash over token codes, so an
    //      insertion near the head of a doc shifts only the chunks it
    //      touches — unlike q99/q122's FIXED-stride chunks, where one
    //      leading token realigns every window and the whole doc stops
    //      matching its near-copy. Boundary rule: position i ends a chunk
    //      when hash(tokens i-3..i) ≡ 0 (mod 16) — expected chunk ~16
    //      tokens — plus a forced boundary at EOF. Everything up to the
    //      chunk hash is ROW-LOCAL (token codes, window hashes, boundary
    //      scan, chunk md5s are array ops inside the row); the only
    //      data-path shuffles are the chunk-hash groupBy for the
    //      first-owner index and the co-partitioned join back — exactly
    //      q122's scale shape, so at 100 TB the chunk index buckets on the
    //      hash and the per-doc rollup never sees more than its own
    //      chunks. Token code = md5 60-bit prefix mod p mod 1000003; the
    //      window hash stays under 2^36, exact in both engines. ------------
    Q("q192_cdc_chunks",
      (s, dir) => {
        import s.implicits._
        val ch = cdcChunks(s, docs(s, dir))
        val ex = ch
          .select($"doc_id", size($"chunks").cast("long").as("n_chunks"),
            explode($"chunks").as("chunk"))
          .distinct()
        val own = ex.groupBy($"chunk").agg(min($"doc_id").as("first_doc"))
        ex.join(own, Seq("chunk"))
          .groupBy($"doc_id", $"n_chunks")
          .agg(count(lit(1)).as("n_distinct"),
            sum(when($"first_doc" < $"doc_id", 1L).otherwise(0L)).as("n_dup"))
          .select($"doc_id", $"n_chunks", $"n_distinct", $"n_dup",
            when($"n_dup" * 2 > $"n_distinct", "drop").otherwise("keep")
              .as("verdict"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
          cs AS (SELECT doc_id, w,
              list_transform(w, tk ->
                (${graft.functions.TextFunctions.hexPolySql(15, "tk")}
                 % 1000000007) % 1000003) AS c FROM t),
          bd AS (SELECT doc_id, w, c,
              CASE WHEN len(c) >= 4 THEN
                list_filter(range(4, len(c) + 1), i ->
                  ((c[i-3] * 29791 + c[i-2] * 961 + c[i-1] * 31 + c[i])
                   % 1000003) % 16 = 0)
              ELSE [] END AS bnd FROM cs),
          bs AS (SELECT doc_id, w,
              CASE WHEN len(bnd) > 0 AND bnd[-1] = len(c) THEN bnd
                   ELSE list_append(bnd, len(c)) END AS bounds FROM bd),
          ch AS (SELECT doc_id,
              list_transform(range(1, len(bounds) + 1), j ->
                md5(array_to_string(
                  w[(CASE WHEN j = 1 THEN 0 ELSE bounds[j-1] END) + 1 : bounds[j]],
                  ' '))) AS chunks FROM bs),
          ex AS (SELECT DISTINCT doc_id, CAST(len(chunks) AS BIGINT) AS n_chunks,
                 unnest(chunks) AS chunk FROM ch),
          own AS (SELECT chunk, min(doc_id) AS first_doc FROM ex GROUP BY chunk),
          agg AS (SELECT e.doc_id, e.n_chunks,
                CAST(count(*) AS BIGINT) AS n_distinct,
                CAST(sum(CASE WHEN o.first_doc < e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
              FROM ex e JOIN own o USING (chunk)
              GROUP BY e.doc_id, e.n_chunks)
          SELECT doc_id, n_chunks, n_distinct, n_dup,
            CASE WHEN n_dup * 2 > n_distinct THEN 'drop' ELSE 'keep' END AS verdict
          FROM agg ORDER BY doc_id""")),

    // ---- edit-distance-VERIFIED near-dup pairs: SimHash bands generate
    //      candidates (q25's machinery — bounded by bucket sizes, never
    //      all-pairs), then each surviving pair is verified with exact
    //      Levenshtein over the normalized text — the verify stage every
    //      production near-dup pipeline runs between cheap sketches and a
    //      delete decision, because hash agreement at Hamming ≤ 20 still
    //      admits false merges (see the q23 false-merge war story). Cost
    //      shape at 100 TB: Levenshtein is O(len²) per PAIR, so it must
    //      only ever run on the banded candidates — the join keeps text
    //      out of the self-join (ids only) and fetches both texts by
    //      co-partitioned id joins after the candidate cut. Both engines
    //      run unit-cost Levenshtein over identically-normalized strings;
    //      the ratio re-derives as exact-int lev over max length. ----------
    Q("q193_lev_neardup",
      (s, dir) => {
        import s.implicits._
        val sim = materialize(simhashDF(s, dir))
        val bandStructs = (0 until 4).map(b =>
          struct(lit(b).as("band"),
            expr(s"shiftright(simhash, ${15 * b}) & 32767").as("bval")))
        val bands = sim.select($"doc_id",
            explode(array(bandStructs: _*)).as("bb"))
          .select($"doc_id", $"bb.band".as("band"), $"bb.bval".as("bval"))
        val cand = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bval" === $"b.bval" &&
              $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .distinct()
        val nt = docs(s, dir).select($"doc_id", normalize($"text").as("nt"))
        cand
          .join(nt.select($"doc_id".as("doc_a"), $"nt".as("ta")), Seq("doc_a"))
          .join(nt.select($"doc_id".as("doc_b"), $"nt".as("tb")), Seq("doc_b"))
          .select($"doc_a", $"doc_b",
            levenshtein($"ta", $"tb").cast("long").as("lev"),
            greatest(length($"ta"), length($"tb")).cast("long").as("max_len"))
          .withColumn("sim",
            lit(1.0) - $"lev".cast("double") / $"max_len".cast("double"))
          .withColumn("verdict",
            when($"sim" >= 0.6, "dup").otherwise("distinct"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""WITH $simhashCte,
          bands AS (SELECT doc_id, b AS band,
                 (simhash >> CAST(15 * b AS INT)) & 32767 AS bval
               FROM sim, UNNEST(range(0, 4)) AS r(b)),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN bands b
               ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id),
          nt AS (SELECT doc_id,
              trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nt
            FROM documents),
          sc AS (SELECT doc_a, doc_b,
              CAST(levenshtein(x.nt, y.nt) AS BIGINT) AS lev,
              CAST(greatest(length(x.nt), length(y.nt)) AS BIGINT) AS max_len
            FROM cand JOIN nt x ON x.doc_id = doc_a
            JOIN nt y ON y.doc_id = doc_b)
          SELECT doc_a, doc_b, lev, max_len,
            1.0 - CAST(lev AS DOUBLE) / CAST(max_len AS DOUBLE) AS sim,
            CASE WHEN 1.0 - CAST(lev AS DOUBLE) / CAST(max_len AS DOUBLE) >= 0.6
                 THEN 'dup' ELSE 'distinct' END AS verdict
          FROM sc ORDER BY doc_a, doc_b""")),

    // ---- record linkage with the native damerau_levenshtein Expression
    //      (expressions/TextExpressions.scala): a master catalog is linked
    //      against a corrupted feed whose names carry one adjacent-char
    //      transposition (the dominant human typo class) — injected
    //      deterministically in BOTH engines so the fixture needs no extra
    //      data. Blocking on p_brand bounds the pair fan-out (the
    //      record-linkage analogue of LSH banding: ~n²/|blocks| pairs, not
    //      n²); the verify kernel is row-local inside whole-stage codegen.
    //      `gain = lev - dl` isolates exactly the transposition-awareness
    //      the built-in levenshtein lacks (28k of 162k pairs differ at
    //      sf0.01, so agreement is a real cross-engine proof of the DP,
    //      not a trivial echo). DuckDB's damerau_levenshtein is the SAME
    //      unrestricted byte-level variant — integer-exact oracle. ----------
    Q("q199_dl_linkage",
      (s, dir) => {
        import s.implicits._
        graft.expressions.TextExpressions.register(s)
        // r17: the part scan is one split, so the broadcast block-join
        // streamed it — and ran the whole DP kernel — as ONE task (probe:
        // two 1.6 s single-task stages were the entire exec+warm). Fan the
        // shared feed past the scan (identity on well-split input); the
        // kernel now runs across all cores.
        val p = graft.core.Tables.fanout(graft.core.Tables(s, dir, "part")
          .select($"p_partkey", $"p_brand", $"p_name"))
        val dirty = p.select($"p_partkey".as("key_d"), $"p_brand",
          concat(substring($"p_name", 1, 1), substring($"p_name", 3, 1),
            substring($"p_name", 2, 1), substring($"p_name", 4, 100000))
            .as("dirty"))
        // two-level block key: the corruption (2<->3 transpose) preserves
        // the FIRST character, so (brand, first-char) keeps every true
        // pair in-block while cutting the O(block^2) kernel fan-out ~20x
        // (measured 9.8 s -> sub-second warm at sf0.1). This key is THE
        // fan-out knob at 100 TB: add prefix chars as blocks grow.
        val m2 = p.withColumn("bk", substring($"p_name", 1, 1))
        val d2 = dirty.withColumn("bk", substring($"dirty", 1, 1))
        m2.as("m").join(d2.as("d"), Seq("p_brand", "bk"))
          // r16 kernel-skip prefilter: every edit op moves string length
          // by at most 1, so dl ≤ 2 ⇒ |len(a) − len(b)| ≤ 2 — the O(1)
          // length test provably keeps every emitted row while most
          // cross-length block pairs skip the O(n·m) DP entirely (the
          // kernel was the whole post-join cost). Oracle unchanged: its
          // WHERE dl <= 2 subsumes the same bound.
          .filter(abs(length($"p_name") - length($"dirty")) <= 2)
          .select($"p_partkey".as("key_m"), $"key_d",
            call_function("damerau_levenshtein", $"p_name", $"dirty")
              .cast("long").as("dl"),
            levenshtein($"p_name", $"dirty").cast("long").as("lev"))
          .filter($"dl" <= 2)
          .select($"key_m", $"key_d", $"dl", $"lev",
            ($"lev" - $"dl").as("gain"),
            when($"key_m" === $"key_d", 1L).otherwise(0L).as("is_true"))
          .orderBy($"key_m", $"key_d")
      },
      Some("""WITH d AS (SELECT p_partkey AS key_d, p_brand,
            substr(p_name, 1, 1) || substr(p_name, 3, 1) || substr(p_name, 2, 1)
              || substr(p_name, 4) AS dirty
          FROM part),
        j AS (SELECT m.p_partkey AS key_m, d.key_d,
            CAST(damerau_levenshtein(m.p_name, d.dirty) AS BIGINT) AS dl,
            CAST(levenshtein(m.p_name, d.dirty) AS BIGINT) AS lev
          FROM part m JOIN d ON m.p_brand = d.p_brand
            AND substr(m.p_name, 1, 1) = substr(d.dirty, 1, 1))
        SELECT key_m, key_d, dl, lev, lev - dl AS gain,
          CAST(CASE WHEN key_m = key_d THEN 1 ELSE 0 END AS BIGINT) AS is_true
        FROM j WHERE dl <= 2 ORDER BY key_m, key_d""")),

    // ---- record linkage by ARGMAX Jaro-Winkler (expressions/
    //      TextExpressions.scala JaroWinkler): q199's edit-distance kernel
    //      prices whole-string surgery; names corrupted by a DELETION plus
    //      the shared prefix are where Jaro-Winkler separates better, so
    //      this is the complementary linkage decision: for every dirty
    //      record (2nd char deleted — injected deterministically in BOTH
    //      engines), pick the best master inside its p_brand block. The
    //      jw doubles are BIT-IDENTICAL to DuckDB's
    //      jaro_winkler_similarity (float semantics reverse-engineered
    //      and pinned in JaroWinklerSpec), so the DESC rank and the
    //      emitted score replay exactly. Blocking bounds the fan-out to
    //      ~n²/(|brands|·|first chars|) pairs; the top-1 cut is a window
    //      PARTITIONED by key_d (block-sized groups, never global); the
    //      kernel runs row-local inside whole-stage codegen. Block size
    //      still grows with n — at 100 TB extend the block key with more
    //      prefix chars (each char ~20x less fan-out) or fall back to
    //      q219's sorted-neighborhood; hot blocks to q46's salted top-k. --
    Q("q211_jw_linkage",
      (s, dir) => {
        import s.implicits._
        graft.expressions.TextExpressions.register(s)
        // r17: same single-split part feed as q199 — fan it out so the
        // block-join's streamed side (and the JW kernel) uses all cores.
        val p = graft.core.Tables.fanout(graft.core.Tables(s, dir, "part")
          .select($"p_partkey", $"p_brand", $"p_name"))
        val dirty = p.select($"p_partkey".as("key_d"), $"p_brand",
          concat(substring($"p_name", 1, 1), substring($"p_name", 3, 100000))
            .as("dirty"))
        // two-level block key (see q199): the deletion preserves the first
        // character, so (brand, first-char) blocking keeps every true pair
        // while cutting kernel fan-out ~20x (23.6 s -> ~1 s warm at sf0.1)
        val m2 = p.withColumn("bk", substring($"p_name", 1, 1))
        val d2 = dirty.withColumn("bk", substring($"dirty", 1, 1))
        val scored = m2.as("m").join(d2.as("d"), Seq("p_brand", "bk"))
          .select($"p_partkey".as("key_m"), $"key_d",
            call_function("jaro_winkler", $"p_name", $"dirty").as("jw"))
        // r16: the top-1 cut runs on the heap-based TopKPerKey operator
        // instead of a row_number window — same single key shuffle, but
        // O(keys·1) heap state instead of buffering + sorting every
        // key_d's whole candidate block (the memory bound that survives a
        // hot block at 100 TB; q36/q42's operator). Same order key
        // (jw desc, key_m), so the selected row is identical.
        graft.plans.TopK.perKey(scored, Seq("key_d"),
            Seq(graft.plans.TopK.Order("jw", ascending = false),
              graft.plans.TopK.Order("key_m")), 1)
          .select($"key_d", $"key_m", $"jw",
            when($"key_m" === $"key_d", 1L).otherwise(0L).as("is_true"))
          .orderBy($"key_d")
      },
      Some("""WITH d AS (SELECT p_partkey AS key_d, p_brand,
            substr(p_name, 1, 1) || substr(p_name, 3) AS dirty
          FROM part),
        j AS (SELECT m.p_partkey AS key_m, d.key_d,
            jaro_winkler_similarity(m.p_name, d.dirty) AS jw
          FROM part m JOIN d ON m.p_brand = d.p_brand
            AND substr(m.p_name, 1, 1) = substr(d.dirty, 1, 1)),
        best AS (SELECT *, row_number() OVER (PARTITION BY key_d
                   ORDER BY jw DESC, key_m) AS rn FROM j)
        SELECT key_d, key_m, jw,
          CAST(CASE WHEN key_m = key_d THEN 1 ELSE 0 END AS BIGINT) AS is_true
        FROM best WHERE rn = 1 ORDER BY key_d""")),

    // ---- stratified split with EXACT integer allocation: q81/q176 split
    //      by a per-doc coin flip, so per-language proportions only hold
    //      in expectation — fine for train/test hygiene, wrong when the
    //      data mix is a CONTRACT (eval suites, per-lang budget caps).
    //      Here every language stratum is cut at exactly (n·8) div 10 and
    //      (n·9) div 10 docs by deterministic rank. The rank is NEVER a
    //      per-lang global sort (one task per language is the 100 TB
    //      bottleneck — a dominant lang is most of the corpus): q177's
    //      coarse-bucket trick — docs land in 1024 hash buckets, per-
    //      (lang,bucket) counts give each bucket's start rank via a
    //      window over the TINY aggregated table, row_number sorts only
    //      within ~n/1024-sized buckets, rank = start + offset. The rank
    //      order is the detRand draw (u, doc_id ties), a pure function of
    //      doc_id — identical at any partitioning and replayed by the
    //      oracle's plain per-stratum row_number. Integer-div cuts, no
    //      float thresholds. ------------------------------------------------
    Q("q216_stratified_split",
      (s, dir) => {
        import s.implicits._
        val u = graft.operators.Sampling.detRand(17L, $"doc_id".cast("string"))
        val d = docs(s, dir).select($"doc_id", $"lang", u.as("u"))
          .withColumn("bk", floor($"u" * 1024).cast("long"))
        val starts = d.groupBy($"lang", $"bk").agg(count(lit(1)).as("cnt"))
          .withColumn("start", coalesce(sum($"cnt").over(
            Window.partitionBy($"lang").orderBy($"bk")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"lang", $"bk", $"start")
        val nl = d.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
        d.withColumn("rn", row_number().over(
            Window.partitionBy($"lang", $"bk").orderBy($"u", $"doc_id")))
          .join(starts, Seq("lang", "bk"))
          .join(broadcast(nl), Seq("lang"))
          .select($"doc_id", $"lang",
            ($"start" + $"rn" - 1).as("rank_in_stratum"), $"n_lang",
            when($"start" + $"rn" - 1 < expr("(n_lang * 8) div 10"), "train")
              .when($"start" + $"rn" - 1 < expr("(n_lang * 9) div 10"), "val")
              .otherwise("test").as("split"))
          .select($"doc_id", $"lang", $"rank_in_stratum",
            $"n_lang".cast("long").as("n_lang"), $"split")
          .orderBy($"doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
              ${graft.operators.Sampling.detRandSql(17L, Seq("CAST(doc_id AS VARCHAR)"))} AS u
            FROM documents),
          ranked AS (SELECT doc_id, lang,
              row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) - 1
                AS rank_in_stratum,
              count(*) OVER (PARTITION BY lang) AS n_lang
            FROM d)
          SELECT doc_id, lang, CAST(rank_in_stratum AS BIGINT) AS rank_in_stratum,
            CAST(n_lang AS BIGINT) AS n_lang,
            CASE WHEN rank_in_stratum < (n_lang * 8) // 10 THEN 'train'
                 WHEN rank_in_stratum < (n_lang * 9) // 10 THEN 'val'
                 ELSE 'test' END AS split
          FROM ranked ORDER BY doc_id""")),

    // ---- dedup SIGNAL-AGREEMENT audit — the q179 "measure, don't guess"
    //      dial pointed at a different knob: before swapping the cheap
    //      near-dup detector (SimHash bands: one 60-bit word per doc,
    //      4 probes) for the expensive one (16-perm MinHash LSH over
    //      3-shingles), quantify how much of the expensive signal the
    //      cheap one captures. Emits pairwise precision/recall/F1 of the
    //      SimHash candidate-pair set against the LSH-verified pair set
    //      (agree ≥ 8 of 16 perms ≈ J ≥ 0.5) as ONE summary row. Both
    //      pair generators are the banded/bucketed shared subplans (never
    //      all-pairs); the intersection is an equi-join of two bounded
    //      pair sets; the three counts reduce to one row before any
    //      division, so the metric math is driver-free and exact — P/R
    //      are single divisions of identical longs, F1 guards p+r=0
    //      identically in both engines. --------------------------------------
    Q("q217_dedup_signal_agreement",
      (s, dir) => {
        import s.implicits._
        val sim = materialize(simhashDF(s, dir))
        val bandStructs = (0 until 4).map(b =>
          struct(lit(b).as("band"),
            expr(s"shiftright(simhash, ${15 * b}) & 32767").as("bval")))
        val bands = sim.select($"doc_id", explode(array(bandStructs: _*)).as("bb"))
          .select($"doc_id", $"bb.band".as("band"), $"bb.bval".as("bval"))
        // r17: each pair set feeds TWO consumers (its own count and the
        // intersection join) — without the cache the band self-join +
        // DISTINCT and the whole LSH scoring pipeline ran twice per query
        // (probe: the three heaviest stages were the kernels' second pass)
        val simPairs = materialize(bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bval" === $"b.bval" &&
              $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct())
        val mhPairs = materialize(lshScored(materialize(minhashes(s, dir)))
          .filter(col("agree") >= nPerms / 2)
          .select(col("doc_a"), col("doc_b")))
        val nA = simPairs.agg(count(lit(1)).as("n_simhash"))
        val nB = mhPairs.agg(count(lit(1)).as("n_lsh"))
        val nBoth = simPairs.join(mhPairs, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_both"))
        val p = $"n_both".cast("double") / $"n_simhash".cast("double")
        val r = $"n_both".cast("double") / $"n_lsh".cast("double")
        nA.crossJoin(nB).crossJoin(nBoth)
          .select($"n_simhash".cast("long").as("n_simhash"),
            $"n_lsh".cast("long").as("n_lsh"),
            $"n_both".cast("long").as("n_both"),
            p.as("precision"), r.as("recall"),
            when(p + r > 0.0, lit(2.0) * p * r / (p + r))
              .otherwise(lit(0.0)).as("f1"))
      },
      Some(s"""WITH $lshScoredCte,
          $simhashCte,
          sbands AS (SELECT doc_id, b AS band,
                 (simhash >> CAST(15 * b AS INT)) & 32767 AS bval
               FROM sim, UNNEST(range(0, 4)) AS r(b)),
          spairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM sbands a JOIN sbands b
               ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id),
          mpairs AS (SELECT doc_a, doc_b FROM scored WHERE agree >= ${nPerms / 2}),
          counts AS (SELECT
              (SELECT count(*) FROM spairs) AS n_simhash,
              (SELECT count(*) FROM mpairs) AS n_lsh,
              (SELECT count(*) FROM spairs JOIN mpairs USING (doc_a, doc_b)) AS n_both)
          SELECT CAST(n_simhash AS BIGINT) AS n_simhash,
            CAST(n_lsh AS BIGINT) AS n_lsh,
            CAST(n_both AS BIGINT) AS n_both,
            CAST(n_both AS DOUBLE) / CAST(n_simhash AS DOUBLE) AS precision,
            CAST(n_both AS DOUBLE) / CAST(n_lsh AS DOUBLE) AS recall,
            CASE WHEN CAST(n_both AS DOUBLE) / CAST(n_simhash AS DOUBLE)
                    + CAST(n_both AS DOUBLE) / CAST(n_lsh AS DOUBLE) > 0.0
                 THEN 2.0 * (CAST(n_both AS DOUBLE) / CAST(n_simhash AS DOUBLE))
                      * (CAST(n_both AS DOUBLE) / CAST(n_lsh AS DOUBLE))
                      / (CAST(n_both AS DOUBLE) / CAST(n_simhash AS DOUBLE)
                         + CAST(n_both AS DOUBLE) / CAST(n_lsh AS DOUBLE))
                 ELSE 0.0 END AS f1
          FROM counts""")),

    // ---- SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo's merge/
    //      purge) — the third ER candidate generator beside key blocking
    //      (q199/q211) and LSH (q23): master + corrupted feed are merged
    //      into ONE stream, totally ordered by name, and only records
    //      within a w=3 window of the sort order become candidate pairs —
    //      O(n·w) candidates regardless of block-key skew, and typos that
    //      CHANGE the blocking key (where key blocking loses the match
    //      outright) still land adjacent when the sort key shares the
    //      prefix. The global rank is never a global sort: 2-char prefix
    //      buckets (alphabet-bounded) + per-bucket counts give start
    //      ranks, row_number works inside buckets, and the neighbor join
    //      is THREE shuffle equi-joins (rank+offset = rank via an offset
    //      explode — no range join, no cartesian), so boundary-spanning
    //      pairs cost nothing special. Survivors are verified by the
    //      bit-exact jaro_winkler kernel; is_true marks the planted
    //      master↔dirty identity. ----------------------------------------
    Q("q219_sorted_neighborhood",
      (s, dir) => {
        import s.implicits._
        graft.expressions.TextExpressions.register(s)
        val p = graft.core.Tables(s, dir, "part").select($"p_partkey", $"p_name")
        val recs = p.select($"p_partkey".as("rkey"), lit("m").as("src"),
            $"p_name".as("name"))
          .unionByName(p.select($"p_partkey".as("rkey"), lit("d").as("src"),
            concat(substring($"p_name", 1, 5), substring($"p_name", 7, 100000))
              .as("name")))
          .withColumn("bk", substring($"name", 1, 2))
        val starts = recs.groupBy($"bk").agg(count(lit(1)).as("cnt"))
          .withColumn("start", coalesce(sum($"cnt").over(
            Window.orderBy($"bk").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select($"bk", $"start")
        val ranked = recs.withColumn("rn", row_number().over(
            Window.partitionBy($"bk").orderBy($"name", $"src", $"rkey")))
          .join(broadcast(starts), Seq("bk"))
          .select(($"start" + $"rn").as("grank"), $"rkey", $"src", $"name")
        val shifted = ranked
          .withColumn("o", explode(array(lit(1), lit(2), lit(3))))
          .select(($"grank" + $"o").as("grank"), $"rkey".as("rkey_a"),
            $"src".as("src_a"), $"name".as("name_a"))
        shifted.join(ranked.select($"grank", $"rkey".as("rkey_b"),
            $"src".as("src_b"), $"name".as("name_b")), Seq("grank"))
          .filter($"src_a" =!= $"src_b")
          .withColumn("jw", call_function("jaro_winkler", $"name_a", $"name_b"))
          .filter($"jw" >= 0.92)
          .select($"rkey_a", $"src_a", $"rkey_b", $"src_b", $"jw",
            when($"rkey_a" === $"rkey_b", 1L).otherwise(0L).as("is_true"))
          .orderBy($"rkey_a", $"src_a", $"rkey_b", $"src_b")
      },
      Some("""WITH recs AS (SELECT p_partkey AS rkey, 'm' AS src, p_name AS name
              FROM part
            UNION ALL
            SELECT p_partkey, 'd', substr(p_name, 1, 5) || substr(p_name, 7)
              FROM part),
          ranked AS (SELECT rkey, src, name,
              row_number() OVER (ORDER BY name, src, rkey) AS grank FROM recs),
          pairs AS (SELECT a.rkey AS rkey_a, a.src AS src_a,
              b.rkey AS rkey_b, b.src AS src_b,
              jaro_winkler_similarity(a.name, b.name) AS jw
            FROM ranked a, UNNEST(range(1, 4)) AS t(o)
            JOIN ranked b ON b.grank = a.grank + o
            WHERE a.src <> b.src)
          SELECT rkey_a, src_a, rkey_b, src_b, jw,
            CAST(CASE WHEN rkey_a = rkey_b THEN 1 ELSE 0 END AS BIGINT) AS is_true
          FROM pairs WHERE jw >= 0.92
          ORDER BY rkey_a, src_a, rkey_b, src_b""")),

    // ---- PHRASE SEARCH over a positional inverted index — the search-
    //      engine primitive the shingle/bigram stack deliberately avoids
    //      (q116 extracts bigrams row-locally; here adjacency is resolved
    //      by POSITION JOINS, which is what generalizes to arbitrary-
    //      length phrases and proximity operators). The index is
    //      (doc_id, pos, token) via posexplode; each phrase probe FILTERS
    //      the index to its own words first (the postings slice — at
    //      100 TB this is the token-sharded read, never the full index)
    //      and chains word k to the anchor via an equi-join on
    //      (doc_id, pos + k). Emits per-phrase doc and occurrence counts;
    //      a zero-hit phrase still yields its row (global agg over an
    //      empty frame), so coverage is visible. Integer-exact. ------------
    Q("q224_phrase_search",
      (s, dir) => {
        import s.implicits._
        val idx = docs(s, dir)
          .select($"doc_id", posexplode(tokens(lower($"text"))))
          .toDF("doc_id", "pos", "token")
        phrases.map { words =>
          val base = idx.filter($"token" === words.head)
            .select($"doc_id", $"pos")
          val matched = words.zipWithIndex.drop(1).foldLeft(base) {
            case (acc, (wd, i)) =>
              val nxt = idx.filter($"token" === wd)
                .select($"doc_id".as("d2"), $"pos".as("p2"))
              acc.as("a").join(nxt,
                  $"a.doc_id" === $"d2" && $"p2" === $"a.pos" + i)
                .select($"a.doc_id".as("doc_id"), $"a.pos".as("pos"))
          }
          matched.agg(countDistinct($"doc_id").as("n_docs"),
              count(lit(1)).as("n_occ"))
            .select(lit(words.mkString(" ")).as("phrase"),
              $"n_docs".cast("long").as("n_docs"),
              $"n_occ".cast("long").as("n_occ"))
        }.reduce(_ unionByName _).orderBy($"phrase")
      },
      Some(phrases.map { words =>
        val k = words.size
        val conds = words.zipWithIndex
          .map { case (wd, j) => s"w[i + $j] = '$wd'" }.mkString(" AND ")
        val bound = if (k == 2) "len(w)" else s"len(w) - ${k - 2}"
        s"""SELECT '${words.mkString(" ")}' AS phrase,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            CAST(count(*) AS BIGINT) AS n_occ
          FROM (SELECT doc_id, i
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                      FROM documents),
                     UNNEST(range(1, $bound)) AS t(i)
                WHERE $conds)"""
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY phrase"))),

    // ---- SEQUENCE PACKING for training batches — the step between
    //      curation (q78) and the trainer: pack documents into fixed
    //      token-capacity sequences so padding (wasted FLOPs) is the
    //      measured deliverable. Shard-parallel next-fit-decreasing:
    //      docs shard deterministically (doc_id % 16 here; a production
    //      run hashes), each shard packs INDEPENDENTLY in one streaming
    //      pass — repartition(shard) + sortWithinPartitions(shard,
    //      tok DESC, id) + mapPartitions with per-shard state reset, so
    //      no global window, no per-group buffering, and the emitted
    //      frame is one row per shard. Capacity-clipped token counts
    //      (least(tok, C)) keep oversized docs well-defined (truncate =
    //      one full sequence). The ORACLE replays every shard's greedy
    //      fold exactly: rank per shard by (tok DESC, id), then a
    //      recursive CTE threads (fill, bins) through the ranked docs —
    //      bin count, total fill, waste and the ⌈Σtok/C⌉ lower bound all
    //      hash-gated. At 100 TB shards = O(parallelism) and the pack is
    //      embarrassingly parallel; next-fit's bins ≤ 2·OPT bound holds
    //      per shard and waste/lower_bound quantifies the real gap. --------
    Q("q292_sequence_packing",
      (s, dir) => {
        import s.implicits._
        val cap = 128L
        val nShards = 16
        packShards(s, docs(s, dir)
            .select($"doc_id",
              ($"doc_id" % nShards).cast("long").as("shard"),
              least(size(tokens($"text")).cast("long"), lit(cap)).as("tok")),
            cap)
          .withColumn("lower_bound",
            ceil($"sum_tokens".cast("double") / cap).cast("long"))
          .select($"shard", $"n_docs", $"n_bins", $"lower_bound",
            $"sum_tokens", $"waste")
          .orderBy($"shard")
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id, doc_id % 16 AS shard,
              least(len(string_split(text, ' ')), 128) AS tok FROM documents),
          r AS (SELECT shard, tok, doc_id,
              row_number() OVER (PARTITION BY shard
                ORDER BY tok DESC, doc_id) AS rn
            FROM d),
          m AS (SELECT shard, count(*) AS n_docs, sum(tok) AS sum_tok
            FROM r GROUP BY shard),
          st AS (
            SELECT shard, 0 AS rn, CAST(0 AS BIGINT) AS fill,
              CAST(0 AS BIGINT) AS bins FROM m
            UNION ALL
            SELECT st.shard, st.rn + 1,
              CASE WHEN st.bins = 0 OR st.fill + r.tok > 128
                   THEN r.tok ELSE st.fill + r.tok END,
              CASE WHEN st.bins = 0 OR st.fill + r.tok > 128
                   THEN st.bins + 1 ELSE st.bins END
            FROM st JOIN r ON r.shard = st.shard AND r.rn = st.rn + 1),
          f AS (SELECT st.shard, st.bins FROM st
            JOIN m ON m.shard = st.shard AND st.rn = m.n_docs)
          SELECT m.shard, CAST(m.n_docs AS BIGINT) AS n_docs,
            CAST(f.bins AS BIGINT) AS n_bins,
            CAST(ceil(CAST(m.sum_tok AS DOUBLE) / 128) AS BIGINT) AS lower_bound,
            CAST(m.sum_tok AS BIGINT) AS sum_tokens,
            CAST(f.bins * 128 - m.sum_tok AS BIGINT) AS waste
          FROM m JOIN f ON f.shard = m.shard ORDER BY m.shard""")),

    // ---- THE TRAINING MANIFEST (q300 — the capstone composition): the
    //      full curation funnel's SURVIVORS (q161's six stages — exact
    //      dedup, language gate, quality gate, decontamination, near-dup
    //      collapse, each keeping its standalone plan shape) flow into
    //      q292's shard-parallel next-fit packing, and the output is the
    //      artifact a trainer actually consumes: one row per shard with
    //      document count, sequence count, exact token fill, padding
    //      waste AND an md5 over the ordered surviving doc-id list — the
    //      manifest pin that makes a training run reproducible ("which
    //      exact documents, in which shards, packed how tightly"). The
    //      ORACLE replays the ENTIRE pipeline — all five funnel stages,
    //      the per-shard rank, the greedy fold as a recursive CTE and
    //      the id-list digest — so any drift anywhere in the chain moves
    //      the hash. Plan shape: the funnel's joins/windows are the
    //      proven q161 subplans; packing adds ONE exchange; the id
    //      digest is a per-shard aggregation, never a global sort. ---------
    Q("q300_training_manifest",
      (s, dir) => {
        import s.implicits._
        val cap = 128L
        // stages 1-3 are q161's; the manifest's decontamination uses
        // 5-GRAM shingles (the funnel's 3-grams are right for its
        // drop-rate AUDIT, but on this vocabulary they contaminate ~100%
        // of docs — measured — while 5-grams mark ~1%, the realistic
        // n-gram-overlap regime), then the near-dup collapse
        val s3 = funnelStages(s, dir)(3)._3
        // persisted: both the contaminated-doc side and the benchmark side
        // read this table (sourceShingles' lazy-persist pattern — without
        // it Spark re-derives the corpus-sized shingle set per branch)
        // shingles shuffle as the shared md5 HASH, not 5-word strings —
        // the 100x rung's shuffle-byte knob (a collision is deterministic
        // and the oracle replays the same hash, so the gate is unmoved)
        // r17 restructure (guide §2.4/§3.2): the old form materialized a
        // corpus-wide DISTINCT of (doc_id, source, sh) triples — the
        // query's largest shuffle — only to probe it against its own tiny
        // bench slice. The bench-side hash set is derived from the bench
        // docs alone (source filter pushed to the scan), and the corpus
        // side streams through the broadcast semi-join with NO pre-
        // distinct (duplicate hits collapse in the final doc_id distinct,
        // which is contamination-sized, not corpus-sized). The 5-gram
        // md5 kernel is fanned out past the single-row-group scan.
        def sh5(d: DataFrame) = d
          .select($"doc_id",
            explode(graft.functions.TextFunctions.wordShingles(
              tokens($"text"), 5)).as("shingle"))
          .select($"doc_id",
            graft.functions.TextFunctions.baseHash($"shingle").as("sh"))
        val benchSh5 = sh5(docs(s, dir)
            .filter($"source".isin(benchSources: _*)))
          .select($"sh").distinct()
        val contaminated5 = sh5(graft.core.Tables.fanout(docs(s, dir)
            .filter(!$"source".isin(benchSources: _*))
            .select($"doc_id", $"text")))
          .join(broadcast(benchSh5), Seq("sh"))
          .select($"doc_id").distinct()
        val benchDocs = docs(s, dir)
          .filter($"source".isin(benchSources: _*)).select($"doc_id")
        val s4 = s3.join(contaminated5.unionAll(benchDocs),
          Seq("doc_id"), "left_anti")
        // fanout (r17): normalize is two full-text regex passes per doc —
        // the per-row cost dwarfs the exchange of a (doc_id, text) row
        val fp = graft.core.Tables.fanout(
            docs(s, dir).select($"doc_id", $"text"))
          .select($"doc_id", md5(normalize($"text")).as("fingerprint"))
        val surv = s4.join(fp, Seq("doc_id"))
          .groupBy($"fingerprint").agg(min($"doc_id").as("doc_id"))
          .select($"doc_id")
        // r17 (VERDICT item 5): sized feeds BOTH the ids rollup and
        // packShards — without the cache the whole survivor chain
        // (funnel prefix + 5-gram decontamination + fingerprint collapse)
        // executed twice per run. Three narrow columns per surviving doc;
        // dropped by SessionHygiene between queries.
        val sized = materialize(docs(s, dir).join(surv, Seq("doc_id"))
          .select($"doc_id",
            ($"doc_id" % 16).cast("long").as("shard"),
            least(size(tokens($"text")).cast("long"), lit(cap)).as("tok")))
        val ids = sized.groupBy($"shard")
          .agg(sort_array(collect_list($"doc_id")).as("ids"))
          .select($"shard", md5(concat_ws(",",
            expr("transform(ids, x -> CAST(x AS STRING))"))).as("ids_md5"))
        packShards(s, sized, cap)
          .join(ids, Seq("shard"))
          .select($"shard", $"n_docs", $"n_bins", $"sum_tokens", $"waste",
            $"ids_md5")
          .orderBy($"shard")
      },
      Some(s"""WITH RECURSIVE $funnelCtes,
          w5 AS (SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents),
          sh5 AS (SELECT DISTINCT doc_id, source,
              ${graft.functions.TextFunctions.baseHashSql(
                "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]")} AS sh
            FROM w5, UNNEST(range(1, len(w) - 3)) AS t(i)),
          bench5 AS (SELECT DISTINCT sh FROM sh5
            WHERE source IN ('src0', 'src1')),
          cont5 AS (SELECT DISTINCT doc_id FROM sh5 JOIN bench5 USING (sh)
            WHERE source NOT IN ('src0', 'src1')),
          s4m AS (SELECT doc_id FROM s3 WHERE doc_id NOT IN
            (SELECT doc_id FROM cont5
             UNION ALL SELECT doc_id FROM documents
             WHERE source IN ('src0', 'src1'))),
          s5m AS (SELECT min(s4m.doc_id) AS doc_id FROM s4m
            JOIN fp ON fp.doc_id = s4m.doc_id GROUP BY fingerprint),
          tk AS (SELECT d.doc_id, d.doc_id % 16 AS shard,
              least(len(string_split(d.text, ' ')), 128) AS tok
            FROM documents d JOIN s5m USING (doc_id)),
          r2 AS (SELECT shard, tok, doc_id, row_number() OVER
                (PARTITION BY shard ORDER BY tok DESC, doc_id) AS rn
            FROM tk),
          m2 AS (SELECT shard, count(*) AS n_docs, sum(tok) AS sum_tok,
              md5(string_agg(CAST(doc_id AS VARCHAR), ','
                ORDER BY doc_id)) AS ids_md5
            FROM r2 GROUP BY shard),
          st2 AS (
            SELECT shard, 0 AS rn, CAST(0 AS BIGINT) AS fill,
              CAST(0 AS BIGINT) AS bins FROM m2
            UNION ALL
            SELECT st2.shard, st2.rn + 1,
              CASE WHEN st2.bins = 0 OR st2.fill + r2.tok > 128
                   THEN r2.tok ELSE st2.fill + r2.tok END,
              CASE WHEN st2.bins = 0 OR st2.fill + r2.tok > 128
                   THEN st2.bins + 1 ELSE st2.bins END
            FROM st2 JOIN r2 ON r2.shard = st2.shard AND r2.rn = st2.rn + 1),
          f2 AS (SELECT st2.shard, st2.bins FROM st2
            JOIN m2 ON m2.shard = st2.shard AND st2.rn = m2.n_docs)
          SELECT m2.shard, CAST(m2.n_docs AS BIGINT) AS n_docs,
            CAST(f2.bins AS BIGINT) AS n_bins,
            CAST(m2.sum_tok AS BIGINT) AS sum_tokens,
            CAST(f2.bins * 128 - m2.sum_tok AS BIGINT) AS waste,
            m2.ids_md5 AS ids_md5
          FROM m2 JOIN f2 ON f2.shard = m2.shard ORDER BY m2.shard""")),

    // ---- BPE MERGE TRAINING (r14 — the tokenizer-TRAINING half of the
    //      q127/q152 tokenizer family: q152 counts pairs once, q127
    //      APPLIES a fixed vocab; this LEARNS the merge table). Classic
    //      BPE: word-frequency table → per-round argmax adjacent symbol
    //      pair → merge, 6 rounds. SCALE SHAPE: the corpus is folded to
    //      the word-frequency VOCAB once; every round is a vocab-sized
    //      pair count + a broadcast of the single winning pair — the
    //      round count is the driver-bounded knob (q93/q261's Lloyd
    //      pattern), never corpus passes. Each round's vocab is
    //      materialized: the merge step reads the previous round twice
    //      (pairs + rewrite), so a lazy chain would double subplans per
    //      round (the q192/q304 plan-explosion class). MERGE REWRITE
    //      correctness: symbols are stored as ' s0_ s1_ ... ' — every
    //      symbol ends in '_' (words are filtered to [a-z0-9]{2,12}, so
    //      '_' cannot occur in content) and the string is space-padded;
    //      the target ' L R' (leading space, full symbols) can match
    //      ONLY at symbol boundaries, and left-to-right non-overlapping
    //      replace() — identical semantics in Spark and DuckDB — is
    //      exactly BPE's greedy merge order ('a a a a' → 'aa aa', one
    //      scan). Ties break (count DESC, left, right) — deterministic.
    //      The oracle replays all 6 unrolled rounds. ----------------------
    Q("q305_bpe_train",
      (s, dir) => {
        import s.implicits._
        val rounds = bpeRounds(s, bpeVocab(s, dir))
        rounds.map { case (k, best, merged) =>
          val tok = merged.select(
            sum($"freq" * size(split(trim($"sym"), " "))).as("corpus_tokens_after"))
          best.crossJoin(broadcast(tok))
            .select(lit(k.toLong).as("round"), $"l".as("left"),
              $"r".as("right"), $"c".as("pair_count"),
              $"corpus_tokens_after")
        }.reduce(_ unionAll _).orderBy($"round")
      },
      Some {
        s"""WITH $bpeCtes
          SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS round, b1.l AS left, b1.r AS right,
              CAST(b1.c AS BIGINT) AS pair_count,
              CAST(tk1.t AS BIGINT) AS corpus_tokens_after FROM b1, tk1
            UNION ALL SELECT 2, b2.l, b2.r, CAST(b2.c AS BIGINT),
              CAST(tk2.t AS BIGINT) FROM b2, tk2
            UNION ALL SELECT 3, b3.l, b3.r, CAST(b3.c AS BIGINT),
              CAST(tk3.t AS BIGINT) FROM b3, tk3
            UNION ALL SELECT 4, b4.l, b4.r, CAST(b4.c AS BIGINT),
              CAST(tk4.t AS BIGINT) FROM b4, tk4
            UNION ALL SELECT 5, b5.l, b5.r, CAST(b5.c AS BIGINT),
              CAST(tk5.t AS BIGINT) FROM b5, tk5
            UNION ALL SELECT 6, b6.l, b6.r, CAST(b6.c AS BIGINT),
              CAST(tk6.t AS BIGINT) FROM b6, tk6)
          ORDER BY round"""
      }),

    // ---- BPE APPLICATION of the LEARNED merges (r14 — closes q305's
    //      learn→apply loop the way a real tokenizer pipeline runs:
    //      train the merge table on the corpus, then tokenize the SAME
    //      corpus with it). The per-word piece count comes straight from
    //      the round-6 vocab (the merges are already applied there — no
    //      per-document re-merging), so application is ONE corpus-sized
    //      explode joined to the vocab-sized piece map: AQE broadcasts
    //      the small side; per-doc BPE token counts, character counts
    //      and the merge savings are exact integers. Docs whose words
    //      all fail the [a-z0-9]{2,12} filter drop from both engines
    //      identically (inner join). ------------------------------------
    Q("q308_bpe_apply",
      (s, dir) => {
        import s.implicits._
        val v6 = bpeRounds(s, bpeVocab(s, dir)).last._3
        val pieceMap = v6.select($"word",
          size(split(trim($"sym"), " ")).cast("long").as("np"),
          length($"word").cast("long").as("nc"))
        docs(s, dir)
          .select($"doc_id", explode(split(lower($"text"), " ")).as("word"))
          .filter($"word".rlike("^[a-z0-9]{2,12}$"))
          .join(pieceMap, Seq("word"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_words"), sum($"nc").as("n_chars"),
            sum($"np").as("bpe_tokens"),
            (sum($"nc") - sum($"np")).as("tokens_saved"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $bpeCtes,
          tok AS (SELECT doc_id, word FROM (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
              FROM documents)
            WHERE regexp_matches(word, '^[a-z0-9]{2,12}$$')),
          nm AS (SELECT word,
              CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS np,
              CAST(length(word) AS BIGINT) AS nc
            FROM v6)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(nc) AS BIGINT) AS n_chars,
            CAST(sum(np) AS BIGINT) AS bpe_tokens,
            CAST(sum(nc) - sum(np) AS BIGINT) AS tokens_saved
          FROM tok JOIN nm USING (word)
          GROUP BY doc_id ORDER BY doc_id""")),

    // ---- GROUP-RELATIVE ADVANTAGE normalization (r14 — the GRPO-style
    //      reward shaping step between reward scoring and the trainer:
    //      within each prompt group, advantage = (r - mean)/std; here
    //      the groups are sources and the reward is the shared quality
    //      score). DETERMINISM: rewards quantize to the 1e6 grid per
    //      row, group moments come from exact BIGINT sums (Σq, Σq² —
    //      the q282-moments shape), and ranking uses the INTEGER reward
    //      (advantage is monotone in it within a group), so no float
    //      order-dependence anywhere. One source-keyed shuffle; the
    //      windows share it. Emits the top-2/bottom-2 advantage rows
    //      per group — the contrastive batch a preference trainer
    //      consumes — with the group moments in-row. --------------------
    Q("q306_grpo_advantage",
      (s, dir) => {
        import s.implicits._
        val scored = docs(s, dir).withColumn("w", tokens($"text"))
          .select($"source", $"doc_id",
            round(docQuality * 1e6).cast("long").as("qq"))
        val stats = scored.groupBy($"source").agg(
          count(lit(1)).as("n"), sum($"qq").as("sq"),
          sum($"qq" * $"qq").as("sqq"))
        val wRank = Window.partitionBy($"source")
          .orderBy($"qq".desc, $"doc_id")
        scored.join(stats, Seq("source"))
          .withColumn("mean", $"sq".cast("double") / $"n".cast("double"))
          .withColumn("variance",
            $"sqq".cast("double") / $"n".cast("double") - $"mean" * $"mean")
          .withColumn("std", sqrt(greatest($"variance", lit(0.0))))
          .withColumn("adv_e6",
            when($"std" > 0,
              round(($"qq".cast("double") - $"mean") / $"std" * 1e6))
              .otherwise(lit(0.0)).cast("long"))
          .withColumn("rk", row_number().over(wRank).cast("long"))
          .filter($"rk" <= 2 || $"rk" >= $"n" - 1)
          .select($"source", $"doc_id", $"qq".as("reward_e6"), $"adv_e6",
            $"rk".as("rank_in_group"), $"n".as("group_n"),
            round($"mean").cast("long").as("mean_e6"),
            round($"std").cast("long").as("std_e6"),
            when($"rk" <= 2, "top").otherwise("bottom").as("side"))
          .orderBy($"source", $"rank_in_group")
      },
      Some(s"""WITH scored AS (
            SELECT source, doc_id,
              CAST(round(($qualitySqlExpr) * 1000000) AS BIGINT) AS qq
            FROM documents),
          stats AS (
            SELECT source, count(*) AS n, sum(qq) AS sq,
              sum(qq * qq) AS sqq
            FROM scored GROUP BY source),
          j AS (
            SELECT s.source, s.doc_id, s.qq, t.n,
              CAST(t.sq AS DOUBLE) / CAST(t.n AS DOUBLE) AS mean,
              sqrt(greatest(
                CAST(t.sqq AS DOUBLE) / CAST(t.n AS DOUBLE)
                  - (CAST(t.sq AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * (CAST(t.sq AS DOUBLE) / CAST(t.n AS DOUBLE)),
                0.0)) AS std,
              row_number() OVER (PARTITION BY s.source
                ORDER BY s.qq DESC, s.doc_id) AS rk
            FROM scored s JOIN stats t USING (source))
          SELECT source, doc_id, qq AS reward_e6,
            CAST(CASE WHEN std > 0
              THEN round((CAST(qq AS DOUBLE) - mean) / std * 1000000)
              ELSE 0.0 END AS BIGINT) AS adv_e6,
            CAST(rk AS BIGINT) AS rank_in_group,
            CAST(n AS BIGINT) AS group_n,
            CAST(round(mean) AS BIGINT) AS mean_e6,
            CAST(round(std) AS BIGINT) AS std_e6,
            CASE WHEN rk <= 2 THEN 'top' ELSE 'bottom' END AS side
          FROM j WHERE rk <= 2 OR rk >= n - 1
          ORDER BY source, rank_in_group"""))
  )

  /** q224's probe phrases — two bigrams and a trigram over the synthetic
    * vocabulary (hit counts are whatever the corpus yields; a zero-hit
    * phrase still emits its row, so the gate never goes degenerate).
    */
  private val phrases: Seq[Seq[String]] = Seq(
    Seq("hash", "join"), Seq("table", "scan"), Seq("data", "stream"),
    Seq("fast", "table", "value"))

  /** Shared recursive-tokenizer CTE chain (q127): identical text in both
    * engines except the dialect-specific token-explosion CTE passed in.
    * Factored so the gate query and the Bench depth profile run the SAME
    * recursion text and can never diverge.
    */
  private def subwordCtes(toksSelect: String): String =
    s"""WITH RECURSIVE
       pieces(p, l) AS (SELECT * FROM (VALUES
         ('tion', 4), ('ing', 3), ('ion', 3), ('ent', 3), ('ter', 3),
         ('the', 3), ('and', 3), ('er', 2), ('ed', 2), ('in', 2),
         ('th', 2), ('he', 2), ('re', 2), ('on', 2), ('an', 2),
         ('at', 2), ('en', 2), ('es', 2), ('or', 2), ('st', 2),
         ('ar', 2), ('le', 2), ('nd', 2)) AS t(p, l)),
       toks AS ($toksSelect),
       words(w) AS (SELECT DISTINCT token FROM toks WHERE length(token) <= 50),
       step(w, pos, np) AS (
         SELECT w, 1, 0 FROM words
         UNION ALL
         SELECT s.w,
                s.pos + COALESCE((SELECT MAX(l) FROM pieces p
                                  WHERE substr(s.w, s.pos, p.l) = p.p), 1),
                s.np + 1
         FROM step s WHERE s.pos <= length(s.w)),
       wc AS (SELECT w, np AS n_pieces FROM step WHERE pos > length(w))"""

  private def subwordSql(toksSelect: String): String =
    s"""${subwordCtes(toksSelect)}
       SELECT t.doc_id, count(*) AS n_tokens,
              CAST(sum(n_pieces) AS BIGINT) AS n_pieces
       FROM toks t JOIN wc ON t.token = wc.w
       GROUP BY t.doc_id ORDER BY doc_id"""

  /** q127's DuckDB oracle — a SEPARATE program from the Spark-side
    * recursive CTE (see the q127 registration comment). The IN lists
    * are generated from [[graft.ops.PromptRenderer.subwordVocab]] so
    * the tokenizer's data stays single-sourced while the matching
    * logic is independently expressed.
    */
  private def subwordOracleSql: String = {
    val vocab = graft.ops.PromptRenderer.subwordVocab
    def inList(len: Int): String =
      vocab.filter(_.length == len).toSeq.sorted.map("'" + _ + "'").mkString(", ")
    val maxLen = vocab.map(_.length).max
    // one CASE branch per piece length, longest first = greedy
    val branches = (maxLen to 2 by -1).filter(l => vocab.exists(_.length == l))
      .map(l => s"WHEN substr(w, CAST(p.p AS INT), $l) IN (${inList(l)}) THEN $l")
      .mkString("\n             ")
    s"""WITH RECURSIVE toks AS (
         SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
         FROM documents),
       words AS (SELECT DISTINCT token AS w FROM toks WHERE length(token) <= 50),
       spos AS (
         SELECT w, CAST(p.p AS INT) AS pos,
           CASE $branches
             ELSE 1 END AS step
         FROM words, UNNEST(range(1, length(w) + 1)) AS p(p)),
       walk(w, pos, np) AS (
         SELECT w, 1, 0 FROM words
         UNION ALL
         SELECT c.w, c.pos + s.step, c.np + 1
         FROM walk c JOIN spos s ON s.w = c.w AND s.pos = c.pos
         WHERE c.pos <= length(c.w)),
       wc AS (SELECT w, np AS n_pieces FROM walk WHERE pos > length(w))
       SELECT t.doc_id, count(*) AS n_tokens,
              CAST(sum(n_pieces) AS BIGINT) AS n_pieces
       FROM toks t JOIN wc ON t.token = wc.w
       GROUP BY t.doc_id ORDER BY doc_id"""
  }

  /** ACTUAL executed depth of q127's recursive CTE for this corpus: a
    * word advances by the matched piece length (up to 4) per round, so
    * the productive rounds are 1..max(n_pieces) and one final empty
    * round detects the fixpoint — max(n_pieces) + 1 in total. This is
    * what the engine really ran (the greedy match can cover an 8-char
    * word in 2 rounds); max word length + 1 is only the hard upper
    * bound (each round advances ≥ 1 char; the ≤ 50-char word filter
    * caps it at 51 regardless of corpus pathology). Costs one more run
    * of the recursion — Bench calls it once, after timing.
    */
  private[graft] def subwordIterations(s: SparkSession, dir: String): Int = {
    docs(s, dir).createOrReplaceTempView("q127_docs")
    s.sql(s"""${subwordCtes(
        "SELECT doc_id, explode(split(lower(text), ' ')) AS token FROM q127_docs")}
       SELECT CAST(max(n_pieces) + 1 AS INT) AS it FROM wc""")
      .head().getInt(0)
  }

  /** Shared 60-bit SimHash plan: token-frequency-weighted ±1 vote per bit;
    * bit k of a token's hash = bit (k%4) of hex digit (15 - k/4) of
    * md5(token) — no >60-bit arithmetic anywhere.
    *
    * All 60 votes are computed ROW-LOCALLY as separate columns, then
    * aggregated with 60 partially-aggregating sums: the doc_id shuffle
    * carries one 60-long row per (doc × map partition) thanks to map-side
    * combine — shuffle volume is independent of both corpus token count and
    * signature width. (The previous crossJoin(60-row bits) form shuffled a
    * ×60 copy of the token table twice; at 100× corpus that IS the job.)
    * The digest is materialized as a column first: CollapseProject refuses
    * to inline a non-cheap expression referenced 60×, so md5 runs once per
    * token occurrence, not per bit.
    */
  /** Content-defined chunk hashes for q192: (doc_id, text) → (doc_id,
    * chunks), where chunks are md5s of the token spans between
    * gear-style rolling-hash boundaries (window hash of the last 4 token
    * codes ≡ 0 mod 16, plus a forced EOF boundary). ROW-LOCAL by
    * construction. Exposed package-private so the shift-resilience
    * property (a leading insertion leaves all chunks after the next
    * boundary untouched) is spec-testable.
    */
  private[graft] def cdcChunks(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    // REWRITTEN round 17 (VERDICT r16 item 3; history: the round-7 nested
    // higher-order-expression form cost ~270 s of pure Catalyst/codegen,
    // its round-7 replacement exploded to tokens and used lag windows + a
    // prefix count — tiny expressions, but a corpus-sized token explode,
    // TWO window passes and TWO collect_list aggregations on the doc_id
    // shuffle, and it was the #1 cold query in the r16 driver bench).
    // The chunk list is a pure function of the row's own token sequence,
    // so it is now ONE typed mapPartitions kernel: hash each token once,
    // scan for boundary positions, md5 each span — zero shuffles, zero
    // windows, one tight codegen-free loop per row. Semantics IDENTICAL
    // to both prior forms (equivalence spec rebuilds the window form):
    // boundary at 0-based position i ≥ 3 where
    // (c[i-3]·29791 + c[i-2]·961 + c[i-1]·31 + c[i]) % M % 16 == 0 — the
    // boundary token ENDS its chunk; trailing tokens form the last chunk
    // (the implicit EOF boundary); chunk hash = md5 of the space-joined
    // span; token code = md5 60-bit prefix % p % M, exact in long math.
    // NULL text is coalesced to '' BEFORE the kernel so it behaves exactly
    // like an empty document (split('', ' ') = [''] in both engines: one
    // empty-string token, one single-token chunk). lower() stays a Spark
    // expression so locale semantics cannot drift from the oracle's.
    // fanout: the md5-per-token kernel is exactly the simhash-class
    // pre-shuffle cost that ran single-task on the fixture scan.
    val M = 1000003L
    val P = minhashP
    graft.core.Tables.fanout(
        d.select($"doc_id", lower(coalesce($"text", lit(""))).as("t")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5hex(str: String): String = {
          val b = md.digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val sb = new java.lang.StringBuilder(32)
          var i = 0
          while (i < 16) {
            sb.append(Character.forDigit((b(i) >> 4) & 0xf, 16))
            sb.append(Character.forDigit(b(i) & 0xf, 16))
            i += 1
          }
          sb.toString
        }
        it.map { case (id, t) =>
          val toks = t.split(" ", -1)
          val n = toks.length
          val c = new Array[Long](n)
          var i = 0
          while (i < n) {
            // same 60-bit prefix the SQL conv(substring(md5, 1, 15)) reads
            c(i) = java.lang.Long.parseLong(md5hex(toks(i)).substring(0, 15), 16) % P % M
            i += 1
          }
          val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
          var start = 0
          i = 3
          while (i < n) {
            if ((c(i - 3) * 29791L + c(i - 2) * 961L + c(i - 1) * 31L + c(i)) % M % 16 == 0L) {
              chunks += md5hex(toks.slice(start, i + 1).mkString(" "))
              start = i + 1
            }
            i += 1
          }
          if (start < n) chunks += md5hex(toks.slice(start, n).mkString(" "))
          (id, chunks.toSeq)
        }
      }
      .toDF("doc_id", "chunks")
  }

  private def simhashDF(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fanout (r17): the md5-per-token + 60 partial-agg vote columns are the
    // heaviest pre-shuffle kernel in the repo, and on the single-row-group
    // fixture they ran on ONE core (probe: 4.8 s of q193's 5.0 s cold was
    // this subtree). Unlike the minhash feed (r16 measured rejection — 16
    // array_min's over an already-hashed array are too light to buy the
    // exchange), the 60-vote explode pays for moving (doc_id, text) once.
    // Identity on well-split input, as everywhere.
    val tok = graft.core.Tables.fanout(docs(s, dir).select($"doc_id", $"text"))
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .select($"doc_id", md5($"tok").as("h"))
    // per-occurrence vote: summing ±1 over occurrences equals the
    // cnt-weighted sum over distinct tokens the oracle CTE computes
    val votes = (0 until 60).map { k =>
      expr(s"2 * (shiftright(instr('0123456789abcdef', substring(h, ${15 - k / 4}, 1)) - 1, ${k % 4}) & 1) - 1")
        .as(s"v$k")
    }
    val sums = (0 until 60).map(k => sum(col(s"v$k")).as(s"s$k"))
    val sig = (0 until 60)
      .map(k => when(col(s"s$k") >= 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.select($"doc_id" +: votes: _*)
      .groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id", sig.cast("long").as("simhash"))
  }

  private val simhashCte =
    """tok AS (SELECT doc_id, t AS tok, count(*) AS cnt
      |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |        GROUP BY doc_id, t),
      |votes AS (SELECT doc_id, k,
      |            sum(cnt * (2 * (((strpos('0123456789abcdef',
      |                 substr(md5(tok), CAST(15 - k // 4 AS INT), 1)) - 1)
      |                 >> CAST(k % 4 AS INT)) & 1) - 1)) AS s
      |          FROM tok, UNNEST(range(0, 60)) AS r(k) GROUP BY doc_id, k),
      |sim AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS simhash
      |        FROM votes GROUP BY doc_id)""".stripMargin
}

/** Tiny stopword lexicon for language ID + quality scoring — the classifier
  * contract matters (argmax over per-language hit counts with deterministic
  * tie-break), not lexicon completeness.
  */
object LangLexicon {
  val entries: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "of" -> "en", "and" -> "en", "to" -> "en",
    "der" -> "de", "die" -> "de", "und" -> "de", "das" -> "de", "ist" -> "de",
    "le" -> "fr", "la" -> "fr", "et" -> "fr", "les" -> "fr", "des" -> "fr",
    "el" -> "es", "los" -> "es", "y" -> "es", "las" -> "es", "una" -> "es")

  def sqlValues: String =
    entries.map { case (w, l) => s"('$w', '$l')" }.mkString(", ")

  def sqlWordList: String =
    entries.map(_._1).distinct.map(w => s"'$w'").mkString(", ")
}
