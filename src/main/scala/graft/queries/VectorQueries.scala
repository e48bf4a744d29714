package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Scale design: the brute-force variant broadcasts only the QUERY set
  * (small) against the corpus — one pass, no shuffle of the corpus, O(Q·N)
  * dot products distributed over corpus partitions. The IVF variant is the
  * 100 TB path: a broadcast centroid table assigns every vector to a
  * cluster in one map-side pass, and search touches only the query's own
  * cluster (nprobe=1 here; raise nprobe / centroid count at scale).
  */
object VectorQueries extends Registry {

  private def emb(s: SparkSession, dir: String) = Tables(s, dir, "embeddings")

  /** IVF coarse quantizer shared by q31/q43: broadcast the deterministic
    * centroid set (vec_id < 8) and assign every vector to its
    * max-cosine centroid in one map-side pass.
    * Input/output columns: (vec_id, embedding, nrm) -> + cid.
    */
  private def ivfAssign(s: SparkSession, e: org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cents = e.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cv"), $"nrm".as("cn"))
    val aw = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
    e.join(broadcast(cents))
      .select($"vec_id", $"embedding", $"nrm", $"cid",
        (dotFast($"cv", $"embedding") / ($"cn" * $"nrm")).as("ccos"))
      .withColumn("arn", row_number().over(aw))
      .filter($"arn" === 1)
      .select($"vec_id", $"embedding", $"nrm", $"cid")
  }

  /** q49 hyperplane component: md5-derived integer in [0, 1000003) for
    * (hyperplane j, dim d). Independent across (j, d) — no shared algebraic
    * structure between hyperplanes (see q49's comment for the Weyl-sequence
    * flaw this replaced). Mapped to a double identically in both engines.
    */
  private[queries] def hpInt(j: Int, d: Int): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-hp-$j-$d".getBytes("UTF-8"))
    digest.take(7).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL)) % 1000003L
  }

  /** Shared IVF-PQ approximate scoring (q109 search / q154 rerank):
    * IVF restricts candidates to the query's cluster, PQ codes stand in
    * for raw vectors, each query precomputes a broadcast (subspace × code)
    * distance LUT, and per-probe distances quantize to 1e-6 longs before
    * the sum so ranking is addition-order-exact. Returns the scored
    * (query_id, vec_id, approx_l2) candidates plus the query set.
    */
  private def ivfpqApprox(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    graft.expressions.VectorExpressions.register(s)
    val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
    val assign = ivfAssign(s, e)
    val codes = emb(s, dir).filter($"vec_id" < 8)
      .select($"vec_id".as("code"), $"embedding".as("cv"))
    val sliceDist = expr(
      "vec_l2sq(slice(embedding, s * 16 + 1, 16), slice(cv, s * 16 + 1, 16))")
    val ew = Window.partitionBy($"vec_id", $"s").orderBy($"dist", $"code")
    val enc = assign.join(broadcast(codes))
      .select($"vec_id", $"cid", $"code", explode(sequence(lit(0), lit(3))).as("s"),
        $"embedding", $"cv")
      .withColumn("dist", sliceDist)
      .withColumn("rn", row_number().over(ew))
      .filter($"rn" === 1)
      .select($"vec_id", $"cid", $"s", $"code")
    val q = assign.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"cid")
    val lut = q.join(broadcast(codes))
      .select($"query_id", $"code", explode(sequence(lit(0), lit(3))).as("s"),
        $"qv", $"cv")
      .withColumn("d", expr(
        "vec_l2sq(slice(qv, s * 16 + 1, 16), slice(cv, s * 16 + 1, 16))"))
      .select($"query_id", $"s", $"code", $"d")
    val scored = enc.join(broadcast(q.select($"query_id", $"cid")), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg((sum(round($"d" * 1e6).cast("long")).cast("double") / 1e6).as("approx_l2"))
    (scored, q)
  }

  /** The 8 seed centroids: embeddings with vec_id < 8 as (cid, cv). */
  private val centsCte = """cents AS (SELECT vec_id AS cid, embedding AS cv
                    FROM embeddings WHERE vec_id < 8)"""

  /** CTE `name`: every embedding's max-cosine centroid among the (cid, cv)
    * rows of `cents`, aliased `c`, ties on cid, projected to `cols`;
    * `ccos` adds the winning cosine as a column. The IVF assignment and
    * each k-means step of the vector oracles. */
  private def cosineArgmaxCte(name: String, cols: String, cents: String = "cents",
      c: String = "c", ccos: Boolean = false): String = {
    val cos = s"""${dotSql(s"$c.cv", "e.embedding")}
                           / (sqrt(${dotSql(s"$c.cv", s"$c.cv")}) * sqrt(${dotSql("e.embedding", "e.embedding")}))"""
    s"""$name AS (SELECT $cols FROM (
                     SELECT e.vec_id, e.embedding, $c.cid,${if (ccos) s" $cos AS ccos," else ""}
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         $cos DESC,
                         $c.cid) AS arn
                     FROM embeddings e, $cents $c)
                   WHERE arn = 1)"""
  }

  /** IVF assignment `name` of every embedding to its max-cosine centroid
    * in `centsRel` (q163, q261). */
  private def assignCte(name: String, centsRel: String) =
    cosineArgmaxCte(name, "vec_id, embedding, cid", centsRel, "t")

  /** Two Lloyd rounds from the 8 seed centroids: assignments a0, a1 and
    * the updated centroid sets tc1, tc2 (q163, q261). */
  private val lloydTwoRounds = {
    // per-cluster centroid means over `from`, from 1e-3-quantized long sums
    def meansCte(name: String, from: String) =
      s"""${name}_m AS (SELECT cid, dim,
                 CAST(sum(CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000.0) AS BIGINT)) AS DOUBLE)
                   / 1000.0 / count(*) AS m
               FROM $from, UNNEST(range(0, 64)) AS t(dim)
               GROUP BY cid, dim),
             $name AS (SELECT cid, list(m ORDER BY dim) AS cv
                       FROM ${name}_m GROUP BY cid)"""
    s"""WITH $centsCte,
          ${assignCte("a0", "cents")},
          ${meansCte("tc1", "a0")},
          ${assignCte("a1", "tc1")},
          ${meansCte("tc2", "a1")},"""
  }

  /** The IVF coarse quantizer of q31, q140 and [[ivfPqScored]]: the 8
    * centroids (vec_id < 8) and each vector's max-cosine centroid (ties
    * on cid). */
  private val ivfAssignCtes = s"""WITH $centsCte,
        ${cosineArgmaxCte("assign", "vec_id, embedding, cid")},"""

  /** The IVF-PQ oracles' shared front (q109, q154, q183): coarse
    * assignment to the 8 centroids, 4 x 16-dim PQ encoding against the
    * same codebook, and each query's approximate L2 to its cluster-mates
    * from the lookup table. */
  private val ivfPqScored = {
    // squared L2 between the 16-dim slice `t.s` of `v` and of codeword `c.cv`
    def sliceDistSql(v: String) =
      "list_reduce(list_transform(range(0, 16), i -> " +
        s"(CAST($v[t.s * 16 + i + 1] AS DOUBLE) - CAST(c.cv[t.s * 16 + i + 1] AS DOUBLE)) * " +
        s"(CAST($v[t.s * 16 + i + 1] AS DOUBLE) - CAST(c.cv[t.s * 16 + i + 1] AS DOUBLE))), " +
        "(acc, x) -> acc + x)"
    s"""$ivfAssignCtes
          codes AS (SELECT vec_id AS code, embedding AS cv
              FROM embeddings WHERE vec_id < 8),
          encd AS (SELECT a.vec_id, a.cid, c.code, t.s, ${sliceDistSql("a.embedding")} AS dist
                   FROM assign a CROSS JOIN codes c
                   CROSS JOIN (SELECT unnest(range(0, 4)) AS s) t),
          enc AS (SELECT vec_id, cid, s, code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, s
                  ORDER BY dist, code) AS rn FROM encd)
              WHERE rn = 1),
          q AS (SELECT vec_id AS query_id, embedding AS qv, cid
                FROM assign WHERE vec_id % 100 = 0),
          lutd AS (SELECT q.query_id, c.code, t.s, ${sliceDistSql("q.qv")} AS d
                   FROM q CROSS JOIN codes c
                   CROSS JOIN (SELECT unnest(range(0, 4)) AS s) t),
          scored AS (SELECT q.query_id, e.vec_id,
                CAST(sum(CAST(round(l.d * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0
                  AS approx_l2
              FROM q JOIN enc e ON e.cid = q.cid AND e.vec_id <> q.query_id
              JOIN lutd l ON l.query_id = q.query_id AND l.s = e.s AND l.code = e.code
              GROUP BY q.query_id, e.vec_id)"""
  }

  /** Top-3 cosine neighbours of each query `q` among its cluster-mates
    * in `assign`, ranked by cosine then id (q31, q140). */
  private val ivfTop3Cosine = s"""scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                     ${dotSql("q.qv", "a.embedding")}
                       / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cosine
                   FROM q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)"""

  override def entries: Seq[Q] = Seq(

    // ---- brute-force cosine top-k (baseline; exact) ----------------------
    Q("q30_cosine_topk",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val q = e.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"))
        val scored = e.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"query_id", $"rank", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                    FROM embeddings WHERE vec_id % 100 = 0),
        scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                     ${dotSql("qv", "e.embedding")}
                       / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cosine
                   FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
        WHERE rn <= 5 ORDER BY query_id, rank""")),

    // ---- IVF approximate NN: 8 deterministic centroids (vec_id < 8),
    //      map-side cluster assignment, search restricted to the query's
    //      cluster ---------------------------------------------------------
    Q("q31_ivf_ann",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val assign = ivfAssign(s, e)
        val q = assign.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"), $"cid")
        val scored = assign.join(broadcast(q), Seq("cid"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"query_id", $"rank", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""$ivfAssignCtes
        q AS (SELECT vec_id AS query_id, embedding AS qv, cid
              FROM assign WHERE vec_id % 100 = 0),
        $ivfTop3Cosine
        WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ---- embedding-cosine near-dup: the dedup variant — candidate pairs
    //      come ONLY from shared IVF clusters (never all-pairs); top-40
    //      most-similar pairs with the min-id survivor decision ------------
    Q("q43_embedding_neardup",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val assign = ivfAssign(s, e)
        val pairs = assign.as("a").join(assign.as("b"),
            $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id")
          .select($"a.vec_id".as("keep_id"), $"b.vec_id".as("dup_id"),
            (dotFast($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm")).as("cosine"))
        pairs.orderBy($"cosine".desc, $"keep_id", $"dup_id").limit(40)
      },
      Some(s"""WITH $centsCte,
        assign AS (SELECT vec_id, embedding FROM embeddings),
        ${cosineArgmaxCte("asg", "vec_id, embedding, cid")}
        SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
          ${dotSql("a.embedding", "b.embedding")}
            / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cosine
        FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        ORDER BY cosine DESC, keep_id, dup_id LIMIT 40""")),

    // ---- random-hyperplane LSH bucketing: the OTHER scale path next to
    //      IVF. 12 sign bits of dots with pseudo-random hyperplanes whose
    //      components derive from pure integer arithmetic — identical on
    //      both engines, no literal tables. Each projection is a ROW-LOCAL
    //      deterministic left fold (a grouped parallel double sum would be
    //      order-dependent and could flip boundary signs across engines);
    //      signature derivation needs no shuffle at all. 4096 buckets;
    //      more bits at corpus scale. --------------------------------------
    Q("q49_lsh_ann",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        // hp components are md5-derived integers mod 1000003 mapped to
        // [-0.5, 0.5) — NOT the earlier Weyl sequence c·(j·64+d) mod m,
        // whose consecutive 64-blocks produced hyperplane pairs up to
        // |cos| = 0.994 (near-parallel planes ⇒ duplicated sign bits ⇒ far
        // fewer than 12 effective bits; same correlated-constant flaw class
        // MlCrossCheckSpec caught in the minhash family). Constants bake in
        // as literal double arrays so each projection is ONE native
        // codegen'd vec_dot; the oracle receives the SAME integers and
        // derives each component with identical IEEE ops, so signatures are
        // bit-identical. Independence is pinned by VecDotSpec.
        def hp(j: Int): Seq[Double] = (0 until 64)
          .map(d => hpInt(j, d).toDouble / 1000003.0 - 0.5)
        val sigExpr = (0 until 12)
          .map(j => when(
            call_function("vec_dot", $"embedding", typedLit(hp(j))) >= 0,
            lit(1 << j)).otherwise(lit(0)))
          .reduce(_ + _)
        val e = emb(s, dir).select($"vec_id", $"embedding", sigExpr.as("sig"))
        val pairs = e.as("a").join(e.as("b"),
            $"a.sig" === $"b.sig" && $"a.vec_id" < $"b.vec_id")
          .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"), $"a.sig".as("sig"),
            cosine($"a.embedding", $"b.embedding").as("cosine"))
        pairs.orderBy($"cosine".desc, $"vec_a", $"vec_b").limit(30)
      },
      Some {
        def projSql(j: Int, emb: String) = {
          val consts = (0 until 64)
            .map(d => s"CAST(${hpInt(j, d)} AS DOUBLE) / 1000003.0 - 0.5")
            .mkString("[", ", ", "]")
          s"list_reduce(list_transform(list_zip($emb, $consts), " +
            "s -> CAST(s[1] AS DOUBLE) * s[2]), (acc, x) -> acc + x)"
        }
        val sigSql = (0 until 12)
          .map(j => s"(CASE WHEN ${projSql(j, "embedding")} >= 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH e AS (SELECT vec_id, embedding, ($sigSql) AS sig FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.sig AS sig,
          ${cosineSql("a.embedding", "b.embedding")} AS cosine
        FROM e a JOIN e b ON a.sig = b.sig AND a.vec_id < b.vec_id
        ORDER BY cosine DESC, vec_a, vec_b LIMIT 30"""
      }),

    // ---- k-means Lloyd step (the IVF "training" pass): assign every
    //      vector to its max-cosine centroid (broadcast centroids, one
    //      map-side pass — the same coarse quantizer q31/q43 use), then
    //      recompute the centroid means. Cross-row float sums are NOT
    //      order-stable under parallelism, so each component is quantized
    //      to an exact long (round(x·1000)) before the sum — the shuffle
    //      carries longs, the aggregation is associative-exact at any
    //      partitioning, and the mean divides back to double at the end.
    //      Emits the first 8 dims per centroid (8×8 rows). At 100 TB this
    //      is the per-iteration shape: broadcast k centroids, one shuffle
    //      of (cid, dim, long) partial sums. ------------------------------
    Q("q93_kmeans_step",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        ivfAssign(s, e)
          .select($"cid", posexplode($"embedding").as(Seq("dim", "v")))
          .filter($"dim" < 8)
          .withColumn("q", round($"v".cast("double") * 1000.0).cast("long"))
          .groupBy($"cid", $"dim")
          .agg(count(lit(1)).as("n_members"), sum($"q").as("sq"))
          .select($"cid", $"dim", $"n_members",
            ($"sq".cast("double") / 1000.0 / $"n_members").as("mean_q"))
          .orderBy($"cid", $"dim")
      },
      Some(s"""WITH $centsCte,
        ${cosineArgmaxCte("m", "cid, embedding")},
        x AS (SELECT cid, dim,
            CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000.0) AS BIGINT) AS q
          FROM m, UNNEST(range(0, 8)) AS t(dim))
        SELECT cid, CAST(dim AS INT) AS dim, count(*) AS n_members,
          CAST(sum(q) AS DOUBLE) / 1000.0 / count(*) AS mean_q
        FROM x GROUP BY cid, dim ORDER BY cid, dim""")),

    // ---- product quantization encode (IVF-PQ's second half): the 64-dim
    //      vector splits into 4 subspaces of 16 dims; each subvector maps
    //      to its nearest of 8 deterministic codes (vec_id < 8 slices), so
    //      a vector compresses to 4 small ints + a quantization error.
    //      Scale shape: the codebook is broadcast (k·m tiny), distances are
    //      evaluated map-side as row-local sequential folds (deterministic
    //      IEEE order — a parallel sum could flip argmin boundaries), and
    //      the only shuffle carries (vec, subspace, best-code) rows. The
    //      per-vector error sums 4 doubles whose ADDITION ORDER must not
    //      float — each distance is quantized to an exact 1e-6 long before
    //      the sum, and divided back at the end. ---------------------------
    Q("q98_pq_encode",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val codes = emb(s, dir).filter($"vec_id" < 8)
          .select($"vec_id".as("code"), $"embedding".as("cv"))
        // native codegen'd kernel over the 16-dim slices: same left-to-right
        // double accumulation as the lambda fold / DuckDB list_reduce, but a
        // primitive loop inside whole-stage codegen
        val dist = expr(
          "vec_l2sq(slice(embedding, s * 16 + 1, 16), slice(cv, s * 16 + 1, 16))")
        val w = Window.partitionBy($"vec_id", $"s").orderBy($"dist", $"code")
        emb(s, dir).join(broadcast(codes))
          .select($"vec_id", $"code", explode(sequence(lit(0), lit(3))).as("s"),
            $"embedding", $"cv")
          .withColumn("dist", dist)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .groupBy($"vec_id")
          .agg(
            max(when($"s" === 0, $"code")).as("code0"),
            max(when($"s" === 1, $"code")).as("code1"),
            max(when($"s" === 2, $"code")).as("code2"),
            max(when($"s" === 3, $"code")).as("code3"),
            (sum(round($"dist" * 1e6).cast("long")).cast("double") / 1e6).as("recon_err"))
          .orderBy($"vec_id")
      },
      Some {
        val distSql =
          "list_reduce(list_transform(range(0, 16), i -> " +
            "(CAST(e.embedding[t.s * 16 + i + 1] AS DOUBLE) - CAST(c.cv[t.s * 16 + i + 1] AS DOUBLE)) * " +
            "(CAST(e.embedding[t.s * 16 + i + 1] AS DOUBLE) - CAST(c.cv[t.s * 16 + i + 1] AS DOUBLE))), " +
            "(acc, x) -> acc + x)"
        s"""WITH codes AS (SELECT vec_id AS code, embedding AS cv
              FROM embeddings WHERE vec_id < 8),
          d AS (SELECT e.vec_id, c.code, t.s, $distSql AS dist
                FROM embeddings e CROSS JOIN codes c
                CROSS JOIN (SELECT unnest(range(0, 4)) AS s) t),
          best AS (SELECT vec_id, s, code, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, s
                  ORDER BY dist, code) AS rn FROM d)
              WHERE rn = 1)
          SELECT vec_id,
            max(CASE WHEN s = 0 THEN code END) AS code0,
            max(CASE WHEN s = 1 THEN code END) AS code1,
            max(CASE WHEN s = 2 THEN code END) AS code2,
            max(CASE WHEN s = 3 THEN code END) AS code3,
            CAST(sum(CAST(round(dist * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0
              AS recon_err
          FROM best GROUP BY vec_id ORDER BY vec_id"""
      }),

    // ---- IVF-PQ asymmetric-distance search: the full 100 TB ANN stack
    //      assembled from its two halves — IVF (q31) restricts candidates
    //      to the query's cluster, PQ codes (q98) stand in for the raw
    //      vectors, and each query precomputes a (subspace × code) distance
    //      LOOKUP TABLE so scoring a candidate is 4 table probes + adds,
    //      never a 64-dim dot product. Scale shape: codebook, query set,
    //      and LUT are all broadcast (queries × 4 × 8 rows); the corpus
    //      moves through exactly two shuffles (the encode window, the
    //      per-pair rollup); per-probe distances quantize to 1e-6 longs
    //      before the sum so ranking is addition-order-exact. --------------
    Q("q109_ivfpq_search",
      (s, dir) => {
        import s.implicits._
        val (scored, _) = ivfpqApprox(s, dir)
        val cut = graft.plans.TopK.perKey(scored, Seq("query_id"),
          Seq(graft.plans.TopK.Order("approx_l2"), graft.plans.TopK.Order("vec_id")), 3)
        val rw = Window.partitionBy($"query_id").orderBy($"approx_l2", $"vec_id")
        cut.withColumn("rank", row_number().over(rw))
          .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"approx_l2")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""$ivfPqScored
          SELECT query_id, CAST(rn AS INT) AS rank, vec_id AS neighbor_id, approx_l2
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY approx_l2, vec_id) AS rn FROM scored)
          WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ---- cross-modal metadata join: documents (text metadata) × embeddings
    //      (vectors) on the shared id — the join every curation decision
    //      that mixes signals needs (quality × similarity, lang × cluster).
    //      Co-keyed equi-join (doc_id = vec_id, both sides hash to the same
    //      exchange; bucket both tables on id at 100 TB and it goes
    //      shuffle-free), then the q93 quantized-mean pattern per language:
    //      components quantize to exact longs before the (lang, dim)
    //      shuffle, so the centroid hash-matches at any parallelism. -------
    Q("q112_lang_centroids",
      (s, dir) => {
        import s.implicits._
        val d = Tables(s, dir, "documents").select($"doc_id", $"lang")
        emb(s, dir).join(d, $"vec_id" === $"doc_id")
          .select($"lang", posexplode($"embedding").as(Seq("dim", "v")))
          .filter($"dim" < 8)
          .withColumn("q", round($"v".cast("double") * 1000.0).cast("long"))
          .groupBy($"lang", $"dim")
          .agg(count(lit(1)).as("n_vecs"), sum($"q").as("sq"))
          .select($"lang", $"dim", $"n_vecs",
            ($"sq".cast("double") / 1000.0 / $"n_vecs").as("centroid_q"))
          .orderBy($"lang", $"dim")
      },
      Some("""WITH j AS (SELECT d.lang, e.embedding
              FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
          x AS (SELECT lang, dim,
                  CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000.0) AS BIGINT) AS q
                FROM j, UNNEST(range(0, 8)) AS t(dim))
          SELECT lang, CAST(dim AS INT) AS dim, count(*) AS n_vecs,
            CAST(sum(q) AS DOUBLE) / 1000.0 / count(*) AS centroid_q
          FROM x GROUP BY lang, dim ORDER BY lang, dim""")),

    // ---- int8 scalar quantization audit: per-vector symmetric int8
    //      encode (scale = max|x|/127, code = clip(floor(x/scale + .5)))
    //      and the reconstruction MSE — the compression check before
    //      shipping embeddings at 4× smaller. Entirely ROW-LOCAL
    //      (higher-order functions over the array column, no shuffle
    //      before the presentation sort, linear in corpus bytes).
    //      Rounding is written as floor(x/scale + 0.5) — identical text in
    //      the oracle — because the two engines' round() half-way rules
    //      need not agree; the fold order is sequential in both, so every
    //      double is bit-exact. The 1e-30 floor guards an all-zero vector.
    Q("q123_int8_quantize",
      (s, dir) => {
        import s.implicits._
        emb(s, dir)
          .select($"vec_id", $"embedding",
            (greatest(expr(
              "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"),
              lit(1e-30)) / 127).as("scale"))
          .select($"vec_id", $"scale",
            // e*e, not pow(e,2): the two engines' pow() disagree by an ulp
            (expr(
              """aggregate(transform(embedding, x -> CAST(x AS DOUBLE)
                   - least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5),
                                    -127.0D), 127.0D) * scale),
                 CAST(0 AS DOUBLE), (acc, e) -> acc + e * e)""")
              / size($"embedding")).as("mse"))
          .orderBy($"vec_id")
      },
      Some("""WITH s AS (SELECT vec_id, embedding,
            greatest(list_reduce(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b)),
              1e-30) / 127 AS scale
          FROM embeddings)
          SELECT vec_id, scale,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(embedding, x -> CAST(x AS DOUBLE)
                  - least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5),
                                   -127.0), 127.0) * scale)),
              (acc, e) -> acc + e * e) / len(embedding) AS mse
          FROM s ORDER BY vec_id""")),

    // ---- Matryoshka truncation audit: exact top-5 neighbors computed on
    //      the 16-dim PREFIX of each embedding vs the full 64-dim top-5,
    //      recall@5 per query — the measurement that decides how far a
    //      matryoshka-style prefix index can shrink the first-stage
    //      search. Same broadcast-the-query-set shape as q30 twice (the
    //      corpus never shuffles; prefix slicing is row-local), then a
    //      broadcast-sized join of the two 5-row-per-query rank lists. ----
    Q("q124_matryoshka_recall",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        def topk(dims: Option[Int]): org.apache.spark.sql.DataFrame = {
          val v = dims.map(d => slice($"embedding", 1, d)).getOrElse($"embedding")
          val e = emb(s, dir).select($"vec_id", v.as("v"))
            .select($"vec_id", $"v", normFast($"v").as("nrm"))
          val q = e.filter($"vec_id" % 100 === 0)
            .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
          val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
          e.join(broadcast(q), $"vec_id" =!= $"query_id")
            .select($"query_id", $"vec_id".as("neighbor_id"),
              (dotFast($"qv", $"v") / ($"qn" * $"nrm")).as("cosine"))
            .withColumn("rank", row_number().over(w))
            .filter($"rank" <= 5)
            .select($"query_id", $"neighbor_id")
        }
        val full = topk(None)
        val trunc = topk(Some(16)).withColumnRenamed("neighbor_id", "t_neighbor")
        full.join(trunc,
            full("query_id") === trunc("query_id") &&
              $"neighbor_id" === $"t_neighbor", "left")
          .groupBy(full("query_id").as("query_id"))
          .agg(count($"t_neighbor").as("n_overlap"))
          .select($"query_id", $"n_overlap",
            ($"n_overlap".cast("double") / 5).as("recall_at_5"))
          .orderBy($"query_id")
      },
      Some {
        def topkCte(name: String, vExpr: String) =
          s"""${name}_scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
               ${dotSql(s"q.qv", s"$vExpr")}
                 / (sqrt(${dotSql("q.qv", "q.qv")})
                    * sqrt(${dotSql(vExpr, vExpr)})) AS cosine
             FROM ${name}_q q JOIN embeddings e ON e.vec_id <> q.query_id),
           $name AS (SELECT query_id, neighbor_id FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rn FROM ${name}_scored)
             WHERE rn <= 5)"""
        s"""WITH fullk_q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0),
           trunck_q AS (SELECT vec_id AS query_id, embedding[1:16] AS qv
               FROM embeddings WHERE vec_id % 100 = 0),
           ${topkCte("fullk", "e.embedding")},
           ${topkCte("trunck", "e.embedding[1:16]")}
           SELECT f.query_id, count(t.neighbor_id) AS n_overlap,
             CAST(count(t.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
           FROM fullk f LEFT JOIN trunck t
             ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
           GROUP BY f.query_id ORDER BY f.query_id"""
      }),

    // ---- multi-probe IVF: q31 probes nprobe=1 cluster; the recall lever
    //      at 100 TB is probing the query's top-NPROBE clusters (corpus
    //      assignment stays single — only the query fans out, so cost
    //      scales with nprobe × cluster size, never corpus size). Here
    //      nprobe=2: each query searches the union of its two nearest
    //      clusters; a corpus vector lives in exactly one cluster, so the
    //      union needs no dedup. ---------------------------------------------
    Q("q140_ivf_multiprobe",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val assign = ivfAssign(s, e)
        val cents = e.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"), $"nrm".as("cn"))
        val q2 = e.filter($"vec_id" % 100 === 0)
          .join(broadcast(cents))
          .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"),
            $"cid", (dotFast($"cv", $"embedding") / ($"cn" * $"nrm")).as("ccos"))
          .withColumn("arn", row_number().over(
            Window.partitionBy($"query_id").orderBy($"ccos".desc, $"cid")))
          .filter($"arn" <= 2)
          .select($"query_id", $"qv", $"qn", $"cid")
        val scored = assign.join(broadcast(q2), Seq("cid"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"query_id", $"rank", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""$ivfAssignCtes
        q AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY
                    ${dotSql("c.cv", "e.embedding")}
                      / (sqrt(${dotSql("c.cv", "c.cv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) DESC,
                    c.cid) AS arn
                FROM embeddings e, cents c WHERE e.vec_id % 100 = 0)
              WHERE arn <= 2),
        $ivfTop3Cosine
        WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ---- semantic decontamination: q104's shingle check misses
    //      paraphrases, so the second screen is embedding similarity —
    //      every training vector's max cosine against the benchmark set
    //      (vec_id % 97 == 0 stands in for the eval suite). Same asymmetry
    //      as q104: eval suites are MBs against corpus TBs, so the bench
    //      set broadcasts and the corpus side never shuffles; only the
    //      per-vector max rollup does. max() is order-independent, so the
    //      double scores are safe to aggregate across partitions. ----------
    Q("q137_semantic_decontaminate",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val bench = e.filter($"vec_id" % 97 === 0)
          .select($"vec_id".as("bench_id"), $"embedding".as("bv"), $"nrm".as("bn"))
        e.filter($"vec_id" % 97 =!= 0)
          .join(broadcast(bench))
          .select($"vec_id", (dotFast($"bv", $"embedding") / ($"bn" * $"nrm")).as("cos"))
          .groupBy($"vec_id")
          .agg(max($"cos").as("max_benchmark_cosine"))
          .select($"vec_id", $"max_benchmark_cosine",
            when($"max_benchmark_cosine" >= 0.5, 1L).otherwise(0L)
              .as("contaminated"))
          .orderBy($"vec_id")
      },
      Some(s"""WITH bench AS (SELECT vec_id AS bench_id, embedding AS bv
              FROM embeddings WHERE vec_id % 97 = 0),
          scored AS (SELECT e.vec_id,
                 ${dotSql("b.bv", "e.embedding")}
                   / (sqrt(${dotSql("b.bv", "b.bv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cos
               FROM embeddings e, bench b WHERE e.vec_id % 97 <> 0),
          mx AS (SELECT vec_id, max(cos) AS max_benchmark_cosine
                 FROM scored GROUP BY vec_id)
          SELECT vec_id, max_benchmark_cosine,
            CAST(CASE WHEN max_benchmark_cosine >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
              AS contaminated
          FROM mx ORDER BY vec_id""")),

    // ---- IVF with TRAINED centroids — the ANN stack you'd actually ship:
    //      q93's Lloyd step is the trainer (one full-dim iteration from the
    //      deterministic seeds), the learned means become the coarse
    //      quantizer, and search is restricted to the query's cluster
    //      (q31's shape with a learned codebook). Determinism carries
    //      end-to-end: per-dim means come from micro-quantized exact long
    //      sums (order-free), the mean arrays assemble in dim order, and
    //      every dot product is a row-local left-to-right double fold that
    //      DuckDB's list_reduce replays bit-identically — so a TRAINED
    //      k-means assignment is still hash-checkable cross-engine. Scale
    //      shape per iteration: broadcast k centroids, one (cid, dim, long)
    //      partial-sum shuffle; more iterations repeat the same plan. -------
    Q("q133_ivf_trained",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val seeds = e.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"), $"nrm".as("cn"))
        val trained = graft.operators.KMeans.train(s, e, seeds, iters = 1)
        val assign = graft.operators.KMeans.assign(s, e, trained)
        val q = assign.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"), $"cid")
        val scored = assign.join(broadcast(q), Seq("cid"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"query_id", $"rank", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH $centsCte,
          ${cosineArgmaxCte("a0", "vec_id, embedding, cid")},
          comp AS (SELECT cid, dim,
                 CAST(sum(CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000.0) AS BIGINT)) AS DOUBLE)
                   / 1000.0 / count(*) AS m
               FROM a0, UNNEST(range(0, 64)) AS t(dim)
               GROUP BY cid, dim),
          tc AS (SELECT cid, list(m ORDER BY dim) AS cv FROM comp GROUP BY cid),
          ${assignCte("a1", "tc")},
          q AS (SELECT vec_id AS query_id, embedding AS qv, cid
                FROM a1 WHERE vec_id % 100 = 0),
          scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                 ${dotSql("q.qv", "a.embedding")}
                   / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cosine
               FROM q JOIN a1 a ON a.cid = q.cid AND a.vec_id <> q.query_id)
          SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
          WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ---- hard-negative mining (contrastive training): for each query the
    //      top-3 most-similar vectors with a DIFFERENT label — the
    //      highest-value negatives for a contrastive/embedding fine-tune
    //      batch. Same scale shape as q30: the query set broadcasts, the
    //      corpus never shuffles (the label filter rides the broadcast
    //      join), and only the per-query rank rollup exchanges data. -------
    Q("q142_hard_negatives",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir)
          .select($"vec_id", $"embedding", normFast($"embedding").as("nrm"), $"label")
        val q = e.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"),
            $"nrm".as("qn"), $"label".as("qlabel"))
        val scored = e.join(broadcast(q),
            $"vec_id" =!= $"query_id" && $"label" =!= $"qlabel")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            $"label".as("neighbor_label"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"query_id", $"rank", $"neighbor_id", $"neighbor_label", $"cosine")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
                    FROM embeddings WHERE vec_id % 100 = 0),
        scored AS (SELECT query_id, e.vec_id AS neighbor_id,
                     e.label AS neighbor_label,
                     ${dotSql("qv", "e.embedding")}
                       / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cosine
                   FROM q JOIN embeddings e
                     ON e.vec_id <> q.query_id AND e.label <> q.qlabel)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, neighbor_label, cosine
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
        WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ---- kNN label audit (embedding-quality eval): majority label of each
    //      query's 5 nearest neighbors vs its own label — the standard
    //      linear-probe-free check that an embedding space separates
    //      classes. Deterministic vote tie-break (votes desc, label asc).
    //      Broadcast query set; two bounded shuffles (rank, vote rollup),
    //      both over query-set-sized data. -------------------------------
    Q("q143_knn_label_audit",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir)
          .select($"vec_id", $"embedding", normFast($"embedding").as("nrm"), $"label")
        val q = e.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"),
            $"nrm".as("qn"), $"label".as("true_label"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        val knn = e.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"query_id", $"true_label", $"vec_id".as("neighbor_id"),
            $"label".as("nl"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
        val vw = Window.partitionBy($"query_id").orderBy($"votes".desc, $"nl")
        knn.groupBy($"query_id", $"true_label", $"nl")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(vw))
          .filter($"vr" === 1)
          .select($"query_id", $"true_label", $"nl".as("pred_label"), $"votes",
            when($"nl" === $"true_label", 1L).otherwise(0L).as("correct"))
          .orderBy($"query_id")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      label AS true_label
                    FROM embeddings WHERE vec_id % 100 = 0),
        scored AS (SELECT query_id, true_label, e.vec_id AS neighbor_id,
                     e.label AS nl,
                     ${dotSql("qv", "e.embedding")}
                       / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cosine
                   FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        knn AS (SELECT query_id, true_label, nl FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
            WHERE rn <= 5),
        votes AS (SELECT query_id, true_label, nl, count(*) AS votes
                  FROM knn GROUP BY query_id, true_label, nl)
        SELECT query_id, true_label, nl AS pred_label, votes,
          CAST(CASE WHEN nl = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY votes DESC, nl) AS vr FROM votes)
        WHERE vr = 1 ORDER BY query_id""")),

    // ---- embedding-distribution audit: per-dimension mean and variance of
    //      the whole corpus — the drift/anisotropy check run before trusting
    //      a cosine index (a dimension whose mean drifts from 0 or whose
    //      variance collapses flags a degenerate encoder batch). Components
    //      quantize to exact 1e-3 longs BEFORE the one (dim)-keyed shuffle
    //      (q93's recipe: long sums are associative-exact at any
    //      parallelism), and both moments ride the same aggregate. ---------
    Q("q144_embedding_moments",
      (s, dir) => {
        import s.implicits._
        emb(s, dir)
          .select(posexplode($"embedding").as(Seq("dim", "v")))
          .withColumn("q", round($"v".cast("double") * 1000.0).cast("long"))
          .groupBy($"dim")
          .agg(count(lit(1)).as("n_vecs"), sum($"q").as("sq"),
            sum($"q" * $"q").as("sq2"))
          .select($"dim", $"n_vecs", $"sq2",
            ($"sq".cast("double") / 1000.0 / $"n_vecs").as("mean_v"))
          .select($"dim", $"n_vecs", $"mean_v",
            (($"sq2".cast("double") / 1000000.0) / $"n_vecs"
              - $"mean_v" * $"mean_v").as("var_v"))
          .orderBy($"dim")
      },
      Some("""WITH x AS (SELECT dim,
              CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000.0) AS BIGINT) AS q
            FROM embeddings, UNNEST(range(0, 64)) AS t(dim)),
          a AS (SELECT dim, count(*) AS n_vecs, sum(q) AS sq, sum(q * q) AS sq2
                FROM x GROUP BY dim),
          m AS (SELECT dim, n_vecs, sq2,
                  CAST(sq AS DOUBLE) / 1000.0 / n_vecs AS mean_v FROM a)
          SELECT CAST(dim AS INT) AS dim, n_vecs, mean_v,
            (CAST(sq2 AS DOUBLE) / 1000000.0) / n_vecs - mean_v * mean_v AS var_v
          FROM m ORDER BY dim""")),

    // ---- TWO-iteration Lloyd training (q133 runs one): the loop shape
    //      that actually converges a coarse quantizer, each round the same
    //      broadcast-centroids + one (cid, dim, long) partial-sum shuffle,
    //      with `KMeans.train` truncating the tiny centroid lineage per
    //      round. Still hash-checkable end-to-end: the oracle replays BOTH
    //      mean recomputations and the final cluster-restricted search. ----
    Q("q163_ivf_trained2",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val seeds = e.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"), $"nrm".as("cn"))
        val trained = graft.operators.KMeans.train(s, e, seeds, iters = 2)
        val assign = graft.operators.KMeans.assign(s, e, trained)
        val q = assign.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"), $"cid")
        val scored = assign.join(broadcast(q), Seq("cid"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"query_id", $"rank", $"neighbor_id", $"cosine")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""$lloydTwoRounds
          ${assignCte("a2", "tc2")},
          q AS (SELECT vec_id AS query_id, embedding AS qv, cid
                FROM a2 WHERE vec_id % 100 = 0),
          scored AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                 ${dotSql("q.qv", "a.embedding")}
                   / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("a.embedding", "a.embedding")})) AS cosine
               FROM q JOIN a2 a ON a.cid = q.cid AND a.vec_id <> q.query_id)
          SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
          WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ---- two-stage retrieval (the production ANN pattern): IVF-PQ
    //      generates a WIDE candidate set (top-10 by approx distance, the
    //      cheap 4-probe scoring), then the survivors re-rank by EXACT
    //      cosine against the raw vectors. At 100 TB the re-rank touches
    //      only queries × 10 rows — the candidate list broadcasts, the
    //      raw-vector probe is a broadcast join against the corpus (no
    //      corpus shuffle), so recall improves at candidate-list cost,
    //      never corpus cost. This is the dial SCALING.md names: widen
    //      stage 1 for recall, stage 2 restores exact ordering. ------------
    Q("q154_ann_rerank",
      (s, dir) => {
        import s.implicits._
        val (scored, q) = ivfpqApprox(s, dir)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val cand = graft.plans.TopK.perKey(scored, Seq("query_id"),
          Seq(graft.plans.TopK.Order("approx_l2"), graft.plans.TopK.Order("vec_id")), 10)
        val exact = e.join(broadcast(cand), Seq("vec_id"))
          .join(broadcast(q.select($"query_id", $"qv")), Seq("query_id"))
          .select($"query_id", $"vec_id".as("neighbor_id"), $"approx_l2",
            (dotFast($"qv", $"embedding")
              / (sqrt(dotFast($"qv", $"qv")) * $"nrm")).as("cosine"))
        val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
        exact.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"query_id", $"rank", $"neighbor_id", $"cosine", $"approx_l2")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""$ivfPqScored,
          cand AS (SELECT query_id, vec_id, approx_l2
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY approx_l2, vec_id) AS rn FROM scored)
              WHERE rn <= 10),
          rer AS (SELECT c2.query_id, c2.vec_id AS neighbor_id, c2.approx_l2,
                ${dotSql("q.qv", "e.embedding")}
                  / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cosine
              FROM cand c2 JOIN embeddings e ON e.vec_id = c2.vec_id
              JOIN q ON q.query_id = c2.query_id)
          SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cosine, approx_l2
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rn FROM rer)
          WHERE rn <= 3 ORDER BY query_id, rank""")),

    // ---- nDCG@10 audit of the IVF-PQ stack ("measure, don't guess" for
    //      ANN ranking QUALITY, complementing q179's recall-of-candidates):
    //      ground truth = exact-cosine top-10 per query (query-set-only
    //      broadcast, the q30 scan); graded relevance of a neighbor =
    //      11 − exact_rank (0 if outside the exact top-10); the approx
    //      list = q154's IVF-PQ top-10 by asymmetric distance. Each DCG
    //      term rel/log2(rank+1) micro-quantizes to a 1e-6 long before the
    //      per-query sum, and IDCG is built from the SAME quantized terms
    //      over ranks 1..10 — so ndcg is a ratio of two exact integers.
    //      This is the dial for nprobe / code-book size: rising nDCG
    //      justifies a bigger LUT, falling recall says raise nprobe.
    //      Cost: the already-bounded PQ candidates + one query-broadcast
    //      exact scan — no new shuffle shape at 100 TB. -------------------
    Q("q183_ann_ndcg",
      (s, dir) => {
        import s.implicits._
        val (scored, q) = ivfpqApprox(s, dir)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val aw = Window.partitionBy($"query_id").orderBy($"approx_l2", $"vec_id")
        val approx = graft.plans.TopK.perKey(scored, Seq("query_id"),
          Seq(graft.plans.TopK.Order("approx_l2"), graft.plans.TopK.Order("vec_id")), 10)
          .withColumn("arank", row_number().over(aw))
        // query norm computed ONCE per query inside the broadcast set (the
        // q30 pattern) — not per scanned (row × query) pair
        val qn = q.select($"query_id", $"qv")
          .withColumn("qnrm", sqrt(dotFast($"qv", $"qv")))
        val exact = e.join(broadcast(qn), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            (dotFast($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine"))
        val ew = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
        val exact10 = exact.withColumn("erank", row_number().over(ew))
          .filter($"erank" <= 10)
          .select($"query_id", $"vec_id", (lit(11) - $"erank").as("rel"))
        val terms = approx.join(exact10, Seq("query_id", "vec_id"), "left")
          .select($"query_id",
            round(coalesce($"rel", lit(0)).cast("double")
              / log2($"arank" + 1) * 1e6).cast("long").as("t"),
            when($"rel".isNotNull, 1L).otherwise(0L).as("hit"))
        val dcg = terms.groupBy($"query_id")
          .agg(sum($"t").as("dcg_micro"), sum($"hit").as("n_hits"))
        val idcg = s.range(1, 11)
          .select(round((lit(11) - $"id").cast("double")
            / log2($"id" + 1) * 1e6).cast("long").as("it"))
          .agg(sum($"it").as("idcg_micro"))
        dcg.crossJoin(broadcast(idcg))
          .select($"query_id", $"n_hits",
            ($"dcg_micro".cast("double") / 1e6).as("dcg"),
            ($"dcg_micro".cast("double") / $"idcg_micro".cast("double")).as("ndcg"))
          .orderBy($"query_id")
      },
      Some(s"""$ivfPqScored,
          approx AS (SELECT query_id, vec_id, rn AS arank
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY approx_l2, vec_id) AS rn FROM scored)
              WHERE rn <= 10),
          ex AS (SELECT q.query_id, e.vec_id,
                ${dotSql("q.qv", "e.embedding")}
                  / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cosine
              FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
          exact10 AS (SELECT query_id, vec_id, 11 - rn AS rel
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id) AS rn FROM ex)
              WHERE rn <= 10),
          terms AS (SELECT a.query_id,
                CAST(round(CAST(COALESCE(x.rel, 0) AS DOUBLE)
                  / log2(a.arank + 1) * 1000000) AS BIGINT) AS t,
                CASE WHEN x.rel IS NOT NULL THEN 1 ELSE 0 END AS hit
              FROM approx a LEFT JOIN exact10 x
                ON x.query_id = a.query_id AND x.vec_id = a.vec_id),
          dcg AS (SELECT query_id, sum(t) AS dcg_micro,
                CAST(sum(hit) AS BIGINT) AS n_hits
              FROM terms GROUP BY query_id),
          idcg AS (SELECT sum(CAST(round(CAST(11 - i AS DOUBLE)
                  / log2(i + 1) * 1000000) AS BIGINT)) AS idcg_micro
              FROM (SELECT unnest(range(1, 11)) AS i))
          SELECT query_id, n_hits,
            CAST(dcg_micro AS DOUBLE) / 1000000.0 AS dcg,
            CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE) AS ndcg
          FROM dcg CROSS JOIN idcg
          ORDER BY query_id""")),

    // ---- distributed PCA power iteration (embedding whitening / energy
    //      audit — the training side of q124's matryoshka truncation
    //      decision): two iterations of v ← Xᵀ(Xv) on the raw
    //      second-moment operator, starting from the uniform unit-ish
    //      vector. NO covariance matrix is ever materialized (64² cells ×
    //      nothing — the two-pass matvec IS the scalable form) and NO
    //      driver collect: the iterate flows between passes as a 64-row
    //      broadcast, like q178's weights. Per-row contributions
    //      x_k·(x·v) micro-quantize to 1e-6 longs; posexplode rows
    //      collapse to ≤64 per partition via map-side combine, so the
    //      per-dim shuffle is partition-count-sized, not corpus-sized.
    //      Norms fold 64 quantized squares — exact integers, no parallel
    //      double sum anywhere. Output: the normalized second iterate and
    //      ‖Xᵀ(Xv₁)‖ as the spectral-energy estimate. -------------------
    Q("q186_pca_power",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val v0 = org.apache.spark.sql.functions.typedLit(Array.fill(64)(0.125))
        val e = emb(s, dir).select($"vec_id", $"embedding")
        val x1 = e.select(dotFast($"embedding", v0).as("dot0"),
            posexplode($"embedding").as(Seq("dim", "x")))
          .groupBy($"dim")
          .agg(sum(round($"x".cast("double") * $"dot0" * 1e6).cast("long")).as("v1m"))
        val n1 = x1.agg(sqrt(sum(round(($"v1m".cast("double") / 1e6)
            * ($"v1m".cast("double") / 1e6) * 1e6).cast("long")).cast("double") / 1e6)
          .as("nrm"))
        val v1 = x1.crossJoin(broadcast(n1))
          .select($"dim", (($"v1m".cast("double") / 1e6) / $"nrm").as("w"))
        val d1 = e.select($"vec_id", posexplode($"embedding").as(Seq("dim", "x")))
          .join(broadcast(v1), "dim")
          .groupBy($"vec_id")
          .agg((sum(round($"x".cast("double") * $"w" * 1e6).cast("long"))
            .cast("double") / 1e6).as("dot1"))
        val x2 = e.join(d1, "vec_id")
          .select($"dot1", posexplode($"embedding").as(Seq("dim", "x")))
          .groupBy($"dim")
          .agg(sum(round($"x".cast("double") * $"dot1" * 1e6).cast("long")).as("v2m"))
        val n2 = x2.agg(sqrt(sum(round(($"v2m".cast("double") / 1e6)
            * ($"v2m".cast("double") / 1e6) * 1e6).cast("long")).cast("double") / 1e6)
          .as("nrm2"))
        x2.crossJoin(broadcast(n2))
          .select($"dim", (($"v2m".cast("double") / 1e6) / $"nrm2").as("component"),
            $"nrm2".as("spectral_energy"))
          .orderBy($"dim")
      },
      Some {
        def dot0Sql(e: String) =
          "list_reduce(list_transform(range(0, 64), i -> " +
            s"CAST($e[i + 1] AS DOUBLE) * 0.125), (acc, x) -> acc + x)"
        s"""WITH d0 AS (SELECT vec_id, embedding, ${dot0Sql("embedding")} AS dot0
              FROM embeddings),
          x1 AS (SELECT dim,
                sum(CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * dot0 * 1000000) AS BIGINT)) AS v1m
              FROM d0, UNNEST(range(0, 64)) AS t(dim) GROUP BY dim),
          n1 AS (SELECT sqrt(CAST(sum(CAST(round((CAST(v1m AS DOUBLE) / 1000000)
                * (CAST(v1m AS DOUBLE) / 1000000) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)
              AS nrm FROM x1),
          v1 AS (SELECT dim, (CAST(v1m AS DOUBLE) / 1000000) / nrm AS w
              FROM x1 CROSS JOIN n1),
          d1 AS (SELECT e.vec_id,
                CAST(sum(CAST(round(CAST(e.embedding[v1.dim + 1] AS DOUBLE) * v1.w * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000 AS dot1
              FROM embeddings e CROSS JOIN v1 GROUP BY e.vec_id),
          x2 AS (SELECT dim,
                sum(CAST(round(CAST(e.embedding[dim + 1] AS DOUBLE) * d1.dot1 * 1000000) AS BIGINT)) AS v2m
              FROM embeddings e JOIN d1 USING (vec_id), UNNEST(range(0, 64)) AS t(dim)
              GROUP BY dim),
          n2 AS (SELECT sqrt(CAST(sum(CAST(round((CAST(v2m AS DOUBLE) / 1000000)
                * (CAST(v2m AS DOUBLE) / 1000000) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)
              AS nrm2 FROM x2)
          SELECT CAST(dim AS INT) AS dim,
            (CAST(v2m AS DOUBLE) / 1000000) / nrm2 AS component,
            nrm2 AS spectral_energy
          FROM x2 CROSS JOIN n2 ORDER BY dim"""
      }),

    // ---- SemDeDup (Abbas et al. 2023): semantic dedup by cluster-
    //      restricted cosine. Within each IVF cluster, vectors whose
    //      cosine exceeds the threshold form a semantic-duplicate group;
    //      the paper's keep policy retains the member FARTHEST from the
    //      cluster centroid (lowest centroid cosine — diversity survives,
    //      the prototypical redundant copy drops). A vector is dropped iff
    //      some same-cluster partner above the threshold sits closer to
    //      the boundary (strictly lower ccos, vec_id tie-break) — a pure
    //      pairwise rule, no per-group argmin shuffle. Candidates come
    //      ONLY from shared clusters (q43's bound, never all-pairs); at
    //      100 TB the cluster count scales with the corpus so per-cluster
    //      membership stays bounded, and the threshold join is the same
    //      co-partitioned self-join q43 already runs. --------------------
    Q("q175_semdedup",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val cents = e.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"), $"nrm".as("cn"))
        val aw = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
        val assign = e.join(broadcast(cents))
          .select($"vec_id", $"embedding", $"nrm", $"cid",
            (dotFast($"cv", $"embedding") / ($"cn" * $"nrm")).as("ccos"))
          .withColumn("arn", row_number().over(aw))
          .filter($"arn" === 1)
          .select($"vec_id", $"embedding", $"nrm", $"cid", $"ccos")
        val drops = assign.as("a").join(assign.as("b"),
            $"a.cid" === $"b.cid" && $"a.vec_id" =!= $"b.vec_id" &&
            (dotFast($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm")) > 0.35 &&
            ($"b.ccos" < $"a.ccos" ||
              ($"b.ccos" === $"a.ccos" && $"b.vec_id" < $"a.vec_id")))
          .select($"a.vec_id".as("vec_id")).distinct()
        assign.join(drops.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
          .select($"vec_id", $"cid", $"ccos",
            when($"hit".isNotNull, "drop").otherwise("keep").as("verdict"))
          .orderBy($"vec_id")
      },
      Some(s"""WITH $centsCte,
          ${cosineArgmaxCte("asg", "vec_id, embedding, cid, ccos", ccos = true)},
          drops AS (SELECT DISTINCT a.vec_id
                    FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
                      AND ${dotSql("a.embedding", "b.embedding")}
                        / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) > 0.35
                      AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id)))
          SELECT a.vec_id, a.cid, a.ccos,
            CASE WHEN d.vec_id IS NULL THEN 'keep' ELSE 'drop' END AS verdict
          FROM asg a LEFT JOIN drops d USING (vec_id) ORDER BY vec_id""")),

    // ---- PQ codebook TRAINING (q109/q154 consume a codebook; this is
    //      where one comes from): per-subspace k-means, one Lloyd step —
    //      split 64 dims into 4×16 subvectors, assign every subvector to
    //      its nearest (L2) seed centroid, re-estimate each centroid as
    //      the cluster mean. The four subspace problems are INDEPENDENT —
    //      they ride one plan: explode sub ∈ 0..3, broadcast the 16 seed
    //      subvectors, argmin via the same bit-identical l2 fold q109
    //      encodes with, then per-(sub, cid, dim) means from exact
    //      quantized-long sums (order-free at any parallelism; q93's
    //      recipe). Scale shape per iteration: one broadcast of M·k
    //      subvectors + one (sub, cid, dim)-keyed partial-sum shuffle of
    //      fixed width M·k·16 — corpus size only affects the map side.
    //      More Lloyd iterations = the same plan repeated (q163's loop). --
    Q("q194_pq_train",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val sv = emb(s, dir)
          .select($"vec_id", explode(sequence(lit(0), lit(3))).as("sub"),
            $"embedding")
          .select($"vec_id", $"sub",
            expr("slice(embedding, sub * 16 + 1, 16)").as("v"))
        val seeds = sv.filter($"vec_id" < 4)
          .select($"sub", $"vec_id".cast("int").as("cid"), $"v".as("cv"))
        val aw = Window.partitionBy($"vec_id", $"sub").orderBy($"d2", $"cid")
        val assign = sv.join(broadcast(seeds), Seq("sub"))
          .withColumn("d2", expr("vec_l2sq(v, cv)"))
          .withColumn("rn", row_number().over(aw))
          .filter($"rn" === 1)
          .select($"vec_id", $"sub", $"cid", $"v")
        assign
          .select($"sub", $"cid", explode(sequence(lit(0), lit(15))).as("dim"),
            $"v")
          .select($"sub", $"cid", $"dim",
            round(expr("CAST(element_at(v, dim + 1) AS DOUBLE)") * 1000)
              .cast("long").as("q"))
          .groupBy($"sub", $"cid", $"dim")
          .agg(sum($"q").as("sq"), count(lit(1)).as("n"))
          .select($"sub", $"cid", $"dim",
            ($"sq".cast("double") / 1000.0 / $"n").as("c_new"), $"n")
          .orderBy($"sub", $"cid", $"dim")
      },
      Some {
        val l2 = "list_reduce(list_transform(list_zip(s.v, c.cv), " +
          "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * " +
          "(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), (acc, x) -> acc + x)"
        s"""WITH sv AS (SELECT vec_id, CAST(t.sub AS INT) AS sub,
                 embedding[t.sub * 16 + 1 : t.sub * 16 + 16] AS v
               FROM embeddings, (SELECT unnest(range(0, 4)) AS sub) t),
          seeds AS (SELECT sub, CAST(vec_id AS INT) AS cid, v AS cv
               FROM sv WHERE vec_id < 4),
          d AS (SELECT s.vec_id, s.sub, c.cid, s.v, $l2 AS d2
               FROM sv s JOIN seeds c ON c.sub = s.sub),
          a AS (SELECT vec_id, sub, cid, v FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                 ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
          j AS (SELECT sub, cid, CAST(t.dim AS INT) AS dim,
                 CAST(round(CAST(v[t.dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q
               FROM a, (SELECT unnest(range(0, 16)) AS dim) t),
          g AS (SELECT sub, cid, dim, sum(q) AS sq,
                 CAST(count(*) AS BIGINT) AS n
               FROM j GROUP BY sub, cid, dim)
          SELECT sub, cid, dim, CAST(sq AS DOUBLE) / 1000.0 / n AS c_new, n
          FROM g ORDER BY sub, cid, dim"""
      }),

    // ---- hybrid retrieval via reciprocal-rank fusion: the production
    //      answer to "lexical and semantic search disagree" — rank the
    //      SAME candidate pool independently by embedding cosine and by
    //      token-set overlap of the paired documents (doc_id = vec_id,
    //      the q112 cross-modal contract), then fuse with
    //      RRF(c) = 1/(60+r_sem) + 1/(60+r_lex) (Cormack et al.'s k=60).
    //      Rank-THEN-fuse is what makes hybrid search score-scale-free:
    //      cosine ∈ [−1,1] and overlap ∈ ℕ never need calibration because
    //      only their orderings survive. Both ranks carry total
    //      tie-breaks, so the fused score is a two-term sum of exact
    //      rationals — deterministic cross-engine with NO quantization.
    //      Scale: queries broadcast (vec_id ≡ 0 mod 100 — small by
    //      construction), each modality scores candidates in one pass,
    //      per-query windows keep rank state to one query's list. --------
    Q("q207_rrf_fusion",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val toks = Tables(s, dir, "documents")
          .select($"doc_id", array_distinct(split($"text", " ")).as("tset"))
        val e = emb(s, dir).select($"vec_id", $"embedding", normFast($"embedding").as("nrm"))
        val q = e.filter($"vec_id" % 100 === 0)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn"))
          .join(toks.select($"doc_id".as("query_id"), $"tset".as("qt")), "query_id")
        val cand = e.join(toks, e("vec_id") === toks("doc_id"))
          .select($"vec_id", $"embedding", $"nrm", $"tset")
        val scored = cand.join(broadcast(q), $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("cand_id"),
            (dotFast($"qv", $"embedding") / ($"qn" * $"nrm")).as("cosine"),
            size(array_intersect($"qt", $"tset")).as("overlap"))
        val wSem = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"cand_id")
        val wLex = Window.partitionBy($"query_id").orderBy($"overlap".desc, $"cand_id")
        val wFused = Window.partitionBy($"query_id").orderBy($"rrf".desc, $"cand_id")
        scored
          .withColumn("sem_rank", row_number().over(wSem))
          .withColumn("lex_rank", row_number().over(wLex))
          .withColumn("rrf",
            lit(1.0) / (lit(60) + $"sem_rank") + lit(1.0) / (lit(60) + $"lex_rank"))
          .withColumn("rank", row_number().over(wFused))
          .filter($"rank" <= 5)
          .select($"query_id", $"rank", $"cand_id",
            $"sem_rank".cast("int").as("sem_rank"),
            $"lex_rank".cast("int").as("lex_rank"), $"rrf")
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tset
                    FROM documents),
        q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, t.tset AS qt
              FROM embeddings e JOIN toks t ON e.vec_id = t.doc_id
              WHERE e.vec_id % 100 = 0),
        scored AS (SELECT query_id, e.vec_id AS cand_id,
            ${dotSql("qv", "e.embedding")}
              / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("e.embedding", "e.embedding")})) AS cosine,
            len(list_intersect(qt, t.tset)) AS overlap
          FROM q JOIN embeddings e ON e.vec_id <> q.query_id
                 JOIN toks t ON e.vec_id = t.doc_id),
        ranked AS (SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS sem_rank,
            row_number() OVER (PARTITION BY query_id ORDER BY overlap DESC, cand_id) AS lex_rank
          FROM scored),
        fused AS (SELECT *,
            CAST(1.0 AS DOUBLE) / (60 + sem_rank)
              + CAST(1.0 AS DOUBLE) / (60 + lex_rank) AS rrf
          FROM ranked)
        SELECT query_id, CAST(rn AS INT) AS rank, cand_id,
          CAST(sem_rank AS INT) AS sem_rank, CAST(lex_rank AS INT) AS lex_rank, rrf
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rrf DESC, cand_id) AS rn FROM fused)
        WHERE rn <= 5 ORDER BY query_id, rank""")),

    // ---- Lloyd CONVERGENCE audit (VERDICT r9/r10 item 7): the spherical
    //      k-means objective — total (1 − max-cosine) "inertia" — must be
    //      non-increasing across the two q163 training iterations, and
    //      the claim is hash-gated, not asserted: the query emits the
    //      inertia under the seed centroids, after iteration 1 and after
    //      iteration 2, plus the non-increasing verdict, and the oracle
    //      REPLAYS both mean recomputations (same integer-quantized
    //      (cid, dim) partial sums as q133/q163) and all three
    //      assignments from raw rows. The monotonicity argument: cosine
    //      is scale-invariant, so the un-normalized micro-quantized mean
    //      points in (quantization-error-close to) the spherical-k-means
    //      optimal update direction; assignment then can only improve
    //      each vector's max cosine. Inertia sums are per-row quantized
    //      to 1e-9 longs BEFORE the sum so the rollup is
    //      order-independent (a raw double sum would be
    //      partitioning-dependent and ungateable). Scale shape: three
    //      broadcast-centroid passes + the two (cid, dim, long)
    //      partial-sum shuffles q163 already pays — the audit adds no
    //      new shuffle class. ---------------------------------------------
    Q("q261_lloyd_convergence",
      (s, dir) => {
        import s.implicits._
        graft.expressions.VectorExpressions.register(s)
        val e = emb(s, dir).select($"vec_id", $"embedding",
          normFast($"embedding").as("nrm"))
        val seeds = e.filter($"vec_id" < 8)
          .select($"vec_id".as("cid"), $"embedding".as("cv"), $"nrm".as("cn"))
        val c1 = graft.operators.KMeans.train(s, e, seeds, iters = 1)
        val c2 = graft.operators.KMeans.train(s, e, c1, iters = 1)
        def inertia(cents: org.apache.spark.sql.DataFrame, name: String) =
          e.join(broadcast(cents))
            .select($"vec_id",
              (dotFast($"cv", $"embedding") / ($"cn" * $"nrm")).as("ccos"))
            .groupBy($"vec_id").agg(max($"ccos").as("mc"))
            .agg(sum(round((lit(1.0) - $"mc") * 1000000000.0).cast("long"))
              .as(name))
        inertia(seeds, "inertia0_q")
          .crossJoin(broadcast(inertia(c1, "inertia1_q")))
          .crossJoin(broadcast(inertia(c2, "inertia2_q")))
          .select($"inertia0_q", $"inertia1_q", $"inertia2_q",
            when($"inertia1_q" <= $"inertia0_q" && $"inertia2_q" <= $"inertia1_q",
              1L).otherwise(0L).as("non_increasing"))
      },
      Some {
        // q163's assignment and mean-update CTEs, plus each centroid
        // set's quantized inertia
        def inertiaCte(name: String, centsRel: String, centsCol: String) =
          s"""$name AS (SELECT CAST(sum(CAST(round((1.0 - mc) * 1000000000.0) AS BIGINT)) AS BIGINT) AS iq
               FROM (SELECT e.vec_id, max(
                   ${dotSql(s"t.$centsCol", "e.embedding")}
                     / (sqrt(${dotSql(s"t.$centsCol", s"t.$centsCol")}) * sqrt(${dotSql("e.embedding", "e.embedding")}))) AS mc
                 FROM embeddings e, $centsRel t GROUP BY e.vec_id))"""
        s"""$lloydTwoRounds
          ${inertiaCte("i0", "cents", "cv")},
          ${inertiaCte("i1", "tc1", "cv")},
          ${inertiaCte("i2", "tc2", "cv")}
          SELECT i0.iq AS inertia0_q, i1.iq AS inertia1_q, i2.iq AS inertia2_q,
            CAST(CASE WHEN i1.iq <= i0.iq AND i2.iq <= i1.iq
                 THEN 1 ELSE 0 END AS BIGINT) AS non_increasing
          FROM i0, i1, i2"""
      })
  )
}
