package graft

import org.apache.spark.sql.functions._

/** Scale-up generator for the sf1 smoke bench (SURVEY scale mandate —
  * "would this plan survive a 100× scale-up?" — tested empirically one
  * order of magnitude at a time): replicates the sf0.1 documents corpus
  * `factor`× with id offsets and a per-replica WORD-LEVEL perturbation.
  *
  * The perturbation matters: naive replication makes every replica a
  * near-duplicate of its source, so LSH/shingle candidate pairs grow
  * quadratically in the replica count and the "scale test" measures a
  * pathology the real corpus doesn't have. Suffixing every 3rd word
  * (phase-shifted per replica) drops cross-replica Jaccard below any
  * banding threshold — candidate growth stays ~linear, like genuinely new
  * documents — while keeping in-replica statistics (lengths, zipf shape,
  * languages, sources) intact.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [dstDir] [factor]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cores = Harness.cores
    val spark = Harness.session(cores)
    val docs = graft.core.Tables(spark, src, "documents")
    val idStride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val replicas = (0 until factor).map { r =>
      if (r == 0)
        docs.select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      else
        docs.select(
          (col("doc_id") + lit(r * idStride)).as("doc_id"),
          expr(s"""array_join(transform(split(text, ' '),
              (w, i) -> CASE WHEN (i + $r) % 3 = 0
                        THEN concat(w, '$r') ELSE w END), ' ')""").as("text"),
          col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicas.reduce(_ unionByName _)
      .repartition(cores)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val n = spark.read.parquet(s"$dst/documents.parquet").count()
    println(s"[scaleup] wrote $n documents ($factor x $src) to $dst")

    // embeddings for the vector/ANN family (full-suite sf1 bench —
    // VERDICT r15 item 7): vec_id shifts by the DOCUMENTS stride (q137/
    // q142/q154 join vec_id = doc_id, so both sides must offset
    // identically per replica), and each replica's vectors get a
    // deterministic per-element perturbation of ~0.8x the vector's RMS
    // element magnitude. The scale matters for the same reason as the
    // documents word suffix: unperturbed (or mildly perturbed) replicas
    // sit at cosine ≈ 1 to their source, so near-dup/decontamination
    // queries see candidate pairs quadratic in the replica count and
    // top-k rankings degenerate into F-way ties. At 0.8 RMS the expected
    // cross-replica cosine is ≈ 1/sqrt(1+0.64) ≈ 0.78 — below every
    // banding/near-dup threshold in the suite — while norms, label
    // balance, and cluster shape stay source-like. sin(hash(...)) keeps
    // it reproducible with no RNG state.
    val embSrc = graft.core.Tables(spark, src, "embeddings")
    val embReplicas = (0 until factor).map { r =>
      if (r == 0) embSrc.select(col("vec_id"), col("embedding"), col("label"))
      else embSrc.select(
        (col("vec_id") + lit(r * idStride)).as("vec_id"),
        expr(
          s"""transform(embedding, (x, i) -> float(double(x) +
             |  0.8d * sqrt(aggregate(embedding, 0.0d,
             |    (a, y) -> a + double(y) * double(y)) / size(embedding))
             |  * sin(double(hash(vec_id, i, $r)))))""".stripMargin)
          .as("embedding"),
        col("label"))
    }
    embReplicas.reduce(_ unionByName _)
      .repartition(cores)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    val nEmb = spark.read.parquet(s"$dst/embeddings.parquet").count()
    println(s"[scaleup] wrote $nEmb embeddings ($factor x $src) to $dst")

    // shared replicate-with-offset-ids helper: each replica shifts the
    // listed id columns by that column's (max + 1) stride — one combined
    // agg computes every stride in a single source scan. A FOREIGN-KEY
    // column that joins another replicated table must shift by the SAME
    // stride on both sides or the replica joins silently empty —
    // `sharedStrides` carries those cross-table strides in.
    def replicate(table: String, idCols: Seq[String],
        sharedStrides: Map[String, Long] = Map.empty): Unit = {
      val df = graft.core.Tables(spark, src, table)
      val strides = {
        // cast to long so int32 id columns don't ClassCastException, and
        // fail with a clear message on an empty source table (max = NULL)
        val row = df.agg(max(col(idCols.head).cast("long")),
          idCols.tail.map(c => max(col(c).cast("long"))): _*).head()
        idCols.indices.map { i =>
          sharedStrides.getOrElse(idCols(i), {
            require(!row.isNullAt(i),
              s"ScaleUp: source table '$table' is empty (or ${idCols(i)} is all-NULL); cannot derive id stride")
            row.getLong(i) + 1
          })
        }
      }
      val cols = df.columns
      val replicas = (0 until factor).map { r =>
        if (r == 0) df
        else idCols.zip(strides).foldLeft(df) { case (d, (c, st)) =>
          d.withColumn(c, col(c) + lit(r * st))
        }.select(cols.map(col): _*)
      }
      replicas.reduce(_ unionByName _)
        .repartition(cores)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      val n = spark.read.parquet(s"$dst/$table.parquet").count()
      println(s"[scaleup] wrote $n $table rows ($factor x $src) to $dst")
    }

    // lineitem for the market-basket graph family (q232/q242/q243): each
    // replica offsets BOTH the basket key and the item key, so the
    // co-purchase graph at factor F is F disjoint copies of the source
    // graph — per-pair support distribution invariant, edge/wedge growth
    // exactly linear, the way a marketplace growing with NEW catalog+orders
    // scales. Replicating orders over the SAME item universe would instead
    // multiply every pair's support by F and flood the absolute min-support
    // cut — the basket analog of the near-dup LSH pathology the document
    // perturbation exists to avoid.
    // cross-table FK strides: l_orderkey↔o_orderkey and o_custkey↔c_custkey
    // must shift identically per replica, so the scaled join graph is F
    // disjoint copies of the source join graph (q181 bucketed join, q278
    // bucket-pruned lookup, q277 incremental agg — the keyed-fact rungs
    // VERDICT r12 item 3 asked for)
    // one aggregate scan per table for ALL its cross-table maxes
    def maxOf(table: String, cols: String*): Seq[Long] = {
      val row = graft.core.Tables(spark, src, table)
        .agg(max(col(cols.head).cast("long")),
          cols.tail.map(c => max(col(c).cast("long"))): _*).head()
      cols.indices.map { i =>
        require(!row.isNullAt(i), s"ScaleUp: $table.${cols(i)} is empty/all-NULL")
        row.getLong(i)
      }
    }
    val Seq(lOrderMax) = maxOf("lineitem", "l_orderkey")
    val Seq(oOrderMax, oCustMax) = maxOf("orders", "o_orderkey", "o_custkey")
    val Seq(cCustMax) = maxOf("customer", "c_custkey")
    val orderStride = math.max(lOrderMax, oOrderMax) + 1
    val custStride = math.max(oCustMax, cCustMax) + 1
    replicate("lineitem", Seq("l_orderkey", "l_partkey"),
      Map("l_orderkey" -> orderStride))
    replicate("orders", Seq("o_orderkey", "o_custkey"),
      Map("o_orderkey" -> orderStride, "o_custkey" -> custStride))
    replicate("customer", Seq("c_custkey"), Map("c_custkey" -> custStride))

    // events for the event-time/monitoring family: replicas offset
    // user_id and event_id but keep ts — the user population grows
    // factor× while the calendar stays 30 days, exactly how a real
    // product grows (and what keeps the calendar-bounded intermediate
    // tables bounded while per-day volume scales)
    replicate("events", Seq("user_id", "event_id"))

    // region passes through unscaled (fixed 5 rows at every SF) — Bench's
    // session warm-up reads it from the target dir
    graft.core.Tables(spark, src, "region")
      .coalesce(1).write.mode("overwrite").parquet(s"$dst/region.parquet")

    // the reference-core pipeline's scale axis (VERDICT r13 item 6): the
    // schema-matching cases replicate by CASE COUNT, not fact rows —
    // copy the dimension schemas q34/q35's cases() reads and write the
    // manifest that multiplies the case set with deterministic id strides
    for (t <- Seq("nation", "supplier", "part"))
      graft.core.Tables(spark, src, t)
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dst/match_cases.json"),
      s"""{"factor":$factor}""" + "\n")
    println(s"[scaleup] wrote match_cases.json factor=$factor")
  }
}
