package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table loader for the driver-generated test tables (TESTDATA.md).
  *
  * All engine queries take `(SparkSession, sfDir)` and resolve tables through
  * here so the same code runs at any scale factor. At cluster scale the same
  * contract points at a distributed FS path; nothing here is local-mode-only.
  *
  * The `events` table stores TIMESTAMP(NANOS) which Spark's vectorized
  * reader rejects; sessions must set
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[configure]]) and the
  * loader converts the nano longs back to a proper timestamp column (the
  * generator emits whole-microsecond values, so the ns→µs cast is lossless).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Confs every graft session needs (Verify, Bench, tests). The warehouse
    * gets a fresh per-process dir so managed-table locations never collide
    * with leftovers of an earlier JVM; the pid key lets the NEXT process
    * sweep dirs whose owner died (ADVICE r12 — bucketed-table warehouses
    * used to accumulate under /tmp with no cleanup).
    */
  lazy val sessionConfs: Map[String, String] = {
    // legacy pre-pid warehouse dirs (bare UUID names) are swept too —
    // their writers ran an older binary and are gone
    Fs.sweepDeadPidDirs("/tmp/graft-warehouse", "^(\\d+)-.*$".r,
      sweepLegacy = true)
    baseConfs
  }

  private val baseConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // static conf: every SessionState (including the child sessions
    // StreamingOps.streamSession builds with newSession()) instantiates
    // this listener into its own StreamingQueryManager, all feeding
    // the shared static buffer — an addListener on the parent would miss
    // child sessions, whose progress events are filtered per-session.
    "spark.sql.streaming.streamingQueryListeners" -> "graft.BenchListener",
    "spark.sql.warehouse.dir" ->
      s"/tmp/graft-warehouse/${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID()}")

  /** Fan CPU-bound row-local work across every core (r16; guide §2.5
    * "input skew: one huge unsplittable file → repartition immediately
    * after the read"). The driver-generated parquet is a SINGLE row group
    * per table, so a scan is one unsplittable task — and every pre-shuffle
    * stage (tokenize/explode/md5 kernels, codec encode+decode, map-side
    * partial aggregation) ran on one core of however many the session
    * has. Scale-adaptive, not local-tuned: when the scan already carries
    * at least defaultParallelism splits (any real multi-file table at
    * cluster scale), this is the IDENTITY and adds no exchange; it only
    * round-robins when the file layout under-splits the scan, and what it
    * moves is the query's own narrow projection. Round-robin repartition
    * is retry-safe (sortBeforeRepartition) and placement-independent:
    * every gate query's determinism contract (value-keyed hashing,
    * decimal/quantized sums, sorted collect_lists, total ORDER BY)
    * already holds at any partitioning.
    */
  def fanout[T](d: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    if (needsFanout(d)) d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    else d

  /** Split-count decision memo (r17, ADVICE r16): the old check ran
    * `d.rdd.getNumPartitions` at EVERY call site — a full extra physical
    * planning + RDD-lineage pass per query before the query plans again
    * for execution (~28 sites in the codec family alone). The scan split
    * count is a pure function of the input FILE SET and the core count —
    * not of the projection — so the probe runs once per (file set, p) per
    * process and every later site reuses the answer. Keyed on the leaf
    * files (from the analyzed plan, no physical planning); a regenerated
    * test dir or a different session core count misses the cache and
    * re-probes. This memoizes a PLANNING decision derived from file
    * layout, never data or results.
    */
  private val splitDecision =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Boolean]()

  private def needsFanout[T](d: org.apache.spark.sql.Dataset[T]): Boolean = {
    val p = d.sparkSession.sparkContext.defaultParallelism
    val files = d.inputFiles
    def probe(): Boolean = d.queryExecution.toRdd.getNumPartitions < p
    if (files.isEmpty) probe() // non-file source: no stable cache key
    else splitDecision.computeIfAbsent(
      (files.sorted.mkString("\n"), p), _ => probe()).booleanValue()
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("CAST(ts div 1000 AS BIGINT)")))
    else if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      // generator versions differ: TIMESTAMP(NANOS) (handled above) vs
      // plain timestamp[us] with no zone, which Spark 4 infers as
      // TIMESTAMP_NTZ. Every downstream kernel (unix_micros, watermarks,
      // window()) wants an instant; with the session pinned to UTC the
      // NTZ→TIMESTAMP cast is value-preserving and matches how the DuckDB
      // oracle treats the naive column (epoch_us of the same wall clock).
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    else df
  }
}
