package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables with the shape of the registry's test data:
  * a TPC-H-like star schema plus `events`, `documents` and `embeddings`, one
  * parquet file (one row group) per table, as `graft.core.Tables` reads them.
  *
  * Every value is a pure function of (table, row id), so the
  * same scale factor always yields byte-identical tables and the expected
  * result digests recorded for the registry workload stay valid.
  */
object Data {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Rows per table at scale factor `sf` (same ratios as the test data). */
  def rows(sf: Double): Map[String, Long] = Map(
    "customer" -> 150000, "supplier" -> 10000, "part" -> 200000,
    "orders" -> 1500000, "lineitem" -> 6000000, "events" -> 1000000,
    "documents" -> 50000, "embeddings" -> 50000)
    .map { case (t, n) => t -> math.max(1L, math.round(n * sf)) } ++
    Map("region" -> 5L, "nation" -> 25L)

  private val adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val words = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  private val day = 86400L * 1000000L
  private val epoch1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * day
  private val epoch2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * day

  private val seed = 42L

  /** A generator keyed by (table, row): independent of partitioning. */
  private def rng(table: Int, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (table.toLong << 56) ^ id)

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Document text: 10-99 words; 5% of documents repeat an earlier one
    * with " dup" appended, so near-duplicate detection has work to do.
    */
  def docText(id: Long): String = {
    val r = rng(9, id)
    if (id > 0 && r.nextDouble() < 0.05)
      docText(id - 1 - r.nextLong(math.min(id, 50L))) + " dup"
    else Array.fill(10 + r.nextInt(90))(words(r.nextInt(words.length))).mkString(" ")
  }

  /** Bump when the generated values change, so cached fixtures are remade. */
  val version = 1

  /** The tables in `only` at scale `sf` under `cache`, written once and then
    * reused by later runs: they do not depend on the run's seed.
    */
  def cached(spark: SparkSession, cache: java.io.File, sf: Double, only: Set[String]): String = {
    val dir = new java.io.File(cache, s"v$version-sf$sf-${only.toSeq.sorted.mkString("+").hashCode.toHexString}")
    if (!dir.isDirectory) {
      val tmp = new java.io.File(cache, s"${dir.getName}.tmp${ProcessHandle.current().pid()}")
      write(spark, tmp.getAbsolutePath, sf, only)
      if (!tmp.renameTo(dir) && !dir.isDirectory) sys.error(s"cannot move $tmp to $dir")
    }
    dir.getAbsolutePath
  }

  /** Write the tables in `only` under `dir`, each as `<table>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, only: Set[String]): Unit = {
    import spark.implicits._
    val n = rows(sf)
    val parts = spark.sparkContext.defaultParallelism
    def ids(t: String) = spark.range(0, n(t), 1, parts).as[Long]
    def save(t: String, df: => org.apache.spark.sql.DataFrame): Unit =
      if (only.contains(t)) df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val (nCust, nSupp, nPart, nOrd) = (n("customer"), n("supplier"), n("part"), n("orders"))

    save("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))
    save("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    save("customer", ids("customer").map { id =>
      val r = rng(1, id)
      (id, f"Customer#$id%09d", r.nextInt(25), cents(r, -999.99, 9999.99),
        segments(r.nextInt(segments.length)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    save("supplier", ids("supplier").map { id =>
      val r = rng(2, id)
      (id, f"Supplier#$id%09d", r.nextInt(25), cents(r, -999.99, 9999.99))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    save("part", ids("part").map { id =>
      val r = rng(3, id)
      (id, adjectives(r.nextInt(8)) + " " + nouns(r.nextInt(8)), s"Brand#${1 + r.nextInt(25)}",
        types(r.nextInt(types.length)), 1 + r.nextInt(50), 900.0 + (id % 1000) / 10.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    save("orders", ids("orders").map { id =>
      val r = rng(4, id)
      (id, r.nextLong(nCust), "FOP".charAt(r.nextInt(3)).toString, cents(r, 1000, 500000),
        epoch1995 + r.nextLong(2404) * day, priorities(r.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority")
      .withColumn("o_orderdate", timestamp_micros($"o_orderdate")))
    save("lineitem", ids("lineitem").map { id =>
      val r = rng(5, id)
      (r.nextLong(nOrd), r.nextLong(nPart), r.nextLong(nSupp), 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, cents(r, 900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
        "OF".charAt(r.nextInt(2)).toString, epoch1995 + (1 + r.nextLong(2498)) * day)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .withColumn("l_shipdate", timestamp_micros($"l_shipdate")))
    val nEv = n("events")
    val users = math.max(1L, nCust / 10)
    save("events", ids("events").map { id =>
      val r = rng(6, id)
      // evenly spread over 30 days, jittered inside each slot: ts stays sorted
      val slot = 30L * day / nEv
      (id, epoch2024 + id * slot + r.nextLong(math.max(1L, slot)), r.nextLong(users),
        eventTypes(r.nextInt(5)), math.max(0.01, math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros($"ts")))
    save("documents", ids("documents").map { id =>
      val text = docText(id)
      (id, text, langs(rng(7, id).nextInt(langs.length)), s"src${id % 20}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    save("embeddings", ids("embeddings").map { id =>
      val r = rng(8, id)
      val label = r.nextInt(10)
      val c = rng(10, label)
      val v = Array.fill(64)(c.nextGaussian() * 0.15 + r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(x => (x / norm).toFloat), label)
    }.toDF("vec_id", "embedding", "label"))
  }
}
