package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The one Spark session every workload runs in: `local[cores]` with fixed
  * confs, all scratch space (warehouse, shuffle files) under the run's own
  * work directory.
  */
object Session {

  def confs(cores: Int, work: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.default.parallelism" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "127.0.0.1",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath)

  def start(cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder()
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
