package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.llm.MiniJson

/** What every harness main shares: the core count, the one session
  * builder, the JVM warm-up, the load canary and the prior-artifact read.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or every core the JVM sees when it is unset. */
  def cores: Int = coresFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def coresFrom(env: Option[String]): Int = env match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // FAIR scheduling for Bench's concurrent pass. With jobs submitted
      // one at a time, a single runnable job owns every slot regardless
      // of mode, so sequential runs are unaffected; only Bench's 4-pool
      // concurrent block exercises cross-pool sharing.
      .config("spark.scheduler.mode", "FAIR")
    graft.core.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warms the scheduler and codegen paths so the first measured query
    * does not absorb one-time startup cost.
    */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  /** Seconds for a fixed synthetic load canary: CPU-bound range generation
    * plus one small shuffle. Its cost is data-independent, so it moves
    * only with box pressure.
    */
  def canarySec(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.sum
    val t0 = System.nanoTime()
    spark.range(0, 32L * 1000 * 1000, 1, 32)
      .selectExpr("id % 9973 AS k", "id")
      .groupBy("k").agg(sum("id").as("s")).agg(sum("s")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The JSON artifact at `path`, or an empty object when the file does
    * not exist.
    */
  def readArtifact(path: String): MiniJson.JValue = {
    val p = Paths.get(path)
    if (Files.exists(p)) MiniJson.parse(Files.readString(p)) else MiniJson.JObj(Nil)
  }

  def writeArtifact(path: String, v: MiniJson.JValue): Unit =
    Files.writeString(Paths.get(path), v.render + "\n")
}
