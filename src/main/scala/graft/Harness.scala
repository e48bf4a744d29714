package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.llm.MiniJson

/** What every harness main shares: the core count, the one session
  * builder, the JVM warm-up, the one timing rule and the artifact I/O.
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

  /** Warm runs per query, after its cold run. */
  val WarmRuns = 3

  /** One query's timing in seconds: the cold run, the warm runs and the
    * first error. Runs stop at the first error, so a failed query has
    * fewer than [[WarmRuns]] warm samples (none when the cold run failed);
    * the failed run's own seconds are kept.
    */
  final case class Timing(cold: Double, warm: Seq[Double], error: Option[String]) {
    def median: Double = percentile(warm, 50)

    /** Interquartile range of the warm samples; at three samples it is
      * max − min.
      */
    def iqr: Double = percentile(warm, 75) - percentile(warm, 25)
  }

  /** The `p`th percentile of `xs` by nearest rank, as perfbench's
    * `Stats.percentile`.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  /** Runs `query` once cold, then [[WarmRuns]] times warm, stopping at the
    * first error. The one timing rule, which [[Runner.timed]] applies for
    * Bench and LadderAdjudicate.
    */
  def time(query: () => Unit): Timing = {
    def once(): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { query(); None } catch { case e: Throwable => Some(Runner.errorText(e)) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    @annotation.tailrec
    def warm(cold: Double, samples: Vector[Double]): Timing =
      if (samples.size == WarmRuns) Timing(cold, samples, None)
      else once() match {
        case (s, None) => warm(cold, samples :+ s)
        case (s, err) => Timing(cold, samples :+ s, err)
      }
    once() match {
      case (cold, None) => warm(cold, Vector.empty)
      case (cold, err) => Timing(cold, Vector.empty, err)
    }
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
