package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop of passes over seeded inputs. */
trait Workload extends AutoCloseable {
  /** Items (cases or queries) one pass attempts. */
  def items: Int

  /** Untimed passes after set-up, counted in set-up time: a fresh JVM
    * runs Spark's planning and the client paths slowly until they are
    * compiled, so timed passes start once most of that is done.
    */
  def warmupPasses: Int = 1

  /** Timed passes a run makes at least, however long they take. */
  def minPasses: Int = 3

  /** Generate the inputs and set up what the pipeline reads. Called several
    * times; each call replaces what the previous one set up.
    */
  def prepare(): Unit

  /** Run one pass. Returns a failure message per failed item. */
  def pass(t: Tracer): Map[String, String]

  /** Called once before the timed passes, untimed: anything the checks
    * need that is not part of the pipeline. `thorough` (traced runs) adds
    * checks too slow for every run.
    */
  def reference(thorough: Boolean): Unit = ()

  /** Generated input sizes, printed with the results. */
  def sizes: Seq[(String, Any)]

  /** The loopback LLM, if the workload uses one. */
  def stub: Option[Stub] = None

  /** Workload-specific per-layer metrics of the last traced pass. */
  def layerMetrics: Map[String, Double] = Map.empty

  override def close(): Unit = stub.foreach(_.close())
}

object Workload {
  val names: Seq[String] = Seq("llm_pipelines", "registry_e2e")

  def apply(name: String, spark: SparkSession, seed: Long, fixtures: java.io.File): Workload =
    name match {
      case "llm_pipelines" => new LlmWorkload(spark, seed, fixtures)
      case "registry_e2e"  => new RegistryWorkload(spark, fixtures)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }
}
