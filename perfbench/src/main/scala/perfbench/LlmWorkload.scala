package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.llm.{HttpLlmClient, LlmClientFactory}

/** The paper's two LLM pipelines in one pass, both through `HttpLlmClient`
  * against one loopback stub: Stable Schema Matching on the
  * [[MatchCases]], then Schema Mapping on the [[MappingCases]].
  */
final class LlmWorkload(spark: SparkSession, seed: Long, fixtures: File) extends Workload {
  private val server = new Stub(LlmWorkload.service, Runtime.getRuntime.availableProcessors())
  override def stub: Option[Stub] = Some(server)

  private val matching = new MatchPipeline(spark, seed)
  private val mapping = new MappingPipeline(spark, seed, fixtures)

  override def items: Int = matching.items + mapping.items

  override def prepare(): Unit = {
    matching.prepare()
    mapping.prepare()
    server.responder = Responder.Table(mapping.answers)
  }

  override def sizes: Seq[(String, Any)] =
    matching.sizes.map { case (k, v) => s"match.$k" -> v } ++
      mapping.sizes.map { case (k, v) => s"mapping.$k" -> v }

  /** The in-process run of the matching pipeline costs about a pass, so
    * only traced runs make it.
    */
  override def reference(thorough: Boolean): Unit = {
    if (thorough) matching.reference()
    mapping.reference()
  }

  override def layerMetrics: Map[String, Double] = matching.layerMetrics ++ mapping.layerMetrics

  override def pass(t: Tracer): Map[String, String] = {
    val http: LlmClientFactory = HttpLlmClient.Factory(server.endpoint, "perfbench-stub")
    val factory = if (t.enabled) TracedFactory(http) else http
    matching.pass(factory, t) ++ mapping.pass(factory, t)
  }
}

object LlmWorkload {
  /** Stub service time: 0.3 ms per request plus 2 µs per prompt token. */
  val service: ServiceModel = ServiceModel(baseMs = 0.3, perTokenMs = 0.002)
}
