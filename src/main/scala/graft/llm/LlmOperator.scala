package graft.llm

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import graft.core.Model.Question

/** The LLM inference operator (SURVEY §2.F5): `mapPartitions` — NOT a UDF —
  * so the engine controls batching, bounded retry with backoff, and
  * client/connection reuse per partition (ref: `ask_LLM.py:144-269` batches
  * through a DataLoader; `llm_classes.py:130-143` retries — but infinitely;
  * we bound it, surfacing poison prompts instead of hanging an executor).
  *
  * Scale: one client per partition, `batchSize` prompts per call; executor
  * parallelism IS the request parallelism, so throughput tunes with
  * `spark.sql.shuffle.partitions` / `repartition(n)` upstream.
  */
object LlmOperator {

  final case class Generation(
      caseId: String, queryAttr: String, response: String, attempts: Int, latencyMs: Long)

  final case class Scored(
      caseId: String, queryAttr: String, candAttr: String, score: Double)

  def generate(
      questions: Dataset[Question],
      factory: LlmClientFactory,
      batchSize: Int = 8,
      maxRetries: Int = 3,
      backoffMs: Long = 10): Dataset[Generation] = {
    val spark = questions.sparkSession
    import spark.implicits._
    questions.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val client = openForTask(factory)
        it.grouped(batchSize).flatMap { batch =>
          val t0 = System.nanoTime()
          var attempt = 0
          var result: Option[Seq[String]] = None
          var lastErr: Throwable = null
          while (result.isEmpty && attempt <= maxRetries) {
            attempt += 1
            try result = Some(client.generate(batch.map(_.prompt)))
            catch {
              case e: Exception =>
                lastErr = e
                if (attempt <= maxRetries) Thread.sleep(backoffMs * attempt)
            }
          }
          val latency = (System.nanoTime() - t0) / 1000000
          result match {
            case Some(responses) =>
              batch.zip(responses).map { case (q, r) =>
                Generation(q.caseId, q.queryAttr, r, attempt, latency)
              }
            case None =>
              throw new RuntimeException(
                s"LLM generate failed after $maxRetries retries", lastErr)
          }
        }
      }
    }
  }

  /** F6: per-question candidate scoring → long-form preference rows. */
  def score(
      questions: Dataset[Question],
      factory: LlmClientFactory,
      maxRetries: Int = 3,
      backoffMs: Long = 10): Dataset[Scored] = {
    val spark = questions.sparkSession
    import spark.implicits._
    questions.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val client = openForTask(factory)
        it.flatMap { q =>
          var attempt = 0
          var result: Option[Seq[(String, Double)]] = None
          var lastErr: Throwable = null
          while (result.isEmpty && attempt <= maxRetries) {
            attempt += 1
            try result = Some(client.scoreCandidates(q.prompt, q.candidates))
            catch {
              case e: Exception =>
                lastErr = e
                if (attempt <= maxRetries) Thread.sleep(backoffMs * attempt)
            }
          }
          result.getOrElse(throw new RuntimeException(
              s"LLM score failed after $maxRetries retries", lastErr))
            .map { case (c, s) => Scored(q.caseId, q.queryAttr, c, s) }
        }
      }
    }
  }

  /** A client for the running task, closed when the task ends: normally,
    * on failure, or when the consumer stops early (e.g. under `limit`).
    * The operators can then hand their lazy iterators downstream instead
    * of buffering the whole partition just to close the client.
    */
  private def openForTask(factory: LlmClientFactory): LlmClient = {
    val client = factory.create()
    TaskContext.get().addTaskCompletionListener[Unit](_ => client.close())
    client
  }
}
