package graft.llm

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import graft.core.Model.Question

/** The LLM inference operator (SURVEY §2.F5): `mapPartitions` — NOT a UDF —
  * so the engine controls batching and client/connection reuse per
  * partition (ref: `ask_LLM.py:144-269` batches through a DataLoader).
  *
  * Failure: the operator does not retry. Transient failures are the
  * client's to retry, per HTTP request ([[HttpLlmClient]]; the reference's
  * `llm_classes.py:130-143` retries infinitely, the client bounds it); an
  * exception the client throws fails the task unchanged. On a cluster,
  * Spark re-runs a failed task up to `spark.task.maxFailures` times, so a
  * batch costs at most maxFailures × (1 + maxRetries) requests; `local[N]`
  * has no task retry.
  *
  * Scale: one client per partition, `batchSize` prompts per call; executor
  * parallelism IS the request parallelism, so throughput tunes with
  * `spark.sql.shuffle.partitions` / `repartition(n)` upstream.
  */
object LlmOperator {

  final case class Generation(caseId: String, queryAttr: String, response: String)

  final case class Scored(
      caseId: String, queryAttr: String, candAttr: String, score: Double)

  def generate(
      questions: Dataset[Question],
      factory: LlmClientFactory,
      batchSize: Int = 8): Dataset[Generation] = {
    val spark = questions.sparkSession
    import spark.implicits._
    questions.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val client = openForTask(factory)
        it.grouped(batchSize).flatMap { batch =>
          batch.zip(client.generate(batch.map(_.prompt))).map { case (q, r) =>
            Generation(q.caseId, q.queryAttr, r)
          }
        }
      }
    }
  }

  /** F6: per-question candidate scoring → long-form preference rows. */
  def score(questions: Dataset[Question], factory: LlmClientFactory): Dataset[Scored] = {
    val spark = questions.sparkSession
    import spark.implicits._
    questions.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val client = openForTask(factory)
        it.flatMap { q =>
          client.scoreCandidates(q.prompt, q.candidates)
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
