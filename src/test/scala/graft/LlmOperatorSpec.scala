package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.core.Model.Question
import graft.llm._

class LlmOperatorSpec extends SparkSpec {

  private def questions = {
    val s = spark
    import s.implicits._
    s.createDataset(Seq(
      Question("c1", "person_id", "match it\nOptions:\n- subject_id\n- dob", Seq("subject_id", "dob")),
      Question("c1", "visit_id", "match it\nOptions:\n- hadm_id\n- dob", Seq("hadm_id", "dob")),
      Question("c2", "x", "no options here", Nil)))
  }

  test("mock generation is deterministic and parseable") {
    val out1 = LlmOperator.generate(questions, MockLlmClient.Factory()).collect()
      .map(g => (g.caseId, g.queryAttr) -> g.response).toMap
    val out2 = LlmOperator.generate(questions, MockLlmClient.Factory()).collect()
      .map(g => (g.caseId, g.queryAttr) -> g.response).toMap
    assert(out1 == out2)
    val parsed = graft.ops.Parsers.parseMatches(out1(("c1", "person_id")))
    assert(parsed.size == 1 && Set("subject_id", "dob").contains(parsed.head))
    assert(out1(("c2", "x")) == "{\"matches\": []}")
  }

  test("scoring yields a normalized simplex per question, sorted desc") {
    val scored = LlmOperator.score(questions, MockLlmClient.Factory()).collect()
      .groupBy(s => (s.caseId, s.queryAttr))
    val s1 = scored(("c1", "person_id")).map(_.score)
    assert(math.abs(s1.sum - 1.0) < 1e-9)
    assert(s1.sorted.reverse.toSeq == s1.toSeq)
  }

  test("bounded retry recovers from transient failures") {
    val out = LlmOperator.generate(questions.repartition(1), FlakyFactory(failures = 2),
      batchSize = 10, maxRetries = 3).collect()
    assert(out.length == 3)
    assert(out.head.attempts == 3) // 2 failures + 1 success
  }

  /** 3 partitions of 4 questions each, so every partition is non-empty. */
  private def partitioned = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize((0 until 12).map { i =>
      Question(s"c$i", "a", s"match it\nOptions:\n- x$i\n- y$i", Seq(s"x$i", s"y$i"))
    }, 3).toDS()
  }

  test("each partition's client is closed exactly once, also when the consumer stops early") {
    val gen = UUID.randomUUID().toString
    assert(LlmOperator.generate(partitioned, CountingFactory(gen), batchSize = 2)
      .collect().length == 12)
    assert(CountingFactory.closeCountsOf(gen) == Seq(1, 1, 1))
    assert(CountingFactory.calls(gen).get == 6)

    val sc = UUID.randomUUID().toString
    assert(LlmOperator.score(partitioned, CountingFactory(sc)).collect().length == 24)
    assert(CountingFactory.closeCountsOf(sc) == Seq(1, 1, 1))

    // limit(1): the operators stream, so the task stops after the first
    // batch instead of calling the LLM for the whole partition, and the
    // task-completion listener still closes its client
    val lim = UUID.randomUUID().toString
    assert(LlmOperator.generate(partitioned, CountingFactory(lim), batchSize = 1)
      .limit(1).collect().length == 1)
    val limCloses = CountingFactory.closeCountsOf(lim)
    assert(limCloses.nonEmpty && limCloses.forall(_ == 1), limCloses)
    assert(CountingFactory.calls(lim).get < 4 * limCloses.size)
  }

  test("exhausted retries surface the error") {
    val e = intercept[org.apache.spark.SparkException] {
      LlmOperator.generate(questions.repartition(1), FlakyFactory(failures = 10),
        batchSize = 10, maxRetries = 2).collect()
    }
    assert(e.getMessage.contains("LLM generate failed") ||
      Option(e.getCause).exists(_.getMessage.contains("LLM generate failed")))
  }
}

final case class FlakyFactory(failures: Int) extends LlmClientFactory {
  override def create(): LlmClient = new FlakyLlmClient(new MockLlmClient(), failures)
}

/** Mock clients that record, per factory `id`, each client's close count
  * and the LLM calls made. Local mode runs tasks in this JVM, so the
  * records are visible to the spec.
  */
final case class CountingFactory(id: String) extends LlmClientFactory {
  override def create(): LlmClient = {
    val closes = new AtomicInteger()
    CountingFactory.closes(id).add(closes)
    new LlmClient {
      private val inner = new MockLlmClient()
      override def generate(prompts: Seq[String]): Seq[String] = {
        CountingFactory.calls(id).incrementAndGet(); inner.generate(prompts)
      }
      override def scoreCandidates(prompt: String, candidates: Seq[String]): Seq[(String, Double)] = {
        CountingFactory.calls(id).incrementAndGet(); inner.scoreCandidates(prompt, candidates)
      }
      override def close(): Unit = closes.incrementAndGet()
    }
  }
}

object CountingFactory {
  private val closeCounts = new ConcurrentHashMap[String, ConcurrentLinkedQueue[AtomicInteger]]()
  private val callCounts = new ConcurrentHashMap[String, AtomicInteger]()
  def closes(id: String): ConcurrentLinkedQueue[AtomicInteger] =
    closeCounts.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[AtomicInteger]())
  def calls(id: String): AtomicInteger =
    callCounts.computeIfAbsent(id, _ => new AtomicInteger())
  /** Close count of every client created so far. */
  def closeCountsOf(id: String): Seq[Int] = closes(id).asScala.toSeq.map(_.get)
}
