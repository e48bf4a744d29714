package graft

import java.net.InetSocketAddress
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.SparkException
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

  /** The messages of `e` and of every cause under it. */
  private def causeChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("a client failure fails the task with the client's error") {
    val gen = intercept[SparkException] {
      LlmOperator.generate(questions, FailingFactory()).collect()
    }
    assert(causeChain(gen).contains(FailingFactory.message), causeChain(gen))
    val sc = intercept[SparkException] {
      LlmOperator.score(questions, FailingFactory()).collect()
    }
    assert(causeChain(sc).contains(FailingFactory.message), causeChain(sc))
  }

  /** Runs `f` with the URL of a local endpoint that answers every request
    * 500, and returns how many requests it got.
    */
  private def withDeadEndpoint(f: String => Unit): Int = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val requests = new AtomicInteger()
    server.createContext("/v1/completions", (ex: HttpExchange) => {
      requests.incrementAndGet()
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(500, -1)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/v1/completions")
    finally server.stop(0)
    requests.get
  }

  test("a dead endpoint fails the task after 1 + maxRetries requests, naming it") {
    // score sends one request per candidate: the first one fails the task
    val oneQuestion = questions.filter(_.candidates.nonEmpty).limit(1).repartition(1)
    Seq[LlmClientFactory => Unit](
      f => LlmOperator.generate(questions.repartition(1), f, batchSize = 10).collect(),
      f => LlmOperator.score(oneQuestion, f).collect()).foreach { run =>
      val n = withDeadEndpoint { url =>
        val t0 = System.nanoTime()
        val e = intercept[SparkException](run(HttpLlmClient.Factory(url, "m", maxRetries = 1)))
        val secs = (System.nanoTime() - t0) / 1e9
        assert(causeChain(e).contains(url) && causeChain(e).contains("HTTP 500"), causeChain(e))
        // one 1 s retry sleep, and no second retry loop around the client
        assert(secs < 3.0, s"took $secs s")
      }
      assert(n == 2, s"$n requests")
    }
  }
}

/** A client whose every call throws. */
final case class FailingFactory() extends LlmClientFactory {
  override def create(): LlmClient = new LlmClient {
    override def generate(prompts: Seq[String]): Seq[String] =
      throw new IllegalStateException(FailingFactory.message)
    override def scoreCandidates(prompt: String, candidates: Seq[String]): Seq[(String, Double)] =
      throw new IllegalStateException(FailingFactory.message)
  }
}

object FailingFactory {
  val message = "the LLM is down"
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
