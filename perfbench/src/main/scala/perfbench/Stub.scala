package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.llm.{LlmClient, LlmClientFactory, MockLlmClient}
import graft.ops.PromptRenderer

/** Stub service time: a per-request base plus a per-prompt-token term, with
  * tokens counted by `PromptRenderer.tokenEstimate` (whitespace words).
  */
final case class ServiceModel(baseMs: Double, perTokenMs: Double) {
  def nanos(tokens: Int): Long = ((baseMs + perTokenMs * tokens) * 1e6).toLong
  override def toString: String = s"$baseMs ms + $perTokenMs ms/token"
}

/** What the stub answers. `generate` maps each prompt to a completion;
  * scoring (`echo` + `logprobs`) is answered by [[Responder.echo]].
  */
trait Responder extends Serializable {
  def generate(prompts: Seq[String]): Seq[String]
}

object Responder {

  /** Answers every prompt with `MockLlmClient`'s answer. */
  object Mock extends Responder {
    override def generate(prompts: Seq[String]): Seq[String] =
      new MockLlmClient().generate(prompts)
  }

  /** Answers each known prompt with a fixed completion, and any other
    * prompt as [[Mock]] does.
    */
  final case class Table(answers: Map[String, String]) extends Responder {
    override def generate(prompts: Seq[String]): Seq[String] =
      prompts.map(p => answers.getOrElse(p, Mock.generate(Seq(p)).head))
  }

  final case class Echo(tokens: Seq[String], offsets: Seq[Int], logprobs: Seq[Option[Double]])

  private val token = """\w+|[^\w\s]""".r

  /** Deterministic per-token logprobs for an echoed text: words and single
    * punctuation marks are tokens, the first token has no logprob (as the
    * completions API reports it), and each later one gets a value in
    * (-3, 0] from a rolling hash of the text up to and including it.
    */
  def echo(text: String): Echo = {
    val ms = token.findAllMatchIn(text).toVector
    var h = 0xcbf29ce484222325L
    val lps = ms.zipWithIndex.map { case (m, i) =>
      var j = m.start
      while (j < m.end) { h = (h ^ text.charAt(j)) * 0x100000001b3L; j += 1 }
      if (i == 0) None
      else Some(-3.0 * ((h >>> 11).toDouble / (1L << 53).toDouble))
    }
    Echo(ms.map(_.matched), ms.map(_.start), lps)
  }

  /** `HttpLlmClient.scoreCandidates`' client-side rule applied to echoes:
    * sum the logprobs of tokens past the prompt, exponentiate, normalize,
    * sort by (score desc, candidate asc).
    */
  def scores(prompt: String, candidates: Seq[String]): Seq[(String, Double)] = {
    if (candidates.isEmpty) return Nil
    val raw = candidates.map { c =>
      val e = echo(prompt + c)
      val sum = e.offsets.zip(e.logprobs.map(_.getOrElse(0.0)))
        .collect { case (o, l) if o >= prompt.length => l }.sum
      c -> math.exp(sum)
    }
    val z = raw.map(_._2).sum
    val normed =
      if (z > 0.0) raw.map { case (c, p) => c -> p / z }
      else raw.map { case (c, _) => c -> 1.0 / raw.length }
    normed.sortBy { case (c, s) => (-s, c) }
  }
}

/** The same responder called in process, without HTTP: the reference the
  * HTTP path's per-case outputs are checked against.
  */
final case class InProcessFactory(responder: Responder) extends LlmClientFactory {
  override def create(): LlmClient = new LlmClient {
    override def generate(prompts: Seq[String]): Seq[String] = responder.generate(prompts)
    override def scoreCandidates(prompt: String, candidates: Seq[String]): Seq[(String, Double)] =
      Responder.scores(prompt, candidates)
  }
}

object Stub {

  /** One HTTP request as the stub saw it. `key` identifies the request
    * content, so a retry of a request has the key of its first attempt.
    */
  final case class Request(
      key: String, arrivalNs: Long, finishNs: Long, status: Int, bytesIn: Int,
      bytesOut: Int, prompts: Int, tokens: Int, serviceNs: Long)

  def contentKey(text: String): String = {
    val d = MessageDigest.getInstance("SHA-1").digest(text.getBytes(StandardCharsets.UTF_8))
    d.take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** An OpenAI-compatible `/v1/completions` endpoint on 127.0.0.1, served by
  * the JDK `HttpServer` with `threads` handler threads.
  *
  *  - generation (`prompt` is a string or an array): one completion per
  *    prompt from the responder;
  *  - scoring (`echo: true, max_tokens: 0`): the echoed prompt's tokens,
  *    text offsets and logprobs from [[Responder.echo]];
  *  - every answer is held until its service time, per [[ServiceModel]],
  *    has passed since the request arrived;
  *  - a request whose content key is in `faults` fails its first attempt
  *    with HTTP 503 (no service time) and succeeds when retried.
  */
final class Stub(model: ServiceModel, threads: Int) extends AutoCloseable {
  import Stub._

  @volatile var responder: Responder = Responder.Mock
  @volatile var faults: Set[String] = Set.empty

  private val failed = ConcurrentHashMap.newKeySet[String]()
  private val log = new ConcurrentLinkedQueue[Request]()
  private val mapper = new ObjectMapper()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 128)
  server.createContext("/v1/completions", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/completions"

  /** Start a new pass: forget the request log and which faults fired. */
  def reset(): Unit = { log.clear(); failed.clear() }

  def requests: Seq[Request] = log.asScala.toVector

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val in = ex.getRequestBody.readAllBytes()
      val req = mapper.readTree(in)
      val p = req.get("prompt")
      val prompts = if (p.isArray) p.elements().asScala.map(_.asText()).toVector else Vector(p.asText())
      val key = contentKey(prompts.mkString("\u0000"))
      val tokens = prompts.map(PromptRenderer.tokenEstimate).sum
      if (faults.contains(key) && failed.add(key)) {
        ex.sendResponseHeaders(503, -1)
        log.add(Request(key, t0, System.nanoTime(), 503, in.length, 0, prompts.size, tokens, 0L))
      } else {
        val scoring = Option(req.get("echo")).exists(_.asBoolean()) &&
          Option(req.get("max_tokens")).exists(_.asInt() == 0)
        val body = if (scoring) echoBody(prompts.head) else generateBody(prompts)
        val out = body.getBytes(StandardCharsets.UTF_8)
        val service = model.nanos(tokens)
        var left = t0 + service - System.nanoTime()
        while (left > 0) { LockSupport.parkNanos(left); left = t0 + service - System.nanoTime() }
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, out.length)
        ex.getResponseBody.write(out)
        log.add(Request(key, t0, System.nanoTime(), 200, in.length, out.length, prompts.size,
          tokens, service))
      }
    } catch {
      case e: Exception =>
        log.add(Request("", t0, System.nanoTime(), 500, 0, 0, 0, 0, 0L))
        System.err.println(s"[stub] request failed: $e")
        try ex.sendResponseHeaders(500, -1) catch { case _: Exception => }
    } finally ex.close()
  }

  private def str(s: String): String = mapper.writeValueAsString(s)

  private def generateBody(prompts: Seq[String]): String =
    responder.generate(prompts).zipWithIndex
      .map { case (t, i) => s"""{"index":$i,"text":${str(t)},"finish_reason":"stop"}""" }
      .mkString("""{"object":"text_completion","choices":[""", ",", "]}")

  private def echoBody(text: String): String = {
    val e = Responder.echo(text)
    val lps = e.logprobs.map(_.fold("null")(java.lang.Double.toString)).mkString("[", ",", "]")
    s"""{"object":"text_completion","choices":[{"index":0,"text":${str(text)},""" +
      s""""logprobs":{"tokens":${e.tokens.map(str).mkString("[", ",", "]")},""" +
      s""""text_offset":${e.offsets.mkString("[", ",", "]")},"token_logprobs":$lps}}]}"""
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
