package graft.llm

import java.io.{ByteArrayOutputStream, IOException, InputStream}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.annotation.tailrec

/** Thin OpenAI-compatible HTTP adapter behind [[LlmClient]] — the
  * "real model" implementation slot (ref behavior: llm_classes.py:95-185
  * drives a local transformers pipeline; production deployments put the
  * same contract behind a vLLM/OpenAI-style `/v1/completions` endpoint).
  * JDK-only (HttpURLConnection + [[MiniJson]]) — no dependencies,
  * constructible per partition via [[HttpLlmClient.Factory]] so the
  * connection/session is never serialized.
  *
  *  - `generate`: one batched completions call (`prompt` as an array),
  *    responses re-ordered by choice `index` — the adapter twin of
  *    call_llm_with_prompt's batch path.
  *  - `scoreCandidates`: per candidate, `prompt+candidate` with
  *    `max_tokens: 0, echo: true, logprobs: 0`, summing token logprobs at
  *    text offsets past the prompt — the completions-API translation of
  *    attempt_llm_logits (per-token probs → exp(Σ log p)), normalized to
  *    a simplex and sorted (score desc, candidate asc) like the mock.
  *  - Each answer is checked before use: a batch must answer every
  *    choice index 0..n-1 exactly once, and a scoring choice must give as
  *    many token logprobs as text offsets. Anything else throws, naming
  *    the endpoint, instead of handing one prompt another's answer.
  *  - The client owns the retry policy at the LLM boundary; the engine
  *    does not retry. An IOException, 408, 429 or 5xx is retried after a
  *    1 s sleep, like the reference's attempt_llm_request loop, but at
  *    most `maxRetries` times, so a dead endpoint fails the task instead
  *    of spinning forever: at most 1 + `maxRetries` requests per call.
  *    Any other non-2xx (a bad key, a wrong path, an over-long prompt)
  *    cannot succeed on retry and fails at once. A 2xx body that does not
  *    parse is not retried either: at temperature 0 the same request
  *    gives the same answer. The final error names the endpoint, the last
  *    status and the attempt count, with the last IOException as cause.
  *  - Connections are kept alive through the JDK's keep-alive cache: a
  *    2xx body is read to the end and its stream closed, never
  *    `disconnect()`ed, so the next request to the same host reuses the
  *    socket instead of paying a TCP connect. The cache keeps
  *    `http.maxConnections` (default 5) idle sockets per host; with more
  *    concurrent tasks than that, requests still work but some reconnect.
  *    A non-2xx answer or an exception `disconnect()`s, after the retry
  *    sleep when there is one, so a failed connection is never reused. (An error answer with no body is a
  *    complete exchange; the JDK caches its socket before the status is
  *    seen, and reusing it is safe.) The body goes out in one buffered
  *    write with its Content-Length: fixed-length streaming sent the
  *    headers and the body as two writes, which cost about 2 ms more per
  *    request on a kept-alive loopback connection.
  */
final class HttpLlmClient(
    endpoint: String,
    model: String,
    maxNewTokens: Int = 256,
    temperature: Double = 0.0,
    apiKey: Option[String] = None,
    maxRetries: Int = 3) extends LlmClient {

  import MiniJson._

  override def generate(prompts: Seq[String]): Seq[String] = {
    if (prompts.isEmpty) return Nil
    val body = obj(
      "model" -> JStr(model),
      "prompt" -> JArr(prompts.map(JStr.apply)),
      "max_tokens" -> JNum(maxNewTokens),
      "temperature" -> JNum(temperature))
    // choices may interleave across the batch — re-order by index
    val choices = parse(post(body.render)).obj("choices").arr
      .map(c => (c.obj("index").num.toInt, c.obj("text").str)).sortBy(_._1)
    val indexes = choices.map(_._1)
    if (indexes != prompts.indices)
      sys.error(s"$endpoint answered choice indexes ${indexes.mkString(",")} for ${prompts.size} prompts")
    choices.map(_._2)
  }

  override def scoreCandidates(
      prompt: String, candidates: Seq[String]): Seq[(String, Double)] = {
    if (candidates.isEmpty) return Nil
    val raw = candidates.map { cand =>
      val body = obj(
        "model" -> JStr(model),
        "prompt" -> JStr(prompt + cand),
        "max_tokens" -> JNum(0),
        "echo" -> JBool(true),
        "logprobs" -> JNum(0))
      val lp = parse(post(body.render)).obj("choices").arr.headOption
        .getOrElse(sys.error(s"$endpoint answered no choice")).obj("logprobs")
      val offsets = lp.obj("text_offset").arr.map(_.num.toInt)
      val logprobs = lp.obj("token_logprobs").arr.map {
        case JNull => 0.0 // first token: API reports null
        case v     => v.num
      }
      if (offsets.size != logprobs.size)
        sys.error(s"$endpoint answered ${offsets.size} text offsets " +
          s"but ${logprobs.size} token logprobs")
      // candidate tokens = those whose text offset is past the prompt
      val sum = offsets.zip(logprobs)
        .collect { case (o, l) if o >= prompt.length => l }.sum
      cand -> math.exp(sum)
    }
    val z = raw.map(_._2).sum
    val normed =
      if (z > 0.0) raw.map { case (c, p) => c -> p / z }
      else raw.map { case (c, _) => c -> 1.0 / raw.length }
    normed.sortBy { case (c, s) => (-s, c) }
  }

  @tailrec
  private def post(body: String, attempt: Int = 1): String = {
    val conn = URI.create(endpoint).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    var status = 0 // 0: no answer came
    var cause: IOException = null
    try {
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      apiKey.foreach(k => conn.setRequestProperty("Authorization", s"Bearer $k"))
      conn.setDoOutput(true)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(600000)
      val os = conn.getOutputStream
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
      status = conn.getResponseCode
      // read to EOF and close, no disconnect: the socket goes back to
      // the keep-alive cache
      if (status / 100 == 2) return readAll(conn.getInputStream)
    } catch {
      case e: IOException => cause = e
    }
    val retry = attempt <= maxRetries && (cause != null || HttpLlmClient.retryable(status))
    if (retry) Thread.sleep(1000L) // ref: attempt_llm_request sleeps 1 s per retry
    // disconnect after the sleep: an error body still in flight when
    // its stream closes goes to the JDK's background cleaner, which
    // later puts the failed socket back in the keep-alive cache for
    // the retry; once the body is in, the JDK drops the socket here
    conn.disconnect()
    if (!retry)
      throw new IOException(s"LLM request to $endpoint failed after $attempt attempt(s), " +
        s"last status ${if (status == 0) "none" else s"HTTP $status"}", cause)
    post(body, attempt + 1)
  }

  private def readAll(in: InputStream): String = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    try {
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    out.toString("UTF-8")
  }
}

object HttpLlmClient {
  /** Statuses a retry can cure: timeout, rate limit, server error. */
  private def retryable(status: Int): Boolean =
    status == 408 || status == 429 || status / 100 == 5

  /** Serializable factory — ships endpoint config, builds per partition. */
  final case class Factory(
      endpoint: String,
      model: String,
      maxNewTokens: Int = 256,
      temperature: Double = 0.0,
      apiKey: Option[String] = None,
      maxRetries: Int = 3) extends LlmClientFactory {
    override def create(): LlmClient =
      new HttpLlmClient(endpoint, model, maxNewTokens, temperature, apiKey,
        maxRetries)
  }
}
