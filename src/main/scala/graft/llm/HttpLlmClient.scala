package graft.llm

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

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
  *  - Retries with a 1 s sleep, matching the reference's
  *    attempt_llm_request loop, but bounded (`maxRetries`) so a dead
  *    endpoint fails the task instead of spinning forever.
  *  - Connections are kept alive through the JDK's keep-alive cache: a
  *    2xx body is read to the end and its stream closed, never
  *    `disconnect()`ed, so the next request to the same host reuses the
  *    socket instead of paying a TCP connect. The cache keeps
  *    `http.maxConnections` (default 5) idle sockets per host; with more
  *    concurrent tasks than that, requests still work but some reconnect.
  *    A non-2xx answer or an exception `disconnect()`s after the retry
  *    sleep, so a failed connection is never reused. (An error answer with no body is a
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
    val resp = parse(post(body.render))
    val choices = resp.obj("choices").arr
    // choices may interleave across the batch — re-order by index
    choices.map(c => (c.obj("index").num.toInt, c.obj("text").str))
      .sortBy(_._1).map(_._2)
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
      val resp = parse(post(body.render))
      val lp = resp.obj("choices").arr.head.obj("logprobs")
      val offsets = lp.obj("text_offset").arr.map(_.num.toInt)
      val logprobs = lp.obj("token_logprobs").arr.map {
        case JNull => 0.0 // first token: API reports null
        case v     => v.num
      }
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

  private def post(body: String): String = {
    var attempt = 0
    while (true) {
      var conn: HttpURLConnection = null
      try {
        conn = URI.create(endpoint).toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        apiKey.foreach(k => conn.setRequestProperty("Authorization", s"Bearer $k"))
        conn.setDoOutput(true)
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(600000)
        val os = conn.getOutputStream
        try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
        val code = conn.getResponseCode
        if (code / 100 != 2) sys.error(s"HTTP $code from $endpoint")
        // read to EOF and close, no disconnect: the socket goes back to
        // the keep-alive cache
        return readAll(conn.getInputStream)
      } catch {
        case e: Exception =>
          attempt += 1
          if (attempt <= maxRetries)
            Thread.sleep(1000L) // ref: attempt_llm_request sleeps 1 s per retry
          // disconnect after the sleep: an error body still in flight when
          // its stream closes goes to the JDK's background cleaner, which
          // later puts the failed socket back in the keep-alive cache for
          // the retry; once the body is in, the JDK drops the socket here
          if (conn != null) conn.disconnect()
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
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
