package graft.llm

import java.security.MessageDigest

/** Pluggable LLM boundary (SURVEY §2.F5/F6; ref:
  * `Stable Schema Matching/LLM/llm_classes.py:95-185,261-324`).
  *
  * Inference happens OUTSIDE the engine (GPU service); the engine only
  * batches prompts and scores — so the contract is a plain trait
  * instantiated per partition (connection reuse), never a serialized
  * client. Implementations must be constructible from a
  * `LlmClientFactory` that IS serializable.
  *
  * A client owns its transient-failure policy (see [[HttpLlmClient]]):
  * the engine does not retry, so an exception a client throws fails the
  * task unchanged.
  */
trait LlmClient extends AutoCloseable {

  /** Greedy/sampled generation for a batch of prompts: one answer per
    * prompt, in prompt order.
    */
  def generate(prompts: Seq[String]): Seq[String]

  /** Per-candidate log-prob-derived scores, normalized to a probability
    * simplex, sorted descending (ref: llm_classes.py:146-185 softmax over
    * candidate token log-prob sums).
    */
  def scoreCandidates(prompt: String, candidates: Seq[String]): Seq[(String, Double)]

  override def close(): Unit = ()
}

/** Serializable factory shipped to executors. */
trait LlmClientFactory extends Serializable {
  def create(): LlmClient
}

/** Deterministic mock for hermetic pipeline tests (SURVEY §5.5): "scores"
  * are a stable hash of (prompt, candidate) pushed through softmax, and
  * generation answers with the candidate list embedded in the prompt — so
  * the full scan→sample→prompt→LLM→parse→match→eval pipeline runs with
  * reproducible results and zero external dependencies.
  */
final class MockLlmClient(temperature: Double = 1.0) extends LlmClient {

  private def hashUnit(s: String): Double = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val v = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
    v.toDouble / (1L << 48).toDouble
  }

  override def generate(prompts: Seq[String]): Seq[String] =
    prompts.map { p =>
      val cands = MockLlmClient.candidatesIn(p)
      if (cands.isEmpty) "{\"matches\": []}"
      else {
        val best = cands.maxBy(c => hashUnit(p + "|" + c))
        s"""{"matches": ["$best"]}"""
      }
    }

  override def scoreCandidates(prompt: String, candidates: Seq[String]): Seq[(String, Double)] = {
    if (candidates.isEmpty) return Nil
    val raw = candidates.map(c => c -> hashUnit(prompt + "|" + c) / temperature)
    val mx = raw.map(_._2).max
    val exps = raw.map { case (c, v) => c -> math.exp(v - mx) }
    val z = exps.map(_._2).sum
    exps.map { case (c, e) => c -> e / z }.sortBy { case (c, s) => (-s, c) }
  }
}

object MockLlmClient {
  /** Candidate options are rendered one per "- " line (see PromptRenderer). */
  def candidatesIn(prompt: String): Seq[String] =
    prompt.linesIterator.filter(_.startsWith("- ")).map(_.drop(2).trim).toSeq

  final case class Factory(temperature: Double = 1.0) extends LlmClientFactory {
    override def create(): LlmClient = new MockLlmClient(temperature)
  }
}
