package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.{ColumnMeta, TestCase}
import graft.llm.{HttpLlmClient, MockLlmClient}
import graft.ops.PromptRenderer

class StubSpec extends AnyFunSuite {
  private val tc = TestCase("src:a|tgt:b",
    Seq(ColumnMeta("subject_id", "integer"), ColumnMeta("admit_time", "timestamp")),
    Seq(ColumnMeta("person_id", "integer"), ColumnMeta("visit_start", "timestamp")), Nil)
  private val prompts = tc.targetSchema.map(a => PromptRenderer.n2oneQuestion(tc, a.name, Map.empty).prompt)

  private def withStub[T](body: Stub => T): T = {
    val s = new Stub(ServiceModel(0.1, 0.001), 2)
    try body(s) finally s.close()
  }

  test("stub generation answers equal MockLlmClient's") {
    withStub { s =>
      val http = new HttpLlmClient(s.endpoint, "m")
      assert(http.generate(prompts) == new MockLlmClient().generate(prompts))
      assert(s.requests.size == 1 && s.requests.head.prompts == 2)
      assert(s.requests.head.tokens == prompts.map(PromptRenderer.tokenEstimate).sum)
    }
  }

  test("stub scoring over HTTP equals the in-process responder") {
    withStub { s =>
      val q = PromptRenderer.mcqQuestion(tc, "person_id")
      val http = new HttpLlmClient(s.endpoint, "m").scoreCandidates(q.prompt, q.candidates)
      val local = InProcessFactory(Responder.Mock).create().scoreCandidates(q.prompt, q.candidates)
      assert(http == local)
      assert(math.abs(http.map(_._2).sum - 1.0) < 1e-9)
      // candidate tokens carry logprobs, so the scores are not all tied
      assert(http.map(_._2).distinct.size > 1)
      assert(s.requests.size == q.candidates.size)
    }
  }

  test("a faulted request fails its first attempt with 503 and succeeds when retried") {
    withStub { s =>
      val q = PromptRenderer.mcqQuestion(tc, "person_id")
      s.faults = Set(Stub.contentKey(q.prompt + q.candidates.head))
      val out = new HttpLlmClient(s.endpoint, "m", maxRetries = 1).scoreCandidates(q.prompt, q.candidates)
      assert(out == Responder.scores(q.prompt, q.candidates))
      assert(s.requests.map(_.status).count(_ == 503) == 1)
      assert(s.requests.size == q.candidates.size + 1)
      s.reset()
      assert(s.requests.isEmpty)
    }
  }

  test("a seed selects the same faulted requests on every run, and another seed others") {
    val cases = MatchCases.generate(7)
    val a = MatchPipeline.faultKeys(cases, 7, 8)
    assert(a.size == 8)
    assert(a == MatchPipeline.faultKeys(MatchCases.generate(7), 7, 8))
    assert(a != MatchPipeline.faultKeys(cases, 8, 8))
  }

  test("every seed gives the cases the same widths, and prompts are never shared") {
    def widths(seed: Long) = MatchCases.generate(seed)
      .map(c => (c.tc.sourceSchema.size, c.tc.targetSchema.size))
    assert(widths(1) == widths(2))
    assert(widths(1) == MatchCases.pairs.map(p => (p.sourceWidth, p.targetWidth)))
    assert(MatchCases.generate(1) == MatchCases.generate(1))
    assert(MatchCases.generate(1) != MatchCases.generate(2))
    val prompts = MatchCases.generate(1).flatMap(c =>
      c.tc.targetSchema.map(a => PromptRenderer.n2oneQuestion(c.tc, a.name, c.samples).prompt))
    assert(prompts.distinct.size == prompts.size)
  }

  test("the oracle's prompts are the ones the pipeline sends") {
    val c = MatchCases.generate(3).head
    val a = c.tc.targetSchema.head.name
    assert(MatchOracle.n2onePrompt(c.tc, a, c.samples) == PromptRenderer.n2oneQuestion(c.tc, a, c.samples).prompt)
    val q = PromptRenderer.mcqQuestion(c.tc, a)
    assert(MatchOracle.mcq(c.tc, a) == (q.prompt, q.candidates))
  }

  test("the oracle's stable matching equals StableMatcher on a case") {
    val tc = MatchCases.generate(5)(1).tc
    def prefs(q: graft.core.Model.TestCase, attrs: Seq[String]) = attrs.map { a =>
      val (p, o) = MatchOracle.mcq(q, a)
      a -> Responder.scores(p, o)
    }.toMap
    val matched = graft.operators.StableMatcher.matchCase(
      prefs(MatchCases.swapped(tc), tc.sourceSchema.map(_.name)), prefs(tc, tc.targetSchema.map(_.name)), 1)
      .map(m => (m.srcAttr, m.tgtAttr)).toSet
    val gold = tc.goldMapping.toSet
    val want = MatchOracle.expected(MatchCase(tc, Map.empty), 3)(1)
    assert(Prf.of(matched, gold).agrees(want))
  }
}
