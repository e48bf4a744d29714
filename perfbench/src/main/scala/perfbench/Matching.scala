package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Model.{ColumnMeta, Question, TestCase}
import graft.eval.Metrics
import graft.llm.{LlmClientFactory, LlmOperator}
import graft.operators.StableMatcher
import graft.ops.{Ensemble, Parsers, PromptRenderer}

/** A schema-pair case with the value samples its prompts show. */
final case class MatchCase(tc: TestCase, samples: Map[String, Seq[String]])

/** Seeded schema-pair cases for the matching pipeline.
  *
  * The paper's EHR cases pair MIMIC-III tables with OMOP CDM tables. Each
  * case here takes the column counts of one such pair from the public table
  * definitions (MIMIC-III v1.4, OMOP CDM v5.3), so prompts and the number
  * of scoring requests, s·(t+1) + t·(s+1) per case, have the paper's
  * shape. The dataset's own cases are not in this repository, so the column
  * names, descriptions, samples and gold pairs are synthetic: the seed picks
  * them, and no two cases share a prompt. The pairs and their order do not
  * depend on the seed, so every seed gives every partition the same work.
  */
object MatchCases {

  /** A source table and a target table with their column counts. */
  final case class Pair(source: String, sourceWidth: Int, target: String, targetWidth: Int)

  /** Four pairs with similar scoring work (511 to 682 requests), so each
    * partition on 4 cores carries about the same load.
    */
  val pairs: Seq[Pair] = Seq(
    Pair("ADMISSIONS", 19, "VISIT_OCCURRENCE", 17),
    Pair("CHARTEVENTS", 15, "OBSERVATION", 18),
    Pair("TRANSFERS", 13, "VISIT_DETAIL", 19),
    Pair("MICROBIOLOGYEVENTS", 16, "SPECIMEN", 15))

  val cases: Int = pairs.size

  private val words = Vector("patient", "admission", "discharge", "visit", "provider",
    "diagnosis", "procedure", "drug", "dose", "route", "unit", "lab", "specimen", "note",
    "site", "location", "birth", "death", "gender", "race", "ethnicity", "insurance",
    "language", "religion", "marital", "payer", "cost", "charge", "device", "observation",
    "measurement", "condition", "episode", "cohort", "era", "start", "end", "date", "time",
    "type", "source", "status", "flag", "code", "name", "order", "result", "reference",
    "range", "quantity", "frequency", "duration", "encounter", "ward", "bed", "icu",
    "transfer", "service", "caregiver", "event", "item", "category", "label", "score",
    "severity", "priority", "reason", "outcome", "sequence", "number", "amount", "rate",
    "weight", "height", "value", "concept", "vocabulary", "domain", "relationship", "plan")
  private val synonyms = Map("patient" -> "person", "admission" -> "intake", "visit" -> "stay",
    "provider" -> "clinician", "drug" -> "medication", "date" -> "day", "time" -> "ts",
    "code" -> "cd", "name" -> "title", "number" -> "num", "amount" -> "qty",
    "status" -> "state", "type" -> "kind", "source" -> "origin", "start" -> "begin",
    "end" -> "finish", "value" -> "val", "result" -> "outcome_value")
  private val types = Vector("integer", "varchar", "timestamp", "double", "boolean")

  /** `n` distinct two-word concepts. */
  private def concepts(r: Random, n: Int): Vector[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val a = words(r.nextInt(words.length))
      val b = words(r.nextInt(words.length))
      if (a != b) out += s"${a}_$b"
    }
    out.toVector
  }

  def generate(seed: Long): Seq[MatchCase] = {
    val r = new Random(seed)
    pairs.map { p =>
      val (s, t) = (p.sourceWidth, p.targetWidth)
      val cs = concepts(r, s + t)
      val shared = 2 + r.nextInt(math.min(s, t) / 2 - 1)
      val srcConcepts = cs.take(s)
      val tgtOnly = cs.drop(s)
      val prefix = ('a' + r.nextInt(26)).toChar.toString + ('a' + r.nextInt(26)).toChar
      def col(n: String): ColumnMeta = ColumnMeta(n, types(r.nextInt(types.length)),
        s"The ${n.replace('_', ' ')} recorded for each row.")
      val src = srcConcepts.map(c => col(s"${prefix}_$c"))
      def rename(c: String): String =
        c.split('_').map(w => synonyms.getOrElse(w, w)).mkString("_")
      val tgtShared = srcConcepts.take(shared).map(c => s"${rename(c)}_v${r.nextInt(9) + 1}")
      val tgtNames = r.shuffle(tgtShared ++ tgtOnly.take(t - shared).map(c => s"x_$c"))
      val tgt = tgtNames.map(col)
      val gold = src.take(shared).map(_.name).zip(tgtShared)
      val samples = src.map(c => c.name -> Seq.fill(3)(r.alphanumeric.take(3 + r.nextInt(6)).mkString)).toMap
      MatchCase(TestCase(s"s$seed:mimic-iii:${p.source}|omop:${p.target}", src, tgt, gold), samples)
    }
  }

  /** A schema-pair case with source and target swapped. */
  def swapped(tc: TestCase): TestCase =
    tc.copy(sourceSchema = tc.targetSchema, targetSchema = tc.sourceSchema,
      goldMapping = tc.goldMapping.map(_.swap))

  /** The ensemble's run `run`: the same question with the source options in
    * a run-specific order.
    */
  def reordered(tc: TestCase, run: Int): TestCase =
    tc.copy(sourceSchema = new Random(run * 7919L + tc.id.hashCode).shuffle(tc.sourceSchema))
}

/** One case's predicted pairs, as sorted `source=target` strings, and
  * their quality counts against gold.
  */
final case class Prf(tp: Long, fp: Long, fn: Long, f1: Double, pred: Seq[String]) {
  def agrees(o: Prf): Boolean =
    tp == o.tp && fp == o.fp && fn == o.fn && math.abs(f1 - o.f1) < 1e-9 && pred == o.pred
}

object Prf {
  /** Counts and F1 of predicted (source, target) pairs against gold, by the
    * rule `Metrics` states: F1 = 2PR/(P+R), 1 when nothing is predicted or
    * expected, 0 when P+R is 0.
    */
  def of(pred: Set[(String, String)], gold: Set[(String, String)]): Prf = {
    val (tp, fp, fn) = ((pred & gold).size, (pred -- gold).size, (gold -- pred).size)
    val p = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val r = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val f1 = if (tp + fp + fn == 0) 1.0 else if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    Prf(tp, fp, fn, f1, pred.toSeq.map { case (s, t) => s"$s=$t" }.sorted)
  }
}

/** The matching pipeline's expected per-case outcome, computed in plain
  * Scala from the case and the stub's deterministic answers, without the
  * pipeline's code: the prompt texts of the N2One-JSON and numbered-MCQ
  * representations are written out here, the generate answer is the
  * column `MockLlmClient` picks, the scores are [[Responder.scores]], and
  * matching, voting and counting are textbook Gale–Shapley, majority and
  * set arithmetic.
  */
object MatchOracle {
  private val noMatchOption = "there is no match."
  private val noMatchMcq = "There is no match."
  private val answer = """\{"matches": \["([^"]*)"\]\}""".r

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  }

  /** The N2One question for one target attribute. */
  def n2onePrompt(tc: TestCase, target: String, samples: Map[String, Seq[String]]): String = {
    val schema = tc.sourceSchema.map { c =>
      val vs = samples.getOrElse(c.name, Nil).map(v => "\"" + esc(v) + "\"").mkString(", ")
      val desc = if (c.description.isEmpty) "" else s""", "description": "${esc(c.description)}""""
      s"""{"name": "${esc(c.name)}", "type": "${esc(c.dataType)}"$desc, "samples": [$vs]}"""
    }.mkString("[", ", ", "]")
    (Seq(s"Source schema: $schema", s"""Target attribute: "${esc(target)}"""",
      """Which source column matches the target attribute? Answer as {"matches": [...]}.""",
      "Options:") ++ tc.sourceSchema.map(c => s"- ${c.name}") :+ s"- $noMatchOption").mkString("\n")
  }

  /** The numbered-MCQ question for one query attribute and its options. */
  def mcq(tc: TestCase, query: String): (String, Seq[String]) = {
    val options = tc.sourceSchema.map(_.name) :+ noMatchMcq
    val prompt = (Seq(s"""Target attribute: "${esc(query)}"""",
      "Which option matches? Reply with the option number.") ++
      options.zipWithIndex.map { case (o, i) => s"${i + 1}. $o" }).mkString("\n")
    (prompt, options)
  }

  /** Per case: generate, stable match and ensemble quality, in that order. */
  def expected(c: MatchCase, ensembleRuns: Int): Seq[Prf] = {
    val tc = c.tc
    val src = tc.sourceSchema.map(_.name)
    val gold = tc.goldMapping.map { case (s, t) => (s.toLowerCase, t.toLowerCase) }.toSet
    def pairs(ps: Iterable[(String, String)]) = ps.map { case (s, t) => (s.toLowerCase, t.toLowerCase) }.toSet

    // the source column the model names for a target attribute, if any
    def picked(q: TestCase, target: String): Option[String] =
      answer.findFirstMatchIn(Responder.Mock.generate(Seq(n2onePrompt(q, target, c.samples))).head)
        .map(_.group(1)).filter(a => src.exists(_.equalsIgnoreCase(a)))

    val direct = tc.targetSchema.flatMap(a => picked(tc, a.name).map(_ -> a.name))

    // sources propose down their score-ordered target lists; a target keeps
    // the proposer it scores strictly higher
    def ranked(q: TestCase, query: String): Seq[(String, Double)] = {
      val (prompt, options) = mcq(q, query)
      Responder.scores(prompt, options).filterNot(_._1 == noMatchMcq)
    }
    val prefs = src.map(s => s -> ranked(MatchCases.swapped(tc), s).map(_._1)).toMap
    val targetScore = tc.targetSchema.map(a => a.name -> ranked(tc, a.name).toMap).toMap
    val engaged = mutable.Map.empty[String, String]
    val next = mutable.Map.empty[String, Int].withDefaultValue(0)
    val free = mutable.Queue(src.sorted: _*)
    while (free.nonEmpty) {
      val s = free.dequeue()
      val list = prefs(s)
      if (next(s) < list.size) {
        val t = list(next(s))
        next(s) += 1
        engaged.get(t) match {
          case None => engaged(t) = s
          case Some(cur) if targetScore(t)(s) > targetScore(t)(cur) =>
            engaged(t) = s
            free.enqueue(cur)
          case _ => free.enqueue(s)
        }
      }
    }
    val stable = engaged.toSeq.map { case (t, s) => (s, t) }

    // each run's pick per target attribute; keep every pick tied at the top
    val picks = (1 to ensembleRuns).flatMap { r =>
      val q = MatchCases.reordered(tc, r)
      q.targetSchema.flatMap(a => picked(q, a.name).map(s => (a.name, s)))
    }
    val voted = picks.groupBy(_._1).toSeq.flatMap { case (t, ps) =>
      val votes = ps.groupBy(_._2).map { case (s, v) => s -> v.size }
      votes.collect { case (s, n) if n == votes.values.max => (s, t) }
    }

    Seq(direct, stable, voted).map(ps => Prf.of(pairs(ps), gold))
  }
}

/** Stable Schema Matching over seeded cases, with the LLM behind the
  * loopback stub: render → generate (8 prompts per request) → parse and
  * schema-validate → P/R/F1; dual-direction scoring → stable matching →
  * P/R/F1; and a 3-run ensemble → majority → P/R/F1.
  *
  * Every case's predicted pairs and counts are checked against
  * [[MatchOracle]]; after `reference()`, also against the same pipeline run
  * with an in-process client on the same responder.
  */
final class MatchPipeline(spark: SparkSession, seed: Long) {
  import spark.implicits._
  import MatchPipeline._

  private var cases: Seq[MatchCase] = Nil
  private var expected: Map[String, Seq[Prf]] = Map.empty
  private var inProcess: Map[String, Seq[Prf]] = Map.empty
  private var lastParse: (Long, Long) = (0L, 0L)

  def items: Int = MatchCases.cases

  /** Generate the cases and their expected outcomes. */
  def prepare(): Unit = {
    cases = MatchCases.generate(seed)
    expected = cases.map(c => c.tc.id -> MatchOracle.expected(c, ensembleRuns)).toMap
  }

  def sizes: Seq[(String, Any)] = Seq(
    "cases" -> cases.size,
    "source_columns" -> cases.map(_.tc.sourceSchema.size).sum,
    "target_columns" -> cases.map(_.tc.targetSchema.size).sum,
    "gold_pairs" -> cases.map(_.tc.goldMapping.size).sum,
    "generate_prompts" -> cases.map(_.tc.targetSchema.size).sum * (1 + ensembleRuns),
    "score_prompts" -> cases.map(c => c.tc.sourceSchema.size + c.tc.targetSchema.size).sum,
    "score_candidates" -> cases.map { c =>
      val (s, t) = (c.tc.sourceSchema.size, c.tc.targetSchema.size)
      s * (t + 1) + t * (s + 1)
    }.sum,
    "expected_f1_mean" -> Seq("generate", "stable", "ensemble").zipWithIndex.map { case (k, i) =>
      f"$k=${expected.values.map(_(i).f1).sum / math.max(1, expected.size)}%.3f"
    }.mkString(","))

  /** The same pipeline on an in-process client, untimed. */
  def reference(): Unit =
    inProcess = run(InProcessFactory(Responder.Mock), new Tracer(false))

  def layerMetrics: Map[String, Double] = Map(
    "ops.parse_empty_frac" -> (if (lastParse._2 == 0) 0.0 else lastParse._1.toDouble / lastParse._2))

  def pass(factory: LlmClientFactory, t: Tracer): Map[String, String] = {
    val got = run(factory, t)
    cases.flatMap { c =>
      val id = c.tc.id
      val want = expected(id)
      got.get(id) match {
        case None => Some(id -> "no output for case")
        case Some(out) if out.size != want.size || !out.zip(want).forall { case (a, b) => a.agrees(b) } =>
          Some(id -> s"output $out differs from the expected $want")
        case Some(out) if inProcess.nonEmpty && !inProcess.get(id).contains(out) =>
          Some(id -> s"HTTP output $out differs from in-process ${inProcess.get(id)}")
        case _ => None
      }
    }.toMap
  }

  /** The whole pipeline for every case; per case the generate, stable-match
    * and ensemble quality counts.
    */
  private def run(factory: LlmClientFactory, t: Tracer): Map[String, Seq[Prf]] = {
    val ds = spark.createDataset(cases)
    val srcCols = cases.map(c => c.tc.id -> c.tc.sourceSchema.map(_.name)).toMap
    val gold = cases.flatMap(c => c.tc.goldMapping.map { case (s, g) => (c.tc.id, s, g) })
      .toDF("case_id", "src_attr", "tgt_attr")

    def predictions(run: Int): Dataset[(String, String, String)] = {
      val questions = t.stage("ops.render", s"run$run")(ds.flatMap { c =>
        val tc = if (run == 0) c.tc else MatchCases.reordered(c.tc, run)
        tc.targetSchema.map(a => PromptRenderer.n2oneQuestion(tc, a.name, c.samples))
      })
      val gens = t.stage("llm.generate", s"run$run")(
        LlmOperator.generate(questions, factory, batchSize = 8))
      t.stage("ops.parse", s"run$run")(gens.flatMap { g =>
        val cols = srcCols(g.caseId)
        Parsers.parseMatches(g.response).filter(Parsers.columnInSchema(_, cols))
          .map(m => (g.caseId, m.trim, g.queryAttr))
      })
    }

    // 1. generate → parse → validate → metrics
    val direct = predictions(0)
    if (t.enabled) {
      val n = direct.count()
      val q = cases.map(_.tc.targetSchema.size).sum.toLong
      lastParse = (q - n, q)
    }
    val directPrf = t.span("eval.metrics", "direct")(evaluate(direct.toDF("case_id", "src_attr", "tgt_attr"), gold))

    // 2. dual-direction scoring → stable matching → metrics
    val fwd = ds.flatMap(c => c.tc.sourceSchema.map(a =>
      PromptRenderer.mcqQuestion(MatchCases.swapped(c.tc), a.name)))
    val bwd = ds.flatMap(c => c.tc.targetSchema.map(a => PromptRenderer.mcqQuestion(c.tc, a.name)))
    val scores = t.stage("llm.score")(
      LlmOperator.score(fwd, factory).toDF().withColumn("direction", lit("fwd"))
        .union(LlmOperator.score(bwd, factory).toDF().withColumn("direction", lit("bwd")))
        .select($"caseId".as("case_id"), $"direction", $"queryAttr".as("query_attr"),
          $"candAttr".as("cand_attr"), $"score"))
    val matches = t.stage("operators.stable_match")(StableMatcher.matchCases(scores.toDF(), maxRounds = 1))
    val stablePrf = t.span("eval.metrics", "stable")(evaluate(matches.select("case_id", "src_attr", "tgt_attr"), gold))

    // 3. ensemble of three reordered runs → majority vote → metrics
    val runs = (1 to ensembleRuns).map(r =>
      predictions(r).toDF("case_id", "src_attr", "tgt_attr")
        .withColumn("query_attr", $"tgt_attr").withColumn("run_id", lit(r)))
      .reduce(_ union _)
    val voted = t.stage("ops.ensemble")(Ensemble.majority(runs))
    val ensPrf = t.span("eval.metrics", "ensemble")(evaluate(voted.select("case_id", "src_attr", "tgt_attr"), gold))

    cases.flatMap { c =>
      val id = c.tc.id
      Seq(directPrf.get(id), stablePrf.get(id), ensPrf.get(id)) match {
        case Seq(Some(a), Some(b), Some(e)) => Some(id -> Seq(a, b, e))
        case _ => None
      }
    }.toMap
  }

  /** Per-case predicted pairs, and their tp/fp/fn and F1 against gold,
    * reading the predictions once (a full outer join on the pair).
    */
  private def evaluate(pred: DataFrame, gold: DataFrame): Map[String, Prf] = {
    val p = pred.select($"case_id", lower(trim($"src_attr")).as("src_attr"),
      lower(trim($"tgt_attr")).as("tgt_attr")).distinct().withColumn("in_pred", lit(1))
    val g = gold.select($"case_id", lower($"src_attr").as("src_attr"),
      lower($"tgt_attr").as("tgt_attr")).withColumn("in_gold", lit(1))
    val counts = p.join(g, Seq("case_id", "src_attr", "tgt_attr"), "full_outer")
      .groupBy($"case_id")
      .agg(
        sum(when($"in_pred".isNotNull && $"in_gold".isNotNull, 1.0).otherwise(0.0)).as("tp"),
        sum(when($"in_pred".isNotNull && $"in_gold".isNull, 1.0).otherwise(0.0)).as("fp"),
        sum(when($"in_pred".isNull && $"in_gold".isNotNull, 1.0).otherwise(0.0)).as("fn"),
        sort_array(collect_list(when($"in_pred".isNotNull, concat_ws("=", $"src_attr", $"tgt_attr"))))
          .as("pred"))
      .withColumn("tn", lit(0.0))
    Metrics.withPrfAccuracyEffort(counts).select("case_id", "tp", "fp", "fn", "f1", "pred").collect()
      .map(r => r.getString(0) -> Prf(r.getDouble(1).toLong, r.getDouble(2).toLong,
        r.getDouble(3).toLong, r.getDouble(4), r.getSeq[String](5).toVector))
      .toMap
  }
}

object MatchPipeline {
  val ensembleRuns = 3

  /** The content keys of `n` scoring requests chosen by a seeded content
    * hash: the same seed picks the same requests on every run. For the
    * stub's fault injection.
    */
  def faultKeys(cases: Seq[MatchCase], seed: Long, n: Int): Set[String] = {
    val keys = cases.flatMap { c =>
      (c.tc.sourceSchema.map(a => PromptRenderer.mcqQuestion(MatchCases.swapped(c.tc), a.name)) ++
        c.tc.targetSchema.map(a => PromptRenderer.mcqQuestion(c.tc, a.name)))
        .flatMap((q: Question) => q.candidates.map(cand => Stub.contentKey(q.prompt + cand)))
    }
    keys.sortBy(k => Stub.contentKey(s"$seed/$k")).take(n).toSet
  }
}
