package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Model.{Attribute, ColumnMeta, Question, Relation}
import graft.core.SessionHygiene
import graft.llm.{LlmClientFactory, LlmOperator}
import graft.mapping.{OverlapEvaluator, SqlGuard}
import graft.ops.{Parsers, PromptRenderer}

/** One schema-mapping case: a source relation (a renamed projection of a
  * base table), the target relation, the gold SQL, and the script the LLM
  * answers with. The script fills the target with the rows above
  * `scriptThreshold`, or fails (`None`).
  */
final case class MappingCase(
    id: String,
    kind: String,
    base: String,
    baseColumns: Seq[String],
    source: Relation,
    target: Relation,
    filterColumn: String,
    threshold: Double,
    scriptThreshold: Option[Double],
    goldSql: String,
    prompt: String,
    answer: String)

/** Seeded schema-mapping cases. Each case is one of a fixed list of
  * projections of the base tables with a fixed script kind, so every seed
  * does the same amount of work; the seed picks the column and table names,
  * the filter thresholds and the wording of the answers.
  *
  * Script kinds and what the pipeline must report for them:
  *  - `prose_ddl`: prose around DROP/CREATE TABLE plus an `INSERT … SELECT`
  *    whose filter threshold is higher than gold's → triage drops the two
  *    DDL statements, the insert runs → Ok, a strict subset of the gold
  *    tuples;
  *  - `wrong_column`: selects a column the source lacks → Failed, target empty.
  */
object MappingCases {

  /** (base table, columns with types, key columns, numeric filter column,
    * filter range, script kind).
    */
  final case class Template(
      table: String, columns: Seq[(String, String)], key: Seq[String],
      filter: String, lo: Double, hi: Double, kind: String)

  val templates: Seq[Template] = Seq(
    Template("supplier", Seq("s_suppkey" -> "INTEGER", "s_name" -> "TEXT",
      "s_acctbal" -> "DOUBLE"), Seq("s_suppkey"), "s_acctbal", 0, 8000, "wrong_column"),
    Template("part", Seq("p_partkey" -> "INTEGER", "p_name" -> "TEXT", "p_brand" -> "TEXT",
      "p_size" -> "INTEGER", "p_retailprice" -> "DOUBLE"), Seq("p_partkey"), "p_size", 5, 40,
      "prose_ddl"))

  def baseTables: Set[String] = templates.map(_.table).toSet

  private val words = Vector("acct", "amount", "bal", "batch", "code", "count", "date", "desc",
    "flag", "grp", "id", "idx", "kind", "label", "line", "mark", "name", "note", "num", "price",
    "qty", "rank", "ref", "score", "seg", "size", "stat", "tag", "total", "type", "unit", "val")

  def generate(seed: Long): Seq[MappingCase] = {
    val r = new Random(seed)
    templates.zipWithIndex.map { case (tp, i) =>
      def fresh(prefix: String, n: Int): Seq[String] =
        r.shuffle(words).take(n).map(w => s"${prefix}_${w}_${r.nextInt(90) + 10}")
      val srcNames = fresh("s", tp.columns.size)
      val tgtNames = fresh("t", tp.columns.size)
      val rename = tp.columns.map(_._1).zip(srcNames).toMap
      val keyIdx = tp.key.map(k => tp.columns.indexWhere(_._1 == k))
      def rel(name: String, cols: Seq[String]): Relation = Relation(name,
        cols.zipWithIndex.map { case (c, j) =>
          Attribute(c, tp.columns(j)._2, nullable = !keyIdx.contains(j))
        },
        primaryKey = keyIdx.map(cols))
      val srcName = s"src${i}_${tp.table}_${r.nextInt(900) + 100}"
      val tgtName = s"tgt${i}_${r.shuffle(words).head}_${r.nextInt(900) + 100}"
      val source = rel(srcName, srcNames)
      val target = rel(tgtName, tgtNames)
      val threshold = math.round(tp.lo + r.nextDouble() * (tp.hi - tp.lo) * 0.5).toDouble
      val f = rename(tp.filter)
      val cols = tgtNames.mkString(", ")
      val select = srcNames.mkString(", ")
      def insert(sel: String, th: Double): String =
        s"INSERT INTO $tgtName ($cols) SELECT $sel FROM $srcName WHERE $f > $th"
      val goldSql = s"INSERT INTO gold_target.$tgtName ($cols) SELECT $select FROM source.$srcName WHERE $f > $threshold"
      val (answer, scriptThreshold) = tp.kind match {
        case "wrong_column" =>
          val bad = srcNames.updated(srcNames.size - 1, srcNames.last + "_missing").mkString(", ")
          (s"```sql\n${insert(bad, threshold)};\n```", None)
        case "prose_ddl" =>
          val th = threshold + math.round((tp.hi - threshold) / 2).toDouble
          (s"Sure. The script below recreates the target table and then fills it.\n```sql\n" +
            s"DROP TABLE IF EXISTS $tgtName;\nCREATE TABLE $tgtName ($cols);\n" +
            s"${insert(select, th)};\n```\nRun it against the source database.", Some(th))
      }
      def meta(rel: Relation): Seq[ColumnMeta] = rel.attributes.map(a => ColumnMeta(a.name, a.dataType))
      val prompt =
        s"""Source table "$srcName": ${PromptRenderer.schemaJson(meta(source), Map.empty)}
           |Target table "$tgtName": ${PromptRenderer.schemaJson(meta(target), Map.empty)}
           |Keep the rows whose ${rename(tp.filter)} is above $threshold.
           |Write SQL that fills the target table from the source table, in one ```sql block.""".stripMargin
      MappingCase(s"s$seed:map$i", tp.kind, tp.table, tp.columns.map(_._1), source, target,
        f, threshold, scriptThreshold, goldSql, prompt, answer)
    }
  }
}

/** Schema Mapping over seeded cases. Set-up registers each source relation
  * and builds its gold target from gold SQL, as the paper's experiments load
  * the source and gold databases once. A pass takes every case's script
  * from the stub; then per case it creates the empty target table, parses
  * the script's fenced blocks, triages, qualifies and executes them under
  * `SqlGuard`, scores tuple overlap against gold and audits the produced
  * table.
  */
final class MappingPipeline(spark: SparkSession, seed: Long, fixtures: File) {
  import MappingPipeline._

  /** Base tables: the sf0.01 test-data shape. */
  private val baseDir = Data.cached(spark, fixtures, 0.01, MappingCases.baseTables)

  private var cases: Seq[MappingCase] = Nil
  private var expected: Map[String, OverlapEvaluator.Overlap] = Map.empty
  private val counters = scala.collection.mutable.Map.empty[String, Double]

  def items: Int = MappingCases.templates.size

  def prepare(): Unit = {
    cases = MappingCases.generate(seed)
    OverlapEvaluator.createNamespaces(spark)
    cases.foreach { c =>
      OverlapEvaluator.registerTable(spark, "source", c.source, spark.read.parquet(s"$baseDir/${c.base}.parquet")
        .select(c.baseColumns.zip(c.source.attributes).map { case (b, a) => col(b).as(a.name) }: _*))
      spark.sql(s"DROP TABLE IF EXISTS `gold_target`.`${c.target.name}`")
      spark.sql(c.target.ddl("gold_target"))
      spark.sql(c.goldSql)
    }
  }

  /** The script the LLM answers each case's prompt with. */
  def answers: Map[String, String] = cases.map(c => c.prompt -> c.answer).toMap

  def sizes: Seq[(String, Any)] = Seq(
    "cases" -> cases.size,
    "kinds" -> cases.groupBy(_.kind).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(","),
    "source_columns" -> cases.map(_.source.attributes.size).sum,
    "statements" -> cases.map(c => Parsers.parseFencedBlocks(c.answer).flatMap(statements).size).sum,
    "gold_rows" -> expected.values.map(o => o.tp + o.fn).sum)

  /** Each case's expected overlap, counted on the base tables directly:
    * the script's tuples are the base rows above its threshold, and gold's
    * are those above the gold threshold, which is never higher.
    */
  def reference(): Unit =
    expected = cases.map { c =>
      val df = spark.read.parquet(s"$baseDir/${c.base}.parquet")
      val f = c.baseColumns(c.source.attributes.indexWhere(_.name == c.filterColumn))
      def above(th: Double) = df.filter(col(f) > th).select(c.baseColumns.map(col): _*).distinct().count()
      val gold = above(c.threshold)
      val made = c.scriptThreshold.fold(0L)(above)
      c.id -> OverlapEvaluator.Overlap(c.target.name, tp = made, fp = 0, fn = gold - made)
    }.toMap

  def layerMetrics: Map[String, Double] = counters.toMap

  def pass(factory: LlmClientFactory, t: Tracer): Map[String, String] = {
    counters.clear()
    def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
    import spark.implicits._
    val questions = spark.createDataset(cases.map(c => Question(c.id, c.target.name, c.prompt, Nil)))
    val answers = t.span("llm.generate") {
      LlmOperator.generate(questions, factory, batchSize = 8).collect()
        .map(g => g.caseId -> g.response).toMap
    }
    cases.flatMap { c =>
      val out = try runCase(c, answers.getOrElse(c.id, ""), t, add) catch {
        case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      t.span("core.hygiene", c.id)(SessionHygiene.dropAllBlocks(spark))
      out.map(c.id -> _)
    }.toMap
  }

  /** One case end to end; the failure message if its outcome is not the
    * one its script kind must give.
    */
  private def runCase(
      c: MappingCase, answer: String, t: Tracer, add: (String, Double) => Unit): Option[String] = {
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try t.span(s"mapping.$name", c.id)(body)
      finally if (t.enabled) add(s"mapping.${name}_s", (System.nanoTime() - t0) / 1e9)
    }
    timed("register") {
      spark.sql(s"DROP TABLE IF EXISTS `target`.`${c.target.name}`")
      spark.sql(c.target.ddl("target"))
    }
    val stmts = t.span("ops.parse", c.id)(Parsers.parseFencedBlocks(answer).flatMap(statements))
    val kept = SqlGuard.triage(stmts)
      .map(SqlGuard.qualify(_, Set(c.source.name), Set(c.target.name)))
    add("mapping.statements_dropped", stmts.size - kept.size)
    val outcome = timed("execute")(SqlGuard.execute(spark, kept, timeoutSec = 120))
    outcome match {
      case SqlGuard.Ok(n) => add("mapping.statements_run", n)
      case _ => add("mapping.execute_failed", 1)
    }
    val produced = spark.table(s"target.${c.target.name}")
    val ov = timed("overlap")(
      OverlapEvaluator.tableOverlap(produced, spark.table(s"gold_target.${c.target.name}"), c.target))
    val audit = timed("audit")(OverlapEvaluator.audit(produced, c.target))
    val dropped = stmts.size - kept.size
    def expect(ok: Boolean, what: String): Option[String] =
      if (ok) None else Some(s"${c.kind}: $what (outcome $outcome, overlap $ov, audit $audit, dropped $dropped)")
    val clean = audit.nullViolations == 0 && audit.uniqueViolations == 0 && audit.typeViolations == 0
    val counted = expected.isEmpty || expected.get(c.id).contains(ov)
    c.kind match {
      case "prose_ddl" => expect(outcome == SqlGuard.Ok(1) && ov.tp > 0 && ov.fp == 0 && ov.fn > 0 &&
        dropped == 2 && counted && clean, "expected the DDL dropped and a strict subset of the gold tuples")
      case "wrong_column" => expect(outcome.isInstanceOf[SqlGuard.Failed] && ov.tp == 0 &&
        dropped == 0 && counted, "expected SqlGuard to report Failed")
    }
  }
}

object MappingPipeline {
  /** A fenced block's statements, split at `;`. */
  def statements(block: String): Seq[String] = block.split(";").map(_.trim).filter(_.nonEmpty).toSeq
}
