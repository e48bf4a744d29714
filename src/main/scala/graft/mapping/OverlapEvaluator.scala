package graft.mapping

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Model._

/** Tuple-overlap evaluation + constraint audits for the schema-mapping
  * pipeline (SURVEY §2.H4, D9, D10; behavior of
  * `Schema Mapping/AnalysisUtils/Evaluator.py:126-238`,
  * `DatabaseUtils/DatabaseManager.py:149-200`).
  */
object OverlapEvaluator {

  final case class Overlap(relation: String, tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    def f1: Double = {
      val (p, r) = (precision, recall)
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
    /** empty-vs-empty counts as perfect (AnaylsisUtils.py:11-12). */
    def isAllZero: Boolean = tp == 0 && fp == 0 && fn == 0
  }

  /** H4: SET-semantics tuple overlap of predicted vs gold, projected to
    * the relation's meaningful attributes (B7: surrogate PKs excluded,
    * Evaluator.py:194-203). TP = pred ∩ gold, FP = pred − gold,
    * FN = gold − pred — DISTINCT semantics exactly like SQLite
    * EXCEPT/INTERSECT (SURVEY §7.4.3).
    *
    * One aggregation instead of three set operations: predicted rows are
    * tagged 1 and gold rows 2, the union is grouped by the meaningful
    * columns and the tags `bit_or`ed. Each group is one DISTINCT tuple,
    * and its tag says where it occurs: 3 in both (INTERSECT), 1 only in
    * pred (pred EXCEPT gold), 2 only in gold (gold EXCEPT pred). Grouping
    * treats NULLs as equal, as the set operations do, and the union widens
    * column types by position, as they do.
    */
  def tableOverlap(pred: DataFrame, gold: DataFrame, rel: Relation): Overlap = {
    val cols = rel.attributes.filter(_.meaningful).map(a => col(a.name))
    val tag = "__overlap_tag"
    val tagged = pred.select(cols :+ lit(1).as(tag): _*)
      .union(gold.select(cols :+ lit(2).as(tag): _*))
    val t = col(tag)
    val r = tagged.groupBy(cols: _*).agg(bit_or(t).as(tag))
      .agg(count(when(t === 3, 1)), count(when(t === 1, 1)), count(when(t === 2, 1)))
      .head()
    Overlap(rel.name, tp = r.getLong(0), fp = r.getLong(1), fn = r.getLong(2))
  }

  /** Timeout scoring rule: FN = |gold|, FP = ∞ (Evaluator.py:142-151). */
  def timeoutOverlap(gold: DataFrame, rel: Relation): Overlap = {
    val cols = rel.attributes.filter(_.meaningful).map(a => col(a.name))
    Overlap(rel.name, tp = 0, fp = Long.MaxValue,
      fn = gold.select(cols: _*).distinct().count())
  }

  final case class Audit(
      relation: String,
      nullViolations: Long,
      typeViolations: Long,
      sizeViolations: Long,
      uniqueViolations: Long)

  /** D10: nullable / type / size / uniqueness audit of a produced table
    * against the declared relation (DatabaseManager.py:163-200). Type
    * check: INTEGER attrs must hold integral values; DOUBLE numeric;
    * TEXT anything. Values are audited in their string form, mirroring
    * the reference's string-typed imports (isdecimal → `^[0-9]+$`,
    * DatabaseManager.py:188-189).
    *
    * All totals come from one aggregate. D9 uniqueness, per declared key
    * (primary key and each `uniques` set), is the rows in excess of one
    * per key value: `count(*) − count(DISTINCT struct(key))`. A struct of
    * NULLs is itself non-NULL, so NULL key values form one group, as a
    * `groupBy` on the key would.
    */
  def audit(df: DataFrame, rel: Relation): Audit = {
    val nullCond = rel.attributes.filterNot(_.nullable)
      .map(a => when(col(a.name).isNull, 1).otherwise(0))
    val typeCond = rel.attributes.map { a =>
      superType(a.dataType) match {
        case "INTEGER" =>
          when(col(a.name).isNotNull &&
            !col(a.name).cast("string").rlike("^-?[0-9]+$"), 1).otherwise(0)
        case "DOUBLE" =>
          when(col(a.name).isNotNull && col(a.name).cast("double").isNull, 1).otherwise(0)
        case _ => lit(0)
      }
    }
    val sizeCond = rel.attributes.collect {
      case a if a.size.isDefined =>
        when(length(col(a.name).cast("string")) > a.size.get, 1).otherwise(0)
    }
    def total(conds: Seq[org.apache.spark.sql.Column]) =
      if (conds.isEmpty) lit(0L) else coalesce(sum(conds.reduce(_ + _)).cast("long"), lit(0L))
    val keys = (rel.primaryKey +: rel.uniques).filter(_.nonEmpty)
    val uniq = keys.map(k => count(lit(1)) - count_distinct(struct(k.map(col): _*)))
    val r = df.agg(total(nullCond), total(typeCond), total(sizeCond),
      uniq.foldLeft(lit(0L))(_ + _)).head()
    Audit(rel.name, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Catalog setup: the reference's attached `source`/`target`/`gold_target`
    * SQLite namespaces become Spark databases (SURVEY §2.A9/A10).
    */
  def createNamespaces(spark: SparkSession, dbs: Seq[String] = Seq("source", "target", "gold_target")): Unit =
    dbs.foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`"))

  def registerTable(spark: SparkSession, db: String, rel: Relation, data: DataFrame): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${rel.name}`")
    data.write.mode("overwrite").saveAsTable(s"`$db`.`${rel.name}`")
  }
}
