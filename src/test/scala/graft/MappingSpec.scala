package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Model._
import graft.mapping.{OverlapEvaluator, SqlGuard}

/** End-to-end schema-mapping evaluation slice (SURVEY §3.3): catalog
  * namespaces → source data → guarded execution of "LLM-generated" SQL →
  * tuple-overlap vs gold → constraint audits.
  */
class MappingSpec extends SparkSpec {

  private val person = Relation("person",
    attributes = Seq(
      Attribute("person_id", "integer", nullable = false, meaningful = false),
      Attribute("name", "varchar", size = Some(10)),
      Attribute("age", "int")),
    primaryKey = Seq("person_id"))

  private def setup(): Unit = {
    val s = spark
    import s.implicits._
    OverlapEvaluator.createNamespaces(s)
    val src = Seq((1L, "alice", 30L), (2L, "bob", 40L), (3L, "carol", 50L))
      .toDF("subject_id", "subject_name", "subject_age")
    val srcRel = Relation("subjects", Seq(
      Attribute("subject_id", "integer"), Attribute("subject_name", "text"),
      Attribute("subject_age", "integer")))
    OverlapEvaluator.registerTable(s, "source", srcRel, src)
    s.sql("DROP TABLE IF EXISTS target.person") // idempotent across test orders
    s.sql(person.ddl("target"))
    val gold = Seq((1L, "alice", 30L), (2L, "bob", 40L), (3L, "carol", 50L))
      .toDF("person_id", "name", "age")
    OverlapEvaluator.registerTable(s, "gold_target", person, gold)
  }

  test("triage keeps DML, drops protective DDL and prose") {
    val stmts = Seq(
      "CREATE TABLE target.person (x INT)",
      "DROP TABLE source.subjects",
      "INSERT INTO target.person SELECT * FROM source.subjects",
      "Sure, here is the SQL you asked for:",
      "SELECT count(*) FROM source.subjects")
    val kept = SqlGuard.triage(stmts)
    assert(kept == Seq(
      "INSERT INTO target.person SELECT * FROM source.subjects",
      "SELECT count(*) FROM source.subjects"))
  }

  test("qualify prefixes unqualified table names by namespace membership") {
    val sql = "INSERT INTO person SELECT subject_id, subject_name, subject_age FROM subjects"
    val q = SqlGuard.qualify(sql, Set("subjects"), Set("person"))
    assert(q == "INSERT INTO target.person SELECT subject_id, subject_name, subject_age FROM source.subjects")
    // names in both schemas stay untouched; already-qualified names too
    assert(SqlGuard.qualify("SELECT * FROM shared", Set("shared"), Set("shared"))
      == "SELECT * FROM shared")
    assert(SqlGuard.qualify("SELECT * FROM source.subjects", Set("subjects"), Set())
      == "SELECT * FROM source.subjects")
  }

  test("qualify never rewrites table names inside string literals") {
    val sql = "SELECT 'visit to orders dept' AS note, o_comment FROM orders " +
      "WHERE o_comment <> 'orders pending ''orders'' review'"
    val q = SqlGuard.qualify(sql, Set("orders"), Set("person"))
    assert(q == "SELECT 'visit to orders dept' AS note, o_comment FROM source.orders " +
      "WHERE o_comment <> 'orders pending ''orders'' review'")
  }

  test("qualify masks comments: an apostrophe in a comment cannot unbalance literals") {
    val sql = "SELECT note FROM orders -- don't touch the 'orders dept' label\n" +
      "WHERE note <> 'orders pending'"
    val q = SqlGuard.qualify(sql, Set("orders"), Set())
    assert(q == "SELECT note FROM source.orders -- don't touch the 'orders dept' label\n" +
      "WHERE note <> 'orders pending'")
    val block = "SELECT /* about orders */ o_id FROM orders"
    assert(SqlGuard.qualify(block, Set("orders"), Set())
      == "SELECT /* about orders */ o_id FROM source.orders")
    // double-quoted strings are masked too (explicitly-quoted identifiers
    // are user intent, left untouched)
    assert(SqlGuard.qualify("SELECT \"orders\" FROM orders", Set("orders"), Set())
      == "SELECT \"orders\" FROM source.orders")
  }

  test("guarded execution + perfect mapping scores P=R=F1=1") {
    setup()
    val generated =
      """```sql
        |INSERT INTO person SELECT subject_id, subject_name, subject_age FROM subjects;
        |```""".stripMargin
    val stmts = graft.ops.Parsers.parseFencedBlocks(generated)
      .flatMap(_.split(";").toSeq).map(_.trim).filter(_.nonEmpty)
    val guarded = SqlGuard.triage(stmts).map(s => SqlGuard.qualify(s, Set("subjects"), Set("person")))
    val outcome = SqlGuard.execute(spark, guarded, timeoutSec = 60)
    assert(outcome == SqlGuard.Ok(1))
    val o = OverlapEvaluator.tableOverlap(
      spark.table("target.person"), spark.table("gold_target.person"), person)
    assert(o.tp == 3 && o.fp == 0 && o.fn == 0)
    assert(o.precision == 1.0 && o.recall == 1.0 && o.f1 == 1.0)
  }

  test("imperfect mapping yields set-semantics FP/FN") {
    setup()
    val s = spark
    import s.implicits._
    val pred = Seq((1L, "alice", 30L), (1L, "alice", 30L), (9L, "zed", 1L))
      .toDF("person_id", "name", "age")
    val o = OverlapEvaluator.tableOverlap(pred, s.table("gold_target.person"), person)
    // distinct semantics: duplicate predicted tuple counts once
    assert(o.tp == 1 && o.fp == 1 && o.fn == 2)
    assert(math.abs(o.f1 - 2 * (0.5 * (1.0 / 3)) / (0.5 + 1.0 / 3)) < 1e-12)
  }

  test("audits count null / type / size / uniqueness violations") {
    val s = spark
    import s.implicits._
    val bad = Seq(
      (null.asInstanceOf[java.lang.Long], "a-name-way-too-long", "notanumber"),
      (java.lang.Long.valueOf(1L), "ok", "30"),
      (java.lang.Long.valueOf(1L), "ok2", "31"))
      .toDF("person_id", "name", "age")
    val a = OverlapEvaluator.audit(bad, person)
    assert(a.nullViolations == 1)   // person_id NOT NULL
    assert(a.typeViolations == 1)   // age 'notanumber' not integer
    assert(a.sizeViolations == 1)   // name > 10 chars
    assert(a.uniqueViolations == 1) // person_id 1 twice (nulls group separately)
  }

  /** The set-operation form `tableOverlap` replaced: SQLite's
    * INTERSECT/EXCEPT, one Spark job each.
    */
  private def setOpOverlap(pred: DataFrame, gold: DataFrame, rel: Relation) = {
    val cols = rel.attributes.filter(_.meaningful).map(a => col(a.name))
    val (p, g) = (pred.select(cols: _*), gold.select(cols: _*))
    OverlapEvaluator.Overlap(rel.name,
      tp = p.intersect(g).count(), fp = p.except(g).count(), fn = g.except(p).count())
  }

  /** The per-key `groupBy` form the fused audit replaced: rows in excess
    * of one per key value, NULL keys grouped together.
    */
  private def groupByUniqueness(df: DataFrame, rel: Relation): Long =
    (rel.primaryKey +: rel.uniques).filter(_.nonEmpty).map { key =>
      df.groupBy(key.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .agg(coalesce(sum(col("n") - 1), lit(0L)))
        .head().getLong(0)
    }.sum

  private def L(v: Long): java.lang.Long = java.lang.Long.valueOf(v)

  private def people(rows: (java.lang.Long, String, java.lang.Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("person_id", "name", "age")
  }

  test("fused tableOverlap equals the INTERSECT/EXCEPT form") {
    val gold = people((L(1), "alice", L(30)), (L(2), "bob", null), (L(3), null, null),
      (L(4), "dave", L(60)), (L(4), "dave", L(60)))
    val cases = Seq(
      // duplicate rows on both sides count once
      "duplicates" -> people((L(1), "alice", L(30)), (L(1), "alice", L(30)),
        (L(9), "zed", L(1)), (L(9), "zed", L(1))),
      // NULLs in a meaningful column match NULLs on the other side
      "nulls" -> people((L(2), "bob", null), (L(3), null, null), (L(5), null, L(7))),
      // the non-meaningful person_id differs: still a true positive
      "surrogate key differs" -> people((L(100), "alice", L(30)), (L(200), "dave", L(60))),
      "empty pred" -> people(),
      "all" -> gold)
    val expected = Map(
      "duplicates" -> (1L, 1L, 3L), "nulls" -> (2L, 1L, 2L),
      "surrogate key differs" -> (2L, 0L, 2L), "empty pred" -> (0L, 0L, 4L),
      "all" -> (4L, 0L, 0L))
    cases.foreach { case (name, pred) =>
      val fused = OverlapEvaluator.tableOverlap(pred, gold, person)
      assert(fused == setOpOverlap(pred, gold, person), name)
      assert((fused.tp, fused.fp, fused.fn) == expected(name), name)
    }
    // empty gold: every distinct predicted tuple is a false positive
    val pred = cases.head._2
    val fused = OverlapEvaluator.tableOverlap(pred, people(), person)
    assert(fused == setOpOverlap(pred, people(), person))
    assert((fused.tp, fused.fp, fused.fn) == ((0L, 2L, 0L)))
    assert(OverlapEvaluator.tableOverlap(people(), people(), person).isAllZero)
  }

  test("fused audit uniqueness equals per-key groupBy: composite key, uniques, NULL keys") {
    val s = spark
    import s.implicits._
    val rel = Relation("visit",
      attributes = Seq(Attribute("a", "integer"), Attribute("b", "integer"),
        Attribute("c", "text")),
      primaryKey = Seq("a", "b"),
      uniques = Seq(Seq("c")))
    val df = Seq[(java.lang.Long, java.lang.Long, String)](
      (L(1), L(1), "x"), (L(1), L(1), "y"), // composite key (1,1) twice
      (L(1), L(2), "x"),                    // unique c = x twice
      (null, L(1), "z"), (null, L(1), "z"), // NULL in one key column
      (null, null, null), (null, null, null) // all-NULL key, NULL c
    ).toDF("a", "b", "c")
    val a = OverlapEvaluator.audit(df, rel)
    // (a,b): (1,1)+1, (null,1)+1, (null,null)+1; c: x+1, z+1, null+1
    assert(a.uniqueViolations == groupByUniqueness(df, rel))
    assert(a.uniqueViolations == 6)
    assert(a.nullViolations == 0 && a.typeViolations == 0 && a.sizeViolations == 0)
    // each key alone, and no key at all
    Seq(rel.copy(uniques = Nil), rel.copy(primaryKey = Nil), rel.copy(primaryKey = Nil, uniques = Nil))
      .foreach { r =>
        assert(OverlapEvaluator.audit(df, r).uniqueViolations == groupByUniqueness(df, r), r)
      }
    assert(OverlapEvaluator.audit(df, rel.copy(uniques = Nil)).uniqueViolations == 3)
    // an empty table audits clean
    assert(OverlapEvaluator.audit(df.limit(0), rel) == OverlapEvaluator.Audit("visit", 0, 0, 0, 0))
  }

  test("runaway SQL is cancelled and reported as timeout") {
    val slow = "SELECT count(*) FROM (SELECT a.id FROM range(100000000) a CROSS JOIN range(1000) b)"
    val outcome = SqlGuard.execute(spark, Seq(slow), timeoutSec = 2)
    assert(outcome == SqlGuard.TimedOut(2))
    val g = spark.range(3).toDF("id")
    assert(OverlapEvaluator.timeoutOverlap(g,
      Relation("r", Seq(Attribute("id", "integer")))).fn == 3)
  }

  test("failed SQL surfaces the error message") {
    val outcome = SqlGuard.execute(spark, Seq("SELECT * FROM nonexistent_xyz"))
    assert(outcome.isInstanceOf[SqlGuard.Failed])
  }

  test("generated CREATE VIEW executes through the guard") {
    setup()
    val stmts = SqlGuard.triage(Seq(
      "CREATE VIEW alignment_view AS SELECT subject_id AS person_id FROM source.subjects"))
    assert(stmts.nonEmpty, "CREATE VIEW must pass triage")
    spark.sql("DROP VIEW IF EXISTS alignment_view")
    assert(SqlGuard.execute(spark, stmts) == SqlGuard.Ok(1))
    assert(spark.table("alignment_view").count() == 3)
    spark.sql("DROP VIEW IF EXISTS alignment_view")
  }
}
