package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val cols = Seq("id", "name", "score")
  private val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.25), Row(3L, null, Double.NaN))
  private def digest(cs: Seq[String], rs: Seq[Row]) = Digest.of(cs, rs.iterator)

  test("the same rows in the same order digest alike") {
    assert(digest(cols, rows) == digest(cols, rows.map(r => Row(r.toSeq: _*))))
    assert(digest(cols, rows).rows == 3)
  }

  test("reordering rows changes the digest") {
    assert(digest(cols, rows) != digest(cols, rows.reverse))
  }

  test("changing one value in one column changes the digest") {
    val changed = rows.updated(1, Row(2L, "b", 1.2500000000000002))
    assert(digest(cols, rows) != digest(cols, changed))
    assert(digest(cols, rows) != digest(cols, rows.updated(0, Row(1L, "A", 0.5))))
  }

  test("columns are compared by name, as check.py sorts them") {
    val permuted = rows.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(digest(cols, rows) == digest(Seq("score", "id", "name"), permuted))
    assert(digest(cols, rows) != digest(Seq("id", "name", "value"), rows))
  }

  test("NULL and NaN are told apart") {
    assert(digest(cols, Seq(Row(1L, "a", null))) != digest(cols, Seq(Row(1L, "a", Double.NaN))))
  }
}
