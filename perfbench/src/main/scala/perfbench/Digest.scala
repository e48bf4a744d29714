package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-sensitive, all-column digest of a query result.
  *
  * Columns are taken in name order and every value is rendered as text, the
  * way `tools/check.py` compares a result with its oracle: two results digest
  * alike only when check.py would call them equal row for row, in order.
  * Doubles render through `Double.toString`, which maps distinct doubles to
  * distinct strings, and NaN as `nan`. SQL NULL has its own marker, so the
  * digest is stricter than check.py where pandas turns NULL into NaN.
  */
object Digest {

  final case class Result(digest: String, rows: Long)

  def of(columns: Seq[String], rows: Iterator[Row]): Result = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    var n = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { row =>
      sb.setLength(0)
      sb.append('\n')
      var i = 0
      while (i < order.length) {
        if (i > 0) sb.append('\u0001')
        render(row.get(order(i)), sb)
        i += 1
      }
      md.update(sb.toString.getBytes(StandardCharsets.UTF_8))
      n += 1
    }
    Result(md.digest().take(16).map(b => f"${b & 0xff}%02x").mkString, n)
  }

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\u0000")
    case d: Double => sb.append(if (d.isNaN) "nan" else java.lang.Double.toString(d))
    case f: Float => sb.append(if (f.isNaN) "nan" else java.lang.Float.toString(f))
    case b: Array[Byte] => b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); render(x, sb) }
      sb.append(']')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        render(k, sb); sb.append(':'); render(x, sb)
      }
      sb.append('}')
    case r: Row =>
      sb.append('(')
      (0 until r.length).foreach { i => if (i > 0) sb.append(','); render(r.get(i), sb) }
      sb.append(')')
    case other => sb.append(other.toString)
  }
}
