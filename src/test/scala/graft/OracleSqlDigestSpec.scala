package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of every DuckDB oracle: the SHA-256 of each
  * `SparkEntry.oracleSql` entry must equal the committed list in
  * `src/test/resources/oracle_sql.sha256`. A refactor of the registries'
  * SQL strings (shared fragments, interpolation) must leave each oracle
  * byte-identical; an intended oracle edit regenerates the list with
  * `sbt "Test/runMain graft.OracleSqlDigests"`. Builds no SparkSession.
  */
class OracleSqlDigestSpec extends AnyFunSuite {

  test("every oracle SQL text matches its committed SHA-256") {
    val want = OracleSqlDigests.committed
    val got = OracleSqlDigests.current
    val changed = got.keySet.intersect(want.keySet).toSeq.sorted
      .filter(n => got(n) != want(n)).map(n => s"$n ${got(n)}")
    val added = (got.keySet -- want.keySet).toSeq.sorted
      .map(n => s"$n ${got(n)} (new)")
    val removed = (want.keySet -- got.keySet).toSeq.sorted
      .map(n => s"$n (no oracle now)")
    val diff = changed ++ added ++ removed
    if (diff.nonEmpty) fail(s"oracle SQL changed for ${diff.size} quer" +
      s"${if (diff.size == 1) "y" else "ies"}:\n${diff.mkString("\n")}")
  }
}

/** Reads and writes the committed per-query oracle digest list: one
  * `<sha256-hex>  <query name>` line per oracle, sorted by name.
  */
object OracleSqlDigests {
  val path = Paths.get("src/test/resources/oracle_sql.sha256")

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  def current: Map[String, String] =
    SparkEntry.oracleSql.map { case (n, sql) => n -> sha256(sql) }

  def committed: Map[String, String] =
    new String(Files.readAllBytes(path), UTF_8).linesIterator
      .filter(_.nonEmpty).map { l =>
        val Array(h, n) = l.split("  ", 2)
        n -> h
      }.toMap

  def main(args: Array[String]): Unit = {
    val lines = current.toSeq.sortBy(_._1).map { case (n, h) => s"$h  $n\n" }
    Files.write(path, lines.mkString.getBytes(UTF_8))
    println(s"wrote ${lines.size} oracle digests to $path")
  }
}
