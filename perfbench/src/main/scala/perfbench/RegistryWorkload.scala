package perfbench

import java.io.File

import scala.io.Source
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{SessionHygiene, Tables}

/** Registry queries run end to end: each query's full final plan, every row
  * and column collected in the final ORDER BY, never `count()`. Each result
  * is checked against the digest recorded for it on the generated tables.
  */
final class RegistryWorkload(spark: SparkSession, fixtures: File) extends Workload {
  import RegistryWorkload._

  override def items: Int = queries.size
  override def warmupPasses: Int = 2

  private val dir = Data.cached(spark, fixtures, scale, Data.tables.toSet)

  private val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
  private val expected: Map[String, Digest.Result] = RegistryWorkload.expected
  private var last: Map[String, Digest.Result] = Map.empty

  /** Open every table. The tables and the query list do not depend on the
    * seed: the recorded digests hold for every run.
    */
  override def prepare(): Unit = Data.tables.foreach(t => Tables(spark, dir, t).schema)

  override def sizes: Seq[(String, Any)] = Seq(
    "queries" -> queries.size,
    "scale_factor" -> scale,
    "lineitem_rows" -> Data.rows(scale)("lineitem"),
    "documents" -> Data.rows(scale)("documents"),
    "result_rows" -> last.values.map(_.rows).sum)

  override def pass(t: Tracer): Map[String, String] = {
    val got = queries.map { q =>
      val r = try Right(t.span(s"queries.$q", q) {
        val df = fns(q)(spark, dir)
        Digest.of(df.columns.toSeq, df.collect().iterator)
      }) catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      t.span("core.hygiene", q)(SessionHygiene.dropAllBlocks(spark))
      q -> r
    }
    last = got.collect { case (q, Right(d)) => q -> d }.toMap
    got.flatMap {
      case (q, Left(err)) => Some(q -> err)
      case (q, Right(d)) if !expected.get(q).contains(d) =>
        Some(q -> s"digest $d differs from the recorded ${expected.get(q)}")
      case _ => None
    }.toMap
  }

  /** The digests of the last pass, in the recorded-digests file format. */
  def digests: String =
    queries.flatMap(q => last.get(q).map(d => s"$q\t${d.rows}\t${d.digest}")).mkString("", "\n", "\n")
}

object RegistryWorkload {
  val scale = 0.01

  /** Two groups: the paper's evaluation substrate (set operations,
    * alignment metrics, overlap evaluation, `OverlapEvaluator.tableOverlap`) and queries
    * whose cost `count()` hides (the final sort and the row-local kernels
    * Catalyst prunes when only a count is asked for).
    */
  val queries: Seq[String] = Seq(
    "q12_setop_intersect", "q13_setop_except", "q17_alignment_metrics", "q37_overlap_eval",
    "q68_meaningful_overlap", "q01_pricing_summary", "q185_char_entropy")

  /** Digests recorded on the generated tables by a tree that passes every
    * oracle check; one `query<TAB>rows<TAB>digest` line per query.
    */
  lazy val expected: Map[String, Digest.Result] =
    Option(getClass.getResourceAsStream("/registry_digests.tsv")).map { in =>
      try Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
        val Array(q, n, d) = l.split('\t')
        q -> Digest.Result(d, n.toLong)
      }.toMap
      finally in.close()
    }.getOrElse(Map.empty)
}
