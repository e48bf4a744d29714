package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only — the driver passes 2): a
    // comma-separated list of query names to dump; the oracle json is
    // restricted to the same subset so check.py sees a consistent dir
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // a typo'd name would silently produce an empty dump dir + an empty
    // oracle_sql.json, which check.py reads as a vacuous pass — fail loudly
    only.foreach(SparkEntry.requireKnown)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Harness.session(Harness.cores)
    new java.io.File(outDir).mkdirs()
    // sorted name order: a query's predecessors (and so any residual JVM
    // state) are identical run-to-run, matching Bench's iteration order
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.core.SessionHygiene.dropAllBlocks(spark)
    }
    // JStr escapes backslash, quote and ALL control chars (<0x20): a tab
    // or CR in the oracle SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness. The `": "`
    // separator keeps the file byte-identical to earlier rounds.
    def q(s: String): String = graft.llm.MiniJson.JStr(s).render
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
