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
    // a typo'd name would produce an empty dump dir + an empty
    // oracle_sql.json, which check.py reads as a vacuous pass: Runner.names
    // fails on it
    val only: Option[Set[String]] = args.lift(2).map(Runner.names)
    val spark = Harness.session(Harness.cores)
    new java.io.File(outDir).mkdirs()
    Runner.select(only).foreach { name =>
      Runner.once(spark, name, sfDir)(_.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")).result.left
        .foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    // JStr escapes backslash, quote and ALL control chars (<0x20): a tab
    // or CR in the oracle SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness. The `": "`
    // separator keeps the file byte-identical to earlier rounds.
    def q(s: String): String = graft.llm.MiniJson.JStr(s).render
    val json = SparkEntry.oracleSql.filter(o => only.forall(_.contains(o._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
