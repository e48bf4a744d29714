package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every registered query to PLANS.md —
  * reviewable evidence that filters push down, small sides broadcast, and
  * shuffles land where intended. Regenerate with:
  * `sbt "runMain graft.Explain /root/testdata/sf0.001 PLANS.md"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Harness.session(Harness.cores)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans per query\n\n")
    sb.append(s"Generated by `graft.Explain` at `$sfDir`. Queries that run\n")
    sb.append("imperative stages (streaming, mock-LLM) show the final plan only.\n")
    for (name <- Runner.select(None)) {
      sb.append(s"\n## $name\n\n```\n")
      Runner.once(spark, name, sfDir)(
        _.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      ).result match {
        case Right(formatted) =>
          // cap per-query output; the interesting structure is at the top
          val lines = formatted.linesIterator.toSeq
          sb.append(lines.take(120).mkString("\n"))
          if (lines.size > 120) sb.append(s"\n... (${lines.size - 120} more lines)")
        case Left(e) => sb.append(s"explain failed: $e")
      }
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
