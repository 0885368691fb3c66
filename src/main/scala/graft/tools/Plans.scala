package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every SparkEntry query to PLANS.md —
  * the audit trail for the scale checklist: filters/projections reaching
  * the parquet scan (PushedFilters/ReadSchema), dimension joins broadcast,
  * WholeStageCodegen spans wide, no unexpected shuffles. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.Session.tool(sfDir)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of every gate query (explain formatted)\n\n")
    sb.append(s"Generated against `$sfDir` (plan shape is SF-independent; AQE\n")
    sb.append("may further coalesce/convert at runtime on real data).\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch {
        case e: Throwable => sb.append(s"\n## $name\n\nERROR: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
