package graft

import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Plan-audit tool: prints the optimizer's output for named queries so
  * PLANS.md sections are captured, not transcribed, and plan
  * regressions (interpreted fallback, lost pushdown, surprise shuffles)
  * show up as a diff, not a timing surprise. With no query names it
  * prints every registry query in sorted order. `--formatted` switches
  * to FormattedMode (the only mode that renders the scans'
  * `PushedFilters` untruncated).
  *
  * Run: `sbt "runMain graft.PlanDump q01_scan_filter_project q113_pq_encode"`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val formatted = args.contains("--formatted")
    val named = args.filterNot(_.startsWith("--")).toSeq
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(4, "graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      println(s"==== $name ====")
      println(qe.explainString(if (formatted) FormattedMode else SimpleMode))
    }
    spark.stop()
  }
}
