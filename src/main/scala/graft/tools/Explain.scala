package graft.tools

/** Dump formatted physical plans for selected queries — the plan-review
  * loop: check parquet pushdown (PushedFilters/ReadSchema), broadcast
  * joins on dimensions, exchange reuse, and WholeStageCodegen spans.
  *
  * Usage: sbt "runMain graft.tools.Explain <sfDir> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q5_nation_revenue", "q1_pricing_summary", "q16_sessionize")
    val spark = graft.Sessions.local(4)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
