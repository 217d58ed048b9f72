package graft

/** Dump formatted physical plans for plan-shape review (dev tool),
  * under the same session as [[Bench]]. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_filter_like", "q_join_unique", "q_join_prefix",
        "q_agg_pricing", "q_agg_revenue_nation", "q_take_while",
        "q_dedup_exact", "q_window_rank")
    val spark = GraftSession(GraftSession.envCores(32), 32)
    names.foreach { n =>
      println(s"\n════════ $n ════════")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    println("\n════════ entry ════════")
    println(SparkEntry.entry(spark).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
