package graft
/** Dev tool: dump formatted plans for headline queries so scan
  * pruning / join strategy / codegen spans can be audited. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.session("4")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "filter_pred", "join_broadcast", "join_sortmerge", "join_multiway",
      "agg_pricing_summary", "sort_multi_key")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
