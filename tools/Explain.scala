/** Dump formatted physical plans for headline queries → stdout.
  * Run with `sbt "runMain Explain [query...]"` (tools/README.md);
  * used to regenerate PLANS.md. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q10_revenue_by_nation", "scd2_history", "scd_cdc_stored",
      "dedup_minhash", "knn_lsh", "salted_join", "text_stats")
    names.foreach { n =>
      println(s"===== $n =====")
      println(graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
