import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans for headline queries → stdout.
  * Run with `sbt "runMain Explain [query...]"` (tools/README.md);
  * used to regenerate PLANS.md. */
object Explain {
  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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
