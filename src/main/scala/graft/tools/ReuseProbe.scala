package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: does AQE's exchange/stage reuse deduplicate the repeated
  * sub-plan references in the multi-reference diagnostics ops
  * (`lengthOutliers` re-reads base twice)? Prints the FINAL
  * adaptive plan after execution and counts ShuffleQueryStage vs
  * ReusedQueryStage vs parquet scans — evidence for the Scaladoc claims
  * about corpus-scan multiplicity. */
object ReuseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- Seq("length_outliers", "source_overlap")) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      def c(s: String) = s.r.findAllIn(p).length
      println(s"$q: shuffleStages=${c("ShuffleQueryStage")} " +
        s"reusedStages=${c("ReusedQueryStage|ReusedExchange")} " +
        s"scans=${c("Scan parquet|FileScan")} " +
        s"broadcastStages=${c("BroadcastQueryStage")}")
    }
    spark.stop()
  }
}
