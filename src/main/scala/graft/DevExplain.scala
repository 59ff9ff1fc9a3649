package graft

/** Dev utility: print `explain("formatted")` for the named SparkEntry
  * queries at sf0.001, or for every query when given none — the
  * plan-audit loop PLANS.md documents.
  * `sbt "runMain graft.DevExplain q147_resample_ffill ..."` */
object DevExplain {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("explain")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) {
      println(s"===== $q =====")
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .explain("formatted")
      catch { case e: Exception => println(s"(explain failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
