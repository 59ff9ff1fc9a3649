package graft

import org.apache.spark.sql.SparkSession

/** The session and the per-query cache drain shared by the two driver
  * mains, [[Verify]] and [[Bench]]. */
private[graft] object DriverSession {

  /** `local[cpus]` with `cpus` shuffle partitions, AQE on, UTC, no UI.
    * SPARK_GRAFT_EXTRA_CONF (`k=v;k=v`) is applied after these defaults,
    * so it overrides any of them: `spark.master=local-cluster[2,16,12288]`,
    * `spark.sql.shuffle.partitions=64`, or the standing ANSI leg's
    * `spark.sql.ansi.enabled=true` (dev/ansi_verify.sh). */
  def build(cpus: String): SparkSession = {
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = extraConf.foldLeft(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
      ) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cache a query left behind: cached tables and persisted
    * RDDs. graft's operators end their own caches before they return, so
    * what this drops is a query's own persists and the checkpoint blocks
    * of its cut leaves, which would otherwise wait for the ContextCleaner
    * while later queries in the same session run. */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
