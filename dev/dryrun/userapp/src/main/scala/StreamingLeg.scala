// DEPLOY dry run, leg 2: the streaming surface via spark-submit — the
// playbook's streaming confs (Spark's RocksDB state-store provider +
// tuning, spark.graft.streaming.maxFilesPerTrigger) passed as --conf only.
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

object StreamingLeg {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamingLeg <dataDir> <outDir>")
    val dataDir = args(0); val outDir = args(1)
    val spark = SparkSession.builder().appName("streaming-leg").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // windowed aggregation over the event backlog as micro-batches
    val counts = EventsStream.tumblingCounts(spark, dataDir, windowSec = 3600)
    val nWin = counts.count()
    val totals = counts.agg(sum("n"), sum("total_value")).collect()(0)
    println(s"[stream] tumbling windows=$nWin events=${totals.get(0)} value=${totals.get(1)}")

    // exactly-once-by-key streaming upsert into a partitioned table
    EventsStream.streamingUpsert(spark, dataDir, s"$outDir/events_table")
    val table = spark.read.parquet(s"$outDir/events_table")
    val nRows = table.count()
    val nKeys = table.select("event_id").distinct().count()
    println(s"[stream] upsert table rows=$nRows distinctKeys=$nKeys " +
      s"partitions=${table.select("event_date").distinct().count()}")
    spark.stop()
  }
}
