// A USER's application, written against the packaged graft jar using only
// README/DEPLOY-documented API. Corpus clean (q69 shape) -> near-dup dedup
// (q94 shape) -> staged partitioned publish -> portable MinHash index ->
// incremental delivery dedup (q140 shape). Run via spark-submit with the
// GraftConf-printed conf lines.
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Sinks

object CorpusPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CorpusPipeline <dataDir> <outDir>")
    val dataDir = args(0); val outDir = args(1)
    val spark = SparkSession.builder().appName("corpus-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- 1. corpus clean: language/quality gate + exact dedup ----
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text", "source")
    val scored = docs
      .withColumn("predicted", TextAnalysis.langIdMulti(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
    val kept = scored.where(col("predicted") === "en" && col("quality") >= 0.5)
    val exact = Dedup.exactByDigest(kept, "text", "doc_id")

    // ---- 2. near-dup dedup (exercises CC + checkpoint mode) ----
    val pairs = Dedup.jaccardPairsPrefixFilter(
      exact.select("doc_id", "text"), "doc_id", "text", 3, 0.5)
    val clean = Dedup.dropNearDups(exact, "doc_id", pairs)

    // ---- 3. publish, staged + partitioned (reader-safe mid-write) ----
    Sinks.writePartitionedStaged(clean, s"$outDir/corpus", "source")

    // ---- 4. build + persist the portable incremental index ----
    val index = Dedup.minhashIndexPortable(
      clean.select("doc_id", "text"), "doc_id", "text", n = 3, k = 16, bands = 4)
    index.write.mode("overwrite").parquet(s"$outDir/minhash_index")

    // ---- 5. a synthetic "tomorrow's delivery": near-dups of the corpus
    //         plus genuinely new docs, deduped against the INDEX ONLY ----
    val delivery = docs.where(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 900000).as("doc_id"),
        concat(col("text"), lit(" delivery tail")).as("text"))
      .unionByName(docs.where(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 950000).as("doc_id"),
          concat_ws(" ", lit("novel content"), col("doc_id"),
            lit("alpha beta gamma delta epsilon zeta eta theta")).as("text")))
    val idx = spark.read.parquet(s"$outDir/minhash_index")
    val drops = Dedup.incrementalNearDupDrops(delivery, idx,
      "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
    val freshKept = delivery.join(
      drops.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    freshKept.write.mode("overwrite").parquet(s"$outDir/delivery_kept")

    // ---- 6. the SQL surface (GraftExtensions via spark.sql.extensions) ----
    spark.read.parquet(s"$outDir/corpus").createOrReplaceTempView("corpus")
    // graft_text_stats returns array<long>: [len, punct, cjk, nTok, en17, en6, de, fr, es]
    val sqlStats = spark.sql(
      """SELECT source, count(*) AS n, avg(graft_text_stats(text)[3]) AS avg_tokens
        |FROM corpus GROUP BY source ORDER BY source""".stripMargin)

    // ---- report ----
    val nIn = docs.count(); val nKept = kept.count(); val nExact = exact.count()
    val nClean = clean.count(); val nDeliv = delivery.count()
    val nDrops = drops.count(); val nFresh = freshKept.count()
    println(s"[pipeline] input=$nIn langQualityKept=$nKept exactDedup=$nExact " +
      s"nearDupClean=$nClean delivery=$nDeliv deliveryDrops=$nDrops deliveryKept=$nFresh")
    sqlStats.show(20, false)
    val byReason = drops.groupBy("reason").count().collect()
      .map(r => s"${r.get(0)}=${r.get(1)}").mkString(" ")
    println(s"[pipeline] dropReasons: $byReason")
    spark.stop()
  }
}
