package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Every operator ends the caches it makes before it returns. One session
  * runs the oracle queries built on the persisting operators, and then
  * direct calls of those operators, with no drain between them; after
  * each result is collected, the session's CacheManager must be empty. */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def cached = spark.sharedState.cacheManager

  private def assertNoCache(what: String): Unit =
    assert(cached.isEmpty, s"$what left a cached plan behind")

  test("oracle queries over the persisting operators leave no cache behind") {
    spark.catalog.clearCache() // what earlier suites in this JVM left
    val names = Seq(
      "q23_validation_split", "q29_ngram_jaccard_pairs", "q34_simhash_pairs",
      "q37_invoice_pipeline", "q76_neardup_components", "q94_neardup_dedup",
      "q125_entity_linkage", "q127_link_pagerank", "q139_local_ocr_pipeline",
      "q149_dedup_keep_best", "q161_triangle_count", "q163_phrase_search",
      "q164_containment_pairs", "q188_image_phash_neardup", "q192_kcore")
    names.foreach { n =>
      assert(SparkEntry.queries(n)(spark, sfDir).collect().nonEmpty, s"$n is empty")
      assertNoCache(n)
    }
  }

  test("direct operator calls leave no cache behind") {
    spark.catalog.clearCache()
    val docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma delta w${i % 7} x${i % 5} y$i")).toDF("doc_id", "text")
    def check(what: String)(run: => Long): Unit = {
      assert(run > 0, s"$what returned nothing")
      assertNoCache(what)
    }
    val pairs = Dedup.jaccardPairsPrefixFilter(docs, "doc_id", "text", 3, 0.5)
    check("jaccardPairsPrefixFilter")(pairs.count())
    check("containmentPairs")(
      Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5).count())
    check("linkPairsPrefixFilter")(Linkage.linkPairsPrefixFilter(
      docs, "doc_id", "text", docs, "doc_id", "text",
      Dedup.wordShingleHashes(_, 3), 0.5).count())
    check("dropNearDupsKeepBest")(Dedup.dropNearDupsKeepBest(docs, "doc_id", pairs,
      length(col("text"))).count())
    check("hammingPairsBanded")(Dedup.hammingPairsBanded(
      docs.select(col("doc_id"), (col("doc_id") % 3).as("fp")), "doc_id", "fp").count())
    val edges = (0L until 30L).flatMap(i => Seq((i, (i + 1) % 30), (i, (i * 7) % 30)))
      .toDF("src", "dst")
    check("pageRank")(Graphs.pageRank(edges, "src", "dst").count())
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0") // the distributed loop
    try check("pageRank, distributed")(Graphs.pageRank(edges, "src", "dst").count())
    finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
    check("phraseSearch")(TextAnalysis.phraseSearch(docs, "doc_id", "text",
      Seq(1L -> Seq("beta", "gamma"), 2L -> Seq("delta"))).count())
  }
}
