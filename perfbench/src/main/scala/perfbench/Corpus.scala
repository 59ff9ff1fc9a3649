package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Sinks

/** One corpus shard (a directory of JSON-lines files) and its expected
  * dedup result. */
final case class Shard(path: String, docs: Int, good: Int, pairs: Long, survivors: Array[Long]) {
  def read(spark: SparkSession): DataFrame = spark.read.schema("id long, text string").json(path)
}

/** Seeded corpus generator. Good documents are long, stopword-rich prose
  * (quality score near 1); junk documents are short symbol runs (score
  * near 0). Near-duplicate families are a base document plus variants with
  * one or two substituted words and a few appended ones, each pair
  * verified to have 3-gram Jaccard of at least 0.6; every other pair of
  * documents shares almost no 3-grams. Exact duplicates differ from their
  * original only in letter case. */
object CorpusGen {
  val Shards = 3
  val DocsPerShard = 10000
  val Threshold = 0.5

  private val syllables = Seq("ka", "lo", "mi", "su", "ten", "rav", "pol", "dex", "nar",
    "vin", "bo", "ze", "qua", "ris", "tal", "fen", "gor", "hul", "jax", "wem", "ost", "pri")
  private val junkTokens = Seq("$$$", "###", "@@@", "!!!", "%%%", "***", "&&", "~~~", "^^")

  final case class Doc(id: Long, tokens: Vector[String], family: Int, good: Boolean) {
    def text: String = tokens.mkString(" ")
    def norm: String = text.toLowerCase
  }

  def shingles(tokens: Seq[String]): Set[String] =
    tokens.map(_.toLowerCase).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  private def vocabulary(r: SplittableRandom): IndexedSeq[String] = {
    val words = mutable.LinkedHashSet[String]()
    while (words.size < 6000)
      words += (0 until 2 + r.nextInt(3)).map(_ => syllables(r.nextInt(syllables.size))).mkString
    words.toIndexedSeq
  }

  private def prose(r: SplittableRandom, vocab: IndexedSeq[String], n: Int): Vector[String] =
    (0 until n).map { i =>
      val w = if (r.nextDouble() < 0.3) TextAnalysis.enStopwords(r.nextInt(TextAnalysis.enStopwords.size))
        else vocab(r.nextInt(vocab.size))
      if (i % 12 == 11) w + "." else w
    }.toVector

  private def variant(r: SplittableRandom, vocab: IndexedSeq[String], base: Vector[String]): Vector[String] = {
    var t = base
    for (_ <- 0 until 1 + r.nextInt(2)) t = t.updated(r.nextInt(t.size), vocab(r.nextInt(vocab.size)))
    t ++ (0 until r.nextInt(4)).map(_ => vocab(r.nextInt(vocab.size)))
  }

  private def recase(r: SplittableRandom, t: Vector[String]): Vector[String] =
    t.map(w => if (r.nextDouble() < 0.2) w.toUpperCase else w)

  /** The documents of one shard (ids unique across shards). */
  def shardDocs(seed: Long, shard: Int): Seq[Doc] = {
    val r = new SplittableRandom(seed * 15485863L + shard)
    val vocab = vocabulary(new SplittableRandom(seed * 15485863L))
    val texts = mutable.ArrayBuffer[(Vector[String], Int, Boolean)]()
    var family = 0
    while (texts.size < DocsPerShard) {
      val u = r.nextDouble()
      if (u < 0.15) texts += ((Vector.fill(3 + r.nextInt(10))(junkTokens(r.nextInt(junkTokens.size))), -1, false))
      else if (u < 0.25) {
        // a near-duplicate family, every pair well above the threshold
        val base = prose(r, vocab, 80 + r.nextInt(60))
        val members = mutable.ArrayBuffer(base)
        val size = 2 + r.nextInt(3)
        var attempts = 0
        while (members.size < size && attempts < 50) {
          val v = variant(r, vocab, base)
          val sv = shingles(v)
          if (members.forall(m => jaccard(shingles(m), sv) >= 0.6)) members += v
          attempts += 1
        }
        val copies = (0 until r.nextInt(3)).map(_ => recase(r, members(r.nextInt(members.size))))
        (members ++ copies).foreach(m => texts += ((m, family, true)))
        family += 1
      } else {
        val doc = prose(r, vocab, 60 + r.nextInt(80))
        texts += ((doc, -1, true))
        if (r.nextDouble() < 0.05) texts += ((recase(r, doc), -1, true))
      }
    }
    val ids = (0 until texts.size).map(_.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    texts.indices.map { i =>
      val (t, f, g) = texts(i)
      Doc(shard * 1000000L + ids(i), t, f, g)
    }
  }

  /** Expected result of quality filter → exact dedup (min id per
    * normalized text) → near-dup pairs → keep the longest document of each
    * cluster (ties: smallest id). */
  def expected(docs: Seq[Doc]): (Int, Long, Array[Long]) = {
    val good = docs.filter(_.good)
    val exact = good.groupBy(_.norm).values.map(_.minBy(_.id)).toSeq
    var pairs = 0L
    val losers = mutable.HashSet[Long]()
    exact.filter(_.family >= 0).groupBy(_.family).values.foreach { members =>
      val k = members.size.toLong
      pairs += k * (k - 1) / 2
      if (k > 1) {
        val keep = members.maxBy(d => (d.tokens.size, -d.id))
        members.filter(_.id != keep.id).foreach(d => losers += d.id)
      }
    }
    (good.size, pairs, exact.map(_.id).filterNot(losers).sorted.toArray)
  }

  /** Generate (or reuse, when cached for this seed) the shards, each as
    * four JSON-lines files so a scan has a task per core. */
  def generate(seed: Long, dir: String): Seq[Shard] = {
    // the last shard warms up before timing starts; it is full size because
    // the JIT keeps compiling through the first full-size pass
    val shards = Fs.parallelMap(0 to Shards)(s => (s, shardDocs(seed, s)))
    Fs.cached(dir) {
      Fs.parallelMap(shards) { case (s, docs) =>
        docs.grouped((docs.size + 3) / 4).zipWithIndex.foreach { case (part, i) =>
          Fs.write(s"$dir/shard-$s/part-$i.json",
            part.map(d => s"""{"id": ${d.id}, "text": ${Json.str(d.text)}}""").mkString("", "\n", "\n"))
        }
      }
    }
    Fs.parallelMap(shards) { case (s, docs) =>
      val (good, pairs, survivors) = expected(docs)
      Fs.write(s"$dir/truth-$s.json",
        s"""{"docs": ${docs.size}, "good": $good, "pairs": $pairs, "survivors": ${survivors.length}}""")
      Shard(s"$dir/shard-$s", docs.size, good, pairs, survivors)
    }
  }
}

/** corpus_dedup: TextAnalysis quality filter → Dedup.exactByDigest →
  * Dedup.jaccardPairsPrefixFilter → Dedup.dropNearDupsKeepBest →
  * Sinks.writeJsonRecords, one shard per pass. */
final class CorpusWorkload(all: Seq[Shard], out: String) extends Workload {
  private val shards = all.init
  private var next = 0

  def register(spark: SparkSession): Unit =
    shards.foreach(_.read(spark).limit(1).collect())

  def warm(spark: SparkSession, res: Result): Unit = pass(spark, new Tracer(false), res, all.last, None)

  def measure(spark: SparkSession, tracer: Tracer, res: Result, seconds: Double,
              prefix: String): Unit = {
    // every phase passes over the same shards in the same order
    next = 0
    Workload.fill(seconds) {
      pass(spark, tracer, res, shards(next % shards.size), Some(prefix))
      next += 1
    }
  }

  private def pass(spark: SparkSession, tracer: Tracer, res: Result, shard: Shard,
                   prefix: Option[String]): Unit = {
    val opId = s"pass-$next"
    val target = s"$out/$opId"
    // the previous pass's operator caches are released before this one
    graft.core.InternalCaches.release("dedup")
    val t0 = Proc.now()
    var writeS = 0.0
    val found = tracer.span(spark, "op.pass", opId) { _ =>
      val docs = shard.read(spark)
      val good = tracer.span(spark, "text.filter", opId) { a =>
        a("rows_in") = shard.docs
        tracer.boundary(docs.where(TextAnalysis.qualityScore(col("text")) >= CorpusGen.Threshold), a)
      }
      val exact = tracer.span(spark, "dedup.exact", opId) { a =>
        tracer.boundary(Dedup.exactByDigest(good, "text", "id"), a)
      }
      val (pairs, pairsFound) = tracer.span(spark, "dedup.pairs", opId) { a =>
        val p = tracer.boundary(Dedup.jaccardPairsPrefixFilter(exact, "id", "text", 3, CorpusGen.Threshold), a)
        (p, a.get("rows").map(_.toLong))
      }
      // traced only, and repeated: dropNearDupsKeepBest finds the
      // components again itself
      if (tracer.enabled) tracer.span(spark, "dedup.components", opId) { a =>
        a("repeated") = 1
        tracer.boundary(Dedup.connectedComponents(pairs, "id_a", "id_b"), a)
      }
      val kept = tracer.span(spark, "dedup.keep_best", opId) { a =>
        tracer.boundary(Dedup.dropNearDupsKeepBest(exact, "id", pairs,
          TextAnalysis.tokenCount(col("text"))), a)
      }
      val tw = Proc.now()
      tracer.span(spark, "sinks.write", opId) { a =>
        Sinks.writeJsonRecords(kept, target)
        a("files") = Fs.dataFiles(target).size.toDouble
      }
      writeS = Proc.now() - tw
      pairsFound
    }
    val dt = Proc.now() - t0 - tracer.repeatedSeconds(opId)
    // the pair count is free only where a traced boundary counted it
    val nPairs = found.getOrElse(shard.pairs)
    tracer.release()
    val got = spark.read.schema("id long").json(target).collect().map(_.getLong(0)).sorted
    val problems = mutable.ArrayBuffer[String]()
    if (nPairs != shard.pairs) problems += s"$nPairs near-dup pairs, expected ${shard.pairs}"
    if (!java.util.Arrays.equals(got, shard.survivors))
      problems += s"${got.length} survivors, expected ${shard.survivors.length}"
    res.outcome(prefix.isDefined, problems.toSeq, s"$opId (${shard.path})")
    prefix.foreach { p =>
      res.sample(p + "op_s", dt)
      res.sample(p + "write_s", writeS)
      res.sample(p + "items", shard.docs.toDouble)
    }
    Fs.rmrf(target)
  }
}
