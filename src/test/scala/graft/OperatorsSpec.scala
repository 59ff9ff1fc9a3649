package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // ---- RowFilters

  test("header/total/blank row predicates") {
    val df = Seq(
      ("Invoice No.", "Supplier Code", "Amount"),
      ("IV001", "123", "10.5"),
      ("", "", ""),
      ("x", "GRAND TOTAL", "99")).toDF("a", "b", "c")
    val cols = Seq(col("a"), col("b"), col("c"))
    val labels = Seq("Invoice No.", "Supplier Code", "Amount")
    assert(df.where(RowFilters.isHeaderRow(cols, labels)).count() == 1)
    assert(df.where(RowFilters.isBlankRow(cols)).count() == 1)
    assert(df.where(RowFilters.isTotalRow(cols)).count() == 1)
  }

  test("trimTrailing removes only the trailing junk run") {
    val df = Seq(
      ("f1", 1, false), ("f1", 2, true), ("f1", 3, false), ("f1", 4, true),
      ("f1", 5, true), ("f2", 1, true)).toDF("file", "idx", "junk")
    val kept = RowFilters.trimTrailing(df, col("file"), col("idx"), col("junk"))
      .select("file", "idx").as[(String, Int)].collect().toSet
    assert(kept == Set(("f1", 1), ("f1", 2), ("f1", 3)))
  }

  // ---- Reshape

  test("melt → pivotFirst round-trips a wide matrix") {
    val wide = Seq((1, 10.0, 20.0), (2, 30.0, 40.0)).toDF("id", "y2023", "y2024")
    val long = Reshape.melt(wide, Seq("id"), Seq("y2023", "y2024"), "year", "v")
    assert(long.count() == 4)
    val back = Reshape.pivotFirst(long, Seq("id"), "year", "v", Seq("y2023", "y2024"))
    val r = back.orderBy("id").collect()
    assert(r(0).getDouble(1) == 10.0 && r(1).getDouble(2) == 40.0)
  }

  test("ffill carries last non-null forward within partition") {
    val df = Seq((1, 1, Some(5.0)), (1, 2, None), (1, 3, None), (2, 1, None))
      .toDF("k", "i", "v")
    val got = df.select(col("k"), col("i"),
        Reshape.ffill(col("v"), Seq(col("k")), col("i")).as("f"))
      .orderBy("k", "i").collect().map(r => Option(r.get(2)))
    assert(got.toSeq == Seq(Some(5.0), Some(5.0), Some(5.0), None))
  }

  test("groupToList orders payload by ord") {
    val df = Seq((1, 2, "b"), (1, 1, "a"), (2, 1, "x")).toDF("k", "o", "v")
    val got = Reshape.groupToList(df, Seq("k"), "o", col("v"))
      .orderBy("k").collect()
    assert(got(0).getSeq[String](1) == Seq("a", "b"))
    assert(got(1).getSeq[String](1) == Seq("x"))
  }

  // ---- Merge / Validation

  test("upsert: updates win, unmatched existing kept") {
    val existing = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val updates  = Seq((2, "B"), (3, "C")).toDF("k", "v")
    val got = Merge.upsert(existing, updates, Seq("k"))
      .as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "B"), (3, "C")))
  }

  test("replaceAllSync returns delete-set") {
    val existing = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val incoming = Seq((2, "B")).toDF("k", "v")
    val (synced, deleted) = Merge.replaceAllSync(existing, incoming, Seq("k"))
    assert(synced.count() == 1 && deleted.as[(Int, String)].collect().toSeq == Seq((1, "a")))
  }

  test("replaceAllSyncScoped deletes only within incoming parent keys") {
    val existing = Seq(("C1", 1), ("C1", 2), ("C2", 1)).toDF("company", "no")
    val incoming = Seq(("C1", 1), ("C1", 9)).toDF("company", "no")
    val (synced, deleted) = Merge.replaceAllSyncScoped(existing, incoming,
      Seq("company"), Seq("no"))
    assert(deleted.as[(String, Int)].collect().toSet == Set(("C1", 2)))
    assert(synced.as[(String, Int)].collect().toSet ==
      Set(("C1", 1), ("C1", 9), ("C2", 1)))
  }

  test("validation split routes failures with rule names") {
    val df = Seq((1, "2025-01-01"), (2, null)).toDF("id", "d")
    val (valid, rejects) = Validation.split(df,
      Seq(Validation.notNull("d"), Validation.dateYmd("d")))
    assert(valid.count() == 1)
    val rej = rejects.select("id", "_failed_rules").collect()(0)
    assert(rej.getInt(0) == 2 && rej.getSeq[String](1) == Seq("d_not_null"))
  }

  // ---- CompanyQueries

  test("companyFinancial: exactly the one company-year row, empty for an absent year") {
    val table = Seq(
      ("0105551234567", 2022, 10.0), ("0105551234567", 2023, 20.0),
      ("0105559876543", 2023, 30.0), ("0105559876543", 2024, 40.0))
      .toDF("tax_id", "fiscal_year", "total_revenue")
    val got = CompanyQueries.companyFinancial(table, "0105551234567", 2023)
    assert(got.as[(String, Int, Double)].collect().toSeq == Seq(("0105551234567", 2023, 20.0)))
    assert(got.schema == table.schema)
    assert(CompanyQueries.companyFinancial(table, "0105551234567", 2024).isEmpty)
  }

  // ---- Dedup

  test("shingles builds distinct word n-grams") {
    val got = Seq("a b c d").toDF("t")
      .withColumn("toks", Dedup.tokens(col("t")))
      .select(Dedup.shinglesFromTokens(col("toks"), 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(got.toSet == Set("a b c", "b c d"))
  }

  test("jaccardPairsPrefixFilter is complete: equals brute-force all-pairs") {
    // real corpus slice + mutants with a spread of similarity levels; the
    // prefix filter must return EXACTLY the brute-force result (it prunes
    // candidates, never true pairs)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(120)
    val m1 = docs.where(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000)
      .withColumn("text", concat(col("text"), lit(" x y z")))
    val m2 = docs.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 2000)
      .withColumn("text", concat(lit("p q r s t u v w "), col("text")))
    val all = docs.unionByName(m1).unionByName(m2)
    val got = Dedup.jaccardPairsPrefixFilter(all, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the same hashed-shingle arrays
    val sh = all.withColumn("toks", Dedup.tokens(col("text")))
      .select(col("doc_id"), array_sort(transform(
        Dedup.shinglesFromTokens(col("toks"), 3), t => xxhash64(t))).as("sh"))
      .where(size(col("sh")) > 0)
    val want = sh.toDF("id_a", "sh_a")
      .crossJoin(sh.toDF("id_b", "sh_b"))
      .where(col("id_a") < col("id_b"))
      .withColumn("j", round(
        graft.plans.VectorExpressions.jaccardSorted(col("sh_a"), col("sh_b")), 6))
      .where(col("j") >= 0.4)
      .select("id_a", "id_b", "j").as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty && got == want)
  }

  test("connectedComponents: transitive closure, canonical = min id, chain converges") {
    import graft.operators.Dedup
    // triangle {1,2,3}, chain 10..15 (diameter 5), pair {100,101}
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (100L, 101L)).toDF("id_a", "id_b")
    // a graph this small takes the round-13 driver union-find fast path…
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(comp(_) == 1L))
    assert((10L to 15L).forall(comp(_) == 10L))
    assert(comp(100L) == 100L && comp(101L) == 100L)
    // …and the distributed min-propagation loop must produce the SAME
    // labeling (union-by-min root == the min-label fixpoint)
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0")
    try {
      val dist = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(dist == comp, "driver and distributed paths must agree exactly")
    } finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
    // dedup decision: keep exactly one doc per cluster
    val df = comp.keys.toSeq.toDF("id")
    val kept = Dedup.dropNearDups(df, "id", pairs)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 100L))
  }

  test("connectedComponents: pointer jumping closes a 200-node chain within default rounds") {
    // min-label alone moves one hop per round (199 rounds here); the
    // label-chase step makes depth halve per round, so the default
    // maxIter=20 must be plenty. Gate pinned off: this spec exists to
    // exercise the DISTRIBUTED loop's pointer jumping.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0")
    try {
      val comp = Dedup.connectedComponents(chain, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(comp.size == 200 && comp.values.forall(_ == 0L))
    } finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
  }

  test("reliable-checkpoint mode without a checkpoint dir fails loudly") {
    // must run BEFORE any test sets the context checkpoint dir (ScalaTest
    // runs tests in registration order); skip if some earlier suite set it
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    spark.conf.set(graft.core.Checkpoints.ReliableConf, "true")
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalArgumentException] {
          graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
        }
        assert(e.getMessage.contains("setCheckpointDir"))
      }
    } finally spark.conf.set(graft.core.Checkpoints.ReliableConf, "false")
  }

  test("connectedComponents: reliable-checkpoint mode produces the same labels via the DFS path") {
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(graft.core.Checkpoints.ReliableConf, "true")
    try {
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the cut really went through the reliable path: blocks on "DFS"
      val written = new java.io.File(ckDir).listFiles()
      assert(written != null && written.nonEmpty,
        "reliable mode must write checkpoint blocks to the checkpoint dir")
    } finally spark.conf.set(graft.core.Checkpoints.ReliableConf, "false")
  }

  test("connectedComponents: non-convergence fails loudly, not silently") {
    // gate pinned off: maxIter only exists on the distributed loop (the
    // driver union-find is exact in one pass by construction)
    val chain = (0L until 150L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 2).collect()
      }
      assert(e.getMessage.contains("NOT reached"))
    } finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
  }

  test("incremental dedup: a new delivery dedups against the stored index alone") {
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark execution engines at scale"))
      .toDF("id", "text")
    val index = Dedup.minhashIndexPortable(corpus, "id", "text", n = 3, k = 16, bands = 4)
    // the index carries signatures only — never text
    assert(index.columns.toSet == Set("id", "band_idx", "band_sig", "sig"))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tail"),
      (11L, "fresh unique eleven alpha beta gamma delta epsilon zeta eta"),
      (12L, "fresh unique eleven alpha beta gamma delta epsilon zeta eta"))
      .toDF("id", "text")
    val drops = Dedup.incrementalNearDupDrops(batch, index, "id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // 10 near-dups indexed doc 1; 12 exactly duplicates its batch-mate 11
    // (the smaller id survives); 11 itself is genuinely new and survives
    assert(drops == Set((10L, "matches_indexed"), (12L, "intra_batch")))
    // survivors extend the index WITHOUT touching old text — the next
    // delivery then catches duplicates of them
    val extended = index.unionByName(
      Dedup.minhashIndexPortable(batch.where(col("id") === 11L),
        "id", "text", n = 3, k = 16, bands = 4))
    val next = Seq((20L, "fresh unique eleven alpha beta gamma delta epsilon zeta eta"))
      .toDF("id", "text")
    val drops2 = Dedup.incrementalNearDupDrops(next, extended, "id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(drops2 == Set((20L, "matches_indexed")))
  }

  test("hot-band cap: a boilerplate-heavy corpus skips degenerate buckets instead of going quadratic") {
    // 1000 identical docs (pure boilerplate) + an exact copy of a
    // distinct-text doc: every boilerplate band bucket blows past the cap
    // and is skipped; the distinct-text pair's buckets stay under it
    val boiler = (0 until 1000).map(i => (i.toLong, "the same boilerplate text repeated " * 3))
    val real = Seq(
      (5000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5001L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (5002L, "alpha beta gamma delta epsilon zeta eta theta"))
    val df = (boiler ++ real).toDF("id", "text")
    val sp = Dedup.simhashNearDupPairs(df, "id", "text", maxHamming = 3,
      maxBandRows = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sp.contains((5000L, 5002L)), s"the copy's pair was capped out: $sp")
    assert(sp.forall { case (a, b) => a >= 5000L && b >= 5000L },
      "boilerplate bucket should have been capped out")
  }

  test("portable simhash bits match the md5-hex reference computation") {
    // bit b of the kernel's 64-bit token hash must equal nibble bit b%4 of
    // hex char 16 - b/4 — the contract the SQL oracle recomputes
    val md = java.security.MessageDigest.getInstance("MD5")
    def refHash(tok: String): Long = {
      val hex = md.digest(tok.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      (0 until 64).map { b =>
        val nib = Character.digit(hex.charAt(16 - b / 4 - 1), 16)
        ((nib >> (b % 4)) & 1).toLong << b
      }.reduce(_ | _)
    }
    def refSimhash(text: String): Long = {
      val toks = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
      val votes = new Array[Int](64)
      toks.foreach { t =>
        val h = refHash(t)
        (0 until 64).foreach(b => if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1)
      }
      (0 until 64).map(b => if (votes(b) > 0) 1L << b else 0L).reduce(_ | _)
    }
    val texts = Seq("hello world foo bar", "a b a b a", "", "  spaced   out  ")
    val got = texts.toDF("text")
      .select(Dedup.simhash64Portable(col("text"))).as[Long].collect()
    assert(got.toSeq == texts.map(refSimhash))
  }

  test("simhash near-dup pairs catch small mutations") {
    // one added token on a 40-token doc flips E[hamming] ≈ 64·P(vote sum=0)/2
    // ≈ 4 bits, so the detection threshold must sit above that — while a
    // random pair sits at E[hamming] = 32, far beyond it.
    val base = (0 until 10).map(i =>
      (i.toLong, (0 until 40).map(j => s"tok${i}_$j").mkString(" ")))
    val mut = Seq((200L, base(5)._2 + " tail"))
    val pairs = Dedup.simhashNearDupPairs((base ++ mut).toDF("id", "text"),
      "id", "text", maxHamming = 10).as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((5L, 200L)))
    assert(pairs.forall(p => !(p._1 < 5 && p._2 < 5))) // no false pairs among unrelated docs
  }

  // ---- Similarity

  test("cosine matches hand computation") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.6f, 0.8f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(got - 0.6) < 1e-6)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0),
      "vec_id", "embedding", 2).orderBy("rnk")
      .select("corpus_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("saltedJoin equals the plain join result") {
    val big = (1 to 200).map(i => (i % 3, i)).toDF("k", "v")
    val small = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "v", "name")
      .as[(Int, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltFactor = 8)
      .select("k", "v", "name").as[(Int, Int, String)].collect().toSet
    assert(salted == plain)
  }

  test("ivfTopKSampled recalls a useful fraction of exact neighbors") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopKSampled(emb, q, "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    // the floor the trained k-means codebook was held to
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"ivf recall with the sampled codebook: $recall")
    assert(recall >= 0.6, s"recall $recall at nProbe=3/8")
  }

  test("asofJoinBackward: most-recent pick, equality, tolerance, null extension") {
    import graft.operators.RangeJoin
    val trades = Seq((1L, 100L, "t1"), (1L, 50L, "t2"), (2L, 70L, "t3"),
      (3L, 10L, "t4")).toDF("k", "t", "trade")
    val quotes = Seq((1L, 80L, 9.5), (1L, 100L, 9.9), (1L, 20L, 9.0),
      (2L, 999L, 1.0)).toDF("k", "t", "px")
    val got = RangeJoin.asofJoinBackward(trades, quotes, Seq("k"), "t", "t")
      .select(col("trade"), col("asof_t"), col("asof_px"))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(got == Set(
      ("t1", 100L, 9.9), // equality matches, and beats the earlier 80
      ("t2", 20L, 9.0),  // most recent <= 50
      ("t3", -1L, -1.0), // only future quotes: null-extended
      ("t4", -1L, -1.0)))// key with no quotes at all
    // tolerance: the 20-quote is 30 old at t=50 — a 25 window voids it
    val tol = RangeJoin.asofJoinBackward(trades, quotes, Seq("k"), "t", "t",
        toleranceUs = Some(25L))
      .where(col("trade") === "t2").collect().head
    assert(tol.isNullAt(tol.fieldIndex("asof_px")))
  }

  test("asofJoinNearest: direction pick, backward tie-break, tolerance") {
    import graft.operators.RangeJoin
    val left = Seq((1L, 100L, "a"), (1L, 50L, "b"), (1L, 7L, "c"),
      (2L, 10L, "d"), (3L, 5L, "e")).toDF("k", "t", "tag")
    val right = Seq((1L, 90L, 1.0), (1L, 104L, 2.0), (1L, 40L, 3.0),
      (1L, 60L, 4.0), (2L, 200L, 5.0)).toDF("k", "t", "px")
    def run(tol: Option[Long]) =
      RangeJoin.asofJoinNearest(left, right, Seq("k"), "t", "t", tol)
        .select(col("tag"), col("asof_px"))
        .collect().map(r => (r.getString(0),
          if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toSet
    assert(run(None) == Set(
      ("a", 2.0),  // forward 104 (dist 4) beats backward 90 (dist 10)
      ("b", 3.0),  // backward 40 and forward 60 both dist 10 — backward wins
      ("c", 3.0),  // no backward at all: forward candidate used
      ("d", 5.0),  // unbounded tolerance reaches the far future quote
      ("e", -1.0)))// key with no right rows
    // tolerance 50 voids d's only candidate (dist 190)
    assert(run(Some(50L)) == Set(
      ("a", 2.0), ("b", 3.0), ("c", 3.0), ("d", -1.0), ("e", -1.0)))
    // exact-time right row matches at distance 0
    val eq = RangeJoin.asofJoinNearest(
      Seq((9L, 70L, "x")).toDF("k", "t", "tag"),
      Seq((9L, 70L, 7.7), (9L, 71L, 8.8)).toDF("k", "t", "px"),
      Seq("k"), "t", "t", Some(0L)).collect().head
    assert(eq.getDouble(eq.fieldIndex("asof_px")) == 7.7)
  }

  test("dropNearDupsKeepBest: quality keeper, min-id tie-break, untouched rows") {
    import graft.operators.Dedup
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0), (9L, 0.0))
      .toDF("doc_id", "q")
    // cluster {1,2,3}: 2 and 3 tie on quality → 2 (smaller id) wins;
    // cluster {4} never appears in pairs; 9 is untouched
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDupsKeepBest(docs, "doc_id", pairs, col("q"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 9L))
    // min-id policy for contrast: dropNearDups keeps 1
    val minId = Dedup.dropNearDups(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L, 9L))
  }

  test("buildVocab + vocabTokenStats: rank order, cap, OOV buckets, checksum") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "aa bb aa cc"), (2L, "aa bb zz"), (3L, "aa  bb\tcc qq"))
      .toDF("doc_id", "text")
    val vocab = TextAnalysis.buildVocab(docs, "text", minCount = 2L, maxSize = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toList
    // counts: aa=4 bb=3 cc=2 (zz/qq below minCount); cap 2 keeps aa,bb
    assert(vocab == List(("aa", 4L, 0), ("bb", 3L, 1)))
    val v = TextAnalysis.buildVocab(docs, "text", 2L, 10)
    val stats = TextAnalysis.vocabTokenStats(docs, "doc_id", "text", v, 64)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: 4 tokens all known; doc2: zz OOV; doc3: qq OOV
    assert(stats.map(t => (t._1, t._2, t._3, t._4)).toList ==
      List((1L, 4L, 4L, 0L), (2L, 3L, 2L, 1L), (3L, 4L, 3L, 1L)))
    // OOV ids are stable negatives in [-64, -1]
    val chk = TextAnalysis.vocabTokenStats(docs, "doc_id", "text", v, 64)
      .where(col("id") === 2L).collect().head.getLong(4)
    val known = 0L + 1L // aa + bb ids in doc2
    assert(chk < known && chk >= known - 64)
  }

  test("resampleFfill: grid span, last-per-bucket, gap carry, flags") {
    import graft.operators.Reshape
    val df = Seq(
      // key 1: observations in buckets 0 and 30 (step 10) — gaps at 10,20
      (1L, 3L, 100L, 5.0), (1L, 7L, 101L, 6.0), (1L, 31L, 102L, 9.0),
      // key 2: single observation — one-bucket grid
      (2L, 15L, 103L, 2.0))
      .toDF("k", "sec", "eid", "v")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = Reshape.resampleFfill(df, "k", "ts", "v", "eid", stepSec = 10L)
      .orderBy("k", "bucket_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toList
    assert(got == List(
      (1L, 0L, 6.0, true),   // bucket 0: later (sec 7, eid 101) wins
      (1L, 10L, 6.0, false), // gap carries
      (1L, 20L, 6.0, false),
      (1L, 30L, 9.0, true),
      (2L, 10L, 2.0, true)))
  }

  test("applyChangelogVersioned: out-of-order batches, ghosts, replay") {
    import graft.operators.Merge
    def apply(b: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
      Merge.applyChangelogVersioned(b, l, Seq("id"), Seq("v_ts", "v_seq"),
        col("op") === "D")
    // base rows carry the version they were written with
    val cols = Seq("id", "name", "v_ts", "v_seq", "op")
    val batch1 = Seq((1L, "new", 10L, 1, "U"), (2L, "gone", 10L, 1, "D"),
      (3L, "x", 10L, 1, "U"),
      (4L, "u4", 4L, 1, "U"))                  // update OLDER than 4's delete
      .toDF(cols: _*)
    val batch2 = Seq((1L, "old", 5L, 1, "U"),  // late update: must lose
      (2L, "revived", 12L, 1, "U"),            // newer than the tombstone
      (3L, "late-del", 5L, 2, "D"),            // late tombstone: must lose
      (4L, "d5", 5L, 1, "D"))                  // the delete u4 must NOT undo
      .toDF(cols: _*)
    val empty = batch1.where(lit(false))
    def state(df: org.apache.spark.sql.DataFrame) =
      df.where(!col("__deleted"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fwd = apply(apply(empty, batch1), batch2)
    val rev = apply(apply(empty, batch2), batch1)
    val one = apply(empty, batch1.unionByName(batch2))
    // key 4 is the commutativity acid test: delete-first then late older
    // update only stays dead because the tombstone persists as a ghost
    val want = Set((1L, "new"), (2L, "revived"), (3L, "x"))
    assert(state(fwd) == want); assert(state(rev) == want)
    assert(state(one) == want)
    // replaying a batch is a no-op (>= comparison)
    assert(state(apply(fwd, batch2)) == want)
    // ghosts are present but flagged
    assert(apply(empty, batch2).where(col("__deleted"))
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("applyChangelog: update, delete, resurrect, insert, untouched base") {
    import graft.operators.Merge
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("id", "name", "v")
    val log = Seq(
      (2L, "b2", 21.0, 1, "U"),  // update
      (3L, "c", 30.0, 1, "D"),   // delete
      (4L, "d", 40.0, 1, "D"),   // delete…
      (4L, "d2", 42.0, 2, "I"),  // …then resurrect (later seq wins)
      (5L, "e", 50.0, 1, "I"),   // fresh insert
      (5L, "e2", 51.0, 2, "U"))  // updated within the same batch
      .toDF("id", "name", "v", "seq", "op")
    val got = Merge.applyChangelog(base, log, Seq("id"), Seq("seq"),
        col("op") === "D")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set(
      (1L, "a", 10.0),   // untouched
      (2L, "b2", 21.0),  // updated
      (4L, "d2", 42.0),  // delete superseded by re-insert
      (5L, "e2", 51.0))) // inserted then updated, latest wins
  }

  test("pqTopKSampled recalls exact neighbors from codes alone") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // synthetic gaussian embeddings are PQ's worst case (no cluster
    // structure to exploit): quantize finely — 4-dim subspaces, 32 codes
    val pq = Similarity.pqTopKSampled(emb, q, "vec_id", "embedding", 5,
      dim = 64, m = 16, codesPerSub = 32, nCentroids = 8, nProbe = 3)
    // the PQ point, structurally: the corpus side of the probe join
    // carries codes, never vectors — no float array wider than a subspace
    // survives into the join input
    assert(pq.columns.toSet == Set("query_id", "corpus_id", "cos", "rnk"))
    val got = pq.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty)
    // quantized scores rank more loosely than exact cosines (that is the
    // storage trade); the floor pins "useful", measured ≈0.5+ here
    val recall = (exact & got).size.toDouble / exact.size
    info(s"ivf+pq recall: $recall")
    assert(recall >= 0.3, s"recall $recall at m=16, 32 codes, nProbe=3/8")
  }

  test("blocked embedding near-dup equals the broadcast exact result") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blocked = Dedup.embeddingNearDupPairsBlocked(emb, "vec_id", "embedding",
      0.35, nBlocks = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && blocked == exact)
  }

  test("winnowing fingerprints overlap heavily for shifted documents") {
    import graft.plans.VectorExpressions
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val shifted = "prefix other words " + base
    val other = (100 until 160).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, shifted), (3L, other)).toDF("id", "text")
      .withColumn("fp", VectorExpressions.winnow(Dedup.tokens(col("text")), 5, 4))
    val fps = df.orderBy("id").collect().map(_.getSeq[Long](2).toSet)
    val simShift = (fps(0) & fps(1)).size.toDouble / (fps(0) | fps(1)).size
    val simOther = (fps(0) & fps(2)).size.toDouble / (fps(0) | fps(2)).size
    assert(simShift > 0.6, s"shifted sim $simShift")
    assert(simOther == 0.0, s"unrelated sim $simOther")
  }

  // ---- TextAnalysis

  test("langIdMulti identifies real language samples") {
    val got = Seq(
      "the cat sat on the mat with it",
      "der hund ist nicht in das haus und",
      "le chat est dans la maison pour que",
      "el perro corre por el parque para una",
      "这是一个中文句子没有空格").toDF("t")
      .select(TextAnalysis.langIdMulti(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "fr", "es", "zh"))
  }

  test("token counts and quality score bounds") {
    val df = Seq("Hello world, this is a test of the quality scorer.").toDF("t")
    val r = df.select(
      TextAnalysis.tokenCount(col("t")).as("n"),
      TextAnalysis.qualityScore(col("t")).as("q")).collect()(0)
    assert(r.getInt(0) == 10)
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
  }

  // ---- Multimodal

  test("frame sampling conserves bytes") {
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    val media = Multimodal.documentsAsMedia(docs)
    val frames = Multimodal.sampleFrames(media, frameBytes = 50)
    val back = frames.toDF().groupBy("media_id")
      .agg(sum(length(col("frame"))).as("b")).orderBy("media_id")
      .collect().map(_.getLong(1))
    val orig = media.toDF().orderBy("media_id")
      .select(length(col("payload"))).collect().map(_.getInt(0).toLong)
    assert(back.toSeq == orig.toSeq) // every byte lands in exactly one frame
  }

  test("hashSplit: stable fractions, rerun-deterministic, append-stable") {
    val ids = (1L to 5000L).toDF("id")
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val s1 = Sampling.hashSplit(ids, "id", splits)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(math.abs(s1("train") / 5000.0 - 0.9) < 0.02)
    assert(math.abs(s1("val") / 5000.0 - 0.05) < 0.01)
    assert(math.abs(s1("test") / 5000.0 - 0.05) < 0.01)
    // determinism: same assignment on rerun and under different partitioning
    val a1 = Sampling.hashSplit(ids, "id", splits)
      .as[(Long, String)].collect().toMap
    val a2 = Sampling.hashSplit(ids.repartition(7), "id", splits)
      .as[(Long, String)].collect().toMap
    assert(a1 == a2)
    // append stability: adding rows never reassigns existing ids
    val a3 = Sampling.hashSplit((1L to 9000L).toDF("id"), "id", splits)
      .as[(Long, String)].collect().toMap
    assert((1L to 5000L).forall(i => a3(i) == a1(i)))
  }

  test("chunkText windows overlap correctly and clip at the end") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: [1..4],[4..7],[7..10]
      (2L, "a b"),                                     // short: one chunk
      (3L, "x")).toDF("id", "text")
    val got = TextAnalysis.chunkText(df, "id", "text", chunkSize = 4, overlap = 1)
      .orderBy("id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.toList == List(
      (1L, 0, "t1 t2 t3 t4"), (1L, 1, "t4 t5 t6 t7"), (1L, 2, "t7 t8 t9 t10"),
      (2L, 0, "a b"), (3L, 0, "x")))
    // every token appears; consecutive chunks share `overlap` tokens
    val c1 = got.filter(_._1 == 1L).map(_._3.split(" ").toList).toList
    assert(c1.flatten.distinct.size == 10)
    assert(c1.sliding(2).forall { case List(a, b) => a.takeRight(1) == b.take(1) })
  }

  test("packBins equals the global-window pack, independent of partitioning") {
    import graft.operators.Packing
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("t"))
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = docs
      .withColumn("bin_id", floor(coalesce(sum("t").over(w), lit(0L)) / 2048L))
      .select("doc_id", "bin_id").as[(Long, Long)].collect().toSet
    assert(expected.map(_._2).size > 1, "need multiple bins for a real test")
    for (nPart <- Seq(1, 3, 8)) {
      val got = Packing.packBins(docs, "doc_id", "t", budget = 2048L,
        numPartitions = nPart)
        .select("doc_id", "bin_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"mismatch at numPartitions=$nPart")
    }
  }

  test("sniffImageDims parses real container headers, never throws on junk") {
    import graft.operators.Multimodal.sniffImageDims
    def hex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(sniffImageDims(hex(
      "89504E470D0A1A0A0000000D4948445200000280000001E00806000000")) ==
      ("png", 640, 480))
    assert(sniffImageDims(hex("47494638376140000F0000000000")) == ("gif", 64, 15))
    // top-down BMP: negative height normalizes
    assert(sniffImageDims(hex(
      "424D00000000000000000000000028000000200000" + "00E0FFFFFF")) == ("bmp", 32, 32))
    assert(sniffImageDims(hex(
      "FFD8FFE000104A46494600000000000000000000FFC0001108012C019003000000000000000000")) ==
      ("jpeg", 400, 300))
    // spec-legal fill byte (0xFF run) before a marker must not desync the walk
    assert(sniffImageDims(hex(
      "FFD8FFFFDB00040000FFC00011080064003203000000000000")) == ("jpeg", 50, 100))
    // junk, truncated, empty, null — all (null, -1, -1), no exceptions
    assert(sniffImageDims(hex("DEADBEEF00000000000000")) == (null, -1, -1))
    assert(sniffImageDims(hex("89504E47")) == (null, -1, -1))
    assert(sniffImageDims(hex("FFD8FFE000")) == (null, -1, -1))
    assert(sniffImageDims(Array.emptyByteArray) == (null, -1, -1))
    assert(sniffImageDims(null) == (null, -1, -1))
  }

  test("sniffAvMeta parses WAV and MP4 headers, never throws on junk") {
    import Multimodal.sniffAvMeta
    def hex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // 8 kHz mono 8-bit WAV, 8000 data bytes → 1000 ms
    val wav = hex("52494646" + "24000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "401F0000" +
      "0100" + "0800" + "64617461" + "401F0000")
    assert(sniffAvMeta(wav) == (("wav", 8000, 1, 1000L)))
    // mvhd VERSION 1 (64-bit times): timescale 1000, duration 2500
    val mp4v1 = hex("00000010" + "66747970" + "69736F6D" + "00000200" +
      "00000030" + "6D6F6F76" +
      "00000028" + "6D766864" + "01000000" +
      "0000000000000000" + "0000000000000000" +
      "000003E8" + "00000000000009C4")
    val (c2, _, _, d2) = sniffAvMeta(mp4v1)
    assert(c2 == "mp4" && d2 == 2500L)
    assert(sniffAvMeta(hex("DEADBEEF00000000000000000000000000")) ==
      ((null, -1, -1, -1L)))
    assert(sniffAvMeta(Array.emptyByteArray) == ((null, -1, -1, -1L)))
    assert(sniffAvMeta(null) == ((null, -1, -1, -1L)))
    // hostile size fields must terminate, not spin: WAV chunk size
    // 0xFFFFFFF8 makes the naive walk's step zero; an MP4 box size with
    // the top bit set truncates to a negative Int step
    assert(sniffAvMeta(hex("5249464624000000574156454A554E4BF8FFFFFF0000")) ==
      ((null, -1, -1, -1L)))
    assert(sniffAvMeta(hex("00000010667479706973" +
      "6F6D00000200F0FFFFFF6D6F6F7600000000")) == ((null, -1, -1, -1L)))
  }

  test("profile census counts rows, nulls, distincts per column") {
    val df = Seq(
      (Some(1), "a"), (Some(1), "b"), (None, "b"), (Some(3), null))
      .toDF("num", "str")
    val p = Validation.profile(df, Seq("num", "str"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, b, c, d) => k -> ((b, c, d)) }.toMap
    assert(p("num") == ((4L, 1L, 2L)))
    assert(p("str") == ((4L, 1L, 2L)))
  }

  test("extractFeatures is deterministic with declared schema") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val feats = Multimodal.extractFeatures(Multimodal.documentsAsMedia(docs))
    val r1 = feats.orderBy("media_id").limit(3).collect()
    val r2 = feats.orderBy("media_id").limit(3).collect()
    assert(r1.map(_.digest).sameElements(r2.map(_.digest)))
    assert(r1.forall(_.features.length == 8))
    assert(feats.toDF().schema("features").dataType.typeName == "array")
  }

  // ---- repetition kernel

  test("repStats counts tokens, distincts, and top token/bigram") {
    import graft.plans.StringExpressions.repStats
    import org.apache.spark.unsafe.types.UTF8String
    def rs(s: String) = repStats(UTF8String.fromString(s)).toLongArray.toSeq
    // "a b a b a": 5 tokens, 2 distinct, 'a'×3, bigram "a b"×2
    assert(rs("a b a b a") == Seq(5L, 2L, 3L, 2L))
    // case-folds and collapses whitespace runs; boundary empties excluded
    assert(rs("  A  a\t b ") == Seq(3L, 2L, 2L, 1L))
    assert(rs("solo") == Seq(1L, 1L, 1L, 0L))
    assert(rs("") == Seq(0L, 0L, 0L, 0L))
    assert(rs("   ") == Seq(0L, 0L, 0L, 0L))
  }

  test("repetition ratios match an independent explode spelling") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(col("doc_id"), col("text"))
    val kernel = docs.select(col("doc_id"),
        TextAnalysis.topTokenFraction(col("text")).as("top_tok"),
        TextAnalysis.distinctTokenRatio(col("text")).as("ttr"))
      .as[(Long, Double, Double)].collect()
      .map { case (id, tf, tt) => id -> ((tf, tt)) }.toMap
    val exploded = docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c").cast("double") / sum("c")).as("tf"),
        (count(lit(1)).cast("double") / sum("c")).as("tt"))
      .as[(Long, Double, Double)].collect()
    exploded.foreach { case (id, tf, tt) =>
      val (kTf, kTt) = kernel(id)
      assert(math.abs(kTf - tf) < 1e-6 && math.abs(kTt - tt) < 1e-6,
        s"doc $id kernel=($kTf,$kTt) explode=($tf,$tt)")
    }
  }

  // ---- PII redaction

  test("redactPii replaces emails, IPs, phones in cascade order") {
    val df = Seq(
      "reach me at a.b-c@x-corp.io or 10.1.2.3",
      "+1 (800) 555 0100 is toll-free",
      "clean text").toDF("t")
    val out = df.select(TextAnalysis.redactPii(col("t"))).as[String].collect()
    assert(out(0) == "reach me at [EMAIL] or [IP]")
    assert(out(1) == "[PHONE] is toll-free")
    assert(out(2) == "clean text")
  }

  // ---- top terms

  test("topTermsPerDoc ranks by tf/df with deterministic tie-break") {
    val df = Seq(
      (1L, "rare rare common"),
      (2L, "common other"),
      (3L, "common other zebra")).toDF("doc_id", "text")
    val top = TextAnalysis.topTermsPerDoc(df, "doc_id", "text", 2)
      .select("doc_id", "token", "rank").as[(Long, String, Int)]
      .collect().toSet
    // doc1: rare tf=2 df=1 → score 2.0 beats common (1/3)
    assert(top.contains((1L, "rare", 1)) && top.contains((1L, "common", 2)))
    // doc3: zebra (1/1) beats other (1/2) beats common (1/3)
    assert(top.contains((3L, "zebra", 1)) && top.contains((3L, "other", 2)))
  }

  // ---- range join

  test("bucketed range join equals the nested-loop spelling") {
    val dim = Seq(("a", 0.0, 7.0), ("b", 7.0, 7.0), ("c", 5.0, 12.0))
      .toDF("band", "lo", "hi") // overlapping + empty intervals included
    val fact = (0 until 40).map(i => i.toDouble / 2).toDF("v")
    val got = RangeJoin.bucketed(fact, "v", dim, "lo", "hi", step = 4.0)
      .select("v", "band").as[(Double, String)].collect().toSet
    val want = fact.join(dim, col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "band").as[(Double, String)].collect().toSet
    assert(got == want)
    // exact-edge semantics: hi is exclusive, lo inclusive
    assert(got.contains((5.0, "c")) && !got.contains((12.0, "c")))
    assert(!got.exists(_._2 == "b")) // empty interval matches nothing
  }

  // ---- exact quantiles

  test("exactQuantiles equals the percentile aggregate bit-for-bit") {
    val df = (1 to 101).map(i => i * 1.5 + 0.25).toDF("v")
    val got = Quantiles.exactQuantiles(df, "v", Seq(0.0, 0.25, 0.5, 0.9, 1.0))
    val want = df.agg(percentile(col("v"),
        array(lit(0.0), lit(0.25), lit(0.5), lit(0.9), lit(1.0))))
      .head().getSeq[Double](0)
    assert(got == want)
    // empty input → NaNs, no throw
    assert(Quantiles.exactQuantiles(df.where(col("v") < 0), "v", Seq(0.5))
      .forall(_.isNaN))
  }

  test("exactGroupQuantiles matches the per-group percentile aggregate") {
    val df = (for (g <- Seq("a", "b"); i <- 1 to (if (g == "a") 37 else 8))
      yield (g, i * 2.5 + (if (g == "b") 100 else 0))).toDF("g", "v")
    val got = Quantiles.exactGroupQuantiles(df, "g", "v",
        Seq(0.25, 0.5, 0.9), Seq("p25", "p50", "p90"))
      .orderBy("g").as[(String, Double, Double, Double)].collect()
    val want = df.groupBy("g").agg(
        percentile(col("v"), lit(0.25)), percentile(col("v"), lit(0.5)),
        percentile(col("v"), lit(0.9)))
      .orderBy("g").as[(String, Double, Double, Double)].collect()
    got.zip(want).foreach { case ((g1, a1, b1, c1), (g2, a2, b2, c2)) =>
      assert(g1 == g2)
      assert(math.abs(a1 - a2) < 1e-9 && math.abs(b1 - b2) < 1e-9 &&
        math.abs(c1 - c2) < 1e-9, s"$g1: ($a1,$b1,$c1) vs ($a2,$b2,$c2)")
    }
  }

  test("exactGroupQuantiles selection spelling: negatives, sign straddle, " +
    "extremes, duplicates, dominant group") {
    // the distributed selection's edge paths: the bit-flip branch
    // (all-negative group), a group straddling ±0, p=0/1 picks, heavy
    // duplicates (many rows per bucket cell), a single-row group, and
    // one dominant group (the skew case the selection exists for)
    val rows =
      (1 to 2000).map(i => ("skew", (i % 7).toDouble - 3.0)) ++     // dominant, 7 distinct values
      (1 to 37).map(i => ("neg", -i * 2.5)) ++                       // all negative
      Seq(("mix", -1.5), ("mix", -0.5), ("mix", 0.0), ("mix", 0.5),
        ("mix", 1.5), ("mix", 2.5)) ++                               // straddles zero
      Seq(("one", 42.25))                                            // single row
    val df = rows.toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val names = Seq("p0", "p25", "p50", "p90", "p100")
    val want = df.groupBy("g")
      .agg(percentile(col("v"), array(ps.map(lit): _*)).as("qs"))
      .orderBy("g").collect()
    val got = Quantiles.exactGroupQuantiles(df, "g", "v", ps, names)
      .orderBy("g").collect()
    assert(got.length == want.length && got.length == 4)
    got.zip(want).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      val qs = b.getSeq[Double](1)
      ps.indices.foreach { i =>
        assert(math.abs(a.getDouble(i + 1) - qs(i)) < 1e-9,
          s"${a.getString(0)} p=${ps(i)}: ${a.getDouble(i + 1)} vs ${qs(i)}")
      }
    }
    // non-interpolated picks (p=0, p=1, and any integral (n−1)p) must
    // be EXACT data values — bit-equality, not tolerance
    val skew = got.find(_.getString(0) == "skew").get
    assert(skew.getDouble(1) == -3.0 && skew.getDouble(5) == 3.0)
    val one = got.find(_.getString(0) == "one").get
    assert(names.indices.forall(i => one.getDouble(i + 1) == 42.25))
  }

  // ---- CDC compaction

  test("compactChangelog keeps latest per key, honors tombstones") {
    val log = Seq(
      (7L, 1L, "I", 10.0), (7L, 2L, "U", 20.0),  // latest = U 20.0
      (8L, 1L, "I", 5.0), (8L, 3L, "D", 0.0),    // deleted
      (9L, 2L, "I", 7.0)).toDF("k", "seq", "op", "v")
    val state = Merge.compactChangelog(log, Seq("k"), Seq("seq"),
        col("op") === "D")
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(state == Map(7L -> 20.0, 9L -> 7.0))
  }

  // ---- skew diagnostics

  test("heavyHitters ranks keys by count with exact shares") {
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold"))
      .toDF("k")
    val top = Skew.heavyHitters(df, "k", 2)
      .as[(String, Long, Double)].collect()
    assert(top.toSeq == Seq(("hot", 6L, 0.6), ("warm", 3L, 0.3)))
  }

  // ---- token budget

  test("takeTokenBudget caps each group's running token total") {
    val df = (1L to 50L).map(i => (i, s"g${i % 2}", 10L))
      .toDF("id", "g", "toks")
    val kept = Sampling.takeTokenBudget(df, "g", "id", "toks", budget = 95L)
    val byG = kept.groupBy("g").agg(sum("toks")).as[(String, Long)].collect().toMap
    // 10-token docs against a 95 budget → exactly 9 docs = 90 tokens per group
    assert(byG.values.toSet == Set(90L))
    // deterministic: same survivors on rerun
    assert(Sampling.takeTokenBudget(df, "g", "id", "toks", 95L)
      .select("id").as[Long].collect().toSet ==
      kept.select("id").as[Long].collect().toSet)
  }

  // ---- decontamination

  test("contaminatedIds flags n-gram overlap with the test set only") {
    val test = Seq((100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "completely unrelated words about spark plans and shuffles here"),
      // contains the test 8-gram "quick brown fox jumps over the lazy dog"
      (2L, "intro text then quick brown fox jumps over the lazy dog end"),
      // 7 shared words but never 8 consecutive
      (3L, "quick brown fox jumps over the lazy cat dog")).toDF("doc_id", "text")
    val bad = Dedup.contaminatedIds(corpus, test, "doc_id", "text", n = 8)
      .as[Long].collect().toSet
    assert(bad == Set(2L))
  }

  // ---- SCD2

  test("scd2 collapses unchanged snapshots and stamps validity") {
    val snaps = Seq(
      (1L, 10L, "a"), (1L, 20L, "a"), (1L, 30L, "b"),
      (2L, 10L, "x")).toDF("k", "t", "attr")
    val hist = Merge.scd2(snaps, "k", "t", Seq("attr"))
      .select("k", "attr", "valid_from", "is_current")
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(hist == Set(
      (1L, "a", 10L, false), (1L, "b", 30L, true), (2L, "x", 10L, true)))
    // null-safe: null → value is a change, value → null is a change
    val nulls = Seq(
      (3L, 1L, None: Option[String]), (3L, 2L, Some("v")), (3L, 3L, None))
      .toDF("k", "t", "attr")
    assert(Merge.scd2(nulls, "k", "t", Seq("attr")).count() == 3)
  }

  // ---- interval overlap join

  test("intervalOverlapJoin equals the nested-loop overlap join") {
    val a = Seq(("a1", 0.0, 10.0), ("a2", 9.0, 12.0), ("a3", 20.0, 21.0))
      .toDF("an", "alo", "ahi")
    val b = Seq(("b1", 5.0, 9.5), ("b2", 11.0, 30.0), ("b3", 0.0, 50.0))
      .toDF("bn", "blo", "bhi")
    val got = RangeJoin.intervalOverlapJoin(a, "alo", "ahi", b, "blo", "bhi", 4.0)
      .select("an", "bn").as[(String, String)].collect()
    val want = a.join(b, col("alo") < col("bhi") && col("blo") < col("ahi"))
      .select("an", "bn").as[(String, String)].collect()
    // exactly once per overlapping pair — compare as multisets
    assert(got.sorted.toSeq == want.sorted.toSeq)
    assert(got.toSet.contains(("a1", "b1")) && !got.toSet.contains(("a3", "b1")))
  }

  // ---- URL hygiene

  test("url host/domain/path/canonical handle ports, userinfo, bare hosts") {
    val df = Seq(
      "https://WWW.Example.COM:443/a/b/?x=1#f",
      "http://u:p@h.co/z",
      "https://example.org").toDF("url")
    val got = df.select(
        TextAnalysis.urlHost(col("url")),
        TextAnalysis.urlDomain(col("url")),
        TextAnalysis.urlPath(col("url")),
        TextAnalysis.urlCanonical(col("url")))
      .as[(String, String, String, String)].collect()
    assert(got(0) == (("www.example.com", "example.com", "/a/b/",
      "https://www.example.com/a/b")))
    assert(got(1) == (("h.co", "h.co", "/z", "http://h.co/z")))
    assert(got(2) == (("example.org", "example.org", "/", "https://example.org/")))
  }

  // ---- keyword search

  test("searchAllTerms is conjunctive and counts total term hits") {
    val df = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta"),
      (3L, "beta gamma gamma")).toDF("doc_id", "text")
    val hits = TextAnalysis.searchAllTerms(df, "doc_id", "text", Seq("alpha", "gamma"))
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 3L)) // doc1 only: alpha×2 + gamma×1
  }

  test("bm25TopK ranks by relevance: tf up, doc length down, rare terms up") {
    val df = Seq(
      (1L, "merge merge merge pad pad pad pad pad pad pad"), // high tf, long
      (2L, "merge pad"),                                     // low tf, short
      (3L, "merge merge pad"),                               // mid tf, short
      (4L, "pad pad pad"),                                   // no hit
      (5L, "rare merge")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text",
        Seq(1L -> Seq("merge"), 2L -> Seq("rare", "merge")), k = 5)
      .orderBy("query_id", "rnk")
      .select("query_id", "rnk", "doc_id")
      .as[(Long, Int, Long)].collect().toList
    val q1 = got.filter(_._1 == 1L).map(_._3)
    // doc 4 never appears; doc 3 (tf=2, dl=3) beats doc 1 (tf=3 but dl=10
    // past saturation) and doc 2/5 (tf=1)
    assert(!q1.contains(4L))
    assert(q1.head == 3L)
    assert(q1.indexOf(3L) < q1.indexOf(2L))
    // two-term query: only doc 5 has 'rare', so it must rank first
    val q2 = got.filter(_._1 == 2L).map(_._3)
    assert(q2.head == 5L)
    // scores are monotone non-increasing within a query by construction
    val scores = TextAnalysis.bm25TopK(df, "doc_id", "text",
        Seq(1L -> Seq("merge")), k = 5)
      .orderBy("rnk").select("score").as[Double].collect().toList
    assert(scores == scores.sorted.reverse)
  }

  test("semanticDedup drops higher-id within-cluster near-dups only") {
    val df = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f)),   // identical trio: 10 kept, 11/12 -> 10
      (11L, Seq(1.0f, 0.0f, 0.0f)),
      (12L, Seq(1.0f, 0.0f, 0.0f)),
      (20L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal: kept
      (30L, Seq(0.0f, 0.0f, 1.0f)),   // orthogonal: kept
      (31L, Seq(0.0f, 0.3f, 1.0f))).toDF("vec_id", "embedding") // cos vs 30 ≈ 0.958 < 0.99
    val got = Dedup.semanticDedup(df, "vec_id", "embedding",
        nClusters = 2, threshold = 0.99)
      .select("id", "cid", "dup_of", "kept").collect()
      .map(r => (r.getLong(0), r.isNullAt(2), if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .toList.sortBy(_._1)
    val byId = got.map(g => g._1 -> g).toMap
    // identical vectors always share a cluster: lowest id survives
    assert(byId(10L)._4 && byId(11L) == ((11L, false, 10L, false)) &&
      byId(12L) == ((12L, false, 10L, false)))
    // sub-threshold neighbours stay kept
    assert(byId(20L)._4 && byId(30L)._4 && byId(31L)._4)
    // every dropped doc points at a LOWER id
    got.filter(!_._4).foreach { case (id, _, dupOf, _) => assert(dupOf < id) }
  }

  // ---- batch sessionization

  test("batchSessions splits on gap, aggregates exactly") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val df = Seq(
      (1L, ts(0), 7L, 1.10), (2L, ts(60), 7L, 2.20), // session 1
      (3L, ts(2000), 7L, 3.30),                      // gap 1940s > 1800 → session 2
      (4L, ts(100), 8L, 4.40))                       // other user
      .toDF("event_id", "ts", "user_id", "value")
    val s = Sessions.batchSessions(df, "user_id", "ts", "value", gapSec = 1800)
      .select("user_id", "session_seq", "n_events", "total_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(s == Set((7L, 1L, 2L, 3.30), (7L, 2L, 1L, 3.30), (8L, 1L, 1L, 4.40)))
  }

  // ---- rolling z-score

  test("zScoreOutliers flags spikes, honors cold start") {
    val rows = (1 to 30).map(i =>
      (i.toLong, i.toLong, 1L, if (i == 25) 500.0 else 10.0 + (i % 3)))
    val df = rows.toDF("event_id", "ord", "user_id", "value")
    val out = Rolling.zScoreOutliers(df, "user_id", "ord", "event_id", "value",
        frame = 20, minN = 10, zCut = 2.5)
      .select("event_id").as[Long].collect().toSet
    assert(out.contains(25L), s"spike not flagged: $out")
    // constant series before the spike → no flags in the first 24 rows
    assert(!out.exists(_ < 25L))
    // cold start: a spike at row 3 of a fresh key is never flagged
    val early = Seq((1L, 1L, 2L, 10.0), (2L, 2L, 2L, 11.0), (3L, 3L, 2L, 500.0))
      .toDF("event_id", "ord", "user_id", "value")
    assert(Rolling.zScoreOutliers(early, "user_id", "ord", "event_id", "value",
      20, 10, 2.5).count() == 0)
  }

  // ---- weighted sampling

  test("weightedKeep: extreme weights, determinism, monotone rate") {
    val df = (1L to 1000L).map(i => (i, i.toDouble)).toDF("id", "x")
    val zero = Sampling.weightedKeep(df.withColumn("w", lit(0.0)), "id", "w")
    val one = Sampling.weightedKeep(df.withColumn("w", lit(1.0)), "id", "w")
    assert(zero.count() == 0 && one.count() == 1000)
    val half = Sampling.weightedKeep(df.withColumn("w", lit(0.5)), "id", "w")
    val n = half.count()
    assert(n > 400 && n < 600, s"0.5-weight kept $n of 1000")
    assert(half.select("id").as[Long].collect().toSet ==
      Sampling.weightedKeep(df.withColumn("w", lit(0.5)), "id", "w")
        .select("id").as[Long].collect().toSet)
  }

  // ---- per-group cap

  test("capPerGroup keeps a deterministic uniform subset per group") {
    val df = (1L to 200L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val kept = Sampling.capPerGroup(df, "g", "id", cap = 10)
    val byG = kept.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(byG.values.forall(_ == 10))
    // rerun-stable: same survivors both times
    val again = Sampling.capPerGroup(df, "g", "id", cap = 10)
    assert(kept.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
    // under-cap groups keep everything
    val small = Seq((1L, "x"), (2L, "x")).toDF("id", "g")
    assert(Sampling.capPerGroup(small, "g", "id", 10).count() == 2)
  }

  // ---- line-level boilerplate removal

  test("dropBoilerplateLines strips high-df lines, keeps order, counts drops") {
    val docs = Seq(
      (1L, "unique alpha\nCOOKIE BANNER\nunique beta"),
      (2L, "cookie banner\nown text two"),      // trim/case: different key
      (3L, "COOKIE BANNER\nthird body"),
      (4L, "  COOKIE BANNER  \nfourth body\nCOOKIE BANNER"), // trim-matches; twice in one doc
      (5L, "COOKIE BANNER")).toDF("doc_id", "text") // whole doc is boilerplate
    val out = TextAnalysis.dropBoilerplateLines(docs, "doc_id", "text", minDf = 3)
      .orderBy("id").as[(Long, String, Long, Long)].collect()
    // df("COOKIE BANNER") = 4 distinct docs (1,3,4,5) >= 3 → dropped everywhere;
    // "cookie banner" (lowercase) df=1 survives
    assert(out(0) == ((1L, "unique alpha\nunique beta", 3L, 1L)))
    assert(out(1) == ((2L, "cookie banner\nown text two", 2L, 0L)))
    assert(out(2) == ((3L, "third body", 2L, 1L)))
    // both occurrences dropped, untrimmed original lines preserved for kept
    assert(out(3) == ((4L, "fourth body", 3L, 2L)))
    // fully-boilerplate doc stays as a row with empty clean text
    assert(out(4) == ((5L, "", 1L, 1L)))
  }

  // ---- unigram-LM quality scores

  test("unigramNll: frequent-token docs score lower; OOV scores highest") {
    val docs = Seq(
      (1L, "the the the the"),          // most frequent token only
      (2L, "the cat sat"),              // mixed
      (3L, "zyx")                       // rare → below vocab cut when V small
      ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramNll(docs, "doc_id", "text", vocabSize = 2)
      .orderBy("id").as[(Long, Long, Double)].collect()
    // counts: the=5, cat=1, sat=1, zyx=1 → vocab (V=2) = {the, cat}
    assert(out.map(_._2).toSeq == Seq(4L, 3L, 1L))
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(byId(1L) < byId(2L) && byId(2L) < byId(3L))
    // doc 3's token is OOV: nll = ln(N+V+1) exactly (ln(8+2+1))
    assert(math.abs(byId(3L) - math.log(11.0)) < 1e-6)
  }

  test("dsirScores: target-like docs score above background-like docs") {
    val corpus = Seq(
      (1L, "aa aa bb"), (2L, "aa bb bb"), (3L, "cc cc dd"), (4L, "cc dd dd"),
      (5L, "aa aa aa"), (6L, "dd dd dd")).toDF("doc_id", "text")
    val target = corpus.where(col("doc_id") <= 2) // aa/bb-heavy slice
    val out = TextAnalysis.dsirScores(corpus, target, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // target-likeness ordering: bb occurs only in the target slice, so the
    // bb-bearing doc outranks aa-only; cc/dd (background-only) rank below,
    // dd (most background-heavy) last
    assert(out(1L) > out(5L) && out(5L) > out(3L) && out(3L) > out(6L))
    // rerun-stable (no RNG, no partition sensitivity)
    val again = TextAnalysis.dsirScores(corpus.repartition(7), target, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out == again)
  }

  // ---- exact-substring duplicate passages

  test("duplicatePassages finds shared spans at the right offsets") {
    // doc 1 and doc 2 share a 20-token run; doc 2 has a 3-token prefix so
    // the diagonal is nonzero. doc 3 shares only a 10-token run with doc 1
    // (< minSpanTokens=15) and must not pair.
    val shared = (0 until 20).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a0 a1 $shared a2 a3"),
      (2L, s"b0 b1 b2 $shared b3"),
      (3L, "c0 c1 " + (0 until 10).map(i => s"s$i").mkString(" ") + " c2 c3 c4 c5 c6"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicatePassages(docs, "doc_id", "text",
        n = 8, minSpanTokens = 15)
      .as[(Long, Long, Int, Int, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 2, 3, 20L)))
  }

  test("duplicatePassages: maxGramDf prunes boilerplate grams; partition-invariant") {
    // the same 8-gram in 5 docs with maxGramDf=4 → no candidates at all
    val boiler = (0 until 16).map(i => s"t$i").mkString(" ")
    val docs = (1L to 5L).map(id => (id, s"u$id $boiler")).toDF("doc_id", "text")
    assert(Dedup.duplicatePassages(docs, "doc_id", "text", n = 8,
      minSpanTokens = 15, maxGramDf = 4).count() == 0)
    // raising the cap restores all 10 pairs, each with the full 16-token span
    val pairs = Dedup.duplicatePassages(docs.repartition(7), "doc_id", "text",
        n = 8, minSpanTokens = 15, maxGramDf = 5)
      .as[(Long, Long, Int, Int, Long)].collect()
    assert(pairs.length == 10 && pairs.forall(_._5 == 16L))
  }

  test("removeDuplicatePassages excises spans from the higher-id doc only") {
    val shared = (0 until 20).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a0 a1 $shared a2"),
      (2L, s"b0 $shared b1 b2")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatePassages(docs, "doc_id", "text",
        n = 8, minSpanTokens = 15)
      .orderBy("id").as[(Long, String, Long, Long)].collect()
    // doc 1 (keeper) untouched, normalized; doc 2 loses exactly the span
    assert(out(0) == ((1L, s"a0 a1 $shared a2", 23L, 0L)))
    assert(out(1) == ((2L, "b0 b1 b2", 23L, 20L)))
  }

  test("removeDuplicatePassages merges overlapping spans from different partners") {
    // doc 10 copies tokens r0..r19 from doc 1 and r10..r29 from doc 2 as
    // ONE contiguous r0..r29 run -> overlapping victim intervals [2,22)
    // and [12,32) must merge to [2,32): 30 removed, not 40
    val run = (0 until 30).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, (0 until 20).map(i => s"r$i").mkString(" ")),
      (2L, (10 until 30).map(i => s"r$i").mkString(" ")),
      (10L, s"x0 x1 $run x2")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatePassages(docs, "doc_id", "text",
        n = 8, minSpanTokens = 15)
      .orderBy("id").as[(Long, String, Long, Long)].collect()
    assert(out(2) == ((10L, "x0 x1 x2", 33L, 30L)))
    assert(out(0)._4 == 0L && out(1)._4 == 0L)
  }

  test("duplicatePassages merges adjacent grams into one maximal span") {
    // a 30-token shared run is ONE span of 30, not 23 overlapping 8-gram rows
    val run = (0 until 30).map(i => s"r$i").mkString(" ")
    val docs = Seq((1L, run), (2L, s"x y $run")).toDF("doc_id", "text")
    val out = Dedup.duplicatePassages(docs, "doc_id", "text", n = 8, minSpanTokens = 15)
      .as[(Long, Long, Int, Int, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 0, 2, 30L)))
  }

  // ---- portable HyperLogLog

  test("hllProfile: estimate within the m=256 error contract") {
    val n = 5000
    val df = (1 to n).map(i => ("g", s"user_$i")).toDF("g", "v")
    val prof = Sketches.hllProfile(df, Seq("g"), "v")
      .select("exact_distinct", "est_distinct").as[(Long, Double)].head()
    assert(prof._1 == n.toLong)
    // standard error 1.04/sqrt(256) ~ 6.5%; assert within 4 sigma
    assert(math.abs(prof._2 - n) / n < 0.26, s"estimate ${prof._2} too far from $n")
  }

  test("hllRegisters: rho is the portable leading-zero spelling, partition-invariant") {
    val df = (1 to 200).map(i => ("g", i.toString)).toDF("g", "v")
    val r1 = Sketches.hllRegisters(df, Seq("g"), "v")
      .orderBy("idx").as[(String, Long, Int)].collect()
    val r2 = Sketches.hllRegisters(df.repartition(13), Seq("g"), "v")
      .orderBy("idx").as[(String, Long, Int)].collect()
    assert(r1.toSeq == r2.toSeq)
    assert(r1.forall { case (_, idx, rho) => idx >= 0 && idx < 256 && rho >= 1 && rho <= 53 })
  }

  // ---- KMV bottom-k sketch (bounded-state custom aggregate)

  test("kmvSketches holds exactly the k smallest distinct hashes, partition-invariant") {
    val df = ((1 to 500) ++ (1 to 500)).map(i => ("g", s"v$i")).toDF("g", "v")
    val sk = Sketches.kmvSketches(df, Seq("g"), "v", k = 32)
      .select("kmv").as[Seq[Long]].head()
    // ground truth via the unbounded spelling
    val truth = df.select(
        expr("CAST(conv(substring(md5(v), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .distinct().orderBy("h").limit(32).as[Long].collect().toSeq
    assert(sk == truth)
    assert(sk == sk.sorted && sk.distinct == sk)
    val sk2 = Sketches.kmvSketches(df.repartition(17), Seq("g"), "v", k = 32)
      .select("kmv").as[Seq[Long]].head()
    assert(sk2 == sk)
    // under-full group: sketch IS the full distinct hash set
    val small = Seq(("g", "a"), ("g", "b"), ("g", "a")).toDF("g", "v")
    assert(Sketches.kmvSketches(small, Seq("g"), "v", k = 32)
      .select("kmv").as[Seq[Long]].head().size == 2)
  }

  test("kmvEstimate within the k=256 error contract; exact when under-full") {
    val n = 4000
    val df = (1 to n).map(i => ("g", s"user_$i")).toDF("g", "v")
    val est = Sketches.kmvSketches(df, Seq("g"), "v", k = 256)
      .select(Sketches.kmvEstimate(col("kmv"), 256)).as[Double].head()
    // standard error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert(math.abs(est - n) / n < 0.25, s"estimate $est too far from $n")
    val exact = Sketches.kmvSketches(df.limit(100), Seq("g"), "v", k = 256)
      .select(Sketches.kmvEstimate(col("kmv"), 256)).as[Double].head()
    assert(exact == 100.0)
  }

  test("kmvPairOverlap estimates Jaccard between constructed overlapping sets") {
    // A = 1..2000, B = 1001..3000 → |A∩B|=1000, |A∪B|=3000, J=1/3
    val df = ((1 to 2000).map(i => ("A", s"u$i")) ++
      (1001 to 3000).map(i => ("B", s"u$i"))).toDF("g", "v")
    val row = Sketches.kmvPairOverlap(df, "g", "v", k = 256)
      .as[(String, String, Double, Double, Double, Double, Double)].head()
    assert(row._1 == "A" && row._2 == "B")
    assert(math.abs(row._6 - 1.0 / 3.0) < 0.12, s"jacc ${row._6} vs 1/3")
    assert(math.abs(row._7 - 1000.0) / 1000.0 < 0.35, s"inter ${row._7} vs 1000")
    // disjoint sets → exactly zero (no hash collides across 60 bits here)
    val dj = ((1 to 500).map(i => ("A", s"x$i")) ++
      (1 to 500).map(i => ("B", s"y$i"))).toDF("g", "v")
    val z = Sketches.kmvPairOverlap(dj, "g", "v", k = 256)
      .as[(String, String, Double, Double, Double, Double, Double)].head()
    assert(z._6 == 0.0 && z._7 == 0.0)
  }

  // ---- bloom-prefiltered decontamination

  test("contaminatedIdsBloomPrefilter equals the exact operator") {
    val leak = (0 until 12).map(i => s"leak$i").mkString(" ")
    val corpus = ((1L to 40L).map(i =>
        (i, s"doc $i " + (0 until 20).map(j => s"w${i}_$j").mkString(" "))) ++
      Seq((100L, s"prefix $leak suffix"), (101L, s"$leak and more")))
      .toDF("doc_id", "text")
    val test = Seq((900L, s"header $leak trailer")).toDF("doc_id", "text")
    val exact = Dedup.contaminatedIds(corpus, test, "doc_id", "text", n = 8)
      .as[Long].collect().sorted.toSeq
    val bloomed = Dedup.contaminatedIdsBloomPrefilter(corpus, test, "doc_id", "text", n = 8)
      .as[Long].collect().sorted.toSeq
    assert(exact == Seq(100L, 101L))
    assert(bloomed == exact)
    // and on a corpus with zero contamination both are empty
    val clean = corpus.where(col("doc_id") < 50)
    assert(Dedup.contaminatedIdsBloomPrefilter(clean, test, "doc_id", "text").count() == 0)
  }

  // ---- Count-Min sketch

  test("cms: never under-counts, heavy keys near-exact, linear merge") {
    // zipf-ish: key k appears 2000/k times
    val rows = (1 to 50).flatMap(k => Seq.fill(2000 / k)(("g", s"key_$k")))
    val df = rows.toDF("g", "v")
    val counters = Sketches.cmsCounters(df, Seq("g"), "v")
    val exact = df.groupBy("g", "v").agg(count(lit(1)).as("exact"))
    val est = Sketches.cmsEstimate(counters, exact.select("g", "v"), Seq("g"), "v")
    val joined = est.join(exact, Seq("g", "v"))
      .select("v", "est_count", "exact").as[(String, Long, Long)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (v, e, x) =>
      assert(e >= x, s"$v under-counted: $e < $x")
      assert(e - x <= 100, s"$v over-counted implausibly: $e vs $x")
    }
    // heaviest key exact or nearly so
    val (_, eTop, xTop) = joined.find(_._1 == "key_1").get
    assert(eTop == xTop || eTop - xTop < 20)
    // linearity: counters of two halves SUM to the whole (vs HLL's max)
    val withIdx = df.withColumn("i", monotonically_increasing_id())
    val a = Sketches.cmsCounters(withIdx.where(col("i") % 2 === 0), Seq("g"), "v")
    val b = Sketches.cmsCounters(withIdx.where(col("i") % 2 === 1), Seq("g"), "v")
    val merged = a.unionByName(b).groupBy("g", "row", "bucket")
      .agg(sum("cnt").as("cnt"))
      .orderBy("row", "bucket").as[(String, Int, Long, Long)].collect()
    val whole = counters.orderBy("row", "bucket")
      .as[(String, Int, Long, Long)].collect()
    assert(merged.toSeq == whole.toSeq)
  }

  // ---- z-order layout

  test("zValueExpr interleaves bits correctly") {
    val df = Seq((5L, 3L)).toDF("ux", "uy") // x=101, y=011
    // bit layout: y2 x2 y1 x1 y0 x0 = 0 1 1 0 1 1 = 27
    assert(df.select(Layout.zValueExpr("ux", "uy", 3)).as[Long].head() == 27L)
    val corners = Seq((0L, 0L), (7L, 0L), (0L, 7L), (7L, 7L)).toDF("ux", "uy")
    assert(corners.select(Layout.zValueExpr("ux", "uy", 3)).as[Long].collect().toSeq
      == Seq(0L, 21L, 42L, 63L))
  }

  test("zOrderQuality: z-layout narrows both dims where natural narrows one") {
    // 128x128 grid; natural order = x-major, so natural buckets are tight
    // on x but span ALL of y; z buckets must be narrow on both
    val grid = (for (x <- 0 until 128; y <- 0 until 128)
      yield (x.toLong, y.toLong, (x * 128 + y).toLong))
      .toDF("x", "y", "ord")
    val q = Layout.zOrderQuality(grid, "x", "y", "ord", bits = 7, bucketBits = 6)
      .orderBy("layout").as[(String, Long, Double, Double)].collect()
    val nat = q(0); val zo = q(1)
    assert(nat._1 == "natural" && zo._1 == "zorder")
    assert(nat._4 > 0.9, s"natural layout should span all of y: ${nat._4}")
    assert(zo._3 < 0.2 && zo._4 < 0.2,
      s"z-order should be narrow on both dims: ${zo._3}, ${zo._4}")
  }

  // ---- portable Bloom filter

  test("bloom: zero false negatives, plausible FPR, incremental merge") {
    val members = (1 to 2000).map(i => ("s", s"m$i")).toDF("g", "v")
    val words = Sketches.bloomWords(members, Seq("g"), "v")
    assert(words.count() <= 2048)
    // every member probes positive
    val posCount = Sketches.bloomProbe(words, members.distinct(), Seq("g"), "v")
      .where(col("bloom_positive")).count()
    assert(posCount == 2000)
    // non-members: FPR for m=65536, k=3, n=2000 is ~0.06%; 4000 probes
    // should see a handful at most
    val strangers = (1 to 4000).map(i => ("s", s"q$i")).toDF("g", "v")
    val fp = Sketches.bloomProbe(words, strangers, Seq("g"), "v")
      .where(col("bloom_positive")).count()
    assert(fp <= 40, s"implausible false-positive count $fp")
    // building in two halves and bit_or-merging == building whole
    val h1 = Sketches.bloomWords(members.where(expr("substr(v,2) % 2 = 0")), Seq("g"), "v")
    val h2 = Sketches.bloomWords(members.where(expr("substr(v,2) % 2 = 1")), Seq("g"), "v")
    val merged = h1.unionByName(h2).groupBy("g", "word")
      .agg(expr("bit_or(mask)").as("mask"))
      .orderBy("word").as[(String, Long, Long)].collect()
    val whole = words.orderBy("word").as[(String, Long, Long)].collect()
    assert(merged.toSeq == whole.toSeq)
  }

  test("bloom digest-sliced variant: zero false negatives, both probe forms") {
    // values that ARE md5 digests — the dedup gram-key shape
    val members = (1 to 2000).map(i => Tuple1(s"m$i")).toDF("raw")
      .select(md5(col("raw")).as("gk"))
    val words = Sketches.bloomWordsDigest(members, Seq.empty, "gk")
    // every member positive under BOTH probe spellings (literal + join)
    val posLit = Sketches.bloomProbeLiteralDigest(words, members, "gk")
      .where(col("bloom_positive")).count()
    val posJoin = Sketches.bloomProbeDigest(words, members, Seq.empty, "gk")
      .where(col("bloom_positive")).count()
    assert(posLit == 2000 && posJoin == 2000)
    // the two probe forms agree on every stranger too (same bits read)
    val strangers = (1 to 4000).map(i => Tuple1(s"q$i")).toDF("raw")
      .select(md5(col("raw")).as("gk"))
    val litSet = Sketches.bloomProbeLiteralDigest(words, strangers, "gk")
      .where(col("bloom_positive")).select("gk").as[String].collect().toSet
    val joinSet = Sketches.bloomProbeDigest(words, strangers, Seq.empty, "gk")
      .where(col("bloom_positive")).select("gk").as[String].collect().toSet
    assert(litSet == joinSet)
    assert(litSet.size <= 40, s"implausible false-positive count ${litSet.size}")
    // scheme-mixing guard: slicing needs the hex digits to exist
    intercept[IllegalArgumentException] {
      Sketches.digestPositions(col("gk"), 3, 12)
    }
  }

  // ---- record linkage

  test("linkPairsPrefixFilter equals brute-force bipartite Jaccard") {
    val rng = new scala.util.Random(7)
    def word() = (1 to 6).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val cleanRows = (1L to 40L).map(i => (i, (1 to 5).map(_ => word()).mkString(" ")))
    // dirty: 30 mutated copies + 10 unrelated strings
    val dirtyRows = cleanRows.take(30).map { case (i, s) =>
      (i + 1000L, "zz " + s)
    } ++ (41L to 50L).map(i => (i + 1000L, (1 to 5).map(_ => word()).mkString(" ")))
    val clean = cleanRows.toDF("cid", "nm")
    val dirty = dirtyRows.toDF("rid", "nm")
    val got = Linkage.linkPairsPrefixFilter(dirty, "rid", "nm", clean, "cid", "nm",
        Linkage.charGramHashes(_, 3), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the cross product with the same gram definition
    val lg = dirty.select(col("rid"),
      Linkage.charGramHashes(col("nm"), 3).as("g")).as[(Long, Seq[Long])].collect()
    val rg = clean.select(col("cid"),
      Linkage.charGramHashes(col("nm"), 3).as("g")).as[(Long, Seq[Long])].collect()
    val want = (for {
      (rid, ga) <- lg; (cid, gb) <- rg
      inter = ga.toSet.intersect(gb.toSet).size
      j = BigDecimal(inter.toDouble / (ga.size + gb.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (rid, cid, j)).toSet
    assert(got == want, s"blocked=${got.size} brute=${want.size}")
    // every mutated record links back to its source
    val best = Linkage.bestMatch(got.toSeq.toDF("left_id", "right_id", "jaccard"))
      .as[(Long, Long, Double)].collect()
    assert(best.count { case (l, r, _) => l - 1000L == r } == 30)
  }

  // ---- hashed-feature classifier inference

  test("hashedLinearScore: exact integer margins, map-literal weights, no shuffle") {
    val df = Seq((1L, "good text here"), (2L, "bad"), (3L, "a a a a"))
      .toDF("id", "text")
    // constant weight 1 → margin is exactly n_tokens / 64
    val flat = Scoring.hashedLinearScore(df, "id", "text", 1024, _ => lit(1), 6)
      .as[(Long, Int, Double, Boolean)].collect().sortBy(_._1)
    assert(flat.map(r => (r._1, r._3)).toSeq ==
      Seq((1L, 3 / 64.0), (2L, 1 / 64.0), (3L, 4 / 64.0)))
    assert(flat.forall(_._4))
    // a trained weight table as a map literal: known buckets weighted,
    // everything else 0 — the broadcast-model shape
    val bucketOfA = spark.range(1)
      .select(Scoring.featureBucket(lit("a"), 1024)).as[Long].head()
    val weights = typedLit(Map(bucketOfA -> -2))
    val scored = Scoring.hashedLinearScore(df, "id", "text", 1024,
        b => coalesce(element_at(weights, b), lit(0)), 6)
      .as[(Long, Int, Double, Boolean)].collect().sortBy(_._1)
    assert(scored(2) == ((3L, 4, -8 / 64.0, false))) // "a a a a" → 4 * -2
    // scoring is map-only: no exchange anywhere in the plan
    val plan = Scoring.hashedLinearScore(df, "id", "text", 1024, _ => lit(1), 6)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  // ---- link-graph PageRank

  test("pageRank: hand-computed ranks with dangling redistribution; mass conserved") {
    // 4 nodes; node 4 is dangling (in-edge only)
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val one = Graphs.pageRank(edges, "src", "dst", iters = 1)
      .as[(Long, Double)].collect().toMap
    // pr1(v) = 0.15/4 + 0.85*(contrib + dangling/4), dangling = pr0(4) = 0.25
    assert(math.abs(one(1L) - 0.515625) < 1e-12)
    assert(math.abs(one(2L) - 0.196875) < 1e-12)
    assert(math.abs(one(3L) - 0.090625) < 1e-12)
    assert(math.abs(one(4L) - 0.196875) < 1e-12)
    // rank mass stays 1 across iterations (dangling correction works)
    val three = Graphs.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Double)].collect()
    assert(math.abs(three.map(_._2).sum - 1.0) < 1e-9)
    // exact and plain-sum spellings agree within float-reassociation noise
    val loose = Graphs.pageRank(edges, "src", "dst", iters = 3, exactFold = false)
      .as[(Long, Double)].collect().toMap
    three.foreach { case (id, pr) => assert(math.abs(loose(id) - pr) < 1e-12) }
  }

  test("pageRank: synthetic hub demotes the exact fold; plain-sum ranks match") {
    // hub node 0 has in-degree 30; spokes also chain so ranks are
    // non-trivial. With exactFoldMaxInDegree = 5 the probe must demote;
    // without a cap it must keep the exact fold.
    val hubEdges = ((1L to 30L).map(s => (s, 0L)) ++
      (1L until 30L).map(s => (s, s + 1))).toDF("src", "dst")
    val eNorm = hubEdges.select(col("src"), col("dst"))
    assert(!Graphs.resolveExactFold(eNorm, 5L), "hub in-degree 30 must demote")
    assert(Graphs.resolveExactFold(eNorm, 100000L),
      "default bound must keep the exact fold on a 59-edge graph")
    // |E| <= bound short-circuit: the probe is skipped, fold kept, even
    // though this graph's hub violates a hypothetical per-target read
    assert(Graphs.resolveExactFold(eNorm, 59L))
    // demoted run end-to-end: ranks match the exact fold within
    // float-reassociation noise, and mass is conserved. Gate pinned off:
    // this block exists to exercise the DISTRIBUTED demotion path.
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0")
    try {
      val demoted = Graphs.pageRank(hubEdges, "src", "dst", iters = 3,
          exactFold = true, exactFoldMaxInDegree = 5L)
        .as[(Long, Double)].collect()
      val exact = Graphs.pageRank(hubEdges, "src", "dst", iters = 3)
        .as[(Long, Double)].collect().toMap
      assert(demoted.length == 31)
      assert(math.abs(demoted.map(_._2).sum - 1.0) < 1e-9)
      demoted.foreach { case (id, pr) => assert(math.abs(exact(id) - pr) < 1e-12) }
    } finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
  }

  test("pageRank: driver fast path is BIT-identical to the distributed exact fold") {
    // no dangling nodes (every node has an out-edge), so even the
    // dangling scalar's ≤1-ulp fold-order caveat is out of play: the two
    // paths must produce the same doubles, not merely close ones
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 1L))
      .toDF("src", "dst")
    val drv = Graphs.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0")
    try {
      val dist = Graphs.pageRank(edges, "src", "dst", iters = 3)
        .as[(Long, Double)].collect().toMap
      assert(drv == dist,
        s"exact-fold bit parity must hold across paths: $drv vs $dist")
    } finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
  }

  // ---- targeted delete

  test("targetedDelete rewrites only victim-bearing files; idempotent rerun") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tdel").toString
    val rows = (0L until 800L).map(i => (i, s"v$i"))
    rows.toDF("k", "payload").repartitionByRange(8, col("k"))
      .write.mode("overwrite").parquet(dir)
    def files(): Set[String] = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => s"${f.getName}:${f.lastModified}:${f.length}").toSet
    val before = files()
    // victims sit in a narrow key range → few files affected
    val victims = Seq(10L, 11L, 12L).toDF("k")
    val stats = Merge.targetedDelete(spark, dir, "k", victims)
      .as[(Long, Long, Long, Long)].head()
    assert(stats._3 == 3, s"expected 3 deleted rows, got $stats")
    assert(stats._2 >= 1 && stats._2 <= 2,
      s"range-clustered victims should touch 1-2 of 8 files, got ${stats._2}")
    // untouched files are byte-identical (same name, mtime, size)
    val after = files()
    assert((before intersect after).size == before.size - stats._2.toInt)
    // table state: victims gone, everything else intact
    val back = spark.read.parquet(dir).as[(Long, String)].collect()
    assert(back.length == 797 && !back.exists(r => Set(10L, 11L, 12L)(r._1)))
    assert(back.toMap == rows.filterNot(r => Set(10L, 11L, 12L)(r._1)).toMap)
    // rerun: nothing left to delete, zero files touched
    val again = Merge.targetedDelete(spark, dir, "k", victims)
      .as[(Long, Long, Long, Long)].head()
    assert(again._2 == 0 && again._3 == 0)
  }

  // ---- snapshot diff / fk audit

  test("snapshotDiff classifies keys with null-safe compares") {
    val oldS = Seq((1L, Some("a"), 10), (2L, None: Option[String], 20),
      (3L, Some("c"), 30), (4L, Some("d"), 40)).toDF("k", "s", "v")
    val newS = Seq((1L, Some("a"), 10), (2L, Some("b"), 20),
      (3L, None: Option[String], 30), (5L, Some("e"), 50)).toDF("k", "s", "v")
    val got = Merge.snapshotDiff(oldS, newS, Seq("k"))
      .as[(Long, String)].collect().toMap
    // null→value and value→null are both updates (null-safe <=>), not noise
    assert(got == Map(1L -> "unchanged", 2L -> "updated", 3L -> "updated",
      4L -> "deleted", 5L -> "inserted"))
  }

  test("fkAudit counts orphans per relationship with a key-sum witness") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq((1L, "x"), (2L, "y"), (9L, "z"), (10L, "w"))
      .toDF("fk", "payload")
    val got = Validation.fkAudit(Seq(("child->parent", child, "fk", parent, "pk")))
      .as[(String, Long, Long, Long)].head()
    assert(got == (("child->parent", 4L, 2L, 19L)))
  }

  // ---- small-file compaction

  test("compactSmallFiles collapses fragments, preserves content, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    val rows = (0L until 500L).map(i => (i, s"p$i"))
    rows.toDF("k", "payload").repartition(16).write.mode("overwrite").parquet(dir)
    def nFiles(): Int = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(nFiles() == 16)
    val st = Merge.compactSmallFiles(spark, dir, 1L << 20, 1L << 20)
      .as[(Long, Long, Long, Long)].head()
    assert(st == ((16L, 16L, 1L, 500L)), s"unexpected stats $st")
    assert(nFiles() == 1)
    val back = spark.read.parquet(dir).as[(Long, String)].collect()
    assert(back.length == 500 && back.toMap == rows.toMap)
    // second run: single file left — nothing to compact
    val again = Merge.compactSmallFiles(spark, dir, 1L << 20, 1L << 20)
      .as[(Long, Long, Long, Long)].head()
    assert(again == ((1L, 0L, 0L, 0L)))
  }

  // ---- CMS join-size estimation

  test("cmsJoinSize never under-estimates and tightens with width") {
    val a = (1 to 100).flatMap(i => Seq.fill(i % 3 + 1)(i.toLong)).toDF("k")
    val b = (50 to 150).flatMap(i => Seq.fill(i % 2 + 1)(i.toLong)).toDF("k")
    val exact = a.join(b, "k").count()
    def est(width: Int): Long = Sketches.cmsJoinSize(
      Sketches.cmsCounters(a, Nil, "k", 4, width),
      Sketches.cmsCounters(b, Nil, "k", 4, width)).as[Long].head()
    val wide = est(65536)
    val narrow = est(64)
    assert(wide >= exact && narrow >= exact, "CMS inner product under-counted")
    // 151 distinct keys in 65536 buckets: at most a stray collision
    assert(wide <= (exact * 1.2).toLong + 1, s"wide est $wide vs exact $exact")
    // additive error grows as the width shrinks
    assert(narrow >= wide)
    // disjoint key sets: a bucket-disjoint depth row proves emptiness → 0
    val hi = (1000000L to 1000050L).toDF("k")
    val disjoint = Sketches.cmsJoinSize(
      Sketches.cmsCounters(a, Nil, "k", 4, 65536),
      Sketches.cmsCounters(hi, Nil, "k", 4, 65536)).as[Long].head()
    assert(disjoint == 0L, s"disjoint sets should estimate 0, got $disjoint")
  }

  // ---- schema drift

  test("jsonKeyDrift classifies added/removed/stable with presence counts") {
    val oldB = Seq(("a", """{"x":1,"y":2}"""), ("a", """{"x":3}"""),
      ("b", """{"z":0}""")).toDF("g", "props")
    val newB = Seq(("a", """{"x":9,"w":1}"""), ("b", """{"z":5}"""))
      .toDF("g", "props")
    val got = Validation.jsonKeyDrift(oldB, newB, Seq("g"), "props")
      .as[(String, String, Long, Long, String)].collect().toSet
    assert(got == Set(
      ("a", "x", 2L, 1L, "stable"), ("a", "y", 1L, 0L, "removed"),
      ("a", "w", 0L, 1L, "added"), ("b", "z", 1L, 1L, "stable")))
  }

  // ---- triangle counting

  test("triangleCounts finds each triangle once, robust to dup/reversed edges") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5 + triangle
    // {10,11,12}; edges fed with duplicates and both orientations
    val k4 = for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a.toLong, b.toLong)
    val edges = (k4 ++ k4.map(_.swap) ++ Seq((4L, 5L), (10L, 11L), (11L, 12L),
      (12L, 10L), (10L, 10L))).toDF("u", "v")
    val got = Graphs.triangleCounts(edges, "u", "v")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
    // the small graph above took the round-13 driver enumeration; the
    // distributed orientation plan must produce the identical rows
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0")
    try {
      val dist = Graphs.triangleCounts(edges, "u", "v")
        .as[(Long, Long)].collect().toMap
      assert(dist == got, "driver and distributed triangle counts must agree")
    } finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
    // ids above 2^31 exercise the wide (boxed-pair) edge-set fallback
    val big = 5000000000L
    val wide = Seq((big, big + 1), (big + 1, big + 2), (big + 2, big))
      .toDF("u", "v")
    val wideGot = Graphs.triangleCounts(wide, "u", "v")
      .as[(Long, Long)].collect().toMap
    assert(wideGot == Map(big -> 1L, (big + 1) -> 1L, (big + 2) -> 1L))
  }

  // ---- containment

  test("containmentPairs catches a quote Jaccard misses, directionally") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val book = ((1 to 50).map(i => s"b$i") ++ (1 to 12).map(i => s"q$i") ++
      (1 to 50).map(i => s"c$i")).mkString(" ")
    val docs = Seq((1L, quote), (2L, book), (3L, "x1 x2 x3 x4")).toDF("id", "text")
    val cont = Dedup.containmentPairs(docs, "id", "text", n = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(cont.map(r => (r._1, r._2)).toSet == Set((1L, 2L)),
      s"expected only quote⊂book, got ${cont.mkString(",")}")
    assert(cont.head._3 == 1.0)
    // the symmetric join at the same bar finds nothing
    assert(Dedup.jaccardPairsPrefixFilter(docs, "id", "text",
      n = 3, threshold = 0.8).count() == 0)
  }

  // ---- key-skew profile

  test("keySkewProfile: uniform keys → gini ~0, one hot key → gini high") {
    val uniform = (1 to 1000).map(i => i % 10).toDF("k")
    val skewed = ((1 to 991).map(_ => 0) ++ (1 to 9)).toDF("k")
    val gU = Validation.keySkewProfile(uniform, Seq("k"))
      .select("gini", "top1_share").as[(Double, Double)].head()
    val gS = Validation.keySkewProfile(skewed, Seq("k"))
      .select("gini", "top1_share").as[(Double, Double)].head()
    assert(gU._1 == 0.0 && gU._2 == 0.1)
    assert(gS._1 > 0.85 && gS._2 == 0.991)
  }

  // ---- JL projection

  test("jlProject preserves norms within the JL distortion band") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val dist = Similarity.jlProject(vecs, "id", "v", k = 16, dim = 64)
      .select(col("proj_norm") / col("orig_norm")).as[Double].collect()
    // ε ≈ sqrt(ln n / k) ≈ 0.6 loose band; mean ratio should center on 1
    assert(dist.forall(r => r > 0.3 && r < 1.9), s"distortion out of band")
    val mean = dist.sum / dist.length
    assert(math.abs(mean - 1.0) < 0.15, s"mean distortion $mean far from 1")
  }

  // ---- PMI + phrase search

  test("pmiCollocations: attracted pair positive, repelled pair absent/negative") {
    // 'new york' always adjacent; 'cat'/'dog' never adjacent
    val docs = (1 to 30).map(i =>
      (i.toLong, "new york " + ("cat filler dog filler " * 5).trim)).toDF("id", "text")
    val pmi = TextAnalysis.pmiCollocations(docs, "text", minCount = 10L)
      .as[(String, String, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._4)).toMap
    assert(pmi(("new", "york")) > 2.0)
    assert(!pmi.contains(("cat", "dog")))
    // 'york cat' happens every doc but unigrams are frequent → pmi below
    // the attracted pair's
    assert(pmi(("york", "cat")) < pmi(("new", "york")))
  }

  test("histogramQuantiles tracks exact percentile within one bin width") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 20000).map(_ => ("g", rnd.nextDouble() * 1000)).toDF("g", "x")
    val approx = Sketches.histogramQuantiles(df, "g", "x", bins = 64,
        qs = Seq(0.5, 0.95)).select("q", "approx")
      .as[(Double, Double)].collect().toMap
    val exact = df.selectExpr("percentile(x, 0.5)", "percentile(x, 0.95)")
      .as[(Double, Double)].head()
    val binW = 1000.0 / 64
    assert(math.abs(approx(0.5) - exact._1) <= binW)
    assert(math.abs(approx(0.95) - exact._2) <= binW)
    // degenerate group: every quantile = the single value
    val one = Seq(("h", 7.0), ("h", 7.0)).toDF("g", "x")
    assert(Sketches.histogramQuantiles(one, "g", "x", 8, Seq(0.5))
      .select("approx").as[Double].head() == 7.0)
  }

  test("pearsonCorr: perfect linear +1/-1, independent ~0") {
    val rows = (1 to 2000).map { i =>
      ("g", i.toLong, 3L * i + 7, -2L * i, (i * 2654435761L) % 1000)
    }.toDF("g", "x", "ylin", "yneg", "yhash")
    val r = Validation.pearsonCorr(rows, "g",
        Seq("x" -> col("x"), "ylin" -> col("ylin"), "yneg" -> col("yneg"),
          "yhash" -> col("yhash")))
      .select("pair", "r").as[(String, Double)].collect().toMap
    assert(r("x__ylin") == 1.0)
    assert(r("x__yneg") == -1.0)
    assert(math.abs(r("x__yhash")) < 0.1, s"hash corr ${r("x__yhash")}")
  }

  test("phraseSearch counts overlapping matches and respects adjacency") {
    val docs = Seq(
      (1L, "the the the end"),          // 'the the' overlaps twice
      (2L, "data big window"),          // 'data window' NOT adjacent
      (3L, "a data window b data window")).toDF("id", "text")
    val got = TextAnalysis.phraseSearch(docs, "id", "text",
        Seq(1L -> Seq("the", "the"), 2L -> Seq("data", "window")))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L), (2L, 3L, 2L)))
  }

  test("editDistanceSelfJoin equals the brute-force result (τ=1 and τ=2)") {
    // residue path (short strings), duplicates (dist 0), substitutions,
    // indels at every region, transpositions (dist 2), length gaps of
    // exactly τ, and far-apart strings that must NOT pair
    val strs = Seq(
      "", "a", "b", "ab", "ba", "abc",
      "kettle", "kettl", "kettles", "cattle", "kittle", "kettlle",
      "settle", "kettle", "battle", "rattle", "ketle", "kettel",
      "completely-unrelated-string", "zzzzzzzz").zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("id", "s")
    for (tau <- Seq(1, 2)) {
      val got = Linkage.editDistanceSelfJoin(df, "id", "s", tau)
        .as[(Long, Long, Int)].collect().toSet
      val brute = (for {
        (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
        d = {
          // classic DP distance
          val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
            if (i == 0) j else if (j == 0) i else 0 }
          for (i <- 1 to sa.length; j <- 1 to sb.length)
            m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
              m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
          m(sa.length)(sb.length)
        } if d <= tau
      } yield (ia, ib, d)).toSet
      assert(got == brute, s"tau=$tau: got ${got.size}, want ${brute.size}")
    }
  }

  test("functionalDeps counts violating groups and their blast radius") {
    val df = Seq(
      (1, "x", 10), (1, "x", 11),   // key 1: rhs stable (10/11 is other dep)
      (2, "y", 20), (2, "z", 21),   // key 2: violates k->c (y,z)
      (3, null.asInstanceOf[String], 30), (3, "w", 31) // null variant counts
    ).toDF("k", "c", "v")
    val got = Validation.functionalDeps(Seq(("k_to_c", df, Seq("k"), "c")))
      .as[(String, Long, Long, Long, Long)].head()
    assert(got == (("k_to_c", 3L, 2L, 2L, 4L)))
  }

  test("charEntropy: degenerate, uniform, and channel-restriction cases") {
    val df = Seq(
      (1L, "aaaa"),            // one symbol → 0
      (2L, "abab"),            // two equiprobable → ln 2
      (3L, "AB!ab?"),          // lowercased + punct stripped → 'abab'
      (4L, "!!!???"),          // empty channel → 0
      (5L, "abcd")             // uniform over 4 → ln 4
    ).toDF("id", "t")
    val h = df.select(col("id"), TextAnalysis.charEntropy(col("t")).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(h(1L) == 0.0 && h(4L) == 0.0)
    assert(math.abs(h(2L) - math.log(2)) < 1e-6)
    assert(h(3L) == h(2L))
    assert(math.abs(h(5L) - math.log(4)) < 1e-6)
  }

  test("madOutliers: fat-finger row flags, median unmoved") {
    val vals = (1 to 99).map(i => ("g", 100.0 + (i % 11))) :+ (("g", 1e7))
    val r = Quantiles.madOutliers(vals.toDF("g", "v"), "g", "v", k = 3.0)
      .select("n", "median", "n_out_low", "n_out_high")
      .as[(Long, Double, Long, Long)].head()
    assert(r._1 == 100L)
    assert(r._2 >= 100.0 && r._2 <= 111.0, s"median ${r._2} dragged")
    assert(r._4 == 1L && r._3 == 0L) // exactly the injected row, high side
  }

  test("InternalCaches: release() and release(scope) leave every cache resident") {
    import graft.core.InternalCaches
    import org.apache.spark.storage.StorageLevel
    // operators end their own caches, so the hooks have nothing to drop,
    // and they must not reach for the caller's
    val a = (1 to 5).toDF("x").persist()
    val b = (6 to 9).toDF("y").persist()
    a.count(); b.count()
    InternalCaches.release("dedup")
    InternalCaches.release()
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    a.unpersist(); b.unpersist()
  }

  test("prefix-filter dedup leaves the caller's cached input resident and adds no cache") {
    import org.apache.spark.storage.StorageLevel
    spark.catalog.clearCache() // what earlier tests left
    val docs = (1 to 30).map(i =>
      (i.toLong, s"alpha beta gamma delta w${i % 4} x$i")).toDF("doc_id", "text").persist()
    docs.count()
    val pairs = Dedup.jaccardPairsPrefixFilter(docs, "doc_id", "text", 3, 0.5)
    assert(pairs.count() > 0)
    Linkage.linkPairsPrefixFilter(docs, "doc_id", "text", docs, "doc_id", "text",
      Dedup.wordShingleHashes(_, 3), 0.5).count()
    Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5).count()
    Dedup.dropNearDupsKeepBest(docs, "doc_id", pairs, length(col("text"))).count()
    assert(docs.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "an operator unpersisted the caller's input")
    docs.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty, "an operator left a cache behind")
  }

  test("madOutliers materialization contract: derived-uncached inputs are flagged") {
    // madOutliers deliberately does NOT materialize its input (a pruned
    // raw-table re-scan measured cheaper than any cache at sf0.1), which
    // pushes the persist duty to callers feeding EXPENSIVELY DERIVED
    // frames — the guard predicate is what turns that doc'd contract
    // into a loud warning instead of a silent triple-run of the
    // caller's join. Pin the predicate's decisions on all four shapes.
    val a = (1 to 50).map(i => (i.toLong, "g", 10.0 + i)).toDF("id", "g", "v")
    val b = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("id", "w")
    // bare scan-ish input (local relation, projection only): not flagged
    assert(!Quantiles.expensiveUncachedInput(a.select("g", "v")))
    // derived (join upstream), uncached: flagged
    val joined = a.join(b, "id").select(col("g"), (col("v") + col("w")).as("v"))
    assert(Quantiles.expensiveUncachedInput(joined))
    // same derivation, persisted: cleared (the caller did their duty)
    val cached = joined.persist()
    try {
      cached.count()
      assert(!Quantiles.expensiveUncachedInput(cached))
    } finally cached.unpersist()
    // Checkpoints.cut output is a leaf: cleared
    assert(!Quantiles.expensiveUncachedInput(graft.core.Checkpoints.cut(joined)))
  }

  test("linearFit: exact line recovered; degenerate x → NULLs") {
    val pts = (1 to 500).map(i => ("g", i.toLong, 3L * i + 700)) ++
      Seq(("flat", 5L, 1L), ("flat", 5L, 9L)) // zero x-variance
    val df = pts.toDF("g", "x", "y")
    val r = Validation.linearFit(df, "g", col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(r("g").getDouble(2) == 3.0 && r("g").getDouble(3) == 700.0)
    assert(r("g").getDouble(4) == 1.0)
    assert(r("flat").isNullAt(2) && r("flat").isNullAt(3) && r("flat").isNullAt(4))
  }

  test("curriculumInterleave: positions cycle sources, counts preserved") {
    val docs = ((1 to 9).map(i => (i.toLong, "a")) ++
      (10 to 18).map(i => (i.toLong, "b")) ++
      (19 to 21).map(i => (i.toLong, "c"))).toDF("id", "src")
    val got = Sampling.curriculumInterleave(docs, "src", "id")
      .orderBy("pos").select("src", "pos").as[(String, Long)].collect()
    assert(got.length == 21 && got.map(_._2).distinct.length == 21)
    // while all sources are live (first 3 rounds = 9 rows), no repeats
    // within a round-robin cycle of 3
    got.take(9).grouped(3).foreach { cyc =>
      assert(cyc.map(_._1).distinct.length == 3, s"cycle $cyc")
    }
    // source c exhausts after 3 cycles; a and b keep alternating
    assert(got.count(_._1 == "a") == 9 && got.count(_._1 == "c") == 3)
  }

  test("cooccurrencePairs: supports, lift, and the mega-basket cap") {
    val memb = Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), // {10,20} twice
      (3L, 10L), (3L, 30L),                       // {10,30} once
      (4L, 40L), (4L, 40L), (4L, 50L)             // dup membership collapses
    ).toDF("b", "i")
    val got = Association.cooccurrencePairs(memb, "b", "i", minSupport = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    // only (10,20) reaches support 2; lift = 4·2/(3·2) = 1.333333
    assert(got == Seq((10L, 20L, 2L, 3L, 2L, 1.333333)))
    // mega-basket dropped: with maxBasket=1 nothing pairs
    assert(Association.cooccurrencePairs(memb, "b", "i", 1, maxBasket = 1)
      .count() == 0)
  }

  test("cooccurrencePairs: null memberships count toward nothing (the " +
    "round-12 contract, pinned)") {
    // baskets 1 and 2 are {10,20}; basket 3 holds ONLY a null membership.
    // The null item must not reach basket size, the item table, or the
    // pair supports — but basket 3 itself still exists (empty item set)
    // and counts toward n_baskets, exactly as the size<=cap spelling
    // behaved. See Association.basketItems' contract note.
    val memb = Seq(
      (1L, Some(10L)), (1L, Some(20L)), (1L, None),
      (2L, Some(10L)), (2L, Some(20L)),
      (3L, None)
    ).toDF("b", "i")
    val got = Association.cooccurrencePairs(memb, "b", "i", minSupport = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    // support 2, cnt_10 = cnt_20 = 2, n_baskets = 3 (basket 3 counted,
    // its null item not): lift = 3·2/(2·2) = 1.5 — a null-dropping
    // regression on n_baskets would read 1.0 here
    assert(got == Seq((10L, 20L, 2L, 2L, 2L, 1.5)))
    // null items do not advance the basket-size cap either: {10,20,null}
    // at maxBasket=2 must survive
    assert(Association.cooccurrencePairs(memb, "b", "i", 2, maxBasket = 2)
      .count() == 1)
  }

  test("CappedCollectSet: per-group state bounded by the cap on every path") {
    import org.apache.spark.sql.graftglue.ColumnGlue
    def capped(c: org.apache.spark.sql.Column, cap: Int) =
      ColumnGlue.column(graft.plans.CappedCollectSet(
        ColumnGlue.expression(c), cap).toAggregateExpression())
    // over-cap group → NULL (the marker basketItems filters on); the
    // 8-partition repartition forces partial buffers through
    // serialize/merge, so the overflow must survive the exchange
    val wide = (1 to 50).map(i => ("g", i.toLong)).toDF("g", "v").repartition(8)
    val r1 = wide.groupBy("g").agg(capped(col("v"), 49).as("s"))
      .select(col("s")).collect()
    assert(r1.head.isNullAt(0), "50 distinct values over a cap of 49 → null")
    // exactly-at-cap group survives with the full set
    val r2 = wide.groupBy("g").agg(capped(col("v"), 50).as("s"))
      .select(explode(col("s")).as("v")).as[Long].collect().sorted
    assert(r2.toSeq == (1L to 50L))
    // duplicates never advance the cap (distinct semantics)
    val dup = (1 to 100).map(_ => ("g", 7L)).toDF("g", "v").repartition(8)
    val r3 = dup.groupBy("g").agg(capped(col("v"), 1).as("s"))
      .select(col("s")).as[Seq[Long]].head()
    assert(r3 == Seq(7L))
    // string elements: UTF8String values must be COPIED out of the scan's
    // reused row buffer — aliasing would corrupt the set's contents
    val strs = (1 to 30).map(i => ("g", f"val_$i%03d")).toDF("g", "v").repartition(8)
    val r4 = strs.groupBy("g").agg(capped(col("v"), 30).as("s"))
      .select(explode(col("s")).as("v")).as[String].collect().sorted
    assert(r4.toSeq == (1 to 30).map(i => f"val_$i%03d"))
    // nulls dropped, like collect_set: a group of only nulls is EMPTY,
    // not null — distinguishable from overflow by construction
    val nulls = Seq(("g", None: Option[Long]), ("g", None)).toDF("g", "v")
    val r5 = nulls.groupBy("g").agg(capped(col("v"), 1).as("s"))
      .select(col("s")).as[Seq[Long]].head()
    assert(r5 == Seq.empty)
  }

  test("timeDecayScore: half-life weights, sorted fold, cents-exact") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val t7 = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val df = Seq((1L, t0, 100L, 40.0), (1L, t7, 101L, 40.0))
      .toDF("u", "ts", "eid", "v")
    val r = Rolling.timeDecayScore(df, "u", "ts", "eid", "v", 7.0)
      .as[(Long, Long, Double)].head()
    assert(r == ((1L, 2L, 60.0))) // 40 + 0.5·40
  }

  test("sequentialRules: directional counts, gap cut, complete denominators") {
    val t0 = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      (1L, ts(t0), 1L, 10), (1L, ts(t0 + 60), 2L, 20),     // 10->20
      (1L, ts(t0 + 120), 3L, 10), (1L, ts(t0 + 180), 4L, 20), // 20->10, 10->20
      (1L, ts(t0 + 9999), 5L, 30),                         // gap: no 20->30
      (2L, ts(t0), 6L, 10), (2L, ts(t0 + 10), 7L, 20)      // 10->20
    ).toDF("u", "ts", "eid", "item")
    val got = Association.sequentialRules(ev, "u", "ts", "eid", "item",
        maxGapSec = 1800, minSupport = 2)
      .as[(Int, Int, Long, Long, Double)].collect().toSet
    // 10->20 three times; 20->10 once (below support, but still counted
    // in 20's denominator had it passed — here only 10->20 survives)
    assert(got == Set((10, 20, 3L, 3L, 1.0)))
  }

  test("halfLangs flags glued bilingual text, agrees on monolingual") {
    val docs = Seq(
      (1L, "the of is that it with " * 3 + "der die und das ist nicht " * 3),
      (2L, "the of is that it with " * 6)).toDF("id", "text")
    val (h, t) = TextAnalysis.halfLangs(col("text"))
    val got = docs.select(col("id"), h.as("a"), t.as("b"))
      .as[(Long, String, String)].collect()
      .map { case (i, a, b) => i -> ((a, b)) }.toMap
    assert(got(1L) == (("en", "de")))
    assert(got(2L) == (("en", "en")))
  }

  test("labelCentroidCosines: identical classes cos 1, orthogonal cos 0") {
    val rows = Seq(
      ("a", 1L, Seq(1.0f, 0.0f)), ("a", 2L, Seq(1.0f, 0.0f)),
      ("b", 3L, Seq(1.0f, 0.0f)),                     // same centroid as a
      ("c", 4L, Seq(0.0f, 2.0f))                      // orthogonal
    ).toDF("lbl0", "id", "vec")
    val m = Similarity.labelCentroidCosines(rows, "lbl0", "id", "vec")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(m(("a", "b")) == 1.0 && m(("a", "c")) == 0.0 && m(("b", "c")) == 0.0)
  }

  test("hilbertValueExpr: bijection on the grid, unit-step locality") {
    val bits = 3
    val pts = for (x <- 0 until 8; y <- 0 until 8) yield (x, y)
    val got = pts.toDF("x", "y")
      .withColumn("d", Layout.hilbertValueExpr("x", "y", bits))
      .select("x", "y", "d").as[(Int, Int, Long)].collect()
    val byD = got.map { case (x, y, dd) => dd -> ((x, y)) }.toMap
    assert(byD.keySet == (0L until 64L).toSet) // a true space-filling bijection
    (0L until 63L).foreach { dd =>
      val (x1, y1) = byD(dd); val (x2, y2) = byD(dd + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumps between d=$dd and ${dd + 1}") // z-order fails this
    }
  }

  test("psiByGroup: window matching its baseline ~0, shifted window large") {
    // two windows of type 'a': w1 mass in bin 0, w2 mass in bin 9;
    // baseline = pooled — both windows drift from it equally; a third
    // window with the pooled shape sits near zero
    val counts = Seq(
      (1L, "a", 0, 100L), (2L, "a", 9, 100L),
      (3L, "a", 0, 50L), (3L, "a", 9, 50L)).toDF("win", "typ", "bin", "cnt")
    val got = Validation.psiByGroup(counts, Seq("win", "typ"), Seq("typ"),
        "bin", "cnt", bins = 10)
      .orderBy("win").select("win", "psi").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got(0)._2 > 0.25 && got(1)._2 > 0.25, s"drifted windows $got")
    // Laplace smoothing contributes ~0.003/empty-bin at n=100: "stable"
    // reads as well under the 0.1 industry line, not literally zero
    assert(math.abs(got(2)._2) < 0.05, s"baseline-shaped window ${got(2)}")
  }

  test("psiByGroup: window-total spelling matches the join/aggregate " +
    "spelling bit-for-bit under unequal groups-per-base") {
    // typ 'a' has 3 windows, 'b' has 2: the groups-per-base integer
    // division (count(*) div bins) must recover each base's true pooled
    // total exactly even when bases differ in group count
    val counts = Seq(
      (1L, "a", 0, 7L), (1L, "a", 3, 5L), (2L, "a", 1, 11L),
      (3L, "a", 2, 2L), (3L, "a", 3, 9L),
      (10L, "b", 0, 100L), (11L, "b", 4, 3L))
      .toDF("win", "typ", "bin", "cnt")
    val bins = 5
    val got = Validation.psiByGroup(counts, Seq("win", "typ"), Seq("typ"),
      "bin", "cnt", bins)
    // independent reference: the aggregate+broadcast-join spelling the
    // operator used before the totals moved onto windows
    val grid = counts.select("win", "typ").distinct()
      .crossJoin(spark.range(bins.toLong).select(col("id").cast("int").as("bin")))
    val cur = grid.join(counts.select(col("win"), col("typ"), col("bin"),
        col("cnt").as("__c")), Seq("win", "typ", "bin"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val base = counts.groupBy("typ", "bin").agg(sum("cnt").as("__bc"))
    val wb = cur.join(base, Seq("typ", "bin"), "left")
      .withColumn("__bc", coalesce(col("__bc"), lit(0L)))
    val tGrp = wb.groupBy("win", "typ").agg(sum("__c").as("__tg"))
    val tBase = wb.select("typ", "bin", "__bc").distinct()
      .groupBy("typ").agg(sum("__bc").as("__tb"))
    val p = (col("__c").cast("double") + lit(0.5)) /
      (col("__tg").cast("double") + lit(bins * 0.5))
    val q = (col("__bc").cast("double") + lit(0.5)) /
      (col("__tb").cast("double") + lit(bins * 0.5))
    val ref = wb.join(tGrp, Seq("win", "typ")).join(tBase, Seq("typ"))
      .withColumn("__tm", round((p - q) * log(p / q) * 1e6, 0).cast("long"))
      .groupBy("win", "typ")
      .agg(first(col("__tg")).as("n"), round(sum("__tm") / 1e6, 6).as("psi"))
    val a = got.orderBy("win").collect().toSeq.map(_.toSeq)
    val b = ref.orderBy("win").collect().toSeq.map(_.toSeq)
    assert(a == b, s"window spelling $a vs join spelling $b")
  }

  test("calibrationBins: clamped fixed grid, per-bin positive rates") {
    val rows = Seq((-99.0, false), (0.1, false), (0.1, true), (0.6, true),
      (99.0, true))
    val got = Scoring.calibrationBins(rows.toDF("s", "y"), "s", "y",
        lo = 0.0, hi = 1.0, bins = 2)
      .orderBy("bin").as[(Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0, 3L, 1L, 0.333333), (1, 2L, 2L, 1.0)))
  }

  test("classificationReport: confusion counts and F1 by hand") {
    val rows = Seq(("g", true, true), ("g", true, false), ("g", false, true),
      ("g", false, false), ("g", true, true))
    val r = Scoring.classificationReport(rows.toDF("g", "p", "y"), "g", "p", "y")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)].head()
    assert(r == (("g", 2L, 1L, 1L, 1L, 0.666667, 0.666667, 0.666667)))
  }

  test("overlapAtK: intersection, jaccard, one-sided queries surface") {
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 30L, 1)).toDF("query_id", "doc_id", "rnk")
    val b = Seq((1L, 20L, 1), (1L, 40L, 2), (3L, 50L, 1)).toDF("query_id", "doc_id", "rnk")
    val got = Similarity.overlapAtK(a, b, k = 2)
      .orderBy("query_id")
      .as[(Long, Long, Long, Long, Double, Option[Double])].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1L, 0.5, Some(0.333333)),
      (2L, 1L, 0L, 0L, 0.0, Some(0.0)),
      (3L, 0L, 1L, 0L, 0.0, Some(0.0))))
  }

  test("aucByGroup: separable=1, inverted=0, ties=0.5, one-class=NULL") {
    val rows = Seq(
      ("sep", 1.0, true), ("sep", 2.0, true), ("sep", -1.0, false),
      ("inv", -5.0, true), ("inv", 1.0, false), ("inv", 2.0, false),
      ("tie", 3.0, true), ("tie", 3.0, false), ("tie", 3.0, true),
      ("one", 1.0, true), ("one", 2.0, true))
    val got = Scoring.aucByGroup(rows.toDF("g", "s", "y"), "g", "s", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got("sep") == Some(1.0) && got("inv") == Some(0.0))
    assert(got("tie") == Some(0.5) && got("one") == None)
  }

  test("kCorePeel: triangle survives k=2, tails peel, k=3 empties it") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    // small graph → round-13 driver peel fast path…
    val core2 = Graphs.kCorePeel(edges, "u", "v", k = 2, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(Graphs.kCorePeel(edges, "u", "v", k = 3, rounds = 6).count() == 0)
    // …which must agree exactly with the distributed peel loop,
    // including the rounds cap (1 round peels the 5-tail but not the
    // 4-tail it exposes — a partial result both paths must share)
    spark.conf.set("spark.graft.graphDriverMaxEdges", "0")
    try {
      val dist2 = Graphs.kCorePeel(edges, "u", "v", k = 2, rounds = 6)
        .as[(Long, Long)].collect().toMap
      assert(dist2 == core2, "driver and distributed peels must agree")
      val distCap = Graphs.kCorePeel(edges, "u", "v", k = 2, rounds = 1)
        .as[(Long, Long)].collect().toMap
      spark.conf.unset("spark.graft.graphDriverMaxEdges")
      val drvCap = Graphs.kCorePeel(edges, "u", "v", k = 2, rounds = 1)
        .as[(Long, Long)].collect().toMap
      assert(drvCap == distCap, "the rounds cap must bind identically: " +
        s"driver $drvCap vs distributed $distCap")
    } finally spark.conf.unset("spark.graft.graphDriverMaxEdges")
  }

  test("bpeMerges equals an in-memory reference trainer (Sennrich corpus)") {
    // papa/aaaa force back-to-back repeats of a winning pair inside one
    // word — the case where a shared-delimiter replace would skip every
    // second occurrence and diverge from symbol-level greedy BPE
    val wordFreq = Seq("low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3,
      "papa" -> 7, "aaaa" -> 4)
    // reference: greedy BPE with (count desc, left, right) tie-break and
    // left-to-right non-overlapping application
    var reps = wordFreq.map { case (w, f) => (w.map(_.toString).toList, f.toLong) }
    val expect = scala.collection.mutable
      .ArrayBuffer[(Int, String, String, String, Long, Long)]()
    for (step <- 1 to 6) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      reps.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f) }
      val ((a, b), cnt) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      reps = reps.map { case (syms, f) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toList, f)
      }
      val nSyms = reps.map { case (syms, f) => syms.length * f }.sum
      expect += ((step, a, b, a + b, cnt, nSyms))
    }
    val docs = wordFreq.flatMap { case (w, f) => Seq.fill(f)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    // batch = 1 is per-merge greedy BPE: one merge per round
    val rows = TextAnalysis.bpeMerges(docs, "text", nMerges = 6, batch = 1)
      .orderBy("step")
      .select("step", "round", "left", "right", "merged", "pair_freq",
        "symbols_after")
      .as[(Int, Int, String, String, String, Long, Long)].collect().toSeq
    assert(rows.map(_._2) == (1 to 6), s"one merge per round: $rows")
    assert(rows.map { case (st, _, a, b, m, f, n) => (st, a, b, m, f, n) } ==
      expect.toSeq, s"got $rows\nwant $expect")
  }

  test("bpeMerges: rounds hold the batch bound and picks are compatible") {
    // enough distinct pair mass that every round fills its batch: the
    // whole lowercase corpus of q203's shape in miniature
    val docs = (0 until 400).map { i =>
      (i.toLong, s"lower newest widest paper stone brick cloud ${i % 7}g")
    }.toDF("id", "text")
    val got = TextAnalysis.bpeMerges(docs, "text",
        nMerges = 12, batch = 4)
      .select("step", "round", "left", "right", "pair_freq")
      .as[(Int, Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got.size == 12, s"wanted 12 merges, got ${got.size}")
    assert(got.map(_._2).max <= 3, s"12 merges must fit 3 rounds: $got")
    // within a round: no two picks share a symbol (incl. merged strings),
    // and pick order follows (freq desc, left, right)
    got.groupBy(_._2).foreach { case (_, picks) =>
      val symSets = picks.sortBy(_._1)
        .map(p => Set(p._3, p._4, p._3 + p._4))
      for (i <- symSets.indices; j <- 0 until i)
        assert((symSets(i) & symSets(j)).isEmpty,
          s"round shares symbols: ${symSets(j)} vs ${symSets(i)}")
      val freqs = picks.sortBy(_._1).map(_._5)
      assert(freqs == freqs.sorted.reverse, s"picks out of freq order: $picks")
    }
  }

  test("weightedReservoirPerGroup: exact k, heavy weights dominate") {
    val rows = (1 to 200).map(i => ("g", i.toLong, 1.0)) :+ (("g", 999L, 1e9))
    val got = Sampling.weightedReservoirPerGroup(
        rows.toDF("src", "id", "w"), "src", "id", "w", k = 5)
      .select("id").as[Long].collect().toSet
    assert(got.size == 5 && got.contains(999L), s"sample $got")
    // determinism: rerun picks the identical sample
    val again = Sampling.weightedReservoirPerGroup(
        rows.toDF("src", "id", "w"), "src", "id", "w", k = 5)
      .select("id").as[Long].collect().toSet
    assert(again == got)
  }

  test("weightedReservoirPerGroup: w <= 0 and NULL rows are ineligible") {
    // w=0 would key at Inf (or NaN at u=1) and w<0 would INVERT the
    // order — both filtered, never sampled, and the survivors fill k
    val rows = Seq(("g", 1L, Some(2.0)), ("g", 2L, Some(0.0)),
      ("g", 3L, Some(-4.0)), ("g", 4L, None), ("g", 5L, Some(1.0)))
    val got = Sampling.weightedReservoirPerGroup(
        rows.toDF("src", "id", "w"), "src", "id", "w", k = 3)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 5L), s"sample $got")
  }

  test("aucByGroup: NULL labels never occupy ranks") {
    // the null-labeled middle score would otherwise shift the positive's
    // rank-sum without entering n_pos/n_neg — AUC must equal the version
    // with the row absent (here: perfectly separable = 1.0)
    val rows = Seq(("g", 1.0, Some(false)), ("g", 2.0, None),
      ("g", 3.0, Some(true)))
    val got = Scoring.aucByGroup(rows.toDF("g", "s", "y"), "g", "s", "y")
      .select("n_pos", "n_neg", "auc")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 1.0)), s"got $got")
  }

  test("qualityPercentileFilter: a singleton group keeps its only doc") {
    // SQL percent_rank gives a 1-row partition 0, which would DROP the
    // group's only (best) doc at any keepFrac < 1 — singletons pin to 1.0
    val docs = Seq((1L, "en", "the quick brown fox and the lazy dog again"),
      (2L, "en", "xx"), (3L, "solo", "a single document for this group"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.qualityPercentileFilter(
        docs, "doc_id", "text", "lang", keepFrac = 0.25)
      .select("doc_id", "pr", "kept")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(3L) == ((1.0, true)), s"singleton got ${got(3L)}")
    // the 2-doc group still gates by percent_rank: best kept, worst not
    assert(got(1L)._2 && !got(2L)._2, s"got $got")
  }

  test("dHash63: monotone ramps saturate, one-pixel edits flip <= 2 bits") {
    val asc = (0 until 72).map(i => i)            // every right neighbor bigger
    val desc = (0 until 72).map(i => 72 - i)
    val onePx = asc.updated(40, -5)               // pixel 40: affects bits near it
    val df = Seq((1L, asc), (2L, desc), (3L, onePx)).toDF("id", "px")
    val fp = df.select(col("id"),
        Multimodal.dHash63(col("px")).as("fp")).as[(Long, Long)].collect().toMap
    assert(fp(1L) == (1L << 63) - 1) // 63 ones
    assert(fp(2L) == 0L)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 2 &&
      fp(1L) != fp(3L))
  }

  test("kwicSnippets: centered window, clamped at both edges") {
    val df = Seq((1L, "The x y z the w"), (2L, "no match here")).toDF("id", "t")
    val got = TextAnalysis.kwicSnippets(df, "id", "t", "the", window = 2)
      .orderBy("pos").as[(Long, Int, String)].collect().toSeq
    assert(got == Seq((1L, 1, "the x y"), (1L, 5, "y z the w")))
  }

  test("zipfFit recovers a constructed power law") {
    // counts ~ 1000/rank → ln cnt = ln 1000 − 1·ln rank: slope −1, r2 ~1
    val text = (1 to 50).flatMap { r =>
      Seq.fill(math.max(1000 / r, 1))(s"w$r") }.mkString(" ")
    val got = TextAnalysis.zipfFit(Seq(("en", text)).toDF("lang", "text"),
        "lang", "text", topN = 40)
      .select("slope", "r2").as[(Double, Double)].head()
    assert(math.abs(got._1 + 1.0) < 0.05, s"slope ${got._1}")
    assert(got._2 > 0.99, s"r2 ${got._2}")
  }

  test("psiDrift: identical distributions ~0, shifted distribution large") {
    val a = (1 to 1000).map(i => ("x", (i % 10) * 10.0 + 5)).toDF("k", "v")
    val b = (1 to 1000).map(i => ("x", (i % 10) * 10.0 + 55)).toDF("k", "v")
    def psi(o: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.DataFrame) =
      Validation.psiDrift(o, n, col("v"), col("v"), 0.0, 200.0, 20)
        .agg(sum("term_micro")).as[Long].head() / 1e6
    assert(psi(a, a) == 0.0)
    assert(psi(a, b) > 0.25, s"shifted psi ${psi(a, b)}")
  }

  test("rrfFuse: doc ranked well by both lists beats single-list winners") {
    val r1 = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3)).toDF("query_id", "doc_id", "rnk")
    val r2 = Seq((1L, 40L, 1), (1L, 20L, 2), (1L, 30L, 4)).toDF("query_id", "doc_id", "rnk")
    val got = Similarity.rrfFuse(Seq(r1, r2), kConst = 60, topK = 10)
      .orderBy("fused_rank")
      .select("doc_id", "n_lists", "fused_rank").as[(Long, Long, Int)].collect()
    // doc 20: 1/62+1/62 ≈ .03226 beats docs 10/40 (1/61 ≈ .0164)
    assert(got.head == ((20L, 2L, 1)))
    assert(got.map(_._1).toSet == Set(10L, 20L, 30L, 40L))
  }

  test("qualityPercentileFilter keeps the top fraction per group") {
    // two groups with different score ranges: absolute cutoff would keep
    // only group a; the percentile gate keeps top half of EACH
    val docs = (1 to 8).map(i => (i.toLong, "a",
        ("token " * (i * 6)).trim)) ++   // increasing length → rising score
      (9 to 16).map(i => (i.toLong, "b", ("x " * (i - 8)).trim))
    val got = TextAnalysis.qualityPercentileFilter(
        docs.toDF("id", "grp0", "text"), "id", "text", "grp0", keepFrac = 0.5)
    val kept = got.where(col("kept")).groupBy("grp")
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(kept == Map("a" -> 4L, "b" -> 4L), s"got $kept")
    // kept docs are the top-scored ones within their group
    val aKept = got.where(col("kept") && col("grp") === "a")
      .select("id").as[Long].collect().toSet
    assert(aKept == Set(5L, 6L, 7L, 8L))
  }
}
