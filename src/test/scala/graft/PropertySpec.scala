package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.{Money, TextClean, ThaiDates, OcrRepair}

/** Parser-totality property tests (SURVEY.md §5): every cleansing function
  * must be total — arbitrary garbage in, null-or-valid out, never a throw.
  * Batched: generate a corpus of hostile strings, run each parser over the
  * whole corpus in one Spark job, assert row-level invariants. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val hostile: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf("ä", "−", "–", "​", " ", "(", ")", ",", ".", "-",
      "๕", "ก", "/", ":", "%", "0", "1", "9", "O", "I", "l")).map(_.mkString),
    Gen.numStr,
    Gen.const(null: String))

  private def corpus(n: Int): Seq[String] =
    Gen.listOfN(n, hostile).sample.getOrElse(Seq.fill(n)("x"))

  test("money parsers are total and emit finite doubles or null") {
    val df = (corpus(500) :+ "1,2,3,4.5.6" :+ "((()))" :+ "--..")
      .toDF("raw")
      .select(
        Money.parseAmount(col("raw")).as("a"),
        Money.parseAmountRobust(col("raw")).as("b"),
        Money.parseAmountMultiSep(col("raw")).as("c"),
        Money.dashToZeroTotal(col("raw")).as("d"))
    df.collect().foreach { r =>
      Seq(0, 1, 2).foreach { i =>
        if (!r.isNullAt(i)) assert(!r.getDouble(i).isNaN && !r.getDouble(i).isInfinite)
      }
      assert(!r.isNullAt(3)) // zero-fill policy is never null
    }
  }

  test("date parsers are total: null or a real date") {
    val df = (corpus(500) :+ "99/99/9999" :+ "0/0/0" :+ "2568-99-99")
      .toDF("raw")
      .select(
        ThaiDates.parseFlexibleDate(col("raw")).as("d"),
        ThaiDates.parseFlexibleTimestamp(col("raw")).as("t"),
        ThaiDates.parseUsDate(col("raw")).as("u"))
    // collect forces evaluation; invalid components must surface as null,
    // parseable ones as genuine dates — no exceptions either way
    val rows = df.collect()
    assert(rows.length == 503)
  }

  test("string repair is total and idempotent where it claims to be") {
    val df = corpus(300).toDF("raw")
      .select(col("raw"),
        TextClean.normalizeTaxId(col("raw")).as("tax"),
        OcrRepair.normalizeBranchCode(col("raw")).as("br"),
        OcrRepair.normalizeDocRef(col("raw")).as("ref"))
    df.collect().foreach { r =>
      if (!r.isNullAt(1)) assert(r.getString(1).matches("\\d{13}"))
    }
    // idempotence of branch normalization: f(f(x)) == f(x)
    val twice = corpus(300).toDF("raw")
      .select(OcrRepair.normalizeBranchCode(col("raw")).as("once"))
      .select(col("once"),
        OcrRepair.normalizeBranchCode(col("once")).as("twice"))
    twice.collect().foreach { r =>
      assert(r.getString(0) == r.getString(1))
    }
  }

  test("jaccard stays in [0,1]; simhash is deterministic") {
    val texts = corpus(100).filter(_ != null).filter(_.trim.nonEmpty)
    if (texts.nonEmpty) {
      val df = texts.toDF("t")
      val fp1 = df.select(graft.operators.Dedup.simhash64(col("t"))).collect()
      val fp2 = df.select(graft.operators.Dedup.simhash64(col("t"))).collect()
      assert(fp1.map(_.getLong(0)).toSeq == fp2.map(_.getLong(0)).toSeq)
    }
    import graft.plans.VectorExpressions
    val j = Seq((Array(1L, 2L, 3L), Array(2L, 3L, 9L))).toDF("a", "b")
      .select(VectorExpressions.jaccardSorted(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(j == 0.5)
  }

  test("sumExactD equals the exact rational cent-sum, independent of partitioning") {
    import graft.functions.Numeric
    // random money-ish doubles; the exact expectation is the integer cent
    // sum done in BigDecimal from the same double-domain rounding
    val amounts = Gen.listOfN(400,
      Gen.chooseNum(-99999999L, 99999999L).map(_ / 100.0 + 0.001))
      .sample.getOrElse(Seq.fill(400)(1.23))
    val wantCents = amounts.map(a => math.round(a * 100)).sum
    Seq(1, 7, 32).foreach { parts =>
      val got = amounts.toDF("v").repartition(parts)
        .agg(Numeric.sumExactD(col("v"), 2).as("s"))
        .collect()(0).getDouble(0)
      assert(got == wantCents.toDouble / 100,
        s"parts=$parts got=$got want=${wantCents.toDouble / 100}")
    }
  }

  test("packBins invariants hold on random token distributions") {
    import graft.operators.Packing
    val sizes = Gen.listOfN(400, Gen.chooseNum(0L, 900L)).sample
      .getOrElse(Seq.fill(400)(10L))
    val budget = 2000L
    val df = sizes.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val got = Packing.packBins(df, "id", "t", budget, numPartitions = 5)
      .orderBy("id").select("id", "t", "bin_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bins are contiguous and nondecreasing in id order
    assert(got.sliding(2).forall { case Array(a, b) =>
      b._3 == a._3 || b._3 > a._3; case _ => true })
    // every bin except possibly the last holds < budget + its overflow doc:
    // total tokens strictly before a bin's first doc is bin_id * budget ±
    // the defining prefix identity — check it directly
    var prefix = 0L
    got.foreach { case (_, t, bin) =>
      assert(bin == prefix / budget, s"prefix $prefix expected bin ${prefix / budget}, got $bin")
      prefix += t
    }
  }

  test("quantizeD is total and idempotent at its scale") {
    import graft.functions.Numeric
    val vals = Gen.listOfN(300, Gen.chooseNum(-1e9, 1e9)).sample
      .getOrElse(Seq.fill(300)(0.0))
    val rows = vals.toDF("v")
      .select(Numeric.quantizeD(col("v"), 2).as("q1"))
      .select(col("q1"), Numeric.quantizeD(col("q1"), 2).as("q2"))
      .collect()
    rows.foreach { r =>
      assert(!r.getDouble(0).isNaN && r.getDouble(0) == r.getDouble(1))
    }
  }

  test("repStats invariants hold on hostile text") {
    import graft.plans.StringExpressions.repStats
    import org.apache.spark.unsafe.types.UTF8String
    (corpus(400) :+ " " :+ "" :+ "a" :+ "\t\n" :+ "a a a a a").foreach { s0 =>
      val s = if (s0 == null) "" else s0
      val Array(nTok, nDist, maxTok, maxBi) = repStats(UTF8String.fromString(s)).toLongArray
      assert(nDist <= nTok, s"distinct > total on ${s.take(40)}")
      assert(maxTok <= nTok && (nTok == 0 || maxTok >= 1))
      assert(maxBi <= math.max(nTok - 1, 0))
      assert((nTok == 0) == (nDist == 0))
      // distinct tokens × max count bounds total tokens
      assert(nDist * maxTok >= nTok)
    }
  }

  test("scd2 versions partition each key's timeline without overlap") {
    val gen = Gen.listOfN(120, for {
      k <- Gen.chooseNum(1L, 8L)
      t <- Gen.chooseNum(1L, 40L)
      a <- Gen.oneOf("p", "q", "r", null)
    } yield (k, t, a))
    // one snapshot per (key, ts): scd2's order within equal timestamps is
    // undefined, like any snapshot feed
    val snaps = gen.sample.getOrElse(Nil)
      .groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
    val df = snaps.toDF("k", "t", "attr")
    val hist = operators.Merge.scd2(df, "k", "t", Seq("attr"))
      .select("k", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect()
    hist.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_._2)
      // exactly one open (current) version per key, and it is the last
      assert(sorted.count(_._4) == 1 && sorted.last._4)
      // contiguous, non-overlapping: each valid_to equals the next from
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3.contains(b._2))
        case _ =>
      }
    }
  }

  test("portable minhash signature laws: range, determinism, containment monotonicity") {
    import graft.plans.VectorExpressions
    val P = 2147483647L
    val words = Gen.listOfN(40,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
        "theta", "iota", "kappa", "lambda", "mu"))
    val cases = (1 to 8).flatMap { _ =>
      for (a <- words.sample; b <- words.sample if a.length >= 3)
        yield (a, b)
    }
    assert(cases.nonEmpty)
    cases.foreach { case (a, b) =>
      val sigs = Seq((1L, a.mkString(" ")), (2L, a.mkString(" ")),
        (3L, (a ++ b).mkString(" "))).toDF("id", "text")
        .withColumn("toks", graft.operators.Dedup.tokens(col("text")))
        .withColumn("sig", VectorExpressions.minhashSigPortable(col("toks"), 3, 16))
        .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
      // every slot value sits in [0, p); k slots exactly
      assert(sigs(1L).length == 16 && sigs(1L).forall(v => v >= 0 && v < P))
      // identical text → identical signature (the index contract)
      assert(sigs(1L) == sigs(2L))
      // superset grams can only LOWER each slot min (monotonicity — the
      // property that makes est-jaccard of a doc vs its extension high)
      assert(sigs(1L).zip(sigs(3L)).forall { case (s1, s3) => s3 <= s1 })
    }
  }

  test("sketch merge laws hold on random value sets") {
    import graft.operators.Sketches
    val vals = Gen.listOfN(400, Gen.chooseNum(0, 5000))
      .sample.getOrElse((1 to 400).toList).map(i => ("g", s"v$i"))
    val df = vals.toDF("g", "v")
    // multiset-exact 3-way shard (except/limit would dedup or reorder)
    val wi = vals.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
      .toDF("g", "v", "i")
    val (a, b, c) = (wi.where(col("i") % 3 === 0), wi.where(col("i") % 3 === 1),
      wi.where(col("i") % 3 === 2))
    // KMV: merge(merge(a,b),c) == merge(a,merge(b,c)) == sketch(whole),
    // regardless of how the data was sharded (associativity + identity)
    def kmv(x: org.apache.spark.sql.DataFrame) =
      Sketches.kmvSketches(x, Seq("g"), "v", k = 64)
        .select("kmv").as[Seq[Long]].head()
    def mrg(x: Seq[Long], y: Seq[Long]) = (x ++ y).distinct.sorted.take(64)
    val whole = kmv(df)
    assert(mrg(mrg(kmv(a), kmv(b)), kmv(c)) == whole)
    assert(mrg(kmv(a), mrg(kmv(b), kmv(c))) == whole)
    // HLL: register-max merge of shards == registers of the whole
    val regs = (x: org.apache.spark.sql.DataFrame) =>
      Sketches.hllRegisters(x, Seq("g"), "v")
    val hMerged = regs(a).unionByName(regs(b)).unionByName(regs(c))
      .groupBy("g", "idx").agg(max("rho").cast("int").as("rho"))
      .orderBy("idx").as[(String, Long, Int)].collect().toSeq
    assert(hMerged == regs(df).orderBy("idx").as[(String, Long, Int)].collect().toSeq)
    // CMS: counter-sum merge of shards == counters of the whole
    val cms = (x: org.apache.spark.sql.DataFrame) =>
      Sketches.cmsCounters(x, Seq("g"), "v", depth = 2, width = 64)
    val cMerged = cms(a).unionByName(cms(b)).unionByName(cms(c))
      .groupBy("g", "row", "bucket").agg(sum("cnt").as("cnt"))
      .orderBy("row", "bucket").as[(String, Int, Long, Long)].collect().toSeq
    assert(cMerged == cms(df).orderBy("row", "bucket")
      .as[(String, Int, Long, Long)].collect().toSeq)
  }

  test("intervalOverlapJoin equals nested-loop on random intervals") {
    val gen = Gen.listOfN(60, for {
      lo <- Gen.chooseNum(0, 200)
      len <- Gen.chooseNum(0, 30)
    } yield (lo.toDouble, (lo + len).toDouble))
    val as = gen.sample.getOrElse(Nil).zipWithIndex
      .map { case ((l, h), i) => (s"a$i", l, h) }.toDF("an", "alo", "ahi")
    val bs = gen.sample.getOrElse(Nil).zipWithIndex
      .map { case ((l, h), i) => (s"b$i", l, h) }.toDF("bn", "blo", "bhi")
    val got = operators.RangeJoin
      .intervalOverlapJoin(as, "alo", "ahi", bs, "blo", "bhi", step = 16.0)
      .select("an", "bn").as[(String, String)].collect().sorted.toSeq
    val want = as.join(bs, col("alo") < col("bhi") && col("blo") < col("ahi"))
      .select("an", "bn").as[(String, String)].collect().sorted.toSeq
    assert(got == want)
  }

  test("linkPairsPrefixFilter is complete on random corpora at random thresholds") {
    val word = Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString)
    val name = Gen.chooseNum(2, 6).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    val text = Gen.chooseNum(1, 14).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d"))
        .map(_.mkString(" ")))
    for (threshold <- Seq(0.3, 0.5, 0.8)) {
      val ls = Gen.listOfN(25, name).sample.getOrElse(Nil)
        .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val rs = Gen.listOfN(25, name).sample.getOrElse(Nil)
        .zipWithIndex.map { case (s, i) => (100L + i, s) }
      // seed guaranteed matches: copy a few left names to the right side
      val rsAll = rs ++ ls.take(5).map { case (i, s) => (200L + i, s) }
      val l = ls.toDF("lid", "nm")
      val r = rsAll.toDF("rid", "nm")
      val gramFn = operators.Linkage.charGramHashes(_: org.apache.spark.sql.Column, 3)
      val got = operators.Linkage
        .linkPairsPrefixFilter(l, "lid", "nm", r, "rid", "nm", gramFn, threshold)
        .select("left_id", "right_id").as[(Long, Long)].collect().toSet
      // brute force over the cross product with the same grams
      val lg = l.select(col("lid"), gramFn(col("nm")).as("g"))
        .as[(Long, Seq[Long])].collect()
      val rg = r.select(col("rid"), gramFn(col("nm")).as("g"))
        .as[(Long, Seq[Long])].collect()
      val want = (for {
        (lid, ga) <- lg; (rid, gb) <- rg
        if ga.nonEmpty && gb.nonEmpty
        inter = ga.toSet.intersect(gb.toSet).size
        j = BigDecimal(inter.toDouble / (ga.size + gb.size - inter))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= threshold
      } yield (lid, rid)).toSet
      assert(got == want, s"t=$threshold: blocked ${got.size} != brute ${want.size}")
      assert(want.nonEmpty, s"t=$threshold: degenerate fixture, no pairs")

      // the same prefix-filter core behind the word-shingle self-join and
      // the containment join, on one random word corpus: a 4-word vocab
      // (64 possible 3-shingles) shares grams across many docs, so ranks
      // and prefixes matter, not just df=2 grams; exact copies,
      // one-word extensions, wrapped copies and a fixed identical pair
      // plant true pairs
      val base = Gen.listOfN(30, text).sample.getOrElse(Nil)
        .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val docs = (base ++
        base.take(3).map { case (i, s) => (100L + i, s) } ++
        base.slice(3, 6).map { case (i, s) => (200L + i, s + " h") } ++
        base.slice(6, 9).map { case (i, s) => (300L + i, s"a b $s c d") } ++
        Seq((400L, "a b c d e f g h"), (401L, "a b c d e f g h")))
        .toDF("id", "text")
      val sets = docs.select(col("id"),
          operators.Dedup.wordShingleHashes(col("text"), 3).as("g"))
        .as[(Long, Seq[Long])].collect().map { case (i, g) => (i, g.toSet) }
        .filter(_._2.nonEmpty)
      def round6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val jGot = operators.Dedup
        .jaccardPairsPrefixFilter(docs, "id", "text", 3, threshold)
        .as[(Long, Long, Double)].collect().toSet
      val jWant = (for {
        (a, ga) <- sets; (b, gb) <- sets if a < b
        inter = ga.intersect(gb).size
        j = round6(inter.toDouble / (ga.size + gb.size - inter)) if j >= threshold
      } yield (a, b, j)).toSet
      assert(jGot == jWant, s"t=$threshold: jaccard ${jGot.size} != brute ${jWant.size}")
      assert(jWant.nonEmpty, s"t=$threshold: degenerate jaccard fixture")
      val cGot = operators.Dedup
        .containmentPairs(docs, "id", "text", 3, threshold)
        .as[(Long, Long, Double)].collect().toSet
      val cWant = (for {
        (a, ga) <- sets; (b, gb) <- sets if a != b
        c = round6(ga.intersect(gb).size.toDouble / ga.size) if c >= threshold
      } yield (a, b, c)).toSet
      assert(cGot == cWant, s"t=$threshold: containment ${cGot.size} != brute ${cWant.size}")
      assert(cWant.nonEmpty, s"t=$threshold: degenerate containment fixture")
    }
  }

  test("asofJoinNearest law: equals driver-side min-distance pick on random data") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(20260814)
    val left = (1 to 120).map { i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(300).toLong, i.toLong) }
    val right = (1 to 80).map { i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(300).toLong, i.toLong + 1000) }
    // dedup right per (key, t): keep max payload — the op's precondition
    val rightDedup = right.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val tol = 40L
    val got = RangeJoin.asofJoinNearest(
        left.toDF("k", "t", "lid"), rightDedup.toDF("k", "t", "rid"),
        Seq("k"), "t", "t", Some(tol))
      .select("lid", "asof_rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    left.foreach { case (k, t, lid) =>
      val cands = rightDedup.filter(r => r._1 == k && math.abs(r._2 - t) <= tol)
      val want =
        if (cands.isEmpty) -1L
        // min distance; ties → backward (smaller right t)
        else cands.minBy(r => (math.abs(r._2 - t), r._2))._3
      assert(got(lid) == want, s"left=$lid k=$k t=$t: got ${got(lid)}, want $want")
    }
  }

  test("applyChangelogVersioned law: any batch split commutes to the full compaction") {
    import graft.operators.Merge
    val rnd = new scala.util.Random(42)
    // random changelog: key, version, op; several rows per key
    val all = (1 to 150).map { i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(40).toLong, i.toLong,
        if (rnd.nextInt(4) == 0) "D" else "U") }
    val cols = Seq("id", "v_ts", "v_seq", "op")
    def df(rows: Seq[(Long, Long, Long, String)]) = rows.toDF(cols: _*)
    def apply(b: org.apache.spark.sql.DataFrame, rows: Seq[(Long, Long, Long, String)]) =
      Merge.applyChangelogVersioned(b, df(rows), Seq("id"),
        Seq("v_ts", "v_seq"), col("op") === "D")
    def live(d0: org.apache.spark.sql.DataFrame) =
      d0.where(!col("__deleted")).select("id", "v_ts", "v_seq")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val empty = df(all).where(lit(false))
    // ground truth: latest per key by (v_ts, v_seq), tombstones erase
    val want = all.groupBy(_._1).values.map(_.maxBy(r => (r._2, r._3)))
      .filter(_._4 != "D").map(r => (r._1, r._2, r._3)).toSet
    assert(live(apply(empty, all)) == want)
    // three random 3-way splits, applied in split order
    (1 to 3).foreach { trial =>
      val shuffled = rnd.shuffle(all)
      val (b1, rest) = shuffled.splitAt(50)
      val (b2, b3) = rest.splitAt(50)
      val s3 = apply(apply(apply(empty, b1), b2), b3)
      assert(live(s3) == want, s"trial $trial diverged from the compaction")
    }
  }

  test("exact group quantiles equal the percentile aggregate on " +
    "random grouped data") {
    // random group sizes (incl. singletons), duplicate-heavy and
    // negative values, awkward fractions — the distributed selection
    // must agree with the percentile aggregate on every draw
    import graft.operators.Quantiles
    val rnd = new scala.util.Random(20260816L)
    val ps = Seq(0.0, 0.1, 0.37, 0.5, 0.73, 1.0)
    val names = ps.map(p => s"p${(p * 100).toInt}")
    (1 to 3).foreach { trial =>
      val rows = (1 to 8).flatMap { g =>
        val sz = 1 + rnd.nextInt(120)
        // half the groups draw from a tiny value set (heavy ties), half
        // from a wide signed range (sparse buckets)
        (1 to sz).map { _ =>
          val v = if (g % 2 == 0) (rnd.nextInt(5) - 2).toDouble
                  else (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7))
          (s"g$g", v)
        }
      }
      val df = rows.toDF("g", "v")
      val want = df.groupBy("g")
        .agg(percentile(col("v"), array(ps.map(lit): _*)).as("qs"))
        .orderBy("g").collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val got = Quantiles.exactGroupQuantiles(df, "g", "v", ps, names)
        .orderBy("g").collect()
      assert(got.length == want.size, s"trial $trial group count")
      got.foreach { r =>
        val qs = want(r.getString(0))
        ps.indices.foreach { i =>
          assert(math.abs(r.getDouble(i + 1) - qs(i)) <=
            1e-9 * math.max(1.0, math.abs(qs(i))),
            s"trial $trial ${r.getString(0)} p=${ps(i)}: " +
              s"${r.getDouble(i + 1)} vs ${qs(i)}")
        }
      }
    }
  }
}
