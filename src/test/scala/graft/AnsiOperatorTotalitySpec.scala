package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ANSI-mode totality of the OPERATOR layer's Column functions.
  *
  * AnsiTotalitySpec pins the 38 cleansing-DSL functions; this spec
  * extends the same sweep to every public Column-returning function an
  * adopter composes from the operator families — text analysis
  * (quality/lang/url/entropy), sketches (HLL/KMV/Bloom/CMS position and
  * estimate kernels), similarity (cosine, LSH buckets), and multimodal
  * (dHash) — none of which had ever run under `spark.sql.ansi.enabled=
  * true` before round 12, while Spark 4 DEFAULTS it true for adopters.
  * Same contract as the DSL sweep: (a) no exception under either mode,
  * (b) bit-identical output — ANSI must be invisible.
  *
  * Inputs are adversarial WITHIN each function's documented contract
  * (e.g. dHash63's "short array degrades to 0-bits", kmvEstimate's
  * ascending-longs sketch): a contract-violating input that throws is
  * the caller's bug, not an ANSI totality gap. */
class AnsiOperatorTotalitySpec extends SparkSpec {
  import graft.operators.{Multimodal, Similarity, Sketches, TextAnalysis}

  // string zoo: the DSL spec's dirty rows plus URL-shaped adversaries
  // (scheme-less, userinfo, ports, empty path/query, non-URLs, unicode)
  private val strings: Seq[String] = Seq(
    null, "", " ", "garbage", "NaN", "1.2.3", "1e309", "  a  b  ",
    "๑๒๓ ธันวาคม", "mixed ไทย text", "aaaaaaaa", "a b a b a b",
    "!!!???...", "1,234.56 and 45%", "x@y.th 081-234-5678",
    "https://Example.COM:8080/a/b/?q=1#frag", "http://user:pw@host.co.th/p",
    "ftp://files.example.org", "not a url", "http://", "https:///nohost",
    "//protocol.relative/x", "example.com/no-scheme", "https://host",
    "https://host/", "HTTPS://HOST/PATH/", "http://1.2.3.4/x?y",
    "scheme+odd.1://h.d/p", "http://host/%ZZ bad escape")

  private def textFns: Seq[(String, Column => Column)] = Seq(
    "TextAnalysis.tokenCount" -> TextAnalysis.tokenCount _,
    "TextAnalysis.punctRatio" -> TextAnalysis.punctRatio _,
    "TextAnalysis.stopwordRatio" -> TextAnalysis.stopwordRatio _,
    "TextAnalysis.qualityScore" -> TextAnalysis.qualityScore _,
    "TextAnalysis.langIdMulti" -> TextAnalysis.langIdMulti _,
    "TextAnalysis.halfLangs._1" -> ((c: Column) => TextAnalysis.halfLangs(c)._1),
    "TextAnalysis.halfLangs._2" -> ((c: Column) => TextAnalysis.halfLangs(c)._2),
    "TextAnalysis.fingerprint" -> TextAnalysis.fingerprint _,
    "TextAnalysis.distinctTokenRatio" -> TextAnalysis.distinctTokenRatio _,
    "TextAnalysis.topTokenFraction" -> TextAnalysis.topTokenFraction _,
    "TextAnalysis.topBigramFraction" -> TextAnalysis.topBigramFraction _,
    "TextAnalysis.piiCounts._1" -> ((c: Column) => TextAnalysis.piiCounts(c)._1),
    "TextAnalysis.piiCounts._2" -> ((c: Column) => TextAnalysis.piiCounts(c)._2),
    "TextAnalysis.piiCounts._3" -> ((c: Column) => TextAnalysis.piiCounts(c)._3),
    "TextAnalysis.redactPii" -> TextAnalysis.redactPii _,
    "TextAnalysis.urlHost" -> TextAnalysis.urlHost _,
    "TextAnalysis.urlDomain" -> TextAnalysis.urlDomain _,
    "TextAnalysis.urlPath" -> TextAnalysis.urlPath _,
    "TextAnalysis.urlCanonical" -> TextAnalysis.urlCanonical _,
    "TextAnalysis.charEntropy" -> TextAnalysis.charEntropy _,
    "Sketches.hllIdx" -> Sketches.hllIdx _,
    "Sketches.hllRho" -> Sketches.hllRho _,
    "Sketches.bloomPositions" ->
      ((c: Column) => to_json(Sketches.bloomPositions(c, numHashes = 3))),
    "Sketches.digestPositions" ->
      ((c: Column) => to_json(Sketches.digestPositions(c, numHashes = 3, hexChars = 4))),
    "Sketches.cmsPositions" ->
      ((c: Column) => to_json(Sketches.cmsPositions(c, depth = 4, width = 64))))

  // vector zoo: contract-valid embeddings plus the documented edges —
  // null column, empty array, zero vector (norm-0 guard), NaN/Infinity
  // components, single element, and a >81-element dHash grid
  private val vectors: Seq[Seq[Double]] = Seq(
    null, Seq.empty[Double], Seq(0.0, 0.0, 0.0),
    Seq(1.0, -2.0, 3.0), Seq(Double.NaN, 1.0, 2.0),
    Seq(Double.PositiveInfinity, 1.0, 0.5),
    Seq(42.0), Seq.tabulate(90)(i => (i % 7).toDouble))

  private def vectorFns: Seq[(String, Column => Column)] = Seq(
    "Similarity.cosine(self)" -> ((v: Column) => Similarity.cosine(v, v)),
    "Similarity.cosine(reverse)" -> ((v: Column) => Similarity.cosine(v, reverse(v))),
    "VectorExpressions.rademacherBuckets" -> ((v: Column) =>
      to_json(graft.plans.VectorExpressions.rademacherBuckets(v,
        Similarity.portablePlanes(2, 8, 3).flatten.flatten, nTables = 2, nPlanes = 8))),
    "Multimodal.dHash63" -> ((v: Column) => Multimodal.dHash63(v)))

  // KMV sketches: ascending long arrays per the contract; shorter-than-k
  // (exact path), exactly-k, longer (guarded element_at path), empty, null
  private val sketches: Seq[Seq[Long]] = Seq(
    null, Seq.empty[Long], Seq(5L),
    Seq(1L, 2L, 3L), Seq(10L, 20L, 30L, 40L, 50L))

  private def bothModes(name: String, eval: () => Seq[String]): Option[String] = {
    val key = "spark.sql.ansi.enabled"
    def run(ansi: Boolean): Either[String, Seq[String]] = {
      spark.conf.set(key, ansi)
      try Right(eval())
      catch { case t: Throwable => Left(t.toString.take(160)) }
      finally spark.conf.set(key, "false")
    }
    (run(ansi = false), run(ansi = true)) match {
      case (Right(_), Left(err)) => Some(s"$name THROWS under ANSI only: $err")
      case (Left(err), _) => Some(
        s"$name throws even with ansi off (not an ANSI issue, still a totality bug): $err")
      case (Right(off), Right(on)) if off != on =>
        val i = off.indices.find(i => off(i) != on(i)).get
        Some(s"$name DIVERGES under ANSI at row $i: off='${off(i)}' on='${on(i)}'")
      case _ => None
    }
  }

  private def sweep[T](rows: Seq[T], toDf: Seq[T] => org.apache.spark.sql.DataFrame,
                       fns: Seq[(String, Column => Column)]): Seq[String] = {
    val df = toDf(rows)
    fns.flatMap { case (name, fn) =>
      bothModes(name, () => df.select(fn(col("v")).cast("string")).collect()
        .map(r => if (r.isNullAt(0)) "∅" else r.getString(0)).toSeq)
    }
  }

  test("text/sketch string kernels are total and ANSI-invisible on the dirty zoo") {
    import spark.implicits._
    val problems = sweep[String](strings, _.toDF("v"), textFns)
    assert(problems.isEmpty,
      s"\n${problems.size} function(s) not ANSI-total:\n  " + problems.mkString("\n  "))
  }

  test("vector kernels (cosine, LSH bucket, dHash) are total and ANSI-invisible") {
    import spark.implicits._
    val problems = sweep[Seq[Double]](vectors, _.toDF("v"), vectorFns)
    assert(problems.isEmpty,
      s"\n${problems.size} function(s) not ANSI-total:\n  " + problems.mkString("\n  "))
  }

  test("orderedPrefix is total, ANSI-invisible, and monotone on the double zoo") {
    import spark.implicits._
    import graft.plans.{NumericExpressions, NumericOps}
    val zoo: Seq[Option[Double]] = Seq(None, Some(0.0), Some(-0.0),
      Some(1.5), Some(-1.5), Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(Double.MinPositiveValue),
      Some(-Double.MinPositiveValue), Some(Double.MaxValue),
      Some(Double.MinValue), Some(1e-300), Some(-1e-300), Some(1234567.89))
    val problems = sweep[Option[Double]](zoo, _.toDF("v"),
      Seq("NumericExpressions.orderedPrefix(20)" ->
        ((c: Column) => NumericExpressions.orderedPrefix(c, 20))))
    assert(problems.isEmpty,
      s"\n${problems.size} function(s) not ANSI-total:\n  " + problems.mkString("\n  "))
    // the quantile selection pass's load-bearing property: bucket ids are
    // monotone non-strict in the double's total order (NaN greatest)
    val sorted = zoo.flatten.sortWith(java.lang.Double.compare(_, _) < 0)
    val prefs = sorted.map(NumericOps.orderedPrefix(_, 20))
    assert(prefs.zip(prefs.tail).forall { case (a, b) => a <= b },
      s"orderedPrefix not monotone: $sorted -> $prefs")
  }

  test("KMV estimate and aggregate are total and ANSI-invisible") {
    import spark.implicits._
    val problems =
      sweep[Seq[Long]](sketches, _.toDF("v"),
        Seq("Sketches.kmvEstimate(k=3)" ->
          ((c: Column) => Sketches.kmvEstimate(c, k = 3)))) ++
      // the aggregate kernel: BoundedMinK over hashed strings, both modes
      bothModes("Sketches.kmvAgg(k=4)", () => {
        strings.toDF("v")
          .agg(to_json(Sketches.kmvAgg(xxhash64(col("v")), k = 4)).as("s"))
          .collect().map(r => if (r.isNullAt(0)) "∅" else r.getString(0)).toSeq
      }).toSeq
    assert(problems.isEmpty,
      s"\n${problems.size} function(s) not ANSI-total:\n  " + problems.mkString("\n  "))
  }
}
