package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.plans.{CsvExpressions, DateExpressions, NumericExpressions, StringExpressions,
  VectorExpressions}
import graft.sources.HtmlTables

/** Every scalar kernel wrapper computes the same rows compiled (whole-stage
  * codegen) and interpreted (`NO_CODEGEN`, where a `StaticInvoke` finds its
  * kernel by reflection), on hostile input: nulls, empties, Thai text, long
  * and ragged values. The input is parquet, so neither mode folds the
  * projection on the driver. */
class StaticKernelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val input: DataFrame = {
    val long = ("the cat sat on the mat, " * 300) +
      "<table><tr><th>a</th><td>b &amp; c</td></tr></table>"
    val thai = "ผู้ขาย  สินค้า ๒๕/๑๒/๒๕๖๕ ราคา,\"๑,๐๐๐\""
    val rows = Seq(
      (0, None, None, None, None, None, None, None),
      (1, Some(""), Some(Seq.empty[String]), Some(Seq.empty[Double]),
        Some(Seq.empty[Float]), Some(Seq.empty[Long]), Some(Seq.empty[Long]), Some(0.0)),
      (2, Some(thai), Some(Seq("ผู้ขาย", "สินค้า", null, "ราคา")),
        Some(Seq(1.5, -2.0, 3.25, 0.5)), Some(Seq(1.5f, -2.0f)),
        Some(Seq(-5L, 3L, 9L)), Some(Seq(3L, 4L)), Some(-0.0)),
      (3, Some(long), Some(long.split(" ").toSeq),
        Some(Seq(1e300, -1e-300, 7.0, 8.0)), Some(Seq(3.0f, 4.0f, 5.0f)),
        Some((1L to 400L).toSeq), Some((200L to 600L by 2L).toSeq), Some(1e300)),
      (4, Some("  25.12.2565 \t  a,,\"q\"\"x\",  "), Some(Seq("a", "b", "a", "b", "a")),
        Some(Seq(0.25, 0.5, 0.75)), Some(Seq(1.0f)), Some(Seq(1L)), Some(Seq(1L)),
        Some(Double.NaN)),
      (5, Some("<TABLE><tr><td>1</td><td>2</td></tr><tr><td>3</td></tr></TABLE>"),
        Some(Seq[String](null, null)), Some(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)),
        Some(Seq(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)), Some(Seq(2L, 5L)), Some(Seq.empty[Long]),
        Some(Double.NegativeInfinity)),
      (6, Some("31/02/2020"), Some(Seq("ก", "ข")), Some(Seq(-1.0, -1.0, -1.0, -1.0)),
        Some(Seq(-1.0f)), Some(Seq(0L)), Some(Seq(0L)), Some(42.5)))
    val dir = java.nio.file.Files.createTempDirectory("graft_static_kernels").toString
    rows.toDF("id", "text", "toks", "vec", "fvec", "hs", "hs2", "x")
      .write.mode("overwrite").parquet(s"$dir/in")
    spark.read.parquet(s"$dir/in")
  }

  private val planes = Array.tabulate(2 * 3 * 4)(i => if (i % 3 == 0) -1.0 else 1.0)

  /** All 18 scalar kernel wrappers over the hostile columns (the dot product
    * on double and float arrays, the CSV split with two delimiters). */
  private def kernels: Seq[Column] = Seq(
    VectorExpressions.dot(col("vec"), col("vec")),
    VectorExpressions.dot(col("fvec"), col("fvec")),
    VectorExpressions.simhash64(col("toks")),
    VectorExpressions.simhash64Md5(col("toks")),
    VectorExpressions.rademacherBuckets(col("vec"), planes, 2, 3),
    VectorExpressions.rademacherProject(col("fvec"), planes.take(12), 3),
    VectorExpressions.jaccardSorted(col("hs"), col("hs2")),
    VectorExpressions.winnow(col("toks"), 2, 3),
    VectorExpressions.shingleHashes(col("toks"), 2),
    VectorExpressions.tokenChunks(col("toks"), 3, 2),
    VectorExpressions.minhashSigPortable(col("toks"), 2, 4),
    // the PQ kernel reads m * subDim elements: 4-element vectors only
    VectorExpressions.pqEncode(when(size(col("vec")) === 4, col("vec")),
      Array.tabulate(2 * 2 * 2)(_.toDouble - 3.0), Array.fill(2 * 2)(1.0), 2, 2, 2),
    StringExpressions.nfc(col("text")),
    StringExpressions.textStatsCol(col("text")),
    StringExpressions.repStatsCol(col("text")),
    CsvExpressions.splitCsvLine(col("text")),
    CsvExpressions.splitCsvLine(col("text"), ' '),
    DateExpressions.parseFlexDate(col("text")),
    NumericExpressions.orderedPrefix(col("x"), 20),
    HtmlTables.htmlTables(col("text")))

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("id").collect().toSeq.map(_.toString)

  private def compiled(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.nonEmpty

  test("every scalar kernel computes the same rows compiled and interpreted") {
    def frame = input.select(col("id") +: kernels.zipWithIndex.map { case (k, i) =>
      k.as(s"k$i") }: _*)
    assert(compiled(frame))
    val codegen = rows(frame)
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        assert(!compiled(frame))
        rows(frame)
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    assert(codegen.size == 7)
    codegen.zip(interpreted).foreach { case (c, i) => assert(c == i) }
    // the all-null row stays null in every kernel column
    assert(codegen.head == "[0" + ",null" * kernels.size + "]")
  }

  test("qualityScore and tokenCount share one text-stats call per row") {
    val df = input.select(TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.tokenCount(col("text")).as("n"))
    val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    // generated Java lines carry a /* n */ prefix; the plan text above them
    // names the call at every reference
    val calls = code.linesIterator.filter(_.trim.startsWith("/*"))
      .count(_.contains("graft.plans.StringExpressions.textStats("))
    assert(calls == 1, code)
    assert(df.count() == 7)
  }
}
