package graft

import org.apache.spark.unsafe.types.UTF8String

/** The SQL surface: every registered function must resolve and compute
  * through `spark.sql(...)` — a pure-SQL user (spark-sql shell, JDBC,
  * `spark.sql.extensions=graft.GraftExtensions`) gets the same kernels
  * as the Column API. */
class SqlSurfaceSpec extends SparkSpec {

  private lazy val registered: Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    org.apache.spark.sql.graftglue.ColumnGlue.applyFunctionExtensions(spark, ext)
  }
  registered

  test("scalar kernels resolve and compute from SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_nfc('é') AS nfc,
        |  graft_parse_flex_date('25/12/2565') AS d,
        |  graft_dot(array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)),
        |            array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS dot,
        |  graft_simhash64_md5(array('a', 'b')) AS sh,
        |  size(graft_shingle_hashes(array('a','b','c','d'), 2)) AS nsh,
        |  size(graft_token_chunks(array('a','b','c','d','e'), 2, 2)) AS nch,
        |  graft_simhash64(array('a', 'b')) AS sx,
        |  graft_text_stats('The cat, the hat') AS ts,
        |  graft_rep_stats('a b a b a') AS rs,
        |  graft_csv_split('x;"y;z";', ';') AS cs
        |""".stripMargin).collect().head
    assert(r.getString(0) == "é") // e + combining acute -> é
    assert(r.getDate(1).toString == "2022-12-25") // B.E. 2565 -> 2022
    assert(r.getDouble(2) == 11.0)
    assert(!r.isNullAt(3))
    assert(r.getInt(4) == 3) // 3 distinct bigrams of 4 tokens
    assert(r.getInt(5) == 3) // chunks [a b][c d][e]
    assert(r.getLong(6) == graft.plans.VectorOps.simhash64(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.fromString("a"), UTF8String.fromString("b")))))
    // [len, punct, cjk, nTokens, en17, en6, de6, fr6, es6]
    assert(r.getSeq[Long](7) == Seq(16L, 1L, 0L, 4L, 2L, 2L, 0L, 0L, 0L))
    assert(r.getSeq[Long](8) == Seq(5L, 2L, 3L, 2L))
    assert(r.getSeq[String](9) == Seq("x", "y;z", ""))
  }

  test("bounded_min_k works as a SQL aggregate with GROUP BY") {
    val rows = spark.sql(
      """SELECT g, bounded_min_k(h, 3) AS kmv FROM VALUES
        |  ('a', CAST(5 AS BIGINT)), ('a', 1), ('a', 9), ('a', 1), ('a', 3),
        |  ('b', 42)
        |AS t(g, h) GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows(0).getSeq[Long](1) == Seq(1L, 3L, 5L))
    assert(rows(1).getSeq[Long](1) == Seq(42L))
  }

  test("round-5 kernels resolve from SQL: minhash signature and winnow") {
    val r = spark.sql(
      """SELECT graft_minhash_sig(split('a b c d e', ' '), 3, 8) AS sig,
        |       graft_winnow(split('a b c d e f g', ' '), 3, 2) AS fp""".stripMargin)
      .collect().head
    val sig = r.getSeq[Long](0)
    assert(sig.length == 8 && sig.forall(v => v >= 0 && v < 2147483647L))
    assert(r.getSeq[Long](1).nonEmpty)
  }

  test("literal-parameter misuse fails at resolution with a clear message") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingle_hashes(array('a'), h) FROM VALUES (1) AS t(h)")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
    val d = intercept[Exception] {
      spark.sql("SELECT graft_csv_split('a;b', ';;')").collect()
    }
    assert(d.getMessage.contains("1-char string literal"))
  }
}
