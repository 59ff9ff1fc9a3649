package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftglue.ColumnGlue.{column, expression}

import graft.plans.{CsvExpressions, DateExpressions, StringExpressions, VectorExpressions, BoundedMinK}

/** SQL surface for the custom kernels: registered through
  * `SparkSessionExtensions`, so a pure-SQL user reaches every kernel the
  * Column API uses —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT graft_nfc(name), graft_parse_flex_date(d) FROM t")
  * }}}
  *
  * or programmatically `SparkSession.builder.withExtensions(new
  * GraftExtensions)`. Every `graft_*` function is built by the same Column
  * wrapper the library calls (`StringExpressions.nfc`,
  * `VectorExpressions.shingleHashes`, …), so each kernel call has one
  * definition. Functions with a tuning parameter take it as a literal
  * argument, read at resolution; the wrapper checks its range. The KMV
  * aggregate registers like any SQL aggregate — `bounded_min_k(h, 256)`
  * composes with GROUP BY / window frames for free, which is the point
  * of doing sketches as real Catalyst aggregates. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def register(ext: SparkSessionExtensions, name: String, usage: String)
                      (builder: Seq[Expression] => Column): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, ""), e => expression(builder(e))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "graft_nfc",
      "graft_nfc(str) - Unicode NFC normalization") {
      e => StringExpressions.nfc(column(e.head))
    }
    register(ext, "graft_text_stats",
      "graft_text_stats(str) - one-pass token/char/quality counters as array<long> " +
        "[0]=len [1]=punct [2]=cjk [3]=nTokens [4]=en17 [5]=en6 [6]=de6 [7]=fr6 [8]=es6") {
      e => StringExpressions.textStatsCol(column(e.head))
    }
    register(ext, "graft_rep_stats",
      "graft_rep_stats(str) - one-pass repetition counters (Gopher filters) as array<long> " +
        "[0]=nTokens [1]=nDistinct [2]=maxTokenCount [3]=maxBigramCount") {
      e => StringExpressions.repStatsCol(column(e.head))
    }
    register(ext, "graft_parse_flex_date",
      "graft_parse_flex_date(str) - Thai/B.E./multi-format date cascade") {
      e => DateExpressions.parseFlexDate(column(e.head))
    }
    register(ext, "graft_csv_split",
      "graft_csv_split(line, delim) - quoted-field CSV line split") {
      e => CsvExpressions.splitCsvLine(column(e.head), e(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) if s.numChars == 1 =>
          s.toString.charAt(0)
        case other => throw new IllegalArgumentException(
          s"graft_csv_split: delimiter must be a 1-char string literal, got $other")
      })
    }
    register(ext, "graft_dot",
      "graft_dot(arr, arr) - left-to-right double dot product") {
      e => VectorExpressions.dot(column(e.head), column(e(1)))
    }
    register(ext, "graft_simhash64",
      "graft_simhash64(tokens) - 64-bit SimHash fingerprint (xxhash64)") {
      e => VectorExpressions.simhash64(column(e.head))
    }
    register(ext, "graft_simhash64_md5",
      "graft_simhash64_md5(tokens) - portable md5-bit SimHash fingerprint") {
      e => VectorExpressions.simhash64Md5(column(e.head))
    }
    register(ext, "graft_shingle_hashes",
      "graft_shingle_hashes(tokens, n) - distinct xxhash64 word n-gram hashes") {
      e => VectorExpressions.shingleHashes(column(e.head),
        intLit(e(1), "graft_shingle_hashes", 1))
    }
    register(ext, "graft_token_chunks",
      "graft_token_chunks(tokens, size, step) - overlapping token windows") {
      e => VectorExpressions.tokenChunks(column(e.head),
        intLit(e(1), "graft_token_chunks", 1), intLit(e(2), "graft_token_chunks", 2))
    }
    register(ext, "bounded_min_k",
      "bounded_min_k(hash, k) - KMV bottom-k sketch aggregate (k smallest distinct)") {
      e => column(BoundedMinK(e.head, intLit(e(1), "bounded_min_k", 1)))
    }
    register(ext, "graft_minhash_sig",
      "graft_minhash_sig(tokens, n, k) - portable md5+affine k-slot MinHash signature") {
      e => VectorExpressions.minhashSigPortable(column(e.head),
        intLit(e(1), "graft_minhash_sig", 1), intLit(e(2), "graft_minhash_sig", 2))
    }
    register(ext, "graft_winnow",
      "graft_winnow(tokens, k, w) - winnowing document fingerprint hashes") {
      e => VectorExpressions.winnow(column(e.head),
        intLit(e(1), "graft_winnow", 1), intLit(e(2), "graft_winnow", 2))
    }
  }
}
