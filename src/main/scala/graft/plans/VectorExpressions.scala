package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static kernels for the vector/sketch hot paths. Each is one static
  * call from a plan (a [[StaticKernel]] call, or one of the three
  * type-dependent expressions below), so it stays inside whole-stage
  * codegen instead of breaking the stage with CodegenFallback.
  *
  * Numeric contract: elements are widened to double and accumulated
  * left-to-right — bit-identical to an `aggregate(zip_with(...))`
  * formulation and to a sequential SQL `list_sum(list_transform(...))`,
  * which keeps DuckDB oracles exact. */
object VectorOps {

  /** Left-to-right double dot product of two float arrays (shorter wins). */
  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** As dotFloat, for double arrays. */
  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** 64-bit SimHash of a string array (xxhash64 seed 42 per token, ±1 bit
    * votes, fingerprint = sign vector). */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of MD5(utf8 bytes) as a big-endian long — the bits of
    * this value are exactly the first 16 hex chars of the digest read as a
    * base-16 number, so ANY engine with an `md5(text) -> hex` function can
    * recompute each bit from the hex string (bit b lives in hex char
    * `16 - b/4`, nibble bit `b%4`). That portability is the point: sketches
    * built on it are cross-engine checkable, unlike xxhash64. */
  def md5Top64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** [[simhash64]] with the portable md5-derived token hash — same ±1
    * bit-vote construction, but every vote is recomputable from `md5(token)`
    * hex in plain SQL (the oracle-checkable variant; xxhash64 stays the
    * faster default for library use). */
  def simhash64Md5(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = md5Top64(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** All `nTables` Rademacher-LSH bucket ids of a vector in ONE pass: the
    * plane matrix rides as a flat double[] reference object (size
    * nTables·nPlanes·dim — tiny), each dot accumulates left-to-right in
    * double exactly like [[dotDouble]], so the signs (and therefore every
    * bucket) are bit-equal to both the per-plane expression spelling and a
    * sequential SQL list_sum — the portable-oracle contract. One kernel
    * call replaces nTables × nPlanes literal-dot expressions, which
    * dominated plan/codegen time at small scale. */
  def rademacherBuckets(a: ArrayData, planes: Array[Double], nTables: Int,
                        nPlanes: Int, isFloat: Boolean): Array[Long] = {
    val n = a.numElements()
    val dim = planes.length / (nTables * nPlanes)
    val m = math.min(n, dim)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val base = (t * nPlanes + p) * dim
        var dot = 0.0
        var i = 0
        while (i < m) {
          val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
          dot += x * planes(base + i)
          i += 1
        }
        if (dot >= 0.0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  /** One-pass Rademacher (±1) projection — the dense-dot half of
    * [[rademacherBuckets]] WITHOUT the sign threshold: returns the k raw
    * plane dots, i.e. the Johnson–Lindenstrauss random projection of the
    * vector (Achlioptas '01: ±1 entries satisfy the JL lemma; scale by
    * 1/√k downstream). One kernel call per row replaces k HOF
    * zip_with+aggregate chains; left-to-right accumulation matches the
    * SQL oracle's list_sum fold exactly. Layout: planes[p*dim + i]. */
  def rademacherProject(a: ArrayData, planes: Array[Double], k: Int,
                        isFloat: Boolean): Array[Double] = {
    val n = a.numElements()
    val dim = planes.length / k
    val m = math.min(n, dim)
    val out = new Array[Double](k)
    var p = 0
    while (p < k) {
      val base = p * dim
      var dot = 0.0
      var i = 0
      while (i < m) {
        val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        dot += x * planes(base + i)
        i += 1
      }
      out(p) = dot
      p += 1
    }
    out
  }

  /** One-pass PQ encoder: per subspace `s`, the code index minimizing
    * d2' = |c|^2 - 2·x_s·c over the flat codebook (layout [s][j][d]), with
    * FIRST minimum winning ties — arithmetic identical, value for value,
    * to the Column spelling (literal norm2 minus 2·sequential-dot), so a
    * SQL oracle recomputing the same formula agrees exactly. Exists
    * because the HOF spelling paid m interpreted array_sort comparators
    * per row (the q29 lambda lesson, again). `a` must be a DOUBLE array. */
  def pqEncode(a: ArrayData, cb: Array[Double], norm2: Array[Double],
               m: Int, codes: Int, subDim: Int): ArrayData = {
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestV = Double.PositiveInfinity
      var j = 0
      while (j < codes) {
        val base = (s * codes + j) * subDim
        var dot = 0.0
        var d = 0
        while (d < subDim) {
          dot += a.getDouble(s * subDim + d) * cb(base + d)
          d += 1
        }
        val v = norm2(s * codes + j) - 2.0 * dot
        if (v < bestV) { bestV = v; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD '03): hash every
    * k-gram of the token array (xxhash64, seed 42), slide a window of `w`
    * hashes, keep each window's minimum (rightmost on ties) — the standard
    * position-robust document fingerprint for near-dup/overlap detection.
    * Returns the distinct selected hashes, sorted. */
  def winnow(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val n = arr.numElements()
    val nGrams = n - k + 1
    if (nGrams <= 0) return new GenericArrayData(Array.emptyLongArray)
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = 42L
      var j = 0
      while (j < k) {
        if (!arr.isNullAt(i + j))
          h = XxHash64Function.hash(arr.getUTF8String(i + j), StringType, h)
        j += 1
      }
      grams(i) = h
      i += 1
    }
    val out = scala.collection.mutable.SortedSet.empty[Long]
    if (nGrams <= w) { out += grams.min }
    else {
      var s = 0
      while (s <= nGrams - w) {
        var minIdx = s
        var j = s
        while (j < s + w) {
          if (grams(j) <= grams(minIdx)) minIdx = j
          j += 1
        }
        out += grams(minIdx)
        s += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  private val SpaceSep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Sorted, deduplicated xxhash64 (seed 42) hashes of the word n-gram
    * shingles of a token array — the one-pass kernel behind the exact
    * Jaccard join. Bit-equal to the HOF formulation
    * `array_sort(transform(array_distinct(n-grams), xxhash64))` (dedup on
    * hashes == dedup on strings modulo 64-bit collisions, the accepted
    * sketch contract), but evaluates the token array ONCE: the HOF version
    * re-evaluates its lambda-captured token column per shingle position
    * after projection collapse — O(tokens · regex) per document. */
  def shingleHashes(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val grams = sz - (n - 1)
    if (grams <= 0) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](sz)
    var i = 0
    while (i < sz) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    val hs = new Array[Long](grams)
    i = 0
    while (i < grams) {
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      // concatWs skips nulls — same as SQL concat_ws
      hs(i) = XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.concatWs(SpaceSep, parts: _*),
        StringType, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    i = 0
    while (i < grams) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == grams) hs else java.util.Arrays.copyOf(hs, w))
  }

  /** Portable k-slot MinHash signature over word n-grams, built ONLY from
    * `md5(gram)` + affine arithmetic so any SQL engine recomputes it
    * bit-for-bit (the [[md5Top64]] portability contract, extended to a
    * full signature):
    *
    *   hp     = (unsigned md5-top-64 of the gram) mod p,  p = 2^31 - 1
    *   sig[s] = min over grams of ((s+1) * hp + (s * 2654435761) mod p) mod p
    *
    * (s+1) <= k <= 2^20 keeps the product below 2^63 for both engines'
    * ANSI arithmetic; the affine maps are universal-hash permutations mod
    * the Mersenne prime, so an incremental dedup INDEX persisted by one
    * engine can be probed-and-verified by another. Empty gram sets
    * (< n tokens) yield an empty array. */
  def minhashSigPortable(arr: ArrayData, n: Int, k: Int): ArrayData = {
    val sz = arr.numElements()
    val grams = sz - (n - 1)
    if (grams <= 0) return new GenericArrayData(Array.emptyLongArray)
    val P = 2147483647L
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](sz)
    var i = 0
    while (i < sz) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    i = 0
    while (i < grams) {
      var j = 0
      while (j < n) { parts(j) = toks(i + j); j += 1 }
      val hp = java.lang.Long.remainderUnsigned(
        md5Top64(org.apache.spark.unsafe.types.UTF8String.concatWs(SpaceSep, parts: _*)), P)
      var s = 0
      while (s < k) {
        val v = ((s + 1).toLong * hp + (s.toLong * 2654435761L) % P) % P
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Overlapping token-window chunks (the RAG/pretraining chunker):
    * windows of `size` tokens starting every `step` tokens, the last
    * window clipped at the end; a document shorter than `size` yields one
    * chunk. One pass, one join per chunk — the HOF spelling would
    * re-evaluate the captured token column per chunk (see shingleHashes). */
  def tokenChunks(arr: ArrayData, size: Int, step: Int): ArrayData = {
    val n = arr.numElements()
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0
    var done = false
    while (!done) {
      val end = math.min(start + size, n)
      out += org.apache.spark.unsafe.types.UTF8String.concatWs(
        SpaceSep, java.util.Arrays.copyOfRange(toks, start, end): _*)
      if (start + size >= n) done = true else start += step
    }
    new GenericArrayData(out.toArray)
  }

  /** Exact Jaccard of two SORTED, deduplicated long arrays via a linear
    * merge walk — no hash set, no boxing. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na.toLong + nb.toLong - inter
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }
}

/** Column wrappers over the VectorOps kernels. Each kernel call is built
  * here once, as a [[StaticKernel]] call; the SQL functions in
  * `graft.GraftExtensions` go through these wrappers too. */
object VectorExpressions {

  private val Longs = ArrayType(LongType, containsNull = false)

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // These three stay hand-written expressions: each picks getFloat or
  // getDouble from the child's resolved element type, and an unresolved
  // column such as col("embedding") has no type yet when the wrapper
  // builds its Column, so the static call cannot be chosen there.

  case class ArrayDotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def useFloat = isFloatArray(left.dataType)
    override def nullSafeEval(l: Any, r: Any): Any =
      if (useFloat) VectorOps.dotFloat(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
      else VectorOps.dotDouble(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fn = if (useFloat) "dotFloat" else "dotDouble"
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.VectorOps.$fn($a, $b);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class RademacherBuckets(child: Expression, planes: Array[Double],
                               nTables: Int, nPlanes: Int)
      extends UnaryExpression {
    override def dataType: DataType = Longs
    private def isFloat = isFloatArray(child.dataType)
    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(
        VectorOps.rademacherBuckets(v.asInstanceOf[ArrayData], planes,
          nTables, nPlanes, isFloat))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planes, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.plans.VectorOps.rademacherBuckets($a, $ref, $nTables, $nPlanes, $isFloat));")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class RademacherProject(child: Expression, planes: Array[Double], k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    private def isFloat = isFloatArray(child.dataType)
    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(
        VectorOps.rademacherProject(v.asInstanceOf[ArrayData], planes, k, isFloat))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planes, "double[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.plans.VectorOps.rademacherProject($a, $ref, $k, $isFloat));")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ---- Column wrappers

  import org.apache.spark.sql.graftglue.ColumnGlue.{column, expression}

  def dot(a: Column, b: Column): Column =
    column(ArrayDotProduct(expression(a), expression(b)))
  def simhash64(tokens: Column): Column =
    StaticKernel(VectorOps, "simhash64", LongType)(tokens)
  def simhash64Md5(tokens: Column): Column =
    StaticKernel(VectorOps, "simhash64Md5", LongType)(tokens)
  def rademacherBuckets(vec: Column, planes: Array[Double],
                        nTables: Int, nPlanes: Int): Column =
    column(RademacherBuckets(expression(vec), planes, nTables, nPlanes))
  def rademacherProject(vec: Column, planes: Array[Double], k: Int): Column =
    column(RademacherProject(expression(vec), planes, k))
  def jaccardSorted(a: Column, b: Column): Column =
    StaticKernel(VectorOps, "jaccardSorted", DoubleType)(a, b)
  def winnow(tokens: Column, k: Int, w: Int): Column =
    StaticKernel(VectorOps, "winnow", Longs)(tokens, k, w)
  def shingleHashes(tokens: Column, n: Int): Column =
    StaticKernel(VectorOps, "shingleHashes", Longs)(tokens, n)
  def tokenChunks(tokens: Column, size: Int, step: Int): Column = {
    require(size > 0 && step > 0, s"size $size / step $step must be positive")
    StaticKernel(VectorOps, "tokenChunks", ArrayType(StringType, containsNull = false))(
      tokens, size, step)
  }
  def minhashSigPortable(tokens: Column, n: Int, k: Int): Column = {
    require(n >= 1 && k >= 1 && k <= (1 << 20), s"bad n=$n k=$k")
    StaticKernel(VectorOps, "minhashSigPortable", Longs)(tokens, n, k)
  }
  def pqEncode(vec: Column, cb: Array[Double], norm2: Array[Double],
               m: Int, codes: Int, subDim: Int): Column =
    StaticKernel(VectorOps, "pqEncode", ArrayType(IntegerType, containsNull = false))(
      vec, cb, norm2, m, codes, subDim)
}
