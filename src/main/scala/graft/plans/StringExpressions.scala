package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** String kernels that need the JDK behind a static call. */
object StringOps {

  /** Unicode NFC normalization (java.text.Normalizer): canonical
    * composition, e.g. `e + COMBINING ACUTE` → `é`. The canonical-
    * equivalence step before exact/fuzzy dedup — visually identical text
    * must hash identically. Already-normalized input short-circuits via
    * the quick check. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** The text-stats kernels and the Column wrappers over them. Each wrapper
  * is one [[StaticKernel]] call, a single static call that keeps the
  * surrounding stage whole-stage compiled (as in VectorExpressions). */
object StringExpressions {

  // word sets for the text-stats kernel: En17 MUST stay identical to
  // graft.operators.TextAnalysis.enStopwords; the four language marker
  // sets are owned here (small and mutually disjoint — overlap would make
  // langIdMulti's argmax unstable)
  private def set(ws: String*): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](); ws.foreach(s.add); s
  }
  private val En17 = set("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "at", "by")
  private val En6 = set("the", "of", "is", "that", "it", "with")
  private val De6 = set("der", "die", "und", "das", "ist", "nicht")
  private val Fr6 = set("le", "les", "est", "dans", "que", "pour")
  private val Es6 = set("el", "los", "una", "por", "para", "del")

  /** One pass over a text value → the 9 counts the text-analysis family
    * needs: [len, punct, cjk, nTokSplit, en17, en6, de, fr, es].
    *
    * Exists because the Column spellings (size(filter(split(...), ...))
    * per language, per ratio) are higher-order functions: interpreted,
    * outside codegen subexpression elimination, so each of the ~6
    * references re-tokenizes the text per row. Semantics replicate the
    * Column forms bit-for-bit:
    *  - len/punct/cjk count CODEPOINTS of the raw text; punct is Java
    *    regex \\p{Punct} (the 32 ASCII marks), cjk is [U+4E00, U+9FFF]
    *  - tokens = `split(lower(trim(text)), "\\s+")` semantics: trim
    *    strips 0x20 only (UTF8String.trim), lower via
    *    UTF8String.toLowerCase, split on ASCII \\s runs with Java
    *    limit=-1 boundary empties (leading run → leading "" token,
    *    trailing run → trailing "" token, "" → [""])
    *  - nTokSplit is that split's size (1 for empty text — callers keep
    *    their own empty-string guards); stop-hit counts test exact token
    *    membership, so boundary "" tokens never match */
  def textStats(s: UTF8String): ArrayData = {
    val raw = s.toString
    var len = 0L; var punct = 0L; var cjk = 0L
    var i = 0
    while (i < raw.length) {
      val cp = raw.codePointAt(i)
      len += 1
      if ((cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
          (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126)) punct += 1
      if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
      i += Character.charCount(cp)
    }
    val t = s.trim().toLowerCase.toString
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    var nTok = 0L; var en17 = 0L; var en6 = 0L
    var de = 0L; var fr = 0L; var es = 0L
    var pos = 0
    var done = false
    while (!done) {
      var end = pos
      while (end < t.length && !isWs(t.charAt(end))) end += 1
      val tok = t.substring(pos, end)
      nTok += 1
      if (En17.contains(tok)) en17 += 1
      if (En6.contains(tok)) en6 += 1
      if (De6.contains(tok)) de += 1
      if (Fr6.contains(tok)) fr += 1
      if (Es6.contains(tok)) es += 1
      if (end >= t.length) done = true
      else {
        pos = end
        while (pos < t.length && isWs(t.charAt(pos))) pos += 1
        if (pos >= t.length) { nTok += 1; done = true } // trailing "" token
      }
    }
    new GenericArrayData(Array(len, punct, cjk, nTok, en17, en6, de, fr, es))
  }

  /** One pass over a text value → the 4 counts behind the repetition/
    * diversity filters (Gopher-style, Rae et al. 2021 §A1.1): [nTokens,
    * nDistinct, maxTokenCount, maxBigramCount]. Tokens are the non-empty
    * whitespace splits of `lower(trim(text))` (boundary empties excluded —
    * repetition is about content tokens); bigrams are consecutive token
    * pairs. A hash-explode spelling (explode → groupBy(doc, token) → max)
    * would shuffle rows × tokens; this computes the same counts per row
    * inside whole-stage codegen with zero shuffle. */
  def repStats(s: UTF8String): ArrayData = {
    val t = s.trim().toLowerCase.toString
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    val tokCounts = new java.util.HashMap[String, Long]()
    val biCounts = new java.util.HashMap[String, Long]()
    var nTok = 0L
    var prev: String = null
    var pos = 0
    while (pos < t.length) {
      while (pos < t.length && isWs(t.charAt(pos))) pos += 1
      if (pos < t.length) {
        var end = pos
        while (end < t.length && !isWs(t.charAt(end))) end += 1
        val tok = t.substring(pos, end)
        nTok += 1
        tokCounts.merge(tok, 1L, _ + _)
        if (prev != null) biCounts.merge(prev + " " + tok, 1L, _ + _)
        prev = tok
        pos = end
      }
    }
    var maxTok = 0L
    val it = tokCounts.values().iterator()
    while (it.hasNext) { val v = it.next(); if (v > maxTok) maxTok = v }
    var maxBi = 0L
    val it2 = biCounts.values().iterator()
    while (it2.hasNext) { val v = it2.next(); if (v > maxBi) maxBi = v }
    new GenericArrayData(Array(nTok, tokCounts.size().toLong, maxTok, maxBi))
  }

  private val Longs = ArrayType(LongType, containsNull = false)

  def nfc(c: Column): Column = StaticKernel(StringOps, "nfc", StringType)(c)
  def textStatsCol(c: Column): Column = StaticKernel(this, "textStats", Longs)(c)
  def repStatsCol(c: Column): Column = StaticKernel(this, "repStats", Longs)(c)
}
