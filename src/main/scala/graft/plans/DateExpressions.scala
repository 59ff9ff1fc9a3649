package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DateType
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernel for the flexible Thai/B.E. date parse (C1-C5 composed).
  * Semantics are IDENTICAL to the Column-expression cascade it replaces
  * (ThaiDates.parseFlexibleDate, pinned by the q14/q36/q37/q40/q41/q56
  * goldens):
  *  - normalize: trim, collapse whitespace, `.`/`/` → `-`
  *  - `^(\d{1,4})-(\d{1,2})-(\d{1,4})$`: leading 4-digit (>=1000) token →
  *    y-m-d, else d-m-y
  *  - two-digit year: yy<50 → 20yy else 19yy; B.E. year >= 2400 → -543
  *  - month>12 & day<=12 → swapped-input repair
  *  - invalid components → null (the make_date non-ANSI contract)
  * The Column version inlined the whole cascade ~6× per use and pushed
  * multi-column projections past the JIT's 64KB method limit (whole-stage
  * codegen fell back to interpreted); this kernel is one regex + integer
  * branches per row. */
object DateKernels {
  private val pat = java.util.regex.Pattern.compile("^(\\d{1,4})-(\\d{1,2})-(\\d{1,4})$")

  /** Returns days-since-epoch, or null when unparseable/invalid. */
  def parseFlexDate(s: UTF8String): Integer = {
    val norm = s.toString.trim.replaceAll("\\s+", " ").replace('.', '-').replace('/', '-')
    val m = pat.matcher(norm)
    if (!m.matches()) return null
    val a = m.group(1).toInt
    val b = m.group(2).toInt
    val d = m.group(3).toInt
    val yFirst = a >= 1000
    val yearRaw = if (yFirst) a else d
    val year =
      if (yearRaw < 100) { if (yearRaw < 50) yearRaw + 2000 else yearRaw + 1900 }
      else if (yearRaw >= 2400) yearRaw - 543
      else yearRaw
    val mon0 = b
    val day0 = if (yFirst) d else a
    val swapped = mon0 > 12 && day0 <= 12
    val mon = if (swapped) day0 else mon0
    val day = if (swapped) mon0 else day0
    try Integer.valueOf(java.time.LocalDate.of(year, mon, day).toEpochDay.toInt)
    catch { case _: java.time.DateTimeException => null }
  }
}

object DateExpressions {

  def parseFlexDate(c: Column): Column =
    StaticKernel(DateKernels, "parseFlexDate", DateType, nullable = true)(c)
}
