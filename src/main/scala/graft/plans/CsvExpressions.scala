package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC-4180-style CSV line splitting as a static kernel, for the
  * many-files ingestion path where lines arrive as a string column with
  * file lineage (Ingest.csvLinesPerFileEncoding) and Spark's file-based CSV
  * reader can't be used without losing that lineage.
  *
  * Semantics: `delim` splits outside quotes; a field wrapped in `"` may
  * contain delimiters and newlines-as-data; `""` inside a quoted field is a
  * literal quote; quotes mid-field are kept verbatim (lenient, matching the
  * tolerant readers the reference relies on). Always returns
  * fields.length == delims+1 (trailing empty fields preserved). */
object CsvOps {
  /** The Column kernel; `delim` is the delimiter's char code. */
  def splitLine(line: UTF8String, delim: Int): ArrayData =
    new GenericArrayData(
      splitFields(line.toString, delim.toChar).map(f => UTF8String.fromString(f): Any))

  /** [[splitLine]] over a JVM string — the per-file kernels' entry. */
  def splitFields(s: String, delim: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var inQuotes = false
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < n && s.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQuotes = false
        } else cur.append(c)
      } else {
        if (c == '"' && cur.length() == 0) inQuotes = true
        else if (c == delim) { out += cur.toString; cur.setLength(0) }
        else cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.toArray
  }
}

object CsvExpressions {

  /** Split a CSV line column into its string fields. */
  def splitCsvLine(line: Column, delim: Char = ','): Column =
    StaticKernel(CsvOps, "splitLine", ArrayType(StringType, containsNull = false))(
      line, delim.toInt)
}
