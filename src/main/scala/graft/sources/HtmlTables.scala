package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** S9: HTML `<table>` scan — the remote-OCR services return invoice pages
  * as HTML tables, and the reference walks them with BeautifulSoup
  * (pdf_ocr_sale_invoice_to_json.py:168-215: find_all("table"), first
  * `<tr>` = header, `get_text(strip=True)` per `<td>`/`<th>`). Here the
  * parse is a pure kernel over the HTML string, called from the plan as
  * one static call (`graft.plans.StaticKernel`), so a corpus of OCR outputs parses inside the scan
  * with no UDF and no driver loop; the downstream semantics (header
  * promotion P4, blank/total-row F2/F3, ragged pad/truncate C43/C44) are
  * the existing grid operators.
  *
  * Parsing contract (the OCR-output subset of HTML, not a browser):
  * well-formed, non-nested `<table>/<tr>/<td|th>` tags, case-insensitive,
  * attributes allowed; inner markup inside a cell is stripped; named and
  * numeric character entities decode; cell text is whitespace-trimmed
  * (BeautifulSoup's strip=True additionally joins fragment-internal
  * whitespace — for OCR cell text the results coincide). */
object HtmlTables {

  import java.util.regex.Pattern
  private val TablePat = Pattern.compile("(?is)<table\\b[^>]*>(.*?)</table\\s*>")
  private val RowPat = Pattern.compile("(?is)<tr\\b[^>]*>(.*?)</tr\\s*>")
  private val CellPat = Pattern.compile("(?is)<(?:td|th)\\b[^>]*>(.*?)</t[dh]\\s*>")
  private val TagPat = Pattern.compile("(?s)<[^>]*>")
  private val EntityPat = Pattern.compile("&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")

  private val Named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ")

  private[sources] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val m = EntityPat.matcher(s)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val e = m.group(1)
      val rep =
        if (e.startsWith("#x") || e.startsWith("#X"))
          try new String(Character.toChars(Integer.parseInt(e.substring(2), 16)))
          catch { case _: Exception => m.group(0) }
        else if (e.startsWith("#"))
          try new String(Character.toChars(Integer.parseInt(e.substring(1))))
          catch { case _: Exception => m.group(0) }
        else Named.getOrElse(e.toLowerCase, m.group(0))
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  private def cellText(inner: String): String =
    decodeEntities(TagPat.matcher(inner).replaceAll("")).trim

  /** Pure parse: HTML → tables → rows → cells. Executor-safe. */
  def parse(html: String): Array[Array[Array[String]]] = {
    if (html == null) return Array.empty
    val tables = scala.collection.mutable.ArrayBuffer.empty[Array[Array[String]]]
    val tm = TablePat.matcher(html)
    while (tm.find()) {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
      val rm = RowPat.matcher(tm.group(1))
      while (rm.find()) {
        val cells = scala.collection.mutable.ArrayBuffer.empty[String]
        val cm = CellPat.matcher(rm.group(1))
        while (cm.find()) cells += cellText(cm.group(1))
        rows += cells.toArray
      }
      tables += rows.toArray
    }
    tables.toArray
  }

  /** [[parse]] over Spark's internal values: the kernel the Column form calls. */
  def evalParse(html: UTF8String): GenericArrayData =
    new GenericArrayData(parse(html.toString).map(rows =>
      new GenericArrayData(rows.map(cells =>
        new GenericArrayData(cells.map(UTF8String.fromString(_).asInstanceOf[Any]))
          .asInstanceOf[Any]).asInstanceOf[Array[Any]])
        .asInstanceOf[Any]).asInstanceOf[Array[Any]])

  /** Column form of the parse: html string →
    * array&lt;array&lt;array&lt;string&gt;&gt;&gt; (tables / rows / cells). */
  def htmlTables(html: Column): Column =
    graft.plans.StaticKernel(this, "evalParse",
      ArrayType(ArrayType(ArrayType(StringType, containsNull = false),
        containsNull = false), containsNull = false))(html)

  /** The S9 scan: one row per `<tr>` of every `<table>` of every document,
    * in document order — (source_file, table_idx, row_idx, cells), the same
    * grid shape the Excel/CSV readers emit, so P4/F2/F3/C43/C44 compose
    * unchanged downstream. Table and row indexes are 0-based. */
  def tablesGrid(df: DataFrame, htmlCol: Column, fileCol: Column): DataFrame =
    df.select(fileCol.as("source_file"), posexplode(htmlTables(htmlCol))
        .as(Seq("table_idx", "__rows")))
      .select(col("source_file"), col("table_idx"),
        posexplode(col("__rows")).as(Seq("row_idx", "cells")))
      .select(col("source_file"), col("table_idx"),
        col("row_idx").cast("long").as("row_idx"), col("cells"))
}
