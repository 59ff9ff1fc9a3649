package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S2/S4: real `.xlsx` ingestion with zero extra dependencies — a workbook
  * is a zip of XML parts, parsed here with `java.util.zip` + StAX (both JDK
  * built-ins). Reference behavior: parse every sheet, drop all-empty
  * sheets, tag `source_sheet`, concat
  * (services/supplier_processor.py:122-133, read_rem_detail_to_json.py:93-122).
  *
  * All cells come back as raw strings (permissive ingestion, SURVEY §7.4.5):
  * numeric cells keep the stored lexical value (Excel serial dates stay
  * serial numbers — `ThaiDates.excelSerialToDate` is the cleanse-side
  * decoder), shared/inline strings are resolved, booleans stay "0"/"1".
  *
  * Scale shape: `parseWorkbook` is a pure function over the file bytes, so
  * the distributed path runs it inside the `binaryFiles` task of each file —
  * one task per workbook, parallel across the many-files 100 TB layout; no
  * driver-side whole-file reads. The S3 engine cascade sniffs magic bytes
  * and routes: zip container → this parser, OLE2 → [[XlsReader]] (BIFF8),
  * anything else → the typed reject channel. */
object ExcelReader {

  /** Column letters of a cell ref ("BC7" → 54, 0-based). -1 when absent. */
  private def colIndex(cellRef: String): Int = {
    var i = 0; var acc = 0
    while (i < cellRef.length && cellRef.charAt(i).isLetter) {
      acc = acc * 26 + (cellRef.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  private def collectText(r: XMLStreamReader, tag: String): String = {
    // reader is ON the START_ELEMENT of `tag`; gather all descendant text
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          sb.append(r.getText)
        case _ =>
      }
    }
    sb.toString
  }

  private def newReader(bytes: Array[Byte]): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** xl/sharedStrings.xml → indexed strings (rich-text runs concatenated). */
  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val out = Vector.newBuilder[String]
    val r = newReader(bytes)
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "si")
        out += collectSiText(r)
    }
    r.close()
    out.result()
  }

  /** Inside an <si> or <is>: concatenate every <t> descendant's text. */
  private def collectSiText(r: XMLStreamReader): String = {
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          if (r.getLocalName == "t") sb.append(collectText(r, "t"))
          else depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    }
    sb.toString
  }

  /** One worksheet XML → dense rows of string cells (sparse rows/cells gap-
    * filled with "" so positional semantics — buyer cell B3 — hold). */
  private def parseSheet(bytes: Array[Byte], shared: Vector[String]): Vector[Vector[String]] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val r = newReader(bytes)
    var curRow: scala.collection.mutable.ArrayBuffer[String] = null
    var rowNum = 0        // 1-based row number of the current <row>
    var colNum = -1       // 0-based index of the current <c>
    var cellType = ""
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "row" =>
            val rAttr = Option(r.getAttributeValue(null, "r"))
            rowNum = rAttr.map(_.toInt).getOrElse(rowNum + 1)
            while (rows.length < rowNum - 1) rows += Vector.empty // gap rows
            curRow = scala.collection.mutable.ArrayBuffer.empty[String]
            colNum = -1
          case "c" if curRow != null =>
            val ref = Option(r.getAttributeValue(null, "r"))
            colNum = ref.map(colIndex).filter(_ >= 0).getOrElse(colNum + 1)
            cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
            while (curRow.length < colNum) curRow += "" // gap cells
          case "v" if curRow != null =>
            val raw = collectText(r, "v")
            val value = cellType match {
              case "s" => raw.toIntOption.flatMap(shared.lift).getOrElse(raw)
              case _   => raw
            }
            if (curRow.length == colNum) curRow += value else curRow.append(value)
          case "is" if curRow != null => // inline string cell
            val v = collectSiText(r)
            if (curRow.length == colNum) curRow += v
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "row" && curRow != null =>
          rows += curRow.toVector
          curRow = null
        case _ =>
      }
    }
    r.close()
    rows.toVector
  }

  /** Whole workbook bytes → ordered (sheetName, rows) for every sheet.
    * Pure function — safe inside executor tasks. */
  def parseWorkbook(bytes: Array[Byte]): Seq[(String, Vector[Vector[String]])] = {
    // zip entries can arrive in any order; buffer the parts we need
    val parts = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    var e = zin.getNextEntry
    while (e != null) {
      val name = e.getName
      if (name == "xl/workbook.xml" || name == "xl/_rels/workbook.xml.rels" ||
          name == "xl/sharedStrings.xml" || name.startsWith("xl/worksheets/"))
        parts(name) = zin.readAllBytes()
      e = zin.getNextEntry
    }
    zin.close()

    val shared = parts.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)

    // rId → worksheet part path
    val rels = scala.collection.mutable.Map.empty[String, String]
    parts.get("xl/_rels/workbook.xml.rels").foreach { b =>
      val r = newReader(b)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val target = r.getAttributeValue(null, "Target")
          if (id != null && target != null)
            rels(id) = "xl/" + target.stripPrefix("/xl/").stripPrefix("xl/")
        }
      }
      r.close()
    }

    // workbook sheet list, in declared order
    val sheets = Vector.newBuilder[(String, String)] // (name, rId)
    parts.get("xl/workbook.xml").foreach { b =>
      val r = newReader(b)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          val name = r.getAttributeValue(null, "name")
          // r:id is namespace-qualified; match by local name
          val rid = (0 until r.getAttributeCount)
            .find(i => r.getAttributeLocalName(i) == "id")
            .map(r.getAttributeValue).orNull
          if (name != null && rid != null) sheets += ((name, rid))
        }
      }
      r.close()
    }

    sheets.result().flatMap { case (name, rid) =>
      rels.get(rid).flatMap(parts.get).map { sheetBytes =>
        name -> parseSheet(sheetBytes, shared)
      }
    }
  }

  /** S3's entry gate: magic-bytes format sniff — the engine cascade of
    * script_read_dbd_income.py:177-263 (sniff the container, then choose
    * openpyxl vs xlrd). Extensions are never trusted: an OLE2 `.xls`
    * renamed `.xlsx` still routes to the BIFF8 engine, and garbage is
    * REJECTED with a taxonomy reason instead of a zip stack trace. */
  def detectFormat(bytes: Array[Byte]): String = {
    def at(i: Int, v: Int) = i < bytes.length && (bytes(i) & 0xFF) == v
    if (at(0, 0x50) && at(1, 0x4B) && at(2, 0x03) && at(3, 0x04)) "xlsx_zip"
    else if (at(0, 0xD0) && at(1, 0xCF) && at(2, 0x11) && at(3, 0xE0)) "ole2"
    else "unknown"
  }

  private val gridSchema = StructType(Seq(
    StructField("source_file", StringType, nullable = false),
    StructField("source_sheet", StringType, nullable = true),
    StructField("sheet_idx", IntegerType, nullable = true),
    StructField("row_idx", LongType, nullable = true),
    StructField("cells", ArrayType(StringType), nullable = true),
    StructField("reject_reason", StringType, nullable = true)))

  /** Every sheet of every matching workbook as one tagged grid, plus one
    * reject row (null cells, `reject_reason` set) per file that fails the
    * magic-bytes sniff or zip/XML parse. One task per file (binaryFiles),
    * rows in file order per sheet. */
  def sheetsGridTagged(spark: SparkSession, path: String,
                       cacheRdd: Boolean = false): DataFrame = {
    val rows0 = spark.sparkContext.binaryFiles(path).flatMap { case (file, pds) =>
      val bytes = pds.toArray()
      def reject(reason: String) =
        Seq(Row(file, null, null, null, null, reason))
      detectFormat(bytes) match {
        case "xlsx_zip" =>
          try parseWorkbook(bytes).zipWithIndex.flatMap {
            case ((sheet, sheetRows), si) =>
              sheetRows.zipWithIndex.map { case (cells, ri) =>
                Row(file, sheet, si, ri.toLong, cells, null)
              }
          } catch { case e: Exception =>
            reject(s"xlsx_parse_error: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        case "ole2" =>
          // the legacy-engine leg of the cascade: same grid contract as
          // the zip path, so downstream union/cleanse code never sees
          // which engine parsed the workbook
          try XlsReader.parseWorkbook(bytes).zipWithIndex.flatMap {
            case ((sheet, sheetRows), si) =>
              sheetRows.zipWithIndex.map { case (cells, ri) =>
                Row(file, sheet, si, ri.toLong, cells, null)
              }
          } catch { case e: Exception =>
            reject(s"xls_parse_error: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        case _ =>
          reject("unknown_format: no zip (PK) signature")
      }
    }
    // cacheRdd: cache at the RDD layer, NOT DataFrame.persist — RDD cache
    // entries are released by Spark's ContextCleaner as soon as the RDD
    // becomes unreachable, so a multi-pass consumer (multiSheetUnion's
    // metadata pass + data pass) parses each workbook once WITHOUT
    // leaking a CacheManager entry past the call (DataFrame persist is
    // never auto-evicted and was accumulating one grid per call)
    val rows = if (cacheRdd)
      rows0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else rows0
    spark.createDataFrame(rows, gridSchema)
  }

  /** S4 back-compat view: valid rows only (rejected files dropped). */
  def sheetsGrid(spark: SparkSession, path: String): DataFrame =
    sheetsGridTagged(spark, path)
      .where(col("reject_reason").isNull).drop("reject_reason")

  /** S2: multi-sheet concat with `source_file`/`source_sheet` tags — header
    * promoted from each sheet's row `headerIdx`, all-empty sheets dropped
    * (supplier_processor.py:122-133: parse every sheet, skip
    * `isnull().all().all()`, tag, concat). Column sets may differ per sheet
    * AND per workbook; the union aligns by name with missing columns null,
    * and every sheet's columns resolve against ITS OWN file's header (two
    * workbooks sharing a sheet name never cross-contaminate).
    *
    * Scale shape: per-sheet headers + emptiness come from ONE conditional
    * aggregation over the grid — a single job for N workbooks × M
    * sheets, not a driver job per sheet. */
  def multiSheetUnion(spark: SparkSession, path: String,
                      headerIdx: Long = 0): DataFrame =
    multiSheetUnionWithRejects(spark, path, headerIdx)._1

  /** [[multiSheetUnion]] plus the reject channel: (rows, rejects) where
    * rejects = (source_file, reject_reason) for files failing the format
    * sniff or parse.
    *
    * Scale shape: per-sheet header metadata NEVER rides through the
    * driver as per-file maps — the (file, sheet) → name-position map is
    * computed as a DataFrame (header normalization + uniquify as array
    * expressions) and joins the cell rows as a broadcast, so nothing
    * driver-side scales with FILE COUNT. The one driver action left is
    * the output-column name list — the distinct header VOCABULARY across
    * the glob — which is driver-bound by definition (a DataFrame schema
    * is a driver object) and bounded by how many distinct column names
    * exist, not how many workbooks. At many-million-file scale with a
    * big metadata frame, drop the broadcast hint and let the (file,
    * sheet) equi-join shuffle — the resolution logic is unchanged. */
  def multiSheetUnionWithRejects(spark: SparkSession, path: String,
                                 headerIdx: Long = 0): (DataFrame, DataFrame) = {
    // grid cache lives at the RDD layer (ContextCleaner-released when the
    // returned frames are dropped); the per-sheet metadata frame is tiny
    // and localCheckpoint(eager) both materializes it ONCE for its two
    // consumers (schema collect + broadcast join) and cuts its lineage
    // off the grid, so the data pass is the only post-metadata grid scan.
    // localCheckpoint is NON-reliable: the blocks live on executors, so
    // on a real cluster an executor loss mid-query fails the job instead
    // of recomputing — acceptable for this kilobyte-scale metadata frame
    // (re-running the read is cheap); a reliable checkpoint would buy
    // fault tolerance at the cost of a distributed-FS round trip
    val tagged = sheetsGridTagged(spark, path, cacheRdd = true)
    val rejects = tagged.where(col("reject_reason").isNotNull)
      .select(col("source_file"), col("reject_reason"))
    val grid = tagged.where(col("reject_reason").isNull)

    // ONE aggregation for all sheet metadata: per (file, sheet), the
    // header row and whether any data row has a non-blank cell; header
    // names normalize (trim, blank→"col") and uniquify (k-th duplicate
    // gets _k — TextClean.uniquifyHeaders as an array expression) and
    // fold into the name→position map, all WITHOUT leaving executors
    val hdrn = transform(col("__hdr"),
      h => coalesce(nullif(trim(h), lit("")), lit("col")))
    val metaDf = grid.groupBy("source_file", "source_sheet").agg(
        max(when(col("row_idx") === headerIdx, col("cells"))).as("__hdr"),
        max(when(col("row_idx") > headerIdx &&
          exists(col("cells"), c => c.isNotNull && trim(c) =!= ""), 1)
          .otherwise(0)).as("__has_data"))
      // size > 0: a header row that parses to ZERO cells has no columns
      // to resolve — drop the sheet (the driver-era path's tolerance);
      // left in, map_from_arrays would meet sequence(1,0) = [1,0] (Spark
      // sequences DESCEND to an end below start) and throw on mismatched
      // key/value lengths at runtime
      .where(col("__has_data") === 1 && col("__hdr").isNotNull &&
        size(col("__hdr")) > 0)
      .withColumn("__hdrn", hdrn)
      .withColumn("__names", transform(col("__hdrn"), (h, i) => {
        val k = size(filter(slice(col("__hdrn"), lit(1), i + 1), x => x === h))
        when(k === 1, h).otherwise(concat(h, lit("_"), k.cast("string")))
      }))
      .select(col("source_file"), col("source_sheet"), col("__names"),
        map_from_arrays(col("__names"),
          sequence(lit(1), size(col("__names")))).as("__pos"))
      .localCheckpoint(true)

    // output columns: every name, first-seen order across (file, sheet)
    // — the schema collect, bounded by header-name vocabulary
    val allNames = metaDf
      .select(col("source_file"), col("source_sheet"),
        posexplode(col("__names")).as(Seq("__idx", "__name")))
      .groupBy("__name")
      .agg(min(struct(col("source_file"), col("source_sheet"), col("__idx")))
        .as("__k"))
      .orderBy("__k")
      .select("__name").collect().map(_.getString(0)).toSeq

    if (allNames.isEmpty) return (spark.emptyDataFrame, rejects)

    // the rows come back in ONE scan: each row joins its own sheet's
    // name→position map (broadcast — sheet metadata is small) and resolves
    // every output column positionally against ITS OWN header, so files
    // with drifted column order still land correctly (the poCsvMany trick)
    val data = grid.where(col("row_idx") > headerIdx)
      .join(broadcast(metaDf.select("source_file", "source_sheet", "__pos")),
        Seq("source_file", "source_sheet"))
    val projected = data.select(
      col("source_file") +: col("source_sheet") +: col("row_idx") +:
        allNames.map { n =>
          // try_: a name absent from this sheet's header → null column
          // (allowMissingColumns semantics), a ragged row shorter than its
          // header → null cell — not an ANSI out-of-bounds error
          val v = try_element_at(col("cells"), try_element_at(col("__pos"), lit(n)))
          when(v === "", lit(null)).otherwise(v).as(n)
        }: _*)
    (projected, rejects)
  }
}
