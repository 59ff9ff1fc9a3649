package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonProcessingException,
  JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion readers for hostile sources (SURVEY.md §2.1).
  *
  * All readers ingest permissively (every cell a string) and leave
  * canonicalization to the cleanse layer — schemas are never inferred from
  * dirty data (SURVEY §7.4.5). */
object Ingest {

  /** S1: the candidate encodings, tried in order until one decodes a
    * file's first 64 KB without a malformed or unmappable byte
    * (read_po_csv_to_json.py:38-44 tries utf-8-sig, utf-8, cp874, tis-620,
    * latin1). Spark won't retry encodings natively, so [[linesPerFile]]
    * probes and decodes each file inside the task that read it. */
  val defaultEncodings: Seq[String] = Seq("UTF-8", "x-windows-874", "TIS-620", "ISO-8859-1")

  /** Drop a possibly-split trailing multi-byte char (UTF-8 continuations
    * 10xxxxxx + their lead) from a truncated sample, so the cut itself
    * can't fail the probe. */
  private def trimSplitTail(buf: Array[Byte]): Array[Byte] = {
    var end = buf.length
    while (end > 0 && (buf(end - 1) & 0xC0) == 0x80) end -= 1
    if (end > 0 && (buf(end - 1) & 0xC0) == 0xC0) end -= 1
    java.util.Arrays.copyOf(buf, end)
  }

  /** Pick the first candidate that decodes `sample` cleanly. */
  private def detectEncodingFromBytes(sample: Array[Byte], encodings: Seq[String]): String =
    encodings.find { enc =>
      try {
        val cs = java.nio.charset.Charset.forName(enc)
        val dec = cs.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        dec.decode(java.nio.ByteBuffer.wrap(sample))
        true
      } catch { case _: java.nio.charset.CharacterCodingException => false }
    }.getOrElse("ISO-8859-1") // latin1 accepts any byte sequence — last resort

  private def stripBomChar(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s

  /** Every file under `path` as (path, length, content): the `binaryFile`
    * source, plus the zero-byte files of the same driver listing as empty
    * content — the source makes no row for an empty file, and a delivered
    * file must not vanish without a trace. `path` is a file, a directory or
    * a glob (`{a,b}` braces for a set of files). */
  private def deliveredFiles(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("length"), col("content"))
    val empty = files.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _) => i.allFiles() }
      .flatten.filter(_.getLen == 0).map(_.getPath.toString)
    if (empty.isEmpty) files
    else files.unionByName(empty.map((_, 0L, Array.emptyByteArray)).toDF("path", "length", "content"))
  }

  /** The per-file frame every file reader shares: `kernel(file, bytes)`
    * runs inside the task that loaded the file — a zero-byte file too,
    * with no bytes — and its rows, of `schema`, are the frame. A reader
    * with a reject channel turns a file it cannot read into [[rejectRow]];
    * one without lets the kernel throw, naming the file. */
  private[graft] def perFile(spark: SparkSession, path: String, schema: StructType)(
      kernel: (String, Array[Byte]) => IterableOnce[Row]): DataFrame =
    deliveredFiles(spark, path).select(col("path"), col("content"))
      .flatMap(r => kernel(r.getString(0), r.getAs[Array[Byte]](1)))(Encoders.row(schema))

  /** The reject row of `schema` for `file`: source_file, nulls, then
    * reject_reason (the schema's first and last columns). */
  private[graft] def rejectRow(schema: StructType, file: String, reason: String): Row =
    Row.fromSeq(file +: Seq.fill(schema.length - 2)(null) :+ reason)

  /** `rows`, or the one [[rejectRow]] `prefix: <exception class>: <message>`
    * when computing them throws. */
  private[graft] def rowsOrReject(schema: StructType, file: String, prefix: String)(
      rows: => Seq[Row]): Seq[Row] =
    try rows
    catch { case e: Exception =>
      Seq(rejectRow(schema, file, s"$prefix: ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** Decode one whole file: the charset is probed from its first 64 KB,
    * a leading BOM is dropped (utf-8-sig semantics: it never reaches the
    * first cell) and the text is split into lines. Returns (encoding, lines). */
  private def decodeLines(bytes: Array[Byte],
                          encodings: Seq[String]): (String, Array[String]) = {
    val sample =
      if (bytes.length <= 64 * 1024) bytes
      else trimSplitTail(java.util.Arrays.copyOf(bytes, 64 * 1024))
    val enc = detectEncodingFromBytes(sample, encodings)
    val text = stripBomChar(new String(bytes, java.nio.charset.Charset.forName(enc)))
    (enc, text.split("\r?\n", -1))
  }

  private val linesPerFileSchema = StructType(Seq(
    StructField("source_file", StringType, nullable = false),
    StructField("encoding", StringType, nullable = false),
    StructField("lines", ArrayType(StringType), nullable = false)))

  /** S1 at scale — MANY files, each with its own unknown encoding, one row
    * per file: (source_file, encoding, lines). The probe and the decode run
    * inside the task that reads the file, so nothing per-file touches the
    * driver, and a per-file kernel sees its whole file in one row (a
    * zero-byte file: one empty line). Built on [[perFile]]: the `binaryFile`
    * source packs files into partitions by `spark.sql.files.openCostInBytes`
    * — small files spread over the cores instead of sharing one split. */
  def linesPerFile(spark: SparkSession, pathGlob: String,
                   encodings: Seq[String] = defaultEncodings): DataFrame =
    perFile(spark, pathGlob, linesPerFileSchema) { (file, bytes) =>
      val (enc, lines) = decodeLines(bytes, encodings)
      Iterator.single(Row(file, enc, scala.collection.immutable.ArraySeq.unsafeWrapArray(lines)))
    }

  /** [[linesPerFile]] one row per line: (source_file, encoding, line_no,
    * line), line_no counting from 0 within the file. Feed the `line` column
    * to `spark.read.csv(Dataset[String])` to parse it as CSV. */
  def csvLinesPerFileEncoding(spark: SparkSession, pathGlob: String,
                              encodings: Seq[String] = defaultEncodings): DataFrame =
    linesPerFile(spark, pathGlob, encodings)
      .select(col("source_file"), col("encoding"),
        posexplode(col("lines")).as(Seq("line_no", "line")))
      .withColumn("line_no", col("line_no").cast(LongType))

  /** S10: streaming JSON scan with a JSON-pointer-style sub-array
    * (`/records`), as the importers do with JsonMachine
    * (ImportInvoiceReport.php:70-79), with the record fields inferred:
    * Spark's multiLine JSON scan infers them in a pass of its own, and the
    * pointer becomes explode(records). The pipelines read through the
    * declared-field form below. */
  def jsonPointer(spark: SparkSession, path: String, pointer: String): DataFrame = {
    val field = pointer.stripPrefix("/")
    spark.read.option("multiLine", "true").json(path)
      .select(explode(col(field)).as("r"))
      .select(col("r.*"))
  }

  /** [[jsonPointer]] with a declared record schema, as a per-file kernel
    * ([[perFile]]): the task that loaded the file streams it through
    * Jackson once, emitting each record under the pointer as the string
    * columns `fields` — a string as its text, a number or boolean as its
    * exact token text, a nested value as its JSON text, a null or absent
    * field as null (the strings Spark's multiLine reader gives for the same
    * declared schema); undeclared fields are skipped. No inference pass
    * and no second parse. A delivery file that is empty, truncated or not
    * JSON, or has no array at the pointer fails the read with its path in
    * the message: it never reads as zero rows. */
  def jsonPointer(spark: SparkSession, path: String, pointer: String,
                  fields: Seq[String]): DataFrame = {
    val steps = pointer.split('/').filter(_.nonEmpty).toSeq
    val names = fields.toArray
    perFile(spark, path, StructType(fields.map(StructField(_, StringType)))) { (file, bytes) =>
      jsonRecords(file, bytes, steps, names).iterator
        .map(rec => Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(rec)))
    }
  }

  // Spark's JSON reader defaults: single quotes and NaN/Infinity allowed
  private val jsonFactory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /** A nested value as its JSON source text, as Spark's exact string
    * parsing reads it into a string column; compact JSON when the parser
    * decoded the bytes through a reader (UTF-16/32) and has no byte offsets. */
  private def nestedText(p: JsonParser, bytes: Array[Byte]): String = {
    val from = p.currentTokenLocation().getByteOffset
    if (from >= 0) {
      p.skipChildren()
      new String(bytes, from.toInt, (p.currentLocation().getByteOffset - from).toInt,
        java.nio.charset.StandardCharsets.UTF_8)
    } else {
      val w = new java.io.StringWriter()
      val g = jsonFactory.createGenerator(w)
      try g.copyCurrentStructure(p) finally g.close()
      w.toString
    }
  }

  /** The [[jsonPointer]] kernel over one whole file: the declared `fields`
    * of every record in the array at `pointer` (object keys from the
    * root). A null element reads as an all-null record. */
  private[graft] def jsonRecords(file: String, bytes: Array[Byte], pointer: Seq[String],
                                 fields: Array[String]): Array[Array[String]] = {
    import JsonToken._
    def fail(why: String) = throw new java.io.IOException(s"$file: $why")
    def noArray = fail(s"no array at ${pointer.mkString("/", "/", "")}")
    val at = fields.zipWithIndex.toMap
    val p = jsonFactory.createParser(bytes)
    try {
      p.nextToken()
      pointer.foreach { key =>
        if (p.currentToken != START_OBJECT) noArray
        while (p.nextToken() == FIELD_NAME && p.currentName != key) { p.nextToken(); p.skipChildren() }
        if (p.currentToken != FIELD_NAME) noArray
        p.nextToken()
      }
      if (p.currentToken != START_ARRAY) noArray
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
      while (p.nextToken() != END_ARRAY) {
        val rec = new Array[String](fields.length)
        if (p.currentToken == START_OBJECT) {
          while (p.nextToken() == FIELD_NAME) {
            val k = at.getOrElse(p.currentName, -1)
            p.nextToken() match {
              case _ if k < 0 => p.skipChildren()
              case VALUE_NULL => rec(k) = null
              case START_OBJECT | START_ARRAY => rec(k) = nestedText(p, bytes)
              case _ => rec(k) = p.getText
            }
          }
        } else if (p.currentToken != VALUE_NULL) fail(s"record ${out.length} is not an object")
        out += rec
      }
      while (p.nextToken() != null) {} // the rest must parse too: no truncation
      out.toArray
    } catch {
      case e: JsonProcessingException => fail(s"corrupt JSON: ${e.getOriginalMessage}")
    } finally p.close()
  }

  /** C44 ragged-row pad/truncate (`normalize_columns`,
    * pdf_ocr_sale_invoice_to_json.py:96-106): every row is brought to the
    * common width = max(header length, widest row) — shorter rows pad with
    * "", longer rows slice (the reference's truncate branch; unreachable
    * for data rows since the width maximum covers them, live for headers).
    * Absent headers become synthetic `col_1..col_n`. Width is one tiny
    * aggregate; the normalization itself is a pure array projection.
    * Returns (column names, normalized grid). */
  def padTruncate(gridDf: DataFrame,
                  header: Option[Seq[String]] = None): (Seq[String], DataFrame) = {
    // an empty grid (every file rejected) has no widest row: width 0
    val widest = gridDf.agg(coalesce(max(size(col("cells"))), lit(0))).first().getInt(0)
    val width = math.max(header.map(_.length).getOrElse(0), widest)
    val names = header match {
      case Some(h) => h.padTo(width, "").take(width)
      case None    => (1 to width).map(i => s"col_$i")
    }
    val normalized = gridDf.withColumn("cells",
      slice(concat(col("cells"),
        array_repeat(lit(""), lit(width))), 1, width))
    (names, normalized)
  }

  /** Incremental-ingestion ledger: the current file inventory under
    * `path` (name, size, content md5 — computed inside each file's own
    * `binaryFile` task, the C48 envelope distributed) full-outer-joined
    * against the previous run's manifest, classifying every file as
    * new / changed / unchanged / deleted. Feeding only the new+changed
    * set into a pipeline makes re-runs incremental and idempotent — the
    * engine-side spelling of the reference's md5+metadata capture
    * (`pdf_ocr_dbd_to_json.py:97-103,445-456`), which exists precisely
    * so re-processing can recognize files it has already seen.
    *
    * Scale shape: the exchange carries one (name, size, md5) row per
    * FILE — inventory-sized, never content-sized; content bytes never
    * leave the scan task that hashes them. */
  def deltaFiles(spark: SparkSession, path: String,
                 manifest: DataFrame): DataFrame = {
    // a zero-byte file is in the inventory with size 0 and the md5 of no bytes
    val inv = deliveredFiles(spark, path)
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        col("length").as("size_bytes"),
        md5(col("content")).as("file_md5"))
    inv.join(manifest.select(col("file_name"), col("md5").as("__prev")),
        Seq("file_name"), "full_outer")
      .select(col("file_name"), col("size_bytes"), col("file_md5"),
        when(col("__prev").isNull, lit("new"))
          .when(col("file_md5").isNull, lit("deleted"))
          .when(col("file_md5") === col("__prev"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

}
