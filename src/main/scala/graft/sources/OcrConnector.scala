package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S8: remote-OCR API connector — the acquisition step that turns scanned
  * PDFs/images into the HTML tables [[HtmlTables]] scans. Mirrors the
  * reference connector (pdf_ocr_sale_invoice_to_json.py:34-68): multipart
  * POST of the file plus task parameters under a bearer token, then a
  * per-page walk of the response
  * (`results[] → message.choices[0].message.content`, content itself JSON
  * holding `html` or `natural_text`), pages joined with newlines.
  *
  * The transport is pluggable — `OcrRequest => (status, body)` — the K3
  * pattern: the connector is fully unit-testable offline, and a deployment
  * passes a `java.net.http`-based function. Each file's request runs in the
  * task that loaded the file, through the one per-file frame
  * [[Ingest.perFile]], so a directory of scans fans out across executors
  * with no driver loop; failures land in the reject channel with the HTTP
  * status, not as task crashes, one [[Ingest.rejectRow]] per file. */
object OcrConnector {

  /** A fully-shaped request: what the transport must send. */
  case class OcrRequest(url: String, headers: Map[String, String],
                        fields: Seq[(String, String)],
                        fileName: String, fileBytes: Array[Byte]) {
    /** RFC 2046 multipart/form-data encoding of fields + file. */
    def multipartBody(boundary: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def write(s: String): Unit = out.write(s.getBytes("UTF-8"))
      fields.foreach { case (k, v) =>
        write(s"--$boundary\r\n")
        write(s"""Content-Disposition: form-data; name="$k"\r\n\r\n""")
        write(s"$v\r\n")
      }
      write(s"--$boundary\r\n")
      write(s"""Content-Disposition: form-data; name="file"; filename="$fileName"\r\n""")
      write("Content-Type: application/octet-stream\r\n\r\n")
      out.write(fileBytes)
      write(s"\r\n--$boundary--\r\n")
      out.toByteArray
    }
  }

  /** Request shaping, field-for-field the reference's `data` dict. */
  def buildRequest(url: String, apiKey: String, fileName: String,
                   fileBytes: Array[Byte], taskType: String,
                   maxTokens: Int = 16000, temperature: Double = 0.1,
                   topP: Double = 0.6, repetitionPenalty: Double = 1.2,
                   pages: Seq[Int] = Nil): OcrRequest = {
    val fields = Seq(
      "task_type" -> taskType,
      "max_tokens" -> maxTokens.toString,
      "temperature" -> temperature.toString,
      "top_p" -> topP.toString,
      "repetition_penalty" -> repetitionPenalty.toString) ++
      (if (pages.nonEmpty) Seq("pages" -> pages.mkString("[", ", ", "]")) else Nil)
    OcrRequest(url, Map("Authorization" -> s"Bearer $apiKey"), fields,
      fileName, fileBytes)
  }

  /** Response walk (pdf_ocr_sale_invoice_to_json.py:55-68): per page-result
    * take `message.choices[0].message.content`; the content is itself JSON
    * carrying `html` (or `natural_text`) — fall back to the raw content
    * when it is not; failed pages are skipped. Pages join with "\n". */
  def extractText(responseBody: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(responseBody)
    val pages = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = root.path("results")
    var i = 0
    while (i < results.size()) {
      val page = results.get(i)
      if (page.path("success").asBoolean(false) && page.hasNonNull("message")) {
        val content = page.path("message").path("choices").path(0)
          .path("message").path("content").asText("")
        val text =
          try {
            val parsed = mapper.readTree(content)
            if (parsed.hasNonNull("html")) parsed.get("html").asText
            else if (parsed.hasNonNull("natural_text")) parsed.get("natural_text").asText
            else content
          } catch { case _: Exception => content }
        pages += text
      }
      i += 1
    }
    pages.mkString("\n")
  }

  private val ocrSchema = StructType(Seq(
    StructField("source_file", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("reject_reason", StringType, nullable = true)))

  /** S6's relational slice: multi-pass OCR voting merge. The reference
    * rasterizes each page, OCRs several preprocessed variants (Otsu /
    * adaptive-threshold / bilateral), keeps each pass's stripped text if
    * non-empty and NOT already seen, and joins the survivors with a
    * newline — first-occurrence order (pdf_ocr_rm_to_json.py:105-113).
    * Only the rasterize+Tesseract step itself is external; given pass
    * rows `(file, page, pass_idx, text)` this reproduces the merged
    * per-page text exactly.
    *
    * Spelled as two aggregations (min pass per distinct text, then an
    * ordered array_join) — a pass emits ONE text, so the per-text min
    * pass index is unique and the order deterministic. Scale: both
    * aggregations shuffle on (file, page) — pass fan-in is tiny (≤3). */
  def mergeOcrPasses(passes: DataFrame, fileCol: String, pageCol: String,
                     passIdxCol: String, textCol: String): DataFrame = {
    val t = trim(col(textCol))
    val merged = passes.where(t =!= "")
      .groupBy(col(fileCol), col(pageCol), t.as("__t"))
      .agg(min(col(passIdxCol)).as("__first"))
      .groupBy(col(fileCol), col(pageCol))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("__first"), col("__t")))),
          s => s.getField("__t")), "\n").as("__text"))
    // a page whose passes are ALL blank still emits a row with "" — the
    // reference appends {page, text: ""} unconditionally
    passes.select(col(fileCol), col(pageCol)).distinct()
      .join(merged, Seq(fileCol, pageCol), "left")
      .withColumn("text", coalesce(col("__text"), lit("")))
      .drop("__text")
  }

  /** S6: the LOCAL offline OCR pipeline — rasterize → multi-pass OCR →
    * voting merge — with the rasterizer and per-pass engine pluggable,
    * mirroring the S8 transport pattern. The reference leg
    * (pdf_ocr_rm_to_json.py:81-115) shells out to pdf2image + OpenCV
    * preprocessing (Otsu / adaptive threshold / bilateral) + Tesseract;
    * none of those are library dependencies here, so a deployment passes
    * functions wrapping them, while everything Spark-side is real and
    * tested: the [[Ingest.perFile]] fan-out (no driver loop), per-(page,
    * pass) row shaping, the [[mergeOcrPasses]] voting merge, and the
    * reject channel for rasterizer/engine failures.
    *
    * `rasterizer(pdfBytes, dpi)` returns one image per page;
    * `ocrPass(imageBytes, passIdx)` runs preprocessing variant `passIdx`
    * and OCRs it. Both run inside the file's task, so a directory of
    * scans parallelizes across executors exactly like [[ocrFiles]]. */
  def localOcrPdfs(spark: SparkSession, path: String, dpi: Int, nPasses: Int,
                   rasterizer: (Array[Byte], Int) => Seq[Array[Byte]],
                   ocrPass: (Array[Byte], Int) => String): DataFrame = {
    require(nPasses >= 1, s"nPasses must be >= 1: $nPasses")
    val passSchema = StructType(Seq(
      StructField("source_file", StringType, nullable = false),
      StructField("page", LongType, nullable = true),
      StructField("pass_idx", IntegerType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("reject_reason", StringType, nullable = true)))
    // persist before branching: the merged and reject branches of the
    // union would otherwise EACH recompute the rasterize+OCR scan — with
    // real pdf2image/Tesseract that doubles the dominant cost, and a
    // transient per-pass failure could land differently in the two scans.
    // The cache ends once the result (one row per page) is cut.
    val passes = Ingest.perFile(spark, path, passSchema) { (file, bytes) =>
      Ingest.rowsOrReject(passSchema, file, "rasterize_error") {
        rasterizer(bytes, dpi).zipWithIndex.flatMap { case (img, p) =>
          (0 until nPasses).map { i =>
            try Row(file, (p + 1).toLong, i, ocrPass(img, i), null)
            catch { case e: Exception =>
              Row(file, (p + 1).toLong, i, null,
                s"ocr_pass_error: ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          }
        }
      }
    }.persist()
    val merged = mergeOcrPasses(
        passes.where(col("reject_reason").isNull),
        "source_file", "page", "pass_idx", "text")
      .withColumn("reject_reason", lit(null).cast(StringType))
    val rejects = passes.where(col("reject_reason").isNotNull)
      .select(col("source_file"), col("page"),
        lit(null).cast(StringType).as("text"), col("reject_reason"))
    try graft.core.Checkpoints.cut(
      merged.select("source_file", "page", "text", "reject_reason").unionByName(rejects))
    finally passes.unpersist(false)
  }

  /** Distributed acquisition: every file under `path` is shaped, posted
    * through `transport` inside its own task, and extracted —
    * (source_file, text, reject_reason), with non-2xx/throwing transports
    * landing in the reject channel. `transport` must be serializable
    * (a plain function; the real one closes over a java.net.http client
    * created per partition). */
  def ocrFiles(spark: SparkSession, path: String, url: String, apiKey: String,
               taskType: String,
               transport: OcrRequest => (Int, String)): DataFrame =
    Ingest.perFile(spark, path, ocrSchema) { (file, bytes) =>
      val name = file.substring(file.lastIndexOf('/') + 1)
      Ingest.rowsOrReject(ocrSchema, file, "ocr_transport_error") {
        val (status, body) = transport(buildRequest(url, apiKey, name, bytes, taskType))
        if (status >= 200 && status < 300) Seq(Row(file, extractText(body), null))
        else Seq(Ingest.rejectRow(ocrSchema, file, s"ocr_http_$status"))
      }
    }
}
