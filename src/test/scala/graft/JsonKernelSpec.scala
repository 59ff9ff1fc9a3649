package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.scalacheck.Gen

import graft.pipelines.Pipelines
import graft.sources.Ingest

/** The per-file JSON kernel behind `Ingest.jsonPointer`'s declared-field
  * read: row-identical to Spark's multiLine reader with the same declared
  * schema on well-formed files, and loud where that reader returned zero
  * rows. */
class JsonKernelSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T]): T = Iterator.continually(g.sample).flatten.next()

  private def tmpDir(tag: String): Path = Files.createTempDirectory(s"graft_$tag")

  private def write(dir: Path, name: String, text: String): Path =
    Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8))

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Scalar JSON values as they appear in a delivery file, written as JSON
    * source text. */
  private val scalar: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("รายได้รวม", "กำไร(ขาดทุน)สุทธิ", "บริษัท \"ทดสอบ\" จำกัด", "a\\b", "line\nbreak",
      "tab\there", "", " ", "1,000.00", "(500.00)", "-", "PO:1013090869", "ต้นทุนขาย/COGS")
      .map(quote),
    1 -> Gen.const("\"\\u0e01\\u0E02 \\/ \\\"\""), // escaped Thai, solidus and quote
    3 -> Gen.oneOf("0", "7", "-20", "2022", "1234567890123", "-0"),
    3 -> Gen.oneOf("1.50", "0.000", "-7.25", "1234.5", "100.10", "3.14159265358979323846"),
    2 -> Gen.oneOf("1e5", "1E+2", "-2.5E-3", "6.02e23", "0e0"),
    1 -> Gen.oneOf("true", "false"),
    2 -> Gen.const("null"))

  /** Nested values: a declared field reads them as their source text. */
  private val nested: Gen[String] =
    Gen.oneOf("""{"a": [1, {"b": null}],  "c" : "ก"}""", "[1, 2.50, \"y\"]", "[ ]", "{}")

  /** An undeclared field may hold anything. */
  private val extra: Gen[String] = Gen.oneOf(scalar, nested)

  private val declared = Seq("tax_id", "fiscal_year", "item_th", "amount", "Invoice No.")

  private def record: Gen[String] = for {
    present <- Gen.someOf(declared)
    values <- Gen.listOfN(present.size, Gen.frequency(12 -> scalar, 1 -> nested))
    nExtra <- Gen.choose(0, 2)
    extras <- Gen.listOfN(nExtra, extra)
    sep <- Gen.oneOf(", ", ",\n   ", ",")
  } yield {
    val fields = present.zip(values).map { case (k, v) => s"${quote(k)}: $v" } ++
      extras.zipWithIndex.map { case (v, i) => s"${quote(s"extra_$i")}: $v" }
    scala.util.Random.shuffle(fields).mkString("{", sep, "}")
  }

  /** Spark's multiLine reader with the declared all-string schema. */
  private def multiLineRead(path: String, fields: Seq[String]): DataFrame = {
    val rec = StructType(fields.map(StructField(_, StringType)))
    spark.read.schema(StructType(Seq(StructField("records", ArrayType(rec)))))
      .option("multiLine", "true").json(path)
      .select(explode(col("records")).as("r")).select(col("r.*"))
  }

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
      .sortBy(_.map(v => if (v == null) "\u0000null" else v).mkString("\u0001"))

  test("the JSON kernel is row-identical to the declared-schema multiLine read") {
    for (round <- 0 until 3) {
      val dir = tmpDir("json_kernel")
      (0 until 6).foreach { f =>
        val recs = Seq.fill(sample(Gen.choose(0, 40)))(sample(record)) ++
          (if (f == 2) Seq("null") else Nil) // a null element reads as an all-null row
        val meta = if (f % 2 == 0) """"meta": {"source": "ocr", "pages": [1, 2]}, """ else ""
        val text = s"{$meta\"records\": [\n  ${recs.mkString(",\n  ")}\n]}\n"
        // one file carries a UTF-8 BOM
        Files.write(dir.resolve(s"part_$f.json"),
          (if (f == 4) "\uFEFF" + text else text).getBytes(StandardCharsets.UTF_8))
      }
      val fields = scala.util.Random.shuffle(declared).take(4 + round % 2)
      val kernel = Ingest.jsonPointer(spark, dir.toString, "/records", fields)
      assert(kernel.schema == StructType(fields.map(StructField(_, StringType))))
      val want = rows(multiLineRead(dir.toString, fields))
      assert(want.nonEmpty)
      assert(rows(kernel) == want, s"round $round, fields $fields")
    }
  }

  private def invoiceFile(n: Int, seed: Int): String = (0 until n).map { i =>
    val bad = (i + seed) % 5 == 0 // no supplier digits: a reject
    s"""{"Invoice No.": "IV${seed}0$i", "Supplier Code": "${if (bad) "S-x" else s"7219$i"}",
       | "Invoice Date": "01/07/2568", "Invoice Received Date": "2025-07-03 10:22:00",
       | "Related Document": "PO:10130908$i", "Amount": ${i * 10}.50, "Status": "PAID"}""".stripMargin
  }.mkString("{\"records\": [\n", ",\n", "\n]}\n")

  private def dbdFile(n: Int, seed: Int): String = (0 until n).map { i =>
    val item = Seq("รายได้รวม", "ต้นทุนขาย", "กำไร(ขาดทุน)สุทธิ")(i % 3)
    f"""{"tax_id": "01055370$seed%01d${i / 3}%04d", "fiscal_year": ${2020 + seed},
       | "item_th": "$item", "amount": "${i * 100}.00"}""".stripMargin
  }.mkString("{\"records\": [\n", ",\n", "\n]}\n")

  test("hostile JSON delivery files fail the read loudly, naming the file") {
    def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
    def gzip(s: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream
      val z = new java.util.zip.GZIPOutputStream(buf)
      try z.write(utf8(s)) finally z.close()
      buf.toByteArray
    }
    // the kernel reads a file's bytes as they are: a gzip delivery is not JSON
    val hostile: Seq[(String, String => Array[Byte])] = Seq(
      "truncated.json" -> (good => utf8(good.take(good.length / 2))),
      "no_pointer.json" -> (_ => utf8("""{"meta": {}, "rows": [{"tax_id": "1"}]}""")),
      "not_array.json" -> (_ => utf8("""{"records": {"tax_id": "1"}}""")),
      "null_pointer.json" -> (_ => utf8("""{"records": null}""")),
      "zero_byte.json" -> (_ => Array.emptyByteArray),
      "gzip.json.gz" -> (good => gzip(good)))
    val existing = Seq.empty[(String, Int, Option[Double], Option[Double], Option[Double])]
      .toDF("tax_id", "fiscal_year", "total_revenue", "cost_of_goods_sold", "net_profit")
    val deliveries: Seq[(String, (Int, Int) => String, String => Long)] = Seq(
      ("invoice", invoiceFile, { dir =>
        val (valid, rejects) = Pipelines.invoiceReport(spark, dir)
        valid.count() + rejects.count()
      }),
      ("dbd", dbdFile, dir => Pipelines.dbdFinancial(spark, dir, existing).count()))
    for ((kind, file, run) <- deliveries) {
      val clean = tmpDir(s"${kind}_clean")
      (0 until 3).foreach(s => write(clean, s"$kind-$s.json", file(30, s)))
      // every record of a clean delivery lands: 90 invoices, 3 x 10 companies
      assert(run(clean.toString) == (if (kind == "invoice") 90L else 30L))
      for ((fault, make) <- hostile) {
        val dir = tmpDir(s"${kind}_$fault")
        (0 until 3).foreach(s => write(dir, s"$kind-$s.json", file(30, s)))
        Files.write(dir.resolve(s"bad_$fault"), make(file(30, 9)))
        val e = withClue(s"$kind/$fault: ")(intercept[Exception](run(dir.toString)))
        assert(messages(e).contains(s"bad_$fault"), s"$kind/$fault: ${messages(e)}")
      }
    }
  }
}
