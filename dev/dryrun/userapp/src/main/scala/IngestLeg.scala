// DEPLOY dry run, leg 3: the dirty-source ingest surface as a user —
// encoding-probing CSV, multi-sheet Excel (xlsx + legacy xls), PDF
// positioned tables, all through the packaged jar via spark-submit.
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.{Ingest, ExcelReader, PdfReader}

object IngestLeg {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: IngestLeg <fixtureDir>")
    val dir = args(0)
    val spark = SparkSession.builder().appName("ingest-leg").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // CSV whose encoding must be sniffed (the reference's TIS-620 world):
    // each file decoded in its own task, its lines parsed as CSV
    import spark.implicits._
    val lines = Ingest.csvLinesPerFileEncoding(spark, s"$dir/po_report.csv")
    val csv = spark.read.csv(lines.select("line").as[String])
    println(s"[ingest] csv rows=${csv.count()} cols=${csv.columns.length} " +
      s"encoding=${lines.select("encoding").head().getString(0)}")

    // multi-sheet xlsx union with per-sheet tag; legacy .xls through the
    // same call (format sniff + engine cascade); files that fail to parse
    // come back as rejects
    val (xlsx, xlsxRejects) = ExcelReader.multiSheetUnionWithRejects(spark, s"$dir/supplier_sheets.xlsx")
    val (xls, xlsRejects) = ExcelReader.multiSheetUnionWithRejects(spark, s"$dir/supplier_sheets.xls")
    println(s"[ingest] xlsx rows=${xlsx.count()} sheets=" +
      xlsx.select("source_sheet").distinct().count() +
      s" xls rows=${xls.count()} rejects=${xlsxRejects.count() + xlsRejects.count()}")

    // PDF positioned-table extraction: grid rows, and a reject row per
    // file that does not parse
    val tagged = PdfReader.pagesGridTagged(spark, s"$dir/invoice_table.pdf")
    val grid = tagged.where(col("reject_reason").isNull)
    println(s"[ingest] pdf grid rows=${grid.count()} " +
      s"rejects=${tagged.where(col("reject_reason").isNotNull).count()}")

    // JSON pointer into nested records, the declared fields as strings
    val js = Ingest.jsonPointer(spark, s"$dir/invoice_records.json", "/records",
      Seq("Invoice No.", "Supplier Code", "Amount"))
    println(s"[ingest] jsonPointer rows=${js.count()}")
    spark.stop()
  }
}
