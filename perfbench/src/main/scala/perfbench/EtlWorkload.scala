package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CompanyQueries, Merge, Validation}
import graft.pipelines.Pipelines
import graft.sources.{Ingest, Sinks}

/** etl_batch: a sequence of deliveries, each an invoice-report JSON batch
  * (Pipelines.invoiceReport → Sinks.writeWithRejects), PO CSVs
  * (Pipelines.poCsvMany → Validation.split → Sinks.writeWithRejects) and
  * DBD long-form financials upserted into the growing company-year table
  * (Pipelines.dbdFinancial → Sinks.writePartitionedByYear). */
final class EtlWorkload(data: EtlData, out: String) extends Workload {
  private val keys = Seq("tax_id", "fiscal_year")
  private val poRules = Seq(
    Validation.matches("po_no", "^\\d{10}$"),
    Validation.matches("supplier_code", "^\\d+$"),
    Validation.notNull("order_date"))

  // the company-year table starts as `base`, then moves between two
  // directories: a delivery reads the current one and publishes the
  // upserted table into the other
  private val base = s"$out/company_year-base"
  private var current = base
  private var generation = 0
  private val model = mutable.HashMap[(String, Int), EtlGen.FinRow]()
  data.table.foreach(f => model((f.taxId, f.year)) = f)
  private var next = 0

  def register(spark: SparkSession): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(data.table.map(EtlGen.tableRow), 4),
      EtlGen.tableSchema).write.mode("overwrite").partitionBy("fiscal_year").parquet(base)

  private def tableTarget(): String = {
    generation += 1
    s"$out/company_year-${generation % 2}"
  }

  def warm(spark: SparkSession, res: Result): Unit =
    op(spark, new Tracer(false), res, data.warmup, None)

  def measure(spark: SparkSession, tracer: Tracer, res: Result, seconds: Double,
              prefix: String): Unit = {
    // every phase starts from the generated table and runs the same
    // deliveries in the same order
    next = 0
    current = base
    model.clear()
    data.table.foreach(f => model((f.taxId, f.year)) = f)
    Workload.fill(seconds) {
      op(spark, tracer, res, data.deliveries(next % data.deliveries.size), Some(prefix))
      next += 1
    }
  }

  /** One delivery, timed as a whole; its outputs are checked after timing.
    * Samples are recorded under `prefix` (None: an untimed warm-up). */
  private def op(spark: SparkSession, tracer: Tracer, res: Result, d: EtlDelivery,
                 prefix: Option[String]): Unit = {
    val opId = s"delivery-${generation + 1}"
    val dOut = s"$out/$opId"
    val target = tableTarget()
    Fs.rmrf(target)
    d.dbd.foreach(f => model((f.taxId, f.year)) = f)
    val t0 = Proc.now()
    var writeS = 0.0
    val (inv, po, served) = tracer.span(spark, "op.delivery", opId) { _ =>
      val inv = invoice(spark, tracer, d, dOut, opId)
      val po = poReport(spark, tracer, d, dOut, opId)
      val tw = Proc.now()
      dbd(spark, tracer, d, target, opId)
      writeS = Proc.now() - tw
      (inv, po, readBack(spark, tracer, d, target, opId))
    }
    val dt = Proc.now() - t0 - tracer.repeatedSeconds(opId)
    tracer.release()
    current = target
    res.outcome(prefix.isDefined, served ++ check(spark, d, inv, po, dOut), s"$opId (${d.dir})")
    prefix.foreach { p =>
      res.sample(p + "op_s", dt)
      res.sample(p + "write_s", writeS)
      res.sample(p + "items", d.records.toDouble)
    }
    Fs.rmrf(dOut)
  }

  private def invoice(spark: SparkSession, tracer: Tracer, d: EtlDelivery,
                      dOut: String, opId: String): (Long, Long) = {
    // traced: the persisted read is reused by the pipeline's identical scan
    if (tracer.enabled) tracer.span(spark, "sources.json_read", opId) { a =>
      tracer.boundary(Ingest.jsonPointer(spark, d.invoiceDir, "/records"), a)
    }
    val (valid, rejects) = tracer.span(spark, "pipelines.invoice_clean", opId) { a =>
      val (v, r) = Pipelines.invoiceReport(spark, d.invoiceDir)
      (tracer.boundary(v, a, "valid"), tracer.boundary(r, a, "rejects"))
    }
    val counts = tracer.span(spark, "sinks.write", opId) { a =>
      val c = Sinks.writeWithRejects(valid, rejects, s"$dOut/invoice_valid", s"$dOut/invoice_rejects")
      a("files") = (Fs.dataFiles(s"$dOut/invoice_valid").size + Fs.dataFiles(s"$dOut/invoice_rejects").size).toDouble
      c
    }
    counts
  }

  private def poReport(spark: SparkSession, tracer: Tracer, d: EtlDelivery,
                       dOut: String, opId: String): (Long, Long) = {
    // traced only, and repeated: poCsvMany reads its files itself
    if (tracer.enabled) tracer.span(spark, "sources.csv_read", opId) { a =>
      a("repeated") = 1
      tracer.boundary(Ingest.csvLinesPerFileEncoding(spark, d.poGlob), a).unpersist()
    }
    val po = tracer.span(spark, "pipelines.po_clean", opId) { a =>
      tracer.boundary(Pipelines.poCsvMany(spark, d.poGlob), a)
    }
    val (valid, rejects) = tracer.span(spark, "validation.split", opId) { a =>
      val (v, r) = Validation.split(po, poRules)
      (tracer.boundary(v, a, "valid"), tracer.boundary(r, a, "rejects"))
    }
    val counts = tracer.span(spark, "sinks.write", opId) { a =>
      val c = Sinks.writeWithRejects(valid, rejects, s"$dOut/po_valid", s"$dOut/po_rejects")
      a("files") = (Fs.dataFiles(s"$dOut/po_valid").size + Fs.dataFiles(s"$dOut/po_rejects").size).toDouble
      c
    }
    counts
  }

  private def dbd(spark: SparkSession, tracer: Tracer, d: EtlDelivery,
                  target: String, opId: String): Unit = {
    val existing = spark.read.parquet(current)
    val upserted =
      if (!tracer.enabled) Pipelines.dbdFinancial(spark, d.dbdPath, existing)
      else {
        // traced: the same pipeline against an empty table yields the
        // pivoted delivery alone, so the upsert can be its own span
        tracer.span(spark, "sources.json_read", opId) { a =>
          tracer.boundary(Ingest.jsonPointer(spark, d.dbdPath, "/records"), a)
        }
        val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], existing.schema)
        val wide = tracer.span(spark, "pipelines.dbd_pivot", opId) { a =>
          tracer.boundary(Pipelines.dbdFinancial(spark, d.dbdPath, empty), a)
        }
        tracer.span(spark, "merge.upsert", opId) { a =>
          val u = tracer.boundary(Merge.upsert(existing, wide, keys), a)
          a("rows_changed") = d.dbd.size.toDouble
          a("rows_written") = a("rows")
          u
        }
      }
    tracer.span(spark, "sinks.write", opId) { a =>
      Sinks.writePartitionedByYear(upserted, target, "fiscal_year")
      a("files") = Fs.dataFiles(target).size.toDouble
    }
  }

  /** A delivery ends when the published table serves the API's reads:
    * read back a few of the delivery's companies, all years each, with
    * CompanyQueries, and compare them with the model. */
  private def readBack(spark: SparkSession, tracer: Tracer, d: EtlDelivery,
                       target: String, opId: String): Seq[String] = {
    val table = spark.read.parquet(target)
    d.dbd.map(_.taxId).distinct.take(EtlWorkload.ReadBacks).flatMap { taxId =>
      val rows = tracer.collect(spark, CompanyQueries.companyFinancialAllYears(table, taxId), opId)
      val got = rows.map(r => (r.getAs[Int]("fiscal_year"),
        math.round(r.getAs[Double]("total_revenue") * 100),
        math.round(r.getAs[Double]("cost_of_goods_sold") * 100),
        math.round(r.getAs[Double]("net_profit") * 100))).toSeq
      val want = (EtlGen.years :+ 2024).flatMap(y => model.get((taxId, y)))
        .map(f => (f.year, f.rev, f.cogs, f.np))
      if (got != want) Some(s"read-back of $taxId: $got != $want") else None
    }
  }

  /** Every output of the delivery against the generator's ground truth. */
  private def check(spark: SparkSession, d: EtlDelivery, inv: (Long, Long),
                    po: (Long, Long), dOut: String): Seq[String] = {
    val bad = mutable.ArrayBuffer[String]()
    def split(what: String, got: (Long, Long), t: SplitTruth, amountCol: String): Unit = {
      if (got != (t.valid, t.rejects.values.sum))
        bad += s"$what counts $got != (${t.valid}, ${t.rejects.values.sum})"
      val v = spark.read.parquet(s"$dOut/${what}_valid").agg(count(lit(1)), Frames.cents(amountCol)).head()
      val cents = if (v.isNullAt(1)) 0L else v.getLong(1)
      if (v.getLong(0) != t.valid || cents != t.validCents)
        bad += s"$what valid rows/cents (${v.getLong(0)}, $cents) != (${t.valid}, ${t.validCents})"
      val byRule = spark.read.schema("_failed_rules string").json(s"$dOut/${what}_rejects")
        .groupBy("_failed_rules").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (byRule != t.rejects) bad += s"$what rejects by rule $byRule != ${t.rejects}"
    }
    split("invoice", inv, d.invoice, "amount")
    split("po", po, d.po, "amount_incl_vat")
    val tbl = spark.read.parquet(current)
      .agg(count(lit(1)), Frames.cents("total_revenue"), Frames.cents("cost_of_goods_sold"),
        Frames.cents("net_profit"))
      .head()
    val want = (model.size.toLong, model.valuesIterator.map(_.rev).sum,
      model.valuesIterator.map(_.cogs).sum, model.valuesIterator.map(_.np).sum)
    val got = (tbl.getLong(0), tbl.getLong(1), tbl.getLong(2), tbl.getLong(3))
    if (got != want) bad += s"company_year (rows, revenue, cogs, profit) $got != $want"
    bad.toSeq
  }
}

object EtlWorkload {
  /** Companies of each delivery read back after the table is published. */
  val ReadBacks = 4
}
