package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Ground truth of one validated input of a delivery. */
final case class SplitTruth(valid: Long, validCents: Long, rejects: Map[String, Long])

/** One etl_batch delivery: invoice-report JSON files, PO CSVs and a DBD
  * long-form financial file, with the expected answer for each. */
final case class EtlDelivery(index: Int, dir: String, records: Long,
                             invoice: SplitTruth, po: SplitTruth,
                             dbd: Seq[EtlGen.FinRow]) {
  def invoiceDir = s"$dir/invoice"
  def poGlob = s"$dir/po/*.csv"
  def dbdPath = s"$dir/dbd.json"
}

final case class EtlData(table: Seq[EtlGen.FinRow],
                         deliveries: Seq[EtlDelivery], warmup: EtlDelivery)

/** Seeded generator of the etl_batch inputs. Every value is produced from a
  * canonical form (a date, an amount in integer cents, a rule to break), so
  * the expected valid/reject split and the money sums are exact. */
object EtlGen {
  final case class FinRow(taxId: String, year: Int, rev: Long, cogs: Long, np: Long)

  val invoiceRules = Seq("invoice_no_format", "supplier_code_format", "invoice_date_not_null")
  val poRules = Seq("po_no_format", "supplier_code_format", "order_date_not_null")
  val years = 2019 to 2023

  // sizes of one delivery and of the starting company-year table
  val Deliveries = 2
  val InvoicesPerDelivery = 12000
  val PoRowsPerDelivery = 6000
  val DbdKeysPerDelivery = 1500
  val Companies = 5000

  private val tis620 = Charset.forName("TIS-620")
  private val thaiSyllables = Seq("สม", "ชาย", "ศรี", "วงศ์", "สุข", "ใจ", "ดี", "มณี",
    "ทอง", "แก้ว", "บุญ", "มา", "พร", "ทิพย์", "กิจ", "เจริญ")

  def taxId(i: Int): String = f"01055$i%08d"

  private def digits(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  private def grouped(v: Long, sep: String): String =
    v.toString.reverse.grouped(3).mkString(sep.reverse).reverse

  /** Amount text for `cents`, in one of the spellings the sources carry
    * (the Unicode minus only where the file's charset can encode it). */
  private def amountText(r: SplittableRandom, cents: Long, unicode: Boolean = true): String = {
    if (cents == 0) return "-"
    val a = math.abs(cents)
    val body = s"${a / 100}"
    val frac = f"${a % 100}%02d"
    if (cents > 0) r.nextInt(3) match {
      case 0 => s"${grouped(a / 100, ",")}.$frac"
      case 1 => s"$body.$frac"
      case _ => s"${grouped(a / 100, " ")}.$frac"
    } else r.nextInt(3) match {
      case 0 => s"(${grouped(a / 100, ",")}.$frac)"
      case 1 => s"${if (unicode) "−" else "-"}${grouped(a / 100, " ")}.$frac"
      case _ => s"-${grouped(a / 100, ",")}.$frac"
    }
  }

  private def randomCents(r: SplittableRandom): Long = {
    val u = r.nextDouble()
    if (u < 0.02) 0L
    else {
      val v = 100L + r.nextLong(500000000L)
      if (u < 0.07) -v else v
    }
  }

  private def randomDate(r: SplittableRandom): LocalDate =
    LocalDate.of(2022, 1, 1).plusDays(r.nextInt(4 * 365))

  private def dateText(r: SplittableRandom, d: LocalDate): String = r.nextInt(4) match {
    case 0 => f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear + 543}"
    case 1 => f"${d.getDayOfMonth}%02d.${d.getMonthValue}%02d.${d.getYear}"
    case 2 => d.toString
    case _ => s"${d.getDayOfMonth}/${d.getMonthValue}/${d.getYear + 543}"
  }

  private val badDates = Seq("n/a", "31/02/2567", "", "99.99.9999")

  /** OCR look-alikes in the tail of an id: 0 → O/o, 1 → l/I/i, never in the
    * first tail position (a letter there would join the prefix). */
  private def lookalikes(r: SplittableRandom, d: String): String =
    d.zipWithIndex.map { case (c, i) =>
      if (i == 0 || r.nextDouble() > 0.15) c
      else if (c == '0') (if (r.nextBoolean()) 'O' else 'o')
      else if (c == '1') Seq('l', 'I', 'i')(r.nextInt(3))
      else c
    }.mkString

  private def writer(path: String, cs: Charset): BufferedWriter = {
    new File(path).getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), cs), 1 << 16)
  }

  final class SplitCounter(rules: Seq[String]) {
    var valid = 0L
    var cents = 0L
    val rejects = mutable.LinkedHashMap(rules.map(_ -> 0L): _*)
    def truth = SplitTruth(valid, cents, rejects.filter(_._2 > 0).toMap)
  }

  private val invoiceLabels = Seq("Invoice No.", "Supplier Code", "Invoice Date",
    "Invoice Received Date", "Related Document", "Amount", "Status")

  /** Invoice-report JSON record arrays; returns (records, truth). */
  private def invoices(r: SplittableRandom, dir: String, sizes: Seq[Int],
                       defectRate: Double): (Long, SplitTruth) = {
    val t = new SplitCounter(invoiceRules)
    for ((perFile, f) <- sizes.zipWithIndex) {
      val w = writer(f"$dir/invoice/part-$f%03d.json", StandardCharsets.UTF_8)
      try {
        w.write("{\"meta\": {\"source\": \"perfbench\"}, \"records\": [\n")
        for (i <- 0 until perFile) {
          if (i > 0) w.write(",\n")
          val fields: Seq[String] =
            if (r.nextDouble() < 0.01) invoiceLabels // header echo row
            else {
              val defect = if (r.nextDouble() < defectRate) r.nextInt(3) else -1
              val prefix0 = Seq("IV", "BL", "INV", "CN")(r.nextInt(4))
              val prefix = if (r.nextBoolean()) prefix0.toLowerCase else prefix0
              val tail = lookalikes(r, digits(r, 6 + r.nextInt(3)))
              val invNo = if (defect == 0) s"$prefix-$tail" else prefix + tail
              val sup = if (defect == 1) digits(r, 2) + "A" + digits(r, 2) else digits(r, 5)
              val d = randomDate(r)
              val dText = if (defect == 2) badDates(r.nextInt(badDates.size)) else dateText(r, d)
              val recv = f"${d.plusDays(r.nextInt(20))} ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
              val cents = randomCents(r)
              if (defect < 0) { t.valid += 1; t.cents += cents }
              else t.rejects(invoiceRules(defect)) += 1
              Seq(invNo, sup, dText, recv, s"PO:10${digits(r, 8)}", amountText(r, cents),
                Seq("PAID", "PENDING", "OPEN")(r.nextInt(3)))
            }
          w.write(invoiceLabels.zip(fields)
            .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
        }
        w.write("\n]}\n")
      } finally w.close()
    }
    (sizes.sum.toLong, t.truth)
  }

  private val poHeader = Seq("PO No.", "Supplier Code", "Supplier Name", "Order Date",
    "Send Date", "Delivery Date", "Amount (PO Include VAT)", "Amount (PO Include VAT)")

  private def csvCell(s: String): String =
    if (s.contains(",") || s.contains("\"")) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def thaiName(r: SplittableRandom): String =
    (0 until 2 + r.nextInt(2)).map(_ => thaiSyllables(r.nextInt(thaiSyllables.size))).mkString +
      " " + thaiSyllables(r.nextInt(thaiSyllables.size)) + thaiSyllables(r.nextInt(thaiSyllables.size))

  private def sendText(r: SplittableRandom, d: LocalDate): String = {
    val h = r.nextInt(24)
    val mm = f"${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
    // 24-hour times keep a stray AM/PM now and then, as the sources do
    val t = if (h >= 13 && r.nextBoolean()) s"$h:$mm PM"
      else if (h == 0) s"12:$mm AM" else if (h < 12) s"$h:$mm AM"
      else if (h == 12) s"12:$mm PM" else s"${h - 12}:$mm PM"
    s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear} $t"
  }

  /** PO report CSVs, half TIS-620 and half UTF-8 with a BOM; some files swap
    * two header columns (the pipeline resolves columns by name). */
  private def poFiles(r: SplittableRandom, dir: String, sizes: Seq[Int],
                      defectRate: Double): (Long, SplitTruth) = {
    val t = new SplitCounter(poRules)
    for ((perFile, f) <- sizes.zipWithIndex) {
      val thai = r.nextBoolean()
      val order = if (r.nextDouble() < 0.3) Seq(0, 2, 1, 3, 4, 5, 6, 7) else (0 until 8)
      val lines = mutable.ArrayBuffer[String]()
      lines += "PO DETAIL REPORT,,,,,,,"
      lines += s",Buyer : (20503630${digits(r, 5)}) บริษัท ตัวอย่าง จำกัด,,,,,,"
      lines += ",,,,,,,"
      val from = randomDate(r)
      lines += s",,,${from.getMonthValue}/${from.getDayOfMonth}/${from.getYear},," +
        s"${from.plusDays(7).getMonthValue}/${from.plusDays(7).getDayOfMonth}/${from.plusDays(7).getYear},,"
      val header = order.map(poHeader).mkString(",")
      lines += header
      for (_ <- 0 until perFile) {
        if (r.nextDouble() < 0.01) lines += header // embedded header echo
        val defect = if (r.nextDouble() < defectRate) r.nextInt(3) else -1
        val po0 = "10" + digits(r, 8)
        val po = if (defect == 0) po0.updated(3 + r.nextInt(6), 'A') else po0
        val sup = if (defect == 1) digits(r, 2) + "I" + digits(r, 2) else digits(r, 5)
        val d = randomDate(r)
        val orderDate = if (defect == 2) "32/13/2568"
          else f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear + 543}"
        val cents = randomCents(r)
        if (defect < 0) { t.valid += 1; t.cents += cents }
        else t.rejects(poRules(defect)) += 1
        val amt2 = math.abs(cents) + r.nextInt(10000)
        val cells = Seq(po, sup, thaiName(r), orderDate, sendText(r, d),
          f"${d.plusDays(5).getDayOfMonth}%02d/${d.plusDays(5).getMonthValue}%02d/${d.plusDays(5).getYear + 543}",
          amountText(r, cents, !thai), amountText(r, amt2, !thai))
        lines += order.map(i => csvCell(cells(i))).mkString(",")
      }
      lines += ",,,,,,,"
      lines += ",,รวมทั้งสิ้น,,,,\"1,000.00\",\"1,070.00\""
      lines += ",,,,,,,"
      val text = lines.mkString("\r\n") + "\r\n"
      val bytes =
        if (thai) text.getBytes(tis620)
        else Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ text.getBytes(StandardCharsets.UTF_8)
      Fs.writeBytes(f"$dir/po/report-$f%03d.csv", bytes)
    }
    (sizes.sum.toLong, t.truth)
  }

  private val itemSpellings: Map[String, Seq[String]] = Map(
    "total_revenue" -> Seq("รายได้รวม", "รายได้\u200bรวม", "รายได้รวม (บาท)"),
    "cost_of_goods_sold" -> Seq("ต้นทุนขาย", "ต้นทุนขาย ", "ต้นทุนขายและบริการ"),
    "net_profit" -> Seq("กำไร(ขาดทุน)สุทธิ", "กำไร (ขาดทุน) สุทธิ", "กำไร（ขาดทุน）สุทธิ"))

  private def taxIdText(r: SplittableRandom, id: String): String = r.nextInt(3) match {
    case 0 => id
    case 1 => s"${id(0)}-${id.substring(1, 5)}-${id.substring(5, 10)}-${id.substring(10, 12)}-${id(12)}"
    case _ => s" $id "
  }

  private def finValues(r: SplittableRandom, taxId: String, year: Int): FinRow = {
    val rev = 100000L + r.nextLong(1000000000L)
    val cogs = if (r.nextDouble() < 0.03) 0L else rev / 2 + r.nextLong(rev / 2)
    val np = if (r.nextDouble() < 0.03) 0L else (rev - cogs) / 3 - r.nextLong(rev / 4)
    FinRow(taxId, year, rev, cogs, np)
  }

  private def dbdFile(r: SplittableRandom, path: String, rows: Seq[FinRow]): Long = {
    val w = writer(path, StandardCharsets.UTF_8)
    var n = 0L
    try {
      w.write("{\"records\": [\n")
      for (row <- rows;
           (item, cents) <- r.nextInt(2) match {
             case 0 => Seq("total_revenue" -> row.rev, "cost_of_goods_sold" -> row.cogs, "net_profit" -> row.np)
             case _ => Seq("net_profit" -> row.np, "total_revenue" -> row.rev, "cost_of_goods_sold" -> row.cogs)
           }) {
        if (n > 0) w.write(",\n")
        val sp = itemSpellings(item)
        w.write(s"""{"tax_id": ${Json.str(taxIdText(r, row.taxId))}, "fiscal_year": ${row.year}, """ +
          s""""item_th": ${Json.str(sp(r.nextInt(sp.size)))}, "amount": ${Json.str(amountText(r, cents))}}""")
        n += 1
      }
      w.write("\n]}\n")
    } finally w.close()
    n
  }

  val tableSchema = StructType(Seq(
    StructField("tax_id", StringType), StructField("fiscal_year", IntegerType),
    StructField("total_revenue", DoubleType), StructField("cost_of_goods_sold", DoubleType),
    StructField("net_profit", DoubleType)))

  def tableRow(f: FinRow): Row = Row(f.taxId, f.year, f.rev / 100.0, f.cogs / 100.0, f.np / 100.0)

  /** Generate (or reuse, when cached for this seed) the etl_batch inputs.
    * The starting company-year table is returned as rows: loading it is
    * part of the workload's set-up. */
  def generate(seed: Long, dir: String): EtlData = {
    val r = new SplittableRandom(seed * 7919L + 11L)
    val defectRate = 0.03 + r.nextDouble() * 0.05
    val overlap = 0.3 + r.nextDouble() * 0.3
    val table = for (c <- 0 until Companies; y <- years) yield finValues(r, taxId(c), y)
    var nextCompany = Companies
    // the timed deliveries, then a warm-up delivery of the same size: the
    // JIT keeps compiling through the first full-size delivery, so a
    // smaller warm-up left the first timed delivery slower than the rest
    val plans = (0 to Deliveries).map { k =>
      val keys = (0 until DbdKeysPerDelivery).map { _ =>
        if (r.nextDouble() < overlap) (taxId(r.nextInt(Companies)), years(r.nextInt(years.size)))
        else if (r.nextBoolean()) (taxId(r.nextInt(Companies)), 2024)
        else { nextCompany += 1; (taxId(nextCompany), years(r.nextInt(years.size))) }
      }.distinct
      (k, keys.map { case (t, y) => finValues(r, t, y) }, r.split())
    }
    val marker = new File(dir, "_COMPLETE")
    val files = !marker.exists()
    if (files) Fs.rmrf(dir)
    val out = Fs.parallelMap(plans) { case (k, dbd, dr) =>
      val ddir = f"$dir/delivery-$k%02d"
      // half of each input sits in a few large files, half in many small
      // ones (a multiLine JSON scan is one task per file)
      def split(n: Int, few: Int, many: Int) = Seq.fill(few)(n / 2 / few) ++ Seq.fill(many)(n / 2 / many)
      if (files) {
        val (ni, inv) = invoices(dr, ddir, split(InvoicesPerDelivery, 2, 16), defectRate)
        val (np, po) = poFiles(dr, ddir, split(PoRowsPerDelivery, 1, 8), defectRate)
        val nd = dbdFile(dr, s"$ddir/dbd.json", dbd)
        val d = EtlDelivery(k, ddir, ni + np + nd, inv, po, dbd)
        Fs.write(s"$ddir/truth.json", truthJson(d))
        d
      } else readTruth(ddir, k, dbd)
    }
    if (files) java.nio.file.Files.write(marker.toPath, Array[Byte]())
    EtlData(table, out.init, out.last)
  }

  private def truthJson(d: EtlDelivery): String = {
    def split(s: SplitTruth) =
      s"""{"valid": ${s.valid}, "valid_cents": ${s.validCents}, "rejects": {""" +
        s.rejects.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ") + "}}"
    s"""{"records": ${d.records}, "invoice": ${split(d.invoice)}, "po": ${split(d.po)}, """ +
      s""""dbd_keys": ${d.dbd.size}}"""
  }

  private def readTruth(ddir: String, k: Int, dbd: Seq[FinRow]): EtlDelivery = {
    val j = Json.mapper.readTree(new File(s"$ddir/truth.json"))
    def split(n: com.fasterxml.jackson.databind.JsonNode) = {
      val rj = n.get("rejects")
      val rejects = rj.fieldNames().asScala.map(f => f -> rj.get(f).asLong()).toMap
      SplitTruth(n.get("valid").asLong(), n.get("valid_cents").asLong(), rejects)
    }
    EtlDelivery(k, ddir, j.get("records").asLong(), split(j.get("invoice")), split(j.get("po")), dbd)
  }
}
