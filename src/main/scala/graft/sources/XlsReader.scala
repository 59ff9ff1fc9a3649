package graft.sources

/** S3's remaining in-engine leg: real legacy `.xls` (OLE2/BIFF8) parsing
  * with zero extra dependencies. The reference's DBD downloads arrive as
  * `.xls` and go through the xlrd leg of its engine cascade
  * (script_read_dbd_income.py:177-263, services/bs_processor.py:75-78);
  * this reader gives [[ExcelReader.sheetsGridTagged]] the same cascade —
  * sniff the container, pick the engine — instead of a typed reject.
  *
  * Two layers, both pure functions over the file bytes (so the distributed
  * path runs them in the task that loaded the file, like the xlsx
  * reader):
  *
  *  - CFB (Compound File Binary, MS-CFB): sector FAT + directory tree +
  *    mini-FAT for streams under the 4096-byte cutoff. We only need to
  *    locate and reassemble the "Workbook" (or BIFF5 "Book") stream.
  *  - BIFF8 (MS-XLS): the workbook globals substream (SST shared strings
  *    with CONTINUE straddling, BOUNDSHEET directory) and one substream
  *    per worksheet (LABELSST / NUMBER / RK / MULRK / LABEL / BOOLERR /
  *    FORMULA+STRING cell records).
  *
  * Output contract matches the xlsx parser: every cell as a raw string
  * (numbers keep a lexical form — integral doubles print without ".0",
  * Excel serial dates stay serial numbers for the cleanse-side decoder),
  * sparse rows/cells gap-filled with "" so positional semantics hold. */
object XlsReader {

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xFF
  private def u16(b: Array[Byte], o: Int): Int = u8(b, o) | (u8(b, o + 1) << 8)
  private def u32(b: Array[Byte], o: Int): Int =
    u16(b, o) | (u16(b, o + 2) << 16) // may be "negative" for sentinels; compare as raw bits
  private def f64(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (b(o + i) & 0xFFL); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Reassemble the named stream out of the compound file. */
  private[sources] def cfbStream(bytes: Array[Byte], names: Seq[String]): Array[Byte] = {
    require(bytes.length >= 512, "not a compound file: shorter than header")
    val sectorShift = u16(bytes, 30)
    require(sectorShift >= 7 && sectorShift <= 12, s"implausible sector shift $sectorShift")
    val sectorSize = 1 << sectorShift
    val miniShift = u16(bytes, 32)
    val miniSize = 1 << miniShift
    val firstDirSector = u32(bytes, 48)
    val miniCutoff = u32(bytes, 56)
    val firstMiniFat = u32(bytes, 60)
    val firstDifat = u32(bytes, 68)
    val numDifat = u32(bytes, 72)

    def sectorOffset(s: Int): Int = (s + 1) * sectorSize
    def sectorBytes(s: Int): Array[Byte] = {
      val off = sectorOffset(s)
      require(off >= 0 && off + sectorSize <= bytes.length, s"sector $s out of file")
      java.util.Arrays.copyOfRange(bytes, off, off + sectorSize)
    }

    // FAT sector list: 109 header DIFAT slots, then the DIFAT sector chain
    val fatSectors = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < 109) {
      val s = u32(bytes, 76 + i * 4)
      if (s != FreeSect && s != EndOfChain) fatSectors += s
      i += 1
    }
    var difat = firstDifat
    var difatSeen = 0
    val perDifat = sectorSize / 4 - 1
    while (difat != EndOfChain && difat != FreeSect && difatSeen < numDifat + 4) {
      val sb = sectorBytes(difat)
      var j = 0
      while (j < perDifat) {
        val s = u32(sb, j * 4)
        if (s != FreeSect && s != EndOfChain) fatSectors += s
        j += 1
      }
      difat = u32(sb, perDifat * 4)
      difatSeen += 1
    }

    // FAT: sector id -> next sector in chain
    val perFat = sectorSize / 4
    val fat = new Array[Int](fatSectors.length * perFat)
    fatSectors.zipWithIndex.foreach { case (fs, fi) =>
      val sb = sectorBytes(fs)
      var j = 0
      while (j < perFat) { fat(fi * perFat + j) = u32(sb, j * 4); j += 1 }
    }
    def chain(start: Int, label: String): Vector[Int] = {
      val out = Vector.newBuilder[Int]
      var s = start
      var steps = 0
      while (s != EndOfChain && s != FreeSect) {
        require(s >= 0 && s < fat.length, s"$label chain leaves the FAT at sector $s")
        require(steps <= fat.length, s"$label chain loops")
        out += s
        s = fat(s)
        steps += 1
      }
      out.result()
    }
    def readChain(start: Int, size: Int, label: String): Array[Byte] = {
      val sectors = chain(start, label)
      val buf = new Array[Byte](sectors.length * sectorSize)
      sectors.zipWithIndex.foreach { case (s, idx) =>
        System.arraycopy(sectorBytes(s), 0, buf, idx * sectorSize, sectorSize)
      }
      if (size >= 0 && size <= buf.length) java.util.Arrays.copyOf(buf, size) else buf
    }

    // directory entries: 128 bytes each, over the directory chain
    val dir = readChain(firstDirSector, -1, "directory")
    case class Entry(name: String, objType: Int, start: Int, size: Int)
    val entries = (0 until dir.length / 128).map { e =>
      val off = e * 128
      val nameLen = u16(dir, off + 64) // bytes incl. trailing NUL
      val name = if (nameLen >= 2)
        new String(dir, off, math.min(nameLen - 2, 64), java.nio.charset.StandardCharsets.UTF_16LE)
      else ""
      Entry(name, u8(dir, off + 66), u32(dir, off + 116), u32(dir, off + 120))
    }
    val root = entries.find(_.objType == 5)
      .getOrElse(throw new IllegalArgumentException("compound file has no root entry"))
    val target = names.view.flatMap(n => entries.find(e => e.objType == 2 && e.name == n))
      .headOption
      .getOrElse(throw new IllegalArgumentException(
        s"no ${names.mkString("/")} stream; entries: ${entries.filter(_.objType == 2).map(_.name).mkString(",")}"))

    if (target.size >= miniCutoff) readChain(target.start, target.size, "workbook")
    else {
      // mini-stream path: the root entry's chain holds the mini sectors;
      // the mini FAT (its own regular chain) links them
      val mini = readChain(root.start, root.size, "ministream")
      val miniFatBytes = if (firstMiniFat == EndOfChain || firstMiniFat == FreeSect)
        Array.emptyByteArray else readChain(firstMiniFat, -1, "minifat")
      val miniFat = Array.tabulate(miniFatBytes.length / 4)(j => u32(miniFatBytes, j * 4))
      val out = new java.io.ByteArrayOutputStream(target.size)
      var s = target.start
      var steps = 0
      while (s != EndOfChain && s != FreeSect && out.size < target.size) {
        require(s >= 0 && (s + 1) * miniSize <= mini.length, s"mini chain leaves ministream at $s")
        require(steps <= miniFat.length + 1, "mini chain loops")
        out.write(mini, s * miniSize, math.min(miniSize, target.size - out.size))
        s = if (s < miniFat.length) miniFat(s) else EndOfChain
        steps += 1
      }
      out.toByteArray
    }
  }

  // ---- BIFF8

  /** Cursor over the concatenated data of one record plus its CONTINUE
    * records — the SST can straddle record boundaries, and a straddle
    * inside a string's character data re-emits the compression flag byte
    * at the boundary (MS-XLS 2.5.293). */
  private final class SstCursor(segments: Array[Array[Byte]]) {
    private var seg = 0
    private var pos = 0
    private def ensure(): Unit = {
      while (seg < segments.length && pos >= segments(seg).length) { seg += 1; pos = 0 }
      require(seg < segments.length, "SST truncated")
    }
    def atSegmentStart: Boolean = { ensure(); pos == 0 && seg > 0 }
    def byte(): Int = { ensure(); val v = segments(seg)(pos) & 0xFF; pos += 1; v }
    def u16(): Int = byte() | (byte() << 8)
    def u32(): Int = u16() | (u16() << 16)
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        ensure()
        val take = math.min(left, segments(seg).length - pos)
        pos += take
        left -= take
      }
    }
    /** XLUnicodeRichExtendedString at the cursor. */
    def readString(): String = {
      val cch = u16()
      var grbit = byte()
      val fRich = (grbit & 0x08) != 0
      val fExt = (grbit & 0x04) != 0
      var fHigh = (grbit & 0x01) != 0
      val cRun = if (fRich) u16() else 0
      val cbExt = if (fExt) u32() else 0
      val sb = new java.lang.StringBuilder(cch)
      var read = 0
      while (read < cch) {
        if (atSegmentStart) {
          // character data resumed in a CONTINUE: fresh compression flag
          grbit = byte()
          fHigh = (grbit & 0x01) != 0
        }
        val c = if (fHigh) u16() else byte()
        sb.append(c.toChar)
        read += 1
      }
      skip(cRun * 4)
      skip(cbExt)
      sb.toString
    }
  }

  /** Lexical rendering shared with the xlsx reader's semantics: integral
    * doubles print without ".0" (Excel stores "10" for 10.0), everything
    * else via Double.toString. */
  private def numToStr(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** RK value → rendered cell (MS-XLS 2.5.276: bit0 = ÷100, bit1 = int). */
  private def rkToStr(rk: Int): String = {
    val div100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    if (isInt) {
      val v = rk >> 2 // arithmetic shift keeps the sign
      if (div100) numToStr(v / 100.0) else v.toString
    } else {
      val d = java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
      numToStr(if (div100) d / 100.0 else d)
    }
  }

  private case class BoundSheet(pos: Int, sheetType: Int, name: String)

  /** Whole `.xls` bytes → ordered (sheetName, rows), same shape as
    * [[ExcelReader.parseWorkbook]]. Pure function — executor-safe. */
  def parseWorkbook(bytes: Array[Byte]): Seq[(String, Vector[Vector[String]])] = {
    val wb = cfbStream(bytes, Seq("Workbook", "Book"))
    require(wb.length >= 4 && u16(wb, 0) == 0x0809, "stream does not start with BOF")

    // ---- globals substream: SST + BOUNDSHEET directory
    val sst = scala.collection.mutable.ArrayBuffer.empty[String]
    val sheets = scala.collection.mutable.ArrayBuffer.empty[BoundSheet]
    var off = 0
    var done = false
    while (!done && off + 4 <= wb.length) {
      val rid = u16(wb, off)
      val len = u16(wb, off + 2)
      val data = () => java.util.Arrays.copyOfRange(wb, off + 4, off + 4 + len)
      rid match {
        case 0x000A => done = true // EOF of globals
        case 0x0085 => // BOUNDSHEET
          val d = data()
          val pos = u32(d, 0)
          val dt = u8(d, 5)
          val cch = u8(d, 6)
          val high = (u8(d, 7) & 1) != 0
          val name =
            if (high) new String(d, 8, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
            else new String(d, 8, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
          sheets += BoundSheet(pos, dt, name)
        case 0x00FC => // SST (+ CONTINUE straddles)
          val segs = scala.collection.mutable.ArrayBuffer(data())
          var o2 = off + 4 + len
          while (o2 + 4 <= wb.length && u16(wb, o2) == 0x003C) {
            val l2 = u16(wb, o2 + 2)
            segs += java.util.Arrays.copyOfRange(wb, o2 + 4, o2 + 4 + l2)
            o2 += 4 + l2
          }
          val cur = new SstCursor(segs.toArray)
          cur.u32() // cstTotal (with repeats)
          val unique = cur.u32()
          var k = 0
          while (k < unique) { sst += cur.readString(); k += 1 }
        case _ =>
      }
      if (!done) off += 4 + len
    }

    // ---- worksheet substreams
    sheets.toSeq.filter(_.sheetType == 0).map { bs =>
      bs.name -> parseSheetSubstream(wb, bs.pos, sst)
    }
  }

  private def parseSheetSubstream(wb: Array[Byte], bofPos: Int,
                                  sst: scala.collection.IndexedSeq[String]): Vector[Vector[String]] = {
    require(bofPos + 4 <= wb.length && u16(wb, bofPos) == 0x0809,
      s"BOUNDSHEET position $bofPos is not a BOF")
    val rows = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[String]]
    def put(r: Int, c: Int, v: String): Unit = {
      while (rows.length <= r) rows += scala.collection.mutable.ArrayBuffer.empty[String]
      val row = rows(r)
      while (row.length < c) row += ""
      if (row.length == c) row += v else row(c) = v
    }
    var off = bofPos
    var pendingStringCell: (Int, Int) = null // FORMULA whose result is the next STRING
    var done = false
    while (!done && off + 4 <= wb.length) {
      val rid = u16(wb, off)
      val len = u16(wb, off + 2)
      val d = off + 4
      rid match {
        case 0x000A => done = true // EOF of this substream
        case 0x00FD => // LABELSST
          val i = u32(wb, d + 6)
          put(u16(wb, d), u16(wb, d + 2), if (i >= 0 && i < sst.length) sst(i) else "")
        case 0x0203 => // NUMBER
          put(u16(wb, d), u16(wb, d + 2), numToStr(f64(wb, d + 6)))
        case 0x027E => // RK
          put(u16(wb, d), u16(wb, d + 2), rkToStr(u32(wb, d + 6)))
        case 0x00BD => // MULRK: rw, colFirst, n*(ixfe,rk), colLast
          val r = u16(wb, d)
          val c0 = u16(wb, d + 2)
          val n = (len - 6) / 6
          var j = 0
          while (j < n) { put(r, c0 + j, rkToStr(u32(wb, d + 4 + j * 6 + 2))); j += 1 }
        case 0x0204 => // LABEL (inline BIFF8 unicode string)
          val cch = u16(wb, d + 6)
          val high = (u8(wb, d + 8) & 1) != 0
          val s = if (high)
            new String(wb, d + 9, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
          else new String(wb, d + 9, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
          put(u16(wb, d), u16(wb, d + 2), s)
        case 0x0205 => // BOOLERR
          val v = u8(wb, d + 6)
          val isErr = u8(wb, d + 7) != 0
          put(u16(wb, d), u16(wb, d + 2), if (isErr) "" else if (v != 0) "1" else "0")
        case 0x0006 => // FORMULA: cached result, or a deferred STRING
          val r = u16(wb, d)
          val c = u16(wb, d + 2)
          if (u16(wb, d + 12) == 0xFFFF) u8(wb, d + 6) match {
            case 0 => pendingStringCell = (r, c) // string: next STRING record
            case 1 => put(r, c, if (u8(wb, d + 8) != 0) "1" else "0")
            case 3 => put(r, c, "")
            case _ => put(r, c, "") // error result
          } else put(r, c, numToStr(f64(wb, d + 6)))
        case 0x0207 if pendingStringCell != null => // STRING (formula result)
          val cch = u16(wb, d)
          val high = (u8(wb, d + 2) & 1) != 0
          val s = if (high)
            new String(wb, d + 3, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
          else new String(wb, d + 3, cch, java.nio.charset.StandardCharsets.ISO_8859_1)
          put(pendingStringCell._1, pendingStringCell._2, s)
          pendingStringCell = null
        case _ => // ROW/BLANK/MULBLANK/styles: gaps stay ""
      }
      if (!done) off += 4 + len
    }
    rows.map(_.toVector).toVector
  }
}
