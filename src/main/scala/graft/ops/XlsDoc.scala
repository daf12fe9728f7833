package graft.ops

/** Excel-97 (.xls, BIFF8) text extraction — completing the MS Office
  * binary family over the same first-party [[WordDoc.Cfb]] compound
  * reader. Output follows the xlsx extractor's shape: per sheet, the
  * BOUNDSHEET name then cell values in record order.
  *
  * The BIFF8 surface (MS-XLS spec): the `Workbook` stream is a walk of
  * (type, length, payload) records. The globals substream carries the
  * shared string table — `SST` (0x00FC) with `Continue` (0x003C)
  * records, where a string may SPAN records and each continuation
  * restarts with a fresh high-byte flag — and one `BoundSheet8`
  * (0x0085) per sheet with its substream offset. Sheet substreams
  * yield `LabelSst` (0x00FD, SST index), `Number` (0x0203, IEEE
  * double), `RK` (0x027E) / `MulRk` (0x00BD) packed numbers (the
  * div-100 and 30-bit-integer encodings), and inline `Label`
  * (0x0204). XLUnicodeString: cch, flags (fHighByte/fExtSt/fRichSt),
  * optional run/ext lengths, then compressed-8-bit or UTF-16LE chars,
  * trailing rich runs and ext blocks skipped (also across Continues).
  *
  * Encrypted workbooks (`FilePass` 0x002F) return None honestly.
  * Numbers render integer-exact when integral. */
object XlsDoc {

  private final class Malformed
    extends RuntimeException(null, null, false, false)
  private def bad(): Nothing = throw new Malformed

  /** Cursor over a chain of record payloads (SST + its Continues):
    * strings and skips may cross record boundaries; a string's char
    * data crossing into a Continue re-reads the high-byte flag. */
  private final class Records(parts: IndexedSeq[Array[Byte]]) {
    private var ri = 0
    private var po = 0
    def hasMore: Boolean = {
      while (ri < parts.length && po >= parts(ri).length) { ri += 1; po = 0 }
      ri < parts.length
    }
    def u8(): Int = {
      if (!hasMore) bad()
      val v = parts(ri)(po) & 0xff
      po += 1
      v
    }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        if (!hasMore) bad()
        val take = math.min(left, (parts(ri).length - po).toLong).toInt
        po += take
        left -= take
      }
    }
    /** Chars of an XLUnicodeString body, continuation-aware. Whenever
      * char data starts or resumes at a Continue boundary — including
      * when the boundary fell exactly between the cch/flags header and
      * the first char, i.e. zero chars read so far — the continuation
      * restates the high-byte flag (MS-XLS 2.1.4), so the gate is the
      * boundary itself, not sb.nonEmpty. */
    def chars(cch: Int, highByte0: Boolean): String = {
      val sb = new StringBuilder(cch)
      var high = highByte0
      var left = cch
      var flagRi = -1 // record index whose flag we already consumed
      while (left > 0) {
        if (!hasMore) bad()
        if (po == 0 && ri > 0 && flagRi != ri) {
          flagRi = ri
          high = (u8() & 0x01) != 0 // continuation restates the flag
        }
        if (high) sb.append((u8() | (u8() << 8)).toChar)
        else sb.append(u8().toChar)
        left -= 1
      }
      sb.toString
    }
    /** Full XLUnicodeRichExtendedString (the SST form). */
    def richString(): String = {
      val cch = u16()
      val flags = u8()
      val rich = (flags & 0x08) != 0
      val ext = (flags & 0x04) != 0
      val cRun = if (rich) u16() else 0
      val cbExt = if (ext) u32() else 0L
      val s = chars(cch, (flags & 0x01) != 0)
      skip(cRun.toLong * 4)
      skip(cbExt)
      s
    }
  }

  private def u16(d: Array[Byte], p: Int): Int = {
    if (p + 2 > d.length) bad()
    (d(p) & 0xff) | ((d(p + 1) & 0xff) << 8)
  }
  private def u32(d: Array[Byte], p: Int): Long =
    u16(d, p).toLong | (u16(d, p + 2).toLong << 16)
  private def f64(d: Array[Byte], p: Int): Double = {
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (d(p + i) & 0xffL); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** RK-packed number (MS-XLS 2.5.217): bit0 = value/100, bit1 =
    * signed-30-bit integer vs truncated-double. */
  private def rkValue(rk: Long): Double = {
    val div100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    val v =
      if (isInt) (rk.toInt >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk >>> 2) << 34)
    if (div100) v / 100 else v
  }

  private def fmtNum(v: Double): String =
    if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def extract(bytes: Array[Byte]): Option[String] =
    try {
      val cfb = WordDoc.Cfb(bytes).getOrElse(return None)
      val wb = cfb.stream("Workbook").orElse(cfb.stream("Book"))
        .getOrElse(return None)
      // 1. record index + globals walk: SST chain, sheet names/offsets
      var p = 0
      var sstChain = Vector.empty[Array[Byte]]
      var inSstChain = false
      var sheets = Vector.empty[(String, Int)]
      var firstEofAt = -1
      while (p + 4 <= wb.length && firstEofAt < 0) {
        val typ = u16(wb, p)
        val len = u16(wb, p + 2)
        if (p + 4 + len > wb.length) bad()
        val body = java.util.Arrays.copyOfRange(wb, p + 4, p + 4 + len)
        typ match {
          case 0x002F => return None // FilePass: encrypted
          case 0x00FC => sstChain = Vector(body); inSstChain = true
          case 0x003C if inSstChain => sstChain :+= body
          case 0x0085 => // BoundSheet8: offset u32, 2 flag bytes, name
            if (len >= 8) {
              val off = u32(body, 0).toInt
              val cch = body(6) & 0xff
              val high = (body(7) & 0x01) != 0
              val name =
                if (high) new String(body, 8, cch * 2, "UTF-16LE")
                else new String(body, 8, cch, "ISO-8859-1")
              sheets :+= (name, off)
            }
            inSstChain = false
          case 0x000A => firstEofAt = p // globals EOF
          case _ => if (typ != 0x003C) inSstChain = false
        }
        p += 4 + len
      }
      // 2. decode the shared string table
      val sst: IndexedSeq[String] =
        if (sstChain.isEmpty) IndexedSeq.empty
        else {
          val r = new Records(sstChain)
          r.skip(8) // cstTotal + cstUnique headers
          val unique = u32(sstChain.head, 4)
          if (unique < 0 || unique > (1 << 22)) bad()
          (0L until unique).map(_ => r.richString()).toIndexedSeq
        }
      // 3. per-sheet cell walk
      val parts = sheets.map { case (name, off) =>
        val cells = Vector.newBuilder[String]
        var q = off
        var done = q < 0 || q + 4 > wb.length
        while (!done && q + 4 <= wb.length) {
          val typ = u16(wb, q)
          val len = u16(wb, q + 2)
          if (q + 4 + len > wb.length) bad()
          val b = q + 4
          typ match {
            case 0x000A => done = true // sheet EOF
            case 0x00FD if len >= 10 => // LabelSst
              val isst = u32(wb, b + 6)
              if (isst >= 0 && isst < sst.length) cells += sst(isst.toInt)
            case 0x0203 if len >= 14 => // Number
              cells += fmtNum(f64(wb, b + 6))
            case 0x027E if len >= 10 => // RK
              cells += fmtNum(rkValue(u32(wb, b + 6)))
            case 0x00BD if len >= 12 => // MulRk: run of RKs in one row
              val n = (len - 6) / 6
              var k = 0
              while (k < n) {
                cells += fmtNum(rkValue(u32(wb, b + 4 + k * 6 + 2)))
                k += 1
              }
            case 0x0204 if len >= 9 => // Label: inline string
              val r = new Records(Vector(
                java.util.Arrays.copyOfRange(wb, b + 6, b + len)))
              cells += r.richString()
            case _ => ()
          }
          q += 4 + len
        }
        (name +: cells.result()).mkString(" ")
      }
      if (parts.isEmpty) None else Some(parts.mkString("\n").trim)
    } catch {
      case _: Malformed => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  // ==== synth: a real BIFF8 workbook (round-trip side) ====

  private def rec(typ: Int, body: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](4 + body.length)
    out(0) = (typ & 0xff).toByte; out(1) = ((typ >> 8) & 0xff).toByte
    out(2) = (body.length & 0xff).toByte
    out(3) = ((body.length >> 8) & 0xff).toByte
    System.arraycopy(body, 0, out, 4, body.length)
    out
  }
  private def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long) = le16((v & 0xffff).toInt) ++
    le16(((v >> 16) & 0xffff).toInt)

  /** One-sheet BIFF8 workbook: SST strings (one forced to span into a
    * Continue record, proving the continuation path), LabelSst cells
    * referencing them, a Number, an RK integer, an RK div-100, and an
    * inline Label — inside a valid CFB container. */
  def synth(sheetName: String, strings: Seq[String], num: Double,
      rkInt: Int, rkCents: Int, inline: String): Array[Byte] = {
    def xlStr(s: String): Array[Byte] = {
      val wide = s.exists(_ > 0xff)
      le16(s.length) ++ Array((if (wide) 1 else 0).toByte) ++
        (if (wide) s.getBytes("UTF-16LE")
         else s.map(_.toByte).toArray)
    }
    // SST body: force the LAST string's chars into a Continue record
    val head = le32(strings.length) ++ le32(strings.length) ++
      strings.init.flatMap(xlStr).toArray
    val last = strings.last
    val lastHeader = le16(last.length) ++ Array(0.toByte) ++
      last.take(2).map(_.toByte).toArray // first 2 chars stay in SST
    val continueBody = Array(0.toByte) ++ // restated flag byte
      last.drop(2).map(_.toByte).toArray
    def cell(row: Int, colBytes: Array[Byte]) = le16(row) ++ colBytes
    val sheetRecs: Array[Byte] =
      rec(0x0809, le16(0x0600) ++ le16(0x0010) ++ new Array[Byte](12)) ++
        strings.indices.toArray.flatMap(i =>
          rec(0x00FD, cell(i, le16(0) ++ le16(0x000F) ++ le32(i)))) ++
        rec(0x0203, cell(9, le16(1) ++ le16(0x000F)) ++ {
          val bits = java.lang.Double.doubleToLongBits(num)
          (0 until 8).map(k => ((bits >> (8 * k)) & 0xff).toByte).toArray
        }) ++
        rec(0x027E, cell(10, le16(1) ++ le16(0x000F)) ++
          le32((rkInt.toLong << 2) | 2)) ++
        rec(0x027E, cell(11, le16(1) ++ le16(0x000F)) ++
          le32((rkCents.toLong << 2) | 3)) ++
        rec(0x0204, cell(12, le16(2) ++ le16(0x000F)) ++ xlStr(inline)) ++
        rec(0x000A, Array.empty)
    // globals: BOF, SST + Continue, BoundSheet8 (offset patched), EOF
    val bof = rec(0x0809, le16(0x0600) ++ le16(0x0005) ++ new Array[Byte](12))
    val sst = rec(0x00FC, head ++ lastHeader) ++
      rec(0x003C, continueBody)
    val nameB = sheetName.map(_.toByte).toArray
    val bsBody = le32(0) ++ Array(0.toByte, 0.toByte,
      sheetName.length.toByte, 0.toByte) ++ nameB
    val bs = rec(0x0085, bsBody)
    val eof = rec(0x000A, Array.empty)
    val globalsLen = bof.length + sst.length + bs.length + eof.length
    // patch the sheet offset into BoundSheet8
    val off = le32(globalsLen.toLong)
    val bsFixed = bs.clone()
    System.arraycopy(off, 0, bsFixed, 4, 4)
    val workbook = bof ++ sst ++ bsFixed ++ eof ++ sheetRecs
    WordDoc.Cfb.build(Seq("Workbook" -> workbook))
  }
}
