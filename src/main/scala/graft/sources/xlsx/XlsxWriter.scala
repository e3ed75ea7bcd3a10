package graft.sources.xlsx

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.concurrent.{ExecutionException, ExecutorService, Executors, FutureTask, TimeUnit}
import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable.ArrayBuffer

/** A spreadsheet container the DSv2 write path streams into: one sheet per
  * write task, in files named `part-*.<extension>`. */
trait SheetFormat extends Serializable {
  def extension: String
  /** Whether its sheet writers measure their compression
    * ([[SheetWriter.stats]]). */
  def measured: Boolean = false
  /** `threads`: compression workers the sheet may run beside the calling
    * thread. A format that compresses inline ignores it. */
  def sheetWriter(out: OutputStream, sheetName: String,
      header: Option[Seq[String]], threads: Int): SheetWriter
}

/** One sheet being streamed: rows in order, then either `finish`, which
  * completes the container and closes its stream, or `abort`, which
  * closes the stream without completing it and releases every worker
  * thread and native deflate buffer. Cell values as in
  * [[XlsxWriter.SheetSpec]]. */
trait SheetWriter {
  def addRow(values: Seq[Any]): Unit
  def finish(): Unit
  def abort(): Unit
  /** The sheet's compression so far; zeros unless the format is
    * [[SheetFormat.measured]]. */
  def stats: SheetStats = SheetStats.Zero
}

/** A sheet writer's compression figures: deflate time summed over the
  * sheet's segments on whichever thread ran them, the time the writing
  * thread waited for deflate results, and the sheet entry's XML and
  * deflated bytes. */
final case class SheetStats(deflateNs: Long, waitNs: Long, xmlBytes: Long,
    deflatedBytes: Long)

object SheetStats {
  val Zero: SheetStats = SheetStats(0L, 0L, 0L, 0L)
}

/** Minimal SpreadsheetML (.xlsx) writer — the sandbox-local way to produce
  * xlsx fixtures and the backing of the `xlsx` DSv2 write path. Beyond the
  * reference (read-only), but required for round-trip tests (SURVEY §2.1 #15).
  *
  * Layout: one zip with [Content_Types].xml, _rels/.rels, xl/workbook.xml,
  * xl/_rels/workbook.xml.rels, xl/styles.xml and one worksheet part per
  * sheet. Strings are written inline (`t="inlineStr"`), numbers as plain
  * `<v>`, booleans as `t="b"`, dates as serial days since 1899-12-30 with
  * style index 1 (numFmtId 14) so readers tag them as dates.
  *
  * Rows are encoded as bytes into a segment buffer of about
  * [[SegmentBytes]]; each full segment deflates at [[DeflateLevel]] on its
  * own `Deflater`, inline or on a deflate worker, and segments reach the
  * stream in order. Memory is therefore bounded by the segments in flight,
  * about `(threads + 1) × SegmentBytes`, whatever the row count. The zip
  * records around the pre-deflated data come from [[ZipRaw]]'s encoders.
  */
object XlsxWriter extends SheetFormat {
  val extension = "xlsx"
  override val measured = true
  def sheetWriter(out: OutputStream, sheetName: String,
      header: Option[Seq[String]], threads: Int): SheetWriter =
    new StreamingWorkbookWriter(out, sheetName, header, threads)

  /** One sheet: optional header row (written as strings) + data rows.
    * Supported cell values: null, String, Double/Float/Int/Long/Short/Byte,
    * Boolean, java.time.LocalDate, java.sql.Date.
    */
  final case class SheetSpec(name: String, header: Option[Seq[String]], rows: Iterator[Seq[Any]])

  /** Uncompressed bytes per worksheet SEGMENT: a segment ends at the first
    * row boundary at or past this many bytes of its XML. Each segment is
    * deflated alone and ends in a FULL_FLUSH, so every cut is a byte-aligned
    * point with no back-reference across it, recorded in a sidecar
    * `xl/graft/sheetN.idx` entry — the embedded row-group index that makes
    * our own workbooks SPLITTABLE: a reader with the index inflates and
    * parses every segment in parallel (no sequential boundary tracking,
    * no sequential inflate), foreign readers see a perfectly ordinary
    * deflate stream and ignore the extra part. The parquet row-group idea
    * applied inside a standards-valid xlsx. The same independence lets
    * the writer deflate segments in parallel. 1 MiB keeps the one deflate
    * that runs after the last row short and the writer's buffers small;
    * the reader takes its cuts from the index, so a workbook written with
    * another segment size reads the same way. */
  val SegmentBytes: Int = 1 << 20

  /** The zlib level of every entry the writer deflates: the fastest level
    * whose output stays within 10% of the default level 6's bytes on both
    * measured sheets. One thread deflating each sheet in 2 MiB segments,
    * minimum of 12 runs, OpenJDK 17 with the system zlib on a 4-core x86
    * box:
    *
    * | sheet | level 6 | level 4 | level 2 | level 1 |
    * |---|---|---|---|---|
    * | graft-written, 30k rows, 8.2 MB of XML | 153 ms, 1.50 MB | 89 ms, +4.5% bytes | 67 ms, +15.1% | 63 ms, +23.0% |
    * | Excel-style, 100k rows, 21.5 MB of XML | 434 ms, 3.58 MB | 215 ms, +5.6% | 171 ms, +18.6% | 157 ms, +29.3% |
    *
    * Level 3 writes +12.4% and +13.7% bytes, level 5 +0.8% and +0.7% at
    * a cost between levels 4 and 6. Level 4 about halves the deflate CPU
    * of level 6, and the first sheet inflates about as fast (18.2 against
    * 17.9 ms). */
  val DeflateLevel: Int = 4

  /** Magic + version prefix of the segment index entry. */
  val SegmentMagic: Long = 0x4752465453454731L // "GRFTSEG1"

  /** Segment index layout: magic, version, cut count, the cuts, total
    * uncompressed bytes, total rows, the worksheet entry's CRC-32,
    * compressed and uncompressed sizes, then the CRC-32 of each segment's
    * XML (cut count + 1 of them, 4 bytes each). The reader checks the
    * entry's three fields against the archive's central directory, so an
    * index copied into a repacked archive (same sheet bytes, different
    * deflate stream) is ignored instead of steering workers into the
    * wrong offsets; it checks each segment's CRC-32 where it inflates the
    * segment. Version 2 had no segment CRCs and is read unchecked;
    * version 1 had neither and is never trusted. */
  val SegmentVersion: Int = 3

  /** `xl/worksheets/sheetN.xml` → its index part name. */
  def segmentIndexName(worksheetPath: String): String =
    "xl/graft/" + worksheetPath.stripPrefix("xl/worksheets/")
      .stripSuffix(".xml") + ".idx"

  /** Every sheet of `sheets` into one workbook on `out`, which is closed. */
  def write(out: OutputStream, sheets: Seq[SheetSpec]): Unit =
    try {
      val zip = new ZipSink(out)
      staticParts(zip, sheets.map(_.name))
      sheets.zipWithIndex.foreach { case (sheet, i) =>
        val ws = new Worksheet(zip, s"xl/worksheets/sheet${i + 1}.xml",
          sheet.header, threads = 1)
        sheet.rows.foreach(ws.addRow)
        ws.finish()
      }
      zip.finish()
    } finally out.close()

  /** Incremental single-sheet workbook writer: static parts are emitted up
    * front, then rows stream into the worksheet entry segment by segment —
    * memory use is O(threads) segments, not O(rows) (the DSv2 write path
    * uses this; a task writing millions of rows never buffers them).
    * `threads` > 1 deflates segments on that many worker threads.
    */
  final class StreamingWorkbookWriter(out: OutputStream, sheetName: String,
      header: Option[Seq[String]], threads: Int = 1) extends SheetWriter {
    private val zip = new ZipSink(out)
    staticParts(zip, Seq(sheetName))
    private val sheet =
      new Worksheet(zip, "xl/worksheets/sheet1.xml", header, threads)

    def addRow(values: Seq[Any]): Unit = sheet.addRow(values)

    def finish(): Unit = {
      sheet.finish()
      zip.finish()
      out.close()
    }

    def abort(): Unit = try sheet.abort() finally out.close()

    override def stats: SheetStats = sheet.stats
  }

  private def staticParts(zip: ZipSink, sheetNames: Seq[String]): Unit = {
    def put(name: String, content: String): Unit =
      zip.putEntry(name, content.getBytes(UTF_8))
    put("[Content_Types].xml", contentTypes(sheetNames.size))
    put("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/workbook.xml", workbookXml(sheetNames))
    put("xl/_rels/workbook.xml.rels", workbookRels(sheetNames.size))
    put("xl/styles.xml", stylesXml)
  }

  private def stylesXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<fonts count="1"><font/></fonts>
      |<fills count="1"><fill/></fills>
      |<borders count="1"><border/></borders>
      |<cellXfs count="2">
      |<xf numFmtId="0" fontId="0" fillId="0" borderId="0"/>
      |<xf numFmtId="14" fontId="0" fillId="0" borderId="0" applyNumberFormat="1"/>
      |</cellXfs>
      |</styleSheet>""".stripMargin

  private def contentTypes(nSheets: Int): String = {
    val overrides = (1 to nSheets).map(i =>
      s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
       |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
       |<Default Extension="xml" ContentType="application/xml"/>
       |<Default Extension="idx" ContentType="application/octet-stream"/>
       |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
       |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
       |${overrides.mkString("\n")}
       |</Types>""".stripMargin
  }

  private def workbookXml(names: Seq[String]): String = {
    val sheets = names.zipWithIndex.map { case (n, i) =>
      s"""<sheet name="${esc(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
       |<sheets>${sheets.mkString}</sheets>
       |</workbook>""".stripMargin
  }

  private def workbookRels(nSheets: Int): String = {
    val rels = (1 to nSheets).map(i =>
      s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
       |${rels.mkString("\n")}
       |<Relationship Id="rId${nSheets + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
       |</Relationships>""".stripMargin
  }

  // ---- the archive -----------------------------------------------------------

  /** The archive as [[ZipRaw]] records written straight to `out`: every
    * entry is DEFLATED, streamed, and closed by a data descriptor, and
    * `finish` appends the central directory. One entry is open at a time. */
  private final class ZipSink(out: OutputStream) {
    private var offset = 0L
    private val central = new ByteArrayOutputStream()
    private var entries = 0L
    private var name: Array[Byte] = _
    private var entryOffset = 0L

    private def put(b: Array[Byte], len: Int): Unit = {
      out.write(b, 0, len)
      offset += len
    }

    def startEntry(path: String): Unit = {
      name = path.getBytes(UTF_8)
      entryOffset = offset
      val h = ZipRaw.localHeader(name)
      put(h, h.length)
    }

    def data(d: Deflated): Unit = put(d.bytes, d.length)

    def endEntry(crc: Long, compressedSize: Long, size: Long): Unit = {
      val dd = ZipRaw.dataDescriptor(crc, compressedSize, size)
      put(dd, dd.length)
      central.write(ZipRaw.centralHeader(name, crc, compressedSize, size,
        entryOffset))
      entries += 1
    }

    /** A whole entry from its content, deflated as one last segment. */
    def putEntry(path: String, content: Array[Byte]): Unit = {
      startEntry(path)
      val d = deflateSegment(content, content.length, last = true)
      data(d)
      endEntry(d.crc & 0xffffffffL, d.length, content.length)
    }

    def finish(): Unit = {
      val cd = central.toByteArray
      val cdOffset = offset
      put(cd, cd.length)
      val end = ZipRaw.endRecords(entries, cdOffset, cd.length)
      put(end, end.length)
      out.flush()
    }
  }

  // ---- the worksheet: encode → deflate → write --------------------------------

  /** `bytes(0 until length)`: a deflated segment, the CRC-32 of the XML
    * it came from, and the nanoseconds its deflate and checksum took. */
  private final class Deflated(val bytes: Array[Byte], val length: Int,
      val crc: Int, val ns: Long)

  /** Deflate `in(0 until len)` on a fresh raw `Deflater` at
    * [[DeflateLevel]]. A segment ends in a FULL_FLUSH (byte-aligned, nothing
    * after it refers back into it), the `last` one in the stream's final
    * block, so segments deflated apart concatenate into one valid deflate
    * stream. */
  private def deflateSegment(in: Array[Byte], len: Int, last: Boolean): Deflated = {
    val t0 = System.nanoTime()
    val d = new Deflater(DeflateLevel, true)
    try {
      d.setInput(in, 0, len)
      if (last) d.finish()
      val flush = if (last) Deflater.NO_FLUSH else Deflater.FULL_FLUSH
      var out = new Array[Byte](len / 4 + 64)
      var n = 0
      var done = false
      while (!done) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        n += d.deflate(out, n, out.length - n, flush)
        // a flush is complete once it leaves output room unused
        done = if (last) d.finished() else n < out.length
      }
      val crc = new CRC32
      crc.update(in, 0, len)
      new Deflated(out, n, crc.getValue.toInt, System.nanoTime() - t0)
    } finally d.end()
  }

  /** A segment handed off: its deflate, its XML buffer (recycled once the
    * segment is written), and where it starts. */
  private final class Pending(val task: FutureTask[Deflated],
      val buf: Array[Byte], val uStart: Long, val rowsBefore: Long)

  /** One worksheet entry of `zip`. The calling thread encodes rows into
    * the current segment and, at the first row boundary at or past
    * [[SegmentBytes]], hands the segment to [[deflateSegment]]: inline at
    * one thread, else on a deflate worker, with at most `threads + 1`
    * segments in flight. It computes the entry's CRC-32 itself and writes
    * finished segments in order; a worker's failure is rethrown here at
    * the next hand-off. `finish` closes the entry and adds the segment
    * index. */
  private final class Worksheet(zip: ZipSink, path: String,
      header: Option[Seq[String]], threads: Int) {
    require(threads >= 1, s"xlsx write: threads must be >= 1, got $threads")
    private val enc = new SheetEncoder(SegmentBytes + (SegmentBytes >> 3))
    // daemon threads `xlsx-deflate-N`, started as segments arrive
    private val workers: ExecutorService =
      if (threads > 1) Executors.newFixedThreadPool(threads,
        ParallelSheetScanner.daemonThreads("xlsx-deflate"))
      else null
    private val inFlight = new java.util.ArrayDeque[Pending]()
    private val spare = new java.util.ArrayDeque[Array[Byte]]()
    private val crc = new CRC32
    // (compressed offset, uncompressed offset, rows before) of segments 1..
    private val cuts = ArrayBuffer.empty[Array[Long]]
    private val segmentCrcs = ArrayBuffer.empty[Int]
    private var uncompressed = 0L // XML bytes handed off
    private var compressed = 0L // deflate bytes written
    private var rows = 0L
    private var segmentRows = 0L // rows before the segment being encoded
    private var deflateNs = 0L // over the segments written
    private var waitNs = 0L

    zip.startEntry(path)
    enc.bytes(SheetOpen)
    header.foreach(addRow)

    def addRow(values: Seq[Any]): Unit = {
      rows += 1
      enc.row(rows, values)
      if (enc.size >= SegmentBytes) handOff(last = false)
    }

    def finish(): Unit =
      try {
        enc.bytes(SheetClose)
        handOff(last = true)
        while (!inFlight.isEmpty) writeHead()
        zip.endEntry(crc.getValue, compressed, uncompressed)
        if (cuts.nonEmpty) zip.putEntry(segmentIndexName(path), index())
      } finally stopWorkers()

    /** Drop the segments not yet written and stop the workers: a queued
      * deflate never starts, a running one completes and ends its
      * Deflater. */
    def abort(): Unit = {
      inFlight.clear()
      stopWorkers()
    }

    // a deflate ignores interrupts and takes milliseconds: wait it out
    private def stopWorkers(): Unit = if (workers != null) {
      workers.shutdownNow()
      workers.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }

    private def handOff(last: Boolean): Unit = {
      val buf = enc.buf
      val len = enc.size
      crc.update(buf, 0, len)
      val task = new FutureTask[Deflated](() => deflateSegment(buf, len, last))
      inFlight.add(new Pending(task, buf, uncompressed, segmentRows))
      uncompressed += len
      segmentRows = rows
      if (workers == null) task.run() else workers.execute(task)
      inFlight.forEach(p => if (p.task.isDone) result(p.task))
      while (!inFlight.isEmpty &&
          (inFlight.peek.task.isDone || inFlight.size > threads)) writeHead()
      if (!last)
        enc.reset(if (spare.isEmpty) new Array[Byte](buf.length) else spare.poll())
    }

    /** The sheet entry so far: deflate time and waits over the segments
      * written, XML bytes handed to deflate, deflated bytes written. */
    def stats: SheetStats = SheetStats(deflateNs, waitNs, uncompressed, compressed)

    private def writeHead(): Unit = {
      val p = inFlight.poll()
      val t0 = System.nanoTime()
      val d = result(p.task)
      waitNs += System.nanoTime() - t0
      deflateNs += d.ns
      if (p.uStart > 0) cuts += Array(compressed, p.uStart, p.rowsBefore)
      zip.data(d)
      compressed += d.length
      segmentCrcs += d.crc
      spare.add(p.buf)
    }

    private def result(t: FutureTask[Deflated]): Deflated =
      try t.get()
      catch { case e: ExecutionException => throw Option(e.getCause).getOrElse(e) }

    private def index(): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      d.writeLong(SegmentMagic)
      d.writeInt(SegmentVersion)
      d.writeInt(cuts.length)
      cuts.foreach(_.foreach(d.writeLong))
      d.writeLong(uncompressed)
      d.writeLong(rows)
      d.writeLong(crc.getValue)
      d.writeLong(compressed)
      d.writeLong(uncompressed)
      segmentCrcs.foreach(d.writeInt)
      d.flush()
      bos.toByteArray
    }
  }

  // ---- the encoder -------------------------------------------------------------

  private def ascii(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val SheetOpen = ascii("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
    """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
  private val SheetClose = ascii("</sheetData></worksheet>")
  private val RowOpen = ascii("<row r=\"")
  private val TagEnd = ascii("\">")
  private val RowClose = ascii("</row>")
  private val InlineStr = ascii("\" t=\"inlineStr\"><is><t>")
  private val InlineStrEnd = ascii("</t></is></c>")
  private val Value = ascii("\"><v>")
  private val BoolValue = ascii("\" t=\"b\"><v>")
  private val DateValue = ascii("\" s=\"1\"><v>")
  private val ValueEnd = ascii("</v></c>")
  private val True = ascii("1")
  private val False = ascii("0")

  /** The replacement of each ASCII character in text, null where it stands
    * for itself. \r \n \t become character references: XML parsers
    * normalize literal \r(\n) in content to \n (and all three to spaces in
    * attributes), which would corrupt a write/read roundtrip. XML 1.0
    * cannot represent the other control characters at all (not even as
    * character references), so U+FFFD keeps the workbook well-formed. */
  private val Escapes: Array[Array[Byte]] = Array.tabulate(128)(_.toChar match {
    case '&' => ascii("&amp;")
    case '<' => ascii("&lt;")
    case '>' => ascii("&gt;")
    case '"' => ascii("&quot;")
    case '\r' => ascii("&#xD;")
    case '\n' => ascii("&#xA;")
    case '\t' => ascii("&#x9;")
    case c if c < ' ' => "�".getBytes(UTF_8)
    case _ => null
  })

  /** Column letters of 0-based column `c`: A … Z, AA … */
  private def colName(c: Int): String =
    (if (c >= 26) colName(c / 26 - 1) else "") + ('A' + c % 26).toChar

  /** Worksheet XML as UTF-8 bytes in a growable buffer: rows, their cells
    * and escaped text, byte for byte as the sheet's `<sheetData>` holds
    * them. A row number is formatted once and copied into each cell
    * reference behind a cached `<c r="` + column prefix. */
  private final class SheetEncoder(capacity: Int) {
    var buf = new Array[Byte](capacity)
    var size = 0
    private val digits = new Array[Byte](20)
    private val prefixes = ArrayBuffer.empty[Array[Byte]]

    def reset(b: Array[Byte]): Unit = { buf = b; size = 0 }

    private def ensure(n: Int): Unit =
      if (size + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, size + n))

    def bytes(b: Array[Byte]): Unit = {
      ensure(b.length)
      System.arraycopy(b, 0, buf, size, b.length)
      size += b.length
    }

    /** An ASCII-only string. */
    def chars(s: String): Unit = {
      ensure(s.length)
      var i = 0
      while (i < s.length) { buf(size) = s.charAt(i).toByte; size += 1; i += 1 }
    }

    def long(v0: Long): Unit = {
      if (v0 == Long.MinValue) { chars(v0.toString); return }
      ensure(20)
      var v = v0
      if (v < 0) { buf(size) = '-'; size += 1; v = -v }
      var n = 0
      while (n == 0 || v > 0) {
        digits(n) = ('0' + v % 10).toByte
        v /= 10
        n += 1
      }
      while (n > 0) { n -= 1; buf(size) = digits(n); size += 1 }
    }

    def row(r: Long, values: Seq[Any]): Unit = {
      bytes(RowOpen)
      val r0 = size
      long(r)
      val rLen = size - r0
      bytes(TagEnd)
      // `<c r="` + column + row, then the rest of the open tag
      def cell(c: Int, tail: Array[Byte]): Unit = {
        while (prefixes.length <= c)
          prefixes += ascii("<c r=\"" + colName(prefixes.length))
        bytes(prefixes(c))
        ensure(rLen)
        System.arraycopy(buf, r0, buf, size, rLen)
        size += rLen
        bytes(tail)
      }
      def number(c: Int, v: Long): Unit = { cell(c, Value); long(v); bytes(ValueEnd) }
      var c = 0
      val it = values.iterator
      while (it.hasNext) {
        it.next() match {
          case null => // empty cell: omitted entirely (reader yields NULL)
          case s: String => cell(c, InlineStr); text(s); bytes(InlineStrEnd)
          case d: Double => cell(c, Value); chars(fmt(d)); bytes(ValueEnd)
          case f: Float => cell(c, Value); chars(fmt(f.toDouble)); bytes(ValueEnd)
          case i: Int => number(c, i)
          case l: Long => number(c, l)
          case s: Short => number(c, s)
          case b: Byte => number(c, b)
          case b: Boolean =>
            cell(c, BoolValue); bytes(if (b) True else False); bytes(ValueEnd)
          case d: LocalDate =>
            cell(c, DateValue); long(d.toEpochDay - XCell.ExcelEpochDay); bytes(ValueEnd)
          case d: java.sql.Date =>
            cell(c, DateValue)
            long(d.toLocalDate.toEpochDay - XCell.ExcelEpochDay)
            bytes(ValueEnd)
          case other =>
            throw new IllegalArgumentException(
              s"xlsx write: unsupported value type ${other.getClass.getName}")
        }
        c += 1
      }
      bytes(RowClose)
    }

    /** `s` escaped ([[Escapes]]) and UTF-8 encoded; an unpaired surrogate
      * becomes '?', as a `java.io.Writer` encodes it. */
    def text(s: String): Unit = {
      val n = s.length
      var i = 0
      while (i < n) {
        val end = math.min(n, i + 4096)
        ensure(6 * (end - i) + 4) // "&quot;" is the widest form of a char
        while (i < end) {
          val ch = s.charAt(i)
          if (ch < 0x80) {
            val e = Escapes(ch)
            if (e == null) { buf(size) = ch.toByte; size += 1 }
            else { System.arraycopy(e, 0, buf, size, e.length); size += e.length }
          } else if (ch < 0x800) {
            buf(size) = (0xc0 | ch >> 6).toByte
            buf(size + 1) = (0x80 | ch & 0x3f).toByte
            size += 2
          } else if (!Character.isSurrogate(ch)) {
            buf(size) = (0xe0 | ch >> 12).toByte
            buf(size + 1) = (0x80 | ch >> 6 & 0x3f).toByte
            buf(size + 2) = (0x80 | ch & 0x3f).toByte
            size += 3
          } else if (Character.isHighSurrogate(ch) && i + 1 < n &&
              Character.isLowSurrogate(s.charAt(i + 1))) {
            val cp = Character.toCodePoint(ch, s.charAt(i + 1))
            buf(size) = (0xf0 | cp >> 18).toByte
            buf(size + 1) = (0x80 | cp >> 12 & 0x3f).toByte
            buf(size + 2) = (0x80 | cp >> 6 & 0x3f).toByte
            buf(size + 3) = (0x80 | cp & 0x3f).toByte
            size += 4
            i += 1
          } else { buf(size) = '?'; size += 1 }
          i += 1
        }
      }
    }
  }

  /** Shortest round-trip decimal form (Java Double.toString) so a write →
    * read cycle reproduces the exact same double; integral values drop the
    * ".0" to match how spreadsheet tools store whole numbers. */
  private[sources] def fmt(d: Double): String = {
    if (d == 0.0) {
      // the integral fast path would drop the sign of -0.0
      if (1 / d < 0) "-0" else "0"
    } else if (d == math.floor(d) && !d.isInfinite && math.abs(d) < 1e15) {
      d.toLong.toString
    } else d.toString
  }

  /** `s` as XML text: the worksheet encoder's escapes, as a string. */
  private[sources] def esc(s: String): String = {
    val e = new SheetEncoder(6 * math.min(s.length, 4096) + 4) // text's first ensure
    e.text(s)
    new String(e.buf, 0, e.size, UTF_8)
  }
}
