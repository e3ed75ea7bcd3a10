package graft.sources.xlsx

import java.io.InputStream
import java.time.LocalDate
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Cell model mirroring the reference's type lattice
  * (reference: src/sheetreader_extension.cpp:152-178 — VARCHAR/DOUBLE/
  * BOOLEAN/DATE are the only materialized types; empty/error cells → NULL).
  */
sealed trait XCell
object XCell {
  final case class XString(value: String) extends XCell
  final case class XNumber(value: Double) extends XCell
  final case class XBool(value: Boolean) extends XCell
  /** Excel date serial: fractional days since 1899-12-30. */
  final case class XDate(serial: Double) extends XCell
  case object XError extends XCell
  case object XNone extends XCell

  /** Excel's day-0 epoch (1899-12-30) as an epoch day: serial = epochDay −
    * this, for every format that reads or writes date serials.
    * serial→epochDay conversion mirrors the reference's seconds/86400 floor
    * (sheetreader_extension.cpp:170-175). */
  val ExcelEpochDay: Long = LocalDate.of(1899, 12, 30).toEpochDay
  def serialToEpochDay(serial: Double): Int = (ExcelEpochDay + math.floor(serial).toLong).toInt
}

final case class SheetInfo(name: String, target: String)

/** UTF-16 → UTF-8 transcoding stream (r10): workbooks with a UTF-16 BOM
  * (never produced by Excel, but legal XML) used to fall back to the StAX
  * row path — correct, but off the byte scanner AND off the columnar batch
  * builder. Transcoding the inflated entry on the fly lets UTF-16 sheets
  * ride the exact same scanner/columnar pipeline as UTF-8 ones: the
  * scanner matches tags bytewise and never consults the XML prolog's
  * declared encoding, so the transcoded bytes are indistinguishable from a
  * native UTF-8 workbook. A truncated trailing surrogate pair is held back
  * across chunk boundaries so supplementary-plane text survives intact.
  */
private[xlsx] final class Utf16ToUtf8Stream(in: InputStream)
    extends InputStream {
  // UTF_16 consumes the BOM (and defaults to BE without one, per XML rules)
  private val reader =
    new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_16)
  private val cbuf = new Array[Char](8192)
  private var carry: Int = -1 // held-back high surrogate at a chunk edge
  private var bbuf: Array[Byte] = Array.emptyByteArray
  private var pos = 0

  private def fill(): Boolean = {
    var off = 0
    if (carry >= 0) { cbuf(0) = carry.toChar; off = 1; carry = -1 }
    val n = reader.read(cbuf, off, cbuf.length - off)
    if (n < 0 && off == 0) return false
    var len = off + math.max(n, 0)
    // a lone trailing high surrogate may pair with the next chunk's first
    // char — encoding it now would emit a replacement character
    if (n >= 0 && len > 0 && Character.isHighSurrogate(cbuf(len - 1))) {
      carry = cbuf(len - 1); len -= 1
      if (len == 0) return fill()
    }
    bbuf = new String(cbuf, 0, len)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    pos = 0
    bbuf.length > 0 || fill()
  }

  override def read(): Int =
    if (pos < bbuf.length || fill()) { val b = bbuf(pos) & 0xff; pos += 1; b }
    else -1

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (pos >= bbuf.length && !fill()) return -1
    val n = math.min(len, bbuf.length - pos)
    System.arraycopy(bbuf, pos, b, off, n)
    pos += n
    n
  }

  override def close(): Unit = reader.close()
}

/** Streaming XLSX (zip + SpreadsheetML) puller over [[ZipRaw]]'s archive
  * reader, with byte scanners for the worksheet and the shared strings and
  * StAX for the small parts. One pass per needed zip entry; only the
  * shared-strings table is held in memory (sized by the file, not the
  * dataset — same tradeoff as the reference core). No external
  * dependencies.
  */
object XlsxParser {
  private val xif = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  /** Strings a schema probe decodes from the front of the shared-strings
    * table ([[Workbook.sharedStringsPrefix]]). Excel writes the table in
    * about first-use order, so a sheet's first rows find their strings
    * here; a probe row that reaches past the prefix re-runs over the
    * whole table. */
  val ProbeStrings: Int = 1024

  /** One workbook, read entry by entry through `archive`, which parses the
    * central directory once and reads each entry by position — the same
    * way on a local file, HDFS or S3A. A reader opens about seven entries
    * per file (rels, workbook, styles, the shared-strings prefix and the
    * sheet for the schema probe, the whole shared-strings table and the
    * sheet for the scan), and none costs a pass over another.
    *
    * Only a scan decodes the whole shared-strings table
    * ([[sharedStringBytes]]; the [[XCell]] faces use [[sharedStrings]]);
    * the schema probe reads a prefix of it ([[sharedStringsPrefix]]), so
    * planning never holds the table and the `maxSharedStringsBytes`
    * budget is enforced where the table is decoded, on the scan task's
    * thread.
    *
    * The archive's path names the workbook in every error. */
  final class Workbook(archive: ZipRaw.Archive,
      maxSharedStringsBytes: Long = SharedStringsScanner.DefaultMaxBytes) {

    /** Sheets in workbook order: (name, worksheet part path). */
    lazy val sheets: Seq[SheetInfo] = {
      val rels = readRels()
      val out = ArrayBuffer[SheetInfo]()
      foreachEntry("xl/workbook.xml") { xr =>
        while (xr.hasNext) {
          if (xr.next() == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "sheet") {
            val name = attr(xr, "name").getOrElse("")
            val rid = attr(xr, "id").getOrElse("") // r:id resolves by local name
            val target = rels.getOrElse(rid, "worksheets/sheet1.xml")
            val path = if (target.startsWith("/")) target.drop(1)
                       else if (target.startsWith("xl/")) target else "xl/" + target
            out += SheetInfo(name, path)
          }
        }
      }
      out.toSeq
    }

    /** The whole shared-strings table as `String`s, decoded once per
      * workbook by the byte scanner (a UTF-16 table transcodes onto it) —
      * what the [[XCell]] row faces resolve against. Throws the
      * `maxSharedStringsBytes` guard. */
    lazy val sharedStrings: Array[String] =
      sharedStringsEntry(SharedStringsScanner.parse(_, maxSharedStringsBytes).toArray)
        .getOrElse(Array.empty)

    /** The whole table again, decoded afresh as one UTF-8 byte array per
      * entry: a scan's string dictionary ([[SheetDictionary]]). Same scan,
      * same budget; the reader decodes it on its task thread while the
      * parse workers, which never need it, scan the sheet. */
    private[xlsx] def sharedStringBytes(): Array[Array[Byte]] =
      sharedStringsEntry(SharedStringsScanner.parseBytes(_, maxSharedStringsBytes))
        .getOrElse(Array.empty)

    /** The first [[ProbeStrings]] strings of the table, and whether they are
      * all of it — what a schema probe resolves its rows against. An index
      * inside the prefix names the same string as in [[sharedStrings]]; one
      * past it reads as [[XCell.XError]]. A prefix that would pass the
      * budget stops short of it instead of failing, and counts as partial:
      * the guard belongs to the scan that decodes the whole table. */
    private[xlsx] def sharedStringsPrefix: (Array[String], Boolean) =
      sharedStringsEntry { src =>
        val out = ArrayBuffer[String]()
        val whole =
          try {
            SharedStringsScanner.parseInto(src, out, maxSharedStringsBytes,
              ProbeStrings)
            out.length < ProbeStrings
          } catch { case _: SharedStringsScanner.BudgetExceeded => false }
        (out.toArray, whole)
      }.getOrElse((Array.empty, true))

    /** Runs `parse` over `xl/sharedStrings.xml` after the UTF-16 BOM sniff
      * (UTF-16 transcodes on the fly and rides the same byte scanner; the
      * StAX shared-strings path is a test oracle). None when the part is
      * absent. */
    private def sharedStringsEntry[T](parse: InputStream => T): Option[T] =
      archive.open("xl/sharedStrings.xml").map { case (raw, closeAll) =>
        try parse(sniffUtf16(raw)) finally closeAll()
      }

    /** `raw`, transcoded to UTF-8 when it opens with a UTF-16 BOM. */
    private def sniffUtf16(raw: InputStream): InputStream = {
      val in = new java.io.PushbackInputStream(raw, 2)
      val b0 = in.read(); val b1 = in.read()
      val utf16 = (b0 == 0xFE && b1 == 0xFF) || (b0 == 0xFF && b1 == 0xFE)
      if (b1 != -1) in.unread(b1)
      if (b0 != -1) in.unread(b0)
      if (utf16) new Utf16ToUtf8Stream(in) else in
    }

    /** styleIndex → isDateFormat, from xl/styles.xml cellXfs numFmtIds. */
    lazy val dateStyles: Array[Boolean] = {
      val custom = mutable.Map[Int, String]()
      val xfFmts = ArrayBuffer[Int]()
      foreachEntry("xl/styles.xml") { xr =>
        var inCellXfs = false
        while (xr.hasNext) {
          xr.next() match {
            case XMLStreamConstants.START_ELEMENT => xr.getLocalName match {
              case "numFmt" =>
                (attr(xr, "numFmtId"), attr(xr, "formatCode")) match {
                  case (Some(id), Some(code)) => custom(id.toInt) = code
                  case _ =>
                }
              case "cellXfs" => inCellXfs = true
              case "xf" if inCellXfs =>
                xfFmts += attr(xr, "numFmtId").map(_.toInt).getOrElse(0)
              case _ =>
            }
            case XMLStreamConstants.END_ELEMENT if xr.getLocalName == "cellXfs" =>
              inCellXfs = false
            case _ =>
          }
        }
      }
      xfFmts.map(id => isDateFmt(id, custom.get(id))).toArray
    }

    /** Builtin date numFmtIds per ECMA-376 §18.8.30, plus custom formats
      * containing date/time tokens (the same heuristic family the reference
      * core uses to tag cells T_DATE). */
    private def isDateFmt(id: Int, code: Option[String]): Boolean = {
      val builtinDate = (id >= 14 && id <= 22) || (id >= 27 && id <= 36) ||
        (id >= 45 && id <= 47) || (id >= 50 && id <= 58)
      builtinDate || code.exists { c =>
        val noLiterals = c.replaceAll("\"[^\"]*\"", "").replaceAll("\\[[^\\]]*\\]", "")
        noLiterals.exists(ch => "ymdhs".indexOf(ch.toLower) >= 0)
      }
    }

    def sheetPath(sheetName: Option[String], sheetIndex: Int): String = {
      sheetName match {
        case Some(n) =>
          sheets.find(_.name == n).map(_.target)
            .getOrElse(throw new IllegalArgumentException(
              XlsxOptions.sheetNotFound(n, sheets.map(_.name))))
        case None =>
          if (sheetIndex < 1 || sheetIndex > sheets.size)
            throw new IllegalArgumentException(
              XlsxOptions.sheetIndexOutOfRange(sheetIndex, sheets.size))
          sheets(sheetIndex - 1).target
      }
    }

    /** Sequential rows of one worksheet, shared-string cells resolved
      * against `strings`. */
    def rows(path: String, strings: Array[String]): CellRowIterator =
      openSniffed(path).map { case (in, closeAll) =>
        new SheetScanner(in, strings, dateStyles, closeAll)
      }.getOrElse(CellRowIterator.empty)

    /** Sequential rows of one worksheet as cell events — a scan's
      * sequential source; no rows for a missing entry. */
    private[xlsx] def sheetRows(path: String): RowSource =
      openSniffed(path).map { case (in, closeAll) =>
        new SheetScanCore(in, dateStyles, closeAll)
      }.getOrElse(RowSource.empty)

    /** Open worksheet `path` and sniff the encoding BOM once: the byte
      * stream + closer for the byte scanners, or None for a missing
      * worksheet entry. A UTF-16 BOM
      * does not fall back to StAX (r10): the entry transcodes to UTF-8 on
      * the fly and rides the same scanner + columnar pipeline — the scanner
      * matches tags bytewise and ignores the prolog's declared encoding.
      * The single copy of this dispatch — rows, sheetRows and
      * chunkingRowIterator ride it. */
    private def openSniffed(path: String): Option[(InputStream, () => Unit)] =
      archive.open(path, "worksheet").map { case (raw, closeAll) =>
        (sniffUtf16(raw), closeAll)
      }

    /** After a scan of worksheet `path` failed with `e` (a ragged row, a
      * parse error): `e`, unless the entry itself is corrupt — a flipped
      * byte that keeps the deflate stream valid can make a row look ragged
      * long before the entry's CRC-32 is checked at its end. Then the
      * named corruption error, with `e` attached as suppressed. */
    private[xlsx] def corruptionBefore(path: String, e: Throwable): Throwable =
      try {
        archive.open(path, "worksheet").foreach { case (in, closeAll) =>
          try { val buf = new Array[Byte](1 << 16); while (in.read(buf) >= 0) () }
          finally closeAll()
        }
        e
      } catch {
        case c: java.io.IOException => c.addSuppressed(e); c
      }

    /** The workbook's graft row-group index for a worksheet entry, when
      * present and its worksheet entry is DEFLATED. A workbook with an
      * index is our own writer's output — UTF-8 by construction, so the
      * segmented path never needs the encoding sniff. An index that does
      * not describe the entry → None → the streaming pipeline (parallelism
      * fallback, never correctness).
      *
      * `threads >= 3` gate: in segment mode the N workers carry inflate
      * AND parse, while the streaming pipeline runs producer + prefetch
      * threads BESIDE its N workers — measured crossover: at t=2 the
      * streaming path wins (12.3 vs 8.5 M cells/s), from t=4 the
      * segmented path pulls away (19.9 vs 16.1, then 38 vs 15 at t=8). */
    private def segmentIndexFor(path: String, threads: Int)
        : Option[ParallelSheetScanner.SegmentIndex] =
      if (threads < 3) None else segmentIndexRaw(path)

    /** The index regardless of thread count — the DSv2 planner uses this
      * to SPLIT one workbook across Spark partitions (segment-range
      * input partitions), which beats intra-task threads when cores are
      * otherwise idle: partition-level parallelism schedules, retries
      * and locality-tracks like any other scan.
      *
      * Trusted only when the worksheet entry's CRC-32 and sizes, as the
      * central directory records them, equal the ones the index recorded
      * ([[XlsxWriter.SegmentVersion]]): an unzip / re-zip round trip keeps
      * the sheet bytes and the index but re-deflates the sheet, and the
      * recorded cut offsets would then point into a different stream.
      * A version-3 index also records each segment's CRC-32, which every
      * segment read checks where it inflates the segment; a version-2
      * index (an older graft writer) has none, so its workbooks still
      * split but their segments are read unchecked. A version-1 index
      * records no entry fields and is ignored. */
    private[xlsx] def segmentIndexRaw(path: String)
        : Option[ParallelSheetScanner.SegmentIndex] =
      archive.read { (src, dir) =>
        for {
          ie <- dir.entry(XlsxWriter.segmentIndexName(path))
          sheet <- dir.entry(path) if sheet.method == java.util.zip.ZipEntry.DEFLATED
          seg <- {
            val in = dir.open(src, ie, s"${archive.path}: entry ${ie.name}")
            try {
              val d = new java.io.DataInputStream(new java.io.BufferedInputStream(in))
              val version =
                if (d.readLong() != XlsxWriter.SegmentMagic) 0 else d.readInt()
              if (version != 2 && version != 3) None
              else {
                val n = d.readInt()
                val cuts = Array.fill(n) {
                  Array(d.readLong(), d.readLong(), d.readLong())
                }
                val totalUncomp = d.readLong()
                val totalRows = d.readLong()
                val entry = (d.readLong(), d.readLong(), d.readLong())
                val segmentCrcs =
                  if (version == 3) Array.fill(n + 1)(d.readInt()) else null
                if (entry != ((sheet.crc, sheet.compressedSize, sheet.uncompressedSize))) None
                else Some(ParallelSheetScanner.SegmentIndex(archive, path,
                  dir.dataOffset(src, sheet), sheet.compressedSize, cuts,
                  totalUncomp, totalRows, segmentCrcs))
              }
            } catch { case _: java.io.IOException => None }
            finally in.close()
          }
        } yield seg
      }

    /** Sequential cell events over segments [s0, s1) of an indexed
      * worksheet — the execution face of a segment-range InputPartition:
      * each segment is read, inflated alone (full-flush start) and checked
      * before the scanner sees a byte of it
      * ([[ParallelSheetScanner.SegmentStream]]). None when the index (or
      * the raw zip geometry) is unavailable — callers treat that as a
      * hard error, because re-reading the whole file in a RANGE
      * partition would duplicate rows, not merely slow down. */
    private[xlsx] def segmentRangeRows(path: String, s0: Int, s1: Int)
        : Option[RowSource] =
      segmentIndexRaw(path).map { seg =>
        require(s0 >= 0 && s0 < s1 && s1 <= seg.segments,
          s"bad segment range [$s0,$s1) of ${seg.segments}")
        val in = new ParallelSheetScanner.SegmentStream(seg, s0, s1)
        new SheetScanCore(in, dateStyles, () => in.close())
      }

    /** Pull-based [[XCell]] row iterator over one worksheet, so the sheet
      * never has to be buffered in memory. Close() releases the zip
      * stream; exhausting the iterator also closes it.
      *
      * `threads >= 2` engages the chunked [[ParallelSheetScanner]] (the
      * reference's `threads` knob: one big workbook parsed by N cores)
      * through [[chunkingRowIterator]], each worker keeping its chunk's
      * rows; UTF-16 workbooks transcode on the fly ([[Utf16ToUtf8Stream]])
      * and ride the same scanners. The shared strings resolve against
      * [[sharedStrings]], decoded here first. */
    def rowIterator(path: String, threads: Int = 1): CellRowIterator =
      if (threads < 2) rows(path, sharedStrings)
      else chunkingRowIterator(path, threads,
          ParallelSheetScanner.cellRows(sharedStrings, dateStyles))
        .map(new ParallelSheetScanner.ChunkRows(_))
        .getOrElse(CellRowIterator.empty)

    /** Parallel scanner with a WORKER-side per-CHUNK `parse` — the
      * columnar DSv2 reader passes its [[ColumnChunk]] scan here, so whole
      * batches materialize off the consumer thread. Drive it with
      * advanceChunk; None for a missing worksheet entry. UTF-16 transcodes
      * onto the byte scanner. */
    private[xlsx] def chunkingRowIterator(path: String, threads: Int,
        parse: (Array[Byte], Int, Int) => ParsedChunk,
        dropFirstRows: Long = 0L,
        chunkBytes: Int = ParallelSheetScanner.DefaultChunkBytes): Option[ParallelSheetScanner] =
      segmentIndexFor(path, threads) match {
        case Some(seg) =>
          Some(new ParallelSheetScanner(null, threads, () => (), parse,
            chunkBytes, dropFirstRows, segmented = seg))
        case None =>
          openSniffed(path).map { case (in, closeAll) =>
            new ParallelSheetScanner(in, threads, closeAll, parse, chunkBytes,
              dropFirstRows)
          }
      }

    /** Inflated entry stream and its closer, for throughput probes. */
    def entryStreamForProbe(path: String): (InputStream, () => Unit) =
      archive.open(path).getOrElse(
        throw new IllegalArgumentException(s"no entry $path"))

    private def readRels(): Map[String, String] = {
      val m = mutable.Map[String, String]()
      foreachEntry("xl/_rels/workbook.xml.rels") { xr =>
        while (xr.hasNext) {
          if (xr.next() == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "Relationship")
            for (id <- attr(xr, "Id"); tgt <- attr(xr, "Target")) m(id) = tgt
        }
      }
      m.toMap
    }

    /** Scan the zip stream for `name` and run `f` over its XML. Missing
      * entry (e.g. no sharedStrings.xml) is a no-op. */
    private def foreachEntry(name: String)(f: XMLStreamReader => Unit): Unit =
      openEntry(name) match {
        case Some((xr, closeAll)) => try f(xr) finally closeAll()
        case None =>
      }

    /** An XML reader over entry `name` and the thunk that closes it and
      * the entry. None if the entry does not exist. */
    private[xlsx] def openEntry(name: String): Option[(XMLStreamReader, () => Unit)] =
      archive.open(name).map { case (s, closeAll) =>
        val xr = xif.createXMLStreamReader(s)
        (xr, () => { try xr.close() finally closeAll() })
      }
  }

  /** The value of the attribute with local name `local`, if present. */
  private[xlsx] def attr(xr: XMLStreamReader, local: String): Option[String] = {
    var i = 0
    while (i < xr.getAttributeCount) {
      if (xr.getAttributeLocalName(i) == local) return Some(xr.getAttributeValue(i))
      i += 1
    }
    None
  }
}
