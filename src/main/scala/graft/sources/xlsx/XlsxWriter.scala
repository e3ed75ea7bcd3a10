package graft.sources.xlsx

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipOutputStream}

/** A spreadsheet container the DSv2 write path streams into: one sheet per
  * write task, in files named `part-*.<extension>`. */
trait SheetFormat extends Serializable {
  def extension: String
  def sheetWriter(out: OutputStream, sheetName: String,
      header: Option[Seq[String]]): SheetWriter
}

/** One sheet being streamed: rows in order, then `finish` completes the
  * container and closes its stream. Cell values as in
  * [[XlsxWriter.SheetSpec]]. */
trait SheetWriter {
  def addRow(values: Seq[Any]): Unit
  def finish(): Unit
}

/** Minimal SpreadsheetML (.xlsx) writer — the sandbox-local way to produce
  * xlsx fixtures and the backing of the `xlsx` DSv2 write path. Beyond the
  * reference (read-only), but required for round-trip tests (SURVEY §2.1 #15).
  *
  * Layout: one zip with [Content_Types].xml, _rels/.rels, xl/workbook.xml,
  * xl/_rels/workbook.xml.rels, xl/styles.xml and one worksheet part per
  * sheet. Strings are written inline (`t="inlineStr"`), numbers as plain
  * `<v>`, booleans as `t="b"`, dates as serial days since 1899-12-30 with
  * style index 1 (numFmtId 14) so readers tag them as dates. Rows stream
  * straight to the zip — nothing is buffered.
  */
object XlsxWriter extends SheetFormat {
  val extension = "xlsx"
  def sheetWriter(out: OutputStream, sheetName: String,
      header: Option[Seq[String]]): SheetWriter =
    new StreamingWorkbookWriter(out, sheetName, header)

  /** One sheet: optional header row (written as strings) + data rows.
    * Supported cell values: null, String, Double/Float/Int/Long/Short/Byte,
    * Boolean, java.time.LocalDate, java.sql.Date.
    */
  final case class SheetSpec(name: String, header: Option[Seq[String]], rows: Iterator[Seq[Any]])

  /** Uncompressed bytes between worksheet SEGMENT cuts. Every cut is a
    * deflate FULL_FLUSH at a row boundary, recorded in a sidecar
    * `xl/graft/sheetN.idx` entry — the embedded row-group index that makes
    * our own workbooks SPLITTABLE: a reader with the index inflates and
    * parses every segment in parallel (no sequential boundary tracking,
    * no sequential inflate), foreign readers see a perfectly ordinary
    * deflate stream and ignore the extra part. The parquet row-group idea
    * applied inside a standards-valid xlsx. */
  val SegmentBytes: Int = 2 << 20

  /** Magic + version prefix of the segment index entry. */
  val SegmentMagic: Long = 0x4752465453454731L // "GRFTSEG1"

  /** Segment index layout: magic, version, cut count, the cuts, total
    * uncompressed bytes, total rows, then the worksheet entry's CRC-32,
    * compressed and uncompressed sizes. The reader checks those three
    * against the archive's central directory, so an index copied into a
    * repacked archive (same sheet bytes, different deflate stream) is
    * ignored instead of steering workers into the wrong offsets. Version
    * 1 had no such fields and is never trusted. */
  val SegmentVersion: Int = 2

  /** [[java.util.zip.ZipOutputStream]] with deflate FULL_FLUSH control
    * over the CURRENT entry. Safe with the JDK's bookkeeping by
    * construction: both the entry's recorded compressed size and the
    * archive's running offset derive from the shared Deflater's
    * bytes-written counter, which includes flush output — so manually
    * drained flush blocks stay consistent with the central directory. */
  private final class FlushableZipOutputStream(target: OutputStream)
      extends ZipOutputStream(target, StandardCharsets.UTF_8) {
    private val fb = new Array[Byte](8192)
    /** FULL_FLUSH the current DEFLATED entry: the deflater's history
      * window resets and output lands on a byte boundary, so everything
      * after this point inflates independently of everything before —
      * the zlib split point the segment index records. */
    def fullFlush(): Unit = {
      var n = `def`.deflate(fb, 0, fb.length,
        java.util.zip.Deflater.FULL_FLUSH)
      out.write(fb, 0, n)
      while (n == fb.length) {
        n = `def`.deflate(fb, 0, fb.length, java.util.zip.Deflater.FULL_FLUSH)
        out.write(fb, 0, n)
      }
    }
    /** Compressed bytes of the current entry so far (segment offsets). */
    def compressedBytesSoFar: Long = `def`.getBytesWritten
  }

  /** Exact uncompressed byte count entering the zip entry (the char
    * encoder sits above, so Writer-side buffering never skews offsets
    * once flushed). Non-closing: entry lifecycle belongs to the zip. */
  private final class CountingOutputStream(target: OutputStream)
      extends OutputStream {
    var count = 0L
    override def write(b: Int): Unit = { target.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      target.write(b, off, len); count += len
    }
    override def flush(): Unit = target.flush()
    override def close(): Unit = ()
  }

  /** Collects worksheet segment cuts while rows stream: call [[maybeCut]]
    * after each row; when ≥ [[SegmentBytes]] accumulated, the writer
    * flushes, the zip FULL_FLUSHes, and the (compressed offset,
    * uncompressed offset, rows before) triple is recorded. */
  private final class SegmentRecorder(zip: FlushableZipOutputStream,
      counting: CountingOutputStream, w: java.io.Writer) {
    val cuts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    private var nextCut = SegmentBytes.toLong
    def maybeCut(rowsWritten: Long): Unit =
      if (counting.count >= nextCut) {
        w.flush()
        zip.fullFlush()
        cuts += ((zip.compressedBytesSoFar, counting.count, rowsWritten))
        nextCut = counting.count + SegmentBytes
      }
  }

  /** `sheet` is the worksheet's closed entry: the zip stream has filled
    * in its CRC-32 and sizes. */
  private def segmentIndexBytes(cuts: Seq[(Long, Long, Long)],
      totalUncomp: Long, totalRows: Long, sheet: ZipEntry): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeLong(SegmentMagic)
    d.writeInt(SegmentVersion)
    d.writeInt(cuts.length)
    cuts.foreach { case (c, u, r) =>
      d.writeLong(c); d.writeLong(u); d.writeLong(r)
    }
    d.writeLong(totalUncomp)
    d.writeLong(totalRows)
    d.writeLong(sheet.getCrc)
    d.writeLong(sheet.getCompressedSize)
    d.writeLong(sheet.getSize)
    d.flush()
    bos.toByteArray
  }

  /** `xl/worksheets/sheetN.xml` → its index part name. */
  def segmentIndexName(worksheetPath: String): String =
    "xl/graft/" + worksheetPath.stripPrefix("xl/worksheets/")
      .stripSuffix(".xml") + ".idx"

  def write(out: OutputStream, sheets: Seq[SheetSpec]): Unit = {
    val zip = new FlushableZipOutputStream(out)
    try {
      putEntry(zip, "[Content_Types].xml", contentTypes(sheets.size))
      putEntry(zip, "_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      putEntry(zip, "xl/workbook.xml", workbookXml(sheets.map(_.name)))
      putEntry(zip, "xl/_rels/workbook.xml.rels", workbookRels(sheets.size))
      putEntry(zip, "xl/styles.xml", stylesXml)
      sheets.zipWithIndex.foreach { case (sheet, i) =>
        val path = s"xl/worksheets/sheet${i + 1}.xml"
        val entry = new ZipEntry(path)
        zip.putNextEntry(entry)
        val (cuts, totalUncomp, totalRows) = writeSheet(zip, sheet)
        zip.closeEntry()
        if (cuts.nonEmpty)
          putEntryBytes(zip, segmentIndexName(path),
            segmentIndexBytes(cuts, totalUncomp, totalRows, entry))
      }
    } finally zip.close()
  }

  /** Incremental single-sheet workbook writer: static parts are emitted up
    * front, then rows stream straight into the worksheet zip entry — memory
    * use is O(1) in the number of rows (the DSv2 write path uses this; a
    * task writing millions of rows never buffers them).
    */
  final class StreamingWorkbookWriter(
      out: OutputStream, sheetName: String, header: Option[Seq[String]])
      extends SheetWriter {
    private val zip = new FlushableZipOutputStream(out)
    private val counting = new CountingOutputStream(new NonClosing(zip))
    private val sheetEntry = new ZipEntry("xl/worksheets/sheet1.xml")
    private val w = {
      putEntry(zip, "[Content_Types].xml", contentTypes(1))
      putEntry(zip, "_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin)
      putEntry(zip, "xl/workbook.xml", workbookXml(Seq(sheetName)))
      putEntry(zip, "xl/_rels/workbook.xml.rels", workbookRels(1))
      putEntry(zip, "xl/styles.xml", stylesXml)
      zip.putNextEntry(sheetEntry)
      val wr = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(counting, StandardCharsets.UTF_8))
      wr.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      wr.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      wr
    }
    private val rec = new SegmentRecorder(zip, counting, w)
    private var r = 1
    header.foreach { h =>
      writeRow(w, r, h.map(s => s: Any)); r += 1; rec.maybeCut(r - 1L)
    }

    def addRow(values: Seq[Any]): Unit = {
      writeRow(w, r, values); r += 1; rec.maybeCut(r - 1L)
    }

    def finish(): Unit = {
      w.write("</sheetData></worksheet>")
      w.flush()
      val totalUncomp = counting.count
      zip.closeEntry()
      if (rec.cuts.nonEmpty)
        putEntryBytes(zip, segmentIndexName(sheetEntry.getName),
          segmentIndexBytes(rec.cuts.toSeq, totalUncomp, r - 1L, sheetEntry))
      zip.close()
    }
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

  private def putEntry(zip: ZipOutputStream, name: String, content: String): Unit = {
    zip.putNextEntry(new ZipEntry(name))
    zip.write(content.getBytes(StandardCharsets.UTF_8))
    zip.closeEntry()
  }

  private def putEntryBytes(zip: ZipOutputStream, name: String,
      content: Array[Byte]): Unit = {
    zip.putNextEntry(new ZipEntry(name))
    zip.write(content)
    zip.closeEntry()
  }

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

  private def writeSheet(zip: FlushableZipOutputStream, sheet: SheetSpec)
      : (Seq[(Long, Long, Long)], Long, Long) = {
    val counting = new CountingOutputStream(new NonClosing(zip))
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(counting, StandardCharsets.UTF_8))
    val rec = new SegmentRecorder(zip, counting, w)
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    var r = 1
    sheet.header.foreach { h =>
      writeRow(w, r, h.map(s => s: Any)); r += 1
      rec.maybeCut(r - 1L)
    }
    sheet.rows.foreach { row =>
      writeRow(w, r, row); r += 1
      rec.maybeCut(r - 1L)
    }
    w.write("</sheetData></worksheet>")
    w.flush()
    (rec.cuts.toSeq, counting.count, r - 1L)
  }

  private def writeRow(w: java.io.Writer, r: Int, values: Seq[Any]): Unit = {
    w.write(s"""<row r="$r">""")
    values.zipWithIndex.foreach { case (v, c) =>
      val ref = colRef(c) + r
      v match {
        case null => // empty cell: omitted entirely (reader yields NULL)
        case s: String =>
          w.write(s"""<c r="$ref" t="inlineStr"><is><t>${esc(s)}</t></is></c>""")
        case d: Double  => w.write(s"""<c r="$ref"><v>${fmt(d)}</v></c>""")
        case f: Float   => w.write(s"""<c r="$ref"><v>${fmt(f.toDouble)}</v></c>""")
        case i: Int     => w.write(s"""<c r="$ref"><v>$i</v></c>""")
        case l: Long    => w.write(s"""<c r="$ref"><v>$l</v></c>""")
        case s: Short   => w.write(s"""<c r="$ref"><v>$s</v></c>""")
        case b: Byte    => w.write(s"""<c r="$ref"><v>$b</v></c>""")
        case b: Boolean => w.write(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>""")
        case d: LocalDate =>
          w.write(s"""<c r="$ref" s="1"><v>${d.toEpochDay - XCell.ExcelEpochDay}</v></c>""")
        case d: java.sql.Date =>
          w.write(s"""<c r="$ref" s="1"><v>${d.toLocalDate.toEpochDay - XCell.ExcelEpochDay}</v></c>""")
        case other =>
          throw new IllegalArgumentException(
            s"xlsx write: unsupported value type ${other.getClass.getName}")
      }
    }
    w.write("</row>")
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

  private def colRef(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) {
      val rem = (n - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  private[sources] def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      // \r \n \t as character references: XML parsers normalize literal
      // \r(\n) in content to \n (and all three to spaces in attributes),
      // which would corrupt a write/read roundtrip
      case '\r' => sb.append("&#xD;")
      case '\n' => sb.append("&#xA;")
      case '\t' => sb.append("&#x9;")
      case c if c < ' ' =>
        // XML 1.0 cannot represent the remaining control chars at all (not
        // even as character references); U+FFFD keeps the workbook well-formed
        sb.append('�')
      case c => sb.append(c)
    }
    sb.toString
  }

  private final class NonClosing(out: OutputStream) extends OutputStream {
    override def write(b: Int): Unit = out.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def flush(): Unit = out.flush()
    override def close(): Unit = ()
  }
}
