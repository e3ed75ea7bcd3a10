package graft.sources.ods

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import graft.sources.xlsx.{SheetFormat, SheetWriter, XlsxWriter}

/** Minimal OpenDocument spreadsheet writer — the .ods twin of
  * [[graft.sources.xlsx.XlsxWriter]] and the sheet format the shared DSv2
  * writer streams `df.write.format("ods")` into: one table per file, rows
  * streamed straight into the zip (O(1) memory in the row count). Container
  * per ODF 1.2 §3: a STORED (uncompressed) `mimetype` first entry, a
  * `META-INF/manifest.xml`, and `content.xml` holding the table. Text and
  * numbers use the xlsx writer's XML escape and double format; booleans
  * write `office:boolean-value`, dates `office:date-value` (ISO local
  * date). */
object OdsWriter extends SheetFormat {
  val extension = "ods"
  /** `threads` is ignored: content.xml deflates inline. */
  def sheetWriter(out: OutputStream, sheetName: String,
      header: Option[Seq[String]], threads: Int): SheetWriter =
    new StreamingOdsWriter(out, sheetName, header)

  private val Mimetype = "application/vnd.oasis.opendocument.spreadsheet"

  final class StreamingOdsWriter(out: OutputStream, tableName: String,
      header: Option[Seq[String]]) extends SheetWriter {
    private val zip = new ZipOutputStream(out, StandardCharsets.UTF_8)
    private val w = {
      // mimetype MUST be first and STORED so magic-byte sniffers see it
      val bytes = Mimetype.getBytes(StandardCharsets.US_ASCII)
      val e = new ZipEntry("mimetype")
      e.setMethod(ZipEntry.STORED)
      e.setSize(bytes.length)
      val crc = new CRC32(); crc.update(bytes)
      e.setCrc(crc.getValue)
      zip.putNextEntry(e); zip.write(bytes); zip.closeEntry()

      put("META-INF/manifest.xml",
        """<?xml version="1.0" encoding="UTF-8"?>
          |<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.2">
          |<manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.spreadsheet"/>
          |<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>
          |</manifest:manifest>""".stripMargin)

      zip.putNextEntry(new ZipEntry("content.xml"))
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(zip, StandardCharsets.UTF_8))
      w.write(
        """<?xml version="1.0" encoding="UTF-8"?>
          |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" office:version="1.2">
          |<office:body><office:spreadsheet>
          |""".stripMargin)
      w.write(s"""<table:table table:name="${XlsxWriter.esc(tableName)}">\n""")
      header.foreach(h => writeRowTo(w, h.map(s => s: Any)))
      w
    }

    private def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }

    def addRow(values: Seq[Any]): Unit = writeRowTo(w, values)

    def finish(): Unit = {
      w.write("</table:table>\n</office:spreadsheet></office:body></office:document-content>\n")
      w.flush()
      zip.closeEntry()
      zip.close()
    }

    def abort(): Unit = zip.close()
  }

  private def writeRowTo(w: java.io.Writer, values: Seq[Any]): Unit = {
    w.write("<table:table-row>")
    values.foreach {
      case null => w.write("<table:table-cell/>")
      case s: String =>
        w.write(s"""<table:table-cell office:value-type="string"><text:p>${XlsxWriter.esc(s)}</text:p></table:table-cell>""")
      case b: Boolean =>
        w.write(s"""<table:table-cell office:value-type="boolean" office:boolean-value="$b"><text:p>$b</text:p></table:table-cell>""")
      case d: java.time.LocalDate =>
        w.write(s"""<table:table-cell office:value-type="date" office:date-value="$d"><text:p>$d</text:p></table:table-cell>""")
      case d: java.sql.Date =>
        val ld = d.toLocalDate
        w.write(s"""<table:table-cell office:value-type="date" office:date-value="$ld"><text:p>$ld</text:p></table:table-cell>""")
      case n: Double => writeNum(w, n)
      case n: Float => writeNum(w, n.toDouble)
      case n: Int => writeNum(w, n.toDouble)
      case n: Long => writeNum(w, n.toDouble)
      case n: Short => writeNum(w, n.toDouble)
      case n: Byte => writeNum(w, n.toDouble)
      case other =>
        throw new IllegalArgumentException(s"ods write: unsupported value $other")
    }
    w.write("</table:table-row>\n")
  }

  private def writeNum(w: java.io.Writer, d: Double): Unit = {
    val repr = XlsxWriter.fmt(d)
    w.write(s"""<table:table-cell office:value-type="float" office:value="$repr"><text:p>$repr</text:p></table:table-cell>""")
  }
}
