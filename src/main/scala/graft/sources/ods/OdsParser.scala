package graft.sources.ods

import java.io.InputStream
import java.time.LocalDate

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import graft.sources.xlsx.{CellRowIterator, XCell, XlsxOptions, ZipRaw}

/** OpenDocument spreadsheet (.ods) content parser — the second container
  * format of the spreadsheet family. Reads `content.xml` with StAX and
  * hands out rows as a [[CellRowIterator]] of the SAME [[XCell]] values the
  * xlsx path uses, so schema inference, NULL/coercion rules and the
  * columnar batch loop are the xlsx source's own (XlsxSchema.probe /
  * fromProbe, RowBatchReader).
  *
  * ODS specifics handled here, per OASIS ODF 1.2 §9.1.3-9.1.4:
  *   - `table:number-columns-repeated` / `table:number-rows-repeated`
  *     run-length encodings expand to real cells/rows;
  *   - TRAILING fully-empty cells of a row and TRAILING fully-empty rows
  *     of a table are dropped (LibreOffice pads exports with filler runs
  *     up to the 1048576-row grid — expanding those would materialize the
  *     whole empty grid); interior empty rows/cells are preserved;
  *   - `office:value-type` float/percentage/currency → number,
  *     boolean → boolean, date → date (serial days like the xlsx path),
  *     string (or a bare `text:p`) → string; covered cells (merges) and
  *     valueless cells → empty.
  *
  * Throughput engineering stays concentrated in the flagship xlsx scanner
  * (byte-level, columnar, intra-file parallel); ods rides plain StAX on
  * the task thread — a completeness-family source, one partition per
  * file. */
object OdsParser {

  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f
  }

  private def attr(r: XMLStreamReader, local: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == local) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  private def repeat(r: XMLStreamReader, local: String): Long = {
    val v = attr(r, local)
    if (v == null) 1L else math.max(1L, v.toLong)
  }

  /** The rows of one table — by name, or the `sheetIndex`-th (1-based)
    * when `sheet` is None — pulled from one StAX cursor. Row indices are
    * 0-based positions in the table. A missing table raises when the
    * document ends without it. */
  def rows(archive: ZipRaw.Archive, sheet: Option[String],
      sheetIndex: Int): CellRowIterator = {
    val (in, closeAll) = archive.open("content.xml").getOrElse(
      throw new IllegalArgumentException(s"${archive.path}: no content.xml entry in the ods container"))
    new TableRows(in, closeAll, sheet, sheetIndex)
  }

  private val NoCells = Array.empty[XCell]

  private final class TableRows(in: InputStream, closeAll: () => Unit,
      sheet: Option[String], sheetIndex: Int) extends CellRowIterator {
    private val r =
      try factory.createXMLStreamReader(in)
      catch { case t: Throwable => closeAll(); throw t }
    private var closed = false
    private val tableNames = scala.collection.mutable.ArrayBuffer[String]()
    private var inTarget = false
    private var sawTarget = false
    private var ended = false // target table closed or document ended
    private var rowIdx = 0L
    // empty rows are held as a count: emitted only once a non-empty row
    // follows, so trailing filler is never materialized
    private var heldEmpty = 0L
    private var dueEmpty = 0L // held empties released ahead of `row`
    private var row: Array[XCell] = NoCells
    private var rowLeft = 0L // copies of `row` (number-rows-repeated) left

    // per-row buffers, reused
    private val cells = scala.collection.mutable.ArrayBuffer[XCell]()
    private val text = new java.lang.StringBuilder()

    override def hasNext: Boolean =
      dueEmpty > 0 || rowLeft > 0 || (!ended && advance())

    override def next(): (Long, Array[XCell]) = {
      if (!hasNext) throw new NoSuchElementException
      val i = rowIdx
      rowIdx += 1
      if (dueEmpty > 0) { dueEmpty -= 1; (i, NoCells) }
      else { rowLeft -= 1; (i, row) }
    }

    override def close(): Unit = if (!closed) {
      closed = true
      try r.close() finally closeAll()
    }

    private def finish(): Boolean = {
      ended = true
      close()
      if (!sawTarget)
        throw new IllegalArgumentException(sheet match {
          case Some(n) => XlsxOptions.sheetNotFound(n, tableNames.toSeq)
          case None    => XlsxOptions.sheetIndexOutOfRange(sheetIndex, tableNames.length)
        })
      false // held trailing empties are dropped
    }

    /** Parse up to the next non-empty row of the target table: true with
      * `row`/`rowLeft`/`dueEmpty` set, false at the end of the table. */
    private def advance(): Boolean = {
      var inRow = false
      var rowRepeat = 1L
      var trailingEmpty = 0 // run of empty cells at the current tail
      var inCell = false
      var inPara = false // only text:p content is cell text (not markup whitespace)
      var cellRepeat = 1L
      var cellValue: XCell = XCell.XNone
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "table" =>
              val name = Option(attr(r, "name")).getOrElse("")
              tableNames += name
              inTarget = sheet match {
                case Some(n) => name == n
                case None    => tableNames.length == sheetIndex
              }
              if (inTarget) sawTarget = true
            case "table-row" if inTarget =>
              inRow = true
              cells.clear()
              trailingEmpty = 0
              rowRepeat = repeat(r, "number-rows-repeated")
            case "table-cell" | "covered-table-cell" if inTarget && inRow =>
              inCell = true
              cellRepeat = repeat(r, "number-columns-repeated")
              val vt = attr(r, "value-type")
              cellValue = if (vt == null) XCell.XNone else vt match {
                case "float" | "percentage" | "currency" =>
                  val v = attr(r, "value")
                  if (v == null) XCell.XNone else XCell.XNumber(v.toDouble)
                case "boolean" =>
                  val v = attr(r, "boolean-value")
                  if (v == null) XCell.XNone else XCell.XBool(v == "true")
                case "date" =>
                  val v = attr(r, "date-value")
                  if (v == null) XCell.XNone
                  else XCell.XDate((LocalDate.parse(v.take(10)).toEpochDay -
                    XCell.ExcelEpochDay).toDouble)
                case "string" =>
                  // ODF allows the value in an attribute instead of the
                  // text:p body; the body form falls through to XNone and
                  // is collected below
                  val v = attr(r, "string-value")
                  if (v == null) XCell.XNone else XCell.XString(v)
                case _ => XCell.XNone
              }
              text.setLength(0)
            case "p" if inCell =>
              inPara = true
              if (text.length() > 0) text.append('\n') // multi-paragraph cell
            case _ => ()
          }
          case XMLStreamConstants.CHARACTERS if inPara =>
            text.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "p" if inPara =>
              inPara = false
            case "table-cell" | "covered-table-cell" if inCell =>
              inCell = false
              inPara = false
              val v =
                if (cellValue == XCell.XNone && text.length() > 0)
                  XCell.XString(text.toString)
                else cellValue
              val isEmpty = v == XCell.XNone
              // an empty run might be trailing filler (width up to 16384):
              // append now, trim at row end; clamp absurd runs of nothing
              val n = if (isEmpty) math.min(cellRepeat, 16384L) else cellRepeat
              var i = 0L
              while (i < n) { cells += v; i += 1 }
              trailingEmpty = if (isEmpty) trailingEmpty + n.toInt else 0
            case "table-row" if inTarget && inRow =>
              inRow = false
              val width = cells.length - trailingEmpty
              if (width == 0) heldEmpty += rowRepeat
              else {
                row = new Array[XCell](width)
                cells.copyToArray(row, 0, width)
                rowLeft = rowRepeat
                dueEmpty = heldEmpty
                heldEmpty = 0
                return true
              }
            case "table" if inTarget =>
              inTarget = false
              return finish() // target table fully read
            case _ => ()
          }
          case _ => ()
        }
      }
      finish()
    }
  }
}
