package graft.sources.xlsx

import javax.xml.stream.{XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** The scanner-free, vector-free reference path the fuzz and differential
  * specs compare the reader against: StAX rows and shared strings, and a
  * boxed cell conversion. None of it runs in a scan — the byte scanners
  * and [[ColumnChunk]] do — so any divergence from it is a reader bug by
  * definition. */
object XlsxOracle {
  import XlsxParser.attr

  /** Cell → Catalyst value under the reference's compatibility rules
    * (TypesCompatible, sheetreader_extension.cpp:225-250): exact type match
    * materializes; STRING additionally accepts any cell when coerceToString;
    * everything else (and empty/error cells) is NULL.
    */
  def convert(cell: XCell, dt: DataType, coerce: Boolean): Any = (dt, cell) match {
    case (StringType, XCell.XString(s)) => UTF8String.fromString(s)
    // user-supplied schemas (spark.read.schema(...)) may narrow numerics
    case (LongType, XCell.XNumber(d))    => d.toLong
    case (IntegerType, XCell.XNumber(d)) => d.toInt
    case (FloatType, XCell.XNumber(d))   => d.toFloat
    case (StringType, XCell.XNumber(d)) if coerce =>
      // std::to_string(double): fixed 6 decimals (reference :182-221)
      UTF8String.fromString(String.format(java.util.Locale.ROOT, "%f", Double.box(d)))
    case (StringType, XCell.XBool(b)) if coerce =>
      UTF8String.fromString(if (b) "TRUE" else "FALSE")
    case (StringType, XCell.XDate(serial)) if coerce =>
      UTF8String.fromString(
        java.time.LocalDate.ofEpochDay(XCell.serialToEpochDay(serial).toLong).toString)
    case (DoubleType, XCell.XNumber(d)) => d
    case (BooleanType, XCell.XBool(b))  => b
    case (DateType, XCell.XDate(serial)) => XCell.serialToEpochDay(serial)
    case _ => null
  }

  /** StAX-backed rows of one worksheet regardless of encoding, resolved
    * against the workbook's whole shared-strings table. */
  def rows(wb: XlsxParser.Workbook, path: String): CellRowIterator =
    new RowIterator(wb.openEntry(path), wb.sharedStrings, wb.dateStyles)

  /** Stream rows of one worksheet through the byte scanner. Rows arrive as
    * dense arrays (width = max seen cell column in that row); gaps are
    * XNone. Stops early when `onRow` returns false. */
  def foreachRow(wb: XlsxParser.Workbook, path: String,
      onRow: (Long, Array[XCell]) => Boolean): Unit = {
    val it = wb.rows(path, wb.sharedStrings)
    try {
      var continue = true
      while (continue && it.hasNext) {
        val (idx, cells) = it.next()
        continue = onRow(idx, cells)
      }
    } finally it.close()
  }

  /** The shared-strings table through StAX, under the same
    * `maxSharedStringsBytes` budget as the byte scanner. */
  def sharedStrings(xr: XMLStreamReader,
      maxSharedStringsBytes: Long = SharedStringsScanner.DefaultMaxBytes): Array[String] = {
    val out = ArrayBuffer[String]()
    var inSi = false
    var phoneticDepth = 0 // inside <rPh>/<phoneticPr>: furigana, not text
    var retained = 0L
    // count UTF-8 bytes like the byte-scanner path (UTF-16 chars would
    // under-enforce the budget up to 3x on CJK text); surrogate pairs count
    // 3+3 vs a true 4, erring toward earlier abort. Checked per <t>
    // fragment, not just at </si>, so a single giant run still hits the
    // guard.
    def utf8Len(s: CharSequence): Long = {
      var n = 0L
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        n += (if (c < 0x80) 1 else if (c < 0x800) 2 else 3)
        i += 1
      }
      n
    }
    var pendingBytes = 0L
    val sb = new StringBuilder
    while (xr.hasNext) {
      xr.next() match {
        case XMLStreamConstants.START_ELEMENT if xr.getLocalName == "si" =>
          inSi = true; sb.setLength(0); pendingBytes = 0L
        case XMLStreamConstants.START_ELEMENT
            if inSi && (xr.getLocalName == "rPh" || xr.getLocalName == "phoneticPr") =>
          phoneticDepth += 1
        case XMLStreamConstants.START_ELEMENT
            if inSi && phoneticDepth == 0 && xr.getLocalName == "t" =>
          val frag = xr.getElementText
          pendingBytes += utf8Len(frag)
          if (retained + pendingBytes > maxSharedStringsBytes)
            throw new SharedStringsScanner.BudgetExceeded(maxSharedStringsBytes)
          sb.append(frag)
        case XMLStreamConstants.END_ELEMENT
            if inSi && (xr.getLocalName == "rPh" || xr.getLocalName == "phoneticPr") =>
          phoneticDepth -= 1
        case XMLStreamConstants.END_ELEMENT if xr.getLocalName == "si" =>
          inSi = false
          retained += pendingBytes
          pendingBytes = 0L
          out += sb.toString
        case _ =>
      }
    }
    out.toArray
  }

  final class RowIterator(
      entry: Option[(XMLStreamReader, () => Unit)],
      strings: Array[String],
      dates: Array[Boolean])
      extends CellRowIterator {
    private val xr = entry.map(_._1).orNull
    private var closed = entry.isEmpty
    private var nextRow: (Long, Array[XCell]) = _
    private var rowIdx = -1L

    override def hasNext: Boolean = {
      if (nextRow != null) return true
      if (closed) return false
      nextRow = advance()
      if (nextRow == null) { close(); false } else true
    }

    override def next(): (Long, Array[XCell]) = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRow; nextRow = null; r
    }

    override def close(): Unit = if (!closed) { closed = true; entry.foreach(_._2()) }

    /** Advance the StAX cursor to the next </row>; null at stream end. */
    private def advance(): (Long, Array[XCell]) = {
      var cells = ArrayBuffer[XCell]()
      var col = -1
      var t = ""
      var style = -1
      var inV = false
      var inIs = false
      val text = new StringBuilder
      while (xr.hasNext) {
        xr.next() match {
          case XMLStreamConstants.START_ELEMENT => xr.getLocalName match {
            case "row" =>
              rowIdx = attr(xr, "r").map(_.toLong - 1).getOrElse(rowIdx + 1)
              cells = ArrayBuffer[XCell]()
            case "c" =>
              col = attr(xr, "r").map(colOf).getOrElse(cells.length)
              t = attr(xr, "t").getOrElse("")
              style = attr(xr, "s").map(_.toInt).getOrElse(-1)
            case "v" => inV = true; text.setLength(0)
            case "is" => inIs = true; text.setLength(0)
            case "t" if inIs => text.append(xr.getElementText)
            case _ =>
          }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inV =>
            text.appendAll(xr.getTextCharacters, xr.getTextStart, xr.getTextLength)
          case XMLStreamConstants.END_ELEMENT => xr.getLocalName match {
            case "v" =>
              inV = false
              setCell(cells, col, parseCell(t, text.toString, style, strings, dates))
            case "is" =>
              inIs = false
              setCell(cells, col, XCell.XString(text.toString))
            case "c" =>
              // <c> with no <v>/<is> child: leave as gap (XNone)
              col = -1; t = ""; style = -1
            case "row" =>
              return (rowIdx, cells.toArray)
            case _ =>
          }
          case _ =>
        }
      }
      null
    }
  }

  private def parseCell(t: String, raw: String, style: Int,
                        strings: Array[String], dates: Array[Boolean]): XCell = t match {
    case "s" =>
      // Bad/empty shared-string index → error cell → NULL, not a crashed
      // scan (reference: sheetreader_extension.cpp:117-135).
      try {
        val i = raw.trim.toInt
        if (i >= 0 && i < strings.length) XCell.XString(strings(i)) else XCell.XError
      } catch { case _: NumberFormatException => XCell.XError }
    case "str" | "inlineStr" => XCell.XString(raw)
    case "b" => XCell.XBool(raw.trim == "1" || raw.trim.equalsIgnoreCase("true"))
    case "e" => XCell.XError
    case "" | "n" =>
      try {
        val d = raw.trim.toDouble
        if (style >= 0 && style < dates.length && dates(style)) XCell.XDate(d)
        else XCell.XNumber(d)
      } catch { case _: NumberFormatException => XCell.XError }
    case _ => XCell.XError
  }

  private def setCell(cells: ArrayBuffer[XCell], col: Int, v: XCell): Unit = {
    val c = if (col < 0) cells.length else col
    while (cells.length <= c) cells += XCell.XNone
    cells(c) = v
  }

  /** Column index from an A1-style ref: "BC12" → 54. */
  private def colOf(ref: String): Int = {
    var i = 0; var n = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      n = n * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    n - 1
  }
}
