package graft.sources.xlsx

import java.io.InputStream
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Pull iterator over worksheet rows as [[XCell]]s — the face of the schema
  * probe, the row-level specs and the ods `OdsParser`. Implemented by the
  * byte-level [[SheetScanner]], the chunked [[ParallelSheetScanner]]'s row
  * adapter and `OdsParser`; UTF-16 sheets transcode onto the byte scanner.
  * A scan reads its columns through [[RowSource]] instead. */
trait CellRowIterator extends Iterator[(Long, Array[XCell])] with AutoCloseable

object CellRowIterator {
  /** The rows of a missing worksheet entry: none, and nothing to close. */
  val empty: CellRowIterator = new CellRowIterator {
    override def hasNext: Boolean = false
    override def next(): (Long, Array[XCell]) = throw new NoSuchElementException
    override def close(): Unit = ()
  }
}

/** The typed cell events of a worksheet scan, in document order: a row
  * opens, its cells' values arrive, the row closes. Columns are 0-based
  * sheet positions. The sinks are the column chunk ([[ColumnChunk]]), where
  * a scan's values go, and the [[XCell]] row of [[SheetScanner]]. */
trait CellSink {
  /** A `<row>` opens: the cells seen since the last row end are void. */
  def rowStart(): Unit
  /** Whether the value of column `col` is used. When it is not, the value
    * is not decoded; the cell still widens its row. */
  def wants(col: Int): Boolean
  def number(col: Int, v: Double): Unit
  /** A number in a date-formatted cell: an Excel date serial. */
  def date(col: Int, serial: Double): Unit
  def bool(col: Int, v: Boolean): Unit
  /** A shared-string cell: its index into the table, which may lie past
    * the table's end (an error cell then). */
  def shared(col: Int, id: Int): Unit
  /** An inline or formula string, as UTF-8 bytes valid during the call. */
  def text(col: Int, b: Array[Byte], off: Int, len: Int): Unit
  /** An error cell, or a value that does not parse as its type. */
  def error(col: Int): Unit
  /** A row closes: its 0-based index, whether it carried `r="N"`, its
    * width (one past its last cell) and how many cells it held. */
  def rowEnd(idx: Long, explicit: Boolean, width: Int, cells: Int): Unit
}

/** Rows of one worksheet, scanned one at a time into a sink on the calling
  * thread — the sequential face of a scan. */
trait RowSource extends AutoCloseable {
  /** Scans the next row into `sink`; false at the end of the rows. */
  def nextRow(sink: CellSink): Boolean
}

object RowSource {
  /** The rows of a missing worksheet entry. */
  val empty: RowSource = new RowSource {
    override def nextRow(sink: CellSink): Boolean = false
    override def close(): Unit = ()
  }

  /** The rows of an [[XCell]] producer (ods), replayed as cell events. */
  def of(rows: CellRowIterator): RowSource = new RowSource {
    override def nextRow(sink: CellSink): Boolean = rows.hasNext && {
      val (idx, cells) = rows.next()
      sink.rowStart()
      var held = 0
      var c = 0
      while (c < cells.length) {
        val cell = cells(c)
        if (cell != XCell.XNone) {
          held += 1
          if (sink.wants(c)) cell match {
            case XCell.XString(s) =>
              val b = s.getBytes(StandardCharsets.UTF_8)
              sink.text(c, b, 0, b.length)
            case XCell.XNumber(d) => sink.number(c, d)
            case XCell.XDate(d) => sink.date(c, d)
            case XCell.XBool(b) => sink.bool(c, b)
            case _ => sink.error(c)
          }
        }
        c += 1
      }
      sink.rowEnd(idx, false, cells.length, held)
      true
    }
    override def close(): Unit = rows.close()
  }
}

/** Byte-level SpreadsheetML worksheet scanner — the per-core hot path of the
  * xlsx scan. The reference's C++ core gets its throughput from a custom
  * in-situ XML scanner rather than a general parser; this is the same idea
  * re-expressed on the JVM: a single-pass state machine over the inflated
  * entry bytes with
  *
  *   - bulk `memchr`-style scans for markup boundaries (text runs and
  *     inter-tag gaps are `System.arraycopy`/index loops, not per-event
  *     dispatch),
  *   - zero per-cell allocation: element/attribute names and values are
  *     matched in place against reusable buffers, numbers parse to a
  *     primitive `double` (only a form outside the fast path builds the
  *     `String` that `Double.parseDouble` requires), text is unescaped in
  *     place, and shared-string indices parse digit by digit,
  *   - typed events into a [[CellSink]] instead of cell objects.
  *
  * Semantics are identical to the StAX oracle (same cell lattice, same
  * error-cell rules, reference: src/sheetreader_extension.cpp:117-135).
  * Assumes an ASCII-compatible encoding (UTF-8 in practice — multi-byte
  * text passes through untouched); workbooks with a UTF-16 BOM transcode to
  * UTF-8 upstream (Utf16ToUtf8Stream) and ride this same scanner.
  */
final class SheetScanCore private (
    in: InputStream,
    private var buf: Array[Byte],
    dates: Array[Boolean],
    closeUnderlying: () => Unit)
    extends RowSource {
  import SheetScanCore._

  /** A scanner over the whole stream `in`. */
  def this(in: InputStream, dates: Array[Boolean], closeUnderlying: () => Unit) =
    this(in, new Array[Byte](1 << 16), dates, closeUnderlying)

  // ---- buffered byte cursor -----------------------------------------------
  private var pos = 0
  private var lim = 0
  private var eofSeen = false

  private def fill(): Boolean = {
    if (eofSeen) return false
    var n = in.read(buf)
    while (n == 0) n = in.read(buf)
    if (n < 0) { eofSeen = true; false }
    else { pos = 0; lim = n; true }
  }

  /** Next byte as 0..255, or -1 at end of entry. */
  private def rb(): Int = {
    if (pos >= lim && !fill()) -1
    else { val b = buf(pos); pos += 1; b & 0xff }
  }

  // ---- reusable scratch buffers -------------------------------------------
  private val nm = new Array[Char](32) // current element/attribute local name
  private var nmLen = 0
  private var delim = 0 // byte that terminated the last readName

  private var txt = new Array[Byte](256) // accumulated <v>/<t> content
  private var txtLen = 0

  // parsed attribute slots (per current tag)
  private var selfClose = false
  private var aRow = -1L
  private var aCol = -1
  private var aType = TNum
  private var aStyle = -1

  // current cell context (set at <c>, consumed at </v> / </is>)
  private var curCol = -1
  private var curType = TNum
  private var curStyle = -1

  // parser state
  private var sink: CellSink = _
  private var rowIdx = -1L
  private var rowExplicit = false
  private var width = 0 // one past the last cell column of the current row
  private var rowCells = 0
  private var inV = false
  private var inIs = false
  private var inT = false
  private var numOk = false // did the last parseNumber succeed
  private var closed = false

  override def nextRow(s: CellSink): Boolean =
    !closed && {
      sink = s
      val more = advance()
      if (!more) close()
      more
    }

  override def close(): Unit = if (!closed) { closed = true; closeUnderlying() }

  // ---- core state machine -------------------------------------------------

  /** Parse forward through the next complete </row>; false at end of entry. */
  private def advance(): Boolean = {
    while (true) {
      if (inV || inT) {
        // collectText consumes the run AND the markup that ended it
        collectText()
      } else if (skipToLt()) {
        // cursor is just past a '<'
        val b = rb()
        if (b == '/') {
          readName(rb())
          var d = delim
          while (d != -1 && d != '>') d = rb()
          if (nmLen == 1 && nm(0) == 'v') { inV = false; endValue() }
          else if (nameIs("is")) { inIs = false; inT = false; endInline() }
          else if (nameIs("row")) { endRow(); return true }
        } else if (b == '!') handleBang()
        else if (b == '?') skipPi()
        else if (b == -1) return false
        else {
          readName(b)
          if (nmLen == 1 && nm(0) == 'c') {
            aCol = -1; aType = TNum; aStyle = -1
            parseAttrs(ElemC)
            curCol = if (aCol >= 0) aCol else width
            curType = aType; curStyle = aStyle
            // self-closing <c/>: styled empty cell → gap, nothing to do
          } else if (nmLen == 1 && nm(0) == 'v') {
            parseAttrs(ElemOther)
            txtLen = 0
            if (selfClose) endValue() else inV = true
          } else if (nameIs("row")) {
            aRow = -1L
            parseAttrs(ElemRow)
            rowExplicit = aRow >= 1
            rowIdx = if (aRow >= 1) aRow - 1 else rowIdx + 1
            width = 0
            rowCells = 0
            sink.rowStart()
            if (selfClose) { endRow(); return true }
          } else if (nameIs("is")) {
            parseAttrs(ElemOther)
            txtLen = 0
            if (selfClose) endInline() else inIs = true
          } else if (inIs && nmLen == 1 && nm(0) == 't') {
            parseAttrs(ElemOther)
            if (!selfClose) inT = true
          } else parseAttrs(ElemOther) // unknown element: consume its tag
        }
      } else return false // end of entry
    }
    false // unreachable
  }

  /** Bulk-skip bytes up to and past the next '<'. False at end of entry. */
  private def skipToLt(): Boolean = {
    while (true) {
      var p = pos
      val l = lim
      val b = buf
      while (p < l && b(p) != '<') p += 1
      if (p < l) { pos = p + 1; return true }
      pos = p
      if (!fill()) return false
    }
    false // unreachable
  }

  /** Accumulate text content (inside <v> or <is><t>) up to the next markup
    * boundary; decodes entity references inline. Leaves the cursor just past
    * a '<' (handled by the caller's tag dispatch on the next loop turn) —
    * entered again if the element continues across entities/refills. */
  private def collectText(): Unit = {
    while (true) {
      var p = pos
      val l = lim
      val b = buf
      val start = p
      while (p < l && b(p) != '<' && b(p) != '&') p += 1
      if (p > start) txtAppendRange(b, start, p - start)
      pos = p
      if (p >= l) {
        if (!fill()) { inV = false; inT = false; return }
      } else if (b(p) == '&') { pos = p + 1; readEntity() }
      else { pos = p + 1; handleTextMarkup(); return }
    }
  }

  /** Dispatch the markup that terminated a text run: either the closing tag
    * (push back to the main loop) or a CDATA section. */
  private def handleTextMarkup(): Unit = {
    // Peek one byte: '!' begins <![CDATA[ inside mixed content; anything
    // else is a real tag the main loop must see. We re-create the main
    // loop's dispatch here for the two cases text can produce.
    val b = rb()
    if (b == '!') handleBang()
    else if (b == '/') {
      readName(rb())
      var d = delim
      while (d != -1 && d != '>') d = rb()
      if (nmLen == 1 && nm(0) == 'v') { inV = false; endValue() }
      else if (inT && nmLen == 1 && nm(0) == 't') inT = false
      else if (nameIs("is")) { inIs = false; inT = false; endInline() }
    } else if (b != -1) {
      // unexpected child element inside text (e.g. rich-text markup):
      // consume its tag, keep collecting
      readName(b)
      parseAttrs(ElemOther)
    }
  }

  /** Read a local name starting at byte b0 (namespace prefixes stripped);
    * stops at whitespace / '>' / '/' / '=' / EOF, stored in `delim`. */
  private def readName(b0: Int): Unit = {
    nmLen = 0
    var b = b0
    while (b != -1 && b != ' ' && b != '\t' && b != '\n' && b != '\r' &&
           b != '>' && b != '/' && b != '=') {
      if (b == ':') nmLen = 0 // drop prefix
      else if (nmLen < nm.length) { nm(nmLen) = b.toChar; nmLen += 1 }
      b = rb()
    }
    delim = b
  }

  private def nameIs(s: String): Boolean = {
    if (nmLen != s.length) return false
    var i = 0
    while (i < nmLen) { if (nm(i) != s.charAt(i)) return false; i += 1 }
    true
  }

  /** Parse attributes up to the tag end; `selfClose` reports '/>'. Only the
    * attributes the element kind cares about are decoded. */
  private def parseAttrs(kind: Int): Unit = {
    selfClose = false
    var b = delim
    while (true) {
      b match {
        case '>' => return
        case -1  => return
        case '/' =>
          b = rb()
          if (b == '>') { selfClose = true; return }
        case ' ' | '\t' | '\n' | '\r' => b = rb()
        case _ =>
          readName(b)
          var d = delim
          while (d == ' ' || d == '\t' || d == '\n' || d == '\r') d = rb()
          if (d == '=') {
            var q = rb()
            while (q == ' ' || q == '\t' || q == '\n' || q == '\r') q = rb()
            if (q == '"' || q == '\'') readAttrValue(q, kind)
            b = rb()
          } else b = d // malformed / boolean attribute: resume scan
      }
    }
  }

  /** Decode one quoted attribute value and fold it into the parsed slots.
    * Values of interest are ASCII (cell refs, type codes, style indices). */
  private def readAttrValue(quote: Int, kind: Int): Unit = {
    // r (row): digits → aRow.  r (cell): letters*digits → aCol.
    // t: type code → aType.  s: style index → aStyle.
    val wantR = nmLen == 1 && nm(0) == 'r'
    val wantT = kind == ElemC && nmLen == 1 && nm(0) == 't'
    val wantS = kind == ElemC && nmLen == 1 && nm(0) == 's'
    if (!wantR && !wantT && !wantS) { // skip value bytes
      var b = rb()
      while (b != -1 && b != quote) b = rb()
      return
    }
    if (wantT) {
      // match against the closed set of cell-type codes in place
      val tb = new Array[Char](12)
      var n = 0
      var b = rb()
      while (b != -1 && b != quote) {
        if (n < tb.length) { tb(n) = b.toChar; n += 1 }
        b = rb()
      }
      aType = typeCode(tb, n)
      return
    }
    // numeric/ref values: letters feed the column accumulator, digits the
    // numeric accumulator (an A1 ref is letters-then-digits)
    var col = 0
    var hasCol = false
    var num = 0L
    var hasNum = false
    var bad = false
    var b = rb()
    while (b != -1 && b != quote) {
      if (b >= '0' && b <= '9') { num = num * 10 + (b - '0'); hasNum = true }
      else if (b >= 'A' && b <= 'Z') { col = col * 26 + (b - 'A' + 1); hasCol = true }
      else if (b >= 'a' && b <= 'z') { col = col * 26 + (b - 'a' + 1); hasCol = true }
      else bad = true
      b = rb()
    }
    if (!bad) {
      if (kind == ElemRow && wantR && hasNum) aRow = num
      else if (kind == ElemC) {
        if (wantR && hasCol) aCol = col - 1
        else if (wantS && hasNum) aStyle = num.toInt
      }
    }
  }

  private def typeCode(tb: Array[Char], n: Int): Int =
    if (n == 1) tb(0) match {
      case 's' => TShared
      case 'b' => TBool
      case 'e' => TErr
      case 'n' => TNum
      case _   => TOther
    }
    else if (n == 3 && tb(0) == 's' && tb(1) == 't' && tb(2) == 'r') TStr
    else if (n == 9 && new String(tb, 0, 9) == "inlineStr") TInline
    else TOther

  // ---- text accumulation --------------------------------------------------
  private def txtEnsure(extra: Int): Unit =
    if (txtLen + extra > txt.length) {
      var cap = txt.length * 2
      while (cap < txtLen + extra) cap *= 2
      txt = java.util.Arrays.copyOf(txt, cap)
    }

  private def txtAppend(b: Int): Unit = {
    txtEnsure(1); txt(txtLen) = b.toByte; txtLen += 1
  }

  private def txtAppendRange(src: Array[Byte], off: Int, len: Int): Unit = {
    txtEnsure(len); System.arraycopy(src, off, txt, txtLen, len); txtLen += len
  }

  private def txtAppendCodePoint(cp: Int): Unit =
    if (cp < 0x80) txtAppend(cp)
    else if (cp < 0x800) { txtAppend(0xC0 | (cp >> 6)); txtAppend(0x80 | (cp & 0x3F)) }
    else if (cp < 0x10000) {
      txtAppend(0xE0 | (cp >> 12)); txtAppend(0x80 | ((cp >> 6) & 0x3F)); txtAppend(0x80 | (cp & 0x3F))
    } else {
      txtAppend(0xF0 | (cp >> 18)); txtAppend(0x80 | ((cp >> 12) & 0x3F))
      txtAppend(0x80 | ((cp >> 6) & 0x3F)); txtAppend(0x80 | (cp & 0x3F))
    }

  /** Decode one entity reference (cursor just past '&'). Predefined names
    * and decimal/hex character references; unknown names are dropped —
    * lenient where StAX would abort the scan. */
  private def readEntity(): Unit = {
    val eb = new Array[Char](12)
    var n = 0
    var b = rb()
    while (b != -1 && b != ';' && n < eb.length) { eb(n) = b.toChar; n += 1; b = rb() }
    if (n == 3 && eb(0) == 'a' && eb(1) == 'm' && eb(2) == 'p') txtAppend('&')
    else if (n == 2 && eb(0) == 'l' && eb(1) == 't') txtAppend('<')
    else if (n == 2 && eb(0) == 'g' && eb(1) == 't') txtAppend('>')
    else if (n == 4 && new String(eb, 0, 4) == "quot") txtAppend('"')
    else if (n == 4 && new String(eb, 0, 4) == "apos") txtAppend('\'')
    else if (n > 1 && eb(0) == '#')
      try {
        val cp =
          if (n > 2 && (eb(1) == 'x' || eb(1) == 'X'))
            Integer.parseInt(new String(eb, 2, n - 2), 16)
          else Integer.parseInt(new String(eb, 1, n - 1))
        txtAppendCodePoint(cp)
      } catch { case _: NumberFormatException => }
  }

  /** Comment, CDATA or DOCTYPE (cursor just past "<!"). CDATA content feeds
    * the text buffer when inside <v>/<t>. */
  private def handleBang(): Unit = {
    val b = rb()
    if (b == '-') { // <!--  ...  -->
      rb() // second '-'
      var p2 = 0; var p1 = 0; var c = rb()
      while (c != -1 && !(p2 == '-' && p1 == '-' && c == '>')) { p2 = p1; p1 = c; c = rb() }
    } else if (b == '[') { // <![CDATA[ ... ]]>
      var i = 0
      while (i < 6 && rb() != -1) i += 1 // consume "CDATA["
      val collect = inV || inT
      var a = rb(); var m = rb(); var c = rb()
      while (c != -1 && !(a == ']' && m == ']' && c == '>')) {
        if (collect) txtAppend(a)
        a = m; m = c; c = rb()
      }
    } else { // DOCTYPE etc: skip to '>'
      var c = b
      while (c != -1 && c != '>') c = rb()
    }
  }

  private def skipPi(): Unit = { // <? ... ?>
    var p1 = 0; var c = rb()
    while (c != -1 && !(p1 == '?' && c == '>')) { p1 = c; c = rb() }
  }

  // ---- cell values --------------------------------------------------------

  /** Whether the text buffer, whitespace-trimmed, reads as true: `1` or
    * `true` in any case. */
  private def isTrue(): Boolean = {
    var s = 0
    var e = txtLen
    while (s < e && (txt(s) & 0xff) <= ' ') s += 1
    while (e > s && (txt(e - 1) & 0xff) <= ' ') e -= 1
    if (e - s == 1) txt(s) == '1'
    else e - s == 4 && (txt(s) | 0x20) == 't' && (txt(s + 1) | 0x20) == 'r' &&
      (txt(s + 2) | 0x20) == 'u' && (txt(s + 3) | 0x20) == 'e'
  }

  /** Parse the text buffer as a non-negative shared-string index without
    * allocating; Long.MinValue on any non-integer content. */
  private def takeIndex(): Long = {
    var s = 0
    var e = txtLen
    while (s < e && (txt(s) & 0xff) <= ' ') s += 1
    while (e > s && (txt(e - 1) & 0xff) <= ' ') e -= 1
    if (s >= e) return Long.MinValue
    var neg = false
    var i = s
    val c0 = txt(i)
    if (c0 == '-') { neg = true; i += 1 } else if (c0 == '+') i += 1
    if (i >= e) return Long.MinValue
    var v = 0L
    while (i < e) {
      val d = txt(i) - '0'
      if (d < 0 || d > 9) return Long.MinValue
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }

  /** Parse the text buffer as a double; `numOk` is false when it is
    * malformed. Fast path for plain decimal forms (sign, ≤15 significant
    * digits, optional fraction): exact long mantissa scaled by one exact
    * power-of-ten division — correctly rounded, hence bit-identical to
    * Double.parseDouble (Clinger's safe range: mantissa < 2^53, |exponent|
    * ≤ 22). Everything else (exponents, >15 digits, hex, NaN/Infinity)
    * takes the JDK path. */
  private def parseNumber(): Double = {
    numOk = false
    var s = 0
    var e = txtLen
    while (s < e && (txt(s) & 0xff) <= ' ') s += 1
    while (e > s && (txt(e - 1) & 0xff) <= ' ') e -= 1
    if (s >= e) return 0.0
    var i = s
    var neg = false
    val c0 = txt(i)
    if (c0 == '-') { neg = true; i += 1 } else if (c0 == '+') i += 1
    var mant = 0L
    var digits = 0
    var frac = 0
    var seenDot = false
    var plain = i < e
    while (plain && i < e) {
      val b = txt(i)
      if (b >= '0' && b <= '9') {
        mant = mant * 10 + (b - '0'); digits += 1
        if (seenDot) frac += 1
        i += 1
      } else if (b == '.' && !seenDot) { seenDot = true; i += 1 }
      else plain = false
    }
    if (plain && digits > 0 && digits <= 15) {
      val v = if (frac == 0) mant.toDouble else mant.toDouble / Pow10(frac)
      numOk = true
      if (neg) -v else v
    } else
      try {
        val v = java.lang.Double.parseDouble(
          new String(txt, s, e - s, StandardCharsets.US_ASCII))
        numOk = true
        v
      } catch { case _: NumberFormatException => 0.0 }
  }

  /** The column of the cell whose value just ended: the row widens to hold
    * it. */
  private def cellCol(): Int = {
    val c = if (curCol < 0) width else curCol
    if (c >= width) width = c + 1
    rowCells += 1
    c
  }

  /** Emit the finished <v> content as its cell type's event (same lattice
    * and error rules as the StAX oracle and the reference). */
  private def endValue(): Unit = {
    val c = cellCol()
    if (sink.wants(c)) curType match {
      case TShared =>
        val i = takeIndex()
        if (i >= 0 && i <= Int.MaxValue) sink.shared(c, i.toInt) else sink.error(c)
      case TStr | TInline => sink.text(c, txt, 0, txtLen)
      case TBool => sink.bool(c, isTrue())
      case TNum =>
        val d = parseNumber()
        if (!numOk) sink.error(c)
        else if (curStyle >= 0 && curStyle < dates.length && dates(curStyle)) sink.date(c, d)
        else sink.number(c, d)
      case _ => sink.error(c) // t="e" and unknown types
    }
    txtLen = 0
  }

  /** Emit the finished <is> content (an inline string). */
  private def endInline(): Unit = {
    val c = cellCol()
    if (sink.wants(c)) sink.text(c, txt, 0, txtLen)
  }

  private def endRow(): Unit = sink.rowEnd(rowIdx, rowExplicit, width, rowCells)
}

object SheetScanCore {
  /** A scanner over `bytes[0, len)`, read in place: a parse worker's chunk. */
  def over(bytes: Array[Byte], len: Int, dates: Array[Boolean]): SheetScanCore = {
    val sc = new SheetScanCore(null, bytes, dates, () => ())
    sc.lim = len
    sc.eofSeen = true
    sc
  }

  /** Exact powers of ten up to 10^22 (the last exactly-representable one)
    * by iterative multiplication — every step's true product is
    * representable, so every entry is exact (math.pow only promises 1 ulp). */
  private[xlsx] val Pow10: Array[Double] = {
    val a = new Array[Double](23)
    a(0) = 1.0
    var i = 1
    while (i < a.length) { a(i) = a(i - 1) * 10.0; i += 1 }
    a
  }

  // cell-type codes from t="..."
  private final val TNum = 0 // absent / "n"
  private final val TShared = 1 // "s"
  private final val TStr = 2 // "str"
  private final val TInline = 3 // "inlineStr"
  private final val TBool = 4 // "b"
  private final val TErr = 5 // "e"
  private final val TOther = 6

  private final val ElemRow = 0
  private final val ElemC = 1
  private final val ElemOther = -1
}

/** The worksheet's rows as [[XCell]]s: [[SheetScanCore]] writing into one
  * row of cells, shared-string cells resolved against `strings` (an index
  * past its end is an error cell). */
final class SheetScanner private[xlsx] (core: SheetScanCore, strings: Array[String])
    extends CellRowIterator {

  def this(in: InputStream, strings: Array[String], dates: Array[Boolean],
      closeUnderlying: () => Unit) =
    this(new SheetScanCore(in, dates, closeUnderlying), strings)

  private val cells = new ArrayBuffer[XCell]()
  private var nextRow: (Long, Array[XCell]) = _
  /** Whether the last row handed out carried an explicit r="N". */
  private[xlsx] var lastRowExplicit = false

  private val row = new CellSink {
    private def put(c: Int, v: XCell): Unit = {
      while (cells.length <= c) cells += XCell.XNone
      cells(c) = v
    }
    override def rowStart(): Unit = cells.clear()
    override def wants(col: Int): Boolean = true
    override def number(col: Int, v: Double): Unit = put(col, XCell.XNumber(v))
    override def date(col: Int, serial: Double): Unit = put(col, XCell.XDate(serial))
    override def bool(col: Int, v: Boolean): Unit = put(col, XCell.XBool(v))
    override def shared(col: Int, id: Int): Unit =
      put(col, if (id < strings.length) XCell.XString(strings(id)) else XCell.XError)
    override def text(col: Int, b: Array[Byte], off: Int, len: Int): Unit =
      put(col, XCell.XString(
        if (len == 0) "" else new String(b, off, len, StandardCharsets.UTF_8)))
    override def error(col: Int): Unit = put(col, XCell.XError)
    override def rowEnd(idx: Long, explicit: Boolean, width: Int, n: Int): Unit = {
      nextRow = (idx, cells.toArray)
      lastRowExplicit = explicit
    }
  }

  override def hasNext: Boolean = nextRow != null || core.nextRow(row)

  override def next(): (Long, Array[XCell]) = {
    if (!hasNext) throw new NoSuchElementException
    val r = nextRow
    nextRow = null
    r
  }

  override def close(): Unit = core.close()
}

/** Byte-level scanner for `xl/sharedStrings.xml` — the other hot entry of a
  * real-world workbook (Excel interns every worksheet string here, so for
  * string-heavy sheets this table IS most of the bytes). Same technique as
  * [[SheetScanner]]: one pass, bulk text runs, entities and CDATA decoded
  * inline. `<rPh>`/`<phoneticPr>` subtrees (furigana) are excluded from the
  * string value, matching the StAX path and the reference. */
object SharedStringsScanner {

  /** Default cap on retained shared-string bytes per task (UTF-8 length of
    * the decoded table). The sharedStrings table is the ONE xlsx structure
    * whose memory footprint is set by the FILE, not the scan — a
    * pathological workbook can intern gigabytes here, and without a guard
    * that is a silent per-task OOM. 512 MiB of text is far beyond any real
    * workbook (Excel's own cell limits cap it well below) while safely
    * inside executor task budgets. */
  val DefaultMaxBytes: Long = 512L << 20

  def guardMessage(limit: Long): String =
    s"xlsx: sharedStrings table exceeds the $limit-byte per-task budget — " +
      "this workbook interns more string data than a scan task can hold in " +
      "memory. Raise the maxSharedStringsBytes option if the executor heap " +
      "has room, or split the workbook."

  /** The budget guard's failure: what a scan over a too-large table
    * reports. A prefix read catches it and keeps what `out` already holds. */
  final class BudgetExceeded(limit: Long)
      extends IllegalStateException(guardMessage(limit))

  def parse(in: InputStream,
      maxBytes: Long = DefaultMaxBytes): ArrayBuffer[String] = {
    val out = ArrayBuffer[String]()
    parseInto(in, out, maxBytes)
    out
  }

  /** Appends the table's strings to `out`, stopping after `limit` of them
    * — a prefix read never decodes the tail. Throws [[BudgetExceeded]]
    * once the retained bytes would pass `maxBytes`; `out` then holds the
    * strings completed before that point, each at its table index. */
  def parseInto(in: InputStream, out: ArrayBuffer[String],
      maxBytes: Long = DefaultMaxBytes, limit: Int = Int.MaxValue): Unit =
    scan(in, maxBytes, limit, (b, n) =>
      out += (if (n == 0) "" else new String(b, 0, n, StandardCharsets.UTF_8)))

  /** The whole table as one UTF-8 byte array per entry — a scan's string
    * dictionary ([[SheetDictionary]]). Same scan, same budget. */
  def parseBytes(in: InputStream, maxBytes: Long = DefaultMaxBytes): Array[Array[Byte]] = {
    val out = ArrayBuffer[Array[Byte]]()
    scan(in, maxBytes, Int.MaxValue, (b, n) =>
      out += (if (n == 0) Array.emptyByteArray else java.util.Arrays.copyOf(b, n)))
    out.toArray
  }

  /** The one table scan: `emit(bytes, length)` gets each entry's UTF-8
    * bytes (valid during the call), in table order, up to `limit` of them. */
  private def scan(in: InputStream, maxBytes: Long, limit: Int,
      emit: (Array[Byte], Int) => Unit): Unit = {
    var emitted = 0
    var retained = 0L
    // budget check on every accumulation, not just at </si>: ONE huge
    // string must hit the guard too (otherwise the buffer doubles
    // unboundedly before the si ever closes)
    def checkBudget(pending: Int): Unit =
      if (retained + pending > maxBytes) throw new BudgetExceeded(maxBytes)
    val buf = new Array[Byte](1 << 16)
    var pos = 0
    var lim = 0
    var eof = false
    var txt = new Array[Byte](256)
    var txtLen = 0
    val nm = new Array[Char](24)
    var nmLen = 0
    var delim = 0
    var inSi = false
    var inT = false
    var phonetic = 0 // depth inside rPh / phoneticPr

    def fill(): Boolean = {
      if (eof) return false
      var n = in.read(buf)
      while (n == 0) n = in.read(buf)
      if (n < 0) { eof = true; false } else { pos = 0; lim = n; true }
    }
    def rb(): Int =
      if (pos >= lim && !fill()) -1
      else { val b = buf(pos); pos += 1; b & 0xff }

    def txtAppend(b: Int): Unit = {
      checkBudget(txtLen + 1)
      if (txtLen == txt.length) txt = java.util.Arrays.copyOf(txt, txt.length * 2)
      txt(txtLen) = b.toByte; txtLen += 1
    }
    def txtAppendCp(cp: Int): Unit =
      if (cp < 0x80) txtAppend(cp)
      else if (cp < 0x800) { txtAppend(0xC0 | (cp >> 6)); txtAppend(0x80 | (cp & 0x3F)) }
      else if (cp < 0x10000) {
        txtAppend(0xE0 | (cp >> 12)); txtAppend(0x80 | ((cp >> 6) & 0x3F)); txtAppend(0x80 | (cp & 0x3F))
      } else {
        txtAppend(0xF0 | (cp >> 18)); txtAppend(0x80 | ((cp >> 12) & 0x3F))
        txtAppend(0x80 | ((cp >> 6) & 0x3F)); txtAppend(0x80 | (cp & 0x3F))
      }
    def entity(): Unit = {
      val eb = new Array[Char](12); var n = 0
      var b = rb()
      while (b != -1 && b != ';' && n < eb.length) { eb(n) = b.toChar; n += 1; b = rb() }
      val s = new String(eb, 0, n)
      s match {
        case "amp" => txtAppend('&')
        case "lt" => txtAppend('<')
        case "gt" => txtAppend('>')
        case "quot" => txtAppend('"')
        case "apos" => txtAppend('\'')
        case _ if s.startsWith("#") =>
          try txtAppendCp(
            if (s.length > 2 && (s.charAt(1) == 'x' || s.charAt(1) == 'X'))
              Integer.parseInt(s.substring(2), 16)
            else Integer.parseInt(s.substring(1)))
          catch { case _: NumberFormatException => }
        case _ =>
      }
    }
    def readName(b0: Int): Unit = {
      nmLen = 0
      var b = b0
      while (b != -1 && b != ' ' && b != '\t' && b != '\n' && b != '\r' &&
             b != '>' && b != '/' && b != '=') {
        if (b == ':') nmLen = 0
        else if (nmLen < nm.length) { nm(nmLen) = b.toChar; nmLen += 1 }
        b = rb()
      }
      delim = b
    }
    def nameIs(s: String): Boolean = {
      if (nmLen != s.length) return false
      var i = 0
      while (i < nmLen) { if (nm(i) != s.charAt(i)) return false; i += 1 }
      true
    }
    /** Consume the rest of a start tag; true if self-closing. */
    def finishTag(): Boolean = {
      var b = delim
      var lastSlash = false
      var inQ = 0
      while (b != -1) {
        if (inQ != 0) { if (b == inQ) inQ = 0 }
        else if (b == '"' || b == '\'') { inQ = b; lastSlash = false }
        else if (b == '>') return lastSlash
        else lastSlash = b == '/'
        b = rb()
      }
      false
    }

    var b = rb()
    while (b != -1 && emitted < limit) {
      if (b == '<') {
        val c = rb()
        if (c == '/') {
          readName(rb())
          var d = delim
          while (d != -1 && d != '>') d = rb()
          if (nameIs("t")) inT = false
          else if (nameIs("rPh") || nameIs("phoneticPr")) phonetic -= 1
          else if (nameIs("si")) {
            inSi = false
            retained += txtLen
            if (retained > maxBytes) throw new BudgetExceeded(maxBytes)
            emit(txt, txtLen)
            emitted += 1
          }
        } else if (c == '!') {
          val d = rb()
          if (d == '-') { // comment
            rb()
            var p2 = 0; var p1 = 0; var e = rb()
            while (e != -1 && !(p2 == '-' && p1 == '-' && e == '>')) { p2 = p1; p1 = e; e = rb() }
          } else if (d == '[') { // CDATA
            var i = 0
            while (i < 6 && rb() != -1) i += 1
            val collect = inT && phonetic == 0
            var a = rb(); var m = rb(); var e = rb()
            while (e != -1 && !(a == ']' && m == ']' && e == '>')) {
              if (collect) txtAppend(a)
              a = m; m = e; e = rb()
            }
          } else { var e = d; while (e != -1 && e != '>') e = rb() }
        } else if (c == '?') {
          var p1 = 0; var e = rb()
          while (e != -1 && !(p1 == '?' && e == '>')) { p1 = e; e = rb() }
        } else {
          readName(c)
          val selfClose = finishTag()
          if (nameIs("si")) { inSi = true; txtLen = 0; if (selfClose) { inSi = false; emit(txt, 0); emitted += 1 } }
          else if (nameIs("t")) { if (inSi && !selfClose) inT = true }
          else if (nameIs("rPh") || nameIs("phoneticPr")) { if (!selfClose) phonetic += 1 }
        }
        b = rb()
      } else {
        if (inT && phonetic == 0) {
          // bulk text run
          if (b == '&') entity()
          else {
            txtAppend(b)
            var p = pos
            val l = lim
            val start = p
            while (p < l && buf(p) != '<' && buf(p) != '&') p += 1
            if (p > start) {
              checkBudget(txtLen + (p - start))
              if (txtLen + (p - start) > txt.length) {
                var cap = txt.length * 2
                while (cap < txtLen + (p - start)) cap *= 2
                txt = java.util.Arrays.copyOf(txt, cap)
              }
              System.arraycopy(buf, start, txt, txtLen, p - start)
              txtLen += p - start
            }
            pos = p
          }
        }
        b = rb()
      }
    }
  }
}
