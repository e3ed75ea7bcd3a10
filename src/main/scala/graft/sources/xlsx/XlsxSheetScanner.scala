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
  /** Nanoseconds spent reading (inflating) the underlying stream so far. */
  def readNs: Long = 0L
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
  * re-expressed on the JVM (SheetReader's argument: a parser specialised
  * to SpreadsheetML, not a general XML one): one pass over the inflated
  * entry bytes, typed events into a [[CellSink]], no per-cell allocation.
  *
  * Two layers read the bytes:
  *
  *   - The fused fast path ([[fastTags]]) works on the buffered window with
  *     the cursor in locals. One unaligned 8-byte load per tag
  *     ([[SheetMarkup]]'s literals) recognises `<row r="`, `<c r="` with
  *     its ` t="…"`/` s="…"` continuations and `>`/`/>`, `<v>`, `</v>`,
  *     `</c>`, `</row>`, `<is>`, `<t>` and `<is><t>`…`</t></is>`. It
  *     decodes the `r=` ref and the `s=` index in place, parses a `<v>`
  *     number or shared-string id straight from the window, and hands an
  *     entity-free inline string to the sink as a slice of the window.
  *   - The per-byte machinery ([[tag]], [[parseAttrs]], [[collectText]])
  *     takes every other construct — entities, CDATA, comments, processing
  *     instructions, other names and attribute forms — and every probe that
  *     would cross the window's end. The fast path hands over at the exact
  *     byte where it stops, in the state the per-byte machinery would be in
  *     there, so the two paths give the same events by construction
  *     (differential-fuzzed, and fed through 1–7 byte reads).
  *
  * Semantics are identical to the StAX oracle (same cell lattice, same
  * error-cell rules, reference: src/sheetreader_extension.cpp:117-135).
  * Numbers take an exact fast path (≤15 significant digits, one exact
  * power-of-ten division), so they are bit-identical to
  * `Double.parseDouble`. Assumes an ASCII-compatible encoding (UTF-8 in
  * practice — multi-byte text passes through untouched); workbooks with a
  * UTF-16 BOM transcode to UTF-8 upstream (Utf16ToUtf8Stream) and ride this
  * same scanner.
  */
final class SheetScanCore private (
    in: InputStream,
    window: Array[Byte],
    dates: Array[Boolean],
    closeUnderlying: () => Unit)
    extends MarkupCursor(in, window) with RowSource {
  import SheetMarkup._
  import SheetScanCore._

  /** A scanner over the whole stream `in`. */
  def this(in: InputStream, dates: Array[Boolean], closeUnderlying: () => Unit) =
    this(in, new Array[Byte](1 << 16), dates, closeUnderlying)

  // parsed attribute slots (per current tag)
  private var selfClose = false
  private var aRow = -1L
  private var aCol = -1
  private var aType = TNum
  private var aStyle = -1
  private val typeBuf = new Array[Byte](12) // a t="…" value on the per-byte path

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
  private var numOk = false // did the last number parse succeed
  private var closed = false

  override def readNs: Long = streamNs

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
      if (inV || inT) collectText() // consumes the run AND the markup that ended it
      else {
        val r = fastTags()
        if (r == RowDone) return true
        if (r == AtLt) {
          val t = tag()
          if (t != Go) return t == RowDone
        } else if (r == Drained && !fill()) return false
      }
    }
    false // unreachable
  }

  /** The fused fast path over the window, outside text content: skips to
    * each '<' and consumes whole hot tags. Returns [[RowDone]] after a row
    * end, [[AtLt]] with the cursor just past a '<' that the per-byte
    * [[tag]] must read, [[Drained]] at the window's end outside any tag,
    * and [[Go]] when a text element opened or the per-byte machinery
    * finished a tag (the caller loops). */
  private def fastTags(): Int = {
    val b = buf
    val l = lim
    var p = pos
    while (true) {
      while (p < l && b(p) != '<') p += 1
      if (p >= l) { pos = p; return Drained }
      if (!LittleEndian || p + 8 > l) { pos = p + 1; return AtLt }
      val w = word(b, p)
      if ((w & M4) == LitCloseC) p += 4
      else if ((w & M6) == LitCRQ) {
        val q = cellTag(b, p + 6, l)
        if (q >= 0) p = q
        else if (q == Bail) { pos = p + 1; return AtLt }
        else return Go
      } else if ((w & M3) == LitOpenV) {
        // the value runs to the next markup; plain text then </v> is read
        // in place, anything else collects through the text buffer
        val s = p + 3
        val e = textEnd(b, s, l)
        if (e + 4 <= l && word4(b, e) == LitCloseV) {
          value(b, s, e)
          p = e + 4
        } else { resetText(); inV = true; pos = s; return Go }
      } else if ((w & M6) == LitCloseRow) {
        pos = p + 6
        endRow()
        return RowDone
      } else if (w == LitRowRQ) {
        val q = rowTag(b, p + 8, l)
        if (q >= 0) p = q
        else if (q == Bail) { pos = p + 1; return AtLt }
        else return if (q == Ended) RowDone else Go
      } else if ((w & M7) == LitIsT) {
        // an inline string: entity-free text in the window goes to the
        // sink as a slice of it
        val s = p + 7
        val e = textEnd(b, s, l)
        if (e + 9 <= l && word(b, e) == LitCloseTIs && b(e + 8) == '>') {
          inIs = false
          val c = cellCol()
          if (sink.wants(c)) sink.text(c, b, s, e - s)
          textIsSlice(s, e - s)
          p = e + 9
        } else { resetText(); inIs = true; inT = true; pos = s; return Go }
      } else if ((w & M4) == LitOpenIs) { resetText(); inIs = true; p += 4 }
      else if ((w & M3) == LitOpenT) {
        p += 3
        if (inIs) { inT = true; pos = p; return Go }
      } else { pos = p + 1; return AtLt }
    }
    Go // unreachable
  }

  /** The rest of a `<c r="` tag from `b(from)`, the ref's first byte: the
    * position past the tag, [[Bail]] when a value runs past the window, or
    * [[Slow]] when [[parseAttrs]] finished an attribute form the fast path
    * does not read. */
  private def cellTag(b: Array[Byte], from: Int, l: Int): Int = {
    aCol = -1; aType = TNum; aStyle = -1
    // the ref: letters give the column, digits (the row) only validate
    var i = from
    var col = 0
    var hasCol = false
    var bad = false
    while (i < l && b(i) != '"') {
      val c = b(i)
      if (c >= 'A' && c <= 'Z') { col = col * 26 + (c - 'A' + 1); hasCol = true }
      else if (c >= 'a' && c <= 'z') { col = col * 26 + (c - 'a' + 1); hasCol = true }
      else if (c < '0' || c > '9') bad = true
      i += 1
    }
    if (i >= l) return Bail
    if (!bad && hasCol) aCol = col - 1
    i += 1
    while (true) {
      if (i >= l) return Bail
      val c = b(i)
      if (c == '>') { cellOpened(); return i + 1 }
      if (c == '/' && i + 1 < l && b(i + 1) == '>') { cellOpened(); return i + 2 }
      val k = if (c == ' ' && i + 4 <= l) word4(b, i) else 0
      if (k == LitTQ || k == LitSQ) {
        val s = i + 4
        var e = s
        while (e < l && b(e) != '"') e += 1
        if (e >= l) return Bail
        if (k == LitTQ) aType = typeCode(b, s, e - s)
        else {
          var num = 0L
          var hasNum = false
          var badS = false
          var j = s
          while (j < e) {
            val d = b(j)
            if (d >= '0' && d <= '9') { num = num * 10 + (d - '0'); hasNum = true }
            else if (!((d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z'))) badS = true
            j += 1
          }
          if (!badS && hasNum) aStyle = num.toInt
        }
        i = e + 1
      } else {
        pos = i + 1
        delim = c & 0xff
        parseAttrs(ElemC)
        cellOpened()
        return Slow
      }
    }
    Slow // unreachable
  }

  /** The rest of a `<row r="` tag from `b(from)`: the position past an
    * open tag, [[Ended]] after a self-closing one (a whole row; the cursor
    * is set), [[Bail]] when the ref runs past the window, or [[Slow]] when
    * [[parseAttrs]] finished the tag. */
  private def rowTag(b: Array[Byte], from: Int, l: Int): Int = {
    aRow = -1L
    var i = from
    var num = 0L
    var hasNum = false
    var bad = false
    while (i < l && b(i) != '"') {
      val c = b(i)
      if (c >= '0' && c <= '9') { num = num * 10 + (c - '0'); hasNum = true }
      else if (!((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))) bad = true
      i += 1
    }
    if (i + 1 >= l) return Bail
    if (!bad && hasNum) aRow = num
    i += 1
    val c = b(i)
    if (c == '>') { selfClose = false; rowOpened(); i + 1 }
    else if (c == '/' && i + 1 < l && b(i + 1) == '>') {
      selfClose = true
      pos = i + 2
      rowOpened()
      Ended
    } else {
      pos = i + 1
      delim = c & 0xff
      parseAttrs(ElemRow)
      if (rowOpened()) Ended else Slow
    }
  }

  private def cellOpened(): Unit = {
    curCol = if (aCol >= 0) aCol else width
    curType = aType; curStyle = aStyle
  }

  /** A row tag's attributes are read: the row opens, and a self-closing
    * one ends at once (true). */
  private def rowOpened(): Boolean = {
    rowExplicit = aRow >= 1
    rowIdx = if (aRow >= 1) aRow - 1 else rowIdx + 1
    width = 0
    rowCells = 0
    sink.rowStart()
    if (selfClose) { endRow(); true } else false
  }

  /** The per-byte dispatch of one tag, the cursor just past its '<':
    * [[Go]], [[RowDone]] or [[End]]. */
  private def tag(): Int = {
    val b = rb()
    if (b == '/') {
      readName(rb())
      var d = delim
      while (d != -1 && d != '>') d = rb()
      val k = nameKind
      if (k == KV) { inV = false; endValue() }
      else if (k == KIs) { inIs = false; inT = false; endInline() }
      else if (k == KRow) { endRow(); return RowDone }
    } else if (b == '!') handleBang(inV || inT)
    else if (b == '?') skipPi()
    else if (b == -1) return End
    else {
      readName(b)
      val k = nameKind
      if (k == KC) {
        aCol = -1; aType = TNum; aStyle = -1
        parseAttrs(ElemC)
        cellOpened() // self-closing <c/>: styled empty cell → gap, nothing to do
      } else if (k == KV) {
        parseAttrs(ElemOther)
        resetText()
        if (selfClose) endValue() else inV = true
      } else if (k == KRow) {
        aRow = -1L
        parseAttrs(ElemRow)
        if (rowOpened()) return RowDone
      } else if (k == KIs) {
        parseAttrs(ElemOther)
        resetText()
        if (selfClose) endInline() else inIs = true
      } else if (inIs && k == KT) {
        parseAttrs(ElemOther)
        if (!selfClose) inT = true
      } else parseAttrs(ElemOther) // unknown element: consume its tag
    }
    Go
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
      p = textEnd(b, p, l)
      if (p > start) txtAppendRange(b, start, p - start)
      pos = p
      if (p >= l) {
        if (!fill()) { inV = false; inT = false; return }
      } else if (b(p) == '&') {
        val q = entityAt(p, l)
        if (q >= 0) pos = q else { pos = p + 1; readEntity() }
      } else { pos = p + 1; handleTextMarkup(); return }
    }
  }

  /** Dispatch the markup that terminated a text run: either the closing tag
    * (push back to the main loop) or a CDATA section. */
  private def handleTextMarkup(): Unit = {
    // Peek one byte: '!' begins <![CDATA[ inside mixed content; anything
    // else is a real tag the main loop must see. We re-create the main
    // loop's dispatch here for the two cases text can produce.
    val b = rb()
    if (b == '!') handleBang(inV || inT)
    else if (b == '/') {
      readName(rb())
      var d = delim
      while (d != -1 && d != '>') d = rb()
      val k = nameKind
      if (k == KV) { inV = false; endValue() }
      else if (inT && k == KT) inT = false
      else if (k == KIs) { inIs = false; inT = false; endInline() }
    } else if (b != -1) {
      // unexpected child element inside text (e.g. rich-text markup):
      // consume its tag, keep collecting
      readName(b)
      parseAttrs(ElemOther)
    }
  }

  /** Parse attributes up to the tag end, starting from the byte in
    * `delim`; `selfClose` reports '/>'. Only the attributes the element
    * kind cares about are decoded. */
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
    val one = nameLen == 1
    val wantR = one && nameW == 'r'
    val wantT = kind == ElemC && one && nameW == 't'
    val wantS = kind == ElemC && one && nameW == 's'
    if (!wantR && !wantT && !wantS) { // skip value bytes
      var b = rb()
      while (b != -1 && b != quote) b = rb()
      return
    }
    if (wantT) {
      // match against the closed set of cell-type codes in place
      var n = 0
      var b = rb()
      while (b != -1 && b != quote) {
        if (n < typeBuf.length) { typeBuf(n) = b.toByte; n += 1 }
        b = rb()
      }
      aType = typeCode(typeBuf, 0, n)
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

  // ---- cell values --------------------------------------------------------

  /** Whether `a[from, to)`, whitespace-trimmed, reads as true: `1` or
    * `true` in any case. */
  private def isTrue(a: Array[Byte], from: Int, to: Int): Boolean = {
    var s = from
    var e = to
    while (s < e && (a(s) & 0xff) <= ' ') s += 1
    while (e > s && (a(e - 1) & 0xff) <= ' ') e -= 1
    if (e - s == 1) a(s) == '1'
    else e - s == 4 && (a(s) | 0x20) == 't' && (a(s + 1) | 0x20) == 'r' &&
      (a(s + 2) | 0x20) == 'u' && (a(s + 3) | 0x20) == 'e'
  }

  /** `a[from, to)` as a shared-string index, without allocating;
    * Long.MinValue on any non-integer content. */
  private def index(a: Array[Byte], from: Int, to: Int): Long = {
    var s = from
    var e = to
    while (s < e && (a(s) & 0xff) <= ' ') s += 1
    while (e > s && (a(e - 1) & 0xff) <= ' ') e -= 1
    if (s >= e) return Long.MinValue
    var neg = false
    var i = s
    val c0 = a(i)
    if (c0 == '-') { neg = true; i += 1 } else if (c0 == '+') i += 1
    if (i >= e) return Long.MinValue
    var v = 0L
    while (i < e) {
      val d = a(i) - '0'
      if (d < 0 || d > 9) return Long.MinValue
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }

  /** `a[from, to)` as a double; `numOk` is false when it is malformed.
    * Fast path for plain decimal forms (sign, ≤15 significant digits,
    * optional fraction): exact long mantissa scaled by one exact
    * power-of-ten division — correctly rounded, hence bit-identical to
    * Double.parseDouble (Clinger's safe range: mantissa < 2^53, |exponent|
    * ≤ 22). Everything else (exponents, >15 digits, hex, NaN/Infinity)
    * takes the JDK path. */
  private def number(a: Array[Byte], from: Int, to: Int): Double = {
    numOk = false
    var s = from
    var e = to
    while (s < e && (a(s) & 0xff) <= ' ') s += 1
    while (e > s && (a(e - 1) & 0xff) <= ' ') e -= 1
    if (s >= e) return 0.0
    var i = s
    var neg = false
    val c0 = a(i)
    if (c0 == '-') { neg = true; i += 1 } else if (c0 == '+') i += 1
    var mant = 0L
    var digits = 0
    var frac = 0
    var seenDot = false
    var plain = i < e
    while (plain && i < e) {
      val b = a(i)
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
          new String(a, s, e - s, StandardCharsets.US_ASCII))
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

  /** Emit the <v> content `a[from, to)` as its cell type's event (same
    * lattice and error rules as the StAX oracle and the reference). */
  private def value(a: Array[Byte], from: Int, to: Int): Unit = {
    val c = cellCol()
    if (sink.wants(c)) (curType: @annotation.switch) match {
      case TShared =>
        val i = index(a, from, to)
        if (i >= 0 && i <= Int.MaxValue) sink.shared(c, i.toInt) else sink.error(c)
      case TStr | TInline => sink.text(c, a, from, to - from)
      case TBool => sink.bool(c, isTrue(a, from, to))
      case TNum =>
        val d = number(a, from, to)
        if (!numOk) sink.error(c)
        else if (curStyle >= 0 && curStyle < dates.length && dates(curStyle)) sink.date(c, d)
        else sink.number(c, d)
      case _ => sink.error(c) // t="e" and unknown types
    }
    resetText()
  }

  /** Emit the text buffer as a finished <v>. */
  private def endValue(): Unit = { settle(); value(txt, 0, txtLen) }

  /** Emit the finished <is> content (an inline string). */
  private def endInline(): Unit = {
    settle()
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

  /** The cell type a `t="…"` value `b[off, off + n)` names. */
  private def typeCode(b: Array[Byte], off: Int, n: Int): Int =
    if (n == 1) b(off).toChar match {
      case 's' => TShared
      case 'b' => TBool
      case 'e' => TErr
      case 'n' => TNum
      case _   => TOther
    }
    else if (n == 3 && b(off) == 's' && b(off + 1) == 't' && b(off + 2) == 'r') TStr
    else if (n == 9 && b(off) == 'i' && b(off + 1) == 'n' && b(off + 2) == 'l' &&
        b(off + 3) == 'i' && b(off + 4) == 'n' && b(off + 5) == 'e' &&
        b(off + 6) == 'S' && b(off + 7) == 't' && b(off + 8) == 'r') TInline
    else TOther

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

  // outcomes of the scanner's steps
  private final val Go = 0 // keep scanning
  private final val RowDone = 1 // a row ended
  private final val AtLt = 2 // the cursor is just past a '<' for the per-byte dispatch
  private final val Drained = 3 // the window is used up outside any tag
  private final val End = 4 // the entry ended
  // a fast tag's outcome, beside a position at least 0
  private final val Bail = -1 // not decidable in the window: re-read from the '<'
  private final val Slow = -2 // the per-byte machinery finished the tag
  private final val Ended = -3 // a self-closing row: a whole row
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
  * [[SheetScanCore]]: a fused fast path over the window that recognises
  * `<si>`, `<t>`, `<t xml:space="preserve">`, `</t>`, `</si>`, `<r>` and
  * `</r>` with one 8-byte load each ([[SheetMarkup]]), and hands an
  * entity-free `<si><t>…</t></si>` straight from the window; the per-byte
  * machinery takes every other construct, with entities and CDATA decoded
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
    new TableScan(in, maxBytes, limit) {
      override def emit(b: Array[Byte], off: Int, n: Int): Unit =
        out += (if (n == 0) "" else new String(b, off, n, StandardCharsets.UTF_8))
    }.run()

  /** The whole table as one UTF-8 byte array per entry — a scan's string
    * dictionary ([[SheetDictionary]]). Same scan, same budget. */
  def parseBytes(in: InputStream, maxBytes: Long = DefaultMaxBytes): Array[Array[Byte]] = {
    val out = ArrayBuffer[Array[Byte]]()
    new TableScan(in, maxBytes, Int.MaxValue) {
      override def emit(b: Array[Byte], off: Int, n: Int): Unit =
        out += (if (n == 0) Array.emptyByteArray else java.util.Arrays.copyOfRange(b, off, off + n))
    }.run()
    out.toArray
  }

  /** The one table scan: [[emit]] gets each entry's UTF-8 bytes (valid
    * during the call), in table order, up to `limit` of them. The budget is
    * checked on every accumulation, not just at `</si>`: ONE huge string
    * must hit the guard too. */
  private abstract class TableScan(in: InputStream, maxBytes: Long, limit: Int)
      extends MarkupCursor(in, new Array[Byte](1 << 16)) {
    import SheetMarkup._

    def emit(b: Array[Byte], off: Int, n: Int): Unit

    private var emitted = 0
    private var retained = 0L
    private var inSi = false
    private var inT = false
    private var phonetic = 0 // depth inside rPh / phoneticPr
    txtRoom = maxBytes

    override protected def overBudget(): Nothing = throw new BudgetExceeded(maxBytes)

    def run(): Unit =
      while (emitted < limit) {
        val r = fastTags()
        if (r == AtLt) tag()
        else if (r == Drained && !fill()) return
      }

    /** The fused fast path over the window: text runs inside `<t>` and
    * whole hot tags. Returns [[AtLt]] with the cursor just past a '<' for
    * the per-byte [[tag]], [[Drained]] at the window's end, and [[Go]]
    * when the caller must loop (an entity left the window, or `limit`
    * entries are out). */
    private def fastTags(): Int = {
      val b = buf
      val l = lim
      var p = pos
      while (true) {
        if (inT && phonetic == 0) {
          val s = p
          p = textEnd(b, p, l)
          if (p > s) txtAppendRange(b, s, p - s)
        } else while (p < l && b(p) != '<') p += 1
        if (p >= l) { pos = p; return Drained }
        if (b(p) == '&') {
          val q = entityAt(p, l)
          if (q < 0) { pos = p + 1; readEntity(); return Go }
          p = q
        } else if (!LittleEndian || p + 8 > l) { pos = p + 1; return AtLt }
        else {
          val w = word(b, p)
          if ((w & M7) == LitSiT) {
            // a whole entity-free entry in the window goes out as a slice
            val s = p + 7
            val e = textEnd(b, s, l)
            if (e + 9 <= l && word(b, e) == LitCloseTSi && b(e + 8) == '>') {
              val n = e - s
              if (n > txtRoom) overBudget()
              textIsSlice(s, n)
              inSi = false
              inT = false
              retained += n
              txtRoom = maxBytes - retained
              emit(b, s, n)
              emitted += 1
              p = e + 9
              if (emitted >= limit) { pos = p; return Go }
            } else { inSi = true; resetText(); inT = true; p = s }
          } else if ((w & M4) == LitOpenSi) { inSi = true; resetText(); p += 4 }
          else if ((w & M3) == LitOpenT) { if (inSi) inT = true; p += 3 }
          else if ((w & M4) == LitCloseT) { inT = false; p += 4 }
          else if ((w & M5) == LitCloseSi) {
            p += 5
            closeSi()
            if (emitted >= limit) { pos = p; return Go }
          } else if ((w & M3) == LitOpenR) p += 3
          else if ((w & M4) == LitCloseR) p += 4
          else if (w == LitTPreserve0 && p + 24 <= l && word(b, p + 8) == LitTPreserve1 &&
              word(b, p + 16) == LitTPreserve2) { if (inSi) inT = true; p += 24 }
          else { pos = p + 1; return AtLt }
        }
      }
      Go // unreachable
    }

    /** `</si>`: the entry ends, even outside an `<si>`, with whatever text
      * the buffer holds. */
    private def closeSi(): Unit = {
      settle()
      inSi = false
      retained += txtLen
      if (retained > maxBytes) overBudget()
      txtRoom = maxBytes - retained
      emit(txt, 0, txtLen)
      emitted += 1
    }

    /** The per-byte dispatch of one tag, the cursor just past its '<'. */
    private def tag(): Unit = {
      val c = rb()
      if (c == '/') {
        readName(rb())
        var d = delim
        while (d != -1 && d != '>') d = rb()
        val k = nameKind
        if (k == KT) inT = false
        else if (k == KRPh || k == KPhoneticPr) phonetic -= 1
        else if (k == KSi) closeSi()
      } else if (c == '!') handleBang(inT && phonetic == 0)
      else if (c == '?') skipPi()
      else {
        readName(c)
        val selfClose = finishTag()
        val k = nameKind
        if (k == KSi) {
          inSi = true
          resetText()
          if (selfClose) { inSi = false; emit(txt, 0, 0); emitted += 1 }
        } else if (k == KT) { if (inSi && !selfClose) inT = true }
        else if (k == KRPh || k == KPhoneticPr) { if (!selfClose) phonetic += 1 }
      }
    }

    /** Consume the rest of a start tag; true if self-closing. */
    private def finishTag(): Boolean = {
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
  }

  // outcomes of the table scan's fast path
  private final val Go = 0
  private final val AtLt = 1
  private final val Drained = 2
}
