package graft.sources.xlsx

import java.io.InputStream

import org.apache.spark.unsafe.Platform

/** The SpreadsheetML tag table of the byte scanners. [[SheetScanCore]],
  * [[SharedStringsScanner]] and [[RowBoundaryTracker]] all read tags
  * through it, so no two of them can disagree on what a tag is.
  *
  *  - Element names are packed as the scanners read them: namespace
  *    prefix dropped, the first 8 bytes little-endian in one Long, the next
  *    8 in a second, plus the length. [[classify]] names the elements the
  *    scanners act on.
  *  - Whole-tag literals are little-endian, as one unaligned
  *    `Platform.getLong` reads them on x86/aarch64, each compared under the
  *    mask of its length: a fast path recognises a hot tag with one load
  *    and one compare.
  *  - Entity references decode without allocating ([[entity]]).
  */
object SheetMarkup {
  /** Platform.getLong reads NATIVE order and the literals below are
    * little-endian, so the literal probes only run on LE hardware
    * (x86/aarch64 — everything Spark ships on). On a BE JVM every tag takes
    * the per-byte machinery, which is exact on its own. */
  final val LittleEndian: Boolean =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  /** Bytes that end an element or attribute name. */
  final val NameStop: Array[Boolean] = {
    val a = new Array[Boolean](256)
    Seq(' ', '\t', '\n', '\r', '>', '/', '=').foreach(c => a(c) = true)
    a
  }

  /** The 8 bytes at `b(p)`, little-endian; `p + 8` must not pass `b`. */
  @inline def word(b: Array[Byte], p: Int): Long =
    Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + p)

  /** The 4 bytes at `b(p)`, little-endian; `p + 4` must not pass `b`. */
  @inline def word4(b: Array[Byte], p: Int): Int =
    Platform.getInt(b, Platform.BYTE_ARRAY_OFFSET + p)

  /** The first position in `b[from, to)` that holds '<' or '&', or `to`.
    * Eight bytes per step while a whole word fits (SWAR: a byte of
    * `x ^ '<'…'<'` is zero where `x` holds '<', and the lowest byte
    * `hasZero` flags is always a true zero). */
  def textEnd(b: Array[Byte], from: Int, to: Int): Int = {
    var p = from
    if (LittleEndian) while (p + 8 <= to) {
      val x = word(b, p)
      val m = hasZero(x ^ 0x3C3C3C3C3C3C3C3CL) | hasZero(x ^ 0x2626262626262626L)
      if (m != 0) return p + (java.lang.Long.numberOfTrailingZeros(m) >>> 3)
      p += 8
    }
    while (p < to && b(p) != '<' && b(p) != '&') p += 1
    p
  }

  @inline private def hasZero(v: Long): Long =
    (v - 0x0101010101010101L) & ~v & 0x8080808080808080L

  final val M3 = 0xFFFFFFL
  final val M4 = 0xFFFFFFFFL
  final val M5 = 0xFFFFFFFFFFL
  final val M6 = 0xFFFFFFFFFFFFL
  final val M7 = 0xFFFFFFFFFFFFFFL

  // ---- whole-tag literals (the spec pins each against its text) ------------
  // worksheet
  final val LitCloseC = 0x3E632F3CL // "</c>"
  final val LitOpenV = 0x3E763CL // "<v>"
  final val LitCloseV = 0x3E762F3C // "</v>", a 4-byte word
  final val LitCloseRow = 0x3E776F722F3CL // "</row>"
  final val LitOpenIs = 0x3E73693CL // "<is>"
  final val LitCloseIs = 0x3E73692F3CL // "</is>"
  final val LitOpenT = 0x3E743CL // "<t>"
  final val LitCloseT = 0x3E742F3CL // "</t>"
  final val LitRowRQ = 0x223D7220776F723CL // `<row r="`, all 8 bytes
  final val LitCRQ = 0x223D7220633CL // `<c r="`
  final val LitTQ = 0x223D7420 // ` t="`, a 4-byte word
  final val LitSQ = 0x223D7320 // ` s="`, a 4-byte word
  final val LitIsT = 0x3E743C3E73693CL // "<is><t>"
  final val LitCloseTIs = 0x73692F3C3E742F3CL // "</t></is", then '>'
  // shared-strings table
  final val LitOpenSi = 0x3E69733CL // "<si>"
  final val LitCloseSi = 0x3E69732F3CL // "</si>"
  final val LitSiT = 0x3E743C3E69733CL // "<si><t>"
  final val LitCloseTSi = 0x69732F3C3E742F3CL // "</t></si", then '>'
  final val LitOpenR = 0x3E723CL // "<r>"
  final val LitCloseR = 0x3E722F3CL // "</r>"
  // `<t xml:space="preserve">`, 24 bytes in three words
  final val LitTPreserve0 = 0x733A6C6D7820743CL // `<t xml:s`
  final val LitTPreserve1 = 0x7270223D65636170L // `pace="pr`
  final val LitTPreserve2 = 0x3E22657672657365L // `eserve">`

  // ---- element names ---------------------------------------------------------
  final val NameRow = 0x776F72L // "row"
  final val NameV = 0x76L // "v"
  final val NameIs = 0x7369L // "is"
  final val NameT = 0x74L // "t"
  final val NameC = 0x63L // "c"
  final val NameSi = 0x6973L // "si"
  final val NameRPh = 0x685072L // "rPh"
  final val NamePhonetic = 0x636974656E6F6870L // "phonetic", then…
  final val NamePr = 0x7250L // …"Pr": phoneticPr

  final val KOther = 0
  final val KRow = 1
  final val KV = 2
  final val KIs = 3
  final val KT = 4
  final val KC = 5
  final val KSi = 6
  final val KRPh = 7
  final val KPhoneticPr = 8

  /** The element a packed name denotes: `w` holds its first 8 bytes, `w2`
    * the next 8 and `n` its length. A caller that keeps only 8 bytes passes
    * `w2 = 0` and any `n` above 8 for a longer name. */
  def classify(w: Long, w2: Long, n: Int): Int =
    if (n == 1) { if (w == NameV) KV else if (w == NameT) KT else if (w == NameC) KC else KOther }
    else if (n == 2) { if (w == NameIs) KIs else if (w == NameSi) KSi else KOther }
    else if (n == 3) { if (w == NameRow) KRow else if (w == NameRPh) KRPh else KOther }
    else if (n == 10 && w == NamePhonetic && w2 == NamePr) KPhoneticPr
    else KOther

  // ---- entity references -------------------------------------------------------

  /** No character: the name is not one the scanners decode. */
  final val NoEntity = Long.MinValue

  /** The character of the entity reference whose name is `b[from, from +
    * n)`, the bytes between `&` and `;`: the five predefined names, and
    * decimal or hex character references read as `Integer.parseInt` reads
    * them (a sign is allowed, a value outside Int is not). [[NoEntity]] for
    * any other name: the scanners drop it, lenient where StAX would abort. */
  def entity(b: Array[Byte], from: Int, n: Int): Long =
    if (n == 2 && b(from + 1) == 't') {
      if (b(from) == 'l') '<' else if (b(from) == 'g') '>' else NoEntity
    } else if (n == 3 && b(from) == 'a' && b(from + 1) == 'm' && b(from + 2) == 'p') '&'
    else if (n == 4 && b(from + 2) == 'o' &&
        b(from) == 'q' && b(from + 1) == 'u' && b(from + 3) == 't') '"'
    else if (n == 4 && b(from + 2) == 'o' &&
        b(from) == 'a' && b(from + 1) == 'p' && b(from + 3) == 's') '\''
    else if (n > 1 && b(from) == '#') {
      if (n > 2 && (b(from + 1) == 'x' || b(from + 1) == 'X'))
        parseInt(b, from + 2, from + n, 16)
      else parseInt(b, from + 1, from + n, 10)
    } else NoEntity

  /** `Integer.parseInt` over ASCII bytes, [[NoEntity]] where it throws. */
  private def parseInt(b: Array[Byte], from: Int, to: Int, radix: Int): Long = {
    var i = from
    if (i >= to) return NoEntity
    val neg = b(i) == '-'
    if (neg || b(i) == '+') { i += 1; if (i >= to) return NoEntity }
    var v = 0L
    while (i < to) {
      val c = b(i)
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (radix == 16 && c >= 'a' && c <= 'f') c - 'a' + 10
        else if (radix == 16 && c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (d < 0) return NoEntity
      v = v * radix + d
      if (v > 0x80000000L) return NoEntity
      i += 1
    }
    if (neg) -v else if (v > Int.MaxValue) NoEntity else v
  }
}

/** The buffered byte cursor and text buffer that [[SheetScanCore]] and the
  * shared-strings scan share: a window over the stream that [[fill]]
  * refills in place, per-byte reads for the slow paths, packed element
  * names ([[SheetMarkup]]), entities, comments, CDATA and processing
  * instructions, and the UTF-8 text buffer.
  *
  * The text buffer may stand for a slice of the window instead of holding
  * bytes ([[textIsSlice]]): a fast path that hands a value straight out of
  * the window leaves it there, and the buffer copies it only when a later
  * read needs it ([[settle]]) or the window is about to be refilled. */
private[xlsx] abstract class MarkupCursor(in: InputStream, protected var buf: Array[Byte]) {
  import SheetMarkup._

  private[xlsx] var pos = 0
  private[xlsx] var lim = 0
  private[xlsx] var eofSeen = false
  /** Nanoseconds spent in the stream's reads: for a worksheet entry, its
    * inflate. */
  private[xlsx] var streamNs = 0L

  /** Refills the window from the stream; false at its end. */
  protected final def fill(): Boolean = {
    if (eofSeen) return false
    settle()
    val t0 = System.nanoTime()
    var n = in.read(buf)
    while (n == 0) n = in.read(buf)
    streamNs += System.nanoTime() - t0
    if (n < 0) { eofSeen = true; false }
    else { pos = 0; lim = n; true }
  }

  /** Next byte as 0..255, or -1 at end of entry. */
  protected final def rb(): Int =
    if (pos >= lim && !fill()) -1
    else { val b = buf(pos); pos += 1; b & 0xff }

  // ---- names ----------------------------------------------------------------
  protected var nameW = 0L
  protected var nameW2 = 0L
  protected var nameLen = 0
  /** The byte that ended the last [[readName]]. */
  protected var delim = 0

  /** Reads a name that starts with byte `b0`, its namespace prefix
    * dropped, up to whitespace, '>', '/', '=' or the end of the entry. */
  protected final def readName(b0: Int): Unit = {
    var w = 0L
    var w2 = 0L
    var n = 0
    var b = b0
    while (b != -1 && !NameStop(b)) {
      if (b == ':') { w = 0L; w2 = 0L; n = 0 }
      else {
        if (n < 8) w |= b.toLong << (n << 3)
        else if (n < 16) w2 |= b.toLong << ((n - 8) << 3)
        if (n < 64) n += 1
      }
      b = rb()
    }
    nameW = w; nameW2 = w2; nameLen = n; delim = b
  }

  /** The [[SheetMarkup.classify]] kind of the last name read. */
  protected final def nameKind: Int = classify(nameW, nameW2, nameLen)

  // ---- text -------------------------------------------------------------------
  protected var txt = new Array[Byte](256)
  protected var txtLen = 0
  /** Bytes the text buffer may hold before [[overBudget]]. */
  protected var txtRoom = Long.MaxValue
  private var sliceOff = 0
  private var sliceLen = -1

  /** The text buffer's bytes outgrew [[txtRoom]]. */
  protected def overBudget(): Nothing =
    throw new IllegalStateException("xlsx: text buffer budget exceeded")

  protected final def resetText(): Unit = { txtLen = 0; sliceLen = -1 }

  /** The text buffer now holds `buf[off, off + len)`. */
  protected final def textIsSlice(off: Int, len: Int): Unit = {
    sliceOff = off; sliceLen = len
  }

  /** Copies a pending window slice into the text buffer. */
  protected final def settle(): Unit = if (sliceLen >= 0) {
    val n = sliceLen
    sliceLen = -1
    grow(n)
    System.arraycopy(buf, sliceOff, txt, 0, n)
    txtLen = n
  }

  private def grow(need: Int): Unit =
    if (need > txt.length) {
      var cap = txt.length * 2
      while (cap < need) cap *= 2
      txt = java.util.Arrays.copyOf(txt, cap)
    }

  private def txtEnsure(extra: Int): Unit = {
    settle()
    if (txtLen.toLong + extra > txtRoom) overBudget()
    grow(txtLen + extra)
  }

  protected final def txtAppend(b: Int): Unit = {
    txtEnsure(1); txt(txtLen) = b.toByte; txtLen += 1
  }

  protected final def txtAppendRange(src: Array[Byte], off: Int, len: Int): Unit = {
    txtEnsure(len); System.arraycopy(src, off, txt, txtLen, len); txtLen += len
  }

  protected final def txtAppendCodePoint(cp: Int): Unit =
    if (cp < 0x80) txtAppend(cp)
    else if (cp < 0x800) { txtAppend(0xC0 | (cp >> 6)); txtAppend(0x80 | (cp & 0x3F)) }
    else if (cp < 0x10000) {
      txtAppend(0xE0 | (cp >> 12)); txtAppend(0x80 | ((cp >> 6) & 0x3F)); txtAppend(0x80 | (cp & 0x3F))
    } else {
      txtAppend(0xF0 | (cp >> 18)); txtAppend(0x80 | ((cp >> 12) & 0x3F))
      txtAppend(0x80 | ((cp >> 6) & 0x3F)); txtAppend(0x80 | (cp & 0x3F))
    }

  // ---- entities, comments, CDATA, processing instructions --------------------
  private val entName = new Array[Byte](12)

  /** Decodes one entity reference into the text buffer, the cursor just
    * past its '&'. The name runs to ';' or 12 bytes; after 12 the next
    * byte is read and dropped. */
  protected final def readEntity(): Unit = {
    var n = 0
    var b = rb()
    while (b != -1 && b != ';' && n < entName.length) { entName(n) = b.toByte; n += 1; b = rb() }
    val cp = entity(entName, 0, n)
    if (cp != NoEntity) txtAppendCodePoint(cp.toInt)
  }

  /** [[readEntity]] for the reference at `buf(a) == '&'` inside the window
    * `[a, l)`: the position after it, or -1 (nothing consumed) when it may
    * run past the window. */
  protected final def entityAt(a: Int, l: Int): Int = {
    var i = a + 1
    while (i < l && buf(i) != ';' && i - a <= entName.length) i += 1
    if (i >= l) -1
    else {
      val cp = entity(buf, a + 1, i - a - 1)
      if (cp != NoEntity) txtAppendCodePoint(cp.toInt)
      i + 1
    }
  }

  /** Comment, CDATA or DOCTYPE, the cursor just past "<!". CDATA content
    * joins the text buffer when `collect` is set. */
  protected final def handleBang(collect: Boolean): Unit = {
    val b = rb()
    if (b == '-') { // <!--  ...  -->
      rb() // second '-'
      var p2 = 0; var p1 = 0; var c = rb()
      while (c != -1 && !(p2 == '-' && p1 == '-' && c == '>')) { p2 = p1; p1 = c; c = rb() }
    } else if (b == '[') { // <![CDATA[ ... ]]>
      var i = 0
      while (i < 6 && rb() != -1) i += 1 // consume "CDATA["
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

  protected final def skipPi(): Unit = { // <? ... ?>
    var p1 = 0; var c = rb()
    while (c != -1 && !(p1 == '?' && c == '>')) { p1 = c; c = rb() }
  }
}
