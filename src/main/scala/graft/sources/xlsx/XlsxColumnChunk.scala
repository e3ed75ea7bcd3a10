package graft.sources.xlsx

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector}
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** What a scan makes of one run of rows — a parse worker's chunk, or one
  * sequential batch: the index, `r="N"` flag and width of every row it
  * scanned, the rows inside the file-level header/skipRows drop included,
  * and how many leading rows that drop took. The metadata is final once
  * `seal` has run. */
abstract class ParsedChunk {
  private var n = 0
  private var idx0 = new Array[Long](64)
  private var explicit0 = new Array[Boolean](64)
  private var widths0 = new Array[Int](64)

  /** Row indices (chunk-local until [[ParallelSheetScanner.advanceChunk]]
    * stitches the implicit ones), `r="N"` flags and widths. */
  var idx: Array[Long] = _
  var explicitR: Array[Boolean] = _
  var widths: Array[Int] = _
  /** Leading rows inside the file-level drop: never stored, never
    * width-checked. */
  var dropped = 0
  /** Cells the scanner met, pruned columns included. */
  var cells = 0L

  /** Rows recorded so far. */
  final def rowsSeen: Int = n

  protected final def record(i: Long, explicit: Boolean, width: Int, held: Int): Unit = {
    if (n == idx0.length) {
      idx0 = java.util.Arrays.copyOf(idx0, n * 2)
      explicit0 = java.util.Arrays.copyOf(explicit0, n * 2)
      widths0 = java.util.Arrays.copyOf(widths0, n * 2)
    }
    idx0(n) = i; explicit0(n) = explicit; widths0(n) = width
    n += 1
    cells += held
  }

  protected final def seal(dropFirst: Int): Unit = {
    idx = java.util.Arrays.copyOf(idx0, n)
    explicitR = java.util.Arrays.copyOf(explicit0, n)
    widths = java.util.Arrays.copyOf(widths0, n)
    dropped = math.min(dropFirst, n)
    idx0 = null; explicit0 = null; widths0 = null
  }
}

/** A scan's required columns for one run of rows, written cell by cell
  * from the scanner's events — no cell object is made. The reference's
  * type rules (TypesCompatible, sheetreader_extension.cpp:225-250) live
  * here once: an exact type match materializes; a STRING column also takes
  * any cell when coerceToString is set; every other cell, and empty and
  * error cells, is NULL. A date serial becomes an epoch day.
  *
  * Fixed-width columns write straight into their vectors. A string column
  * keeps one reference per row: a shared-string id (at least 0), a
  * chunk-local text entry (negative), or NULL. A string column that met no
  * shared-string cell is written plain from the chunk's text buffer; one
  * that did becomes a dictionary column whose ids are the references —
  * its [[SheetDictionary]] is the shared-strings table plus the chunk's
  * local entries. So the thread that scans never needs the table: the
  * consumer attaches it in [[batch]].
  *
  * The first `dropFirst` rows are scanned for their metadata only. At most
  * `limit` rows are stored ([[full]]). */
final class ColumnChunk private[xlsx] (cols: RowColumns, dropFirst: Int, limit: Int)
    extends ParsedChunk with CellSink {
  import ColumnChunk._
  import XlsxPartitionReader._

  private val reqOf = cols.reqOf
  private val codes = cols.typeCodes
  private val k = codes.length
  private var cap = math.min(limit, InitialRows)
  private var vecs: Array[OnHeapColumnVector] = Array.tabulate(k) { j =>
    codes(j) match {
      case TString | TSheet | TNull => null
      case _ => new OnHeapColumnVector(cap, cols.colTypes(j))
    }
  }
  private var refs: Array[Array[Int]] =
    Array.tabulate(k)(j => if (codes(j) == TString) new Array[Int](cap) else null)
  private val set = new Array[Boolean](k) // a value landed in this row's slot
  private val maxShared = Array.fill(k)(-1) // -1: no shared-string cell
  private var n = 0 // rows stored
  private var storing = dropFirst <= 0

  // chunk-local text entries: inline, t="str" and coerced strings
  private var text = new Array[Byte](4096)
  private var textLen = 0
  private var entryOff = new Array[Int](64)
  private var entryLen = new Array[Int](64)
  private var entries = 0

  private var out: ColumnarBatch = _
  private var dictCols: Array[Int] = _ // the dictionary columns
  private var locals: Array[Array[Byte]] = _

  /** Rows stored. */
  def stored: Int = n
  def full: Boolean = n >= limit

  // ---- cell events ----------------------------------------------------------

  override def rowStart(): Unit = java.util.Arrays.fill(set, false)

  override def wants(col: Int): Boolean =
    storing && col < reqOf.length && reqOf(col) >= 0

  override def number(col: Int, v: Double): Unit = {
    val j = reqOf(col)
    (codes(j): @annotation.switch) match {
      case TDouble => vecs(j).putDouble(n, v); set(j) = true
      case TLong => vecs(j).putLong(n, v.toLong); set(j) = true
      case TInt => vecs(j).putInt(n, v.toInt); set(j) = true
      case TFloat => vecs(j).putFloat(n, v.toFloat); set(j) = true
      case TString if cols.coerce =>
        // std::to_string(double): fixed 6 decimals (reference :182-221)
        local(j, String.format(java.util.Locale.ROOT, "%f", Double.box(v)))
      case _ => set(j) = false
    }
  }

  override def date(col: Int, serial: Double): Unit = {
    val j = reqOf(col)
    codes(j) match {
      case TDate => vecs(j).putInt(n, XCell.serialToEpochDay(serial)); set(j) = true
      case TString if cols.coerce =>
        local(j, java.time.LocalDate.ofEpochDay(XCell.serialToEpochDay(serial).toLong).toString)
      case _ => set(j) = false
    }
  }

  override def bool(col: Int, v: Boolean): Unit = {
    val j = reqOf(col)
    codes(j) match {
      case TBool => vecs(j).putBoolean(n, v); set(j) = true
      case TString if cols.coerce => local(j, if (v) "TRUE" else "FALSE")
      case _ => set(j) = false
    }
  }

  override def shared(col: Int, id: Int): Unit = {
    val j = reqOf(col)
    if (codes(j) == TString) {
      refs(j)(n) = id
      set(j) = true
      if (id > maxShared(j)) maxShared(j) = id
    } else set(j) = false
  }

  override def text(col: Int, b: Array[Byte], off: Int, len: Int): Unit = {
    val j = reqOf(col)
    if (codes(j) == TString) addEntry(j, b, off, len) else set(j) = false
  }

  override def error(col: Int): Unit = set(reqOf(col)) = false

  override def rowEnd(idx: Long, explicit: Boolean, width: Int, held: Int): Unit = {
    record(idx, explicit, width, held)
    if (storing) {
      var j = 0
      while (j < k) {
        if (!set(j)) {
          if (vecs(j) != null) vecs(j).putNull(n)
          else if (refs(j) != null) refs(j)(n) = NullRef
        }
        set(j) = false
        j += 1
      }
      n += 1
      if (n == cap && n < limit) grow()
    }
    storing = rowsSeen >= dropFirst && n < limit
  }

  private def local(j: Int, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    addEntry(j, b, 0, b.length)
  }

  private def addEntry(j: Int, b: Array[Byte], off: Int, len: Int): Unit = {
    if (textLen + len > text.length)
      text = java.util.Arrays.copyOf(text, math.max(text.length * 2, textLen + len))
    System.arraycopy(b, off, text, textLen, len)
    if (entries == entryOff.length) {
      entryOff = java.util.Arrays.copyOf(entryOff, entries * 2)
      entryLen = java.util.Arrays.copyOf(entryLen, entries * 2)
    }
    entryOff(entries) = textLen
    entryLen(entries) = len
    textLen += len
    refs(j)(n) = -1 - entries
    entries += 1
    set(j) = true
  }

  private def grow(): Unit = {
    cap = math.min(limit.toLong, cap * 2L).toInt
    var j = 0
    while (j < k) {
      if (vecs(j) != null) vecs(j).reserve(cap)
      if (refs(j) != null) refs(j) = java.util.Arrays.copyOf(refs(j), cap)
      j += 1
    }
  }

  // ---- the batch --------------------------------------------------------------

  /** Seals the metadata and builds the vectors, on the thread that scanned
    * the rows. */
  private[xlsx] def finish(): this.type = {
    seal(dropFirst)
    val size = math.max(1, n)
    val vs = Array.tabulate[ColumnVector](k) { j =>
      codes(j) match {
        case TString =>
          val v = new OnHeapColumnVector(size, StringType)
          if (maxShared(j) >= 0) dictionaryIds(v, refs(j)) else plain(v, refs(j))
          v
        case TSheet =>
          val v = new OnHeapColumnVector(size, StringType)
          var i = 0
          while (i < n) { v.putByteArray(i, cols.sheetNameBytes); i += 1 }
          v
        case TNull =>
          val v = new OnHeapColumnVector(size, cols.colTypes(j))
          v.putNulls(0, n)
          v
        case _ => vecs(j)
      }
    }
    out = new ColumnarBatch(vs, n)
    dictCols = (0 until k).filter(j => codes(j) == TString && maxShared(j) >= 0).toArray
    vecs = null; refs = null; text = null
    this
  }

  private def plain(v: OnHeapColumnVector, r: Array[Int]): Unit = {
    var i = 0
    while (i < n) {
      val x = r(i)
      if (x == NullRef) v.putNull(i)
      else v.putByteArray(i, text, entryOff(-1 - x), entryLen(-1 - x))
      i += 1
    }
  }

  private def dictionaryIds(v: OnHeapColumnVector, r: Array[Int]): Unit = {
    val ids = v.reserveDictionaryIds(math.max(1, n))
    var i = 0
    while (i < n) {
      val x = r(i)
      if (x == NullRef) v.putNull(i)
      else {
        ids.putInt(i, x)
        if (x < 0) {
          if (locals == null) locals = new Array[Array[Byte]](entries)
          val e = -1 - x
          if (locals(e) == null)
            locals(e) = java.util.Arrays.copyOfRange(text, entryOff(e), entryOff(e) + entryLen(e))
        }
      }
      i += 1
    }
  }

  /** The finished batch, its dictionary columns resolved against the
    * shared-strings `table` (forced only when the chunk has one): an id at
    * or past the table's end reads as NULL, an error cell. Call once, on
    * the consumer's thread, after [[finish]]. */
  private[xlsx] def batch(table: => Array[Array[Byte]]): ColumnarBatch = {
    if (dictCols.nonEmpty) {
      val t = table
      val dict = new SheetDictionary(t, locals)
      dictCols.foreach { j =>
        val v = out.column(j).asInstanceOf[OnHeapColumnVector]
        if (maxShared(j) >= t.length) {
          val ids = v.getDictionaryIds
          var i = 0
          while (i < n) {
            if (!v.isNullAt(i) && ids.getInt(i) >= t.length) v.putNull(i)
            i += 1
          }
        }
        v.setDictionary(dict)
      }
    }
    out
  }
}

object ColumnChunk {
  /** Initial row capacity of a chunk's vectors; a chunk doubles it as it
    * fills. */
  private final val InitialRows = 4096
  /** A string reference for NULL. */
  private final val NullRef = Int.MinValue
}

/** The strings of a chunk's dictionary columns: id ≥ 0 is the
  * shared-strings table's entry, id < 0 the chunk's local entry `-1 - id`.
  * Hands out the stored arrays; nothing is copied or decoded. */
final class SheetDictionary(table: Array[Array[Byte]], locals: Array[Array[Byte]])
    extends Dictionary {
  override def decodeToBinary(id: Int): Array[Byte] =
    if (id >= 0) table(id) else locals(-1 - id)
  private def notNumeric = new UnsupportedOperationException("xlsx string dictionary")
  override def decodeToInt(id: Int): Int = throw notNumeric
  override def decodeToLong(id: Int): Long = throw notNumeric
  override def decodeToFloat(id: Int): Float = throw notNumeric
  override def decodeToDouble(id: Int): Double = throw notNumeric
}
