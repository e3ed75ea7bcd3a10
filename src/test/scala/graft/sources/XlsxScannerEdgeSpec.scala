// in the xlsx package for access to the scanners and the fuzz fixtures
package graft.sources.xlsx

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The byte scanners' fused fast paths against their per-byte machinery.
  * The same bytes read whole, in reads of 1–7 bytes (no 8-byte probe fits
  * a window, so every tag takes the per-byte path) and in reads of 1–300
  * bytes (the fast path stops at random window edges) must give the same
  * events. A pinned sheet of near-miss names, attribute forms, namespace
  * prefixes, padded and long numbers, entities and CDATA must read as the
  * StAX oracle reads it. */
class XlsxScannerEdgeSpec extends AnyFunSuite {
  import SheetFuzz._

  /** `bytes`, handed out `size()` bytes or fewer per read. */
  private final class Trickle(bytes: Array[Byte], size: () => Int) extends InputStream {
    private var pos = 0
    override def read(): Int =
      if (pos >= bytes.length) -1 else { pos += 1; bytes(pos - 1) & 0xff }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= bytes.length) -1
      else {
        val n = math.min(math.min(len, size()), bytes.length - pos)
        System.arraycopy(bytes, pos, b, off, n)
        pos += n
        n
      }
  }

  private def hex(b: Array[Byte], off: Int, len: Int): String =
    (off until off + len).map(i => f"${b(i) & 0xff}%02x").mkString

  /** Every event of a scan, one row per line. */
  private final class Recorder extends CellSink {
    val out = new StringBuilder
    override def rowStart(): Unit = out ++= "row"
    override def wants(col: Int): Boolean = true
    override def number(col: Int, v: Double): Unit =
      out ++= s" $col:n${java.lang.Double.doubleToRawLongBits(v)}"
    override def date(col: Int, serial: Double): Unit =
      out ++= s" $col:d${java.lang.Double.doubleToRawLongBits(serial)}"
    override def bool(col: Int, v: Boolean): Unit = out ++= s" $col:b$v"
    override def shared(col: Int, id: Int): Unit = out ++= s" $col:s$id"
    override def text(col: Int, b: Array[Byte], off: Int, len: Int): Unit =
      out ++= s" $col:t${hex(b, off, len)}"
    override def error(col: Int): Unit = out ++= s" $col:e"
    override def rowEnd(idx: Long, explicit: Boolean, width: Int, cells: Int): Unit =
      out ++= s" end $idx $explicit $width $cells\n"
  }

  private def events(rows: RowSource): String = {
    val r = new Recorder
    while (rows.nextRow(r)) ()
    r.out.toString
  }

  // the fuzz workbook's styles: numFmt 0, 14 (a date) and 2
  private val dates = Array(false, true, false)

  /** The scans of `sheet` whole and through two trickles agree. */
  private def sameEvents(sheet: Array[Byte], rnd: Random, what: => String): Unit = {
    val whole = events(SheetScanCore.over(sheet, sheet.length, dates))
    Seq(7, 300).foreach { most =>
      val got = events(new SheetScanCore(
        new Trickle(sheet, () => 1 + rnd.nextInt(most)), dates, () => ()))
      assert(got == whole, s"$what: reads of 1-$most bytes diverged\n" +
        s"${new String(sheet, UTF_8)}\ngot:\n$got\nwhole:\n$whole")
    }
  }

  test("the sheet scanner gives the same events whole and in 1-7 and " +
      "1-300 byte reads on 200 fuzz sheets") {
    val rnd = new Random(0xED6E)
    (1 to 200).foreach { trial =>
      sameEvents(randomSheet(rnd).getBytes(UTF_8), rnd, s"trial $trial")
    }
  }

  test("the shared-strings scanner gives the same table whole and in 1-7 " +
      "and 1-300 byte reads on 200 fuzz tables") {
    val rnd = new Random(0x7AB1E)
    def table(in: InputStream): Seq[String] =
      SharedStringsScanner.parseBytes(in).toSeq.map(b => hex(b, 0, b.length))
    (1 to 200).foreach { trial =>
      val sst = randomSharedStrings(rnd).getBytes(UTF_8)
      val whole = table(new ByteArrayInputStream(sst))
      Seq(7, 300).foreach { most =>
        val got = table(new Trickle(sst, () => 1 + rnd.nextInt(most)))
        assert(got == whole, s"trial $trial: reads of 1-$most bytes diverged\n" +
          s"${new String(sst, UTF_8)}\ngot: $got\nwhole: $whole")
        // a prefix read stops at the same entry
        val prefix = scala.collection.mutable.ArrayBuffer[String]()
        SharedStringsScanner.parseInto(new Trickle(sst, () => 1 + rnd.nextInt(most)),
          prefix, limit = 2)
        assert(prefix.map(s => hex(s.getBytes(UTF_8), 0, s.getBytes(UTF_8).length)) ==
          whole.take(2), s"trial $trial: prefix of 2")
      }
    }
  }

  test("the shared-strings budget fails at the same entry whole and in " +
      "1-7 byte reads") {
    val sst = ("<sst>" + (0 until 50).map(i => s"<si><t>entry $i &amp; more</t></si>")
      .mkString + "</sst>").getBytes(UTF_8)
    Seq(1L, 40L, 200L, 700L).foreach { budget =>
      def kept(in: InputStream): Seq[String] = {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        intercept[SharedStringsScanner.BudgetExceeded](
          SharedStringsScanner.parseInto(in, out, budget))
        out.toSeq
      }
      val rnd = new Random(budget)
      assert(kept(new Trickle(sst, () => 1 + rnd.nextInt(7))) ==
        kept(new ByteArrayInputStream(sst)), s"budget $budget")
    }
  }

  /** Every near miss of the fast paths' literals, and the attribute and
    * value forms they leave to the per-byte machinery. */
  private val pinnedSheet =
    """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
      """xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      // names that share a hot literal's prefix
      """<rows/><row r="1"><cx r="A1"/><c r="A1" t="s"><vx>9</vx><v>0<vv></vv></v></c>""" +
      """<c r="B1"><isx>z</isx><v>1.5</v></c><rowx></rowx><c r="E1"><v>5</v></c></row>""" +
      // s=/t= before r=, single quotes, spaces around '=', a spaced self-close
      """<row r="2"><c s="1" r="A2"><v>45000</v></c><c t='b' r='B2'><v>1</v></c>""" +
      """<c r = "C2" t = "s" ><v>1</v></c><c r="D2" /><c r="E2" s="2"><v>3</v></c></row>""" +
      // namespace prefixes
      """<x:row r="3"><x:c r="A3" t="s"><x:v>2</x:v></x:c>""" +
      """<x:c r="B3" t="inlineStr"><x:is><x:t>pre</x:t></x:is></x:c></x:row>""" +
      // padded values, 16 and more digits, exponents, -0
      """<row r="4"><c r="A4"><v> 42 </v></c><c r="B4"><v>12345678901234567</v></c>""" +
      """<c r="C4"><v>1.5E3</v></c><c r="D4"><v>-0</v></c><c r="E4"><v>""" + "\n7.25\n" +
      """</v></c></row>""" +
      // entities and CDATA inside <v> and <t>
      """<row r="5"><c r="A5"><v>&#49;&#x32;</v></c><c r="B5"><v><![CDATA[3.5]]></v></c>""" +
      """<c r="C5" t="inlineStr"><is><t>a&amp;b&lt;&#x40;</t></is></c>""" +
      """<c r="D5" t="inlineStr"><is><t><![CDATA[<c r="X">]]>&quot;q&apos;</t></is></c>""" +
      """<c r="E5" t="str"><v>f&amp;x</v></c></row>""" +
      // implicit refs after all of it
      """<row><c t="inlineStr"><is><t>last</t></is></c><c><v>-0</v></c></row>""" +
      """</sheetData></worksheet>"""

  test("pinned: near-miss names, attribute forms, prefixes, padded and long " +
      "numbers, entities and CDATA read as StAX reads them") {
    val bytes = workbookZip(pinnedSheet)
    def drain(it: CellRowIterator): Seq[(Long, Seq[XCell])] =
      try it.map { case (i, cells) => (i, cells.toSeq) }.toList finally it.close()
    def wb = TestArchives.workbook(bytes)
    val stax = drain(XlsxOracle.rows(wb, "xl/worksheets/sheet1.xml"))
    assert(stax.size == 6)
    assert(stax(3)._2.take(4) == Seq(XCell.XNumber(42.0), XCell.XNumber(1.2345678901234568e16),
      XCell.XNumber(1500.0), XCell.XNumber(-0.0)))
    assert(drain(wb.rowIterator("xl/worksheets/sheet1.xml")) == stax)
    Seq(48, 97, 256).foreach { cb =>
      val w = wb
      val (raw, closeAll) = w.entryStreamForProbe("xl/worksheets/sheet1.xml")
      assert(drain(ParallelSheetScanner.rowIterator(raw, w.sharedStrings, w.dateStyles,
        threads = 2, closeAll, chunkBytes = cb)) == stax, s"chunkBytes $cb")
    }
    // the columnar read, against the oracle's rows
    val f = java.io.File.createTempFile("pinned", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    val want = oracleRows(bytes, Map.empty).toOption.get
    Seq((1, 1 << 20), (2, 48), (2, 1 << 20)).foreach { case (t, cb) =>
      assert(columnarRows(f.getAbsolutePath, Map("chunkBytes" -> cb.toString), t) == want,
        s"threads $t chunkBytes $cb")
    }
    sameEvents(pinnedSheet.getBytes(UTF_8), new Random(5), "pinned sheet")
  }

  test("the tag table's literals and names pack their text") {
    import SheetMarkup._
    /** `s`'s first 8 bytes, packed as the scanners' 8-byte loads read them. */
    def pack(s: String): Long =
      s.take(8).zipWithIndex.map { case (c, i) => (c & 0xffL) << (i * 8) }.foldLeft(0L)(_ | _)
    Seq(LitCloseC -> "</c>", LitOpenV -> "<v>", LitCloseRow -> "</row>",
      LitOpenIs -> "<is>", LitCloseIs -> "</is>", LitOpenT -> "<t>", LitCloseT -> "</t>",
      LitRowRQ -> "<row r=\"", LitCRQ -> "<c r=\"", LitIsT -> "<is><t>",
      LitCloseTIs -> "</t></is", LitOpenSi -> "<si>", LitCloseSi -> "</si>",
      LitSiT -> "<si><t>", LitCloseTSi -> "</t></si", LitOpenR -> "<r>", LitCloseR -> "</r>",
      LitTPreserve0 -> "<t xml:s", LitTPreserve1 -> "pace=\"pr", LitTPreserve2 -> "eserve\">",
      LitCloseV.toLong -> "</v>", LitTQ.toLong -> " t=\"", LitSQ.toLong -> " s=\"",
      NameRow -> "row", NameV -> "v", NameIs -> "is", NameT -> "t", NameC -> "c",
      NameSi -> "si", NameRPh -> "rPh", NamePhonetic -> "phonetic", NamePr -> "Pr")
      .foreach { case (lit, text) => assert(lit == pack(text), text) }
    assert(classify(pack("phonetic"), pack("Pr"), 10) == KPhoneticPr)
    assert(classify(pack("phonetic"), pack("Px"), 10) == KOther)
    assert(classify(pack("row"), 0L, 9) == KOther)
    assert(entity("#-5".getBytes(UTF_8), 0, 3) == -5L)
    assert(entity("#x80000000".getBytes(UTF_8), 0, 10) == NoEntity)
    assert(entity("#-2147483648".getBytes(UTF_8), 0, 12) == Int.MinValue.toLong)
    assert(entity("#".getBytes(UTF_8), 0, 1) == NoEntity)
    assert(entity("#x".getBytes(UTF_8), 0, 2) == NoEntity)
  }
}
