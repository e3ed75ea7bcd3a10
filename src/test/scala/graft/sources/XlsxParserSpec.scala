package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.xlsx.{TestArchives, XCell, XlsxParser}
import org.scalatest.funsuite.AnyFunSuite

/** Parser-level edge cases on hand-crafted SpreadsheetML (things our own
  * writer never produces): shared strings (with empty and multi-run <si>),
  * custom date numFmts, sparse rows with A1-reference gaps, bad
  * shared-string indices, error cells. Mirrors the reference's cell
  * semantics (sheetreader_extension.cpp:117-135).
  */
class XlsxParserSpec extends AnyFunSuite {

  /** Build an in-memory workbook from raw part contents. */
  private def zip(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, StandardCharsets.UTF_8)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes(StandardCharsets.UTF_8))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def workbook(bytes: Array[Byte]) =
    TestArchives.workbook(bytes)

  private val workbookXml =
    """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
      | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      |<sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
  private val relsXml =
    """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
      |</Relationships>""".stripMargin

  private def rows(bytes: Array[Byte]): Seq[Array[XCell]] = {
    val wb = workbook(bytes)
    val it = wb.rows("xl/worksheets/sheet1.xml", wb.sharedStrings)
    try it.map(_._2).toList finally it.close()
  }

  test("shared strings resolve, including empty and multi-run <si>") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" ->
        """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<si><t>plain</t></si>
          |<si><r><t>multi</t></r><r><t>-run</t></r></si>
          |<si><t/></si>
          |</sst>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r(0) == XCell.XString("plain"))
    assert(r(1) == XCell.XString("multi-run"))
    assert(r(2) == XCell.XString(""))
  }

  test("phonetic runs (rPh furigana) are excluded from shared strings") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" ->
        """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<si><r><t>東京</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/></si>
          |</sst>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1" t="s"><v>0</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    assert(rows(b)(0)(0) == XCell.XString("東京"))
  }

  test("bad shared-string references are error cells, not crashes") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" ->
        """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>x</t></si></sst>""",
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1" t="s"><v>99</v></c><c r="B1" t="s"><v>abc</v></c><c r="C1" t="s"><v/></c><c r="D1" t="e"><v>#DIV/0!</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r.forall(_ == XCell.XError))
  }

  test("A1-reference gaps become XNone at the right positions") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1"><v>1</v></c><c r="D1"><v>4</v></c></row>
          |<row r="2"><c r="AB2"><v>28</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val rs = rows(b)
    assert(rs(0).toSeq == Seq(XCell.XNumber(1.0), XCell.XNone, XCell.XNone, XCell.XNumber(4.0)))
    assert(rs(1).length == 28) // AB = column 28 (1-based)
    assert(rs(1)(27) == XCell.XNumber(28.0))
    assert(rs(1).take(27).forall(_ == XCell.XNone))
  }

  test("custom numFmt with date tokens tags cells as dates; literals don't fool it") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/styles.xml" ->
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<numFmts count="2">
          |<numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/>
          |<numFmt numFmtId="165" formatCode="&quot;years&quot;0.0"/>
          |</numFmts>
          |<cellXfs count="3">
          |<xf numFmtId="0"/><xf numFmtId="164"/><xf numFmtId="165"/>
          |</cellXfs></styleSheet>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1" s="1"><v>45000</v></c><c r="B1" s="2"><v>1.5</v></c><c r="C1" s="0"><v>7</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r(0) == XCell.XDate(45000.0)) // custom yyyy-mm-dd format
    assert(r(1) == XCell.XNumber(1.5)) // "years" literal contains 'y' but is quoted
    assert(r(2) == XCell.XNumber(7.0)) // general format
    // serial 45000 = 2023-03-15 (days since 1899-12-30)
    assert(java.time.LocalDate.ofEpochDay(XCell.serialToEpochDay(45000.0).toLong)
      == java.time.LocalDate.of(2023, 3, 15))
  }

  test("inline strings and formula string results parse (superset of reference)") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1" t="inlineStr"><is><t>inline</t></is></c><c r="B1" t="str"><v>formula-result</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r(0) == XCell.XString("inline"))
    assert(r(1) == XCell.XString("formula-result"))
  }

  // ---- byte-scanner edge cases: markup shapes other producers emit --------

  test("shared strings with entities, CDATA and self-closed si decode") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" ->
        """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<si><t>a&amp;b&#x9;&#8364;</t></si>
          |<si><t><![CDATA[<raw&>]]></t></si>
          |<si/>
          |</sst>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r(0) == XCell.XString("a&b\t€"))
    assert(r(1) == XCell.XString("<raw&>"))
    assert(r(2) == XCell.XString(""))
  }

  test("namespace-prefixed worksheet markup parses (local-name matching)") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0" encoding="UTF-8"?>
          |<x:worksheet xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><x:sheetData>
          |<x:row r="1"><x:c r="A1"><x:v>7.5</x:v></x:c><x:c r="B1" t="inlineStr"><x:is><x:t>ns</x:t></x:is></x:c></x:row>
          |</x:sheetData></x:worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r(0) == XCell.XNumber(7.5))
    assert(r(1) == XCell.XString("ns"))
  }

  test("entities, character references and CDATA decode in cell text") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1">
          |<c r="A1" t="inlineStr"><is><t>a&amp;b &lt;x&gt; &quot;q&quot; &apos;s&apos;</t></is></c>
          |<c r="B1" t="inlineStr"><is><t>tab&#x9;nl&#xA;eur&#8364;</t></is></c>
          |<c r="C1" t="str"><v><![CDATA[raw <&> text]]></v></c>
          |</row>
          |</sheetData></worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r(0) == XCell.XString("a&b <x> \"q\" 's'"))
    assert(r(1) == XCell.XString("tab\tnl\neur€"))
    assert(r(2) == XCell.XString("raw <&> text"))
  }

  test("formula bodies are ignored; only <v> results materialize") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1"><f>SUM(B1:B9)</f><v>42</v></c><c r="B1"><f aca="true">1+2</f><v>3</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val r = rows(b)(0)
    assert(r(0) == XCell.XNumber(42.0))
    assert(r(1) == XCell.XNumber(3.0))
  }

  test("self-closing cells, rows and values; single-quoted and reordered attrs") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r='1'><c s='0' r='A1'/><c t='s' r='B1'><v/></c><c r='C1'><v>1</v></c></row>
          |<row r="2"/>
          |<row r="3"><c r="A3"><v>2</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val rs = rows(b)
    assert(rs(0)(0) == XCell.XNone) // self-closed styled cell → gap
    assert(rs(0)(1) == XCell.XError) // empty shared-string index → error → NULL
    assert(rs(0)(2) == XCell.XNumber(1.0))
    assert(rs(1).isEmpty) // self-closed row → zero cells
    assert(rs(2)(0) == XCell.XNumber(2.0))
  }

  test("multi-byte UTF-8 text and comments inside sheetData survive") {
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<!-- row comment -->
          |<row r="1"><c r="A1" t="inlineStr"><is><t>日本語テキスト🎉</t></is></c></row>
          |</sheetData></worksheet>""".stripMargin)
    assert(rows(b)(0)(0) == XCell.XString("日本語テキスト🎉"))
  }

  test("numeric fast path is bit-identical to Double.parseDouble") {
    val rnd = new scala.util.Random(0xC0FFEE)
    val forms = scala.collection.mutable.ArrayBuffer[String](
      "0", "-0", "+1", "1.", ".5", "-.5", "0.1", "3.14159", "45000",
      "1e10", "1E-7", "-2.5E+3", "9007199254740993", // 2^53+1: >15 digits
      "123456789012345678901", "0.00000000000000001", "1.7976931348623157E308",
      "4.9E-324", "2.2250738585072011e-308", // the infamous slow-strtod value
      "100.5d", "Infinity", "-Infinity", "NaN", "0.000001")
    (1 to 3000).foreach { _ =>
      val d = rnd.nextInt(4) match {
        case 0 => rnd.nextDouble() * 1e6 - 5e5
        case 1 => rnd.nextLong().toDouble
        case 2 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case _ => rnd.nextInt(1000000) / 1000.0
      }
      if (!d.isNaN) { forms += d.toString; forms += f"$d%.6f" }
    }
    val xml = new StringBuilder(
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    forms.zipWithIndex.foreach { case (f, i) =>
      xml.append(s"""<row r="${i + 1}"><c r="A${i + 1}"><v>$f</v></c></row>""")
    }
    xml.append("</sheetData></worksheet>")
    val b = zip(
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/worksheets/sheet1.xml" -> xml.toString)
    val got = rows(b)
    forms.zipWithIndex.foreach { case (f, i) =>
      val expected: XCell =
        try {
          val d = java.lang.Double.parseDouble(f.trim)
          XCell.XNumber(d)
        } catch { case _: NumberFormatException => XCell.XError }
      val actual = got(i)(0)
      (expected, actual) match {
        case (XCell.XNumber(e), XCell.XNumber(a)) =>
          assert(java.lang.Double.doubleToRawLongBits(e)
            == java.lang.Double.doubleToRawLongBits(a)
            || (e.isNaN && a.isNaN), s"'$f': expected $e got $a")
        case _ => assert(expected == actual, s"'$f': expected $expected got $actual")
      }
    }
  }

  test("UTF-16 encoded worksheet transcodes onto the byte scanner") {
    // multibyte + supplementary-plane content pins the transcoder's
    // surrogate handling; the 9000-char run forces chunk boundaries inside
    // the text so the trailing-surrogate carry really executes
    val long = "héllo🚀" * 1500
    val sheetUtf16 =
      s"""<?xml version="1.0" encoding="UTF-16"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1"><v>9.25</v></c><c r="B1" t="inlineStr"><is><t>wide 漢字 🚀</t></is></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="inlineStr"><is><t>$long</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, StandardCharsets.UTF_8)
    Seq("xl/workbook.xml" -> workbookXml.getBytes(StandardCharsets.UTF_8),
        "xl/_rels/workbook.xml.rels" -> relsXml.getBytes(StandardCharsets.UTF_8),
        // UTF_16 charset emits the BOM that routes to the transcoder
        "xl/worksheets/sheet1.xml" -> sheetUtf16.getBytes(StandardCharsets.UTF_16))
      .foreach { case (name, content) =>
        z.putNextEntry(new ZipEntry(name)); z.write(content); z.closeEntry()
      }
    z.close()
    val got = rows(bos.toByteArray)
    assert(got(0)(0) == XCell.XNumber(9.25))
    assert(got(0)(1) == XCell.XString("wide 漢字 🚀"))
    assert(got(1)(1) == XCell.XString(long))
  }
}
