// in the xlsx package for access to the test-only StAX iterator hook
package graft.sources.xlsx

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Shared random-SpreadsheetML fuzz fixtures: the scanner-level differential
  * spec and the end-to-end DSv2 reader fuzz both draw from here. */
object SheetFuzz {
  val workbookXml =
    """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
      | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      |<sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
  val relsXml =
    """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
      |</Relationships>""".stripMargin
  val sharedXml =
    """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<si><t>alpha</t></si><si><r><t>be</t></r><r><t>ta</t></r></si><si><t/></si>
      |</sst>""".stripMargin
  val stylesXml =
    """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="2"/></cellXfs>
      |</styleSheet>""".stripMargin

  def zip(entries: (String, String)*): Array[Byte] = {
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

  /** A complete workbook zip around one random sheet. */
  def workbookZip(sheet: String): Array[Byte] = zip(
    "xl/workbook.xml" -> workbookXml,
    "xl/_rels/workbook.xml.rels" -> relsXml,
    "xl/sharedStrings.xml" -> sharedXml,
    "xl/styles.xml" -> stylesXml,
    "xl/worksheets/sheet1.xml" -> sheet)

  def randomSheet(rnd: Random): String = {
    val sb = new StringBuilder
    def ws(): String = " " * rnd.nextInt(3) + (if (rnd.nextInt(4) == 0) "\n" else "")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    sb.append("<sheetData>")
    val nRows = 1 + rnd.nextInt(12)
    var rowNum = 0
    (0 until nRows).foreach { _ =>
      rowNum += 1 + rnd.nextInt(2) // occasional gaps in row numbering
      if (rnd.nextInt(5) == 0) sb.append(s"<!-- noise ${rnd.nextInt(100)} -->")
      val rAttr = if (rnd.nextBoolean()) s""" r="$rowNum"""" else ""
      if (rnd.nextInt(10) == 0) { sb.append(s"<row$rAttr/>"); }
      else {
        sb.append(s"<row$rAttr${ws()}>")
        val nCells = rnd.nextInt(6)
        (0 until nCells).foreach { c =>
          val ref = s"${('A' + c).toChar}$rowNum"
          // attribute set in random order
          val attrs = rnd.shuffle(List(
            if (rnd.nextBoolean()) Some(s"""r="$ref"""") else None,
            if (rnd.nextInt(4) == 0) Some(s"""s="${rnd.nextInt(3)}"""") else None
          ).flatten)
          val a = if (attrs.isEmpty) "" else attrs.mkString(" ", " ", "")
          rnd.nextInt(8) match {
            case 0 => sb.append(s"<c$a/>") // empty styled cell
            case 1 => // shared string, sometimes out of range
              val idx = rnd.nextInt(5) // 3 valid, 2 invalid
              sb.append(s"""<c$a t="s"><v>$idx</v></c>""")
            case 2 => sb.append(s"""<c$a t="b"><v>${rnd.nextInt(2)}</v></c>""")
            case 3 => sb.append(s"""<c$a t="e"><v>#DIV/0!</v></c>""")
            case 4 =>
              val s = rnd.nextInt(4) match {
                case 0 => s"plain ${rnd.nextInt(100)}"
                case 1 => "a&amp;b&lt;c&#x40;"
                case 2 => s"<![CDATA[raw<${rnd.nextInt(10)}&>]]>"
                case _ => "日本語🎉"
              }
              sb.append(s"""<c$a t="inlineStr"><is>${ws()}<t>$s</t></is></c>""")
            case 5 => sb.append(s"""<c$a t="str"><v>fx${rnd.nextInt(10)}</v></c>""")
            case 6 => sb.append(s"""<c$a><v/></c>""") // empty numeric -> error
            case _ =>
              val num = rnd.nextInt(5) match {
                case 0 => rnd.nextInt(100000).toString
                case 1 => f"${rnd.nextDouble() * 1000 - 500}%.6f"
                case 2 => s"${rnd.nextInt(1000)}.${rnd.nextInt(1000000000)}${rnd.nextInt(1000000000)}" // >15 digits
                case 3 => f"${rnd.nextDouble()}%.4fE${rnd.nextInt(20) - 10}%+d".replace("E+", "E").replace("E-0", "E-")
                case _ => (rnd.nextDouble() * 2 - 1).toString
              }
              sb.append(s"""<c$a><v>$num</v></c>""")
          }
        }
        sb.append("</row>")
      }
    }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  def randomSharedStrings(rnd: Random): String = {
    val sb = new StringBuilder
    sb.append("""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    val n = rnd.nextInt(20)
    (0 until n).foreach { _ =>
      rnd.nextInt(6) match {
        case 0 => sb.append("<si/>") // StAX never sees an END for this one
        case 1 => sb.append("<si><t/></si>")
        case 2 => sb.append(s"<si><t>plain ${rnd.nextInt(100)}</t></si>")
        case 3 => // rich-text runs, sometimes with phonetic furigana
          sb.append("<si>")
          (0 to rnd.nextInt(3)).foreach(i => sb.append(s"<r><t>run$i </t></r>"))
          if (rnd.nextBoolean())
            sb.append("""<rPh sb="0" eb="1"><t>ヨミ</t></rPh><phoneticPr fontId="1"/>""")
          sb.append("</si>")
        case 4 => sb.append(s"<si><t>esc &amp;&lt;&#${64 + rnd.nextInt(26)};</t></si>")
        case _ => sb.append(s"<si><t><![CDATA[cd<${rnd.nextInt(10)}&>]]></t></si>")
      }
    }
    sb.append("</sst>")
    sb.toString
  }
}

/** Differential fuzz: seeded random SpreadsheetML — shuffled attribute
  * order, random whitespace, entities, CDATA, self-closing forms, comments,
  * namespace prefixes, every cell type, bad shared-string indices — parsed
  * by BOTH the byte scanner and the StAX iterator must yield identical
  * cells. The StAX path is the semantics baseline the scanner replaced;
  * any divergence is a scanner bug by definition.
  */
class XlsxScannerDifferentialSpec extends AnyFunSuite {
  import SheetFuzz._

  test("sharedStrings byte scanner and StAX agree on 200 random tables") {
    val rnd = new Random(0xFEED)
    (1 to 200).foreach { trial =>
      val sst = randomSharedStrings(rnd)
      // <si/> never produces an END_ELEMENT text flush under StAX either —
      // both paths must agree on whatever the answer is
      val bytes = sst.getBytes(StandardCharsets.UTF_8)
      val scanner = SharedStringsScanner
        .parse(new ByteArrayInputStream(bytes)).toSeq
      val xif = javax.xml.stream.XMLInputFactory.newInstance()
      xif.setProperty(javax.xml.stream.XMLInputFactory.IS_COALESCING, true)
      val wb = new XlsxParser.Workbook(() => new ByteArrayInputStream(Array.empty))
      val stax = wb.sharedStringsStax(
        xif.createXMLStreamReader(new ByteArrayInputStream(bytes))).toSeq
      assert(scanner == stax,
        s"trial $trial diverged\nsst:\n$sst\nscanner: $scanner\nstax: $stax")
    }
  }

  test("byte scanner and StAX agree cell-for-cell on 200 random sheets") {
    val rnd = new Random(0xBEEF)
    (1 to 200).foreach { trial =>
      val sheet = randomSheet(rnd)
      val bytes = workbookZip(sheet)

      def drain(it: Iterator[(Long, Array[XCell])]): Seq[(Long, Seq[XCell])] =
        it.map { case (i, cells) => (i, cells.toSeq) }.toList

      val wb1 = new XlsxParser.Workbook(() => new ByteArrayInputStream(bytes))
      val scanner = drain(wb1.rowIterator("xl/worksheets/sheet1.xml"))
      val wb2 = new XlsxParser.Workbook(() => new ByteArrayInputStream(bytes))
      val stax = drain(wb2.rowIteratorStax("xl/worksheets/sheet1.xml"))

      assert(scanner == stax,
        s"trial $trial diverged\nsheet:\n$sheet\nscanner: $scanner\nstax: $stax")

      // chunked parallel path: a tiny chunk target forces a cut at nearly
      // every row boundary, exercising the RowBoundaryTracker across
      // comments, CDATA, self-closing rows and implicit row indices; the
      // merged output must be identical to the sequential scanners
      Seq(48, 256).foreach { cb =>
        val wb3 = new XlsxParser.Workbook(() => new ByteArrayInputStream(bytes))
        val (raw, closeAll) =
          wb3.openEntryStream("xl/worksheets/sheet1.xml").get
        val chunked = drain(ParallelSheetScanner.rowIterator(raw,
          wb3.sharedStrings, wb3.dateStyles, threads = 3, closeAll,
          chunkBytes = cb))
        assert(chunked == stax,
          s"trial $trial chunked(chunkBytes=$cb) diverged\nsheet:\n$sheet\n" +
            s"chunked: $chunked\nstax: $stax")

        // the chunk face as the columnar DSv2 reader drives it: stitched
        // indices, widths, and the producer's dealing of a leading-row
        // drop, counted by a worker-side transform
        Seq(0, 2).foreach { drop =>
          val wb4 = new XlsxParser.Workbook(() => new ByteArrayInputStream(bytes))
          val par = wb4.chunkingRowIterator("xl/worksheets/sheet1.xml",
            threads = 3, (rows, dropFirst) => Integer.valueOf(rows.length - dropFirst),
            dropFirstRows = drop.toLong, chunkBytes = cb).toOption.get
          val idx = Seq.newBuilder[Long]
          val widths = Seq.newBuilder[Int]
          var kept, dropped = 0
          try while (par.advanceChunk()) {
            idx ++= par.chunkIdx
            widths ++= par.chunkWidths
            kept += par.chunkBatch.asInstanceOf[Integer].intValue
            dropped += par.chunkDropped
          } finally par.close()
          val expDropped = math.min(drop, stax.size)
          val got = (idx.result(), widths.result(), kept, dropped)
          val want = (stax.map(_._1), stax.map(_._2.size),
            stax.size - expDropped, expDropped)
          assert(got == want,
            s"trial $trial chunk face(chunkBytes=$cb, drop=$drop) diverged\n" +
              s"sheet:\n$sheet\ngot: $got\nwant: $want")
        }
      }

      // tracker slice invariance: feeding the SAME bytes in random tiny
      // slices must yield the same boundary sequence as one whole-buffer
      // scan — this pins the fused fast path to its buffer-edge spill
      // states (every spill state gets hit when slices are 1-17 bytes)
      locally {
        val sheetBytes = sheet.getBytes(StandardCharsets.UTF_8)
        def boundaries(sliceAt: () => Int): Seq[Int] = {
          val t = new RowBoundaryTracker
          val found = Seq.newBuilder[Int]
          var off = 0
          while (off < sheetBytes.length) {
            val end = math.min(sheetBytes.length, off + sliceAt())
            val b = t.scan(sheetBytes, off, end)
            if (b >= 0) found += b
            off = end
          }
          found.result()
        }
        val whole = boundaries(() => sheetBytes.length)
        // 1-byte slices report EVERY boundary exactly where it occurs and
        // route every transition through the spill states; wider random
        // slices mix fast path and spills. Each scan call reports only the
        // LAST boundary in its range, so coarser slicings are subsets of
        // the 1-byte set — and all slicings must agree on the final one.
        val byByte = boundaries(() => 1)
        val sliced = boundaries(() => 1 + rnd.nextInt(17))
        assert(sliced.toSet.subsetOf(byByte.toSet) &&
            sliced.lastOption == byByte.lastOption &&
            whole.lastOption == byByte.lastOption,
          s"trial $trial tracker slice divergence\nsheet:\n$sheet\n" +
            s"whole: $whole\nsliced: $sliced\nbyByte: $byByte")
      }
    }
  }
}
