// in the xlsx package for access to XlsxOracle and the package-private hooks
package graft.sources.xlsx

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

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

  /** The expected rows of `bytes` under `kv` options, scanner-free:
    * StAX rows, the reader's resolve rules and the oracle's boxed
    * conversion, limited to the `keep` columns (None: all of them).
    * Left(()) = the read must fail ragged. */
  def oracleRows(bytes: Array[Byte], kv: Map[String, String],
      keep: Option[Seq[String]] = None): Either[Unit, Seq[Seq[String]]] = {
    val wb = TestArchives.workbook(bytes)
    val opts = XlsxOptions.from(new CaseInsensitiveStringMap(kv.asJava))
    val resolved = XlsxSchema.resolve(wb, opts)
    val rows = {
      val it = XlsxOracle.rows(wb, "xl/worksheets/sheet1.xml")
      try it.map(_._2).toList finally it.close()
    }
    val data = rows.drop(resolved.dropRows)
    val fields = resolved.schema.fields.zipWithIndex
      .filter { case (f, _) => keep.forall(_.contains(f.name)) }
    if (data.exists(_.length > resolved.baseWidth)) Left(())
    else Right(data.map { cells =>
      fields.map { case (f, i) =>
        val cell = if (i < cells.length) cells(i) else XCell.XNone
        XlsxOracle.convert(cell, f.dataType, opts.coerceToString) match {
          case null => "∅"
          case days: java.lang.Integer if f.dataType == org.apache.spark.sql.types.DateType =>
            java.time.LocalDate.ofEpochDay(days.longValue).toString
          case v => v.toString
        }
      }.toSeq
    })
  }

  /** The rows the columnar reader gives for `path` under `kv` options,
    * read the way a DSv2 task reads them — through
    * [[XlsxColumnarPartitionReader]] with `threads` workers, over each of
    * `ranges` in turn (segment-range partitions) or the whole sheet —
    * limited to the `keep` columns. `onBatch` sees every batch. */
  def columnarRows(path: String, kv: Map[String, String], threads: Int,
      keep: Option[Seq[String]] = None, ranges: Seq[Option[SegRange]] = Seq(None),
      onBatch: org.apache.spark.sql.vectorized.ColumnarBatch => Unit = _ => ())
      : Seq[Seq[String]] = {
    import org.apache.spark.sql.types._
    val opts = XlsxOptions.from(new CaseInsensitiveStringMap(kv.asJava))
    val full = XlsxSchema.resolve(
      XlsxDataSource.workbook(path, XlsxDataSource.hadoopConf()), opts).schema
    val req = StructType(full.fields.filter(f => keep.forall(_.contains(f.name))))
    ranges.flatMap { range =>
      val r = new XlsxColumnarPartitionReader(path, None, full, req, opts,
        XlsxDataSource.captureConf(), threads, range)
      val out = ArrayBuffer[Seq[String]]()
      try while (r.next()) {
        val b = r.get()
        onBatch(b)
        (0 until b.numRows).foreach { i =>
          out += req.fields.indices.map { j =>
            val v = b.column(j)
            if (v.isNullAt(i)) "∅"
            else req.fields(j).dataType match {
              case StringType => v.getUTF8String(i).toString
              case DoubleType => v.getDouble(i).toString
              case BooleanType => v.getBoolean(i).toString
              case DateType => java.time.LocalDate.ofEpochDay(v.getInt(i).toLong).toString
              case other => s"?$other"
            }
          }
        }
      } finally r.close()
      out
    }
  }

  /** A table of `n` distinct strings `s0 … s(n-1)`. */
  def table(n: Int): String =
    (0 until n).map(i => s"<si><t>s$i</t></si>").mkString("<sst>", "", "</sst>")

  /** A scan that keeps no column: its chunks only count rows. */
  val noColumns = new RowColumns(
    org.apache.spark.sql.types.StructType(Nil), org.apache.spark.sql.types.StructType(Nil), false)

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
      val stax = XlsxOracle.sharedStrings(
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

      val wb1 = TestArchives.workbook(bytes)
      val scanner = drain(wb1.rowIterator("xl/worksheets/sheet1.xml"))
      val wb2 = TestArchives.workbook(bytes)
      val stax = drain(XlsxOracle.rows(wb2, "xl/worksheets/sheet1.xml"))

      assert(scanner == stax,
        s"trial $trial diverged\nsheet:\n$sheet\nscanner: $scanner\nstax: $stax")

      // chunked parallel path: a tiny chunk target forces a cut at nearly
      // every row boundary, exercising the RowBoundaryTracker across
      // comments, CDATA, self-closing rows and implicit row indices; the
      // merged output must be identical to the sequential scanners
      Seq(48, 256).foreach { cb =>
        val wb3 = TestArchives.workbook(bytes)
        val (raw, closeAll) =
          wb3.entryStreamForProbe("xl/worksheets/sheet1.xml")
        val chunked = drain(ParallelSheetScanner.rowIterator(raw,
          wb3.sharedStrings, wb3.dateStyles, threads = 3, closeAll,
          chunkBytes = cb))
        assert(chunked == stax,
          s"trial $trial chunked(chunkBytes=$cb) diverged\nsheet:\n$sheet\n" +
            s"chunked: $chunked\nstax: $stax")

        // the chunk face as the columnar DSv2 reader drives it: stitched
        // indices, widths, and the producer's dealing of a leading-row
        // drop, counted by the worker-side column chunks
        Seq(0, 2).foreach { drop =>
          val wb4 = TestArchives.workbook(bytes)
          val par = wb4.chunkingRowIterator("xl/worksheets/sheet1.xml",
            threads = 3, SheetFuzz.noColumns.chunkParser(wb4.dateStyles),
            dropFirstRows = drop.toLong, chunkBytes = cb).get
          val idx = Seq.newBuilder[Long]
          val widths = Seq.newBuilder[Int]
          var kept, dropped = 0
          try while (par.advanceChunk()) {
            idx ++= par.chunkIdx
            widths ++= par.chunkWidths
            kept += par.chunk.asInstanceOf[ColumnChunk].stored
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

  // ---- schema probe over the shared-strings prefix ------------------------

  private def opts(kv: (String, String)*): XlsxOptions =
    XlsxOptions.from(new CaseInsensitiveStringMap(kv.toMap.asJava))

  /** The probe as it ran before the prefix: the first two post-skip rows
    * resolved against the whole table. */
  private def wholeTableResolve(wb: XlsxParser.Workbook,
      o: XlsxOptions): Either[String, XlsxSchema.Resolved] =
    Try {
      val rows = ArrayBuffer[Array[XCell]]()
      var seen = 0
      XlsxOracle.foreachRow(wb, "xl/worksheets/sheet1.xml", (_, cells) => {
        seen += 1
        if (seen > o.skipRows) rows += cells
        rows.length < 2
      })
      XlsxSchema.fromProbe(rows.toSeq, o)
    }.toEither.left.map(_.getMessage)

  private def prefixResolve(wb: XlsxParser.Workbook,
      o: XlsxOptions): Either[String, XlsxSchema.Resolved] =
    Try(XlsxSchema.resolve(wb, o)).toEither.left.map(_.getMessage)

  private def workbook(sheet: String, sst: Option[Array[Byte]]): XlsxParser.Workbook = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, StandardCharsets.UTF_8)
    def put(name: String, content: Array[Byte]): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(content); z.closeEntry()
    }
    put("xl/workbook.xml", SheetFuzz.workbookXml.getBytes(StandardCharsets.UTF_8))
    put("xl/_rels/workbook.xml.rels", SheetFuzz.relsXml.getBytes(StandardCharsets.UTF_8))
    put("xl/styles.xml", SheetFuzz.stylesXml.getBytes(StandardCharsets.UTF_8))
    sst.foreach(put("xl/sharedStrings.xml", _))
    put("xl/worksheets/sheet1.xml", sheet.getBytes(StandardCharsets.UTF_8))
    z.close()
    val bytes = bos.toByteArray
    TestArchives.workbook(bytes)
  }

  private def utf8(s: String): Option[Array[Byte]] =
    Some(s.getBytes(StandardCharsets.UTF_8))

  test("schema probe over the shared-strings prefix resolves as the whole " +
      "table on 200 random sheets") {
    val rnd = new Random(0xC0FFEE)
    val big = utf8(table(XlsxParser.ProbeStrings + 6))
    // the fuzz sheets reference indices 0-4; on the big table they map to
    // both prefix edges, a valid index past the prefix and one past the end
    val remap = Map("0" -> "0", "1" -> "1023", "2" -> "1024", "3" -> "1029",
      "4" -> "5000")
    (1 to 200).foreach { trial =>
      val sheet = randomSheet(rnd)
      val remapped = """t="s"><v>(\d)</v>""".r.replaceAllIn(sheet,
        m => s"""t="s"><v>${remap(m.group(1))}</v>""")
      val o = opts("skipRows" -> rnd.nextInt(3).toString,
        "hasHeader" -> (rnd.nextInt(4) == 0).toString)
      Seq((sheet, utf8(sharedXml)), (remapped, big), (sheet, None)).foreach {
        case (sh, sst) =>
          val got = prefixResolve(workbook(sh, sst), o)
          val want = wholeTableResolve(workbook(sh, sst), o)
          assert(got == want, s"trial $trial diverged (${sst.map(_.length)} " +
            s"table bytes, $o)\nsheet:\n$sh\ngot: $got\nwant: $want")
      }
    }
  }

  test("schema probe over the shared-strings prefix: pinned edge cases") {
    def sheet(rows: String*): String =
      rows.zipWithIndex.map { case (cells, i) => s"""<row r="${i + 1}">$cells</row>""" }
        .mkString("<worksheet><sheetData>", "", "</sheetData></worksheet>")
    def s(i: Int): String = s"""<c t="s"><v>$i</v></c>"""
    val num = """<c><v>1.5</v></c>"""
    val big = table(2000)
    def names(r: Either[String, XlsxSchema.Resolved]): Seq[String] =
      r.toOption.get.schema.fieldNames.toSeq
    def check(sh: String, sst: Option[Array[Byte]], o: XlsxOptions = opts())
        : Either[String, XlsxSchema.Resolved] = {
      val got = prefixResolve(workbook(sh, sst), o)
      assert(got == wholeTableResolve(workbook(sh, sst), o), sh)
      got
    }

    // header strings past the prefix: the probe goes to the whole table
    assert(names(check(sheet(s(1500) + s(1024), num + num), utf8(big))) ==
      Seq("s1500", "s1024"))
    // header strings inside it, data past it
    assert(names(check(sheet(s(0) + s(1023), s(1999) + num), utf8(big))) ==
      Seq("s0", "s1023"))
    // an index past the end of the table stays an error (STRING) cell
    assert(names(check(sheet(s(99999) + num), utf8(big))) ==
      Seq("String0", "Numeric1"))
    // a t="e" cell in row 1 re-probes and gives the same answer
    assert(names(check(sheet("""<c t="e"><v>#N/A</v></c>""" + s(3), num + num),
      utf8(big))) == Seq("String0", "String1"))
    // skipRows pushes the probe onto rows that reference past the prefix
    val skipped = sheet(s(0), s(1), s(2), s(1700) + s(1701), num + num)
    assert(names(check(skipped, utf8(big), opts("skipRows" -> "3"))) ==
      Seq("s1700", "s1701"))
    // a UTF-16 table (BOM-sniffed and transcoded, like the scan's)
    Seq(StandardCharsets.UTF_16BE, StandardCharsets.UTF_16LE).foreach { cs =>
      val bom = if (cs == StandardCharsets.UTF_16BE) Array(0xFE, 0xFF) else Array(0xFF, 0xFE)
      val sst16 = Some(bom.map(_.toByte) ++ big.getBytes(cs))
      assert(names(check(sheet(s(7) + s(1998), num + num), sst16)) ==
        Seq("s7", "s1998"))
    }
    // no sharedStrings part: every shared-string cell is an error cell
    assert(names(check(sheet(s(0) + num), None)) == Seq("String0", "Numeric1"))
    assert(names(check(sheet("""<c t="inlineStr"><is><t>h</t></is></c>""", num),
      None)) == Seq("h"))
  }
}

/** The columnar scan — scanner events written straight into column chunks,
  * shared-string cells as dictionary ids resolved on the task thread —
  * against the scanner-free oracle ([[SheetFuzz.oracleRows]]): sequential
  * batches, parse workers with chunks small enough to split a table's
  * users across many chunks, segmented workers and segment-range
  * partitions. */
class XlsxColumnChunkDifferentialSpec extends AnyFunSuite {
  import SheetFuzz._

  private def tempFile(bytes: Array[Byte]): String = {
    val f = java.io.File.createTempFile("chunkdiff", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  private def ragged(read: => Any): String =
    Try(read).failed.toOption.map(e => Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("; "))
      .getOrElse("no error")

  /** Compares every read variant of `bytes` with the oracle. */
  private def check(what: String, bytes: Array[Byte], kv: Map[String, String],
      keep: Option[Seq[String]], variants: Seq[(Int, Int)]): Unit = {
    val path = tempFile(bytes)
    val want = Try(oracleRows(bytes, kv, keep))
    variants.foreach { case (threads, chunkBytes) =>
      val o = kv + ("chunkBytes" -> chunkBytes.toString)
      want match {
        case scala.util.Failure(e) => // an unresolvable sheet fails alike
          assert(Try(columnarRows(path, o, threads, keep)).failed.map(_.getMessage)
            .toOption.contains(e.getMessage), s"$what t=$threads")
        case scala.util.Success(Left(())) =>
          val msg = ragged(columnarRows(path, o, threads, keep))
          assert(msg.contains("more columns"), s"$what t=$threads cb=$chunkBytes: $msg")
        case scala.util.Success(Right(rows)) =>
          val got = columnarRows(path, o, threads, keep)
          assert(got == rows, s"$what t=$threads cb=$chunkBytes $kv keep=$keep\n" +
            s"got: $got\nwant: $rows")
      }
    }
  }

  test("column chunks match the oracle on 150 random sheets, whole and " +
      "pruned, with and without coerceToString, sequential and chunked") {
    val rnd = new Random(0xC011)
    val big = table(XlsxParser.ProbeStrings + 6)
    val remap = Map("0" -> "0", "1" -> "1023", "2" -> "1024", "3" -> "1029",
      "4" -> "5000")
    (1 to 150).foreach { trial =>
      val sheet = randomSheet(rnd)
      val kv = Map("coerceToString" -> rnd.nextBoolean().toString,
        "skipRows" -> rnd.nextInt(2).toString)
      // the fuzz table (indices 3 and 4 past its end), and a table big
      // enough that ids reach past the schema probe's prefix
      val remapped = """t="s"><v>(\d)</v>""".r.replaceAllIn(sheet,
        m => s"""t="s"><v>${remap(m.group(1))}</v>""")
      Seq(workbookZip(sheet),
          zip("xl/workbook.xml" -> workbookXml, "xl/_rels/workbook.xml.rels" -> relsXml,
            "xl/sharedStrings.xml" -> big, "xl/styles.xml" -> stylesXml,
            "xl/worksheets/sheet1.xml" -> remapped)).foreach { bytes =>
        val names = Try(XlsxSchema.resolve(TestArchives.workbook(bytes),
          XlsxOptions.from(new CaseInsensitiveStringMap(kv.asJava))).schema.fieldNames.toSeq)
          .getOrElse(Seq.empty)
        val everyOther = Some(names.zipWithIndex.collect { case (n, i) if i % 2 == 1 => n })
        Seq(None, everyOther).foreach { keep =>
          check(s"trial $trial\n$sheet\n", bytes, kv, keep,
            Seq((1, 1 << 20), (2, 48), (2, 256), (3, 97)))
        }
      }
    }
  }

  test("column chunks match the oracle on an indexed workbook: sequential, " +
      "chunked, segmented workers and segment ranges") {
    val rnd = new Random(0x5E6)
    val texts = Seq("plain", "a&b<c>\"d\"", "日本語🎉", "", " padded ", "line\nbreak")
    val data = (1 to 40000).iterator.map { i =>
      Seq[Any](
        if (i % 97 == 0) null else i.toLong,
        rnd.nextInt(6) match {
          case 0 => -0.0
          case 1 => null
          case _ => rnd.nextDouble() * 1e6 - 5e5
        },
        if (i % 13 == 0) null else texts(rnd.nextInt(texts.size)) + i % 50,
        rnd.nextBoolean(),
        java.time.LocalDate.ofEpochDay(-800L + rnd.nextInt(40000)))
    }
    val bos = new ByteArrayOutputStream()
    XlsxWriter.write(bos, Seq(XlsxWriter.SheetSpec("S",
      Some(Seq("id", "v", "s", "b", "d")), data)))
    val bytes = bos.toByteArray
    val path = tempFile(bytes)
    val seg = XlsxDataSource.workbook(path, XlsxDataSource.hadoopConf())
      .segmentIndexRaw("xl/worksheets/sheet1.xml").get
    assert(seg.segments >= 3, s"${seg.segments} segments")
    Seq(Map.empty[String, String], Map("skipRows" -> "3", "coerceToString" -> "true"))
      .foreach { kv =>
        Seq(None, Some(Seq("v", "s"))).foreach { keep =>
          val want = oracleRows(bytes, kv, keep).toOption.get
          Seq(1, 2, 3, 4).foreach { t =>
            assert(columnarRows(path, kv, t, keep) == want, s"threads $t $kv $keep")
          }
          val ranges = (0 until seg.segments).map(k => Some(SegRange(k, k + 1, seg.rowsBefore(k))))
          assert(columnarRows(path, kv, 1, keep, ranges) == want, s"ranges $kv $keep")
        }
      }
  }

  private def sheetOf(rows: String*): String =
    rows.zipWithIndex.map { case (cells, i) => s"""<row r="${i + 1}">$cells</row>""" }
      .mkString("<worksheet><sheetData>", "", "</sheetData></worksheet>")

  private def dictionaryFlags(path: String, kv: Map[String, String], threads: Int,
      col: Int): Seq[Boolean] = {
    val flags = ArrayBuffer[Boolean]()
    columnarRows(path, kv, threads, onBatch = b => flags += b.column(col)
      .asInstanceOf[org.apache.spark.sql.execution.vectorized.WritableColumnVector].hasDictionary)
    flags.toSeq
  }

  test("pinned: a mixed string column, -0.0, a pruned read, a header " +
      "dropped inside chunk 0, dictionary and plain string columns") {
    def inl(s: String) = s"""<c t="inlineStr"><is><t>$s</t></is></c>"""
    def sh(i: Int) = s"""<c t="s"><v>$i</v></c>"""
    def num(v: String) = s"""<c><v>$v</v></c>"""
    val sheet = sheetOf(
      inl("junk"),
      inl("s") + inl("n"),
      sh(0) + num("1"),
      inl("in&amp;line") + num("-0.0"),
      """<c t="str"><v>fx</v></c>""" + num("-0"),
      num("2.5") + num("3"),
      sh(7) + num("4"),
      """<c t="b"><v>1</v></c>""" + num("5"),
      sh(1) + """<c t="e"><v>#N/A</v></c>""")
    val bytes = workbookZip(sheet) // fuzz table: alpha, beta, ""
    val path = tempFile(bytes)
    val plain = Map("skipRows" -> "1")
    val coerced = plain + ("coerceToString" -> "true")
    // id 7 is past the table's end; entry 1 is rich text "be" + "ta"
    assert(oracleRows(bytes, plain) == Right(Seq(
      Seq("alpha", "1.0"), Seq("in&line", "-0.0"), Seq("fx", "-0.0"),
      Seq("∅", "3.0"), Seq("∅", "4.0"), Seq("∅", "5.0"), Seq("beta", "∅"))))
    assert(oracleRows(bytes, coerced).toOption.get(3) == Seq("2.500000", "3.0"))
    assert(oracleRows(bytes, coerced).toOption.get(5) == Seq("TRUE", "5.0"))
    Seq(plain, coerced).foreach { kv =>
      Seq(None, Some(Seq("n")), Some(Seq("s"))).foreach { keep =>
        val want = oracleRows(bytes, kv, keep).toOption.get
        Seq((1, 1 << 20), (2, 1 << 20), (2, 40), (3, 130)).foreach { case (t, cb) =>
          assert(columnarRows(path, kv + ("chunkBytes" -> cb.toString), t, keep) == want,
            s"t=$t cb=$cb $kv $keep")
        }
      }
    }
    // -0.0 keeps its sign bit
    val negZero = columnarRows(path, plain, 2, Some(Seq("n")))
    assert(negZero(1) == Seq("-0.0") && negZero(2) == Seq("-0.0"))
    // one chunk: the junk row and the header are chunk 0's dropped rows
    assert(columnarRows(path, plain + ("hasHeader" -> "true"), 2) ==
      oracleRows(bytes, plain + ("hasHeader" -> "true")).toOption.get)
    // shared-string cells make a dictionary column, at threads 1 and 2
    assert(dictionaryFlags(path, plain, 1, 0) == Seq(true))
    assert(dictionaryFlags(path, plain, 2, 0) == Seq(true))
    // a string column of inline strings only is written plain
    val inline = tempFile(workbookZip(sheetOf(inl("h"), inl("a"), inl("b"))))
    assert(dictionaryFlags(inline, Map("hasHeader" -> "true"), 1, 0) == Seq(false))
    assert(dictionaryFlags(inline, Map("hasHeader" -> "true"), 2, 0) == Seq(false))
    assert(columnarRows(inline, Map("hasHeader" -> "true"), 2) == Seq(Seq("a"), Seq("b")))
  }
}
