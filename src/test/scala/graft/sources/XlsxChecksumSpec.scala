package graft.sources.xlsx

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import graft.SparkSpec

import scala.util.Try

/** The archive reader checks each entry's CRC-32: a byte flipped in a
  * sheet fails the read with an error that names the file and the entry,
  * never returning wrong rows. The first flips keep the sheet well formed
  * and its rows the same shape — a digit becomes another digit inside a
  * `<v>` — so only the checksum can tell; `ZipFile`, which checks nothing,
  * is the oracle that they do. The sheet is deflated at level 0 (stored
  * deflate blocks, where its text lies in the archive as it is), at level
  * 9, or STORED. A flip that makes a row look ragged reports the
  * corruption, not the ragged row. */
class XlsxChecksumSpec extends SparkSpec {
  private val Sheet = "xl/worksheets/sheet1.xml"
  private val rows = 3000

  private val sheetXml: Array[Byte] = (1 to rows).map { i =>
    s"""<row r="$i"><c r="A$i"><v>${i * 7}</v></c><c r="B$i"><v>${i % 10}.25</v></c></row>"""
  }.mkString("<worksheet><sheetData>", "", "</sheetData></worksheet>")
    .getBytes(StandardCharsets.UTF_8)

  /** The workbook with its sheet deflated at `level`, or STORED when
    * `level` is negative. */
  private def workbook(level: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos, StandardCharsets.UTF_8)
    def put(name: String, content: Array[Byte]): Unit = {
      val e = new ZipEntry(name)
      if (name == Sheet && level < 0) {
        e.setMethod(ZipEntry.STORED)
        e.setSize(content.length.toLong)
        val crc = new CRC32
        crc.update(content)
        e.setCrc(crc.getValue)
      } else z.setLevel(if (name == Sheet) level else -1)
      z.putNextEntry(e)
      z.write(content)
      z.closeEntry()
    }
    put("xl/workbook.xml", SheetFuzz.workbookXml.getBytes(StandardCharsets.UTF_8))
    put("xl/_rels/workbook.xml.rels", SheetFuzz.relsXml.getBytes(StandardCharsets.UTF_8))
    put(Sheet, sheetXml)
    z.close()
    bos.toByteArray
  }

  private def tempFile(bytes: Array[Byte]): java.io.File = {
    val f = java.io.File.createTempFile("checksum", ".xlsx")
    f.deleteOnExit()
    Files.write(f.toPath, bytes)
    f
  }

  private def read(f: java.io.File, threads: Int): Seq[String] =
    spark.read.format("xlsx").option("threads", threads.toString)
      .load(f.getAbsolutePath).collect().map(_.toString).toSeq

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("; ")

  /** Offsets of 8 digits that open a `<v>`, spread over the archive's copy
    * of the sheet text. */
  private def digitsIn(zip: Array[Byte]): Seq[Int] = {
    val at = (0 until zip.length - 4).filter(i => zip(i) == '<' && zip(i + 1) == 'v' &&
      zip(i + 2) == '>' && Character.isDigit(zip(i + 3).toChar)).map(_ + 3)
    assert(at.length >= rows, s"sheet text not found in the archive: ${at.length}")
    (1 to 8).map(k => at(at.length * k / 9))
  }

  private def flipped(zip: Array[Byte], at: Int): Array[Byte] = {
    val copy = zip.clone()
    copy(at) = ('0' + (copy(at) - '0' + 1) % 10).toByte
    copy
  }

  test("a digit flipped in a ZipFile-read sheet fails with the named CRC-32 " +
      "error at threads 1 and 2, never wrong rows") {
    Seq(0, -1).foreach { level => // stored deflate blocks, then STORED
      val good = workbook(level)
      val want = read(tempFile(good), 1)
      assert(want.length == rows)
      digitsIn(good).foreach { at =>
        val bad = flipped(good, at)
        // the flip keeps the rows' shape: an unchecked scan reads wrong rows
        val unchecked = {
          val zf = new java.util.zip.ZipFile(tempFile(bad))
          val it = new SheetScanner(zf.getInputStream(zf.getEntry(Sheet)),
            Array.empty, Array.empty, () => zf.close())
          try it.map(_._2.toSeq).toList finally it.close()
        }
        assert(unchecked.length == rows && unchecked.forall(_.length == 2))
        val f = tempFile(bad)
        val named = s"${f.getPath}: worksheet $Sheet is corrupt: CRC-32 mismatch"
        Seq(1, 2).foreach { t =>
          val e = intercept[Exception](read(f, t))
          assert(messages(e).contains(named), s"level $level at $at threads $t: ${messages(e)}")
        }
        // a workbook read from memory: the same checked reader
        val streamed = TestArchives.workbook(bad, path = "mem/bad.xlsx")
        Seq(1, 2).foreach { t =>
          val e = intercept[Exception] {
            val it = streamed.rowIterator(Sheet, t)
            try while (it.hasNext) it.next() finally it.close()
          }
          assert(messages(e).contains(s"mem/bad.xlsx: worksheet $Sheet is corrupt: CRC-32 mismatch"),
            s"stream threads $t: ${messages(e)}")
        }
      }
    }
  }

  /** `bad` read at each of `threads` (None: AUTO) gives `want` or the
    * named corruption error of its sheet; returns how many reads erred. */
  private def rightOrCorrupt(bad: Array[Byte], want: Seq[String],
      threads: Seq[Option[Int]], what: String): Int = {
    val f = tempFile(bad)
    threads.count { t =>
      val r = spark.read.format("xlsx")
      Try(t.fold(r)(n => r.option("threads", n.toString)).load(f.getAbsolutePath)
          .collect().map(_.toString).toSeq).fold(
        e => {
          assert(messages(e).contains(s"${f.getPath}: worksheet $Sheet is corrupt"),
            s"$what threads $t: ${messages(e)}")
          true
        },
        got => { assert(got == want, s"$what threads $t read wrong rows"); false })
    }
  }

  private def sheetData(zip: Array[Byte]): (Int, Int) = TestArchives.dataRange(zip, Sheet)

  test("a byte flipped in a compressed sheet gives an error or the right " +
      "rows, never wrong rows") {
    val good = workbook(9)
    val want = read(tempFile(good), 1)
    val (from, until) = sheetData(good)
    val erred = (1 to 8).map { k =>
      val at = from + (until - from) * k / 9
      val bad = good.clone()
      bad(at) = (bad(at) ^ 0x10).toByte
      rightOrCorrupt(bad, want, Seq(Some(1), Some(2)), s"flip at $at")
    }.sum
    assert(erred > 0)
  }

  test("64 bytes flipped in a STORED sheet give the named corruption error, " +
      "not a ragged row, at threads 1, 2 and AUTO") {
    val good = workbook(-1)
    val want = read(tempFile(good), 1)
    val (from, until) = sheetData(good)
    (1 to 4).foreach { k =>
      val at = from + (until - from) * k / 5
      val bad = good.clone()
      (at until at + 64).foreach(i => bad(i) = (bad(i) ^ 0x10).toByte)
      assert(rightOrCorrupt(bad, want, Seq(Some(1), Some(2), None), s"flip at $at") == 3)
    }
  }

  test("a genuinely ragged sheet still reports its ragged row") {
    val sheet = ("<worksheet><sheetData><row r=\"1\"><c r=\"A1\"><v>1</v></c></row>" +
      "<row r=\"2\"><c r=\"A2\"><v>2</v></c><c r=\"B2\"><v>3</v></c></row>" +
      "</sheetData></worksheet>").getBytes(StandardCharsets.UTF_8)
    val f = tempFile(SheetFuzz.zip("xl/workbook.xml" -> SheetFuzz.workbookXml,
      "xl/_rels/workbook.xml.rels" -> SheetFuzz.relsXml,
      Sheet -> new String(sheet, StandardCharsets.UTF_8)))
    Seq(1, 2).foreach { t =>
      val e = intercept[Exception](read(f, t))
      assert(messages(e).contains("Row 2 has more columns than the first row"),
        s"threads $t: ${messages(e)}")
    }
  }
}
