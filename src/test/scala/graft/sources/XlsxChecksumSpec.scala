package graft.sources.xlsx

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import graft.SparkSpec

import scala.util.Try

/** The stream path checks each worksheet's CRC-32: a byte flipped in a
  * `ZipFile`-read sheet fails the read with an error that names the file
  * and the entry, never returning wrong rows. The flips here keep the
  * sheet well formed and its rows the same shape — a digit becomes another
  * digit inside a `<v>` — so only the checksum can tell. The sheet is
  * deflated at level 0 (stored deflate blocks, where its text lies in the
  * archive as it is) or STORED. The object-store path (`ZipInputStream`)
  * checks the CRC-32 itself once a scan reads the entry to its end. */
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
        // the object-store path: ZipInputStream's own check at entry end
        val streamed = new XlsxParser.Workbook(() => new java.io.ByteArrayInputStream(bad))
        Seq(1, 2).foreach { t =>
          val e = intercept[Exception] {
            val it = streamed.rowIterator(Sheet, t)
            try while (it.hasNext) it.next() finally it.close()
          }
          assert(messages(e).contains("invalid entry CRC"), s"stream threads $t: ${messages(e)}")
        }
      }
    }
  }

  test("a byte flipped in a compressed sheet gives an error or the right " +
      "rows, never wrong rows") {
    val good = workbook(9)
    val want = read(tempFile(good), 1)
    val zf = new java.util.zip.ZipFile(tempFile(good))
    val (from, until) =
      try {
        val raw = ZipRaw.locate(new java.io.File(zf.getName), Sheet).get
        (raw.dataOffset, raw.dataOffset + raw.compressedSize)
      } finally zf.close()
    var named = 0
    (1 to 8).foreach { k =>
      val at = (from + (until - from) * k / 9).toInt
      val bad = good.clone()
      bad(at) = (bad(at) ^ 0x10).toByte
      val f = tempFile(bad)
      Seq(1, 2).foreach { t =>
        Try(read(f, t)).fold(
          e => if (messages(e).contains(s"${f.getPath}: worksheet $Sheet is corrupt")) named += 1,
          got => assert(got == want, s"flip at $at threads $t read wrong rows"))
      }
    }
    assert(named > 0)
  }
}
