package graft.sources.xlsx

import java.io.{ByteArrayOutputStream, File}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ods.OdsWriter

/** [[GraftTestFs]] under the scheme `countfs`, recording every byte range
  * its streams read: (archive offset, length). */
final class CountingTestFs extends GraftTestFs {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    new FSDataInputStream(new FSInputStream {
      private def record(pos: Long, n: Int): Int = {
        if (n > 0) CountingTestFs.reads.add((pos, n))
        n
      }
      override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
        record(position, in.read(position, b, off, len))
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        record(in.getPos, in.read(b, off, len))
      override def read(): Int = {
        val pos = in.getPos
        val c = in.read()
        if (c >= 0) record(pos, 1)
        c
      }
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = false
      override def close(): Unit = in.close()
    })
  }
}

object CountingTestFs {
  val reads = new ConcurrentLinkedQueue[(Long, Int)]()
}

/** The archive reader against `java.util.zip.ZipFile`: every entry of
  * every archive reads byte-identical through [[ZipRaw]] — from a byte
  * array, a local file and a Hadoop file system — and a workbook read
  * touches only the central directory and the entries it needs. */
class XlsxZipReaderSpec extends AnyFunSuite {
  private val conf = {
    val c = new Configuration()
    Seq("graftfs" -> classOf[GraftTestFs], "countfs" -> classOf[CountingTestFs]).foreach {
      case (scheme, cls) =>
        c.set(s"fs.$scheme.impl", cls.getName)
        c.set(s"fs.$scheme.impl.disable.cache", "true")
    }
    c
  }

  private def tempFile(bytes: Array[Byte], suffix: String = ".xlsx"): File = {
    val f = File.createTempFile("zipreader", suffix)
    f.deleteOnExit()
    Files.write(f.toPath, bytes)
    f
  }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/xlsx-golden/$name")
    try in.readAllBytes() finally in.close()
  }

  /** Every entry of `bytes` through `ZipFile`, and through the reader over
    * each of its three sources: the same names, the same bytes. */
  private def sameAsZipFile(what: String, bytes: Array[Byte]): Unit = {
    val f = tempFile(bytes)
    val zf = new ZipFile(f)
    val want = try zf.entries().asScala.map { e =>
      val in = zf.getInputStream(e)
      e.getName -> (try in.readAllBytes() finally in.close())
    }.toMap finally zf.close()
    assert(want.nonEmpty, what)
    val archives = Seq(TestArchives.archive(bytes), ZipRaw.Archive.at(f.getPath, conf),
      ZipRaw.Archive.at(s"graftfs://${f.getPath}", conf))
    archives.foreach { a =>
      val names = a.read((_, dir) => dir.entries.map(_.name))
      assert(names.sorted == want.keys.toSeq.sorted, s"$what through ${a.path}")
      names.foreach { name =>
        val (in, closeAll) = a.open(name).get
        val got = try in.readAllBytes() finally closeAll()
        assert(java.util.Arrays.equals(got, want(name)), s"$what: $name through ${a.path}")
      }
      assert(a.open("no/such/entry").isEmpty)
    }
  }

  private def written(c: WriterGoldenData.Case): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    XlsxWriter.write(out, Seq(XlsxWriter.SheetSpec("Golden", c.header, c.rows())))
    out.toByteArray
  }

  test("every entry reads byte-identical through the reader and ZipFile: " +
      "golden, fuzz, zip64, STORED, data-descriptor and ods archives") {
    val rnd = new Random(13)
    val fuzz = (1 to 20).map(i => s"fuzz $i" ->
      SheetFuzz.workbookZip(SheetFuzz.randomSheet(rnd)))
    val golden = ("v2-segments.xlsx" -> resource("v2-segments.xlsx")) +:
      WriterGoldenData.Cases.map(c => s"golden ${c.name}" -> written(c))
    val parts = Seq("xl/workbook.xml" -> SheetFuzz.workbookXml,
      "xl/_rels/workbook.xml.rels" -> SheetFuzz.relsXml,
      "xl/sharedStrings.xml" -> SheetFuzz.sharedXml,
      "xl/worksheets/sheet1.xml" -> SheetFuzz.randomSheet(rnd),
      "empty.bin" -> "").map { case (n, c) => n -> c.getBytes(UTF_8) }
    val stored = Seq("stored" -> TestArchives.zip(parts, parts.map(_._1).toSet),
      "data descriptors" -> TestArchives.zip(parts))
    val ods = {
      val out = new ByteArrayOutputStream()
      val w = OdsWriter.sheetWriter(out, "S", Some(Seq("a", "b")), 1)
      (1 to 2000).foreach(i => w.addRow(Seq(i.toLong, s"text $i")))
      w.finish()
      "ods" -> out.toByteArray
    }
    val plain = golden ++ fuzz ++ stored :+ ods
    (plain ++ plain.map { case (n, b) => s"$n, zip64" -> Zip64Force.rewrite(b) })
      .foreach { case (what, bytes) => sameAsZipFile(what, bytes) }
  }

  test("a workbook read through a file system reads the central directory " +
      "and the entries it needs, each sheet byte once") {
    val Sheet = "xl/worksheets/sheet1.xml"
    val rnd = new Random(7)
    def sheet(rows: Int) = (1 to rows).map { i =>
      s"""<row r="$i"><c r="A$i"><v>${rnd.nextInt()}</v></c><c r="B$i" t="inlineStr"><is><t>t${rnd.nextLong()}</t></is></c></row>"""
    }.mkString("<worksheet><sheetData>", "", "</sheetData></worksheet>")
    // no shared strings; a second sheet and a docProps part the read never needs
    val bytes = TestArchives.zip(Seq("docProps/app.xml" -> "<Properties/>",
      "xl/workbook.xml" -> SheetFuzz.workbookXml,
      "xl/_rels/workbook.xml.rels" -> SheetFuzz.relsXml,
      "xl/styles.xml" -> SheetFuzz.stylesXml,
      Sheet -> sheet(30000),
      "xl/worksheets/sheet2.xml" -> sheet(3000)).map { case (n, c) => n -> c.getBytes(UTF_8) })
    val f = tempFile(bytes)
    val cd = TestArchives.centralEntries(bytes)
    val cdStart = cd.map(_.cdOffset).min
    def span(name: String): (Long, Long) = {
      val (_, until) = TestArchives.dataRange(bytes, name)
      (cd.find(_.name == name).get.localOffset.toLong, until.toLong)
    }
    val needed = Seq("xl/workbook.xml", "xl/_rels/workbook.xml.rels", "xl/styles.xml", Sheet)
      .map(span) :+ ((cdStart.toLong, bytes.length.toLong))
    val (sheetFrom, sheetUntil) = TestArchives.dataRange(bytes, Sheet)
    Seq(1, 2).foreach { threads =>
      CountingTestFs.reads.clear()
      val wb = XlsxDataSource.workbook(s"countfs://${f.getPath}", conf)
      val it = wb.rowIterator(wb.sheetPath(None, 1), threads)
      var n = 0
      try while (it.hasNext) { it.next(); n += 1 } finally it.close()
      assert(n == 30000)
      val reads = CountingTestFs.reads.asScala.toSeq
      reads.foreach { case (pos, len) =>
        assert(needed.exists { case (a, b) => pos >= a && pos + len <= b },
          s"threads $threads read [$pos, ${pos + len}), outside the directory and the needed entries")
      }
      val times = new Array[Int](sheetUntil - sheetFrom)
      reads.foreach { case (pos, len) =>
        (math.max(pos, sheetFrom.toLong) until math.min(pos + len, sheetUntil.toLong))
          .foreach(i => times((i - sheetFrom).toInt) += 1)
      }
      assert(times.forall(_ == 1), s"threads $threads: sheet bytes read " +
        s"${times.min} to ${times.max} times")
    }
  }
}
