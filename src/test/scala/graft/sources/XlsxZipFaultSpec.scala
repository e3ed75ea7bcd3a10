package graft.sources.xlsx

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Damaged and unusual archives through the DSv2 read, on a local file and
  * through the `graftfs` scheme: every read gives the rows of the intact
  * workbook or an error that names the file — never wrong rows, never a
  * hang, and never an `xlsx-*` thread left running. */
class XlsxZipFaultSpec extends SparkSpec {
  private val Sheet = "xl/worksheets/sheet1.xml"
  private val rows = 20000

  /** Foreign rows: a number, a shared string (or an inline string when
    * the workbook has no table) and a fraction per row. */
  private def sheetXml(shared: Boolean): Array[Byte] = (1 to rows).map { i =>
    val s = if (shared) s"""<c r="B$i" t="s"><v>${i % 50}</v></c>"""
      else s"""<c r="B$i" t="inlineStr"><is><t>word ${i % 50}</t></is></c>"""
    s"""<row r="$i"><c r="A$i"><v>$i</v></c>$s<c r="C$i"><v>${i % 97}.25</v></c></row>"""
  }.mkString("<worksheet><sheetData>", "", "</sheetData></worksheet>").getBytes(UTF_8)

  private val sharedXml: Array[Byte] = (0 until 50).map(k => s"<si><t>word $k</t></si>")
    .mkString("<sst>", "", "</sst>").getBytes(UTF_8)

  private def foreign(shared: Boolean = true, stored: Set[String] = Set.empty): Array[Byte] =
    TestArchives.zip(Seq("xl/workbook.xml" -> SheetFuzz.workbookXml.getBytes(UTF_8),
      "xl/_rels/workbook.xml.rels" -> SheetFuzz.relsXml.getBytes(UTF_8)) ++
      (if (shared) Seq("xl/sharedStrings.xml" -> sharedXml) else Nil) :+
      (Sheet -> sheetXml(shared)), stored)

  /** A graft-written workbook with a segment index (several segments). */
  private lazy val indexed: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    XlsxWriter.write(out, Seq(XlsxWriter.SheetSpec("S", Some(Seq("id", "s", "x")),
      Iterator.range(0, 30000).map(i => Seq(i.toLong, s"text $i " + "pad" * 40, i * 0.5)))))
    out.toByteArray
  }

  private def tempFile(bytes: Array[Byte]): File = {
    val f = File.createTempFile("zipfault", ".xlsx")
    f.deleteOnExit()
    Files.write(f.toPath, bytes)
    f
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getSimpleName}: ${t.getMessage}").mkString("; ")

  private def xlsxThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(t =>
      t.isAlive && t.getName.startsWith("xlsx-")).toSet

  /** `body` with the `graftfs` scheme registered in the session conf. */
  private def withScheme[T](body: => T): T = {
    val keys = Seq("fs.graftfs.impl" -> classOf[GraftTestFs].getName,
      "fs.graftfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** The rows of `path` at `threads` (None: AUTO), read within a minute;
    * afterwards no `xlsx-*` thread the read started is left running. */
  private def read(path: String, threads: Option[Int]): Either[Throwable, Seq[String]] = {
    val before = xlsxThreads()
    val run = Future {
      val r = spark.read.format("xlsx")
      threads.fold(r)(t => r.option("threads", t.toString)).load(path)
        .collect().map(_.toString).toSeq
    }(scala.concurrent.ExecutionContext.global)
    val got =
      try Right(Await.result(run, 60.seconds))
      catch {
        case e: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          fail(s"$path at threads $threads hung: $e")
        case e: Exception => Left(e)
      }
    val deadline = System.currentTimeMillis + 10000
    while ((xlsxThreads() -- before).nonEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(20)
    assert((xlsxThreads() -- before).isEmpty,
      s"$path at threads $threads left ${(xlsxThreads() -- before).map(_.getName)}")
    got
  }

  private val threadCases = Seq(Some(1), Some(2), None)

  /** `bad` read at every thread count, locally and through `graftfs`,
    * gives `want` or an error that names the file; every read that does
    * neither is listed in the failure. */
  private def rowsOrNamed(what: String, bad: Array[Byte], want: Seq[String],
      threads: Seq[Option[Int]] = threadCases): Unit = {
    val f = tempFile(bad)
    val wrong = for {
      path <- Seq(f.getAbsolutePath, s"graftfs://${f.getAbsolutePath}")
      t <- threads
      got = if (path.startsWith("graftfs")) withScheme(read(path, t)) else read(path, t)
      why <- got match {
        case Right(rs) if rs != want => Some("read wrong rows")
        case Left(e) if !messages(e).contains(f.getAbsolutePath) =>
          Some(s"failed without naming the file: ${messages(e).take(300)}")
        case _ => None
      }
    } yield s"$what: $path at threads ${t.getOrElse("AUTO")} $why"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  /** The intact rows of `good`, read locally at threads 1. */
  private def wantOf(good: Array[Byte]): Seq[String] = {
    val want = read(tempFile(good).getAbsolutePath, Some(1)).fold(e => throw e, identity)
    assert(want.nonEmpty)
    want
  }

  private def flipAt(bytes: Array[Byte], at: Int, len: Int = 1): Array[Byte] = {
    val copy = bytes.clone()
    (at until at + len).foreach(i => copy(i) = (copy(i) ^ 0x10).toByte)
    copy
  }

  test("a truncated archive gives its rows or an error that names the file") {
    val good = foreign()
    val want = wantOf(good)
    Seq(good.length / 2, good.length - 10, 100).foreach { n =>
      rowsOrNamed(s"cut at $n", java.util.Arrays.copyOf(good, n), want)
    }
  }

  test("a bit flipped in a deflated sheet gives the right rows or a named " +
      "error at threads 1, 2 and AUTO") {
    val good = foreign()
    val want = wantOf(good)
    val (from, until) = TestArchives.dataRange(good, Sheet)
    (1 to 3).foreach { k =>
      val at = from + (until - from) * k / 4
      rowsOrNamed(s"flip at $at", flipAt(good, at), want)
    }
  }

  test("a bit flipped in an indexed sheet's segment gives the right rows or " +
      "a named error on the segment-range read") {
    val want = wantOf(indexed)
    val (from, until) = TestArchives.dataRange(indexed, Sheet)
    (1 to 3).foreach { k =>
      val at = from + (until - from) * k / 4
      rowsOrNamed(s"segment flip at $at", flipAt(indexed, at), want, Seq(None))
    }
  }

  test("a STORED sheet reads its rows; 64 flipped bytes in it give a named error") {
    val want = wantOf(foreign())
    val stored = foreign(stored = Set(Sheet))
    rowsOrNamed("stored", stored, want)
    val (from, until) = TestArchives.dataRange(stored, Sheet)
    rowsOrNamed("stored flip", flipAt(stored, (from + until) / 2, 64), want)
  }

  test("data-descriptor entries, a forced-zip64 directory and a workbook " +
      "without shared strings read their rows") {
    val dd = foreign()
    assert(TestArchives.centralEntries(dd).forall(e => (e.flags & 8) != 0),
      "ZipOutputStream writes data descriptors")
    rowsOrNamed("data descriptors", dd, wantOf(dd))
    rowsOrNamed("zip64", Zip64Force.rewrite(indexed), wantOf(indexed))
    rowsOrNamed("zip64 foreign", Zip64Force.rewrite(dd), wantOf(dd))
    val noTable = foreign(shared = false)
    rowsOrNamed("no sharedStrings", noTable, wantOf(noTable))
  }

  test("an unsupported compression method fails with an error that names the file") {
    val good = foreign()
    val bad = good.clone()
    TestArchives.setMethod(bad, Sheet, 12) // bzip2
    rowsOrNamed("bzip2", bad, wantOf(good))
  }
}
