package graft.sources.xlsx

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Scale-safety guards on the xlsx scan: the sharedStrings memory cap (the
  * one per-task OOM risk a file can force) and the distributed allSheets
  * enumeration path (planning beyond driver-pool file counts).
  */
class XlsxGuardSpec extends SparkSpec {

  private def zipOf(entries: (String, String)*): Array[Byte] = {
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

  /** Workbook whose sharedStrings table holds `n` strings of `len` chars. */
  private def hotStringsWorkbook(n: Int, len: Int): Array[Byte] = {
    val sst = new StringBuilder("""<sst xmlns="x">""")
    (0 until n).foreach(i => sst.append(s"<si><t>${("s" + i) * (len / 2)}</t></si>"))
    sst.append("</sst>")
    val rows = (1 to n).map(i =>
      s"""<row r="$i"><c r="A$i" t="s"><v>${i - 1}</v></c></row>""").mkString
    zipOf(
      "xl/workbook.xml" ->
        """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/sharedStrings.xml" -> sst.toString,
      "xl/worksheets/sheet1.xml" ->
        s"""<worksheet><sheetData>$rows</sheetData></worksheet>""")
  }

  test("sharedStrings over the per-task byte budget aborts with a clear error") {
    val bytes = hotStringsWorkbook(n = 50, len = 100) // ~5 KB of string data
    val wb = TestArchives.workbook(bytes, maxSharedStringsBytes = 1000L)
    val e = intercept[IllegalStateException](wb.sharedStrings)
    assert(e.getMessage.contains("sharedStrings"), e.getMessage)
    assert(e.getMessage.contains("maxSharedStringsBytes"), e.getMessage)
    // same table under the default budget parses fine
    val ok = TestArchives.workbook(bytes)
    assert(ok.sharedStrings.length == 50)
    // ONE giant string must hit the guard too (enforced per append, not
    // only at </si> — otherwise the buffer doubles unboundedly first)
    val one = zipOf("xl/sharedStrings.xml" ->
      s"""<sst><si><t>${"y" * 5000}</t></si></sst>""")
    val wb1 = TestArchives.workbook(one, maxSharedStringsBytes = 1000L)
    val e1 = intercept[IllegalStateException](wb1.sharedStrings)
    assert(e1.getMessage.contains("sharedStrings"))
  }

  test("the budget is a DSv2 option, enforced during the scan") {
    val bytes = hotStringsWorkbook(n = 50, len = 100)
    val f = java.io.File.createTempFile("hotstrings", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    val e = intercept[Exception] {
      spark.read.format("xlsx")
        .option("max_shared_strings_bytes", "1000")
        .load(f.getAbsolutePath)
        .collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("; ")
    assert(msgs.contains("sharedStrings"), msgs)
    // default budget: reads clean (all 50 rows are string cells, row2 is a
    // string too, so header auto-detect keeps row1 as data)
    val ok = spark.read.format("xlsx").load(f.getAbsolutePath)
    assert(ok.count() == 50)
  }

  test("the budget is enforced where the whole table is decoded: schema " +
      "inference succeeds, the scan fails at threads 1 and 2") {
    val bytes = hotStringsWorkbook(n = 50, len = 100)
    val f = java.io.File.createTempFile("hotstrings", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    def load(threads: Int) = spark.read.format("xlsx")
      .option("max_shared_strings_bytes", "1000")
      .option("threads", threads.toString)
      .load(f.getAbsolutePath)
    // planning probes two rows against a prefix of the table, never the
    // whole of it, so the driver neither holds the table nor fails on it
    assert(load(1).schema.fieldNames.toSeq == Seq("String0"))
    def pipelineThreads(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter { t =>
        t.isAlive && (t.getName.startsWith("xlsx-parse-") ||
          t.getName == "xlsx-chunk-producer" || t.getName == "xlsx-inflate")
      }.toSet
    val before = pipelineThreads()
    Seq(1, 2).foreach { threads =>
      val e = intercept[Exception](load(threads).collect())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("; ")
      assert(msgs.contains(SharedStringsScanner.guardMessage(1000L)),
        s"threads=$threads: $msgs")
    }
    // the failed parallel scan tore its pipeline down
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((pipelineThreads() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert((pipelineThreads() -- before).isEmpty,
      (pipelineThreads() -- before).map(_.getName))
  }

  test("distributed allSheets enumeration returns the driver-pool partitions") {
    // 3 files x 2 sheets; cutover=1 forces the Spark-job path
    val paths = (1 to 3).map { i =>
      val bos = new ByteArrayOutputStream()
      XlsxWriter.write(bos, Seq(
        XlsxWriter.SheetSpec(s"A$i", Some(Seq("x")), Iterator(Seq[Any](1.0))),
        XlsxWriter.SheetSpec(s"B$i", Some(Seq("x")), Iterator(Seq[Any](2.0)))))
      val f = java.io.File.createTempFile(s"multi$i", ".xlsx")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath, bos.toByteArray)
      f.getAbsolutePath
    }
    val opts = XlsxOptions.from(new CaseInsensitiveStringMap(
      Map("allSheets" -> "true").asJava))
    spark // force session init so getActiveSession is defined
    val driverSide = XlsxScan.partitionsFor(paths, opts)
      .map(_.asInstanceOf[XlsxInputPartition]).toSeq
    val distributed = XlsxScan.partitionsFor(paths, opts, cutover = 1)
      .map(_.asInstanceOf[XlsxInputPartition]).toSeq
    assert(driverSide.size == 6)
    assert(distributed == driverSide)
  }
}
