package graft.sources.xlsx

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions.{col, sum}

/** The local file system under the scheme `graftfs`: a stand-in object
  * store that only a session conf registers (`fs.graftfs.impl`), so a
  * workbook read through it takes the Hadoop positioned-read source
  * (`FSDataInputStream.readFully(position, …)`) instead of a local
  * `FileChannel`. */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** A workbook that is not a local file: a DSv2 read reaches it through a
  * Hadoop file system the session conf alone registers, so every reader
  * rebuilds the conf the planner captured; an archive it cannot read fails
  * with an error that names the workbook. */
class XlsxObjectStoreSpec extends SparkSpec {
  private val rows = 30000

  /** `body` with the `graftfs` scheme set in the session conf only, its
    * file systems never cached, so a reader that built a bare
    * `Configuration` would find no file system for the scheme. */
  private def withScheme[T](body: => T): T = {
    val keys = Seq("fs.graftfs.impl" -> classOf[GraftTestFs].getName,
      "fs.graftfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def remote(f: File): String = s"graftfs://${f.getAbsolutePath}"

  /** A graft-written workbook of `rows` rows (id, text, half), 3+ segments. */
  private lazy val workbook: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    XlsxWriter.write(out, Seq(XlsxWriter.SheetSpec("S", Some(Seq("id", "s", "x")),
      Iterator.range(0, rows).map(i => Seq(i.toLong, s"text $i " + "pad" * 40, i * 0.5)))))
    out.toByteArray
  }

  private def tempFile(bytes: Array[Byte]): File = {
    val f = File.createTempFile("objstore", ".xlsx")
    f.deleteOnExit()
    Files.write(f.toPath, bytes)
    f
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("; ")

  test("a DSv2 read through a file system registered only in the session " +
      "conf serves every reader, at AUTO threads and at threads 1") {
    val f = tempFile(workbook)
    withScheme {
      Seq(None, Some("1")).foreach { threads =>
        val reader = spark.read.format("xlsx")
        val df = threads.fold(reader)(reader.option("threads", _)).load(remote(f))
        // not a local file, split all the same: at AUTO into
        // min(segments, cores) segment ranges, at threads 1 not at all
        val segments = TestArchives.workbook(workbook)
          .segmentIndexRaw("xl/worksheets/sheet1.xml").get.segments
        assert(segments >= 3)
        assert(df.rdd.getNumPartitions ==
          (if (threads.isEmpty) math.min(segments, XlsxScan.executorCores()) else 1))
        val r = df.agg(sum(col("id")), sum(col("x"))).head()
        assert(r.getDouble(0).toLong == rows.toLong * (rows - 1) / 2, threads)
        assert(df.filter(col("s").endsWith("pad")).count() == rows, threads)
      }
    }
  }

  test("a truncated copy and a non-zip file fail with " +
      "`<path>: not a readable zip archive`, through DSv2 and the Workbook") {
    val truncated = java.util.Arrays.copyOf(workbook, workbook.length / 2)
    val html = "<html><body>503 Service Unavailable</body></html>".getBytes(UTF_8)
    Seq("truncated" -> truncated, "html" -> html).foreach { case (what, bytes) =>
      val f = tempFile(bytes)
      val e = withScheme(intercept[Exception] {
        spark.read.format("xlsx").load(remote(f)).collect()
      })
      assert(messages(e).contains(s"${f.getAbsolutePath}: not a readable zip archive ("),
        s"$what: ${messages(e)}")
      val wb = TestArchives.workbook(bytes, path = s"mem/$what.xlsx")
      val e2 = intercept[Exception] {
        val it = wb.rowIterator(wb.sheetPath(None, 1))
        try while (it.hasNext) it.next() finally it.close()
      }
      assert(messages(e2).contains(s"mem/$what.xlsx: not a readable zip archive ("),
        s"$what: ${messages(e2)}")
    }
  }
}
