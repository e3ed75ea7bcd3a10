package graft.sources.xlsx

import java.io.{File, FileInputStream, FileOutputStream, OutputStream, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.{CRC32, Deflater, ZipFile, ZipInputStream}

import graft.SparkSpec
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.functions.{col, sum, udf}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import scala.jdk.CollectionConverters._

/** The xlsx writer's container and encoder: the sheet XML equals what the
  * previous writer (a `java.io.Writer` over a `ZipOutputStream`) wrote for
  * every value type, whatever the deflate thread count; the archive reads
  * through the sources' zip reader and both JDK ones; the zip64 record forms read
  * back past 4 GiB; a corrupt segment fails with a named error; and an
  * aborted write leaves neither a file nor a thread behind. */
class XlsxWriterSpec extends SparkSpec with Eventually {
  import WriterGoldenData.Case
  import XlsxWriterSpec.deflateThreads

  private val Sheet = "xl/worksheets/sheet1.xml"

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/xlsx-golden/$name")
    try in.readAllBytes() finally in.close()
  }

  private def tempFile(prefix: String): File = {
    val f = File.createTempFile(prefix, ".xlsx")
    f.deleteOnExit()
    f
  }

  /** The writers under test: `XlsxWriter.write`, and the streaming writer
    * at 1, 2 and 4 deflate threads. */
  private val writers: Seq[(String, (OutputStream, Case) => Unit)] =
    ("write", (out: OutputStream, c: Case) =>
      XlsxWriter.write(out, Seq(XlsxWriter.SheetSpec("Golden", c.header, c.rows())))) +:
    Seq(1, 2, 4).map { t =>
      (s"threads $t", (out: OutputStream, c: Case) => {
        val w = new XlsxWriter.StreamingWorkbookWriter(out, "Golden", c.header, t)
        c.rows().foreach(w.addRow)
        w.finish()
      })
    }

  private def written(c: Case, w: (OutputStream, Case) => Unit): File = {
    val f = tempFile(s"golden-${c.name}")
    w(new FileOutputStream(f), c)
    f
  }

  private def entryBytes(f: File, name: String): Array[Byte] = {
    val z = new ZipFile(f)
    try {
      val in = z.getInputStream(z.getEntry(name))
      try in.readAllBytes() finally in.close()
    } finally z.close()
  }

  private def workbook(f: File) =
    TestArchives.workbook(f)

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  /** (uncompressed offset, rows before) of every cut the segment rule
    * puts into `xml`: after the first row that ends at or past
    * [[XlsxWriter.SegmentBytes]] bytes into its segment. */
  private def ruleCuts(xml: Array[Byte]): Seq[(Long, Long)] = {
    val s = new String(xml, java.nio.charset.StandardCharsets.ISO_8859_1)
    val cuts = Seq.newBuilder[(Long, Long)]
    var segStart = 0L
    var rows = 0L
    var p = s.indexOf("</row>")
    while (p >= 0) {
      rows += 1
      val end = p + "</row>".length
      if (end - segStart >= XlsxWriter.SegmentBytes) {
        cuts += ((end.toLong, rows))
        segStart = end
      }
      p = s.indexOf("</row>", end)
    }
    cuts.result()
  }

  /** The previous writer's figures for the multi-segment sheet: the SHA-256
    * and length of its XML, and how many cuts it made. */
  private lazy val manyGolden: (String, Int, Int) = {
    val lines = new String(resource("many.txt"), UTF_8).linesIterator.toSeq
    (lines.head.stripPrefix("sha256 "), lines(1).stripPrefix("length ").toInt,
      lines.count(_.startsWith("cut ")))
  }

  test("sheet XML equals the previous writer's byte for byte for every value " +
      "type, at threads 1, 2 and 4, with cuts by the segment rule") {
    WriterGoldenData.Cases.foreach { c =>
      val files = writers.map { case (label, w) => label -> written(c, w) }
      val xml = entryBytes(files.head._2, Sheet)
      if (c.name == "many") {
        val (sha, length, previousCuts) = manyGolden
        assert(xml.length == length && sha256(xml) == sha, "many: XML differs")
        assert(ruleCuts(xml).length == previousCuts)
      } else
        assert(java.util.Arrays.equals(xml, resource(c.name + ".xml")),
          s"${c.name}: XML differs from the golden copy")
      // each segment deflates alone, so the thread count cannot change a byte
      val bytes = Files.readAllBytes(files.head._2.toPath)
      files.tail.foreach { case (label, f) =>
        assert(java.util.Arrays.equals(Files.readAllBytes(f.toPath), bytes),
          s"${c.name}: $label wrote a different archive")
      }
      val seg = workbook(files.head._2).segmentIndexRaw(Sheet)
      val cuts = seg.toSeq.flatMap(_.cuts.toSeq.map(cut => (cut(1), cut(2))))
      assert(cuts == ruleCuts(xml), s"${c.name}: cuts")
      if (c.name == "many") {
        assert(cuts.length >= 4, "the multi-segment case needs 5+ segments")
        val s = seg.get
        assert(s.segmentCrcs.length == s.segments)
        (0 until s.segments).foreach { k =>
          val crc = new CRC32
          crc.update(xml, s.uncompressedStart(k).toInt, s.uncompressedLength(k))
          assert(crc.getValue.toInt == s.segmentCrcs(k), s"segment $k CRC")
        }
      }
    }
  }

  /** `in(from until from + len)` deflated raw at `level` on a fresh
    * `Deflater`, ending in FULL_FLUSH or, when `last`, in `finish`. */
  private def deflated(level: Int, in: Array[Byte], from: Int, len: Int,
      last: Boolean): Array[Byte] = {
    val d = new Deflater(level, true)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 << 10)
    try {
      d.setInput(in, from, len)
      if (last) {
        d.finish()
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      } else {
        var n = buf.length
        while (n == buf.length) {
          n = d.deflate(buf, 0, buf.length, Deflater.FULL_FLUSH)
          out.write(buf, 0, n)
        }
      }
    } finally d.end()
    out.toByteArray
  }

  private def rawBytes(f: File, offset: Long, len: Int): Array[Byte] = {
    val raf = new RandomAccessFile(f, "r")
    try {
      val b = new Array[Byte](len)
      raf.seek(offset)
      raf.readFully(b)
      b
    } finally raf.close()
  }

  test("every segment is its XML deflated alone at level 4, ending in a " +
      "FULL_FLUSH or, the last, in finish; every other entry in one finish") {
    assert(XlsxWriter.DeflateLevel == 4)
    val c = WriterGoldenData.Cases.last
    val f = written(c, writers(2)._2)
    val xml = entryBytes(f, Sheet)
    val seg = workbook(f).segmentIndexRaw(Sheet).get
    assert(seg.segments >= 3)
    (0 until seg.segments).foreach { k =>
      val start = seg.compressedStart(k)
      val raw = rawBytes(f, seg.dataOffset + start,
        (seg.compressedStart(k + 1) - start).toInt)
      val want = deflated(4, xml, seg.uncompressedStart(k).toInt,
        seg.uncompressedLength(k), last = k == seg.segments - 1)
      assert(java.util.Arrays.equals(raw, want), s"segment $k")
    }
    val zf = new ZipFile(f)
    val others = try zf.entries().asScala.map(_.getName).filter(_ != Sheet).toList
      finally zf.close()
    assert(others.contains(XlsxWriter.segmentIndexName(Sheet)))
    others.foreach { name =>
      val content = entryBytes(f, name)
      val re = TestArchives.locate(f, name).get
      assert(java.util.Arrays.equals(rawBytes(f, re.dataOffset, re.compressedSize.toInt),
        deflated(4, content, 0, content.length, last = true)), name)
    }
  }

  test("the archive reads through ZipFile, ZipInputStream and ZipRaw with " +
      "equal CRC and sizes, and again after Zip64Force.rewrite") {
    WriterGoldenData.Cases.foreach { c =>
      val f = written(c, writers(2)._2)
      val zf = new ZipFile(f)
      val meta = try zf.entries().asScala.map { e =>
        e.getName -> (e.getCrc, e.getCompressedSize, e.getSize)
      }.toMap finally zf.close()
      assert(meta.contains(Sheet) && meta.contains("xl/styles.xml"))
      assert(meta.contains(XlsxWriter.segmentIndexName(Sheet)) == (c.name == "many"))
      // the streaming oracle: ZipInputStream checks each data descriptor's
      // CRC and sizes against what it inflated
      val zin = new ZipInputStream(new FileInputStream(f))
      try {
        var n = 0
        var e = zin.getNextEntry
        while (e != null) {
          val body = zin.readAllBytes()
          assert(java.util.Arrays.equals(body, entryBytes(f, e.getName)))
          assert((e.getCrc, e.getCompressedSize, e.getSize) == meta(e.getName),
            s"${c.name}: ${e.getName}")
          n += 1
          e = zin.getNextEntry
        }
        assert(n == meta.size)
      } finally zin.close()
      meta.foreach { case (name, (crc, csize, size)) =>
        val re = TestArchives.locate(f, name).get
        assert((re.crc, re.compressedSize, re.uncompressedSize) == ((crc, csize, size)))
      }
      val f64 = tempFile(s"golden64-${c.name}")
      Files.write(f64.toPath, Zip64Force.rewrite(Files.readAllBytes(f.toPath)))
      assert(java.util.Arrays.equals(entryBytes(f64, Sheet), entryBytes(f, Sheet)))
      assert(TestArchives.locate(f64, Sheet) == TestArchives.locate(f, Sheet))
    }
  }

  test("zip64 record forms: ZipRaw and ZipFile read sizes and offsets past " +
      "4 GiB back from a synthetic archive") {
    // a sparse file: the 5 GiB "pad.bin" data is a hole that is never read
    // (a real write past 4 GiB is too slow for the unit suite)
    val f = tempFile("zip64-synthetic")
    try zip64Synthetic(f) finally f.delete()
  }

  private def zip64Synthetic(f: File): Unit = {
    val big = 5L << 30
    val pad = "pad.bin".getBytes(UTF_8)
    val name = "x.txt".getBytes(UTF_8)
    val content = "past four gibibytes".getBytes(UTF_8)
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(content)
    d.finish()
    val deflated = new Array[Byte](256)
    val dLen = d.deflate(deflated)
    d.end()
    val crc = { val c = new CRC32; c.update(content); c.getValue }
    val raf = new RandomAccessFile(f, "rw")
    val xOffset = try {
      raf.write(ZipRaw.localHeader(pad))
      raf.seek(30L + pad.length + big)
      raf.write(ZipRaw.dataDescriptor(0L, big, big + 1))
      val xOffset = raf.getFilePointer
      raf.write(ZipRaw.localHeader(name))
      raf.write(deflated, 0, dLen)
      raf.write(ZipRaw.dataDescriptor(crc, dLen, content.length))
      val cdOffset = raf.getFilePointer
      val cd = ZipRaw.centralHeader(pad, 0L, big, big + 1, 0L) ++
        ZipRaw.centralHeader(name, crc, dLen, content.length, xOffset)
      raf.write(cd)
      raf.write(ZipRaw.endRecords(2, cdOffset, cd.length))
      xOffset
    } finally raf.close()
    assert(xOffset > 0xffffffffL)
    assert(TestArchives.locate(f, "pad.bin") ==
      Some(TestArchives.RawEntry(30L + pad.length, big, 8, 0L, big + 1)))
    assert(TestArchives.locate(f, "x.txt") ==
      Some(TestArchives.RawEntry(xOffset + 30 + name.length, dLen, 8, crc, content.length)))
    val zf = new ZipFile(f)
    try {
      val p = zf.getEntry("pad.bin")
      assert(p.getCompressedSize == big && p.getSize == big + 1)
      val x = zf.getEntry("x.txt")
      assert(x.getCrc == crc && x.getSize == content.length)
      val in = zf.getInputStream(x)
      try assert(new String(in.readAllBytes(), UTF_8) == "past four gibibytes")
      finally in.close()
    } finally zf.close()
    // the 8-byte data descriptor and the count overflow of the end record
    assert(ZipRaw.dataDescriptor(1L, big, 7L).length == 24)
    assert(ZipRaw.dataDescriptor(1L, 7L, 7L).length == 16)
    val end = ZipRaw.endRecords(70000L, 100L, 200L)
    val bb = java.nio.ByteBuffer.wrap(end).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(end.length == 98 && bb.getInt(0) == 0x06064b50 && bb.getLong(32) == 70000L)
    assert(bb.getInt(56) == 0x07064b50 && bb.getLong(64) == 300L)
  }

  test("a flipped byte in segment 2 fails with the segment's named error, " +
      "never wrong rows") {
    val good = written(WriterGoldenData.Cases.last, writers(1)._2)
    val seg = workbook(good).segmentIndexRaw(Sheet).get
    assert(seg.cuts.length >= 3)
    val from = seg.dataOffset + seg.cuts(1)(0) // segment 2 starts at cut 1
    val until = seg.dataOffset + seg.cuts(2)(0)
    val bytes = Files.readAllBytes(good.toPath)
    val forms = (1 to 8).map { i =>
      val at = (from + (until - from) * i / 9).toInt
      val bad = tempFile("flipped")
      val copy = bytes.clone()
      copy(at) = (copy(at) ^ 0x10).toByte
      Files.write(bad.toPath, copy)
      val named = s"$bad: worksheet $Sheet segment 2 is corrupt: "
      // segment-range read: the error comes before any row of the segment
      val it = workbook(bad).segmentRangeRows(Sheet, 2, 3).get
      val e = intercept[java.io.IOException](it.nextRow(SheetFuzz.noColumns.newChunk(0)))
      it.close()
      assert(e.getMessage.startsWith(named), e.getMessage)
      // the segmented parallel scan
      val par = workbook(bad).rowIterator(Sheet, threads = 4)
      val e2 = intercept[Exception](while (par.hasNext) par.next())
      par.close()
      assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
        .exists(t => t.getMessage != null && t.getMessage.startsWith(named)), e2)
      e.getMessage.stripPrefix(named)
    }
    assert(forms.contains("CRC-32 mismatch"), forms)
  }

  test("a version-2 index (no segment CRCs) still splits, read unchecked") {
    val f = tempFile("v2-index")
    Files.write(f.toPath, resource("v2-segments.xlsx"))
    val seg = workbook(f).segmentIndexRaw(Sheet).get
    assert(seg.segmentCrcs == null && seg.segments == 3)
    val df = spark.read.format("xlsx").load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 3)
    val r = df.agg(sum("id")).head()
    assert(r.getDouble(0).toLong == 1100L * 1101 / 2)
  }

  test("an aborted DSv2 write leaves no part file and no deflate thread; " +
      "AUTO picks 2 deflate threads for one partition and 1 for four on local[4]") {
    // rows of about 250 XML bytes: a partition's row 25000 is past two
    // segments, and every partition fails there
    val text = udf { (i: Long) =>
      if (i % 30000 == 25000L) throw new IllegalStateException("mid-stream failure")
      if (i % 30000 == 24999L) XlsxWriterSpec.seen = deflateThreads
      s"row $i " + "abcdefghij" * 10
    }
    Seq(1 -> Set("xlsx-deflate-1", "xlsx-deflate-2"), 4 -> Set.empty[String])
      .foreach { case (parts, want) =>
        val dir = Files.createTempDirectory("graft_abort_")
        quietly {
          val e = intercept[Exception](spark.range(0, 30000L * parts, 1, parts)
            .select(col("id"), text(col("id")).as("s"), (col("id") * 0.5).as("x"))
            .write.format("xlsx").mode("overwrite").save(dir.toString))
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("mid-stream failure")))
          // the failed job's other tasks end after `save` throws, and a
          // stopped pool's threads exit just after it terminates
          eventually(timeout(Span(30, Seconds))) {
            val left = dir.toFile.list().filter(_.contains("part-"))
            assert(left.isEmpty, s"$parts partitions left ${left.mkString(", ")}")
            assert(deflateThreads.isEmpty, s"$parts partitions left $deflateThreads")
          }
        }
        assert(XlsxWriterSpec.seen == want, s"$parts partitions")
      }
    val dir = Files.createTempDirectory("graft_written_").toString
    spark.range(0, 30000, 1, 1).select(col("id"), (col("id") * 0.5).as("x"))
      .write.format("xlsx").mode("overwrite").save(dir)
    eventually(timeout(Span(5, Seconds)))(assert(deflateThreads.isEmpty))
    assert(spark.read.format("xlsx").load(dir).count() == 30000)
  }

  test("the write node's SQL metrics carry the sheet's deflate time on every " +
      "thread and its XML and deflated bytes, equal to the central directory's") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_metrics_").toString
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // one partition on local[4]: AUTO deflates on 2 threads; rows of about
    // 250 XML bytes make 5 segments
    val write = try {
      spark.range(0, 20000, 1, 1)
        .select(col("id"), udf((i: Long) => s"row $i " + "abcdefghij" * 10)
          .apply(col("id")).as("s"), (col("id") * 0.5).as("x"))
        .write.format("xlsx").mode("overwrite").save(dir)
      Iterator.continually(plans.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .flatMap(_.collect { case n if n.metrics.contains(XlsxWrite.DeflateMs) => n })
        .next()
    } finally spark.listenerManager.unregister(listener)
    def metric(name: String): Long = write.metrics(name).value
    val f = new File(dir).listFiles().filter(_.getName.endsWith(".xlsx")).head
    val seg = workbook(f).segmentIndexRaw(Sheet).get
    assert(seg.segments >= 3)
    val zf = new ZipFile(f)
    val entry = try zf.getEntry(Sheet) finally zf.close()
    assert(metric(XlsxWrite.SheetXmlBytes) == entry.getSize)
    assert(metric(XlsxWrite.SheetDeflatedBytes) == entry.getCompressedSize)
    assert(metric(XlsxWrite.DeflateMs) > 0)
    assert(write.metrics.contains(XlsxWrite.DeflateWaitMs))
  }

  /** `body` with the failing task's expected error logs switched off. */
  private def quietly[T](body: => T): T = {
    val names = Seq("org.apache.spark.util.Utils",
      "org.apache.spark.sql.execution.datasources.v2")
    val levels = names.map(n => n -> LogManager.getLogger(n).getLevel)
    names.foreach(Configurator.setLevel(_, Level.OFF))
    try body finally levels.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  test("the AUTO thread rule: spare cores over partitions, capped at cores / 2") {
    assert(XlsxScan.autoThreads(cores = 4, parts = 1, share = 1.0) == 2)
    assert(XlsxScan.autoThreads(cores = 4, parts = 4, share = 0.25) == 1)
    assert(XlsxScan.autoThreads(cores = 4, parts = 9, share = 0.1) == 1)
    assert(XlsxScan.autoThreads(cores = 16, parts = 2, share = 0.5) == 8)
    assert(XlsxScan.autoThreads(cores = 16, parts = 8, share = 0.125) == 2)
  }
}

object XlsxWriterSpec {
  /** The deflate workers a UDF saw mid-write (local mode: same JVM). */
  @volatile var seen: Set[String] = Set.empty

  def deflateThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("xlsx-deflate-")).toSet
}
