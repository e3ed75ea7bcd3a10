package graft.sources.xlsx

import java.io.ByteArrayOutputStream

import graft.SparkSpec

import scala.jdk.CollectionConverters._

/** Intra-file parallel parsing (the reference's `threads` knob): the chunked
  * ParallelSheetScanner must be row-for-row identical to the sequential
  * scanner, through both the Workbook API and the DSv2 `threads` option,
  * and must clean up its threads on early close. (Adversarial-markup parity
  * is covered by XlsxScannerDifferentialSpec's chunked trials.)
  */
class XlsxParallelSpec extends SparkSpec {

  /** One ~multi-chunk workbook on disk: 20k rows of mixed types. */
  private lazy val file: java.io.File = {
    val bos = new ByteArrayOutputStream(16 << 20)
    val data = (1 to 20000).iterator.map { i =>
      Seq[Any](i.toLong, s"name-$i", i * 1.5,
        java.time.LocalDate.ofEpochDay(10000L + i % 1000), i % 2 == 0)
    }
    XlsxWriter.write(bos, Seq(XlsxWriter.SheetSpec("S", Some(Seq("id", "nm", "v", "d", "b")), data)))
    val f = java.io.File.createTempFile("parallel", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    f
  }

  private def drain(threads: Int, chunkBytes: Int = 0): Seq[(Long, Seq[XCell])] = {
    val wb = TestArchives.workbook(file)
    val it =
      if (chunkBytes > 0) {
        val (raw, closeAll) = wb.entryStreamForProbe("xl/worksheets/sheet1.xml")
        ParallelSheetScanner.rowIterator(raw, wb.sharedStrings, wb.dateStyles,
          threads, closeAll, chunkBytes)
      } else wb.rowIterator("xl/worksheets/sheet1.xml", threads)
    try it.map { case (i, cs) => (i, cs.toSeq) }.toList
    finally it.close()
  }

  /** The live threads of xlsx pipelines (producer, prefetch, parse and
    * deflate workers). */
  private def xlsxThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(t =>
      t.isAlive && t.getName.startsWith("xlsx-")).toSet

  test("parallel scanner is row-identical to sequential on a 20k-row workbook") {
    val seq = drain(1)
    assert(seq.size == 20001) // header + 20k
    assert(drain(4) == seq)
    assert(drain(2, chunkBytes = 64 << 10) == seq) // many small chunks
  }

  test("DSv2 threads option yields the same DataFrame") {
    val base = spark.read.format("xlsx").load(file.getAbsolutePath)
    val par = spark.read.format("xlsx").option("threads", "4")
      .load(file.getAbsolutePath)
    val a = base.collect().map(_.toString).sorted
    val b = par.collect().map(_.toString).sorted
    assert(a.length == 20000)
    assert(a.toSeq == b.toSeq)
  }

  test("worker-side conversion stitches indices and widths across many chunks") {
    val wb = TestArchives.workbook(file)
    val (raw, closeAll) = wb.entryStreamForProbe("xl/worksheets/sheet1.xml")
    // tiny chunks force dozens of chunks through the chunk face; the
    // workers scan each chunk into five coerced string columns, so a row's
    // non-null count is the number of cells its worker saw
    val five = org.apache.spark.sql.types.StructType(Seq("id", "nm", "v", "d", "b")
      .map(org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType)))
    val par = new ParallelSheetScanner(raw, threads = 3, closeAll,
      new RowColumns(five, five, coerce = true).chunkParser(wb.dateStyles),
      chunkBytes = 32 << 10)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
    var chunks = 0
    try while (par.advanceChunk()) {
      chunks += 1
      val batch = par.chunk.asInstanceOf[ColumnChunk].batch(wb.sharedStringBytes())
      assert(batch.numRows == par.chunkIdx.length)
      par.chunkIdx.indices.foreach { i =>
        val seen = (0 until 5).count(j => !batch.column(j).isNullAt(i))
        out += ((par.chunkIdx(i), seen, par.chunkWidths(i)))
      }
    } finally par.close()
    val seq = drain(1)
    assert(chunks > 10, s"only $chunks chunks")
    assert(out.size == seq.size)
    assert(out.map(_._1).toSeq == seq.map(_._1)) // stitched absolute indices
    assert(out.map(_._3).toSeq == seq.map(_._2.size)) // widths track the cells
    assert(out.forall(t => t._2 == t._3)) // the transform saw the same rows
  }

  test("skipRows and pushed filters behave identically under threads") {
    val bos = new ByteArrayOutputStream()
    XlsxWriter.write(bos, Seq(XlsxWriter.SheetSpec("S", None,
      Iterator[Seq[Any]](Seq("junk one"), Seq("junk two"),
        Seq("id", "v")) ++ (1 to 100).iterator.map(i => Seq[Any](i.toDouble, s"r$i")))))
    val f = java.io.File.createTempFile("skipthreads", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    def read(threads: Int) = spark.read.format("xlsx")
      .option("skipRows", "2").option("threads", threads.toString)
      .load(f.getAbsolutePath)
      .filter(org.apache.spark.sql.functions.col("id") <= 50)
      .collect().map(_.toString).sorted.toSeq
    assert(read(1).size == 50)
    assert(read(3) == read(1))
  }

  test("columnar chunk dealing: skipRows prefix spans many tiny chunks exactly") {
    // 3 junk rows + header + 300 data rows read with chunkBytes=256 —
    // dozens of chunks, so the header/skipRows prefix and the first data
    // rows land in DIFFERENT chunks and the producer's boundary-count
    // dealing (dropFor) must hand each worker exactly its share. Compare
    // against the sequential read, which drops rows one by one.
    val bos = new ByteArrayOutputStream()
    XlsxWriter.write(bos, Seq(XlsxWriter.SheetSpec("S", None,
      Iterator[Seq[Any]](Seq("junk a"), Seq("junk b"), Seq("junk c"),
        Seq("id", "v")) ++
        (1 to 300).iterator.map(i => Seq[Any](i.toDouble, s"row-$i")))))
    val f = java.io.File.createTempFile("chunkdeal", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    def read(extra: Map[String, String]) = {
      var r = spark.read.format("xlsx").option("skipRows", "3")
      extra.foreach { case (k, v) => r = r.option(k, v) }
      r.load(f.getAbsolutePath).collect().map(_.toString).sorted.toSeq
    }
    val serial = read(Map("threads" -> "1"))
    assert(serial.size == 300)
    val chunked = read(Map("threads" -> "3", "chunkBytes" -> "256"))
    assert(chunked == serial)
    // a filter over the same tiny chunks, evaluated by Spark above the scan
    def readFiltered(threads: Int) = {
      spark.read.format("xlsx").option("skipRows", "3")
        .option("threads", threads.toString).option("chunkBytes", "256")
        .load(f.getAbsolutePath)
        .filter(org.apache.spark.sql.functions.col("id") > 250.0)
        .collect().map(_.toString).sorted.toSeq
    }
    assert(readFiltered(3).size == 50)
    assert(readFiltered(3) == readFiltered(1))
  }

  test("early close terminates the worker pipeline") {
    val wb = TestArchives.workbook(file)
    val before = xlsxThreads()
    val it = wb.rowIterator("xl/worksheets/sheet1.xml", 4)
    assert(it.hasNext)
    assert((xlsxThreads() -- before).nonEmpty) // the pipeline runs
    it.next()
    it.close() // mid-stream: producer + pool must die, stream must close
    // a second close is a no-op
    it.close()
    // give daemon threads a beat to exit
    val deadline = System.currentTimeMillis + 5000
    while ((xlsxThreads() -- before).nonEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert((xlsxThreads() -- before).isEmpty,
      s"worker threads leaked: ${(xlsxThreads() -- before).map(_.getName)}")
  }

  test("ragged-wide row error propagates through the parallel reader") {
    // a workbook whose row 3 is wider than row 1: the partition reader must
    // raise the reference's ragged-row error through the threads path and
    // tear the pipeline down rather than hang
    val sheet =
      """<worksheet><sheetData>
        |<row r="1"><c r="A1"><v>1</v></c></row>
        |<row r="2"><c r="A2"><v>2</v></c></row>
        |<row r="3"><c r="A3"><v>3</v></c><c r="B3"><v>4</v></c><c r="C3"><v>5</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    Seq(
      "xl/workbook.xml" ->
        """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/worksheets/sheet1.xml" -> sheet
    ).foreach { case (n, c) =>
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(c.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    val f = java.io.File.createTempFile("ragged", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("threads", "3")
        .load(f.getAbsolutePath).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("more columns"), msgs)
  }

  test("a stream failure mid-parse surfaces the cause and kills the pipeline") {
    // the inflated stream dies after some bytes: hasNext must throw the
    // cause (not hang on the queue) and the daemon threads must exit
    val failing = new java.io.InputStream {
      private val head =
        "<worksheet><sheetData><row r=\"1\"><c><v>1</v></c></row>".getBytes("UTF-8")
      private var i = 0
      override def read(): Int =
        if (i < head.length) { i += 1; head(i - 1) & 0xff }
        else throw new java.io.IOException("stream died mid-entry")
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (i >= head.length) throw new java.io.IOException("stream died mid-entry")
        val n = math.min(len, head.length - i)
        System.arraycopy(head, i, b, off, n)
        i += n
        n
      }
    }
    val before = xlsxThreads()
    var closed = false
    val it = ParallelSheetScanner.rowIterator(failing, Array.empty,
      Array.empty, threads = 2, () => closed = true, chunkBytes = 16)
    val e = intercept[Exception] { while (it.hasNext) it.next() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("stream died"), msgs)
    assert(closed, "underlying close hook must run on failure")
    val deadline = System.currentTimeMillis + 5000
    while ((xlsxThreads() -- before).nonEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert((xlsxThreads() -- before).isEmpty, "threads leaked after failure")
  }

  /** A workbook of `n` rows whose text cells are all shared strings: a
    * table of `n` entries, then `n` rows of (shared string, number,
    * shared string). */
  private def sharedStringsWorkbook(n: Int): java.io.File = {
    val sst = (0 until n).map(i => s"<si><t>text number $i</t></si>")
      .mkString("""<sst xmlns="x">""", "", "</sst>")
    val rows = (1 to n).map(i =>
      s"""<row r="$i"><c r="A$i" t="s"><v>${i - 1}</v></c><c r="B$i"><v>$i.5</v></c>""" +
        s"""<c r="C$i" t="s"><v>${(i * 7) % n}</v></c></row>""").mkString
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    Seq(
      "xl/workbook.xml" ->
        """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/sharedStrings.xml" -> sst,
      "xl/worksheets/sheet1.xml" -> s"<worksheet><sheetData>$rows</sheetData></worksheet>"
    ).foreach { case (name, c) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(c.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    val f = java.io.File.createTempFile("shared", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    f
  }

  test("the scan's custom metrics reach BatchScanExec: table decode and " +
      "chunk wait on the task thread, cells scanned") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val f = sharedStringsWorkbook(60000)
    /** The scan node's metrics after a read at `threads`. */
    def read(threads: Int): String => Long = {
      val df = spark.read.format("xlsx").option("threads", threads.toString)
        .load(f.getAbsolutePath)
      assert(df.collect().length == 60000)
      val plan = df.queryExecution.executedPlan
      val scan = (plan +: plan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      }).flatMap(_.collect { case b: BatchScanExec => b }).head
      assert(scan.metrics.keySet.contains(XlsxScan.TableDecodeMs))
      name => scan.metrics(name).value
    }
    val t2 = read(2)
    assert(t2(XlsxScan.CellsScanned) == 3L * 60000)
    assert(t2(XlsxScan.TableDecodeMs) > 0)
    assert(t2(XlsxScan.ChunkWaitMs) > 0)
    // the read's stages, summed over the threads that ran them
    assert(t2(XlsxScan.InflateMs) > 0 && t2(XlsxScan.TrackMs) > 0 &&
      t2(XlsxScan.ScanMs) > 0)
    val t1 = read(1)
    assert(t1(XlsxScan.CellsScanned) == 3L * 60000)
    assert(t1(XlsxScan.InflateMs) > 0 && t1(XlsxScan.ScanMs) > 0 &&
      t1(XlsxScan.TrackMs) == 0)
  }

  test("closing threads-2 scans after their first chunk fires no uncaught " +
      "exception and leaves no xlsx thread") {
    val f = sharedStringsWorkbook(90000)
    val sheetLen = {
      val wb = TestArchives.workbook(f)
      val (in, closeAll) = wb.entryStreamForProbe("xl/worksheets/sheet1.xml")
      try in.readAllBytes().length finally closeAll()
    }
    val before = xlsxThreads()
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val old = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((t: Thread, e: Throwable) =>
      fired.add(s"${t.getName}: $e"))
    try {
      (1 to 20).foreach { i =>
        // 3 to 8 chunks: the producer is blocked on a chunk, or on the end
        // of the sheet, when the scan closes
        val wb = TestArchives.workbook(f)
        val par = wb.chunkingRowIterator("xl/worksheets/sheet1.xml", 2,
          SheetFuzz.noColumns.chunkParser(wb.dateStyles),
          chunkBytes = sheetLen / (3 + i % 6)).get
        assert(par.advanceChunk())
        Thread.sleep(20)
        par.close()
      }
      assertTornDown(before, f)
    } finally Thread.setDefaultUncaughtExceptionHandler(old)
    assert(fired.isEmpty, fired.asScala.mkString("; "))
  }

  /** Descriptors this process holds open on `f`. */
  private def openFds(f: java.io.File): Int = {
    val fds = new java.io.File("/proc/self/fd").listFiles()
    if (fds == null) 0
    else fds.count(fd => scala.util.Try(java.nio.file.Files.readSymbolicLink(fd.toPath))
      .toOption.exists(_.toString == f.getCanonicalPath))
  }

  /** Waits for every `xlsx-*` thread not in `before` to end and every
    * descriptor on `f` to close. */
  private def assertTornDown(before: Set[Thread], f: java.io.File): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (((xlsxThreads() -- before).nonEmpty || openFds(f) > 0) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert((xlsxThreads() -- before).isEmpty, (xlsxThreads() -- before).map(_.getName))
    assert(openFds(f) == 0, s"${openFds(f)} descriptors still open on $f")
  }

  test("a guard failure and a worker parse failure at threads 2 leave no " +
      "xlsx thread and no open zip") {
    val f = sharedStringsWorkbook(20000)
    // the table guard, raised on the task thread while the workers scan
    val before = xlsxThreads()
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("threads", "2")
        .option("max_shared_strings_bytes", "1000")
        .load(f.getAbsolutePath).collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(SharedStringsScanner.guardMessage(1000L))), e)
    assertTornDown(before, f)
    // a worker whose chunk parse fails: the cause surfaces, the scan ends
    val wb = TestArchives.workbook(f)
    val (raw, closeAll) = wb.entryStreamForProbe("xl/worksheets/sheet1.xml")
    val cols = new RowColumns(org.apache.spark.sql.types.StructType(Nil),
      org.apache.spark.sql.types.StructType(Nil), false).chunkParser(wb.dateStyles)
    val parsed = new java.util.concurrent.atomic.AtomicInteger()
    val par = new ParallelSheetScanner(raw, threads = 2, closeAll,
      (bytes, len, drop) =>
        if (parsed.incrementAndGet() == 3) throw new IllegalStateException("chunk 3 failed")
        else cols(bytes, len, drop),
      chunkBytes = 16 << 10)
    val e2 = intercept[IllegalStateException](while (par.advanceChunk()) ())
    assert(e2.getMessage == "chunk 3 failed")
    assertTornDown(before, f)
  }

  private def defaultOpts: XlsxOptions =
    XlsxOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap[String, String]()))

  private def threadsOf(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Seq[Int] =
    parts.map(_.asInstanceOf[XlsxInputPartition].threads).toSeq

  test("auto parallelism: lone indexed file SPLITS into ranged partitions, " +
      "saturated scan stays serial, option wins") {
    assert(spark.sparkContext.defaultParallelism == 4) // the arithmetic below assumes it
    // single INDEXED file on 4 cores: since r12 the planner prefers
    // segment-range partitions over intra-task threads (SURVEY #337) —
    // partition counts scale with min(segments, cores), every range serial
    val lone = XlsxScan.partitionsFor(Seq(file.toString), defaultOpts)
      .map(_.asInstanceOf[XlsxInputPartition])
    assert(lone.length > 1, s"expected a segment split, got ${lone.length}")
    assert(lone.forall(p => p.segRange.isDefined && p.threads == 1),
      s"ranged partitions must stay single-threaded: ${lone.toSeq}")
    // the ranges tile [0, nSeg) contiguously without gap or overlap
    val ranges = lone.map(_.segRange.get).sortBy(_.s0)
    assert(ranges.head.s0 == 0 &&
      ranges.sliding(2).forall(w => w.length < 2 || w(0).s1 == w(1).s0),
      s"ranges must tile: ${ranges.toSeq}")
    // scan with >= cores partitions: every task already owns a core
    val many = XlsxScan.partitionsFor(
      (1 to 4).map(_ => file.toString), defaultOpts)
    assert(threadsOf(many) == Seq(1, 1, 1, 1), s"got ${threadsOf(many)}")
    // an explicit threads option applies verbatim — and DISABLES the
    // split (the reference's intra-file semantics, preserved verbatim)
    val explicit = XlsxScan.partitionsFor(
      Seq(file.toString, file.toString), defaultOpts.copy(threads = Some(3)))
    assert(threadsOf(explicit) == Seq(3, 3), s"got ${threadsOf(explicit)}")
    assert(explicit.map(_.asInstanceOf[XlsxInputPartition])
      .forall(_.segRange.isEmpty))
    // and the auto path must not change WHAT is read: same rows either way
    val auto = spark.read.format("xlsx").load(file.toString)
    val serial = spark.read.format("xlsx").option("threads", "1").load(file.toString)
    assert(auto.count() == 20000L)
    assert(auto.exceptAll(serial).isEmpty && serial.exceptAll(auto).isEmpty)
  }

  test("auto parallelism: the indexed straggler splits, the small " +
      "unindexed sibling stays one serial partition") {
    // one ~20k-row file (indexed: > one segment) + one 3-row file (too
    // small for a cut — no index) on 4 cores: the straggler's spare-core
    // share arrives as EXTRA PARTITIONS now, the small file stays as-is
    val small = {
      val bos = new ByteArrayOutputStream()
      XlsxWriter.write(bos, Seq(XlsxWriter.SheetSpec("S", Some(Seq("id", "nm", "v", "d", "b")),
        (1 to 3).iterator.map(i => Seq[Any](i.toLong, s"n$i", i * 1.0,
          java.time.LocalDate.ofEpochDay(10000L + i), i % 2 == 0)))))
      val f = java.io.File.createTempFile("small", ".xlsx")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath, bos.toByteArray)
      f
    }
    val parts = XlsxScan.partitionsFor(
      Seq(file.toString, small.toString), defaultOpts)
      .map(_.asInstanceOf[XlsxInputPartition])
    val straggler = parts.filter(_.path == file.toString)
    val sibling = parts.filter(_.path == small.toString)
    assert(straggler.length > 1 && straggler.forall(_.segRange.isDefined),
      s"straggler should split: ${straggler.toSeq}")
    assert(sibling.length == 1 && sibling.head.segRange.isEmpty,
      s"small sibling: ${sibling.toSeq}")
  }
}
