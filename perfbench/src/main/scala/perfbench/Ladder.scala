package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.xlsx._

/** The reader and writer stages of `sources.xlsx`, each timed alone
  * through the package's public functions. Every figure is the median of
  * `reps` timings; spans name the stage calls. */
final class Ladder(tr: Tracer, reps: Int) {
  private val Sheet = "xl/worksheets/sheet1.xml"

  private def wb(path: String): XlsxParser.Workbook =
    XlsxDataSource.workbook(path, XlsxDataSource.hadoopConf())

  private def med(name: String)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); tr.op(name)(body); (System.nanoTime() - t0) / 1e9
    })

  private def entryBytes(path: String, entry: String): Long = {
    val z = new java.util.zip.ZipFile(path)
    try z.getEntry(entry).getSize finally z.close()
  }

  private def inflated(w: XlsxParser.Workbook): Array[Byte] = {
    val (in, close) = w.entryStreamForProbe(Sheet)
    try in.readAllBytes() finally close()
  }

  private def drain(it: CellRowIterator): Long = {
    var cells = 0L
    try while (it.hasNext) cells += it.next()._2.length finally it.close()
    cells
  }

  /** Cells/s of `rowIterator(path, t)` on a workbook whose shared strings
    * are already loaded, so only the sheet pipeline is timed. */
  private def pipeline(warm: XlsxParser.Workbook, label: String, t: Int): (Double, Long) = {
    var cells = 0L
    val s = med(s"$label.pipeline.t$t") { cells = drain(warm.rowIterator(Sheet, t)) }
    (s, cells)
  }

  /** Reader stages on the foreign (shared strings, no index) workbook. */
  def foreign(path: String, autoThreads: Int, dsv2ReadS: Double): Map[String, Double] = {
    val sstMb = entryBytes(path, "xl/sharedStrings.xml") / 1e6
    val sheetMb = entryBytes(path, Sheet) / 1e6
    val open = med("xlsx.open") { val w = wb(path); w.sheets; w.dateStyles }
    val sst = med("xlsx.shared_strings")(wb(path).sharedStrings)
    val warm = wb(path)
    warm.sharedStrings
    val inflate = med("xlsx.inflate")(inflated(warm))
    val bytes = inflated(warm)
    val track = med("xlsx.track")(new RowBoundaryTracker().scan(bytes, 0, bytes.length))
    var cells = 0L
    val scan = med("xlsx.scan") { cells = drain(new SheetScanner(
      new ByteArrayInputStream(bytes), warm.sharedStrings, warm.dateStyles, () => ())) }
    val opts = XlsxOptions.from(CaseInsensitiveStringMap.empty())
    val schema = med("xlsx.schema")(XlsxSchema.resolve(warm, opts))
    val ladder = (Seq(1, 2, 4) :+ autoThreads).distinct.map(t => t -> pipeline(warm, "xlsx", t)).toMap
    Map(
      "xlsx.open_s" -> open,
      "xlsx.shared_strings_s" -> sst,
      "xlsx.shared_strings_mb_per_s" -> sstMb / sst,
      "xlsx.inflate_mb_per_s" -> sheetMb / inflate,
      "xlsx.track_mb_per_s" -> sheetMb / track,
      "xlsx.scan_cells_per_s" -> cells / scan,
      "xlsx.pipeline_cells_per_s.t1" -> ladder(1)._2 / ladder(1)._1,
      "xlsx.pipeline_cells_per_s.t2" -> ladder(2)._2 / ladder(2)._1,
      "xlsx.pipeline_cells_per_s.t4" -> ladder(4)._2 / ladder(4)._1,
      "xlsx.schema_s" -> schema,
      "xlsx.handoff_ratio" -> dsv2ReadS / ladder(autoThreads)._1)
  }

  /** Reader stages on the indexed (inline strings, segment index)
    * workbook the write workload produced. */
  def indexed(path: String, cores: Int, dsv2ReadS: Double): Map[String, Double] = {
    val warm = wb(path)
    warm.sharedStrings
    val bytes = inflated(warm)
    var cells = 0L
    val scan = med("xlsx.indexed.scan") { cells = drain(new SheetScanner(
      new ByteArrayInputStream(bytes), warm.sharedStrings, warm.dateStyles, () => ())) }
    val ladder = (Seq(4) :+ cores).distinct.map(t => t -> pipeline(warm, "xlsx.indexed", t)).toMap
    val segments = {
      val z = new java.util.zip.ZipFile(path)
      try Option(z.getEntry(XlsxWriter.segmentIndexName(Sheet))).map { e =>
        val d = new java.io.DataInputStream(z.getInputStream(e))
        d.readLong(); d.readInt() // magic, version
        d.readInt() + 1.0 // cuts + 1
      }.getOrElse(1.0) finally z.close()
    }
    Map(
      "xlsx.indexed.scan_cells_per_s" -> cells / scan,
      "xlsx.indexed.pipeline_cells_per_s.t4" -> ladder(4)._2 / ladder(4)._1,
      "xlsx.indexed.handoff_ratio" -> dsv2ReadS / ladder(cores)._1,
      "xlsx.segments" -> segments)
  }

  /** The streaming writer alone: `addRow` over the generator's rows into
    * memory, then `finish`. */
  def writer(seed: Long, rows: Int): Map[String, Double] = {
    val values = (0 until rows).map(i => Gen.rec(seed, i).values)
    var bytes = 0L
    val s = med("xlsx.write") {
      val out = new ByteArrayOutputStream(1 << 20)
      val w = new XlsxWriter.StreamingWorkbookWriter(out, "Data", Some(Gen.Header))
      values.foreach(w.addRow)
      w.finish()
      bytes = out.size()
    }
    val cells = rows.toDouble * Gen.Header.length
    Map("xlsx.write_cells_per_s" -> cells / s, "xlsx.write_bytes_per_cell" -> bytes / cells)
  }
}
