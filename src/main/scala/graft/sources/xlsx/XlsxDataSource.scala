package graft.sources.xlsx

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** `spark.read.format("xlsx")` / `df.write.format("xlsx")` — DataSource V2
  * re-expression of the reference's `sheetreader()` table function
  * (reference: src/sheetreader_extension.cpp:949-967 for the option surface,
  * :640-948 for bind-time schema determination).
  *
  * Spark-first design decisions (not a port):
  *   - One `InputPartition` per file: deflate streams aren't splittable, so
  *     at 100 TB the unit of parallelism is the file, and a directory of
  *     xlsx files fans out across the cluster. The reference's `threads`
  *     knob additionally engages intra-file parallelism INSIDE a partition
  *     ([[ParallelSheetScanner]]: inflate → row-boundary chunks → N-way
  *     parse) for the one-huge-workbook case where cores would otherwise
  *     idle.
  *   - Column pruning is pushed into the reader: pruned columns are never
  *     converted (SupportsPushDownRequiredColumns). Filters are not: like
  *     the reference, which leaves every query to DuckDB, the reader only
  *     parses, and Spark's codegen'd Filter above ColumnarToRow is the one
  *     place a predicate is evaluated — with Spark's own semantics (−0.0
  *     equals 0.0, NaN ordering), which a second evaluator would have to
  *     mirror exactly.
  *   - Multi-file scans (directory / glob) are a superset of the reference,
  *     which errors on more than one file (:650).
  */
final class XlsxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = XlsxDataSource.resolvePaths(options, XlsxWriter.extension)
    if (paths.isEmpty)
      throw new IllegalArgumentException(
        "xlsx: no input files found — schema inference needs at least one " +
          "workbook. To stream a drop-box directory that starts empty, " +
          "supply the schema explicitly with .schema(...)")
    val opts = XlsxOptions.from(options)
    // Schema from the first file only — at scale you cannot open 10^6 files
    // at planning time; files are expected to be schema-homogeneous.
    val base = XlsxSchema.resolve(
      XlsxDataSource.workbook(paths.head, XlsxDataSource.hadoopConf(),
        opts.maxSharedStringsBytes), opts).schema
    if (opts.allSheets)
      StructType(base.fields :+
        StructField(XlsxDataSource.SheetNameCol, StringType, nullable = false))
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val map = new CaseInsensitiveStringMap(properties)
    new XlsxTable(schema, XlsxOptions.from(map), map)
  }
}

object XlsxDataSource {
  /** Name of the per-row sheet column the allSheets scan appends. */
  val SheetNameCol = "_sheet_name"

  /** All concrete file paths for the scan, from the `paths` option (a
    * JSON array, as `load(p1, p2)` passes it) or else `path`: each entry
    * may be a file, a directory (expanded non-recursively to its members
    * named `*.<extension>`) or a glob. */
  def resolvePaths(options: CaseInsensitiveStringMap, extension: String): Seq[String] = {
    val raw: Seq[String] =
      Option(options.get("paths")).map(parseJsonStringArray).getOrElse(
        Option(options.get("path")).toSeq)
    val conf = hadoopConf()
    raw.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile &&
              f.getPath.getName.toLowerCase.endsWith("." + extension))
            .map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }.sorted
  }

  private def parseJsonStringArray(json: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.readValue(json, classOf[Array[String]]).toSeq
  }

  def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Driver-captured hadoop conf entries, rebuilt per executor task — a
    * bare `new Configuration()` on executors would drop every
    * spark.hadoop.* session setting (object-store credentials etc.). */
  final case class ConfProps(props: Array[(String, String)]) extends Serializable {
    def toConf: Configuration = {
      val c = new Configuration(false)
      props.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  def captureConf(): ConfProps = {
    import scala.jdk.CollectionConverters._
    ConfProps(hadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray)
  }

  /** The workbook at `path` ([[ZipRaw.Archive.at]]): `conf` is built only
    * for a file that is not local. */
  def workbook(path: String, conf: => Configuration,
      maxSharedStringsBytes: Long = SharedStringsScanner.DefaultMaxBytes): XlsxParser.Workbook =
    new XlsxParser.Workbook(ZipRaw.Archive.at(path, conf), maxSharedStringsBytes)
}

final class XlsxTable(
    schema: StructType,
    opts: XlsxOptions,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"xlsx:${Option(options.get("path")).getOrElse("")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(schema, opts,
      XlsxDataSource.resolvePaths(caseInsensitiveStringMap, XlsxWriter.extension),
      caseInsensitiveStringMap)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new XlsxWriteBuilder(info, opts, XlsxWriter)
}

final class XlsxScanBuilder(fullSchema: StructType, opts: XlsxOptions, paths: Seq[String],
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Preserve fullSchema field order; Spark passes a subset.
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }

  override def build(): Scan = new XlsxScan(fullSchema, required, opts, paths, options)
}

final class XlsxScan(
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    paths: Seq[String],
    options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"xlsx scan of ${paths.size} file(s)"

  /** The session's Hadoop conf, captured once for planning and for every
    * reader of the scan. */
  private lazy val conf = XlsxDataSource.captureConf()

  override def planInputPartitions(): Array[InputPartition] =
    XlsxScan.partitionsFor(paths, opts, conf)

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(
    new XlsxScan.TableDecodeMetric, new XlsxScan.ChunkWaitMetric,
    new XlsxScan.CellsMetric, new XlsxScan.InflateMetric,
    new XlsxScan.TrackMetric, new XlsxScan.ScanMetric)

  override def createReaderFactory(): PartitionReaderFactory =
    new XlsxPartitionReaderFactory(fullSchema, required, opts, conf)

  /** Streaming face: the same scan over files arriving in a directory —
    * each micro-batch is the set of not-yet-seen files (one partition per
    * file, or per (file, sheet) under allSheets), the arrival pattern of a
    * spreadsheet drop-box. */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new XlsxMicroBatchStream(fullSchema, required, opts, options,
      checkpointLocation)
}

object XlsxScan {
  // The scan's task metrics, summed over tasks in BatchScanExec's SQL
  // metrics: the shared-strings decode and the wait for parse workers on
  // the task thread, the cells scanned, and the read's stages summed over
  // every thread that ran them — inflate (the prefetch thread, the
  // segment inflates, or a sequential scanner's refills), row-boundary
  // tracking (the producer) and the scan (the parse workers, or the task
  // thread with its refills excluded).
  final val TableDecodeMs = "xlsxTableDecodeMs"
  final val ChunkWaitMs = "xlsxChunkWaitMs"
  final val CellsScanned = "xlsxCellsScanned"
  final val InflateMs = "xlsxInflateMs"
  final val TrackMs = "xlsxTrackMs"
  final val ScanMs = "xlsxScanMs"

  final class TableDecodeMetric extends CustomSumMetric {
    override def name(): String = TableDecodeMs
    override def description(): String = "xlsx shared-strings decode on the task thread (ms)"
  }
  final class ChunkWaitMetric extends CustomSumMetric {
    override def name(): String = ChunkWaitMs
    override def description(): String = "xlsx task thread waiting for parse workers (ms)"
  }
  final class CellsMetric extends CustomSumMetric {
    override def name(): String = CellsScanned
    override def description(): String = "xlsx cells scanned"
  }
  final class InflateMetric extends CustomSumMetric {
    override def name(): String = InflateMs
    override def description(): String = "xlsx sheet inflate, all threads (ms)"
  }
  final class TrackMetric extends CustomSumMetric {
    override def name(): String = TrackMs
    override def description(): String = "xlsx row-boundary tracking (ms)"
  }
  final class ScanMetric extends CustomSumMetric {
    override def name(): String = ScanMs
    override def description(): String = "xlsx cell scan, all threads (ms)"
  }

  private[xlsx] def taskMetric(metric: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metric
      override def value(): Long = v
    }

  /** Above this file count, allSheets enumeration runs as a Spark job
    * instead of a driver-side pool. The driver pool (16 threads, one
    * workbook.xml read per file) is fine to ~10^5 files; beyond that the
    * driver becomes the planning bottleneck and the cluster should do the
    * metadata reads — the same cutover logic Spark's own file listing
    * (`parallelPartitionDiscoveryThreshold`) applies. */
  val DistributedEnumerationCutover: Int = 8192

  /** Partitions for a concrete file list: one per file, or — under
    * allSheets — one per (file, sheet). Sheet enumeration needs each
    * file's workbook.xml: below `cutover` files it is a driver-side
    * metadata read on a bounded pool (the planning-time cost class of
    * parquet footer reads); above, a distributed flatMap over the path
    * list with results collected to the planner — O(paths) tiny tuples,
    * not data. Both paths return identical partitions in identical order
    * (spec-asserted). */
  def partitionsFor(paths: Seq[String], opts: XlsxOptions,
      conf: => XlsxDataSource.ConfProps = XlsxDataSource.captureConf(),
      cutover: Int = DistributedEnumerationCutover): Array[InputPartition] = {
    lazy val captured = conf
    assignThreads(trySplitByIndex(
      rawPartitionsFor(paths, opts, captured, cutover), opts, captured), opts)
  }

  /** DISTRIBUTED SINGLE-FILE SCAN: when the scan would under-parallelize
    * (fewer partitions than cores) and a workbook carries the graft
    * row-group index (splittable xlsx, SURVEY #336), split it into
    * SEGMENT-RANGE partitions instead of fanning intra-task threads —
    * partition-level parallelism schedules, retries, and scales across
    * EXECUTORS, which no thread pool inside one task can. A 10 GB
    * workbook stops being one task. Cores deal to files proportional to
    * their segment counts; an explicit `threads` option preserves the
    * reference's intra-file semantics verbatim (no split); foreign
    * workbooks (no index) keep the thread fan-out path. */
  private def trySplitByIndex(parts: Array[XlsxInputPartition],
      opts: XlsxOptions, conf: => XlsxDataSource.ConfProps): Array[XlsxInputPartition] = {
    if (opts.threads.nonEmpty || parts.isEmpty) return parts
    val cores = executorCores()
    if (parts.length >= cores) return parts
    val metas: Array[Option[ParallelSheetScanner.SegmentIndex]] = parts.map { p =>
      try {
        val wb = XlsxDataSource.workbook(p.path, conf.toConf,
          opts.maxSharedStringsBytes)
        val target = p.sheet.map(_.target).getOrElse(
          wb.sheetPath(opts.sheetName, opts.effectiveSheetIndex))
        wb.segmentIndexRaw(target).filter(_.cuts.nonEmpty)
      } catch { case _: Exception => None }
    }
    if (metas.forall(_.isEmpty)) return parts
    val totalSegs = metas.zipWithIndex.map { case (m, _) =>
      m.map(_.segments).getOrElse(1)
    }.sum
    parts.zip(metas).flatMap {
      case (p, None) => Seq(p)
      case (p, Some(si)) =>
        val nSeg = si.segments
        val k = math.max(1, math.min(nSeg,
          (cores.toLong * nSeg / math.max(1, totalSegs)).toInt))
        if (k <= 1) Seq(p)
        else (0 until k).map { j =>
          val s0 = (j.toLong * nSeg / k).toInt
          val s1 = ((j + 1).toLong * nSeg / k).toInt
          val rowsBefore = si.rowsBefore(s0)
          p.copy(segRange = Some(SegRange(s0, s1, rowsBefore)))
        }
    }
  }

  private def rawPartitionsFor(paths: Seq[String], opts: XlsxOptions,
      conf: => XlsxDataSource.ConfProps, cutover: Int): Array[XlsxInputPartition] =
    if (!opts.allSheets)
      paths.map(p => XlsxInputPartition(p)).toArray
    else {
      val props = conf // shipped with the distributed enumeration
      val spark = SparkSession.getActiveSession
      if (paths.size > cutover && spark.isDefined) {
        val sc = spark.get.sparkContext
        val nTasks = math.max(1, math.min(2000, paths.size / 64))
        sc.parallelize(paths, nTasks)
          .flatMap { p =>
            val wb = XlsxDataSource.workbook(p, props.toConf)
            wb.sheets.map(si => (p, si.name, si.target))
          }
          .collect() // partition-index order == paths order: deterministic
          .map { case (p, n, t) =>
            XlsxInputPartition(p, Some(SheetRef(n, t)))
          }
      } else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(16, paths.size)))
        try {
          val futures = paths.map { p =>
            pool.submit(new java.util.concurrent.Callable[Seq[XlsxInputPartition]] {
              override def call(): Seq[XlsxInputPartition] = {
                val wb = XlsxDataSource.workbook(p, props.toConf)
                wb.sheets.map(si =>
                  XlsxInputPartition(p, Some(SheetRef(si.name, si.target))))
              }
            })
          }
          futures.flatMap(_.get()).toArray
        } finally pool.shutdown()
      }
    }

  /** Per-partition intra-file parse workers. An explicit `threads` option
    * applies verbatim to every partition (the reference's semantics). AUTO
    * (option absent) mirrors the reference's cores/2 default without
    * oversubscribing a busy scan: when the scan already has at least as
    * many partitions as executor cores every task stays single-threaded;
    * when cores would idle, the spare ones are dealt to partitions
    * PROPORTIONAL TO FILE BYTES (one metadata getFileStatus per distinct
    * file — only taken on small-partition-count scans by construction), so
    * a single huge workbook engages ~cores/2 workers and the one 10 GB
    * straggler in a skewed directory gets the capacity its bytes demand
    * while its small siblings stay at 1. */
  private def assignThreads(parts: Array[XlsxInputPartition],
      opts: XlsxOptions): Array[InputPartition] = opts.threads match {
    case Some(t) => parts.map(p => p.copy(threads = t): InputPartition)
    case None =>
      val cores = executorCores()
      if (parts.length >= cores || parts.isEmpty)
        parts.map(p => p: InputPartition)
      else {
        val conf = XlsxDataSource.hadoopConf()
        val bytes: Map[String, Double] = parts.map(_.path).distinct.map { p =>
          val path = new Path(p)
          val len = try path.getFileSystem(conf).getFileStatus(path).getLen.toDouble
            catch { case _: Exception => 1.0 }
          p -> math.max(1.0, len)
        }.toMap
        // a file's sheets split the file's weight (allSheets fan-out)
        val sheetsPerFile = parts.groupBy(_.path).view.mapValues(_.length).toMap
        val weights = parts.map(p => bytes(p.path) / sheetsPerFile(p.path))
        val total = weights.sum
        parts.zip(weights).map { case (p, w) =>
          // segment-range partitions stay single-threaded: their file's
          // parallelism already went partition-shaped in trySplitByIndex
          if (p.segRange.isDefined) p: InputPartition
          else p.copy(threads = autoThreads(cores, parts.length, w / total)): InputPartition
        }
      }
  }

  /** The AUTO thread rule of reads and writes: a task of `parts` that
    * carries `share` of the work gets 1 + its share of the cores the
    * partitions leave spare, capped at the reference's single-file default
    * `cores / 2`; with at least as many partitions as cores every task
    * stays single-threaded. */
  private[xlsx] def autoThreads(cores: Int, parts: Int, share: Double): Int =
    if (parts >= cores) 1
    else math.min(math.max(1, cores / 2),
      1 + math.round((cores - parts) * share).toInt)

  /** Cores one task can realistically fan worker threads across: the
    * per-executor core count on a cluster; the local[N] thread count in
    * local mode (defaultParallelism). */
  private[xlsx] def executorCores(): Int =
    SparkSession.getActiveSession.map { s =>
      s.sparkContext.getConf.getOption("spark.executor.cores").map(_.toInt)
        .getOrElse(s.sparkContext.defaultParallelism)
    }.getOrElse(Runtime.getRuntime.availableProcessors())
}

/** A specific worksheet inside one file (allSheets fan-out unit). */
final case class SheetRef(name: String, target: String)

/** Segments [s0, s1) of an INDEXED worksheet (splittable xlsx, SURVEY
  * #336/#337): the planner-computed slice one task reads, plus the rows
  * preceding it (so header/skipRows prefixes deal across partitions
  * exactly). Ranged partitions are always single-threaded — the split IS
  * the parallelism, scheduled and retried like any other Spark task. */
final case class SegRange(s0: Int, s1: Int, rowsBefore: Long)

final case class XlsxInputPartition(path: String, sheet: Option[SheetRef] = None,
    /** Intra-file parse workers for THIS partition (planner-assigned). */
    threads: Int = 1,
    /** Segment-range slice of an indexed workbook (splittable path). */
    segRange: Option[SegRange] = None)
    extends InputPartition

/** Batch and streaming scans both read columnar: one ColumnarBatch per
  * parse chunk (or per [[RowBatchReader.BatchRows]] rows on the
  * sequential path), read by Spark through codegen'd ColumnarToRow —
  * the same shape as the built-in vectorized parquet reader. */
final class XlsxPartitionReaderFactory(
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    conf: XlsxDataSource.ConfProps)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "xlsx scans are columnar: Spark reads them through createColumnarReader")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[XlsxInputPartition]
    new XlsxColumnarPartitionReader(p.path, p.sheet, fullSchema, required, opts,
      conf, p.threads, p.segRange)
  }
}

/** Column type codes and the ragged-row rule shared by the xlsx and ods
  * columnar readers. */
object XlsxPartitionReader {
  // compact type codes so the per-cell hot path switches on an int instead
  // of pattern-matching a DataType
  final val TDouble = 0; final val TString = 1; final val TBool = 2
  final val TDate = 3; final val TLong = 4; final val TInt = 5; final val TFloat = 6
  // Catch-all for DataTypes with no xlsx representation (user-supplied
  // TimestampType/DecimalType/... via supportsExternalMetadata): they read
  // as NULL columns — throwing here would fail reader CONSTRUCTION.
  final val TNull = 7
  /** The allSheets `_sheet_name` column: the sheet's name in every row. */
  final val TSheet = 8

  def typeCode(dt: DataType): Int = dt match {
    case DoubleType  => TDouble
    case StringType  => TString
    case BooleanType => TBool
    case DateType    => TDate
    case LongType    => TLong
    case IntegerType => TInt
    case FloatType   => TFloat
    case _           => TNull
  }

  /** Ragged-wide row is an error (reference: sheetreader_extension.cpp:417-422). */
  def raggedCheck(rowIdx: Long, width: Int, baseWidth: Int): Unit =
    if (width > baseWidth)
      throw new IllegalStateException(
        s"Row ${rowIdx + 1} has more columns than the first row. " +
          s"Has: $width Expected: $baseWidth")

  /** The ragged check over every row of a chunk past its dropped prefix
    * (dropped header/skip rows are exempt). */
  def raggedCheck(chunk: ParsedChunk, baseWidth: Int): Unit = {
    var i = chunk.dropped
    while (i < chunk.widths.length) {
      raggedCheck(chunk.idx(i), chunk.widths(i), baseWidth)
      i += 1
    }
  }
}

/** How a scan's required columns are cut from a sheet's cells — the
  * layout every [[ColumnChunk]] of the scan writes: xlsx's worker-built
  * chunk batches, and the sequential [[RowBatchReader]] of xlsx and ods
  * alike. Column mapping is positional, like the reference. `sheetName` is
  * the value of the allSheets `_sheet_name` column (None: the scan has no
  * such column). Every row goes into the batch: filters are Spark's,
  * evaluated above the scan. Immutable, so worker threads share it. */
final class RowColumns(
    fullSchema: StructType,
    required: StructType,
    private[xlsx] val coerce: Boolean,
    sheetName: Option[String] = None) {
  import XlsxPartitionReader._

  private[xlsx] val sheetNameBytes: Array[Byte] = sheetName.getOrElse("")
    .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  // Sheet positions count only DATA columns: a user-supplied schema may
  // place _sheet_name anywhere, and fieldIndex over the full schema would
  // then shift every column after it.
  private val dataFieldNames: Array[String] =
    if (sheetName.isDefined)
      fullSchema.fieldNames.filterNot(_ == XlsxDataSource.SheetNameCol)
    else fullSchema.fieldNames
  private val isSheetCol: Array[Boolean] = required.fieldNames.map(n =>
    sheetName.isDefined && n == XlsxDataSource.SheetNameCol)
  private[xlsx] val colTypes: Array[DataType] = required.fields.map(_.dataType)
  private[xlsx] val typeCodes: Array[Int] = colTypes.indices.map(j =>
    if (isSheetCol(j)) TSheet else typeCode(colTypes(j))).toArray
  /** Sheet column → its required column, or -1 for a pruned one. */
  private[xlsx] val reqOf: Array[Int] = {
    val pos = required.fieldNames.indices.map(j =>
      if (isSheetCol(j)) -1 else dataFieldNames.indexOf(required.fieldNames(j)))
    val a = Array.fill(if (pos.isEmpty) 0 else pos.max + 1)(-1)
    pos.zipWithIndex.foreach { case (p, j) => if (p >= 0) a(p) = j }
    a
  }
  /** Whether a string column is required: only then does the scan need
    * the shared-strings table. */
  val needsTable: Boolean = typeCodes.contains(TString)

  /** An empty chunk of this layout: it skips its first `dropFirst` rows
    * and stores up to `limit`. */
  def newChunk(dropFirst: Int, limit: Int = Int.MaxValue): ColumnChunk =
    new ColumnChunk(this, dropFirst, limit)

  /** A parse worker's chunk scan: the chunk's rows, scanned in place
    * straight into a finished [[ColumnChunk]]. */
  def chunkParser(dates: Array[Boolean]): (Array[Byte], Int, Int) => ParsedChunk =
    (bytes, len, dropFirst) => {
      val chunk = newChunk(dropFirst)
      val sc = SheetScanCore.over(bytes, len, dates)
      while (sc.nextRow(chunk)) ()
      chunk.finish()
    }
}

/** The one sequential batch loop of the spreadsheet sources: fills a
  * [[ColumnChunk]] with up to [[RowBatchReader.BatchRows]] rows of `rows`
  * per ColumnarBatch, the header/skipRows prefix (`dropRows`) scanned but
  * not stored, ragged-checking each stored row against the sheet's width —
  * like the vectorized parquet reader, which Spark reads through codegen'd
  * ColumnarToRow. Serves every xlsx scan without parse workers (threads =
  * 1, segment ranges, the missing-entry fallback) and every ods scan.
  * `table` is the shared-strings table, asked for by the first batch with
  * a shared-string cell. Closing it closes `rows`. */
final class RowBatchReader(rows: RowSource, dropRows: Long,
    baseWidth: Int, cols: RowColumns,
    table: () => Array[Array[Byte]] = () => Array.empty)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private var owed = dropRows // prefix rows not yet scanned
  private var current: ColumnarBatch = _
  /** Cells scanned so far. */
  var cells = 0L
  /** Nanoseconds spent scanning rows into batches, the stream's reads
    * excluded. */
  var scanNs = 0L

  /** Nanoseconds spent reading (inflating) the rows' stream. */
  def readNs: Long = rows.readNs

  override def next(): Boolean = {
    val chunk = cols.newChunk(math.min(owed, Int.MaxValue).toInt, RowBatchReader.BatchRows)
    val t0 = System.nanoTime()
    val read0 = rows.readNs
    while (!chunk.full && rows.nextRow(chunk)) ()
    chunk.finish()
    scanNs += System.nanoTime() - t0 - (rows.readNs - read0)
    owed -= chunk.dropped
    cells += chunk.cells
    XlsxPartitionReader.raggedCheck(chunk, baseWidth)
    current = chunk.batch(table())
    chunk.stored > 0
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = rows.close()
}

object RowBatchReader {
  /** Rows per sequential batch: big enough to amortize the per-batch
    * handoff, small enough that 32 concurrent single-threaded file tasks ×
    * a few live batches stay well inside executor memory. */
  val BatchRows: Int = 4096
}

/** Columnar batch scan over one file's target sheet — the xlsx read path.
  * Each file re-resolves its own header (cheap 2-row probe over the
  * shared-strings prefix), so multi-file scans tolerate per-file header
  * rows. With `threads >= 2` the parse workers scan each producer chunk
  * straight into a ColumnarBatch ([[ParallelSheetScanner]]'s chunk face,
  * [[ColumnChunk]]); shared-string cells keep their table ids, so no
  * worker waits for the table. This (the task) thread decodes the table
  * meanwhile, then per chunk ragged-checks the stitched row indices and
  * attaches the table to the batch's dictionary columns — the
  * vectorized-parquet shape, with no per-row InternalRow or cell object
  * anywhere. Sequential scans (threads = 1, segment ranges, or a missing
  * worksheet entry) go through the shared [[RowBatchReader]].
  */
final class XlsxColumnarPartitionReader(
    path: String,
    sheet: Option[SheetRef],
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    conf: XlsxDataSource.ConfProps,
    threads: Int,
    /** segment-range slice of an indexed workbook (splittable path) */
    segRange: Option[SegRange] = None)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val wb = XlsxDataSource.workbook(path, conf.toConf,
    opts.maxSharedStringsBytes)
  private val resolved = XlsxSchema.resolve(wb, opts, sheet.map(_.target))
  /** Header/skipRows prefix still owed by THIS partition: ranged
    * partitions subtract the rows earlier ranges already cover. */
  private val effDropRows: Long =
    segRange.map(r => math.max(0L, resolved.dropRows.toLong - r.rowsBefore))
      .getOrElse(resolved.dropRows.toLong)
  private val sheetTarget = sheet.map(_.target).getOrElse(
    wb.sheetPath(opts.sheetName, opts.effectiveSheetIndex))
  private val cols = new RowColumns(fullSchema, required, opts.coerceToString,
    if (opts.allSheets) Some(sheet.map(_.name).getOrElse("")) else None)

  private val source: Either[RowSource, ParallelSheetScanner] =
    segRange match {
      case Some(r) =>
        Left(wb.segmentRangeRows(sheetTarget, r.s0, r.s1).getOrElse(
          throw new IllegalStateException(
            s"$path: segment index vanished for range [${r.s0},${r.s1}) — " +
              "a whole-file fallback would DUPLICATE rows across partitions")))
      case None if threads >= 2 =>
        wb.chunkingRowIterator(sheetTarget, threads, cols.chunkParser(wb.dateStyles),
          resolved.dropRows.toLong, opts.chunkBytes).toRight(RowSource.empty)
      case None => Left(wb.sheetRows(sheetTarget))
    }
  private val seq: RowBatchReader = source.left.toOption
    .map(new RowBatchReader(_, effDropRows, resolved.baseWidth, cols, () => table()))
    .orNull
  private val parIter: ParallelSheetScanner = source.toOption.orNull

  private var current: ColumnarBatch = _
  private var strings: Array[Array[Byte]] = _
  private var tableNs = 0L
  private var waitNs = 0L
  private var chunkCells = 0L

  /** The shared-strings table, decoded once on this thread. A failure
    * (the `maxSharedStringsBytes` guard) tears the scan down before it
    * fails the task. */
  private def table(): Array[Array[Byte]] = {
    if (strings == null) {
      val t0 = System.nanoTime()
      strings = try wb.sharedStringBytes() catch { case e: Throwable => close(); throw e }
      tableNs += System.nanoTime() - t0
    }
    strings
  }

  /** A ragged row or a parse error may be a corrupt sheet's first sign:
    * then the sheet's corruption error is reported instead. */
  override def next(): Boolean =
    try nextBatch()
    catch { case e: RuntimeException => throw wb.corruptionBefore(sheetTarget, e) }

  private def nextBatch(): Boolean = {
    // first call: decode the table while the parse workers scan the sheet
    if (cols.needsTable) table()
    if (seq != null) seq.next()
    else {
      var t0 = System.nanoTime()
      while (parIter.advanceChunk()) {
        waitNs += System.nanoTime() - t0
        val chunk = parIter.chunk.asInstanceOf[ColumnChunk]
        chunkCells += chunk.cells
        XlsxPartitionReader.raggedCheck(chunk, resolved.baseWidth)
        // a zero-row producer tail is skipped
        if (chunk.stored > 0) { current = chunk.batch(table()); return true }
        t0 = System.nanoTime()
      }
      waitNs += System.nanoTime() - t0
      false
    }
  }

  override def get(): ColumnarBatch = if (seq != null) seq.get() else current

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    XlsxScan.taskMetric(XlsxScan.TableDecodeMs, tableNs / 1000000L),
    XlsxScan.taskMetric(XlsxScan.ChunkWaitMs, waitNs / 1000000L),
    XlsxScan.taskMetric(XlsxScan.CellsScanned,
      if (seq != null) seq.cells else chunkCells),
    XlsxScan.taskMetric(XlsxScan.InflateMs,
      (if (seq != null) seq.readNs else parIter.inflateNs) / 1000000L),
    XlsxScan.taskMetric(XlsxScan.TrackMs,
      (if (seq != null) 0L else parIter.trackNs) / 1000000L),
    XlsxScan.taskMetric(XlsxScan.ScanMs,
      (if (seq != null) seq.scanNs else parIter.scanNs) / 1000000L))

  override def close(): Unit =
    if (seq != null) seq.close() else parIter.close()
}

// ---------------------------------------------------------------------------
// Write path — every spreadsheet format: one file per write task, streamed
// row by row into the format's sheet writer
// ---------------------------------------------------------------------------

final class XlsxWriteBuilder(info: LogicalWriteInfo, opts: XlsxOptions,
    format: SheetFormat) extends WriteBuilder with SupportsTruncate {
  private val path = Option(info.options.get("path")).getOrElse(
    throw new IllegalArgumentException(s"${format.extension} write requires a path"))
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new XlsxBatchWrite(path, info.schema(), opts, doTruncate, format)
    override def supportedCustomMetrics(): Array[CustomMetric] =
      if (format.measured) XlsxWrite.metrics() else Array.empty
  }
}

object XlsxWrite {
  // The write's task metrics, summed over tasks in the write node's SQL
  // metrics: the sheet's deflate time on whichever thread ran it (Spark's
  // task CPU time sees only the task thread), the task thread's wait for
  // deflate results, and the sheet entry's XML and deflated bytes.
  final val DeflateMs = "xlsxDeflateMs"
  final val DeflateWaitMs = "xlsxDeflateWaitMs"
  final val SheetXmlBytes = "xlsxSheetXmlBytes"
  final val SheetDeflatedBytes = "xlsxSheetDeflatedBytes"

  // Spark re-creates a metric from its class name: each needs its own
  // no-argument class
  final class DeflateMetric extends CustomSumMetric {
    override def name(): String = DeflateMs
    override def description(): String = "xlsx sheet deflate, all threads (ms)"
  }
  final class DeflateWaitMetric extends CustomSumMetric {
    override def name(): String = DeflateWaitMs
    override def description(): String = "xlsx task thread waiting for deflate (ms)"
  }
  final class XmlBytesMetric extends CustomSumMetric {
    override def name(): String = SheetXmlBytes
    override def description(): String = "xlsx sheet XML bytes"
  }
  final class DeflatedBytesMetric extends CustomSumMetric {
    override def name(): String = SheetDeflatedBytes
    override def description(): String = "xlsx sheet deflated bytes"
  }

  def metrics(): Array[CustomMetric] = Array(new DeflateMetric,
    new DeflateWaitMetric, new XmlBytesMetric, new DeflatedBytesMetric)

  def taskMetrics(s: SheetStats): Array[CustomTaskMetric] = Array(
    XlsxScan.taskMetric(DeflateMs, s.deflateNs / 1000000L),
    XlsxScan.taskMetric(DeflateWaitMs, s.waitNs / 1000000L),
    XlsxScan.taskMetric(SheetXmlBytes, s.xmlBytes),
    XlsxScan.taskMetric(SheetDeflatedBytes, s.deflatedBytes))
}

final class XlsxBatchWrite(path: String, schema: StructType, opts: XlsxOptions,
    truncate: Boolean, format: SheetFormat) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // Driver-side: prepare the output directory.
    val p = new Path(path)
    val fs = p.getFileSystem(XlsxDataSource.hadoopConf())
    if (truncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    // deflate workers per task: the read's AUTO rule over the write's
    // partitions
    val parts = math.max(1, info.numPartitions)
    val threads = XlsxScan.autoThreads(XlsxScan.executorCores(), parts, 1.0 / parts)
    new XlsxDataWriterFactory(path, schema, opts.writeHeader,
      opts.sheetName.getOrElse("Sheet1"), XlsxDataSource.captureConf(), format,
      threads)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class XlsxDataWriterFactory(path: String, schema: StructType, header: Boolean,
    sheetName: String, conf: XlsxDataSource.ConfProps, format: SheetFormat,
    threads: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new XlsxDataWriter(path, schema, header, sheetName, partitionId, taskId, conf,
      format, threads)
}

/** One file per write task, streamed row-by-row into the zip. */
final class XlsxDataWriter(
    dir: String,
    schema: StructType,
    header: Boolean,
    sheetName: String,
    partitionId: Int,
    taskId: Long,
    conf: XlsxDataSource.ConfProps,
    format: SheetFormat,
    threads: Int)
    extends DataWriter[InternalRow] {

  private val file =
    new Path(dir, f"part-$partitionId%05d-$taskId.${format.extension}")
  private val fs = file.getFileSystem(conf.toConf)
  private val out = fs.create(file, true)
  private val sheet = format.sheetWriter(
    out, sheetName, if (header) Some(schema.fieldNames.toSeq) else None, threads)
  private val types: Array[DataType] = schema.fields.map(_.dataType)

  override def write(record: InternalRow): Unit = {
    val vs = new Array[Any](types.length)
    var i = 0
    while (i < vs.length) {
      if (!record.isNullAt(i)) vs(i) = value(record, i, types(i))
      i += 1
    }
    sheet.addRow(scala.collection.immutable.ArraySeq.unsafeWrapArray(vs))
  }

  /** A non-null Catalyst value as the sheet writers' cell value. */
  private def value(record: InternalRow, i: Int, dt: DataType): Any = dt match {
    case StringType  => record.getUTF8String(i).toString
    case DoubleType  => record.getDouble(i)
    case FloatType   => record.getFloat(i).toDouble
    case IntegerType => record.getInt(i)
    case LongType    => record.getLong(i)
    case ShortType   => record.getShort(i).toInt
    case ByteType    => record.getByte(i).toInt
    case BooleanType => record.getBoolean(i)
    case DateType    => java.time.LocalDate.ofEpochDay(record.getInt(i).toLong)
    case other =>
      throw new IllegalArgumentException(
        s"${format.extension} write: unsupported column type $other (supported: " +
          "string, double/float, int/long/short/byte, boolean, date)")
  }

  private var finished = false

  /** The rows, then the sheet's finish: the write task takes its last
    * metrics between `writeAll` and `commit`, so they count the whole
    * sheet only when it is finished here. */
  override def writeAll(records: util.Iterator[InternalRow]): Unit = {
    super.writeAll(records)
    finish()
  }

  private def finish(): Unit = if (!finished) { finished = true; sheet.finish() }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    if (format.measured) XlsxWrite.taskMetrics(sheet.stats) else Array.empty

  override def commit(): WriterCommitMessage = {
    finish()
    out.close()
    XlsxCommit(file.toString)
  }

  /** Stop without completing the container (`sheet.abort` closes `out`),
    * then delete the partial file. */
  override def abort(): Unit = {
    try sheet.abort() catch { case _: Throwable => }
    try fs.delete(file, false) catch { case _: Throwable => }
  }

  override def close(): Unit = ()
}

final case class XlsxCommit(path: String) extends WriterCommitMessage
