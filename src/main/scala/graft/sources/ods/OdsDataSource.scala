package graft.sources.ods

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.sources.xlsx.{XCell, XlsxDataSource, XlsxOptions, XlsxPartitionReader, XlsxSchema}

/** `spark.read.format("ods")` / `df.write.format("ods")` — the OpenDocument
  * spreadsheet twin of the xlsx source: SAME option surface (sheetName /
  * sheetIndex / hasHeader / skipRows / types / forceTypes /
  * coerceToString), SAME schema-inference and NULL/coercion rules
  * (XlsxSchema.fromProbe / XlsxPartitionReader.convert are shared), over
  * the ODF container parsed by [[OdsParser]].
  *
  * Scale shape matches the family design: one InputPartition per file
  * (deflate streams don't split; a directory fans out across the
  * cluster), schema from the first file only, column pruning pushed into
  * the conversion (pruned columns are never converted). The xlsx path
  * keeps the throughput engineering (byte-level scanner, columnar
  * batches, intra-file threads); ods is the completeness-family member
  * and parses with StAX into the same columnar batches. */
final class OdsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ods"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = OdsDataSource.resolvePaths(options)
    if (paths.isEmpty)
      throw new IllegalArgumentException(
        "ods: no input files found — schema inference needs at least one document")
    val opts = XlsxOptions.from(options)
    OdsDataSource.resolve(paths.head, opts).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val map = new CaseInsensitiveStringMap(properties)
    new OdsTable(schema, XlsxOptions.from(map), map)
  }
}

object OdsDataSource {
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val conf = XlsxDataSource.hadoopConf()
    Option(options.get("path")).toSeq.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && f.getPath.getName.toLowerCase.endsWith(".ods"))
            .map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }.sorted
  }

  private[ods] def opener(path: String,
      conf: XlsxDataSource.ConfProps): () => java.io.InputStream = { () =>
    val p = new Path(path)
    p.getFileSystem(conf.toConf).open(p)
  }

  /** Probe the first two post-skip rows and resolve the schema with the
    * family's shared rules. */
  def resolve(path: String, opts: XlsxOptions,
      conf: XlsxDataSource.ConfProps = XlsxDataSource.captureConf()): XlsxSchema.Resolved = {
    val probe = ArrayBuffer[Array[XCell]]()
    var seen = 0
    OdsParser.foreachRow(opener(path, conf), opts.sheetName,
      opts.effectiveSheetIndex - 1, (_, cells) => {
        seen += 1
        if (seen > opts.skipRows) probe += cells
        probe.length < 2
      })
    XlsxSchema.fromProbe(probe.toSeq, opts)
  }
}

final class OdsTable(schema: StructType, opts: XlsxOptions,
    options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"ods:${Option(options.get("path")).getOrElse("")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(map: CaseInsensitiveStringMap): ScanBuilder =
    new OdsScanBuilder(schema, opts, OdsDataSource.resolvePaths(map))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new OdsWriteBuilder(
      Option(info.options.get("path")).getOrElse(
        throw new IllegalArgumentException("ods write requires a path")),
      info.schema(), opts)
}

final class OdsScanBuilder(fullSchema: StructType, opts: XlsxOptions,
    paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }
  override def build(): Scan = new OdsScan(fullSchema, required, opts, paths)
}

final class OdsScan(fullSchema: StructType, required: StructType,
    opts: XlsxOptions, paths: Seq[String])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"ods scan of ${paths.size} file(s)"

  override def planInputPartitions(): Array[InputPartition] =
    paths.map(p => OdsInputPartition(p): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new OdsPartitionReaderFactory(fullSchema, required, opts,
      XlsxDataSource.captureConf())
}

final case class OdsInputPartition(path: String) extends InputPartition

/** Batch scans read columnar, matching the xlsx family — Spark inserts
  * codegen'd ColumnarToRow, the vectorized-parquet shape. */
final class OdsPartitionReaderFactory(fullSchema: StructType,
    required: StructType, opts: XlsxOptions, conf: XlsxDataSource.ConfProps)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "ods scans are columnar: Spark reads them through createColumnarReader")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new OdsColumnarPartitionReader(fullSchema, required, opts, conf,
      partition.asInstanceOf[OdsInputPartition].path)
}

/** Bounded producer bridging the push-based StAX parse to the pull-based
  * columnar reader: a feeder thread queues post-skip rows (ragged-checked
  * exactly like the xlsx path), the consumer drains. */
private[ods] final class OdsRowFeed(path: String, opts: XlsxOptions,
    conf: XlsxDataSource.ConfProps, resolved: XlsxSchema.Resolved) {
  private val queue = new java.util.concurrent.ArrayBlockingQueue[AnyRef](256)
  private val Done = new Object
  @volatile private var err: Throwable = null
  @volatile private var closed = false

  private val feeder = new Thread(() => {
    try {
      var emitted = 0L
      OdsParser.foreachRow(OdsDataSource.opener(path, conf), opts.sheetName,
        opts.effectiveSheetIndex - 1, (_, cells) => {
          emitted += 1
          if (emitted > resolved.dropRows) {
            if (cells.length > resolved.baseWidth)
              throw new IllegalStateException(
                s"Row $emitted has more columns than the first row. " +
                  s"Has: ${cells.length} Expected: ${resolved.baseWidth}")
            queue.put(cells)
          }
          !closed // stop parsing promptly once the reader is closed
        })
    } catch { case t: Throwable => if (!closed) err = t }
    finally {
      // Done handshake must neither block forever (reader closed with a
      // full queue → no consumer) nor get lost (consumer still draining):
      // bounded offers until delivered or the reader is gone
      var delivered = false
      while (!delivered && !closed) {
        try delivered = queue.offer(Done, 50,
          java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => delivered = closed }
      }
    }
  }, s"ods-feeder-$path")
  feeder.setDaemon(true)
  feeder.start()

  /** Blocking take: null at end of stream (re-raising any feeder error).
    * Callers must not take() again after null. */
  def take(): Array[XCell] = queue.take() match {
    case Done =>
      if (err != null) throw err
      null
    case r => r.asInstanceOf[Array[XCell]]
  }

  def close(): Unit = {
    closed = true
    feeder.interrupt()
  }
}

/** Columnar reader over one file's target table: the feed's rows fill
  * reused OnHeapColumnVectors through `XlsxPartitionReader.writeVector`
  * (the family's shared cell→vector semantics), emitting one ColumnarBatch
  * per [[graft.sources.xlsx.XlsxColumnarPartitionReader.SeqBatchRows]] rows —
  * Spark reads it through codegen'd ColumnarToRow, the same plan shape as
  * the xlsx batch path and the built-in vectorized parquet reader. */
final class OdsColumnarPartitionReader(fullSchema: StructType,
    required: StructType, opts: XlsxOptions, conf: XlsxDataSource.ConfProps,
    path: String)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import graft.sources.xlsx.XlsxColumnarPartitionReader.SeqBatchRows

  private val resolved = OdsDataSource.resolve(path, opts, conf)
  private val colIdx: Array[Int] =
    required.fields.map(f => fullSchema.fieldIndex(f.name))
  private val colTypes: Array[DataType] = required.fields.map(_.dataType)
  private val colCodes: Array[Int] = colTypes.map(XlsxPartitionReader.typeCode)
  private val feed = new OdsRowFeed(path, opts, conf, resolved)
  private var vectors: Array[OnHeapColumnVector] = _
  private var current: ColumnarBatch = _
  private var finished = false

  override def next(): Boolean = {
    if (finished) return false
    if (vectors == null)
      vectors = colTypes.map(dt => new OnHeapColumnVector(SeqBatchRows, dt))
    else vectors.foreach(_.reset())
    var out = 0
    while (out < SeqBatchRows && !finished) {
      val cells = feed.take()
      if (cells == null) finished = true
      else {
        var i = 0
        while (i < colIdx.length) {
          val c = if (colIdx(i) < cells.length) cells(colIdx(i)) else XCell.XNone
          XlsxPartitionReader.writeVector(vectors(i), out, c, colCodes(i),
            resolved.coerceToString)
          i += 1
        }
        out += 1
      }
    }
    if (out == 0) false
    else {
      current = new ColumnarBatch(vectors.toArray[ColumnVector], out)
      true
    }
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = {
    finished = true
    feed.close()
  }
}

final class OdsWriteBuilder(path: String, schema: StructType, opts: XlsxOptions)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new OdsBatchWrite(path, schema, opts, doTruncate)
  }
}

final class OdsBatchWrite(path: String, schema: StructType, opts: XlsxOptions,
    truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val p = new Path(path)
    val fs = p.getFileSystem(XlsxDataSource.hadoopConf())
    if (truncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    new OdsDataWriterFactory(path, schema, opts.writeHeader,
      opts.sheetName.getOrElse("Sheet1"), XlsxDataSource.captureConf())
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class OdsDataWriterFactory(path: String, schema: StructType,
    header: Boolean, tableName: String, conf: XlsxDataSource.ConfProps)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new OdsDataWriter(path, schema, header, tableName, partitionId, taskId, conf)
}

/** One .ods file per write task, streamed row-by-row. */
final class OdsDataWriter(dir: String, schema: StructType, header: Boolean,
    tableName: String, partitionId: Int, taskId: Long,
    conf: XlsxDataSource.ConfProps) extends DataWriter[InternalRow] {

  private val file = new Path(dir, f"part-$partitionId%05d-$taskId.ods")
  private val fs = file.getFileSystem(conf.toConf)
  private val out = fs.create(file, true)
  private val sheet = new OdsWriter.StreamingOdsWriter(
    out, tableName, if (header) Some(schema.fieldNames.toSeq) else None)

  override def write(record: InternalRow): Unit = {
    val vs: Seq[Any] = schema.fields.zipWithIndex.map { case (f, i) =>
      if (record.isNullAt(i)) null
      else f.dataType match {
        case StringType  => record.getUTF8String(i).toString
        case DoubleType  => record.getDouble(i)
        case FloatType   => record.getFloat(i).toDouble
        case IntegerType => record.getInt(i)
        case LongType    => record.getLong(i)
        case ShortType   => record.getShort(i).toInt
        case ByteType    => record.getByte(i).toInt
        case BooleanType => record.getBoolean(i)
        case DateType    => java.time.LocalDate.ofEpochDay(record.getInt(i).toLong)
        case other => throw new IllegalArgumentException(
          s"ods write: unsupported column type $other")
      }
    }.toSeq
    sheet.addRow(vs)
  }

  override def commit(): WriterCommitMessage = {
    sheet.finish()
    out.close()
    OdsCommit(file.toString)
  }

  override def abort(): Unit = {
    try { sheet.finish(); out.close() } catch { case _: Throwable => }
    try { fs.delete(file, false); () } catch { case _: Throwable => }
  }

  override def close(): Unit = ()
}

final case class OdsCommit(path: String) extends WriterCommitMessage
