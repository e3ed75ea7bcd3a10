package graft.sources.ods

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import scala.jdk.CollectionConverters._

import graft.sources.xlsx.{CellRowIterator, RowBatchReader, RowColumns, RowSource, XlsxDataSource, XlsxOptions, XlsxSchema, XlsxWriteBuilder, ZipRaw}

/** `spark.read.format("ods")` / `df.write.format("ods")` — the OpenDocument
  * spreadsheet twin of the xlsx source, a thin format layer over the xlsx
  * source's pieces: the SAME option surface (sheetName / sheetIndex /
  * hasHeader / skipRows / types / forceTypes / coerceToString), path
  * resolution (`XlsxDataSource.resolvePaths`), probe rule and
  * schema-inference and NULL/coercion rules (`XlsxSchema`), sequential
  * columnar batch loop ([[RowBatchReader]], fed through the cell adapter
  * `RowSource.of`) and DSv2 writer
  * ([[XlsxWriteBuilder]] over [[OdsWriter]]). Only the container differs:
  * rows come from [[OdsParser]]'s pull iterator, on the task thread.
  *
  * Scale shape matches the family design: one InputPartition per file
  * (deflate streams don't split; a directory fans out across the
  * cluster), schema from the first file only, column pruning pushed into
  * the conversion (pruned columns are never converted); filters are
  * Spark's, as for xlsx. Batch read and write only: no streaming, no
  * allSheets and no intra-file threads, which stay with the xlsx
  * flagship. */
final class OdsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ods"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = XlsxDataSource.resolvePaths(options, OdsWriter.extension)
    if (paths.isEmpty)
      throw new IllegalArgumentException(
        "ods: no input files found — schema inference needs at least one document")
    OdsDataSource.resolve(paths.head, XlsxOptions.from(options),
      XlsxDataSource.captureConf()).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val map = new CaseInsensitiveStringMap(properties)
    new OdsTable(schema, XlsxOptions.from(map), map)
  }
}

object OdsDataSource {
  /** The target table's rows of one document. */
  def rows(path: String, opts: XlsxOptions,
      conf: XlsxDataSource.ConfProps): CellRowIterator =
    OdsParser.rows(ZipRaw.Archive.at(path, conf.toConf), opts.sheetName,
      opts.effectiveSheetIndex)

  def resolve(path: String, opts: XlsxOptions,
      conf: XlsxDataSource.ConfProps): XlsxSchema.Resolved =
    XlsxSchema.fromProbe(XlsxSchema.probe(rows(path, opts, conf), opts), opts)
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
    new OdsScanBuilder(schema, opts,
      XlsxDataSource.resolvePaths(map, OdsWriter.extension))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new XlsxWriteBuilder(info, opts, OdsWriter)
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

/** Batch scans read columnar through the xlsx source's sequential batch
  * loop — Spark inserts codegen'd ColumnarToRow, the vectorized-parquet
  * shape. Each file resolves its own header, as xlsx files do. */
final class OdsPartitionReaderFactory(fullSchema: StructType,
    required: StructType, opts: XlsxOptions, conf: XlsxDataSource.ConfProps)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "ods scans are columnar: Spark reads them through createColumnarReader")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val path = partition.asInstanceOf[OdsInputPartition].path
    val resolved = OdsDataSource.resolve(path, opts, conf)
    new RowBatchReader(RowSource.of(OdsDataSource.rows(path, opts, conf)),
      resolved.dropRows, resolved.baseWidth,
      new RowColumns(fullSchema, required, resolved.coerceToString))
  }
}
