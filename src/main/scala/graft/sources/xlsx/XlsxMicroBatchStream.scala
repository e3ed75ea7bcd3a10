package graft.sources.xlsx

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.mutable.ArrayBuffer

/** Offset = number of files admitted to the stream so far. The admitted
  * file sequence is persisted (see [[XlsxMicroBatchStream]]), so any
  * (start, end] range replays the exact same files. */
final case class XlsxOffset(count: Long) extends Offset {
  override def json(): String = count.toString
}

/** Micro-batch streaming face of the xlsx scan: `spark.readStream
  * .format("xlsx").load(dir)` tails a directory for new workbook files —
  * the arrival pattern a spreadsheet drop-box actually has.
  *
  * Discovery order is made durable the way Spark's own file source does it
  * (a file-log under the checkpoint), scaled down: each `latestOffset()`
  * lists the glob, sorts unseen files by (modification time, path) and
  * appends them to a numbered log entry under
  * `<checkpoint>/xlsx-file-log/`. Restart replays the log, so offsets
  * checkpointed by the engine stay meaningful and an interrupted query
  * resumes exactly after the last committed file. Files are admitted
  * whole — a workbook is one deflate stream, so "new rows in an old file"
  * is not a shape xlsx has.
  */
final class XlsxMicroBatchStream(
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    options: CaseInsensitiveStringMap,
    checkpointLocation: String)
    extends MicroBatchStream {

  private val logDir = new Path(checkpointLocation, "xlsx-file-log")
  private val fs = logDir.getFileSystem(XlsxDataSource.hadoopConf())

  /** Admitted files in admission order; index i = offset i+1. */
  private val seen = ArrayBuffer[String]()
  private val seenSet = scala.collection.mutable.Set[String]()
  private var logEntries = 0

  // restore the admitted sequence from a previous run of this query
  if (fs.exists(logDir)) {
    val entries = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    entries.foreach { e =>
      val in = fs.open(e)
      val content = try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
        new String(bos.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
      content.split('\n').filter(_.nonEmpty).foreach { p =>
        if (seenSet.add(p)) seen += p
      }
      logEntries += 1
    }
  }

  /** Re-glob the scan's original path options against the filesystem. */
  private def listNow(): Seq[String] = XlsxDataSource.resolvePaths(options, XlsxWriter.extension)

  override def latestOffset(): Offset = synchronized {
    val conf = XlsxDataSource.hadoopConf()
    val unseen = listNow().filterNot(seenSet.contains)
    if (unseen.nonEmpty) {
      // admission order: stable (mtime, path) so a restarted driver that
      // re-lists before reading its own log would admit identically
      val orderedAll = unseen.map { p =>
        val hp = new Path(p)
        val mtime = try hp.getFileSystem(conf).getFileStatus(hp).getModificationTime
                    catch { case _: java.io.IOException => 0L }
        (mtime, p)
      }.sorted.map(_._2)
      // maxFilesPerTrigger: admit a bounded prefix per trigger; the tail
      // stays unseen and re-lists next trigger, so a backfilled directory
      // streams as ceil(backlog / cap) batches instead of one giant one
      val ordered = opts.maxFilesPerTrigger match {
        case Some(cap) => orderedAll.take(cap)
        case None => orderedAll
      }
      // write-to-temp then rename: a crash mid-write must never leave a
      // truncated entry, because the constructor replays this log verbatim
      // and a poisoned path would fail every subsequent restart (the same
      // reason Spark's own file-source metadata log renames atomically)
      val entry = new Path(logDir, logEntries.toString)
      val tmp = new Path(logDir, s".${logEntries}.tmp")
      fs.mkdirs(logDir)
      val out = fs.create(tmp, true)
      try out.write(ordered.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, entry))
        throw new java.io.IOException(s"xlsx stream: failed to commit file-log entry $entry")
      logEntries += 1
      ordered.foreach { p => if (seenSet.add(p)) seen += p }
    }
    XlsxOffset(seen.size.toLong)
  }

  override def initialOffset(): Offset = XlsxOffset(0L)

  override def deserializeOffset(json: String): Offset = XlsxOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[XlsxOffset].count.toInt
    val e = end.asInstanceOf[XlsxOffset].count.toInt
    XlsxScan.partitionsFor(seen.slice(s, e).toSeq, opts)
  }

  // micro-batches ride the same ColumnarBatch parse path as batch scans
  // (Spark plans codegen'd ColumnarToRow above the streaming scan too) — a
  // 100 TB backfill through readStream must not pay a slower parse rate
  // than the batch side (parity is spec-asserted)
  override def createReaderFactory(): PartitionReaderFactory =
    new XlsxPartitionReaderFactory(fullSchema, required, opts,
      XlsxDataSource.captureConf())

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
