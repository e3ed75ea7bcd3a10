package graft.sources.xlsx

import java.io.InputStream
import java.util.concurrent.{ArrayBlockingQueue, Callable, ExecutionException, ExecutorService, Executors, Future, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.{CRC32, DataFormatException, Inflater}

import scala.collection.mutable.ArrayBuffer

/** Intra-file parallel worksheet parsing — the Spark-side equivalent of the
  * reference's `threads` knob (reference: src/sheetreader_extension.cpp:36-53,
  * 294-458 parses ONE workbook with N workers into per-thread buffers).
  *
  * Deflate streams are not splittable, so the inflate pass is inherently
  * sequential; what CAN fan out is everything after it — attribute parsing,
  * entity decoding, number parsing, cell materialization, which dominate the
  * per-byte cost. The pipeline:
  *
  *   producer thread:  inflate → locate row boundaries → cut ~`chunkBytes`
  *                     chunks ending on a row boundary
  *   worker pool (N):  `parse` each chunk in place with a [[SheetScanCore]]
  *                     — the columnar reader scans it straight into a
  *                     [[ColumnChunk]], which needs no shared-strings table
  *   caller thread:    take chunk results in submission order
  *                     ([[advanceChunk]]), stitching implicit
  *                     (r-attribute-less) row indices across chunks
  *
  * Backpressure is the bounded future queue: at most `threads * 2` chunks
  * are in flight, so memory is O(threads · chunkBytes) regardless of sheet
  * size. The boundary locator ([[RowBoundaryTracker]]) is an incremental
  * mimic of [[SheetScanner]]'s markup state machine — quotes, comments,
  * CDATA, processing instructions, `<v>`/`<is>` text containment and the
  * entity quirk included — so a chunk cut is NEVER inside markup that the
  * scanner would have treated as content (the differential fuzz drives the
  * chunked path against StAX on adversarial sheets).
  *
  * The chunk face is the only consumer face: the columnar DSv2 reader's
  * `parse` builds one ColumnarBatch per chunk, and the row iterator
  * ([[ParallelSheetScanner.rowIterator]]) is an adapter whose `parse`
  * keeps each chunk's rows as [[XCell]]s.
  *
  * This is for the reference's headline scenario — one huge workbook on an
  * otherwise idle machine. Under a normal multi-file Spark scan each task
  * is already one core of parallelism and `threads` stays 1.
  */
final class ParallelSheetScanner(
    in: InputStream,
    threads: Int,
    closeUnderlying: () => Unit,
    /** Per-CHUNK parse, called IN THE WORKER: `(bytes, length, dropFirst)
      * => chunk` scans `bytes[0, length)` — whole rows — into a
      * [[ParsedChunk]]. `dropFirst` is how many leading rows of THIS chunk
      * fall inside the file-level `dropFirstRows` prefix (header/skipRows):
      * the producer derives it EXACTLY from its boundary counts, so the
      * chunk must keep those rows out of its data (they still appear in
      * its metadata). The bytes are recycled once it returns. Must be
      * thread-safe. */
    parse: (Array[Byte], Int, Int) => ParsedChunk,
    chunkBytes: Int = ParallelSheetScanner.DefaultChunkBytes,
    /** File-level leading-row drop (header + skipRows) dealt out to chunk
      * workers via `parse`'s dropFirst argument. */
    dropFirstRows: Long = 0L,
    /** SEGMENT mode (non-null): the workbook carries a graft row-group
      * index ([[XlsxWriter.SegmentBytes]]), so the producer does NO
      * inflate and NO boundary tracking — it submits one task per
      * pre-recorded segment, and each WORKER preads its raw deflate
      * slice, inflates it independently (segments start on FULL_FLUSH
      * byte boundaries with a reset history window), and parses. The
      * whole pipeline becomes embarrassingly parallel; `in` may be null.
      * Measured motivation: at t=8 the stream producer spends ~75% of
      * its wall time in boundary tracking — the plateau this removes. */
    segmented: ParallelSheetScanner.SegmentIndex = null)
    extends AutoCloseable {
  require(threads >= 2, s"ParallelSheetScanner needs >= 2 threads, got $threads")
  import ParallelSheetScanner._

  // futures in submission order; capacity bounds in-flight chunks
  private val queue = new ArrayBlockingQueue[AnyRef](threads * 2)
  // chunk buffers recycled worker→producer: a big sheet otherwise allocates
  // (and the JVM zeroes) sheetBytes worth of fresh arrays — measurable on
  // the producer thread, which is the pipeline's sequential stage.
  // ArrayBlockingQueue: offer() gives an EXACT O(1) capacity bound (the
  // earlier ConcurrentLinkedQueue size()-check-then-offer was an O(n)
  // traversal and racy across workers, so the bound was only advisory).
  // Buffers that became undersized after a growth event are discarded on
  // poll — the producer's buffer only ever grows, so they can never fit
  // again and re-offering would clog the pool with dead weight.
  private val bufPool =
    new java.util.concurrent.ArrayBlockingQueue[Array[Byte]](threads * 2)
  @volatile private var producerError: Throwable = _
  @volatile private var stopped = false
  // stage times, summed over the threads that did the work
  private val inflateNanos = new AtomicLong // segment inflates in the workers
  private val scanNanos = new AtomicLong // chunk parses in the workers
  @volatile private var trackNanos = 0L // boundary tracking, producer only

  private val pool: ExecutorService =
    Executors.newFixedThreadPool(threads, ParallelSheetScanner.daemonThreads("xlsx-parse"))

  // Inflate on its own thread: deflate yields ~4 KiB per read and costs a
  // core of its own; decoupling it from boundary tracking makes the
  // pipeline's sequential stage max(inflate, track), not their sum. Depth
  // 8 × 1 MiB absorbs inflate burstiness (zlib throughput varies with
  // block content) so the tracker — the slower stage — never starves.
  // Segment mode needs neither: workers inflate their own slices.
  private val prefetch =
    if (segmented == null) new PrefetchStream(in, 1 << 20, 8, () => stopped)
    else null

  // one source, positioned (thread-safe) reads from every worker
  private val segSource =
    if (segmented == null) null else segmented.archive.source()

  private val producer = new Thread(() => produce(), "xlsx-chunk-producer")
  producer.setDaemon(true)
  producer.start()

  // ---- producer -----------------------------------------------------------

  private def produce(): Unit = {
    try {
      if (segmented != null) { produceSegments(); return }
      val tracker = new RowBoundaryTracker
      var buf = new Array[Byte](chunkBytes + (chunkBytes >> 2))
      var filled = 0
      var lastBoundary = -1 // offset just past the last row end seen in buf
      // rows already handed to workers — every boundary the tracker has
      // seen at cut time is inside the cut (the cut IS the last boundary),
      // so cumulative boundary counts deal the file-level dropFirstRows
      // prefix out to chunks EXACTLY, even when the prefix spans chunks
      var rowsBefore = 0L
      def dropFor(): Int =
        math.min(math.max(0L, dropFirstRows - rowsBefore), Int.MaxValue.toLong).toInt
      var done = false
      while (!done && !stopped) {
        val n = prefetch.read(buf, filled, buf.length - filled)
        if (n < 0) {
          if (filled > 0) submit(buf, filled, dropFor())
          done = true
        } else if (n > 0) {
          val from = filled
          filled += n
          val t0 = System.nanoTime()
          val b = tracker.scan(buf, from, filled)
          trackNanos += System.nanoTime() - t0
          if (b >= 0) lastBoundary = b
          if (filled >= chunkBytes && lastBoundary > 0) {
            // zero-copy handoff: the worker parses [0, lastBoundary) of THIS
            // buffer; only the tail carries over into a fresh (or recycled)
            // one
            val tail = filled - lastBoundary
            val minLen = math.max(buf.length, chunkBytes + (chunkBytes >> 2))
            val recycled = bufPool.poll()
            val nbuf =
              if (recycled != null && recycled.length >= minLen) recycled
              else new Array[Byte](minLen)
            System.arraycopy(buf, lastBoundary, nbuf, 0, tail)
            submit(buf, lastBoundary, dropFor())
            rowsBefore = tracker.boundaries
            buf = nbuf
            filled = tail
            lastBoundary = -1
          } else if (filled == buf.length) {
            // a single row larger than the chunk target: grow and keep going
            buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          }
        }
      }
    } catch {
      case _: InterruptedException => // close() raced us; fall through to End
      case t: Throwable => producerError = t
    } finally {
      // close() interrupts this thread: one that lands during the last
      // hand-off is a stop too, never an uncaught exception
      try putQuietly(End) catch { case _: InterruptedException => }
    }
  }

  /** Segment-mode producer: one task per recorded segment. All the work
    * — pread, inflate, parse, convert — happens in the WORKERS; this
    * thread only enqueues (backpressured by the bounded future queue, so
    * at most threads×2 segments are in flight and memory stays
    * O(threads × segmentBytes) like the streaming path). */
  private def produceSegments(): Unit = {
    val seg = segmented
    var k = 0
    while (k < seg.segments && !stopped) {
      val drop = math.min(math.max(0L, dropFirstRows - seg.rowsBefore(k)),
        Int.MaxValue.toLong).toInt
      val segNo = k
      putQuietly(pool.submit(new Callable[ParsedChunk] {
        override def call(): ParsedChunk = {
          val t0 = System.nanoTime()
          val bytes = seg.inflate(segSource, segNo, bufPool.poll())
          inflateNanos.addAndGet(System.nanoTime() - t0)
          parseChunk(bytes, seg.uncompressedLength(segNo), drop)
        }
      }))
      k += 1
    }
  }

  /** put() that gives up when the consumer has been closed (the queue may
    * be full and never drained again — don't leave a zombie thread). */
  private def putQuietly(x: AnyRef): Unit = {
    var ok = false
    while (!ok && !stopped)
      ok = queue.offer(x, 50, TimeUnit.MILLISECONDS)
  }

  private def submit(chunk: Array[Byte], len: Int, dropFirst: Int): Unit =
    putQuietly(pool.submit(new Callable[ParsedChunk] {
      override def call(): ParsedChunk = parseChunk(chunk, len, dropFirst)
    }))

  private def parseChunk(chunk: Array[Byte], len: Int, dropFirst: Int): ParsedChunk = {
    val t0 = System.nanoTime()
    val out = parse(chunk, len, dropFirst)
    scanNanos.addAndGet(System.nanoTime() - t0)
    // the chunk's bytes are fully consumed — recycle the buffer; offer()
    // drops it when the pool is at capacity (exact bound, no size() scan)
    bufPool.offer(chunk)
    out
  }

  // ---- consumer: the chunk face --------------------------------------------

  private var chunkCur: ParsedChunk = _
  private var lastIdx = -1L // absolute index of the last row handed out
  private var ended = false

  /** Pull the next parsed chunk ([[chunk]]): the worker's result with the
    * per-row metadata the consumer needs for skipRows and ragged checks.
    * Returns false at stream end. Row indices are stitched here, in
    * submission order: an implicit (r-attribute-less) row numbers from the
    * previous row, not from the worker's chunk-local counter (which started
    * at -1). A chunk may carry ZERO rows (a producer tail holding only
    * trailing markup); callers skip it and keep pulling. */
  def advanceChunk(): Boolean = {
    if (ended) return false
    queue.take() match {
      case End =>
        ended = true
        if (producerError != null) { close(); throw producerError }
        close()
        false
      case f: Future[_] =>
        // a worker parse failure must tear the pipeline down (producer,
        // prefetch, pool, underlying stream) and surface the CAUSE, the
        // same exception the sequential scanner would have thrown
        chunkCur =
          try f.get().asInstanceOf[ParsedChunk]
          catch {
            case e: ExecutionException =>
              ended = true
              close()
              throw Option(e.getCause).getOrElse(e)
            case e: InterruptedException =>
              ended = true
              close()
              throw e
          }
        val idx = chunkCur.idx
        val expl = chunkCur.explicitR
        var i = 0
        while (i < idx.length) {
          if (!expl(i)) idx(i) = lastIdx + 1
          lastIdx = idx(i)
          i += 1
        }
        true
    }
  }
  def chunk: ParsedChunk = chunkCur
  /** Absolute (stitched) row index of every parsed row in this chunk. */
  def chunkIdx: Array[Long] = chunkCur.idx
  def chunkWidths: Array[Int] = chunkCur.widths
  /** Leading rows of this chunk excluded from the batch (file-level
    * header/skipRows prefix): present in the metadata arrays, exempt from
    * ragged checks — the sequential reader never width-checks dropped rows. */
  def chunkDropped: Int = chunkCur.dropped

  /** Nanoseconds spent inflating the sheet: the prefetch thread's reads,
    * or the workers' segment inflates. */
  def inflateNs: Long =
    inflateNanos.get + (if (prefetch != null) prefetch.readNs else 0L)
  /** Nanoseconds the producer spent locating row boundaries. */
  def trackNs: Long = trackNanos
  /** Nanoseconds the workers spent parsing chunks. */
  def scanNs: Long = scanNanos.get

  override def close(): Unit = if (!stopped) {
    stopped = true
    producer.interrupt()
    if (prefetch != null) prefetch.shutdown()
    pool.shutdownNow()
    // drain so a blocked producer put can finish dying
    while (queue.poll() != null) ()
    if (segSource != null) {
      try segSource.close()
      catch { case _: java.io.IOException => }
    }
    closeUnderlying()
  }
}

/** Background-reader InputStream: a daemon thread drains `in` into FULL
  * `bufSize` buffers (an InflaterInputStream yields ~4 KiB per read — the
  * refill loop amortizes that) on a `depth`-bounded queue. Single-consumer.
  * A buffer the consumer has drained goes back to the reader through a
  * bounded free queue, so a read allocates at most `depth + 2` of them. */
private final class PrefetchStream(in: java.io.InputStream, bufSize: Int,
    depth: Int, cancelled: () => Boolean) extends java.io.InputStream {
  import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}
  private val queue = new ArrayBlockingQueue[AnyRef](depth)
  private val free = new ArrayBlockingQueue[Array[Byte]](depth + 2)
  @volatile private var err: Throwable = _
  @volatile private var stopped = false
  /** Nanoseconds the reader thread spent in `in.read`. */
  @volatile var readNs = 0L
  private case object Eof

  private val reader = new Thread(() => {
    try {
      var done = false
      while (!done && !stopped && !cancelled()) {
        val recycled = free.poll()
        val buf = if (recycled != null) recycled else new Array[Byte](bufSize)
        var n = 0
        var r = 0
        val t0 = System.nanoTime()
        while (n < bufSize && r >= 0) {
          r = in.read(buf, n, bufSize - n)
          if (r > 0) n += r
        }
        readNs += System.nanoTime() - t0
        if (n > 0) put((buf, n))
        if (r < 0) done = true
      }
    } catch {
      case _: InterruptedException =>
      case t: Throwable => err = t
    } finally {
      // shutdown() interrupts this thread: one that lands during the last
      // hand-off is a stop too, never an uncaught exception
      try put(Eof) catch { case _: InterruptedException => }
    }
  }, "xlsx-inflate")
  reader.setDaemon(true)
  reader.start()

  private def put(x: AnyRef): Unit = {
    var ok = false
    while (!ok && !stopped && !cancelled())
      ok = queue.offer(x, 50, TimeUnit.MILLISECONDS)
  }

  private var cur: Array[Byte] = _
  private var curLen = 0
  private var curPos = 0
  private var eof = false

  override def read(): Int = {
    val one = new Array[Byte](1)
    val n = read(one, 0, 1)
    if (n < 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (eof) return -1
    while (cur == null || curPos >= curLen) {
      if (cur != null) { free.offer(cur); cur = null }
      queue.take() match {
        case Eof =>
          eof = true
          free.clear() // a finished stream holds no buffer
          if (err != null) throw new java.io.IOException(err)
          return -1
        case (buf: Array[Byte], n: Integer) =>
          cur = buf; curLen = n; curPos = 0
      }
    }
    val take = math.min(len, curLen - curPos)
    System.arraycopy(cur, curPos, b, off, take)
    curPos += take
    take
  }

  def shutdown(): Unit = {
    stopped = true
    reader.interrupt()
    while (queue.poll() != null) ()
    free.clear()
  }
}

object ParallelSheetScanner {
  /** 2 MiB: enough chunks that a 16-worker pool drains in many small waves
    * (short tail after the producer finishes) while per-chunk overhead
    * (buffer alloc, queue hop, per-chunk scanner setup) stays amortized. */
  val DefaultChunkBytes: Int = 2 << 20

  /** Daemon threads named `<prefix>-1`, `<prefix>-2`, … for a worker pool
    * (the reader's parse workers, the writer's deflate workers). */
  def daemonThreads(prefix: String): ThreadFactory = new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** A workbook's graft row-group index, resolved to raw archive
    * geometry: `cuts(i) = (compressed offset, uncompressed offset, rows
    * before)` of the (i+1)-th segment start WITHIN the deflate data of
    * worksheet `entry`, which begins at `dataOffset` in `archive`. Segment
    * boundaries are writer-recorded FULL_FLUSH points landing exactly
    * after a `</row>` in Text state, so each slice inflates AND parses
    * independently. `segmentCrcs` holds each segment's CRC-32 (index
    * version 3), or is null for a version-2 index, whose segments are
    * read unchecked. */
  final case class SegmentIndex(archive: ZipRaw.Archive, entry: String,
      dataOffset: Long, compressedSize: Long, cuts: Array[Array[Long]],
      totalUncomp: Long, totalRows: Long, segmentCrcs: Array[Int]) {
    def segments: Int = cuts.length + 1
    // segment k's start in field f of a cut; segment `segments` is the end
    private def start(k: Int, f: Int, end: Long): Long =
      if (k == 0) 0L else if (k == segments) end else cuts(k - 1)(f)
    def compressedStart(k: Int): Long = start(k, 0, compressedSize)
    def uncompressedStart(k: Int): Long = start(k, 1, totalUncomp)
    def rowsBefore(k: Int): Long = start(k, 2, totalRows)
    def uncompressedLength(k: Int): Int =
      (uncompressedStart(k + 1) - uncompressedStart(k)).toInt

    /** Segment `k`, read from `src` and inflated into `reuse` when it is
      * large enough (else into a new array, which is returned), its
      * CRC-32 checked when the index records one. Every failure names the
      * file, the worksheet and the segment. */
    def inflate(src: ZipRaw.Source, k: Int, reuse: Array[Byte]): Array[Byte] = {
      def corrupt(why: String) = new java.io.IOException(
        s"${archive.path}: worksheet $entry segment $k is corrupt: $why")
      val cLen = (compressedStart(k + 1) - compressedStart(k)).toInt
      val uLen = uncompressedLength(k)
      val comp = new Array[Byte](cLen)
      val pos = dataOffset + compressedStart(k)
      try src.readFully(pos, comp, 0, cLen)
      catch { case _: java.io.EOFException => throw corrupt(s"end of file inside offsets $pos + $cLen") }
      val out = if (reuse != null && reuse.length >= uLen) reuse else new Array[Byte](uLen)
      val inf = new Inflater(true)
      try {
        inf.setInput(comp, 0, cLen)
        var off = 0
        while (off < uLen) {
          val n = inf.inflate(out, off, uLen - off)
          if (n == 0) throw corrupt(s"inflates to $off of $uLen bytes")
          off += n
        }
      } catch {
        case e: DataFormatException => throw corrupt(s"bad deflate data (${e.getMessage})")
      } finally inf.end()
      if (segmentCrcs != null) {
        val crc = new CRC32
        crc.update(out, 0, uLen)
        if (crc.getValue.toInt != segmentCrcs(k)) throw corrupt("CRC-32 mismatch")
      }
      out
    }
  }

  /** Segments [s0, s1) of `seg` as one stream. Each segment is inflated
    * and checked whole ([[SegmentIndex.inflate]]) before its first byte is
    * handed out, so a corrupt segment fails before any of its rows. */
  private[xlsx] final class SegmentStream(seg: SegmentIndex, s0: Int, s1: Int)
      extends InputStream {
    private val src = seg.archive.source()
    private var next = s0
    private var buf: Array[Byte] = _
    private var pos, len = 0

    private def fill(): Boolean = {
      while (pos == len && next < s1) {
        buf = seg.inflate(src, next, buf)
        pos = 0
        len = seg.uncompressedLength(next)
        next += 1
      }
      pos < len
    }
    override def read(): Int =
      if (!fill()) -1 else { pos += 1; buf(pos - 1) & 0xff }
    override def read(b: Array[Byte], off: Int, n: Int): Int =
      if (n == 0) 0
      else if (!fill()) -1
      else {
        val m = math.min(n, len - pos)
        System.arraycopy(buf, pos, b, off, m)
        pos += m
        m
      }
    override def close(): Unit = src.close()
  }

  /** Row face over the chunk face: each worker keeps its chunk's rows as
    * [[XCell]]s (shared strings resolved against `strings`), and the
    * iterator walks them with the scanner's stitched indices — the same
    * stitching the columnar reader rides. */
  def rowIterator(in: InputStream, strings: Array[String],
      dates: Array[Boolean], threads: Int, closeUnderlying: () => Unit,
      chunkBytes: Int = DefaultChunkBytes,
      segmented: SegmentIndex = null): CellRowIterator =
    new ChunkRows(new ParallelSheetScanner(in, threads, closeUnderlying,
      cellRows(strings, dates), chunkBytes, segmented = segmented))

  /** The chunk parse of the row face. */
  private[xlsx] def cellRows(strings: Array[String], dates: Array[Boolean])
      : (Array[Byte], Int, Int) => ParsedChunk =
    (bytes, len, dropFirst) =>
      new RowsChunk(new SheetScanner(SheetScanCore.over(bytes, len, dates), strings), dropFirst)

  /** A chunk's rows as cells. */
  private final class RowsChunk(sc: SheetScanner, dropFirst: Int) extends ParsedChunk {
    val rows: Array[Array[XCell]] = {
      val out = ArrayBuffer[Array[XCell]]()
      while (sc.hasNext) {
        val (i, cells) = sc.next()
        record(i, sc.lastRowExplicit, cells.length, cells.length)
        out += cells
      }
      seal(dropFirst)
      out.toArray
    }
  }

  private[xlsx] final class ChunkRows(sc: ParallelSheetScanner) extends CellRowIterator {
    private var rows: Array[Array[XCell]] = Array.empty
    private var idx: Array[Long] = Array.empty
    private var i = 0

    override def hasNext: Boolean = {
      while (i >= rows.length && sc.advanceChunk()) {
        rows = sc.chunk.asInstanceOf[RowsChunk].rows
        idx = sc.chunkIdx
        i = 0
      }
      i < rows.length
    }

    override def next(): (Long, Array[XCell]) = {
      if (!hasNext) throw new NoSuchElementException
      i += 1
      (idx(i - 1), rows(i - 1))
    }

    override def close(): Unit = sc.close()
  }

  private case object End
}


/** Incremental locator of row boundaries in a SpreadsheetML byte stream.
  *
  * `scan(buf, from, to)` consumes bytes and returns the offset just past the
  * LAST row end seen in this range (-1 if none); state persists across calls
  * so the stream can be fed in arbitrary slices. A "row end" is what
  * [[SheetScanner]] treats as one: a `</row>` close tag or a self-closing
  * `<row .../>`, in ordinary markup context — NOT inside a comment, CDATA
  * section, processing instruction, quoted attribute value, and not inside
  * `<v>`/`<is><t>` text content (where the scanner swallows stray close tags
  * as part of `handleTextMarkup`), and not shadowed by the scanner's
  * 12-byte entity-name consumption quirk. The transitions below mirror
  * [[SheetScanCore]]'s per-byte machinery method-for-method; divergence is a
  * bug by definition and is fuzzed against it.
  *
  * Like the scanner, the tracker has a fused fast path over per-byte spill
  * states: in text context one unaligned 8-byte probe consumes `</c>`,
  * `<v>`, `</v>`, `</row>`, `<is>`, `</is>`, `<t>`, `</t>` and the common
  * `<row r="…">`/`<c r="…">` forms whole, and every other construct, and
  * every tag that crosses the end of a slice, takes the per-byte states.
  * Both read names and literals through the one tag table
  * ([[SheetMarkup]]), so they cannot disagree on what a tag is.
  */
final class RowBoundaryTracker {
  import RowBoundaryTracker._
  import SheetMarkup._

  // Persistent state between scan() calls. Inside scan() everything is
  // hoisted into locals — the tracker runs on ONE thread and must outrun N
  // parse workers, so per-transition field traffic matters.
  private var state = Text
  private var inV = false // element-containment flags, mirroring SheetScanner
  private var inIs = false
  private var inT = false
  private var ltFromText = false // did the '<' dispatch happen in text mode?
  // current element name packed little-endian into a Long (first 8 bytes,
  // prefix-stripped); len caps at 9 meaning "longer than any name we match"
  private var nameWord = 0L
  private var nameLen = 0
  private var kind = KOther // classification of the packed name
  private var quote = 0 // active attribute-value quote char
  private var entN = 0 // entity-name bytes consumed
  private var look1, look2 = 0 // lookbehind for -->, ]]>, ?>
  private var hdrLeft = 0 // remaining "CDATA[" header bytes
  private var bcount = 0L // row boundaries seen since construction

  /** Cumulative count of row boundaries seen across all scan() calls — the
    * chunk producer samples this at cut time to deal the file-level
    * leading-row drop out to chunk workers exactly (boundaries ≡ rows the
    * chunk's parser will emit, because cuts land ON boundaries). */
  def boundaries: Long = bcount

  /** Feed buf[from, to); returns offset just past the last row end, or -1. */
  def scan(buf: Array[Byte], from: Int, to: Int): Int = {
    // hoist persistent state
    var st = state
    var iv = inV; var iis = inIs; var it = inT
    var ltText = ltFromText
    var word = nameWord; var wlen = nameLen; var k = kind
    var q0 = quote; var en = entN
    var l1 = look1; var l2 = look2; var hdr = hdrLeft
    var bc = bcount

    var last = -1
    var p = from

    // (classification is SheetMarkup.classify — a static helper, so the
    // hoisted locals stay unboxed registers)

    while (p < to) {
      (st: @annotation.switch) match {
        case Text =>
          // Fused fast path: text run + ENTIRE tag (name, attribute region,
          // self-close, close semantics) per inner-loop pass, staying inside
          // this case across whole row/cell structures. The per-byte states
          // below survive purely as buffer-edge resume points and for the
          // rare constructs (comments, CDATA, PIs, entities) — each spill
          // sets the exact state the unfused machine would be in, so a cut
          // mid-anything resumes byte-identically (differential-fuzzed with
          // 48-byte chunk targets). Fusing matters because SpreadsheetML is
          // markup-dense: a ~40-byte cell tag otherwise costs ~12 dispatches
          // through the outer switch, which measured ~460 MB/s — the
          // sequential floor of the whole parallel-parse pipeline.
          var fast = true
          while (fast) {
            // ---- text run ----
            var q = p
            if (iv || it) while (q < to && buf(q) != '<' && buf(q) != '&') q += 1
            else while (q < to && buf(q) != '<') q += 1
            if (q >= to) { p = q; fast = false }
            else if (buf(q) == '&') { st = Entity; en = 0; p = q + 1; fast = false }
            else if (LittleEndian && q + 8 <= to && {
              // Literal-tag probe: ONE unaligned 8-byte load covers the
              // fixed no-attribute tags that dominate SpreadsheetML
              // (</c>, <v>, </v>, <is>, </is>, <t>, </t>, </row> — ~20 of
              // the ~26 tags in a typical row). Each branch applies EXACTLY
              // the semantics the generic path would conclude for that tag
              // in the current containment context, so this is a pure
              // short-circuit — tags with attributes and every rare
              // construct fall through to the machinery below.
              val w8 = SheetMarkup.word(buf, q)
              ltText = iv || it
              if ((w8 & 0xFFFFFFFFL) == LitCloseC) { p = q + 4; true }
              else if ((w8 & 0xFFFFFFL) == LitOpenV) {
                p = q + 3; if (!ltText) iv = true; true
              } else if ((w8 & 0xFFFFFFFFL) == LitCloseV) {
                // ltText close dispatch and main close dispatch agree: v → iv off
                p = q + 4; iv = false; true
              } else if ((w8 & 0xFFFFFFFFFFFFL) == LitCloseRow) {
                p = q + 6
                if (!ltText) { last = p; bc += 1 } // in-text </row> is content
                true
              } else if ((w8 & 0xFFFFFFFFL) == LitOpenIs) {
                p = q + 4; if (!ltText) iis = true; true
              } else if ((w8 & 0xFFFFFFFFFFL) == LitCloseIs) {
                p = q + 5; iis = false; it = false; true
              } else if ((w8 & 0xFFFFFFL) == LitOpenT) {
                p = q + 3; if (!ltText && iis) it = true; true
              } else if ((w8 & 0xFFFFFFFFL) == LitCloseT) {
                // main-loop close dispatch ignores t; only in-text t closes
                p = q + 4; if (ltText && it) it = false; true
              } else if (w8 == LitRowRQ || (w8 & 0xFFFFFFFFFFFFL) == LitCRQ) {
                // `<row r="` (a full 8-byte literal) / `<c r="`: skip the
                // quoted ref, then the tag usually ends right there — `>`
                // opens (row/c open tags change no state) or `/>`
                // self-closes (boundary iff row). ANY other continuation
                // (a t=/s= attribute, buffer edge) falls back to the
                // generic machinery from the '<', which re-reads the ~8
                // probed bytes — the probe mutated nothing.
                val isRow = w8 == LitRowRQ
                var i = q + (if (isRow) 8 else 6)
                while (i < to && buf(i) != '"') i += 1
                if (i + 1 < to && buf(i + 1) == '>') {
                  p = i + 2; true // plain open tag: no containment for row/c
                } else if (i + 2 < to && buf(i + 1) == '/' && buf(i + 2) == '>') {
                  p = i + 3
                  if (isRow && !ltText) { last = p; bc += 1 }
                  true
                } else false // bail: generic path re-dispatches from q
              } else false
            }) ()
            else {
              ltText = iv || it
              p = q + 1
              if (p >= to) { st = Lt; fast = false }
              else {
                val b = buf(p) & 0xff
                p += 1
                if (b == '!') { st = Bang0; fast = false }
                else if (b == '?' && !ltText) { st = Pi; l1 = 0; fast = false }
                else if (b == '/') {
                  // ---- close tag: name, then blind skip to '>' ----
                  var w = 0L; var n = 0
                  var r = p
                  var stop = false
                  while (r < to && !stop) {
                    val c = buf(r) & 0xff
                    if (NameStop(c)) stop = true
                    else {
                      if (c == ':') { w = 0L; n = 0 }
                      else if (n < 8) { w |= c.toLong << (n * 8); n += 1 }
                      else n = 9
                      r += 1
                    }
                  }
                  if (!stop) { word = w; wlen = n; p = r; st = CloseName; fast = false }
                  else {
                    k = classify(w, 0L, n)
                    while (r < to && buf(r) != '>') r += 1
                    if (r >= to) { p = r; st = CloseRest; fast = false }
                    else {
                      p = r + 1
                      if (ltText) {
                        // handleTextMarkup's close dispatch: v / t / is only
                        if (k == KV) iv = false
                        else if (k == KT && it) it = false
                        else if (k == KIs) { iis = false; it = false }
                      } else {
                        // main-loop close dispatch: v / is / row
                        if (k == KV) iv = false
                        else if (k == KIs) { iis = false; it = false }
                        else if (k == KRow) { last = p; bc += 1 }
                      }
                    }
                  }
                } else {
                  // ---- open tag: name ----
                  var w = 0L; var n = 0
                  if (b != ':') { w = b.toLong; n = 1 }
                  var r = p
                  var stop = false
                  while (r < to && !stop) {
                    val c = buf(r) & 0xff
                    if (NameStop(c)) stop = true
                    else {
                      if (c == ':') { w = 0L; n = 0 }
                      else if (n < 8) { w |= c.toLong << (n * 8); n += 1 }
                      else n = 9
                      r += 1
                    }
                  }
                  if (!stop) { word = w; wlen = n; p = r; st = OpenName; fast = false }
                  else {
                    k = classify(w, 0L, n)
                    if (buf(r) == '>') {
                      p = r + 1
                      if (!ltText) {
                        if (k == KV) iv = true
                        else if (k == KIs) iis = true
                        else if (k == KT && iis) it = true
                      }
                    } else {
                      // ---- attribute region (AttrScan semantics, fused) ----
                      var done = false
                      while (!done) {
                        if (r >= to) { p = r; st = AttrScan; fast = false; done = true }
                        else {
                          val c = buf(r) & 0xff
                          if (c == ' ' || c == '\t' || c == '\n' || c == '\r') r += 1
                          else if (c == '>') {
                            p = r + 1
                            if (!ltText) {
                              if (k == KV) iv = true
                              else if (k == KIs) iis = true
                              else if (k == KT && iis) it = true
                            }
                            done = true
                          } else if (c == '/') {
                            if (r + 1 >= to) { p = r + 1; st = AttrSlash; fast = false; done = true }
                            else if (buf(r + 1) == '>') {
                              p = r + 2
                              // self-closing tag: no containment; a row IS a boundary
                              if (!ltText && k == KRow) { last = p; bc += 1 }
                              done = true
                            } else r += 1 // AttrSlash reprocesses the byte in AttrScan
                          } else if (c == '=') {
                            // stray '=': empty attr name — straight to value
                            r += 1
                            while (r < to && {
                              val x = buf(r) & 0xff
                              x == ' ' || x == '\t' || x == '\n' || x == '\r'
                            }) r += 1
                            if (r >= to) { p = r; st = AttrEq; fast = false; done = true }
                            else {
                              val qc = buf(r) & 0xff
                              r += 1
                              if (qc == '"' || qc == '\'') {
                                while (r < to && (buf(r) & 0xff) != qc) r += 1
                                if (r >= to) { p = r; q0 = qc; st = AttrValue; fast = false; done = true }
                                else r += 1
                              } // else: unquoted byte consumed and dropped
                            }
                          } else {
                            // attribute name — ws — '=' — ws — quoted value
                            while (r < to && !NameStop(buf(r) & 0xff)) r += 1
                            if (r >= to) { p = r; st = AttrName; fast = false; done = true }
                            else {
                              while (r < to && {
                                val x = buf(r) & 0xff
                                x == ' ' || x == '\t' || x == '\n' || x == '\r'
                              }) r += 1
                              if (r >= to) { p = r; st = AttrAfterName; fast = false; done = true }
                              else if ((buf(r) & 0xff) != '=') () // reprocess in attr loop
                              else {
                                r += 1
                                while (r < to && {
                                  val x = buf(r) & 0xff
                                  x == ' ' || x == '\t' || x == '\n' || x == '\r'
                                }) r += 1
                                if (r >= to) { p = r; st = AttrEq; fast = false; done = true }
                                else {
                                  val qc = buf(r) & 0xff
                                  r += 1
                                  if (qc == '"' || qc == '\'') {
                                    while (r < to && (buf(r) & 0xff) != qc) r += 1
                                    if (r >= to) { p = r; q0 = qc; st = AttrValue; fast = false; done = true }
                                    else r += 1
                                  } // else: unquoted byte consumed and dropped
                                }
                              }
                            }
                          }
                        }
                      }
                    }
                  }
                }
              }
            }
          }
        case Lt =>
          val b = buf(p) & 0xff
          p += 1
          if (b == '/') { st = CloseName; word = 0L; wlen = 0 }
          else if (b == '!') st = Bang0
          else if (b == '?' && !ltText) { st = Pi; l1 = 0 }
          else { // text-mode '?' lands here too: handleTextMarkup readName()s it
            st = OpenName
            if (b == ':') { word = 0L; wlen = 0 }
            else { word = b.toLong; wlen = 1 }
          }
        case OpenName =>
          var q = p
          var w = word; var n = wlen
          var stop = false
          while (q < to && !stop) {
            val b = buf(q) & 0xff
            if (NameStop(b)) stop = true
            else {
              if (b == ':') { w = 0L; n = 0 }
              else if (n < 8) { w |= b.toLong << (n * 8); n += 1 }
              else n = 9
              q += 1
            }
          }
          word = w; wlen = n
          if (!stop) p = q
          else {
            k = classify(w, 0L, n)
            // fused common delimiter: a bare '>' ends the tag right here
            if (buf(q) == '>') {
              p = q + 1
              st = Text
              if (!ltText) {
                if (k == KV) iv = true
                else if (k == KIs) iis = true
                else if (k == KT && iis) it = true
              }
            } else { p = q; st = AttrScan } // '/', ws, '=' handled there
          }
        case CloseName =>
          var q = p
          var w = word; var n = wlen
          var stop = false
          while (q < to && !stop) {
            val b = buf(q) & 0xff
            if (NameStop(b)) stop = true
            else {
              if (b == ':') { w = 0L; n = 0 }
              else if (n < 8) { w |= b.toLong << (n * 8); n += 1 }
              else n = 9
              q += 1
            }
          }
          word = w; wlen = n
          if (!stop) p = q
          else {
            k = classify(w, 0L, n)
            // fused CloseRest: skip to '>' and apply close semantics
            var r = q
            while (r < to && buf(r) != '>') r += 1
            if (r >= to) { p = r; st = CloseRest }
            else {
              p = r + 1
              st = Text
              if (ltText) {
                // handleTextMarkup's close dispatch: v / t / is only
                if (k == KV) iv = false
                else if (k == KT && it) it = false
                else if (k == KIs) { iis = false; it = false }
              } else {
                // main-loop close dispatch: v / is / row
                if (k == KV) iv = false
                else if (k == KIs) { iis = false; it = false }
                else if (k == KRow) { last = p; bc += 1 }
              }
            }
          }
        case CloseRest =>
          var q = p
          while (q < to && buf(q) != '>') q += 1
          if (q >= to) p = q
          else {
            p = q + 1
            st = Text
            if (ltText) {
              // handleTextMarkup's close dispatch: v / t / is only
              if (k == KV) iv = false
              else if (k == KT && it) it = false
              else if (k == KIs) { iis = false; it = false }
            } else {
              // main-loop close dispatch: v / is / row
              if (k == KV) iv = false
              else if (k == KIs) { iis = false; it = false }
              else if (k == KRow) { last = p; bc += 1 }
            }
          }
        case AttrScan =>
          val b = buf(p) & 0xff
          p += 1
          if (b == '>') {
            st = Text
            // open-tag-complete, not self-closing
            if (!ltText) {
              if (k == KV) iv = true
              else if (k == KIs) iis = true
              else if (k == KT && iis) it = true
            }
          } else if (b == '/') st = AttrSlash
          else if (b == ' ' || b == '\t' || b == '\n' || b == '\r') ()
          // a stray '=' is an empty attribute name: the scanner's
          // readName('=') stops immediately and takes the value path
          else if (b == '=') st = AttrEq
          else st = AttrName // attribute name begins (content irrelevant)
        case AttrSlash =>
          val b = buf(p) & 0xff
          if (b == '>') {
            p += 1
            st = Text
            // self-closing tag: no containment flags; a row IS a boundary
            if (!ltText && k == KRow) { last = p; bc += 1 }
          } else st = AttrScan // scanner reprocesses this byte
        case AttrName =>
          // fused happy path for one whole attribute — name* ws* '=' ws*
          // quoted-value — with precise sub-state saves at buffer edges;
          // semantics per sub-step identical to the unfused states below
          var q = p
          while (q < to && !NameStop(buf(q) & 0xff)) q += 1
          if (q >= to) p = q // still AttrName
          else {
            var b = buf(q) & 0xff
            while (q < to && (b == ' ' || b == '\t' || b == '\n' || b == '\r')) {
              q += 1
              if (q < to) b = buf(q) & 0xff
            }
            if (q >= to) { p = q; st = AttrAfterName }
            else if (b != '=') { p = q; st = AttrScan } // reprocess there
            else {
              q += 1
              while (q < to && {
                val w = buf(q) & 0xff
                w == ' ' || w == '\t' || w == '\n' || w == '\r'
              }) q += 1
              if (q >= to) { p = q; st = AttrEq }
              else {
                val qc = buf(q) & 0xff
                q += 1
                if (qc == '"' || qc == '\'') {
                  while (q < to && (buf(q) & 0xff) != qc) q += 1
                  if (q >= to) { p = q; q0 = qc; st = AttrValue }
                  else { p = q + 1; st = AttrScan }
                } else { p = q; st = AttrScan } // unquoted byte dropped
              }
            }
          }
        case AttrAfterName =>
          val b = buf(p) & 0xff
          if (b == ' ' || b == '\t' || b == '\n' || b == '\r') p += 1
          else if (b == '=') { p += 1; st = AttrEq }
          else st = AttrScan
        case AttrEq =>
          val b = buf(p) & 0xff
          p += 1
          if (b == ' ' || b == '\t' || b == '\n' || b == '\r') ()
          else if (b == '"' || b == '\'') { q0 = b; st = AttrValue }
          else st = AttrScan // unquoted byte is consumed and dropped
        case AttrValue =>
          var q = p
          while (q < to && (buf(q) & 0xff) != q0) q += 1
          p = q
          if (q < to) { p = q + 1; st = AttrScan }
        case Bang0 =>
          val b = buf(p) & 0xff
          p += 1
          if (b == '-') st = Comment1
          else if (b == '[') { hdr = 6; st = CdataHdr }
          else if (b == '>') st = Text // empty <!>: skip-to-'>' done
          else st = BangSkip
        case Comment1 =>
          // scanner consumes the second '-' blindly
          p += 1
          st = Comment; l1 = 0; l2 = 0
        case Comment | Cdata =>
          // scan for the 3-byte terminator c2 c1 '>' with cross-call lookbehind
          val c = if (st == Comment) '-' else ']'
          var q = p
          var term = -1
          while (q < to && term < 0) {
            if (buf(q) == '>') {
              val b1 = if (q - 1 >= p) buf(q - 1) & 0xff else l1
              val b2 = if (q - 2 >= p) buf(q - 2) & 0xff
                       else if (q - 1 >= p) l1 else l2
              if (b1 == c && b2 == c) term = q + 1
            }
            q += 1
          }
          if (term >= 0) { st = Text; p = term }
          else {
            if (to - p >= 2) { l1 = buf(to - 1) & 0xff; l2 = buf(to - 2) & 0xff }
            else if (to - p == 1) { l2 = l1; l1 = buf(to - 1) & 0xff }
            p = to
          }
        case CdataHdr =>
          val take = math.min(hdr, to - p)
          p += take
          hdr -= take
          if (hdr == 0) { st = Cdata; l1 = 0; l2 = 0 }
        case Pi =>
          var q = p
          while (q < to && buf(q) != '>') q += 1
          if (q >= to) { if (q > p) l1 = buf(q - 1) & 0xff; p = q }
          else {
            val prev = if (q > p) buf(q - 1) & 0xff else l1
            p = q + 1
            if (prev == '?') st = Text else l1 = '>'
          }
        case BangSkip =>
          var q = p
          while (q < to && buf(q) != '>') q += 1
          p = if (q < to) { st = Text; q + 1 } else q
        case Entity =>
          // SheetScanner.readEntity: consume until ';' or 12 name bytes,
          // then one more byte is read and DROPPED (even '<')
          val b = buf(p) & 0xff
          p += 1
          if (b == ';') st = Text
          else { en += 1; if (en == 12) st = EntityDrop }
        case EntityDrop =>
          p += 1
          st = Text
      }
    }

    // persist hoisted state
    state = st
    inV = iv; inIs = iis; inT = it
    ltFromText = ltText
    nameWord = word; nameLen = wlen; kind = k
    quote = q0; entN = en
    look1 = l1; look2 = l2; hdrLeft = hdr
    bcount = bc
    last
  }
}

object RowBoundaryTracker {
  final val Text = 0
  final val Lt = 1
  final val OpenName = 2
  final val CloseName = 3
  final val CloseRest = 4
  final val AttrScan = 5
  final val AttrSlash = 6
  final val AttrName = 7
  final val AttrAfterName = 8
  final val AttrEq = 9
  final val AttrValue = 10
  final val Bang0 = 11
  final val Comment1 = 12
  final val Comment = 13
  final val CdataHdr = 14
  final val Cdata = 15
  final val Pi = 16
  final val BangSkip = 17
  final val Entity = 18
  final val EntityDrop = 19
}
