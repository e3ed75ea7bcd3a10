package graft.sources.xlsx

import java.io.{EOFException, InputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.StandardOpenOption
import java.util.zip.{CRC32, DataFormatException, Inflater, ZipEntry, ZipException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The zip format at the byte level, both ways, and the one archive reader
  * of the spreadsheet sources.
  *
  * Reading: an [[Archive]] reads its bytes by position from a [[Source]] —
  * a local file's `FileChannel`, any other Hadoop file system's positioned
  * reads, or (in the specs) a byte array — so it behaves the same on every
  * file system. It parses the end record and the central directory once
  * ([[Directory]]) and then reaches each entry straight from its local
  * header: it never inflates one entry to find another, and a missing part
  * costs nothing. Every entry, STORED or DEFLATED, streams through one
  * [[CheckedEntryStream]] that checks its size and CRC-32 at its end, and
  * every failure names the archive and the entry. The segmented parallel
  * scanner takes an entry's raw deflate bytes by position
  * ([[Directory.dataOffset]]), so each worker inflates its own full-flush
  * segment (see [[XlsxWriter.SegmentBytes]]).
  *
  * Writing: the records [[XlsxWriter]] frames its pre-deflated entries
  * with, since `ZipOutputStream` only takes bytes it deflates itself.
  *
  * Handles both plain zip32 and ZIP64 archives. ZIP64 matters precisely at
  * the scale the segmented reader was built for: any workbook past 4 GiB
  * (or with a >4 GiB worksheet part) gets a zip64 central directory — the
  * record encoders below emit one whenever a size, an offset or the entry
  * count overflows its 32-bit field. Resolution order follows APPNOTE 4.5:
  * EOCD → zip64 EOCD locator (the 20-byte record directly before the EOCD)
  * → zip64 EOCD record for directory offset/size/count, and per-entry
  * 0x0001 extra fields for any 0xffffffff header field. An archive the
  * reader cannot parse fails with `<path>: not a readable zip archive (…)`;
  * only an unusable segment index falls back, to the streaming pipeline.
  */
object ZipRaw {
  private val Mask32 = 0xffffffffL

  /** Positioned reads over an archive's bytes. Reads may come from several
    * threads at once (the segment workers share one source). */
  trait Source extends java.io.Closeable {
    def size: Long
    /** Reads exactly `len` bytes at `pos` into `buf` from `off`; an
      * `EOFException` when the archive ends first. */
    def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit
  }

  object Source {
    /** A local file (no scheme, or `file:`) through a `FileChannel`, so a
      * checksummed local file system's per-read checks and `.crc` sidecar
      * stay out of the way; any other file system through its own
      * positioned reads, with `conf` built only then. */
    def open(path: String, conf: => Configuration): Source = {
      val p = new Path(path)
      val scheme = p.toUri.getScheme
      if (scheme == null || scheme == "file") local(java.nio.file.Paths.get(p.toUri.getPath))
      else {
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        new Source {
          lazy val size: Long = fs.getFileStatus(p).getLen
          def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit =
            in.readFully(pos, buf, off, len)
          def close(): Unit = in.close()
        }
      }
    }

    private def local(file: java.nio.file.Path): Source = new Source {
      private val ch = FileChannel.open(file, StandardOpenOption.READ)
      def size: Long = ch.size()
      def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
        val bb = ByteBuffer.wrap(buf, off, len)
        while (bb.hasRemaining)
          if (ch.read(bb, pos + bb.position() - off) < 0)
            throw new EOFException(s"$file ends before offset ${pos + len}")
      }
      def close(): Unit = ch.close()
    }
  }

  /** An entry as the central directory records it. */
  final case class Entry(name: String, method: Int, crc: Long,
      compressedSize: Long, uncompressedSize: Long, localOffset: Long)

  /** Compressed bytes an entry stream pulls per positioned read: a small
    * first block, since a schema probe or a table prefix reads only the
    * front of an entry, then large ones. */
  private val FirstBlockBytes = 64 << 10
  private val BlockBytes = 1 << 20

  private def unreadable(path: String, why: String, cause: Throwable = null): ZipException = {
    val e = new ZipException(s"$path: not a readable zip archive ($why)")
    e.initCause(cause)
    e
  }

  /** The archive `path` names, read through a fresh `source()` per read;
    * its central directory is parsed on the first read and kept. */
  final class Archive(val path: String, val source: () => Source) {
    @volatile private var dir: Directory = _

    private def directory(src: Source): Directory = {
      if (dir == null) dir = Directory.read(src, path)
      dir
    }

    /** `f` over a fresh source and the directory; the source closes after. */
    def read[T](f: (Source, Directory) => T): T = {
      val src = source()
      try f(src, directory(src)) finally src.close()
    }

    /** Entry `name` as a [[CheckedEntryStream]] whose errors call it
      * `<path>: <kind> <name>`, and the thunk that closes it and its
      * source; None when the archive has no such entry. */
    def open(name: String, kind: String = "entry"): Option[(InputStream, () => Unit)] = {
      val src = source()
      try {
        val d = directory(src)
        d.entry(name).map { e =>
          val in = d.open(src, e, s"$path: $kind $name")
          (in, () => try in.close() finally src.close())
        }.orElse { src.close(); None }
      } catch { case t: Throwable => src.close(); throw t }
    }
  }

  object Archive {
    /** The archive at `path`, opened by [[Source.open]]: `conf` is built
      * once, and only for a file that is not local. */
    def at(path: String, conf: => Configuration): Archive = {
      lazy val built = conf
      new Archive(path, () => Source.open(path, built))
    }
  }

  /** A parsed central directory: the entries in directory order, and the
    * length of the archive they lie in. */
  final class Directory private (path: String, length: Long, val entries: Seq[Entry]) {
    private val byName: Map[String, Entry] =
      entries.reverseIterator.map(e => e.name -> e).toMap // the first of a name wins

    def entry(name: String): Option[Entry] = byName.get(name)

    /** The archive offset of `e`'s first data byte. The LOCAL header's name
      * and extra lengths govern it; they may differ from the central
      * directory's. */
    def dataOffset(src: Source, e: Entry): Long = {
      val loc = new Array[Byte](30)
      if (e.localOffset + 30 > length) throw unreadable(path, s"entry ${e.name} starts past the end")
      src.readFully(e.localOffset, loc, 0, 30)
      if (u32(loc, 0) != 0x04034b50L) throw unreadable(path, s"no local header for entry ${e.name}")
      val start = e.localOffset + 30 + u16(loc, 26) + u16(loc, 28)
      if (start + e.compressedSize > length)
        throw unreadable(path, s"entry ${e.name} runs past the end")
      start
    }

    /** `e`'s bytes read from `src`; errors name `what`. Closing the stream
      * leaves `src` open. */
    def open(src: Source, e: Entry, what: String): InputStream = {
      if (e.method != ZipEntry.STORED && e.method != ZipEntry.DEFLATED)
        throw new ZipException(s"$what uses unsupported compression method ${e.method}")
      new CheckedEntryStream(src, dataOffset(src, e), e, what)
    }
  }

  object Directory {
    /** The central directory of the archive behind `src`, which `path`
      * names in every error. */
    def read(src: Source, path: String): Directory =
      try parse(src, path)
      catch {
        case e: ZipException => throw e
        case e @ (_: EOFException | _: RuntimeException) =>
          throw unreadable(path, String.valueOf(e.getMessage), e)
      }

    private def parse(src: Source, path: String): Directory = {
      def bad(why: String) = unreadable(path, why)
      val len = src.size
      if (len < 22) throw bad("shorter than an end record")
      // EOCD: fixed 22 bytes, then up to 64 KiB of archive comment; an
      // archive without a comment costs one 22-byte read
      def eocdIn(tail: Array[Byte]): Int = {
        var p = tail.length - 22
        while (p >= 0 && u32(tail, p) != 0x06054b50L) p -= 1
        p
      }
      var tail = new Array[Byte](22)
      src.readFully(len - 22, tail, 0, 22)
      var p = eocdIn(tail)
      if (p < 0) {
        tail = new Array[Byte](math.min(len, 22L + 0xffffL).toInt)
        src.readFully(len - tail.length, tail, 0, tail.length)
        p = eocdIn(tail)
        if (p < 0) throw bad("no end of central directory record")
      }
      val eocdAt = len - tail.length + p
      var total: Long = u16(tail, p + 10)
      var cdSize: Long = u32(tail, p + 12)
      var cdOff: Long = u32(tail, p + 16)
      // zip64: the EOCD carries saturated markers, and the 20-byte zip64
      // EOCD locator sits directly before it
      if (total == 0xffffL || cdSize == Mask32 || cdOff == Mask32) {
        if (eocdAt < 20) throw bad("no zip64 end record locator")
        val loc64 = new Array[Byte](20)
        src.readFully(eocdAt - 20, loc64, 0, 20)
        if (u32(loc64, 0) != 0x07064b50L) throw bad("no zip64 end record locator")
        if (u32(loc64, 4) != 0L || u32(loc64, 16) != 1L) throw bad("a multi-disk archive")
        val eocd64At = u64(loc64, 8)
        if (eocd64At < 0 || eocd64At + 56 > eocdAt) throw bad("zip64 end record out of range")
        val eocd64 = new Array[Byte](56)
        src.readFully(eocd64At, eocd64, 0, 56)
        if (u32(eocd64, 0) != 0x06064b50L) throw bad("no zip64 end record")
        total = u64(eocd64, 32)
        cdSize = u64(eocd64, 40)
        cdOff = u64(eocd64, 48)
      }
      if (cdOff < 0 || cdSize < 0 || cdOff + cdSize > eocdAt || cdSize > Int.MaxValue)
        throw bad("central directory out of range")
      val cd = new Array[Byte](cdSize.toInt)
      src.readFully(cdOff, cd, 0, cd.length)
      val entries = new scala.collection.mutable.ArrayBuffer[Entry]()
      var q = 0
      while (entries.length < total) {
        if (q + 46 > cd.length || u32(cd, q) != 0x02014b50L)
          throw bad(s"no central header for entry ${entries.length} of $total")
        val nameLen = u16(cd, q + 28)
        val extraLen = u16(cd, q + 30)
        val next = q + 46 + nameLen + extraLen + u16(cd, q + 32)
        if (next > cd.length) throw bad(s"central header ${entries.length} runs past the directory")
        val name = new String(cd, q + 46, nameLen, UTF_8)
        var csize = u32(cd, q + 20)
        var usize = u32(cd, q + 24)
        var locOff = u32(cd, q + 42)
        if (usize == Mask32 || csize == Mask32 || locOff == Mask32) {
          // the 0x0001 extra field lists ONLY the saturated fields, in
          // APPNOTE order: usize, csize, local header offset, disk no.;
          // every read stays inside both the field's declared size and the
          // header's extra bytes
          val extraEnd = q + 46 + nameLen + extraLen
          var x = q + 46 + nameLen
          var found = false
          while (!found && x + 4 <= extraEnd) {
            val sz = u16(cd, x + 2)
            if (u16(cd, x) == 0x0001) {
              found = true
              val fieldEnd = math.min(x + 4 + sz, extraEnd)
              var r = x + 4
              def wide(): Long = {
                if (r + 8 > fieldEnd) throw bad(s"short zip64 field for entry $name")
                r += 8
                u64(cd, r - 8)
              }
              if (usize == Mask32) usize = wide()
              if (csize == Mask32) csize = wide()
              if (locOff == Mask32) locOff = wide()
            } else x += 4 + sz
          }
          if (!found) throw bad(s"no zip64 field for entry $name")
          if (usize < 0 || csize < 0 || locOff < 0) throw bad(s"entry $name has sizes past 2^63")
        }
        entries += Entry(name, u16(cd, q + 10), u32(cd, q + 16),
          csize, usize, locOff)
        q = next
      }
      new Directory(path, len, entries.toSeq)
    }
  }

  /** One entry's bytes: its data read from `src` at `start` in blocks,
    * inflated when DEFLATED, and checked when it ends
    * against the directory's size and CRC-32 — so a flipped byte that
    * keeps the XML well formed never reads as wrong values. A mismatch, an
    * inflate failure and an archive that ends early all fail with
    * `<what> is corrupt: …`. */
  private final class CheckedEntryStream(src: Source, start: Long, e: Entry,
      what: String) extends InputStream {
    private var block = new Array[Byte](math.max(1L, math.min(e.compressedSize, FirstBlockBytes)).toInt)
    private val inf = if (e.method == ZipEntry.DEFLATED) new Inflater(true) else null
    private var next = start // next compressed byte to pull
    private val end = start + e.compressedSize
    private var pos, lim = 0 // unread bytes of a STORED entry's block
    private var padded = false
    private val crc = new CRC32
    private var produced = 0L
    private var ended = false

    private def corrupt(why: String, cause: Throwable = null) =
      new java.io.IOException(s"$what is corrupt: $why", cause)

    /** Pulls the next block of the entry's data; 0 when it is all read. */
    private def pull(): Int = {
      if (next > start && block.length < BlockBytes && end - next > block.length)
        block = new Array[Byte](math.min(end - next, BlockBytes.toLong).toInt)
      val n = math.min(block.length.toLong, end - next).toInt
      try src.readFully(next, block, 0, n)
      catch { case x: EOFException => throw corrupt("the archive ends inside it", x) }
      next += n
      n
    }

    private def inflate(b: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      while (n == 0 && !inf.finished()) {
        n = inf.inflate(b, off, len)
        if (n == 0 && inf.needsDictionary()) throw corrupt("needs a preset dictionary")
        if (n == 0 && inf.needsInput()) {
          val k = pull()
          if (k > 0) inf.setInput(block, 0, k)
          else if (!padded) { padded = true; inf.setInput(Array[Byte](0)) } // zlib's nowrap pad
          else throw corrupt("its deflate data ends early")
        }
      }
      n
    }

    private def copy(b: Array[Byte], off: Int, len: Int): Int = {
      if (pos == lim) { pos = 0; lim = pull() }
      val n = math.min(len, lim - pos)
      System.arraycopy(block, pos, b, off, n)
      pos += n
      n
    }

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (ended) return -1
      if (len == 0) return 0
      val n =
        try if (inf != null) inflate(b, off, len) else copy(b, off, len)
        catch { case x: DataFormatException => throw corrupt(s"bad deflate data (${x.getMessage})", x) }
      if (n > 0) {
        crc.update(b, off, n)
        produced += n
        if (produced > e.uncompressedSize)
          throw corrupt(s"more than the ${e.uncompressedSize} bytes its directory records")
        n
      } else {
        ended = true
        if (produced != e.uncompressedSize)
          throw corrupt(s"$produced of the ${e.uncompressedSize} bytes its directory records")
        if (crc.getValue != e.crc) throw corrupt("CRC-32 mismatch")
        -1
      }
    }

    override def close(): Unit = if (inf != null) inf.end()
  }

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (u16(b, o).toLong | (u16(b, o + 2).toLong << 16)) & 0xffffffffL
  private def u64(b: Array[Byte], o: Int): Long =
    u32(b, o) | (u32(b, o + 4) << 32)

  // ---- record encoders (APPNOTE 4.3): pure functions of their fields ------

  /** General-purpose flags: sizes and CRC follow the data in a data
    * descriptor (bit 3), the name is UTF-8 (bit 11) — as
    * `ZipOutputStream` flags a streamed DEFLATED entry. */
  private val Flags = 0x0808
  /** DOS date of 1980-01-01, time 00:00: a fixed stamp keeps the archive
    * a pure function of its content. */
  private val DosDate = 0x21

  private final class Rec(size: Int) {
    val b = new Array[Byte](size)
    private var p = 0
    def u16(v: Int): Rec = { b(p) = v.toByte; b(p + 1) = (v >> 8).toByte; p += 2; this }
    def u32(v: Long): Rec = { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
    def u64(v: Long): Rec = { u32(v & Mask32); u32(v >>> 32) }
    def bytes(a: Array[Byte]): Rec = {
      System.arraycopy(a, 0, b, p, a.length); p += a.length; this
    }
  }

  /** Local header of a DEFLATED entry whose CRC and sizes follow its data
    * in [[dataDescriptor]]. */
  def localHeader(name: Array[Byte]): Array[Byte] =
    new Rec(30 + name.length).u32(0x04034b50L).u16(20).u16(Flags).u16(8)
      .u16(0).u16(DosDate).u32(0).u32(0).u32(0).u16(name.length).u16(0)
      .bytes(name).b

  /** Data descriptor: 8-byte sizes once either size reaches 4 GiB, which
    * is where streaming zip readers look for them. */
  def dataDescriptor(crc: Long, compressedSize: Long,
      uncompressedSize: Long): Array[Byte] =
    if (compressedSize >= Mask32 || uncompressedSize >= Mask32)
      new Rec(24).u32(0x08074b50L).u32(crc).u64(compressedSize)
        .u64(uncompressedSize).b
    else
      new Rec(16).u32(0x08074b50L).u32(crc).u32(compressedSize)
        .u32(uncompressedSize).b

  /** Central directory header: a field that does not fit 32 bits reads
    * 0xffffffff and moves to the 0x0001 extra field, which lists only
    * those fields, in APPNOTE order. */
  def centralHeader(name: Array[Byte], crc: Long, compressedSize: Long,
      uncompressedSize: Long, localOffset: Long): Array[Byte] = {
    val wide = Seq(uncompressedSize, compressedSize, localOffset)
      .filter(_ >= Mask32)
    val extra = if (wide.isEmpty) 0 else 4 + 8 * wide.length
    def field(v: Long) = if (v >= Mask32) Mask32 else v
    val version = if (wide.isEmpty) 20 else 45
    val r = new Rec(46 + name.length + extra).u32(0x02014b50L).u16(version)
      .u16(version).u16(Flags).u16(8).u16(0).u16(DosDate).u32(crc)
      .u32(field(compressedSize)).u32(field(uncompressedSize))
      .u16(name.length).u16(extra).u16(0).u16(0).u16(0).u32(0)
      .u32(field(localOffset)).bytes(name)
    if (extra > 0) {
      r.u16(0x0001).u16(extra - 4)
      wide.foreach(r.u64)
    }
    r.b
  }

  /** The records after the central directory, which starts at `cdOffset`
    * and is `cdSize` bytes long: the end record, behind a zip64 end record
    * and locator when the count, size or offset overflows. */
  def endRecords(entries: Long, cdOffset: Long, cdSize: Long): Array[Byte] =
    if (entries < 0xffffL && cdOffset < Mask32 && cdSize < Mask32)
      new Rec(22).u32(0x06054b50L).u16(0).u16(0).u16(entries.toInt)
        .u16(entries.toInt).u32(cdSize).u32(cdOffset).u16(0).b
    else
      new Rec(56 + 20 + 22)
        .u32(0x06064b50L).u64(44).u16(45).u16(45).u32(0).u32(0)
        .u64(entries).u64(entries).u64(cdSize).u64(cdOffset)
        .u32(0x07064b50L).u32(0).u64(cdOffset + cdSize).u32(1)
        .u32(0x06054b50L).u16(0).u16(0).u16(0xffff).u16(0xffff)
        .u32(Mask32).u32(Mask32).u16(0).b
}
