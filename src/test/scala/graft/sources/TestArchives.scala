package graft.sources.xlsx

import java.io.EOFException

/** Archives for the specs: a byte array as a positioned-read source, the
  * workbook it holds, and byte-level views of a zip archive. */
object TestArchives {
  def source(bytes: Array[Byte]): ZipRaw.Source = new ZipRaw.Source {
    def size: Long = bytes.length
    def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      if (pos < 0 || pos + len > bytes.length)
        throw new EOFException(s"$len bytes at $pos of ${bytes.length}")
      System.arraycopy(bytes, pos.toInt, buf, off, len)
    }
    def close(): Unit = ()
  }

  def archive(bytes: Array[Byte], path: String = "mem.xlsx"): ZipRaw.Archive =
    new ZipRaw.Archive(path, () => source(bytes))

  /** A zip of `entries`; one named in `stored` is STORED with its size and
    * CRC-32 up front, every other one DEFLATED with a data descriptor
    * behind its data, as `ZipOutputStream` streams it. */
  def zip(entries: Seq[(String, Array[Byte])], stored: Set[String] = Set.empty): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos, java.nio.charset.StandardCharsets.UTF_8)
    entries.foreach { case (name, content) =>
      val e = new java.util.zip.ZipEntry(name)
      if (stored(name)) {
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(content.length.toLong)
        val crc = new java.util.zip.CRC32
        crc.update(content)
        e.setCrc(crc.getValue)
      }
      z.putNextEntry(e)
      z.write(content)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** The workbook in `bytes`, named `path` in its errors. */
  def workbook(bytes: Array[Byte], path: String = "mem.xlsx",
      maxSharedStringsBytes: Long = SharedStringsScanner.DefaultMaxBytes): XlsxParser.Workbook =
    new XlsxParser.Workbook(archive(bytes, path), maxSharedStringsBytes)

  /** The workbook in a local file, as a DSv2 read opens it. */
  def workbook(f: java.io.File): XlsxParser.Workbook =
    XlsxDataSource.workbook(f.getPath, XlsxDataSource.hadoopConf())

  /** An entry's raw geometry: where its data starts, and its directory
    * fields. */
  final case class RawEntry(dataOffset: Long, compressedSize: Long, method: Int,
      crc: Long, uncompressedSize: Long)

  /** `name`'s raw geometry in the local archive `f`, as the reader finds it. */
  def locate(f: java.io.File, name: String): Option[RawEntry] =
    ZipRaw.Archive.at(f.getPath, XlsxDataSource.hadoopConf()).read { (src, dir) =>
      dir.entry(name).map(e => RawEntry(dir.dataOffset(src, e), e.compressedSize,
        e.method, e.crc, e.uncompressedSize))
    }

  final case class CdEntry(name: String, flags: Int, method: Int, compressedSize: Int,
      localOffset: Int, cdOffset: Int)

  def u16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def u32(b: Array[Byte], o: Int): Int = u16(b, o) | (u16(b, o + 2) << 16)

  /** The central directory of a plain zip32 archive. */
  def centralEntries(zip: Array[Byte]): Seq[CdEntry] = {
    var p = zip.length - 22
    while (u32(zip, p) != 0x06054b50) p -= 1
    var q = u32(zip, p + 16)
    (0 until u16(zip, p + 10)).map { _ =>
      require(u32(zip, q) == 0x02014b50, s"no central header at $q")
      val n = u16(zip, q + 28)
      val e = CdEntry(new String(zip, q + 46, n, java.nio.charset.StandardCharsets.UTF_8),
        u16(zip, q + 8), u16(zip, q + 10), u32(zip, q + 20), u32(zip, q + 42), q)
      q += 46 + n + u16(zip, q + 30) + u16(zip, q + 32)
      e
    }
  }

  /** The archive offsets of `name`'s data: (first byte, end). */
  def dataRange(zip: Array[Byte], name: String): (Int, Int) = {
    val e = centralEntries(zip).find(_.name == name).get
    val start = e.localOffset + 30 + u16(zip, e.localOffset + 26) + u16(zip, e.localOffset + 28)
    (start, start + e.compressedSize)
  }

  /** Rewrites `name`'s method in its local and central headers. */
  def setMethod(zip: Array[Byte], name: String, method: Int): Unit = {
    val e = centralEntries(zip).find(_.name == name).get
    Seq(e.cdOffset + 10, e.localOffset + 8).foreach { o =>
      zip(o) = method.toByte; zip(o + 1) = (method >> 8).toByte
    }
  }
}
