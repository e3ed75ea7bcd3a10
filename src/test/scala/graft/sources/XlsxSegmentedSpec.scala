package graft.sources.xlsx

import graft.SparkSpec
import org.apache.spark.sql.functions.{count, lit, sum}

import scala.jdk.CollectionConverters._

/** The splittable-xlsx path (r12): our writer embeds a row-group index
  * (`xl/graft/sheetN.idx` + deflate FULL_FLUSH cuts at row boundaries),
  * and the parallel reader — when the index is present — skips BOTH the
  * sequential inflate and the sequential boundary tracking: every
  * segment preads its raw deflate slice, inflates it independently, and
  * parses in a worker. These tests pin (a) the written archive stays a
  * perfectly ordinary zip (ZipFile/sequential readers see identical
  * content), (b) the segmented read returns row-for-row exactly the
  * sequential read, (c) skipRows prefixes deal across segment
  * boundaries exactly, and (d) files WITHOUT an index keep the
  * streaming pipeline (fallback is parallelism, never correctness) —
  * as do files whose index no longer describes the sheet's deflate
  * stream.
  */
class XlsxSegmentedSpec extends SparkSpec {

  private val rows = 60000
  private lazy val file: java.io.File = {
    val bos = new java.io.ByteArrayOutputStream(16 << 20)
    val data = (1 to rows).iterator.map { i =>
      Seq[Any](i.toLong, i * 1.5, s"name#${i % 977}", i % 2 == 0,
        java.time.LocalDate.ofEpochDay(9000L + i % 1000))
    }
    XlsxWriter.write(bos,
      Seq(XlsxWriter.SheetSpec("S", Some(Seq("a", "b", "c", "d", "e")), data)))
    val f = java.io.File.createTempFile("segspec", ".xlsx")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    f
  }

  private def wb: XlsxParser.Workbook = TestArchives.workbook(file)

  test("writer emits a parseable index and ZipRaw locates the raw entry") {
    val zf = new java.util.zip.ZipFile(file) // flushes keep the zip standard
    try {
      assert(zf.getEntry("xl/graft/sheet1.idx") != null, "index entry missing")
      val d = new java.io.DataInputStream(
        zf.getInputStream(zf.getEntry("xl/graft/sheet1.idx")))
      assert(d.readLong() == XlsxWriter.SegmentMagic)
      assert(d.readInt() == XlsxWriter.SegmentVersion)
      val n = d.readInt()
      val starts = scala.collection.mutable.ArrayBuffer(0L)
      assert(n >= 2, s"60k rows should cut >= 2 segments, got $n")
      var prevC, prevU, prevR = -1L
      (0 until n).foreach { _ =>
        val c = d.readLong(); val u = d.readLong(); val r = d.readLong()
        assert(c > prevC && u > prevU && r > prevR, "cuts must be increasing")
        prevC = c; prevU = u; prevR = r
        starts += u
      }
      val totalUncomp = d.readLong(); val totalRows = d.readLong()
      assert(totalUncomp > prevU && totalRows == rows + 1L)
      // the sheet entry as the central directory describes it
      val (crc, csize, usize) = (d.readLong(), d.readLong(), d.readLong())
      val sheet = zf.getEntry("xl/worksheets/sheet1.xml")
      assert((crc, csize, usize) ==
        ((sheet.getCrc, sheet.getCompressedSize, sheet.getSize)))
      assert(usize == totalUncomp)
      // v3 tail: each segment's CRC-32, over its slice of the sheet XML
      val xml = {
        val in = zf.getInputStream(sheet)
        try in.readAllBytes() finally in.close()
      }
      starts += usize
      (0 to n).foreach { k =>
        val c = new java.util.zip.CRC32
        c.update(xml, starts(k).toInt, (starts(k + 1) - starts(k)).toInt)
        assert(d.readInt() == c.getValue.toInt, s"segment $k CRC-32")
      }
      assert(d.read() == -1)
      val re = TestArchives.locate(file, "xl/worksheets/sheet1.xml")
      assert(re.isDefined && re.get.method == java.util.zip.ZipEntry.DEFLATED)
      assert(re.get.compressedSize > prevC)
      assert(re.get.crc == crc && re.get.compressedSize == csize &&
        re.get.uncompressedSize == usize)
    } finally zf.close()
  }

  test("segmented parallel read == sequential read, row for row") {
    val seq = wb.rowIterator("xl/worksheets/sheet1.xml", threads = 1)
    val par = wb.rowIterator("xl/worksheets/sheet1.xml", threads = 4)
    var n = 0
    while (seq.hasNext) {
      assert(par.hasNext, s"parallel ended early at row $n")
      val (i1, c1) = seq.next()
      val (i2, c2) = par.next()
      assert(i1 == i2, s"row index mismatch at $n: $i1 vs $i2")
      assert(c1.toSeq == c2.toSeq, s"cells mismatch at row $i1")
      n += 1
    }
    assert(!par.hasNext && n == rows + 1)
  }

  test("chunk face: dropFirstRows prefix deals exactly across segments") {
    // pick a drop that lands strictly inside a later segment
    val drop = rows / 2 + 137
    val got = wb.chunkingRowIterator("xl/worksheets/sheet1.xml", threads = 4,
      SheetFuzz.noColumns.chunkParser(wb.dateStyles),
      dropFirstRows = drop.toLong)
    val par = got.get
    var kept = 0L
    var sawDropped = 0L
    while (par.advanceChunk()) {
      kept += par.chunk.asInstanceOf[ColumnChunk].stored
      sawDropped += par.chunkDropped
    }
    assert(kept == (rows + 1L) - drop, s"kept $kept")
    assert(sawDropped == drop, s"dropped $sawDropped")
  }

  test("zip64: ZipRaw resolves a forced-zip64 directory to the same raw " +
      "geometry, and the segmented read stays row-identical") {
    val z32 = TestArchives.locate(file, "xl/worksheets/sheet1.xml").get
    val bytes64 = Zip64Force.rewrite(
      java.nio.file.Files.readAllBytes(file.toPath))
    val f64 = java.io.File.createTempFile("segspec64", ".xlsx")
    f64.deleteOnExit()
    java.nio.file.Files.write(f64.toPath, bytes64)
    // still a standards-valid archive: the JDK reader accepts it
    val zf = new java.util.zip.ZipFile(f64)
    try assert(zf.getEntry("xl/worksheets/sheet1.xml") != null)
    finally zf.close()
    // zip64 directory resolves to the SAME raw byte geometry (data bytes
    // are untouched by the rewrite)
    val z64 = TestArchives.locate(f64, "xl/worksheets/sheet1.xml").get
    assert(z64 == z32, s"zip64 geometry drifted: $z64 vs $z32")
    // and the fully-parallel segmented read engages and matches
    val wb64 = TestArchives.workbook(f64)
    val seq = wb.rowIterator("xl/worksheets/sheet1.xml", threads = 1)
    val par = wb64.rowIterator("xl/worksheets/sheet1.xml", threads = 4)
    var n = 0
    while (seq.hasNext) {
      assert(par.hasNext, s"zip64 parallel ended early at row $n")
      val (i1, c1) = seq.next()
      val (i2, c2) = par.next()
      assert(i1 == i2 && c1.toSeq == c2.toSeq, s"zip64 mismatch at row $i1")
      n += 1
    }
    assert(!par.hasNext && n == rows + 1)
  }

  test("hostile zip64: a short 0x0001 field fails, naming the file") {
    val bytes64 = Zip64Force.rewrite(
      java.nio.file.Files.readAllBytes(file.toPath))
    // chop the target entry's DECLARED extra length so only the 4-byte
    // zip64 field header [id=0x0001, sz=24] stays in range while sz still
    // claims 24 data bytes — the exact shape where bounding reads only by
    // the self-declared sz would run past the extra array
    val target = "xl/worksheets/sheet1.xml"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def u16(b: Array[Byte], o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    var q = -1
    var i = 0
    while (q < 0 && i < bytes64.length - 46 - target.length) {
      if (bytes64(i) == 0x50 && bytes64(i + 1) == 0x4b &&
          bytes64(i + 2) == 0x01 && bytes64(i + 3) == 0x02 &&
          u16(bytes64, i + 28) == target.length &&
          java.util.Arrays.equals(java.util.Arrays.copyOfRange(
            bytes64, i + 46, i + 46 + target.length), target)) q = i
      i += 1
    }
    assert(q > 0, "target CD entry not found")
    val extraLen = u16(bytes64, q + 30)
    assert(extraLen >= 28, s"expected the appended zip64 field, got $extraLen")
    val chopped = extraLen - 24 // keep the 0x0001 header, drop its data
    bytes64(q + 30) = (chopped & 0xff).toByte
    bytes64(q + 31) = ((chopped >> 8) & 0xff).toByte
    val fh = java.io.File.createTempFile("hostile64", ".xlsx")
    fh.deleteOnExit()
    java.nio.file.Files.write(fh.toPath, bytes64)
    // an archive whose directory does not parse is not read at all (as
    // `ZipFile` rejects it too): the error names it, and no read of the
    // field runs past the extra bytes
    val e = intercept[java.util.zip.ZipException](
      TestArchives.locate(fh, "xl/worksheets/sheet1.xml"))
    assert(e.getMessage.startsWith(s"${fh.getPath}: not a readable zip archive ("),
      e.getMessage)
    intercept[java.util.zip.ZipException](new java.util.zip.ZipFile(fh))
  }

  test("a workbook without an index falls back to the streaming pipeline") {
    // one segment's worth of rows: no index, no segment path, every row
    val bos = new java.io.ByteArrayOutputStream()
    XlsxWriter.write(bos, Seq(XlsxWriter.SheetSpec("S", None,
      (1 to 500).iterator.map(i => Seq[Any](i.toLong, s"v$i")))))
    val bytes = bos.toByteArray
    val wb2 = TestArchives.workbook(bytes)
    assert(wb2.segmentIndexRaw("xl/worksheets/sheet1.xml").isEmpty)
    val par = wb2.rowIterator("xl/worksheets/sheet1.xml", threads = 4)
    var n = 0
    while (par.hasNext) { par.next(); n += 1 }
    assert(n == 500)
  }

  test("a repacked workbook ignores its stale index and reads every row") {
    // graft writes the index; an unzip / re-zip round trip with
    // java.util.zip keeps the sheet bytes and copies the index verbatim,
    // but re-deflates the sheet, so every recorded cut points into a
    // different stream
    val n = 300000
    val src = java.io.File.createTempFile("repack-src", ".xlsx")
    src.deleteOnExit()
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(src), 1 << 16)
    try XlsxWriter.write(out, Seq(XlsxWriter.SheetSpec("S", Some(Seq("a", "b")),
      (1 to n).iterator.map(i => Seq[Any](i.toLong, s"row $i")))))
    finally out.close()
    val repacked = java.io.File.createTempFile("repacked", ".xlsx")
    repacked.deleteOnExit()
    val zf = new java.util.zip.ZipFile(src)
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(repacked))
    try zf.entries().asScala.foreach { e =>
      zout.putNextEntry(new java.util.zip.ZipEntry(e.getName))
      val in = zf.getInputStream(e)
      try in.transferTo(zout) finally in.close()
      zout.closeEntry()
    } finally { zout.close(); zf.close() }

    val sheet = "xl/worksheets/sheet1.xml"
    def index(f: java.io.File) =
      TestArchives.workbook(f)
        .segmentIndexRaw(sheet)
    assert(index(src).exists(_.cuts.nonEmpty), "the source must be indexed")
    val kept = new java.util.zip.ZipFile(repacked)
    try assert(kept.getEntry(XlsxWriter.segmentIndexName(sheet)) != null)
    finally kept.close()
    assert(index(repacked).isEmpty, "a stale index must not be trusted")

    val want = (n.toLong, n.toLong * (n + 1) / 2)
    Seq(src, repacked).foreach { f =>
      val r = spark.read.format("xlsx").load(f.getAbsolutePath)
        .agg(count(lit(1)), sum("a")).head()
      assert((r.getLong(0), r.getDouble(1).toLong) == want, f.getName)
    }
  }
}
