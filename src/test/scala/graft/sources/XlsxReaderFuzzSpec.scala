package graft.sources.xlsx

import java.io.ByteArrayInputStream

import graft.SparkSpec
import org.apache.spark.sql.types._

import scala.util.Random

/** End-to-end differential fuzz of the DSv2 COLUMNAR reader: adversarial
  * random workbooks (comments, CDATA, entities, self-closing rows, implicit
  * row indices, bad shared-string refs) read through
  * `spark.read.format("xlsx")` — sequentially AND with tiny-chunk parallel
  * parsing — must match an expected row set computed INDEPENDENTLY of the
  * byte scanners and of the column-vector writer ([[XlsxOracle]]'s StAX
  * rows and boxed `convert`, plus the reader's own resolve rules).
  * A workbook whose rows go ragged must raise the ragged error on every
  * path. This is the layer above XlsxScannerDifferentialSpec: it pins the
  * worker-side batch building, the producer's drop-dealing, index
  * stitching and ragged checks of [[XlsxColumnarPartitionReader]] rather
  * than the scanners alone.
  */
class XlsxReaderFuzzSpec extends SparkSpec {

  /** Expected outcome, scanner-free: StAX rows + resolve + convert.
    * Left(()) = the read must fail ragged; Right(rows-as-strings). */
  private def expected(bytes: Array[Byte]): Either[Unit, Seq[Seq[String]]] = {
    val wb = new XlsxParser.Workbook(() => new ByteArrayInputStream(bytes))
    val opts = XlsxOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap[String, String]()))
    val resolved = XlsxSchema.resolve(wb, opts)
    val rows = {
      val it = XlsxOracle.rows(wb, "xl/worksheets/sheet1.xml")
      try it.map(_._2).toList finally it.close()
    }
    val data = rows.drop(resolved.dropRows)
    if (data.exists(_.length > resolved.baseWidth)) Left(())
    else Right(data.map { cells =>
      resolved.schema.fields.zipWithIndex.map { case (f, i) =>
        val cell = if (i < cells.length) cells(i) else XCell.XNone
        XlsxOracle.convert(cell, f.dataType, coerce = false) match {
          case null => "∅"
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case d: java.lang.Double => d.toString
          case b: java.lang.Boolean => b.toString
          case days: java.lang.Integer if f.dataType == DateType =>
            java.time.LocalDate.ofEpochDay(days.longValue).toString
          case other => other.toString
        }
      }.toSeq
    })
  }

  private def actual(path: String, extra: Map[String, String]): Seq[Seq[String]] = {
    var r = spark.read.format("xlsx")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val df = r.load(path)
    val fields = df.schema.fields
    df.collect().toSeq.map { row =>
      fields.zipWithIndex.map { case (f, i) =>
        if (row.isNullAt(i)) "∅"
        else f.dataType match {
          case StringType => row.getString(i)
          case DoubleType => row.getDouble(i).toString
          case BooleanType => row.getBoolean(i).toString
          case DateType => row.getDate(i).toLocalDate.toString
          case other => row.get(i).toString + s"[$other]"
        }
      }.toSeq
    }
  }

  test("DSv2 columnar reader matches StAX-derived rows on 60 adversarial workbooks") {
    val rnd = new Random(0xD5F2)
    var raggedTrials = 0
    (1 to 60).foreach { trial =>
      val sheet = SheetFuzz.randomSheet(rnd)
      val bytes = SheetFuzz.workbookZip(sheet)
      val f = java.io.File.createTempFile("readerfuzz", ".xlsx")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath, bytes)
      val variants = Seq(
        Map("threads" -> "1"),
        Map("threads" -> "3", "chunkBytes" -> "64"),
        Map("threads" -> "2", "chunkBytes" -> "193")) // prime: cuts mid-everything
      expected(bytes) match {
        case Left(()) =>
          raggedTrials += 1
          variants.foreach { v =>
            val e = intercept[Exception] { actual(f.getAbsolutePath, v) }
            val msgs = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null)
              .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
            assert(msgs.contains("more columns"),
              s"trial $trial $v expected ragged error, got: $msgs\nsheet:\n$sheet")
          }
        case Right(want) =>
          variants.foreach { v =>
            val got = actual(f.getAbsolutePath, v)
            assert(got.sortBy(_.mkString(" ")) == want.sortBy(_.mkString(" ")),
              s"trial $trial $v diverged\nsheet:\n$sheet\ngot: $got\nwant: $want")
          }
      }
      f.delete()
    }
    // the generator must actually exercise both arms
    assert(raggedTrials > 0 && raggedTrials < 60, s"ragged trials: $raggedTrials")
  }
}
