package graft.sources.xlsx

import graft.SparkSpec
import org.apache.spark.sql.types._

import scala.util.Random

/** End-to-end differential fuzz of the DSv2 COLUMNAR reader: adversarial
  * random workbooks (comments, CDATA, entities, self-closing rows, implicit
  * row indices, bad shared-string refs) read through
  * `spark.read.format("xlsx")` — sequentially AND with tiny-chunk parallel
  * parsing, whole and column-pruned, with and without coerceToString —
  * must match an expected row set computed INDEPENDENTLY of the byte
  * scanners and of the column chunks ([[SheetFuzz.oracleRows]]:
  * [[XlsxOracle]]'s StAX rows and boxed `convert`, plus the reader's own
  * resolve rules).
  * A workbook whose rows go ragged must raise the ragged error on every
  * path. This is the layer above XlsxScannerDifferentialSpec: it pins the
  * worker-side batch building, the producer's drop-dealing, index
  * stitching and ragged checks of [[XlsxColumnarPartitionReader]] rather
  * than the scanners alone.
  */
class XlsxReaderFuzzSpec extends SparkSpec {

  private def actual(path: String, extra: Map[String, String],
      keep: Option[Seq[String]]): Seq[Seq[String]] = {
    var r = spark.read.format("xlsx")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val all = r.load(path)
    val df = keep.map(k => all.select(all.columns.filter(k.contains).map(all.col).toIndexedSeq: _*))
      .getOrElse(all)
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
      val coerce = Map("coerceToString" -> (trial % 2 == 0).toString)
      val variants = Seq(
        Map("threads" -> "1"),
        Map("threads" -> "3", "chunkBytes" -> "64"),
        Map("threads" -> "2", "chunkBytes" -> "193"), // prime: cuts mid-everything
        Map("threads" -> "2", "chunkBytes" -> "48")).map(_ ++ coerce)
      // every other column, when the trial reads a pruned scan
      val keep =
        if (trial % 3 != 0) None
        else Some(spark.read.format("xlsx").options(coerce).load(f.getAbsolutePath)
          .columns.toSeq.zipWithIndex.collect { case (n, i) if i % 2 == 0 => n })
      SheetFuzz.oracleRows(bytes, coerce, keep) match {
        case Left(()) =>
          raggedTrials += 1
          variants.foreach { v =>
            val e = intercept[Exception] { actual(f.getAbsolutePath, v, keep) }
            val msgs = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null)
              .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
            assert(msgs.contains("more columns"),
              s"trial $trial $v expected ragged error, got: $msgs\nsheet:\n$sheet")
          }
        case Right(want) =>
          variants.foreach { v =>
            val got = actual(f.getAbsolutePath, v, keep)
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
