package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.xlsx.XlsxWriter

/** Each workload stays on the layer it claims: the foreign workbook is
  * reproducible, unindexed and read as one partition; the written one
  * carries a segment index and is read as several. */
class ShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val Sheet = "xl/worksheets/sheet1.xml"
  private val dir: Path = Paths.get("target", "shape-spec").toAbsolutePath
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def foreignBytes(seed: Long, rows: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Gen.foreignWorkbook(seed, rows, out)
    out.toByteArray
  }

  private def hasIndex(path: String): Boolean = {
    val z = new java.util.zip.ZipFile(path)
    try z.getEntry(XlsxWriter.segmentIndexName(Sheet)) != null finally z.close()
  }

  test("the same seed gives a byte-identical foreign workbook, another seed does not") {
    val a = foreignBytes(7, 2000)
    assert(java.util.Arrays.equals(a, foreignBytes(7, 2000)))
    assert(!java.util.Arrays.equals(a, foreignBytes(8, 2000)))
  }

  test("the foreign workbook has no segment index, plans one partition and reads back exactly") {
    val f = dir.resolve("foreign.xlsx")
    Files.createDirectories(dir)
    Files.write(f, foreignBytes(3, Sizes.ForeignRows))
    assert(!hasIndex(f.toString))
    val df = spark.read.format("xlsx").load(f.toString)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.schema.fieldNames.toSeq == Gen.Header)
    assert(Gen.readChecksum(df) == ((Sizes.ForeignRows.toLong, Gen.checksum(3, Sizes.ForeignRows))))
  }

  test("the written workbook carries a segment index, plans several partitions and reads back exactly") {
    val out = dir.resolve("indexed").toString
    Gen.frame(spark, 3, Sizes.IndexedRows).write.format("xlsx").mode("overwrite").save(out)
    val files = Files.list(Paths.get(out)).toArray.map(_.toString).filter(_.endsWith(".xlsx"))
    assert(files.length == 1)
    assert(hasIndex(files.head))
    val df = spark.read.format("xlsx").load(out)
    assert(df.rdd.getNumPartitions > 1)
    assert(Gen.readChecksum(df) == ((Sizes.IndexedRows.toLong, Gen.checksum(3, Sizes.IndexedRows))))
  }
}
