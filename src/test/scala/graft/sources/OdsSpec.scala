package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ods source: family-shared semantics (inference, header detect,
  * option surface, NULL rules) over the ODF container, repeated-cell
  * run-length expansion with trailing-filler trim, and the write path. */
class OdsSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): Path = {
    val d = Files.createTempDirectory("graft_ods_")
    d.toFile.deleteOnExit()
    d
  }

  /** Hand-rolled .ods with the given content.xml table body. */
  private def rawOds(dir: Path, name: String, tableBody: String): String = {
    val f = dir.resolve(name)
    val zip = new ZipOutputStream(Files.newOutputStream(f), StandardCharsets.UTF_8)
    zip.putNextEntry(new ZipEntry("content.xml"))
    zip.write(
      ("""<?xml version="1.0" encoding="UTF-8"?>
         |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" office:version="1.2">
         |<office:body><office:spreadsheet>
         |""".stripMargin + tableBody +
        "</office:spreadsheet></office:body></office:document-content>")
        .getBytes(StandardCharsets.UTF_8))
    zip.closeEntry()
    zip.close()
    f.toString
  }

  test("write-read roundtrip: all types, nulls, header, date round-trip") {
    val dir = tempDir().resolve("rt").toString
    val df = Seq(
      (1L, "alpha", 1.5, true, java.sql.Date.valueOf("2024-03-01")),
      (2L, "beta", -2.25, false, java.sql.Date.valueOf("1999-12-31"))
    ).toDF("id", "name", "x", "flag", "d")
    df.write.format("ods").mode("overwrite").save(dir)
    val back = spark.read.format("ods").load(dir)
      .orderBy(col("id")).collect()
    assert(back.length == 2)
    // longs write as numeric → read back as double per the family's type set
    assert(back(0).getDouble(0) == 1.0 && back(0).getString(1) == "alpha" &&
      back(0).getDouble(2) == 1.5 && back(0).getBoolean(3) &&
      back(0).getDate(4) == java.sql.Date.valueOf("2024-03-01"))
    assert(back(1).getDate(4) == java.sql.Date.valueOf("1999-12-31"))
    val schema = spark.read.format("ods").load(dir).schema
    assert(schema.fieldNames.toSeq == Seq("id", "name", "x", "flag", "d"))
  }

  test("repeated columns/rows expand; trailing filler cells and rows trim") {
    val dir = tempDir()
    val body =
      """<table:table table:name="S">
        |<table:table-row>
        |<table:table-cell office:value-type="string"><text:p>a</text:p></table:table-cell>
        |<table:table-cell office:value-type="string"><text:p>b</text:p></table:table-cell>
        |<table:table-cell office:value-type="string"><text:p>c</text:p></table:table-cell>
        |</table:table-row>
        |<table:table-row>
        |<table:table-cell office:value-type="float" office:value="7" table:number-columns-repeated="2"><text:p>7</text:p></table:table-cell>
        |<table:table-cell office:value-type="float" office:value="9"><text:p>9</text:p></table:table-cell>
        |<table:table-cell table:number-columns-repeated="1021"/>
        |</table:table-row>
        |<table:table-row table:number-rows-repeated="2">
        |<table:table-cell office:value-type="float" office:value="1"/>
        |<table:table-cell/>
        |<table:table-cell office:value-type="float" office:value="3"/>
        |</table:table-row>
        |<table:table-row table:number-rows-repeated="1048575">
        |<table:table-cell table:number-columns-repeated="1024"/>
        |</table:table-row>
        |</table:table>
        |""".stripMargin
    val p = rawOds(dir, "rep.ods", body)
    val df = spark.read.format("ods").option("hasHeader", "true").load(p)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    val rows = df.collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)), Option(r.get(2))))
    // row 2: the repeated 7 expands to two cells; trailing 1021 empties trim
    // rows 3-4: number-rows-repeated duplicates the row; interior null kept
    // the 1048575-row empty filler block trims entirely
    assert(rows.toSeq == Seq(
      (Some(7.0), Some(7.0), Some(9.0)),
      (Some(1.0), None, Some(3.0)),
      (Some(1.0), None, Some(3.0))))
  }

  test("family option surface: skipRows, sheetName, types override, coerce") {
    val dir = tempDir()
    val body =
      """<table:table table:name="Junk">
        |<table:table-row><table:table-cell office:value-type="string"><text:p>junk</text:p></table:table-cell></table:table-row>
        |</table:table>
        |<table:table table:name="Data">
        |<table:table-row><table:table-cell office:value-type="string"><text:p>banner</text:p></table:table-cell><table:table-cell office:value-type="string"><text:p>banner2</text:p></table:table-cell></table:table-row>
        |<table:table-row><table:table-cell office:value-type="string"><text:p>k</text:p></table:table-cell><table:table-cell office:value-type="string"><text:p>v</text:p></table:table-cell></table:table-row>
        |<table:table-row><table:table-cell office:value-type="float" office:value="1"><text:p>1</text:p></table:table-cell><table:table-cell office:value-type="float" office:value="10.5"><text:p>10.5</text:p></table:table-cell></table:table-row>
        |<table:table-row><table:table-cell office:value-type="float" office:value="2"><text:p>2</text:p></table:table-cell><table:table-cell office:value-type="float" office:value="20.5"><text:p>20.5</text:p></table:table-cell></table:table-row>
        |</table:table>
        |""".stripMargin
    val p = rawOds(dir, "opts.ods", body)
    // skip the banner row; header row then auto-detects
    val df = spark.read.format("ods")
      .option("sheetName", "Data").option("skipRows", "1").load(p)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(df.orderBy(col("k")).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
      Seq((1.0, 10.5), (2.0, 20.5)))
    // types override with coercion: numbers render as fixed-6 strings,
    // exactly the xlsx coercion (shared conversion layer)
    val coerced = spark.read.format("ods")
      .option("sheetName", "Data").option("skipRows", "1")
      .option("types", "[STRING,STRING]").option("coerceToString", "true")
      .load(p)
    assert(coerced.orderBy(col("k")).collect().map(_.getString(1)).toSeq ==
      Seq("10.500000", "20.500000"))
  }

  test("column pruning reaches the reader: pruned columns are never converted") {
    val dir = tempDir().resolve("prune").toString
    Seq((1.0, "x", 2.0)).toDF("a", "b", "c")
      .write.format("ods").mode("overwrite").save(dir)
    val pruned = spark.read.format("ods").load(dir).select("b")
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("b"))
    assert(pruned.collect()(0).getString(0) == "x")
  }

  test("batch scans read columnar (ColumnarToRow above the scan), row path agrees") {
    val dir = tempDir().resolve("col").toString
    val df = (1 to 9000).map(i =>
      (i.toDouble, s"row$i", i % 2 == 0, java.sql.Date.valueOf("2024-01-01")))
      .toDF("x", "name", "flag", "d")
    df.write.format("ods").mode("overwrite").save(dir)
    val back = spark.read.format("ods").load(dir)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected a columnar ods scan (ColumnarToRow), got:\n$plan")
    // Values survive the vector path bit-for-bit — 9000 rows forces
    // multiple RowBatchReader.BatchRows-sized batches plus a partial tail, and the
    // column set covers double/string/bool/date vector writers.
    val got = back.orderBy(col("x")).collect()
    assert(got.length == 9000)
    assert(got(0).getDouble(0) == 1.0 && got(0).getString(1) == "row1" &&
      !got(0).getBoolean(2) && got(0).getDate(3) == java.sql.Date.valueOf("2024-01-01"))
    assert(got(8999).getDouble(0) == 9000.0 && got(8999).getString(1) == "row9000")
    // aggregate through the columnar path (exercises batch boundaries)
    val s = back.agg(sum(col("x"))).collect()(0).getDouble(0)
    assert(s == (1 to 9000).map(_.toDouble).sum)
  }

  test("ragged row errors; missing table errors") {
    val dir = tempDir()
    val ragged = rawOds(dir, "ragged.ods",
      """<table:table table:name="S">
        |<table:table-row><table:table-cell office:value-type="float" office:value="1"/></table:table-row>
        |<table:table-row><table:table-cell office:value-type="float" office:value="1"/><table:table-cell office:value-type="float" office:value="2"/></table:table-row>
        |</table:table>
        |""".stripMargin)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("ods").load(ragged).collect()
    }
    assert(e.getMessage.contains("more columns than the first row") ||
      Option(e.getCause).exists(_.getMessage.contains("more columns than the first row")))
    val missing = intercept[Exception] {
      spark.read.format("ods").option("sheetName", "Nope").load(ragged).collect()
    }
    assert(missing.getMessage.contains("Sheet 'Nope' not found; have S"))
  }

  test("text and doubles round-trip as in xlsx: CR LF, control chars, -0.0") {
    val dir = tempDir().resolve("esc").toString
    Seq(("a\r\nb", -0.0), ("ctl\u0001x", 1.5)).toDF("s", "d")
      .write.format("ods").mode("overwrite").save(dir)
    val back = spark.read.format("ods").load(dir).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._2)
    // XML cannot carry U+0001; the writer substitutes U+FFFD, as xlsx does
    assert(back.map(_._1).toSeq == Seq("a\r\nb", "ctl\uFFFDx"))
    assert(java.lang.Double.doubleToRawLongBits(back(0)._2) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  /** One-table document: header `k`, then the single value `v`. */
  private def oneValue(dir: Path, name: String, v: Int): String = rawOds(dir, name,
    s"""<table:table table:name="S">
       |<table:table-row><table:table-cell office:value-type="string"><text:p>k</text:p></table:table-cell></table:table-row>
       |<table:table-row><table:table-cell office:value-type="float" office:value="$v"/></table:table-row>
       |</table:table>
       |""".stripMargin)

  test("load(p1, p2) reads every path") {
    val dir = tempDir()
    val (p1, p2) = (oneValue(dir, "a.ods", 1), oneValue(dir, "b.ods", 2))
    val both = spark.read.format("ods").load(p1, p2)
    assert(both.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 2.0))
  }

  test("a sheetIndex past the tables names the 1-based index, in xlsx's wording") {
    val p = oneValue(tempDir(), "one.ods", 1)
    for (i <- Seq(3, 0)) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("ods").option("sheetIndex", i.toString).load(p)
      }
      assert(e.getMessage == s"sheet_index $i out of range 1..1")
    }
  }

  test("repeated header names get _1, _2 suffixes in both formats") {
    val dir = tempDir()
    val header = Seq("x", "x", "z", "X")
    val xlsx = dir.resolve("dup.xlsx")
    val out = Files.newOutputStream(xlsx)
    try graft.sources.xlsx.XlsxWriter.write(out, Seq(
      graft.sources.xlsx.XlsxWriter.SheetSpec("S", Some(header),
        Iterator(Seq[Any](1.0, 2.0, "a", 3.0)))))
    finally out.close()
    def cell(v: String) =
      s"""<table:table-cell office:value-type="string"><text:p>$v</text:p></table:table-cell>"""
    def num(v: Double) =
      s"""<table:table-cell office:value-type="float" office:value="$v"/>"""
    val ods = rawOds(dir, "dup.ods",
      s"""<table:table table:name="S">
         |<table:table-row>${header.map(cell).mkString}</table:table-row>
         |<table:table-row>${num(1.0)}${num(2.0)}${cell("a")}${num(3.0)}</table:table-row>
         |</table:table>
         |""".stripMargin)
    for ((format, path) <- Seq("xlsx" -> xlsx.toString, "ods" -> ods)) {
      val df = spark.read.format(format).load(path)
      assert(df.schema.fieldNames.toSeq == Seq("x", "x_1", "z", "X_2"), format)
      val r = df.collect().head
      assert((r.getDouble(0), r.getDouble(1), r.getString(2), r.getDouble(3)) ==
        ((1.0, 2.0, "a", 3.0)), format)
      assert(df.select("x_1").collect().head.getDouble(0) == 2.0, format)
    }
  }
}
