package graft.sources

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.time.LocalDate

import graft.SparkSpec
import graft.sources.xlsx.XlsxWriter
import graft.sources.xlsx.XlsxWriter.SheetSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Option-surface edge cases of the `xlsx` DSv2 source, mirroring the
  * reference's semantics (src/sheetreader_extension.cpp:640-948).
  */
class XlsxSourceSpec extends SparkSpec {

  private def tmpXlsx(sheets: Seq[SheetSpec]): String = {
    val f = Files.createTempFile("graft_spec_", ".xlsx")
    val out = new FileOutputStream(f.toFile)
    try XlsxWriter.write(out, sheets) finally out.close()
    f.toString
  }

  private def one(header: Option[Seq[String]], rows: Seq[Seq[Any]]): String =
    tmpXlsx(Seq(SheetSpec("Sheet1", header, rows.iterator)))

  test("allSheets fans out one partition per (file, sheet) with _sheet_name") {
    val h = Some(Seq("k", "v"))
    val p = tmpXlsx(Seq(
      SheetSpec("alpha", h, Seq(Seq[Any]("a", 1.0), Seq[Any]("b", 2.0)).iterator),
      SheetSpec("beta", h, Seq(Seq[Any]("c", 3.0)).iterator)))
    val df = spark.read.format("xlsx").option("allSheets", "true").load(p)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "_sheet_name"))
    assert(df.rdd.getNumPartitions == 2) // one per sheet
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).sorted
    assert(rows.toSeq == Seq(("a", 1.0, "alpha"), ("b", 2.0, "alpha"), ("c", 3.0, "beta")))
    // pruning down to the metadata column alone still works
    assert(df.select("_sheet_name").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("alpha", "beta"))
    // and filtering on it prunes to one sheet's rows
    assert(df.filter(col("_sheet_name") === "beta").count() == 1)
  }

  test("allSheets with a user schema placing _sheet_name first still maps cells") {
    val h = Some(Seq("k", "v"))
    val p = tmpXlsx(Seq(
      SheetSpec("alpha", h, Seq(Seq[Any]("a", 1.0)).iterator)))
    val df = spark.read.format("xlsx")
      .schema(StructType(Seq(
        StructField("_sheet_name", StringType),
        StructField("k", StringType),
        StructField("v", DoubleType))))
      .option("allSheets", "true").load(p)
    val r = df.collect()(0)
    assert(r.getAs[String]("_sheet_name") == "alpha")
    assert(r.getAs[String]("k") == "a") // not shifted by the metadata column
    assert(r.getAs[Double]("v") == 1.0)
  }

  test("allSheets conflicts with sheetName/sheetIndex") {
    val p = one(Some(Seq("k", "v")), Seq(Seq("a", 1.0)))
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("allSheets", "true")
        .option("sheetName", "Sheet1").load(p).collect()
    }
    assert(e.getMessage.contains("allSheets"))
  }

  test("roundtrip: header + mixed types, header auto-detected") {
    val p = one(Some(Seq("name", "price", "ok")), Seq(
      Seq("a", 1.5, true),
      Seq("b", -2.25, false),
      Seq("c", 3.0, true)))
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema == StructType(Seq(
      StructField("name", StringType), StructField("price", DoubleType),
      StructField("ok", BooleanType))))
    val rows = df.collect().sortBy(_.getString(0))
    assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSeq ==
      Seq(("a", 1.5, true), ("b", -2.25, false), ("c", 3.0, true)))
  }

  test("headerless sheet gets generated names String0/Numeric1/Boolean2/Date3") {
    val p = one(None, Seq(
      Seq("x", 1.0, true, LocalDate.of(2020, 1, 2)),
      Seq("y", 2.0, false, LocalDate.of(2021, 3, 4))))
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema.fieldNames.toSeq == Seq("String0", "Numeric1", "Boolean2", "Date3"))
    assert(df.schema.fields.map(_.dataType).toSeq ==
      Seq(StringType, DoubleType, BooleanType, DateType))
    val r = df.orderBy("Numeric1").collect()
    assert(r(0).getDate(3).toLocalDate == LocalDate.of(2020, 1, 2))
    assert(r(1).getDate(3).toLocalDate == LocalDate.of(2021, 3, 4))
  }

  test("all-string rows 1+2: no auto header; hasHeader forces it") {
    val p = one(Some(Seq("k", "v")), Seq(Seq("a", "b"), Seq("c", "d")))
    val auto = spark.read.format("xlsx").load(p)
    assert(auto.schema.fieldNames.toSeq == Seq("String0", "String1"))
    assert(auto.count() == 3) // header row is data without the option
    val forced = spark.read.format("xlsx").option("hasHeader", "true").load(p)
    assert(forced.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(forced.count() == 2)
  }

  test("hasHeader on a non-string first row errors") {
    val p = one(None, Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("hasHeader", "true").load(p).collect()
    }
    assert(e.getMessage.contains("must contain only strings"))
  }

  test("skipRows drops leading junk before header detection") {
    val p = one(None, Seq(
      Seq("junk"), Seq("more junk"),
      Seq("name", "price"), Seq("a", 1.0), Seq("b", 2.0)))
    val df = spark.read.format("xlsx").option("skipRows", "2").load(p)
    assert(df.schema.fieldNames.toSeq == Seq("name", "price"))
    assert(df.count() == 2)
  }

  test("sheetName and sheetIndex resolve sheets; both at once errors") {
    val p = tmpXlsx(Seq(
      SheetSpec("first", None, Iterator(Seq(1.0), Seq(2.0))),
      SheetSpec("second", None, Iterator(Seq("z", 9.0), Seq("w", 8.0)))))
    val byIdx = spark.read.format("xlsx").option("sheetIndex", "2").load(p)
    assert(byIdx.schema.fieldNames.toSeq == Seq("String0", "Numeric1"))
    val byName = spark.read.format("xlsx").option("sheetName", "second").load(p)
    assert(byName.count() == 2)
    val e = intercept[Exception] {
      spark.read.format("xlsx")
        .option("sheetName", "second").option("sheetIndex", "2").load(p)
    }
    assert(e.getMessage.contains("cannot be set at the same time"))
  }

  test("types override adds `Column N` extension columns as NULL") {
    val p = one(None, Seq(Seq("a", 1.0), Seq("b", 2.0)))
    val df = spark.read.format("xlsx")
      .option("types", "[STRING,DOUBLE,DOUBLE]").load(p)
    assert(df.schema.fieldNames.toSeq == Seq("String0", "Numeric1", "Column 2"))
    assert(df.schema.fields(2).dataType == DoubleType)
    assert(df.collect().forall(_.isNullAt(2)))
  }

  test("types mismatch without forceTypes errors; with forceTypes → NULLs") {
    val p = one(None, Seq(Seq("a", 1.0), Seq("b", 2.0)))
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("types", "[DOUBLE,DOUBLE]").load(p)
    }
    assert(e.getMessage.contains("not compatible"))
    val forced = spark.read.format("xlsx")
      .option("types", "[DOUBLE,DOUBLE]").option("forceTypes", "true").load(p)
    val rows = forced.orderBy("Numeric1").collect()
    assert(rows.forall(_.isNullAt(0))) // string cells under DOUBLE → NULL
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0))
  }

  test("coerceToString renders numerics/booleans/dates as reference-format text") {
    val p = one(None, Seq(Seq(1.5, true, LocalDate.of(2020, 2, 29), "s")))
    val df = spark.read.format("xlsx")
      .option("types", "[STRING,STRING,STRING,STRING]")
      .option("coerceToString", "true").load(p)
    val r = df.collect()(0)
    assert(r.getString(0) == "1.500000") // std::to_string fixed 6 decimals
    assert(r.getString(1) == "TRUE")
    assert(r.getString(2) == "2020-02-29")
    assert(r.getString(3) == "s")
  }

  test("empty cells and type-mismatched cells are NULL") {
    val p = one(Some(Seq("a", "b", "c")), Seq(
      Seq("x", 1.0, true),
      Seq(null, 2.0, null),
      Seq("z", "not-a-number", false)))
    val df = spark.read.format("xlsx").load(p)
    val rows = df.collect()
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1)) // string cell in DOUBLE column → NULL
  }

  test("ragged row wider than row 1 errors at scan") {
    val p = one(None, Seq(Seq(1.0, 2.0), Seq(3.0, 4.0, 5.0)))
    val e = intercept[Exception] { spark.read.format("xlsx").load(p).collect() }
    assert(e.getMessage.contains("more columns than the first row"))
  }

  test("date serials roundtrip, including pre-1970") {
    val dates = Seq(LocalDate.of(1960, 6, 15), LocalDate.of(1970, 1, 1),
      LocalDate.of(2000, 2, 29), LocalDate.of(2038, 12, 31))
    val p = one(None, dates.map(d => Seq(d: Any)))
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema.fields(0).dataType == DateType)
    assert(df.collect().map(_.getDate(0).toLocalDate).toSet == dates.toSet)
  }

  test("filters stay with Spark: a Filter above BatchScan, no pushed filters") {
    val p = one(Some(Seq("name", "price", "ok")), Seq(
      Seq("a", 1.0, true), Seq("b", 5.0, false),
      Seq("c", 10.0, true), Seq(null, 7.0, true)))
    val df = spark.read.format("xlsx").load(p)
      .filter(col("price") > 4.0 && col("name").isNotNull)
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("b", "c"))
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect { case s: BatchScanExec => s }
    assert(scans.size == 1 && !scans.head.scan.description().contains("PushedFilters"),
      s"expected one xlsx scan with no pushed filters:\n$plan")
    assert(plan.collect { case f: FilterExec => f }
        .exists(f => f.condition.references.exists(_.name == "price") &&
          f.find(_.isInstanceOf[BatchScanExec]).isDefined),
      s"expected a Filter on price above the scan:\n$plan")
    // equality and string filters too
    val eq = spark.read.format("xlsx").load(p).filter(col("name") === "c")
    assert(eq.count() == 1)
  }

  test("-0.0 equals 0.0 under every filter at threads 1, 2 and on a stream") {
    val dir = Files.createTempDirectory("graft_negzero_")
    val out = new FileOutputStream(dir.resolve("z.xlsx").toFile)
    try XlsxWriter.write(out, Seq(SheetSpec("Sheet1", Some(Seq("k", "x")),
      Iterator(Seq[Any]("neg", -0.0), Seq[Any]("pos", 0.0), Seq[Any]("one", 1.0)))))
    finally out.close()
    val filters: Seq[(String, Column)] = Seq(
      "x === 0.0" -> (col("x") === 0.0),
      "x >= 0.0" -> (col("x") >= 0.0),
      "x <= -0.0" -> (col("x") <= -0.0),
      "isin(0.0)" -> col("x").isin(0.0))
    def keys(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.getString(0)).sorted.toSeq
    val all = spark.read.format("xlsx").load(dir.toString)
    assert(all.collect().map(_.getDouble(1)).exists(d =>
      java.lang.Double.doubleToRawLongBits(d) == java.lang.Double.doubleToRawLongBits(-0.0)),
      "the workbook must carry a -0.0 cell")
    val local = spark.createDataFrame(
      java.util.Arrays.asList(all.collect(): _*), all.schema)
    filters.zipWithIndex.foreach { case ((name, f), i) =>
      val want = keys(local.filter(f))
      assert(want.contains("neg") && want.contains("pos"), s"$name: $want")
      Seq("1", "2").foreach { t =>
        val got = keys(spark.read.format("xlsx").option("threads", t)
          .load(dir.toString).filter(f))
        assert(got == want, s"$name at threads $t")
      }
      val q = spark.readStream.format("xlsx").load(dir.toString).filter(f)
        .writeStream.format("memory").queryName(s"negzero_$i")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(keys(spark.table(s"negzero_$i")) == want, s"$name on the stream")
      } finally q.stop()
    }
  }

  test("a truncated workbook fails at load with an error naming the file") {
    val p = one(Some(Seq("k", "v")), (1 to 2000).map(i => Seq[Any](s"r$i", i.toDouble)))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    val cut = Files.createTempFile("graft_truncated_", ".xlsx")
    Files.write(cut, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val e = intercept[Exception] { spark.read.format("xlsx").load(cut.toString) }
    assert(e.getMessage.contains(cut.toString), e.getMessage)
  }

  test("SQL surface: CREATE TEMPORARY VIEW ... USING xlsx") {
    // the reference's primary UX is a SQL table function
    // (sheetreader('f.xlsx')); the Spark-native spelling is a view/table
    // over the source with the same options. (The direct-path form
    // `FROM xlsx.\`p\`` is reserved for FileDataSourceV2 sources — Spark
    // rejects it for TableProvider connectors, Kafka included.)
    val p = one(Some(Seq("k", "v")), Seq(Seq("a", 1.0), Seq("b", 2.0)))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW xlsx_sql_t USING xlsx OPTIONS (path '$p')")
    try {
      val rows = spark.sql("SELECT k, v FROM xlsx_sql_t ORDER BY k")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(rows == Seq(("a", 1.0), ("b", 2.0)))
      val agg = spark.sql("SELECT sum(v) AS s FROM xlsx_sql_t")
      assert(agg.collect()(0).getDouble(0) == 3.0)
    } finally spark.sql("DROP VIEW IF EXISTS xlsx_sql_t")
  }

  test("batch scans read columnar (ColumnarToRow above the BatchScan)") {
    // the batch path must hand Spark ColumnarBatches — the
    // vectorized-parquet shape; a silent fall-back to the row path would
    // still be correct but forfeit the codegen'd consume, so pin the plan
    val p = one(Some(Seq("k", "v")), Seq(Seq("a", 1.0), Seq("b", 2.0)))
    val df = spark.read.format("xlsx").load(p)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected a columnar scan (ColumnarToRow), got:\n$plan")
    assert(df.count() == 2)
  }

  test("UTF-16 workbook reads columnar with identical values (r10 parity)") {
    // hand-built zip: the worksheet entry is UTF-16 with BOM — it must
    // transcode onto the same byte-scanner + ColumnarBatch path as UTF-8
    // workbooks (it used to take the StAX row fallback)
    val wb =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    val sheet =
      """<?xml version="1.0" encoding="UTF-16"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c><c r="B1" t="inlineStr"><is><t>v</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>漢字🚀</t></is></c><c r="B2"><v>1.5</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>plain</t></is></c><c r="B3"><v>-2.25</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val f = Files.createTempFile("graft_utf16_", ".xlsx")
    val z = new java.util.zip.ZipOutputStream(new FileOutputStream(f.toFile))
    Seq(
      "xl/workbook.xml" -> wb.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "xl/_rels/workbook.xml.rels" ->
        rels.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "xl/worksheets/sheet1.xml" ->
        sheet.getBytes(java.nio.charset.StandardCharsets.UTF_16))
      .foreach { case (name, content) =>
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(content); z.closeEntry()
      }
    z.close()
    val df = spark.read.format("xlsx").load(f.toString)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"UTF-16 workbook must ride the columnar path:\n$plan")
    val rows2 = df.collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._2)
    assert(rows2.toSeq == Seq(("plain", -2.25), ("漢字🚀", 1.5)))
  }

  test("column pruning reaches the reader (pruned schema)") {
    val p = one(Some(Seq("a", "b", "c")), Seq(Seq("x", 1.0, true)))
    val df = spark.read.format("xlsx").load(p).select("b")
    val plan = df.queryExecution.executedPlan.toString
    assert(df.collect()(0).getDouble(0) == 1.0)
    assert(plan.contains("ReadSchema") || df.schema.fieldNames.toSeq == Seq("b"))
  }

  test("DSv2 write path: df.write.format(\"xlsx\") roundtrips") {
    val dir = Files.createTempDirectory("graft_xlsx_write_").toString
    val df = spark.createDataFrame(
      java.util.List.of(
        Row("a", 1.5, true, java.sql.Date.valueOf("2020-01-02")),
        Row("b", 2.5, false, java.sql.Date.valueOf("2021-03-04"))),
      StructType(Seq(
        StructField("s", StringType), StructField("d", DoubleType),
        StructField("f", BooleanType), StructField("dt", DateType))))
    df.repartition(1).write.format("xlsx").mode("overwrite").save(dir)
    val back = spark.read.format("xlsx").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("s", "d", "f", "dt"))
    val rows = back.orderBy("s").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5))
    assert(rows(0).getDate(3).toLocalDate == LocalDate.of(2020, 1, 2))
  }

  test("snake_case option spellings (reference idiom) are accepted") {
    val p = tmpXlsx(Seq(
      SheetSpec("first", None, Iterator(Seq(1.0))),
      SheetSpec("second", None, Iterator[Seq[Any]](
        Seq("junk"), Seq("name", "price"), Seq("a", 1.0), Seq("b", 2.0)))))
    val df = spark.read.format("xlsx")
      .option("sheet_name", "second")
      .option("skip_rows", "1")
      .option("has_header", "true")
      .load(p)
    assert(df.schema.fieldNames.toSeq == Seq("name", "price"))
    assert(df.count() == 2)
    val coerced = spark.read.format("xlsx")
      .option("sheet_index", "1")
      .option("types", "[STRING]")
      .option("force_types", "true")
      .option("coerce_to_string", "true")
      .load(p)
    assert(coerced.collect()(0).getString(0) == "1.000000")
  }

  test("user-supplied schema narrows numeric types") {
    val p = one(Some(Seq("name", "price")), Seq(Seq("a", 10.0), Seq("b", 20.0)))
    val df = spark.read.format("xlsx")
      .schema("name STRING, price BIGINT").load(p)
    val rows = df.orderBy("name").collect()
    assert(df.schema("price").dataType == LongType)
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L))
  }

  test("empty input path errors clearly") {
    val dir = Files.createTempDirectory("graft_xlsx_empty_").toString
    val e = intercept[Exception] { spark.read.format("xlsx").load(dir) }
    assert(e.getMessage.contains("no input files"))
  }

  test("DSv2 write honors the sheetName option") {
    val dir = Files.createTempDirectory("graft_xlsx_sheetname_").toString
    val df = spark.createDataFrame(
      java.util.List.of(Row("a", 1.0)),
      StructType(Seq(StructField("s", StringType), StructField("d", DoubleType))))
    df.repartition(1).write.format("xlsx")
      .option("sheetName", "mydata").mode("overwrite").save(dir)
    // readable by name proves the workbook metadata carries it
    val back = spark.read.format("xlsx").option("sheetName", "mydata").load(dir)
    assert(back.count() == 1)
  }

  test("multi-file directory scan unions files (beyond-reference superset)") {
    val dir = Files.createTempDirectory("graft_xlsx_multi_")
    def put(name: String, rows: Seq[Seq[Any]]): Unit = {
      val out = new FileOutputStream(dir.resolve(name).toFile)
      try XlsxWriter.write(out,
        Seq(SheetSpec("Sheet1", Some(Seq("k", "v")), rows.iterator)))
      finally out.close()
    }
    put("a.xlsx", Seq(Seq("a", 1.0), Seq("b", 2.0)))
    put("b.xlsx", Seq(Seq("c", 3.0)))
    val df = spark.read.format("xlsx").load(dir.toString)
    assert(df.count() == 3)
    assert(df.rdd.getNumPartitions == 2) // one partition per file
  }

  test("user schema with non-xlsx types reads those columns as NULL on both paths") {
    // supportsExternalMetadata lets a user supply any Spark type; types with
    // no xlsx representation must read as NULL columns (convert's catch-all),
    // not fail reader construction — on the boxed (threads=1) AND the
    // unsafe parallel (threads>=2) path.
    val p = one(Some(Seq("name", "ts", "dec", "qty")),
      Seq(Seq[Any]("a", 1.0, 2.0, 3.0), Seq[Any]("b", 4.0, 5.0, 6.0)))
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("ts", TimestampType),   // no xlsx representation
      StructField("dec", DecimalType(10, 2)), // no xlsx representation
      StructField("qty", DoubleType)))
    for (threads <- Seq("1", "2")) {
      val df = spark.read.format("xlsx").schema(schema)
        .option("threads", threads).load(p)
      val rows = df.collect().sortBy(_.getString(0))
      assert(rows.length == 2, s"threads=$threads")
      assert(rows.forall(r => r.isNullAt(1) && r.isNullAt(2)), s"threads=$threads")
      assert(rows.map(_.getDouble(3)).toSeq == Seq(3.0, 6.0), s"threads=$threads")
    }
  }
}
