package perfbench

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Deterministic inputs. One row model feeds the foreign workbook, the
  * DataFrame the indexed workload writes, and the checksum both reads are
  * checked against: the generator knows every answer before the program
  * runs. The faces fixture is fixed (seed-independent), so its answers
  * can be pinned in [[Faces]]. */
object Gen {

  /** One data row. `category` and `cents` may be null (empty cells). */
  final case class Rec(id: Long, text: String, category: String,
      cents: java.lang.Long, flag: Boolean, epochDay: Int) {
    def values: Seq[Any] = Seq(id, text, category,
      if (cents == null) null else cents.longValue / 100.0, flag,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay.toLong)))
    /** The row as the checksum expression renders it on the read side. */
    def canonical: String =
      s"$id|$text|${Option(category).getOrElse("N")}|" +
        s"${Option(cents).map(_.toString).getOrElse("N")}|" +
        s"${if (flag) 1 else 0}|$epochDay"
  }

  val Header: Seq[String] = Seq("id", "text", "category", "amount", "flag", "date")

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("category", StringType),
    StructField("amount", DoubleType),
    StructField("flag", BooleanType),
    StructField("date", DateType)))

  private val Categories = Array("north", "south", "east", "west", "R&D",
    "sales <EU>", "ops", "finance", "legal", "support", "hr", "it",
    "marketing", "logistics", "quality", "\"quoted\"")

  private val Words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  /** splitmix64 finalizer: random access to row i of stream k. */
  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, i: Long, k: Int): Long =
    mix(mix(seed * 31 + k) + i)
  private def pick(x: Long, n: Int): Int = java.lang.Long.remainderUnsigned(x, n.toLong).toInt

  /** Row i (0-based). Row 0 has no empty cells, so schema inference sees
    * every type; about 6% of texts repeat, the rest are distinct, which
    * keeps the shared-strings table large as in real Excel files. */
  def rec(seed: Long, i: Long): Rec = {
    val a = h(seed, i, 1); val b = h(seed, i, 2); val c = h(seed, i, 3)
    val text =
      if (i > 0 && pick(a, 16) == 0) s"repeat ${pick(a >>> 8, 64)}"
      else s"${Words(pick(a >>> 4, Words.length))} ${Words(pick(a >>> 12, Words.length))}" +
        s" #${java.lang.Long.toHexString(h(seed, i, 4))}" +
        (if (pick(a >>> 20, 9) == 0) " & <co>" else "")
    val category = if (i > 0 && pick(b, 13) == 0) null else Categories(pick(b >>> 8, Categories.length))
    val cents: java.lang.Long = if (i > 0 && pick(c, 11) == 0) null else pick(c >>> 8, 10000000).toLong
    Rec(i + 1, text, category, cents, (b >>> 40 & 1) == 1, 10957 + pick(c >>> 32, 11000))
  }

  /** Order-independent checksum of rows [0, n): XOR of Spark's
    * `xxhash64` over each canonical row string (ids are distinct, so no
    * two rows cancel). [[ChecksumSql]] computes the same on a DataFrame. */
  def checksum(seed: Long, n: Int): Long = {
    var x = 0L
    var i = 0
    while (i < n) { x ^= xxhash64(rec(seed, i).canonical); i += 1 }
    x
  }

  def xxhash64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** (row count, checksum) of a DataFrame with the [[Header]] columns. */
  val ChecksumSql: Seq[String] = Seq("count(*) AS n",
    """bit_xor(xxhash64(concat_ws('|',
      |  cast(cast(id AS BIGINT) AS STRING),
      |  coalesce(text, 'N'),
      |  coalesce(category, 'N'),
      |  coalesce(cast(cast(round(amount * 100) AS BIGINT) AS STRING), 'N'),
      |  coalesce(cast(cast(flag AS INT) AS STRING), 'N'),
      |  coalesce(cast(datediff(date, DATE'1970-01-01') AS STRING), 'N')))) AS x""".stripMargin)

  def readChecksum(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr(ChecksumSql: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The rows the indexed workload writes, as one cached partition (one
    * write task, one file). */
  def frame(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rows = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) { rows.add(Row.fromSeq(rec(seed, i).values)); i += 1 }
    spark.createDataFrame(rows, Schema).coalesce(1).cache()
  }

  // ---- foreign workbook ------------------------------------------------------

  private val Stamp = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val Main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val Rels = "http://schemas.openxmlformats.org/package/2006/relationships"
  private val DocRel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def colRef(c: Int): Char = ('A' + c).toChar

  /** An Excel-style workbook as a third-party tool writes it: shared
    * strings for every text cell, `r=` refs on rows and cells, a header
    * row, numbers, booleans, date-styled serials and empty cells (both
    * omitted and `<c r=".."/>`), and no graft segment index. Byte-identical
    * for the same (seed, rows). */
  def foreignWorkbook(seed: Long, rows: Int, out: OutputStream): Unit = {
    val zip = new ZipOutputStream(out)
    def entry(name: String)(body: BufferedWriter => Unit): Unit = {
      val e = new ZipEntry(name)
      e.setTimeLocal(Stamp)
      zip.putNextEntry(e)
      val w = new BufferedWriter(new OutputStreamWriter(zip, UTF_8), 1 << 16)
      body(w)
      w.flush()
      zip.closeEntry()
    }
    entry("[Content_Types].xml") { w =>
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""")
      w.write("""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""")
      w.write("""<Default Extension="xml" ContentType="application/xml"/>""")
      w.write("""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""")
      w.write("""<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      w.write("""<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""")
      w.write("""<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""")
      w.write("</Types>")
    }
    entry("_rels/.rels") { w =>
      w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$Rels">""")
      w.write(s"""<Relationship Id="rId1" Type="$DocRel/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    }
    entry("xl/workbook.xml") { w =>
      w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="$Main" xmlns:r="$DocRel">""")
      w.write("""<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    }
    entry("xl/_rels/workbook.xml.rels") { w =>
      w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$Rels">""")
      w.write(s"""<Relationship Id="rId1" Type="$DocRel/worksheet" Target="worksheets/sheet1.xml"/>""")
      w.write(s"""<Relationship Id="rId2" Type="$DocRel/styles" Target="styles.xml"/>""")
      w.write(s"""<Relationship Id="rId3" Type="$DocRel/sharedStrings" Target="sharedStrings.xml"/>""")
      w.write("</Relationships>")
    }
    entry("xl/styles.xml") { w =>
      w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><styleSheet xmlns="$Main">""")
      w.write("""<fonts count="1"><font/></fonts><fills count="1"><fill/></fills><borders count="1"><border/></borders>""")
      w.write("""<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""")
      w.write("""<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""")
      w.write("""<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/></cellXfs>""")
      w.write("</styleSheet>")
    }
    // the sheet interns strings in first-seen order; the table follows it
    val sst = new java.util.LinkedHashMap[String, Integer]()
    var refs = 0L
    def s(v: String): Int = { refs += 1; sst.computeIfAbsent(v, _ => sst.size) }
    entry("xl/worksheets/sheet1.xml") { w =>
      w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="$Main" xmlns:r="$DocRel">""")
      w.write(s"""<dimension ref="A1:F${rows + 1}"/><sheetData>""")
      w.write("""<row r="1">""")
      Header.zipWithIndex.foreach { case (v, c) => w.write(s"""<c r="${colRef(c)}1" t="s"><v>${s(v)}</v></c>""") }
      w.write("</row>")
      var i = 0
      while (i < rows) {
        val r = rec(seed, i); val n = i + 2
        w.write(s"""<row r="$n"><c r="A$n"><v>${r.id}</v></c><c r="B$n" t="s"><v>${s(r.text)}</v></c>""")
        if (r.category != null) w.write(s"""<c r="C$n" t="s"><v>${s(r.category)}</v></c>""")
        else if (i % 2 == 0) w.write(s"""<c r="C$n"/>""")
        if (r.cents != null)
          w.write(s"""<c r="D$n"><v>${java.math.BigDecimal.valueOf(r.cents, 2).stripTrailingZeros.toPlainString}</v></c>""")
        w.write(s"""<c r="E$n" t="b"><v>${if (r.flag) 1 else 0}</v></c>""")
        w.write(s"""<c r="F$n" s="1"><v>${r.epochDay + 25569}</v></c></row>""")
        i += 1
      }
      w.write("</sheetData></worksheet>")
    }
    entry("xl/sharedStrings.xml") { w =>
      w.write(s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="$Main" count="$refs" uniqueCount="${sst.size}">""")
      sst.keySet.forEach(v => w.write(s"<si><t>${esc(v)}</t></si>"))
      w.write("</sst>")
    }
    zip.close()
  }
}
