package graft.sources.xlsx

import java.time.LocalDate

/** The sheets behind the writer's golden files under
  * `src/test/resources/xlsx-golden/`. The goldens were written by the
  * previous writer (a `java.io.Writer` over a `ZipOutputStream`), so a
  * spec comparing against them pins the byte-level encoder to the exact
  * XML that writer produced for every value type. Deterministic: every
  * cell is a pure function of its row number. */
object WriterGoldenData {

  val Texts: Array[String] = Array("", "plain", "&<>\"'", "cr\rlf\ntab\t",
    "ctl\u0000\u0001\u001f\u007f", "éü 中文", "😀 𝄞",
    "lone \ud83d high", "lone \ude00 low", "nc￾￿", "<t>&amp;</t>",
    "trailing space ", "x")

  val Doubles: Array[Double] = Array(-0.0, 0.0, 1.0, -1.5, 0.1, 1e15, 1e16,
    123456789.125, -987654321.0, Double.MaxValue, Double.MinPositiveValue,
    1e-300, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  val Dates: Array[LocalDate] = Array(LocalDate.of(1899, 12, 30),
    LocalDate.of(1900, 1, 1), LocalDate.of(2024, 2, 29),
    LocalDate.of(1, 1, 1), LocalDate.of(9999, 12, 31))

  val Header: Seq[String] = Seq("long", "text", "double", "bool", "date",
    "sql_date", "int", "short", "byte", "float", "a&b <c>")

  /** Every value type and its edge values, one segment. Includes a
    * 705-cell row, whose last cells sit in three-letter columns. */
  def typesRows: Seq[Seq[Any]] = {
    val base = Seq[Seq[Any]](
      Seq(Long.MinValue, Long.MaxValue, 0L, -1L),
      Seq(Int.MinValue, Int.MaxValue, 0, -7),
      Seq(Short.MinValue, Short.MaxValue, Byte.MinValue, Byte.MaxValue),
      Seq(1.5f, -0.0f, Float.MaxValue, 0.1f, 3.0f),
      Seq(true, false, null, true),
      Seq(null, null, "after two nulls"),
      Seq("ends with null", null),
      Seq(),
      Dates.toSeq,
      Dates.toSeq.map(d => java.sql.Date.valueOf(d): Any),
      Doubles.toSeq,
      Texts.toSeq,
      Seq.fill(702)(null) ++ Seq("ZZ+1", 2.5, "AAC"))
    base ++ (0 until 40).map(manyRow)
  }

  /** Row `i` of the multi-segment sheet: rotates through every value
    * type, leaves cells empty, and widens every 997th row past column Z. */
  def manyRow(i: Int): Seq[Any] = {
    val cells = Seq[Any](
      i.toLong * 7919L - 1000000L,
      Texts(i % Texts.length) + " #" + i,
      if (i % 7 == 0) null else Doubles(i % Doubles.length) * (i % 5 + 1),
      i % 3 == 0,
      Dates(i % Dates.length).plusDays(i % 400L),
      java.sql.Date.valueOf(LocalDate.ofEpochDay(10000L + i % 9000)),
      i,
      (i % 30000).toShort,
      (i % 256 - 128).toByte,
      i / 7.0f,
      if (i % 11 == 0) null else "v" + (i % 101))
    if (i % 997 == 0) cells ++ (0 until 20).map(k => if (k % 2 == 0) k * 0.5 else "w" + k)
    else cells
  }

  /** Rows for at least five segments of [[XlsxWriter.SegmentBytes]]. */
  val ManyRows: Int = 26000

  final case class Case(name: String, header: Option[Seq[String]],
      rows: () => Iterator[Seq[Any]])

  val Cases: Seq[Case] = Seq(
    Case("empty", None, () => Iterator.empty),
    Case("header", Some(Header), () => Iterator.empty),
    Case("types", Some(Header), () => typesRows.iterator),
    Case("many", Some(Header), () => (0 until ManyRows).iterator.map(manyRow)))
}
