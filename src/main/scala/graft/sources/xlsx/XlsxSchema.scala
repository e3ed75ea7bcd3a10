package graft.sources.xlsx

import org.apache.spark.sql.types._

/** Schema-determination for one sheet, mirroring the reference's bind logic
  * (reference: src/sheetreader_extension.cpp:796-948):
  *
  *   - column types inferred from the first two rows after `skipRows`:
  *     STRING | DOUBLE | BOOLEAN | DATE are the only logical types;
  *   - header rule (:847): `hasHeader || (row1 all-string && row2 not
  *     all-string)` — and forcing hasHeader on a non-all-string first row is
  *     an error (:831);
  *   - with a header, types come from row 2 and names from row 1; without,
  *     types from row 1 and generated names `String0/Numeric1/Boolean2/Date3`
  *     keyed by inferred type + column index (:566-595);
  *   - user `types=[...]` override: must supply >= sheet-width entries; each
  *     must match the inferred type unless `forceTypes` or (STRING &&
  *     coerceToString); extra entries append `Column N` columns (:896-938);
  *   - a repeated column name becomes `name_1`, `name_2`, … (compared
  *     case-insensitively), so Spark can resolve every column.
  */
object XlsxSchema {

  /** Everything a partition reader needs to interpret the sheet. */
  final case class Resolved(
      schema: StructType,
      /** rows to drop from the top of the sheet: skipRows + detected header */
      dropRows: Int,
      /** width of the sheet (row 1); rows wider than this are an error */
      baseWidth: Int,
      coerceToString: Boolean)
      extends Serializable

  private def cellTypeName(c: XCell): String = c match {
    case _: XCell.XString => "STRING"
    case _: XCell.XNumber => "DOUBLE"
    case _: XCell.XBool   => "BOOLEAN"
    case _: XCell.XDate   => "DATE"
    // The reference errors on NONE/ERROR in the probe rows; we are lenient
    // and treat them as STRING so sparse sheets still get a schema.
    case _ => "STRING"
  }

  private def toDataType(name: String): DataType = name match {
    case "STRING" | "VARCHAR" => StringType
    case "DOUBLE"             => DoubleType
    case "BOOLEAN"            => BooleanType
    case "DATE"               => DateType
    case other => throw new IllegalArgumentException(s"Unsupported type $other")
  }

  private def generatedName(typeName: String, i: Int): String = typeName match {
    case "STRING" | "VARCHAR" => s"String$i"
    case "DOUBLE"             => s"Numeric$i"
    case "BOOLEAN"            => s"Boolean$i"
    case "DATE"               => s"Date$i"
  }

  /** Column names Spark can resolve: a later repeat of a name (compared
    * case-insensitively, as Spark's default resolver does) becomes
    * `name_1`, `name_2`, … — the first suffix no other column uses. */
  private def distinct(names: Seq[String]): Seq[String] = {
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val taken = scala.collection.mutable.Set(names.map(key): _*)
    val seen = scala.collection.mutable.Set[String]()
    names.map { n =>
      if (seen.add(key(n))) n
      else {
        val renamed = Iterator.from(1).map(k => s"${n}_$k")
          .find(c => !taken.contains(key(c))).get
        taken += key(renamed)
        renamed
      }
    }
  }

  private def allString(row: Array[XCell]): Boolean =
    row.nonEmpty && row.forall(_.isInstanceOf[XCell.XString])

  /** Probe the first two post-skip rows of the target sheet and resolve the
    * schema per the reference's rules. `targetOverride` points at a
    * specific worksheet part (the allSheets fan-out resolves each sheet's
    * own header/types).
    *
    * The probe rows resolve their shared strings against the table's
    * prefix ([[XlsxParser.Workbook.sharedStringsPrefix]]), never the whole
    * table, so neither the driver's schema inference nor a reader's own
    * probe waits on a full table decode. The result equals a whole-table
    * probe by construction: an index inside the prefix names the same
    * string, and one past it reads as an error cell — on which, unless
    * the prefix was the whole table, the probe runs again over
    * [[XlsxParser.Workbook.sharedStrings]].
    */
  def resolve(wb: XlsxParser.Workbook, opts: XlsxOptions,
              targetOverride: Option[String] = None): Resolved = {
    val path = targetOverride.getOrElse(
      wb.sheetPath(opts.sheetName, opts.effectiveSheetIndex))
    val (prefix, whole) = wb.sharedStringsPrefix
    val rows = probe(wb.rows(path, prefix), opts)
    fromProbe(
      if (whole || !rows.exists(_.contains(XCell.XError))) rows
      else probe(wb.rows(path, wb.sharedStrings), opts),
      opts)
  }

  /** The probe rule of every format: the first two rows after `skipRows`.
    * Closes `rows`. */
  def probe(rows: CellRowIterator, opts: XlsxOptions): Seq[Array[XCell]] =
    try rows.drop(opts.skipRows).take(2).map(_._2).toList
    finally rows.close()

  /** The rule core on already-probed post-skip rows — shared by the xlsx
    * path above and the ods source (same option surface, same inference
    * semantics over a different container format). */
  def fromProbe(probe: Seq[Array[XCell]], opts: XlsxOptions): Resolved = {
    if (probe.isEmpty)
      throw new IllegalArgumentException("Sheet appears to be empty")

    val row1 = probe(0)
    val row2 = if (probe.length > 1) probe(1) else Array.empty[XCell]
    val width = row1.length
    val row1Types = row1.map(cellTypeName)
    val row1AllString = allString(row1)

    if (opts.hasHeader && !row1AllString)
      throw new IllegalArgumentException(
        "First row must contain only strings when hasHeader is set to true")

    // hasHeader honors the header even on a header-only sheet (0 data
    // rows, all-STRING types since no data row exists to infer from);
    // auto-detect additionally needs a non-all-string second row.
    val headerDetected =
      opts.hasHeader || (row1AllString && row2.nonEmpty && !allString(row2))

    val (typeNames, names) =
      if (headerDetected) {
        // Types from row 2 (padded to row-1 width), names from row-1 strings.
        val t = (0 until width).map { i =>
          if (i < row2.length) cellTypeName(row2(i)) else "STRING"
        }
        val n = row1.map { case XCell.XString(s) => s; case _ => "" }.toSeq
        (t, n)
      } else {
        (row1Types.toSeq, row1Types.zipWithIndex.map { case (t, i) => generatedName(t, i) }.toSeq)
      }

    val (finalTypes, finalNames) = opts.userTypes match {
      case Some(user) =>
        if (user.size < width)
          throw new IllegalArgumentException(
            "Number of user defined types is less than number of columns in sheet")
        user.zipWithIndex.foreach { case (ut, i) =>
          if (i < width) {
            val inferred = typeNames(i)
            val utNorm = if (ut == "VARCHAR") "STRING" else ut
            val infNorm = if (inferred == "VARCHAR") "STRING" else inferred
            if (!opts.forceTypes && utNorm != infNorm &&
                !(utNorm == "STRING" && opts.coerceToString))
              throw new IllegalArgumentException(
                s"User defined type for column with index $i is not compatible with actual type")
          }
        }
        val extraNames = (width until user.size).map(i => s"Column $i")
        (user, names ++ extraNames)
      case None => (typeNames, names)
    }

    val fields = distinct(finalNames).zip(finalTypes).map { case (n, t) =>
      StructField(n, toDataType(t), nullable = true)
    }
    Resolved(
      schema = StructType(fields.toArray),
      dropRows = opts.skipRows + (if (headerDetected) 1 else 0),
      baseWidth = width,
      coerceToString = opts.coerceToString)
  }
}
