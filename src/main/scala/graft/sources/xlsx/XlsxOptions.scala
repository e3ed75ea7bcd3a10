package graft.sources.xlsx

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Option surface of the `xlsx` source, mirroring the reference's named
  * parameters (reference: src/sheetreader_extension.cpp:949-967 registers
  * sheet_name, sheet_index, threads, skip_rows, has_header, types,
  * force_types, coerce_to_string; `threads >= 2` engages intra-file
  * parallel parsing inside a partition — see [[ParallelSheetScanner]] —
  * on top of Spark's own partition-per-file parallelism).
  *
  * Both camelCase (Spark idiom) and snake_case (reference idiom) spellings
  * are accepted.
  */
final case class XlsxOptions(
    sheetName: Option[String],
    sheetIndex: Option[Int],
    hasHeader: Boolean, // force header; auto-detect still runs when false
    skipRows: Int,
    userTypes: Option[Seq[String]],
    forceTypes: Boolean,
    coerceToString: Boolean,
    writeHeader: Boolean,
    /** Scan every sheet of every file — one partition per (file, sheet) —
      * and expose the sheet as a `_sheet_name` column (beyond the
      * reference, which is single-sheet). */
    allSheets: Boolean = false,
    /** Intra-file parse workers per partition (the reference's `threads`
      * parameter, sheetreader_extension.cpp:36-53): >= 2 pipelines
      * inflate → chunk → N-way parse inside ONE file's scan. None = AUTO
      * (matching the reference's cores/2 default): planning engages
      * workers only when the scan has fewer partitions than executor
      * cores, sized proportional to each file's bytes — a single huge
      * workbook gets cores/2, a 32-file scan on 32 cores gets 1 per task,
      * and the one 10 GB straggler among small files gets the spare
      * cores. An explicit value applies to every partition as-is. */
    threads: Option[Int] = None,
    /** Per-task cap on decoded sharedStrings bytes — the one xlsx structure
      * whose memory is set by the FILE, not the scan; a pathological
      * workbook aborts with a clear error instead of OOMing the task. It
      * is enforced where the whole table is decoded: in the scan tasks, on
      * executors. Schema inference reads only a prefix of the table (at
      * most this budget, and no error when it stops there) unless a probe
      * row reaches past the prefix. */
    maxSharedStringsBytes: Long = SharedStringsScanner.DefaultMaxBytes,
    /** Streaming only: cap on files ADMITTED per micro-batch (Spark's file
      * source spelling). Without it a backfilled drop-box directory arrives
      * as one giant first batch; with it the backlog streams in bounded
      * batches. None = admit everything new each trigger. */
    maxFilesPerTrigger: Option[Int] = None,
    /** Parallel-parse chunk target in bytes (tuning knob; specs shrink it
      * to force row-boundary cuts on tiny fixtures so the chunk-dealing
      * paths — skipRows prefix, index stitching, ragged exemption — get
      * exercised at every cut). */
    chunkBytes: Int = ParallelSheetScanner.DefaultChunkBytes)
    extends Serializable {

  /** 1-based index to use when sheetName is absent (reference default 1). */
  def effectiveSheetIndex: Int = sheetIndex.getOrElse(1)
}

object XlsxOptions {
  private val allowedTypes = Set("STRING", "VARCHAR", "DOUBLE", "BOOLEAN", "DATE")

  /** Error message for a `sheetIndex` outside a workbook's `count` sheets
    * (1-based, as the user gave it), for every format. */
  def sheetIndexOutOfRange(index: Int, count: Int): String =
    s"sheet_index $index out of range 1..$count"

  /** Error message for a `sheetName` that names none of `have`, the
    * document's sheets in order, for every format. */
  def sheetNotFound(name: String, have: Seq[String]): String =
    s"Sheet '$name' not found; have ${have.mkString(", ")}"

  def from(map: CaseInsensitiveStringMap): XlsxOptions = {
    def str(keys: String*): Option[String] =
      keys.collectFirst { case k if map.containsKey(k) => map.get(k) }
    def bool(keys: String*): Boolean =
      str(keys: _*).exists(_.trim.equalsIgnoreCase("true"))

    val sheetName = str("sheetName", "sheet_name").filter(_.nonEmpty)
    val sheetIndex = str("sheetIndex", "sheet_index").map(_.trim.toInt)
    // Reference errors when both are given (sheetreader_extension.cpp:683).
    if (sheetName.isDefined && sheetIndex.isDefined)
      throw new IllegalArgumentException(
        "Sheet index & sheet name cannot be set at the same time.")
    val allSheets = bool("allSheets", "all_sheets")
    if (allSheets && (sheetName.isDefined || sheetIndex.isDefined))
      throw new IllegalArgumentException(
        "allSheets cannot be combined with sheet name or sheet index.")

    val userTypes = str("types").map { raw =>
      // "[DOUBLE,STRING,...]" or "DOUBLE,STRING,..."
      val body = raw.trim.stripPrefix("[").stripSuffix("]")
      val ts = body.split(",").map(_.trim.toUpperCase).toSeq.filter(_.nonEmpty)
      ts.foreach { t =>
        if (!allowedTypes.contains(t))
          throw new IllegalArgumentException(
            s"""Unsupported type "$t" for types definition""")
      }
      ts
    }

    XlsxOptions(
      sheetName = sheetName,
      sheetIndex = sheetIndex,
      hasHeader = bool("hasHeader", "has_header"),
      skipRows = str("skipRows", "skip_rows").map(_.trim.toInt).getOrElse(0),
      userTypes = userTypes,
      forceTypes = bool("forceTypes", "force_types"),
      coerceToString = bool("coerceToString", "coerce_to_string"),
      writeHeader = str("header").forall(_.trim.equalsIgnoreCase("true")),
      allSheets = allSheets,
      threads = str("threads").map(_.trim.toInt).filter(_ >= 1),
      maxSharedStringsBytes =
        str("maxSharedStringsBytes", "max_shared_strings_bytes")
          .map { raw =>
            val v = raw.trim.toLong
            // a non-positive value is a misconfiguration, not "no cap" —
            // silently substituting the default would abort scans the user
            // believes they un-capped
            if (v <= 0) throw new IllegalArgumentException(
              s"maxSharedStringsBytes must be positive, got $v " +
                "(use a large value to effectively disable the guard)")
            v
          }
          .getOrElse(SharedStringsScanner.DefaultMaxBytes),
      maxFilesPerTrigger =
        str("maxFilesPerTrigger", "max_files_per_trigger").map { raw =>
          val v = raw.trim.toInt
          if (v <= 0) throw new IllegalArgumentException(
            s"maxFilesPerTrigger must be positive, got $v")
          v
        },
      chunkBytes = str("chunkBytes", "chunk_bytes").map { raw =>
        val v = raw.trim.toInt
        if (v <= 0) throw new IllegalArgumentException(
          s"chunkBytes must be positive, got $v")
        v
      }.getOrElse(ParallelSheetScanner.DefaultChunkBytes))
  }
}
