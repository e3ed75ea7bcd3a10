package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Parquet table loaders for the driver-generated TPC-H-ish testdata.
  * One parquet file per table under the scale-factor directory.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema memo per table file (r17, opt guide §1.2/§6): schema
    * INFERENCE re-reads the parquet footer on the driver at every plan
    * build — measured ~70 ms per load (93 ms plan-only with inference vs
    * 22 ms with an explicit schema; OPTIMIZATION_r17.md §5), and the bench surface
    * performs ~600 loads per rep. The key includes the table file's
    * (path, length, mtime) fingerprint, so a REGENERATED file (or a spec
    * rewriting its fixture dir) re-infers instead of serving a stale
    * schema. Metadata-only: every query still reads the data in full. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(
      path + "@" + fingerprint(path),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    // raw long (spark.sql.legacy.parquet.nanosAsLong=true, set in
    // Verify/Bench/specs). Convert to a microsecond timestamp here so every
    // consumer sees a proper timestamp column.
    // Floor division via pmod: `ts div 1000` truncates toward zero, which
    // rounds pre-1970 nanos the wrong way.
    if (name == "events" && df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet reads as
    // TIMESTAMP_NTZ, which unix_micros/watermarks reject — and a mixed
    // NTZ/TimestampType surface (events.ts fixed, orders.o_orderdate not)
    // leaves every cross-table comparison at the mercy of implicit
    // coercion. Normalize EVERY NTZ column: the session tz is pinned UTC
    // everywhere (Verify/Bench/specs), so the cast preserves the instant
    // and the DuckDB oracle (which reads the same file naively) agrees.
    else {
      df.schema.fields.filter(_.dataType == TimestampNTZType)
        .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast("timestamp")))
    }
  }

  /** Size-gated pre-aggregate fan-out (r17 VERDICT #6; opt guide §2.6
    * idle capacity). The testdata tables are written as ONE parquet row
    * group each, so their scans run as ONE task and a compute-heavy
    * operator above (the profiler's 64 aggregate expressions) serializes
    * on a single core while the rest idle. Fan the rows out through a
    * round-robin exchange ONLY when
    *  (a) the scan has fewer input files than half the cores — i.e.
    *      parallelism is actually missing, not merely imperfect — AND
    *  (b) the whole input is small enough that one serial exchange of it
    *      is clearly cheaper than the serial compute it frees
    *      (< bytesPerCore × cores).
    * At 100 TB both gates fail (thousands of files, TB of bytes) and the
    * frame passes through untouched; the cheap-compute faces keep their
    * exchange-free plans (OPTIMIZATION_r17.md, round-robin fan-out: for
    * q01-class aggregates the exchange costs what the parallelism saves —
    * this helper is only for faces whose per-row compute dominates).
    * Driver-side file metadata only; no extra Spark job. Lengths come from the Hadoop FileSystem of
    * each file's scheme, so `s3a://` and `hdfs://` tables are measured
    * like local ones; a length that cannot be read fails the gate. */
  def fanOutSmallScan(df: DataFrame, bytesPerCore: Long = 8L << 20): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val files = try df.inputFiles catch { case _: Exception => Array.empty[String] }
    if (files.nonEmpty && files.length < cores / 2) {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val lens = files.map { u =>
        try {
          val p = new org.apache.hadoop.fs.Path(u)
          Some(p.getFileSystem(conf).getFileStatus(p).getLen)
        } catch { case _: Exception => None }
      }
      if (lens.forall(_.isDefined) &&
          lens.flatten.sum < bytesPerCore * cores.toLong) df.repartition(cores)
      else df
    } else df
  }

  /** Cheap content fingerprint of an sf dir: (path, length, mtime) of every
    * file under it, folded into one 64-bit hex string. Per-JVM memoization
    * keys append it so a REGENERATED testdata dir (same path, new bytes —
    * e.g. a harness re-run within one session) invalidates cached persisted
    * state instead of silently merging stale fixtures against fresh oracle
    * recomputes. Cost: a directory listing, no file reads. */
  def fingerprint(sfDir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Seq.empty)
          .flatMap(walk)
      else Seq(f)
    var h = 1125899906842597L
    walk(new java.io.File(sfDir)).foreach { f =>
      val s = f.getPath + ":" + f.length + ":" + f.lastModified
      var i = 0
      while (i < s.length) { h = h * 31 + s.charAt(i); i += 1 }
    }
    java.lang.Long.toHexString(h)
  }

  /** Register every table as a temp view so the same queries run via
    * `spark.sql` (SQL parity with the reference's DuckDB surface). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
