package graft.queries

import graft.Tables
import graft.functions.GraftFunctions.sum_dec_exact
import graft.operators.{AsofJoin, Ranked, Resample}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Beyond-inventory extensions (SURVEY.md §2.4): operators a production
  * training-data pipeline needs that neither the reference's surface nor
  * the base inventory covers — as-of join, pivot, exact percentiles,
  * deterministic sampling, text normalization. All oracle-checked.
  */
object ExtendedQueries {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** (table, column) list the q_entropy face profiles — one source of
    * truth for the Spark side AND the generated oracle SQL. */
  private val entropySpecs = Seq(
    ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"), ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"), ("documents", "source"),
    ("documents", "lang"))


  /** Memoize keyed on dir PLUS a cheap data fingerprint
    * ([[Tables.fingerprint]]): a regenerated testdata dir within one JVM
    * session rebuilds the fixture instead of serving stale persisted state
    * against a fresh oracle recompute (r10 ADVICE). */
  private def memo[V](cache: java.util.concurrent.ConcurrentHashMap[String, V],
      dir: String)(f: String => V): V =
    cache.computeIfAbsent(dir + "@" + Tables.fingerprint(dir), _ => f(dir))

  /** Build `body` with the Ranked small gate disabled, so the global-order
    * machinery takes its RANGED (multi-partition) plan even for frames
    * under the 8 MiB default (r17 VERDICT #4: the single-task WindowExec
    * stage owned 0.7–1.3 s of the window-family faces at sf0.1 —
    * OverheadProbe stage table — while 31 cores idled). The gate decision
    * happens at face BUILD time inside the Ranked entry points, so
    * scoping the conf around construction is complete and the session
    * value is restored before the timed noop runs. Output bit-identical
    * by the Ranked machinery's spec (and oracle-pinned per face); the
    * ranged plan is also the one a 100 TB input takes, so local and
    * production shapes now agree. */
  private def withRangedWindows[T](s: SparkSession)(body: => T): T = {
    val key = graft.operators.Ranked.SmallBytesKey
    val old = try Some(s.conf.get(key)) catch { case _: Exception => None }
    s.conf.set(key, "0")
    try body finally old match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Memoized BUCKETED orders/customer tables per sf dir — the
    * pre-partitioned layout repeated joins amortize their shuffles
    * through. Built once (the ingest-time cost); the co-located join face
    * reads both sides pre-bucketed on the join key. */
  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    memo(bucketedCache, dir) { d =>
      val hex = java.lang.Integer.toHexString(d.hashCode)
      val ot = s"graft_bkt_orders_$hex"
      val ct = s"graft_bkt_customer_$hex"
      val root = graft.Scratch.dir("graft_bkt_")
      Tables.load(s, d, "orders")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", root.resolve("o").toString)
        .mode("overwrite").saveAsTable(ot)
      Tables.load(s, d, "customer")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", root.resolve("c").toString)
        .mode("overwrite").saveAsTable(ct)
      (ot, ct)
    }

  /** Memoized layout fixtures for the schema-evolution and
    * partition-pruning faces: two orders snapshots with drifted schemas,
    * and events written hive-partitioned by event_type. Written once per
    * sf dir. */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def layoutDirs(s: SparkSession, dir: String): (String, String) =
    memo(layoutCache, dir) { d =>
      val root = graft.Scratch.dir("graft_layout_")
      val evo = root.resolve("evolved").toString
      val part = root.resolve("partitioned").toString
      val o = Tables.load(s, d, "orders")
      // v1: the original 3-column schema; v2 adds a derived column — the
      // live-pipeline reality (a field added mid-corpus)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$evo/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$evo/v2")
      Tables.load(s, d, "events")
        .withColumn("value", col("value").cast("double"))
        .write.partitionBy("event_type").mode("overwrite").parquet(part)
      (evo, part)
    }

  /** Memoized compaction fixture: orders fragmented into 64 tiny files,
    * then compacted — the small-files maintenance pass. Returns the
    * compacted path. */
  private val compactCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def compactedOrders(s: SparkSession, dir: String): String =
    memo(compactCache, dir) { d =>
      val root = graft.Scratch.dir("graft_compact_")
      val frag = root.resolve("frag").toString
      val out = root.resolve("compacted").toString
      Tables.load(s, d, "orders").repartition(64)
        .write.mode("overwrite").parquet(frag)
      graft.operators.Layout.compact(s, frag, out, targetBytes = 512L << 20)
      out
    }

  /** EXPORT DATABASE artifact for the q_export_import face, at a FIXED
    * path (the static oracle runs the genuine IMPORT DATABASE on it).
    * Three tables in DuckDB's single-file compat layout; rewritten when
    * the sfDir changes. */
  private val exportDbDir = "/tmp/graft_export_spark"
  private def exportDbFixture(s: SparkSession, sfDir: String): String =
    // OS-level lock, not a JVM memo: a concurrent process may race the
    // fixed path for a different sfDir (r15 review — FixtureLock).
    // v2: load.sql switched to RELATIVE COPY paths (r16) — the version
    // bump forces stale absolute-path artifacts on disk to rebuild.
    FixtureLock.ensure(java.nio.file.Paths.get(exportDbDir), sfDir, "v2") {
      graft.operators.Migrate.exportDatabase(s, Seq(
        "nation_t" -> Tables.load(s, sfDir, "nation"),
        "region_t" -> Tables.load(s, sfDir, "region"),
        "supplier_t" -> Tables.load(s, sfDir, "supplier")), exportDbDir)
    }.toString

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.12: EXPORT / IMPORT DATABASE (r14 VERDICT missing #3) — the
    // whole-schema migration verb: operators.Migrate writes the three
    // tables + schema.sql + load.sql in DuckDB's own EXPORT DATABASE
    // artifact shape, Spark's importDatabase re-creates them from
    // exactly those artifacts (declared-schema-enforced reads), and the
    // face rolls each re-imported table into the order-independent
    // digest of q_table_checksum. The ORACLE runs DuckDB's genuine
    // IMPORT DATABASE on the same directory — cross-engine artifact
    // compatibility is the thing certified, not just a self-roundtrip.
    "q_export_import" -> ((s, dir) => {
      val imp = graft.operators.Migrate
        .importDatabase(s, exportDbFixture(s, dir)).toMap
      def digest(df: DataFrame, tbl: String, rowStr: org.apache.spark.sql.Column) =
        df.select(conv(substring(md5(rowStr), 1, 8), 16, 10)
            .cast("long").as("d"))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("d")).cast("long").as("checksum"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("checksum"))
      digest(imp("nation_t"), "nation_t",
        concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
        .unionByName(digest(imp("region_t"), "region_t",
          concat_ws("|", col("r_regionkey"), col("r_name"))))
        .unionByName(digest(imp("supplier_t"), "supplier_t",
          concat_ws("|", col("s_suppkey"), col("s_name"), col("s_nationkey"),
            round(col("s_acctbal") * 100).cast("long"))))
    }),

    // §2.12: schema evolution — two parquet snapshots with drifted
    // schemas (v2 adds a column) read as ONE table via mergeSchema;
    // missing fields null-fill. DuckDB twin: read_parquet
    // union_by_name=true over the same files.
    "q_schema_evolution" -> ((s, dir) => {
      val (evo, _) = layoutDirs(s, dir)
      s.read.option("mergeSchema", "true")
        .parquet(s"$evo/v1", s"$evo/v2")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
            .cast("long").as("n_v1"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
    }),

    // §2.12: hive-style partition pruning — the OTHER half of the layout
    // story next to z-order's min/max stats: events written
    // partitionBy(event_type), a filtered read shows PartitionFilters in
    // the plan (LayoutSpec pins that) and the answer matches the plain
    // table. Directory-encoded columns rebuild through the scan.
    "q_partition_prune" -> ((s, dir) => {
      val (_, part) = layoutDirs(s, dir)
      s.read.parquet(part)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total"))
    }),

    // §2.12: small-file compaction — 64 fragment files coalesce (no
    // shuffle, order-preserving concatenation) into size-targeted files;
    // the face aggregates over the COMPACTED copy, so the oracle (plain
    // orders SQL) proves compaction is content-preserving. File-count
    // mechanics are LayoutSpec's pin.
    "q_compact" -> ((s, dir) =>
      s.read.parquet(compactedOrders(s, dir))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))),

    // §2.12: IQR outlier fences — the classic data-cleaning pass: per
    // group, q1/q3 via the scale-safe exact percentiles (#147 machinery,
    // bit-identical to quantile_cont), fences at 1.5×IQR, rows counted
    // against them. Fence arithmetic is the same IEEE ops on the same
    // doubles both engines produced, so boundary rows can't flip.
    "q_outliers" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val fences = graft.operators.Profiler.exactPercentiles(
        li, "l_returnflag", "l_extendedprice",
        Seq("q1" -> 0.25, "q3" -> 0.75))
        .select(col("l_returnflag"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      // r18: fan out the corpus leg of the fence join (1.1 s CPU in the
      // scan's 3 tasks; conditional-count aggregate, order-independent)
      Tables.fanOutSmallScan(li).join(broadcast(fences), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
            .cast("long").as("n_low"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .cast("long").as("n_high"))
    }),

    // §2.12: salted skew join as a DRIVER-VERIFIED face (the operator was
    // spec-verified only, #61): every doc joins its source's stats through
    // the salted layout — one hot key's rows spread over 8 salts — and the
    // result must equal the plain join (the oracle IS the plain join; only
    // the shuffle layout differs). share_pct is an integer floor division.
    "q_skew_join" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val dim = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"),
          sum(col("n_chars")).cast("long").as("src_chars"))
      graft.operators.SkewJoin
        .saltedInnerJoin(d, dim, key = "source", saltBy = "doc_id", salts = 8)
        .select(col("doc_id"), col("source"), col("n_src"),
          expr("(n_chars * 100) div src_chars").as("share_pct"))
    }),

    // §2.12: bucketed co-located join as a DRIVER-VERIFIED face (#62 was
    // spec-verified only): both sides read pre-bucketed on the join key —
    // the repeated-join posture — and the answer equals the plain join.
    "q_bucketed_join" -> ((s, dir) => {
      val (ot, ct) = bucketedTables(s, dir)
      s.table(ct).join(s.table(ot), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
    }),
    // §2.4 #50: as-of join (union-sort, one shuffle — no range-join blowup).
    // Latest order (by orderdate) per user at each event's time. Orders are
    // deduped to one per (custkey, date) so tie semantics are deterministic
    // in both engines.
    "q_asof_join" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val orders = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsofJoin.asof(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightSeq = "o_orderkey", rightVals = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey").as("last_order"))
    }),

    // §2.10: trailing-window anomaly flags — per-user daily spend vs the
    // trailing 7 OBSERVED days: a day is anomalous when today's total
    // exceeds 2× the trailing mean. All arithmetic in integer CENTS
    // (round(value·100) is one shared IEEE multiply+round) and the
    // threshold compared as 7·today > 2·trail7 — no float mean can flip a
    // boundary cross-engine. One (user, day) aggregate + one user window.
    "q_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(round(col("value") * lit(100)).cast("long")).as("day_cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("trail7_cents", sum(col("day_cents")).over(w))
        .withColumn("n_trail", count(col("day_cents")).over(w))
        .filter(col("n_trail") >= 3)
        .select(col("user_id"), col("day"), col("day_cents"),
          col("trail7_cents"), col("n_trail"),
          (col("day_cents") * col("n_trail") > col("trail7_cents") * 2L)
            .as("flagged"))
    }),

    // §2.8: trailing ROLLING OLS SLOPE — the trend detector beside
    // q_anomaly's level detector and q_ewma's smoother: the least-squares
    // slope of daily order volume over the trailing 8-day window. The
    // corpus collapses to the calendar-bounded daily table FIRST
    // (q_cusum posture); day index t = days-from-start keeps every
    // window moment (n, Σt, Σy, Σt², Σty) a BIGINT window sum, the slope
    // numerator/denominator stay BIGINT-exact, and the ONE double
    // division happens last — bit-exact cross-engine. Denominator > 0
    // whenever the window holds ≥ 2 distinct days (always, after the
    // n_trail ≥ 3 gate: days are distinct by construction).
    "q_rolling_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val w8 = Window.orderBy(col("day")).rowsBetween(-7, 0)
      Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("t", datediff(col("day"), min(col("day")).over(wAll))
          .cast("long"))
        .withColumn("n", count(lit(1)).over(w8))
        .withColumn("st", sum(col("t")).over(w8))
        .withColumn("sy", sum(col("cnt")).over(w8))
        .withColumn("stt", sum(col("t") * col("t")).over(w8))
        .withColumn("sty", sum(col("t") * col("cnt")).over(w8))
        .filter(col("n") >= 3)
        .select(col("day"), col("cnt"), col("n").as("n_trail"),
          (col("n") * col("sty") - col("st") * col("sy")).as("slope_num"),
          (col("n") * col("stt") - col("st") * col("st")).as("slope_den"))
        .withColumn("slope",
          col("slope_num").cast("double") / col("slope_den").cast("double"))
    }),

    // trailing dyadic EWMA smoothing per user stream: α = 1/2 over the
    // last ≤ 8 events, emitted as the exact integer fraction
    // num/den = (Σ cents_i · 2^(i-1)) / (2^m − 1) with the newest event
    // weighted 2^(m−1) — a float-recursive EWMA has no cross-engine twin
    // (accumulation order + underflow), a bounded dyadic one is pure
    // int64 arithmetic both engines compute bit-identically. One user
    // window, deterministic (ts, event_id) order; the trailing list is
    // ≤ 8 longs per row, so the window state is bounded at any scale.
    // §2.15: GLOBAL series delta — previous value/timestamp over ONE
    // corpus-wide order (sensor/tick data has no partition key). Stock
    // Spark plans `lag(x) OVER (ORDER BY ...)` into a single task; this
    // face runs Ranked.withGlobalLag (range shuffle + per-partition lag +
    // a 2·nPart-row broadcast boundary fix). One struct-valued lag carries
    // both columns in a single pass. The (ts, event_id) order is total.
    "q_series_delta" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"),
          round(col("value") * lit(100)).cast("long").as("cents"))
      val sort = Seq(col("ts").asc, col("event_id").asc)
      Ranked.withGlobalLag(e, "prev",
          struct(col("cents").as("c"), col("ts").as("t")), 1,
          expr("CAST(NULL AS STRUCT<c: BIGINT, t: TIMESTAMP>)"), sort)
        .select(col("event_id"), col("cents"),
          (col("cents") - col("prev.c")).as("delta"),
          (unix_micros(col("ts")) - unix_micros(col("prev.t")))
            .as("gap_us"))
    }),

    "q_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-7, 0)
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * lit(100)).cast("long").as("cents"))
        .withColumn("l", collect_list(col("cents")).over(w))
        .select(col("event_id"), col("user_id"), col("cents"),
          expr("aggregate(zip_with(l, sequence(1, size(l)), " +
            "(x, i) -> x * shiftleft(CAST(1 AS BIGINT), i - 1)), " +
            "CAST(0 AS BIGINT), (a, x) -> a + x)").as("ewma_num"),
          expr("shiftleft(CAST(1 AS BIGINT), size(l)) - 1").as("ewma_den"))
    }),

    // Trailing ROLLING MEDIAN — the robust counterpart of q_ewma: the
    // median of the last ≤ 7 events per user stream, emitted in
    // HALF-CENTS (med2 = lower middle + upper middle of the sorted
    // trail — 2×middle when the count is odd) so even-count
    // interpolation never leaves int64. Window state is ≤ 7 longs per
    // row; sort_array of ≤ 7 elements is O(1) per row inside codegen.
    "q_rolling_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * lit(100)).cast("long").as("cents"))
        .withColumn("l", sort_array(collect_list(col("cents")).over(w)))
        .select(col("event_id"), col("user_id"), col("cents"),
          size(col("l")).cast("long").as("n_win"),
          (element_at(col("l"), expr("CAST((size(l) + 1) div 2 AS INT)")) +
            element_at(col("l"), expr("CAST(size(l) div 2 + 1 AS INT)")))
            .as("med2"))
    }),

    // §2.10: time-series resample + forward fill — irregular events to a
    // dense per-user daily grid; gap days forward-fill the most recent
    // value. One (key, day) aggregate + bounded day-span explode + one
    // key window; deterministic cells (max_by(ts, event_id) last value,
    // decimal day sums).
    "q_resample" -> ((s, dir) =>
      Resample.daily(Tables.load(s, dir, "events"))),

    // §2.10: FORWARD as-of with tolerance (the pandas merge_asof surface):
    // each event attaches the user's NEXT order at-or-after the event, but
    // only if it lands within 30 days — otherwise the match nulls out.
    // Same one-key-shuffle union-sort pass as the backward face, with the
    // window ordered time-DESCENDING. Right side pre-aggregated unique per
    // (key, time), so the tie-break can't matter cross-engine.
    "q_asof_fwd" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val orders = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsofJoin.asof(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightSeq = "o_orderkey", rightVals = Seq("o_orderkey"),
        forward = true,
        tolerance = (lt, rt) => rt <= lt + expr("INTERVAL 30 DAYS"))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey").as("next_order"))
    }),

    // §2.13: NEAREST as-of — each event attaches the user's closest order
    // in EITHER direction (pandas merge_asof direction='nearest'; ties
    // keep the backward match). Fused into one key-shuffle: the tagged
    // union carries twice (ascending + descending windows) under a single
    // exchange, instead of composing two full as-of passes. Distances
    // compare in exact microseconds, floored identically on both engines.
    "q_asof_nearest" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val orders = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsofJoin.asofNearest(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightSeq = "o_orderkey", rightVals = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey").as("near_order"))
    }),

    // §2.8: in-flight pipeline QA via the Observation API (CollectMetrics):
    // counters computed ON the rows as they stream through a filter — at
    // 100 TB this replaces a SECOND full scan for "how many docs did the
    // filter drop". The face runs the instrumented pipeline once through
    // the noop sink and returns the observed metrics as its (1-row)
    // result; the oracle recomputes the same aggregates declaratively.
    "q_observe" -> ((s, dir) => {
      val obs = org.apache.spark.sql.Observation()
      val pipeline = Tables.load(s, dir, "documents")
        .observe(obs,
          count(lit(1)).cast("long").as("n_in"),
          sum(when(col("n_chars") < 200, 1L).otherwise(0L)).cast("long").as("n_short"),
          max(col("n_chars")).cast("long").as("max_chars"))
        .filter(col("n_chars") >= 200)
      pipeline.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_in").asInstanceOf[Long], m("n_short").asInstanceOf[Long],
        m("max_chars").asInstanceOf[Long]))
        .toDF("n_in", "n_short", "max_chars")
    }),

    // §2.4 #51: pivot (wide conditional aggregation)
    "q_pivot" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(dec2(col("l_quantity"))).cast("double"))),

    // DISTINCT ON — the Postgres/DuckDB idiom for "one deterministic row
    // per key" (here: each user's latest event by (ts, event_id)). Spark
    // spells it row_number = 1; DuckDB's oracle uses its native
    // DISTINCT ON with a matching ORDER BY, so the green row certifies
    // the two spellings agree including the tie-break.
    "q_distinct_on" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
    }),

    // the SQL PIVOT clause spelling (Spark has had it since 2.4) — the
    // q_pivot DataFrame face's statement-level twin; the oracle uses
    // conditional aggregates (DuckDB's PIVOT syntax differs, the VALUES
    // are what must match)
    "q_pivot_sql" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""
        SELECT * FROM (
          SELECT l_linestatus, l_returnflag,
                 CAST(l_quantity AS DECIMAL(18,2)) AS qty
          FROM lineitem)
        PIVOT (CAST(sum(qty) AS DOUBLE) FOR l_returnflag IN ('A', 'N', 'R'))
      """)
    }),

    // MULTI-AGGREGATE pivot — each pivot value fans out to (count, qty)
    // column PAIRS; still ONE pass / one exchange (the pivot compiles to
    // conditional aggregates). Named aggs give deterministic A_n/A_qty
    // column names the oracle mirrors with FILTER columns.
    "q_pivot_multi" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))),

    // Aggregate FILTER clause + the boolean/conditional aggregate family
    // through spark.sql — the other day-one migration sugar (DuckDB and
    // Spark both speak FILTER (WHERE ...) and count_if/bool_and/bool_or).
    // All conditions integer/boolean-exact; one map-side-combinable pass.
    "q_agg_filters" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql("""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
               count_if(l_discount > 0.05) AS n_discounted,
               bool_and(l_extendedprice > 0) AS all_positive,
               bool_or(l_quantity >= 50) AS any_max_qty,
               CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS linenum_sum
        FROM lineitem
        GROUP BY l_returnflag
      """)
    }),

    // §2.4 #52: exact percentiles — sort-based rank interpolation (one
    // spillable sort per group, bounded memory), NOT the value-buffering
    // `percentile` aggregate whose per-group buffer holds every value
    "q_percentiles" -> ((s, dir) =>
      graft.operators.Profiler.exactPercentiles(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq("p50" -> 0.5, "p90" -> 0.9))),

    // §2.4 #53: deterministic content-hash sampling (the reproducible way
    // to subsample a 100 TB corpus — no RNG state, stable across runs and
    // engines, stratifiable by any grouping)
    "q_sample_hash" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sampled_chars"))),

    // §2.4 #54: text normalization (lowercase, strip punctuation, collapse
    // whitespace) — the canonicalization step before exact dedup
    "txt_normalize" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextOps.normalize(col("text")).as("norm"))),

    // §2.12: Unicode NFC canonicalization — combining-mark sequences and
    // their precomposed chars hash differently, so dedup misses
    // visually-identical text without this pass. Native codegen expression
    // (Spark has no normalizer builtin); DuckDB's nfc_normalize is the
    // full cross-engine oracle; md5 of the normalized form pins content
    // equality even where the corpus is already NFC.
    "txt_nfc" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(graft.functions.GraftFunctions.nfc_normalize(col("text")))
            .as("nfc_len"),
          (graft.functions.GraftFunctions.nfc_normalize(col("text"))
            =!= col("text")).as("changed"),
          md5(graft.functions.GraftFunctions.nfc_normalize(col("text")))
            .as("h"))),

    // §2.4 #56: the whole corpus pipeline composed end-to-end — normalize,
    // quality-filter, exact-dedup on the canonical form, deterministic
    // subsample, per-source accounting. One map pass + one shuffle for the
    // dedup + one for the final rollup; the shape a 100 TB pre-training
    // cleanup job actually runs.
    "pipeline_corpus" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val norm = docs.select(col("doc_id"), col("source"), col("n_chars"),
        graft.operators.TextOps.normalize(col("text")).as("norm"))
      val filtered = norm.filter(length(col("norm")) >= 50)
      // dedup shuffles the 16-byte binary digest; the sample filter works
      // on the re-hexed form (lower(hex(h)) == md5(norm)), so the sampled
      // set — and the oracle — are unchanged
      val deduped = filtered
        .groupBy(unhex(md5(col("norm"))).as("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("source"), col("doc_id")).as("source"),
          min_by(col("n_chars"), col("doc_id")).as("n_chars"))
      val sampled = deduped.filter(substring(lower(hex(col("h"))), 1, 1) < "c")
      sampled.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
    }),

    // §2.4 #57: RANGE window frame — trailing 1-hour sum per user
    "q_window_range" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0)
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          sum(col("value").cast(DecimalType(18, 4))).over(w)
            .cast("double").as("hr_sum"))
    }),

    // §2.4 #58: CUBE grouping sets
    // r18: fanOutSmallScan — the 4x Expand + partial cube aggregate ran in
    // the scan's 3 tasks (OverheadProbe: 0.94 s CPU); order-independent.
    "q_cube" -> ((s, dir) =>
      Tables.fanOutSmallScan(Tables.load(s, dir, "lineitem"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))),

    // §2.4 #59: date part extraction + arithmetic
    "q_date_funcs" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"))),

    // §2.14: INTERVAL / calendar arithmetic — the month-granular family
    // q_date_funcs' day arithmetic doesn't cover: elapsed-month index
    // (spelled as explicit year/month integer arithmetic — Spark's
    // months_between is a FRACTIONAL double under a 31-day convention
    // with no DuckDB twin, so the exact spelling is the portable one),
    // add_months (both engines clamp a day-of-month overflow to the
    // month's last day), last_day, month rollover via date_trunc +
    // add_months, and exact microseconds-into-month. Calendar edges ride
    // the engines' shared proleptic Gregorian calendar; everything
    // compares as strings or int64.
    "q_interval_funcs" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          ((year(col("o_orderdate")) - lit(1995)) * 12 +
            (month(col("o_orderdate")) - lit(1))).cast("long")
            .as("months_since"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd")
            .as("plus3m"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
            .as("month_end"),
          date_format(add_months(date_trunc("month", col("o_orderdate")), 1),
            "yyyy-MM-dd").as("next_month"),
          (unix_micros(col("o_orderdate")) -
            unix_micros(date_trunc("month", col("o_orderdate"))))
            .as("us_into_month"))),

    // §2.4 #60: approximate distinct counts (HyperLogLog++) — the sketch
    // that replaces exact countDistinct at 100 TB (mergeable, fixed-size
    // state, no huge shuffle of distinct values). This is the BENCH face:
    // sketch only — no exact countDistinct, no Expand, so the bench line
    // times exactly the plan a 100 TB user would run. Sketch values are
    // engine-specific → rows-only driver check; accuracy is pinned by
    // (a) the ApproxAndBucketingSpec rel-error bound and (b) the
    // q_approx_distinct_check oracle face below.
    "q_approx_distinct" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))),

    // CHECK face (correctness-only; Bench skips *_check keys): sketch +
    // exact + 5% bound boolean. Each engine checks ITS OWN sketch against
    // ITS OWN exact count — hash-equal iff both sketches are sane.
    "q_approx_distinct_check" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("ao") - col("exact_orders")) <= col("exact_orders") * 0.05)
            .as("orders_ok"))),

    // EXACT distinct at scale without the sketch's error bar AND without
    // countDistinct's per-value Expand+reshuffle: the bitmap-index trick
    // (Doris/ClickHouse bitmap aggregates) on Spark primitives — bucket
    // the key space into 64-wide ranges, OR per-bucket bit masks (the
    // partial aggregate collapses duplicate keys map-side, so the shuffle
    // moves ≤ one long per occupied 64-key range, however many duplicate
    // rows exist), then popcount-sum the masks. Mergeable like a sketch
    // (bit_or is associative), exact like countDistinct. The oracle
    // computes the same counts via DuckDB's own count(DISTINCT) — an
    // INDEPENDENT method certifying the bitmap path end-to-end.
    "q_bitmap_distinct" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), expr("l_orderkey div 64").as("bucket"))
        .agg(expr(
          "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(l_orderkey % 64 AS INT)))")
          .as("mask"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n_buckets"),
          sum(expr("bit_count(mask)")).cast("long").as("n_distinct"))),

    // §2.8: PERSISTABLE mergeable sketches — HLL sketch per month
    // partition, then a sketch UNION to the global estimate: the
    // incremental-maintenance posture at 100 TB (daily partitions keep
    // their sketch; the corpus-wide distinct count is a union over stored
    // binaries, never a rescan). BENCH face is sketch-only (the exact
    // rescan is precisely what the sketches exist to avoid — same split
    // as q_approx_distinct); rows-only driver check, accuracy certified
    // by the *_check twin below every round
    "q_sketch_union" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).as("__m"))
        .agg(hll_sketch_agg(col("l_orderkey")).as("__sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("__sk")))
          .cast("long").as("n_est"))),

    // CHECK face: HLL register-max merge is associative and
    // order-independent, so the estimate is deterministic; each engine
    // checks ITS OWN estimate against ITS OWN exact count (DuckDB
    // hard-codes the boolean, so a drifting sketch hash-fails the round)
    "q_sketch_union_check" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val est = li
        .groupBy(date_trunc("month", col("l_shipdate")).as("__m"))
        .agg(hll_sketch_agg(col("l_orderkey")).as("__sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("v"))
        .select(col("v").cast("double").as("v"), lit("est").as("k"))
      val exact = li
        .agg(countDistinct(col("l_orderkey")).as("v"))
        .select(col("v").cast("double").as("v"), lit("exact").as("k"))
      // tagged union, not a join: two 1-row frames joined would plan the
      // cartesian the audit bans
      est.unionByName(exact)
        .agg(
          max(when(col("k") === "exact", col("v"))).cast("long").as("n_exact"),
          (abs(max(when(col("k") === "est", col("v"))) -
            max(when(col("k") === "exact", col("v")))) <=
            max(when(col("k") === "exact", col("v"))) * 0.05).as("sketch_ok"))
    }),

    // §2.4 #68: approximate percentiles (mergeable quantile sketch) — what
    // replaces exact sort-based percentiles at 100 TB. BENCH face: sketch
    // only (array-percentile: one sketch pass total, not one sort per
    // quantile); rows-only driver check, accuracy pinned by the spec and
    // the *_check oracle face.
    "q_approx_percentile" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").as("ap"))
        .select(col("l_returnflag"),
          element_at(col("ap"), 1).as("p50"),
          element_at(col("ap"), 2).as("p90"))),

    // CHECK face: engine-own sketch vs engine-own exact quantile within 5%
    // relative error, hash-compared as booleans.
    "q_approx_percentile_check" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)").as("ap"),
          expr("percentile(l_extendedprice, array(0.5, 0.9))").as("ex"))
        .select(col("l_returnflag"),
          (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1))
            <= element_at(col("ex"), 1) * 0.05).as("p50_ok"),
          (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2))
            <= element_at(col("ex"), 2) * 0.05).as("p90_ok"))),

    // §2.4: the full-schema profiler — every column of lineitem (nulls,
    // ranges, sums, means) in ONE map-side-combinable aggregate job.
    // r18: fanOutSmallScan — 64 aggregate expressions over a single-row-
    // group scan left one task owning every row (r17's top untouched
    // face); the gated round-robin exchange engages only when the scan is
    // both small and under-parallel, so the 100 TB plan is unchanged.
    "q_profile_full" -> ((s, dir) =>
      graft.operators.Profiler.profile(
        Tables.fanOutSmallScan(Tables.load(s, dir, "lineitem")))),

    // §2.16: SUMMARIZE translation — DuckDB's one-keyword table profile
    // (r13 VERDICT "What's missing" #3). The deep exact profiler exists
    // above; this face pins the MIGRATION shape: one row per column with
    // DuckDB's own column_type names and SUMMARIZE's deterministic
    // columns (min/max rendered as VARCHAR, count, null_percentage to
    // 2 dp). approx_unique/avg/std/q25-75 are approximate or
    // representation-unstable cross-engine and stay with q_profile_full's
    // exact variants. Nulls are PLANTED (two CASE columns) so the
    // null_percentage arithmetic is actually exercised, not just 0.00.
    // One aggregate pass; the per-column rows explode from an
    // array-of-structs, the Profiler idiom.
    "q_summarize" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("source"),
        when(col("doc_id") % 7 =!= 0, col("lang")).as("lang7"),
        when(col("doc_id") % 3 =!= 0, col("n_chars").cast("long")).as("nc3"))
      val duckType = Map("bigint" -> "BIGINT", "string" -> "VARCHAR",
        "int" -> "INTEGER", "double" -> "DOUBLE", "boolean" -> "BOOLEAN")
      val fields = d.schema.fields.toSeq
      val aggs = fields.flatMap { f => Seq(
        min(col(f.name)).cast("string").as(s"__mn_${f.name}"),
        max(col(f.name)).cast("string").as(s"__mx_${f.name}"),
        count(col(f.name)).as(s"__c_${f.name}")) } :+
        count(lit(1)).as("__n")
      val agg = d.agg(aggs.head, aggs.tail: _*)
      val rows = fields.map { f =>
        struct(lit(f.name).as("column_name"),
          lit(duckType(f.dataType.simpleString)).as("column_type"),
          col(s"__mn_${f.name}").as("min"),
          col(s"__mx_${f.name}").as("max"),
          col("__n").as("count"),
          round((col("__n") - col(s"__c_${f.name}")) * 100.0 / col("__n"), 2)
            .as("null_percentage"))
      }
      agg.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
    }),

    // §2.4: PRAGMA table_info ↔ Spark schema rendering — the first
    // catalog call a migrating user's tooling makes (column ids, names,
    // DuckDB-native type names, nullability). Pure metadata: the Spark
    // side renders df.schema — zero data scanned — while the oracle runs
    // the genuine pragma over the same parquet views; the nested
    // FLOAT[] spelling exercises the list-type mapping q_summarize's
    // scalar table never hits.
    "q_table_info" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      def duckType(dt: DataType): String = dt match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType => "DOUBLE"
        case FloatType => "FLOAT"
        case StringType => "VARCHAR"
        case BooleanType => "BOOLEAN"
        case DateType => "DATE"
        case TimestampType | TimestampNTZType => "TIMESTAMP"
        case ArrayType(e, _) => duckType(e) + "[]"
        case other => other.sql
      }
      Seq("lineitem", "documents", "embeddings").flatMap { t =>
        Tables.load(s, dir, t).schema.fields.zipWithIndex.map {
          case (f, i) => (t, i.toLong, f.name, duckType(f.dataType), false)
        }
      }.toDF("table_name", "cid", "name", "type", "notnull")
    }),

    // r4: profiler schema generality — a string-heavy table (documents)
    // and a timestamp-heavy one (events), same one-pass plan.
    "q_profile_docs" -> ((s, dir) =>
      graft.operators.Profiler.profile(Tables.load(s, dir, "documents"))),
    "q_profile_events" -> ((s, dir) =>
      graft.operators.Profiler.profile(Tables.load(s, dir, "events"))),

    // §2.4 #69: column profiling — the QA pass a pipeline runs before
    // training. Aggregates chosen to stay bit-exact: min/max/counts are
    // order-independent, the mean is a decimal sum divided in double.
    // §2.13: categorical column entropy — the balance/skew signal next to
    // null rates in a data-QA report (near 0 = degenerate column, near
    // log2(distinct) = uniform). Algebraic one-agg form, 6 dp (distributed
    // double partial-sum order is ulp-nondeterministic); oracle SQL is
    // GENERATED from the same (table, column) list so spellings can't
    // drift.
    "q_entropy" -> ((s, dir) =>
      entropySpecs.map { case (t, c) =>
        graft.operators.Profiler.entropy(Tables.load(s, dir, t), Seq(c))
      }.reduce(_ unionAll _)),

    // §2.11: SURROGATE-KEY GAP detection — the continuity twin of
    // q_unique_check: which id ranges are MISSING from a sequence that
    // should be dense (dropped ingest batches surface exactly here)?
    // Ids are contiguous by construction, so every 37th is PLANTED out;
    // the gap scan rides the certified distributed global-lag machinery
    // (Ranked.withGlobalLag: range shuffle + per-partition lag + a
    // boundary-fix broadcast — never a single-task corpus window), and
    // every output is BIGINT-exact.
    "q_id_gaps" -> ((s, dir) => {
      val ids = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 37 =!= 0)
        .select(col("doc_id")).distinct()
      graft.operators.Ranked.withGlobalLag(ids, "prev", col("doc_id"), 1,
          lit(null).cast("long"), Seq(col("doc_id").asc))
        .filter(col("prev").isNotNull && col("doc_id") - col("prev") > 1L)
        .select((col("prev") + 1L).as("gap_start"),
          (col("doc_id") - 1L).as("gap_end"),
          (col("doc_id") - col("prev") - 1L).as("n_missing"))
    }),

    // §2.11: UNIQUENESS CHECK — the aggregate-level data-quality
    // assertion the row-rule expectations (q_expectations) can't express:
    // is this column (set) a key? Reported per candidate — doc_id IS
    // unique; (l_orderkey, l_linenumber) is NOT in this testdata (11.8k
    // dup pairs at sf0.01 — the q_product_agg discovery, now pinned as a
    // first-class DQ report). One count aggregate per candidate, the
    // rollup rides the bounded multiplicity table.
    "q_unique_check" -> ((s, dir) => {
      def report(df: org.apache.spark.sql.DataFrame, name: String,
          keys: Seq[String]) =
        df.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).cast("long").as("m"))
          .agg(lit(name).as("candidate"),
            sum(col("m")).cast("long").as("n_rows"),
            count(lit(1)).cast("long").as("n_keys"),
            sum(when(col("m") > 1L, 1L).otherwise(0L)).cast("long")
              .as("n_dup_keys"),
            max(col("m")).as("max_multiplicity"))
          .withColumn("is_unique", col("n_dup_keys") === 0L)
      report(Tables.load(s, dir, "documents"), "documents.doc_id",
        Seq("doc_id"))
        .unionByName(report(Tables.load(s, dir, "lineitem"),
          "lineitem.(l_orderkey,l_linenumber)",
          Seq("l_orderkey", "l_linenumber")))
    }),

    // §2.11: AUDIENCE OVERLAP — exact segment-intersection matrix: for
    // every event-type pair, |A∩B| / |A| / |B| and Jaccard in basis
    // points. One scan to the distinct (user, type) table, per-user type
    // SETS collected (≤|dictionary| each), pair fan-out bounded by
    // |types|² — the corpus never self-joins. BIGINT-exact.
    "q_audience_overlap" -> ((s, dir) => {
      val ut = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val sizes = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("sz"))
      val pairs = ut.groupBy(col("user_id"))
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
        .select(explode(expr(
          """flatten(transform(ts, (a, i) ->
               transform(slice(ts, i + 2, size(ts)), b ->
                 named_struct('ta', a, 'tb', b))))""")).as("p"))
        .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"))
        .agg(count(lit(1)).cast("long").as("n_both"))
      pairs
        .join(sizes.select(col("event_type").as("ta"), col("sz").as("n_a")),
          "ta")
        .join(sizes.select(col("event_type").as("tb"), col("sz").as("n_b")),
          "tb")
        .select(col("ta"), col("tb"), col("n_both"), col("n_a"), col("n_b"),
          expr("10000 * n_both div (n_a + n_b - n_both)").as("jaccard_bp"))
    }),

    // §2.11: JOIN-KEY SKEW profile — the diagnosis run BEFORE choosing a
    // join strategy at scale (salt? broadcast? AQE skew split?): per-key
    // cardinality distribution of orders per customer, reduced to the
    // planning numbers — max, mean, upper-median (cum·2 ≥ n+1 picks the
    // higher of the two middle values for even n — r14 ADVICE), p99
    // (exact, via the
    // bounded count-of-counts decomposition: the distribution table is
    // ≤|distinct sizes| rows, never the corpus) and max/mean as an
    // integer ratio. One exchange (the key count), everything after
    // rides the tiny distribution table; BIGINT-exact end to end.
    "q_key_skew" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.orderBy(col("cnt"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .groupBy(col("cnt"))
        .agg(count(lit(1)).cast("long").as("k"))
        .withColumn("cum", sum(col("k"))
          .over(Window.orderBy(col("cnt"))
            .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .withColumn("n_keys", max(col("cum")).over(wAll))
        .withColumn("total",
          sum(col("cnt") * col("k")).over(wAll).cast("long"))
        .withColumn("p50",
          min(when(col("cum") * 2 >= col("n_keys") + 1, col("cnt")))
            .over(wAll))
        .withColumn("p99",
          min(when(col("cum") * 100 >= col("n_keys") * 99, col("cnt")))
            .over(wAll))
        .agg(max(col("n_keys")).as("n_keys"),
          max(col("cnt")).as("max_cnt"),
          max(col("total")).as("n_rows"),
          max(col("p50")).as("p50_cnt"),
          max(col("p99")).as("p99_cnt"))
        .select(col("n_keys"), col("n_rows"), col("max_cnt"),
          expr("100 * n_rows div n_keys").as("mean_x100"),
          col("p50_cnt"), col("p99_cnt"),
          expr("100 * (max_cnt * n_keys) div n_rows").as("skew_x100"))
    }),

    "q_profile_stats" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("l_extendedprice")).as("price_min"),
          max(col("l_extendedprice")).as("price_max"),
          (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1)))
            .as("price_mean"),
          sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L))
            .cast("long").as("price_nulls"),
          min(col("l_shipdate")).as("ship_min"),
          max(col("l_shipdate")).as("ship_max"),
          countDistinct(col("l_returnflag")).as("flag_card"))),

    // SCD2 dimension build — the WRITE side of the as-of shape: each
    // change becomes a version valid until the key's next change, via one
    // key-shuffle + per-key lead(). Intervals emitted as exact epoch
    // micros (timestamps compare bit-stably that way cross-engine).
    "q_scd2" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast("double").as("value"))
      graft.operators.Scd2.fromChangeLog(
          ev, keys = Seq("user_id"), ts = "ts", tiebreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
    }),

    // POINT-IN-TIME join — the warehouse query SCD2 exists to serve:
    // each purchase looks up the profile VERSION valid at its timestamp
    // ([valid_from, valid_to) containment; purchases before any version
    // attach NULL). Spark-first this is the backward as-of on
    // valid_from — version disjointness makes containment and
    // latest-start-≤-ts equivalent, and the as-of machinery already
    // plans ONE keyed exchange (no interval theta-join); the oracle
    // spells out the interval predicate, so the green row PROVES the
    // equivalence. Equal-ts fact/version: the version sorts first
    // (vf ≤ ts inclusive), matching the oracle's ≤.
    "q_pit_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val dim = graft.operators.Scd2.fromChangeLog(
          ev.filter(col("event_type") =!= "purchase")
            .select(col("user_id"), col("ts"), col("event_id"),
              round(col("value") * 100).cast("long").as("profile_cents")),
          keys = Seq("user_id"), ts = "ts", tiebreak = Seq("event_id"))
        .select(col("user_id"), col("valid_from"),
          col("event_id").as("version_id"), col("profile_cents"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("purchase_cents"))
      AsofJoin.asof(facts, dim,
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "valid_from",
          rightSeq = "version_id",
          rightVals = Seq("version_id", "profile_cents"))
        .select(col("event_id"), col("user_id"), col("purchase_cents"),
          col("version_id"), col("profile_cents"))
    }),

    // z-order layout round-trip: lineitem re-written z-clustered on
    // (partkey, orderkey), then a 2-D box scan over the new layout — the
    // answer is layout-independent (the oracle reads the raw table), while
    // LayoutSpec separately proves the layout's pruning win on scan
    // metrics. Box bounds derive from min/max by integer arithmetic
    // mirrored exactly in the oracle ((span*45)//100).
    "q_zorder_scan" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"),
          col("l_returnflag"))
      val root = graft.Scratch.dir("graft_zorder_")
      try {
        val path = root.resolve("li").toString
        graft.operators.Layout.writeZordered2(
          li, "l_partkey", "l_orderkey", nFiles = 64, path)
        val b = li.agg(min("l_partkey"), max("l_partkey"),
          min("l_orderkey"), max("l_orderkey")).collect()(0)
        def mid(lo: Long, hi: Long): (Long, Long) = {
          val span = hi - lo
          (lo + span * 45 / 100, lo + span * 55 / 100)
        }
        val (p1, p2) = mid(b.getLong(0), b.getLong(1))
        val (o1, o2) = mid(b.getLong(2), b.getLong(3))
        val out = s.read.parquet(path)
          .filter(col("l_partkey").between(p1, p2) &&
            col("l_orderkey").between(o1, o2))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        val rows = out.collect() // materialize before the temp dir dies
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),

    // Deequ-style declarative data-quality expectations: all row-level
    // rules fold into ONE shared aggregate scan; Unique adds one
    // count-per-key aggregate, RefIntegrity one anti-join — exactly the
    // plans their semantics force. The [1,30] quantity range is chosen to
    // really VIOLATE on TPC-H data (quantities run to 50), so the face
    // proves non-zero counting, not just all-green rows.
    "q_expectations" -> ((s, dir) => {
      import graft.operators.Expectations._
      val li = Tables.load(s, dir, "lineitem")
      check(li, Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1.0, 30.0),
        InRange("l_discount", 0.0, 0.1),
        InSet("l_returnflag", Seq("A", "N", "R")),
        Satisfies("disc_price_positive", "l_extendedprice * (1 - l_discount) > 0"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("l_orderkey", Tables.load(s, dir, "orders"), "o_orderkey")))
    }),

    // §2.8: equi-width histogram — integer-exact bucketing (floor of one
    // IEEE division), count + decimal-summed mass per bucket; the
    // distribution-profiling staple as one map-side-combinable pass
    "q_histogram" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / lit(5000.0))
          .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("mass"))),

    // §2.13: DISCRETE percentiles (quantile_disc parity) — the element at
    // sorted position ceil(n·p) (clamped to ≥1), verified as DuckDB's
    // native convention at large n where floor((n−1)p)+1 diverges (both
    // agree on small probes — the sf0.01 oracle run separated them);
    // complements q_percentiles' interpolated (CONT) family. Ranks come
    // from the few-huge-groups Ranked machinery (3 return flags would
    // serialize a partitioned window into 3 tasks); dyadic p keeps the
    // position arithmetic exact.
    "q_percentile_disc" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val rk = graft.operators.Ranked.withGroupRowNumber(li, "rn", "flag",
        Seq(col("v").asc, col("l_orderkey").asc, col("l_linenumber").asc),
        countOut = "n")
      def at(p: Double) = greatest(ceil(col("n") * lit(p)), lit(1L))
      rk.groupBy(col("flag")).agg(
        min(when(col("rn") === at(0.25), col("v"))).as("p25"),
        min(when(col("rn") === at(0.5), col("v"))).as("p50"),
        min(when(col("rn") === at(0.75), col("v"))).as("p75"))
    }),

    // §2.13: exact WEIGHTED median — the robust-statistics staple (median
    // price weighted by quantity): smallest value whose cumulative weight
    // crosses half the total. The cumulative weight is the distributed
    // Ranked running sum (range partitions + broadcast prefix — never a
    // single-task global window); integral weights keep the running sum
    // exact, and the half-crossing compare is integer (cw·2 ≥ tw).
    "q_weighted_median" -> ((s, dir) => withRangedWindows(s) {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      val run = graft.operators.Ranked.withGlobalRunningSum(li, "cw",
        col("w"),
        Seq(col("v").asc, col("l_orderkey").asc, col("l_linenumber").asc))
      val tot = li.agg(sum(col("w")).as("tw"))
        .withColumn("__k", expr("pmod(tw, 1)"))
      run.withColumn("__k", expr("pmod(cw, 1)"))
        .join(broadcast(tot), "__k")
        .filter(col("cw") * 2 >= col("tw"))
        .agg(min(col("v")).as("weighted_median"),
          max(col("tw")).cast("long").as("total_weight"))
    }),

    // §2.13: EQUI-DEPTH histogram — the quantile-bucketed companion of
    // q_histogram's fixed-width buckets (equal mass per bucket exposes
    // tail structure a width histogram flattens). Buckets are exact SQL
    // ntile over a total order, computed by the SAME distributed
    // rank+broadcast-total machinery as pipeline_curriculum — never a
    // single-task global window.
    "q_histogram_eqdepth" -> ((s, dir) => withRangedWindows(s) {
      graft.operators.Packing.curriculumPhases(
        Tables.load(s, dir, "lineitem")
          .select(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")),
        Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
          col("l_linenumber").asc),
        phases = 8, out = "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("mass"))
    }),

    // §2.13: Benford first-digit screen — the accounting/data-QA check
    // that a value column's first significant digits follow log10(1+1/d).
    // The digit extracts from the DECIMAL string rendering (identical on
    // both engines; double→string formatting is NOT), shares are exact
    // int ratios, and the Benford expectation rounds at 6 dp.
    "q_benford" -> ((s, dir) =>
      Tables.load(s, dir, "orders")
        .select(regexp_extract(
          col("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
          "[1-9]", 0).as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__k", expr("pmod(n, 1)"))
        .join(broadcast(
          Tables.load(s, dir, "orders").agg(count(lit(1)).as("total"))
            .withColumn("__k", expr("pmod(total, 1)"))), "__k")
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("total")).as("pct_obs"),
          round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
            .as("pct_benford"))),

    // §2.8: snapshot diff — yesterday's table vs today's, every key
    // classified added/removed/changed/same in ONE full-outer join. The
    // "v2" snapshot derives deterministically from orders (drops, price
    // changes, inserts by key mod), so DuckDB reconstructs it exactly
    "q_table_diff" -> ((s, dir) => {
      val v1 = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 31 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(v1.filter(col("o_orderkey") % 53 === 0)
          .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
      graft.operators.Upsert.diff(v1, v2, Seq("o_orderkey"))
        .groupBy(col("diff_class"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
    }),

    // ZERO-FILLED DATE SPINE — the other calendar primitive next to
    // q_resample's per-user forward fill: a generated day sequence
    // spanning [min, max] LEFT-joins the daily rollup so silent days
    // appear as explicit zeros (what every dashboard needs before a
    // moving average). The spine generates from ONE min/max row
    // (sequence + explode — no calendar table to maintain), broadcasts
    // onto the day-keyed aggregate; counts exact.
    "q_date_spine" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(date_trunc("day", col("ts")).cast("date").as("day"))
      val daily = ev.groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("n_events"))
      val spine = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    }),

    // YEAR-OVER-YEAR — the BI staple: monthly revenue joined to itself
    // twelve months back. The prior-year lookup is an equi-JOIN on
    // add_months (robust to missing months, unlike lag(12) which slips
    // when a month is absent); both sides are the already-aggregated
    // ~80-row month table, so the join broadcasts. Cents exact; the
    // difference stays integer, NULL where no prior year exists.
    "q_yoy" -> ((s, dir) => {
      val m = Tables.load(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .cast("long").as("cents"))
      val prev = m.select(add_months(col("month"), 12).as("month"),
        col("cents").as("prev_year_cents"))
      m.join(prev, Seq("month"), "left")
        .select(col("month"), col("cents"), col("prev_year_cents"),
          (col("cents") - col("prev_year_cents")).as("yoy_diff_cents"))
    }),

    // TRY-prefixed error-tolerant functions — the migration surface for
    // dirty data: try_cast swallows malformed casts to NULL (both
    // engines), try_divide NULLs a zero denominator instead of raising.
    // Map-only, codegen'd, no UDF.
    // r18: fanOutSmallScan — try_cast of a never-numeric string pays
    // TryEval exception handling per row (~10 µs; OverheadProbe: 1.5 s of
    // CPU in ONE task over the single-row-group orders scan); the output
    // multiset is row-order-independent, so the gated fan-out spreads it.
    "q_try_funcs" -> ((s, dir) =>
      Tables.fanOutSmallScan(Tables.load(s, dir, "orders"))
        .select(col("o_orderkey"),
          expr("try_cast(o_orderpriority AS INT)").as("prio_bad"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)")
            .as("prio"),
          expr("try_divide(CAST(round(o_totalprice * 100) AS BIGINT), " +
            "o_custkey % 3)").as("ratio"))),

    // ABC / PARETO CLASSIFICATION — the inventory-analytics staple:
    // parts ranked by revenue, classified A while the running share is
    // ≤ 80% of total, B to 95%, C after. All comparisons are integer
    // cross-multiplications (cum·100 ≤ total·80) over exact cents — no
    // float share can flip a boundary part. The running sum rides the
    // distributed prefix sum ([[Ranked.withGlobalRunningSum]]) over the
    // AGGREGATED part rows (≈ corpus/30), and the total comes from a
    // 1-row broadcast instead of a whole-table window frame — no
    // unpartitioned window touches part-proportional rows (r12).
    "q_abc_analysis" -> ((s, dir) => {
      val per = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("long").as("cents"))
      val total = per.agg(sum(col("cents")).cast("long").as("total"))
        .withColumn("__k", expr("pmod(total, 1)"))
      Ranked.withGlobalRunningSum(per, "cum", col("cents"),
          Seq(col("cents").desc, col("l_partkey").asc))
        .withColumn("__k", expr("pmod(cents, 1)"))
        .join(broadcast(total), "__k").drop("__k")
        .withColumn("cls",
          when(col("cum") * 100 <= col("total") * 80, "A")
            .when(col("cum") * 100 <= col("total") * 95, "B")
            .otherwise("C"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).cast("long").as("n_parts"),
          sum(col("cents")).cast("long").as("revenue_cents"))
    }),

    // MARKET-BASKET PAIR MINING — pairwise frequent-itemset support
    // counting, the association-rules entry point: parts co-occurring in
    // the same order, counted across orders, kept at support ≥ 5. The
    // pair space generates per-ORDER (baskets average a handful of
    // lines, so the equi-join on orderkey explodes ~k² per basket, never
    // corpus²) — the shingle-join skeleton applied to baskets. DISTINCT
    // per (order, part) first: multiplicity within one basket must not
    // inflate support.
    // r18: the VERDICT-suggested Apriori/Bloom pre-filter (drop items in
    // <5 baskets before the pair fan-out) was built and probe-rejected:
    // at sf0.1 every part appears in ~30 baskets (20k parts / 600k basket
    // rows), so the >=5-support prune removes ZERO rows and its extra
    // groupBy+semi-join pass cost +0.8 s (OPTIMIZATION_r18.md: old 1.28 s, pruned
    // 2.09 s, pruned_rows == basket_rows). Kept the exchange-shared
    // self-join spelling.
    "q_basket_pairs" -> ((s, dir) => {
      val b = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      b.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(b.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).cast("long").as("support"))
        .filter(col("support") >= 5)
    }),

    // ASSOCIATION RULES over the mined pairs — confidence and lift from
    // EXACT counts: conf(a→b) = sup(ab)/sup(a), lift = conf·N/sup(b),
    // each a single double division of exact int64 counts in matched op
    // order. Completes q_basket_pairs into the full
    // support/confidence/lift triple every rules miner reports.
    "q_basket_rules" -> ((s, dir) => {
      val b = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val itemSup = b.groupBy(col("l_partkey"))
        .agg(count(lit(1)).cast("long").as("sup"))
      // N = distinct orders, as a 1-row broadcast joined on a DERIVED key
      // (the q_rfm pattern) — a driver-side .count() here would run a
      // full Spark job at face-CONSTRUCTION time and again per
      // invocation (r11 ADVICE)
      val nOrders = b.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).cast("long").as("n_orders"))
        .withColumn("__k", expr("pmod(n_orders, 1)"))
      // r18: Apriori prune probe-rejected here too — see q_basket_pairs.
      val pairs = b.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(b.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") =!= col("pb")) // both directions: a→b and b→a
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).cast("long").as("sup_ab"))
        .filter(col("sup_ab") >= 5)
      pairs
        .join(itemSup.select(col("l_partkey").as("pa"),
          col("sup").as("sup_a")), "pa")
        .join(itemSup.select(col("l_partkey").as("pb"),
          col("sup").as("sup_b")), "pb")
        .withColumn("__k", expr("pmod(sup_ab, 1)"))
        .join(broadcast(nOrders), "__k").drop("__k")
        .select(col("pa"), col("pb"), col("sup_ab"), col("sup_a"),
          col("sup_b"),
          (col("sup_ab").cast("double") / col("sup_a").cast("double"))
            .as("confidence"),
          ((col("sup_ab") * col("n_orders")).cast("double") /
            (col("sup_a") * col("sup_b")).cast("double")).as("lift"))
    }),

    // RFM SEGMENTATION — recency/frequency/monetary terciles per
    // customer, the marketing staple: r = days since last order (exact
    // date diff), f = order count, m = cents; each scored 1-3 and
    // concatenated to the segment code. r11 spelled the scores as three
    // global ntile(3) windows; r12 derives each from a range-partitioned
    // global rank ([[Ranked.withGlobalRowNumber]]) compared against
    // ntile's exact cut ranks — sizes n/3, first (n mod 3) tiles one
    // bigger — so the integer outputs are bit-identical (spec-pinned)
    // with no unpartitioned window over customer-proportional rows (the
    // r11 VERDICT #1 fix).
    "q_rfm" -> ((s, dir) => {
      val per = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).cast("long").as("f_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .cast("long").as("m_cents"))
      // 1-row max-date frame joins on a DERIVED key (a literal key would
      // constant-fold to `true` and degrade to a nested-loop join)
      val maxDate = Tables.load(s, dir, "orders")
        .agg(max(col("o_orderdate")).as("mx"))
        .withColumn("__k", expr("pmod(datediff(mx, mx), 1)"))
      val base = per.withColumn("__k", expr("pmod(f_orders, 1)"))
        .join(broadcast(maxDate), "__k").drop("__k")
        .withColumn("r_days",
          datediff(col("mx"), col("last_order")).cast("long"))
      val ranked = Ranked.withGlobalRowNumber(
        Ranked.withGlobalRowNumber(
          Ranked.withGlobalRowNumber(base, "__rn_r",
            Seq(col("r_days").asc, col("o_custkey").asc)),
          "__rn_f", Seq(col("f_orders").desc, col("o_custkey").asc)),
        "__rn_m", Seq(col("m_cents").desc, col("o_custkey").asc))
      val nCust = per.agg(count(lit(1)).as("n_cust"))
        .withColumn("__k", expr("pmod(n_cust, 1)"))
      // ntile(3) cut ranks: tile sizes n div 3, the first n mod 3 tiles
      // get the extra row — rank <= q1 → 1, <= q2 → 2, else 3
      def tile(rn: org.apache.spark.sql.Column) =
        when(rn <= expr("n_cust div 3 + CAST(n_cust % 3 >= 1 AS BIGINT)"), 1)
          .when(rn <= expr("2 * (n_cust div 3) + least(n_cust % 3, 2)"), 2)
          .otherwise(3)
      ranked.withColumn("__k", expr("pmod(f_orders, 1)"))
        .join(broadcast(nCust), "__k").drop("__k")
        .select(col("o_custkey"), col("r_days"), col("f_orders"),
          col("m_cents"),
          concat(tile(col("__rn_r")), tile(col("__rn_f")),
            tile(col("__rn_m"))).as("segment"))
    }),

    // GINI COEFFICIENT — the inequality metric over price mass, from
    // pure RANK ARITHMETIC: G = (2·Σ rn·x − (n+1)·Σx) / (n·Σx) over the
    // deterministic (cents, orderkey, linenumber) order. Both moment
    // sums accumulate as DECIMAL(38,0) (rn·cents crosses int64 past
    // ~sf1) and the single division happens on doubles last, matched op
    // order. Since r12 the per-group ranks run the range-partitioned
    // path ([[Ranked.withGroupRowNumber]], bit-identical to the window
    // spelling — RankedSpec) instead of a 3-partition window sort.
    "q_gini" -> ((s, dir) => {
      val d380 = DecimalType(38, 0)
      val base = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      Ranked.withGroupRowNumber(base, "rn", "l_returnflag",
          Seq(col("cents").asc, col("l_orderkey").asc,
            col("l_linenumber").asc))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum_dec_exact(col("cents"), 0).as("s0"),
          sum_dec_exact(col("rn") * col("cents"), 0).as("s1"))
        .select(col("l_returnflag"), col("n").as("n_rows"),
          col("s0").cast("long").as("sum_cents"),
          ((lit(2).cast(d380) * col("s1")
            - (col("n") + 1).cast(d380) * col("s0")).cast("double") /
            (col("n").cast(d380) * col("s0")).cast("double")).as("gini"))
    }),

    // MODE with pinned tie semantics — the built-in mode() aggregates
    // break ties arbitrarily on BOTH engines, so the face spells out the
    // deterministic rule (highest count, then smallest value) as a
    // count aggregate + one row_number cut; the window runs over the
    // value-count rows, never the base table.
    "q_mode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_quantity")).cast("long").as("qty"))
        .groupBy(col("l_returnflag"), col("qty"))
        .agg(count(lit(1)).cast("long").as("n"))
      counts.withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("n").desc, col("qty"))))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"), col("n"))
    }),

    // THIRD AND FOURTH MOMENTS — skewness and excess kurtosis from the
    // q_corr discipline: Σx..Σx⁴ as DECIMAL (shuffle-order-independent;
    // qty ≤ 50 keeps x⁴ sums far inside DECIMAL(28,4)), finalized in
    // double with the SAME op order both engines — population formulas
    // spelled out (built-in skewness/kurtosis differ in bias correction
    // across engines, so the moments are the contract). sqrt and pow are
    // IEEE-exact for these operands.
    "q_moments" -> ((s, dir) => {
      val d284 = DecimalType(28, 4)
      val q = col("l_quantity")
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum_dec_exact(q, 4).as("s1"),
          sum_dec_exact(q * q, 4).as("s2"),
          sum_dec_exact(q * q * q, 4).as("s3"),
          sum_dec_exact(q * q * q * q, 4).as("s4"))
        .select(col("l_returnflag"), col("n").as("n_rows"),
          col("n").cast("double").as("nd"),
          col("s1").cast("double").as("s1"), col("s2").cast("double").as("s2"),
          col("s3").cast("double").as("s3"), col("s4").cast("double").as("s4"))
        .withColumn("m", col("s1") / col("nd"))
        .withColumn("v",
          col("s2") / col("nd") - col("m") * col("m"))
        .select(col("l_returnflag"), col("n_rows"),
          col("m").as("mean_qty"), col("v").as("var_qty"),
          ((col("s3") / col("nd") - lit(3.0) * col("m") * col("v")
            - col("m") * col("m") * col("m")) /
            (col("v") * sqrt(col("v")))).as("skew_qty"),
          ((col("s4") / col("nd")
            - lit(4.0) * col("m") * (col("s3") / col("nd"))
            + lit(6.0) * col("m") * col("m") * (col("s2") / col("nd"))
            - lit(3.0) * col("m") * col("m") * col("m") * col("m")) /
            (col("v") * col("v")) - lit(3.0)).as("kurt_qty"))
    }),

    // EMPIRICAL CDF at fixed probe points — the percentile INVERSE
    // (q_percentiles answers "value at p"; this answers "p at value"),
    // the calibration primitive. One conditional-count pass: each probe
    // is a count_if, exact int64, with the single fraction division
    // last in matched op order. Probes ride the plan as literals.
    "q_ecdf" -> ((s, dir) => {
      val probes = Seq(10000L, 25000L, 50000L, 75000L, 90000L) // cents·100
      val li = Tables.load(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val aggs = count(lit(1)).cast("long").as("n") +:
        probes.map(p => sum(when(col("cents") <= p * 100L, 1L).otherwise(0L))
          .cast("long").as(s"n_le_$p"))
      li.agg(aggs.head, aggs.tail: _*)
        .select(col("n") +: probes.map(p =>
          (col(s"n_le_$p").cast("double") / col("n").cast("double"))
            .as(s"p_le_$p")): _*)
    }),

    // TRIMMED MEAN — the robust aggregate between mean (q_profile) and
    // median (q_percentiles): drop the extreme n div 20 rows off each end
    // of the deterministic (cents, orderkey, linenumber) order, average
    // the rest. Per-group ranks pin the EXACT row-drop semantics; sums
    // stay int64 cents with ONE final double division in matched op
    // order. Since r12 the ranks actually RUN the range-partitioned path
    // ([[Ranked.withGroupRowNumber]] — global rank minus group prefix
    // offset, every core sorting its own range slice) instead of a
    // 3-partition window sort; RankedSpec pins bit-identity against the
    // window spelling (the r11 VERDICT #2 item).
    "q_trimmed_mean" -> ((s, dir) => {
      val base = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      Ranked.withGroupRowNumber(base, "rn", "l_returnflag",
          Seq(col("cents").asc, col("l_orderkey").asc,
            col("l_linenumber").asc), countOut = "n")
        .filter(col("rn") > expr("n div 20") &&
          col("rn") <= col("n") - expr("n div 20"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .select(col("l_returnflag"), col("n_kept"), col("sum_cents"),
          (col("sum_cents").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean_cents"))
    }),

    // ORDER-INDEPENDENT TABLE CHECKSUM — the migration-validation
    // primitive a reference user switching engines runs first: every row
    // renders to a canonical string (ints as digits, dates as ISO,
    // doubles pre-scaled to integer cents — never raw float rendering,
    // which engines format differently), digests to the first 32 bits of
    // its md5, and the digests SUM per group — addition commutes, so any
    // partitioning/row order yields the same checksum, and the sum of
    // ≤2³²-1 digests over 2⁶³ headroom never overflows until ~2³¹ rows
    // PER GROUP ... at 100 TB split groups finer or sum as DECIMAL(38,0).
    // Map-side combinable; one exchange of 3 partial rows.
    "q_table_checksum" -> ((s, dir) => {
      // r18: the md5-per-row digest pass is the face's entire cost
      // (OverheadProbe: 1.26 s CPU) and the checksum is sum-combined —
      // order-independent by construction (the comment above) — so the
      // gated fan-out parallelizes it; at scale the gate is off and the
      // plan is unchanged.
      val li = Tables.fanOutSmallScan(Tables.load(s, dir, "lineitem"))
      val rowStr = concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd"),
        round(col("l_extendedprice") * 100).cast("long"))
      li.select(col("l_returnflag"),
          conv(substring(md5(rowStr), 1, 8), 16, 10).cast("long").as("d"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("d")).cast("long").as("checksum"))
    }),

    // §2.8: second moments — stddev and Pearson correlation from
    // DECIMAL-exact sums (shuffle-order-independent), finalized in double
    // arithmetic written in the same op order as the oracle; sqrt is
    // IEEE-correctly-rounded (unlike log), so the whole face is bit-exact
    // cross-engine. One map-side-combinable aggregate pass
    "q_corr" -> ((s, dir) => {
      val d284 = DecimalType(28, 4)
      val li = Tables.load(s, dir, "lineitem")
      li.agg(
        count(lit(1)).as("n"),
        sum_dec_exact(col("l_quantity"), 4).as("sx"),
        sum_dec_exact(col("l_extendedprice"), 4).as("sy"),
        sum_dec_exact(col("l_quantity") * col("l_quantity"), 4).as("sxx"),
        sum_dec_exact(col("l_extendedprice") * col("l_extendedprice"), 4).as("syy"),
        sum_dec_exact(col("l_quantity") * col("l_extendedprice"), 4).as("sxy"))
        .select(col("n").as("n_rows"),
          col("n").cast("double").as("nd"),
          col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
          col("sxx").cast("double").as("sxx"),
          col("syy").cast("double").as("syy"),
          col("sxy").cast("double").as("sxy"))
        .select(col("n_rows"),
          (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) / col("nd"))
            .as("q_std"),
          (sqrt(col("nd") * col("syy") - col("sy") * col("sy")) / col("nd"))
            .as("price_std"),
          ((col("nd") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("nd") * col("syy") - col("sy") * col("sy"))))
            .as("corr_q_price"))
    }),

    // Exact OLS regression per group — slope/intercept/R² of price vs
    // quantity from the SAME decimal-exact-sums discipline as q_corr:
    // the five moments accumulate as DECIMAL(28,4) (shuffle-order-
    // independent), finalize in double arithmetic written in the same op
    // order as the oracle (one division per output; sqrt-free), so the
    // whole face is bit-exact cross-engine. ONE map-side-combinable
    // aggregate pass — the 100 TB regression is a groupBy, not MLlib.
    "q_regression" -> ((s, dir) => {
      val d284 = DecimalType(28, 4)
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum_dec_exact(col("l_quantity"), 4).as("sx"),
          sum_dec_exact(col("l_extendedprice"), 4).as("sy"),
          sum_dec_exact(col("l_quantity") * col("l_quantity"), 4).as("sxx"),
          sum_dec_exact(col("l_extendedprice") * col("l_extendedprice"), 4)
            .as("syy"),
          sum_dec_exact(col("l_quantity") * col("l_extendedprice"), 4)
            .as("sxy"))
        .select(col("l_returnflag"), col("n").as("n_rows"),
          col("n").cast("double").as("nd"),
          col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
          col("sxx").cast("double").as("sxx"),
          col("syy").cast("double").as("syy"),
          col("sxy").cast("double").as("sxy"))
        .withColumn("slope",
          (col("nd") * col("sxy") - col("sx") * col("sy")) /
            (col("nd") * col("sxx") - col("sx") * col("sx")))
        .select(col("l_returnflag"), col("n_rows"), col("slope"),
          ((col("sy") - col("slope") * col("sx")) / col("nd"))
            .as("intercept"),
          (((col("nd") * col("sxy") - col("sx") * col("sy")) *
            (col("nd") * col("sxy") - col("sx") * col("sy"))) /
            ((col("nd") * col("sxx") - col("sx") * col("sx")) *
              (col("nd") * col("syy") - col("sy") * col("sy"))))
            .as("r2"))
    }),

    // §2.8: SPEARMAN rank correlation — the monotone-association twin of
    // q_corr's Pearson, the robust default when marginals are skewed.
    // Average ranks come from the DISTINCT-VALUE decomposition (the #339
    // posture): exact counts per value (map-side combinable), a running
    // sum over the ≤|dictionary|-row distinct table (quantity ≤ 50
    // values, discount ≤ 11 — the cumulative window covers a bounded
    // dictionary, never the corpus), ranks DOUBLED (2·before + cnt + 1)
    // so tie-averages stay integer-exact, broadcast back to the rows.
    // Pearson over doubled ranks (the 2× scale cancels in ρ) rides
    // q_corr's decimal-exact sums + matched double op order. Doubled-rank
    // products stay < 2⁶³ until ~2³¹ rows; beyond, widen the product to
    // DECIMAL before the sum.
    // Plan shape: ONE corpus scan via the JOINT-distribution
    // decomposition — groupBy (x, y) collapses the corpus to the
    // ≤|dictX|·|dictY| joint cell table, which collects to a single
    // bounded array; both marginal doubled-rank maps and all five
    // moments (Σ cnt·f(xr2, yr2)) compute as higher-order-function folds
    // over that array on a 1-row frame. The naive spelling (rank maps
    // joined back to raw rows) scans the corpus THREE times — and even
    // the tiny-re-aggregation variant re-derives the joint exchange per
    // marginal. Decimal fold accumulators keep every moment exact, so
    // the final doubles cast from the same rationals as the row
    // spelling: bit-identical to the oracle.
    "q_spearman" -> ((s, dir) => {
      // doubled-rank map for one marginal, as a fold over the joint cell
      // list: rank2(v) = 2·(count below v) + (count at v) + 1
      def rankMap(f: String): String =
        s"""map_from_entries(transform(
              array_sort(array_distinct(transform(cs, c -> c.$f))), v ->
              struct(v,
                2 * aggregate(cs, cast(0 as bigint),
                      (a, c) -> IF(c.$f < v, a + c.cnt, a))
                + aggregate(cs, cast(0 as bigint),
                    (a, c) -> IF(c.$f = v, a + c.cnt, a)) + 1))) AS ${f}m"""
      // Σ cnt·term over the cells, decimal-exact (cnt·xr2² can pass 2⁶³
      // where the naive spelling's per-ROW terms could not)
      def mom(t: String, out: String): String =
        s"""aggregate(rs, cast(0 as decimal(38,0)), (a, r) ->
              cast(a + cast(r.cnt as decimal(19,0)) *
                cast($t as decimal(19,0)) as decimal(38,0))) AS $out"""
      Tables.load(s, dir, "lineitem")
        .select(col("l_quantity").as("x"), col("l_discount").as("y"))
        .groupBy(col("x"), col("y"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(struct(col("x"), col("y"), col("cnt"))))
          .as("cs"))
        .selectExpr("cs", rankMap("x"), rankMap("y"))
        // 1-row exchange barriers: without them CollapseProject inlines
        // the rank-map construction into every use site, re-deriving it
        // per cell per moment
        .repartition(1)
        .selectExpr("transform(cs, c -> named_struct('cnt', c.cnt," +
          " 'xr', xm[c.x], 'yr', ym[c.y])) AS rs")
        .repartition(1)
        .selectExpr(
          "aggregate(rs, cast(0 as bigint), (a, r) -> a + r.cnt) AS n",
          mom("r.xr", "sx"), mom("r.yr", "sy"),
          mom("r.xr * r.xr", "sxx"), mom("r.yr * r.yr", "syy"),
          mom("r.xr * r.yr", "sxy"))
        .select(col("n").as("n_rows"), col("n").cast("double").as("nd"),
          col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
          col("sxx").cast("double").as("sxx"),
          col("syy").cast("double").as("syy"),
          col("sxy").cast("double").as("sxy"))
        .select(col("n_rows"),
          ((col("nd") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("nd") * col("syy") - col("sy") * col("sy"))))
            .as("spearman_rho"))
    }),

    // §2.8: KENDALL τ-b — the pair-concordance member of the correlation
    // family (q_corr Pearson, q_spearman rank): concordant/discordant
    // pair counts with the tie-adjusted denominator. The O(n²) pair space
    // collapses through the SAME joint-cell decomposition as q_spearman:
    // ONE corpus scan to the ≤|dictX|·|dictY| cell list, then C/D are a
    // nested fold over cell PAIRS (≤550² long ops — bounded by the
    // dictionaries, not the data) counting each unordered pair twice,
    // and the tie terms fold over the marginals. Everything BIGINT-exact
    // (pair counts ≤ n²); one matched-order double division at the end.
    "q_kendall" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .select(col("l_quantity").as("x"), col("l_discount").as("y"))
        .groupBy(col("x"), col("y"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(struct(col("x"), col("y"), col("cnt"))))
          .as("cs"))
        .selectExpr(
          "aggregate(cs, cast(0 as bigint), (a, p) -> a + p.cnt) AS n",
          """aggregate(cs, cast(0 as bigint), (a, p) -> a + p.cnt *
               aggregate(cs, cast(0 as bigint), (b, q) -> b +
                 IF((q.x > p.x AND q.y > p.y) OR (q.x < p.x AND q.y < p.y),
                    q.cnt, 0L))) AS c2""",
          """aggregate(cs, cast(0 as bigint), (a, p) -> a + p.cnt *
               aggregate(cs, cast(0 as bigint), (b, q) -> b +
                 IF((q.x > p.x AND q.y < p.y) OR (q.x < p.x AND q.y > p.y),
                    q.cnt, 0L))) AS d2""",
          """aggregate(transform(array_distinct(transform(cs, c -> c.x)), v ->
               aggregate(cs, cast(0 as bigint),
                 (a, c) -> IF(c.x = v, a + c.cnt, a))),
             cast(0 as bigint), (a, m) -> a + m * (m - 1) div 2) AS nx""",
          """aggregate(transform(array_distinct(transform(cs, c -> c.y)), v ->
               aggregate(cs, cast(0 as bigint),
                 (a, c) -> IF(c.y = v, a + c.cnt, a))),
             cast(0 as bigint), (a, m) -> a + m * (m - 1) div 2) AS ny""")
        .repartition(1)
        .selectExpr("n AS n_rows",
          "c2 div 2 AS concordant", "d2 div 2 AS discordant",
          """cast((c2 - d2) div 2 as double) /
             (sqrt(cast(n * (n - 1) div 2 - nx as double)) *
              sqrt(cast(n * (n - 1) div 2 - ny as double))) AS tau_b""")
    }),

    // §2.8: MANN-WHITNEY U — the nonparametric two-sample location test
    // (do returned lines ship different quantities than accepted ones?).
    // Pooled tie-averaged ranks ride the same bounded distinct-value
    // decomposition as q_spearman, kept integer as DOUBLED ranks; rank
    // sums fold per group map-side. 2U = 2R − n(n+1) is BIGINT-exact end
    // to end; the only double is the final halving (exact in binary
    // floating point). The identity u2_R + u2_A = 2·n_R·n_A is the
    // built-in consistency check the oracle replays independently.
    // Plan shape: ONE corpus scan via the joint (group, value) cell
    // table (≤2·|dictionary| rows), collected to a bounded array: the
    // pooled doubled-rank map is a fold over the cells, groups explode
    // back to rows, and each group's n / rank sum folds over the same
    // array — the naive rank-map-joined-back-to-rows spelling scans the
    // corpus twice.
    "q_mannwhitney" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_returnflag").as("g"), col("l_quantity").as("v"))
        .groupBy(col("g"), col("v"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(struct(col("g"), col("v"), col("cnt"))))
          .as("cs"))
        .selectExpr("cs",
          """map_from_entries(transform(
               array_sort(array_distinct(transform(cs, c -> c.v))), w ->
               struct(w,
                 2 * aggregate(cs, cast(0 as bigint),
                       (a, c) -> IF(c.v < w, a + c.cnt, a))
                 + aggregate(cs, cast(0 as bigint),
                     (a, c) -> IF(c.v = w, a + c.cnt, a)) + 1))) AS rm""")
        .repartition(1) // barrier: keep the rank map built once
        .selectExpr(
          "explode(array_sort(array_distinct(transform(cs, c -> c.g)))) AS g",
          "cs", "rm")
        .selectExpr("g",
          "aggregate(cs, cast(0 as bigint)," +
            " (a, c) -> IF(c.g = g, a + c.cnt, a)) AS n",
          "aggregate(cs, cast(0 as bigint)," +
            " (a, c) -> IF(c.g = g, a + c.cnt * rm[c.v], a)) AS rank_sum2")
        .select(col("g"), col("n"), col("rank_sum2"),
          (col("rank_sum2") - col("n") * (col("n") + lit(1L))).as("u2"))
        .withColumn("u", col("u2").cast("double") / lit(2.0))
    }),

    // §2.8: CHI-SQUARE independence (returnflag × linestatus) — the
    // categorical-association screen. Observed cells are ONE exact count
    // aggregate over the corpus; margins re-aggregate the cell table
    // (≤|flags|·|status| rows — the corpus is never touched again);
    // expected counts and contributions finalize in matched double op
    // order. The cross-cell total folds LEFT over the (flag, status)-
    // sorted contribution list on BOTH engines (Spark's aggregate() HOF ≡
    // DuckDB list_reduce over list(… ORDER BY); 0.0-seeded vs first-
    // element-seeded left folds agree bit-exactly because 0.0 + x = x) —
    // never a shuffle-order-dependent double sum.
    // Plan shape: the naive margin spelling (cell table joined to three
    // re-aggregations of itself) re-scans the CORPUS once per margin — 4
    // full scans with no exchange reuse. Here the corpus is read exactly
    // once: one count aggregate to the ≤|flags|·|status| cell list, then
    // margins, expectations and the sorted LEFT-fold total all compute as
    // higher-order-function folds over that bounded array on a 1-row
    // frame. Same rationals, same final double op order as the oracle.
    "q_chi_square" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("f"), col("l_linestatus").as("st"))
        .agg(count(lit(1)).cast("long").as("o"))
        .agg(sort_array(collect_list(struct(col("f"), col("st"), col("o"))))
          .as("cs"))
        .selectExpr("cs",
          "aggregate(cs, cast(0 as bigint), (a, x) -> a + x.o) AS nn",
          "cast(size(array_distinct(transform(cs, x -> x.f))) as bigint) AS nf",
          "cast(size(array_distinct(transform(cs, x -> x.st))) as bigint) AS ns")
        .selectExpr(
          "nn AS n_rows",
          "cast(size(cs) as bigint) AS n_cells",
          "(nf - 1) * (ns - 1) AS dof",
          """aggregate(
               transform(
                 transform(cs, c -> named_struct(
                   'o', c.o,
                   'e', cast(aggregate(cs, cast(0 as bigint),
                          (a, x) -> IF(x.f = c.f, a + x.o, a)) as double)
                        * cast(aggregate(cs, cast(0 as bigint),
                            (a, x) -> IF(x.st = c.st, a + x.o, a)) as double)
                        / cast(nn as double))),
                 c -> (cast(c.o as double) - c.e) * (cast(c.o as double) - c.e)
                      / c.e),
               cast(0.0 as double), (acc, x) -> acc + x) AS chi2""")
    }),

    // §2.8: lag-k AUTOCORRELATION of the daily demand series — the
    // seasonality screen (lag 1 = momentum, lag 7 = weekly cycle). The
    // corpus collapses to ONE exact count per day first (map-side
    // combinable; the series is bounded by the calendar, not the data),
    // pairs align by DATE ARITHMETIC (a self-join on day+lag over the
    // tiny series — gap-safe, unlike row-offset lag), and Pearson
    // finalizes from integer-exact sums in matched double op order per
    // lag.
    // Plan shape: ONE corpus scan — the naive spelling (daily series
    // self-joined per lag, then unioned) re-derives the daily aggregate
    // once per join SIDE per lag = 4 corpus scans. Here the
    // calendar-bounded series collects to a single sorted array, each
    // exploded lag row aligns pairs through a day→count map lookup
    // (date arithmetic — gap-safe, identical semantics to the join), and
    // the moments fold as integer-exact HOF aggregates on a 2-row frame.
    // §2.8: DETERMINISTIC BOOTSTRAP CI — the resampling the statistics
    // tier was missing, made replayable: rep r keeps row i iff the
    // md5-fold of (i, r) is even (the q_table_checksum hex-fold — a
    // seeded 50% subsample both engines compute bit-identically; no
    // RNG, no order dependence). B=64 reps in ONE corpus scan (the
    // explode multiplies CPU, not shuffle — the aggregate ships 64
    // partial rows per partition), per-rep integer mean in cents×100,
    // CI = 2nd / 63rd order statistic of the 64 sorted rep means
    // (~2.5% / ~97.5%). Everything BIGINT-exact.
    "q_bootstrap_ci" -> ((s, dir) => {
      val B = 64
      val pop = Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
      val reps = pop
        .select(col("c_custkey"), col("cents"),
          explode(sequence(lit(0), lit(B - 1))).as("r"))
        .filter(conv(substring(
            md5(concat_ws("|", col("c_custkey"), col("r"))), 1, 8), 16, 10)
          .cast("long") % 2 === 0)
        .groupBy(col("r"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast("long").as("s"))
        .selectExpr("r", "100 * s div n AS m")
      val ci = reps
        .agg(sort_array(collect_list(col("m"))).as("ms"))
        .selectExpr("cast(size(ms) as bigint) AS n_reps",
          "element_at(ms, 2) AS ci_lo_c100",
          s"element_at(ms, ${B - 1}) AS ci_hi_c100")
      pop.agg(count(lit(1)).cast("long").as("n_rows"),
          expr("cast(100 * sum(cents) div count(*) as bigint)")
            .as("mean_c100"))
        .withColumn("__k", pmod(col("n_rows"), lit(1L)))
        .join(broadcast(ci.withColumn("__k", pmod(col("n_reps"), lit(1L)))),
          "__k")
        .select(col("n_rows"), col("mean_c100"), col("n_reps"),
          col("ci_lo_c100"), col("ci_hi_c100"))
    }),

    // §2.8: SEASONAL DECOMPOSITION (classical additive, the moving-
    // average construction) — trend = centered 7-day MA (defined only
    // on full windows), seasonal = per-day-of-week integer mean of the
    // detrended series, remainder = detrended − seasonal. The corpus
    // collapses to one exact count per day first; every window/group
    // after that rides the calendar-bounded series. dow normalized to
    // Sunday=0 on both engines (Spark dayofweek is 1-based). All ×100
    // BIGINT arithmetic; both engines truncate integer division toward
    // zero (probed), so negative detrended values divide identically.
    "q_seasonal_decompose" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val t = Tables.load(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("s7", sum(col("cnt")).over(w7))
        .withColumn("trend_x100",
          when(col("n7") === 7L, expr("cast(100 * s7 div 7 as bigint)")))
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
        .withColumn("det_x100", col("cnt") * 100L - col("trend_x100"))
      val seas = t.filter(col("trend_x100").isNotNull)
        .groupBy(col("dow"))
        .agg(expr("cast(sum(det_x100) div count(*) as bigint)")
          .as("seas_x100"))
      t.filter(col("trend_x100").isNotNull)
        .join(seas, Seq("dow"))
        .select(col("day"), col("cnt"), col("trend_x100"), col("dow"),
          col("seas_x100"),
          (col("det_x100") - col("seas_x100")).cast("long").as("resid_x100"))
    }),

    // §2.8: exact MEDIAN as a window function — DuckDB runs aggregate
    // quantiles as genuine window functions (`median(x) OVER (PARTITION
    // BY k)`); Spark has no exact-percentile window, and the
    // scale-honest translation is groupBy-percentile + join-back (a
    // per-key window would buffer whole partitions). med_x2 = 2×median
    // as BIGINT: even-sized groups interpolate to lo+hi exactly in
    // both engines (doubles are exact below 2^52), so no float surface
    // leaves the face.
    "q_window_median" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val med = o.groupBy(col("o_custkey"))
        .agg(expr("cast(round(2 * percentile(cents, 0.5)) as bigint)")
          .as("med_x2"))
      o.join(med, Seq("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("cents"),
          col("med_x2"))
    }),

    "q_autocorr" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(struct(col("day"), col("cnt"))))
          .as("ds"))
        .select(explode(array(lit(1L), lit(7L))).as("lag"), col("ds"))
        .selectExpr("lag", "ds",
          "map_from_entries(transform(ds, e -> struct(e.day, e.cnt))) AS m")
        // barrier: without it CollapseProject inlines the map build into
        // the pair lambda — rebuilt per ELEMENT, O(days²) map inserts
        .repartition(2)
        .selectExpr("lag",
          "filter(transform(ds, d -> named_struct('x', d.cnt, 'y', " +
            "m[date_add(d.day, cast(lag as int))])), p -> p.y IS NOT NULL)" +
            " AS ps")
        .selectExpr("lag",
          "cast(size(ps) as bigint) AS n_pairs",
          "aggregate(ps, cast(0 as bigint), (a, p) -> a + p.x) AS sx",
          "aggregate(ps, cast(0 as bigint), (a, p) -> a + p.y) AS sy",
          "aggregate(ps, cast(0 as bigint), (a, p) -> a + p.x * p.x) AS sxx",
          "aggregate(ps, cast(0 as bigint), (a, p) -> a + p.y * p.y) AS syy",
          "aggregate(ps, cast(0 as bigint), (a, p) -> a + p.x * p.y) AS sxy")
        .select(col("lag"), col("n_pairs"),
          col("n_pairs").cast("double").as("nd"),
          col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
          col("sxx").cast("double").as("sxx"),
          col("syy").cast("double").as("syy"),
          col("sxy").cast("double").as("sxy"))
        .select(col("lag"), col("n_pairs"),
          ((col("nd") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("nd") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("nd") * col("syy") - col("sy") * col("sy"))))
            .as("autocorr"))
    }),

    // §2.8: KOLMOGOROV-SMIRNOV two-sample D — the distribution-shape
    // test beside q_mannwhitney's location test. ECDF differences stay
    // EXACT RATIONALS: per distinct value, group counts cumulate over the
    // bounded dictionary (≤50 quantity values), and the sup statistic is
    // max |cumR·n_A − cumA·n_R| — a BIGINT numerator over the fixed
    // denominator n_R·n_A; the single division to D happens once, last.
    // Plan shape: ONE corpus scan (the per-value count aggregate); the
    // cumulative window runs over the bounded dictionary, the totals are
    // the LAST cumulative values (max of a monotone sequence), and the
    // sup statistic folds over the collected cell list on a 1-row frame —
    // no second corpus pass for the group sizes.
    "q_ks_test" -> ((s, dir) => {
      val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_returnflag").as("g"), col("l_quantity").as("v"))
        .groupBy(col("v"))
        .agg(sum(when(col("g") === "R", 1L).otherwise(0L)).cast("long").as("cr"),
          sum(when(col("g") === "A", 1L).otherwise(0L)).cast("long").as("ca"))
        .select(col("v"), sum(col("cr")).over(wCum).cast("long").as("cum_r"),
          sum(col("ca")).over(wCum).cast("long").as("cum_a"))
        .agg(max(col("cum_r")).as("n_r"), max(col("cum_a")).as("n_a"),
          collect_list(struct(col("cum_r"), col("cum_a"))).as("cl"))
        .selectExpr("n_r", "n_a",
          "aggregate(cl, cast(0 as bigint), (a, x) -> " +
            "greatest(a, abs(x.cum_r * n_a - x.cum_a * n_r))) AS d_num")
        .withColumn("d", col("d_num").cast("double") /
          (col("n_r") * col("n_a")).cast("double"))
    }),

    // §2.8: KS on a CONTINUOUS column — q_ks_test's dictionary is ≤50
    // values; price cents has ~74k distinct at sf0.1 (~740k at sf1), so
    // this face pins the DISTINCT-KEY decomposition regime (#339): one
    // corpus scan to per-value counts, cumulative + whole-input windows
    // over the distinct-key table (sub-linear in the data; the injected
    // GlobalRowNumberRewrite re-plans exactly these global running
    // sums/maxes distributed when deployed via GraftExtensions), group
    // totals read off the LAST cumulative values, sup folded in the same
    // exact-rational form.
    "q_ks_continuous" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy()
      Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        .groupBy(col("v"))
        .agg(sum(when(col("g") === "R", 1L).otherwise(0L)).cast("long").as("cr"),
          sum(when(col("g") === "A", 1L).otherwise(0L)).cast("long").as("ca"))
        .select(col("v"), sum(col("cr")).over(wCum).cast("long").as("cum_r"),
          sum(col("ca")).over(wCum).cast("long").as("cum_a"))
        .select(col("cum_r"), col("cum_a"),
          max(col("cum_r")).over(wAll).cast("long").as("n_r"),
          max(col("cum_a")).over(wAll).cast("long").as("n_a"))
        .agg(max(col("n_r")).as("n_r"), max(col("n_a")).as("n_a"),
          max(abs(col("cum_r") * col("n_a") - col("cum_a") * col("n_r")))
            .cast("long").as("d_num"))
        .withColumn("d", col("d_num").cast("double") /
          (col("n_r") * col("n_a")).cast("double"))
    }),

    // §2.8: MEDIAN ABSOLUTE DEVIATION — the robust scale estimate beside
    // q_corr's stddev (outlier-immune; the robust-z denominator). Pure
    // window algebra over the distinct-cents table from ONE corpus scan:
    // lower median = min value whose cumulative weight crosses
    // (n+1) div 2 (a conditional min over the whole input — no join, no
    // second pass), deviations re-rank the SAME cell table, MAD reads
    // off the same crossing rule. Everything BIGINT-exact.
    // r18 (r17 VERDICT #4): the r17 spelling ran BOTH cumulative sums and
    // all three whole-table aggregates as unpartitioned WindowExec — one
    // task owning every distinct-cents row (OverheadProbe: a 0.66 s
    // single-task stage). Respelled on the Ranked distributed running sum
    // (range partitions + broadcast prefix, gate off) with the whole-table
    // n/med carried by 1-row broadcast joins on derived keys. The crossing
    // rules are IDENTICAL: filter(cum >= (n+1) div 2) + min(v) is the old
    // min(when(...)).over(whole-table) because cum is monotone in the sort
    // order; likewise for mad over (dev, v). Oracle-pinned bit-exact.
    // r18: two ranged respellings were built and probe-REJECTED — the
    // Ranked running-sum shape pays range-boundary sampling per branch
    // (19 jobs, exec 2.29 s) and localCheckpoint-ing the two small
    // intermediate frames just moves the cost to build time (build 1.8 +
    // exec 0.8 s); the original two single-task windows over the ~150k
    // distinct-cents cells cost only 0.66 s (OverheadProbe stage table),
    // so the multi-branch fixed costs dominate any parallelism win at
    // this distinct-value cardinality. Kept the r17 spelling.
    "q_mad" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy()
      Tables.load(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).cast("long").as("cnt"))
        .select(col("v"), col("cnt"),
          sum(col("cnt")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)).cast("long").as("cum"),
          sum(col("cnt")).over(wAll).cast("long").as("n"))
        .withColumn("med",
          min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).over(wAll))
        .select(col("n"), col("med"), col("v"),
          abs(col("v") - col("med")).as("dev"), col("cnt"))
        .withColumn("cumd", sum(col("cnt"))
          .over(Window.orderBy(col("dev"), col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .withColumn("mad",
          min(when(col("cumd") >= expr("(n + 1) div 2"), col("dev")))
            .over(wAll))
        .agg(max(col("n")).as("n_rows"),
          max(col("med")).cast("long").as("median_cents"),
          max(col("mad")).cast("long").as("mad_cents"))
    }),

    // §2.8: HERFINDAHL-HIRSCHMAN concentration index — "is this source's
    // language mix dominated by one language?", the concentration twin
    // of q_gini's inequality: HHI = Σ share² per source. Exact: the
    // numerator is Σ cnt² (BIGINT), the denominator n², ONE double
    // division last. One corpus scan; the per-source re-aggregation rides
    // the bounded (source, lang) cell table.
    "q_hhi" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).cast("long").as("n_docs"),
          sum(col("cnt") * col("cnt")).cast("long").as("sum_sq"))
        .select(col("source"), col("n_docs"), col("sum_sq"),
          (col("sum_sq").cast("double") /
            (col("n_docs") * col("n_docs")).cast("double")).as("hhi"))),

    // §2.8: WELCH two-sample t — the unequal-variance location test the
    // parametric side of q_mannwhitney: did returned lineitems ship
    // different quantities than accepted ones? ONE conditional-sum
    // aggregate collapses the corpus to six exact moments (counts BIGINT,
    // Σx / Σx² as DECIMAL(28,4) — shuffle-order-independent); mean,
    // sample variance, t and the Welch–Satterthwaite df finalize in
    // matched double op order (the q_corr discipline: one rounding per
    // decimal→double via the string route on the oracle side, IEEE-exact
    // sqrt), so the face is bit-exact cross-engine with no dp rounding.
    "q_ttest_welch" -> ((s, dir) => {
      val d284 = DecimalType(28, 4)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .agg(
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .cast("long").as("n_r"),
          sum_dec_exact(when(col("l_returnflag") === "R", col("l_quantity"))
            .otherwise(lit(0.0)), 4).as("sx_r"),
          sum_dec_exact(when(col("l_returnflag") === "R",
            col("l_quantity") * col("l_quantity"))
            .otherwise(lit(0.0)), 4).as("sxx_r"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L))
            .cast("long").as("n_a"),
          sum_dec_exact(when(col("l_returnflag") === "A", col("l_quantity"))
            .otherwise(lit(0.0)), 4).as("sx_a"),
          sum_dec_exact(when(col("l_returnflag") === "A",
            col("l_quantity") * col("l_quantity"))
            .otherwise(lit(0.0)), 4).as("sxx_a"))
        .select(col("n_r"), col("n_a"),
          col("n_r").cast("double").as("nr"),
          col("n_a").cast("double").as("na"),
          col("sx_r").cast("double").as("sxr"),
          col("sxx_r").cast("double").as("sxxr"),
          col("sx_a").cast("double").as("sxa"),
          col("sxx_a").cast("double").as("sxxa"))
        .withColumn("vn_r",
          (col("nr") * col("sxxr") - col("sxr") * col("sxr")) /
            (col("nr") * (col("nr") - lit(1.0))) / col("nr"))
        .withColumn("vn_a",
          (col("na") * col("sxxa") - col("sxa") * col("sxa")) /
            (col("na") * (col("na") - lit(1.0))) / col("na"))
        .withColumn("se2", col("vn_r") + col("vn_a"))
        .select(col("n_r"), col("n_a"),
          (col("sxr") / col("nr")).as("mean_r"),
          (col("sxa") / col("na")).as("mean_a"),
          ((col("sxr") / col("nr") - col("sxa") / col("na")) /
            sqrt(col("se2"))).as("t_stat"),
          (col("se2") * col("se2") /
            (col("vn_r") * col("vn_r") / (col("nr") - lit(1.0)) +
              col("vn_a") * col("vn_a") / (col("na") - lit(1.0))))
            .as("welch_df"))
    }),

    // §2.8: one-way ANOVA F — does mean extended price differ across the
    // three return flags? The k-group generalization of the Welch face:
    // ONE conditional-free groupBy collapses the corpus to ≤3 exact
    // moment rows, the between/within sums of squares fold over the
    // SORTED collected group list (the q_chi_square LEFT-fold posture —
    // never a shuffle-order-dependent double sum), F finalizes in
    // matched double op order. Bit-exact cross-engine, no dp rounding.
    "q_anova" -> ((s, dir) => {
      val d284 = DecimalType(28, 4)
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("g"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum_dec_exact(col("l_extendedprice"), 4).as("sx"),
          sum_dec_exact(col("l_extendedprice") * col("l_extendedprice"), 4)
            .as("sxx"))
        .select(col("g"), col("n"),
          col("sx").cast("double").as("sx"),
          col("sxx").cast("double").as("sxx"))
        .agg(sort_array(collect_list(struct(col("g"), col("n"), col("sx"),
          col("sxx")))).as("gs"))
        .selectExpr("gs",
          "cast(size(gs) as bigint) AS k",
          "aggregate(gs, cast(0 as bigint), (a, x) -> a + x.n) AS n_rows",
          "aggregate(gs, cast(0.0 as double), (a, x) -> a + x.sx) AS st",
          "aggregate(gs, cast(0.0 as double), (a, x) -> a + x.sxx) AS stt",
          "aggregate(gs, cast(0.0 as double), (a, x) ->" +
            " a + x.sx * x.sx / cast(x.n as double)) AS sgrp")
        .selectExpr("k", "n_rows",
          "sgrp - st * st / cast(n_rows as double) AS ss_between",
          "stt - sgrp AS ss_within")
        .selectExpr("k", "n_rows", "ss_between", "ss_within",
          "(ss_between / cast(k - 1 as double)) /" +
            " (ss_within / cast(n_rows - k as double)) AS f_stat")
    }),

    // §2.8: JENSEN-SHANNON divergence — the symmetric, bounded drift
    // measure beside q_psi (PSI blows up on vanishing buckets; JSD stays
    // ≤ ln 2): event-type mix of the first half of the history vs the
    // second (data-derived midpoint-day split, closed type dictionary).
    // One corpus scan to the (type, day) cells; the two KL halves fold
    // over the sorted bounded cell list. ln is not correctly-rounded
    // cross-engine ⇒ 6 dp (the q_psi posture).
    "q_js_divergence" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wDays = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "events")
        .groupBy(col("event_type").as("bucket"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .select(col("bucket"), col("day"), col("cnt"),
          min(col("day")).over(wDays).as("d0"),
          max(col("day")).over(wDays).as("d1"))
        .withColumn("half",
          when(datediff(col("day"), col("d0")) * 2 <=
            datediff(col("d1"), col("d0")), lit("e")).otherwise(lit("a")))
        .groupBy(col("bucket"))
        .agg(sum(when(col("half") === "e", col("cnt")).otherwise(0L))
            .cast("long").as("ne"),
          sum(when(col("half") === "a", col("cnt")).otherwise(0L))
            .cast("long").as("na"))
        .agg(sort_array(collect_list(struct(col("bucket"), col("ne"),
          col("na")))).as("bs"))
        .selectExpr(
          "cast(size(bs) as bigint) AS n_buckets",
          "aggregate(bs, cast(0 as bigint), (a, b) -> a + b.ne)" +
            " AS n_expected",
          "aggregate(bs, cast(0 as bigint), (a, b) -> a + b.na)" +
            " AS n_actual",
          "bs")
        .selectExpr("n_buckets", "n_expected", "n_actual",
          // KL(p‖m) with p = first-half mix, q = second-half mix,
          // m = (p+q)/2; 0·ln(…) terms drop via the filter. An empty
          // half (single-day history, r14 ADVICE) makes its mix 0/0 —
          // NaN in Spark, NULL in DuckDB — so the degenerate case
          // finalizes as the shared NULL instead.
          """CASE WHEN n_expected > 0 AND n_actual > 0 THEN
             round(0.5 * aggregate(filter(bs, b -> b.ne > 0L),
               cast(0.0 as double), (acc, b) ->
                 acc + (cast(b.ne as double) / cast(n_expected as double))
                   * ln((cast(b.ne as double) / cast(n_expected as double))
                        / ((cast(b.ne as double) / cast(n_expected as double)
                            + cast(b.na as double) / cast(n_actual as double))
                           / 2.0)))
             + 0.5 * aggregate(filter(bs, b -> b.na > 0L),
               cast(0.0 as double), (acc, b) ->
                 acc + (cast(b.na as double) / cast(n_actual as double))
                   * ln((cast(b.na as double) / cast(n_actual as double))
                        / ((cast(b.ne as double) / cast(n_expected as double)
                            + cast(b.na as double) / cast(n_actual as double))
                           / 2.0))),
             6) END AS jsd_nats""")
    }),

    // §2.8: TWO-PROPORTION z-test — did the purchase share of events
    // move between the first and second half of the history? Counts are
    // ONE conditional-sum aggregate over the same midpoint-day split
    // (integer-exact); the pooled-variance z finalizes in matched double
    // op order with one IEEE-exact sqrt — bit-exact, no dp rounding.
    "q_prop_ztest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wDays = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast("long").as("hits"))
        .select(col("day"), col("cnt"), col("hits"),
          min(col("day")).over(wDays).as("d0"),
          max(col("day")).over(wDays).as("d1"))
        .withColumn("half",
          when(datediff(col("day"), col("d0")) * 2 <=
            datediff(col("d1"), col("d0")), lit("e")).otherwise(lit("a")))
        .groupBy()
        .agg(
          sum(when(col("half") === "e", col("cnt")).otherwise(0L))
            .cast("long").as("n1"),
          sum(when(col("half") === "e", col("hits")).otherwise(0L))
            .cast("long").as("x1"),
          sum(when(col("half") === "a", col("cnt")).otherwise(0L))
            .cast("long").as("n2"),
          sum(when(col("half") === "a", col("hits")).otherwise(0L))
            .cast("long").as("x2"))
        // degenerate-data guard (r14 ADVICE): a single-day history puts
        // every event in the 'e' half ⇒ n2 = 0, and Spark's double
        // division yields NaN where DuckDB yields NULL — NULL is the
        // shared degenerate answer on both engines (the assortativity
        // posture); same for a pooled share of exactly 0 or 1 (0/0 z).
        .withColumn("p1", when(col("n1") > 0L,
          col("x1").cast("double") / col("n1").cast("double")))
        .withColumn("p2", when(col("n2") > 0L,
          col("x2").cast("double") / col("n2").cast("double")))
        .withColumn("pp",
          (col("x1") + col("x2")).cast("double") /
            (col("n1") + col("n2")).cast("double"))
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          col("p1"), col("p2"),
          when(col("n1") > 0L && col("n2") > 0L &&
              col("pp") > 0.0 && col("pp") < 1.0,
            (col("p1") - col("p2")) /
              sqrt(col("pp") * (lit(1.0) - col("pp")) *
                (lit(1.0) / col("n1").cast("double") +
                  lit(1.0) / col("n2").cast("double")))).as("z_stat"))
    }),

    // §2.8: CRAMÉR'S V — the effect size q_chi_square's test statistic
    // needs for interpretation at scale (χ² grows with n; V does not).
    // Same cell/margin decomposition and LEFT-fold total; one extra
    // min(r−1, c−1) and an IEEE-exact sqrt at the end.
    // Same one-corpus-scan HOF decomposition as q_chi_square.
    "q_cramers_v" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("f"), col("l_linestatus").as("st"))
        .agg(count(lit(1)).cast("long").as("o"))
        .agg(sort_array(collect_list(struct(col("f"), col("st"), col("o"))))
          .as("cs"))
        .selectExpr("cs",
          "aggregate(cs, cast(0 as bigint), (a, x) -> a + x.o) AS nn",
          "cast(size(array_distinct(transform(cs, x -> x.f))) as bigint) AS nf",
          "cast(size(array_distinct(transform(cs, x -> x.st))) as bigint) AS ns")
        .selectExpr("nn", "nf", "ns",
          """aggregate(
               transform(
                 transform(cs, c -> named_struct(
                   'o', c.o,
                   'e', cast(aggregate(cs, cast(0 as bigint),
                          (a, x) -> IF(x.f = c.f, a + x.o, a)) as double)
                        * cast(aggregate(cs, cast(0 as bigint),
                            (a, x) -> IF(x.st = c.st, a + x.o, a)) as double)
                        / cast(nn as double))),
                 c -> (cast(c.o as double) - c.e) * (cast(c.o as double) - c.e)
                      / c.e),
               cast(0.0 as double), (acc, x) -> acc + x) AS chi2""")
        .select(col("nn").as("n_rows"),
          least(col("nf") - lit(1L), col("ns") - lit(1L)).as("k_min"),
          col("chi2"),
          sqrt(col("chi2") / (col("nn").cast("double") *
            least(col("nf") - lit(1L), col("ns") - lit(1L)).cast("double")))
            .as("cramers_v"))
    }),

    // §2.8: CUSUM changepoint screen over the daily demand series — the
    // drift detector a monitoring pipeline runs on ingest volume. The
    // classic S_t = Σ(x_i − μ) is kept INTEGER by scaling with the day
    // count: S'_t = days·Σx_{i≤t} − t·total (= days·S_t), so the whole
    // curve is BIGINT-exact — no mean, no floats, bit-exact cross-engine.
    // The corpus collapses to the calendar-bounded daily table first; the
    // cumulative window runs over that tiny series only.
    // Plan shape: ONE corpus scan — the day/total denominators come from
    // whole-input window frames over the SAME tiny daily table (which
    // the injected GlobalRowNumberRewrite re-plans as a broadcast scalar
    // aggregate), not from a second aggregation of the corpus.
    "q_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .select(col("day"), col("cnt"),
          sum(col("cnt")).over(wCum).cast("long").as("cum_cnt"),
          row_number().over(Window.orderBy(col("day")))
            .cast("long").as("t"),
          count(lit(1)).over(wAll).cast("long").as("days"),
          sum(col("cnt")).over(wAll).cast("long").as("total"))
        .select(col("day"), col("cnt"), col("cum_cnt"),
          (col("days") * col("cum_cnt") - col("t") * col("total"))
            .as("s_scaled"))
    }),

    // §2.8: POPULATION STABILITY INDEX — the standard ML-monitoring
    // drift metric between the first and second half of the order
    // history (split at the data-derived midpoint DAY, buckets = the
    // closed priority dictionary). ONE corpus scan to the
    // (bucket, day) cell table; halves, bucket counts and the
    // Σ (p−q)·ln(p/q) fold all run on the calendar-bounded remainder.
    // ln is not correctly-rounded cross-engine, so the output rounds to
    // 6 dp — the q_entropy precedent.
    "q_psi" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wDays = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("bucket"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .select(col("bucket"), col("day"), col("cnt"),
          min(col("day")).over(wDays).as("d0"),
          max(col("day")).over(wDays).as("d1"))
        .withColumn("half",
          when(datediff(col("day"), col("d0")) * 2 <=
            datediff(col("d1"), col("d0")), lit("e")).otherwise(lit("a")))
        .groupBy(col("bucket"))
        .agg(sum(when(col("half") === "e", col("cnt")).otherwise(0L))
            .cast("long").as("ne"),
          sum(when(col("half") === "a", col("cnt")).otherwise(0L))
            .cast("long").as("na"))
        .agg(sort_array(collect_list(struct(col("bucket"), col("ne"),
          col("na")))).as("bs"))
        .selectExpr(
          "cast(size(bs) as bigint) AS n_buckets",
          "aggregate(bs, cast(0 as bigint), (a, b) -> a + b.ne)" +
            " AS n_expected",
          "aggregate(bs, cast(0 as bigint), (a, b) -> a + b.na)" +
            " AS n_actual",
          "bs")
        .selectExpr("n_buckets", "n_expected", "n_actual",
          """round(aggregate(filter(bs, b -> b.ne > 0L AND b.na > 0L),
               cast(0.0 as double), (acc, b) ->
                 acc + (cast(b.ne as double) / cast(n_expected as double)
                        - cast(b.na as double) / cast(n_actual as double))
                   * ln((cast(b.ne as double) / cast(n_expected as double))
                        / (cast(b.na as double)
                           / cast(n_actual as double)))),
             6) AS psi""")
    }),

    // §2.8: THEIL'S U (uncertainty coefficient) — the directional
    // categorical-association measure beside the symmetric χ²/V family:
    // U(flag|status) = (H(X) − H(X|Y)) / H(X) from the SAME one-scan
    // joint-cell decomposition as q_chi_square, with the entropy sums as
    // folds over the collected cells/marginals. log2 rounds to 6 dp on
    // both engines (the q_entropy precedent).
    "q_theil_u" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("f"), col("l_linestatus").as("st"))
        .agg(count(lit(1)).cast("long").as("o"))
        .agg(sort_array(collect_list(struct(col("f"), col("st"), col("o"))))
          .as("cs"))
        .selectExpr("cs",
          "aggregate(cs, cast(0 as bigint), (a, x) -> a + x.o) AS nn")
        .repartition(1)
        .selectExpr("nn",
          """aggregate(transform(
               array_sort(array_distinct(transform(cs, c -> c.f))), v ->
               aggregate(cs, cast(0 as bigint),
                 (a, c) -> IF(c.f = v, a + c.o, a))),
             cast(0.0 as double),
             (a, m) -> a + cast(m as double) * log2(cast(m as double)))
             AS rlog""",
          """aggregate(transform(
               array_sort(array_distinct(transform(cs, c -> c.st))), v ->
               aggregate(cs, cast(0 as bigint),
                 (a, c) -> IF(c.st = v, a + c.o, a))),
             cast(0.0 as double),
             (a, m) -> a + cast(m as double) * log2(cast(m as double)))
             AS clog""",
          """aggregate(cs, cast(0.0 as double), (a, c) ->
               a + cast(c.o as double) * log2(cast(c.o as double)))
             AS olog""")
        .selectExpr("nn AS n_rows",
          "round(log2(cast(nn as double)) - rlog / cast(nn as double), 6)" +
            " AS h_x",
          "round((clog - olog) / cast(nn as double), 6) AS h_x_given_y",
          """round((log2(cast(nn as double)) - rlog / cast(nn as double)
                    - (clog - olog) / cast(nn as double))
                   / (log2(cast(nn as double)) - rlog / cast(nn as double)),
             6) AS theil_u""")
    }),

    // §2.8: WALD-WOLFOWITZ runs test — the randomness screen for the
    // daily series (trend or oscillation both shrink/inflate the run
    // count). Reference level = the LOWER MEDIAN (element (n+1) div 2 of
    // the sorted counts — exact, no interpolation), ties dropped per the
    // textbook treatment; the run count, n₁/n₂ and the tie count are all
    // integer folds over the day-ordered sign list; expectation and the
    // z-score finalize in matched double op order. ONE corpus scan —
    // everything after the daily aggregate folds over one collected
    // calendar-bounded array.
    "q_runs_test" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(struct(col("day"), col("cnt"))))
          .as("ds"))
        .selectExpr("ds",
          "element_at(array_sort(transform(ds, d -> d.cnt))," +
            " cast((size(ds) + 1) div 2 as int)) AS med")
        .repartition(1) // barrier: keep the median computed once
        .selectExpr("med", "cast(size(ds) as bigint) AS n_days",
          "filter(transform(ds, d -> IF(d.cnt > med, 1," +
            " IF(d.cnt < med, -1, 0))), s -> s != 0) AS sg")
        .repartition(1)
        .selectExpr("n_days", "med",
          "cast(aggregate(sg, 0, (a, x) -> a + IF(x = 1, 1, 0)) as bigint)" +
            " AS n1",
          "cast(aggregate(sg, 0, (a, x) -> a + IF(x = -1, 1, 0)) as bigint)" +
            " AS n2",
          "cast(n_days - size(sg) as bigint) AS n_ties",
          // sequence(2, k) guard: k < 2 would yield a DESCENDING [2, k]
          "cast(IF(size(sg) < 2, size(sg), 1 + aggregate(" +
            "sequence(2, size(sg)), 0, (a, i) -> a + " +
            "IF(element_at(sg, i) != element_at(sg, i - 1), 1, 0)))" +
            " as bigint) AS runs")
        .selectExpr("n_days", "med", "n1", "n2", "n_ties", "runs",
          // try_divide, not '/': a fully-tied series (n1 = n2 = 0 —
          // happens at tiny SF) must yield NULL like DuckDB's
          // double-division-by-zero, not an ANSI error; on any
          // non-degenerate input try_divide IS '/' bit-for-bit
          "1.0 + try_divide(cast(2 * n1 * n2 as double)," +
            " cast(n1 + n2 as double)) AS e_runs",
          """try_divide(cast(runs as double) -
              (1.0 + try_divide(cast(2 * n1 * n2 as double),
                                cast(n1 + n2 as double))),
             sqrt(try_divide(cast(2 * n1 * n2 as double)
                 * (cast(2 * n1 * n2 as double) - cast(n1 + n2 as double)),
                 cast(n1 + n2 as double) * cast(n1 + n2 as double)
                    * (cast(n1 + n2 as double) - 1.0)))) AS z""")
    }),

    // §2.8: runtime bloom-filter join pruning — the semi-join-reduction
    // lever at 100 TB: a selective dimension filter materializes a bloom
    // filter that the FACT scan applies before the shuffle, so rows that
    // cannot join never leave the scan. Spark injects it only when the
    // application side outweighs the scan threshold (10 GB default — real
    // at scale); the face pins the thresholds so the test-SF plan is the
    // 100 TB plan, and a spec asserts the BloomFilterMightContain probe.
    // Result is filter-independent (FULL oracle)
    "q_runtime_filter" -> ((s, dir) => {
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val old = keys.map(k => k -> s.conf.getOption(k)).toMap
      try {
        s.conf.set(keys(0), "0")
        s.conf.set(keys(1), "-1") // shuffle join: the case runtime filters serve
        s.conf.set(keys(2), "-1")
        val orders = Tables.load(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val li = Tables.load(s, dir, "lineitem")
        // force evaluation INSIDE the pinned-conf scope: the collected
        // result is the face's output (aggregate-sized, 1 row)
        val out = li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast(DecimalType(18, 4))).cast("double").as("revenue"))
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // §2.8: range-containment join via binning — customers matched to
    // every supplier whose acctbal band (±5) contains theirs. The naive
    // ON v BETWEEN lo AND hi plan is a nested-loop scan; binning (width
    // 16, a power of two so the bin division is IEEE-exact) makes it a
    // plain equi join both sides shuffle-partition on
    "q_range_join" -> ((s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val supp = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_acctbal"),
          (col("s_acctbal") - lit(5.0)).as("__lo"),
          (col("s_acctbal") + lit(5.0)).as("__hi"))
      graft.operators.RangeJoin
        .binned(cust, "c_acctbal", supp, "__lo", "__hi", binWidth = 16.0)
        .select(col("c_custkey"), col("s_suppkey"),
          col("c_acctbal"), col("s_acctbal"))
    }),

    // §2.9: funnel analysis — the product-analytics staple over the event
    // stream: how many users reached view, view→click, view→click→purchase
    // in temporal order. ONE shuffle (the per-user min-ts aggregate; the
    // final rollup is aggregate-sized), integer counts only — bit-exact.
    // Step ordering uses <= so same-instant steps count as reached, the
    // deterministic choice both engines share.
    "q_funnel" -> ((s, dir) => {
      val perUser = Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      val f = perUser.agg(
        count(lit(1)).cast("long").as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_view"),
        sum(when(col("t_view") <= col("t_click"), 1L).otherwise(0L))
          .cast("long").as("n_view_click"),
        sum(when(col("t_view") <= col("t_click") &&
          col("t_click") <= col("t_buy"), 1L).otherwise(0L))
          .cast("long").as("n_view_click_buy"))
      f.select(
        explode(array(
          struct(lit(1L).as("step"), lit("all_users").as("name"),
            col("n_users").as("n")),
          struct(lit(2L).as("step"), lit("view").as("name"),
            col("n_view").as("n")),
          struct(lit(3L).as("step"), lit("view>click").as("name"),
            col("n_view_click").as("n")),
          struct(lit(4L).as("step"), lit("view>click>purchase").as("name"),
            col("n_view_click_buy").as("n")))).as("r"))
        .select(col("r.step").as("step"), col("r.name").as("name"),
          col("r.n").as("n_users"))
    }),

    // §2.9: cohort retention — users bucketed by first-seen week, activity
    // counted per (cohort_week, active_week). ONE shuffle on user_id: a
    // single per-user aggregate computes both the cohort week (min) and
    // the distinct active-week set (collect_set, map-side-combinable and
    // bounded by calendar weeks in the data), replacing the r8
    // distinct+join shape that exchanged the event stream twice. After
    // explode, each user contributes each week at most once, so the rollup
    // is a plain count. date_trunc week is ISO-Monday in both engines;
    // integer counts — bit-exact.
    "q_cohort" -> ((s, dir) => {
      val perUser = Tables.load(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"),
          collect_set(col("week")).as("weeks"))
      perUser
        .select(col("cohort_week"), explode(col("weeks")).as("week"))
        .groupBy(col("cohort_week"), col("week"))
        .agg(count(lit(1)).cast("long").as("n_users"))
        .select(col("cohort_week"), col("week"),
          floor(datediff(col("week"), col("cohort_week")) / lit(7.0))
            .cast("long").as("week_no"),
          col("n_users"))
    }),

    // COHORT LTV — the revenue side of the retention story: per
    // (cohort_week, week-age) purchase cents, plus the CUMULATIVE
    // lifetime value each cohort has produced by that age. One user-min
    // join (broadcast-sized after aggregation), one rollup, one
    // cohort-keyed window over the rollup rows. Exact cents throughout.
    "q_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
      val firstWeek = ev
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      val rev = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"),
          round(col("value") * 100).cast("long").as("cents"))
      val rolled = rev.join(firstWeek, "user_id")
        .groupBy(col("cohort_week"),
          expr("CAST(datediff(week, cohort_week) div 7 AS BIGINT)")
            .as("week_no"))
        .agg(sum(col("cents")).cast("long").as("cents"))
      rolled.withColumn("cum_cents",
        sum(col("cents")).over(Window.partitionBy(col("cohort_week"))
          .orderBy(col("week_no"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
    }),

    // CART ABANDONMENT — the funnel at SESSION grain (q_funnel counts
    // users; operations wants per-session outcomes): sessions derive by
    // the q_sessionize 30-min strict-gap rule, each session flags
    // view/click/purchase presence, and the daily rollup reports
    // engaged and abandoned (viewed, never purchased) counts — all
    // exact int64.
    "q_cart_abandonment" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      Tables.load(s, dir, "events")
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wSeq)))
        .withColumn("brk",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("session_no"))
        .agg(date_trunc("day", min(col("ts"))).cast("date").as("day"),
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("v"),
          max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("p"))
        .groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("v")).cast("long").as("n_viewed"),
          sum(col("v") * col("c")).cast("long").as("n_engaged"),
          sum(col("p")).cast("long").as("n_purchased"),
          sum(col("v") * (lit(1L) - col("p"))).cast("long")
            .as("n_abandoned"))
    }),

    // TIME-TO-CONVERT — the latency distribution between funnel ends:
    // per user, first view to first LATER purchase, in exact micros;
    // the median reports as lower+upper middle of the sorted latencies
    // (the q_rolling_median half-sum trick — even counts never leave
    // int64). r11 collected the whole distribution into one array inside
    // an unpartitioned window; r12 rides [[Ranked.withGlobalRowNumber]]:
    // range-partitioned global ranks pick EXACTLY the two middle rows, so
    // no task ever holds more than its range slice (the r11 VERDICT #1
    // fix). Odd counts hit one row matching both target ranks — its lag
    // contributes twice, same as l[lo]+l[hi] with lo==hi.
    "q_conversion_lag" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("v_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      val lags = purchases.join(firstView, "user_id")
        .filter(col("p_us") >= col("v_us"))
        .groupBy(col("user_id"))
        .agg((min(col("p_us")) - max(col("v_us"))).as("lag_us"))
      val stats = lags
        .agg(count(lit(1)).cast("long").as("n_converted"),
          min(col("lag_us")).cast("long").as("min_lag_us"),
          max(col("lag_us")).cast("long").as("max_lag_us"))
        .withColumn("__k", expr("pmod(n_converted, 1)"))
      val med = Ranked.withGlobalRowNumber(lags, "grn",
          Seq(col("lag_us").asc, col("user_id").asc))
        .withColumn("__k", expr("pmod(grn, 1)"))
        .join(broadcast(stats.select(col("__k"), col("n_converted"))), "__k")
        .filter(col("grn") === expr("(n_converted + 1) div 2") ||
          col("grn") === expr("n_converted div 2 + 1"))
        .agg(sum(
          when(col("grn") === expr("(n_converted + 1) div 2"), col("lag_us"))
            .otherwise(0L) +
          when(col("grn") === expr("n_converted div 2 + 1"), col("lag_us"))
            .otherwise(0L)).cast("long").as("med2_lag_us"))
        .withColumn("__k", expr("pmod(coalesce(med2_lag_us, 0), 1)"))
      stats.join(broadcast(med), "__k").drop("__k")
        .select(col("n_converted"), col("min_lag_us"), col("max_lag_us"),
          col("med2_lag_us"))
    }),

    // ACTIVITY HEATMAP — the (weekday × hour) grid behind every usage
    // dashboard. Weekday derives from pure epoch-day arithmetic,
    // (days_since_epoch + 3) % 7 with Monday = 0, because the built-in
    // dow functions DISAGREE across engines (Spark's dayofweek is
    // Sunday=1, DuckDB's dayofweek Sunday=0) — the same
    // defaults-off-the-table move as q_null_ordering. Exact counts +
    // cents, one map-side-combinable aggregate.
    "q_activity_heatmap" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(
          expr("pmod(datediff(CAST(ts AS DATE), DATE '1970-01-01') + 3, 7)")
            .cast("long").as("dow_mon0"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(round(col("value") * 100).cast("long")).cast("long")
            .as("cents"))),

    // PEAK CONCURRENCY — the sweep-line operator over session intervals
    // (ops capacity planning: how many sessions were ever live at once).
    // Sessions derive exactly as q_sessionize (same 30-min strict-gap
    // rule); each [start, end] CLOSED interval emits +1/−1 endpoint
    // deltas, +1 sorting BEFORE −1 at equal micros (closed-interval
    // touch counts as overlap), and the running sum's max is the peak.
    // r11 ran the sweep in ONE unpartitioned window over 2×sessions
    // endpoint rows; r12 rides [[Ranked.withGlobalRunningSum]] — the
    // classic two-pass distributed prefix sum (range-partition by time,
    // per-partition partials, broadcast offsets), so every core sweeps
    // its own time slice (the r11 VERDICT #1 fix). The peak is
    // tie-order-independent: equal (us, d) rows carry equal deltas, so
    // maxima land at the end of same-sign runs regardless of tie order.
    "q_max_concurrency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val sessions = Tables.load(s, dir, "events")
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wSeq)))
        .withColumn("brk",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("session_no"))
        .agg(min(unix_micros(col("ts"))).as("s_us"),
          max(unix_micros(col("ts"))).as("e_us"))
      val deltas = sessions
        .select(col("s_us").as("us"), lit(1L).as("d"))
        .unionByName(sessions.select(col("e_us").as("us"), lit(-1L).as("d")))
      Ranked.withGlobalRunningSum(deltas, "live", col("d"),
          Seq(col("us").asc, col("d").desc))
        .agg(max(col("live")).cast("long").as("peak_concurrency"),
          count(lit(1)).cast("long").as("n_endpoints"))
    }),

    // SKYLINE / PARETO FRONTIER — the textbook dominance operator:
    // parts not STRICTLY dominated on (minimize price, maximize size) —
    // A dominates B iff A.price < B.price AND A.size > B.size. The naive
    // spelling is an O(n²) theta self-join (a cartesian the audit would
    // flag); one RANGE-frame window replaces it: ordered by price, a
    // part survives iff no strictly-cheaper part has a strictly larger
    // size — max(size) over all STRICTLY smaller prices ≤ own size.
    // Exact cents; since r12 the strict-preceding max runs distributed
    // ([[Ranked.withStrictPrecedingMax]]: per-range-slice RANGE-frame
    // max + broadcast prefix maxima of earlier slices) instead of one
    // unpartitioned RANGE window over the whole part catalog.
    "q_skyline" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
          round(col("p_retailprice") * 100).cast("long").as("cents"))
      Ranked.withStrictPrecedingMax(p, "best_cheaper", col("p_size"),
          col("cents"))
        .filter(col("best_cheaper").isNull ||
          col("best_cheaper") <= col("p_size"))
        .select(col("p_partkey"), col("p_size"), col("cents"))
    }),

    // DAU/MAU STICKINESS — the growth metric: per day, distinct daily
    // actives over distinct trailing-30-day actives. Exact path: each
    // (user, active-day) pair projects onto the ≤ 30 calendar days it
    // keeps the user "monthly active" for (a bounded explode — 30×
    // user-days, NOT user-days²), then one distinct + count per day. At
    // 100 TB the trailing distinct runs as mergeable HLL sketches per
    // day unioned over the window (the q_sketch_union posture); this
    // face pins the exact semantics that path approximates.
    "q_dau_mau" -> ((s, dir) => {
      val ud = Tables.load(s, dir, "events")
        .select(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).cast("long").as("dau"))
      val mau = ud
        .select(col("user_id"), explode(expr(
          "sequence(day, date_add(day, 29), interval 1 day)")).as("day"))
        .distinct()
        .groupBy(col("day"))
        .agg(count(lit(1)).cast("long").as("mau30"))
      // only days that actually occur in the data (the spine face covers
      // zero-fill; here the join prunes the 29-day tail past max(day))
      dau.join(mau, "day")
        .select(col("day"), col("dau"), col("mau30"),
          (col("dau").cast("double") / col("mau30").cast("double"))
            .as("stickiness"))
    }),

    // NEW vs RETURNING — the daily acquisition split every product
    // dashboard leads with: each event day per user classifies as the
    // user's FIRST day or a return; one user-min aggregate + one
    // broadcast-back join + a day rollup, all exact counts.
    "q_new_vs_returning" -> ((s, dir) => {
      val days = Tables.load(s, dir, "events")
        .select(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
      val firstDay = days.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      days.join(firstDay, "user_id")
        .groupBy(col("day"))
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .cast("long").as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
            .cast("long").as("n_returning"))
    }),

    // §2.9: event-transition counts (first-order Markov over the per-user
    // event sequence) — per-user lead() over (ts, event_id) needs ONE
    // shuffle on user; the (from, to) rollup is vocabulary-sized. The
    // END sentinel keeps terminal events accounted. coalesce (not lead's
    // default arg) so a genuinely-NULL next event_type ALSO maps to END,
    // matching the oracle's coalesce(lead(...), 'END') if the data ever
    // grows NULL event types. Integer counts — bit-exact.
    "q_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          coalesce(lead(col("event_type"), 1).over(w), lit("END"))
            .as("next_type"))
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).cast("long").as("n"))
    }),

    // LAST-TOUCH ATTRIBUTION — the marketing-analytics close of the
    // funnel family: each purchase credits the most recent preceding
    // touch (view/click/signup) in the user's stream, carried forward by
    // an IGNORE-NULLS last() window (the forward-fill primitive, also in
    // DuckDB); purchases with no prior touch credit DIRECT. Revenue in
    // exact cents; one user-keyed shuffle + a vocabulary-sized rollup.
    "q_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("touch",
          last(when(col("event_type").isin("view", "click", "signup"),
            col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("DIRECT")).as("credited"))
        .agg(count(lit(1)).cast("long").as("n_purchases"),
          sum(col("cents")).cast("long").as("revenue_cents"))
    }),

    // RATIO-TO-REPORT — share-of-total within a group: per-nation balance
    // cents against the region total, the two-level aggregate every BI
    // layer asks for. Sums stay exact int64; the ONE double division
    // happens last in the same op order both engines. The share window
    // runs over the 25 aggregated rows, never the base table.
    "q_share_of_total" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_name"))
        .agg(sum(round(col("c_acctbal") * 100).cast("long"))
          .cast("long").as("cents"))
        .select(col("n_regionkey").cast("long").as("n_regionkey"),
          col("n_name"), col("cents"),
          (col("cents").cast("double") /
            sum(col("cents")).over(Window.partitionBy(col("n_regionkey")))
              .cast("double")).as("share"))
    }),

    // Event-SEQUENCE pattern matching (the MATCH_RECOGNIZE / CEP shape as
    // a batch face): each user's journey renders to a compact one-char-
    // per-event string in deterministic (ts, event_id) order, and the
    // funnel pattern view→click*→purchase counts as leftmost
    // non-overlapping regex matches — identical greedy semantics in
    // Spark's Java regex and DuckDB's RE2 for this alternation-free
    // pattern. ONE user-keyed shuffle; per-user state is one char per
    // event (journeys, not raw rows), the standard CEP state bound —
    // sessionize first if a single key's history outgrows an executor.
    "q_seq_pattern" -> ((s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ch"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          array_join(
            transform(
              array_sort(collect_list(
                struct(col("ts"), col("event_id"), col("ch")))),
              x => x.getField("ch")), "").as("seq"))
        .select(col("user_id"), col("n_events"),
          expr("CAST(size(regexp_extract_all(seq, 'vc*p', 0)) AS BIGINT)")
            .as("n_funnels"))),

    // §2.12: deterministic weighted PageRank over the event-transition
    // graph (which event type is central in user journeys) — 5 fixed
    // power iterations, EVERY quantity an int64 at scale 10⁹ and every
    // division an integral floor, so the ranks are bit-identical across
    // engines and partitionings (float PageRank cannot promise that —
    // summation order). The END sentinel is the graph's dangling sink.
    "q_pagerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val edges = Tables.load(s, dir, "events")
        .select(col("event_type").as("src"),
          coalesce(lead(col("event_type"), 1).over(w), lit("END")).as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("long").as("w"))
      graft.operators.Graph.pageRankInt(edges, iters = 5)
    }),

    // §2.13: bounded-round frontier BFS — shortest hop counts from the
    // smallest user over the co-activity graph (users touching the same
    // event type within 60 s), reported as a hops histogram. The graph is
    // DERIVED relationally (one window pass), the traversal is the Pregel
    // posture (per-round frontier⋈edges + visited anti-join — a recursive
    // UNION ALL closure would materialize path multiplicity), and hop
    // integers are partitioning-proof. Gap compares in exact microseconds:
    // both engines floor nanos→micros BEFORE subtracting, so a boundary
    // pair can't flip.
    "q_bfs_reach" -> ((s, dir) => {
      val e0 = coActivityEdges(s, dir)
      val edges = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e0.select(col("b").as("src"), col("a").as("dst")))
      val src = Tables.load(s, dir, "events").agg(min(col("user_id")).as("node"))
      graft.operators.Graph.bfsHops(edges, src, maxHops = 8)
        .groupBy(col("hops")).agg(count(lit(1)).as("n_users"))
    }),

    // §2.13: exact triangle/wedge census over the same co-activity graph —
    // the canonical-orientation (a<b<c) two-join enumeration plus the
    // degree-aggregate wedge count, all int64 (global clustering numerator
    // 3·triangles comes with it for free).
    "q_triangles" -> ((s, dir) =>
      graft.operators.Graph.triangleStats(coActivityEdges(s, dir))),

    // §2.13: bounded-round SSSP (Bellman-Ford sweeps) — integer-weighted
    // shortest paths from the smallest user over the co-activity graph,
    // weights = the pair's fastest observed interaction (min gap seconds
    // + 1, strictly positive ints). After 6 sweeps every node holds the
    // exact minimum over ≤6-edge paths; the oracle replays the SAME six
    // min-join sweeps as unrolled CTEs (the pageRankInt discipline), so
    // costs match bit-for-bit under any partitioning.
    "q_shortest_paths" -> ((s, dir) => {
      val e0 = coActivityWeightedEdges(s, dir)
      val edges = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(e0.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val src = Tables.load(s, dir, "events").agg(min(col("user_id")).as("node"))
      graft.operators.Graph.ssspInt(edges, src, rounds = 6)
        .select(col("node").as("user_id"), col("cost"))
    }),

    // k-CORE decomposition (bounded-round peeling) over the same
    // co-activity graph — the graph-pruning primitive the suite lacked:
    // who remains after everyone with < 3 stable interactions (and the
    // edges they carried) is iteratively removed. 3 fixed peels, each a
    // degree aggregate + two node-id equi-joins; the oracle unrolls the
    // SAME 3 rounds as CTEs (ssspInt discipline), int64 throughout.
    "q_kcore" -> ((s, dir) =>
      graft.operators.Graph.kcore(coActivityEdges(s, dir), k = 3, rounds = 3)
        .select(col("node").as("user_id"), col("deg"))),

    // §2.13: community MODULARITY — the quality score for a graph
    // partition (how much denser inside communities than a random graph
    // with the same degrees). Communities = bounded-round min-label
    // propagation (8 supersteps — the bfsHops discipline: a DEFINED
    // quantity on both engines regardless of convergence); the score
    // stays INTEGER until one final division via
    // Q·4m² = 4m·intra − Σ_c d_c².
    "q_modularity" -> ((s, dir) => {
      val edges = coActivityEdges(s, dir)
      val lab = graft.operators.Graph.labelPropagate(edges, rounds = 8)
      val la = lab.toDF("a", "la")
      val lb = lab.toDF("b", "lb")
      val em = edges.join(la, "a").join(lb, "b")
        .agg(count(lit(1)).cast("long").as("m"),
          sum(when(col("la") === col("lb"), 1L).otherwise(0L))
            .cast("long").as("intra"))
      val sums = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).cast("long").as("deg"))
        .join(lab, "v")
        .groupBy(col("l")).agg(sum(col("deg")).cast("long").as("d_c"))
        .agg(count(lit(1)).cast("long").as("n_comm"),
          sum(col("d_c") * col("d_c")).cast("long").as("sum_dc2"))
      // derived 1-row join key (pmod, the repo idiom): a literal key
      // constant-folds to true and degrades the join to BNLJ
      em.withColumn("k", pmod(col("m"), lit(1)))
        .join(sums.withColumn("k", pmod(col("n_comm"), lit(1))), "k")
        .select(col("m").as("n_edges"), col("intra").as("intra_edges"),
          col("n_comm").as("n_communities"), col("sum_dc2"),
          (lit(4L) * col("m") * col("intra") - col("sum_dc2")).as("q_num"),
          ((lit(4L) * col("m") * col("intra") - col("sum_dc2"))
            .cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double")).as("modularity"))
    }),

    // §2.13: degree ASSORTATIVITY — Newman's r over the co-activity
    // graph: do well-connected users interact with well-connected users?
    // Integer degrees ⇒ the five moments accumulate exactly as
    // DECIMAL(38,0); the final Pearson follows q_corr's double op order,
    // so the face is bit-exact cross-engine.
    "q_assortativity" -> ((s, dir) =>
      graft.operators.Graph.assortativity(coActivityEdges(s, dir))),

    // §2.13: LINK PREDICTION — common-neighbor counts + Jaccard (basis
    // points, integer-exact) for the top-20 NON-adjacent pairs: "who
    // should be interacting but isn't yet". Wedge enumeration is the
    // triangle-census posture; the top-k is a TakeOrdered on a total
    // order, never a global sort.
    "q_link_predict" -> ((s, dir) =>
      graft.operators.Graph.linkPredict(coActivityEdges(s, dir), k = 20)),

    // §2.13: BATCH sessionization — the lag/cumsum form of the streaming
    // session faces, run corpus-wide: a strictly-greater-than-30-min
    // silence splits (the same `>` boundary semantics the session_window
    // faces pin), session ids are per-user running sums, and the rollup
    // reports sessions/events/longest-session per user. One user-keyed
    // window + two map-side-combinable aggregates; gaps compare in exact
    // microseconds.
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wSeq)))
        .withColumn("brk",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_ev"))
        .groupBy(col("user_id"))
        .agg(max(col("session_no")).as("n_sessions"),
          sum(col("n_ev")).as("n_events"),
          max(col("n_ev")).as("max_session_events"))
    }),

    // §2.13: gaps-and-islands — longest consecutive-active-day streak per
    // user: the row_number-difference trick (day − rn is constant within
    // a consecutive run) keeps the whole computation in ONE user-keyed
    // window + two aggregates; a self-join formulation would be quadratic
    // in active days. All date/integer arithmetic — no cross-engine
    // boundary to flip.
    "q_streaks" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val days = Tables.load(s, dir, "events")
        .select(col("user_id"),
          date_trunc("day", col("ts")).cast("date").as("day"))
        .distinct()
      days
        .withColumn("island", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(sum(col("len")).cast("long").as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest_streak"))
    }),

    // §2.13: incremental aggregate maintenance — the materialized-rollup
    // posture: the pre-split history lives as a PERSISTED month-level
    // rollup (written once; at 100 TB that history is never re-scanned),
    // the face aggregates only the DELTA and merges partial states
    // (sum/count are mergeable), and the oracle recomputes the full
    // GROUP BY from raw orders — proving state + delta ≡ recompute.
    // Decimal partials keep the merge exact under any shuffle order.
    "q_incr_agg" -> ((s, dir) => {
      val state = s.read.parquet(revenueRollup(s, dir))
      val delta = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= "1997-07-01 00:00:00")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(dec2(col("o_totalprice"))).as("price_sum"),
          count(lit(1)).as("n"))
      state.unionByName(delta)
        .groupBy(col("month"))
        .agg(sum(col("n")).cast("long").as("n_orders"),
          sum(col("price_sum")).cast("double").as("total_price"))
    }),

    // §2.14: RETRACTION-AWARE incremental view maintenance — q_incr_agg
    // handles append-only deltas; real CDC feeds carry UPDATES and
    // DELETES too. The change stream (same v1→v2 transformation as
    // q_table_diff: %97 deleted, %31 repriced, %53 re-inserted under new
    // keys) compiles to SIGNED partials — an update retracts the old row
    // (−1, −price) and inserts the new, a delete retracts — and the
    // persisted full-history rollup merges them exactly like the
    // append-only face: sum/count are abelian-group aggregates, so
    // retraction is just a negative partial. The oracle recomputes the
    // v2 rollup from scratch, proving state ⊕ signed-delta ≡ recompute.
    // Decimal partials keep every merge exact under any shuffle order; a
    // group whose count nets to zero leaves the view (the retraction
    // semantics a MAX/MIN aggregate could NOT support without a rescan —
    // that's the documented boundary of the signed-partial technique).
    "q_incr_agg_cdc" -> ((s, dir) => {
      val state = s.read.parquet(fullRollup(s, dir))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val month = date_trunc("month", col("o_orderdate")).cast("date")
      val k = col("o_orderkey")
      val del = o.filter(k % 97 === 0)
        .select(month.as("month"), lit(-1L).as("sgn"),
          col("o_totalprice").as("p"))
      val updOld = o.filter(k % 31 === 0 && k % 97 =!= 0)
        .select(month.as("month"), lit(-1L).as("sgn"),
          col("o_totalprice").as("p"))
      val updNew = o.filter(k % 31 === 0 && k % 97 =!= 0)
        .select(month.as("month"), lit(1L).as("sgn"),
          (col("o_totalprice") + 1.0).as("p"))
      val ins = o.filter(k % 53 === 0)
        .select(month.as("month"), lit(1L).as("sgn"),
          col("o_totalprice").as("p"))
      val partials = del.unionByName(updOld).unionByName(updNew)
        .unionByName(ins)
        .groupBy(col("month"))
        .agg(sum(dec2(col("p")) * col("sgn")).as("price_sum"),
          sum(col("sgn")).as("n"))
      state.unionByName(partials)
        .groupBy(col("month"))
        .agg(sum(col("n")).cast("long").as("n_orders"),
          sum(col("price_sum")).cast("double").as("total_price"))
        .filter(col("n_orders") > 0)
    })
  )

  /** Memoized month-level revenue rollup of the PRE-SPLIT order history —
    * the persisted aggregate state the incremental-maintenance face merges
    * delta partials into. Written once per sf dir. */
  private val rollupCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def revenueRollup(s: SparkSession, dir: String): String =
    memo(rollupCache, dir) { d =>
      val out = graft.Scratch.dir("graft_rollup_")
        .resolve("state").toString
      Tables.load(s, d, "orders")
        .filter(col("o_orderdate") < "1997-07-01 00:00:00")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(dec2(col("o_totalprice"))).as("price_sum"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Memoized FULL-history month rollup (the retraction face's persisted
    * state — every order, no date split). Written once per sf dir. */
  private val fullRollupCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fullRollup(s: SparkSession, dir: String): String =
    memo(fullRollupCache, dir) { d =>
      val out = graft.Scratch.dir("graft_rollup_full_")
        .resolve("state").toString
      Tables.load(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(sum(dec2(col("o_totalprice"))).as("price_sum"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Shared base of the co-activity graph faces: one (a < b, gap_us) row
    * per adjacent same-event_type user pair within 60 s. The gap bound,
    * tie-break ordering and self-pair filter live HERE only, so the
    * BFS/triangle faces and the weighted SSSP face can never
    * desynchronize. */
  private def coActivityPairStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"),
        lag(col("user_id"), 1).over(w).as("prev_user"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
          .as("gap_us"))
      .filter(col("prev_user").isNotNull && col("prev_user") =!= col("user_id") &&
        col("gap_us") <= 60000000L)
      .select(least(col("user_id"), col("prev_user")).as("a"),
        greatest(col("user_id"), col("prev_user")).as("b"), col("gap_us"))
  }

  /** Memoized per-pair aggregate of the co-activity stream, persisted once
    * per sf dir: (a < b, min_gap_us). BFS, triangles and SSSP each start
    * from this table, so the window-derived edge build (the expensive
    * event scan) runs ONCE instead of once per graph face — the graph
    * faces then measure TRAVERSAL, not derivation (r10 VERDICT item 6).
    * At 100 TB this is exactly the posture you'd take: derive the edge
    * list in the ingest pass, persist it, run every graph algorithm
    * against the persisted table. */
  private val coActCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def coActivityPairsPath(s: SparkSession, dir: String): String =
    memo(coActCache, dir) { d =>
      val out = graft.Scratch.dir("graft_coact_")
        .resolve("pairs").toString
      coActivityPairStream(s, d)
        .groupBy(col("a"), col("b"))
        .agg(min(col("gap_us")).as("min_gap_us"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Canonical undirected co-activity edges (a < b, deduplicated) — the
    * BFS and triangle faces' edge set (the per-pair aggregate subsumes
    * distinct). */
  private def coActivityEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(coActivityPairsPath(s, dir)).select(col("a"), col("b"))

  /** Weighted variant: per canonical pair, the FASTEST observed
    * interaction as an integer weight (min(gap_us) div 10⁶ + 1 —
    * strictly positive, exact). */
  private def coActivityWeightedEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(coActivityPairsPath(s, dir))
      // `div`, not `/`: Column `/` on longs is DOUBLE division
      .select(col("a"), col("b"),
        (expr("min_gap_us div 1000000") + 1L).as("w"))

  def oracleSql: Map[String, String] = Map(
    // the genuine IMPORT DATABASE verb over the Spark-exported artifact
    // (Verify dumps all faces before oracle SQL runs, so the directory
    // exists); digest = q_table_checksum's hex-fold spelling
    "q_export_import" ->
      """DETACH DATABASE IF EXISTS imp;
         ATTACH ':memory:' AS imp;
         USE imp;
         IMPORT DATABASE '/tmp/graft_export_spark';
         USE memory;
         WITH dig AS (
           SELECT 'nation_t' AS tbl,
                  md5(concat_ws('|', n_nationkey, n_name, n_regionkey)) AS h
           FROM imp.nation_t
           UNION ALL
           SELECT 'region_t', md5(concat_ws('|', r_regionkey, r_name))
           FROM imp.region_t
           UNION ALL
           SELECT 'supplier_t',
                  md5(concat_ws('|', s_suppkey, s_name, s_nationkey,
                    CAST(round(s_acctbal * 100) AS BIGINT)))
           FROM imp.supplier_t)
         SELECT tbl, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(list_reduce(list_prepend(0::BIGINT,
                  list_transform(generate_series(1, 8),
                    i -> (instr('0123456789abcdef', substr(h, i, 1)) - 1)::BIGINT)),
                  (acc, x) -> acc * 16 + x)) AS BIGINT) AS checksum
         FROM dig GROUP BY 1""",
    "q_funnel" ->
      """WITH per_user AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
           FROM events GROUP BY user_id),
         f AS (
           SELECT count(*) AS n_users,
                  sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS n_view,
                  sum(CASE WHEN t_view <= t_click THEN 1 ELSE 0 END) AS n_view_click,
                  sum(CASE WHEN t_view <= t_click AND t_click <= t_buy
                           THEN 1 ELSE 0 END) AS n_view_click_buy
           FROM per_user)
         SELECT CAST(s.step AS BIGINT) AS step, s.name,
                CAST(CASE s.step WHEN 1 THEN n_users WHEN 2 THEN n_view
                     WHEN 3 THEN n_view_click ELSE n_view_click_buy
                END AS BIGINT) AS n_users
         FROM f, (VALUES (1, 'all_users'), (2, 'view'), (3, 'view>click'),
                         (4, 'view>click>purchase')) s(step, name)""",
    "q_cohort" ->
      """WITH ev AS (
           SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
           FROM events),
         cohort AS (
           SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
         active AS (SELECT DISTINCT user_id, week FROM ev)
         SELECT c.cohort_week, a.week,
                CAST(floor((a.week - c.cohort_week) / 7.0) AS BIGINT) AS week_no,
                CAST(count(*) AS BIGINT) AS n_users
         FROM active a JOIN cohort c ON a.user_id = c.user_id
         GROUP BY 1, 2, 3""",
    "q_transitions" ->
      """SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT event_type,
                      coalesce(lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id), 'END') AS next_type
               FROM events) t
         GROUP BY 1, 2""",
    "q_pagerank" ->
      """WITH e AS (
           SELECT event_type AS src, next_type AS dst,
                  CAST(count(*) AS BIGINT) AS w
           FROM (SELECT event_type,
                        coalesce(lead(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id), 'END') AS next_type
                 FROM events) t
           GROUP BY 1, 2),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         wdeg AS (SELECT src, sum(w) AS wdeg FROM e GROUP BY 1),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
         r1 AS (SELECT n.node, 150000000 + (coalesce(s.c, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN (
                  SELECT e.dst, sum((r.rank * e.w) // d.wdeg) AS c
                  FROM e JOIN r0 r ON e.src = r.node
                  JOIN wdeg d ON e.src = d.src GROUP BY 1) s
                ON n.node = s.dst),
         r2 AS (SELECT n.node, 150000000 + (coalesce(s.c, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN (
                  SELECT e.dst, sum((r.rank * e.w) // d.wdeg) AS c
                  FROM e JOIN r1 r ON e.src = r.node
                  JOIN wdeg d ON e.src = d.src GROUP BY 1) s
                ON n.node = s.dst),
         r3 AS (SELECT n.node, 150000000 + (coalesce(s.c, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN (
                  SELECT e.dst, sum((r.rank * e.w) // d.wdeg) AS c
                  FROM e JOIN r2 r ON e.src = r.node
                  JOIN wdeg d ON e.src = d.src GROUP BY 1) s
                ON n.node = s.dst),
         r4 AS (SELECT n.node, 150000000 + (coalesce(s.c, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN (
                  SELECT e.dst, sum((r.rank * e.w) // d.wdeg) AS c
                  FROM e JOIN r3 r ON e.src = r.node
                  JOIN wdeg d ON e.src = d.src GROUP BY 1) s
                ON n.node = s.dst),
         r5 AS (SELECT n.node, 150000000 + (coalesce(s.c, 0) * 85) // 100 AS rank
                FROM nodes n LEFT JOIN (
                  SELECT e.dst, sum((r.rank * e.w) // d.wdeg) AS c
                  FROM e JOIN r4 r ON e.src = r.node
                  JOIN wdeg d ON e.src = d.src GROUP BY 1) s
                ON n.node = s.dst)
         SELECT node, CAST(rank AS BIGINT) AS rank FROM r5""",
    // DuckDB's NATIVE quantile_disc on the oracle side
    "q_percentile_disc" ->
      """SELECT l_returnflag AS flag,
                quantile_disc(l_extendedprice, 0.25) AS p25,
                quantile_disc(l_extendedprice, 0.5) AS p50,
                quantile_disc(l_extendedprice, 0.75) AS p75
         FROM lineitem GROUP BY 1""",
    "q_weighted_median" ->
      """WITH r AS (
           SELECT l_extendedprice AS v,
                  sum(CAST(l_quantity AS BIGINT)) OVER (
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                  sum(CAST(l_quantity AS BIGINT)) OVER () AS tw
           FROM lineitem)
         SELECT min(v) AS weighted_median,
                cast(min(tw) AS BIGINT) AS total_weight
         FROM r WHERE cw * 2 >= tw""",
    // native window ntile on the oracle side (the pipeline_curriculum
    // discipline applied to histogram bucketing)
    "q_histogram_eqdepth" ->
      """WITH b AS (
           SELECT l_extendedprice,
                  CAST(ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey,
                    l_linenumber) AS BIGINT) AS bucket
           FROM lineitem)
         SELECT bucket, count(*) AS n,
                min(l_extendedprice) AS lo,
                max(l_extendedprice) AS hi,
                CAST(CAST(sum(cast(l_extendedprice AS decimal(18,2)))
                  AS STRING) AS DOUBLE) AS mass
         FROM b GROUP BY 1""",
    // decimal→string rendering is identical cross-engine (double→string
    // is not); ln(x)/ln(10) spelled as log10 on both sides, rounded 6 dp
    "q_benford" ->
      """WITH d AS (
           SELECT regexp_extract(
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                    '[1-9]', 0) AS digit
           FROM orders),
         t AS (SELECT count(*) AS total FROM d)
         SELECT digit, count(*) AS n,
                CAST(count(*) AS DOUBLE) / max(t.total) AS pct_obs,
                round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
                  AS pct_benford
         FROM d, t GROUP BY digit""",
    "q_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
                count(*) AS n,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS mass
         FROM lineitem GROUP BY 1""",
    "q_table_diff" ->
      """WITH v1 AS (
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
         v2 AS (
           SELECT o_orderkey, o_custkey,
                  CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice
           FROM v1 WHERE o_orderkey % 97 <> 0
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_totalprice
           FROM v1 WHERE o_orderkey % 53 = 0),
         d AS (
           SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS k,
                  CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                       WHEN v2.o_orderkey IS NULL THEN 'removed'
                       WHEN v1.o_custkey IS DISTINCT FROM v2.o_custkey
                         OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
                         THEN 'changed'
                       ELSE 'same' END AS diff_class
           FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
         SELECT diff_class, count(*) AS n,
                CAST(sum(k) AS BIGINT) AS key_sum
         FROM d GROUP BY 1""",
    // same decimal moments, same double op order; sqrt is correctly
    // rounded by IEEE so every output bit matches
    "q_corr" ->
      """WITH a AS (
           SELECT count(*) AS n, count(*)::DOUBLE AS nd,
                  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS syy,
                  CAST(CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sxy
           FROM lineitem)
         SELECT n AS n_rows,
                sqrt(nd * sxx - sx * sx) / nd AS q_std,
                sqrt(nd * syy - sy * sy) / nd AS price_std,
                (nd * sxy - sx * sy) /
                  (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
                  AS corr_q_price
         FROM a""",
    // same doubled-rank distinct-value decomposition, same decimal sums,
    // same final op order (DuckDB's window sum promotes to HUGEINT; the
    // VALUES are identical so the decimal casts agree)
    "q_spearman" ->
      """WITH rows0 AS (SELECT l_quantity AS x, l_discount AS y FROM lineitem),
         xc AS (SELECT x AS v, count(*)::BIGINT AS cnt FROM rows0 GROUP BY 1),
         xr AS (SELECT v, 2 * coalesce(sum(cnt) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cnt + 1 AS xr2 FROM xc),
         yc AS (SELECT y AS v, count(*)::BIGINT AS cnt FROM rows0 GROUP BY 1),
         yr AS (SELECT v, 2 * coalesce(sum(cnt) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cnt + 1 AS yr2 FROM yc),
         j AS (SELECT xr2, yr2
               FROM rows0 JOIN xr ON rows0.x = xr.v JOIN yr ON rows0.y = yr.v),
         a AS (SELECT count(*) AS n, count(*)::DOUBLE AS nd,
                 CAST(CAST(sum(CAST(xr2 AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sx,
                 CAST(CAST(sum(CAST(yr2 AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sy,
                 CAST(CAST(sum(CAST(xr2 * xr2 AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sxx,
                 CAST(CAST(sum(CAST(yr2 * yr2 AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS syy,
                 CAST(CAST(sum(CAST(xr2 * yr2 AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sxy
               FROM j)
         SELECT n AS n_rows,
                (nd * sxy - sx * sy) /
                  (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
                  AS spearman_rho
         FROM a""",
    // same joint-cell pair counting (the oracle spells the nested fold as
    // a self-join of the 550-row cell CTE), same tie terms, same final
    // division order
    "q_kendall" ->
      """WITH cells AS (SELECT l_quantity AS x, l_discount AS y,
                          count(*)::BIGINT AS cnt
                        FROM lineitem GROUP BY 1, 2),
         pairs AS (SELECT
             CAST(sum(a.cnt * b.cnt * CASE WHEN (b.x > a.x AND b.y > a.y)
               OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END) AS BIGINT)
               AS c2,
             CAST(sum(a.cnt * b.cnt * CASE WHEN (b.x > a.x AND b.y < a.y)
               OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END) AS BIGINT)
               AS d2
           FROM cells a CROSS JOIN cells b),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
         xm AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS nx
                FROM (SELECT CAST(sum(cnt) AS BIGINT) AS m
                      FROM cells GROUP BY x)),
         ym AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS ny
                FROM (SELECT CAST(sum(cnt) AS BIGINT) AS m
                      FROM cells GROUP BY y))
         SELECT n AS n_rows, c2 // 2 AS concordant, d2 // 2 AS discordant,
                CAST((c2 - d2) // 2 AS DOUBLE) /
                (sqrt(CAST(n * (n - 1) // 2 - nx AS DOUBLE)) *
                 sqrt(CAST(n * (n - 1) // 2 - ny AS DOUBLE))) AS tau_b
         FROM pairs CROSS JOIN tot CROSS JOIN xm CROSS JOIN ym""",
    // pooled doubled ranks, BIGINT-exact U; the halving is the only double
    "q_mannwhitney" ->
      """WITH rows0 AS (SELECT l_returnflag AS g, l_quantity AS v
                        FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         c AS (SELECT v, count(*)::BIGINT AS cnt FROM rows0 GROUP BY 1),
         r AS (SELECT v, CAST(2 * coalesce(sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + cnt + 1 AS BIGINT) AS r2 FROM c),
         j AS (SELECT g, r2 FROM rows0 JOIN r USING (v)),
         a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(r2) AS BIGINT) AS rank_sum2
               FROM j GROUP BY g)
         SELECT g, n, rank_sum2,
                rank_sum2 - n * (n + 1) AS u2,
                CAST(rank_sum2 - n * (n + 1) AS DOUBLE) / 2.0 AS u
         FROM a""",
    // same cell/margin decomposition; the cross-cell total is a LEFT fold
    // over the (f, st)-sorted list on both engines (0.0 + x = x exactly,
    // so the 0.0-seeded Spark fold equals DuckDB's first-element seed)
    "q_chi_square" ->
      """WITH cells AS (SELECT l_returnflag AS f, l_linestatus AS st,
                          count(*)::BIGINT AS o
                        FROM lineitem GROUP BY 1, 2),
         rm AS (SELECT f, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         cm AS (SELECT st, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         nt AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
         c2 AS (SELECT cells.f, cells.st, cells.o, nt.nn,
                  CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
                    CAST(nn AS DOUBLE) AS e
                FROM cells JOIN rm USING (f) JOIN cm USING (st) CROSS JOIN nt),
         c3 AS (SELECT f, st, nn,
                  (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                    AS contrib
                FROM c2)
         SELECT max(nn) AS n_rows, CAST(count(*) AS BIGINT) AS n_cells,
                CAST((count(DISTINCT f) - 1) * (count(DISTINCT st) - 1)
                  AS BIGINT) AS dof,
                list_reduce(list(contrib ORDER BY f, st), (a, b) -> a + b)
                  AS chi2
         FROM c3""",
    // same md5-fold subsample gate, same order-statistic CI rule
    "q_bootstrap_ci" ->
      """WITH pop AS (
           SELECT c_custkey,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
         reps AS (
           SELECT g.r, count(*)::BIGINT AS n,
                  CAST(sum(cents) AS BIGINT) AS s
           FROM pop, generate_series(0, 63) AS g(r)
           WHERE list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(1, 8),
                 i -> (instr('0123456789abcdef',
                   substr(md5(concat_ws('|', c_custkey, r)), i, 1)) - 1)::BIGINT)),
               (acc, x) -> acc * 16 + x) % 2 = 0
           GROUP BY 1),
         ms AS (SELECT list_sort(list(100 * s // n)) AS m FROM reps),
         f AS (SELECT count(*)::BIGINT AS n_rows,
                 CAST(100 * sum(cents) // count(*) AS BIGINT) AS mean_c100
               FROM pop)
         SELECT f.n_rows, f.mean_c100, CAST(len(m) AS BIGINT) AS n_reps,
                m[2] AS ci_lo_c100, m[63] AS ci_hi_c100
         FROM f, ms""",
    // same daily collapse, same centered-7 MA, same dow normalization
    // (DuckDB dayofweek is already Sunday=0), same truncating division
    "q_seasonal_decompose" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  count(*)::BIGINT AS cnt
           FROM events GROUP BY 1),
         t AS (
           SELECT day, cnt,
                  count(*) OVER w AS n7,
                  CAST(sum(cnt) OVER w AS BIGINT) AS s7,
                  CAST(dayofweek(day) AS BIGINT) AS dow
           FROM daily
           WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         d AS (
           SELECT day, cnt, dow,
                  CASE WHEN n7 = 7 THEN CAST(100 * s7 // 7 AS BIGINT) END
                    AS trend_x100
           FROM t),
         e AS (
           SELECT day, cnt, dow, trend_x100,
                  cnt * 100 - trend_x100 AS det_x100
           FROM d WHERE trend_x100 IS NOT NULL),
         seas AS (
           SELECT dow,
                  CAST(sum(det_x100) // count(*) AS BIGINT) AS seas_x100
           FROM e GROUP BY 1)
         SELECT e.day, e.cnt, e.trend_x100, e.dow, seas.seas_x100,
                CAST(e.det_x100 - seas.seas_x100 AS BIGINT) AS resid_x100
         FROM e JOIN seas USING (dow)""",
    // the GENUINE window-aggregate spelling on the oracle side
    "q_window_median" ->
      """WITH o AS (
           SELECT o_orderkey, o_custkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders)
         SELECT o_orderkey, o_custkey, cents,
                CAST(round(2 * median(cents) OVER (PARTITION BY o_custkey))
                  AS BIGINT) AS med_x2
         FROM o""",
    // DATE + INTEGER day arithmetic aligns the same pairs; integer-exact
    // sums, matched final op order per lag
    "q_autocorr" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                  count(*)::BIGINT AS cnt
           FROM orders GROUP BY 1),
         p AS (SELECT CAST(l.lag AS BIGINT) AS lag, a.cnt AS x, b.cnt AS y
               FROM (VALUES (1), (7)) l(lag)
               CROSS JOIN daily a
               JOIN daily b ON a.day + l.lag = b.day),
         a2 AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
                  count(*)::DOUBLE AS nd,
                  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(x * x) AS DOUBLE) AS sxx,
                  CAST(sum(y * y) AS DOUBLE) AS syy,
                  CAST(sum(x * y) AS DOUBLE) AS sxy
                FROM p GROUP BY lag)
         SELECT lag, n AS n_pairs,
                (nd * sxy - sx * sy) /
                  (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
                  AS autocorr
         FROM a2""",
    // exact-rational ECDF sup: BIGINT numerator over the fixed n_R·n_A
    // denominator, one division last
    "q_ks_test" ->
      """WITH rows0 AS (SELECT l_returnflag AS g, l_quantity AS v
                        FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         cells0 AS (SELECT v,
                      CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS cr,
                      CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ca
                    FROM rows0 GROUP BY 1),
         cells AS (SELECT v,
                     CAST(sum(cr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS cum_r,
                     CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS cum_a
                   FROM cells0),
         t AS (SELECT CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_r,
               CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_a
               FROM rows0),
         agg AS (SELECT max(n_r) AS n_r, max(n_a) AS n_a,
                   CAST(max(abs(cum_r * n_a - cum_a * n_r)) AS BIGINT)
                     AS d_num
                 FROM cells CROSS JOIN t)
         SELECT n_r, n_a, d_num,
                CAST(d_num AS DOUBLE) / CAST(n_r * n_a AS DOUBLE) AS d
         FROM agg""",
    // same distinct-key decomposition on the ~74k-value continuous domain
    "q_ks_continuous" ->
      """WITH rows0 AS (SELECT l_returnflag AS g,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                        FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         cells AS (SELECT v,
                     CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END)
                       AS BIGINT) AS cr,
                     CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END)
                       AS BIGINT) AS ca
                   FROM rows0 GROUP BY 1),
         c1 AS (SELECT v,
                  CAST(sum(cr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_r,
                  CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_a
                FROM cells),
         c2 AS (SELECT cum_r, cum_a,
                  CAST(max(cum_r) OVER () AS BIGINT) AS n_r,
                  CAST(max(cum_a) OVER () AS BIGINT) AS n_a
                FROM c1),
         agg AS (SELECT max(n_r) AS n_r, max(n_a) AS n_a,
                   CAST(max(abs(cum_r * n_a - cum_a * n_r)) AS BIGINT)
                     AS d_num
                 FROM c2)
         SELECT n_r, n_a, d_num,
                CAST(d_num AS DOUBLE) / CAST(n_r * n_a AS DOUBLE) AS d
         FROM agg""",
    // same crossing-rule medians, same (dev, v) cumulative order
    "q_mad" ->
      """WITH cells AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                  count(*)::BIGINT AS cnt
           FROM lineitem GROUP BY 1),
         c1 AS (SELECT v, cnt,
                  CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER () AS BIGINT) AS n
                FROM cells),
         c2 AS (SELECT v, cnt, n,
                  min(CASE WHEN cum >= (n + 1) // 2 THEN v END) OVER ()
                    AS med
                FROM c1),
         c3 AS (SELECT n, med, abs(v - med) AS dev, cnt,
                  CAST(sum(cnt) OVER (ORDER BY abs(v - med), v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumd
                FROM c2),
         c4 AS (SELECT n, med,
                  min(CASE WHEN cumd >= (n + 1) // 2 THEN dev END) OVER ()
                    AS mad
                FROM c3)
         SELECT max(n) AS n_rows, CAST(max(med) AS BIGINT) AS median_cents,
                CAST(max(mad) AS BIGINT) AS mad_cents
         FROM c4""",
    // BIGINT numerator over n², one division last
    "q_hhi" ->
      """WITH cells AS (SELECT source, lang, count(*)::BIGINT AS cnt
                        FROM documents GROUP BY 1, 2)
         SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
                CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
                CAST(CAST(sum(cnt * cnt) AS BIGINT) AS DOUBLE) /
                  CAST(CAST(sum(cnt) AS BIGINT) * CAST(sum(cnt) AS BIGINT)
                    AS DOUBLE) AS hhi
         FROM cells GROUP BY source""",
    // same six exact moments (decimal sums via the string route), same
    // final double op order — bit-exact, no dp rounding
    "q_ttest_welch" ->
      """WITH a AS (
           SELECT
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_r,
             CAST(CAST(sum(CASE WHEN l_returnflag = 'R'
                 THEN CAST(l_quantity AS DECIMAL(28,4))
                 ELSE CAST(0 AS DECIMAL(28,4)) END) AS STRING) AS DOUBLE)
               AS sxr,
             CAST(CAST(sum(CASE WHEN l_returnflag = 'R'
                 THEN CAST(l_quantity * l_quantity AS DECIMAL(28,4))
                 ELSE CAST(0 AS DECIMAL(28,4)) END) AS STRING) AS DOUBLE)
               AS sxxr,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(CAST(sum(CASE WHEN l_returnflag = 'A'
                 THEN CAST(l_quantity AS DECIMAL(28,4))
                 ELSE CAST(0 AS DECIMAL(28,4)) END) AS STRING) AS DOUBLE)
               AS sxa,
             CAST(CAST(sum(CASE WHEN l_returnflag = 'A'
                 THEN CAST(l_quantity * l_quantity AS DECIMAL(28,4))
                 ELSE CAST(0 AS DECIMAL(28,4)) END) AS STRING) AS DOUBLE)
               AS sxxa
           FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         b AS (
           SELECT n_r, n_a, sxr, sxxr, sxa, sxxa,
                  CAST(n_r AS DOUBLE) AS nr, CAST(n_a AS DOUBLE) AS na
           FROM a),
         c AS (
           SELECT n_r, n_a, nr, na, sxr, sxa,
                  (nr * sxxr - sxr * sxr) / (nr * (nr - 1.0)) / nr AS vn_r,
                  (na * sxxa - sxa * sxa) / (na * (na - 1.0)) / na AS vn_a
           FROM b),
         d AS (SELECT *, vn_r + vn_a AS se2 FROM c)
         SELECT n_r, n_a, sxr / nr AS mean_r, sxa / na AS mean_a,
                (sxr / nr - sxa / na) / sqrt(se2) AS t_stat,
                se2 * se2 / (vn_r * vn_r / (nr - 1.0)
                             + vn_a * vn_a / (na - 1.0)) AS welch_df
         FROM d""",
    // group moments via the same decimal sums; the between/within folds
    // run over the g-sorted group list (list_reduce over list(... ORDER
    // BY g) ≡ Spark's aggregate over sort_array — 0.0-seeded vs
    // first-element-seeded left folds agree because 0.0 + x = x)
    "q_anova" ->
      """WITH g AS (
           SELECT l_returnflag AS g, count(*)::BIGINT AS n,
                  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4)))
                    AS STRING) AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(l_extendedprice * l_extendedprice
                    AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sxx
           FROM lineitem GROUP BY 1),
         f AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list(n ORDER BY g)), (a, x) -> a + x) AS n_rows,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(sx ORDER BY g)), (a, x) -> a + x) AS st,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(sxx ORDER BY g)), (a, x) -> a + x) AS stt,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list(sx * sx / CAST(n AS DOUBLE) ORDER BY g)),
                    (a, x) -> a + x) AS sgrp
           FROM g),
         ss AS (
           SELECT k, n_rows,
                  sgrp - st * st / CAST(n_rows AS DOUBLE) AS ss_between,
                  stt - sgrp AS ss_within
           FROM f)
         SELECT k, n_rows, ss_between, ss_within,
                (ss_between / CAST(k - 1 AS DOUBLE)) /
                  (ss_within / CAST(n_rows - k AS DOUBLE)) AS f_stat
         FROM ss""",
    // the two KL halves fold over the same bounded bucket table; 6 dp
    // absorbs the ln/sum-order ulps (the q_psi posture)
    "q_js_divergence" ->
      """WITH daily AS (
           SELECT event_type AS bucket, CAST(date_trunc('day', ts) AS DATE)
                    AS day, count(*)::BIGINT AS cnt
           FROM events GROUP BY 1, 2),
         lim AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         h AS (SELECT bucket,
                 CASE WHEN date_diff('day', d0, day) * 2 <=
                           date_diff('day', d0, d1)
                      THEN 'e' ELSE 'a' END AS half, cnt
               FROM daily CROSS JOIN lim),
         b AS (SELECT bucket,
                 CAST(sum(CASE WHEN half = 'e' THEN cnt ELSE 0 END)
                   AS BIGINT) AS ne,
                 CAST(sum(CASE WHEN half = 'a' THEN cnt ELSE 0 END)
                   AS BIGINT) AS na
               FROM h GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(sum(ne) AS BIGINT) AS n_expected,
                 CAST(sum(na) AS BIGINT) AS n_actual
               FROM b)
         SELECT n_buckets, n_expected, n_actual,
                round(0.5 * (SELECT sum(
                    (CAST(ne AS DOUBLE) / CAST(n_expected AS DOUBLE))
                    * ln((CAST(ne AS DOUBLE) / CAST(n_expected AS DOUBLE))
                         / ((CAST(ne AS DOUBLE) / CAST(n_expected AS DOUBLE)
                             + CAST(na AS DOUBLE) / CAST(n_actual AS DOUBLE))
                            / 2.0)))
                  FROM b WHERE ne > 0)
                + 0.5 * (SELECT sum(
                    (CAST(na AS DOUBLE) / CAST(n_actual AS DOUBLE))
                    * ln((CAST(na AS DOUBLE) / CAST(n_actual AS DOUBLE))
                         / ((CAST(ne AS DOUBLE) / CAST(n_expected AS DOUBLE)
                             + CAST(na AS DOUBLE) / CAST(n_actual AS DOUBLE))
                            / 2.0)))
                  FROM b WHERE na > 0), 6) AS jsd_nats
         FROM t""",
    // integer counts over the same midpoint split; z in matched op order
    "q_prop_ztest" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  count(*)::BIGINT AS cnt,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS BIGINT) AS hits
           FROM events GROUP BY 1),
         lim AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         h AS (SELECT CASE WHEN date_diff('day', d0, day) * 2 <=
                                date_diff('day', d0, d1)
                           THEN 'e' ELSE 'a' END AS half, cnt, hits
               FROM daily CROSS JOIN lim),
         a AS (
           SELECT
             CAST(sum(CASE WHEN half = 'e' THEN cnt ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN half = 'e' THEN hits ELSE 0 END) AS BIGINT)
               AS x1,
             CAST(sum(CASE WHEN half = 'a' THEN cnt ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(sum(CASE WHEN half = 'a' THEN hits ELSE 0 END) AS BIGINT)
               AS x2
           FROM h),
         p AS (SELECT *,
                 CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
                 CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
                 CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pp
               FROM a)
         SELECT n1, x1, n2, x2, p1, p2,
                (p1 - p2) / sqrt(pp * (1.0 - pp) *
                  (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
                  AS z_stat
         FROM p""",
    // same decomposition + LEFT-fold total as q_chi_square; sqrt is
    // IEEE-correctly-rounded so V matches bit-exactly
    "q_cramers_v" ->
      """WITH cells AS (SELECT l_returnflag AS f, l_linestatus AS st,
                          count(*)::BIGINT AS o
                        FROM lineitem GROUP BY 1, 2),
         rm AS (SELECT f, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
         cm AS (SELECT st, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
         nt AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
         c2 AS (SELECT cells.f, cells.st, cells.o, nt.nn,
                  CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
                    CAST(nn AS DOUBLE) AS e
                FROM cells JOIN rm USING (f) JOIN cm USING (st) CROSS JOIN nt),
         c3 AS (SELECT f, st, nn,
                  (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                    AS contrib
                FROM c2),
         agg AS (SELECT max(nn) AS n_rows,
                   CAST(least(count(DISTINCT f) - 1, count(DISTINCT st) - 1)
                     AS BIGINT) AS k_min,
                   list_reduce(list(contrib ORDER BY f, st), (a, b) -> a + b)
                     AS chi2
                 FROM c3)
         SELECT n_rows, k_min, chi2,
                sqrt(chi2 / (CAST(n_rows AS DOUBLE) * CAST(k_min AS DOUBLE)))
                  AS cramers_v
         FROM agg""",
    // integer-scaled CUSUM: S'_t = days·cum − t·total, BIGINT end to end
    "q_cusum" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                  count(*)::BIGINT AS cnt
           FROM orders GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS days,
                 CAST(sum(cnt) AS BIGINT) AS total FROM daily),
         c AS (SELECT day, cnt,
                 CAST(sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum_cnt,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t_idx
               FROM daily)
         SELECT day, cnt, cum_cnt,
                days * cum_cnt - t_idx * total AS s_scaled
         FROM c CROSS JOIN t""",
    // same midpoint split, same (p−q)·ln(p/q) arithmetic; the oracle uses
    // plain aggregates — double sum order differs, the 6 dp round absorbs
    // it (the q_entropy posture)
    "q_psi" ->
      """WITH daily AS (
           SELECT o_orderpriority AS bucket,
                  CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                  count(*)::BIGINT AS cnt
           FROM orders GROUP BY 1, 2),
         lim AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         h AS (SELECT bucket,
                 CASE WHEN date_diff('day', d0, day) * 2 <=
                           date_diff('day', d0, d1)
                      THEN 'e' ELSE 'a' END AS half, cnt
               FROM daily CROSS JOIN lim),
         b AS (SELECT bucket,
                 CAST(sum(CASE WHEN half = 'e' THEN cnt ELSE 0 END)
                   AS BIGINT) AS ne,
                 CAST(sum(CASE WHEN half = 'a' THEN cnt ELSE 0 END)
                   AS BIGINT) AS na
               FROM h GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(sum(ne) AS BIGINT) AS n_expected,
                 CAST(sum(na) AS BIGINT) AS n_actual
               FROM b)
         SELECT n_buckets, n_expected, n_actual,
                round((SELECT sum(
                    (CAST(ne AS DOUBLE) / CAST(n_expected AS DOUBLE)
                     - CAST(na AS DOUBLE) / CAST(n_actual AS DOUBLE))
                    * ln((CAST(ne AS DOUBLE) / CAST(n_expected AS DOUBLE))
                         / (CAST(na AS DOUBLE)
                            / CAST(n_actual AS DOUBLE))))
                  FROM b WHERE ne > 0 AND na > 0), 6) AS psi
         FROM t""",
    // plain-aggregate entropies on the oracle side; 6 dp absorbs the
    // log2/sum-order ulps (the q_entropy posture)
    "q_theil_u" ->
      """WITH cells AS (SELECT l_returnflag AS f, l_linestatus AS st,
                          count(*)::BIGINT AS o
                        FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
                   sum(CAST(o AS DOUBLE) * log2(CAST(o AS DOUBLE))) AS olog
                 FROM cells),
         rm AS (SELECT sum(CAST(m AS DOUBLE) * log2(CAST(m AS DOUBLE)))
                  AS rlog
                FROM (SELECT CAST(sum(o) AS BIGINT) AS m
                      FROM cells GROUP BY f)),
         cm AS (SELECT sum(CAST(m AS DOUBLE) * log2(CAST(m AS DOUBLE)))
                  AS clog
                FROM (SELECT CAST(sum(o) AS BIGINT) AS m
                      FROM cells GROUP BY st))
         SELECT nn AS n_rows,
                round(log2(CAST(nn AS DOUBLE)) - rlog / CAST(nn AS DOUBLE), 6)
                  AS h_x,
                round((clog - olog) / CAST(nn AS DOUBLE), 6) AS h_x_given_y,
                round((log2(CAST(nn AS DOUBLE)) - rlog / CAST(nn AS DOUBLE)
                       - (clog - olog) / CAST(nn AS DOUBLE))
                      / (log2(CAST(nn AS DOUBLE))
                         - rlog / CAST(nn AS DOUBLE)), 6) AS theil_u
         FROM tot CROSS JOIN rm CROSS JOIN cm""",
    // same lower-median reference, same tie drop, same fold arithmetic
    "q_runs_test" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                  count(*)::BIGINT AS cnt
           FROM orders GROUP BY 1),
         one AS (SELECT list(cnt ORDER BY day) AS cl FROM daily),
         m AS (SELECT cl, list_sort(cl)[(len(cl) + 1) // 2] AS med,
                 CAST(len(cl) AS BIGINT) AS n_days FROM one),
         sgt AS (SELECT n_days, med,
                   [CASE WHEN c > med THEN 1 WHEN c < med THEN -1
                    ELSE 0 END FOR c IN cl IF c != med] AS sg
                 FROM m),
         r AS (SELECT n_days, med,
                 CAST(len([x FOR x IN sg IF x = 1]) AS BIGINT) AS n1,
                 CAST(len([x FOR x IN sg IF x = -1]) AS BIGINT) AS n2,
                 CAST(n_days - len(sg) AS BIGINT) AS n_ties,
                 CAST(CASE WHEN len(sg) < 2 THEN len(sg)
                      ELSE 1 + len([i FOR i IN generate_series(2, len(sg))
                                    IF sg[i] != sg[i-1]]) END AS BIGINT)
                   AS runs
               FROM sgt)
         SELECT n_days, med, n1, n2, n_ties, runs,
                1.0 + CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
                  AS e_runs,
                (CAST(runs AS DOUBLE) -
                 (1.0 + CAST(2 * n1 * n2 AS DOUBLE)
                        / CAST(n1 + n2 AS DOUBLE)))
                / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                    * (CAST(2 * n1 * n2 AS DOUBLE)
                       - CAST(n1 + n2 AS DOUBLE))
                    / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                       * (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS z
         FROM r""",
    // generate_series spans the same [min, max] day range
    "q_date_spine" ->
      """WITH d AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
         daily AS (
           SELECT day, CAST(count(*) AS BIGINT) AS n_events
           FROM d GROUP BY 1),
         spine AS (
           SELECT unnest(generate_series(
             (SELECT min(day) FROM d), (SELECT max(day) FROM d),
             INTERVAL 1 DAY)) AS day)
         SELECT CAST(spine.day AS DATE) AS day,
                coalesce(daily.n_events, 0) AS n_events
         FROM spine LEFT JOIN daily ON CAST(spine.day AS DATE) = daily.day""",
    // month-start + 12-month interval arithmetic is exact on both sides
    "q_yoy" ->
      """WITH m AS (
           SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
           FROM orders GROUP BY 1)
         SELECT a.month, a.cents,
                b.cents AS prev_year_cents,
                a.cents - b.cents AS yoy_diff_cents
         FROM m a LEFT JOIN m b
           ON a.month = CAST(b.month + INTERVAL 12 MONTH AS DATE)""",
    // TRY semantics spelled out: malformed cast -> NULL, zero
    // denominator -> NULL (DuckDB TRY_CAST + NULLIF reproduce them)
    "q_try_funcs" ->
      """SELECT o_orderkey,
                TRY_CAST(o_orderpriority AS INTEGER) AS prio_bad,
                TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio,
                CAST(round(o_totalprice * 100) AS BIGINT) /
                  nullif(o_custkey % 3, 0) AS ratio
         FROM orders""",
    // same week conventions as q_cohort; cumulative over rollup rows
    "q_cohort_ltv" ->
      """WITH fw AS (
           SELECT user_id,
                  min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
           FROM events GROUP BY 1),
         rev AS (
           SELECT e.user_id, CAST(date_trunc('week', e.ts) AS DATE) AS week,
                  CAST(round(e.value * 100) AS BIGINT) AS cents
           FROM events e WHERE e.event_type = 'purchase'),
         rolled AS (
           SELECT fw.cohort_week,
                  CAST(date_diff('day', fw.cohort_week, rev.week) // 7
                    AS BIGINT) AS week_no,
                  CAST(sum(rev.cents) AS BIGINT) AS cents
           FROM rev JOIN fw ON rev.user_id = fw.user_id
           GROUP BY 1, 2)
         SELECT cohort_week, week_no, cents,
                CAST(sum(cents) OVER (PARTITION BY cohort_week
                  ORDER BY week_no ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cum_cents
         FROM rolled""",
    // same session rule, same presence flags
    "q_cart_abandonment" ->
      """WITH e AS (
           SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
                  event_type
           FROM events),
         s AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000 THEN 1 ELSE 0 END AS brk
           FROM e),
         t AS (
           SELECT user_id, ts, event_type,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM s),
         sess AS (
           SELECT user_id, sid,
                  CAST(date_trunc('day', min(ts)) AS DATE) AS day,
                  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
           FROM t GROUP BY 1, 2)
         SELECT day,
                CAST(count(*) AS BIGINT) AS n_sessions,
                CAST(sum(v) AS BIGINT) AS n_viewed,
                CAST(sum(v * c) AS BIGINT) AS n_engaged,
                CAST(sum(p) AS BIGINT) AS n_purchased,
                CAST(sum(v * (1 - p)) AS BIGINT) AS n_abandoned
         FROM sess GROUP BY 1""",
    // same first-view → first-later-purchase lags; half-sum median
    "q_conversion_lag" ->
      """WITH fv AS (
           SELECT user_id,
                  min(epoch_us(date_trunc('microseconds', ts))) AS v_us
           FROM events WHERE event_type = 'view' GROUP BY 1),
         p AS (
           SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS p_us
           FROM events WHERE event_type = 'purchase'),
         lags AS (
           SELECT p.user_id, min(p.p_us) - max(fv.v_us) AS lag_us
           FROM p JOIN fv ON p.user_id = fv.user_id
           WHERE p.p_us >= fv.v_us
           GROUP BY 1),
         srt AS (SELECT list(lag_us ORDER BY lag_us, user_id) AS l FROM lags)
         SELECT CAST((SELECT count(*) FROM lags) AS BIGINT) AS n_converted,
                CAST((SELECT min(lag_us) FROM lags) AS BIGINT) AS min_lag_us,
                CAST((SELECT max(lag_us) FROM lags) AS BIGINT) AS max_lag_us,
                CAST(l[(len(l) + 1) // 2] + l[len(l) // 2 + 1] AS BIGINT)
                  AS med2_lag_us
         FROM srt""",
    // same epoch-day arithmetic, Monday = 0 on both engines
    "q_activity_heatmap" ->
      """SELECT CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  + 3) % 7 AS BIGINT) AS dow_mon0,
                CAST(hour(ts) AS BIGINT) AS hr,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY 1, 2""",
    // same sessions, same +1-before-−1 sweep order; the peak is
    // tie-order-independent (maxima land at the end of +1 runs)
    "q_max_concurrency" ->
      """WITH e AS (
           SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id
           FROM events),
         s AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000 THEN 1 ELSE 0 END AS brk
           FROM e),
         t AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM s),
         sess AS (
           SELECT user_id, sid, min(epoch_us(ts)) AS s_us,
                  max(epoch_us(ts)) AS e_us
           FROM t GROUP BY 1, 2),
         d AS (
           SELECT s_us AS us, 1 AS delta FROM sess
           UNION ALL SELECT e_us, -1 FROM sess),
         r AS (
           SELECT sum(delta) OVER (ORDER BY us, delta DESC
             ROWS UNBOUNDED PRECEDING) AS live
           FROM d)
         SELECT CAST(max(live) AS BIGINT) AS peak_concurrency,
                CAST(count(*) AS BIGINT) AS n_endpoints
         FROM r""",
    // same strict-dominance window; RANGE excludes the own price group
    "q_skyline" ->
      """WITH p AS (
           SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
                  CAST(round(p_retailprice * 100) AS BIGINT) AS cents
           FROM part),
         s AS (
           SELECT p_partkey, p_size, cents,
                  max(p_size) OVER (ORDER BY cents
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS best_cheaper
           FROM p)
         SELECT p_partkey, p_size, cents FROM s
         WHERE best_cheaper IS NULL OR best_cheaper <= p_size""",
    // same bounded 30-day projection; inner join prunes the tail
    "q_dau_mau" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS day
           FROM events),
         dau AS (
           SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
           FROM ud GROUP BY 1),
         proj AS (
           SELECT DISTINCT user_id, CAST(d AS DATE) AS day
           FROM (SELECT user_id,
                        unnest(generate_series(day, day + INTERVAL 29 DAY,
                          INTERVAL 1 DAY)) AS d
                 FROM ud)),
         mau AS (
           SELECT day, CAST(count(*) AS BIGINT) AS mau30
           FROM proj GROUP BY 1)
         SELECT dau.day, dau.dau, mau.mau30,
                CAST(dau.dau AS DOUBLE) / CAST(mau.mau30 AS DOUBLE)
                  AS stickiness
         FROM dau JOIN mau ON dau.day = mau.day""",
    "q_new_vs_returning" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS day
           FROM events),
         fd AS (SELECT user_id, min(day) AS first_day FROM days GROUP BY 1)
         SELECT day,
                CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returning
         FROM days JOIN fd USING (user_id)
         GROUP BY 1""",
    // same exact-count ratios, single divisions in matched order
    "q_basket_rules" ->
      """WITH b AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         isup AS (
           SELECT l_partkey, CAST(count(*) AS BIGINT) AS sup
           FROM b GROUP BY 1),
         n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
         pr AS (
           SELECT a.l_partkey AS pa, c.l_partkey AS pb,
                  CAST(count(*) AS BIGINT) AS sup_ab
           FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
           WHERE a.l_partkey <> c.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT pa, pb, sup_ab,
                sa.sup AS sup_a, sb.sup AS sup_b,
                CAST(sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE) AS confidence,
                CAST(sup_ab * n.n_orders AS DOUBLE) /
                  CAST(sa.sup * sb.sup AS DOUBLE) AS lift
         FROM pr
         JOIN isup sa ON pr.pa = sa.l_partkey
         JOIN isup sb ON pr.pb = sb.l_partkey
         CROSS JOIN n""",
    // same tercile windows over the aggregated customer rows
    "q_rfm" ->
      """WITH per AS (
           SELECT o_custkey, max(o_orderdate) AS last_order,
                  CAST(count(*) AS BIGINT) AS f_orders,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m_cents
           FROM orders GROUP BY 1),
         mx AS (SELECT max(o_orderdate) AS mx FROM orders)
         SELECT o_custkey,
                CAST(date_diff('day', last_order, mx) AS BIGINT) AS r_days,
                f_orders, m_cents,
                CAST(ntile(3) OVER (ORDER BY date_diff('day', last_order, mx),
                       o_custkey) AS VARCHAR) ||
                CAST(ntile(3) OVER (ORDER BY f_orders DESC, o_custkey)
                       AS VARCHAR) ||
                CAST(ntile(3) OVER (ORDER BY m_cents DESC, o_custkey)
                       AS VARCHAR) AS segment
         FROM per CROSS JOIN mx""",
    // same integer cross-multiplied thresholds
    "q_abc_analysis" ->
      """WITH per AS (
           SELECT l_partkey,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
           FROM lineitem GROUP BY 1),
         r AS (
           SELECT l_partkey, cents,
                  CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(sum(cents) OVER () AS BIGINT) AS total
           FROM per),
         c AS (
           SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                       WHEN cum * 100 <= total * 95 THEN 'B'
                       ELSE 'C' END AS cls, cents
           FROM r)
         SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
                CAST(sum(cents) AS BIGINT) AS revenue_cents
         FROM c GROUP BY 1""",
    // same per-basket pair generation, distinct first
    "q_basket_pairs" ->
      """WITH b AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
         SELECT a.l_partkey AS pa, c.l_partkey AS pb,
                CAST(count(*) AS BIGINT) AS support
         FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
         WHERE a.l_partkey < c.l_partkey
         GROUP BY 1, 2 HAVING count(*) >= 5""",
    // same rank arithmetic; HUGEINT plays DECIMAL(38,0), double division
    // last
    "q_gini" ->
      """WITH b AS (
           SELECT l_returnflag,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                  CAST(row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                             l_orderkey, l_linenumber) AS BIGINT) AS rn
           FROM lineitem),
         a AS (
           SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                  sum(CAST(cents AS HUGEINT)) AS s0,
                  sum(CAST(rn AS HUGEINT) * CAST(cents AS HUGEINT)) AS s1
           FROM b GROUP BY 1)
         SELECT l_returnflag, n AS n_rows,
                CAST(s0 AS BIGINT) AS sum_cents,
                CAST(2::HUGEINT * s1 - (n + 1)::HUGEINT * s0 AS DOUBLE) /
                  CAST(n::HUGEINT * s0 AS DOUBLE) AS gini
         FROM a""",
    // same pinned tie rule (count DESC, value ASC)
    "q_mode" ->
      """WITH c AS (
           SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS qty,
                  CAST(count(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1, 2),
         r AS (
           SELECT l_returnflag, qty, n,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY n DESC, qty) AS rn
           FROM c)
         SELECT l_returnflag, qty AS mode_qty, n FROM r WHERE rn = 1""",
    // same decimal moments, same double op order (population formulas)
    "q_moments" ->
      """WITH a AS (
           SELECT l_returnflag, count(*) AS n, count(*)::DOUBLE AS nd,
                  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS s2,
                  CAST(CAST(sum(CAST(l_quantity * l_quantity * l_quantity
                    AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS s3,
                  CAST(CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                    AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS s4
           FROM lineitem GROUP BY 1),
         b AS (
           SELECT l_returnflag, n, nd, s1, s2, s3, s4,
                  s1 / nd AS m,
                  s2 / nd - (s1 / nd) * (s1 / nd) AS v
           FROM a)
         SELECT l_returnflag, n AS n_rows,
                m AS mean_qty, v AS var_qty,
                (s3 / nd - 3.0 * m * v - m * m * m) / (v * sqrt(v)) AS skew_qty,
                (s4 / nd - 4.0 * m * (s3 / nd) + 6.0 * m * m * (s2 / nd)
                  - 3.0 * m * m * m * m) / (v * v) - 3.0 AS kurt_qty
         FROM b""",
    // same conditional counts; thresholds in cents·100 = dollars·10000
    "q_ecdf" ->
      """WITH c AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN cents <= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS a10,
                  CAST(sum(CASE WHEN cents <= 2500000 THEN 1 ELSE 0 END) AS BIGINT) AS a25,
                  CAST(sum(CASE WHEN cents <= 5000000 THEN 1 ELSE 0 END) AS BIGINT) AS a50,
                  CAST(sum(CASE WHEN cents <= 7500000 THEN 1 ELSE 0 END) AS BIGINT) AS a75,
                  CAST(sum(CASE WHEN cents <= 9000000 THEN 1 ELSE 0 END) AS BIGINT) AS a90
           FROM c)
         SELECT n,
                CAST(a10 AS DOUBLE) / CAST(n AS DOUBLE) AS p_le_10000,
                CAST(a25 AS DOUBLE) / CAST(n AS DOUBLE) AS p_le_25000,
                CAST(a50 AS DOUBLE) / CAST(n AS DOUBLE) AS p_le_50000,
                CAST(a75 AS DOUBLE) / CAST(n AS DOUBLE) AS p_le_75000,
                CAST(a90 AS DOUBLE) / CAST(n AS DOUBLE) AS p_le_90000
         FROM a""",
    // same rank-drop arithmetic; integer division mirrors `div`
    "q_trimmed_mean" ->
      """WITH b AS (
           SELECT l_returnflag,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                             l_orderkey, l_linenumber) AS rn,
                  count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT l_returnflag,
                CAST(count(*) AS BIGINT) AS n_kept,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS trimmed_mean_cents
         FROM b
         WHERE rn > n // 20 AND rn <= n - n // 20
         GROUP BY 1""",
    // same canonical row rendering; the hex digits of md5 fold to the
    // same 32-bit int via instr arithmetic (lowercase hex both engines)
    "q_table_checksum" ->
      """WITH r AS (
           SELECT l_returnflag,
                  md5(concat_ws('|', l_orderkey, l_partkey, l_suppkey,
                    l_linenumber, l_returnflag, l_linestatus,
                    strftime(l_shipdate, '%Y-%m-%d'),
                    CAST(round(l_extendedprice * 100) AS BIGINT))) AS h
           FROM lineitem)
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(list_reduce(list_prepend(0::BIGINT,
                  list_transform(generate_series(1, 8),
                    i -> (instr('0123456789abcdef', substr(h, i, 1)) - 1)::BIGINT)),
                  (acc, x) -> acc * 16 + x)) AS BIGINT) AS checksum
         FROM r GROUP BY 1""",
    // INDEPENDENT method on the oracle side: DuckDB's count(DISTINCT)
    // certifies the engine's bitmap OR/popcount path end-to-end
    "q_bitmap_distinct" ->
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_orderkey // 64) AS BIGINT) AS n_buckets,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct
         FROM lineitem GROUP BY 1""",
    // q_corr's decimal moments per group; slope binds in its own CTE so
    // intercept consumes the ALREADY-ROUNDED double exactly as Spark's
    // withColumn does — one division per output, same op order
    "q_regression" ->
      """WITH a AS (
           SELECT l_returnflag, count(*) AS n, count(*)::DOUBLE AS nd,
                  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS syy,
                  CAST(CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS STRING) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY 1),
         b AS (
           SELECT l_returnflag, n, nd, sx, sy, sxx, syy, sxy,
                  (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS slope
           FROM a)
         SELECT l_returnflag, n AS n_rows, slope,
                (sy - slope * sx) / nd AS intercept,
                ((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) /
                  ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) AS r2
         FROM b""",
    // same IGNORE-NULLS carry-forward window
    "q_attribution" ->
      """WITH e AS (
           SELECT user_id, ts, event_id, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  last_value(CASE WHEN event_type IN ('view','click','signup')
                             THEN event_type END IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
           FROM events)
         SELECT coalesce(touch, 'DIRECT') AS credited,
                CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(cents) AS BIGINT) AS revenue_cents
         FROM e WHERE event_type = 'purchase' GROUP BY 1""",
    // exact cents; the one double division is last, same op order
    "q_share_of_total" ->
      """WITH a AS (
           SELECT n_regionkey, n_name,
                  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2)
         SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name, cents,
                CAST(cents AS DOUBLE) /
                  CAST(sum(cents) OVER (PARTITION BY n_regionkey) AS DOUBLE)
                  AS share
         FROM a""",
    // ordered string_agg reproduces the journey string; RE2's leftmost
    // non-overlapping matching == Java regex for this pattern
    "q_seq_pattern" ->
      """WITH e AS (
           SELECT user_id, ts, event_id,
                  substring(event_type, 1, 1) AS ch
           FROM events),
         g AS (
           SELECT user_id, count(*) AS n_events,
                  string_agg(ch, '' ORDER BY ts, event_id) AS seq
           FROM e GROUP BY 1)
         SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
                CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_funnels
         FROM g""",
    "q_runtime_filter" ->
      """SELECT count(*) AS n_lines,
                CAST(CAST(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS STRING) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'""",
    // the binned equi join is output-identical to the naive theta join:
    // band edges are the same IEEE adds, bin membership only routes
    "q_range_join" ->
      """SELECT c.c_custkey, s.s_suppkey, c.c_acctbal, s.s_acctbal
         FROM customer c JOIN supplier s
           ON c.c_acctbal >= s.s_acctbal - 5
          AND c.c_acctbal <= s.s_acctbal + 5""",
    "q_scd2" ->
      """SELECT user_id, event_id, value,
                epoch_us(date_trunc('microseconds', ts)) AS valid_from_us,
                epoch_us(date_trunc('microseconds', lead(ts) OVER w)) AS valid_to_us,
                (lead(ts) OVER w IS NULL) AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    // the interval-containment spelling; NULL vto = open version
    "q_pit_join" ->
      """WITH ch AS (
           SELECT user_id, date_trunc('microseconds', ts) AS vf, event_id,
                  CAST(round(value * 100) AS BIGINT) AS profile_cents,
                  lead(date_trunc('microseconds', ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS vto
           FROM events WHERE event_type <> 'purchase'),
         f AS (
           SELECT user_id, date_trunc('microseconds', ts) AS fts, event_id,
                  CAST(round(value * 100) AS BIGINT) AS purchase_cents
           FROM events WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id, f.purchase_cents,
                ch.event_id AS version_id, ch.profile_cents
         FROM f LEFT JOIN ch
           ON f.user_id = ch.user_id AND ch.vf <= f.fts
              AND (ch.vto IS NULL OR f.fts < ch.vto)""",
    "q_zorder_scan" ->
      """WITH b AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                           min(l_orderkey) AS omin, max(l_orderkey) AS omax
                    FROM lineitem)
         SELECT l_returnflag, count(*) AS n,
                CAST(CAST(sum(cast(l_quantity AS decimal(18,2))) AS STRING) AS DOUBLE) AS qty
         FROM lineitem, b
         WHERE l_partkey BETWEEN pmin + ((pmax - pmin) * 45) // 100
                             AND pmin + ((pmax - pmin) * 55) // 100
           AND l_orderkey BETWEEN omin + ((omax - omin) * 45) // 100
                              AND omin + ((omax - omin) * 55) // 100
         GROUP BY 1""",
    "q_expectations" ->
      """SELECT rule, n_violations, n_violations = 0 AS passed FROM (
           SELECT 'not_null(l_orderkey)' AS rule,
                  cast(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS bigint)
                    AS n_violations
           FROM lineitem
           UNION ALL
           SELECT 'in_range(l_quantity,1.0,30.0)',
                  cast(sum(CASE WHEN l_quantity IS NOT NULL
                                 AND (l_quantity < 1.0 OR l_quantity > 30.0)
                                THEN 1 ELSE 0 END) AS bigint)
           FROM lineitem
           UNION ALL
           SELECT 'in_range(l_discount,0.0,0.1)',
                  cast(sum(CASE WHEN l_discount IS NOT NULL
                                 AND (l_discount < 0.0 OR l_discount > 0.1)
                                THEN 1 ELSE 0 END) AS bigint)
           FROM lineitem
           UNION ALL
           SELECT 'in_set(l_returnflag)',
                  cast(sum(CASE WHEN l_returnflag IS NOT NULL
                                 AND l_returnflag NOT IN ('A', 'N', 'R')
                                THEN 1 ELSE 0 END) AS bigint)
           FROM lineitem
           UNION ALL
           SELECT 'satisfies(disc_price_positive)',
                  cast(sum(CASE WHEN coalesce(l_extendedprice * (1 - l_discount) > 0,
                                              false)
                                THEN 0 ELSE 1 END) AS bigint)
           FROM lineitem
           UNION ALL
           SELECT 'unique(l_orderkey,l_linenumber)',
                  cast(coalesce(sum(c - 1), 0) AS bigint)
           FROM (SELECT count(*) AS c FROM lineitem
                 GROUP BY l_orderkey, l_linenumber)
           UNION ALL
           SELECT 'ref_integrity(l_orderkey)', cast(count(*) AS bigint)
           FROM lineitem WHERE l_orderkey IS NOT NULL
             AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
         ) ORDER BY rule""",
    "q_asof_join" ->
      """WITH o AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY 1, 2),
         e AS (
           SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
           FROM events)
         SELECT e.event_id, e.user_id, o.o_orderkey AS last_order
         FROM e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""",
    "q_anomaly" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS day_cents
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT user_id, day, day_cents,
                  sum(day_cents) OVER w AS trail7_cents,
                  count(day_cents) OVER w AS n_trail
           FROM daily
           WINDOW w AS (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT user_id, day, day_cents,
                CAST(trail7_cents AS BIGINT) AS trail7_cents,
                CAST(n_trail AS BIGINT) AS n_trail,
                day_cents * n_trail > trail7_cents * 2 AS flagged
         FROM t WHERE n_trail >= 3""",
    // same BIGINT window moments, same single final division
    "q_rolling_slope" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                  count(*)::BIGINT AS cnt
           FROM orders GROUP BY 1),
         idx AS (
           SELECT day, cnt,
                  CAST(date_diff('day', min(day) OVER (), day) AS BIGINT)
                    AS t
           FROM daily),
         m AS (
           SELECT day, cnt,
                  CAST(count(*) OVER w AS BIGINT) AS n,
                  CAST(sum(t) OVER w AS BIGINT) AS st,
                  CAST(sum(cnt) OVER w AS BIGINT) AS sy,
                  CAST(sum(t * t) OVER w AS BIGINT) AS stt,
                  CAST(sum(t * cnt) OVER w AS BIGINT) AS sty
           FROM idx
           WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                        AND CURRENT ROW))
         SELECT day, cnt, n AS n_trail,
                CAST(n * sty - st * sy AS BIGINT) AS slope_num,
                CAST(n * stt - st * st AS BIGINT) AS slope_den,
                CAST(CAST(n * sty - st * sy AS BIGINT) AS DOUBLE) /
                  CAST(CAST(n * stt - st * st AS BIGINT) AS DOUBLE) AS slope
         FROM m WHERE n >= 3""",
    "q_series_delta" ->
      """WITH e AS (
           SELECT event_id, date_trunc('microseconds', ts) AS ts,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         l AS (
           SELECT event_id, cents, ts,
                  lag(cents) OVER (ORDER BY ts, event_id) AS pc,
                  lag(ts) OVER (ORDER BY ts, event_id) AS pts
           FROM e)
         SELECT event_id, cents,
                cents - pc AS delta,
                epoch_us(ts) - epoch_us(pts) AS gap_us
         FROM l""",
    // exact dyadic weights: newest of the ≤ 8-event trail gets 2^(m-1),
    // denominator 2^m − 1 — pure int64 both engines
    "q_ewma" ->
      """WITH e AS (
           SELECT event_id, user_id,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  list(CAST(round(value * 100) AS BIGINT)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
           FROM events)
         SELECT event_id, user_id, cents,
                CAST(list_sum(list_transform(generate_series(1, len(l)),
                  i -> l[i] * (1::BIGINT << (i - 1)))) AS BIGINT) AS ewma_num,
                (1::BIGINT << len(l)) - 1 AS ewma_den
         FROM e""",
    // same sorted-trail list; lower+upper middle keeps even-count
    // interpolation in int64 (half-cents)
    "q_rolling_median" ->
      """WITH e AS (
           SELECT event_id, user_id,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  list_sort(list(CAST(round(value * 100) AS BIGINT)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS l
           FROM events)
         SELECT event_id, user_id, cents,
                CAST(len(l) AS BIGINT) AS n_win,
                CAST(l[(len(l) + 1) // 2] + l[len(l) // 2 + 1] AS BIGINT) AS med2
         FROM e""",
    "q_resample" ->
      """WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts,
                          event_id, value FROM events),
         obs AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                  count(*) AS n_events,
                  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS day_sum
           FROM e GROUP BY 1, 2),
         last_ev AS (
           SELECT user_id, day, value AS day_last FROM (
             SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
                    row_number() OVER (PARTITION BY user_id,
                        CAST(date_trunc('day', ts) AS DATE)
                      ORDER BY ts DESC, event_id DESC) AS rn
             FROM e) t WHERE rn = 1),
         span AS (
           SELECT user_id,
                  CAST(unnest(generate_series(CAST(min_d AS TIMESTAMP),
                    CAST(max_d AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
           FROM (SELECT user_id, min(day) AS min_d, max(day) AS max_d
                 FROM obs GROUP BY 1)),
         j AS (
           SELECT s.user_id, s.day,
                  coalesce(o.n_events, 0) AS n_events, o.day_sum, l.day_last,
                  o.n_events IS NULL AS is_gap
           FROM span s
           LEFT JOIN obs o ON s.user_id = o.user_id AND s.day = o.day
           LEFT JOIN last_ev l ON s.user_id = l.user_id AND s.day = l.day)
         SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events, day_sum,
                last_value(day_last IGNORE NULLS) OVER (PARTITION BY user_id
                  ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS filled_value,
                is_gap
         FROM j""",
    "q_asof_fwd" ->
      """WITH o AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY 1, 2),
         e AS (
           SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
           FROM events)
         SELECT e.event_id, e.user_id,
                CASE WHEN o.o_orderdate <= e.ts + INTERVAL 30 DAY
                     THEN o.o_orderkey END AS next_order
         FROM e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts""",
    "q_asof_nearest" ->
      """WITH o AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
           FROM orders GROUP BY 1, 2),
         e AS (
           SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
           FROM events),
         b AS (
           SELECT e.event_id, o.o_orderkey AS bk, o.o_orderdate AS bt
           FROM e ASOF LEFT JOIN o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts),
         f AS (
           SELECT e.event_id, o.o_orderkey AS fk, o.o_orderdate AS ft
           FROM e ASOF LEFT JOIN o
             ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts)
         SELECT e.event_id, e.user_id,
                CASE WHEN bk IS NULL THEN fk
                     WHEN fk IS NULL THEN bk
                     WHEN epoch_us(e.ts) - epoch_us(bt)
                          <= epoch_us(ft) - epoch_us(e.ts) THEN bk
                     ELSE fk END AS near_order
         FROM e JOIN b USING (event_id) JOIN f USING (event_id)""",
    "q_pivot" ->
      """SELECT l_linestatus,
                CAST(CAST(sum(CASE WHEN l_returnflag = 'A'
                     THEN cast(l_quantity AS decimal(18,2)) END) AS STRING) AS DOUBLE) AS "A",
                CAST(CAST(sum(CASE WHEN l_returnflag = 'N'
                     THEN cast(l_quantity AS decimal(18,2)) END) AS STRING) AS DOUBLE) AS "N",
                CAST(CAST(sum(CASE WHEN l_returnflag = 'R'
                     THEN cast(l_quantity AS decimal(18,2)) END) AS STRING) AS DOUBLE) AS "R"
         FROM lineitem GROUP BY 1""",
    // native DISTINCT ON with the same total order
    "q_distinct_on" ->
      """SELECT DISTINCT ON (user_id)
                user_id, event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events
         ORDER BY user_id, ts DESC, event_id DESC""",
    // the VALUES are the contract; DuckDB reproduces them with
    // conditional aggregates
    "q_pivot_sql" ->
      """SELECT l_linestatus,
                CAST(CAST(sum(CASE WHEN l_returnflag = 'A'
                     THEN cast(l_quantity AS decimal(18,2)) END) AS STRING) AS DOUBLE) AS "A",
                CAST(CAST(sum(CASE WHEN l_returnflag = 'N'
                     THEN cast(l_quantity AS decimal(18,2)) END) AS STRING) AS DOUBLE) AS "N",
                CAST(CAST(sum(CASE WHEN l_returnflag = 'R'
                     THEN cast(l_quantity AS decimal(18,2)) END) AS STRING) AS DOUBLE) AS "R"
         FROM lineitem GROUP BY 1""",
    // FILTER columns mirror Spark's pivot naming: <value>_<agg alias>
    "q_pivot_multi" ->
      """SELECT l_linestatus,
                CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS "A_n",
                CAST(CAST(sum(cast(l_quantity AS decimal(18,2)))
                  FILTER (WHERE l_returnflag = 'A') AS STRING) AS DOUBLE) AS "A_qty",
                CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS "N_n",
                CAST(CAST(sum(cast(l_quantity AS decimal(18,2)))
                  FILTER (WHERE l_returnflag = 'N') AS STRING) AS DOUBLE) AS "N_qty",
                CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS "R_n",
                CAST(CAST(sum(cast(l_quantity AS decimal(18,2)))
                  FILTER (WHERE l_returnflag = 'R') AS STRING) AS DOUBLE) AS "R_qty"
         FROM lineitem GROUP BY 1""",
    // the same FILTER/count_if/bool_* statement shape, near-verbatim
    "q_agg_filters" ->
      """SELECT l_returnflag,
                CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
                CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
                bool_and(l_extendedprice > 0) AS all_positive,
                bool_or(l_quantity >= 50) AS any_max_qty,
                CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS linenum_sum
         FROM lineitem GROUP BY 1""",
    "q_percentiles" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.5) AS p50,
                quantile_cont(l_extendedprice, 0.9) AS p90
         FROM lineitem GROUP BY 1""",
    "q_sample_hash" ->
      """SELECT source, count(*) AS n_sampled,
                cast(sum(n_chars) AS bigint) AS sampled_chars
         FROM documents
         WHERE substr(md5(text), 1, 1) IN ('0','1','2','3')
         GROUP BY 1""",
    "txt_normalize" ->
      s"""SELECT doc_id, ${graft.operators.TextOps.normalizeSql("text")} AS norm
         FROM documents""",
    "q_compact" ->
      """SELECT o_orderstatus, count(*) AS n,
                CAST(CAST(sum(cast(o_totalprice AS decimal(18,2))) AS STRING) AS DOUBLE)
                  AS total
         FROM orders GROUP BY 1""",
    "q_outliers" ->
      """WITH f AS (
           SELECT l_returnflag,
                  quantile_cont(l_extendedprice, 0.25) AS q1,
                  quantile_cont(l_extendedprice, 0.75) AS q3
           FROM lineitem GROUP BY 1),
         fn AS (SELECT l_returnflag,
                       q1 - (q3 - q1) * 1.5 AS lo,
                       q3 + (q3 - q1) * 1.5 AS hi
                FROM f)
         SELECT l.l_returnflag, count(*) AS n,
                CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_low,
                CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_high
         FROM lineitem l JOIN fn USING (l_returnflag)
         GROUP BY 1""",
    "q_schema_evolution" ->
      """WITH unioned AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
                  CAST(NULL AS VARCHAR) AS o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_v1,
                CAST(CAST(sum(cast(o_totalprice AS decimal(18,2))) AS STRING) AS DOUBLE)
                  AS total
         FROM unioned GROUP BY 1""",
    "q_partition_prune" ->
      """SELECT event_type, count(*) AS n,
                CAST(CAST(sum(cast(value AS decimal(18,4))) AS STRING) AS DOUBLE) AS total
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY 1""",
    "q_skew_join" ->
      """WITH dim AS (
           SELECT source, count(*) AS n_src,
                  CAST(sum(n_chars) AS BIGINT) AS src_chars
           FROM documents GROUP BY 1)
         SELECT doc_id, source, n_src,
                (n_chars * 100) // src_chars AS share_pct
         FROM documents JOIN dim USING (source)""",
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                CAST(CAST(sum(cast(o_totalprice AS decimal(18,2))) AS STRING) AS DOUBLE)
                  AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY 1""",
    "txt_nfc" ->
      """SELECT doc_id,
                length(nfc_normalize(text)) AS nfc_len,
                nfc_normalize(text) <> text AS changed,
                md5(nfc_normalize(text)) AS h
         FROM documents""",
    "pipeline_corpus" ->
      s"""WITH norm AS (
           SELECT doc_id, source, n_chars,
                  ${graft.operators.TextOps.normalizeSql("text")} AS norm
           FROM documents),
         filt AS (SELECT * FROM norm WHERE length(norm) >= 50),
         dedup AS (
           SELECT md5(norm) AS h, min(doc_id) AS doc_id,
                  arg_min(source, doc_id) AS source,
                  arg_min(n_chars, doc_id) AS n_chars
           FROM filt GROUP BY 1),
         samp AS (SELECT * FROM dedup WHERE substr(h, 1, 1) < 'c')
         SELECT source, count(*) AS n_docs,
                cast(sum(n_chars) AS bigint) AS total_chars
         FROM samp GROUP BY 1""",
    "q_window_range" ->
      """SELECT event_id,
                CAST(CAST(sum(cast(value AS decimal(18,4))) OVER (
                  PARTITION BY user_id
                  ORDER BY epoch_us(date_trunc('microseconds', ts))
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE) AS hr_sum
         FROM events""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(CAST(sum(cast(l_quantity AS decimal(18,2))) AS STRING) AS DOUBLE) AS qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q_observe" ->
      """SELECT count(*) AS n_in,
                cast(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS bigint) AS n_short,
                cast(max(n_chars) AS bigint) AS max_chars
         FROM documents""",
    // q_approx_distinct / q_approx_percentile (the bench faces) emit raw
    // engine-specific sketch values — deliberately NO oracle (rows-only
    // driver check); their accuracy oracles are the *_check faces.
    // DuckDB's sketch-union twin checks its own approx path and hard-codes
    // the boolean contract the Spark side must really earn
    "q_sketch_union_check" ->
      """SELECT count(DISTINCT l_orderkey)::BIGINT AS n_exact,
                (abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
                   <= 0.05 * count(DISTINCT l_orderkey)) AS sketch_ok
         FROM lineitem""",
    "q_approx_distinct_check" ->
      """SELECT l_returnflag,
                count(DISTINCT l_orderkey) AS exact_orders,
                (abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
                   <= 0.05 * count(DISTINCT l_orderkey)) AS orders_ok
         FROM lineitem GROUP BY 1""",
    "q_approx_percentile_check" ->
      """SELECT l_returnflag,
                (abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
                   <= 0.05 * quantile_cont(l_extendedprice, 0.5)) AS p50_ok,
                (abs(approx_quantile(l_extendedprice, 0.9) - quantile_cont(l_extendedprice, 0.9))
                   <= 0.05 * quantile_cont(l_extendedprice, 0.9)) AS p90_ok
         FROM lineitem GROUP BY 1""",
    // the DuckDB-native SUMMARIZE, restricted to its deterministic
    // columns; null_percentage cast DOUBLE (DECIMAL(9,2) stringifies with
    // trailing zeros otherwise)
    "q_summarize" ->
      """SELECT column_name, column_type, min, max, count,
                CAST(null_percentage AS DOUBLE) AS null_percentage
         FROM (SUMMARIZE SELECT doc_id, lang, source,
                 CASE WHEN doc_id % 7 <> 0 THEN lang END AS lang7,
                 CASE WHEN doc_id % 3 <> 0 THEN n_chars END AS nc3
               FROM documents)""",
    // the genuine pragma over the same parquet views
    "q_table_info" ->
      """SELECT 'lineitem' AS table_name, CAST(cid AS BIGINT) AS cid,
                name, type, "notnull"
         FROM pragma_table_info('lineitem')
         UNION ALL
         SELECT 'documents', CAST(cid AS BIGINT), name, type, "notnull"
         FROM pragma_table_info('documents')
         UNION ALL
         SELECT 'embeddings', CAST(cid AS BIGINT), name, type, "notnull"
         FROM pragma_table_info('embeddings')""",
    "q_profile_full" -> graft.operators.Profiler.oracleSqlFor("lineitem", Seq(
      "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
      "l_linenumber" -> "num", "l_quantity" -> "num",
      "l_extendedprice" -> "num", "l_discount" -> "num", "l_tax" -> "num",
      "l_returnflag" -> "str", "l_linestatus" -> "str",
      "l_shipdate" -> "ts")),
    "q_profile_docs" -> graft.operators.Profiler.oracleSqlFor("documents", Seq(
      "doc_id" -> "num", "text" -> "str", "lang" -> "str",
      "source" -> "str", "n_chars" -> "num")),
    "q_profile_events" -> graft.operators.Profiler.oracleSqlFor("events", Seq(
      "event_id" -> "num", "ts" -> "ts", "user_id" -> "num",
      "event_type" -> "str", "value" -> "num", "props" -> "str")),
    // generated from the same (table, column) list as the Spark side
    "q_entropy" -> graft.operators.Profiler.entropyOracleSql(entropySpecs),
    // same planted holes, lag spelled as the stock window (DuckDB has no
    // single-task hazard to avoid)
    "q_id_gaps" ->
      """WITH ids AS (
           SELECT DISTINCT doc_id FROM documents WHERE doc_id % 37 <> 0),
         l AS (
           SELECT doc_id, lag(doc_id) OVER (ORDER BY doc_id) AS prev
           FROM ids)
         SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
                CAST(doc_id - 1 AS BIGINT) AS gap_end,
                CAST(doc_id - prev - 1 AS BIGINT) AS n_missing
         FROM l WHERE prev IS NOT NULL AND doc_id - prev > 1""",
    // same per-candidate multiplicity rollup
    "q_unique_check" ->
      """WITH d AS (
           SELECT count(*)::BIGINT AS m FROM documents GROUP BY doc_id),
         dr AS (
           SELECT 'documents.doc_id' AS candidate,
                  CAST(sum(m) AS BIGINT) AS n_rows,
                  count(*)::BIGINT AS n_keys,
                  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_dup_keys,
                  CAST(max(m) AS BIGINT) AS max_multiplicity
           FROM d),
         l AS (
           SELECT count(*)::BIGINT AS m FROM lineitem
           GROUP BY l_orderkey, l_linenumber),
         lr AS (
           SELECT 'lineitem.(l_orderkey,l_linenumber)' AS candidate,
                  CAST(sum(m) AS BIGINT) AS n_rows,
                  count(*)::BIGINT AS n_keys,
                  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_dup_keys,
                  CAST(max(m) AS BIGINT) AS max_multiplicity
           FROM l)
         SELECT *, n_dup_keys = 0 AS is_unique FROM dr
         UNION ALL
         SELECT *, n_dup_keys = 0 AS is_unique FROM lr""",
    // pair counts from a distinct-pair self-join of the tiny (user, type)
    // table in SQL; Spark's per-user set fan-out produces identical pairs
    "q_audience_overlap" ->
      """WITH ut AS (
           SELECT DISTINCT user_id, event_type FROM events),
         sz AS (
           SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS ta, b.event_type AS tb,
                  count(*)::BIGINT AS n_both
           FROM ut a JOIN ut b ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT p.ta, p.tb, p.n_both, sa.n AS n_a, sb.n AS n_b,
                10000 * p.n_both // (sa.n + sb.n - p.n_both) AS jaccard_bp
         FROM pairs p JOIN sz sa ON p.ta = sa.event_type
                      JOIN sz sb ON p.tb = sb.event_type""",
    // same count-of-counts decomposition, same upper-median / ceil-p99
    // crossing rules, same integer ratios
    "q_key_skew" ->
      """WITH kc AS (
           SELECT o_custkey, count(*)::BIGINT AS cnt
           FROM orders GROUP BY 1),
         dist AS (SELECT cnt, count(*)::BIGINT AS k FROM kc GROUP BY 1),
         c AS (
           SELECT cnt, k,
                  CAST(sum(k) OVER (ORDER BY cnt ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM dist),
         tot AS (
           SELECT CAST(max(cum) AS BIGINT) AS n_keys,
                  CAST(sum(cnt * k) AS BIGINT) AS n_rows,
                  CAST(max(cnt) AS BIGINT) AS max_cnt
           FROM c),
         q AS (
           SELECT CAST(min(CASE WHEN cum * 2 >= n_keys + 1 THEN cnt END)
                    AS BIGINT) AS p50_cnt,
                  CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN cnt END)
                    AS BIGINT) AS p99_cnt
           FROM c CROSS JOIN tot)
         SELECT n_keys, n_rows, max_cnt,
                100 * n_rows // n_keys AS mean_x100,
                p50_cnt, p99_cnt,
                100 * (max_cnt * n_keys) // n_rows AS skew_x100
         FROM tot CROSS JOIN q""",
    "q_profile_stats" ->
      """SELECT count(*) AS n_rows,
                min(l_extendedprice) AS price_min,
                max(l_extendedprice) AS price_max,
                CAST(CAST(sum(cast(l_extendedprice AS decimal(18,2))) AS STRING) AS DOUBLE) / count(*) AS price_mean,
                cast(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS bigint) AS price_nulls,
                min(l_shipdate) AS ship_min,
                max(l_shipdate) AS ship_max,
                count(DISTINCT l_returnflag) AS flag_card
         FROM lineitem""",
    "q_date_funcs" ->
      """SELECT o_orderkey,
                cast(year(o_orderdate) AS bigint) AS y,
                cast(month(o_orderdate) AS bigint) AS m,
                cast(day(o_orderdate) AS bigint) AS d,
                cast(quarter(o_orderdate) AS bigint) AS q,
                strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
         FROM orders""",
    "q_interval_funcs" ->
      """SELECT o_orderkey,
                CAST((year(o_orderdate) - 1995) * 12
                  + (month(o_orderdate) - 1) AS BIGINT) AS months_since,
                strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
                strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
                strftime(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH,
                  '%Y-%m-%d') AS next_month,
                CAST(epoch_us(o_orderdate)
                  - epoch_us(date_trunc('month', o_orderdate)) AS BIGINT)
                  AS us_into_month
         FROM orders""",
    "q_bfs_reach" ->
      """WITH RECURSIVE seq AS (
           SELECT event_type, user_id,
                  lag(user_id) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS prev_user,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS gap_us
           FROM events),
         e0 AS (
           SELECT DISTINCT least(user_id, prev_user) AS a,
                           greatest(user_id, prev_user) AS b
           FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
             AND gap_us <= 60000000),
         edges AS (SELECT a AS src, b AS dst FROM e0
                   UNION ALL SELECT b, a FROM e0),
         bfs AS (
           SELECT (SELECT min(user_id) FROM events) AS node, 0 AS d
           UNION
           SELECT e.dst AS node, bfs.d + 1 AS d
           FROM bfs JOIN edges e ON e.src = bfs.node
           WHERE bfs.d < 8
         )
         SELECT CAST(d AS INTEGER) AS hops, CAST(count(*) AS BIGINT) AS n_users
         FROM (SELECT node, min(d) AS d FROM bfs GROUP BY node) t
         GROUP BY d""",
    "q_triangles" ->
      """WITH seq AS (
           SELECT event_type, user_id,
                  lag(user_id) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS prev_user,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS gap_us
           FROM events),
         e0 AS (
           SELECT DISTINCT least(user_id, prev_user) AS a,
                           greatest(user_id, prev_user) AS b
           FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
             AND gap_us <= 60000000),
         deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t
           GROUP BY node),
         tri AS (
           SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM e0 e1 JOIN e0 e2 ON e2.a = e1.b
                      JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
                CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
                n_triangles,
                CAST(n_triangles * 3 AS BIGINT) AS n_closed
         FROM deg, tri GROUP BY n_triangles""",
    "q_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS gap_us
           FROM events),
         s AS (
           SELECT user_id, event_id,
                  sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
           FROM g),
         per_session AS (
           SELECT user_id, session_no, CAST(count(*) AS BIGINT) AS n_ev
           FROM s GROUP BY 1, 2)
         SELECT user_id,
                CAST(max(session_no) AS BIGINT) AS n_sessions,
                CAST(sum(n_ev) AS BIGINT) AS n_events,
                CAST(max(n_ev) AS BIGINT) AS max_session_events
         FROM per_session GROUP BY user_id""",
    "q_shortest_paths" ->
      """WITH seq AS (
           SELECT event_type, user_id,
                  lag(user_id) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS prev_user,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS gap_us
           FROM events),
         e0 AS (
           SELECT least(user_id, prev_user) AS a,
                  greatest(user_id, prev_user) AS b,
                  min(gap_us) // 1000000 + 1 AS w
           FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
             AND gap_us <= 60000000
           GROUP BY 1, 2),
         ed AS (SELECT a AS src, b AS dst, w FROM e0
                UNION ALL SELECT b, a, w FROM e0),
         d0 AS (SELECT (SELECT min(user_id) FROM events) AS node,
                       CAST(0 AS BIGINT) AS cost),
         d1 AS (SELECT node, min(cost) AS cost FROM (
                  SELECT * FROM d0 UNION ALL
                  SELECT e.dst, d.cost + e.w FROM d0 d JOIN ed e ON d.node = e.src)
                GROUP BY 1),
         d2 AS (SELECT node, min(cost) AS cost FROM (
                  SELECT * FROM d1 UNION ALL
                  SELECT e.dst, d.cost + e.w FROM d1 d JOIN ed e ON d.node = e.src)
                GROUP BY 1),
         d3 AS (SELECT node, min(cost) AS cost FROM (
                  SELECT * FROM d2 UNION ALL
                  SELECT e.dst, d.cost + e.w FROM d2 d JOIN ed e ON d.node = e.src)
                GROUP BY 1),
         d4 AS (SELECT node, min(cost) AS cost FROM (
                  SELECT * FROM d3 UNION ALL
                  SELECT e.dst, d.cost + e.w FROM d3 d JOIN ed e ON d.node = e.src)
                GROUP BY 1),
         d5 AS (SELECT node, min(cost) AS cost FROM (
                  SELECT * FROM d4 UNION ALL
                  SELECT e.dst, d.cost + e.w FROM d4 d JOIN ed e ON d.node = e.src)
                GROUP BY 1),
         d6 AS (SELECT node, min(cost) AS cost FROM (
                  SELECT * FROM d5 UNION ALL
                  SELECT e.dst, d.cost + e.w FROM d5 d JOIN ed e ON d.node = e.src)
                GROUP BY 1)
         SELECT node AS user_id, CAST(cost AS BIGINT) AS cost FROM d6""",
    // same 3 peeling rounds unrolled (ssspInt discipline)
    // same bounded 8-round min-label propagation (rounds generated), same
    // integer modularity identity Q·4m² = 4m·intra − Σ d_c²
    "q_modularity" -> {
      val rounds = (1 to 8).map { k =>
        s"""l$k AS MATERIALIZED (SELECT v, min(l) AS l FROM (
              SELECT v, l FROM l${k - 1}
              UNION ALL SELECT e0.b AS v, p.l FROM e0
                JOIN l${k - 1} p ON e0.a = p.v
              UNION ALL SELECT e0.a AS v, p.l FROM e0
                JOIN l${k - 1} p ON e0.b = p.v) u
            GROUP BY v)"""
      }.mkString(",\n         ")
      s"""WITH seq AS (
           SELECT event_type, user_id,
                  lag(user_id) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS prev_user,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS gap_us
           FROM events),
         e0 AS MATERIALIZED (
           SELECT DISTINCT least(user_id, prev_user) AS a,
                           greatest(user_id, prev_user) AS b
           FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
             AND gap_us <= 60000000),
         l0 AS MATERIALIZED (SELECT v, v AS l FROM (
                  SELECT a AS v FROM e0 UNION SELECT b FROM e0) n),
         $rounds,
         deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                   SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) t
                 GROUP BY 1),
         dc AS (SELECT l8.l, CAST(sum(deg.deg) AS BIGINT) AS d_c
                FROM deg JOIN l8 ON deg.v = l8.v GROUP BY 1),
         sums AS (SELECT CAST(count(*) AS BIGINT) AS n_comm,
                    CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2 FROM dc),
         em AS (SELECT CAST(count(*) AS BIGINT) AS m,
                  CAST(sum(CASE WHEN la.l = lb.l THEN 1 ELSE 0 END)
                    AS BIGINT) AS intra
                FROM e0 JOIN l8 la ON e0.a = la.v
                        JOIN l8 lb ON e0.b = lb.v)
         SELECT m AS n_edges, intra AS intra_edges,
                n_comm AS n_communities, sum_dc2,
                4 * m * intra - sum_dc2 AS q_num,
                CAST(4 * m * intra - sum_dc2 AS DOUBLE) /
                  CAST(4 * m * m AS DOUBLE) AS modularity
         FROM em CROSS JOIN sums"""
    },
    // same doubled-orientation moment sums (decimal-exact via the string
    // route), same q_corr final op order
    "q_assortativity" ->
      """WITH seq AS (
           SELECT event_type, user_id,
                  lag(user_id) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS prev_user,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY
                    event_type ORDER BY ts, event_id) AS gap_us
           FROM events),
         e0 AS (
           SELECT DISTINCT least(user_id, prev_user) AS a,
                           greatest(user_id, prev_user) AS b
           FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
             AND gap_us <= 60000000),
         deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t
           GROUP BY node),
         dir AS (
           SELECT a AS u, b AS v FROM e0
           UNION ALL SELECT b AS u, a AS v FROM e0),
         j AS (
           SELECT du.deg AS du, dv.deg AS dv
           FROM dir JOIN deg du ON dir.u = du.node
                    JOIN deg dv ON dir.v = dv.node),
         a AS (
           SELECT count(*) AS n2, count(*)::DOUBLE AS nd,
                  CAST(CAST(sum(CAST(du AS DECIMAL(38,0))) AS STRING)
                    AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(dv AS DECIMAL(38,0))) AS STRING)
                    AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(du * du AS DECIMAL(38,0))) AS STRING)
                    AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(dv * dv AS DECIMAL(38,0))) AS STRING)
                    AS DOUBLE) AS syy,
                  CAST(CAST(sum(CAST(du * dv AS DECIMAL(38,0))) AS STRING)
                    AS DOUBLE) AS sxy
           FROM j)
         SELECT CAST(n2 // 2 AS BIGINT) AS n_edges,
                (nd * sxy - sx * sy) /
                  (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))
                  AS assortativity
         FROM a""",
    // same wedge enumeration, adjacency exclusion, integer Jaccard and
    // (cn desc, jaccard desc, a, b) top-k total order
    "q_link_predict" ->
      """WITH seq AS (
           SELECT event_type, user_id,
                  lag(user_id) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS prev_user,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY
                    event_type ORDER BY ts, event_id) AS gap_us
           FROM events),
         e0 AS (
           SELECT DISTINCT least(user_id, prev_user) AS a,
                           greatest(user_id, prev_user) AS b
           FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
             AND gap_us <= 60000000),
         deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t
           GROUP BY node),
         dir AS (
           SELECT a AS u, b AS v FROM e0
           UNION ALL SELECT b AS u, a AS v FROM e0),
         cn AS (
           SELECT x.u AS a, y.v AS b, CAST(count(*) AS BIGINT)
                    AS common_neighbors
           FROM dir x JOIN dir y ON x.v = y.u
           WHERE x.u < y.v
           GROUP BY 1, 2),
         miss AS (
           SELECT cn.* FROM cn
           WHERE NOT EXISTS (SELECT 1 FROM e0
                             WHERE e0.a = cn.a AND e0.b = cn.b))
         SELECT m.a, m.b, m.common_neighbors,
                da.deg AS deg_a, db.deg AS deg_b,
                10000 * m.common_neighbors
                  // (da.deg + db.deg - m.common_neighbors) AS jaccard_bp
         FROM miss m JOIN deg da ON m.a = da.node
                     JOIN deg db ON m.b = db.node
         ORDER BY m.common_neighbors DESC,
                  10000 * m.common_neighbors
                    // (da.deg + db.deg - m.common_neighbors) DESC,
                  m.a, m.b
         LIMIT 20""",
    "q_kcore" ->
      """WITH seq AS (
           SELECT event_type, user_id,
                  lag(user_id) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS prev_user,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS gap_us
           FROM events),
         e0 AS (
           SELECT DISTINCT least(user_id, prev_user) AS a,
                           greatest(user_id, prev_user) AS b
           FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
             AND gap_us <= 60000000),
         d1 AS (SELECT node, count(*) AS deg FROM (
                  SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t
                GROUP BY 1),
         k1 AS (SELECT node FROM d1 WHERE deg >= 3),
         e1 AS (SELECT e0.a, e0.b FROM e0
                JOIN k1 x ON e0.a = x.node JOIN k1 y ON e0.b = y.node),
         d2 AS (SELECT node, count(*) AS deg FROM (
                  SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) t
                GROUP BY 1),
         k2 AS (SELECT node FROM d2 WHERE deg >= 3),
         e2 AS (SELECT e1.a, e1.b FROM e1
                JOIN k2 x ON e1.a = x.node JOIN k2 y ON e1.b = y.node),
         d3 AS (SELECT node, count(*) AS deg FROM (
                  SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) t
                GROUP BY 1),
         k3 AS (SELECT node FROM d3 WHERE deg >= 3),
         e3 AS (SELECT e2.a, e2.b FROM e2
                JOIN k3 x ON e2.a = x.node JOIN k3 y ON e2.b = y.node)
         SELECT node AS user_id, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) t
         GROUP BY 1""",
    "q_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
           FROM events),
         isl AS (
           SELECT user_id, day,
                  day - CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY day) AS INTEGER) AS island
           FROM days),
         per_island AS (
           SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
           FROM isl GROUP BY 1, 2)
         SELECT user_id,
                CAST(sum(len) AS BIGINT) AS n_active_days,
                CAST(count(*) AS BIGINT) AS n_streaks,
                CAST(max(len) AS BIGINT) AS longest_streak
         FROM per_island GROUP BY user_id""",
    "q_incr_agg" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
                  AS total_price
         FROM orders GROUP BY 1""",
    "q_incr_agg_cdc" ->
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
         v2 AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice,
                  o_orderdate
           FROM v1 WHERE o_orderkey % 97 <> 0
           UNION ALL
           SELECT o_orderkey + 10000000, o_totalprice, o_orderdate
           FROM v1 WHERE o_orderkey % 53 = 0)
         SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
                  AS total_price
         FROM v2 GROUP BY 1"""
  )
}
