package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --t0-ms MS`. Prints a context line, then the result line. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, t0Ms: Long)

  val Workloads: Seq[String] = Seq("ingest_foreign", "write_read_indexed")

  def parse(argv: Array[String]): Opts = {
    require(argv.length % 2 == 0, "arguments come in --name value pairs")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", Paths.get(get("work")).toAbsolutePath, get("t0-ms").toLong)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; have ${Workloads.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def main(argv: Array[String]): Unit = {
    val o =
      try parse(argv)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
      }
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmS = (System.currentTimeMillis() - o.t0Ms) / 1e3
    val bench = new Bench(spark, o, cores)
    val (context, result) =
      try if (o.trace) bench.traced() else bench.untraced(jvmS)
      finally spark.stop()
    println(Stats.json(context))
    println(Stats.json(result))
  }
}

/** Input sizes and loop counts. */
object Sizes {
  val ForeignRows = 100000
  val IndexedRows = 30000
  val MinOps = 40 // per op type in the timed window
  val CapSeconds = 120.0 // the window never runs longer
  val SetupReps = 3 // fixture generations per run; setup_s takes the median
  val Warmup = 6 // rounds before the window, fixed so setup_s does not drift
  val FacesWarmup = 2 // the first round also builds the faces' persisted index
  val TraceReps = 5 // traced ops per op type
  val OverheadRounds = 12 // untraced/traced pairs for the tracing overhead
}

final class Bench(spark: SparkSession, o: Main.Opts, cores: Int) {
  private val sc = spark.sparkContext
  private val tr = new Tracer
  private var attempted, failed = 0L
  private val errors = mutable.ArrayBuffer[String]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var recording = false
  private val kernelMs = mutable.ArrayBuffer[Double]()

  // ---- ops ----------------------------------------------------------------

  private def fail(what: String): Unit = {
    failed += 1
    if (errors.length < 8) errors += what
    System.err.println(s"perfbench: FAILED $what")
  }

  /** Counts one op and turns an exception into a failure. */
  private def attempt[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  private def record(kind: String, s: Double): Unit =
    if (recording) samples.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += s

  /** build → plan → exec of one op, each a span; `exec` defaults to the
    * noop sink. Records the op's latency under `kind`. */
  private def query(kind: String)(build: => DataFrame)(
      exec: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()): Unit =
    attempt(kind) {
      val t0 = System.nanoTime()
      tr.op(kind) {
        val df = tr.span("build")(build)
        tr.span("plan")(df.queryExecution.executedPlan)
        tr.span("exec")(exec(df))
      }
      record(kind, (System.nanoTime() - t0) / 1e9)
    }

  private def xlsx(path: String): DataFrame = spark.read.format("xlsx").load(path)

  private def verify(what: String)(ok: => Boolean): Unit =
    attempt(s"check $what")(ok) match {
      case Some(false) => fail(s"check $what: wrong output")
      case _ =>
    }

  private def checkWorkbook(what: String, path: String, rows: Int, partitions: Int => Boolean): Unit =
    verify(what) {
      val df = xlsx(path)
      val got = Gen.readChecksum(df)
      val want = (rows.toLong, Gen.checksum(o.seed, rows))
      val parts = df.rdd.getNumPartitions
      if (got != want) System.err.println(s"perfbench: $what rows/checksum $got, want $want")
      if (!partitions(parts)) System.err.println(s"perfbench: $what planned $parts partitions")
      got == want && partitions(parts)
    }

  // ---- workloads ------------------------------------------------------------

  /** A timed workload: a DSv2 read plus one auxiliary op type per round. */
  private trait Workload {
    def generate(): Unit
    def round(): Unit
    def check(): Unit
    def readKind: String
    def auxKind: String
  }

  private final class Ingest extends Workload {
    val path: String = o.work.resolve("foreign").resolve("workbook.xlsx").toString
    private var digest: Array[Byte] = _
    def generate(): Unit = {
      val f = Paths.get(path)
      Files.createDirectories(f.getParent)
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(f), 1 << 16)
      try Gen.foreignWorkbook(o.seed, Sizes.ForeignRows, out) finally out.close()
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f))
      if (digest != null && !java.util.Arrays.equals(d, digest))
        fail("generate: the same seed gave a different foreign workbook")
      digest = d
    }
    def open(): Unit = attempt("open") {
      val t0 = System.nanoTime()
      tr.op("open")(tr.span("build")(xlsx(path).schema))
      record("open", (System.nanoTime() - t0) / 1e9)
    }
    def read(): Unit = query("read_foreign")(xlsx(path))()
    def round(): Unit = { open(); read() }
    def check(): Unit = checkWorkbook("foreign", path, Sizes.ForeignRows, _ == 1)
    val readKind = "read_foreign"
    val auxKind = "open"
  }

  private final class WriteRead extends Workload {
    val dir: String = o.work.resolve("indexed").toString
    private var frame: DataFrame = _
    def generate(): Unit = {
      if (frame != null) frame.unpersist(blocking = true)
      frame = Gen.frame(spark, o.seed, Sizes.IndexedRows)
      frame.count()
    }
    def write(): Unit = query("write_indexed")(frame)(
      _.write.format("xlsx").mode("overwrite").save(dir))
    def read(): Unit = query("read_indexed")(xlsx(dir))()
    def round(): Unit = { write(); read() }
    def check(): Unit = checkWorkbook("indexed", dir, Sizes.IndexedRows, _ > 1)
    val readKind = "read_indexed"
    val auxKind = "write_indexed"
  }

  /** The non-streaming faces: traced only (see the README for why they
    * are not a timed workload). */
  private final class Analytics {
    val dir: String = o.work.resolve("faces").toString
    def generate(): Unit = Faces.fixture(spark, dir)
    def face(n: String): Unit = query(n)(Faces.frame(spark, n, dir))()
    def round(): Unit = Faces.Names.foreach(face)
    def check(): Unit = Faces.Names.foreach { n =>
      verify(s"face $n") {
        val rows = Faces.frame(spark, n, dir).collect()
        val got = (rows.length.toLong, Faces.rowHash(rows))
        if (got != Faces.Pinned(n)) System.err.println(s"perfbench: face $n gave $got, pinned ${Faces.Pinned(n)}")
        got == Faces.Pinned(n)
      }
    }
  }

  private def workload(name: String): Workload = name match {
    case "ingest_foreign" => new Ingest
    case "write_read_indexed" => new WriteRead
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** A quantile of one op type's samples: never taken across op types. */
  private def q(kind: String, p: Double): Double =
    Stats.quantile(samples.getOrElse(kind, Seq(Double.NaN)).toSeq, p)

  private def context(extra: Map[String, Any]): Map[String, Any] = Map(
    "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
    "samples" -> samples.map { case (k, v) => k -> Map("n" -> v.length,
      "p50" -> Stats.median(v.toSeq), "p75" -> Stats.quantile(v.toSeq, 0.75)) }.toMap,
    "box_kernel_ms" -> (if (kernelMs.isEmpty) Map.empty[String, Any] else Map(
      "n" -> kernelMs.length, "p50" -> Stats.median(kernelMs.toSeq),
      "p75" -> Stats.quantile(kernelMs.toSeq, 0.75))),
    "errors" -> errors.toSeq) ++ extra

  private def result(metrics: Map[String, (Double, String)]): Map[String, Any] = Map(
    "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })

  // ---- untraced run: the end-to-end metrics ---------------------------------

  def untraced(jvmS: Double): (Map[String, Any], Map[String, Any]) = {
    val w = workload(o.workload)
    val gens = (1 to Sizes.SetupReps).map(_ => seconds(w.generate()))
    val warm = seconds((1 to Sizes.Warmup).foreach(_ => w.round()))
    w.check()
    recording = true
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def fewest = Seq(w.readKind, w.auxKind).map(k => samples.get(k).fold(0)(_.length)).min
    var rounds = 0
    while ((elapsed < o.seconds || fewest < Sizes.MinOps) && elapsed < Sizes.CapSeconds) {
      w.round()
      rounds += 1
      if (rounds % 4 == 0) kernelMs += Kernel.run() * 1e3
    }
    val window = elapsed
    recording = false
    val heap = Gc.retainedMb()
    w.check()
    val setup = jvmS + Stats.median(gens) + warm
    val metrics = Map(
      "setup_s" -> (setup, "s"),
      "read_p50_s" -> (q(w.readKind, 0.5), "s"),
      "read_p75_s" -> (q(w.readKind, 0.75), "s"),
      "aux_p50_s" -> (q(w.auxKind, 0.5), "s"),
      "aux_p75_s" -> (q(w.auxKind, 0.75), "s"),
      "heap_retained_mb" -> (heap, "MB"))
    val ctx = context(Map("rounds" -> rounds, "window_s" -> window,
      "setup" -> Map("jvm_s" -> jvmS, "generate_s" -> gens, "warmup_s" -> warm)))
    (ctx, result(metrics))
  }

  // ---- traced run: the per-layer metrics ------------------------------------

  private val listener = new OpListener
  private var traceSeq = 0

  /** One traced op: spans on, Spark counters keyed to it, heap and GC
    * deltas. Returns its figures, or None when it failed. */
  private def tracedOp(kind: String)(body: => Unit): Option[Map[String, Double]] = {
    traceSeq += 1
    val key = s"$kind#$traceSeq"
    val before = failed
    sc.setLocalProperty(OpListener.Key, key)
    val (gc0, n0) = Gc.now
    val alloc0 = Alloc.allocatedBytes()
    val t0 = System.nanoTime()
    tr.on = true
    try body finally { tr.on = false; sc.setLocalProperty(OpListener.Key, null) }
    val wall = (System.nanoTime() - t0) / 1e9
    val (gc1, n1) = Gc.now
    val alloc = Alloc.allocatedBytes() - alloc0
    val a = listener.take(sc, key)
    val parts = tr.lastOp
    if (failed > before) None
    else Some(Map(
      s"spark.$kind.build_s" -> parts.getOrElse("build", 0.0),
      s"spark.$kind.plan_s" -> parts.getOrElse("plan", 0.0),
      s"spark.$kind.exec_s" -> parts.getOrElse("exec", 0.0),
      s"spark.$kind.jobs" -> a.jobs.toDouble,
      s"spark.$kind.stages" -> a.stages.toDouble,
      s"spark.$kind.tasks" -> a.tasks.toDouble,
      s"spark.$kind.executor_cpu_s" -> a.cpuNs / 1e9,
      s"spark.$kind.idle_core_share" -> (1 - a.runMs / 1e3 / (wall * cores)),
      s"spark.$kind.shuffle_mb" -> a.shuffleBytes / 1e6,
      s"spark.$kind.spill_mb" -> a.spillBytes / 1e6,
      s"jvm.$kind.alloc_mb" -> alloc / 1e6,
      s"jvm.$kind.gc_s" -> (gc1 - gc0),
      s"jvm.$kind.gc_count" -> (n1 - n0).toDouble))
  }

  /** Op figures that read 0 by construction go to the context line, not
    * to the metrics: the xlsx ops plan no exchange (noop sink, one cached
    * partition), the write's DataFrame is cached (nothing to build or
    * plan), these inputs never spill, and with a 768 MB young generation
    * most ops see no collection (`alloc_mb` is the per-op figure that
    * drives it). */
  private def contextOnly(kind: String, figure: String): Boolean =
    figure.endsWith(".spill_mb") || figure.endsWith(".gc_s") || figure.endsWith(".gc_count") ||
      (figure.endsWith(".shuffle_mb") && !Faces.Names.contains(kind)) ||
      (kind == "write_indexed" && (figure.endsWith(".build_s") || figure.endsWith(".plan_s")))

  def traced(): (Map[String, Any], Map[String, Any]) = {
    sc.addSparkListener(listener)
    val ingest = new Ingest; val wr = new WriteRead; val an = new Analytics
    def checkAll(): Unit = { ingest.check(); wr.check(); an.check() }
    ingest.generate(); wr.generate(); an.generate()
    (1 to Sizes.Warmup).foreach { _ => ingest.round(); wr.round() }
    (1 to Sizes.FacesWarmup).foreach(_ => an.round())
    checkAll()

    // tracing overhead on this workload's primary op
    val (plain, withTrace): (() => Unit, () => Unit) =
      if (o.workload == "ingest_foreign")
        (() => ingest.read(), () => tracedOp("read_foreign")(ingest.read()))
      else (() => wr.read(), () => tracedOp("read_indexed")(wr.read()))
    val pairs = (1 to Sizes.OverheadRounds).map(_ => (seconds(plain()), seconds(withTrace())))
    val (plainS, tracedS) = (Stats.median(pairs.map(_._1)), Stats.median(pairs.map(_._2)))

    val ops: Seq[(String, () => Unit)] = Seq(
      "read_foreign" -> (() => ingest.read()),
      "write_indexed" -> (() => wr.write()),
      "read_indexed" -> (() => wr.read())) ++
      Faces.Names.map(n => n -> (() => an.face(n)))
    val figures = ops.flatMap { case (kind, body) =>
      val runs = (1 to Sizes.TraceReps).flatMap(_ => tracedOp(kind)(body()))
      runs.headOption.toSeq.flatMap(_.keys.map(k => (kind, k, Stats.median(runs.map(_(k))))))
    }
    val (opContext, layers) = figures.partition { case (kind, k, _) => contextOnly(kind, k) } match {
      case (c, l) => (c.map(f => f._2 -> f._3).toMap, l.map(f => f._2 -> f._3).toMap)
    }

    val ladder = new Ladder(tr, Sizes.TraceReps)
    val autoThreads = if (cores <= 1) 1 else math.max(1, cores / 2)
    tr.on = true
    val stages =
      ladder.foreign(ingest.path, autoThreads, layers("spark.read_foreign.exec_s")) ++
        ladder.indexed(indexedFile(wr.dir), cores, layers("spark.read_indexed.exec_s")) ++
        ladder.writer(o.seed, Sizes.IndexedRows)
    tr.on = false
    (1 to 8).foreach(_ => kernelMs += Kernel.run() * 1e3)
    checkAll()
    tr.write(o.work.getParent.resolve("traces").resolve(s"${o.workload}-${o.seed}.jsonl"))

    val units = (k: String) =>
      if (k.endsWith("mb_per_s")) "MB/s" else if (k.contains("cells_per_s")) "cells/s"
      else if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms"
      else if (k.endsWith("_mb")) "MB" else if (k.endsWith("_share")) "share"
      else if (k.endsWith("_ratio")) "ratio"
      else if (k.endsWith("per_cell")) "B/cell" else "count"
    val metrics = (layers ++ stages ++ Map(
      "xlsx.read_partitions" -> xlsx(wr.dir).rdd.getNumPartitions.toDouble,
      "trace.overhead_ratio" -> tracedS / plainS,
      "box.kernel_ms" -> Stats.median(kernelMs.toSeq)))
      .map { case (k, v) => k -> (v, units(k)) }
    (context(Map("overhead_pairs" -> pairs.length, "overhead_s" -> (tracedS - plainS),
      "ops" -> opContext)), result(metrics))
  }

  private def indexedFile(dir: String): String = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".xlsx")).toSeq.sorted.head
    finally s.close()
  }
}

/** The box-speed diagnostic: a fixed single-thread CPU kernel (fill and
  * sort 2^18 ints). Context for reading the results, not a metric or a
  * normalizer. */
object Kernel {
  def run(): Double = {
    val t0 = System.nanoTime()
    val a = new Array[Int](1 << 18)
    var x = 12345
    var i = 0
    while (i < a.length) { x = x * 1103515245 + 12345; a(i) = x; i += 1 }
    java.util.Arrays.sort(a)
    if (a(0) > a(a.length - 1)) throw new IllegalStateException("sort")
    (System.nanoTime() - t0) / 1e9
  }
}
