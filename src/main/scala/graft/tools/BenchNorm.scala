package graft.tools

/** Anchor-normalization arithmetic for the bench artifact (r15 VERDICT
  * #1). Four same-code sf0.1 runs in r15 totaled 314.5-393.7 s while the
  * single-core anchor (rep_cpu_ms) swung 58.8-110.4 ms — the box's own
  * speed moved 1.7×, the load gate saw nothing (contention was
  * box-speed, not runnable queue), and the official artifact printed a
  * 13% phantom regression. The fix has two independent legs, both pure
  * functions here so a spec can pin the arithmetic:
  *
  *  1. NORMALIZE: every per-rep face time is scaled by
  *     (nominal / measured) anchor BEFORE the cross-rep median, so a rep
  *     on a 1.5×-slow box contributes its speed-corrected time. The
  *     anchor is a fixed splitmix64 loop (Bench.cpuProbeMs) timed
  *     immediately before the rep; nominal 70 ms is the r13-r15 quiet-box
  *     midpoint (66-93 observed quiet, 110 contended).
  *  2. MIN ACROSS SAME-CODE RUNS: when BENCH_HISTORY holds earlier lines
  *     for the SAME code fingerprint and SAME sf dir, the official
  *     per-face value is the MINIMUM of the normalized medians across
  *     those runs — residual contention only ever inflates a time, so
  *     min is the best estimator of the uncontended cost and identical
  *     code can never print a regression against itself.
  */
object BenchNorm {

  val NominalAnchorMs = 70.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Anchor-corrected cross-rep median for one face: each rep's raw time
    * is scaled by nominal/anchor (slow box ⇒ anchor large ⇒ time scaled
    * DOWN), then the median is taken over reps where the face ran
    * (t >= 0) and the anchor is sane (> 0). -1 when nothing qualifies. */
  def normalizedMedianSec(repTimesSec: Seq[Double], repAnchorsMs: Seq[Double],
      nominalMs: Double = NominalAnchorMs): Double = {
    val ok = repTimesSec.zip(repAnchorsMs)
      .collect { case (t, a) if t >= 0 && a > 0 => t * nominalMs / a }
    if (ok.isEmpty) -1.0 else median(ok)
  }

  /** Raw cross-rep median for one face over the reps where it ran
    * (t >= 0). With `excludeContended`, reps whose anchor marked the box
    * contended (`repClean` false) are left out — unless that leaves the
    * face no sample, in which case every rep counts, so a face that only
    * ran in contended reps keeps a time instead of dropping out of the
    * table. -1 when the face never ran. */
  def faceMedianSec(repTimesSec: Seq[Double], repClean: Seq[Boolean],
      excludeContended: Boolean): Double = {
    val ran = repTimesSec.zip(repClean).filter(_._1 >= 0)
    val clean = if (excludeContended) ran.filter(_._2) else ran
    median((if (clean.nonEmpty) clean else ran).map(_._1))
  }

  // --- history-line scraping (same regex idiom as Bench.reportTrend:
  // the lines are our own single-line JSON, written by Bench itself) ---

  /** The `"field":{...}` object's "name":num pairs from a history line;
    * empty when the field is absent. Only flat numeric objects are ever
    * written by Bench, so a non-nested brace scan is exact. */
  def faceMap(line: String, field: String): Map[String, Double] = {
    val key = "\"" + field + "\":{"
    val start = line.indexOf(key)
    if (start < 0) return Map.empty
    val open = start + key.length - 1
    val close = line.indexOf('}', open)
    if (close < 0) return Map.empty
    val body = line.substring(open + 1, close)
    "\"([A-Za-z0-9_]+)\":(-?[0-9]+(?:\\.[0-9]+)?(?:[eE]-?[0-9]+)?)".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** A top-level `"field":"value"` string from a history line. */
  def stringField(line: String, field: String): Option[String] =
    ("\"" + field + "\":\"([^\"]*)\"").r
      .findFirstMatchIn(line).map(_.group(1))

  /** A top-level `"field":num` number from a history line. */
  def numField(line: String, field: String): Option[Double] =
    ("\"" + field + "\":(-?[0-9]+(?:\\.[0-9]+)?(?:[eE]-?[0-9]+)?)").r
      .findFirstMatchIn(line).map(_.group(1).toDouble)

  /** Official per-face table: for each face in `currentNorm`, the min of
    * its normalized value across `history` lines whose code fingerprint
    * AND sf both match — plus the current run. Faces a given old run
    * lacks (surface grew) min over the runs that have them; faces no
    * longer in the current surface are dropped. Unknown fingerprints
    * never merge (two unknowns are not "same code"). Returns the table
    * and the number of runs merged (1 = current only). History values
    * are 3-decimal-rounded while the current run's are full precision,
    * so the min can prefer a prior value by up to 0.5 ms of rounding —
    * harmless at face scale (seconds), noted for exactness.
    *
    * Prior lines must also have been normalized against the SAME anchor
    * nominal (`anchor_nominal_ms`, absent = the default): a run under a
    * SPARK_GRAFT_ANCHOR_NOMINAL_MS override is on a different scale and
    * min-merging it would silently deflate value_official (r16 ADVICE
    * item 4). */
  def officialMin(history: Seq[String], code: String, sf: String,
      currentNorm: Map[String, Double],
      nominalMs: Double = NominalAnchorMs): (Map[String, Double], Int) = {
    val prior =
      if (code == "unknown") Seq.empty
      else history.filter(l => stringField(l, "code").contains(code) &&
          stringField(l, "sf").contains(sf) &&
          math.abs(numField(l, "anchor_nominal_ms")
            .getOrElse(NominalAnchorMs) - nominalMs) < 0.005)
        .map(l => faceMap(l, "queries_norm")).filter(_.nonEmpty)
    val merged = currentNorm.map { case (k, v) =>
      val vs = (prior.flatMap(_.get(k)) :+ v).filter(_ >= 0)
      k -> (if (vs.isEmpty) v else vs.min)
    }
    (merged, prior.size + 1)
  }

  /** The machine-speed anchor: a fixed single-thread splitmix64 loop,
    * timed in ms. Shared by Bench (per-rep `rep_cpu_ms`) and ScaleBench
    * (per-chunk `anchor_ms`) so the two artifacts' anchors are the same
    * yardstick. ~NominalAnchorMs on a quiet box. */
  def cpuProbeMs(): Double = {
    var x = 0x9E3779B97F4A7C15L; var acc = 0L; var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 26)) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.println("") // keep the loop live
    (System.nanoTime() - t0) / 1e6
  }

  /** Code fingerprint for same-code run detection: md5 over the git
    * TREE OBJECT hashes of the code paths (src, tools, project,
    * build.sbt) at HEAD, plus an md5 of the working-tree diff over the
    * same paths when dirty. Two deliberate properties, both
    * load-bearing: (1) committing ARTIFACTS (BENCH_HISTORY, SURVEY,
    * VERDICT) moves HEAD but not the code trees, so runs before and
    * after a doc/artifact commit still merge — a HEAD-sha fingerprint
    * orphaned every prior run at each bookkeeping commit; (2) the
    * dirty diff is path-restricted because every bench run APPENDS to
    * the tracked BENCH_HISTORY.jsonl — an unrestricted diff changed
    * after run 1 and consecutive same-code runs could never merge.
    * "unknown" disables merging. */
  def codeFingerprint(repoDir: String = "."): String =
    try {
      def run(cmd: String*): String = {
        val pb = new ProcessBuilder(cmd: _*)
        pb.directory(new java.io.File(repoDir))
        pb.redirectErrorStream(false)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        if (p.waitFor() != 0) throw new RuntimeException(cmd.mkString(" "))
        out
      }
      def md5Hex(s: String): String = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      val trees = run("git", "rev-parse",
        "HEAD:src", "HEAD:tools", "HEAD:project", "HEAD:build.sbt")
      val base = md5Hex(trees).take(12)
      val diff = run("git", "diff", "HEAD", "--",
        "src", "tools", "project", "build.sbt")
      if (diff.isEmpty) base else s"$base+${md5Hex(diff).take(8)}"
    } catch { case _: Exception => "unknown" }
}
