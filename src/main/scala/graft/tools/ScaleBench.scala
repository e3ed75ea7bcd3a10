package graft.tools

import org.apache.spark.sql.SparkSession

/** sf1 scale checkpoint (r11 VERDICT #3): one warmup + one timed rep of a
  * NAMED face subset against an arbitrary sf dir (the ScaleUp-generated
  * sf1), appended to BENCH_HISTORY.jsonl with its own sf tag so cost
  * curves past the tri-SF sweep's sf0.1 ceiling live in the same trend
  * file. Single-rep by design — the checkpoint hunts super-linear BENDS
  * (10× data should cost ~10× on a linear face), not ±10% noise.
  *
  * `runMain graft.tools.ScaleBench <sfDir> <sfTag> <face...>`
  *
  * With `SPARK_GRAFT_SCALEBENCH_OUT=<file>` the JSON line lands in that
  * file instead of BENCH_HISTORY.jsonl — [[ScaleSweep]] runs one
  * ScaleBench per fresh JVM chunk and merges the chunk lines into a
  * single history line, so the per-chunk partials must not pollute the
  * trend file. The line also carries `anchor_ms` (the shared
  * [[BenchNorm.cpuProbeMs]] machine-speed probe, timed right before the
  * timed rep) so a reader can tell a slow box from a slow face.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val sfTag = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val faces = names.map(n => n -> graft.SparkEntry.queries(n))
    def runOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    faces.foreach { case (n, fn) =>
      try runOne(fn)
      catch { case e: Throwable =>
        System.err.println(s"[scalebench] warmup $n FAILED: ${e.getMessage}") }
    }
    val anchorMs = BenchNorm.cpuProbeMs()
    val timed = faces.map { case (n, fn) =>
      System.gc()
      val t0 = System.nanoTime()
      val t = try { runOne(fn); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[scalebench] $n FAILED: ${e.getMessage}"); -1.0 }
      n -> t
    }
    def ms(d: Double): Double = math.rint(d * 1000) / 1000
    val total = ms(timed.filter(_._2 >= 0).map(_._2).sum)
    val qjson = timed.map { case (n, t) => s""""$n":${ms(t)}""" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"scale_checkpoint","value":$total,"unit":"sec",""" +
      s""""sf":"$sfTag","dir":"$sfDir","cpus":$cpus,""" +
      s""""anchor_ms":${ms(anchorMs)},"queries":$qjson}"""
    val outPath = sys.env.get("SPARK_GRAFT_SCALEBENCH_OUT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"))
    java.nio.file.Files.write(outPath,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    println(line)
    spark.stop()
  }
}
