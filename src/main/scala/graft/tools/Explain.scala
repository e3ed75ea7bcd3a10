package graft.tools

import graft.SparkEntry

/** Plan-audit helper: `runMain graft.tools.Explain <queryKey> [sfDir]`
  * prints the formatted physical plan and the timed noop-materialization of
  * one SparkEntry query (after one warmup run).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    def time(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val warm = time()
    val t = time()
    println(f"[explain] $name warmup=$warm%.2fs timed=$t%.2fs")
    spark.stop()
  }
}
