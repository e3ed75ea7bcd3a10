package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Round-17 measurement probe (opt guide §1): for each named face, after a
  * warmup run, times N iterations split into (a) DataFrame construction
  * (the `fn(spark, sfDir)` call — Catalyst analysis + any eager gate jobs)
  * and (b) execution through the noop sink, and counts the Spark
  * jobs/stages/tasks each iteration schedules. Tells fixed scheduling
  * overhead apart from real compute on the tiny sf0.1 inputs.
  *
  * `runMain graft.tools.OverheadProbe <sfDir> <face...>`
  */
object OverheadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) stageAgg.merge(t.stageId,
          (1, m.executorRunTime, m.executorCpuTime / 1000000),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    })
    val faces = names.map(n => n -> graft.SparkEntry.queries(n))
    faces.foreach { case (n, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[probe] warmup $n FAILED: $e") }
    }
    println(f"${"face"}%-28s ${"build_s"}%8s ${"exec_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s")
    faces.foreach { case (n, fn) =>
      (1 to 3).foreach { i =>
        System.gc()
        jobs = 0; stages = 0; tasks = 0
        stageAgg.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(f"$n%-28s ${(t1 - t0) / 1e9}%8.3f ${(t2 - t1) / 1e9}%8.3f $jobs%5d $stages%7d $tasks%6d")
        if (i == 3) {
          // last iteration: per-stage task-time attribution, slowest first
          import scala.jdk.CollectionConverters._
          stageAgg.asScala.toSeq.sortBy(-_._2._2).take(8).foreach {
            case (sid, (nt, run, cpu)) =>
              println(f"    stage $sid%5d  tasks=$nt%3d  runMs=$run%6d  cpuMs=$cpu%6d")
          }
        }
      }
    }
    spark.stop()
  }
}
