package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** r18 streaming-face breakdown probe (opt guide §1, r17 VERDICT #3/#8):
  * runs NAMED faces from SparkEntry through the noop sink with a
  * session-level StreamingQueryListener attached, printing every
  * micro-batch's durationMs map (triggerExecution / queryPlanning /
  * getBatch / addBatch / walCommit / commitOffsets / ...) plus the state
  * operator commit times — so the fixed per-batch floor of the replay
  * faces is attributable per face, not just for one hard-coded shape.
  *
  * `runMain graft.tools.StFaceProbe <sfDir> <face...>`
  */
object StFaceProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        val st = p.stateOperators.map(s =>
          s"${s.operatorName}{rows=${s.numRowsTotal} commit=${s.commitTimeMs}ms " +
            s"mem=${s.memoryUsedBytes}}").mkString(" ")
        println(s"[st] batch=${p.batchId} rows=${p.numInputRows} $dur | $st")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val faces = names.map(n => n -> graft.SparkEntry.queries(n))
    // warmup
    faces.foreach { case (n, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[probe] warmup $n FAILED: $e") }
    }
    faces.foreach { case (n, fn) =>
      (1 to 3).foreach { i =>
        System.gc()
        println(s"== $n rep $i")
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(f"== $n rep $i total ${(System.nanoTime() - t0) / 1e9}%.3f s")
        } catch { case e: Throwable => println(s"== $n rep $i FAILED: $e") }
      }
    }
    spark.stop()
  }
}
