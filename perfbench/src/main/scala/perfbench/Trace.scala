package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Spans recorded around the benchmark's calls into the program. Kept in
  * memory, written out at exit. One client thread records them. */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var opId = 0
  var on = false

  /** Starts a new op (root span); nested [[span]]s share its op id. */
  def op[T](name: String)(body: => T): T =
    if (!on) body else { opId += 1; span(name)(body) }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the slot so ids follow start order
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, opId, name, t0, System.nanoTime())
      }
    }

  /** Seconds of each child span of the most recent op, by child name. */
  def lastOp: Map[String, Double] = {
    val root = spans.lastIndexWhere(s => s != null && s.parent == -1)
    spans.filter(s => s != null && s.parent == root).map(s => s.name -> s.seconds).toMap
  }

  /** Total self time per `parent/child` span name: duration minus the
    * time its children cover (children run one after another on the one
    * client thread). */
  def selfTimes: Map[String, Double] = {
    val child = new Array[Double](spans.length)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.groupMapReduce(s =>
      if (s.parent >= 0) s"${spans(s.parent).name}/${s.name}" else s.name)(
      s => s.seconds - child(s.id))(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    selfTimes.toSeq.sortBy(_._1).foreach { case (n, t) =>
      sb.append(s"""{"self":"$n","seconds":$t}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Per-op Spark counters. Jobs carry the op key in a local property;
  * stages inherit it from their job. */
final class OpListener extends SparkListener {
  final class Acc {
    @volatile var jobs, stages, tasks = 0L
    @volatile var runMs, cpuNs, shuffleBytes, spillBytes = 0L
  }
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(op: String): Acc = accs.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key))).foreach { op =>
      acc(op).jobs += 1
      e.stageIds.foreach(id => stageOp.put(id, op))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val a = acc(op)
      val m = e.stageInfo.taskMetrics
      a.stages += 1
      a.tasks += e.stageInfo.numTasks
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Counters of one op, after every event it caused has been delivered. */
  def take(sc: SparkContext, op: String): Acc = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Option(accs.remove(op)).getOrElse(new Acc)
  }
}

object OpListener {
  val Key = "perfbench.op"
}

/** Collector time and count across every garbage collector. */
object Gc {
  def now: (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime.max(0L)).sum / 1e3, bs.map(_.getCollectionCount.max(0L)).sum)
  }

  /** Heap used after a full collection, in MB. The pause between the
    * collections lets Spark's context cleaner drop the blocks of jobs the
    * first one found unreachable, so the figure does not depend on how
    * many it had pending. */
  def retainedMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Bytes allocated in the young generation, on every thread. Listens to
  * the collectors from first use on, so only the traced run starts it. */
object Alloc {
  private val eden = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Eden"))
    .getOrElse(throw new IllegalStateException("no eden pool: run with a generational collector"))
  private val emptied = new AtomicLong // eden bytes every collection freed
  private val notified = new AtomicLong
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val (before, after) = (info.getMemoryUsageBeforeGc.get(eden.getName), info.getMemoryUsageAfterGc.get(eden.getName))
      if (before != null && after != null) emptied.addAndGet(before.getUsed - after.getUsed)
      notified.incrementAndGet()
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  private val countAtStart = Gc.now._2

  /** Bytes allocated in eden since this object started: eden's use now
    * plus what every collection emptied from it. Waits (at most 2 s) for
    * the collectors' notifications to catch up with their counts, and
    * retries when a collection falls between the two reads. */
  def allocatedBytes(): Long = {
    val deadline = System.nanoTime() + 2000000000L
    var out = -1L
    while (out < 0) {
      val n = Gc.now._2
      while (countAtStart + notified.get < n && System.nanoTime() < deadline) Thread.sleep(1)
      val bytes = emptied.get + eden.getUsage.getUsed
      if (Gc.now._2 == n) out = bytes
    }
    out
  }
}
