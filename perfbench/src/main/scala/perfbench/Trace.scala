package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task metrics summed over every task of one span label. */
final class TaskTotals {
  var jobs = 0L
  var stageRetries = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var fetchWaitMs = 0L

  def +=(o: TaskTotals): Unit = {
    jobs += o.jobs; stageRetries += o.stageRetries
    tasks += o.tasks; failedTasks += o.failedTasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
    fetchWaitMs += o.fetchWaitMs
  }
}

/** A SparkListener that attributes task metrics to the span that was open
  * when the job was submitted. The span's label travels as a Spark local
  * property, which jobs, and the stages they submit, carry with them. */
final class TaskLedger extends SparkListener {
  private val stageLabel = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, TaskTotals]

  private def labelOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Trace.LabelKey))).getOrElse("unattributed")

  private def at(label: String): TaskTotals = totals.getOrElseUpdate(label, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = labelOf(e.properties)
    at(label).jobs += 1
    e.stageInfos.foreach(s => stageLabel(s.stageId) = label)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val label = stageLabel.getOrElseUpdate(e.stageInfo.stageId, labelOf(e.properties))
    if (e.stageInfo.attemptNumber() > 0) at(label).stageRetries += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = at(stageLabel.getOrElse(e.stageId, "unattributed"))
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  /** Totals per label since the last call, after the listener bus has
    * delivered every pending event; the ledger starts empty again. */
  def drain(spark: SparkSession): Map[String, TaskTotals] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = totals.toMap
      totals.clear()
      out
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, iteration: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written out once at the end. While a span is open its name is the
  * local property the ledger attributes tasks by. */
final class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 0
  var iteration = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Trace.LabelKey)
    open = (id, name) :: open
    sc.setLocalProperty(Trace.LabelKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, iteration, t0, System.nanoTime())
      sc.setLocalProperty(Trace.LabelKey, outer)
      open = open.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iteration":${s.iteration},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Trace {
  val LabelKey = "perfbench.span"
}

/** Process-level cost of one iteration: wall time, CPU time of the whole
  * process and of its Java threads, and the largest heap occupancy
  * reported after any GC in the window. */
object Process {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peakAfterGc = new AtomicLong(0L)
  private val gcCount = new AtomicLong(0L)

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n, _) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, math.max)
          gcCount.incrementAndGet()
        }
      }, null, null)
    case _ => ()
  }

  def cpuNs: Long = os.getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time per live Java thread. JIT-compiler and GC threads are not
    * Java threads, so they are not in it. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  final case class Window(wallS: Double, cpuS: Double, threadCpuS: Double,
                          peakHeapMb: Double, gcs: Long)

  def measure[T](body: => T): (T, Window) = {
    peakAfterGc.set(0L)
    val gc0 = gcCount.get()
    val t0cpu = threadCpu()
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs - c0) / 1e9
    val tcpu = threadCpu().map { case (id, ns) => ns - t0cpu.getOrElse(id, 0L) }.sum / 1e9
    (out, Window(wall, cpu, tcpu, peakAfterGc.get() / 1048576.0, gcCount.get() - gc0))
  }
}
