package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program: name, parent, iteration and its
  * interval on the monotonic clock (seconds since the run started). */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      start: Double, wallStartMs: Long,
                      var end: Double = Double.NaN, var wallEndMs: Long = 0L)

/** Records a span around each public call while enabled, and tags every
  * Spark job started inside it with the span's job group so the
  * listeners can fold stage, task and planning metrics per span. While
  * disabled it only runs the body: no job group, no record. One client
  * thread drives the program, so the open-span stack is plain state. */
final class Tracer(sc: SparkContext, t0: Long) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  /** The innermost open span, read by the storage fold. */
  @volatile var current: Int = -1

  def now: Double = (System.nanoTime() - t0) / 1e9

  def apply[T](name: String, iter: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        iter, now, System.currentTimeMillis())
      spans += s
      open = s :: open
      current = s.id
      sc.setJobGroup(Tracer.group(s.id), name)
      try body
      finally {
        s.end = now
        s.wallEndMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) =>
            current = p.id
            sc.setJobGroup(Tracer.group(p.id), p.name)
          case None =>
            current = -1
            sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  val prefix = "perfbench-span-"
  def group(id: Int): String = prefix + id
  def spanOf(group: String): Int =
    if (group != null && group.startsWith(prefix))
      group.substring(prefix.length).toInt
    else -1
}

/** Per-span execution fold: jobs, stages, tasks and task metrics for
  * every job whose group names a span, plus the cached-block footprint. */
final class ExecFold(tracer: Tracer) extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskS = 0.0; var taskCpuS = 0.0; var gcS = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var output = 0L; var input = 0L
    var stageMaxTaskS = 0.0 // sum over stages of each stage's largest task
    var storagePeak = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_s" -> taskS, "task_cpu_s" -> taskCpuS, "gc_s" -> gcS,
      "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
      "output_bytes" -> output, "input_bytes" -> input,
      "stage_max_task_s" -> stageMaxTaskS,
      "storage_peak_bytes" -> storagePeak)
  }
  val bySpan = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageMax = new ConcurrentHashMap[Int, java.lang.Double]()
  private val blocks = mutable.HashMap.empty[String, Long]
  private var stored = 0L

  private def acc(span: Int): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Tracer.spanOf(
      Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull)
    if (span >= 0) synchronized {
      val a = acc(span); a.jobs += 1
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, -1)
    val m = e.taskMetrics
    if (span >= 0 && m != null) synchronized {
      val a = acc(span)
      val dur = e.taskInfo.duration / 1e3
      a.tasks += 1
      a.taskS += dur
      a.taskCpuS += m.executorCpuTime / 1e9
      a.gcS += m.jvmGCTime / 1e3
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
      a.input += m.inputMetrics.bytesRead
      val prev = stageMax.getOrDefault(e.stageId, 0.0)
      if (dur > prev) stageMax.put(e.stageId, dur)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val span = stageSpan.getOrDefault(id, -1)
    if (span >= 0) synchronized {
      val a = acc(span)
      a.stages += 1
      a.stageMaxTaskS += stageMax.getOrDefault(id, 0.0)
      stageMax.remove(id)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) synchronized {
      val size = i.memSize + i.diskSize
      stored += size - blocks.getOrElse(i.blockId.name, 0L)
      if (size == 0) blocks.remove(i.blockId.name)
      else blocks(i.blockId.name) = size
      val span = tracer.current
      if (span >= 0) {
        val a = acc(span)
        a.storagePeak = math.max(a.storagePeak, stored)
      }
    }
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * query execution, with the wall-clock time its first phase started;
  * each is attributed to the innermost span open at that instant. */
final class PlanFold extends QueryExecutionListener {
  val phases =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    val ps = qe.tracker.phases
    if (ps.nonEmpty)
      phases.add((ps.values.map(_.startTimeMs).min,
        ps.map { case (k, p) => k -> p.durationMs / 1e3 }))
  }
  override def onFailure(f: String, qe: QueryExecution,
                         e: Exception): Unit = ()
}

/** Host CPU accounting over one window: the share of all CPU time on
  * the host that went to other processes (stolen time included), and the
  * share stolen by the hypervisor. Read from /proc/stat minus this JVM's
  * /proc/self/stat. */
object Host {
  final case class Sample(total: Long, busy: Long, steal: Long, self: Long)

  def sample(): Sample =
    try {
      def read(p: String) = java.nio.file.Files.readString(
        java.nio.file.Paths.get(p))
      val cpu = read("/proc/stat").linesIterator.next().trim
        .split("\\s+").drop(1).map(_.toLong)
      val total = cpu.take(8).sum // user..steal
      val idle = cpu(3) + cpu(4)
      val self = {
        val s = read("/proc/self/stat")
        val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
        f(11).toLong + f(12).toLong // utime, stime
      }
      Sample(total, total - idle, cpu(7), self)
    } catch { case _: Throwable => Sample(0, 0, 0, 0) }

  def shares(a: Sample, b: Sample): (Double, Double) = {
    val total = (b.total - a.total).toDouble
    if (total <= 0) (0.0, 0.0)
    else (math.max(0L, (b.busy - a.busy) - (b.self - a.self)) / total,
      (b.steal - a.steal) / total)
  }
}

/** Heap in use right after each garbage collection that ends while a
  * timed window is open, summed over the heap pools; `peak` is the largest
  * such reading. Read from the collectors' notifications, so nothing forces
  * a collection. The peak over a run's timed iterations is `mem_peak_mb`. */
object HeapPeak {
  @volatile var on = false
  private val max = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var collections = 0L
  def peak: Long = max.get
  def count: Long = collections

  def install(): Unit = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification,
                             hb: AnyRef): Unit =
        if (on && n.getType == com.sun.management
            .GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData
              .asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heap(k) => u.getUsed }.sum
          collections += 1
          max.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processSeconds: Double = os.getProcessCpuTime / 1e9
}

/** Cumulative JIT-compile and GC seconds of this JVM. */
object Jvm {
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def jitSeconds: Double = jit.getTotalCompilationTime / 1e3
  def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3
}
