package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** The spans the benchmark puts around calls into the engine's public
  * API, one per layer entry point. A span that does no work in a
  * workload reads zero there. */
object Spans {
  val Names: Seq[String] = Seq(
    "nnd.buildGraph", "graphsearch.searchHierarchical",
    "dedup.exactByHash", "dedup.clusterNearDups", "dedup.lineDedup",
    "text.languageId")

  /** Counters reported per span, as the mean over the span's calls. */
  val Counters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_run_s" -> "s", "task_cpu_s" -> "s",
    "sched_delay_s" -> "s", "driver_gap_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
    "spill_mb" -> "MB", "gc_s" -> "s", "peak_exec_mem_mb" -> "MB",
    "failed_tasks" -> "count")

  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
}

/** Everything one span accumulated. Times are wall-clock milliseconds
  * as Spark's TaskInfo reports them. */
final class SpanStats {
  var calls = 0
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var peakExecMem = 0L
  var failedTasks = 0
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def wallMs: Long = windows.map { case (s, e) => e - s }.sum

  /** Span time during which none of the span's tasks was running:
    * driver-side planning, job submission and result handling. */
  def driverGapMs: Long = {
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
    taskIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (busy.nonEmpty && s <= busy.last._2)
        busy(busy.size - 1) = (busy.last._1, math.max(busy.last._2, e))
      else busy += ((s, e))
    }
    val covered = windows.map { case (ws, we) =>
      busy.map { case (s, e) => math.max(0L, math.min(e, we) - math.max(s, ws)) }.sum
    }.sum
    wallMs - covered
  }

  def counters: Map[String, Double] = {
    val n = math.max(calls, 1).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "wall_s" -> wallMs / 1e3, "jobs" -> jobs.toDouble,
      "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
      "sched_delay_s" -> schedDelayMs / 1e3, "driver_gap_s" -> driverGapMs / 1e3,
      "shuffle_write_mb" -> shuffleWrite / mb, "shuffle_read_mb" -> shuffleRead / mb,
      "spill_mb" -> spill / mb, "gc_s" -> gcMs / 1e3,
      "failed_tasks" -> failedTasks.toDouble
    ).map { case (k, v) => k -> v / n } +
      ("peak_exec_mem_mb" -> peakExecMem / mb)
  }
}

/** One listener for both run modes. Jobs are attributed by the Spark
  * local properties the benchmark thread set when it submitted them
  * (child threads inherit them), never by time window:
  *  - `perfbench.phase = timed` marks the timed region; its stages'
  *    shuffle writes feed the end-to-end shuffle metrics.
  *  - `perfbench.span = <name>` marks a span. Task-level attribution
  *    runs only when `traced` is set, so an untraced run pays for
  *    stage-level bookkeeping alone.
  * State is kept in memory and read after [[org.apache.spark.PerfbenchBus.drain]]. */
final class Recorder(traced: Boolean) extends SparkListener {
  val spans: Map[String, SpanStats] = Spans.Names.map(_ -> new SpanStats).toMap
  private val stageSpan = mutable.Map.empty[Int, String]
  private val timedStages = mutable.Set.empty[Int]
  private val submitted = mutable.Map.empty[Int, Long]
  var timedShuffle = 0L
  var timedMaxStageShuffle = 0L

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    if (props.exists(p => p.getProperty(Spans.PhaseKey) == "timed"))
      timedStages ++= js.stageIds
    if (traced) props.flatMap(p => Option(p.getProperty(Spans.SpanKey)))
      .flatMap(s => spans.get(s).map(s -> _)).foreach { case (name, st) =>
        st.jobs += 1
        js.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, name))
      }
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = synchronized {
    if (traced) ss.stageInfo.submissionTime.foreach(t => submitted(ss.stageInfo.stageId) = t)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val info = sc.stageInfo
    if (timedStages.contains(info.stageId)) {
      val w = info.taskMetrics.shuffleWriteMetrics.bytesWritten
      timedShuffle += w
      timedMaxStageShuffle = math.max(timedMaxStageShuffle, w)
    }
    if (traced) stageSpan.get(info.stageId).foreach(s => spans(s).stages += 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    if (traced) stageSpan.get(te.stageId).foreach { name =>
      val st = spans(name)
      val ti = te.taskInfo
      st.tasks += 1
      st.taskIntervals += ((ti.launchTime, ti.finishTime))
      submitted.get(te.stageId).foreach(s => st.schedDelayMs += math.max(0L, ti.launchTime - s))
      if (te.reason != Success) st.failedTasks += 1
      Option(te.taskMetrics).foreach { m =>
        st.taskRunMs += m.executorRunTime
        st.taskCpuNs += m.executorCpuTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.diskBytesSpilled
        st.gcMs += m.jvmGCTime
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Run `body` as one call of span `name`. */
  def span[T](sc: SparkContext, name: String)(body: => T): T =
    if (!traced) body
    else {
      require(spans.contains(name), s"unknown span $name")
      sc.setLocalProperty(Spans.SpanKey, name)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        sc.setLocalProperty(Spans.SpanKey, null)
        synchronized {
          spans(name).calls += 1
          spans(name).windows += ((t0, t1))
        }
      }
    }
}

object Recorder {
  /** Span attribution off: calls made through it set no span. */
  val Off = new Recorder(traced = false)
}

/** Largest heap occupancy seen right after a garbage collection while
  * armed, from the JVM's GC notifications. */
object HeapWatch {
  private val peak = new AtomicLong(0L)
  @volatile private var armed = false
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Heap in use after full collections: what stays resident. The
    * first collection frees the objects behind Spark's weak references;
    * the pause lets its ContextCleaner drop the blocks they owned; the
    * second collection frees those blocks. */
  def liveAfterFullGc(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def arm(): Unit = { peak.set(0L); armed = true }
  def disarm(): Long = { armed = false; peak.get() }
}

/** A fixed CPU loop — one dependent LCG chain per core, no allocation,
  * no Spark — timed in milliseconds. A slow reading means the host was
  * slow, not the engine. */
object HostProbe {
  private val sink = new AtomicLong(0L)
  def millis(threads: Int, iters: Long = 20000000L): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        sink.getAndAccumulate(x, _ ^ _): Unit
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}
