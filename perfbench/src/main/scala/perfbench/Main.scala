package perfbench

import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR`. Generates the workload's inputs [[SetupReps]] times and
  * builds its artifacts once (set-up time is the inputs' median plus
  * the artifact build), warms up with one checked call, then calls
  * the engine in a closed loop until `S` seconds have passed (at least
  * [[MinCalls]] calls), checking every call's output.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` alternates
  * untraced and span-attributed calls, prints the per-layer counters
  * of the attributed ones and the tracing overhead (the attributed
  * calls' median time over the untraced calls' median) as a
  * diagnostic. The last stdout line is the result as one JSON object;
  * the exit code is 1 when any call or check failed. */
object Main {
  val MinCalls = 2
  val SetupReps = 3
  private val MB = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def diag(key: String, value: String): Unit = println(s"diag $key $value")
  private def diagSeq(key: String, xs: Seq[Double]): Unit =
    diag(key, xs.map(x => "%.4f".formatLocal(Locale.ROOT, x)).mkString("[", ", ", "]"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val (spark, sessionS) = secondsOf {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val sc = spark.sparkContext
    val rec = new Recorder(traced)
    sc.addSparkListener(rec)
    val wl = Workload(workload, spark, s"$work/data", seed)

    var status = 0
    try {
      val setups = (1 to SetupReps).map(_ => secondsOf(wl.setup())._2)
      val (_, prepareS) = secondsOf(wl.prepare())

      val times = ArrayBuffer.empty[Double]
      val tracedTimes = ArrayBuffer.empty[Double]
      val untracedTimes = ArrayBuffer.empty[Double]
      val probes = ArrayBuffer.empty[Double]
      var liveHeap = 0L
      val recalls = ArrayBuffer.empty[Double]
      var attempted = 0
      var failed = 0
      def record(c: Checked): Unit = {
        attempted += 1
        if (!c.ok) { failed += 1; c.problems.foreach(p => System.err.println(s"CHECK FAILED: $p")) }
        recalls ++= c.recall
      }
      // The warm-up call counts as attempted and is checked. Its time
      // is not reported, and its recall only for a workload whose timed
      // calls have nothing to check.
      val (warm, warmS) = secondsOf(Try(wl.warmUp()))
      record(warm.fold(e => Checked(Seq(s"call failed: $e")), _.copy(recall = None)))
      val warmRecall = warm.toOption.flatMap(_.recall)

      sc.setLocalProperty(Spans.PhaseKey, "timed")
      HeapWatch.arm()
      val start = System.nanoTime()
      // A traced run alternates, unattributed first, so it makes at
      // least one attributed call between two unattributed ones.
      val minCalls = if (traced) MinCalls + 1 else MinCalls
      while (times.size < minCalls || (System.nanoTime() - start) / 1e9 < seconds) {
        probes += HostProbe.millis(cores)
        val attribute = traced && times.size % 2 == 1
        val (out, dt) = secondsOf(Try(wl.op(if (attribute) rec else Recorder.Off)))
        times += dt
        liveHeap = math.max(liveHeap, HeapWatch.liveAfterFullGc())
        (if (attribute) tracedTimes else untracedTimes) += dt
        out match {
          case Success(o) => record(wl.check(o))
          case Failure(e) => record(Checked(Seq(s"call failed: $e")))
        }
      }
      val youngPeak = HeapWatch.disarm()
      sc.setLocalProperty(Spans.PhaseKey, null)
      PerfbenchBus.drain(sc)

      diag("session_start_s", num(sessionS))
      diagSeq("setup_s_samples", setups)
      diag("prepare_s", num(prepareS))
      diag("warmup_call_s", num(warmS))
      diag("warmup_over_median", num(warmS / median(times.toSeq)))
      diagSeq("call_s_samples", times.toSeq)
      diagSeq("host_probe_ms", probes.toSeq)
      diag("error_rate", num(failed.toDouble / attempted))
      diag("peak_heap_after_gc_mb", num(youngPeak / MB))
      diag("jvm_uptime_s", num(java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          val calls = times.size
          Seq(
            ("setup_s", median(setups) + prepareS, "s"),
            ("call_p50_s", median(times.toSeq), "s"),
            ("recall", if (recalls.nonEmpty) recalls.sum / recalls.size
              else warmRecall.getOrElse(Double.NaN), "ratio"),
            ("shuffle_mb", rec.timedShuffle / MB / calls, "MB"),
            ("max_stage_shuffle_mb", rec.timedMaxStageShuffle / MB, "MB"),
            ("live_heap_mb", liveHeap / MB, "MB"))
        } else {
          val overhead = median(tracedTimes.toSeq) / median(untracedTimes.toSeq) - 1
          diag("trace_overhead", num(overhead))
          diagSeq("traced_call_s", tracedTimes.toSeq)
          diagSeq("untraced_call_s", untracedTimes.toSeq)
          val layer = for {
            span <- Spans.Names
            c = rec.spans(span).counters
            (counter, unit) <- Spans.Counters
          } yield (s"$span.$counter", c(counter), unit)
          def per(span: String) = rec.spans(span)
          val build = per("nnd.buildGraph")
          val near = per("dedup.clusterNearDups")
          layer ++ Seq(
            ("nnd.buildGraph.shuffle_bytes_per_vec",
              if (build.calls == 0) 0.0 else build.shuffleWrite.toDouble / build.calls / wl.items, "B/vec"),
            ("graphsearch.searchHierarchical.jobs_per_batch",
              per("graphsearch.searchHierarchical").counters("jobs"), "count"),
            ("dedup.clusterNearDups.docs_per_task_s",
              if (near.taskRunMs == 0) 0.0 else wl.items * near.calls / (near.taskRunMs / 1e3), "1/s"))
        }
      metrics.foreach { case (k, v, u) => println(s"metric $k ${num(v)} $u") }
      val ok = failed == 0 && metrics.forall(m => !m._2.isNaN)
      val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {${json.mkString(", ")}}}""")
      if (!ok) status = 1
    } finally {
      spark.stop()
    }
    sys.exit(status)
  }
}
