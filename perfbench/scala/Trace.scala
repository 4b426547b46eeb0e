package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job, stage and task totals from a listener the benchmark registers
  * itself. Times are seconds; `sched_delay_s` is task wall time not
  * spent deserializing, running, serializing or fetching the result. */
class SparkStats extends SparkListener {
  private val counts = Seq("jobs", "stages", "tasks", "failed_tasks",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "cache_blocks_written").map(_ -> new AtomicLong()).toMap
  private val secs = Seq("task_cpu_s", "task_run_s", "sched_delay_s", "gc_s")
    .map(_ -> new DoubleAdder()).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = counts("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counts("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    counts("tasks").incrementAndGet()
    if (e.taskInfo.failed || e.taskInfo.killed) counts("failed_tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      secs("task_cpu_s").add(m.executorCpuTime / 1e9)
      secs("task_run_s").add(m.executorRunTime / 1e3)
      secs("gc_s").add(m.jvmGCTime / 1e3)
      val busy = m.executorDeserializeTime + m.executorRunTime +
        m.resultSerializationTime + e.taskInfo.gettingResultTime
      secs("sched_delay_s").add(math.max(0L, e.taskInfo.duration - busy) / 1e3)
      counts("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      counts("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      counts("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      counts("cache_blocks_written").incrementAndGet()
  }

  /** Current totals, after every event posted so far is delivered. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    counts.map { case (k, v) => k -> v.get.toDouble } ++ secs.map { case (k, v) => k -> v.sum }
  }
}

object SparkStats {
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Per-layer wall clock for traced passes: each layer's output is
  * persisted and counted inside its own timed block, so one layer's
  * time never includes another's recomputation. */
class LayerClock {
  private val origin = System.nanoTime()
  /** The pass being traced; set by the loop before each pass. */
  var pass = 0
  /** (pass, layer, start, end), seconds since the clock was made. */
  val spans = scala.collection.mutable.ArrayBuffer[(Int, String, Double, Double)]()
  val seconds = scala.collection.mutable.LinkedHashMap[String, Double]()
  val values = scala.collection.mutable.LinkedHashMap[String, Double]()
  /** The benchmark's listener, for layers that report Spark totals. */
  var stats: SparkStats = _
  private val held = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Dataset[_]]()

  def time[T](layer: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      seconds(layer) = seconds.getOrElse(layer, 0.0) + (t1 - t0) / 1e9
      spans += ((pass, layer, (t0 - origin) / 1e9, (t1 - origin) / 1e9))
    }
  }

  /** Builds a layer's output, persists it and counts it, all timed. */
  def materialize[D <: org.apache.spark.sql.Dataset[_]](layer: String)(build: => D): D =
    time(layer) {
      val d = build
      d.persist()
      d.count()
      held += d
      d
    }

  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }
}

/** Driver heap live after a full collection, sampled after the timed passes.
  * Collections repeat after short pauses: the first one lets Spark's
  * context cleaner drop unreferenced shuffles and broadcasts, and the
  * later ones free what it dropped. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
