package org.apache.spark.perfbench {
  /** Waits until the listener bus has delivered every queued event, so a
    * span's counters include the task-end events of its own jobs. */
  object BusDrain {
    def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span counters of the traced run. A span is the benchmark's own
  * bracket around one call into a layer; the counters come from a
  * SparkListener (jobs, tasks, executor CPU, shuffle bytes, stage
  * busy time) and a QueryExecutionListener (planning time), read before
  * and after the span with the listener bus drained at both ends. */
final class Tracer(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val planningNs = new AtomicLong
  // (submission, completion) epoch-ms of every finished stage
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        stageSpans.synchronized(stageSpans += ((s, c)))
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      planningNs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Milliseconds of [t0, t1] during which at least one stage was running. */
  private def busyMs(t0: Long, t1: Long): Long = {
    val spans = stageSpans.synchronized(stageSpans.toList)
      .map { case (s, c) => (s.max(t0), c.min(t1)) }.filter { case (s, c) => c > s }
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, c) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = c }
      else curE = curE.max(c)
    }
    busy + (curE - curS)
  }

  /** Run `body` as span `name`; its counters are added to `into`. */
  def span[A](into: SpanStats, name: String)(body: => A)(rows: A => Long): A = {
    drain()
    val j0 = jobs.get; val k0 = tasks.get; val c0 = cpuNs.get
    val s0 = shuffleBytes.get; val p0 = planningNs.get; val g0 = gcMs
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val out = body
    val wallNs = System.nanoTime() - n0
    val w1 = System.currentTimeMillis()
    drain()
    into.add(name, Map(
      "wall_ms" -> wallNs / 1e6,
      "jobs" -> (jobs.get - j0).toDouble,
      "tasks" -> (tasks.get - k0).toDouble,
      "cpu_ms" -> (cpuNs.get - c0) / 1e6,
      "shuffle_mb" -> (shuffleBytes.get - s0) / 1e6,
      "driver_idle_ms" -> ((wallNs / 1e6) - busyMs(w0, w1)).max(0.0),
      "planning_ms" -> (planningNs.get - p0) / 1e6,
      "gc_ms" -> (gcMs - g0).toDouble,
      "rows_out" -> rows(out).toDouble))
    out
  }
}

/** Span counters of one traced run: for each span name, one value map
  * per traced iteration; `summary` reports the per-counter median. */
final class SpanStats {
  private val iters = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Map[String, Double]]]
  private var current = mutable.LinkedHashMap.empty[String, Map[String, Double]]

  def add(name: String, values: Map[String, Double]): Unit =
    current(name) = current.get(name)
      .map(old => old.map { case (k, v) => k -> (v + values(k)) }).getOrElse(values)

  /** Close the current iteration: every span seen so far gets one sample. */
  def endIteration(): Unit = {
    current.foreach { case (n, v) => iters.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += v }
    current = mutable.LinkedHashMap.empty
  }

  def summary: Map[String, Map[String, Double]] =
    iters.map { case (n, samples) =>
      n -> samples.head.keys.map(k => k -> Stats.median(samples.map(_(k)).toSeq)).toMap
    }.toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Process-level measurements reported with every run. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  def cpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Heap in use after full collections, in MB. The pauses let Spark's
    * ContextCleaner drop the shuffle and broadcast state the first
    * collection released. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }
}

}
