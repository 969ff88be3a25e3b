package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span's id (0 at
  * the top); spans of one pass share `pass`. Times are nanoTime values. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body, so
  * untraced passes carry no tracing cost. Spans are written out once, when
  * the run ends.
  */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val recorded = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val nextId = new AtomicLong(1)
  @volatile var pass: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement().toInt
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized(recorded += Span(id, name, parent, pass, t0, t1))
      }
    }

  def spans: Seq[Span] = synchronized(recorded.toList)

  /** Summed duration of the spans called `name`. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def durations(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds)

  /** Median duration of the spans called `name`. */
  def median(name: String): Double = Stats.median(durations(name))

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover, summed by layer (the span name's first part). */
  def selfTimes: Map[String, Double] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: Seq[Map[String, Any]] = spans.sortBy(_.id).map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Spark engine counters, from a listener the benchmark registers itself
  * (only in traced runs). Job intervals are kept so the driver-only time,
  * when no job runs, can be derived for a pass window. */
final class SparkCounters extends SparkListener {
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private var nStages, nTasks = 0L
  private var runMs, gcMs, cpuNs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobStart(e.jobId) = e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(nStages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    nTasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters accumulated so far. Call after [[SparkCounters.drain]]. */
  def snapshot: SparkCounters.Snap = synchronized(SparkCounters.Snap(
    jobSpans.size, nStages, nTasks, runMs, cpuNs, gcMs,
    shuffleWrite, shuffleRead, spill, jobSpans.toList))
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, jobSpans: Seq[(Long, Long)]) {

    /** What happened between `before` and this snapshot, as per-layer
      * metrics for the pass that ran from `startMs` to `endMs`. */
    def since(before: Snap, startMs: Long, endMs: Long, nproc: Int): Map[String, Double] = {
      val wallMs = math.max(1L, endMs - startMs)
      val newSpans = jobSpans.drop(before.jobSpans.size)
        .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      val mb = 1024.0 * 1024.0
      Map(
        "spark.jobs" -> (jobs - before.jobs).toDouble,
        "spark.stages" -> (stages - before.stages).toDouble,
        "spark.tasks" -> (tasks - before.tasks).toDouble,
        "spark.driver_only_s" -> (wallMs - Intervals.unionLength(newSpans)) / 1e3,
        "spark.core_busy_share" -> (runMs - before.runMs).toDouble / (wallMs * nproc),
        "spark.task_cpu_s" -> (cpuNs - before.cpuNs) / 1e9,
        "spark.task_run_s" -> (runMs - before.runMs) / 1e3,
        "spark.gc_s" -> (gcMs - before.gcMs) / 1e3,
        "spark.shuffle_write_mb" -> (shuffleWrite - before.shuffleWrite) / mb,
        "spark.shuffle_read_mb" -> (shuffleRead - before.shuffleRead) / mb,
        "spark.spill_mb" -> (spill - before.spill) / mb)
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBus.drain(sc)
}
