package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block of code starts, each named by its call site, e.g.
  * `localCheckpoint at TrainingData.scala:2306`, with the wall-clock
  * interval each job ran, the tasks that ended and the shuffle bytes their
  * stages write (the stage task metrics). A job of a SQL execution
  * takes the call site of the action that started the execution: adaptive
  * execution submits its stage jobs from a thread pool, where the stack
  * shows no user code. Any other job takes the name of its result stage.
  *
  * The listener bus is asynchronous, so the block is bracketed by two
  * marker jobs: events are delivered in order, so every job between the
  * markers has been seen once the closing marker arrives, and a job left on
  * the bus by earlier code arrives before the opening marker. The marker
  * jobs' own stages, tasks and ends are not counted. */
object SparkJobs {
  private val Marker = "graft-job-count-marker"
  // Description, which is package-private
  private val Description = "spark.job.description"

  private sealed trait Event
  private final case class JobStarted(description: String, site: String) extends Event
  private final case class JobEnded(start: Long, end: Long) extends Event
  private case object TaskEnded extends Event
  private final case class StageCompleted(shuffleWriteBytes: Long) extends Event

  /** The call site of each job a block started, in start order, the
    * wall-clock interval (start, end) in epoch milliseconds of each job
    * that ended, the number of tasks that ended, and the shuffle bytes
    * written by the stages that completed. */
  final case class Activity(callSites: Seq[String], jobIntervals: Seq[(Long, Long)],
      tasks: Int, shuffleWriteBytes: Long) {

    /** Milliseconds in which at least one job ran: the length of the union
      * of the job intervals. */
    def jobMs: Long = {
      var (total, end) = (0L, Long.MinValue)
      for ((s, e) <- jobIntervals.sortBy(_._1)) {
        total += math.max(0L, e - math.max(s, end))
        end = math.max(end, e)
      }
      total
    }
  }

  /** The block's result and the number of jobs it started. */
  def during[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, a) = activity(sc)(body)
    (out, a.callSites.size)
  }

  /** The block's result and what its jobs did. */
  def activity[T](sc: SparkContext)(body: => T): (T, Activity) = {
    // in bus order: a started job's (description, call site), an ended
    // job's interval, an ended task, a completed stage's shuffle bytes
    val seen = new LinkedBlockingQueue[Event]()
    val listener = new SparkListener {
      // the bus calls a listener from one thread.
      // execution id → the call site of its root execution
      private val executionSites = mutable.Map.empty[Long, String]
      // job id → start time of the jobs that are not markers
      private val started = mutable.Map.empty[Int, Long]
      private val markerStages = mutable.Set.empty[Int]

      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executionSites(s.executionId) =
            s.rootExecutionId.flatMap(executionSites.get).getOrElse(s.description)
        case _ =>
      }

      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def property(key: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        val description = property(Description).getOrElse("")
        if (description == Marker) markerStages ++= e.stageIds
        else started(e.jobId) = e.time
        val site = property(SQLExecution.EXECUTION_ID_KEY)
          .flatMap(id => executionSites.get(id.toLong))
          // the result stage is created after its parents, so it has the
          // highest id among the job's stages
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        seen.add(JobStarted(description, site))
      }

      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        started.remove(e.jobId).foreach(s => seen.add(JobEnded(s, e.time)))

      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!markerStages(e.stageId)) seen.add(TaskEnded)

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!markerStages(e.stageInfo.stageId))
          seen.add(StageCompleted(Option(e.stageInfo.taskMetrics)
            .fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
    }
    def marker(): Unit = {
      val prev = sc.getLocalProperty(Description)
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
    }
    def awaitMarker(): Activity = {
      val sites = Seq.newBuilder[String]
      val intervals = Seq.newBuilder[(Long, Long)]
      var (tasks, bytes) = (0, 0L)
      var done = false
      while (!done) seen.poll(60, TimeUnit.SECONDS) match {
        case null => throw new IllegalStateException(
          "the listener bus did not deliver the marker job")
        case JobStarted(Marker, _) => done = true
        case JobStarted(_, site) => sites += site
        case JobEnded(start, end) => intervals += ((start, end))
        case TaskEnded => tasks += 1
        case StageCompleted(written) => bytes += written
      }
      Activity(sites.result(), intervals.result(), tasks, bytes)
    }
    sc.addSparkListener(listener)
    try {
      marker()
      awaitMarker()
      val out = body
      marker()
      (out, awaitMarker())
    } finally sc.removeSparkListener(listener)
  }
}
