package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block of code starts, each named by its call site, e.g.
  * `localCheckpoint at TrainingData.scala:2306`, and the shuffle bytes
  * their stages write (the stage task metrics). A job of a SQL execution
  * takes the call site of the action that started the execution: adaptive
  * execution submits its stage jobs from a thread pool, where the stack
  * shows no user code. Any other job takes the name of its result stage.
  *
  * The listener bus is asynchronous, so the block is bracketed by two
  * marker jobs: events are delivered in order, so every job between the
  * markers has been seen once the closing marker arrives, and a job left on
  * the bus by earlier code arrives before the opening marker. */
object SparkJobs {
  private val Marker = "graft-job-count-marker"
  // Description, which is package-private
  private val Description = "spark.job.description"

  /** The call site of each job a block started, in start order, and the
    * shuffle bytes written by the stages that completed. */
  final case class Activity(callSites: Seq[String], shuffleWriteBytes: Long)

  /** The block's result and the number of jobs it started. */
  def during[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, a) = activity(sc)(body)
    (out, a.callSites.size)
  }

  /** The block's result and what its jobs did. */
  def activity[T](sc: SparkContext)(body: => T): (T, Activity) = {
    // Left(description, call site) per started job, Right(shuffle bytes)
    // per completed stage, in bus order
    val seen = new LinkedBlockingQueue[Either[(String, String), Long]]()
    val listener = new SparkListener {
      // execution id → the call site of its root execution; the bus calls
      // a listener from one thread
      private val executionSites = mutable.Map.empty[Long, String]

      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executionSites(s.executionId) =
            s.rootExecutionId.flatMap(executionSites.get).getOrElse(s.description)
        case _ =>
      }

      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def property(key: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        val site = property(SQLExecution.EXECUTION_ID_KEY)
          .flatMap(id => executionSites.get(id.toLong))
          // the result stage is created after its parents, so it has the
          // highest id among the job's stages
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        seen.add(Left((property(Description).getOrElse(""), site)))
      }

      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        seen.add(Right(Option(e.stageInfo.taskMetrics)
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
      var bytes = 0L
      var done = false
      while (!done) seen.poll(60, TimeUnit.SECONDS) match {
        case null => throw new IllegalStateException(
          "the listener bus did not deliver the marker job")
        case Left((Marker, _)) => done = true
        case Left((_, site)) => sites += site
        case Right(written) => bytes += written
      }
      Activity(sites.result(), bytes)
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
