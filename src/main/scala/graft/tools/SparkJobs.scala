package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block of code starts, each named by its call site, e.g.
  * `localCheckpoint at TrainingData.scala:2306`. A job of a SQL execution
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

  /** The block's result and the number of jobs it started. */
  def during[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, sites) = callSites(sc)(body)
    (out, sites.size)
  }

  /** The block's result and the call site of each job it started, in
    * start order. */
  def callSites[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    // (description, call site) per started job
    val seen = new LinkedBlockingQueue[(String, String)]()
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
        seen.add((property(Description).getOrElse(""), site))
      }
    }
    def marker(): Unit = {
      val prev = sc.getLocalProperty(Description)
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
    }
    def awaitMarker(): Seq[String] = {
      val before = Seq.newBuilder[String]
      var job = seen.poll(60, TimeUnit.SECONDS)
      while (job == null || job._1 != Marker) {
        require(job != null, "the listener bus did not deliver the marker job")
        before += job._2
        job = seen.poll(60, TimeUnit.SECONDS)
      }
      before.result()
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
