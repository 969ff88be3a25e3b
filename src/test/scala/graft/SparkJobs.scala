package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code starts. The listener bus is
  * asynchronous, so the block is bracketed by two marker jobs: events are
  * delivered in order, so every job between the markers has been seen
  * once the closing marker arrives, and a job left on the bus by earlier
  * code arrives before the opening marker. */
object SparkJobs {
  private val Marker = "graft-job-count-marker"
  // Description, which is package-private
  private val Description = "spark.job.description"

  def during[T](sc: SparkContext)(body: => T): (T, Int) = {
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(Description)))
          .getOrElse(""))
    }
    def marker(): Unit = {
      val prev = sc.getLocalProperty(Description)
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
    }
    def awaitMarker(): Seq[String] = {
      val before = Seq.newBuilder[String]
      var d = seen.poll(60, TimeUnit.SECONDS)
      while (d != Marker) {
        require(d != null, "the listener bus did not deliver the marker job")
        before += d
        d = seen.poll(60, TimeUnit.SECONDS)
      }
      before.result()
    }
    sc.addSparkListener(listener)
    try {
      marker()
      awaitMarker()
      val out = body
      marker()
      (out, awaitMarker().size)
    } finally sc.removeSparkListener(listener)
  }
}
