package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Where registered queries spend their time. For each query: one warm-up,
  * then the median of three build times (driver-side DataFrame
  * construction, including the eager fits and checkpoints it runs) and of
  * three run times into the noop sink, and the Spark jobs each phase
  * starts, grouped by call site. One row per query, then one line per
  * call site:
  *
  * {{{
  * query                         build_s    run_s build_jobs run_jobs
  * td_pipeline_ccnet                1.35     1.22          5        9
  *   build   3  localCheckpoint at CcNet.scala:44
  *   build   2  collect at TaggedCounts.scala:48
  *   run     9  save at Profile.scala:36
  * }}}
  *
  * A job's call site is the user-code line of the action that started it
  * (see [[SparkJobs]]). Scaling is two runs: `Profile <sf1 dir> q` against
  * `Profile <sf0.1 dir> q`; `graft.ScaleGen` writes an sf1 directory.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query>...
  */
object Profile {

  /** Median build and run seconds, and the call site of each job the last
    * measured build and run started. */
  final case class Measure(buildS: Double, runS: Double,
      buildJobs: Seq[String], runJobs: Seq[String])

  def measure(spark: SparkSession, sfDir: String, name: String): Measure = {
    val query = SparkEntry.queries(name)
    def once(): Measure = {
      val sc = spark.sparkContext
      val ((df, buildS), buildJobs) =
        SparkJobs.callSites(sc)(timed(query(spark, sfDir)))
      val ((_, runS), runJobs) = SparkJobs.callSites(sc)(timed(
        df.write.format("noop").mode("overwrite").save()))
      Measure(buildS, runS, buildJobs, runJobs)
    }
    once() // warm-up
    val runs = Seq.fill(3)(once())
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    Measure(median(runs.map(_.buildS)), median(runs.map(_.runS)),
      runs.last.buildJobs, runs.last.runJobs)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.tools.Profile <sfDir> <query>...")
    val (sfDir, names) = (args.head, args.toSeq.tail)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-28s ${"build_s"}%8s ${"run_s"}%8s " +
      f"${"build_jobs"}%10s ${"run_jobs"}%8s")
    names.foreach { name =>
      try {
        val m = measure(spark, sfDir, name)
        println(f"$name%-28s ${m.buildS}%8.2f ${m.runS}%8.2f " +
          f"${m.buildJobs.size}%10d ${m.runJobs.size}%8d")
        for ((phase, sites) <- Seq("build" -> m.buildJobs, "run" -> m.runJobs);
             site <- sites.distinct)
          println(f"  $phase%-5s ${sites.count(_ == site)}%3d  $site")
      } catch { case e: Exception => println(s"$name failed: $e") }
    }
    spark.stop()
  }
}
