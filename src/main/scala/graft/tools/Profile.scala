package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Where registered queries spend their time. For each query: one warm-up,
  * then the median of three build times (driver-side DataFrame
  * construction, including the eager fits and checkpoints it runs) and of
  * three run times into the noop sink, and of each phase's driver-only
  * seconds (its wall time minus the union of its jobs' intervals: time in
  * which the driver analyses, plans or waits with no job running). Then the
  * Spark jobs and tasks each phase starts, the jobs grouped by call site,
  * and the shuffle megabytes each phase's stages write. One row per query,
  * then one line per call site:
  *
  * {{{
  * query                   build_s  run_s b_jobs r_jobs b_tasks r_tasks b_drv_s r_drv_s b_mb  r_mb
  * td_dedup_near              0.09   0.61      0      4       0      10    0.09    0.12 0.00  6.25
  *   run     4  save at Profile.scala:42
  * }}}
  *
  * A job's call site is the user-code line of the action that started it
  * (see [[SparkJobs]]). Scaling is two runs: `Profile <sf1 dir> q` against
  * `Profile <sf0.1 dir> q`; `graft.ScaleGen` writes an sf1 directory.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query>...
  */
object Profile {

  /** One phase of a query (its build or its run): seconds, driver-only
    * seconds, the call site of each job it started, the tasks that ended
    * and the shuffle megabytes its stages wrote. */
  final case class Phase(s: Double, driverOnlyS: Double, jobs: Seq[String],
      tasks: Int, shuffleMb: Double)

  object Phase {
    def apply(s: Double, a: SparkJobs.Activity): Phase =
      Phase(s, math.max(0.0, s - a.jobMs / 1e3), a.callSites, a.tasks,
        a.shuffleWriteBytes / 1e6)
  }

  /** Median seconds and driver-only seconds of each phase; the jobs, tasks
    * and shuffle megabytes of the last measured build and run. */
  final case class Measure(build: Phase, run: Phase)

  def measure(spark: SparkSession, sfDir: String, name: String): Measure = {
    val query = SparkEntry.queries(name)
    def once(): Measure = {
      val sc = spark.sparkContext
      val ((df, buildS), build) =
        SparkJobs.activity(sc)(timed(query(spark, sfDir)))
      val ((_, runS), run) = SparkJobs.activity(sc)(timed(
        df.write.format("noop").mode("overwrite").save()))
      Measure(Phase(buildS, build), Phase(runS, run))
    }
    once() // warm-up
    val runs = Seq.fill(3)(once())
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def medianPhase(phases: Seq[Phase]): Phase = phases.last.copy(
      s = median(phases.map(_.s)), driverOnlyS = median(phases.map(_.driverOnlyS)))
    Measure(medianPhase(runs.map(_.build)), medianPhase(runs.map(_.run)))
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
    println(f"${"query"}%-28s ${"build_s"}%7s ${"run_s"}%6s ${"b_jobs"}%6s " +
      f"${"r_jobs"}%6s ${"b_tasks"}%7s ${"r_tasks"}%7s ${"b_drv_s"}%7s " +
      f"${"r_drv_s"}%7s ${"b_mb"}%6s ${"r_mb"}%6s")
    names.foreach { name =>
      try {
        val Measure(b, r) = measure(spark, sfDir, name)
        println(f"$name%-28s ${b.s}%7.2f ${r.s}%6.2f ${b.jobs.size}%6d " +
          f"${r.jobs.size}%6d ${b.tasks}%7d ${r.tasks}%7d " +
          f"${b.driverOnlyS}%7.2f ${r.driverOnlyS}%7.2f " +
          f"${b.shuffleMb}%6.2f ${r.shuffleMb}%6.2f")
        for ((phase, sites) <- Seq("build" -> b.jobs, "run" -> r.jobs);
             site <- sites.distinct)
          println(f"  $phase%-5s ${sites.count(_ == site)}%3d  $site")
      } catch { case e: Exception => println(s"$name failed: $e") }
    }
    spark.stop()
  }
}
