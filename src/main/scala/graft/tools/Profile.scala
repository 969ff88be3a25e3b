package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Where registered queries spend their time. For each query: one warm-up,
  * then the median of three build times (driver-side DataFrame
  * construction, including the eager fits and checkpoints it runs) and of
  * three run times into the noop sink, the Spark jobs each phase starts,
  * grouped by call site, and the shuffle megabytes each phase's stages
  * write. One row per query, then one line per call site:
  *
  * {{{
  * query                         build_s    run_s build_jobs run_jobs build_mb   run_mb
  * td_dedup_near                    0.12     1.22          0        5     0.00     6.25
  *   run     5  save at Profile.scala:42
  * }}}
  *
  * A job's call site is the user-code line of the action that started it
  * (see [[SparkJobs]]). Scaling is two runs: `Profile <sf1 dir> q` against
  * `Profile <sf0.1 dir> q`; `graft.ScaleGen` writes an sf1 directory.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query>...
  */
object Profile {

  /** Median build and run seconds, the call site of each job the last
    * measured build and run started, and the shuffle megabytes their
    * stages wrote. */
  final case class Measure(buildS: Double, runS: Double,
      buildJobs: Seq[String], runJobs: Seq[String],
      buildShuffleMb: Double, runShuffleMb: Double)

  def measure(spark: SparkSession, sfDir: String, name: String): Measure = {
    val query = SparkEntry.queries(name)
    def once(): Measure = {
      val sc = spark.sparkContext
      val ((df, buildS), build) =
        SparkJobs.activity(sc)(timed(query(spark, sfDir)))
      val ((_, runS), run) = SparkJobs.activity(sc)(timed(
        df.write.format("noop").mode("overwrite").save()))
      Measure(buildS, runS, build.callSites, run.callSites,
        build.shuffleWriteBytes / 1e6, run.shuffleWriteBytes / 1e6)
    }
    once() // warm-up
    val runs = Seq.fill(3)(once())
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    runs.last.copy(buildS = median(runs.map(_.buildS)),
      runS = median(runs.map(_.runS)))
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
      f"${"build_jobs"}%10s ${"run_jobs"}%8s ${"build_mb"}%8s ${"run_mb"}%8s")
    names.foreach { name =>
      try {
        val m = measure(spark, sfDir, name)
        println(f"$name%-28s ${m.buildS}%8.2f ${m.runS}%8.2f " +
          f"${m.buildJobs.size}%10d ${m.runJobs.size}%8d " +
          f"${m.buildShuffleMb}%8.2f ${m.runShuffleMb}%8.2f")
        for ((phase, sites) <- Seq("build" -> m.buildJobs, "run" -> m.runJobs);
             site <- sites.distinct)
          println(f"  $phase%-5s ${sites.count(_ == site)}%3d  $site")
      } catch { case e: Exception => println(s"$name failed: $e") }
    }
    spark.stop()
  }
}
