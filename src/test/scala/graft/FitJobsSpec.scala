package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dsir, NgramLm, QualityModel}
import graft.sources.Tables
import graft.tools.{Profile, SparkJobs}

/** Spark job counts of the eager model fits, of the near-dup and per-key
  * dedup queries and of the CCNet and RefinedWeb pipelines, on sf0.001
  * `documents` with AQE on (each shuffle stage then runs as a job of its
  * own). A fit that gains a job, or a pipeline that goes back to one job
  * chain per model, fails here. A change that moves a count on purpose
  * updates the pin and says why.
  */
class FitJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SfDir = "/root/testdata/sf0.001"

  // job counts depend on these; other suites in the same JVM change them
  private val Confs = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760")

  private def withConfs[T](body: => T): T = {
    val prev = Confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    Confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def jobs[T](body: => T): (T, Int) =
    withConfs(SparkJobs.during(spark.sparkContext)(body))

  // built inside each counted block: the read takes its schema from the
  // parquet footer, which is no job
  private def docs = Tables(spark, SfDir, "documents")

  test("td_pipeline_ccnet: one fused fit pass, build plus collect") {
    val (df, build) = jobs(SparkEntry.queries("td_pipeline_ccnet")(spark, SfDir))
    val (rows, run) = jobs(df.collect())
    assert(rows.nonEmpty)
    // build: the one-scan count pass (the shuffle stage of its one
    // aggregate and the checkpoint); the bounded collect (the profile
    // window's shuffle stage and the result). It was 14 with one job chain
    // per model, 6 while reading the table inferred its schema in a job,
    // and 5 while the count pass had two aggregates.
    assert(build == 4, "count pass 2 + collect 2")
    // run: one projection of language ID, the quality keep and the LM
    // transitions, the LM's broadcast joins and one aggregate per document.
    // It was 12 with a join per model, and 9 while a second read of the
    // documents was joined to the projection on doc_id.
    assert(run == 7)
  }

  test("Profile reports td_pipeline_ccnet's pinned jobs, each with its call site") {
    val m = withConfs(Profile.measure(spark, SfDir, "td_pipeline_ccnet"))
    assert(m.build.jobs.size == 4 && m.run.jobs.size == 7 &&
      (m.build.jobs ++ m.run.jobs).forall(_.contains(".scala:")),
      s"build ${m.build.jobs} run ${m.run.jobs}")
    for (p <- Seq(m.build, m.run)) {
      // both phases shuffle, so both report written bytes
      assert(p.shuffleMb > 0, m.toString)
      // every job runs at least one task, and the driver-only share of a
      // phase lies within its wall time
      assert(p.tasks >= p.jobs.size && p.driverOnlyS >= 0 &&
        p.driverOnlyS <= p.s, m.toString)
    }
  }

  // build: none, the identical-text collapse is a window (it was 4: the
  // collapse's groupBy stage, its join and its checkpoint). run: the md5
  // shuffle, the band shuffle, the shuffle into one partition that orders
  // the pairs and the result (it was 8 with the band self-join, distinct
  // and verify joins, and 5 while a global orderBy's range partitioner
  // sampled the verify pass in a job of its own)
  for (name <- Seq("td_dedup_near", "td_dedup_para"))
    test(s"$name: no job in the build, one banded pass in the run") {
      val (df, build) = jobs(SparkEntry.queries(name)(spark, SfDir))
      val (rows, run) = jobs(df.collect())
      assert(rows.nonEmpty)
      assert(build == 0 && run == 4, s"build $build run $run")
    }

  test("td_pipeline_refinedweb: build plus collect") {
    val (df, build) = jobs(SparkEntry.queries("td_pipeline_refinedweb")(spark, SfDir))
    val (rows, run) = jobs(df.collect())
    assert(rows.nonEmpty)
    // build: the stage checkpoints and each stage's own jobs. With the
    // per-key values from a window on the key, not a groupBy joined back,
    // Profile at sf0.1 shows per stage: url_dedup 2 jobs (was 3),
    // drop_pairs 5 (6), substr 4 (5) and cap 6. The cap ran 9 or 10 jobs
    // from one build to the next while it windowed on a synthetic key, so
    // the pin was 27 or 28; eight repeated builds in one JVM now all run
    // 21.
    assert(build == 21, s"build $build")
    // run: the membership fold over the checkpointed stages
    assert(run == 6)
  }

  // per-key values come from one window on the key (each was a groupBy
  // joined back onto its input). td_dedup_url: no build, and the run is
  // the window's shuffle plus the orderBy. The pair engines verify their
  // candidates in one run pass over the collapse window, so nothing is
  // checkpointed in the build: td_dedup_embed's postings have one reader
  // (build 2 → 0, run 6 → 5: the posting self-join and its dropDuplicates
  // are gone), td_mm_imagedup's decoded hashes too (build 1 → 0, run 6 →
  // 5), and td_mm_videodup reads its frames back out of the one sequence
  // aggregate, with no join onto the frame counts (build 1 → 0, run 11 →
  // 7)
  for ((name, build0, run0) <- Seq(("td_dedup_url", 0, 4),
      ("td_dedup_embed", 0, 5), ("td_mm_imagedup", 0, 5),
      ("td_mm_videodup", 0, 7)))
    test(s"$name: per-key values from one window") {
      val (df, build) = jobs(SparkEntry.queries(name)(spark, SfDir))
      val (rows, run) = jobs(df.collect())
      assert(rows.nonEmpty)
      assert(build == build0 && run == run0, s"build $build run $run")
    }

  // td_dedup_semantic: the build is the k-means fit (the initial sample
  // and the Lloyd rounds); the cells are verified in the run pass, so the
  // assignment is not checkpointed (build 12 → 9, run 7 → 6).
  // td_mm_audiodup: the decode has one reader, the collapse window under
  // the band pass, so nothing is checkpointed (build 1 → 0, run 6 → 5)
  for ((name, build0, run0) <- Seq(("td_dedup_semantic", 9, 6),
      ("td_mm_audiodup", 0, 5)))
    test(s"$name: candidate pairs in one run pass") {
      val (df, build) = jobs(SparkEntry.queries(name)(spark, SfDir))
      val (rows, run) = jobs(df.collect())
      assert(rows.nonEmpty)
      assert(build == build0 && run == run0, s"build $build run $run")
    }

  test("NgramLm.fit: one checkpointed count pass and the token total") {
    val (lm, n) = jobs(
      NgramLm.fit(docs.filter(col("lang") === "en").select("text"), "text"))
    assert(lm.totalTokens > 0)
    // was 6: two checkpoints and a separate sum
    assert(n == 3, "count pass 2 (shuffle stage + checkpoint) + token total 1")
  }

  test("QualityModel.fitLogOddsMicro: one aggregate over both labels") {
    val (w, n) = jobs(QualityModel.fitLogOddsMicro(
      docs.filter(col("lang") === "en").select("text"),
      docs.filter(col("lang") =!= "en").select("text"), "text",
      nBuckets = 1024))
    assert(w.length == 1024)
    // was 4: one aggregate and one collect per label
    assert(n == 2, "shuffle stage + collect")
  }

  test("Dsir.importanceWeights: one aggregate over target and raw") {
    val (_, n) = jobs(Dsir.importanceWeights(docs.select("doc_id", "text"),
      docs.filter(col("lang") === "en").select("doc_id", "text"),
      "doc_id", "text", nBuckets = 1024))
    // was 4: one aggregate and one collect per corpus
    assert(n == 2, "shuffle stage + collect")
  }
}
