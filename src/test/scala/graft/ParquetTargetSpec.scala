package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.repl.TaskConfig
import graft.tools.SparkJobs
import graft.write.{Modes, ParquetTarget}

/** `ParquetTarget` reads its state from the footers of its data files:
  * the footer row count must equal a Spark count, and the schema it hands
  * the reader must equal the one Spark infers, after every kind of write.
  * Also the task-engine runs around a failed full refresh, and the Spark
  * jobs a CSV→parquet task run issues. */
class ParquetTargetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("graft-parquet-target")

  private def agrees(t: ParquetTarget, rows: Long): Unit = {
    val (schema, jobs) = SparkJobs.during(spark.sparkContext)(t.read.schema)
    assert(schema == spark.read.parquet(t.path).schema, "footer schema")
    assert(jobs == 0, "read needs no schema-inference job")
    assert(t.read.count() == rows)
    val (n, countJobs) = SparkJobs.during(spark.sparkContext)(t.rowCount)
    assert(n == rows, "footer row count")
    assert(countJobs == 0)
  }

  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")
    .withColumn("s", concat(lit("v"), col("id").cast("string")))

  test("footer count and schema after full refresh, snapshots, upsert, zero rows") {
    val t = ParquetTarget(spark, root.resolve("modes").toString)
    Modes.fullRefresh(t, frame(100))
    agrees(t, 100)
    val at = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Modes.fullRefresh(t, frame(0).withColumn("_sling_loaded_at", lit(at)))
    Modes.snapshot(t, frame(30), at)
    Modes.snapshot(t, frame(20), at)
    agrees(t, 50)
    Modes.upsert(t, frame(60).withColumn("_sling_loaded_at", lit(at)), Seq("id"))
    agrees(t, 60)
    Modes.fullRefresh(t, frame(10).limit(0))
    assert(t.exists, "a zero-row write leaves a data file")
    agrees(t, 0)
  }

  test("footer schema for nested, decimal(38,10), timestamp and date columns") {
    val t = ParquetTarget(spark, root.resolve("types").toString)
    Modes.fullRefresh(t, spark.range(25).select(
      col("id"),
      struct(col("id").as("a"), struct(lit("x").as("c")).as("b")).as("st"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"), array(lit(1.5))).as("m"),
      (col("id") / 7).cast("decimal(38,10)").as("dec"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      date_add(lit(java.sql.Date.valueOf("2024-02-28")), col("id").cast("int")).as("d")))
    agrees(t, 25)
  }

  test("a Hive-partitioned directory falls back to inference and counts right") {
    val path = root.resolve("hive").toString
    frame(90).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(path)
    val t = ParquetTarget(spark, path)
    assert(t.read.schema == spark.read.parquet(path).schema)
    assert(t.read.schema.fieldNames.contains("p"))
    assert(t.rowCount == 90 && t.read.count() == 90)
  }

  test("parquet written elsewhere: footer schema == Spark's inference, no job") {
    import graft.sources.Tables
    val sfDir = "/root/testdata/sf0.001"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try for (nanosAsLong <- Seq("true", "false"); name <- Tables.names) {
      spark.conf.set(key, nanosAsLong)
      val clue = s"$name, nanosAsLong=$nanosAsLong"
      val t = ParquetTarget(spark, s"$sfDir/$name.parquet")
      val (schema, jobs) = SparkJobs.during(spark.sparkContext)(t.read.schema)
      assert(schema == spark.read.parquet(t.path).schema, clue)
      assert(jobs == 0, clue)
      assert(SparkJobs.during(spark.sparkContext)(Tables(spark, sfDir, name))._2 == 0,
        clue)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def csv(name: String, body: String): Path = {
    val dir = root.resolve(name)
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-0.csv"), body.getBytes(StandardCharsets.UTF_8))
    dir
  }

  private def task(src: Path, tgt: String, mode: String,
      transform: Option[String] = None): String =
    s"""source:
       |  stream: "$src"
       |  format: csv
       |""".stripMargin +
      transform.fold("")(t => s"transforms:\n  v: \"$t\"\n") +
      s"""target:
         |  object: "$tgt"
         |  format: parquet
         |  mode: $mode
         |""".stripMargin +
      (if (mode == "incremental") "  primary_key: [id]\n" else "")

  test("a failed full refresh leaves a target the next incremental run fills") {
    val src = csv("failed_src", "id,v\n1,a\n2,b\n3,c\n")
    val tgt = root.resolve("failed_tgt").toString
    intercept[Exception](TaskConfig.run(spark,
      task(src, tgt, "full-refresh", Some("raise_error('boom')")), ""))
    val t = ParquetTarget(spark, tgt)
    assert(!Files.exists(root.resolve("failed_tgt")), "the staged write left no target")
    assert(!Files.exists(root.resolve("failed_tgt__staging")), "nor its staging directory")
    assert(!t.exists)
    assert(TaskConfig.run(spark, task(src, tgt, "incremental"), "") == 3)
    assert(spark.read.parquet(tgt).orderBy("id").collect().map(_.getString(1))
      .toSeq == Seq("a", "b", "c"))

    val handMade = root.resolve("empty_tgt")
    Files.createDirectories(handMade)
    assert(TaskConfig.run(spark, task(src, handMade.toString, "incremental"), "") == 3)
  }

  test("job count: CSV→parquet full refresh 2, incremental PK run 3, rowCount 0") {
    val conf = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val base = root.resolve("jobs_base")
      Files.createDirectories(base)
      (0 until 2).foreach { f =>
        Files.write(base.resolve(s"part-$f.csv"), ("id,qty,note\n" +
          (f * 1000 until f * 1000 + 1000).map(i => s"$i,${i % 9},\"n $i, x\"")
            .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      }
      val delta = csv("jobs_delta", "id,qty,note\n5,100,\"u, 5\"\n5000,1,\"new\"\n")
      val tgt = root.resolve("jobs_tgt").toString
      val sc = spark.sparkContext
      val (full, fullJobs) = SparkJobs.during(sc)(
        TaskConfig.run(spark, task(base, tgt, "full-refresh"), ""))
      assert(full == 2000)
      assert(fullJobs == 2, "open + write")
      val (merged, mergeJobs) = SparkJobs.during(sc)(
        TaskConfig.run(spark, task(delta, tgt, "incremental"), ""))
      assert(merged == 2001)
      assert(mergeJobs == 3, "open + the upsert's join and write")
      val (n, countJobs) = SparkJobs.during(sc)(ParquetTarget(spark, tgt).rowCount)
      assert(n == 2001 && countJobs == 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
