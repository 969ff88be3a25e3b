package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.repl.{Replication, TaskConfig}
import graft.tools.SparkJobs

/** A replication stream is a task: one source stream loaded through task
  * YAML (`TaskConfig.run`) and through a one-stream replication YAML
  * (`Replication.run`) leaves the same target rows, reports the same row
  * count, fails the same way and runs the same Spark jobs, mode by mode. */
class ReplicationParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("graft-repl-parity")

  /** A catalog holding one table `src` over `ids`: `day` advances one day
    * every five ids from 2024-01-01, `version` marks the catalog. */
  private def catalog(name: String, ids: Seq[Int], version: Int): String = {
    import spark.implicits._
    val dir = root.resolve(name).toString
    ids.map(_.toLong).toDF("id").repartition(2).select(col("id"),
        date_add(lit("2024-01-01").cast("date"), (col("id") / 5).cast("int")).as("day"),
        (col("id") * 3 + version).as("amount"), lit(version).as("version"))
      .write.parquet(s"$dir/src.parquet")
    dir
  }

  // v2 updates ids 100-199 but the multiples of 11, adds 200-259 (later
  // days) and drops 0-99
  private lazy val v1 = catalog("v1", 0 until 200, 1)
  private lazy val v2 = catalog("v2", (100 until 260).filter(_ % 11 != 0), 2)

  // the stream's select/where and its transforms and columns, the same in
  // both YAMLs
  private val filter = Seq("select: [id, day, amount, version]", "where: \"id % 7 <> 3\"")
  private val shape = Seq("transforms:", "  tag: \"concat('v', version)\"",
    "columns:", "  amount: decimal(12,2)")

  private def indent(n: Int, lines: Seq[String]) = lines.map(" " * n + _ + "\n").mkString

  /** The task YAML of a stream with target `keys`, backfilling `range`. */
  private def taskYaml(obj: String, keys: Seq[String],
      range: Option[(String, String)]): String =
    "source:\n  stream: src\n" + indent(2, filter) +
      range.fold("")(r => s"""  range: "${r._1},${r._2}"\n""") +
      s"target:\n  object: $obj\n" + indent(2, keys) + indent(0, shape)

  /** The one-stream replication YAML of the same stream. */
  private def replYaml(keys: Seq[String], range: Option[(String, String)]): String =
    "streams:\n  src:\n" + indent(4, filter ++ keys ++ shape) +
      range.fold("")(r => indent(4, Seq("backfill:", s"""  start: "${r._1}"""",
        s"""  end: "${r._2}"""")))

  private def rows(path: String) =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  /** Load `runs` (catalog, backfill range) one after the other through
    * both entry points into fresh targets; after each run both report the
    * same count and hold the same rows. */
  private def assertParity(name: String, keys: Seq[String],
      runs: Seq[(String, Option[(String, String)])]): Unit = {
    val taskObj = root.resolve(s"task_$name").toString
    val replRoot = root.resolve(s"repl_$name").toString
    runs.zipWithIndex.foreach { case ((cat, range), i) =>
      val n = TaskConfig.run(spark, taskYaml(taskObj, keys, range), cat)
      val out = Replication.run(spark, cat,
        Replication.parse(replYaml(keys, range), Seq("src")), replRoot)
      assert(out.map(_._3) == Seq(n), s"$name run $i: counts")
      val (t, r) = (rows(taskObj), rows(s"$replRoot/src"))
      assert(t.nonEmpty && t == r, s"$name run $i: target rows")
      assert(n == t.size, s"$name run $i: count vs rows")
    }
  }

  test("every file mode leaves the same rows and count through both entry points") {
    val pk = "primary_key: [id]"
    val uk = "update_key: day"
    val twice = Seq(v1 -> None, v2 -> None)
    assertParity("full_refresh", Seq("mode: full-refresh"), twice)
    assertParity("truncate", Seq("mode: truncate"), twice)
    assertParity("snapshot", Seq("mode: snapshot",
      "loaded_at: \"2024-06-01 12:00:00\""), twice)
    assertParity("incremental_pk", Seq("mode: incremental", pk), twice)
    assertParity("incremental_uk", Seq("mode: incremental", uk), twice)
    // the second backfill covers ids 100-154 only, of which v2 lacks the
    // multiples of 11
    val backfills = Seq(v1 -> Some(("2024-01-01", "2024-02-28")),
      v2 -> Some(("2024-01-21", "2024-01-31")))
    assertParity("backfill_pk", Seq("mode: backfill", pk, uk), backfills)
    assertParity("backfill", Seq("mode: backfill", uk), backfills)
  }

  test("backfill: a PK merges the range slice, without one the range is replaced") {
    val range = Some(("2024-01-21", "2024-01-31"))
    def backfill(name: String, keys: Seq[String], times: Int) = {
      val obj = root.resolve(s"backfill_$name").toString
      TaskConfig.run(spark, taskYaml(obj, Seq("mode: full-refresh"), None), v1)
      (1 to times).foreach(_ =>
        TaskConfig.run(spark, taskYaml(obj, "mode: backfill" +: keys, range), v2))
      rows(obj)
    }
    def ids(rows: Seq[String]) = rows.map(_.drop(1).takeWhile(_ != ',').toLong).sorted
    val merged = backfill("pk", Seq("primary_key: [id]", "update_key: day"), 1)
    val replaced = backfill("nopk", Seq("update_key: day"), 1)
    // ids 100-154 carry days in the range: v2 rows once each in both
    val inV2 = (100L until 155L).filter(i => i % 7 != 3 && i % 11 != 0)
    for (r <- Seq(merged, replaced))
      assert(ids(r.filter(_.endsWith(",2,v2]"))) == inV2)
    // the range's ids that v2 lacks keep their v1 rows in a merge only
    assert(ids(merged).diff(ids(replaced)) == Seq(110L, 121L, 132L, 154L))
    // so re-running the replace duplicates nothing
    assert(backfill("nopk_twice", Seq("update_key: day"), 2) == replaced)
  }

  test("incremental without update_key fails the same way through both") {
    val keys = Seq("mode: incremental")
    val obj = root.resolve("no_uk_task").toString
    val t = intercept[IllegalArgumentException](
      TaskConfig.run(spark, taskYaml(obj, keys, None), v1))
    val r = intercept[IllegalArgumentException](Replication.run(spark, v1,
      Replication.parse(replYaml(keys, None), Seq("src")),
      root.resolve("no_uk_repl").toString))
    assert(t.getMessage == r.getMessage && t.getMessage.contains("update_key"))
  }

  test("full-refresh and incremental-PK streams run the same Spark jobs through both") {
    val sc = spark.sparkContext
    for ((name, keys) <- Seq("full" -> Seq("mode: full-refresh"),
        "merge" -> Seq("mode: incremental", "primary_key: [id]"))) {
      val taskObj = root.resolve(s"jobs_task_$name").toString
      val replRoot = root.resolve(s"jobs_repl_$name").toString
      for (cat <- Seq(v1, v2)) {
        val (_, taskJobs) = SparkJobs.during(sc)(
          TaskConfig.run(spark, taskYaml(taskObj, keys, None), cat))
        val (_, replJobs) = SparkJobs.during(sc)(Replication.run(spark, cat,
          Replication.parse(replYaml(keys, None), Seq("src")), replRoot))
        assert(taskJobs == replJobs, s"$keys on $cat")
      }
    }
  }

  test("a failing stream's error reaches the caller and no pool thread outlives the run") {
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-replication"))
    val e = intercept[IllegalArgumentException](Replication.run(spark, v1,
      Replication.parse("streams:\n  src:\n    mode: bogus\n", Seq("src")),
      root.resolve("bogus").toString))
    assert(e.getMessage == "mode bogus")
    // a worker that has left the terminated pool may take a moment to die
    val deadline = System.nanoTime() + 5000000000L
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(poolThreads.isEmpty, poolThreads)
  }
}
