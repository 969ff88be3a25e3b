package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.repl.TaskConfig
import graft.sources.{DeltaLite, FileSources}
import graft.write.{ParquetTarget, StagedWrite}

/** Every file write goes through one staged protocol ([[StagedWrite]]), so
  * a fault at any file-system operation leaves the target holding its old
  * rows or its new ones once settled, and a clean rerun finishes the load.
  * The fault matrix fails the n-th create, rename or delete of each task
  * write for n = 1, 2, ... until a run passes with no fault. A replace, an
  * append and a text write also run it as a crash: every later operation
  * fails too, so no handler runs and only settle recovers. */
class StagedWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    FaultyFileSystem.register(s.sparkContext.hadoopConfiguration)
    s
  }

  private lazy val root = Files.createTempDirectory("graft-staged-write")

  /** A one-file parquet source over `ids`: day `2024-01-<id>`, amount
    * `id * scale`. */
  private def source(name: String, ids: Range, scale: Int, wide: Boolean = false): String = {
    val dir = root.resolve(name).toString
    val df = spark.range(ids.start, ids.end + 1).coalesce(1).select(col("id"),
      date_add(lit("2024-01-01").cast("date"), (col("id") - 1).cast("int")).as("day"),
      (col("id") * scale).as("amount"))
    (if (wide) df.withColumn("extra", lit("x")) else df).write.parquet(dir)
    dir
  }
  private lazy val v1 = source("v1", 1 to 4, 10)
  private lazy val v2 = source("v2", 3 to 6, 100)
  private lazy val v2wide = source("v2wide", 3 to 6, 100, wide = true)

  private def yaml(src: String, obj: String, target: Seq[String],
      range: Option[String]): String =
    s"source:\n  stream: $src\n  format: parquet\n" +
      range.fold("")(r => s"""  range: "$r"\n""") +
      s"target:\n  object: \"$obj\"\n" + target.map("  " + _ + "\n").mkString

  private def sorted(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.toString).sorted.toSeq
  private def parquetRows(p: String) = sorted(ParquetTarget(spark, p).read.collect())
  private def textRows(read: String => org.apache.spark.sql.DataFrame)(p: String) = {
    StagedWrite.settle(spark, p)
    sorted(read(p).collect())
  }
  private val csvRows = textRows(FileSources.csv(spark, _)) _
  private val jsonlRows = textRows(FileSources.jsonl(spark, _)) _

  /** A task write over the target `seed` leaves: its target lines, the
    * source it loads, and how the target's rows are read. */
  private case class Write(name: String, target: Seq[String],
      seed: Seq[String] = Seq("mode: full-refresh"), src: () => String = () => v2,
      range: Option[String] = None, rows: String => Seq[String] = parquetRows)

  private val pk = "primary_key: [id]"
  private val uk = "update_key: day"
  private val backfillRange = Some("2024-01-02,2024-01-05")
  private val writes = Seq(
    Write("full_refresh", Seq("mode: full-refresh")),
    Write("truncate", Seq("mode: truncate")),
    Write("snapshot", Seq("mode: snapshot", "loaded_at: \"2024-06-01 12:00:00\""),
      seed = Seq("mode: snapshot", "loaded_at: \"2024-06-01 12:00:00\"")),
    Write("incremental_uk", Seq("mode: incremental", uk)),
    // incremental with a PK merges by the default strategy, update_insert
    Write("incremental_pk", Seq("mode: incremental", pk)),
    Write("merge_insert", Seq("mode: incremental", pk, "options:",
      "  merge_strategy: insert")),
    Write("merge_update", Seq("mode: incremental", pk, "options:",
      "  merge_strategy: update")),
    Write("merge_delete_insert", Seq("mode: incremental", pk, "options:",
      "  merge_strategy: delete_insert")),
    Write("backfill_pk", Seq("mode: backfill", pk, uk), range = backfillRange),
    Write("backfill", Seq("mode: backfill", uk), range = backfillRange),
    Write("upsert_new_columns", Seq("mode: upsert", pk, "options:",
      "  add_new_columns: true"), src = () => v2wide),
    Write("csv", Seq("format: csv"), seed = Seq("format: csv"), rows = csvRows),
    Write("jsonl", Seq("format: jsonl"), seed = Seq("format: jsonl"), rows = jsonlRows),
    Write("csv_zstd", Seq("format: csv", "options:", "  compression: zstd"),
      seed = Seq("format: csv", "options:", "  compression: zstd"), rows = csvRows),
    Write("part_mask", Seq(uk), seed = Seq(uk)))

  /** Runs the fault matrix of `w`; returns the number of faults injected. */
  private def matrix(w: Write, asCrash: Boolean): Int = {
    val dir = root.resolve(s"${w.name}_${if (asCrash) "crash" else "fail"}").toString
    val base = s"faulty://$dir"
    val obj = if (w.name == "part_mask") s"$base/{part_year}/{part_month}" else base
    val localFs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val siblings = Seq("", "__staging", "__old", "__append").map(s => new Path(dir + s))
    val pristine = new Path(s"${dir}__pristine")
    def load(): Unit = TaskConfig.run(spark, yaml(w.src(), obj, w.target, w.range), "")
    TaskConfig.run(spark, yaml(v1, obj, w.seed, w.range), "")
    FileUtil.copy(localFs, siblings.head, localFs, pristine, false, localFs.getConf)
    def reset(): Unit = {
      siblings.foreach(localFs.delete(_, true))
      FileUtil.copy(localFs, pristine, localFs, siblings.head, false, localFs.getConf)
    }
    val old = w.rows(base)
    load()
    val fresh = w.rows(base)
    load()
    val second = w.rows(base)
    assert(old != fresh, w.name)
    Iterator.from(1).map { n =>
      reset()
      FaultyFileSystem.arm(n, asCrash)
      val error = scala.util.Try(load()).failed.toOption
      val fired = FaultyFileSystem.disarm()
      val after = w.rows(base)
      val clue = s"${w.name}, fault $n, crash $asCrash: $error"
      if (!fired) assert(error.isEmpty && after == fresh, clue)
      else {
        assert(after == old || after == fresh, clue)
        load()
        // a load the fault did not stop ran once already: snapshot's rerun
        // appends a second copy, every other write is idempotent
        assert(w.rows(base) == (if (after == old) fresh else second), clue)
      }
      assert(siblings.tail.forall(s => !localFs.exists(s)), clue)
      (n, fired)
    }.dropWhile(_._2).next()._1 - 1
  }

  // every write fails at each operation in turn; a replace, an append and
  // a text write also crash there
  for (w <- writes; asCrash <- Seq(false, true)
       if !asCrash || Seq("full_refresh", "snapshot", "csv").contains(w.name))
    test(s"fault matrix: ${w.name}${if (asCrash) ", as a crash" else ""}") {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "1")
      try {
        val faults = matrix(w, asCrash)
        assert(faults >= 3, s"${w.name}: the write did no staged swap")
        info(s"$faults fault points")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  test("ignore_existing finds a table an interrupted swap left under its old name") {
    val obj = root.resolve("ignore_existing_tgt").toString
    TaskConfig.run(spark, yaml(v1, obj, Seq("mode: full-refresh"), None), "")
    val before = parquetRows(obj)
    // a replace cut off between its two renames
    Files.move(Paths.get(obj), Paths.get(s"${obj}__old"))
    TaskConfig.run(spark, yaml(v2, obj, Seq("mode: full-refresh", "options:",
      "  ignore_existing: true"), None), "")
    assert(parquetRows(obj) == before)
  }

  test("a delta target rejects a merge mode before any write") {
    val delta = root.resolve("delta_tgt").toString
    TaskConfig.run(spark, yaml(v1, delta, Seq("format: delta"), None), "")
    def listing(p: String) = {
      val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new Path(p), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq.sorted
    }
    val files = listing(delta)
    for (mode <- Seq("incremental", "upsert", "backfill", "cdc")) {
      val e = intercept[IllegalArgumentException](TaskConfig.run(spark,
        yaml(v2, delta, Seq("format: delta", s"mode: $mode", pk, uk), backfillRange), ""))
      assert(e.getMessage.contains(mode) && e.getMessage.contains("delta"), e.getMessage)
      assert(listing(delta) == files && DeltaLite.read(spark, delta).count() == 4, mode)
    }
  }

  test("a file target rejects delete_missing before any write") {
    val pq = root.resolve("delete_missing_tgt").toString
    TaskConfig.run(spark, yaml(v1, pq, Seq("mode: full-refresh"), None), "")
    val before = parquetRows(pq)
    for (dm <- Seq("hard", "soft")) {
      val e = intercept[IllegalArgumentException](TaskConfig.run(spark,
        yaml(v2, pq, Seq("mode: incremental", pk, "options:", s"  delete_missing: $dm"), None), ""))
      assert(e.getMessage.contains("delete_missing"), e.getMessage)
      assert(parquetRows(pq) == before, dm)
    }
  }
}
