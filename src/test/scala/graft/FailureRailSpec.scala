package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Jdbc
import graft.write.{Modes, ParquetTarget}

/** Failure-injection tests for the staged-load safety rails
  * (task_run_write.go:380-405 post-count abort, :434-478 transactional
  * final swap, :313-331 temp cleanup): a fault ANYWHERE in the staged path
  * must leave the final table untouched and no temp objects behind.
  */
class FailureRailSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def url(name: String) = s"jdbc:derby:memory:$name;create=true"

  /** A frame whose physical evaluation throws after `okRows` rows — the
    * "source dies mid-stream" injection. */
  private def faultyAfter(okRows: Int, total: Int) = {
    import spark.implicits._
    (1 to total).toDF("id").coalesce(1)
      .map { r =>
        val i = r.getInt(0)
        if (i > okRows) sys.error(s"injected fault at row $i")
        (i, s"v$i")
      }.toDF("id", "v")
  }

  private def count(u: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(u)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(1) FROM $table")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    } finally c.close()
  }

  test("stage-write fault mid-stream: target untouched, stage cleaned") {
    import spark.implicits._
    val u = url("rail1")
    val seed = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Jdbc.write(seed, u, "T1", columnTypes = Map("v" -> "VARCHAR(20)"))
    intercept[Exception] {
      Jdbc.mergeStrategy(faultyAfter(5, 100), u, "T1", Seq("id"),
        "update_insert", columnTypes = Map("v" -> "VARCHAR(20)"))
    }
    assert(count(u, "T1") == 2L, "target must be untouched after stage fault")
    assert(!Jdbc.tableExists(u, "T1_STAGE"),
      "partial stage table must be dropped")
  }

  test("merge-statement failure: rollback leaves target untouched, stage dropped") {
    import spark.implicits._
    val u = url("rail2")
    // target with a CHECK constraint the merge rows violate: staging
    // succeeds, the MERGE itself fails mid-transaction
    Jdbc.execute(u,
      """CREATE TABLE T2 ("id" INT PRIMARY KEY, "v" INT CHECK ("v" < 100))""")
    Jdbc.execute(u, """INSERT INTO T2 VALUES (1, 10), (2, 20)""")
    val bad = Seq((1, 10), (3, 500)).toDF("id", "v") // 500 violates CHECK
    intercept[Exception] {
      Jdbc.mergeStrategy(bad, u, "T2", Seq("id"), "update_insert")
    }
    assert(count(u, "T2") == 2L, "target must keep its pre-merge rows")
    val rows = spark.read.format("jdbc").option("url", u)
      .option("dbtable", "T2").load().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == Seq((1, 10), (2, 20)), "rolled-back merge must not partially apply")
    assert(!Jdbc.tableExists(u, "T2_STAGE"), "stage must be dropped after rollback")
  }

  test("post-count mismatch aborts before the merge; target untouched") {
    import spark.implicits._
    val u = url("rail3")
    val seed = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Jdbc.write(seed, u, "T3", columnTypes = Map("v" -> "VARCHAR(20)"))
    val delta = Seq((2, "B"), (3, "c")).toDF("id", "v")
    // injected accounting fault: the caller claims it streamed 5 rows but
    // only 2 reached the stage — the rail must refuse to merge
    val e = intercept[IllegalStateException] {
      Jdbc.mergeStrategy(delta, u, "T3", Seq("id"), "update_insert",
        columnTypes = Map("v" -> "VARCHAR(20)"), expectedRows = Some(5L))
    }
    assert(e.getMessage.contains("staged row count"))
    val rows = spark.read.format("jdbc").option("url", u)
      .option("dbtable", "T3").load().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b")), "abort must precede any merge work")
    assert(!Jdbc.tableExists(u, "T3_STAGE"), "stage cleaned on abort")
    // matching expected count proceeds normally on the same target
    Jdbc.mergeStrategy(delta, u, "T3", Seq("id"), "update_insert",
      columnTypes = Map("v" -> "VARCHAR(20)"), expectedRows = Some(2L))
    assert(count(u, "T3") == 3L)
  }

  test("file swap: staging fault leaves target intact and no staging dir") {
    import spark.implicits._
    val root = "/tmp/graft-test/rail_swap"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val t = ParquetTarget(spark, s"$root/t")
    def rows = t.read.collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    // (target rows, the failing write): a replace whose source dies at row
    // 2, and a full refresh of 100 rows whose source dies at row 50
    for ((seed, write) <- Seq(
        Seq((1, "a"), (2, "b")) -> (() => t.replaceWith(faultyAfter(1, 50))),
        (1 to 100).map(i => (i, s"v$i")) -> (() => Modes.fullRefresh(t, faultyAfter(49, 100))))) {
      Modes.fullRefresh(t, seed.toDF("id", "v"))
      intercept[Exception](write())
      assert(rows == seed, "target parquet must survive a staging fault")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/t__staging")),
        "partial staging dir must be removed")
    }
  }

  test("rewrite removes the previous write's extra part files") {
    // the reference's issue-class "extra files deletion" (suite.cli id=96,
    // p.05): a target rewritten with FEWER part files must not retain
    // stale parts from the earlier write — stale parts silently duplicate
    // rows on the next read
    import spark.implicits._
    val root = "/tmp/graft-test/rail_rewrite"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val t = ParquetTarget(spark, s"$root/t")
    Modes.fullRefresh(t, (1 to 1000).toDF("id").repartition(4))
    def parts(): Int = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/t"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(parts() == 4)
    Modes.fullRefresh(t, (1 to 10).toDF("id").coalesce(1))
    assert(parts() == 1, "stale part files survived the rewrite")
    assert(t.read.count() == 10)
    // same guarantee through the swap path (replaceWith reads the target)
    t.replaceWith(t.read.filter(col("id") <= 5).coalesce(1))
    assert(parts() == 1 && t.read.count() == 5)
  }

  test("binary columns round-trip through a DB target byte-exact") {
    // the reference's binary-fidelity suite rows (r.111-113) re-expressed
    // on the embedded engine: arbitrary bytes — including 0x00 and high
    // bits — must survive stage + read-back unchanged
    import spark.implicits._
    val u = url("rail_binary")
    val payloads: Seq[(Int, Array[Byte])] = Seq(
      1 -> Array[Byte](0, 1, 2, -1, -128, 127),
      2 -> Array.tabulate(256)(i => i.toByte),
      3 -> Array.emptyByteArray)
    val df = payloads.toDF("id", "payload")
    Jdbc.write(df, u, "BIN_T")
    val back = spark.read.format("jdbc").option("url", u)
      .option("dbtable", "BIN_T").load().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1))).toMap
    payloads.foreach { case (id, want) =>
      assert(java.util.Arrays.equals(back(id), want), s"payload $id differs")
    }
  }

  test("timeout ceiling fails the run (SLING_TIMEOUT, task-level timeout:)") {
    import spark.implicits._
    val root = "/tmp/graft-test/rail_timeout"
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/src")
    val yaml =
      s"""source:
         |  stream: "$root/src"
         |  format: parquet
         |timeout: 0s
         |target:
         |  object: "$root/tgt"
         |  format: parquet
         |  mode: full-refresh
         |""".stripMargin
    val e = intercept[IllegalStateException] {
      graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
    }
    assert(e.getMessage.contains("exceeded timeout"))
    // and without the ceiling the same task succeeds
    val ok = yaml.replace("timeout: 0s\n", "")
    assert(graft.repl.TaskConfig.run(spark, ok, "/root/testdata/sf0.001") == 2L)
  }

  test("post_count_check routes from task YAML") {
    import spark.implicits._
    val u = url("rail5")
    Jdbc.write(Seq((1, "a")).toDF("id", "v"), u, "APP.T5",
      columnTypes = Map("v" -> "VARCHAR(20)"))
    val root = "/tmp/graft-test/rail_yaml"
    Seq((1, "A"), (2, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/src")
    val yaml =
      s"""source:
         |  stream: "$root/src"
         |  format: parquet
         |connections:
         |  DB: { type: derby, instance: "memory:rail5" }
         |target:
         |  conn: DB
         |  object: APP.T5
         |  mode: upsert
         |  primary_key: [id]
         |  options:
         |    post_count_check: true
         |columns:
         |  v: string(20)
         |""".stripMargin
    graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
    assert(count(u, "APP.T5") == 2L)
  }
}
