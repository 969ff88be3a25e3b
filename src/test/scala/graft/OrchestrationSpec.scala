package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Queue
import graft.repl.Hooks
import graft.sources.FileSources

/** Hook executor, queue FIFO, and stdin source semantics. */
class OrchestrationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("command hook captures output; non-zero exit honors on_failure") {
    val ok = Hooks.run(spark, Seq(Hooks.Hook("command", "echo hi")))
    assert(ok.head.ok && ok.head.detail == "hi")
    val warn = Hooks.run(spark,
      Seq(Hooks.Hook("command", "exit 3", onFailure = "warn")))
    assert(!warn.head.ok)
    intercept[IllegalStateException] {
      Hooks.run(spark, Seq(Hooks.Hook("command", "exit 3")))
    }
  }

  test("copy hook copies a file") {
    val src = java.io.File.createTempFile("hook", ".txt")
    java.nio.file.Files.writeString(src.toPath, "payload")
    val dst = src.getAbsolutePath + ".copy"
    val r = Hooks.run(spark,
      Seq(Hooks.Hook("copy", s"${src.getAbsolutePath} > $dst")))
    assert(r.head.ok)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(dst)) == "payload")
  }

  test("http hook against a local server; bad status honors on_failure") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ok", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.createContext("/boom", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      assert(Hooks.run(spark, Seq(Hooks.Hook("http", s"$base/ok"))).head.ok)
      val warn = Hooks.run(spark,
        Seq(Hooks.Hook("http", s"$base/boom", onFailure = "warn")))
      assert(!warn.head.ok)
    } finally server.stop(0)
  }

  test("queue: publish -> done -> distributed read; publish after done fails") {
    val dir = "/tmp/graft-test/queue1"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val q = Queue(spark, dir)
    q.publish(Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}"""), "part-0")
    q.publish(Seq("""{"id":3,"v":"c"}"""), "part-1")
    q.markDone()
    val rows = q.awaitAndRead().orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] { q.publish(Seq("{}"), "part-2") }
  }

  test("queue: default publishes append; closed-empty queue reads empty") {
    val dir = "/tmp/graft-test/queue3"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val q = Queue(spark, dir)
    q.publish(Seq("""{"id":1}""")) // default part names must not collide
    q.publish(Seq("""{"id":2}"""))
    q.markDone()
    assert(q.read().count() == 2)
    // a producer that found nothing and closed is a legal empty queue
    val dir2 = "/tmp/graft-test/queue4"
    fs.delete(new org.apache.hadoop.fs.Path(dir2), true)
    val q2 = Queue(spark, dir2)
    q2.markDone()
    assert(q2.awaitAndRead().count() == 0)
  }

  test("queue consume immediate: tails while producer publishes, equals " +
      "sequential read") {
    import org.apache.spark.sql.types._
    val dir = "/tmp/graft-test/queue_ci"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val q = Queue(spark, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val out = q.consumeImmediate(schema, "/tmp/graft-test/queue_ci_wk", () => {
      (0 until 4).foreach { i =>
        q.publish((1 to 5).map(j => s"""{"id":${i * 5 + j},"v":"x"}"""), s"b$i")
        Thread.sleep(200)
      }
      q.markDone()
    })
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L))
  }

  test("queue consume immediate: producer error fails fast") {
    import org.apache.spark.sql.types._
    val dir = "/tmp/graft-test/queue_cif"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val q = Queue(spark, dir)
    val schema = StructType(Seq(StructField("id", LongType)))
    val e = intercept[RuntimeException] {
      q.consumeImmediate(schema, "/tmp/graft-test/queue_cif_wk", () => {
        q.publish(Seq("""{"id":1}"""), "b0")
        throw new IllegalStateException("producer exploded")
      })
    }
    assert(e.getMessage.contains("fail-fast"))
  }

  test("queue awaitAndRead times out when never closed") {
    val dir = "/tmp/graft-test/queue2"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val q = Queue(spark, dir)
    q.publish(Seq("""{"id":1}"""))
    intercept[java.util.concurrent.TimeoutException] { q.awaitAndRead(200) }
  }

  test("progress tracker folds task metrics into totals and window rates") {
    val p = graft.state.Progress.attach(spark, windowSeconds = 10)
    try {
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count()
      // listener bus is async — poll until the task-end events drain
      val deadline = System.currentTimeMillis() + 10000
      while (p.snapshot().rowsRead == 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val snap = p.snapshot()
      assert(snap.rowsRead > 0)
      assert(snap.readPerSec > 0.0)
    } finally p.detach(spark)
  }

  test("task yaml: delta target, upsert mode, limit") {
    val base = "/tmp/graft-test/task_delta"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val yaml =
      s"""source:
         |  stream: nation
         |  limit: 10
         |target:
         |  object: $base/t
         |  format: delta
         |  mode: full-refresh
         |""".stripMargin
    val n = graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
    assert(n == 10)
    // delta source readable back through a second task
    val yaml2 =
      s"""source:
         |  stream: $base/t
         |  format: delta
         |target:
         |  object: $base/t2
         |  mode: full-refresh
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml2, "/root/testdata/sf0.001") == 10)
  }

  test("task yaml: source encoding decodes latin1 csv") {
    val base = "/tmp/graft-test/task_enc"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/in.csv"), true)
    out.write("id,name\n1,José\n2,Zoë\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    out.close()
    val yaml =
      s"""source:
         |  stream: $base/in.csv
         |  format: csv
         |  encoding: ISO-8859-1
         |target:
         |  object: $base/out
         |  mode: full-refresh
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 2)
    val names = spark.read.parquet(s"$base/out").orderBy("id")
      .collect().map(_.getAs[String]("name")).toSeq
    assert(names == Seq("José", "Zoë"))
  }

  test("task yaml: csv source options skip/null_if/quote; target gzip") {
    val base = "/tmp/graft-test/task_opts"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/in.csv"), true)
    out.write(("garbage preamble line\nanother junk line\n" +
      "id;name;score\n\n1;'Smith; Jane';10\n2;\\N;20\n3;;30\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val yaml =
      s"""source:
         |  stream: $base/in.csv
         |  format: csv
         |  options:
         |    delimiter: ";"
         |    quote: "'"
         |    skip_lines: 2
         |    skip_blank_lines: true
         |    null_if: ["\\\\N"]
         |    empty_as_null: true
         |target:
         |  object: $base/out
         |  format: csv
         |  mode: full-refresh
         |  options:
         |    compression: gzip
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 3)
    // gzip part files were actually produced
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/out"))
      .map(_.getPath.getName).filter(_.endsWith(".csv.gz"))
    assert(parts.nonEmpty)
    val back = graft.sources.FileSources.csv(spark, s"$base/out").orderBy("id")
      .collect()
    assert(back.length == 3)
    assert(back(0).getAs[String]("name") == "Smith; Jane") // quoted delimiter
    assert(back(1).isNullAt(1)) // null_if \N
    assert(back(2).isNullAt(1)) // empty_as_null
  }

  test("task yaml: target options ignore_existing and column_casing") {
    val base = "/tmp/graft-test/task_opts2"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    def yaml(limit: Int) =
      s"""source:
         |  stream: nation
         |  limit: $limit
         |target:
         |  object: $base/t
         |  mode: full-refresh
         |  options:
         |    ignore_existing: true
         |    column_casing: upper
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml(10), "/root/testdata/sf0.001") == 10)
    val cols = spark.read.parquet(s"$base/t").columns.toSeq
    assert(cols.forall(c => c == c.toUpperCase))
    // second run must leave the existing non-empty target untouched
    assert(graft.repl.TaskConfig.run(spark, yaml(5), "/root/testdata/sf0.001") == 10)
  }

  test("task yaml: db target runs pre_sql/post_sql; batch_limit routes") {
    val yaml =
      s"""source:
         |  stream: nation
         |  limit: 8
         |connections:
         |  DB:
         |    type: derby
         |    instance: "memory:taskopts"
         |target:
         |  conn: DB
         |  object: NATION_T
         |  mode: full-refresh
         |  options:
         |    batch_limit: 4
         |    pre_sql: "CREATE TABLE PRE_MARK (id INT)"
         |    post_sql: "INSERT INTO PRE_MARK VALUES (1)"
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 8)
    val c = java.sql.DriverManager.getConnection(
      "jdbc:derby:memory:taskopts;create=true")
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM PRE_MARK")
      rs.next(); assert(rs.getInt(1) == 1) // pre created it, post inserted
    } finally c.close()
  }

  test("task yaml: a db backfill without a primary key replaces its range") {
    val yaml =
      s"""source:
         |  stream: nation
         |  range: "0,9"
         |connections:
         |  DB:
         |    type: derby
         |    instance: "memory:taskbackfill"
         |target:
         |  conn: DB
         |  object: NATION_BF
         |  mode: backfill
         |  update_key: n_nationkey
         |""".stripMargin
    val catalog = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    spark.range(25).selectExpr("id AS n_nationkey", "concat('n', id) AS n_name")
      .write.parquet(s"$catalog/nation.parquet")
    // the second run replaces the range its first run loaded
    for (_ <- 1 to 2)
      assert(graft.repl.TaskConfig.run(spark, yaml, catalog) == 10)
  }

  test("task yaml: table_ddl creates the custom table, table_tmp names the stage") {
    val yaml =
      s"""source:
         |  stream: nation
         |  limit: 6
         |connections:
         |  DB:
         |    type: derby
         |    instance: "memory:taskddl"
         |columns:
         |  n_nationkey: bigint
         |target:
         |  conn: DB
         |  object: NAT_DDL
         |  mode: full-refresh
         |  options:
         |    table_ddl: 'CREATE TABLE NAT_DDL ("n_nationkey" BIGINT, "n_name" VARCHAR(64), "n_regionkey" INT)'
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 6)
    // rerun: table exists, DDL skipped, contents refreshed not doubled
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 6)
    // upsert path honors table_tmp as the stage name (seed, then merge)
    def yaml2(mode: String) =
      s"""source:
         |  stream: nation
         |  limit: 6
         |connections:
         |  DB:
         |    type: derby
         |    instance: "memory:taskddl"
         |target:
         |  conn: DB
         |  object: NAT_UP
         |  mode: $mode
         |  primary_key: [n_nationkey]
         |  options:
         |    table_tmp: NAT_UP_TMP
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml2("full-refresh"),
      "/root/testdata/sf0.001") == 6)
    assert(graft.repl.TaskConfig.run(spark, yaml2("upsert"),
      "/root/testdata/sf0.001") == 6)
  }

  test("task yaml: schema-qualified table_ddl object skips DDL on rerun") {
    // the existence probe must split APP.NAT_DDLQ into (schemaPattern,
    // tablePattern) — passing the qualified spelling as the table pattern
    // never matches, the DDL re-executes, and the rerun fails
    val yaml =
      s"""source:
         |  stream: nation
         |  limit: 4
         |connections:
         |  DB:
         |    type: derby
         |    instance: "memory:taskddlq"
         |target:
         |  conn: DB
         |  object: APP.NAT_DDLQ
         |  mode: full-refresh
         |  options:
         |    table_ddl: 'CREATE TABLE APP.NAT_DDLQ ("n_nationkey" BIGINT, "n_name" VARCHAR(64), "n_regionkey" INT)'
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 4)
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 4)
  }

  test("task yaml: ignore_existing leaves a non-empty DB target untouched") {
    def yaml(limit: Int) =
      s"""source:
         |  stream: nation
         |  limit: $limit
         |connections:
         |  DB:
         |    type: derby
         |    instance: "memory:taskign"
         |target:
         |  conn: DB
         |  object: NAT_IGN
         |  mode: full-refresh
         |  options:
         |    ignore_existing: true
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml(7), "/root/testdata/sf0.001") == 7)
    // parity with the file path: second run must not replace the rows
    assert(graft.repl.TaskConfig.run(spark, yaml(3), "/root/testdata/sf0.001") == 7)
  }

  test("partURIsFromRange expands the mask at its lowest resolution") {
    import graft.write.PartitionedWriter.partURIsFromRange
    def d(s: String) = java.time.LocalDate.parse(s).atStartOfDay
    assert(partURIsFromRange("b/part_year={part_year}",
      d("2023-03-15"), d("2025-01-01")) ==
      Seq("b/part_year=2023", "b/part_year=2024", "b/part_year=2025"))
    assert(partURIsFromRange("b/part_year={part_year}/part_month={part_month}",
      d("2024-11-20"), d("2025-02-01")) ==
      Seq("b/part_year=2024/part_month=11", "b/part_year=2024/part_month=12",
        "b/part_year=2025/part_month=1", "b/part_year=2025/part_month=2"))
    // day level spans a month boundary correctly
    assert(partURIsFromRange("b/d={part_day}", d("2024-02-28"), d("2024-03-01"))
      .size == 3)
    intercept[IllegalArgumentException] {
      partURIsFromRange("b/no-mask", d("2024-01-01"), d("2024-01-02"))
    }
  }

  test("replication: {part_*} mask stream backfills from chunk URIs only") {
    val root = "/tmp/graft-test/repl_chunk"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val orders = graft.sources.Tables(spark, "/root/testdata/sf0.001", "orders")
    graft.write.PartitionedWriter.write(orders, s"$root/src", "o_orderdate",
      Seq("part_year", "part_month"))
    val mask = s"$root/src/part_year={part_year}/part_month={part_month}"
    val yaml =
      s"""streams:
         |  "$mask":
         |    mode: backfill
         |    update_key: o_orderdate
         |    select: [${orders.columns.mkString(", ")}]
         |    backfill:
         |      start: "1995-01-01"
         |      end: "1995-12-31"
         |""".stripMargin
    val compiled = graft.repl.Replication.parse(yaml, graft.sources.Tables.names)
    val out = graft.repl.Replication.run(spark, "/root/testdata/sf0.001",
      compiled, s"$root/tgt", threads = 2)
    val expected = orders
      .filter("o_orderdate >= date'1995-01-01' AND o_orderdate <= date'1995-12-31'")
      .count()
    assert(out.head._3 == expected, s"got ${out.head._3}, want $expected")
    // second run over a sub-range must be idempotent on the full target
    val compiled2 = graft.repl.Replication.parse(yaml.replace(
      """start: "1995-01-01"""", """start: "1995-06-01""""), graft.sources.Tables.names)
    val out2 = graft.repl.Replication.run(spark, "/root/testdata/sf0.001",
      compiled2, s"$root/tgt", threads = 2)
    assert(out2.head._3 == expected)
  }

  test("task yaml: max_decimals rounds numerics before the write") {
    val base = "/tmp/graft-test/task_maxdec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val yaml =
      s"""source:
         |  stream: supplier
         |  select: [s_suppkey, s_acctbal]
         |  limit: 20
         |target:
         |  object: $base/t
         |  mode: full-refresh
         |  options:
         |    max_decimals: 1
         |""".stripMargin
    graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
    val vals = spark.read.parquet(s"$base/t")
      .collect().map(_.getDouble(1))
    assert(vals.forall(v => math.abs(v * 10 - math.rint(v * 10)) < 1e-9))
  }

  test("task yaml: datetime_format forces day-first parsing") {
    val base = "/tmp/graft-test/task_dtfmt"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/in.csv"), true)
    // 03/04/2024 is ambiguous (Apr 3 day-first, Mar 4 month-first); the
    // declared layout must win
    out.write("id;when\n1;03/04/2024 15:30:00\n2;28/02/2024 08:00:00\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val yaml =
      s"""source:
         |  stream: $base/in.csv
         |  format: csv
         |  options:
         |    delimiter: ";"
         |    datetime_format: "DD/MM/YYYY HH24:MI:SS"
         |target:
         |  object: $base/out
         |  mode: full-refresh
         |""".stripMargin
    assert(graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001") == 2)
    val rows = spark.read.parquet(s"$base/out").orderBy("id").collect()
    assert(rows(0).schema("when").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val ts = rows(0).getTimestamp(1).toLocalDateTime
    assert(ts.getMonthValue == 4 && ts.getDayOfMonth == 3 && ts.getHour == 15)
  }

  test("task yaml: declared columns coerce types (incl. wildcard)") {
    val base = "/tmp/graft-test/task_cols"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val yaml =
      s"""source:
         |  stream: nation
         |columns:
         |  n_nationkey: decimal(10,2)
         |target:
         |  object: $base/t
         |  mode: full-refresh
         |""".stripMargin
    graft.repl.TaskConfig.run(spark, yaml, "/root/testdata/sf0.001")
    val sch = spark.read.parquet(s"$base/t").schema
    assert(sch("n_nationkey").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    val yaml2 =
      s"""source:
         |  stream: nation
         |columns:
         |  "*": string
         |target:
         |  object: $base/t2
         |  mode: full-refresh
         |""".stripMargin
    graft.repl.TaskConfig.run(spark, yaml2, "/root/testdata/sf0.001")
    assert(spark.read.parquet(s"$base/t2").schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.StringType))
  }

  test("stdin csv goes through the inference engine") {
    val bytes = "a,b,ts\n1,x,2024-01-01 00:00:00\n2,y,2024-06-30 12:00:00\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val df = FileSources.stdin(spark, new java.io.ByteArrayInputStream(bytes))
    assert(df.schema("a").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.schema("ts").dataType.typeName.startsWith("timestamp"))
    assert(df.count() == 2)
  }

  test("constraint `value` substitution leaves quoted literals alone") {
    import graft.repl.TaskConfig.substValueRef
    assert(substValueRef("value <> 'no value'", "`t`") == "`t` <> 'no value'")
    assert(substValueRef("value > 0 and value < 10", "`x`") ==
      "`x` > 0 and `x` < 10")
    // '' escape inside a literal stays intact
    assert(substValueRef("value <> 'it''s a value' or value is null", "`c`") ==
      "`c` <> 'it''s a value' or `c` is null")
    // word boundaries: `values` / `my_value` untouched
    assert(substValueRef("my_value + values(value)", "`v`") ==
      "my_value + values(`v`)")
  }
}
