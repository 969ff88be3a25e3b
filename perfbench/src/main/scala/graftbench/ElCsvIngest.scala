package graftbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TypeInference
import graft.repl.{Replication, TaskConfig}
import graft.sources.FileSources
import graft.write.{Modes, ParquetTarget}

/** sling's headline path: a headered multi-file CSV into a parquet target
  * with type inference, a `select`, an expression transform, then a
  * primary-key upsert of a delta CSV. Both passes go through
  * `TaskConfig.run`, the single-task entry point.
  *
  * Traffic it fixes: two timestamp layouts per row (the DB-export
  * `yyyy-MM-dd HH:mm:ss.SSS` and ISO-8601 UTC `...T...Z`, which the cast
  * cascade reaches late), a decimal, a date, a bool, and a string field
  * that always carries a quoted comma and sometimes a doubled quote but
  * never a newline, so the quote-parity sniff keeps the parser splittable.
  */
final class ElCsvIngest extends Workload {
  val name = "el_csv_ingest"

  // rows in the base CSV, spread over `NFiles` files; the delta updates
  // 10% of the ids and adds 2% new ones
  private val Rows = 30000
  private val NFiles = 4
  private val UpdatedShare = 0.10
  private val NewShare = 0.02

  def phase1Rows: Long = Rows

  private var dir: Path = _
  private var nUpdated, nNew = 0
  // exact sums of the two timestamp columns (epoch millis / seconds) over
  // the rows the target must hold after each phase
  private var sumCreatedFull, sumUpdatedFull, sumCreatedMerged, sumUpdatedMerged = 0L

  private def baseDir = dir.resolve("in/base")
  private def deltaDir = dir.resolve("in/delta")
  private def outDir = dir.resolve("out")
  private def target = outDir.resolve("orders")

  /** The schema the target must have: the CSV's inferred types after the
    * `select` drops `comment`. A cast that leaves either timestamp a
    * string fails the check. */
  val expectedSchema: Seq[(String, DataType)] = Seq(
    "id" -> LongType, "qty" -> IntegerType, "price" -> DecimalType(10, 2),
    "note" -> StringType, "active" -> BooleanType, "ship_date" -> DateType,
    "created_at" -> TimestampType, "updated_at" -> TimestampType,
    "version" -> IntegerType)

  private val header =
    "id,qty,price,note,active,ship_date,created_at,updated_at,version,comment"
  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
  private val exportFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)
  private val isoFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val epoch0 = LocalDate.of(2021, 1, 1).atStartOfDay(ZoneOffset.UTC)
    .toInstant.toEpochMilli
  private val idBase = 10000000000L // beyond Int, so `id` infers bigint

  private final case class Row(created: Long, updated: Long)

  private def writeRow(w: BufferedWriter, rnd: java.util.Random, id: Long,
      version: Int): Row = {
    val created = epoch0 + (rnd.nextDouble() * 4 * 365 * 86400000L).toLong
    val updated = created / 1000 + rnd.nextInt(30 * 86400)
    val cents = 100000 + rnd.nextInt(900000)
    val w1 = words(rnd.nextInt(words.size))
    val w2 = words(rnd.nextInt(words.size))
    val note =
      if (rnd.nextInt(10) == 0) s"""\"$w1, ""$w2"" ${rnd.nextInt(1000)}\""""
      else s"""\"$w1, $w2 ${rnd.nextInt(1000)}\""""
    w.write(s"$id,${rnd.nextInt(1000)},${cents / 100}.${"%02d".format(cents % 100)}," +
      s"$note,${rnd.nextBoolean()}," +
      s"${LocalDate.ofEpochDay(18628 + rnd.nextInt(1500))}," +
      s"${exportFmt.format(Instant.ofEpochMilli(created))}," +
      s"${isoFmt.format(Instant.ofEpochSecond(updated))},$version,c${rnd.nextInt(100)}\n")
    Row(created, updated)
  }

  private def writer(p: Path): BufferedWriter = {
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    w.write(header + "\n")
    w
  }

  def generate(spark: SparkSession, d: Path, seed: Long): InputSizes = {
    dir = d
    Fs.fresh(dir)
    Files.createDirectories(baseDir)
    Files.createDirectories(deltaDir)
    val rnd = new java.util.Random(seed)
    val rows = new Array[Row](Rows)
    val perFile = (Rows + NFiles - 1) / NFiles
    (0 until NFiles).foreach { f =>
      val w = writer(baseDir.resolve(f"part-$f%05d.csv"))
      try (f * perFile until math.min(Rows, (f + 1) * perFile)).foreach { i =>
        rows(i) = writeRow(w, rnd, idBase + i, 1)
      } finally w.close()
    }
    sumCreatedFull = rows.map(_.created).sum
    sumUpdatedFull = rows.map(_.updated).sum
    // the delta: a seeded sample of existing ids at version 2, then new ids
    val updatedIdx = rnd.ints(0, Rows).distinct().limit((Rows * UpdatedShare).toLong)
      .toArray.sorted
    nUpdated = updatedIdx.length
    nNew = (Rows * NewShare).toInt
    val merged = rows.clone()
    val w = writer(deltaDir.resolve("part-00000.csv"))
    try {
      updatedIdx.foreach(i => merged(i) = writeRow(w, rnd, idBase + i, 2))
      val added = (0 until nNew).map(j => writeRow(w, rnd, idBase + Rows + j, 2))
      sumCreatedMerged = merged.map(_.created).sum + added.map(_.created).sum
      sumUpdatedMerged = merged.map(_.updated).sum + added.map(_.updated).sum
    } finally w.close()
    val (files, bytes) = Fs.dataFiles(dir.resolve("in"))
    InputSizes(Rows.toLong + nUpdated + nNew, files, bytes)
  }

  private def yaml(source: Path, mode: String): String =
    s"""source:
       |  stream: "$source"
       |  format: csv
       |  select: ["-comment"]
       |transforms:
       |  note: "upper(note)"
       |target:
       |  object: "$target"
       |  format: parquet
       |  mode: $mode
       |""".stripMargin + (if (mode == "incremental") "  primary_key: [id]\n" else "")

  /** Problems with the target after a phase: its row count, exact schema,
    * null timestamps, version-2 rows and the exact timestamp sums. */
  private def checkTarget(spark: SparkSession, landed: Long, rows: Long,
      v2: Long, sumCreated: Long, sumUpdated: Long): Seq[String] = {
    val df = spark.read.parquet(target.toString)
    val schema = df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    val r = df.agg(count(lit(1)),
      sum(when(col("created_at").isNull || col("updated_at").isNull, 1).otherwise(0)),
      sum(when(col("version") === 2, 1).otherwise(0)),
      sum(unix_millis(col("created_at"))), sum(unix_seconds(col("updated_at"))),
      sum(when(col("note") =!= upper(col("note")), 1).otherwise(0))).head()
    def got(i: Int) = if (r.isNullAt(i)) -1L else r.getLong(i)
    Seq(
      Option.when(landed != rows)(s"task reported $landed rows, expected $rows"),
      Option.when(schema != expectedSchema)(s"target schema $schema"),
      Option.when(got(0) != rows)(s"target holds ${got(0)} rows, expected $rows"),
      Option.when(got(1) != 0)(s"${got(1)} rows with a null timestamp"),
      Option.when(got(2) != v2)(s"${got(2)} rows at version 2, expected $v2"),
      Option.when(got(3) != sumCreated)("created_at values differ from the CSV"),
      Option.when(got(4) != sumUpdated)("updated_at values differ from the CSV"),
      Option.when(got(5) != 0)(s"${got(5)} notes missed the transform"),
    ).flatten
  }

  def pass(ctx: Ctx): PassTimes = {
    val spark = ctx.spark
    Fs.deleteTree(outDir)
    val full = ctx.ops.run("el_csv_ingest full-refresh")(
      ctx.tracer.span("repl.task_run_full") {
        TaskConfig.run(spark, yaml(baseDir, "full-refresh"), "")
      })(n => checkTarget(spark, n, Rows, 0, sumCreatedFull, sumUpdatedFull))
    val merge = full.flatMap(_ => ctx.ops.run("el_csv_ingest incremental")(
      ctx.tracer.span("repl.task_run_incremental") {
        TaskConfig.run(spark, yaml(deltaDir, "incremental"), "")
      })(n => checkTarget(spark, n, Rows.toLong + nNew, nUpdated.toLong + nNew,
        sumCreatedMerged, sumUpdatedMerged)))
    PassTimes(full.map(_._2), merge.map(_._2))
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (files, bytes) = Fs.dataFiles(target)
    val task = TaskConfig.parse(yaml(baseDir, "full-refresh"))
    // the raw all-string read FileSources.csv builds for this input: the
    // sniff finds no quoted newline, so the parser stays line-splittable
    def rawCsv(p: Path) = spark.read.option("header", "true").option("sep", ",")
      .option("inferSchema", "false").option("escape", "\"")
      .option("multiLine", "false").csv(p.toString)
    val probeTarget = ParquetTarget(spark, dir.resolve("probe/orders").toString)
    // three rounds; each metric is the median round, since one call is
    // short enough for noise to swamp the differences taken below
    val out = ctx.ops.run("el_csv_ingest probes")((1 to 3).map { _ =>
      t.span("sources.csv_open")(FileSources.csv(spark, baseDir.toString))
      t.span("sources.csv_parse")(Fs.noop(rawCsv(baseDir)))
      val raw = rawCsv(baseDir)
      val sample = t.span("sources.sample")(
        raw.limit(TypeInference.SampleSize).collect().toSeq)
      val schema = t.span("model.infer")(TypeInference.infer(sample, raw.columns.toSeq))
      Fs.deleteTree(dir.resolve("probe"))
      val cast = TypeInference.castTo(raw, schema)
      t.span("model.cast_to_noop")(Fs.noop(cast))
      val piped = TaskConfig.applyPipeline(cast, task)
      t.span("transform.apply_to_noop")(Fs.noop(piped))
      val cached = piped.cache()
      cached.count()
      t.span("write.full_refresh")(Modes.fullRefresh(probeTarget, cached))
      cached.unpersist(blocking = true)
      val deltaRaw = rawCsv(deltaDir)
      val delta = TaskConfig.applyPipeline(
        TypeInference.castTo(deltaRaw, TypeInference.infer(
          deltaRaw.limit(TypeInference.SampleSize).collect().toSeq,
          deltaRaw.columns.toSeq)), task).cache()
      delta.count()
      t.span("write.upsert")(Modes.upsert(probeTarget, delta, Seq("id")))
      delta.unpersist(blocking = true)
      probeTarget.read.count()
    })(ns => ns.filter(_ != Rows.toLong + nNew).map(n =>
      s"probe upsert left $n rows, expected ${Rows.toLong + nNew}"))
    Fs.deleteTree(dir.resolve("probe"))

    // the repl layer on this input: each CSV part as a typed parquet
    // stream, one of them incremental, parsed and run one at a time, then
    // all together on nproc threads
    val parts = (0 until NFiles).map(f => f"p$f%02d")
    val perFile = (Rows + NFiles - 1) / NFiles
    val partRows = parts.indices.map(f => math.min(Rows, (f + 1) * perFile) - f * perFile)
    val catalog = dir.resolve("probe/catalog")
    val replRoot = dir.resolve("probe/repl")
    val replYaml = "defaults:\n  mode: full-refresh\nstreams:\n  \"p*\":\n" +
      "  p00:\n    mode: incremental\n    primary_key: [id]\n"
    val repl = ctx.ops.run("el_csv_ingest repl probe")({
      parts.indices.foreach { f =>
        FileSources.csv(spark, baseDir.resolve(f"part-$f%05d.csv").toString)
          .write.parquet(catalog.resolve(s"${parts(f)}.parquet").toString)
      }
      ReplProbe.singles(ctx, catalog, replYaml, parts, replRoot)
      t.span("repl.run_parallel")(Replication.run(spark, catalog.toString,
        Replication.parse(replYaml, parts), replRoot.toString, threads = ctx.nproc))
    }) { landed =>
      val got = landed.map { case (n, _, r) => n -> r }.toMap
      parts.zip(partRows).collect { case (n, r) if !got.get(n).contains(r.toLong) =>
        s"repl probe stream $n landed ${got.get(n)} rows, expected $r"
      }
    }
    Fs.deleteTree(dir.resolve("probe"))

    val replMetrics =
      if (repl.isEmpty) Map.empty[String, Double]
      else ReplProbe.metrics(t, t.total("repl.run_parallel"))
    if (out.isEmpty) replMetrics
    else replMetrics ++ {
      val parse = t.median("sources.csv_parse")
      val castAll = t.median("model.cast_to_noop")
      Map(
        "sources.csv_open_s" -> t.median("sources.csv_open"),
        "sources.csv_parse_s" -> parse,
        "model.infer_s" -> t.median("model.infer"),
        "model.cast_s" -> (castAll - parse),
        "transform.apply_s" -> (t.median("transform.apply_to_noop") - castAll),
        "write.full_refresh_s" -> t.median("write.full_refresh"),
        "write.upsert_s" -> t.median("write.upsert"),
        "write.files_out" -> files.toDouble,
        "write.mb_out" -> bytes / (1024.0 * 1024.0))
    }
  }
}
