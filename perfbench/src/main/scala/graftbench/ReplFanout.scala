package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.repl.Replication
import graft.write.{Modes, ParquetTarget}

/** A replication of many small typed parquet tables: a `defaults:` block,
  * a `"t*"` wildcard over the catalog, and every third stream overridden
  * to `incremental` with a primary key. The pass runs `Replication.run`
  * with `nproc` threads over the catalog, then over a delta catalog with
  * the same names.
  *
  * Traffic it fixes: the stream count and a log-uniform size skew. Each
  * stream's size and mode are the same for every seed, so every seed does
  * the same work; the seed changes the values. Sources are typed, so
  * nothing is inferred: the per-stream fixed cost and the scheduler
  * dominate.
  */
final class ReplFanout extends Workload {
  val name = "repl_fanout"

  private val Streams = 12
  private val MinRows = 500
  private val MaxRows = 8000
  private def incremental(i: Int) = i % 3 == 0

  // log-uniform sizes in a fixed shuffled order, so big and small streams
  // interleave in the scheduler's queue
  private val sizes: Seq[Long] = new scala.util.Random(0).shuffle((0 until Streams).map(i =>
    math.round(MinRows * math.pow(MaxRows.toDouble / MinRows, i / (Streams - 1.0)))))
  private val names: Seq[String] = (0 until Streams).map(i => f"t$i%02d")

  def phase1Rows: Long = sizes.sum

  private var dir: Path = _
  private var rowsOf: Map[String, Long] = Map.empty
  private var deltaRowsOf: Map[String, Long] = Map.empty
  private var newRowsOf: Map[String, Long] = Map.empty
  private var lastParallelS: Double = 0.0

  private def catalog = dir.resolve("catalog")
  private def deltaCatalog = dir.resolve("delta")
  private def targetRoot = dir.resolve("out")

  val yaml: String =
    "defaults:\n  mode: full-refresh\nstreams:\n  \"t*\":\n" +
      names.zipWithIndex.filter { case (_, i) => incremental(i) }.map { case (n, _) =>
        s"  $n:\n    mode: incremental\n    primary_key: [id]\n"
      }.mkString

  /** `total` rows laid out stream after stream, `sizes(i)` rows for
    * stream i, each numbered from `firstId(i)`, with typed columns derived
    * from that id, the seed and the stream. One range keeps the plan small
    * however many streams there are. */
  private def typedRows(spark: SparkSession, sizes: Seq[Long], firstId: Seq[Long],
      seed: Long, version: Int): DataFrame = {
    val starts = sizes.scanLeft(0L)(_ + _)
    val idx = sizes.indices.init.foldRight(lit(sizes.size - 1)) { (i, rest) =>
      when(col("id") < starts(i + 1), lit(i)).otherwise(rest)
    }
    def at(xs: Seq[Long]) = element_at(array(xs.map(lit): _*), col("tbl_idx") + 1)
    def h(salt: Int): Column = pmod(xxhash64(col("rid"), lit(seed), col("tbl_idx"),
      lit(salt)), lit(1000000007L))
    spark.range(0, starts.last, 1, 1)
      .withColumn("tbl_idx", idx)
      .withColumn("rid", col("id") - at(starts.init) + at(firstId))
      .select(
        col("rid").as("id"),
        (h(1) % 1000).cast("int").as("k"),
        (h(2) / 100).cast("decimal(12,2)").as("amount"),
        concat(lit("label-"), (h(3) % 500).cast("string")).as("label"),
        (h(4) % 2 === 0).as("flag"),
        date_add(lit("2021-01-01").cast("date"), (h(5) % 1500).cast("int")).as("day"),
        timestamp_seconds(lit(1609459200L) + h(6) % 126144000L).as("ts"),
        lit(version).as("version"),
        col("tbl_idx"),
        element_at(array(names.map(lit): _*), col("tbl_idx") + 1).as("tbl"))
  }

  /** Write one frame partitioned by stream and move each `tbl=` directory
    * to `<name>.parquet`, the layout the replication reads. The frames are
    * single-partition ranges, so each stream gets one file. */
  private def writeCatalog(df: DataFrame, to: Path): Unit = {
    val staging = dir.resolve("staging")
    df.drop("tbl_idx").write.partitionBy("tbl").parquet(staging.toString)
    Files.createDirectories(to)
    names.foreach(n => Files.move(staging.resolve(s"tbl=$n"), to.resolve(s"$n.parquet")))
    Fs.deleteTree(staging)
  }

  def generate(spark: SparkSession, d: Path, seed: Long): InputSizes = {
    dir = d
    Fs.fresh(dir)
    val rnd = new scala.util.Random(seed)
    writeCatalog(typedRows(spark, sizes, sizes.map(_ => 0L), seed, 1), catalog)
    rowsOf = names.zip(sizes).toMap
    // the delta: every tenth id of each stream from a seeded offset, at
    // version 2, then 2% new ids
    val offsets = sizes.map(_ => rnd.nextInt(10).toLong)
    val added = sizes.map(_ * 2 / 100)
    newRowsOf = names.zip(added).toMap
    val updated = typedRows(spark, sizes, sizes.map(_ => 0L), seed + 1, 2)
      .filter(pmod(col("id") + element_at(array(offsets.map(lit): _*),
        col("tbl_idx") + 1), lit(10)) === 0)
    writeCatalog(updated.union(typedRows(spark, added, sizes, seed + 2, 2)), deltaCatalog)
    deltaRowsOf = names.indices.map { i =>
      // ids k in [0, size) with (k + offset) % 10 == 0, plus the new ids
      val first = (10 - offsets(i)) % 10
      names(i) -> ((if (first < sizes(i)) (sizes(i) - first + 9) / 10 else 0L) + added(i))
    }.toMap
    val (files, bytes) = Fs.dataFiles(dir)
    InputSizes(rowsOf.values.sum + deltaRowsOf.values.sum, files, bytes)
  }

  private def checkStreams(got: Seq[(String, String, Long)],
      expected: Map[String, Long]): Seq[String] = {
    val byName = got.map { case (n, _, rows) => n -> rows }.toMap
    if (byName.keySet != names.toSet) Seq(s"streams ${byName.keySet.toSeq.sorted}")
    else names.filter(n => byName(n) != expected(n))
      .map(n => s"$n landed ${byName(n)} rows, expected ${expected(n)}")
  }

  /** Rows each stream's target holds after the delta pass: full-refresh
    * streams hold the delta table, incremental ones the merged set. */
  private def afterDelta: Map[String, Long] = names.zipWithIndex.map { case (n, i) =>
    n -> (if (incremental(i)) rowsOf(n) + newRowsOf(n) else deltaRowsOf(n))
  }.toMap

  def pass(ctx: Ctx): PassTimes = {
    val spark = ctx.spark
    Fs.deleteTree(targetRoot)
    val initial = ctx.ops.run("repl_fanout initial")(ctx.tracer.span("repl.run_initial") {
      Replication.run(spark, catalog.toString, Replication.parse(yaml, names),
        targetRoot.toString, threads = ctx.nproc)
    })(checkStreams(_, rowsOf))
    initial.foreach { case (_, s) => lastParallelS = s }
    val delta = initial.flatMap(_ => ctx.ops.run("repl_fanout delta")(
      ctx.tracer.span("repl.run_delta") {
        Replication.run(spark, deltaCatalog.toString, Replication.parse(yaml, names),
          targetRoot.toString, threads = ctx.nproc)
      })(checkStreams(_, afterDelta)))
    PassTimes(initial.map(_._2), delta.map(_._2))
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (files, bytes) = Fs.dataFiles(targetRoot)
    val probeRoot = dir.resolve("probe")
    val out = ctx.ops.run("repl_fanout probes")({
      ReplProbe.singles(ctx, catalog, yaml, names, probeRoot)
      // the write layer alone: cached, already-typed inputs
      names.zipWithIndex.map { case (n, i) =>
        val src = spark.read.parquet(catalog.resolve(s"$n.parquet").toString).cache()
        src.count()
        val tgt = ParquetTarget(spark, probeRoot.resolve(n).toString)
        t.span("write.full_refresh")(Modes.fullRefresh(tgt, src))
        src.unpersist(blocking = true)
        if (incremental(i)) {
          val d = spark.read.parquet(deltaCatalog.resolve(s"$n.parquet").toString).cache()
          d.count()
          t.span("write.upsert")(Modes.upsert(tgt, d, Seq("id")))
          d.unpersist(blocking = true)
        }
        n -> tgt.read.count()
      }.toMap
    })(landed => checkStreams(landed.toSeq.map { case (n, r) => (n, "", r) },
      names.zipWithIndex.map { case (n, i) =>
        n -> (if (incremental(i)) rowsOf(n) + newRowsOf(n) else rowsOf(n))
      }.toMap))
    Fs.deleteTree(probeRoot)
    if (out.isEmpty) Map.empty
    else ReplProbe.metrics(t, lastParallelS) ++ Map(
      "write.full_refresh_s" -> t.total("write.full_refresh"),
      "write.upsert_s" -> t.total("write.upsert"),
      "write.files_out" -> files.toDouble,
      "write.mb_out" -> bytes / (1024.0 * 1024.0))
  }
}

/** The `repl` layer's isolated probe, shared by the workloads that
  * measure it: `Replication.parse` once, then each stream alone on one
  * thread from an empty target root. */
object ReplProbe {
  def singles(ctx: Ctx, catalog: Path, yaml: String, names: Seq[String],
      root: Path): Unit = {
    val compiled = ctx.tracer.span("repl.parse")(Replication.parse(yaml, names))
    names.foreach { n =>
      Fs.deleteTree(root)
      ctx.tracer.span("repl.stream")(Replication.run(ctx.spark, catalog.toString,
        Replication.select(compiled, Seq(n)), root.toString, threads = 1))
    }
    Fs.deleteTree(root)
  }

  /** The probe's metrics; `parallelS` is the wall time of the same streams
    * run together on `nproc` threads. */
  def metrics(t: Tracer, parallelS: Double): Map[String, Double] = {
    val single = t.durations("repl.stream")
    Map(
      "repl.parse_s" -> t.total("repl.parse"),
      "repl.stream_p50_s" -> Stats.quantile(single, 0.5),
      "repl.stream_p90_s" -> Stats.quantile(single, 0.9),
      "repl.overlap_ratio" -> single.sum / parallelS)
  }
}
