package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point (launched by run.py, which builds the classpath):
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Untraced (`--trace 0`): set up [[SetupRepeats]] times (session start
  * plus input generation), run [[WarmupPasses]] warm-up passes, then
  * [[MinTimedPasses]] timed passes (more while `--seconds` have not gone
  * by), and report the end-to-end metrics. Traced (`--trace 1`): after the warm-up, alternate
  * untraced and traced passes for `--seconds`, then run the workload's
  * isolated layer probes, and report the per-layer metrics; spans go to
  * `trace.json` in the run's work directory.
  *
  * Prints a report line (provenance, every sample, failures), kept in the
  * run's work directory too, then the result line that run.py relays. An
  * error outside a counted operation (a failed set-up) exits non-zero
  * without a result.
  */
object Main {
  val SetupRepeats = 3

  /** Untimed passes before the timed ones. The first pass in a JVM takes
    * several times a steady one while classes load and the JIT compiles;
    * with C1 only (run.py), the pass time is about flat from the fourth
    * pass on. */
  val WarmupPasses = 3

  /** Timed passes at least, however short `--seconds` is. On a slow host
    * a pass takes 6-8 s with its checks, so there this count, not
    * `--seconds`, sets how long the timed part of a run lasts; it is kept
    * low so that a benchmark's worth of runs still fits its time budget. */
  val MinTimedPasses = 2

  /** End-to-end metrics, in BENCHMARK.json order, with units. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "rows_per_s" -> "rows/s", "merge_s" -> "s", "peak_rss_mb" -> "MB")

  /** Per-layer metrics, in BENCHMARK.json order. A layer a workload never
    * calls reads 0 there. */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.csv_open_s" -> "s", "sources.csv_parse_s" -> "s",
    "model.infer_s" -> "s", "model.cast_s" -> "s", "transform.apply_s" -> "s",
    "write.full_refresh_s" -> "s", "write.upsert_s" -> "s",
    "write.files_out" -> "count", "write.mb_out" -> "MB",
    "repl.parse_s" -> "s", "repl.stream_p50_s" -> "s", "repl.stream_p90_s" -> "s",
    "repl.overlap_ratio" -> "ratio", "queries.build_s" -> "s",
    "functions.langid_s" -> "s", "functions.ppl_s" -> "s",
    "functions.quality_s" -> "s", "functions.neardup_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_only_s" -> "s", "spark.core_busy_share" -> "share",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "bench.self_s" -> "s", "repl.self_s" -> "s", "queries.self_s" -> "s",
    "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def startSession(nproc: Int, work: Path): SparkSession = {
    val spark = GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Peak resident memory of this process, from the kernel's high-water
    * mark (Linux only: elsewhere the run fails rather than report a guess). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  /** The machine's cumulative CPU ticks from the `cpu` line of
    * `/proc/stat`: (all, idle + iowait, steal). */
  def cpuTicks: (Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong)
      (f.sum, f(3) + f(4), f(7))
    } finally src.close()
  }

  /** How busy the machine was, and the share of its CPU time the
    * hypervisor reported as stolen, between two [[cpuTicks]] readings.
    * Other tenants of a shared host can slow a run twofold with no steal
    * showing, so a low steal share does not prove a quiet host. */
  def hostLoad(before: (Long, Long, Long), after: (Long, Long, Long)): Map[String, Any] = {
    val all = math.max(1L, after._1 - before._1).toDouble
    ListMap("busy_share" -> (1 - (after._2 - before._2) / all),
      "steal_share" -> (after._3 - before._3) / all)
  }

  def provenance(a: Args, nproc: Int, spark: SparkSession,
      inputs: InputSizes): Map[String, Any] = ListMap(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
    "trace" -> a.trace,
    "host" -> java.net.InetAddress.getLocalHost.getHostName,
    "nproc" -> nproc,
    "driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "scala_version" -> scala.util.Properties.versionNumberString,
    "java_version" -> System.getProperty("java.version"),
    "inputs" -> inputs.toMap)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parseArgs(argv))
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def run(a: Args): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    val wl = Workload(a.workload)
    val runDir = Fs.fresh(a.work.resolve(
      s"${a.workload}-${a.seed}-trace${if (a.trace) 1 else 0}-${ProcessHandle.current.pid}"))
    val dataDir = runDir.resolve("data")

    var spark: SparkSession = null
    var inputs: InputSizes = null
    val setupS = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) stopSession(spark)
      spark = startSession(nproc, runDir)
      inputs = wl.generate(spark, dataDir, a.seed)
      (System.nanoTime() - t0) / 1e9
    }

    val ops = new Ops
    val tracer = new Tracer
    val ctx = Ctx(spark, dataDir, nproc, ops, tracer)
    // warm-up passes are checked and counted, not timed
    val w0 = System.nanoTime()
    (1 to WarmupPasses).foreach(_ => wl.pass(ctx))
    val warmupS = (System.nanoTime() - w0) / 1e9

    val p1, p2 = scala.collection.mutable.ArrayBuffer.empty[Double]
    def record(t: PassTimes): Unit = { t.phase1.foreach(p1 += _); t.phase2.foreach(p2 += _) }
    val ticks0 = cpuTicks
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9

    val layers = scala.collection.mutable.Map.empty[String, Double]
    if (!a.trace) {
      var n = 0
      while (n < MinTimedPasses || elapsed < a.seconds) { record(wl.pass(ctx)); n += 1 }
    } else {
      val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Double]
      val perPass = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      val counters = new SparkCounters
      var n = 0
      while (n < 1 || elapsed < a.seconds) {
        n += 1
        def plainPass(): Unit = {
          val u0 = System.nanoTime()
          record(wl.pass(ctx))
          plain += (System.nanoTime() - u0) / 1e9
        }
        // alternate which of the pair runs first
        if (n % 2 == 0) plainPass()
        val sc = spark.sparkContext
        sc.addSparkListener(counters)
        val before = counters.snapshot
        val startMs = System.currentTimeMillis()
        val v0 = System.nanoTime()
        tracer.pass = n
        tracer.enabled = true
        tracer.span("bench.pass")(record(wl.pass(ctx)))
        tracer.enabled = false
        traced += (System.nanoTime() - v0) / 1e9
        val endMs = System.currentTimeMillis()
        SparkCounters.drain(sc)
        sc.removeSparkListener(counters)
        perPass += counters.snapshot.since(before, startMs, endMs, nproc)
        if (n % 2 == 1) plainPass()
      }
      perPass.head.keys.foreach(k => layers(k) = Stats.median(perPass.map(_(k)).toSeq))
      layers("trace.overhead_s") = Stats.median(traced.toSeq) - Stats.median(plain.toSeq)
      val passSelf = tracer.selfTimes
      Seq("bench", "repl", "queries").foreach(l =>
        layers(s"$l.self_s") = passSelf.getOrElse(l, 0.0) / n)
      tracer.pass = 0
      tracer.enabled = true
      layers ++= wl.probes(ctx)
      tracer.enabled = false
      Files.write(runDir.resolve("trace.json"), json.writeValueAsBytes(ListMap(
        "workload" -> a.workload, "seed" -> a.seed, "spans" -> tracer.toJson,
        "self_s" -> tracer.selfTimes)))
    }
    val peakMb = peakRssMb
    val host = hostLoad(ticks0, cpuTicks)

    val complete = ops.failed == 0 && p1.nonEmpty && p2.nonEmpty
    val values: Map[String, Double] =
      if (a.trace) perLayer.map { case (k, _) => k -> layers.getOrElse(k, 0.0) }.toMap
      else Map(
        "setup_s" -> Stats.median(setupS),
        "rows_per_s" -> (if (p1.isEmpty) 0.0 else wl.phase1Rows / Stats.median(p1.toSeq)),
        "merge_s" -> (if (p2.isEmpty) 0.0 else Stats.median(p2.toSeq)),
        "peak_rss_mb" -> peakMb)
    val units = if (a.trace) perLayer else endToEnd
    val result = ListMap(
      "correct" -> complete,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> ListMap(units.map { case (k, u) =>
        k -> ListMap("value" -> values(k), "unit" -> u) }: _*))
    val report = ListMap(
      "provenance" -> provenance(a, nproc, spark, inputs),
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "host_while_timed" -> host,
      "phase1_s" -> Stats.summary(p1.toSeq),
      "phase2_s" -> Stats.summary(p2.toSeq),
      "phase1_samples" -> p1.toSeq,
      "phase2_samples" -> p2.toSeq,
      "failed_ops" -> ops.failedShare,
      "failures" -> ops.failures,
      "peak_rss_mb" -> peakMb,
      "result" -> result)
    println("perfbench report " + json.writeValueAsString(report))
    Files.write(runDir.resolve("report.json"), json.writeValueAsBytes(report))
    println("perfbench result " + json.writeValueAsString(result))
    stopSession(spark)
    Seq("data", "spark-local", "warehouse").foreach(d => Fs.deleteTree(runDir.resolve(d)))
    0
  }
}
