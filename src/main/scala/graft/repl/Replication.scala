package graft.repl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.yaml.snakeyaml.Yaml

import graft.sources.Tables
import graft.write.ParquetTarget

/** Replication engine: a YAML document describing many streams with
  * defaults inheritance and wildcard expansion, run with bounded
  * parallelism. Each stream compiles to a [[TaskConfig.Task]] and loads
  * through [[TaskConfig.load]], so it takes the task's modes and their
  * semantics; only the read (a catalog table, or a `{part_*}` mask's chunk
  * URIs) and the scheduling are replication's own.
  *
  * Reference semantics: UnmarshalReplication (replication.go:1656-1826),
  * wildcard expansion over the source catalog (:293-517), defaults merge
  * (SetStreamDefaults :1596-1654), stream → task compile
  * (StreamToTaskConfig :1117-1355), SLING_THREADS parallel scheduling
  * (:2101-2175). Our "catalog" is the testdata table set; on a real
  * deployment it is the JDBC catalog / file listing.
  *
  * YAML shape:
  * {{{
  * defaults:
  *   mode: full-refresh
  * streams:
  *   region:
  *   nation:
  *   "s*":                 # wildcard over the catalog
  *   orders:
  *     mode: incremental
  *     update_key: o_orderdate
  * }}}
  */
object Replication {

  final case class Stream(name: String, mode: String, updateKey: Option[String],
      pk: Seq[String], sourcePattern: String = "",
      select: Seq[String] = Nil, where: Option[String] = None,
      transforms: Map[String, String] = Map.empty,
      dependsOn: Seq[String] = Nil,
      loadedAt: Option[String] = None,
      columns: Seq[(String, String)] = Nil,
      backfill: Option[(String, String)] = None,
      tags: Seq[String] = Nil)

  final case class Compiled(streams: Seq[Stream])

  def parse(yamlText: String, catalog: Seq[String]): Compiled = {
    val root = new Yaml().load[java.util.Map[String, Object]](yamlText)
      .asScala.toMap
    val defaults = Option(root.getOrElse("defaults", null))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap)
      .getOrElse(Map.empty)
    val streams = root("streams").asInstanceOf[java.util.Map[String, Object]]
      .asScala.toSeq
    val compiled = streams.flatMap { case (pattern, cfgObj) =>
      val cfg = Option(cfgObj)
        .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap)
        .getOrElse(Map.empty)
      val merged = defaults ++ cfg // per-stream overrides defaults
      val names =
        if (pattern.contains("*")) {
          val rx = ("^" + java.util.regex.Pattern.quote(pattern)
            .replace("*", "\\E.*\\Q") + "$").r
          catalog.filter(n => rx.matches(n))
        } else Seq(pattern)
      names.map { n =>
        Stream(n,
          merged.getOrElse("mode", "full-refresh").toString,
          merged.get("update_key").map(_.toString),
          TaskConfig.strList(merged, "primary_key"),
          sourcePattern = pattern,
          select = TaskConfig.strList(merged, "select"),
          where = merged.get("where").map(_.toString),
          transforms = merged.get("transforms").map(
            _.asInstanceOf[java.util.Map[String, Object]].asScala
              .map { case (k, v) => k -> v.toString }.toMap)
            .getOrElse(Map.empty),
          dependsOn = TaskConfig.strList(merged, "depends_on"),
          loadedAt = merged.get("loaded_at").map(_.toString),
          // per-stream declared types (replication.go stream `columns`),
          // insertion-ordered, same coercion grammar as the task runner
          columns = merged.get("columns").map(
            _.asInstanceOf[java.util.Map[String, Object]].asScala.toSeq
              .map { case (k, v) => k -> v.toString })
            .getOrElse(Nil),
          // backfill range (source options `range` in the reference,
          // task_run_read.go:173-204): {start, end} on the update key
          backfill = merged.get("backfill").map { b =>
            val m = b.asInstanceOf[java.util.Map[String, Object]].asScala
            (m("start").toString, m("end").toString)
          },
          // stream tags (replication.go `tags:`) — the `--streams tag:x`
          // selection unit (suite.cli id=42)
          tags = TaskConfig.strList(merged, "tags"))
      }
    }
    // a name matched by both an explicit entry and a wildcard: explicit wins
    // (the explicit candidate is the one whose originating pattern IS the name)
    val byName = compiled.groupBy(_.name).map { case (_, ss) =>
      ss.find(s => s.sourcePattern == s.name).getOrElse(ss.head)
    }
    Compiled(byName.toSeq.sortBy(_.name))
  }

  /** `--streams` selection (suite.cli id=36/42, replication.go stream
    * filtering): each selector is a stream name, a `*` wildcard over
    * stream names, or `tag:<t>` matching streams whose `tags:` carry t.
    * Empty selector list = everything. Unknown selectors error loudly —
    * a typo silently selecting nothing would "succeed" with 0 rows. */
  def select(compiled: Compiled, selectors: Seq[String]): Compiled = {
    if (selectors.isEmpty) return compiled
    def matches(sel: String, s: Stream): Boolean = sel match {
      case t if t.startsWith("tag:") => s.tags.contains(t.stripPrefix("tag:"))
      case p if p.contains("*") =>
        ("^" + java.util.regex.Pattern.quote(p)
          .replace("*", "\\E.*\\Q") + "$").r.matches(s.name)
      case n => s.name == n
    }
    selectors.foreach { sel =>
      require(compiled.streams.exists(s => matches(sel, s)),
        s"--streams selector '$sel' matches no stream")
    }
    Compiled(compiled.streams.filter(s => selectors.exists(matches(_, s))))
  }

  // ---- runtime-state templating (task_state.go:27-140) -------------------

  /** Render `{stream_table}` / `{target_object}` / `{state.*}` variables in
    * a config string. State keys publish after each upstream stream
    * completes: `state.<stream>.rows` (rows loaded) and, when the stream has
    * an update key, `state.<stream>.max` (its post-load high watermark).
    */
  def render(tpl: String, streamName: String, targetObject: String,
      state: collection.Map[String, Any]): String =
    graft.util.Dag.renderState(tpl
      .replace("{stream_table}", streamName)
      .replace("{target_object}", targetObject), state)

  /** Kahn topological sort of streams into parallel levels
    * (replication.go:2101-2175 `depends_on` scheduling); cycles error.
    */
  def topoLevels(streams: Seq[Stream]): Seq[Seq[Stream]] =
    graft.util.Dag.topoLevels[Stream](streams, _.name, _.dependsOn, "depends_on")

  /** The stream as a task (StreamToTaskConfig): the table source with its
    * select/where/transforms rendered against `state` and its columns,
    * `backfill: {start, end}` as the source range "start,end", and the
    * target object under `targetRoot` (a `{part_*}` mask name sanitized to
    * one directory) with the stream's mode and keys. */
  private def toTask(st: Stream, targetRoot: String,
      state: collection.Map[String, Any]): TaskConfig.Task = {
    val dir = if (isFileMask(st)) st.name.replaceAll("[^A-Za-z0-9._-]+", "_") else st.name
    val obj = s"$targetRoot/$dir"
    val r = (tpl: String) => render(tpl, st.name, obj, state)
    TaskConfig.Task(
      TaskConfig.Source(st.name, select = st.select.map(r), where = st.where.map(r),
        range = st.backfill.map { case (s0, e0) => s"$s0,$e0" }),
      st.transforms.map { case (k, v) => k -> r(v) },
      TaskConfig.Target(obj, mode = st.mode, primaryKey = st.pk,
        updateKey = st.updateKey, loadedAt = st.loadedAt),
      columns = st.columns)
  }

  private def isFileMask(st: Stream): Boolean = st.name.contains("{part_")

  /** A `{part_*}` mask stream is a chunked FILE source: its backfill range
    * expands to explicit chunk URIs (partition.go:600-648) and ONLY those
    * directories are read — no full-tree listing. */
  private def readChunks(spark: SparkSession, st: Stream): DataFrame = {
    val (s0, e0) = st.backfill.getOrElse(throw new IllegalArgumentException(
      s"file-mask stream ${st.name} needs backfill: {start, end}"))
    def dt(x: String) =
      if (x.length <= 10) java.time.LocalDate.parse(x).atStartOfDay
      else java.time.LocalDateTime.parse(x.replace(' ', 'T'))
    val uris = graft.write.PartitionedWriter.partURIsFromRange(st.name, dt(s0), dt(e0))
    val fs = new org.apache.hadoop.fs.Path(st.name.takeWhile(_ != '{'))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = uris.filter(u => fs.exists(new org.apache.hadoop.fs.Path(u)))
    require(existing.nonEmpty, s"no chunk URIs exist for ${st.name} in [$s0, $e0]")
    spark.read.parquet(existing: _*)
  }

  /** Run every stream (source table → its task → parquet target under
    * `targetRoot`) with at most `threads` concurrent streams. `depends_on`
    * streams wait for their upstreams (topo levels: levels sequential,
    * streams within a level concurrent), and their select/where/transforms
    * render runtime state published by completed upstreams. A failed
    * stream's error reaches the caller once the streams beside it have
    * finished; the pool is shut down before the call returns either way.
    * Returns (stream, mode, rows_loaded) sorted by stream.
    */
  def run(spark: SparkSession, sfDir: String, compiled: Compiled,
      targetRoot: String, threads: Int = 4): Seq[(String, String, Long)] = {
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.concurrent._
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) =>
      new Thread(r, "graft-replication-stream"))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val state = scala.collection.concurrent.TrieMap[String, Any]()
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    try topoLevels(compiled.streams).foreach { level =>
      val futures = level.map { st =>
        val task = toTask(st, targetRoot, state)
        Future {
          val raw = if (isFileMask(st)) readChunks(spark, st) else Tables(spark, sfDir, st.name)
          (st, task, TaskConfig.load(spark, task, raw))
        }
      }
      // state publication stays on the driver thread, after the level barrier
      futures.map(Await.result(_, Duration.Inf)).foreach {
        case (st, task, rows) =>
          state(s"${st.name}.rows") = rows
          st.updateKey.foreach { k =>
            val mx = ParquetTarget(spark, task.target.obj).read
              .agg(max(col(k))).head.get(0)
            if (mx != null) state(s"${st.name}.max") = mx
          }
          out += ((st.name, st.mode, rows))
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
    out.toSeq.sortBy(_._1)
  }
}
