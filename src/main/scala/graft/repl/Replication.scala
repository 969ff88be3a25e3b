package graft.repl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.yaml.snakeyaml.Yaml

import graft.sources.Tables
import graft.write.{Modes, ParquetTarget}

/** Replication engine: a YAML document describing many streams with
  * defaults inheritance and wildcard expansion, compiled to per-stream
  * tasks and run with bounded parallelism.
  *
  * Reference semantics: UnmarshalReplication (replication.go:1656-1826),
  * wildcard expansion over the source catalog (:293-517), defaults merge
  * (SetStreamDefaults :1596-1654), SLING_THREADS parallel scheduling
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
          merged.get("primary_key").map {
            case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
            case s => Seq(s.toString)
          }.getOrElse(Seq.empty),
          sourcePattern = pattern,
          select = merged.get("select").map {
            case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
            case s => Seq(s.toString)
          }.getOrElse(Nil),
          where = merged.get("where").map(_.toString),
          transforms = merged.get("transforms").map(
            _.asInstanceOf[java.util.Map[String, Object]].asScala
              .map { case (k, v) => k -> v.toString }.toMap)
            .getOrElse(Map.empty),
          dependsOn = merged.get("depends_on").map {
            case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
            case s => Seq(s.toString)
          }.getOrElse(Nil),
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
          tags = merged.get("tags").map {
            case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
            case s => Seq(s.toString)
          }.getOrElse(Nil))
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

  /** Run every stream (source table → mode → parquet target under
    * `targetRoot`) with at most `threads` concurrent streams. `depends_on`
    * streams wait for their upstreams (topo levels: levels sequential,
    * streams within a level concurrent), and their select/where/transforms
    * render runtime state published by completed upstreams.
    * Returns (stream, mode, rows_loaded) sorted by stream.
    */
  def run(spark: SparkSession, sfDir: String, compiled: Compiled,
      targetRoot: String, threads: Int = 4): Seq[(String, String, Long)] = {
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.concurrent._
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val state = scala.collection.concurrent.TrieMap[String, Any]()
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    topoLevels(compiled.streams).foreach { level =>
      val futures = level.map { st =>
        Future {
          // per-stream select/where/transforms run through the same pipeline
          // stage the single-task interpreter uses, after state templating.
          // A {part_*} mask stream is a chunked FILE source: the backfill
          // range expands to explicit chunk URIs (partition.go:600-648) and
          // ONLY those directories are read — no full-tree listing.
          val isFileMask = st.name.contains("{part_")
          val safeName =
            if (isFileMask) st.name.replaceAll("[^A-Za-z0-9._-]+", "_")
            else st.name
          val tgtObj = s"$targetRoot/$safeName"
          val r = (tpl: String) => render(tpl, st.name, tgtObj, state)
          val raw =
            if (isFileMask) {
              val (s0, e0) = st.backfill.getOrElse(
                throw new IllegalArgumentException(
                  s"file-mask stream ${st.name} needs backfill: {start, end}"))
              def dt(x: String) =
                if (x.length <= 10) java.time.LocalDate.parse(x).atStartOfDay
                else java.time.LocalDateTime.parse(x.replace(' ', 'T'))
              val uris = graft.write.PartitionedWriter
                .partURIsFromRange(st.name, dt(s0), dt(e0))
              val fs = new org.apache.hadoop.fs.Path(st.name.takeWhile(_ != '{'))
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
              val existing = uris.filter(u =>
                fs.exists(new org.apache.hadoop.fs.Path(u)))
              require(existing.nonEmpty,
                s"no chunk URIs exist for ${st.name} in [$s0, $e0]")
              spark.read.parquet(existing: _*)
            } else Tables(spark, sfDir, st.name)
          val src = TaskConfig.applyPipeline(raw, TaskConfig.Task(
            TaskConfig.Source(st.name, select = st.select.map(r),
              where = st.where.map(r)),
            st.transforms.map { case (k, v) => k -> r(v) },
            TaskConfig.Target(tgtObj, mode = st.mode),
            columns = st.columns))
          val tgt = ParquetTarget(spark, tgtObj)
          st.mode match {
            case "full-refresh" | "truncate" => Modes.fullRefresh(tgt, src)
            case "incremental" if st.pk.nonEmpty => Modes.upsert(tgt, src, st.pk)
            case "incremental" => Modes.incrementalAppend(tgt, src, st.updateKey.get)
            // the real run timestamp, unless loaded_at: pins it for
            // deterministic replay — a constant here would make every
            // snapshot run indistinguishable by load time
            case "snapshot" => Modes.snapshot(tgt, src,
              st.loadedAt.map(java.sql.Timestamp.valueOf).getOrElse(
                new java.sql.Timestamp(System.currentTimeMillis())))
            case "backfill" =>
              val k = st.updateKey.getOrElse(throw new IllegalArgumentException(
                "backfill needs update_key"))
              val (s0, e0) = st.backfill.getOrElse(
                throw new IllegalArgumentException(
                  "backfill needs backfill: {start, end}"))
              val kt = src.schema(k).dataType
              Modes.backfill(tgt, src, k,
                org.apache.spark.sql.functions.lit(s0).cast(kt),
                org.apache.spark.sql.functions.lit(e0).cast(kt))
            case other => throw new IllegalArgumentException(s"mode $other")
          }
          (st, tgt.rowCount)
        }
      }
      // state publication stays on the driver thread, after the level barrier
      Await.result(Future.sequence(futures), 10.minutes).foreach {
        case (st, rows) =>
          state(s"${st.name}.rows") = rows
          st.updateKey.foreach { k =>
            val dirName =
              if (st.name.contains("{part_"))
                st.name.replaceAll("[^A-Za-z0-9._-]+", "_")
              else st.name
            val mx = ParquetTarget(spark, s"$targetRoot/$dirName").read
              .agg(org.apache.spark.sql.functions.max(
                org.apache.spark.sql.functions.col(k))).head.get(0)
            if (mx != null) state(s"${st.name}.max") = mx
          }
          out += ((st.name, st.mode, rows))
      }
    }
    pool.shutdown(); pool.awaitTermination(1, TimeUnit.SECONDS)
    out.toSeq.sortBy(_._1)
  }
}
