package graft.repl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.yaml.snakeyaml.Yaml

import graft.sources.{ArrowIO, AvroIO, DeltaLite, ExcelIO, FileSources, IcebergLite, Tables}
import graft.transform.{Select, Transforms}
import graft.write.{Modes, ParquetTarget}

/** Single-task YAML interpreter — the reference's primary surface
  * (`sling run` flags / config → one stream through the pipeline,
  * config.go:65-261, task_run.go:37-220):
  *
  * {{{
  * source:
  *   stream: customer            # table name, or a path for file formats
  *   format: table               # table|csv|jsonl|xlsx|avro|arrow|delta|iceberg
  *   select: [c_custkey, c_name, -c_comment]   # include/exclude/globs
  *   where: "c_acctbal > 0"
  *   limit: 1000
  * transforms:
  *   c_name: "upper(c_name)"     # expression transforms, keyed by column
  * target:
  *   object: /path/out           # table dir
  *   format: parquet             # parquet|csv|jsonl|delta
  *   mode: full-refresh          # full-refresh|truncate|snapshot|
  *                               # incremental|upsert|backfill|
  *                               # definition-only|cdc
  *   primary_key: [c_custkey]
  *   update_key: c_acctbal
  *   options:
  *     delete_missing: hard      # hard|soft, database targets
  * }}}
  *
  * Compiles to: source reader → select/where/limit → expression transforms
  * → mode writer. Every stage is the same engine code the individual
  * operators expose; this file only routes. A replication stream compiles
  * to a [[Task]] too and runs through [[load]], the same post-read half.
  */
object TaskConfig {

  /** `source.options` (config.go source options → the engine's existing
    * readers): CSV parse/clean options, JSON flatten, Excel sheet/range. */
  final case class SourceOpts(delimiter: Option[String] = None,
      header: Option[Boolean] = None, quote: Option[String] = None,
      escape: Option[String] = None, nullIf: Seq[String] = Nil,
      emptyAsNull: Boolean = false, skipLines: Int = 0,
      skipBlankLines: Boolean = false, datetimeFormat: Option[String] = None,
      flatten: Boolean = false,
      sheet: Option[Int] = None, range: Option[String] = None,
      // `source.options.cdc:` (config.go:1764-1794 CDCOptions) — bounded
      // CDC runs: restart point, run-size and run-duration ceilings
      cdcReplayFrom: Option[Long] = None,
      cdcRunMaxEvents: Option[Long] = None,
      cdcRunMaxDuration: Option[String] = None,
      cdcSoftDelete: Boolean = false)

  /** `target.options` (config.go target options → existing writer code):
    * file codec/splitting, column casing, existence guard, DB hooks. */
  final case class TargetOpts(compression: Option[String] = None,
      fileMaxRows: Option[Int] = None, columnCasing: Option[String] = None,
      ignoreExisting: Boolean = false, addNewColumns: Boolean = false,
      preSql: Option[String] = None, postSql: Option[String] = None,
      batchLimit: Option[Int] = None, batchMaxDuration: Option[String] = None,
      tableTmp: Option[String] = None,
      tableDdl: Option[String] = None, useBulk: Boolean = false,
      maxDecimals: Option[Int] = None, adjustColumnType: Boolean = false,
      mergeStrategy: Option[String] = None, deleteMissing: Option[String] = None,
      postCountCheck: Boolean = false,
      onConstraintFailure: Option[String] = None)

  final case class Source(stream: String, format: String = "table",
      select: Seq[String] = Nil, where: Option[String] = None,
      limit: Option[Int] = None, offset: Option[Int] = None,
      range: Option[String] = None, conn: Option[String] = None,
      encoding: Option[String] = None, options: SourceOpts = SourceOpts())

  final case class Target(obj: String, format: String = "parquet",
      mode: String = "full-refresh", primaryKey: Seq[String] = Nil,
      updateKey: Option[String] = None, loadedAt: Option[String] = None,
      conn: Option[String] = None, options: TargetOpts = TargetOpts())

  final case class Task(source: Source, transforms: Map[String, String],
      target: Target,
      connections: Map[String, Connections.ConnSpec] = Map.empty,
      columns: Seq[(String, String)] = Nil,
      timeout: Option[String] = None)

  // ---- parse -------------------------------------------------------------

  /** The YAML value at `k` as a string list: a list, or one scalar. */
  private[repl] def strList(m: Map[String, Object], k: String): Seq[String] =
    m.get(k).map {
      case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
      case s => Seq(s.toString)
    }.getOrElse(Nil)

  def parse(yamlText: String): Task = {
    val root = new Yaml().load[java.util.Map[String, Object]](yamlText)
      .asScala.toMap
    def section(name: String): Map[String, Object] =
      Option(root.getOrElse(name, null))
        .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap)
        .getOrElse(Map.empty)

    val s = section("source")
    val t = section("target")
    def optSection(m: Map[String, Object]): Map[String, Object] =
      m.get("options")
        .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap)
        .getOrElse(Map.empty)
    def bool(m: Map[String, Object], k: String): Boolean =
      m.get(k).exists(_.toString.toBoolean)
    val so = optSection(s)
    val to = optSection(t)
    // nested `cdc:` block under source.options (replay_from,
    // run_max_events, run_max_duration, soft_delete)
    def cdcOpt(m: Map[String, Object], k: String): Option[String] =
      m.get("cdc").flatMap(c =>
        Option(c.asInstanceOf[java.util.Map[String, Object]]
          .asScala.toMap.getOrElse(k, null)).map(_.toString))
    val srcOpts = SourceOpts(
      delimiter = so.get("delimiter").map(_.toString),
      header = so.get("header").map(_.toString.toBoolean),
      quote = so.get("quote").map(_.toString),
      escape = so.get("escape").map(_.toString),
      nullIf = strList(so, "null_if"),
      emptyAsNull = bool(so, "empty_as_null"),
      skipLines = so.get("skip_lines").map(_.toString.toInt).getOrElse(0),
      skipBlankLines = bool(so, "skip_blank_lines"),
      datetimeFormat = so.get("datetime_format").map(_.toString)
        .filterNot(_.equalsIgnoreCase("auto")),
      flatten = bool(so, "flatten"),
      sheet = so.get("sheet").map(_.toString.toInt),
      range = so.get("range").map(_.toString),
      cdcReplayFrom = cdcOpt(so, "replay_from").map(_.toLong),
      cdcRunMaxEvents = cdcOpt(so, "run_max_events").map(_.toLong),
      cdcRunMaxDuration = cdcOpt(so, "run_max_duration"),
      cdcSoftDelete = cdcOpt(so, "soft_delete").exists(_.toBoolean))
    val tgtOpts = TargetOpts(
      compression = to.get("compression").map(_.toString.toLowerCase),
      fileMaxRows = to.get("file_max_rows").map(_.toString.toInt),
      columnCasing = to.get("column_casing").map(_.toString),
      ignoreExisting = bool(to, "ignore_existing"),
      addNewColumns = bool(to, "add_new_columns"),
      preSql = to.get("pre_sql").map(_.toString),
      postSql = to.get("post_sql").map(_.toString),
      batchLimit = to.get("batch_limit").map(_.toString.toInt),
      batchMaxDuration = to.get("batch_max_duration").map(_.toString),
      tableTmp = to.get("table_tmp").map(_.toString),
      tableDdl = to.get("table_ddl").map(_.toString),
      useBulk = bool(to, "use_bulk"),
      maxDecimals = to.get("max_decimals").map(_.toString.toInt),
      adjustColumnType = bool(to, "adjust_column_type"),
      mergeStrategy = to.get("merge_strategy").map(_.toString),
      deleteMissing = to.get("delete_missing").map(_.toString),
      postCountCheck = bool(to, "post_count_check"),
      onConstraintFailure = to.get("on_constraint_failure").map(_.toString))
    // connection registry: inline `connections:` block (env.yaml shape) or
    // an `env_file:` path to a standalone env.yaml (connection.go:600-616),
    // layered over dbt profiles (an explicit `dbt_profiles_file:` path, or
    // $DBT_PROFILES_DIR/~/.dbt discovery). Precedence follows the
    // reference's GetLocalConns merge order (connection_local.go:117-148):
    // dbt loads FIRST and sling env-yaml entries overwrite on collision.
    val conns: Map[String, Connections.ConnSpec] = {
      val inline =
        if (root.contains("connections")) Connections.parse(yamlText)
        else Map.empty[String, Connections.ConnSpec]
      val fromFile = root.get("env_file").map { p =>
        Connections.parse(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p.toString)))
      }.getOrElse(Map.empty)
      val dbt = root.get("dbt_profiles_file").map { p =>
        Connections.parseDbtProfiles(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p.toString)))
      }.getOrElse(Connections.loadDbtProfiles())
      dbt ++ fromFile ++ inline
    }
    Task(
      Source(
        stream = s("stream").toString,
        format = s.getOrElse("format", "table").toString,
        select = strList(s, "select"),
        where = s.get("where").map(_.toString),
        limit = s.get("limit").map(_.toString.toInt),
        offset = s.get("offset").map(_.toString.toInt),
        range = s.get("range").map(_.toString)
          .orElse(so.get("range").map(_.toString)),
        conn = s.get("conn").map(_.toString),
        encoding = s.get("encoding").map(_.toString),
        options = srcOpts),
      section("transforms").map { case (k, v) => k -> v.toString },
      Target(
        obj = t("object").toString,
        format = t.getOrElse("format", "parquet").toString,
        mode = t.getOrElse("mode", "full-refresh").toString,
        primaryKey = strList(t, "primary_key"),
        updateKey = t.get("update_key").map(_.toString),
        loadedAt = t.get("loaded_at").map(_.toString),
        conn = t.get("conn").map(_.toString),
        options = tgtOpts),
      conns,
      // declared column types (config.go `columns`): insertion-ordered,
      // ColumnModifiers grammar (types + not_null/primary_key/... mods)
      columns = Option(root.getOrElse("columns", null))
        .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toSeq
          .map { case (k, v) => k -> v.toString })
        .getOrElse(Nil),
      // run ceiling: top-level `timeout:` or SLING_TIMEOUT env
      // (suite.cli id=232/233 — a run past the ceiling is cancelled and
      // marked failed, never silently completed late)
      timeout = Option(root.getOrElse("timeout", null)).map(_.toString)
        .orElse(sys.env.get("SLING_TIMEOUT")))
  }

  // ---- compile + run -----------------------------------------------------

  def readSource(spark: SparkSession, src: Source, sfDir: String,
      conns: Map[String, Connections.ConnSpec] = Map.empty): DataFrame =
    src.conn match {
      case Some(name) =>
        val spec = Connections.resolve(conns, name)
        if (ProtocolRoute.applies(spec))
          // native wire client (clickhouse HTTP, databricks/snowflake SQL
          // APIs, trino protocol, d1, bigquery, athena, ES, prometheus,
          // mongo OP_MSG, pg/mysql/tds wire) — selected by an explicit
          // http_url endpoint, wire_protocol: true, or unconditionally
          // for JDBC-less kinds. A JSON-object `where:` is a mongo
          // server-side filter; for the SQL wire kinds the where (incl.
          // the composed incremental watermark) executes server-side.
          ProtocolRoute.read(spark, spec, src.stream,
            if (ProtocolRoute.isSqlWire(spec)) src.where
            else src.where.filter(_.trim.startsWith("{")))
        else if (spec.isDatabase)
          graft.sources.Jdbc.read(spark, spec.jdbcUrl, src.stream)
        else {
          // object-store / remote conn: wire Hadoop conf, then the normal
          // distributed read of the rewritten URI
          val uri = graft.sources.FileBackends.configure(
            spark, src.stream, spec.fileConn)
          readSource(spark, src.copy(conn = None, stream = uri,
            format = if (src.format == "table") "parquet" else src.format),
            sfDir)
        }
      case None => readPlain(spark, src, sfDir)
    }

  private def readPlain(spark: SparkSession, src: Source,
      sfDir: String): DataFrame =
    src.format match {
      // a docs.google.com spreadsheet URL routes to the Sheets client even
      // under the default format (the reference dispatches on the URL)
      case "table" if src.stream.startsWith("https://docs.google.com/spreadsheets") =>
        readGsheet(spark, src)
      case "table" => Tables(spark, sfDir, src.stream)
      case "csv" =>
        val o = src.options
        FileSources.csv(spark, src.stream,
          header = o.header.getOrElse(true),
          delimiter = o.delimiter.getOrElse(","),
          encoding = src.encoding,
          opts = FileSources.CsvOpts(quote = o.quote, escape = o.escape,
            nullIf = o.nullIf, emptyAsNull = o.emptyAsNull,
            skipLines = o.skipLines, skipBlankLines = o.skipBlankLines,
            datetimeFormat = o.datetimeFormat))
      case "jsonl" | "json" =>
        // "json" covers array-document files too — the reader sniffs the
        // layout (FileSources.firstByteIsBracket)
        val base = FileSources.jsonl(spark, src.stream)
        if (src.options.flatten) graft.transform.Flatten(base) else base
      case "xlsx" =>
        ExcelIO.read(spark, src.stream,
          sheetIndex = src.options.sheet.getOrElse(1),
          range = src.options.range)
      case "avro" => AvroIO.read(spark, src.stream)
      case "arrow" => ArrowIO.read(spark, src.stream)
      // a `where:` on a table-format source goes through readWhere so the
      // file-level stats prune the scan (the pipeline re-applies the same
      // predicate afterwards — idempotent). If the raw predicate doesn't
      // resolve against the table (e.g. it names post-select aliases),
      // fall back to the unpruned read; the pipeline filter still applies.
      case "delta" =>
        src.where.flatMap { w =>
          try Some(DeltaLite.readWhere(spark, src.stream, w))
          catch { case scala.util.control.NonFatal(_) => None }
        }.getOrElse(DeltaLite.read(spark, src.stream))
      case "iceberg" =>
        src.where.flatMap { w =>
          try Some(IcebergLite.readWhere(spark, src.stream, w))
          catch { case scala.util.control.NonFatal(_) => None }
        }.getOrElse(IcebergLite.read(spark, src.stream))
      case "parquet" => spark.read.parquet(src.stream)
      // explicit gsheet format; `range:` selects a sheet name or an A1
      // range ("Sheet1!A2:D50"). Credentials: GSHEETS_KEY_BODY
      // (service-account JSON, the reference's KEY_BODY) or GSHEETS_TOKEN
      // (a ready bearer token); GSHEETS_BASE_URL / the
      // graft.gsheets.base_url system property overrides the endpoint.
      case "gsheet" => readGsheet(spark, src)
      case other => throw new IllegalArgumentException(s"source format $other")
    }

  private def readGsheet(spark: SparkSession, src: Source): DataFrame = {
    import graft.sources.GSheets
    def conf(k: String): Option[String] =
      sys.props.get(s"graft.gsheets.${k.toLowerCase}")
        .orElse(sys.env.get(s"GSHEETS_$k"))
    val base = conf("BASE_URL").getOrElse("https://sheets.googleapis.com")
    val token: () => String = conf("TOKEN") match {
      case Some(t) => () => t
      case None => conf("KEY_BODY") match {
        case Some(key) =>
          lazy val tok = GSheets.serviceAccountToken(key)
          () => tok
        case None => () => ""
      }
    }
    GSheets.read(spark, GSheets.Conn(baseUrl = base, token = token),
      src.stream, src.options.range.getOrElse(""))
  }

  def applyPipeline(df: DataFrame, task: Task): DataFrame = {
    val selected =
      if (task.source.select.nonEmpty) Select(df, task.source.select) else df
    // a JSON-object `where:` was consumed server-side by the mongo route
    // (readSource) — it is not a SQL predicate
    val filtered = task.source.where.filterNot(_.trim.startsWith("{"))
      .fold(selected)(w => selected.filter(expr(w)))
    // SQL-style OFFSET before LIMIT (source_options {limit, offset});
    // Dataset.offset is a logical operator, so both still push into the
    // single-partition JDBC read rather than collecting
    val shifted = task.source.offset.fold(filtered)(filtered.offset)
    val limited = task.source.limit.fold(shifted)(shifted.limit)
    val transformed = task.transforms.foldLeft(limited) { case (d, (c, e)) =>
      d.withColumn(c, expr(e))
    }
    // declared `columns:` coerce by name after transforms; `"*"` coerces
    // every column (the reference's wildcard coercion)
    task.columns.foldLeft(transformed) { case (d, (n, raw0)) =>
      // "type | value <expr>" carries a constraint after the pipe
      // (datatype.go:46 ColumnConstraint); only the type part types
      val raw = raw0.split("\\|", 2)(0).trim
      if (n == "*") {
        val dt = graft.model.ColumnModifiers.parse("wildcard", raw).field.dataType
        d.select(d.columns.map(c => col(s"`$c`").cast(dt).as(c)).toSeq: _*)
      } else {
        val dt = graft.model.ColumnModifiers.parse(n, raw).field.dataType
        d.withColumn(n, col(s"`$n`").cast(dt))
      }
    }
  }

  /** Column constraints declared as `type | value <expr>` in `columns:`
    * (r.101-103 constraint suite). `value` refers to the column. */
  private def columnChecks(task: Task): Seq[graft.transform.Constraints.Check] =
    task.columns.collect {
      case (n, raw) if n != "*" && raw.contains("|") =>
        graft.transform.Constraints.Check(n,
          substValueRef(raw.split("\\|", 2)(1).trim, s"`$n`"))
    }

  /** Replace the bare word `value` with the column reference, but ONLY
    * outside single-quoted SQL string literals — `value <> 'no value'`
    * must not rewrite the literal. Splits on quoted segments (with ''
    * as the in-literal escape) and substitutes in the unquoted parts. */
  private[graft] def substValueRef(expr: String, ref: String): String = {
    val lit = "'(?:[^']|'')*'".r
    val rep = java.util.regex.Matcher.quoteReplacement(ref)
    val sb = new StringBuilder
    var last = 0
    for (m <- lit.findAllMatchIn(expr)) {
      sb.append(expr.substring(last, m.start).replaceAll("\\bvalue\\b", rep))
      sb.append(m.matched)
      last = m.end
    }
    sb.append(expr.substring(last).replaceAll("\\bvalue\\b", rep))
    sb.toString
  }

  /** The target's current max(update_key) — the incremental watermark
    * (task_run_read.go: sling queries the target for the max update_key).
    * One scalar lookup; None when the target doesn't exist yet. */
  private def targetWatermark(spark: SparkSession, task: Task,
      uk: String): Option[Any] = {
    val tgt = task.target
    tgt.conn.map(Connections.resolve(task.connections, _)) match {
      case Some(spec) if spec.isDatabase =>
        graft.sources.Jdbc.maxValue(spec.jdbcUrl, tgt.obj, uk)
      case _ =>
        try {
          val t = spark.read.parquet(tgt.obj)
          Option(t.agg(max(col(s"`$uk`"))).head.get(0))
        } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Wire-protocol SQL sources (pg/mysql/tds native clients) are
    * RDD-backed — a Spark-side watermark filter has no Catalyst relation
    * to push into, so without help an incremental run would pull the
    * WHOLE table across the wire. Compose `update_key > <target max>`
    * into the source-level `where` so the predicate executes inside the
    * remote engine (the reference's incremental_where_cond contract);
    * the write-time Spark filter re-applies it idempotently. Literals
    * render in plain SQL (no JDBC escape syntax — there is no JDBC
    * driver on this path). */
  private def pushWireIncremental(spark: SparkSession, task: Task): Task = {
    val src = task.source
    val wireSql = src.conn.map(Connections.resolve(task.connections, _))
      .exists(ProtocolRoute.isSqlWire)
    if (!wireSql || task.target.mode != "incremental" ||
        src.stream.matches("(?is)\\s*(select|with)\\b[\\s\\S]*")) return task
    task.target.updateKey.flatMap(uk =>
      targetWatermark(spark, task, uk).map(uk -> _)) match {
      case Some((uk, w)) =>
        val cond = s"$uk > ${wireLiteral(w)}"
        val where = src.where.filterNot(_.trim.startsWith("{"))
          .map(x => s"($x) AND $cond").orElse(Some(cond))
        task.copy(source = src.copy(where = where))
      case None => task
    }
  }

  /** Plain-SQL literal (valid both in the remote engine and in Spark's
    * idempotent re-filter). */
  private def wireLiteral(v: Any): String = v match {
    case t: java.sql.Timestamp =>
      "'" + t.toLocalDateTime.toString.replace('T', ' ') + "'"
    case t: java.time.LocalDateTime =>
      "'" + t.toString.replace('T', ' ') + "'"
    case d: java.sql.Date => s"'$d'"
    case d: java.time.LocalDate => s"'$d'"
    case s: String => "'" + s.replace("'", "''") + "'"
    case n => String.valueOf(n)
  }

  /** Expand `{incremental_where_cond}` / `{incremental_value}` inside a
    * custom-SQL source stream (the reference's SQL-source incremental
    * contract): the condition is `update_key > <target max>` once the
    * target has data, `1=1` on the first run. The update key is quoted
    * because Spark's JDBC writer creates case-exact quoted columns. */
  private def substIncremental(spark: SparkSession, task: Task): Task = {
    val s = task.source.stream
    if (!s.contains("{incremental_where_cond}") &&
        !s.contains("{incremental_value}")) return task
    val uk = task.target.updateKey.getOrElse(throw new IllegalArgumentException(
      "{incremental_where_cond} needs target.update_key"))
    val wm = targetWatermark(spark, task, uk)
    val cond = wm.map(w => s""""$uk" > ${graft.sources.Jdbc.sqlLiteral(w)}""")
      .getOrElse("1=1")
    val value = wm.map(graft.sources.Jdbc.sqlLiteral).getOrElse("null")
    task.copy(source = task.source.copy(stream = s
      .replace("{incremental_where_cond}", cond)
      .replace("{incremental_value}", value)))
  }

  /** Expand `{fields}` inside a custom-SQL source stream to the task's
    * `select:` list (issue #669, suite.cli id=141) — `*` when no select is
    * declared. The select list (renames included) is consumed by the SQL
    * projection itself, so the Spark-side select stage is cleared — else a
    * rename would be applied twice and reference a no-longer-present name. */
  private def substFields(task: Task): Task = {
    val s = task.source.stream
    if (!s.contains("{fields}")) return task
    val fields =
      if (task.source.select.isEmpty) "*"
      else task.source.select.mkString(", ")
    task.copy(source = task.source.copy(
      stream = s.replace("{fields}", fields), select = Nil))
  }

  /** backfill's update key and its requested range (`range: "lo,hi"`,
    * inclusive both ends — partition.go range chunking), cast to the key's
    * type in `df`. */
  private def backfillRange(df: DataFrame, task: Task): (String, Column, Column) = {
    val uk = task.target.updateKey.getOrElse(
      throw new IllegalArgumentException("backfill needs update_key"))
    val r = task.source.range.getOrElse(
      throw new IllegalArgumentException("backfill needs source range \"lo,hi\""))
    val parts = r.split(',').map(_.trim)
    require(parts.length == 2, s"backfill range must be lo,hi: $r")
    val kt = df.schema(uk).dataType
    (uk, lit(parts(0)).cast(kt), lit(parts(1)).cast(kt))
  }

  /** backfill: restrict the stream to the requested update-key range. */
  private def backfillSlice(df: DataFrame, task: Task): DataFrame = {
    val (uk, lo, hi) = backfillRange(df, task)
    df.filter(col(s"`$uk`") >= lo && col(s"`$uk`") <= hi)
  }

  /** backfill into a file target. With a primary key the range slice
    * merges by key ([[Modes.upsert]]), the PK merge a database target
    * gets too. Without one the target's rows in the range are replaced by
    * the source's ([[Modes.backfill]]), so re-running a backfill over the
    * same or a narrower range never duplicates rows. */
  private def backfillFile(pt: ParquetTarget, df: DataFrame, task: Task): Unit =
    if (task.target.primaryKey.nonEmpty)
      Modes.upsert(pt, backfillSlice(df, task), task.target.primaryKey)
    else {
      val (uk, lo, hi) = backfillRange(df, task)
      Modes.backfill(pt, df, uk, lo, hi)
    }

  /** Wall-clock run ceiling (SLING_TIMEOUT, suite.cli id=232/233): a
    * watchdog cancels the run's Spark job group once the ceiling passes —
    * `interruptOnCancel` reaches running tasks — and keeps cancelling on a
    * short period so jobs submitted after the first cancel die too. The
    * run then FAILS (a timed-out run must never report success, even if
    * its final job happened to finish during cancellation). */
  private def withRunCeiling[T](spark: SparkSession,
      d: java.time.Duration)(body: => T): T = {
    val group = s"graft-run-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, "graft task run",
      interruptOnCancel = true)
    val timer = new java.util.Timer("graft-run-ceiling", true)
    @volatile var fired = false
    timer.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = {
        fired = true
        try spark.sparkContext.cancelJobGroup(group)
        catch { case _: Throwable => () }
      }
    }, math.max(0L, d.toMillis), 200L)
    try {
      val out = body
      if (fired) throw new IllegalStateException(
        s"run exceeded timeout $d (SLING_TIMEOUT) — marked failed")
      out
    } catch {
      case e: Throwable if fired && !e.isInstanceOf[IllegalStateException] =>
        throw new IllegalStateException(
          s"run exceeded timeout $d (SLING_TIMEOUT) — cancelled", e)
    } finally {
      timer.cancel()
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Execute the task; returns the rows the target holds after the load,
    * like the reference's row counter. A parquet target counts them from
    * its data files' footers on the driver ([[ParquetTarget.rowCount]]),
    * so a CSV→parquet run costs one Spark job to open its source plus the
    * write's own jobs. */
  def run(spark: SparkSession, yamlText: String, sfDir: String): Long = {
    val task0 = parse(yamlText)
    task0.timeout match {
      case Some(t) => withRunCeiling(spark,
        graft.streaming.EventStream.parseDuration(t))(runInner(spark, task0, sfDir))
      case None => runInner(spark, task0, sfDir)
    }
  }

  private def runInner(spark: SparkSession, task0: Task, sfDir: String): Long = {
    val task = pushWireIncremental(spark,
      substFields(substIncremental(spark, task0)))
    val source = readSource(spark, task.source, sfDir, task.connections)
    // delete_missing compares the FULL source key set (not the
    // incremental slice) against the target — a custom-SQL stream is
    // re-read with the incremental condition disarmed so the key set
    // really is the whole source (only pk columns are staged)
    def fullKeys = Option.when(task0.source.stream.contains("{incremental_where_cond}"))(
      applyPipeline(readSource(spark, task0.source.copy(
        stream = task0.source.stream
          .replace("{incremental_where_cond}", "1=1")
          .replace("{incremental_value}", "null")),
        sfDir, task0.connections), task0))
    // file_max_rows splits output files on the parquet/delta path via the
    // session conf, scoped to this run and restored after. It is set here,
    // outside [[load]], because replication streams share the session and
    // run concurrently
    val prevMaxRec = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
    task.target.options.fileMaxRows.foreach(n =>
      spark.conf.set("spark.sql.files.maxRecordsPerFile", n.toString))
    try load(spark, task, source, fullKeys)
    finally {
      if (task.target.options.fileMaxRows.isDefined) prevMaxRec match {
        case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
    }
  }

  /** Everything after the read: `source`, the task's source frame as read,
    * runs the pipeline ([[applyPipeline]]), the column constraint checks,
    * column casing and `max_decimals`, then loads the target through the
    * database, protocol or file writers by the task's mode. Returns the
    * rows the target holds after the load. `fullKeys` is the source key
    * set a database `delete_missing` compares when it differs from the
    * loaded frame. Writes no session conf: concurrent replication streams
    * share the session. */
  private[repl] def load(spark: SparkSession, task: Task, source: DataFrame,
      fullKeys: => Option[DataFrame] = None): Long = {
    val df0 = applyPipeline(source, task)
    val tgt = task.target
    // column constraints (`type | value <expr>`): ONE aggregate pass tallies
    // every check's failures (datatype.go:1138, stream_processor.go:1632);
    // SLING_ON_CONSTRAINT_FAILURE / target.options.on_constraint_failure
    // picks warn (default, reference behavior) or abort
    val checks = columnChecks(task)
    if (checks.nonEmpty) {
      val fails = graft.transform.Constraints.failCounts(df0, checks)
        .filter(col("fail_count") > 0).collect()
      if (fails.nonEmpty) {
        val msg = fails.map(r =>
          s"${r.getString(0)}: '${r.getString(1)}' failed ${r.getLong(2)} rows")
          .mkString("; ")
        val mode = tgt.options.onConstraintFailure
          .orElse(sys.env.get("SLING_ON_CONSTRAINT_FAILURE"))
          .getOrElse("warn")
        if (mode == "abort")
          throw new IllegalStateException(s"constraint failures: $msg")
        else System.err.println(s"[graft] constraint warnings: $msg")
      }
    }
    val df1 = tgt.options.columnCasing
      .fold(df0)(mode => graft.transform.Casing(df0, mode))
    // max_decimals: round fractional numerics before the write
    val df = tgt.options.maxDecimals.fold(df1) { n =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
      df1.select(df1.schema.fields.map { f =>
        f.dataType match {
          case DoubleType | FloatType | _: DecimalType =>
            org.apache.spark.sql.functions.round(col(s"`${f.name}`"), n)
              .cast(f.dataType).as(f.name)
          case _ => col(s"`${f.name}`")
        }
      }.toSeq: _*)
    }
    // a database target conn routes through the staged-load + in-DB merge
    // path regardless of declared file format (task_run_write.go:163-498)
    tgt.conn.map(Connections.resolve(task.connections, _)) match {
      // NoSQL / protocol stores write directly — no SQL temp-table merge
      // (task_run_write.go:209-226 writeDirectly; insert is upsert-by-PK
      // for the _id-routed stores)
      case Some(spec) if ProtocolRoute.writes(spec) &&
          ProtocolRoute.supportsMode(spec, tgt.mode, tgt.primaryKey) =>
        // option parity with the JDBC branch below: flipping a conn to
        // wire transport must not silently drop the existence guard or
        // the pre/post SQL hooks
        if (tgt.options.ignoreExisting) {
          val existing =
            try ProtocolRoute.read(spark, spec, tgt.obj).count()
            catch { case _: Exception => 0L } // absent object → proceed
          if (existing > 0) return existing
        }
        tgt.options.preSql.foreach(ProtocolRoute.executeAll(spec, _))
        val written = ProtocolRoute.write(df, spec, tgt.obj, tgt.mode,
          tgt.primaryKey)
        tgt.options.postSql.foreach(ProtocolRoute.executeAll(spec, _))
        return written
      case Some(spec) if spec.isDatabase =>
        // existence guard parity with the file path: a non-empty DB target
        // is left untouched when ignore_existing is set
        if (tgt.options.ignoreExisting) {
          val existing =
            try graft.sources.Jdbc.read(spark, spec.jdbcUrl, tgt.obj).count()
            catch { case _: Exception => 0L } // absent table → proceed
          if (existing > 0) return existing
        }
        tgt.options.preSql.foreach(graft.sources.Jdbc.executeAll(spec.jdbcUrl, _))
        // declared sized strings reach the CREATE TABLE as VARCHAR(n) —
        // Spark's default String mapping is unbounded text (CLOB on Derby),
        // unusable in MERGE ON comparisons and index/key DDL
        val colDdl: Map[String, String] = task.columns.collect {
          case (n, raw) if n != "*" &&
              raw.matches("(?i)\\s*(string|varchar|char)\\s*\\(\\d+\\).*") =>
            n -> s"VARCHAR(${"\\d+".r.findFirstIn(raw).get})"
        }.toMap
        // custom CREATE TABLE (table_ddl): executed only when the table is
        // absent; loads then append into it (Spark's Overwrite would drop
        // the custom DDL and recreate with the inferred schema)
        val customDdl = tgt.options.tableDdl.map { ddl =>
          // qualified names split into (schemaPattern, tablePattern) and
          // unquoted identifiers case-fold per dialect — Jdbc.tableExists
          // probes the stored form, not just the YAML's spelling
          if (!graft.sources.Jdbc.tableExists(spec.jdbcUrl, tgt.obj))
            graft.sources.Jdbc.execute(spec.jdbcUrl, ddl)
          true
        }.getOrElse(false)
        // incremental watermark: only rows past the target's max(update_key)
        // travel — a Spark-side filter on a JDBC/file scan pushes down into
        // the source query, so the skipped rows are never read. SQL-source
        // streams that already substituted {incremental_where_cond} refilter
        // the same predicate (idempotent). backfill slices the declared
        // range instead.
        val dfW = (tgt.mode, tgt.updateKey) match {
          case ("incremental", Some(uk)) =>
            graft.sources.Jdbc.maxValue(spec.jdbcUrl, tgt.obj, uk) match {
              case Some(w) => df.filter(col(s"`$uk`") > lit(w))
              case None => df
            }
          case ("backfill", _) => backfillSlice(df, task)
          case _ => df
        }
        tgt.mode match {
          case "upsert" | "incremental" | "backfill" if tgt.primaryKey.nonEmpty =>
            // merge_strategy selects among the reference's four templates;
            // default is update_insert (task_run_write.go merge dispatch)
            graft.sources.Jdbc.mergeStrategy(dfW, spec.jdbcUrl, tgt.obj,
              tgt.primaryKey,
              tgt.options.mergeStrategy.getOrElse("update_insert"),
              tableTmp = tgt.options.tableTmp, columnTypes = colDdl,
              // post_count_check (task_run_write.go:380-405): count the
              // stream once and require the staged table to agree before
              // the merge runs. Opt-in — the extra count re-executes the
              // source plan, which is not free at scale.
              expectedRows =
                if (tgt.options.postCountCheck) Some(dfW.count()) else None)
          case "upsert" =>
            // the fall-through would be Jdbc.write's full overwrite — a
            // destructive surprise for a requested merge; fail loudly
            throw new IllegalArgumentException(
              "mode upsert on a database target needs primary_key")
          case "snapshot" | "incremental" | "backfill" =>
            // append semantics, like the parquet path — the overwrite
            // default would silently truncate the target's history
            graft.sources.Jdbc.write(dfW, spec.jdbcUrl, tgt.obj,
              org.apache.spark.sql.SaveMode.Append,
              batchSize = tgt.options.batchLimit, columnTypes = colDdl)
          case "definition-only" =>
            // create the table from the inferred schema, load nothing
            // (suite.cli id=159; r.89.definition_only_db.yaml)
            graft.sources.Jdbc.write(df.limit(0), spec.jdbcUrl, tgt.obj,
              org.apache.spark.sql.SaveMode.Overwrite, columnTypes = colDdl)
          case "cdc-apply" =>
            // merge_cdc into the target DB (cdc pipelines p.30-p.39):
            // latest-event-per-PK collapse + in-DB delete/merge
            require(tgt.primaryKey.nonEmpty, "mode cdc-apply needs primary_key")
            graft.sources.Jdbc.cdcApply(df, spec.jdbcUrl, tgt.obj,
              tgt.primaryKey, columnTypes = colDdl)
          case _ if customDdl =>
            // full refresh into the custom-DDL table: clear + append
            graft.sources.Jdbc.execute(spec.jdbcUrl, s"DELETE FROM ${tgt.obj}")
            graft.sources.Jdbc.write(df, spec.jdbcUrl, tgt.obj,
              org.apache.spark.sql.SaveMode.Append,
              batchSize = tgt.options.batchLimit)
          case _ if tgt.options.useBulk =>
            // capability-dispatched bulk path (BulkImportFlow); a
            // wire_protocol postgres conn supplies the REAL COPY
            // transport (one authenticated stream per partition) so
            // use_bulk loads execute COPY instead of batched INSERTs;
            // other dialects fall back to batched JDBC inserts
            graft.sources.Jdbc.bulkWrite(df, spec.jdbcUrl, tgt.obj, spec.kind,
              copyTransport = ProtocolRoute.pgCopyTransport(spec))
          case _ =>
            graft.sources.Jdbc.write(df, spec.jdbcUrl, tgt.obj,
              batchSize = tgt.options.batchLimit, columnTypes = colDdl)
        }
        // delete_missing compares the FULL source key set against the target
        tgt.options.deleteMissing.foreach { dm =>
          graft.sources.Jdbc.deleteMissing(fullKeys.getOrElse(df), spec.jdbcUrl,
            tgt.obj, tgt.primaryKey, soft = dm == "soft", columnTypes = colDdl)
        }
        tgt.options.postSql.foreach(graft.sources.Jdbc.executeAll(spec.jdbcUrl, _))
        return graft.sources.Jdbc.read(spark, spec.jdbcUrl, tgt.obj).count()
      case _ => ()
    }
    // existence guard (ignore_existing): leave a non-empty target untouched
    if (tgt.options.ignoreExisting && targetHasData(spark, tgt))
      return countTarget(spark, tgt)
    tgt.format match {
      // a docs.google.com target writes through the Sheets client
      // (WriteSheet); the URL fragment names the sheet
      // (".../edit#People"), defaulting to Sheet1
      case _ if tgt.obj.startsWith("https://docs.google.com/spreadsheets") =>
        import graft.sources.GSheets
        def conf(k: String): Option[String] =
          sys.props.get(s"graft.gsheets.${k.toLowerCase}")
            .orElse(sys.env.get(s"GSHEETS_$k"))
        val conn = GSheets.Conn(
          baseUrl = conf("BASE_URL").getOrElse("https://sheets.googleapis.com"),
          token = conf("TOKEN").map(t => () => t).getOrElse(
            conf("KEY_BODY") match {
              case Some(key) =>
                lazy val tok = GSheets.serviceAccountToken(key); () => tok
              case None => () => ""
            }))
        val sheet = Option(new java.net.URI(tgt.obj).getFragment)
          .filter(_.nonEmpty).getOrElse("Sheet1")
        GSheets.writeSheet(df, conn, tgt.obj, sheet)
      case "parquet" | "delta" if tgt.obj.contains("{part_") =>
        // a {part_*} URI mask in the target object routes through the
        // partitioned writer keyed on update_key (suite.cli id=59:
        // 'file:///.../{part_year}/{part_month}'); partition dirs are
        // Hive-style, so reads prune on the mask fields
        val mask = tgt.obj
        val base = mask.substring(0, mask.indexOf("{part_"))
          .stripSuffix("/")
        val fields = "\\{(part_[a-z]+)\\}".r.findAllMatchIn(mask)
          .map(_.group(1)).toSeq
        val key = tgt.updateKey.getOrElse(throw new IllegalArgumentException(
          "a {part_*} target mask needs update_key"))
        graft.write.PartitionedWriter.write(df, base, key, fields,
          maxRecordsPerFile = tgt.options.fileMaxRows.map(_.toLong).getOrElse(0L))
        ParquetTarget(spark, base).rowCount
      case "parquet" | "delta" =>
        val writeDelta = tgt.format == "delta"
        val pt = ParquetTarget(spark, tgt.obj)
        tgt.mode match {
          case "full-refresh" | "truncate" =>
            if (writeDelta) DeltaLite.overwrite(df, tgt.obj)
            else Modes.fullRefresh(pt, df)
          case "definition-only" =>
            // schema only, zero rows (task_run_write.go definition-only:
            // create the table, load nothing). limit(0) keeps the full
            // inferred schema; parquet/delta both serialize it
            if (writeDelta) DeltaLite.overwrite(df.limit(0), tgt.obj)
            else Modes.fullRefresh(pt, df.limit(0))
          case "snapshot" =>
            // stamp the actual load time (task_run_write.go:1003 uses the run
            // timestamp); `loaded_at:` in the YAML pins it for deterministic
            // replay / the oracle path
            val ts = tgt.loadedAt.map(java.sql.Timestamp.valueOf)
              .getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
            if (writeDelta) DeltaLite.append(df, tgt.obj)
            else Modes.snapshot(pt, df, ts)
          case "incremental" if tgt.primaryKey.nonEmpty =>
            // merge_strategy dispatch (templates/base.yaml merge_*):
            // update_insert is the default; the others reuse the same
            // PK-join building blocks
            tgt.options.mergeStrategy.getOrElse("update_insert") match {
              case "update_insert" => Modes.upsert(pt, df, tgt.primaryKey)
              case "insert" => Modes.insertMissing(pt, df, tgt.primaryKey)
              case "update" => Modes.updateOnly(pt, df, tgt.primaryKey)
              case "delete_insert" => Modes.deleteInsert(pt, df, tgt.primaryKey)
              case other =>
                throw new IllegalArgumentException(s"unknown merge_strategy $other")
            }
          case "incremental" =>
            Modes.incrementalAppend(pt, df, tgt.updateKey.getOrElse(
              throw new IllegalArgumentException("incremental needs update_key")))
          case "backfill" => backfillFile(pt, df, task)
          case "upsert" =>
            if (tgt.options.addNewColumns || tgt.options.adjustColumnType)
              Modes.upsertEvolve(pt, df, tgt.primaryKey,
                adjustTypes = tgt.options.adjustColumnType)
            else Modes.upsert(pt, df, tgt.primaryKey)
          case "cdc" =>
            // bounded streaming CDC apply over the source's change-feed
            // directory (source format parquet); the batching/bounding
            // knobs route from source.options.cdc + target.options
            require(tgt.primaryKey.nonEmpty, "mode cdc needs primary_key")
            val so = task.source.options
            val opts = graft.streaming.EventStream.CdcRunOptions(
              replayFromSeq = so.cdcReplayFrom,
              runMaxEvents = so.cdcRunMaxEvents,
              runMaxDuration = so.cdcRunMaxDuration
                .map(graft.streaming.EventStream.parseDuration),
              batchLimit = tgt.options.batchLimit,
              batchMaxDuration = tgt.options.batchMaxDuration
                .map(graft.streaming.EventStream.parseDuration),
              softDelete = so.cdcSoftDelete)
            graft.streaming.EventStream.cdcApplyBounded(
              spark, task.source.stream, pt, tgt.primaryKey, opts)
          case other => throw new IllegalArgumentException(s"mode $other")
        }
        if (writeDelta) DeltaLite.read(spark, tgt.obj).count()
        else pt.rowCount
      case "stdout" =>
        // data stream to the console (task_run_write.go:71-148)
        graft.write.StdoutWriter.csv(df)
      case "csv" =>
        // definition-only has no CSV representation: a header-only file is
        // not a schema (types are lost) — the reference refuses the same
        // way (suite.cli id=161)
        if (tgt.mode == "definition-only")
          throw new IllegalArgumentException(
            "mode definition-only is not supported for CSV file targets")
        tgt.options.compression match {
          case Some("zstd") | Some("zst") =>
            graft.sources.Compression.writeCsvZstd(df, tgt.obj)
          case Some(c) =>
            df.write.mode("overwrite").option("header", "true")
              .option("escape", "\"").option("compression", c).csv(tgt.obj)
          case None =>
            df.write.mode("overwrite").option("header", "true")
              .option("escape", "\"").csv(tgt.obj)
        }
        countTarget(spark, tgt)
      case "jsonl" =>
        tgt.options.compression match {
          case Some("zstd") | Some("zst") =>
            graft.sources.Compression.writeJsonlZstd(df, tgt.obj)
          case Some(c) =>
            df.write.mode("overwrite").option("compression", c).json(tgt.obj)
          case None => df.write.mode("overwrite").json(tgt.obj)
        }
        countTarget(spark, tgt)
      case other => throw new IllegalArgumentException(s"target format $other")
    }
  }

  private def targetHasData(spark: SparkSession, tgt: Target): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tgt.obj)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) &&
      (try countTarget(spark, tgt) > 0
       catch { case scala.util.control.NonFatal(_) => false })
  }

  private def countTarget(spark: SparkSession, tgt: Target): Long =
    tgt.format match {
      case "parquet" => ParquetTarget(spark, tgt.obj).rowCount
      case "delta" => DeltaLite.read(spark, tgt.obj).count()
      case "csv" => FileSources.csv(spark, tgt.obj).count()
      case "jsonl" => FileSources.jsonl(spark, tgt.obj).count()
      case _ => 0L
    }
}
