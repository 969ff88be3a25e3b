package graft.sources

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink — the reference's primary surface (database.go).
  *
  * Reads support the chunked/partitioned form (partitionColumn + bounds →
  * one query per executor slice), the exact analogue of the reference's
  * range chunking (replication.go:688-930). Writes go through Spark's JDBC
  * writer (batched inserts); [[merge]] implements the temp-table + ANSI
  * MERGE strategy the reference templates per dialect
  * (templates/base.yaml:66-71) — staged load, transactional merge inside
  * the target DB, temp cleanup.
  *
  * Tested end-to-end against embedded Derby (no external DB in the test
  * environment); the code paths are dialect-generic Spark JDBC.
  */
object Jdbc {

  /** Spark's built-in Derby dialect maps StringType to CLOB, which Derby
    * cannot compare (breaking MERGE ON / EXISTS on string keys) and whose
    * setNull conflicts with VARCHAR columns created via declared column
    * DDL. Register a dialect mapping strings to Derby's widest VARCHAR —
    * the same comparable-strings behavior every production dialect has.
    * Registered dialects win over built-ins; everything else defers to the
    * built-in mappings this replaces (SMALLINT/BOOLEAN/DECIMAL caps). */
  private lazy val derbyDialect: Unit = {
    import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
    import org.apache.spark.sql.types._
    JdbcDialects.registerDialect(new JdbcDialect {
      override def canHandle(url: String): Boolean =
        url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:derby")
      override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
        case StringType => Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
        case ByteType | ShortType => Some(JdbcType("SMALLINT", java.sql.Types.SMALLINT))
        case BooleanType => Some(JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
        case t: DecimalType if t.precision > 31 =>
          Some(JdbcType("DECIMAL(31,5)", java.sql.Types.DECIMAL))
        case _ => None
      }
    })
    // DuckDB: its SQLExceptions carry no SQLState, so Spark 4's
    // tableExists cannot classify a missing-table probe as not-found and
    // rethrows it — classify by the engine's Catalog Error message
    JdbcDialects.registerDialect(new JdbcDialect {
      override def canHandle(url: String): Boolean =
        url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:duckdb")
      override def isObjectNotFoundException(
          e: java.sql.SQLException): Boolean =
        Option(e.getMessage).exists(m =>
          m.contains("does not exist") || m.contains("Catalog Error"))
      override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
        case StringType => Some(JdbcType("VARCHAR", java.sql.Types.VARCHAR))
        case _ => None
      }
    })
  }

  def write(df: DataFrame, url: String, table: String,
      mode: SaveMode = SaveMode.Overwrite,
      batchSize: Option[Int] = None,
      columnTypes: Map[String, String] = Map.empty): Unit = {
    derbyDialect
    val w = df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
    batchSize.foreach(n => w.option("batchsize", n))
    // declared column DDL (string(n) → VARCHAR(n), …): without it Spark's
    // dialects map StringType to unbounded text (CLOB on Derby), which
    // cannot appear in a MERGE ON comparison — the reference always sizes
    // VARCHARs from its column metadata for the same reason. Rendered
    // against the frame's own columns (Spark rejects DDL for absent ones).
    val present = df.columns.map(_.toLowerCase).toSet
    val ddl = columnTypes.toSeq.sortBy(_._1)
      .collect { case (n, t) if present(n.toLowerCase) => s"$n $t" }
      .mkString(", ")
    if (ddl.nonEmpty) w.option("createTableColumnTypes", ddl)
    w.mode(mode).save()
  }

  /** Capability-dispatched bulk write (the reference's BulkImportFlow):
    * dialects with a streaming fast path take it — postgres COPY through
    * the injected transport (`PgCopy.bulkLoad`, one channel per Spark
    * partition, no driver row movement) — everything else falls back to
    * Spark's batched JDBC inserts. The transport is injectable because
    * the COPY wire protocol needs the PG driver's CopyManager, absent in
    * this offline build; `PgCopySpec` drives the seam with a recording
    * transport and the encoder is oracle-gated (`op_pg_copy_encode`).
    * Returns the rows sent on the fast path, -1 when batched JDBC ran.
    */
  def bulkWrite(df: DataFrame, url: String, table: String, dialect: String,
      copyTransport: Option[graft.write.PgCopy.CopyTransport] = None): Long =
    (graft.write.BulkStage.fastPathFor(dialect), copyTransport) match {
      case ("copy_stdin", Some(t)) =>
        graft.write.PgCopy.bulkLoad(df, table, t)
      case _ =>
        write(df, url, table); -1L
    }

  /** Best-effort CREATE INDEX on `cols` (quoted case-exact, as the Spark
    * JDBC writer creates them). Idempotent by swallow: an existing index
    * (or a dialect without the syntax) leaves the statement failing
    * quietly — merges stay correct, only the plan changes. Index name is
    * derived from table+cols and sanitized to an identifier. */
  def ensureIndex(url: String, table: String, cols: Seq[String]): Unit = {
    val base = (table + "_" + cols.mkString("_"))
      .replaceAll("[^A-Za-z0-9_]", "_")
    val name = ("GIX_" + base).take(120)
    val colList = cols.map(c => "\"" + c + "\"").mkString(", ")
    try execute(url, s"CREATE INDEX $name ON $table ($colList)")
    catch { case _: Exception => () }
  }

  /** Run one statement against the target DB (pre_sql/post_sql hooks,
    * config.go target options). */
  def execute(url: String, sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    } finally conn.close()
  }

  /** A stream that parses as a statement is custom SQL (the reference
    * accepts `select ...` as source_stream, task_run_read.go); everything
    * else is a table/view name. */
  def isSqlText(stream: String): Boolean =
    stream.matches("(?is)\\s*(select|with)\\b.*")

  def read(spark: SparkSession, url: String, table: String): DataFrame = {
    derbyDialect
    val r = spark.read.format("jdbc").option("url", url)
    (if (isSqlText(table)) r.option("query", table)
     else r.option("dbtable", table)).load()
  }

  /** Case-folding existence probe; a qualified name splits into
    * (schemaPattern, tablePattern). */
  def tableExists(url: String, name: String): Boolean = {
    val conn = DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      val (sch0, tbl0) = name.lastIndexOf('.') match {
        case -1 => (null: String, name)
        case i  => (name.substring(0, i), name.substring(i + 1))
      }
      def folds(n: String): Seq[String] =
        (Seq(n) ++
          (if (md.storesUpperCaseIdentifiers) Seq(n.toUpperCase) else Nil) ++
          (if (md.storesLowerCaseIdentifiers) Seq(n.toLowerCase) else Nil))
          .distinct
      val schemas = if (sch0 == null) Seq(null: String) else folds(sch0)
      schemas.exists(sp => folds(tbl0).exists { n =>
        val rs = md.getTables(null, sp, n, null)
        try rs.next() finally rs.close()
      })
    } finally conn.close()
  }

  /** Partitioned read: numPartitions parallel range queries on partitionCol. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: Long, upper: Long, numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionCol)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .load()

  /** Temp-table + MERGE upsert inside the target DB: stage `df` into
    * `<table>_tmp`, MERGE on `pk`, drop the stage. Mirrors
    * task_run_write.go:163-498 + the update_insert template.
    */
  def merge(df: DataFrame, url: String, table: String, pk: Seq[String],
      tableTmp: Option[String] = None): Unit =
    mergeStrategy(df, url, table, pk, "update_insert", tableTmp)

  /** Staged-load merge with the reference's four strategies
    * (task_run_write.go merge_strategy → templates/base.yaml
    * merge_insert/merge_update/merge_update_insert/merge_delete_insert):
    * stage `df` into a temp table, apply the strategy in-DB, drop the
    * stage. SQL is built in the portable subset embedded engines accept
    * (MERGE for the update paths; EXISTS forms for insert/delete).
    */
  def mergeStrategy(df: DataFrame, url: String, table: String,
      pk: Seq[String], strategy: String,
      tableTmp: Option[String] = None,
      columnTypes: Map[String, String] = Map.empty,
      expectedRows: Option[Long] = None): Unit = {
    require(pk.nonEmpty, s"merge strategy $strategy needs primary_key")
    if (!Seq("update_insert", "update", "insert", "delete_insert").contains(strategy))
      throw new IllegalArgumentException(s"unknown merge_strategy $strategy")
    applyStaged(df, url, table, tableTmp, columnTypes, expectedRows) { tmp =>
      // scale rail (same as cdcApply): index the merge keys on both sides or
      // the embedded engine nested-loops the MERGE/EXISTS quadratically
      ensureIndex(url, table, pk)
      ensureIndex(url, tmp, pk)
      val cols = df.columns.toSeq
      val onClause = pk.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val nonKey = cols.filterNot(pk.contains)
      val setClause = nonKey.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
      val insertCols = cols.map(q).mkString(", ")
      val insertVals = cols.map(c => s"s.${q(c)}").mkString(", ")
      // a pure-keys table has nothing to UPDATE — an empty SET clause is a
      // syntax error on every dialect, so reduce to insert-if-absent
      val matched =
        if (nonKey.isEmpty) "" else s"\nWHEN MATCHED THEN UPDATE SET $setClause"
      strategy match {
        case "update_insert" => Seq(
          s"""MERGE INTO $table t USING $tmp s ON $onClause$matched
             |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"""
            .stripMargin)
        case "update" =>
          if (nonKey.isEmpty) Nil // nothing updatable
          else Seq(
            s"""MERGE INTO $table t USING $tmp s ON $onClause
               |WHEN MATCHED THEN UPDATE SET $setClause""".stripMargin)
        case "insert" => Seq(
          s"""INSERT INTO $table ($insertCols)
             |SELECT $insertVals FROM $tmp s WHERE NOT EXISTS (
             |  SELECT 1 FROM $table t WHERE $onClause)""".stripMargin)
        case "delete_insert" =>
          val delExists = pk.map(k => s"s.${q(k)} = $table.${q(k)}")
            .mkString(" AND ")
          Seq(
            s"""DELETE FROM $table WHERE EXISTS (
               |  SELECT 1 FROM $tmp s WHERE $delExists)""".stripMargin,
            insertFrom(df, table, tmp))
      }
    }
  }

  /** A backfill without a primary key: the target's rows whose `key` lies
    * in `[lo, hi]` are replaced by `df`'s, staged like [[mergeStrategy]]
    * and swapped in one transaction. Rows with a NULL key stay. */
  def replaceRange(df: DataFrame, url: String, table: String, key: String,
      lo: Any, hi: Any, tableTmp: Option[String] = None,
      columnTypes: Map[String, String] = Map.empty): Unit =
    applyStaged(df, url, table, tableTmp, columnTypes, None) { tmp => Seq(
      s"DELETE FROM $table WHERE ${q(key)} BETWEEN ${sqlLiteral(lo)} AND ${sqlLiteral(hi)}",
      insertFrom(df, table, tmp))
    }

  // Spark's JDBC writer creates columns as quoted (case-exact) identifiers;
  // quote them here too or the DB folds references to uppercase
  private def q(c: String) = "\"" + c + "\""

  private def insertFrom(df: DataFrame, table: String, tmp: String): String =
    s"INSERT INTO $table (${df.columns.map(q).mkString(", ")}) " +
      s"SELECT ${df.columns.map(c => s"s.${q(c)}").mkString(", ")} FROM $tmp s"

  /** Stage `df` into a temp table, then run the statements `stmts` builds
    * from its name and drop it, in one transaction. An absent target is
    * created from `df` directly (task_run_write.go creates before merging). */
  private def applyStaged(df: DataFrame, url: String, table: String,
      tableTmp: Option[String], columnTypes: Map[String, String],
      expectedRows: Option[Long])(stmts: String => Seq[String]): Unit = {
    if (!tableExists(url, table)) {
      write(df, url, table, SaveMode.ErrorIfExists, columnTypes = columnTypes)
      return
    }
    val tmp = tableTmp.getOrElse(s"${table}_STAGE")
    def dropStageQuiet(): Unit =
      try execute(url, s"DROP TABLE $tmp") catch { case _: Exception => () }
    // the stage needs the same declared types: MERGE ON compares stage
    // columns against the target's. A failure DURING staging (source task
    // dies mid-stream) must not leave a partial stage table behind
    // (task_run_write.go:313-331 temp cleanup)
    try write(df, url, tmp, SaveMode.Overwrite, columnTypes = columnTypes)
    catch { case e: Throwable => dropStageQuiet(); throw e }
    // post-count abort (task_run_write.go:380-405): when the caller knows
    // how many rows it streamed, a staged count that disagrees means rows
    // were lost in flight — abort BEFORE the merge so the target is
    // untouched, and clean the stage
    expectedRows.foreach { exp =>
      val staged = {
        val conn = DriverManager.getConnection(url)
        try {
          val rs = conn.createStatement().executeQuery(
            s"SELECT COUNT(1) FROM $tmp")
          try { rs.next(); rs.getLong(1) } finally rs.close()
        } finally conn.close()
      }
      if (staged != exp) {
        dropStageQuiet()
        throw new IllegalStateException(
          s"staged row count $staged != expected $exp for $table — " +
            "aborting before merge (target untouched)")
      }
    }
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        stmts(tmp).foreach(st.executeUpdate)
        st.executeUpdate(s"DROP TABLE $tmp")
        conn.commit()
      } catch {
        case e: Throwable =>
          // roll back BEFORE close: closing with an open transaction throws
          // on embedded engines and would mask the real MERGE failure; the
          // stage table is dropped best-effort so reruns don't collide
          try conn.rollback() catch { case _: Exception => () }
          try {
            conn.setAutoCommit(true)
            conn.createStatement().executeUpdate(s"DROP TABLE $tmp")
          } catch { case _: Exception => () }
          throw e
      } finally st.close()
    } finally conn.close()
  }

  /** pre_sql/post_sql hooks may carry several ';'-separated statements
    * (the reference splits the same way, task_run_write.go pre/post).
    * Quote-aware: a ';' inside a single-quoted SQL literal (with ''
    * escaping) is part of the statement, not a separator. */
  def executeAll(url: String, sql: String): Unit =
    splitStatements(sql).foreach(execute(url, _))

  /** Split a multi-statement SQL string on ';' outside single-quoted
    * literals. '' inside a literal is the SQL escape for a quote — handled
    * naturally: it closes and immediately reopens the in-quote state. */
  private[graft] def splitStatements(sql: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var inQuote = false
    sql.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case ';' if !inQuote => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** CDC apply INSIDE the target DB — the `merge_cdc` strategy the
    * reference runs against every SQL engine (task_run_write.go:997-1032
    * dispatch; cdc pipelines tests/pipelines/cdc/p.30-p.39): collapse the
    * change stream to its latest event per PK (Spark side — one window
    * over the small change stream), stage those rows, then in ONE
    * transaction delete the op='D' keys and MERGE the rest. The staged
    * volume is the collapsed event set, never the table.
    *
    * Target columns are the stream's data columns (seq/op metadata stays
    * in the stage only). An absent target is created from the upserts.
    */
  def cdcApply(cdc: DataFrame, url: String, table: String, pk: Seq[String],
      columnTypes: Map[String, String] = Map.empty,
      seqCol: String = "_sling_cdc_seq",
      opCol: String = "_sling_synced_op"): Unit = {
    require(pk.nonEmpty, "cdc apply needs primary_key")
    val latest = graft.write.ChangeCapture.latestPerKey(cdc, pk, seqCol)
    val dataCols = latest.columns.toSeq.filterNot(c => c == seqCol || c == opCol)
    def q(c: String) = "\"" + c + "\""
    if (!tableExists(url, table)) {
      val sel = dataCols.map(c => org.apache.spark.sql.functions.col(s"`$c`"))
      write(latest.filter(org.apache.spark.sql.functions.col(s"`$opCol`") =!= "D")
        .select(sel: _*), url, table, SaveMode.ErrorIfExists,
        columnTypes = columnTypes)
      return
    }
    val tmp = s"${table}_CDCSTAGE"
    def dropStageQuiet(): Unit =
      try execute(url, s"DROP TABLE $tmp") catch { case _: Exception => () }
    // the op column is compared with '=' below — it must stage as a sized
    // VARCHAR (Spark's default string mapping is CLOB on Derby, which
    // cannot appear in comparisons)
    val stageTypes =
      if (columnTypes.keys.exists(_.equalsIgnoreCase(opCol))) columnTypes
      else columnTypes + (opCol -> "VARCHAR(10)")
    try write(latest, url, tmp, SaveMode.Overwrite, columnTypes = stageTypes)
    catch { case e: Throwable => dropStageQuiet(); throw e }
    // Scale rail: without an index on the join keys the embedded engine
    // plans the MERGE and DELETE..EXISTS as nested-loop heap scans —
    // measured QUADRATIC at 50k stage × 50k target (java stack pinned in
    // StoredPage.qualifyRecordFromSlot for 15+ min). Index both sides of
    // the merge; CREATE INDEX failures (already indexed, dialect quirk)
    // are non-fatal — the merge is correct either way, just slower.
    ensureIndex(url, table, pk)
    ensureIndex(url, tmp, pk)
    val onClause = pk.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val delExists = pk.map(k => s"s.${q(k)} = $table.${q(k)}").mkString(" AND ")
    val nonKey = dataCols.filterNot(pk.contains)
    val matched =
      if (nonKey.isEmpty) ""
      else "\nWHEN MATCHED THEN UPDATE SET " +
        nonKey.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
    val insertCols = dataCols.map(q).mkString(", ")
    val insertVals = dataCols.map(c => s"s.${q(c)}").mkString(", ")
    val stmts = Seq(
      s"""DELETE FROM $table WHERE EXISTS (
         |  SELECT 1 FROM $tmp s WHERE s.${q(opCol)} = 'D' AND $delExists)"""
        .stripMargin,
      // Derby MERGE sources must be base tables — filter deletes out of
      // the stage instead of a subquery source
      s"DELETE FROM $tmp WHERE ${q(opCol)} = 'D'",
      s"""MERGE INTO $table t USING $tmp s ON $onClause$matched
         |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"""
        .stripMargin)
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        stmts.foreach(st.executeUpdate)
        st.executeUpdate(s"DROP TABLE $tmp")
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case _: Exception => () }
          try {
            conn.setAutoCommit(true)
            conn.createStatement().executeUpdate(s"DROP TABLE $tmp")
          } catch { case _: Exception => () }
          throw e
      } finally st.close()
    } finally conn.close()
  }

  /** Incremental watermark: the target's max(update_key), as the raw JDBC
    * value (None when the table is absent or empty). One scalar query —
    * never a data-volume read. */
  def maxValue(url: String, table: String, col: String): Option[Any] = {
    if (!tableExists(url, table)) return None
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"""SELECT MAX("$col") FROM $table""")
        try { if (rs.next()) Option(rs.getObject(1)) else None }
        finally rs.close()
      } finally st.close()
    } finally conn.close()
  }

  /** Render a watermark value as a portable SQL literal for substitution
    * into user SQL (`{incremental_where_cond}`). JDBC escape syntax for
    * temporals — every compliant driver (incl. embedded Derby) expands it,
    * so the literal needs no per-dialect template. */
  def sqlLiteral(v: Any): String = v match {
    case t: java.sql.Timestamp => s"{ts '${t.toString}'}"
    case d: java.sql.Date => s"{d '${d.toString}'}"
    case s: String => "'" + s.replace("'", "''") + "'"
    case n => String.valueOf(n)
  }

  /** delete_missing target option (task_run_write.go): remove (hard) or
    * flag (soft) target rows whose primary key is absent from the source.
    * The comparison is against the FULL source key set, not the incremental
    * slice — only the pk columns are staged, so the data volume shipped is
    * keys, not rows. Soft delete stamps `_sling_deleted_at` (added to the
    * target on first use). */
  def deleteMissing(sourceKeys: DataFrame, url: String, table: String,
      pk: Seq[String], soft: Boolean,
      columnTypes: Map[String, String] = Map.empty): Unit = {
    require(pk.nonEmpty, "delete_missing needs primary_key")
    if (!tableExists(url, table)) return
    def q(c: String) = "\"" + c + "\""
    val tmp = s"${table}_DMKEYS"
    write(sourceKeys.select(pk.map(c =>
      org.apache.spark.sql.functions.col(s"`$c`")): _*).distinct(),
      url, tmp, SaveMode.Overwrite, columnTypes = columnTypes)
    val onClause = pk.map(k => s"s.${q(k)} = $table.${q(k)}").mkString(" AND ")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        if (soft) {
          // scoped metadata lookup: schema + table + column patterns with
          // the driver's search-string escape applied, so a same-named
          // table in another schema can't misreport column presence (and
          // no full-catalog walk on large databases)
          val hasCol = {
            val md = conn.getMetaData
            val esc = Option(md.getSearchStringEscape).getOrElse("\\")
            def pat(s0: String) = {
              // unquoted identifiers are stored in the dialect's canonical
              // case (upper on Derby/Oracle, lower on Postgres) and
              // metadata patterns are case-sensitive — fold to match
              val s = if (md.storesUpperCaseIdentifiers) s0.toUpperCase
                else if (md.storesLowerCaseIdentifiers) s0.toLowerCase
                else s0
              s.replace(esc, esc + esc).replace("_", esc + "_")
                .replace("%", esc + "%")
            }
            val parts = table.split('.')
            val (schemaPat, tablePat) =
              if (parts.length >= 2) (pat(parts(parts.length - 2)), pat(parts.last))
              else (null, pat(parts.last))
            val rs = md.getColumns(null, schemaPat, tablePat,
              pat("_sling_deleted_at"))
            try Iterator.continually(rs).takeWhile(_.next()).exists(r =>
              r.getString("COLUMN_NAME").equalsIgnoreCase("_sling_deleted_at"))
            finally rs.close()
          }
          if (!hasCol) st.executeUpdate(
            s"""ALTER TABLE $table ADD COLUMN "_sling_deleted_at" TIMESTAMP""")
          st.executeUpdate(
            s"""UPDATE $table SET "_sling_deleted_at" = CURRENT_TIMESTAMP
               |WHERE NOT EXISTS (SELECT 1 FROM $tmp s WHERE $onClause)"""
              .stripMargin)
        } else st.executeUpdate(
          s"""DELETE FROM $table
             |WHERE NOT EXISTS (SELECT 1 FROM $tmp s WHERE $onClause)"""
            .stripMargin)
        st.executeUpdate(s"DROP TABLE $tmp")
      } finally st.close()
    } finally conn.close()
  }
}
