package graft.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The seven sling load modes re-expressed on Spark writers.
  *
  * Reference semantics: mode dispatch `core/sling/task_run_write.go:997-1032`,
  * mode enum `core/sling/config.go:31-62`, merge strategy templates
  * `core/dbio/templates/base.yaml:52-80`. The reference generates per-dialect
  * SQL executed inside the target DB; here each strategy is a declarative
  * DataFrame expression over (target, source), so Catalyst plans the join
  * strategy (broadcast when the delta is small, shuffle otherwise) and the
  * same code runs on a 1000-executor cluster.
  *
  * Scale notes per strategy are on each method.
  */
object Modes {

  /** Empty-stream guard (task_run_write.go:414-416, `SLING_ALLOW_EMPTY`):
    * a destructive mode fed zero rows usually means an upstream fault, not
    * an intentionally empty load — abort unless explicitly allowed. Uses
    * `isEmpty` (a limit-1 probe), not a full count.
    */
  def guardEmpty(source: DataFrame, allowEmpty: Boolean = false): DataFrame = {
    if (!allowEmpty && source.isEmpty)
      throw new IllegalStateException(
        "source stream is empty; pass allowEmpty=true (SLING_ALLOW_EMPTY) to proceed")
    source
  }

  /** `full-refresh`: drop + recreate (task_run_write.go:923-929), as one
    * staged replace: the old table stays until the new one is written. */
  def fullRefresh(target: ParquetTarget, source: DataFrame): Unit =
    target.replaceWith(source)

  /** `truncate`: keep "DDL" (schema), replace rows (task_run_write.go:941-948).
    * On files this is a schema-aligned overwrite: the incoming frame is cast
    * to the existing target schema so a widened source can't silently change
    * the table's types.
    */
  def truncate(target: ParquetTarget, source: DataFrame): Unit =
    target.replaceWith(if (!target.exists) source
      else source.select(target.read.schema.fields
        .map(f => col(f.name).cast(f.dataType)).toSeq: _*))

  /** `snapshot`: append a full copy stamped with a load timestamp
    * (task_run_write.go:1003, metadata col `_sling_loaded_at`).
    */
  def snapshot(target: ParquetTarget, source: DataFrame, loadedAt: java.sql.Timestamp): Unit =
    target.append(source.withColumn("_sling_loaded_at", lit(loadedAt)))

  /** `incremental` without PK: append rows strictly above the target's
    * watermark `max(update_key)` (task_run_write.go:1003-1010;
    * task_func.go:213-263 for the watermark query).
    *
    * Scale: the watermark is one `agg(max)` over the target — with a
    * partitioned/lake target this is metadata-only; the filter on the source
    * pushes into the scan (verified `PushedFilters` in .explain).
    */
  def incrementalAppend(target: ParquetTarget, source: DataFrame, updateKey: String): Unit = {
    if (!target.exists) { target.replaceWith(source); return }
    val wm = target.read.agg(max(col(updateKey))).head.get(0)
    val delta = if (wm == null) source else source.filter(col(updateKey) > lit(wm))
    target.append(delta)
  }

  /** `incremental` with PK — strategy `update_insert` (ANSI MERGE,
    * templates/base.yaml:66-71): source rows win on PK match, non-matching
    * target rows are kept, new source rows are inserted. Strategy
    * `delete_insert` (templates/base.yaml:73-80: delete every target row
    * whose PK appears in the source, then insert all source rows) reaches
    * the same final state, so it runs here too.
    *
    * Scale: target-anti-join-source on PK; with AQE the (usually small) delta
    * side is broadcast. On Delta/Iceberg this maps 1:1 to `MERGE INTO`.
    */
  def upsert(target: ParquetTarget, source: DataFrame, pk: Seq[String]): Unit = {
    if (!target.exists) { target.replaceWith(source); return }
    val tgt = target.read
    val kept = tgt.join(source.select(pk.map(col).toSeq: _*), pk, "left_anti")
    target.replaceWith(kept.unionByName(source.select(tgt.columns.map(col).toSeq: _*)))
  }

  /** Strategy `update` (templates/base.yaml merge_update): source rows
    * replace matching target rows; non-matching source rows are DROPPED
    * (no insert). Semi-join picks the updatable source rows; anti-join
    * keeps untouched target rows.
    */
  def updateOnly(target: ParquetTarget, source: DataFrame, pk: Seq[String]): Unit = {
    if (!target.exists) return // nothing to update
    val tgt = target.read
    val kept = tgt.join(source.select(pk.map(col).toSeq: _*), pk, "left_anti")
    val updated = source.select(tgt.columns.map(col).toSeq: _*)
      .join(tgt.select(pk.map(col).toSeq: _*), pk, "left_semi")
    target.replaceWith(kept.unionByName(updated))
  }

  /** [[upsert]] with schema evolution (`add_new_columns`,
    * task_run_write.go:951-991): columns present on only one side are added
    * as nulls on the other, so a widened source alters the target instead of
    * failing. The reference pauses the stream and ALTERs the DB table; with
    * a full-input batch this collapses into a pre-write schema union.
    */
  /** Deterministic widening for `adjust_column_type`: string absorbs
    * everything, fractional beats integral, decimals merge by integer
    * digits + scale, date promotes to timestamp; incompatible kinds fall
    * back to string (the reference's last-resort cast target). */
  private[graft] def widenType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def integral(t: DataType): Boolean =
      t == ByteType || t == ShortType || t == IntegerType || t == LongType
    if (a == b) a
    else (a, b) match {
      case (StringType, _) | (_, StringType) => StringType
      case (d1: DecimalType, d2: DecimalType) =>
        val ints = math.max(d1.precision - d1.scale, d2.precision - d2.scale)
        val scale = math.max(d1.scale, d2.scale)
        DecimalType(math.min(38, ints + scale), scale)
      case (DoubleType, _: NumericType) | (_: NumericType, DoubleType) => DoubleType
      case (FloatType, _: NumericType) | (_: NumericType, FloatType) => DoubleType
      case (d: DecimalType, i) if integral(i) => widenType(d, DecimalType(20, 0))
      case (i, d: DecimalType) if integral(i) => widenType(DecimalType(20, 0), d)
      case (x, y) if integral(x) && integral(y) =>
        if (x == LongType || y == LongType) LongType
        else if (x == IntegerType || y == IntegerType) IntegerType
        else ShortType
      case (TimestampType, DateType) | (DateType, TimestampType) => TimestampType
      case _ => StringType
    }
  }

  def upsertEvolve(target: ParquetTarget, source: DataFrame, pk: Seq[String],
      adjustTypes: Boolean = false): Unit = {
    if (!target.exists) { target.replaceWith(source); return }
    var tgt = target.read
    var src = source
    if (adjustTypes) {
      // adjust_column_type: a shared column whose source type changed
      // widens BOTH sides to the common type — on parquet the rewrite IS
      // the reference's ALTER COLUMN
      src.columns.filter(tgt.columns.contains).foreach { c =>
        val (tt, st) = (tgt.schema(c).dataType, src.schema(c).dataType)
        if (tt != st) {
          val w = widenType(tt, st)
          tgt = tgt.withColumn(c, col(c).cast(w))
          src = src.withColumn(c, col(c).cast(w))
        }
      }
    }
    val newCols = src.columns.filterNot(tgt.columns.contains)
    val widened = newCols.foldLeft(tgt)((d, c) =>
      d.withColumn(c, lit(null).cast(src.schema(c).dataType)))
    val missingInSrc = tgt.columns.filterNot(src.columns.contains)
    val srcAligned = missingInSrc.foldLeft(src)((d, c) =>
      d.withColumn(c, lit(null).cast(tgt.schema(c).dataType)))
    val kept = widened.join(src.select(pk.map(col).toSeq: _*), pk, "left_anti")
    target.replaceWith(kept.unionByName(
      srcAligned.select(widened.columns.map(col).toSeq: _*)))
  }

  /** `merge_insert` only (left-anti append, templates/base.yaml:52-58):
    * insert source rows whose PK is NOT already in the target; never update.
    */
  def insertMissing(target: ParquetTarget, source: DataFrame, pk: Seq[String]): Unit = {
    if (!target.exists) { target.replaceWith(source); return }
    val tgt = target.read
    val fresh = source.join(tgt.select(pk.map(col).toSeq: _*), pk, "left_anti")
    target.append(fresh.select(tgt.columns.map(col).toSeq: _*))
  }

  /** `history_insert` (SCD2-style append, strategy constant
    * database.go:2927): rows carry `_sling_valid_from` / `_sling_valid_to`
    * (null = current). A load at `loadTs` closes current rows whose non-PK
    * content changed and appends the new versions; unchanged and absent PKs
    * are left as-is. Change detection = hash over non-PK columns.
    */
  def historyInsert(target: ParquetTarget, source: DataFrame, pk: Seq[String],
      loadTs: java.sql.Timestamp): Unit = {
    val vf = "_sling_valid_from"
    val vt = "_sling_valid_to"
    def stamp(df: DataFrame) =
      df.withColumn(vf, lit(loadTs)).withColumn(vt, lit(null).cast("timestamp"))
    if (!target.exists) { target.replaceWith(stamp(source)); return }
    val tgt = target.read
    val dataCols = source.columns.toSeq.filterNot(pk.contains)
    def rowHash(df: DataFrame): Column =
      md5(concat_ws("|", dataCols.map(c => col(c).cast("string")): _*))
    val src = source.withColumn("__h", rowHash(source))
    val cur = tgt.filter(col(vt).isNull).withColumn("__h", rowHash(tgt))
    // current rows whose content changed for a PK present in the source
    val changedKeys = cur.alias("t")
      .join(src.alias("s"), pk)
      .filter(col("t.__h") =!= col("s.__h"))
      .select(pk.map(k => col(s"t.$k")): _*)
    val closed = tgt.filter(col(vt).isNull)
      .join(changedKeys, pk, "left_semi")
      .withColumn(vt, lit(loadTs))
    val untouched = tgt.filter(col(vt).isNotNull)
      .unionByName(tgt.filter(col(vt).isNull).join(changedKeys, pk, "left_anti"))
    // new versions: changed PKs plus PKs never seen before
    val brandNew = src.join(cur.select(pk.map(col).toSeq: _*), pk, "left_anti")
    val newVersions = stamp(src.join(changedKeys, pk, "left_semi")
      .unionByName(brandNew).drop("__h"))
      .select(tgt.columns.map(col).toSeq: _*)
    target.replaceWith(untouched.unionByName(closed).unionByName(newVersions))
  }

  /** `delete_missing`: remove (hard) or flag with `_sling_deleted` (soft)
    * target rows whose PK is absent from the source (closed-source in the
    * reference, semantics from templates/base.yaml:13-27
    * `delete_where_not_exist`). Scoped by `target_options.delete_missing.
    * source_where/target_where` (tests/replications/r.104.delete_missing_where.yaml):
    * only target rows matching `targetWhere` are deletion-eligible, and
    * only source rows matching `sourceWhere` count as present — the
    * years-of-history table where deletes are detected in a recent window
    * only. Rows outside the target scope are never touched; a NULL-valued
    * predicate means not-eligible (SQL WHERE semantics).
    */
  def deleteMissingScoped(target: ParquetTarget, source: DataFrame,
      pk: Seq[String], sourceWhere: Option[String], targetWhere: Option[String],
      soft: Boolean): Unit = {
    val tgt = target.read
    val srcKeys = sourceWhere.fold(source)(source.filter(_))
      .select(pk.map(col).toSeq: _*).distinct
      .withColumn("__present", lit(1))
    val eligible = coalesce(
      targetWhere.map(expr).getOrElse(lit(true)).cast("boolean"), lit(false))
    val joined = tgt.join(srcKeys, pk, "left")
    val missing = eligible && col("__present").isNull
    // out-of-scope rows keep a flag set by an earlier run — "never touched"
    // includes not resurrecting them; in-scope rows present again clear it
    val prior =
      if (tgt.columns.contains("_sling_deleted"))
        coalesce(col("_sling_deleted"), lit(false))
      else lit(false)
    target.replaceWith(
      if (soft) joined
        .withColumn("_sling_deleted", when(eligible, missing).otherwise(prior))
        .drop("__present")
      else joined.filter(!missing).select(tgt.columns.map(col).toSeq: _*))
  }

  /** `backfill`: re-load an explicit `[lo, hi]` range of the update key
    * (task_run_read.go:173-204, range filter base.yaml:49): target rows inside
    * the range are replaced by source rows inside the range.
    *
    * Scale: with a time-partitioned target this is dynamic partition
    * overwrite — only the affected partitions rewrite.
    */
  def backfill(target: ParquetTarget, source: DataFrame, key: String, lo: Column, hi: Column): Unit = {
    // null-safe: a NULL update key evaluates the range predicate to NULL,
    // which a bare filter(!inRange) would DROP — silently deleting every
    // null-key target row outside the backfilled window
    val inRange = coalesce(col(key) >= lo && col(key) <= hi, lit(false))
    if (!target.exists) { target.replaceWith(source.filter(inRange)); return }
    val tgt = target.read
    val keep = tgt.filter(!inRange)
    target.replaceWith(keep.unionByName(
      source.filter(inRange).select(tgt.columns.map(col).toSeq: _*)))
  }
}
