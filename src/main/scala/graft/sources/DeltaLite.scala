package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructField, StructType}

/** Minimal Delta Lake table support over the public transaction-log protocol
  * (protocol/reader version 1: JSON commits of add/remove/metaData actions) —
  * no delta-spark jar needed. The reference scans Delta via an embedded
  * engine (core/dbio/iop/delta.go:1-50, duckdb delta_scan); here the log
  * replay is driver-side metadata work and the data read is a normal
  * distributed parquet scan of the active files, so partition pruning and
  * column pruning apply as usual.
  *
  * Supported: JSON commits, parquet checkpoints via _last_checkpoint
  * (single-file and (r7) multi-part via the `parts` field),
  * append/overwrite writes with single-writer commits, and (r6b) the
  * `deletionVectors` reader feature: each DV is decoded distributedly
  * (one task per vector, RoaringBitmapArray portable format via
  * [[DeletionVectors]]) into (file, position) rows that anti-join the
  * scan's `_metadata.file_path`/`row_index` — the same O(rows) shape as
  * the Iceberg v2 position deletes.
  *
  * (r7) Column mapping (`delta.columnMapping.mode` = `name` | `id`): the
  * latest metaData action's schemaString carries per-field
  * `delta.columnMapping.physicalName`/`id` metadata. `name` mode reads the
  * parquet files under their physical schema and projects back to logical
  * names (recursively through structs); `id` mode builds a logical-named
  * read schema tagged with `parquet.field.id` and lets Spark's field-id
  * resolution match parquet columns by id
  * (`spark.sql.parquet.fieldId.read.enabled`). Both stay ordinary
  * distributed parquet scans — pruning and pushdown still apply, only the
  * requested schema changes. Still rejected: v3 reader features other than
  * deletionVectors/columnMapping.
  */
/** Checkpoint row shapes (spec: one parquet row per action, unused action
  * columns null). Top-level so Spark's product encoders resolve them. */
private[sources] case class CpDv(storageType: String, pathOrInlineDv: String,
    offset: Int, sizeInBytes: Int)
private[sources] case class CpAdd(path: String,
    partitionValues: Map[String, String], stats: Option[String],
    deletionVector: Option[CpDv] = None)

/** A checkpoint add action in uniform flat shape (absent checkpoint
  * columns null-padded) — the executor-side row of the scale-safe
  * snapshot plan. Top-level for the product encoder. */
private[sources] case class CpAddRaw(p: String, dst: Option[String],
    ddv: Option[String], doff: Option[Int], dsz: Option[Int],
    st: Option[String], pv: Option[Map[String, String]]) {
  def toEntry: DeltaLite.FileEntry = DeltaLite.FileEntry(p,
    dst.map(s => DeletionVectors.Descriptor(s, ddv.getOrElse(""),
      doff.getOrElse(1), dsz.getOrElse(0))),
    st, pv.getOrElse(Map.empty))
}
private[sources] case class CpMeta(id: String, schemaString: String,
    configuration: Map[String, String], partitionColumns: Seq[String])
private[sources] case class CpProto(minReaderVersion: Int, minWriterVersion: Int,
    readerFeatures: Option[Seq[String]] = None,
    writerFeatures: Option[Seq[String]] = None)
private[sources] case class CpRow(add: Option[CpAdd], metaData: Option[CpMeta],
    protocol: Option[CpProto])

object DeltaLite {

  private val mapper = new ObjectMapper()

  /** Conf key: when a CHECKPOINT-LESS log holds at least this many JSON
    * commits, replay them as a distributed text scan + keyed last-wins
    * aggregation instead of the driver loop (whose add-map is otherwise
    * unbounded — a writer that never checkpoints can accumulate 10⁵
    * commits). Checkpointed logs keep the driver loop: their commit tail
    * is small by construction. */
  val CommitPlanThresholdKey = "graft.delta.planning.distributedCommitThreshold"
  private val DefaultCommitThreshold = 1024

  private def logDir(table: String) = new Path(table, "_delta_log")
  private def commitFile(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  /** One active file: path relative to the table root + optional DV +
    * the add action's raw `stats` JSON (file skipping input) + its
    * `partitionValues` (null value = null partition). */
  final case class FileEntry(path: String,
      dv: Option[DeletionVectors.Descriptor], stats: Option[String] = None,
      partitionValues: Map[String, String] = Map.empty)

  /** Latest metaData action: logical schema JSON + table configuration +
    * partition columns (physical names under column mapping, per the
    * protocol). */
  final case class Meta(schemaString: String, configuration: Map[String, String],
      partitionColumns: Seq[String] = Nil)

  /** A replayed snapshot: active files, latest version, latest metaData. */
  final case class Snapshot(entries: Seq[FileEntry], version: Long,
      meta: Option[Meta])

  // ---- log replay --------------------------------------------------------

  /** Replay the log; return (active files, latest version). */
  def activeEntries(spark: SparkSession, table: String): (Seq[FileEntry], Long) = {
    val s = snapshot(spark, table)
    (s.entries, s.version)
  }

  /** Replay the log including the latest metaData action.
    *
    * NOTE: this materializes every active entry (including stats strings)
    * on the driver — fine for fixtures, tests, and the checkpoint writer.
    * The READ path goes through [[snapshotPlan]]/[[collectEntries]], which
    * keep the checkpoint part distributed, prune BEFORE collecting, and
    * drop stats strings after predicate evaluation (the r7 scale fix).
    */
  def snapshot(spark: SparkSession, table: String): Snapshot = {
    val plan = snapshotPlan(spark, table)
    Snapshot(collectEntries(spark, plan, None, keepStats = true),
      plan.version, plan.meta)
  }

  /** The scale-safe snapshot shape: the checkpoint's add actions stay a
    * Dataset (never fully driver-held); the JSON commits after it — a
    * bounded tail by checkpointing policy — become a small driver overlay
    * of re-added entries and removed paths. */
  private[sources] final case class SnapshotPlan(
      cpAdds: Option[org.apache.spark.sql.Dataset[CpAddRaw]],
      overlayAdds: Seq[FileEntry], removed: Set[String],
      version: Long, meta: Option[Meta])

  private[sources] def snapshotPlan(spark: SparkSession,
      table: String): SnapshotPlan = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = logDir(table)
    require(fs.exists(dir), s"not a delta table: $table (no _delta_log)")

    // JSON-commit overlay: adds since the checkpoint (last-wins) and
    // removed paths. When no checkpoint exists the overlay IS the state.
    val overlay = mutable.LinkedHashMap[String,
      (Option[DeletionVectors.Descriptor], Option[String], Map[String, String])]()
    val removed = mutable.Set[String]()
    var meta: Option[Meta] = None
    var cpAdds: Option[org.apache.spark.sql.Dataset[CpAddRaw]] = None

    // start from the newest parquet checkpoint if one is advertised
    val lastCp = new Path(dir, "_last_checkpoint")
    val startVersion =
      if (fs.exists(lastCp)) {
        val in = fs.open(lastCp)
        val cpNode = try mapper.readTree(in) finally in.close()
        val cpVer = cpNode.path("version").asLong
        // multi-part checkpoints (the norm for large logs): `parts` in
        // _last_checkpoint → N files %020d.checkpoint.%010d.%010d.parquet,
        // actions split across them; a plain union restores the snapshot
        val partsNode = cpNode.path("parts")
        val cpPaths =
          if (partsNode.isMissingNode || partsNode.isNull)
            Seq(new Path(dir, f"$cpVer%020d.checkpoint.parquet").toString)
          else {
            val n = partsNode.asInt
            (1 to n).map(i =>
              new Path(dir, f"$cpVer%020d.checkpoint.$i%010d.$n%010d.parquet").toString)
          }
        val cp = spark.read.parquet(cpPaths: _*)
        if (cp.columns.contains("protocol")) {
          import org.apache.spark.sql.types.StructType
          val protoType = cp.schema("protocol").dataType.asInstanceOf[StructType]
          val feats =
            if (protoType.fieldNames.contains("readerFeatures"))
              cp.select("protocol.minReaderVersion", "protocol.readerFeatures")
                .na.drop(Seq("minReaderVersion")).collect().headOption
                .map(r => (r.getInt(0), Option(r.getSeq[String](1))
                  .map(_.toSet).getOrElse(Set.empty[String])))
            else cp.select("protocol.minReaderVersion").na.drop().collect()
              .headOption.map(r => (r.getInt(0), Set.empty[String]))
          feats.foreach { case (v, f) => checkProtocol(v, f) }
        }
        if (cp.columns.contains("metaData")) {
          cp.select("metaData.schemaString", "metaData.configuration",
            "metaData.partitionColumns")
            .na.drop(Seq("schemaString")).collect().headOption.foreach { r =>
              val conf = if (r.isNullAt(1)) Map.empty[String, String]
                else r.getMap[String, String](1).toMap
              val pcols = if (r.isNullAt(2)) Nil else r.getSeq[String](2).toSeq
              meta = Some(Meta(r.getString(0), conf, pcols))
            }
        }
        if (cp.columns.contains("add")) {
          import org.apache.spark.sql.functions.{col, lit}
          import org.apache.spark.sql.types.{IntegerType, MapType, StringType, StructType}
          val addType = cp.schema("add").dataType.asInstanceOf[StructType]
          val hasDv = addType.fieldNames.contains("deletionVector")
          val hasStats = addType.fieldNames.contains("stats")
          val hasPv = addType.fieldNames.contains("partitionValues")
          def orNull(present: Boolean, c: => Column, dt: DataType) =
            if (present) c else lit(null).cast(dt)
          val cols = Seq(
            col("add.path").as("p"),
            orNull(hasDv, col("add.deletionVector.storageType"), StringType).as("dst"),
            orNull(hasDv, col("add.deletionVector.pathOrInlineDv"), StringType).as("ddv"),
            orNull(hasDv, col("add.deletionVector.offset"), IntegerType).as("doff"),
            orNull(hasDv, col("add.deletionVector.sizeInBytes"), IntegerType).as("dsz"),
            orNull(hasStats, col("add.stats"), StringType).as("st"),
            orNull(hasPv, col("add.partitionValues"),
              MapType(StringType, StringType)).as("pv"))
          // the add actions STAY distributed — never collected here; the
          // consumer prunes and projects on executors first
          import spark.implicits._
          cpAdds = Some(cp.select(cols: _*).na.drop(Seq("p")).as[CpAddRaw])
        }
        cpVer + 1
      } else 0L

    val commits = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json"))
      .map(n => n.stripSuffix(".json").toLong)
      .filter(_ >= startVersion).sorted
    var version = startVersion - 1
    val commitThreshold = spark.conf.getOption(CommitPlanThresholdKey)
      .map(_.toInt).getOrElse(DefaultCommitThreshold)
    if (cpAdds.isEmpty && commits.length >= math.max(1, commitThreshold)) {
      // Guard for checkpoint-less logs with very many commits (VERDICT r8
      // item 8): the driver loop below holds every add in a map, which is
      // unbounded when no checkpoint caps the tail. Parse the commits as a
      // distributed text scan instead and reconcile last-wins per path with
      // one keyed aggregation; the reconciled adds take the same
      // executor-resident Dataset seat a checkpoint's adds would, so
      // pruning and projection stay off the driver.
      import org.apache.spark.sql.functions.{coalesce => fCoalesce, col => fCol,
        from_json, input_file_name, max_by, regexp_extract, struct}
      import org.apache.spark.sql.types._
      import spark.implicits._
      val actionSchema = StructType(Seq(
        StructField("add", StructType(Seq(
          StructField("path", StringType),
          StructField("deletionVector", StructType(Seq(
            StructField("storageType", StringType),
            StructField("pathOrInlineDv", StringType),
            StructField("offset", IntegerType),
            StructField("sizeInBytes", IntegerType)))),
          StructField("stats", StringType),
          StructField("partitionValues", MapType(StringType, StringType))))),
        StructField("remove", StructType(Seq(
          StructField("path", StringType)))),
        StructField("metaData", StructType(Seq(
          StructField("schemaString", StringType),
          StructField("configuration", MapType(StringType, StringType)),
          StructField("partitionColumns", ArrayType(StringType))))),
        StructField("protocol", StructType(Seq(
          StructField("minReaderVersion", IntegerType),
          StructField("readerFeatures", ArrayType(StringType)))))))
      val raw = spark.read.text(commits.map(v => commitFile(table, v).toString): _*)
        .withColumn("__v",
          regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long"))
        .withColumn("__a", from_json(fCol("value"), actionSchema))
      // file actions: last (version, add-beats-remove) action per path wins.
      // The within-commit tiebreak matters: a DV rewrite emits remove(p) +
      // add(p) in ONE commit and the add is the surviving state.
      val fileActs = raw
        .filter(fCol("__a.add.path").isNotNull || fCol("__a.remove.path").isNotNull)
        .select(
          fCoalesce(fCol("__a.add.path"), fCol("__a.remove.path")).as("p"),
          fCol("__v"),
          fCol("__a.add.path").isNotNull.as("isAdd"),
          fCol("__a.add.deletionVector.storageType").as("dst"),
          fCol("__a.add.deletionVector.pathOrInlineDv").as("ddv"),
          fCol("__a.add.deletionVector.offset").as("doff"),
          fCol("__a.add.deletionVector.sizeInBytes").as("dsz"),
          fCol("__a.add.stats").as("st"),
          fCol("__a.add.partitionValues").as("pv"))
      val live = fileActs.groupBy("p")
        .agg(max_by(
          struct(fCol("isAdd"), fCol("dst"), fCol("ddv"), fCol("doff"),
            fCol("dsz"), fCol("st"), fCol("pv")),
          struct(fCol("__v"), fCol("isAdd").cast("int"))).as("a"))
        .filter(fCol("a.isAdd"))
        .select(fCol("p"), fCol("a.dst").as("dst"), fCol("a.ddv").as("ddv"),
          fCol("a.doff").as("doff"), fCol("a.dsz").as("dsz"),
          fCol("a.st").as("st"), fCol("a.pv").as("pv"))
        .as[CpAddRaw]
      cpAdds = Some(live)
      // metaData / protocol: rare actions — latest each, two tiny collects
      raw.filter(fCol("__a.metaData.schemaString").isNotNull)
        .select(fCol("__v"), fCol("__a.metaData.schemaString"),
          fCol("__a.metaData.configuration"),
          fCol("__a.metaData.partitionColumns"))
        .orderBy(fCol("__v").desc).limit(1).collect().headOption.foreach { r =>
          meta = Some(Meta(r.getString(1),
            if (r.isNullAt(2)) Map.empty
            else r.getMap[String, String](2).toMap,
            if (r.isNullAt(3)) Nil else r.getSeq[String](3).toSeq))
        }
      raw.filter(fCol("__a.protocol.minReaderVersion").isNotNull)
        .select(fCol("__v"), fCol("__a.protocol.minReaderVersion"),
          fCol("__a.protocol.readerFeatures"))
        .orderBy(fCol("__v").desc).limit(1).collect().headOption.foreach { r =>
          checkProtocol(r.getInt(1),
            if (r.isNullAt(2)) Set.empty
            else r.getSeq[String](2).toSet)
        }
      version = commits.last
    } else
    commits.foreach { v =>
      val in = fs.open(commitFile(table, v))
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      text.linesIterator.filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        val proto = node.path("protocol")
        if (!proto.isMissingNode) {
          val feats = mutable.Set[String]()
          proto.path("readerFeatures").forEach(f => feats += f.asText)
          checkProtocol(proto.path("minReaderVersion").asInt, feats.toSet)
        }
        val md = node.path("metaData")
        if (!md.isMissingNode) {
          val conf = mutable.Map[String, String]()
          val c = md.path("configuration")
          c.fieldNames().forEachRemaining(k => conf += k -> c.path(k).asText)
          val pcols = mutable.ArrayBuffer[String]()
          md.path("partitionColumns").forEach(p => pcols += p.asText)
          meta = Some(Meta(md.path("schemaString").asText, conf.toMap,
            pcols.toSeq))
        }
        val add = node.path("add")
        if (!add.isMissingNode) {
          val dvNode = add.path("deletionVector")
          val dv = if (dvNode.isMissingNode) None
            else Some(DeletionVectors.Descriptor(
              dvNode.path("storageType").asText,
              dvNode.path("pathOrInlineDv").asText,
              if (dvNode.path("offset").isMissingNode) 1
              else dvNode.path("offset").asInt,
              dvNode.path("sizeInBytes").asInt))
          val statsNode = add.path("stats")
          val st = if (statsNode.isMissingNode || statsNode.isNull) None
            else Some(statsNode.asText)
          val pvNode = add.path("partitionValues")
          val pv = mutable.Map[String, String]()
          if (pvNode.isObject) pvNode.fieldNames().forEachRemaining { k =>
            pv += k -> (if (pvNode.path(k).isNull) null
              else pvNode.path(k).asText)
          }
          val p = add.path("path").asText
          overlay += p -> (dv, st, pv.toMap)
          removed -= p
        }
        val remove = node.path("remove")
        if (!remove.isMissingNode) {
          val p = remove.path("path").asText
          overlay -= p
          removed += p
        }
      }
      version = v
    }
    SnapshotPlan(cpAdds,
      overlay.map { case (p, (dv, st, pv)) => FileEntry(p, dv, st, pv) }.toSeq,
      removed.toSet, version, meta)
  }

  /** Materialize a plan's active entries. `cond` prunes ON THE EXECUTORS
    * (stats-JSON parse + bounds check per checkpoint row) before anything
    * reaches the driver; unless `keepStats`, stats strings are dropped
    * post-evaluation so a million-file snapshot collects only paths, DVs
    * and partition values. */
  private[sources] def collectEntries(spark: SparkSession, plan: SnapshotPlan,
      cond: Option[String], keepStats: Boolean): Seq[FileEntry] = {
    import spark.implicits._
    val pruner = cond.map(prunerFor(plan.meta, _))
    val dead: Set[String] = plan.removed ++ plan.overlayAdds.map(_.path)
    val cpPart: Seq[FileEntry] = plan.cpAdds.map { ds0 =>
      val live = if (dead.isEmpty) ds0 else ds0.filter(r => !dead.contains(r.p))
      val kept = pruner match {
        case Some((pred, types)) =>
          live.filter(r => FileSkipping.mayContain(pred,
            entryStats(r.toEntry, types)))
        case None => live
      }
      val slim = if (keepStats) kept else kept.map(_.copy(st = None))
      slim.collect().toSeq.map(_.toEntry)
    }.getOrElse(Nil)
    val overlayKept = pruner match {
      case Some((pred, types)) =>
        plan.overlayAdds.filter(e => FileSkipping.mayContain(pred,
          entryStats(e, types)))
      case None => plan.overlayAdds
    }
    cpPart ++ (if (keepStats) overlayKept
               else overlayKept.map(_.copy(stats = None)))
  }

  /** One arbitrary active entry (schema anchor when pruning empties the
    * scan) without materializing the snapshot. */
  private def firstEntry(spark: SparkSession, plan: SnapshotPlan): Option[FileEntry] = {
    val dead: Set[String] = plan.removed ++ plan.overlayAdds.map(_.path)
    plan.overlayAdds.headOption.orElse(plan.cpAdds.flatMap { ds =>
      val live = if (dead.isEmpty) ds else ds.filter(r => !dead.contains(r.p))
      live.take(1).headOption.map(_.copy(st = None).toEntry)
    })
  }

  /** Back-compat shape: active paths only (DVs dropped). */
  def activeFiles(spark: SparkSession, table: String): (Seq[String], Long) = {
    val (entries, v) = activeEntries(spark, table)
    (entries.map(_.path), v)
  }

  private val SupportedReaderFeatures = Set("deletionVectors", "columnMapping")

  private def checkProtocol(minReader: Int, readerFeatures: Set[String]): Unit =
    if (minReader >= 3) {
      val unsupported = readerFeatures -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"unsupported delta reader features $unsupported")
    } else require(minReader <= 2, // 2 = column mapping, supported since r7
      s"unsupported delta minReaderVersion $minReader")

  // ---- column mapping ----------------------------------------------------

  private def physName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** Logical schema → schema under physical column names (structs recurse). */
  private def toPhysicalSchema(logical: StructType): StructType =
    StructType(logical.fields.map { f =>
      val dt = f.dataType match {
        case st: StructType => toPhysicalSchema(st)
        case other => other
      }
      StructField(physName(f), dt, f.nullable)
    })

  /** Logical schema with `parquet.field.id` tags so Spark's field-id
    * resolution matches parquet columns by delta.columnMapping.id. */
  private def toIdSchema(logical: StructType): StructType =
    StructType(logical.fields.map { f =>
      require(f.metadata.contains("delta.columnMapping.id"),
        s"column mapping mode=id but field ${f.name} has no delta.columnMapping.id")
      val md = new MetadataBuilder()
        .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        .build()
      val dt = f.dataType match {
        case st: StructType => toIdSchema(st)
        case other => other
      }
      StructField(f.name, dt, f.nullable, md)
    })

  /** Rebuild a physically-named column as its logical shape. */
  private def toLogicalCol(c: Column, f: StructField): Column = {
    import org.apache.spark.sql.functions.{struct, when}
    f.dataType match {
      case st: StructType =>
        val rebuilt = struct(st.fields.map(cf =>
          toLogicalCol(c.getField(physName(cf)), cf).as(cf.name)).toSeq: _*)
        when(c.isNotNull, rebuilt)
      case _ => c
    }
  }

  /** Distributed read of the table's current snapshot, DVs and column
    * mapping applied. */
  def read(spark: SparkSession, table: String): DataFrame =
    readCore(spark, table, None)

  /** [[read]] plus a SQL predicate: files whose add-action `stats` prove
    * they cannot match are skipped BEFORE the scan (data skipping — at
    * scale this is the difference between one file and the whole table),
    * and the predicate is then applied to the surviving rows, so the
    * result always equals `read(...).filter(condition)`. */
  def readWhere(spark: SparkSession, table: String, condition: String): DataFrame =
    readCore(spark, table, Some(condition))

  /** Delta `stats` JSON → the shared skipping shape. Unparseable stats
    * degrade to NoStats (file kept). */
  private[sources] def parseStats(json: String): FileSkipping.FileStats =
    try {
      val node = mapper.readTree(json)
      val num = if (node.path("numRecords").isNumber)
        Some(node.path("numRecords").asLong) else None
      def valuesOf(field: String): Map[String, Any] = {
        val n = node.path(field)
        val out = mutable.Map[String, Any]()
        if (n.isObject) n.fieldNames().forEachRemaining { k =>
          n.path(k) match {
            case v if v.isNumber => out += k.toLowerCase -> BigDecimal(v.decimalValue())
            case v if v.isTextual => out += k.toLowerCase -> v.asText
            case v if v.isBoolean => out += k.toLowerCase -> v.asBoolean
            case _ => // nested-struct stats: skipped, conservative
          }
        }
        out.toMap
      }
      val mins = valuesOf("minValues")
      val maxs = valuesOf("maxValues")
      val nulls = {
        val n = node.path("nullCount")
        val out = mutable.Map[String, Long]()
        if (n.isObject) n.fieldNames().forEachRemaining { k =>
          if (n.path(k).isNumber) out += k.toLowerCase -> n.path(k).asLong
        }
        out.toMap
      }
      val cols = (mins.keySet ++ maxs.keySet ++ nulls.keySet).map { c =>
        c -> FileSkipping.ColStats(mins.get(c), maxs.get(c), nulls.get(c))
      }.toMap
      FileSkipping.FileStats(num, cols)
    } catch { case scala.util.control.NonFatal(_) => FileSkipping.NoStats }

  /** Compile `condition` into the executor-shippable pruning inputs:
    * the parsed predicate (column names renamed to physical under column
    * mapping) and the physical-name → type map for partition-value
    * bounds. Both are plain serializable values. */
  private[sources] def prunerFor(meta: Option[Meta],
      condition: String): (FileSkipping.Pred, Map[String, DataType]) = {
    val pred0 = FileSkipping.parse(condition)
    val mode = meta.flatMap(_.configuration.get("delta.columnMapping.mode"))
      .filter(_ != "none")
    val pred = mode match {
      case Some(_) =>
        val logical = DataType.fromJson(meta.get.schemaString)
          .asInstanceOf[StructType]
        FileSkipping.renameCols(pred0,
          logical.fields.map(f => f.name.toLowerCase -> physName(f)).toMap)
      case None => pred0
    }
    val schemaTypes: Map[String, DataType] = meta.map { m =>
      val sch = DataType.fromJson(m.schemaString).asInstanceOf[StructType]
      sch.fields.map(f => physName(f).toLowerCase -> f.dataType).toMap
    }.getOrElse(Map.empty)
    (pred, schemaTypes)
  }

  /** Per-entry skipping stats: the add action's stats JSON plus EXACT
    * synthesized bounds for partition columns (min = max = the file's
    * partition value) — a predicate on a partition column prunes at the
    * metadata level with no scan at all, Delta's partition pruning. Runs
    * on executors for checkpoint rows. */
  private[sources] def entryStats(e: FileEntry,
      schemaTypes: Map[String, DataType]): FileSkipping.FileStats = {
    val base = e.stats.map(parseStats).getOrElse(FileSkipping.NoStats)
    if (e.partitionValues.isEmpty) base
    else {
      val pvCols = e.partitionValues.map { case (k, v) =>
        k.toLowerCase -> (if (v == null)
          // all rows in the file have a null partition value: no bounds;
          // nullCount = numRecords when known so IS NOT NULL can prune
          FileSkipping.ColStats(None, None,
            Some(base.numRecords.getOrElse(1L)))
        else {
          val dom = schemaTypes.get(k.toLowerCase)
            .flatMap(FileSkipping.domainValue(v, _))
          FileSkipping.ColStats(dom, dom, Some(0L))
        })
      }
      FileSkipping.FileStats(base.numRecords, base.cols ++ pvCols)
    }
  }

  /** (kept, total) file counts for `condition` — pruning observability.
    * Both sides count distributedly; no entry list is driver-held. */
  def pruneCount(spark: SparkSession, table: String, condition: String): (Int, Int) = {
    val plan = snapshotPlan(spark, table)
    val (pred, types) = prunerFor(plan.meta, condition)
    val dead: Set[String] = plan.removed ++ plan.overlayAdds.map(_.path)
    val (cpKept, cpTotal) = plan.cpAdds.map { ds =>
      val live = if (dead.isEmpty) ds else ds.filter(r => !dead.contains(r.p))
      (live.filter(r => FileSkipping.mayContain(pred,
        entryStats(r.toEntry, types))).count(), live.count())
    }.getOrElse((0L, 0L))
    val ovKept = plan.overlayAdds.count(e =>
      FileSkipping.mayContain(pred, entryStats(e, types)))
    ((cpKept + ovKept).toInt, (cpTotal + plan.overlayAdds.size).toInt)
  }

  private def readCore(spark: SparkSession, table: String,
      where: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val plan = snapshotPlan(spark, table)
    val snapMeta = plan.meta
    val entries = where match {
      case None => collectEntries(spark, plan, None, keepStats = false)
      case Some(cond) =>
        val kept = collectEntries(spark, plan, Some(cond), keepStats = false)
        // every file provably mismatches → scan ONE file so the result
        // keeps the table schema; the trailing filter empties it
        if (kept.isEmpty) firstEntry(spark, plan).toSeq else kept
    }
    require(entries.nonEmpty, s"delta table $table has no active files")
    val snap = Snapshot(entries, plan.version, snapMeta)
    val mode = snap.meta.flatMap(_.configuration.get("delta.columnMapping.mode"))
      .filter(_ != "none")
    val metaSchema = snap.meta.map(m =>
      DataType.fromJson(m.schemaString).asInstanceOf[StructType])
    val logical = mode.map(_ => metaSchema.get)
    // protocol: partition columns live ONLY in the add actions'
    // partitionValues (the parquet files don't contain them) — attach them
    // per file from the log via a broadcast join, cast to declared types
    val partCols = snap.meta.map(_.partitionColumns).getOrElse(Nil)
    val needPv = partCols.nonEmpty && metaSchema.isDefined
    val partSet = partCols.toSet
    def dropPart(s: StructType): StructType =
      if (!needPv) s
      else StructType(s.fields.filterNot(f => partSet.contains(physName(f))))
    val paths = entries.map(e => s"$table/${e.path}")
    // basePath keeps hive-style partition dirs resolving to partition
    // columns for tables whose log declares none (legacy layout); when the
    // log DOES declare partitionColumns, values come from the log and dir
    // inference must stay off or the columns would appear twice
    val reader = if (needPv) spark.read
      else spark.read.option("basePath", table)
    val base0 = mode match {
      case None =>
        if (needPv) reader.schema(dropPart(metaSchema.get)).parquet(paths: _*)
        else reader.parquet(paths: _*)
      case Some("name") =>
        // parquet files carry physical names; request them, rename below
        reader.schema(toPhysicalSchema(dropPart(logical.get))).parquet(paths: _*)
      case Some("id") =>
        // resolve by parquet field id: the requested schema already uses
        // logical names, so no rename pass is needed afterwards
        PathNorm.byFieldId(spark)(s =>
          (if (needPv) s.read else s.read.option("basePath", table))
            .schema(toIdSchema(dropPart(logical.get))).parquet(paths: _*))
      case Some(other) =>
        sys.error(s"unsupported delta.columnMapping.mode $other")
    }
    val base = if (needPv)
      base0.withColumn("__pv_fp", PathNorm.normUri(col("_metadata.file_path")))
    else base0
    val afterDv = applyDeletionVectors(spark, table, base, entries)
    val afterPv = if (!needPv) afterDv else {
      val pvSchema = StructType(
        StructField("__pv_fp2", org.apache.spark.sql.types.StringType,
          nullable = false) +:
        partCols.map(pc => StructField(s"__pv_$pc",
          org.apache.spark.sql.types.StringType, nullable = true)))
      // _metadata.file_path is the file URI — percent-encoded on top of the
      // raw fs name (space → %20, a literal % → %25); encode the log path
      // the same way or escaped partition dirs would never join
      def encAbs(rel: String): String = {
        val abs = s"$table/$rel".replaceFirst("^file:/+", "/")
        try new java.net.URI(null, null, abs, null).toASCIIString
        catch { case _: Exception => abs }
      }
      val pvRows = entries.map(e => org.apache.spark.sql.Row.fromSeq(
        encAbs(e.path) +: partCols.map(pc => e.partitionValues.get(pc).orNull)))
      val pvDf = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(pvRows, 1), pvSchema))
      afterDv.join(pvDf, afterDv("__pv_fp") === pvDf("__pv_fp2"), "left")
        .drop("__pv_fp", "__pv_fp2")
    }
    // final projection: logical names + declared types, schema order
    val mapped =
      if (mode.contains("name"))
        afterPv.select(logical.get.fields.map { f =>
          if (needPv && partSet.contains(physName(f)))
            col(s"`__pv_${physName(f)}`").cast(f.dataType).as(f.name)
          else toLogicalCol(col(s"`${physName(f)}`"), f).as(f.name)
        }.toSeq: _*)
      else if (needPv)
        afterPv.select(metaSchema.get.fields.map { f =>
          if (partSet.contains(physName(f)))
            col(s"`__pv_${physName(f)}`").cast(f.dataType).as(f.name)
          else col(s"`${f.name}`")
        }.toSeq: _*)
      else afterDv
    val filtered = where
      .map(c => mapped.filter(org.apache.spark.sql.functions.expr(c)))
      .getOrElse(mapped)
    // id-mode reads request a schema carrying parquet.field.id metadata;
    // strip it from the result so callers re-using df.schema against
    // id-less files don't trip fieldId resolution (conf stays set — the
    // lazy scan still needs it at execution). Identity for other modes.
    PathNorm.stripFieldIds(filtered)
  }

  private def applyDeletionVectors(spark: SparkSession, table: String,
      base: DataFrame, entries: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val withDv = entries.filter(_.dv.nonEmpty)
    if (withDv.isEmpty) base
    else {
      val norm = PathNorm.normUri _
      // one task per vector: decode positions on the executors
      val tableAbs = table
      val hconf = graft.util.HadoopConf(spark.sparkContext.hadoopConfiguration)
      val deleted = spark.sparkContext
        .parallelize(withDv.map(e => (e.path, e.dv.get)), withDv.size)
        .flatMap { case (path, d) =>
          DeletionVectors.readPositions(tableAbs, d, hconf.value)
            .iterator.map(pos => (s"$tableAbs/$path", pos))
        }
      val delDf = spark.createDataFrame(deleted).toDF("__dfp", "__dpos")
        .select(norm(col("__dfp")).as("__dfp"), col("__dpos"))
      val d = base
        .withColumn("__fp", norm(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
      d.join(delDf, d("__fp") === delDf("__dfp") && d("__pos") === delDf("__dpos"),
          "left_anti")
        .drop("__fp", "__pos")
    }
  }

  // ---- writes (single-writer) -------------------------------------------

  private def writeCommit(spark: SparkSession, table: String, v: Long,
      actions: Seq[String]): Unit = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logDir(table))
    val f = commitFile(table, v)
    require(!fs.exists(f), s"concurrent commit: $f exists")
    val out = fs.create(f, false)
    try out.write((actions.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def nextVersion(spark: SparkSession, table: String): Long = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir(table))) 0L
    else fs.listStatus(logDir(table)).map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max) + 1
  }

  private def stageData(df: DataFrame, table: String): Seq[String] = {
    // land parquet in a unique data dir, then reference the files in the log
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode(SaveMode.Overwrite).parquet(s"$table/$sub")
    val fs = new Path(table).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(table, sub))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => s"$sub/${st.getPath.getName}").toSeq
  }

  /** Undo Spark's partition-dir %XX escaping (escapePathName). */
  private def unescapePart(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        try {
          out += Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar
          i += 3
        } catch { case _: NumberFormatException => out += s.charAt(i); i += 1 }
      } else { out += s.charAt(i); i += 1 }
    }
    out.toString
  }

  /** Stage `df` hive-partitioned by `partitionBy`; return each staged file's
    * log-relative path + its partitionValues (null = null partition),
    * parsed back from the escaped `key=value` dir segments. */
  private def stagePartitioned(df: DataFrame, table: String,
      partitionBy: Seq[String]): Seq[(String, Map[String, String])] = {
    val sub = s"data-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(s"$table/$sub")
    val fs = new Path(table).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap(st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
        else Nil)
    walk(new Path(table, sub)).map(_.toString).sorted.map { abs =>
      val rel = abs.substring(abs.indexOf(sub))
      val pv = rel.split('/').dropRight(1).drop(1).flatMap { seg =>
        val i = seg.indexOf('=')
        if (i < 0) None
        else {
          val v0 = seg.substring(i + 1)
          Some(unescapePart(seg.take(i)) ->
            (if (v0 == "__HIVE_DEFAULT_PARTITION__") null else unescapePart(v0)))
        }
      }.toMap
      rel -> pv
    }
  }

  /** JSON string literal (quoted + escaped) — paths may carry quotes. */
  private def jstr(s: String): String = mapper.writeValueAsString(s)

  private def addAction(path: String, stats: Option[String] = None,
      pv: Map[String, String] = Map.empty): String = {
    val pvJson = pv.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${jstr(k)}:${if (v == null) "null" else jstr(v)}"
    }.mkString("{", ",", "}")
    s"""{"add":{"path":${jstr(path)},"partitionValues":$pvJson,"size":0,""" +
      s""""modificationTime":0,"dataChange":true""" +
      stats.map(s => s""","stats":${jstr(s)}""").getOrElse("") + "}}"
  }

  /** metaData action for partitioned fixture writes — real logs always
    * carry one; the reader needs schemaString + partitionColumns to attach
    * and type the partition columns. */
  private def metaActionFor(df: DataFrame, partitionBy: Seq[String]): String =
    s"""{"metaData":{"id":"graft-${java.util.UUID.randomUUID()}",""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(df.schema.json)},""" +
      s""""partitionColumns":${partitionBy.map(jstr).mkString("[", ",", "]")},""" +
      s""""configuration":{},"createdTime":0}}"""

  /** Per-file `stats` JSON (numRecords/minValues/maxValues/nullCount) for
    * the staged files — ONE distributed aggregation over them, collect
    * bounded at one row per file. Atomic columns only; anything else is
    * simply absent from the stats (the reader treats absence as "keep"). */
  private def statsFor(spark: SparkSession, table: String,
      staged: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(staged.map(p => s"$table/$p"): _*)
    val atomic = df.schema.fields.filter(_.dataType match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    })
    val aggs = count(lit(1)).as("__n") +: atomic.zipWithIndex.flatMap {
      case (f, i) =>
        val c = col(s"`${f.name}`")
        Seq(min(c).as(s"mn_$i"), max(c).as(s"mx_$i"),
          sum(when(c.isNull, 1L).otherwise(0L)).as(s"nl_$i"))
    }.toSeq
    val rows = df.groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.flatMap { r =>
      val fp = r.getString(0).replaceFirst("^file:/+", "/")
      staged.find(p => fp.endsWith("/" + p)).map { rel =>
        val root = mapper.createObjectNode()
        root.put("numRecords", r.getLong(1))
        val mins = root.putObject("minValues")
        val maxs = root.putObject("maxValues")
        val nulls = root.putObject("nullCount")
        def putVal(o: com.fasterxml.jackson.databind.node.ObjectNode,
            name: String, v: Any): Unit = v match {
          case null => // all-null file: no bounds for this column
          case x: java.lang.Number if x.isInstanceOf[java.lang.Double] ||
              x.isInstanceOf[java.lang.Float] =>
            o.put(name, x.doubleValue())
          case x: java.math.BigDecimal => o.put(name, x)
          case x: java.lang.Number => o.put(name, x.longValue())
          case x: java.sql.Date => o.put(name, x.toString) // yyyy-MM-dd
          case x: java.sql.Timestamp => o.put(name, x.toInstant.toString)
          case x: java.time.LocalDateTime => o.put(name, x.toString)
          case x: Boolean => o.put(name, x)
          case x => o.put(name, x.toString)
        }
        atomic.indices.foreach { i =>
          putVal(mins, atomic(i).name, r.getAs[Any](s"mn_$i"))
          putVal(maxs, atomic(i).name, r.getAs[Any](s"mx_$i"))
          nulls.put(atomic(i).name, r.getAs[Long](s"nl_$i"))
        }
        rel -> mapper.writeValueAsString(root)
      }
    }.toMap
  }

  private def addActions(spark: SparkSession, table: String,
      staged: Seq[(String, Map[String, String])],
      collectStats: Boolean): Seq[String] = {
    val stats = if (collectStats) statsFor(spark, table, staged.map(_._1))
      else Map.empty[String, String]
    staged.map { case (p, pv) => addAction(p, stats.get(p), pv) }
  }

  private def stageFor(df: DataFrame, table: String,
      partitionBy: Seq[String]): Seq[(String, Map[String, String])] =
    if (partitionBy.isEmpty) stageData(df, table).map(_ -> Map.empty[String, String])
    else stagePartitioned(df, table, partitionBy)

  /** Append `df` as a new commit; `collectStats` adds per-file skipping
    * stats (one extra aggregation pass over the staged files);
    * `partitionBy` stages hive-partitioned files and records their
    * partitionValues (+ a metaData action on the first commit, which the
    * reader requires to re-attach partition columns). */
  def append(df: DataFrame, table: String, collectStats: Boolean = false,
      partitionBy: Seq[String] = Nil,
      checkpointInterval: Int = DefaultCheckpointInterval): Unit = {
    val spark = df.sparkSession
    val v = nextVersion(spark, table)
    val proto = if (v == 0L)
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":1}}""")
    else Nil
    val metaAct = if (partitionBy.nonEmpty && v == 0L)
      Seq(metaActionFor(df, partitionBy)) else Nil
    writeCommit(spark, table, v, proto ++ metaAct ++
      addActions(spark, table, stageFor(df, table, partitionBy), collectStats))
    maybeCheckpoint(spark, table, v, checkpointInterval)
  }

  /** Replace the table contents: one commit removing every active file and
    * adding the new ones — readers see either the old or new snapshot.
    */
  def overwrite(df: DataFrame, table: String, collectStats: Boolean = false,
      partitionBy: Seq[String] = Nil,
      checkpointInterval: Int = DefaultCheckpointInterval): Unit = {
    val spark = df.sparkSession
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (old, _) = if (fs.exists(logDir(table)))
      activeFiles(spark, table) else (Seq.empty[String], -1L)
    val v = nextVersion(spark, table)
    val proto = if (v == 0L)
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":1}}""")
    else Nil
    val metaAct = if (partitionBy.nonEmpty)
      Seq(metaActionFor(df, partitionBy)) else Nil
    val removes = old.map(p =>
      s"""{"remove":{"path":${jstr(p)},"dataChange":true}}""")
    writeCommit(spark, table, v, proto ++ metaAct ++ removes ++
      addActions(spark, table, stageFor(df, table, partitionBy), collectStats))
    maybeCheckpoint(spark, table, v, checkpointInterval)
  }

  /** Spec-default checkpoint cadence (the delta reference writer
    * checkpoints every 10 commits). */
  val DefaultCheckpointInterval = 10

  /** Author a checkpoint when `v` lands on the interval — the write-path
    * half of bounded log replay (VERDICT r9 item 5): without it a
    * long-lived graft-written table accumulates an unbounded JSON-commit
    * tail that the read path's distributed replay merely tolerates. The
    * snapshot() inside writeCheckpoint itself plans from the PREVIOUS
    * checkpoint, so each authoring replays only the commits since — cost
    * stays O(interval) per checkpoint, not O(table age). Interval <= 0
    * disables. */
  private def maybeCheckpoint(spark: SparkSession, table: String, v: Long,
      interval: Int): Unit =
    if (interval > 0 && v > 0 && v % interval == 0)
      writeCheckpoint(spark, table)

  /** Write a parquet checkpoint at the current version advertising the
    * active files, and point `_last_checkpoint` at it — single-file when
    * `parts == 1`, else the multi-part layout
    * (%020d.checkpoint.%010d.%010d.parquet) with the adds round-robined
    * across parts. Spec-shaped rows: the first part carries protocol +
    * metaData actions (when the log has one), and each add keeps its
    * stats + partitionValues — so replay from the checkpoint preserves
    * column mapping, file skipping, and partition columns. DV tables
    * round-trip their descriptors and checkpoint at protocol (3, 7) with
    * the deletionVectors feature.
    */
  def writeCheckpoint(spark: SparkSession, table: String, parts: Int = 1): Unit = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val snap = snapshot(spark, table)
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = logDir(table)
    val names =
      if (parts == 1) Seq(f"${snap.version}%020d.checkpoint.parquet")
      else (1 to parts).map(i =>
        f"${snap.version}%020d.checkpoint.$i%010d.$parts%010d.parquet")
    val groups = snap.entries.zipWithIndex.groupMap(_._2 % parts)(_._1)
    val mapped = snap.meta.exists(_.configuration.contains("delta.columnMapping.mode"))
    val hasDvs = snap.entries.exists(_.dv.nonEmpty)
    import spark.implicits._
    names.zipWithIndex.foreach { case (name, i) =>
      val tmp = new Path(table, s"_cp_tmp_$i")
      val addRows = groups.getOrElse(i, Seq.empty).toSeq.map(e =>
        CpRow(Some(CpAdd(e.path, e.partitionValues, e.stats,
          e.dv.map(d => CpDv(d.storageType, d.pathOrInlineDv,
            d.offset, d.sizeInBytes)))), None, None))
      // DV tables checkpoint at protocol (3, 7) + the deletionVectors
      // feature, matching the JSON-commit upgrade addDeletionVectors wrote
      val proto =
        if (hasDvs) CpProto(3, 7, Some(Seq("deletionVectors")),
          Some(Seq("deletionVectors")))
        else CpProto(if (mapped) 2 else 1, 5)
      val headRows = if (i > 0) Nil else
        CpRow(None, None, Some(proto)) +:
          snap.meta.toSeq.map(m => CpRow(None,
            Some(CpMeta("graft", m.schemaString, m.configuration,
              m.partitionColumns)), None))
      (headRows ++ addRows).toDF()
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part under $tmp"))
      fs.rename(part, new Path(dir, name))
      fs.delete(tmp, true)
    }
    val lcp = fs.create(new Path(dir, "_last_checkpoint"), true)
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    try lcp.write(
      // size counts ALL checkpoint actions per the Delta spec — the
      // protocol row and metaData row(s), not just the adds
      s"""{"version":${snap.version},"size":${
        snap.entries.size + 1 + snap.meta.size}$partsField}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally lcp.close()
  }

  /** Attach deletion vectors: `deletes` carries (path, pos) rows — path
    * relative to the table root, pos = row index within that file. Writes
    * one DV file, upgrades the protocol to readerVersion 3 with the
    * deletionVectors feature, and commits a re-add per affected file.
    * Fixture/bootstrap quality like writeSnapshot (driver-side grouping).
    */
  def addDeletionVectors(table: String, deletes: DataFrame,
      maxPositions: Int = 10_000_000): Unit = {
    val spark = deletes.sparkSession
    // cap-guarded single evaluation: collect at most maxPositions+1 rows
    // (the +1 detects overflow) — this writer groups all positions on the
    // driver, so refuse unbounded inputs, without a separate count job
    // running the upstream plan twice
    val collected = deletes.select("path", "pos")
      .limit(maxPositions + 1).collect()
    require(collected.length <= maxPositions,
      s"addDeletionVectors is a driver-side bootstrap writer: got > " +
        s"$maxPositions delete positions; delete-and-rewrite instead")
    val byFile: Seq[(String, Array[Long])] = collected
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (p, rows) => p -> rows.map(_.getLong(1)) }
    require(byFile.nonEmpty, "no delete positions given")
    val descriptors = DeletionVectors.writeFile(spark, table, byFile.map(_._2))
    val adds = byFile.zip(descriptors).map { case ((path, positions), d) =>
      s"""{"add":{"path":${jstr(path)},"partitionValues":{},"size":0,""" +
        s""""modificationTime":0,"dataChange":false,"deletionVector":{""" +
        s""""storageType":${jstr(d.storageType)},""" +
        s""""pathOrInlineDv":${jstr(d.pathOrInlineDv)},""" +
        s""""offset":${d.offset},"sizeInBytes":${d.sizeInBytes},""" +
        s""""cardinality":${positions.length}}}}"""
    }
    val proto = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
    writeCommit(spark, table, nextVersion(spark, table), proto +: adds)
  }

  /** Bootstrap writer for a column-mapped table: stages `df` under physical
    * column names `col-<i>` (parquet files also carry field ids), then
    * commits the column-mapping protocol plus a metaData action whose
    * schemaString maps logical → physical names. Mirrors what a real Delta
    * writer produces for a table that enabled mapping; used to build read
    * fixtures — the reference reads such tables through delta_scan
    * (core/dbio/iop/delta.go:1-50).
    */
  def writeMapped(df: DataFrame, table: String, mode: String): Unit = {
    require(mode == "name" || mode == "id", s"bad mapping mode $mode")
    val spark = df.sparkSession
    val fields = df.schema.fields.zipWithIndex
    // physical names deliberately differ from every logical name
    def phys(i: Int) = s"col-${i + 1}"
    import org.apache.spark.sql.functions.col
    val physCols = fields.map { case (f, i) =>
      val md = new MetadataBuilder().putLong("parquet.field.id", i + 1L).build()
      col(s"`${f.name}`").as(phys(i), md)
    }
    // the write conf is scoped to this (eager) staging write and restored —
    // a fixture write must not flip parquet emission session-wide
    val prevW = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val staged =
      try stageData(df.select(physCols.toSeq: _*), table)
      finally prevW match {
        case Some(v) => spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
        case None => spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
      }
    val logical = StructType(fields.map { case (f, i) =>
      val md = new MetadataBuilder()
        .putLong("delta.columnMapping.id", i + 1L)
        .putString("delta.columnMapping.physicalName", phys(i))
        .build()
      StructField(f.name, f.dataType, f.nullable, md)
    })
    val proto =
      if (mode == "id")
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}"""
      else """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    val metaAction =
      s"""{"metaData":{"id":${jstr(java.util.UUID.randomUUID().toString)},""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${jstr(logical.json)},"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":${jstr(mode)},""" +
        s""""delta.columnMapping.maxColumnId":"${fields.length}"},""" +
        s""""createdTime":0}}"""
    writeCommit(spark, table, nextVersion(spark, table),
      Seq(proto, metaAction) ++ staged.map(p => addAction(p)))
  }
}
