package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal Iceberg table scan over the public table-format spec — no
  * iceberg-spark runtime jar. The reference scans Iceberg through an
  * embedded engine (core/dbio/iop/iceberg.go:1-50, duckdb `iceberg_scan`);
  * here the metadata walk is scale-aware:
  *
  *   metadata/vN.metadata.json (newest N, or version-hint.text)
  *     → current-snapshot-id → snapshot.manifest-list (avro, driver —
  *       O(#manifests); partition field summaries prune whole manifests
  *       against the predicate before they are even opened)
  *     → manifest_path entries (avro manifests — walked on the driver for
  *       small lists, on EXECUTORS past a manifest-count threshold; column
  *       bounds are evaluated during the walk and only surviving paths are
  *       collected, so a million-file snapshot never materializes
  *       per-file stats on the driver)
  *     → data_file entries (status ADDED/EXISTING kept, DELETED dropped)
  *
  * and the data read is a normal distributed parquet scan of the live
  * files.
  *
  * v2 row-level deletes are applied distributedly: position-delete files
  * (spec columns `file_path`, `pos`) anti-join against the data scan's
  * `_metadata.file_path`/`_metadata.row_index` — Spark's file-position
  * metadata IS the Iceberg position semantics, so no per-file numbering
  * pass is needed; equality-delete files anti-join on their own column
  * set. Both joins are O(rows), shuffle on the join keys, and broadcast
  * when the delete set is small (the usual case).
  *
  * (r7) Sequence-number scoping per the v2 spec: each data/delete file
  * carries its manifest entry's `sequence_number` (inherited from the
  * manifest-list entry when null). A position delete applies only to data
  * files with data seq <= the delete's seq; an equality delete applies
  * strictly (data seq < delete seq) — so a data file committed AFTER a
  * delete file is no longer over-deleted. Files with no sequence info at
  * all keep the old conservative behavior (data seq 0, delete seq MAX).
  * Equality-delete files are grouped by their column set and anti-joined
  * per group, so externally-written tables with heterogeneous
  * equality_ids don't get missing columns NULL-filled into one scan.
  */
object IcebergLite {

  private val mapper = new ObjectMapper()

  /** Read every record of one avro metadata file (manifest list on the
    * driver; manifests on the driver or executors — see [[planFiles]]). */
  private def readAvro(conf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[GenericRecord] = {
    val p = new Path(stripScheme(path))
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val stream = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
    try {
      val out = mutable.ArrayBuffer[GenericRecord]()
      while (stream.hasNext) out += stream.next()
      out.toSeq
    } finally stream.close()
  }

  private def stripScheme(uri: String): String =
    uri.stripPrefix("file://").stripPrefix("file:")

  /** Locate the newest metadata json: version-hint.text if present, else
    * max vN.metadata.json.
    */
  private def currentMetadata(spark: SparkSession, table: String): String = {
    val dir = new Path(table, "metadata")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir), s"not an iceberg table: $table (no metadata dir)")
    val hint = new Path(dir, "version-hint.text")
    if (fs.exists(hint)) {
      val in = fs.open(hint)
      val v = try new String(in.readAllBytes()).trim finally in.close()
      s"$table/metadata/v$v.metadata.json"
    } else {
      val versions = fs.listStatus(dir).map(_.getPath.getName)
        .flatMap { n =>
          "^v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(n).map(_.group(1).toLong)
        }
      require(versions.nonEmpty, s"no vN.metadata.json under $dir")
      s"$table/metadata/v${versions.max}.metadata.json"
    }
  }

  /** Moved-table path tolerance — the semantics the reference hardcodes
    * via duckdb's `iceberg_scan(..., allow_moved_paths = true)`
    * (core/dbio/iop/iceberg_test.go:102): metadata written at a previous
    * table location stores absolute paths, so a copied/relocated table
    * would otherwise fail to resolve its own files. A stored path not
    * under the current table root is re-anchored by splicing its suffix
    * from the last `/metadata/`, `/data/` (incl. the writer's `data-N`
    * append dirs), or `/deletes/` component onto the root —
    * unless the re-anchored candidate doesn't exist while the stored path
    * does (a genuine external file, e.g. an `add_files` import), in which
    * case the stored path is kept. Paths already under the root pass
    * through untouched, so the unmoved common case costs nothing. */
  private val AnchorDirRe = "/(?:metadata|deletes|data(?:-\\d+)?)/".r

  private def reAnchor(conf: org.apache.hadoop.conf.Configuration,
      table: String, stored: String): String = {
    val t = normStr(stripScheme(table)).stripSuffix("/")
    val s = normStr(stripScheme(stored))
    if (s.startsWith(t + "/")) s
    else {
      val i = AnchorDirRe.findAllMatchIn(s).map(_.start).foldLeft(-1)(math.max)
      if (i < 0) s
      else {
        val candidate = t + s.substring(i)
        val p = new Path(candidate)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) candidate
        else s
      }
    }
  }

  private def longField(r: GenericRecord, name: String): Option[Long] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))
      .map(_.toString.toLong)

  private def intField(r: GenericRecord, name: String): Option[Int] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))
      .map(_.toString.toInt)

  /** One live file + its data sequence number + decoded column bounds
    * (file-skipping input; NoStats when the manifest carries none or the
    * metadata has no schema to resolve field ids against). */
  final case class FileRef(path: String, seq: Long,
      stats: FileSkipping.FileStats = FileSkipping.NoStats)

  /** The current snapshot's live files, routed by content:
    * (data, position deletes, equality deletes), plus the current schema
    * when the metadata carries one (fields resolved by parquet field id,
    * the way every Iceberg reader must — names in the data files are the
    * write-time names and go stale on rename). */
  final case class SnapshotFiles(data: Seq[FileRef], posDeletes: Seq[FileRef],
      eqDeletes: Seq[FileRef], schema: Option[StructType] = None)

  // ---- schema resolution (field ids) -------------------------------------

  /** Map an Iceberg type node to Spark. Primitives and structs; a list/map
    * or unknown primitive returns None and the scan falls back to
    * name-based parquet resolution for the whole table. */
  private def icebergType(t: com.fasterxml.jackson.databind.JsonNode):
      Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    if (t.isTextual) t.asText match {
      case "boolean" => Some(BooleanType)
      case "int" => Some(IntegerType)
      case "long" => Some(LongType)
      case "float" => Some(FloatType)
      case "double" => Some(DoubleType)
      case "date" => Some(DateType)
      case "string" | "uuid" => Some(StringType)
      case "binary" => Some(BinaryType)
      case "timestamptz" => Some(TimestampType)
      case "timestamp" => Some(TimestampNTZType)
      // iceberg time = microseconds since midnight; Spark 4.1's TIME type
      // at max precision is the lossless mapping (suite.cli id=250)
      case "time" => Some(TimeType(6))
      case s if s.startsWith("decimal(") && s.endsWith(")") =>
        val parts = s.stripPrefix("decimal(").stripSuffix(")").split(",")
        Some(DecimalType(parts(0).trim.toInt, parts(1).trim.toInt))
      case s if s.startsWith("fixed[") => Some(BinaryType)
      case _ => None
    }
    else if (t.isObject && t.path("type").asText == "struct") structOf(t)
    else None
  }

  private def structOf(s: com.fasterxml.jackson.databind.JsonNode):
      Option[StructType] = {
    import org.apache.spark.sql.types._
    val fields = mutable.ArrayBuffer[StructField]()
    var ok = true
    s.path("fields").forEach { f =>
      icebergType(f.path("type")) match {
        case Some(dt) =>
          val md = new MetadataBuilder()
            .putLong("parquet.field.id", f.path("id").asLong).build()
          fields += StructField(f.path("name").asText, dt,
            nullable = !f.path("required").asBoolean(false), md)
        case None => ok = false
      }
    }
    if (ok && fields.nonEmpty) Some(StructType(fields.toSeq)) else None
  }

  /** The current schema from metadata.json: v2 `schemas` +
    * `current-schema-id`, v1 inline `schema`. */
  private def currentSchema(meta: com.fasterxml.jackson.databind.JsonNode):
      Option[StructType] = {
    val node =
      if (meta.has("schemas")) {
        val sid = meta.path("current-schema-id").asInt(-1)
        var found: com.fasterxml.jackson.databind.JsonNode = null
        meta.path("schemas").forEach { s =>
          if (s.path("schema-id").asInt(-2) == sid) found = s
        }
        Option(found)
      } else {
        val s = meta.path("schema")
        if (!s.isMissingNode && s.isObject) Some(s) else None
      }
    node.flatMap(structOf)
  }

  /** Resolve the current snapshot's live files with sequence numbers. */
  def activeFiles(spark: SparkSession, table: String): SnapshotFiles =
    planFiles(spark, table, None)._1

  /** One compact manifest-walk record: (manifest ordinal, entry ordinal,
    * content, status, re-anchored path, sequence). Column bounds are
    * evaluated against the predicate INSIDE the walk and then dropped — at
    * millions of files only surviving paths travel back to the driver. */
  private final case class EntryLite(mIdx: Int, eIdx: Int, content: Int,
      status: Int, path: String, seq: Option[Long])

  /** Walk one manifest: emit delete-file entries, removals, and the data
    * entries the predicate cannot rule out; count pruned data entries;
    * carry the manifest's first data entry as a schema-preserving fallback
    * for the all-pruned case. Pure function of (conf, paths) — runs on the
    * driver for small manifest lists and on executors past
    * [[PlanThresholdKey]]. */
  private def walkManifest(conf: org.apache.hadoop.conf.Configuration,
      table: String, mIdx: Int, manifestPath: String, manifestSeq: Option[Long],
      idMap: Map[Int, (String, org.apache.spark.sql.types.DataType)],
      pred: Option[FileSkipping.Pred])
      : (Seq[EntryLite], Int, Option[EntryLite]) = {
    val out = mutable.ArrayBuffer[EntryLite]()
    var pruned = 0
    var first: Option[EntryLite] = None
    var eIdx = 0
    readAvro(conf, manifestPath).foreach { entry =>
      val status = entry.get("status").toString.toInt // 0 EXISTING 1 ADDED 2 DELETED
      val df = entry.get("data_file").asInstanceOf[GenericRecord]
      // content: data_file 0=data 1=position deletes 2=equality deletes
      val content = Option(df.get("content")).map(_.toString.toInt).getOrElse(0)
      if (content < 0 || content > 2) throw new IllegalArgumentException(
        s"unknown iceberg data_file content $content in $manifestPath")
      val path = reAnchor(conf, table, df.get("file_path").toString)
      // spec: a null entry sequence inherits the manifest's; files with no
      // sequence info anywhere keep the pre-r7 conservative behavior
      // (every delete applies to every data file)
      val seq = longField(entry, "sequence_number").orElse(manifestSeq)
      val e = EntryLite(mIdx, eIdx, content, status, path, seq)
      if (content == 0 && status != 2 && first.isEmpty) first = Some(e)
      val keep = content != 0 || status == 2 || pred.forall(p =>
        FileSkipping.mayContain(p, entryStats(df, idMap)))
      if (keep) out += e else pruned += 1
      eIdx += 1
    }
    (out.toSeq, pruned, first)
  }

  /** metadata.json `partition-specs` → spec-id → per-field column mapping:
    * Some((column, type)) for identity-transform fields resolvable in the
    * current schema, None otherwise (non-identity fields never prune). */
  private def partitionSpecs(meta: com.fasterxml.jackson.databind.JsonNode,
      idMap: Map[Int, (String, org.apache.spark.sql.types.DataType)])
      : Map[Int, Seq[Option[(String, org.apache.spark.sql.types.DataType)]]] = {
    val specs = meta.path("partition-specs")
    if (!specs.isArray) return Map.empty
    val out =
      mutable.Map[Int, Seq[Option[(String, org.apache.spark.sql.types.DataType)]]]()
    specs.forEach { sp =>
      val fields =
        mutable.ArrayBuffer[Option[(String, org.apache.spark.sql.types.DataType)]]()
      sp.path("fields").forEach { f =>
        fields += (if (f.path("transform").asText == "identity")
          idMap.get(f.path("source-id").asInt(-1)) else None)
      }
      out += sp.path("spec-id").asInt(0) -> fields.toSeq
    }
    out.toMap
  }

  /** A manifest_file's `partitions` field summaries (spec: per-spec-field
    * contains_null/lower_bound/upper_bound, in spec order) → the shared
    * skipping stats shape. contains_null=false becomes nullCount=0 so
    * `IS NULL` predicates prune; absent or undecodable parts keep the
    * manifest (conservative). */
  private def manifestSummaryStats(mf: GenericRecord,
      specFields: Seq[Option[(String, org.apache.spark.sql.types.DataType)]])
      : FileSkipping.FileStats = {
    if (mf.getSchema.getField("partitions") == null) return FileSkipping.NoStats
    mf.get("partitions") match {
      case arr: java.util.Collection[_] =>
        val cols = mutable.Map[String, FileSkipping.ColStats]()
        val it = arr.iterator()
        var i = 0
        while (it.hasNext) {
          (it.next(), if (i < specFields.length) specFields(i) else None) match {
            case (r: GenericRecord, Some((name, dt))) =>
              val lo = Option(r.get("lower_bound"))
                .flatMap(v => decodeBound(avroBytes(v), dt))
              val hi = Option(r.get("upper_bound"))
                .flatMap(v => decodeBound(avroBytes(v), dt))
              val nulls = Option(r.get("contains_null")).collect {
                case b: java.lang.Boolean => if (b) 1L else 0L
              }
              cols += name -> FileSkipping.ColStats(lo, hi, nulls)
            case _ =>
          }
          i += 1
        }
        FileSkipping.FileStats(None, cols.toMap)
      case _ => FileSkipping.NoStats
    }
  }

  /** Conf key: distribute the manifest walk across executors when the
    * (list-level-pruned) manifest count reaches this many manifests. Small
    * tables stay a driver loop (no job-launch overhead); a table with
    * thousands of manifests plans as a Spark job, so millions of data-file
    * entries never materialize on the driver. */
  val PlanThresholdKey =
    "graft.iceberg.planning.distributedThreshold"
  private val DefaultPlanThreshold = 64

  /** Resolve the current snapshot's live files, with predicate pruning at
    * BOTH metadata levels before anything is collected:
    *   1. manifest-list partition field summaries (identity transforms)
    *      skip whole manifests unopened;
    *   2. per-entry column bounds are evaluated during the walk (driver or
    *      executors) and only surviving paths come back — per-file stats
    *      never accumulate on the driver.
    * Returns (files, keptData, totalData); totalData counts list-pruned
    * manifests by their recorded added/existing file counts. */
  private def planFiles(spark: SparkSession, table: String,
      pred: Option[FileSkipping.Pred]): (SnapshotFiles, Int, Int) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val metaPath = new Path(currentMetadata(spark, table))
    val fs = metaPath.getFileSystem(hconf)
    val in = fs.open(metaPath)
    val meta = try mapper.readTree(in) finally in.close()

    val snapId = meta.path("current-snapshot-id").asLong
    require(snapId != 0 && !meta.path("current-snapshot-id").isMissingNode,
      s"no current snapshot in $metaPath")
    var manifestList: String = null
    meta.path("snapshots").forEach { s =>
      if (s.path("snapshot-id").asLong == snapId)
        manifestList = s.path("manifest-list").asText
    }
    require(manifestList != null, s"snapshot $snapId not found in $metaPath")
    manifestList = reAnchor(hconf, table, manifestList)

    val schema = currentSchema(meta)
    val idMap: Map[Int, (String, org.apache.spark.sql.types.DataType)] =
      schema.map(_.fields.collect {
        case f if f.metadata.contains("parquet.field.id") =>
          f.metadata.getLong("parquet.field.id").toInt ->
            (f.name.toLowerCase, f.dataType)
      }.toMap).getOrElse(Map.empty)
    val specs = partitionSpecs(meta, idMap)

    // manifest list: one record per manifest — O(#manifests) driver memory.
    // content: manifest_file 0=data 1=deletes (delete manifests always read)
    var listPruned = 0
    val manifests = readAvro(hconf, manifestList).zipWithIndex.flatMap {
      case (mf, i) =>
        val mPath = reAnchor(hconf, table, mf.get("manifest_path").toString)
        val mSeq = longField(mf, "sequence_number")
        val isData = intField(mf, "content").getOrElse(0) == 0
        val skip = pred.isDefined && isData && {
          val fields = specs.getOrElse(
            intField(mf, "partition_spec_id").getOrElse(0), Seq.empty)
          fields.nonEmpty &&
            !FileSkipping.mayContain(pred.get, manifestSummaryStats(mf, fields))
        }
        if (skip) {
          // spec v1 Avro name is added_data_files_count (Iceberg Java
          // writer); v2 renamed to added_files_count — accept both so
          // list-pruned manifests from real tables still count in `total`
          listPruned += intField(mf, "added_files_count")
              .orElse(intField(mf, "added_data_files_count")).getOrElse(0) +
            intField(mf, "existing_files_count")
              .orElse(intField(mf, "existing_data_files_count")).getOrElse(0)
          None
        } else Some((i, mPath, mSeq))
    }

    val threshold = spark.conf.getOption(PlanThresholdKey).map(_.toInt)
      .getOrElse(DefaultPlanThreshold)
    val walked: Seq[(Seq[EntryLite], Int, Option[EntryLite])] =
      if (manifests.size >= math.max(1, threshold)) {
        val bc = spark.sparkContext.broadcast(graft.util.HadoopConf(hconf))
        spark.sparkContext.parallelize(manifests,
            math.min(manifests.size, spark.sparkContext.defaultParallelism))
          .map { case (i, p, s) =>
            walkManifest(bc.value.value, table, i, p, s, idMap, pred) }
          .collect().toSeq
      } else manifests.map { case (i, p, s) =>
        walkManifest(hconf, table, i, p, s, idMap, pred)
      }

    // replay in manifest-list order — same removal semantics as the pre-r8
    // driver loop (a DELETED status drops the path; real snapshots never
    // carry both a live and a deleted entry for one file)
    val data = mutable.LinkedHashMap[String, Long]()
    val posDel = mutable.LinkedHashMap[String, Long]()
    val eqDel = mutable.LinkedHashMap[String, Long]()
    walked.flatMap(_._1).sortBy(e => (e.mIdx, e.eIdx)).foreach { e =>
      val m = e.content match { case 0 => data; case 1 => posDel; case _ => eqDel }
      if (e.status == 2) m -= e.path
      else m += e.path ->
        e.seq.getOrElse(if (e.content == 0) 0L else Long.MaxValue)
    }
    val kept = data.size
    val total = kept + walked.map(_._2).sum + listPruned
    // every file provably mismatches → keep ONE file so the scan preserves
    // the table schema; the caller's trailing filter empties it
    val fallback = walked.flatMap(_._3).sortBy(e => (e.mIdx, e.eIdx)).headOption
    val dataRefs =
      if (data.isEmpty && pred.isDefined)
        fallback.map(e => FileRef(e.path, e.seq.getOrElse(0L))).toSeq
      else data.map { case (p, s) => FileRef(p, s) }.toSeq
    def refs(m: mutable.LinkedHashMap[String, Long]) =
      m.map { case (p, s) => FileRef(p, s) }.toSeq
    (SnapshotFiles(dataRefs, refs(posDel), refs(eqDel), schema), kept, total)
  }

  // ---- manifest column bounds → file skipping ----------------------------

  /** Avro `bytes` / `fixed` value → byte array. */
  private def avroBytes(v: Any): Array[Byte] = v match {
    case b: java.nio.ByteBuffer =>
      val d = b.duplicate(); val out = new Array[Byte](d.remaining); d.get(out); out
    case f: org.apache.avro.generic.GenericFixed => f.bytes
    case a: Array[Byte] => a
  }

  /** An Iceberg manifest map field (spec encodes maps with int keys as an
    * array of {key, value} records with logicalType map; plain avro maps
    * tolerated too) → Map[fieldId, raw value]. */
  private def manifestMap(df: GenericRecord, field: String): Map[Int, Any] = {
    if (df.getSchema.getField(field) == null) return Map.empty
    df.get(field) match {
      case null => Map.empty
      case arr: java.util.Collection[_] =>
        val out = mutable.Map[Int, Any]()
        arr.forEach {
          case r: GenericRecord =>
            Option(r.get("value")).foreach(v => out += r.get("key").toString.toInt -> v)
          case _ =>
        }
        out.toMap
      case m: java.util.Map[_, _] =>
        val out = mutable.Map[Int, Any]()
        m.forEach((k, v) => if (v != null) out += k.toString.toInt -> v)
        out.toMap
      case _ => Map.empty
    }
  }

  /** Iceberg single-value serialization (spec Appendix D) → the skipping
    * comparison domain (BigDecimal / String / Boolean / LocalDate /
    * Instant). Unknown or malformed values decode to None (file kept). */
  def decodeBound(bytes: Array[Byte],
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    import org.apache.spark.sql.types._
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
      case IntegerType if bytes.length == 4 => Some(BigDecimal(le.getInt))
      case LongType if bytes.length == 8 => Some(BigDecimal(le.getLong))
      case FloatType if bytes.length == 4 =>
        val f = le.getFloat
        if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
      case DoubleType if bytes.length == 8 =>
        val d = le.getDouble
        if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
      case StringType =>
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      case DateType if bytes.length == 4 =>
        Some(java.time.LocalDate.ofEpochDay(le.getInt.toLong))
      case TimestampType | TimestampNTZType if bytes.length == 8 =>
        val micros = le.getLong
        Some(java.time.Instant.EPOCH
          .plusSeconds(math.floorDiv(micros, 1000000L))
          .plusNanos(math.floorMod(micros, 1000000L) * 1000L))
      case d: DecimalType =>
        // unscaled value, big-endian two's-complement
        Some(BigDecimal(new java.math.BigInteger(bytes), d.scale))
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decode a data_file record's bounds/counts into the shared skipping
    * shape. Empty when the metadata has no field-id schema (nothing to
    * resolve ids against) or the manifest carries no stats fields. */
  private def entryStats(df: GenericRecord,
      idMap: Map[Int, (String, org.apache.spark.sql.types.DataType)])
      : FileSkipping.FileStats = {
    if (idMap.isEmpty) return FileSkipping.NoStats
    val lows = manifestMap(df, "lower_bounds")
    val ups = manifestMap(df, "upper_bounds")
    val nulls = manifestMap(df, "null_value_counts")
      .map { case (k, v) => k -> v.toString.toLong }
    val num =
      if (df.getSchema.getField("record_count") == null) None
      else Option(df.get("record_count")).map(_.toString.toLong)
    val ids = lows.keySet ++ ups.keySet ++ nulls.keySet
    if (ids.isEmpty && num.isEmpty) return FileSkipping.NoStats
    val cols = ids.toSeq.flatMap { id =>
      idMap.get(id).map { case (name, dt) =>
        name -> FileSkipping.ColStats(
          lows.get(id).flatMap(v => decodeBound(avroBytes(v), dt)),
          ups.get(id).flatMap(v => decodeBound(avroBytes(v), dt)),
          nulls.get(id))
      }
    }.toMap
    FileSkipping.FileStats(num, cols)
  }

  private def normPath(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PathNorm.normUri(c)

  /** Driver-side string twin of [[PathNorm.normUri]]. */
  private def normStr(p: String): String = p.replaceFirst("^file:/+", "/")

  /** Distributed read of the current snapshot, v2 deletes applied with
    * sequence-number scoping. */
  def read(spark: SparkSession, table: String): DataFrame =
    readCore(spark, table, None)

  /** [[read]] plus a SQL predicate: data files whose manifest bounds
    * (lower_bounds/upper_bounds/null_value_counts) prove they cannot match
    * are skipped BEFORE the scan, and the predicate is then applied to the
    * surviving rows — the result always equals `read(...).filter(cond)`. */
  def readWhere(spark: SparkSession, table: String, condition: String): DataFrame =
    readCore(spark, table, Some(condition))

  /** (kept, total) data-file counts for `condition` — pruning
    * observability. Manifests skipped at the list level contribute their
    * recorded file counts to `total`. */
  def pruneCount(spark: SparkSession, table: String,
      condition: String): (Int, Int) = {
    val (_, kept, total) =
      planFiles(spark, table, Some(FileSkipping.parse(condition)))
    (kept, total)
  }

  private def readCore(spark: SparkSession, table: String,
      where: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, concat, lit, max, regexp_extract, when}
    val files = planFiles(spark, table, where.map(FileSkipping.parse))._1
    // position-delete content references data files by the path recorded
    // at write time — re-anchor in-column (same suffix splice as the
    // driver-side reAnchor) so a moved table's deletes still match the
    // scan's current-location _metadata.file_path. The rewrite applies
    // only when the candidate IS one of the resolved data files, so
    // deletes against genuine external files (add_files imports, which
    // the driver-side reAnchor kept as stored) are not broken.
    val tNorm = normStr(stripScheme(table)).stripSuffix("/")
    val knownData = files.data.map(f => normStr(stripScheme(f.path)))
    def reAnchorCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val n = normPath(c)
      val suffix = regexp_extract(n, "^.*(/(?:metadata|deletes|data(?:-[0-9]+)?)/.*)$", 1)
      val cand = concat(lit(tNorm), suffix)
      when(n.startsWith(tNorm + "/") || suffix === lit(""), n)
        .otherwise(when(cand.isin(knownData: _*), cand).otherwise(n))
    }
    require(files.data.nonEmpty, s"iceberg table $table has no live data files")
    val reader = spark.read.option("basePath", table)
    val base = files.schema match {
      case Some(sch) =>
        // resolve columns by parquet field id under the CURRENT schema's
        // names — renamed columns read correctly from files written under
        // the old name
        PathNorm.byFieldId(spark)(_.read.option("basePath", table)
          .schema(sch).parquet(files.data.map(f => stripScheme(f.path)): _*))
      case None =>
        reader.parquet(files.data.map(f => stripScheme(f.path)): _*)
    }
    val result = if (files.posDeletes.isEmpty && files.eqDeletes.isEmpty) base
    else {
      // attach each data row's file sequence via a broadcast of the (small,
      // already driver-held) file list — the scan itself stays distributed.
      // _metadata.file_path is the percent-encoded URI form of the fs name;
      // the manifest stores the raw path, so the broadcast key must be
      // encoded the same way (spaces etc.) or the lookup misses and a null
      // __dseq would turn the delete predicates unknown.
      def encKey(p: String): String = PathNorm.encPath(normStr(stripScheme(p)))
      val dataSeq = broadcast(spark.createDataFrame(
        files.data.map(f => (encKey(f.path), f.seq))).toDF("__sfp", "__dseq"))
      var d = base
        .withColumn("__fp", normPath(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
      d = d.join(dataSeq, d("__fp") === dataSeq("__sfp"), "left").drop("__sfp")
      // a data row whose sequence lookup somehow still misses must be
      // treated as arbitrarily old — deletes apply (conservative), rather
      // than an unknown predicate silently keeping deleted rows alive
      val dSeq = org.apache.spark.sql.functions
        .coalesce(d("__dseq"), lit(Long.MinValue))
      // per-delete-file sequence lookup, same broadcast-map shape
      def withSeq(df: DataFrame, refs: Seq[FileRef], seqCol: String): DataFrame = {
        val m = broadcast(spark.createDataFrame(
          refs.map(f => (encKey(f.path), f.seq))).toDF("__mfp", seqCol))
        val tagged = df.withColumn("__dffp", normPath(col("_metadata.file_path")))
        tagged.join(m, tagged("__dffp") === m("__mfp"), "left")
          .drop("__dffp", "__mfp")
      }
      if (files.posDeletes.nonEmpty) {
        // spec: a position delete applies to data files with seq <= its own.
        // The delete parquet's file_path column holds the raw path the
        // writer recorded; route it through a raw→encoded map built from
        // the resolved data files so it joins __fp's encoded form.
        val encMap = broadcast(spark.createDataFrame(
          files.data.map(f => (normStr(stripScheme(f.path)), encKey(f.path))))
          .toDF("__rawp", "__encp"))
        val pd0 = withSeq(
          spark.read.parquet(files.posDeletes.map(f => stripScheme(f.path)): _*),
          files.posDeletes, "__pseq")
          .groupBy(reAnchorCol(col("file_path")).as("__dfp0"), col("pos").as("__dpos"))
          .agg(max("__pseq").as("__pseq"))
        val pd = pd0.join(encMap, pd0("__dfp0") === encMap("__rawp"), "left")
          .select(org.apache.spark.sql.functions
            .coalesce(col("__encp"), col("__dfp0")).as("__dfp"),
            col("__dpos"), col("__pseq"))
        d = d.join(pd,
          d("__fp") === pd("__dfp") && d("__pos") === pd("__dpos") &&
            dSeq <= pd("__pseq"), "left_anti")
      }
      if (files.eqDeletes.nonEmpty) {
        // equality columns = the delete parquet's own columns (the spec's
        // equality_ids resolved at write time). Files are grouped by their
        // column set so heterogeneous equality_ids never NULL-fill; within
        // a key the newest delete sequence wins. The spec defines NULL as
        // equal to NULL here — unlike SQL join equality — so the anti-join
        // uses null-safe <=> on every key, and applies strictly
        // (data seq < delete seq).
        val bySchema = files.eqDeletes.groupBy { f =>
          spark.read.parquet(stripScheme(f.path)).columns.toSeq.sorted
        }
        bySchema.toSeq.sortBy(_._1.mkString(",")).foreach { case (cols, refs) =>
          val ed = withSeq(
            spark.read.parquet(refs.map(f => stripScheme(f.path)): _*),
            refs, "__eqseq")
            .groupBy(cols.map(col): _*).agg(max("__eqseq").as("__eqseq"))
          val edAliased = ed.select(
            (cols.map(c => col(c).as(s"__eq_$c")) :+ col("__eqseq")).toSeq: _*)
          val cond = cols.map(c => d(c) <=> edAliased(s"__eq_$c"))
            .reduce(_ && _) && dSeq < edAliased("__eqseq")
          d = d.join(edAliased, cond, "left_anti")
        }
      }
      d.drop("__fp", "__pos", "__dseq")
    }
    val filtered = where
      .map(c => result.filter(org.apache.spark.sql.functions.expr(c)))
      .getOrElse(result)
    // don't leak parquet.field.id metadata to callers (a caller re-using
    // this schema against id-less files with fieldId.read enabled would
    // otherwise fail resolution) — identity for plain reads
    PathNorm.stripFieldIds(filtered)
  }

  // ---- minimal snapshot writer (bootstrap/fixture, not full Iceberg) -----

  private val manifestEntrySchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":["null","int"],"default":null},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":["null","long"],"default":null},
      |  {"name":"null_value_counts","type":["null",{"type":"array",
      |    "items":{"type":"record","name":"k117_v118","fields":[
      |      {"name":"key","type":"int"},{"name":"value","type":"long"}]},
      |    "logicalType":"map"}],"default":null},
      |  {"name":"lower_bounds","type":["null",{"type":"array",
      |    "items":{"type":"record","name":"k126_v127","fields":[
      |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]},
      |    "logicalType":"map"}],"default":null},
      |  {"name":"upper_bounds","type":["null",{"type":"array",
      |    "items":{"type":"record","name":"k129_v130","fields":[
      |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]},
      |    "logicalType":"map"}],"default":null}]}}]}""".stripMargin)

  private val manifestFileSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"content","type":["null","int"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"partition_spec_id","type":["null","int"],"default":null},
      |{"name":"added_files_count","type":["null","int"],"default":null},
      |{"name":"existing_files_count","type":["null","int"],"default":null},
      |{"name":"partitions","type":["null",{"type":"array",
      |  "items":{"type":"record","name":"field_summary","fields":[
      |    {"name":"contains_null","type":"boolean"},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null}]}}],
      | "default":null}]}"""
      .stripMargin)

  private def writeAvroFile(spark: SparkSession, path: String,
      schema: org.apache.avro.Schema, records: Seq[GenericRecord]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](schema))
    w.create(schema, fs.create(p, true))
    try records.foreach(w.append) finally w.close()
  }

  /** Write `df` as a fresh single-snapshot Iceberg table: data parquet +
    * one manifest + manifest list + v1.metadata.json. Enough for any
    * spec-compliant reader (including this one) to scan the snapshot; NOT
    * a transactional committer — bootstrap and fixtures only.
    */
  /** Spec-shaped per-file bounds for the fixture writer (field id →
    * Appendix-D-encoded min/max, null counts, record count). */
  final case class FileBounds(recordCount: Long,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      nullCounts: Map[Int, Long])

  private def fileEntry(path: String, content: Int, seq: Long,
      bounds: Option[FileBounds] = None): GenericRecord = {
    val dfSchema = manifestEntrySchema.getField("data_file").schema()
    val d = new org.apache.avro.generic.GenericData.Record(dfSchema)
    d.put("content", content); d.put("file_path", path); d.put("file_format", "PARQUET")
    bounds.foreach { b =>
      def kv(field: String, entries: Map[Int, Any]): Unit = {
        val arrSchema = dfSchema.getField(field).schema().getTypes.get(1)
        val arr = new org.apache.avro.generic.GenericData.Array[GenericRecord](
          entries.size, arrSchema)
        entries.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val r = new org.apache.avro.generic.GenericData.Record(
            arrSchema.getElementType)
          r.put("key", k)
          r.put("value", v match {
            case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
            case other => other
          })
          arr.add(r)
        }
        d.put(field, arr)
      }
      d.put("record_count", b.recordCount)
      kv("null_value_counts", b.nullCounts.map { case (k, v) => k -> (v: Any) })
      kv("lower_bounds", b.lower.map { case (k, v) => k -> (v: Any) })
      kv("upper_bounds", b.upper.map { case (k, v) => k -> (v: Any) })
    }
    val e = new org.apache.avro.generic.GenericData.Record(manifestEntrySchema)
    e.put("status", 1); e.put("sequence_number", seq); e.put("data_file", d)
    e
  }

  /** Fixture shape for a manifest-list partition summary: the spec id,
    * per-spec-field (contains_null, lower, upper) bounds in spec order, and
    * the manifest's recorded data-file count (spec
    * added/existing_files_count — what list-level pruning reports). */
  final case class ManifestSummary(specId: Int,
      fields: Seq[(Boolean, Option[Array[Byte]], Option[Array[Byte]])],
      fileCount: Int)

  private def manifestRef(path: String, content: Int, seq: Long,
      summary: Option[ManifestSummary] = None): GenericRecord = {
    val mf = new org.apache.avro.generic.GenericData.Record(manifestFileSchema)
    mf.put("manifest_path", path); mf.put("content", content)
    mf.put("sequence_number", seq)
    summary.foreach { s =>
      mf.put("partition_spec_id", s.specId)
      mf.put("added_files_count", s.fileCount)
      mf.put("existing_files_count", 0)
      val arrSchema = manifestFileSchema.getField("partitions")
        .schema().getTypes.get(1)
      val arr = new org.apache.avro.generic.GenericData.Array[GenericRecord](
        s.fields.size, arrSchema)
      s.fields.foreach { case (cn, lo, hi) =>
        val r = new org.apache.avro.generic.GenericData.Record(
          arrSchema.getElementType)
        r.put("contains_null", cn)
        lo.foreach(b => r.put("lower_bound", java.nio.ByteBuffer.wrap(b)))
        hi.foreach(b => r.put("upper_bound", java.nio.ByteBuffer.wrap(b)))
        arr.add(r)
      }
      mf.put("partitions", arr)
    }
    mf
  }

  /** Write `df` as a fresh single-snapshot Iceberg table: data parquet +
    * one manifest + manifest list + v1.metadata.json, all at sequence 1. */
  /** `fieldIds`: (field-id, logical name) per df column, in order. When
    * set, the data parquet carries `parquet.field.id` tags under the DF's
    * (write-time) column names while metadata.json gets a `schemas` block
    * under the LOGICAL names — i.e. an externally-written table, with
    * renames whenever logical != write-time name. Readers must then
    * resolve by field id, exactly as the Iceberg spec requires. */
  /** Appendix-D single-value encoder (inverse of [[decodeBound]]); `v` is
    * the JVM value an aggregation row yields for the column's Spark type. */
  private def encodeBound(v: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    import org.apache.spark.sql.types._
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    if (v == null) return None
    dt match {
      case BooleanType =>
        Some(Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0))
      case IntegerType =>
        Some(le(4).putInt(v.asInstanceOf[Number].intValue).array)
      case LongType =>
        Some(le(8).putLong(v.asInstanceOf[Number].longValue).array)
      case FloatType =>
        Some(le(4).putFloat(v.asInstanceOf[Number].floatValue).array)
      case DoubleType =>
        Some(le(8).putDouble(v.asInstanceOf[Number].doubleValue).array)
      case StringType =>
        Some(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case DateType =>
        Some(le(4).putInt(
          v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt).array)
      case TimestampType =>
        val t = v.asInstanceOf[java.sql.Timestamp].toInstant
        Some(le(8).putLong(t.getEpochSecond * 1000000L + t.getNano / 1000L).array)
      case TimestampNTZType =>
        val t = v.asInstanceOf[java.time.LocalDateTime]
          .toInstant(java.time.ZoneOffset.UTC)
        Some(le(8).putLong(t.getEpochSecond * 1000000L + t.getNano / 1000L).array)
      case d: DecimalType =>
        Some(v.asInstanceOf[java.math.BigDecimal]
          .setScale(d.scale).unscaledValue.toByteArray)
      case _ => None
    }
  }

  /** Per-file bounds for the staged data files — ONE distributed
    * aggregation, one collected row per file. `fields` = (fieldId,
    * column) pairs; non-encodable types are simply absent from the
    * bounds (the reader treats absence as "keep"). */
  private def boundsFor(spark: SparkSession, dataFiles: Seq[String],
      fields: Seq[(Int, org.apache.spark.sql.types.StructField)])
      : Map[String, FileBounds] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    val enc = fields.filter { case (_, f) => encodableBound(f.dataType) }
    val df = spark.read.parquet(dataFiles.map(stripScheme): _*)
    val aggs = count(lit(1)).as("__n") +: enc.zipWithIndex.flatMap {
      case ((_, f), i) =>
        val c = col(s"`${f.name}`")
        Seq(min(c).as(s"mn_$i"), max(c).as(s"mx_$i"),
          sum(when(c.isNull, 1L).otherwise(0L)).as(s"nl_$i"))
    }
    val rows = df.groupBy(normPath(col("_metadata.file_path")).as("__fp"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.map { r =>
      val lows = mutable.Map[Int, Array[Byte]]()
      val ups = mutable.Map[Int, Array[Byte]]()
      val nulls = mutable.Map[Int, Long]()
      enc.zipWithIndex.foreach { case ((id, f), i) =>
        encodeBound(r.getAs[Any](s"mn_$i"), f.dataType).foreach(lows += id -> _)
        encodeBound(r.getAs[Any](s"mx_$i"), f.dataType).foreach(ups += id -> _)
        nulls += id -> r.getAs[Long](s"nl_$i")
      }
      r.getString(0) -> FileBounds(r.getAs[Long]("__n"),
        lows.toMap, ups.toMap, nulls.toMap)
    }.toMap
  }

  private def encodableBound(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | IntegerType | LongType | FloatType | DoubleType |
           StringType | DateType | TimestampType | TimestampNTZType |
           _: DecimalType => true
      case _ => false
    }
  }

  def writeSnapshot(df: DataFrame, table: String,
      fieldIds: Option[Seq[(Int, String)]] = None,
      collectStats: Boolean = false): Unit = {
    val spark = df.sparkSession
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    // bounds are keyed by field id, so stats need a field-id schema in the
    // metadata to resolve against — default to ordinal ids (the spec shape;
    // a real metadata.json always carries its schema)
    val effIds = fieldIds.orElse(if (collectStats)
      Some(df.columns.toSeq.zipWithIndex.map { case (c, i) => (i + 1, c) })
    else None)
    val staged = effIds match {
      case None => df
      case Some(ids) =>
        require(ids.length == df.columns.length,
          s"fieldIds count ${ids.length} != column count ${df.columns.length}")
        import org.apache.spark.sql.functions.col
        df.select(df.schema.fields.zip(ids).map { case (f, (id, _)) =>
          col(f.name).as(f.name, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id.toLong).build())
        }.toSeq: _*)
    }
    // scope the write conf to this (eager) write and restore — a fixture
    // write must not flip parquet emission session-wide
    val prevW = spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    if (effIds.isDefined)
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try staged.write.parquet(s"$table/data")
    finally if (effIds.isDefined) prevW match {
      case Some(v) => spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
      case None => spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    }
    val dataFiles = fs.listStatus(new Path(table, "data"))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
    val bounds: Map[String, FileBounds] =
      if (collectStats && effIds.isDefined)
        boundsFor(spark, dataFiles.toSeq,
          effIds.get.map(_._1).zip(df.schema.fields).map { case (id, f) => (id, f) })
      else Map.empty
    val entries = dataFiles.map(p =>
      fileEntry(p, 0, 1L, bounds.get(normStr(stripScheme(p)))): GenericRecord).toSeq
    writeAvroFile(spark, s"$table/metadata/m-0.avro", manifestEntrySchema, entries)
    writeAvroFile(spark, s"$table/metadata/snap-1.avro", manifestFileSchema,
      Seq(manifestRef(s"$table/metadata/m-0.avro", 0, 1L)))
    val schemas = effIds.map { ids =>
      val fieldsJson = df.schema.fields.zip(ids).map { case (f, (id, logical)) =>
        s"""{"id":$id,"name":${jstr(logical)},"required":false,""" +
          s""""type":${jstr(icebergTypeName(f.dataType))}}"""
      }.mkString(",")
      s"""[{"schema-id":0,"type":"struct","fields":[$fieldsJson]}]"""
    }
    writeMetadataJson(spark, table, 1L, schemas)
  }

  /** Spark → Iceberg primitive type names for the fixture writer. */
  private def icebergTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "boolean"
      case IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case StringType => "string"
      case BinaryType => "binary"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case _: TimeType => "time"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => sys.error(s"no iceberg type mapping for $other")
    }
  }

  private def jstr(s: String): String =
    mapper.writeValueAsString(s)

  /** Current snapshot id + that snapshot's manifest refs (re-keyed to the
    * writer schema so old lists can be re-emitted into a new list). */
  private def currentManifests(spark: SparkSession,
      table: String): (Long, Seq[GenericRecord]) = {
    val metaPath = new Path(currentMetadata(spark, table))
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val meta = try mapper.readTree(in) finally in.close()
    val snapId = meta.path("current-snapshot-id").asLong
    var manifestList: String = null
    meta.path("snapshots").forEach { s =>
      if (s.path("snapshot-id").asLong == snapId)
        manifestList = s.path("manifest-list").asText
    }
    require(manifestList != null, s"snapshot $snapId not found in $metaPath")
    // appends to a moved table must re-anchor like the read path, both the
    // list itself and the manifest refs re-emitted into the new list.
    // (Re-keying drops any partition summaries on the old refs — those
    // manifests just stop list-pruning, which is always safe.)
    val hconf = spark.sparkContext.hadoopConfiguration
    val refs = readAvro(hconf, reAnchor(hconf, table, manifestList)).map { mf =>
      val seq = Option(mf.getSchema.getField("sequence_number"))
        .flatMap(_ => Option(mf.get("sequence_number")))
        .map(_.toString.toLong).getOrElse(snapId)
      manifestRef(reAnchor(hconf, table, mf.get("manifest_path").toString),
        Option(mf.get("content")).map(_.toString.toInt).getOrElse(0), seq)
    }
    (snapId, refs)
  }

  private def writeMetadataJson(spark: SparkSession, table: String,
      snapId: Long, schemas: Option[String] = None,
      partitionSpecs: Option[String] = None): Unit = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // appends carry the prior metadata's schemas and partition-specs blocks
    // forward so a field-id table keeps resolving by id (and keeps
    // list-level pruning) after appendData/appendDeletes
    val prior = try {
      val mp = new Path(currentMetadata(spark, table))
      val pin = mp.getFileSystem(spark.sparkContext.hadoopConfiguration).open(mp)
      Some(try mapper.readTree(pin) finally pin.close())
    } catch { case scala.util.control.NonFatal(_) => None }
    def carry(block: String): Option[String] = prior.collect {
      case p if p.has(block) => mapper.writeValueAsString(p.path(block))
    }
    val schemaPart = schemas.orElse(carry("schemas"))
      .map(s => s""""schemas":$s,"current-schema-id":0,""").getOrElse("")
    val specPart = partitionSpecs.orElse(carry("partition-specs"))
      .map(s => s""""partition-specs":$s,"default-spec-id":0,""").getOrElse("")
    val meta =
      s"""{"format-version":2,"current-snapshot-id":$snapId,
        |"last-sequence-number":$snapId,$schemaPart$specPart
        |"snapshots":[{"snapshot-id":$snapId,"sequence-number":$snapId,
        |"manifest-list":"$table/metadata/snap-$snapId.avro"}]}"""
        .stripMargin.replaceAll("\n", "")
    val out = fs.create(new Path(table, s"metadata/v$snapId.metadata.json"), true)
    try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Append a v2 delete snapshot: position deletes (spec columns
    * `file_path` string, `pos` long) and/or equality deletes (any column
    * subset of the data schema). The new snapshot's sequence number is
    * snapId+1, so these deletes do NOT apply to data appended later.
    * Fixture/bootstrap quality like writeSnapshot.
    */
  def appendDeletes(table: String, posDeletes: Option[DataFrame],
      eqDeletes: Option[DataFrame]): Unit = {
    require(posDeletes.nonEmpty || eqDeletes.nonEmpty, "no deletes given")
    val spark = posDeletes.orElse(eqDeletes).get.sparkSession
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (snapId, oldRefs) = currentManifests(spark, table)
    val next = snapId + 1

    def writeDeleteFiles(df: DataFrame, dir: String): Seq[String] = {
      df.write.mode("overwrite").parquet(s"$table/$dir")
      fs.listStatus(new Path(table, dir))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted.toSeq
    }
    val posFiles = posDeletes.toSeq.flatMap { pd =>
      require(pd.columns.toSet == Set("file_path", "pos"),
        "position deletes need exactly (file_path, pos)")
      writeDeleteFiles(pd, s"deletes/pos-$next")
    }
    val eqFiles = eqDeletes.toSeq.flatMap(writeDeleteFiles(_, s"deletes/eq-$next"))

    val entries = posFiles.map(fileEntry(_, 1, next)) ++
      eqFiles.map(fileEntry(_, 2, next))
    writeAvroFile(spark, s"$table/metadata/m-$next.avro",
      manifestEntrySchema, entries)
    writeAvroFile(spark, s"$table/metadata/snap-$next.avro", manifestFileSchema,
      oldRefs :+ manifestRef(s"$table/metadata/m-$next.avro", 1, next))
    writeMetadataJson(spark, table, next)
  }

  /** Append a data snapshot AFTER deletes: the new files carry sequence
    * snapId+1, so existing delete files (older sequence) do not apply to
    * them — the case the sequence scoping exists for. */
  def appendData(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (snapId, oldRefs) = currentManifests(spark, table)
    val next = snapId + 1
    df.write.parquet(s"$table/data-$next")
    val dataFiles = fs.listStatus(new Path(table, s"data-$next"))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
    val entries = dataFiles.map(fileEntry(_, 0, next): GenericRecord).toSeq
    writeAvroFile(spark, s"$table/metadata/m-$next.avro",
      manifestEntrySchema, entries)
    writeAvroFile(spark, s"$table/metadata/snap-$next.avro", manifestFileSchema,
      oldRefs :+ manifestRef(s"$table/metadata/m-$next.avro", 0, next))
    writeMetadataJson(spark, table, next)
  }

  /** Appendix-D single-value encoding for fixture bounds (public twin of
    * the writer's internal encoder — scale-planning tests build synthetic
    * manifest entries with it). */
  def boundBytes(v: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Array[Byte]] =
    encodeBound(v, dt)

  /** One synthetic manifest for the planning fixtures: `entries` present →
    * a real manifest avro is written with those (path, bounds) data entries
    * (the paths need not exist — entry-level pruning is what keeps them off
    * the scan); `entries` absent → only the manifest-LIST ref is written,
    * pointing at a nonexistent manifest, so the test proves list-level
    * summary pruning never opens it. */
  final case class SyntheticManifest(
      entries: Option[Seq[(String, Option[FileBounds])]],
      summary: Option[ManifestSummary] = None)

  /** Fixture: append synthetic data manifests (see [[SyntheticManifest]])
    * as a new snapshot, optionally installing a `partition-specs` JSON
    * block so manifest summaries can prune. Fixture/bootstrap quality like
    * [[writeSnapshot]] — scale tests only. */
  def appendSyntheticManifests(spark: SparkSession, table: String,
      manifests: Seq[SyntheticManifest],
      partitionSpecsJson: Option[String] = None): Unit = {
    val (snapId, oldRefs) = currentManifests(spark, table)
    val next = snapId + 1
    val newRefs = manifests.zipWithIndex.map { case (m, i) =>
      val mPath = s"$table/metadata/m-$next-$i.avro"
      m.entries.foreach { es =>
        writeAvroFile(spark, mPath, manifestEntrySchema,
          es.map { case (p, b) => fileEntry(p, 0, next, b): GenericRecord })
      }
      manifestRef(mPath, 0, next, m.summary)
    }
    writeAvroFile(spark, s"$table/metadata/snap-$next.avro",
      manifestFileSchema, oldRefs ++ newRefs)
    writeMetadataJson(spark, table, next, partitionSpecs = partitionSpecsJson)
  }
}
