package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.TypeInference

/** CSV / JSONL readers with sling-style sampling inference.
  *
  * Both read the raw file with all-string schemas, infer from the first 900
  * rows with [[TypeInference]], apply user `columns:` overrides (the
  * reference's `Columns.Coerce`, dataset.go:604-606), and cast the full
  * lazy scan — so only the sample is collected to the driver; the data path
  * stays distributed and codegen'd. A line-splittable CSV source opens in
  * one Spark job that yields its parser mode, header and sample together,
  * as the reference's `Datastream` fills its inference buffer while it
  * streams (datastream.go:43-73).
  */
object FileSources {

  /** `encoding`: source charset per the reference's
    * `source_options.encoding` (tests/replications/r.32-34 encoding tests;
    * latin1/windows-1252/utf-16 and friends). Spark's text datasource
    * decodes non-UTF-8 charsets natively, so the read stays distributed.
    */
  /** Reference CSV source options beyond header/delimiter
    * (core/sling/config.go source options; stream_processor semantics):
    * quote/escape pass to the parser; null_if values and empty strings
    * null out BEFORE type inference (so a column of "\\N" still infers);
    * skip_lines drops the first N physical lines of EACH file
    * (pre-header), skip_blank_lines drops whitespace-only lines. */
  final case class CsvOpts(quote: Option[String] = None,
      escape: Option[String] = None, nullIf: Seq[String] = Nil,
      emptyAsNull: Boolean = false, skipLines: Int = 0,
      skipBlankLines: Boolean = false, datetimeFormat: Option[String] = None,
      // None = the open pass also checks quote parity, which decides
      // whether any record spans physical lines; Some(b) pins the parser
      // mode — false skips the parity check (the open pass still takes the
      // header and sample), true for known embedded-newline data
      multiLine: Option[Boolean] = None)

  def csv(spark: SparkSession, path: String,
      header: Boolean = true, delimiter: String = ",",
      overrides: Map[String, DataType] = Map.empty,
      sampleSize: Int = TypeInference.SampleSize,
      encoding: Option[String] = None,
      opts: CsvOpts = CsvOpts()): DataFrame = {
    val o = open(spark, path, header, delimiter, sampleSize, encoding, opts)
    if (o.raw.columns.isEmpty) o.raw
    else TypeInference.castTo(o.raw, TypeInference.infer(o.sample,
      o.raw.columns.toSeq, overrides, opts.datetimeFormat), opts.datetimeFormat)
  }

  /** An opened CSV source: the parser mode it reads with, its all-string
    * frame with null_if/empty_as_null applied, and the inference sample —
    * the rows `raw.limit(sampleSize).collect()` returns. */
  private[graft] final case class Opened(multiLine: Boolean, raw: DataFrame,
      sample: Seq[Row])

  private[graft] def open(spark: SparkSession, path: String, header: Boolean,
      delimiter: String, sampleSize: Int, encoding: Option[String],
      opts: CsvOpts): Opened = {
    // one options map for Spark's reader and the driver-side parser, so the
    // sample parses exactly as the distributed read does. RFC-4180
    // doubled-quote escaping is the default (the reference's Go
    // encoding/csv dialect); Spark's own default is backslash — override
    // unless the task declares one
    val options = Map("header" -> header.toString, "sep" -> delimiter,
      "inferSchema" -> "false", "escape" -> opts.escape.getOrElse("\"")) ++
      opts.quote.map("quote" -> _) ++ encoding.map("encoding" -> _)
    val reader = spark.read.options(options)
    def collected(raw: DataFrame, multiLine: Boolean): Opened = {
      val nulled = applyNullIf(raw, opts)
      Opened(multiLine, nulled, nulled.limit(sampleSize).collect().toSeq)
    }
    // gzip/snappy/lz4/bzip2 go through Hadoop codecs natively; .zst routes
    // through the zstd-jni line reader (compression.go extension sniffing),
    // which must apply the charset itself — csv(Dataset[String]) never
    // sees the raw bytes, so the reader's encoding option can't
    val skipping = opts.skipLines > 0 || opts.skipBlankLines
    if (hasZstd(spark, path)) {
      var lines = Compression.readZstdLines(spark, path, encoding)
      if (skipping) lines = applyLineSkips(spark, lines, opts)
      collected(reader.csv(lines), multiLine = false)
    } else if (Compression.isZip(path)) {
      // .zip routes through the archive line reader (compression.go
      // extension dispatch); same line-fed CSV parse as .zst
      var lines = Compression.readZipLines(spark, path, encoding)
      if (skipping) lines = applyLineSkips(spark, lines, opts)
      collected(reader.csv(lines), multiLine = false)
    } else if (skipping) {
      require(encoding.forall(isUtf8),
        "skip_lines/skip_blank_lines need UTF-8 input (the line pre-pass " +
          "reads through the text source)")
      collected(reader.csv(readLinesSkipping(spark, path, opts)),
        multiLine = false)
    } else {
      // Quoted fields may embed newlines (the reference's Go csv reader
      // always handles them), which forces Spark's multiLine parser — but
      // multiLine makes every file ONE unsplittable task, the difference
      // between 2-way and 32-way parallelism on a 2-file input, and
      // between file-count and split-count parallelism at 100 TB. A record
      // spanning physical lines must leave some line with an ODD number of
      // quote chars (the "" in-field escape is two chars), so one pass over
      // the raw lines that finds no odd line proves the input safe for the
      // line-splittable parser. The same pass ([[openLines]]) also returns
      // the header line and the inference sample, so a clean input opens
      // in one Spark job and the reader gets its schema instead of running
      // its own header job. Parity is only meaningful under the default
      // "-quote/escape dialect and a byte-compatible charset; otherwise the
      // input is read conservatively as multiLine, and a non-UTF-8 input
      // pinned to the line parser keeps the reader's own sample collect.
      val utf8 = encoding.forall(isUtf8)
      val sniffable = opts.quote.forall(_ == "\"") &&
        opts.escape.forall(_ == "\"") && utf8
      val pinned = opts.multiLine.orElse(Option.when(!sniffable)(true))
      val lineOptions = options + ("multiLine" -> "false")
      val lineOpen =
        if (pinned.contains(true) || !utf8) None
        else openLines(spark, path, lineOptions, sampleSize,
          parity = pinned.isEmpty)
      lineOpen match {
        case Some((schema, sample)) =>
          val raw = spark.read.options(lineOptions).schema(schema).csv(path)
          Opened(multiLine = false, applyNullIf(raw, opts),
            sample.map(nullIfRow(_, opts)))
        case None =>
          val multi = pinned.getOrElse(true)
          collected(reader.option("multiLine", multi.toString).csv(path), multi)
      }
    }
  }

  private def isUtf8(e: String): Boolean =
    e.equalsIgnoreCase("utf-8") || e.equalsIgnoreCase("utf8")

  /** One partition's share of the open pass: whether a line holds an odd
    * number of quote chars, the header candidate, the number of data lines,
    * and the first `keep` of them. */
  private final case class LinePart(odd: Boolean, first: Option[String],
      rows: Long, kept: Array[String])

  /** Scan one partition of the raw lines (`value`, `file_path`,
    * `file_block_start`) the way Spark's line-mode CSV reader sees them:
    * blank lines (all chars <= ' ', String.trim's rule) are dropped, and
    * with a header the first non-blank line of every split that starts a
    * file is the header, not data. The header candidate is the first line
    * holding a char other than ' ', because Spark's header job filters
    * with SQL `trim`, which strips only spaces. Works on the UTF-8 bytes:
    * quote and blank chars are single bytes that never occur inside a
    * multi-byte sequence. Stops at the first odd line when `parity` is
    * set. */
  private def scanLines(rows: Iterator[InternalRow], header: Boolean,
      keep: Int, parity: Boolean): LinePart = {
    var first: Option[String] = None
    var n = 0L
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var file: UTF8String = null
    var start = -1L
    var atHeader = false
    while (rows.hasNext) {
      val r = rows.next()
      val line = r.getUTF8String(0)
      if (r.getLong(2) != start || !r.getUTF8String(1).equals(file)) {
        file = r.getUTF8String(1).copy()
        start = r.getLong(2)
        atHeader = header && start == 0
      }
      var quotes = 0
      var blank = true
      var spaces = true
      var i = 0
      val len = line.numBytes
      while (i < len) {
        val b = line.getByte(i)
        if (b == '"') quotes += 1
        if ((b & 0xff) > ' ') blank = false
        if (b != ' ') spaces = false
        i += 1
      }
      if (parity && (quotes & 1) == 1)
        return LinePart(odd = true, first, n, kept.toArray)
      if (first.isEmpty && !spaces) first = Some(line.toString)
      if (!blank) {
        if (atHeader) atHeader = false
        else {
          if (kept.size < keep) kept += line.toString
          n += 1
        }
      }
    }
    LinePart(odd = false, first, n, kept.toArray)
  }

  /** Open a line-splittable CSV source in one Spark job over its raw
    * lines. Every partition reports its quote parity and its count of data
    * lines; partition 0 also returns its first `sampleSize` data lines and
    * its header line. When partition 0 holds fewer than `sampleSize`, one
    * more job over only the following partitions that hold the shortfall
    * fetches it in partition order — together exactly the rows
    * `limit(sampleSize)` takes from the reader, which scans the same file
    * splits in the same order. On the driver the header becomes Spark's
    * all-string schema (`_c<i>` for blanks, an index suffix for
    * duplicates) and the sample lines go through Spark's own
    * `UnivocityParser` built from the reader's options. None when
    * `parity` is set and some line holds an odd number of quote chars. */
  private def openLines(spark: SparkSession, path: String,
      options: Map[String, String], sampleSize: Int,
      parity: Boolean): Option[(StructType, Seq[Row])] = {
    import org.apache.spark.sql.functions.col
    val text = spark.read.text(path)
    // a directory without data files: let the reader raise its own error
    if (text.inputFiles.isEmpty) return Some((
      spark.read.options(options).csv(path).schema, Nil))
    val conf = spark.sessionState.conf
    val csvOpts = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val header = csvOpts.headerFlag
    val rdd = text.select(col("value"), col("_metadata.file_path"),
      col("_metadata.file_block_start")).queryExecution.toRdd
    val sc = spark.sparkContext
    val parts = sc.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) =>
      scanLines(it, header, if (ctx.partitionId == 0) sampleSize else 0, parity))
    if (parts.exists(_.odd)) return None
    val schema = parts.iterator.flatMap(_.first).nextOption()
      .flatMap(l => Option(new CsvParser(csvOpts.asParserSettings).parseLine(l)))
      .fold(new StructType())(tokens => StructType(CSVUtils.makeSafeHeader(
        tokens, conf.caseSensitiveAnalysis, csvOpts).map(StructField(_, StringType))))
    // the shortfall, taken from each following partition in order
    var left = sampleSize - parts.headOption.fold(0)(_.kept.length)
    val takes = parts.indices.drop(1).flatMap { p =>
      val take = math.min(left.toLong, parts(p).rows).toInt
      left -= take
      Option.when(take > 0)(p -> take)
    }.toMap
    val rest =
      if (takes.isEmpty) Array.empty[Array[String]]
      else sc.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) =>
        scanLines(it, header, takes(ctx.partitionId), parity = false).kept,
        takes.keys.toSeq.sorted)
    val lines = parts.headOption.fold(Array.empty[String])(_.kept) ++ rest.flatten
    // what the reader's line parse does with a data line, parse mode
    // (PERMISSIVE pads or truncates a ragged row) included
    val parser = new UnivocityParser(schema, schema, csvOpts)
    val safe = new FailureSafeParser[String](parser.parse(_), csvOpts.parseMode,
      schema, csvOpts.columnNameOfCorruptRecord)
    val sample = lines.toVector.flatMap(l => safe.parse(l).map(r =>
      Row.fromSeq(schema.indices.map(i =>
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString))))
    Some((schema, sample))
  }

  /** Drop the first `skipLines` physical lines of each file without a
    * shuffle: partition 0 of a file's splits holds its first lines, so a
    * per-file textFile read + drop on partition 0 stays distributed. */
  private def readLinesSkipping(spark: SparkSession, path: String,
      opts: CsvOpts): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(s => s.isFile &&
          !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_")).map(_.getPath.toString).sorted
      else Seq(path)
    val n = opts.skipLines
    val perFile = files.map { f =>
      if (n == 0) spark.read.textFile(f)
      else spark.read.textFile(f)
        .rdd.mapPartitionsWithIndex((i, it) => if (i == 0) it.drop(n) else it)
        .toDS()
    }
    // a directory with no data files (or only dot/underscore-prefixed
    // ones) must not hit empty.reduce — mirror the non-skipping path's
    // empty-source behavior with an empty Dataset[String]
    val all =
      if (perFile.isEmpty) spark.emptyDataset[String]
      else perFile.reduce(_ union _)
    applyLineSkips(spark, all, opts.copy(skipLines = 0))
  }

  /** Blank-line filter plus per-PARTITION head drop. Only the zstd path
    * passes a non-zero skipLines here — readZstdLines yields exactly one
    * partition per file, so dropping from every partition IS the per-file
    * semantics. The plain-text path skips per file itself
    * (readLinesSkipping) and calls this with skipLines=0. */
  private def applyLineSkips(spark: SparkSession,
      lines: org.apache.spark.sql.Dataset[String],
      opts: CsvOpts): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val dropped =
      if (opts.skipLines > 0)
        lines.mapPartitions(_.drop(opts.skipLines))
      else lines
    if (opts.skipBlankLines) dropped.filter(l => l.trim.nonEmpty) else dropped
  }

  /** null_if / empty_as_null on the raw all-string frame, pre-inference. */
  private def applyNullIf(raw: DataFrame, opts: CsvOpts): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    if (opts.nullIf.isEmpty && !opts.emptyAsNull) raw
    else raw.select(raw.columns.map { c =>
      val base = col(s"`$c`")
      val matchesNull =
        (if (opts.nullIf.nonEmpty) Some(base.isin(opts.nullIf: _*)) else None) ++
          (if (opts.emptyAsNull) Some(base === "") else None)
      val anyMatch = matchesNull.reduce(_ || _)
      when(anyMatch, lit(null)).otherwise(base).as(c)
    }.toSeq: _*)
  }

  /** null_if / empty_as_null on one sampled row, as [[applyNullIf]] does on
    * the frame. */
  private def nullIfRow(r: Row, opts: CsvOpts): Row =
    if (opts.nullIf.isEmpty && !opts.emptyAsNull) r
    else Row.fromSeq(r.toSeq.map {
      case v: String if opts.nullIf.contains(v) ||
          (opts.emptyAsNull && v.isEmpty) => null
      case v => v
    })

  def jsonl(spark: SparkSession, path: String,
      overrides: Map[String, DataType] = Map.empty,
      sampleSize: Int = TypeInference.SampleSize): DataFrame = {
    // primitivesAsString routes JSON scalars through the same inference
    // engine as CSV, for identical type decisions across formats
    val reader = spark.read
      .option("primitivesAsString", "true")
      // a file whose first non-ws byte is '[' is a JSON ARRAY document
      // (iop/json.go handles both layouts); line-mode would yield one
      // corrupt row per pretty-printed line
      .option("multiLine", firstByteIsBracket(spark, path).toString)
    val raw1 =
      if (hasZstd(spark, path)) reader.json(Compression.readZstdLines(spark, path))
      else reader.json(path)
    // a pretty-printed document the line-mode parse can't read yields only
    // the corrupt-record column — retry as a whole-file document (covers
    // '{'-rooted layouts the '['-sniff above misses)
    val raw0 =
      if (raw1.columns.toSeq == Seq("_corrupt_record") && !hasZstd(spark, path))
        spark.read.option("primitivesAsString", "true")
          .option("multiLine", "true").json(path)
      else raw1
    // object-wrapped array document ({"data": [...]}): the records live in
    // the single array field — unwrap to its elements (iop/json.go treats
    // both layouts as the same stream)
    val raw = raw0.schema.fields match {
      case Array(f) => f.dataType match {
        case org.apache.spark.sql.types.ArrayType(_: StructType, _) =>
          raw0.select(org.apache.spark.sql.functions
            .explode(org.apache.spark.sql.functions.col(s"`${f.name}`"))
            .as("__rec")).select("__rec.*")
        case _ => raw0
      }
      case _ => raw0
    }
    inferAndCast(raw, overrides, sampleSize)
  }

  /** Peek the first data file's first non-whitespace byte. */
  private def firstByteIsBracket(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.globStatus(p) match {
        case null => Array.empty[org.apache.hadoop.fs.FileStatus]
        case arr => arr
      }
      val first = st.flatMap { s =>
        if (s.isDirectory)
          fs.listStatus(s.getPath).filter(f => f.isFile &&
            !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_"))
        else Array(s)
      }.sortBy(_.getPath.toString).headOption
      first.exists { f =>
        val in = fs.open(f.getPath)
        try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          (0 until math.max(n, 0)).iterator.map(buf(_).toChar)
            .find(!_.isWhitespace).contains('[')
        } finally in.close()
      }
    } catch { case _: java.io.IOException => false }
  }

  private def hasZstd(spark: SparkSession, path: String): Boolean = {
    if (Compression.isZstd(path)) true
    else {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        val isDir = fs.getFileStatus(p).isDirectory
        val anyZstd = isDir &&
          fs.listStatus(p).exists(f => Compression.isZstd(f.getPath.getName))
        if (anyZstd) {
          // the zstd route reads ONLY .zst files — a mixed directory would
          // silently drop the plain files' rows, so refuse it
          val plain = fs.listStatus(p).filter(f => f.isFile &&
            !Compression.isZstd(f.getPath.getName) &&
            !f.getPath.getName.startsWith(".") &&
            !f.getPath.getName.startsWith("_"))
          require(plain.isEmpty, s"directory $path mixes .zst and plain " +
            s"files (e.g. ${plain.head.getPath.getName}); split them or " +
            "recompress uniformly")
        }
        anyZstd
      } catch { case _: java.io.FileNotFoundException => false }
    }
  }

  /** stdin scan (`cat f.csv | sling run`, fs.go:1537 MakeDatastream): drain
    * the stream to a staging file, then run the normal distributed read +
    * inference path. Stdin is inherently a single driver-side stream; the
    * staging hop is what makes the rest of the plan parallel.
    */
  def stdin(spark: SparkSession, in: java.io.InputStream,
      format: String = "csv", stagingDir: String = "/tmp/graft-stdin",
      overrides: Map[String, DataType] = Map.empty): DataFrame = {
    val dir = new java.io.File(stagingDir)
    dir.mkdirs()
    val f = java.io.File.createTempFile("stdin-", s".$format", dir)
    val out = new java.io.FileOutputStream(f)
    try in.transferTo(out) finally out.close()
    format match {
      case "csv" => csv(spark, f.getAbsolutePath, overrides = overrides)
      case "jsonl" | "json" => jsonl(spark, f.getAbsolutePath, overrides = overrides)
      case other => throw new IllegalArgumentException(s"stdin format $other")
    }
  }

  private def inferAndCast(raw: DataFrame,
      overrides: Map[String, DataType], sampleSize: Int,
      datetimeFormat: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    // inference runs over STRING columns only — JSON structs/arrays (and
    // any already-typed column) pass through castTo untouched
    val strNames = raw.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    if (strNames.isEmpty) return raw
    val sample = raw.select(strNames.map(n => col(s"`$n`")): _*)
      .limit(sampleSize).collect().toSeq
    val schema = TypeInference.infer(sample, strNames, overrides, datetimeFormat)
    TypeInference.castTo(raw, schema, datetimeFormat)
  }
}
