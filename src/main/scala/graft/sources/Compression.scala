package graft.sources

import java.io.{BufferedReader, ByteArrayInputStream, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** zstd compression for CSV/JSONL text files — the reference sniffs and
  * wraps compression streams itself (core/dbio/iop/compression.go:38-40,
  * 145,261: gzip/zstd/snappy by extension). Spark's text writers cover
  * gzip/snappy/lz4/bzip2 through Hadoop codecs, but the Hadoop zstd codec
  * needs native libhadoop; this wraps zstd-jni (already on the classpath
  * for parquet) the same way the reference wraps klauspost/zstd.
  *
  * Layout matches Spark's own text compression: one whole-file stream per
  * part file, non-splittable (exactly like .gz) — parallelism comes from
  * the file count, which the writer takes from the input partitioning. At
  * 100 TB the writer upstream splits by `file_max_bytes`, so per-file
  * memory stays bounded.
  */
object Compression {

  def isZstd(path: String): Boolean = path.endsWith(".zst") || path.endsWith(".zstd")

  /** Distributed line read of a directory of .zst text files: one task per
    * file (same granularity Spark gives non-splittable .gz), decompression
    * streamed per task. Files are bounded by the writer's split size.
    */
  def readZstdLines(spark: SparkSession, path: String,
      encoding: Option[String] = None): Dataset[String] = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // glob first (getFileStatus on a pattern throws before any fallback)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val files =
      (if (statuses.length == 1 && statuses.head.isDirectory)
        fs.listStatus(statuses.head.getPath).map(_.getPath)
       else statuses.map(_.getPath))
        .filter(f => isZstd(f.getName)).map(_.toString).sorted
    require(files.nonEmpty, s"no .zst files under $path")
    val charsetName = encoding.getOrElse(UTF_8.name())
    val hconf = graft.util.HadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(files.toSeq, files.length)
      .flatMap { f =>
        val fp = new Path(f)
        val pfs = fp.getFileSystem(hconf.value)
        val in: InputStream = new ZstdInputStream(pfs.open(fp))
        val reader = new BufferedReader(new InputStreamReader(in,
          java.nio.charset.Charset.forName(charsetName)))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => reader.close()))
        Iterator.continually(reader.readLine()).takeWhile(_ != null)
      }.toDS()
  }

  def isZip(path: String): Boolean = path.endsWith(".zip")

  /** Distributed line read of .zip archives (the reference sniffs .zip and
    * unzips before parsing, core/dbio/iop/compression.go extension
    * dispatch): one task per archive, entries streamed in order. For
    * multi-entry archives each entry's lines are concatenated in entry
    * order — the reference's single-stream semantics (its fixtures are
    * single-entry archives of one CSV).
    */
  def readZipLines(spark: SparkSession, path: String,
      encoding: Option[String] = None): Dataset[String] = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val files =
      (if (statuses.length == 1 && statuses.head.isDirectory)
        fs.listStatus(statuses.head.getPath).map(_.getPath)
       else statuses.map(_.getPath))
        .filter(f => isZip(f.getName)).map(_.toString).sorted
    require(files.nonEmpty, s"no .zip files under $path")
    val charsetName = encoding.getOrElse(UTF_8.name())
    val hconf = graft.util.HadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(files.toSeq, files.length)
      .flatMap { f =>
        val fp = new Path(f)
        val pfs = fp.getFileSystem(hconf.value)
        val zin = new java.util.zip.ZipInputStream(pfs.open(fp))
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => zin.close()))
        val cs = java.nio.charset.Charset.forName(charsetName)
        Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
          .filterNot(_.isDirectory)
          .flatMap { _ =>
            // readAllBytes stops at the current entry's end; per-task
            // memory is one entry (bounded by the writer's split size,
            // same non-splittable unit as .gz)
            new String(zin.readAllBytes(), cs).linesIterator
          }
      }.toDS()
  }

  /** Write a single-string-column DataFrame as .zst part files into `dir`,
    * one per partition, each optionally led by a header line (Spark's
    * per-file header semantics). `dir` is expected fresh: a file target
    * hands in its staging directory ([[graft.write.StagedWrite.replace]]).
    */
  def writeZstdLines(lines: DataFrame, dir: String, header: Option[String],
      suffix: String = ".csv.zst"): Unit = {
    require(lines.schema.fields.length == 1 &&
      lines.schema.fields.head.dataType == org.apache.spark.sql.types.StringType,
      "writeZstdLines expects exactly one string column")
    val spark = lines.sparkSession
    val outDir = new Path(dir)
    val fs = outDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(outDir)
    val hdr = header
    val hconf = graft.util.HadoopConf(spark.sparkContext.hadoopConfiguration)
    lines.rdd.map(_.getString(0)).mapPartitionsWithIndex { (i, it) =>
      if (it.hasNext || i == 0) {
        val part = new Path(dir, f"part-$i%05d$suffix")
        val pfs = part.getFileSystem(hconf.value)
        val out = new ZstdOutputStream(pfs.create(part, true))
        try {
          def writeLine(s: String): Unit = {
            out.write(s.getBytes(UTF_8)); out.write('\n')
          }
          hdr.foreach(writeLine)
          it.foreach(writeLine)
        } finally out.close()
      }
      Iterator.single(0)
    }.count(): Unit
  }

  /** CSV rows → .zst files via codegen'd `to_csv` (no UDFs). */
  def writeCsvZstd(df: DataFrame, dir: String, header: Boolean = true): Unit = {
    // RFC-4180 quote doubling, matching the readers' default dialect
    val rendered = df.select(to_csv(struct(df.columns.map(col): _*),
      java.util.Map.of("escape", "\"")).as("line"))
    writeZstdLines(rendered, dir,
      if (header) Some(df.columns.mkString(",")) else None)
  }

  /** JSONL rows → .zst files via codegen'd `to_json`. */
  def writeJsonlZstd(df: DataFrame, dir: String): Unit = {
    val rendered = df.select(to_json(struct(df.columns.map(col): _*)).as("line"))
    writeZstdLines(rendered, dir, None, suffix = ".jsonl.zst")
  }

  /** In-memory helpers for unit tests / stdin staging. */
  def zstdCompress(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZstdOutputStream(bos)
    z.write(data); z.close()
    bos.toByteArray
  }

  def zstdDecompress(data: Array[Byte]): Array[Byte] = {
    val in = new ZstdInputStream(new ByteArrayInputStream(data))
    try in.readAllBytes() finally in.close()
  }
}
