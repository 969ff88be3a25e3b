package graft.write

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

/** A file-backed target table (parquet directory).
  *
  * This is the Spark-native stand-in for the reference's "target table":
  * sling stages into a temp DB table and swaps/merges
  * (core/sling/task_run_write.go:163-498); with a lake-format target the same
  * semantics are a transactional overwrite/append/MERGE. On plain parquet we
  * implement the merge strategies as set algebra + full rewrite — at cluster
  * scale the natural upgrade is Delta/Iceberg `MERGE INTO` (file-pruned),
  * which shares the exact logical semantics implemented in [[Modes]].
  *
  * Every write goes through [[StagedWrite]]: [[replaceWith]] stages the
  * new table beside the live one and swaps it in with two renames,
  * [[append]] stages its files and moves them in, and every read of the
  * table's state settles what an interrupted write left first. So a failed
  * or interrupted load leaves the old rows or the new ones, never neither
  * and never a mix. Settle assumes one writer per target at a time, and no
  * other process reading the target while it is written.
  *
  * The table's state is read from its data files' footers on the driver,
  * without a Spark job: whether it holds any data file ([[exists]]), its
  * row count ([[rowCount]], the reference's row counter after a load), and
  * its schema, which [[read]] hands the reader so it skips its
  * schema-inference job. [[read]] serves any parquet path this way, also
  * files another writer produced ([[graft.sources.Tables]]).
  */
final case class ParquetTarget(spark: SparkSession, path: String) {

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The data files under the target, as Spark's file index lists them
    * (hidden `.`/`_` names skipped, partition directories descended), and
    * whether any lies in a subdirectory (a Hive-partitioned layout). */
  private def dataFiles: (Seq[FileStatus], Boolean) = {
    StagedWrite.settle(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def walk(dir: Path, nested: Boolean): Seq[(FileStatus, Boolean)] =
      fs.listStatus(dir).toSeq.filterNot(s => StagedWrite.hidden(s.getPath.getName))
        .sortBy(_.getPath.getName)
        .flatMap(s => if (s.isDirectory) walk(s.getPath, nested = true)
          else Seq(s -> nested))
    if (!fs.exists(root)) (Nil, false)
    else {
      val top = fs.getFileStatus(root)
      val files = (if (top.isDirectory) walk(root, nested = false)
        else Seq(top -> false)).filter(_._1.getLen > 0)
      (files.map(_._1), files.exists(_._2))
    }
  }

  private def footer(f: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try r.getFooter finally r.close()
  }

  /** Holds at least one data file. An empty directory (made by hand, or
    * by another tool) does not count, so the next run creates the table
    * afresh. */
  def exists: Boolean = dataFiles._1.nonEmpty

  /** Rows in the target: the sum of the row counts in its data files'
    * footers, read on the driver — no Spark job. */
  def rowCount: Long = dataFiles._1.iterator
    .map(f => footer(f).getBlocks.asScala.iterator.map(_.getRowCount).sum).sum

  /** The target as a DataFrame. A flat directory or a file is read with
    * the schema Spark infers from its first data file's footer, taken
    * from that footer as Spark takes it: the row schema Spark's writer
    * stores there, else the parquet schema converted under the session's
    * conf. A Hive-partitioned directory or a session that merges parquet
    * schemas takes Spark's own inference. */
  def read: DataFrame = footerSchema.fold(spark.read.parquet(path))(
    spark.read.schema(_).parquet(path))

  private def footerSchema: Option[StructType] = {
    val (files, nested) = dataFiles
    val sqlConf = spark.sessionState.conf
    if (nested || files.isEmpty || sqlConf.isParquetSchemaMergingEnabled) None
    else {
      val meta = footer(files.head).getFileMetaData
      Some(Option(meta.getKeyValueMetaData.get(ParquetTarget.SparkRowMetadata))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
        .getOrElse(new ParquetToSparkSchemaConverter(sqlConf)
          .convert(meta.getSchema)))
    }
  }

  def append(df: DataFrame): Unit =
    StagedWrite.append(spark, path)(df.write.parquet)

  /** Replace target contents with `df`, which may read from this target:
    * the live files stay in place until `df` is written in full. */
  def replaceWith(df: DataFrame): Unit =
    StagedWrite.replace(spark, path)(df.write.parquet)
}

object ParquetTarget {
  /** The footer key Spark's parquet writer stores its row schema under. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"
}
