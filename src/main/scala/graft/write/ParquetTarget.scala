package graft.write

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    }
    def walk(dir: Path, nested: Boolean): Seq[(FileStatus, Boolean)] =
      fs.listStatus(dir).toSeq.filterNot(hidden).sortBy(_.getPath.getName)
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

  /** Holds at least one data file. A directory a failed overwrite left
    * empty does not count, so the next run creates the table afresh. */
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

  def overwrite(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def append(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Replace target contents with `df`, where `df` may read from this target.
    * Parquet can't overwrite a path that's an input of the same plan, so
    * materialize to a sibling staging dir and swap — the file analogue of the
    * reference's temp-table + transactional swap (task_run_write.go:434-478).
    */
  def replaceWith(df: DataFrame): Unit = {
    val staging = path + "__staging"
    val p = new Path(path)
    val s = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a failure while materializing the staging copy leaves the target
    // untouched; clean the partial staging dir so reruns start fresh
    // (task_run_write.go:313-331 temp cleanup)
    try df.write.mode(SaveMode.Overwrite).parquet(staging)
    catch {
      case e: Throwable =>
        try fs.delete(s, true) catch { case _: Exception => () }
        throw e
    }
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"failed to delete $p before swap")
    if (!fs.rename(s, p))
      throw new java.io.IOException(s"failed to rename $s to $p — data left in staging")
  }
}

object ParquetTarget {
  /** The footer key Spark's parquet writer stores its row schema under. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"
}
