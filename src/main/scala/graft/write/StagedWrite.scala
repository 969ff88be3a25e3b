package graft.write

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one write protocol of every file target. A writer never writes the
  * live directory `P`: it fills the sibling directory it is handed, and
  * driver-side Hadoop `FileSystem` renames publish it, starting no Spark
  * job. This is the file analogue of the reference's temp table swapped in
  * within one transaction (task_run_write.go:434-478).
  *
  *  - [[replace]]: the writer fills `P__staging` (a failure deletes it and
  *    rethrows); then `P` → `P__old`, `P__staging` → `P`, and `P__old` is
  *    deleted.
  *  - [[append]]: the writer fills `P__append`; its data files move into
  *    `P` (Spark's part-file names carry the write job's UUID, so they never
  *    collide) and `P__append` is deleted.
  *  - [[settle]] runs before each write, and before [[ParquetTarget]] reads
  *    its state. It finishes or undoes what an interrupted write left:
  *    `P__old` without `P` is renamed back (a replace cut off between its
  *    two renames); `P__old` beside `P` and any `P__staging` are deleted; a
  *    `P__append` holding `_SUCCESS` moves its remaining data files into
  *    `P`, one without it is deleted.
  *
  * So once settled, a failed or interrupted load leaves `P` holding its
  * old rows or its new ones: never neither, never a mix. That rests on a
  * directory rename being atomic, as on local disks and HDFS; an object
  * store copies instead, so a crash inside a rename there can leave both
  * names partly filled. Deleting `P__old` or `P__append` after the data is
  * in place is cleanup; a failure there leaves the sibling to the next
  * settle. Settle assumes one writer per target at a time, with no other
  * process reading the target while it is written: replication streams
  * have distinct targets.
  */
object StagedWrite {

  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, p) = open(spark, path)
    val (staging, old) = (p.suffix("__staging"), p.suffix("__old"))
    settle(spark, path)
    stage(fs, staging, write)
    // a failed rename puts the old table back now rather than at the next
    // settle, so readers that do not settle still find it
    try {
      if (fs.exists(p)) rename(fs, p, old)
      rename(fs, staging, p)
    } catch { case e: Throwable => Try(settle(spark, path)); throw e }
    Try(fs.delete(old, true))
  }

  def append(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, p) = open(spark, path)
    val app = p.suffix("__append")
    settle(spark, path)
    stage(fs, app, write)
    moveInto(fs, app, p)
    Try(fs.delete(app, true))
  }

  def settle(spark: SparkSession, path: String): Unit = {
    val (fs, p) = open(spark, path)
    val (old, app) = (p.suffix("__old"), p.suffix("__append"))
    if (fs.exists(old)) { if (fs.exists(p)) delete(fs, old) else rename(fs, old, p) }
    delete(fs, p.suffix("__staging"))
    if (fs.exists(app)) {
      if (fs.exists(new Path(app, "_SUCCESS"))) moveInto(fs, app, p)
      delete(fs, app)
    }
  }

  /** Names Spark's file index skips: job bookkeeping, not data. */
  private[write] def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def open(spark: SparkSession, path: String): (FileSystem, Path) =
    (new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration), new Path(path))

  private def stage(fs: FileSystem, dir: Path, write: String => Unit): Unit =
    try write(dir.toString)
    catch { case e: Throwable => Try(fs.delete(dir, true)); throw e }

  /** Moves the data files under `from` to the same places under `to`. */
  private def moveInto(fs: FileSystem, from: Path, to: Path): Unit = {
    fs.mkdirs(to)
    fs.listStatus(from).filterNot(s => hidden(s.getPath.getName)).foreach { s =>
      val dst = new Path(to, s.getPath.getName)
      if (s.isDirectory) moveInto(fs, s.getPath, dst) else rename(fs, s.getPath, dst)
    }
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"failed to rename $from to $to")

  private def delete(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true)) throw new java.io.IOException(s"failed to delete $p")
}
