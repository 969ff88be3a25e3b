package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload's pass can use: the session, its own directory in the
  * work area, the operation ledger and the tracer. */
final case class Ctx(spark: SparkSession, dir: Path, nproc: Int, ops: Ops,
    tracer: Tracer)

final case class InputSizes(rows: Long, files: Long, bytes: Long) {
  def toMap: Map[String, Any] = Map("rows" -> rows, "files" -> files, "bytes" -> bytes)
}

/** Wall seconds of a pass's two phases; None when that phase's operation
  * failed. Phase 1 is the load (or curation) and phase 2 the merge (or
  * near-duplicate match) that follows it. */
final case class PassTimes(phase1: Option[Double], phase2: Option[Double])

trait Workload {
  def name: String

  /** Records phase 1 consumes, for `rows_per_s`. Known after [[generate]]. */
  def phase1Rows: Long

  /** Write this seed's inputs under `dir` (emptied first). */
  def generate(spark: SparkSession, dir: Path, seed: Long): InputSizes

  /** One pass from the same starting state every time. */
  def pass(ctx: Ctx): PassTimes

  /** Isolated layer calls, for the traced run only. */
  def probes(ctx: Ctx): Map[String, Double]
}

object Workload {
  val names: Seq[String] = Seq("el_csv_ingest", "repl_fanout", "td_curation")

  def apply(name: String): Workload = name match {
    case "el_csv_ingest" => new ElCsvIngest
    case "repl_fanout" => new ReplFanout
    case "td_curation" => new TdCuration
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  /** (data files, bytes) under `p`; Spark's `_SUCCESS` and `.crc` side
    * files are not data. */
  def dataFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(x => Files.isRegularFile(x)).toArray.toSeq
          .map(_.asInstanceOf[Path]).filterNot { x =>
            val n = x.getFileName.toString
            n.startsWith("_") || n.startsWith(".")
          }
        (files.size.toLong, files.map(x => Files.size(x)).sum)
      } finally s.close()
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
