package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.write.ParquetTarget

/** Parquet table loader for the TPC-H-ish testdata layout: one parquet file
  * (or directory of files) per table under a scale-factor directory.
  *
  * At cluster scale the same call reads a multi-file partitioned dataset —
  * `spark.read.parquet` takes directories/globs; nothing here assumes a single
  * local file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table, read with its footer schema: no schema-inference job. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = ParquetTarget(spark, s"$sfDir/$name.parquet").read
    if (name == "events") normalizeEvents(df) else df
  }

  /** Streaming operators (watermarks, session windows) and epoch arithmetic
    * require a zoned TIMESTAMP on events.ts, but the generated parquet has
    * carried two unzoned physical encodings across testdata revisions:
    *
    *   - TIMESTAMP(NANOS): Spark surfaces it as a long when
    *     `spark.sql.legacy.parquet.nanosAsLong` is set (Spark has no
    *     nanosecond timestamp type) — convert with epoch-floor truncation;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ —
    *     cast to TIMESTAMP, which with the engine's pinned UTC session
    *     timezone preserves the wall-clock value exactly (and matches how
    *     naive-timestamp engines like DuckDB interpret the same file).
    */
  private def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        // floor division toward the epoch, not `div` (truncation toward
        // zero): pre-epoch nanos would otherwise round UP one microsecond,
        // disagreeing with engines that floor-truncate timestamps. Integer
        // floor() keeps full 2^63 precision, unlike double `/`.
        df.withColumn("ts",
          timestamp_micros(expr("cast(floor(ts, -3) div 1000 as bigint)")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Register every table as a temp view so `spark.sql` queries (the custom-SQL
    * surface of the engine) can reference them by name.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
