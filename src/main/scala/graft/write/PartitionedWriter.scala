package graft.write

import org.apache.spark.sql.{Column, DataFrame, DataFrameReader}
import org.apache.spark.sql.functions._

/** Partitioned file writes with the reference's `{part_*}` URI masks
  * (core/dbio/iop/partition.go:47-121): time-truncation levels year..minute
  * become Hive-style partition columns via `partitionBy`, which Spark then
  * prunes on read — the pruning the reference implements by matching mask
  * paths (fs.go:747) comes free from the source listing.
  */
object PartitionedWriter {

  /** Mask field → generated column from the partition timestamp key. */
  def partField(field: String, key: Column): Column = field match {
    case "part_year" => year(key)
    case "part_month" => month(key)
    case "part_day" => dayofmonth(key)
    case "part_hour" => hour(key)
    case "part_minute" => minute(key)
    case "part_week" => weekofyear(key)
    case other => throw new IllegalArgumentException(s"unknown part field: $other")
  }

  /** Replace what is under `path` ([[StagedWrite.replace]]) with `df`
    * partitioned by the mask fields derived from `timeKey`
    * (e.g. Seq("part_year","part_month")).
    */
  def write(df: DataFrame, path: String, timeKey: String, fields: Seq[String],
      maxRecordsPerFile: Long = 0): Unit = {
    val withParts = fields.foldLeft(df)((d, f) =>
      d.withColumn(f, partField(f, col(timeKey))))
    val w = withParts.write.partitionBy(fields: _*)
    StagedWrite.replace(df.sparkSession, path)((if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile) else w).parquet)
  }

  /** Expand a `{part_*}` URI mask into the chunk URIs covering
    * `[start, end]` at the mask's LOWEST time resolution — the reference's
    * `GeneratePartURIsFromRange` (core/dbio/iop/partition.go:600-648).
    * Values render unpadded, matching Spark's Hive-style partition dirs
    * (`part_month=3`). A chunked file backfill reads exactly these URIs
    * instead of listing the whole partitioned tree — at scale that is the
    * difference between touching 24 directories and a million.
    */
  def partURIsFromRange(mask: String, start: java.time.LocalDateTime,
      end: java.time.LocalDateTime): Seq[String] = {
    require(!end.isBefore(start), s"range end ($end) is before start ($start)")
    import java.time.temporal.ChronoUnit._
    // the mask's finest field sets the chunk unit (fields listed coarse to fine)
    val present = Seq("part_year" -> YEARS, "part_month" -> MONTHS, "part_day" -> DAYS,
      "part_hour" -> HOURS, "part_minute" -> MINUTES)
      .filter { case (f, _) => mask.contains(s"{$f}") }
    require(present.nonEmpty, s"no {part_*} field in mask: $mask")
    val unit = present.last._2
    // years and months are not fixed durations: truncate by calendar field
    val first = unit match {
      case YEARS => start.withDayOfYear(1).truncatedTo(DAYS)
      case MONTHS => start.withDayOfMonth(1).truncatedTo(DAYS)
      case u => start.truncatedTo(u)
    }
    Iterator.iterate(first)(_.plus(1, unit)).takeWhile(!_.isAfter(end)).map { t =>
      mask.replace("{part_year}", t.getYear.toString)
        .replace("{part_month}", t.getMonthValue.toString)
        .replace("{part_day}", t.getDayOfMonth.toString)
        .replace("{part_hour}", t.getHour.toString)
        .replace("{part_minute}", t.getMinute.toString)
    }.toSeq
  }
}
