package graft.write

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-stream write to stdout (the reference streams csv/parquet to the
  * console when the target is stdout, core/sling/task_run_write.go:71-148).
  *
  * Rendering stays distributed: rows become CSV/JSON lines via codegen'd
  * `to_csv`/`to_json` on the executors; the driver only relays strings.
  * `toLocalIterator` pulls ONE partition at a time, so driver memory is
  * bounded by the largest partition, never the dataset.
  */
object StdoutWriter {

  /** Stream `df` as CSV lines to `out`; returns rows written. */
  def csv(df: DataFrame, out: OutputStream = System.out,
      header: Boolean = true): Long =
    // RFC-4180 quote doubling, matching the readers' default dialect
    lines(df.select(to_csv(struct(df.columns.map(col): _*),
      java.util.Map.of("escape", "\"")).as("line")), out,
      Option.when(header)(df.columns.mkString(",")))

  /** Stream `df` as JSONL to `out`; returns rows written. */
  def jsonl(df: DataFrame, out: OutputStream = System.out): Long =
    lines(df.select(to_json(struct(df.columns.map(col): _*)).as("line")), out, None)

  /** Relay the one-string-column `rendered` to `out`, led by `header`. */
  private def lines(rendered: DataFrame, out: OutputStream, header: Option[String]): Long = {
    val w = new BufferedWriter(new OutputStreamWriter(out, UTF_8))
    header.foreach { h => w.write(h); w.newLine() }
    var n = 0L
    val it = rendered.toLocalIterator()
    while (it.hasNext) { w.write(it.next().getString(0)); w.newLine(); n += 1 }
    w.flush()
    n
  }
}
