package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TypeInference
import graft.sources.FileSources
import graft.sources.FileSources.CsvOpts
import graft.tools.SparkJobs

/** The one-job CSV open against the open it replaced: the quote-parity
  * sniff, Spark's own header job and `limit(sampleSize).collect()`. Parser
  * mode, all-string schema, sample rows and the full cast frame must all
  * agree. */
class CsvOpenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root = Files.createTempDirectory("graft-csv-open")

  /** Write `files` (name → content) into a fresh directory under the
    * spec's temp root. */
  private def fixture(name: String, files: (String, String)*): Path = {
    val dir = root.resolve(name)
    Files.createDirectories(dir)
    files.foreach { case (f, body) =>
      Files.write(dir.resolve(f), body.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  /** The open as it was before the one-job open, kept verbatim: the
    * sniff, the reader's own header inference, null_if, then the sample
    * collect of `inferAndCast`. */
  private def reference(path: String, header: Boolean, delimiter: String,
      sampleSize: Int, encoding: Option[String],
      opts: CsvOpts): (Boolean, DataFrame, Seq[Row]) = {
    val reader = spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("inferSchema", "false")
    opts.quote.foreach(q => reader.option("quote", q))
    reader.option("escape", opts.escape.getOrElse("\""))
    encoding.foreach(e => reader.option("encoding", e))
    val multi = opts.multiLine.getOrElse {
      val sniffable = opts.quote.forall(_ == "\"") &&
        opts.escape.forall(_ == "\"") &&
        encoding.forall(e => e.equalsIgnoreCase("utf-8") ||
          e.equalsIgnoreCase("utf8"))
      if (!sniffable) true
      else {
        import org.apache.spark.sql.functions.{col, length, translate}
        !spark.read.text(path)
          .filter(((length(col("value")) -
            length(translate(col("value"), "\"", ""))) % 2) === 1)
          .isEmpty
      }
    }
    val raw = reader.option("multiLine", multi.toString).csv(path)
    val nulled = {
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
    import org.apache.spark.sql.functions.col
    val strNames = nulled.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    val sample =
      if (strNames.isEmpty) Nil
      else nulled.select(strNames.map(n => col(s"`$n`")): _*)
        .limit(sampleSize).collect().toSeq
    (multi, nulled, sample)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  private def check(dir: Path, header: Boolean = true,
      sampleSize: Int = TypeInference.SampleSize,
      opts: CsvOpts = CsvOpts()): FileSources.Opened = {
    val path = dir.toString
    val (multi, raw, sample) = reference(path, header, ",", sampleSize, None, opts)
    val got = FileSources.open(spark, path, header, ",", sampleSize, None, opts)
    assert(got.multiLine == multi, "parser mode")
    assert(got.raw.schema == raw.schema, "all-string schema")
    assert(got.sample == sample, "sample rows")
    val cast =
      if (raw.columns.isEmpty) raw
      else TypeInference.castTo(raw, TypeInference.infer(sample,
        raw.columns.toSeq, Map.empty, opts.datetimeFormat), opts.datetimeFormat)
    val csv = FileSources.csv(spark, path, header = header,
      sampleSize = sampleSize, opts = opts)
    assert(csv.schema == cast.schema, "cast schema")
    assert(rows(csv) == rows(cast), "cast rows")
    got
  }

  private def openJobs(dir: Path, sampleSize: Int): Int =
    SparkJobs.during(spark.sparkContext)(FileSources.open(spark, dir.toString,
      header = true, ",", sampleSize, None, CsvOpts()))._2

  private def table(header: String, n: Int, from: Int = 0): String =
    (header +: (from until from + n).map(i =>
      s"$i,${i % 7},${i * 3}.25,2024-01-${1 + i % 28},\"w$i, \"\"q\"\"\"")).mkString("\n") + "\n"

  private val cols = "id,k,amount,day,note"

  test("multi-file directory of unequal files, sample inside partition 0") {
    val dir = fixture("multi", "a.csv" -> table(cols, 40),
      "b.csv" -> table(cols, 300, 40), "c.csv" -> table(cols, 5, 340))
    check(dir)
    check(dir, sampleSize = 25)
    assert(openJobs(dir, 25) == 1, "partition 0 holds the sample: one job")
  }

  test("three 400-row files: the shortfall comes from the following partitions") {
    val dir = fixture("short", (0 until 3).map(f =>
      f"p$f.csv" -> table(cols, 400, f * 400)): _*)
    assert(spark.read.text(dir.toString).rdd.getNumPartitions == 3)
    val o = check(dir)
    assert(o.sample.size == 900)
    assert(openJobs(dir, 900) == 2, "the shortfall is one more job")
    check(dir, sampleSize = 2000)
    check(dir, sampleSize = 401)
  }

  test("blank and whitespace-only lines, CRLF line endings") {
    val crlf = "\r\n\r\n" + table(cols, 30).replace("\n", "\r\n")
    val blanks = "\n  \n\t\n" + table(cols, 30, 30).split("\n").toSeq
      .flatMap(l => Seq(l, "   ")).mkString("\n") + "\n\n"
    check(fixture("blanks", "a.csv" -> crlf, "b.csv" -> blanks,
      "c.csv" -> " \n\n"))
  }

  test("duplicate, blank and case-differing header names") {
    val o = check(fixture("names", "a.csv" ->
      "id,Name,name,,val,val\n1,a,b,c,d,e\n2,f,g,h,i,j\n"))
    assert(o.raw.columns.toSeq == Seq("id", "Name1", "name2", "_c3", "val4", "val5"))
  }

  test("quoted commas, doubled quotes and a ragged row") {
    check(fixture("quotes", "a.csv" ->
      "id,txt,n\n1,\"a, b\",3\n2,\"say \"\"hi\"\"\",4\n3,\"\",5\n4,,\n5,x\n6,y,7,8\n"))
  }

  test("a quoted newline routes to the multiLine parser") {
    val dir = fixture("newline", "a.csv" -> "id,txt\n1,plain\n",
      "b.csv" -> "id,txt\n2,\"line one\nline two\"\n3,x\n")
    assert(check(dir).multiLine)
    assert(!check(dir, opts = CsvOpts(multiLine = Some(false))).multiLine)
  }

  test("header-only file, empty file, header = false") {
    check(fixture("header_only", "a.csv" -> "id,name\n"))
    check(fixture("empty", "a.csv" -> ""))
    check(fixture("empty_mix", "a.csv" -> "", "b.csv" -> table(cols, 3)))
    val o = check(fixture("no_header", "a.csv" -> table(cols, 20).split("\n")
      .drop(1).mkString("\n")), header = false)
    assert(o.raw.columns.toSeq == Seq("_c0", "_c1", "_c2", "_c3", "_c4"))
    check(fixture("no_header_short", (0 until 3).map(f =>
      f"p$f.csv" -> table(cols, 400, f * 400)): _*), header = false)
  }

  test("null_if, empty_as_null and a declared datetime_format") {
    val dir = fixture("nulls", "a.csv" ->
      ("id,code,when,note\n" + (1 to 50).map(i =>
        s"$i,${if (i % 5 == 0) "\\N" else i.toString}," +
          f"${1 + i % 28}%02d/03/2024,${if (i % 3 == 0) "\"\"" else "x"}")
        .mkString("\n") + "\n"))
    check(dir, opts = CsvOpts(nullIf = Seq("\\N"), emptyAsNull = true,
      datetimeFormat = Some("DD/MM/YYYY")))
    check(dir, opts = CsvOpts(nullIf = Seq("\\N", "x")))
  }
}
