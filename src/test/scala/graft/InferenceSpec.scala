package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TypeInference
import graft.model.TypeInference._

/** Decision-table tests for the sampling type-inference port
  * (reference InferFromStats, datatype.go:923-1008).
  */
class InferenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withUtc[T](body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "UTC")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def stringFrame(cols: Seq[String], rows: Seq[Seq[String]]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 2),
      StructType(cols.map(StructField(_, StringType))))

  test("parseKind classifies scalars like the reference ParseString") {
    assert(parseKind(null) == KNull)
    assert(parseKind("") == KNull)
    assert(parseKind("  ") == KNull)
    assert(parseKind("42") == KInt)
    assert(parseKind("-7") == KInt)
    assert(parseKind("9999999999") == KInt)
    assert(parseKind("3.14") == KDec)
    assert(parseKind("-0.5") == KDec)
    assert(parseKind("1e3") == KString) // bare exponent ints stay strings
    assert(parseKind("true") == KBool)
    assert(parseKind("FALSE") == KBool)
    assert(parseKind("2024-01-31") == KDate)
    assert(parseKind("01/31/2024") == KDate)
    assert(parseKind("2024-01-31 10:20:30") == KDateTime)
    assert(parseKind("2024-01-31T10:20:30.123") == KDateTime)
    assert(parseKind("2024-01-31T10:20:30.123Z") == KDateTime)
    assert(parseKind("{\"a\":1}") == KJson)
    assert(parseKind("[1,2]") == KJson)
    assert(parseKind("hello") == KString)
    assert(parseKind("2024-13-99") == KString) // invalid date
  }

  private def statsOf(kinds: (Long, Long, Long, Long, Long, Long, Long)): ColStats = {
    val (ints, decs, bools, dates, dts, strs, nulls) = kinds
    val st = ColStats()
    st.intCnt = ints; st.decCnt = decs; st.boolCnt = bools; st.dateCnt = dates
    st.datetimeCnt = dts; st.stringCnt = strs; st.nullCnt = nulls
    st.totalCnt = ints + decs + bools + dates + dts + strs + nulls
    st
  }

  test("decide: T iff TCnt + nullCnt == totalCnt; ints count into decimal") {
    assert(decide(statsOf((10, 0, 0, 0, 0, 0, 2))).isInstanceOf[IntegerType.type])
    assert(decide(statsOf((5, 5, 0, 0, 0, 0, 0))).isInstanceOf[DecimalType])
    assert(decide(statsOf((0, 0, 7, 0, 0, 0, 1))) == BooleanType)
    assert(decide(statsOf((0, 0, 0, 9, 0, 0, 0))) == DateType)
    assert(decide(statsOf((0, 0, 0, 3, 6, 0, 0))) == TimestampType) // date+ts mix
    assert(decide(statsOf((4, 0, 0, 0, 0, 1, 0))) == StringType) // mixed
    assert(decide(statsOf((0, 0, 0, 0, 0, 0, 5))) == StringType) // all null
  }

  test("decide: integer beyond int32 promotes to bigint") {
    val st = statsOf((3, 0, 0, 0, 0, 0, 0))
    st.minVal = 0; st.maxVal = 9999999999L
    assert(decide(st) == LongType)
    st.maxVal = 100
    assert(decide(st) == IntegerType)
  }

  test("decide: decimal precision/scale derive from digit stats") {
    val st = statsOf((0, 4, 0, 0, 0, 0, 0))
    st.maxIntDigits = 5; st.maxDecDigits = 2
    assert(decide(st) == DecimalType(11, 2))
  }

  test("parseKind: extended layout cascade (stream_processor.go:216-277)") {
    import graft.model.TypeInference._
    // date-only layouts, incl. month-name and US slash forms
    assert(parseKind("02-Jan-06") == KDate)
    assert(parseKind("02 Jan 2006") == KDate)
    assert(parseKind("1/2/06") == KDate)
    assert(parseKind("01/02/2006") == KDate)
    // datetime incl. 12-hour, minute resolution, month-name
    assert(parseKind("01/02/2006 03:04:05 PM") == KDateTime)
    assert(parseKind("2006-01-02 15:04") == KDateTime)
    assert(parseKind("02-Jan-06 15:04:05") == KDateTime)
    // zone-carrying: RFC1123 and duckdb export shapes
    assert(parseKind("Mon, 02 Jan 2006 15:04:05 -0700") == KDateTime)
    assert(parseKind("2006-01-02 15:04:05-07") == KDateTime)
    assert(parseKind("2006-01-02 15:04:05.999999-07") == KDateTime)
    // non-dates stay strings
    assert(parseKind("Customer#000000001") == KString)
    assert(parseKind("123-456-7890") == KString)
  }

  test("sqlishToSparkPattern translates SQL tokens, passes Spark forms through") {
    import TypeInference.sqlishToSparkPattern
    assert(sqlishToSparkPattern("DD/MM/YYYY HH24:MI:SS") == "dd/MM/yyyy HH:mm:ss")
    assert(sqlishToSparkPattern("YYYY-MM-DD HH24:MI:SS.FF3")
      == "yyyy-MM-dd HH:mm:ss.SSS")
    assert(sqlishToSparkPattern("MM/DD/YY HH12:MI AM") == "MM/dd/yy hh:mm a")
    // already-Spark patterns (any lowercase present) are untouched —
    // blind replacement would corrupt SSS to ssS
    assert(sqlishToSparkPattern("yyyy-MM-dd HH:mm:ss.SSS")
      == "yyyy-MM-dd HH:mm:ss.SSS")
  }

  test("castTo: every value parseKind classifies as datetime casts to its exact instant") {
    // each value asserted KDateTime above, with its instant in UTC
    val expected = Seq(
      "2024-01-31 10:20:30" -> "2024-01-31T10:20:30Z",
      "2024-01-31T10:20:30.123" -> "2024-01-31T10:20:30.123Z",
      "2024-01-31T10:20:30.123Z" -> "2024-01-31T10:20:30.123Z",
      "01/02/2006 03:04:05 PM" -> "2006-01-02T15:04:05Z",
      "2006-01-02 15:04" -> "2006-01-02T15:04:00Z",
      "02-Jan-06 15:04:05" -> "2006-01-02T15:04:05Z",
      "Mon, 02 Jan 2006 15:04:05 -0700" -> "2006-01-02T22:04:05Z",
      "2006-01-02 15:04:05-07" -> "2006-01-02T22:04:05Z",
      "2006-01-02 15:04:05.999999-07" -> "2006-01-02T22:04:05.999999Z")
    expected.foreach { case (v, _) => assert(parseKind(v) == KDateTime, v) }
    val got = withUtc {
      val df = stringFrame(Seq("v"), expected.map(e => Seq(e._1)))
      castTo(df, StructType(Seq(StructField("v", TimestampType))))
        .select(unix_micros(col("v"))).collect().map(r =>
          if (r.isNullAt(0)) null else r.getLong(0))
    }
    expected.zip(got).foreach { case ((v, instant), micros) =>
      val want = java.time.Instant.parse(instant)
      assert(micros == want.getEpochSecond * 1000000L + want.getNano / 1000,
        s"'$v' cast to $micros, want $instant")
    }
  }

  test("FileSources.csv: RFC1123 timestamps infer as timestamp and land non-NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rfc1123")
    val f = dir.resolve("rfc.csv")
    java.nio.file.Files.writeString(f, "id,ts\n" +
      "1,\"Mon, 02 Jan 2006 15:04:05 -0700\"\n" +
      "2,\"Tue, 03 Jan 2006 01:00:00 +0000\"\n")
    try {
      val rows = withUtc {
        val df = graft.sources.FileSources.csv(spark, f.toString)
        assert(df.schema("ts").dataType == TimestampType)
        df.orderBy("id").select(unix_micros(col("ts"))).collect().map(_.get(0))
      }
      assert(rows.toSeq == Seq(1136239445000000L, 1136250000000000L))
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("castTo plan: one cascade kernel per timestamp column, no per-layout chain") {
    val df = stringFrame(Seq("a", "b", "n"), Seq(Seq("2024-01-31 10:20:30",
      "2024-01-31T10:20:30Z", "1")))
    val plan = castTo(df, StructType(Seq(StructField("a", TimestampType),
      StructField("b", TimestampType), StructField("n", IntegerType))))
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    def count(pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]) =
      exprs.map(_.collect(pf).size).sum
    assert(count { case _: graft.model.LayoutCascadeExpr => } == 2, plan)
    // no to_timestamp/gettimestamp that takes a layout literal survives
    val planText = plan.toString.toLowerCase
    assert(!planText.contains("gettimestamp") && !planText.contains("to_timestamp"),
      plan)
  }
}
