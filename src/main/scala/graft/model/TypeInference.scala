package graft.model

import java.time.format.DateTimeFormatter
import java.time.{LocalDate, LocalDateTime, OffsetDateTime}
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Port of the reference's sampling-based type inference.
  *
  * Semantics (core/dbio/iop/dataset.go:422-609 `InferColumnTypes` +
  * datatype.go:923-1008 `InferFromStats`):
  *   - buffer the first `SampleSize` (900) rows;
  *   - per column, tally per-type parse counts (`ParseString`,
  *     stream_processor.go:1413-1483);
  *   - a column gets type T iff `TCnt + nullCnt == totalCnt`; ints count
  *     toward decimal; date+datetime mix → datetime; anything mixed → string;
  *   - integers beyond int32 promote to bigint (datatype.go:958-964);
  *   - decimal precision/scale from observed digit stats (datatype.go:971-975);
  *   - strings with maxLen > 255 are "text" (same Spark type, flagged in
  *     field metadata, datatype.go:937-944).
  *
  * Spark's CSV `inferSchema` is NOT equivalent (no decimal-vs-double split, no
  * string/text threshold, different date handling), hence this port.
  */
object TypeInference {

  val SampleSize = 900

  /** The reference's layout cascade (stream_processor.go:216-277) as
    * java.time patterns, tried in order. Go's "2006-01-02 15:04:05.999"
    * fractional layouts parse ANY shorter fraction, so each Go entry with
    * `.999…` maps to one pattern per fraction width here; duplicate-shape
    * layouts collapse (first match wins either way).
    */
  val dateTimeLayouts: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss.SSSSSSSSS", "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS", "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSS", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS", "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss",
    "dd-MM-yyyy HH:mm:ss",
    // 02-Jan-06 family
    "dd-MMM-yy", "dd-MMM-yy HH:mm:ss", "dd-MMM-yy hh:mm:ss a",
    "dd-MMM-yy hh.mm.ss.SSSSSS a",
    "dd MMM yyyy",
    // US slash forms
    "M/d/yy", "MM/dd/yy", "M/d/yyyy", "MM/dd/yyyy",
    "MM/dd/yyyy HH:mm", "MM/dd/yyyy hh:mm:ss a",
    // minute-resolution ISO
    "yyyy-MM-dd HH:mm", "yyyy-MM-dd'T'HH:mm",
    "dd-MM-yyyy")

  val dateLayouts: Seq[String] = Seq(
    "yyyy-MM-dd", "yyyy/MM/dd", "MM/dd/yyyy", "dd-MM-yyyy", "yyyyMMdd")

  /** Zone-carrying layouts (reference maps these to `timestampz`):
    * RFC3339/RFC1123/RFC822 and the duckdb/snowflake export shapes.
    */
  val zonedLayouts: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX", "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss.SSSXXX", "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ssZ", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ",
    "yyyy-MM-dd HH:mm:ssx", "yyyy-MM-dd HH:mm:ss.SSSx",
    "yyyy-MM-dd HH:mm:ss.SSSSSSx",
    "yyyy-MM-dd HH:mm:ss Z", "yyyy-MM-dd HH:mm:ss XXX",
    "EEE, dd MMM yyyy HH:mm:ss Z", "EEE, dd MMM yyyy HH:mm:ss zzz",
    "dd MMM yy HH:mm Z", "dd MMM yy HH:mm zzz")

  // Locale pinned: MMM/EEE/am-pm tokens must not drift with the JVM default
  private val dtFormatters = dateTimeLayouts.map(
    DateTimeFormatter.ofPattern(_, java.util.Locale.US))
  private val dFormatters = dateLayouts.map(
    DateTimeFormatter.ofPattern(_, java.util.Locale.US))
  private val zFormatters = zonedLayouts.map(
    DateTimeFormatter.ofPattern(_, java.util.Locale.US))

  sealed trait Kind
  case object KNull extends Kind
  case object KInt extends Kind
  case object KDec extends Kind
  case object KBool extends Kind
  case object KDate extends Kind
  case object KDateTime extends Kind
  case object KJson extends Kind
  case object KString extends Kind

  private val IntPattern = Pattern.compile("[+-]?\\d{1,19}")
  private val DecPatterns = Seq(
    Pattern.compile("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?"),
    Pattern.compile("[+-]?\\d+\\.\\d*"))

  /** `parse(s, f)` succeeds, tried only when `f` consumes all of `s`:
    * a layout that cannot match costs no exception. */
  private def parses(fs: Seq[DateTimeFormatter], s: String)(
      parse: (String, DateTimeFormatter) => Any): Boolean =
    fs.exists(f => LayoutCascade.consumes(f, s) &&
      (try { parse(s, f); true } catch { case _: Exception => false }))

  /** Best-effort string classification — `ParseString` port. */
  def parseKind(raw: String): Kind = {
    if (raw == null) return KNull
    val s = raw.trim
    if (s.isEmpty) return KNull
    val lower = s.toLowerCase
    if (lower == "true" || lower == "false") return KBool
    if (IntPattern.matcher(s).matches()) {
      // digit-count bound, not raw length: a sign must not push a valid
      // long into the string bucket
      return try { s.toLong; KInt } catch { case _: NumberFormatException => KDec }
    }
    if (DecPatterns.exists(_.matcher(s).matches())) return KDec
    if ((s.startsWith("{") && s.endsWith("}")) || (s.startsWith("[") && s.endsWith("]"))) return KJson
    if (s.length >= 6 && s.length <= 11 &&
        s.exists(c => c == '-' || c == '/' || c == ' ')) {
      if (parses(dFormatters, s)(LocalDate.parse)) return KDate
      // date-only layouts living in the datetime cascade (dd-MMM-yy, M/d/yy,
      // dd MMM yyyy) classify as date, like the reference's zero-time check
      if (parses(dtFormatters, s)(LocalDate.parse)) return KDate
    }
    if (s.length >= 14 && s.length <= 40 && Character.isDigit(s.charAt(0))) {
      if (parses(dtFormatters, s)(LocalDateTime.parse)) return KDateTime
      if (parses(zFormatters, s)(OffsetDateTime.parse)) return KDateTime
    }
    // zone-carrying layouts that open with a weekday name (RFC1123/822)
    if (s.length >= 20 && s.length <= 40 && Character.isLetter(s.charAt(0))) {
      if (parses(zFormatters, s)(OffsetDateTime.parse)) return KDateTime
    }
    KString
  }

  final case class ColStats(
      var totalCnt: Long = 0, var nullCnt: Long = 0, var intCnt: Long = 0,
      var decCnt: Long = 0, var boolCnt: Long = 0, var dateCnt: Long = 0,
      var datetimeCnt: Long = 0, var jsonCnt: Long = 0, var stringCnt: Long = 0,
      var maxLen: Int = 0, var maxIntDigits: Int = 0, var maxDecDigits: Int = 0,
      var minVal: Long = Long.MaxValue, var maxVal: Long = Long.MinValue)

  def collectStats(sample: Seq[Row], nCols: Int): Array[ColStats] = {
    val stats = Array.fill(nCols)(ColStats())
    sample.foreach { row =>
      var i = 0
      while (i < nCols) {
        val st = stats(i)
        val v = if (row.isNullAt(i)) null else row.get(i).toString
        st.totalCnt += 1
        parseKind(v) match {
          case KNull => st.nullCnt += 1
          case KInt =>
            st.intCnt += 1
            val l = v.trim.toLong
            st.minVal = math.min(st.minVal, l); st.maxVal = math.max(st.maxVal, l)
            st.maxIntDigits = math.max(st.maxIntDigits, v.trim.stripPrefix("-").length)
          case KDec =>
            st.decCnt += 1
            val t = v.trim.stripPrefix("-")
            val dot = t.indexOf('.')
            val (ip, dp) = if (dot < 0) (t.length, 0) else (dot, t.length - dot - 1)
            st.maxIntDigits = math.max(st.maxIntDigits, ip)
            st.maxDecDigits = math.max(st.maxDecDigits, dp)
          case KBool => st.boolCnt += 1
          case KDate => st.dateCnt += 1
          case KDateTime => st.datetimeCnt += 1
          case KJson => st.jsonCnt += 1
          case KString => st.stringCnt += 1
        }
        if (v != null) st.maxLen = math.max(st.maxLen, v.length)
        i += 1
      }
    }
    stats
  }

  /** The InferFromStats decision function. */
  def decide(st: ColStats): DataType = {
    def all(cnt: Long) = cnt > 0 && cnt + st.nullCnt == st.totalCnt
    if (st.totalCnt == 0 || st.nullCnt == st.totalCnt) StringType
    else if (all(st.boolCnt)) BooleanType
    else if (all(st.intCnt)) {
      if (st.minVal >= Int.MinValue && st.maxVal <= Int.MaxValue) IntegerType else LongType
    }
    else if (st.decCnt > 0 && st.intCnt + st.decCnt + st.nullCnt == st.totalCnt) {
      val scale = math.min(st.maxDecDigits, 18)
      val precision = math.min(math.max(st.maxIntDigits + scale + 4, scale + 1), 38)
      DecimalType(precision, scale)
    }
    else if (all(st.dateCnt)) DateType
    else if (st.datetimeCnt > 0 && st.dateCnt + st.datetimeCnt + st.nullCnt == st.totalCnt) TimestampType
    else StringType // json + mixed + long strings all land on string
  }

  /** SQL-ish `datetime_format` tokens (the reference's option surface) to
    * a Spark datetime pattern: YYYY→yyyy, DD→dd, HH24→HH, HH12→hh,
    * MI→mm, SS→ss, FF3→SSS, AM|PM→a. A pattern containing any lowercase
    * letter is already Spark-form and passes through UNTOUCHED — blind
    * replacement would corrupt it (e.g. millisecond SSS → ssS). */
  def sqlishToSparkPattern(f: String): String =
    if (f.exists(_.isLower)) f
    else f.replace("HH24", "HH").replace("HH12", "hh")
      .replace("YYYY", "yyyy").replace("YY", "yy")
      .replace("FF3", "\u0000") // placeholder: SS→ss must not eat SSS
      .replace("DD", "dd").replace("MI", "mm").replace("SS", "ss")
      .replace("AM", "a").replace("PM", "a")
      .replace("\u0000", "SSS")

  def infer(sample: Seq[Row], columns: Seq[String],
      overrides: Map[String, DataType] = Map.empty,
      datetimeFormat: Option[String] = None): StructType = {
    val stats = collectStats(sample, columns.size)
    // a forced datetime_format reclassifies any column whose every
    // sampled value parses under it — the point is ambiguous layouts
    // (dd/MM vs MM/dd) where the cascade's first match would guess wrong
    val forced: Option[(DateTimeFormatter, Boolean)] = datetimeFormat.map { f =>
      val p = sqlishToSparkPattern(f)
      val hasTime = p.exists("Hhms".contains(_))
      (DateTimeFormatter.ofPattern(p, java.util.Locale.US), hasTime)
    }
    def forcedType(i: Int): Option[DataType] = forced.flatMap { case (fmt, hasTime) =>
      val vals = sample.iterator.map(r =>
        if (r.isNullAt(i)) null else r.getString(i))
        .filter(v => v != null && v.nonEmpty).toSeq
      val allParse = vals.nonEmpty && vals.forall { v =>
        try {
          if (hasTime) LocalDateTime.parse(v, fmt) else LocalDate.parse(v, fmt)
          true
        } catch { case _: Exception => false }
      }
      if (allParse) Some(if (hasTime) TimestampType else DateType) else None
    }
    StructType(columns.zipWithIndex.map { case (name, i) =>
      val dt = overrides.getOrElse(name,
        forcedType(i).getOrElse(decide(stats(i))))
      val meta = if (dt == StringType && stats(i).maxLen > 255)
        new MetadataBuilder().putString("sling_type", "text").build()
      else Metadata.empty
      StructField(name, dt, nullable = true, meta)
    })
  }

  /** Zoned layouts Spark's datetime patterns reject at compile time:
    * week-day (EEE), zone-name (zzz) and lowercase-x tokens. */
  private def sparkRejects(l: String): Boolean =
    l.contains("EEE") || l.contains("zzz") || l.contains("x")

  /** Cast an all-string frame to the target schema.
    *
    * Timestamps go through the layout cascade as one compiled kernel
    * ([[LayoutCascade]]): a declared `datetime_format` first, so ambiguous
    * values (03/04/2024) resolve under the declared layout, then
    * `dateTimeLayouts ++ zonedLayouts` in order, each parsed exactly as
    * `try_to_timestamp(c, lit(layout))` would. Misses fall back to Spark's
    * default parser (`try_to_timestamp(c)`), then to the zoned layouts
    * Spark cannot compile (RFC1123/822 week-day and zone-name forms, `x`
    * offsets), read with the same java.time formatters `parseKind`
    * classifies them with. Dates run the declared format then
    * `dateLayouts` through the same kernel and truncate to the session
    * day.
    */
  def castTo(df: DataFrame, schema: StructType,
      datetimeFormat: Option[String] = None): DataFrame = {
    val declared = datetimeFormat.map(sqlishToSparkPattern).toSeq
    val tsLayouts = declared ++
      (dateTimeLayouts ++ zonedLayouts).filterNot(sparkRejects)
    val javaLayouts = zonedLayouts.filter(sparkRejects)
    val cols: Seq[Column] = schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val cast = f.dataType match {
        case TimestampType =>
          coalesce(LayoutCascade.layout_cascade(c, tsLayouts),
            try_to_timestamp(c), LayoutCascade.offset_layouts(c, javaLayouts))
        case DateType =>
          LayoutCascade.layout_cascade(c, declared ++ dateLayouts).cast(DateType)
        case BooleanType => lower(trim(c, " \t\r\n")) === "true"
        case dt => c.cast(dt)
      }
      // trim the full whitespace set: the driver-side inference uses Java
      // trim (which strips \n\t), while Spark's bare trim() strips only
      // spaces — a "\n  " cell must null out, not reach an ANSI cast
      when(c.isNull || trim(c, " \t\r\n") === "", lit(null).cast(f.dataType))
        .otherwise(cast).as(f.name)
    }
    // columns outside `schema` (non-string JSON structs/arrays the
    // inference never sees) pass through untouched, in original order
    if (schema.fieldNames.toSet == df.columns.toSet) df.select(cols: _*)
    else {
      val byName = schema.fieldNames.zip(cols).toMap
      df.select(df.columns.toSeq.map(n =>
        byName.getOrElse(n, col(s"`$n`"))): _*)
    }
  }
}
