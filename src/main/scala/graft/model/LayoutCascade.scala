package graft.model

import java.text.{ParseException, ParsePosition}
import java.time.{DateTimeException, OffsetDateTime, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, Iso8601TimestampFormatter, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's datetime layout cascade (stream_processor.go:216-277)
  * as one compiled per-row expression: the value of
  * `coalesce(try_to_timestamp(c, lit(l1)), try_to_timestamp(c, lit(l2)), …)`
  * without paying one `DateTimeParseException` per layout that misses.
  *
  * Each layout is Spark's own `Iso8601TimestampFormatter`, built exactly
  * as `try_to_timestamp` builds it. Per row the layouts are tried in
  * order; a layout is handed to the formatter's (throwing) `parse` only
  * when the non-throwing `parseUnresolved` consumed the whole string.
  * The JDK's `parse` throws precisely when that check fails, so skipping
  * those layouts changes no result; resolution failures (Feb 30, 24:00)
  * still reach `parse`, throw, and are caught like `ToTimestamp` catches
  * them. Under the LEGACY and EXCEPTION parser policies (legacy
  * formatter; upgrade check on every failure) every layout goes through
  * `parse`, as in the chain.
  */
object LayoutCascade {

  def layout_cascade(c: Column, layouts: Seq[String]): Column =
    GraftColumnBridge.column(
      LayoutCascadeExpr(GraftColumnBridge.expression(c), layouts))

  def offset_layouts(c: Column, layouts: Seq[String]): Column =
    GraftColumnBridge.column(
      OffsetLayoutsExpr(GraftColumnBridge.expression(c), layouts))

  /** True iff `f` parses all of `s` without error, before any field
    * resolution: the condition under which `f.parse(s)` does not throw
    * a "could not be parsed" `DateTimeParseException`. */
  def consumes(f: DateTimeFormatter, s: String): Boolean = {
    val pos = new ParsePosition(0)
    f.parseUnresolved(s, pos) != null && pos.getErrorIndex < 0 &&
      pos.getIndex == s.length
  }

  /** Spark's ISO formatter with its java.time formatter in reach. */
  private[model] final class CascadeFormatter(pattern: String, zone: ZoneId)
      extends Iso8601TimestampFormatter(pattern, zone,
        TimestampFormatter.defaultLocale, LegacyDateFormats.SIMPLE_DATE_FORMAT,
        isParsing = true) {
    def javaFormatter: DateTimeFormatter = formatter
  }
}

/** Timestamp micros of the first layout in `layouts` that parses the
  * string, else NULL. See [[LayoutCascade]]. */
case class LayoutCascadeExpr(child: Expression, layouts: Seq[String],
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(child, layouts.length)

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  // one formatter per layout plus its java.time formatter, or NULL where
  // the pre-check must not be used (non-ISO formatter, or a policy whose
  // parse failure does more than throw)
  @transient private lazy val steps: Array[(TimestampFormatter, DateTimeFormatter)] = {
    val corrected =
      SQLConf.get.legacyTimeParserPolicy == LegacyBehaviorPolicy.CORRECTED
    layouts.map { l =>
      if (corrected) {
        val f = new LayoutCascade.CascadeFormatter(l, zoneId)
        f.validatePatternString(checkLegacy = true)
        (f: TimestampFormatter, f.javaFormatter)
      } else {
        (TimestampFormatter(l, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT,
          isParsing = true), null)
      }
    }.toArray
  }

  def compute(v: UTF8String): java.lang.Long = {
    val s = v.toString
    var i = 0
    while (i < steps.length) {
      val (f, jf) = steps(i)
      if (jf == null || LayoutCascade.consumes(jf, s)) {
        try return java.lang.Long.valueOf(f.parse(s))
        catch { case _: DateTimeException | _: ParseException => }
      }
      i += 1
    }
    null
  }

  override def nullSafeEval(v: Any): Any = {
    val r = compute(v.asInstanceOf[UTF8String])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    steps // an invalid layout fails at plan time, as the chain's does
    val ref = ctx.addReferenceObj("layoutCascade", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, s => s"""
      java.lang.Long $r = $ref.compute($s);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.longValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): LayoutCascadeExpr =
    copy(child = newChild)
}

/** Timestamp micros of the first java.time layout (Locale.US) whose
  * `OffsetDateTime.parse` accepts the trimmed string, else NULL: the
  * zone-carrying layouts Spark's pattern parser rejects (week-day names,
  * zone names, `x` offsets), read the way `TypeInference.parseKind`
  * classifies them. */
case class OffsetLayoutsExpr(child: Expression, layouts: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(child, layouts.length)

  @transient private lazy val formatters: Array[DateTimeFormatter] =
    layouts.map(DateTimeFormatter.ofPattern(_, java.util.Locale.US)).toArray

  def compute(v: UTF8String): java.lang.Long = {
    val s = v.toString.trim
    var i = 0
    while (i < formatters.length) {
      val f = formatters(i)
      if (LayoutCascade.consumes(f, s)) {
        try {
          return java.lang.Long.valueOf(
            DateTimeUtils.instantToMicros(OffsetDateTime.parse(s, f).toInstant))
        } catch { case _: DateTimeException | _: ArithmeticException => }
      }
      i += 1
    }
    null
  }

  override def nullSafeEval(v: Any): Any = {
    val r = compute(v.asInstanceOf[UTF8String])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("offsetLayouts", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, s => s"""
      java.lang.Long $r = $ref.compute($s);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.longValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): OffsetLayoutsExpr =
    copy(child = newChild)
}
