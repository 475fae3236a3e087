package graft.adapter

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, DateFormatClass, Literal, MillisToTimestamp, SecondsToTimestamp}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampType}
import graft.core.IntervalUnit

/** The one rule for which rows a half-open interval `[start, end)` of epoch
  * millis owns, in UTC whatever `spark.sql.session.timeZone` says. The write
  * guard, the audit `condition` and the managed time-partition key all
  * render it here, so a batch's rows, its audit scope and the partition dirs
  * its dynamic overwrite replaces are the same set in every session. */
object UtcInterval {
  private def utc(pattern: String) = DateTimeFormatter.ofPattern(pattern).withZone(ZoneOffset.UTC)
  private val timestampText = utc("yyyy-MM-dd HH:mm:ss.SSS'Z'")

  /** `timeColumn >= lo AND timeColumn < hi` with literals in the column's
    * representation (reference base.py:1580 renders per time_format; a
    * TIMESTAMP literal against an epoch or DATE column is a wrong predicate):
    * DATE literals for a DATE column or "date" (the end rounded up to a whole
    * day), epoch seconds or millis for "epoch" / "epoch_millis", otherwise
    * TIMESTAMP literals that name their zone, so the session zone cannot
    * shift them. `columnType` is the column's analyzed type when known: a
    * DATE compared with an instant would widen to its session-zone midnight. */
  def condition(timeColumn: String, timeFormat: String, start: Long, end: Long,
                columnType: Option[DataType] = None): String = {
    val (lo, hi) = format(timeFormat, columnType) match {
      case "date" =>
        (s"DATE '${LocalDate.ofEpochDay(Math.floorDiv(start, 86400000L))}'",
          s"DATE '${LocalDate.ofEpochDay(Math.floorDiv(end + 86399999L, 86400000L))}'")
      case "epoch"        => ((start / 1000).toString, (end / 1000).toString)
      case "epoch_millis" => (start.toString, end.toString)
      case _ => (s"TIMESTAMP '${timestampText.format(Instant.ofEpochMilli(start))}'",
        s"TIMESTAMP '${timestampText.format(Instant.ofEpochMilli(end))}'")
    }
    s"$timeColumn >= $lo AND $timeColumn < $hi"
  }

  /** A row's managed partition key: its time as the condition compares it (a
    * DATE is its UTC midnight, as its DATE literals are), formatted at the
    * interval unit's granularity in UTC. Intervals are unit-floored, so every
    * partition a batch writes lies wholly inside the batch. */
  def partitionKey(timeColumn: String, timeFormat: String, unit: IntervalUnit,
                   columnType: Option[DataType] = None): Column = {
    val c = ColumnBridge.expression(col(timeColumn))
    val instant = format(timeFormat, columnType) match {
      case "epoch"        => SecondsToTimestamp(c)
      case "epoch_millis" => MillisToTimestamp(c)
      case "date"         => Cast(c, TimestampType, Some("UTC"))
      case _              => Cast(c, TimestampType)
    }
    ColumnBridge.column(DateFormatClass(instant, Literal(pattern(unit)), Some("UTC")))
  }

  /** The type of `column` in `schema`, matched case-insensitively. */
  def typeOf(schema: StructType, column: String): Option[DataType] =
    schema.find(_.name.equalsIgnoreCase(column)).map(_.dataType)

  /** A DATE column is compared as a date whatever `time_format` says. */
  private def format(timeFormat: String, columnType: Option[DataType]): String =
    if (columnType.contains(DateType)) "date" else timeFormat

  /** The partition key of the instant `ms` (an interval bound). */
  def partitionValue(ms: Long, unit: IntervalUnit): String =
    utc(pattern(unit)).format(Instant.ofEpochMilli(ms))

  private def pattern(unit: IntervalUnit): String = unit match {
    case IntervalUnit.Year  => "yyyy"
    case IntervalUnit.Month => "yyyy-MM"
    case IntervalUnit.Day   => "yyyy-MM-dd"
    case IntervalUnit.Hour  => "yyyy-MM-dd-HH"
    case _                  => "yyyy-MM-dd-HH-mm"
  }
}
