package graft.xml

import java.math.{BigDecimal => JBigDecimal}
import java.sql.{Date, Timestamp}
import java.text.{NumberFormat, ParsePosition}
import java.time._
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField
import java.util.Locale

import scala.util.Try
import scala.util.control.Exception.allCatch

import org.apache.spark.sql.types._

/**
 * String → typed-value conversion for XML leaf values.
 *
 * Re-expresses the cast semantics of the reference
 * (reference: src/main/scala/com/databricks/spark/xml/util/TypeCast.scala:44-318):
 * XML booleans accept 1/0, decimals tolerate grouping commas, numerics accept
 * an explicit leading '+', dates/timestamps try ISO formats before the
 * user-configured pattern, and the configured `nullValue` maps to null.
 * Catalyst's `Cast` is deliberately NOT used: its semantics differ on all of
 * the above.
 */
private[graft] object TypeCast {

  /**
   * Cast to Catalyst *internal* representation: UTF8String for strings,
   * microseconds for timestamps, epoch days for dates. Primitive/decimal
   * results are shared with [[castTo]].
   */
  def castToInternal(rawDatum: String, castType: DataType, options: XmlOptions): Any = {
    val datum =
      if (options.ignoreSurroundingSpaces) rawDatum.trim
      else rawDatum
    if (datum == options.nullValue || datum == null) {
      null
    } else {
      castType match {
        case _: StringType => org.apache.spark.unsafe.types.UTF8String.fromString(datum)
        case _: TimestampType =>
          val i = parseXmlTimestamp(datum, options).toInstant
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case _: TimestampNTZType =>
          val ldt = parseXmlLocalDateTime(datum)
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
        case _: DateType =>
          parseXmlDate(datum, options).toLocalDate.toEpochDay.toInt
        case other => castTo(datum, other, options)
      }
    }
  }

  def castTo(rawDatum: String, castType: DataType, options: XmlOptions): Any = {
    val datum =
      if (options.ignoreSurroundingSpaces) rawDatum.trim
      else rawDatum
    if (datum == options.nullValue || datum == null) {
      null
    } else {
      castType match {
        case _: ByteType => datum.toByte
        case _: ShortType => datum.toShort
        case _: IntegerType => signSafe(datum, _.toInt)
        case _: LongType => signSafe(datum, _.toLong)
        case _: FloatType => Try(datum.toFloat).getOrElse(parseLocaleNumber(datum).floatValue())
        case _: DoubleType => Try(datum.toDouble).getOrElse(parseLocaleNumber(datum).doubleValue())
        case _: BooleanType => parseXmlBoolean(datum)
        case dt: DecimalType =>
          Decimal(new JBigDecimal(datum.replaceAll(",", "")), dt.precision, dt.scale)
        case _: TimestampType => parseXmlTimestamp(datum, options)
        case _: TimestampNTZType => parseXmlLocalDateTime(datum)
        case _: DateType => parseXmlDate(datum, options)
        case _: StringType => datum
        case other => throw new IllegalArgumentException(s"Unsupported type: ${other.typeName}")
      }
    }
  }

  private def signSafe[T](value: String, f: String => T): T =
    if (value.startsWith("+")) f(value.substring(1)) else f(value)

  private def parseLocaleNumber(s: String): Number = {
    val pos = new ParsePosition(0)
    val result = NumberFormat.getInstance(Locale.getDefault).parse(s, pos)
    if (result == null || pos.getIndex != s.length) {
      throw new NumberFormatException(s"cannot parse number: '$s'")
    }
    result
  }

  private def parseXmlBoolean(s: String): Boolean = s match {
    case "true" | "1" => true
    case "false" | "0" => false
    case other => throw new IllegalArgumentException(s"For input string: '$other'")
  }

  // ISO-ish timestamp formats accepted out of the box, tried in order.
  private val builtInTimestampFormats: Seq[DateTimeFormatter] = Seq(
    DateTimeFormatter.ISO_INSTANT,
    DateTimeFormatter.ISO_OFFSET_DATE_TIME,
    DateTimeFormatter.RFC_1123_DATE_TIME,
    // Local timestamp, no zone: interpreted in UTC (Verify pins session TZ=UTC).
    new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
      .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
      .toFormatter,
    new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd HH:mm:ss")
      .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
      .toFormatter
  )

  /** Index of the last built-in format that parsed successfully. A corpus
   *  uses one timestamp shape in practice; starting each parse at the format
   *  that worked last turns "N-1 thrown-and-caught exceptions per value"
   *  into zero after the first row. Safe to share racily across tasks (any
   *  stale value only costs extra attempts), and safe for correctness: the
   *  built-in formats are mutually exclusive except ISO_INSTANT/ISO_OFFSET
   *  on `...Z` values, where both yield the same instant. */
  private val lastHitTimestampFormat = new java.util.concurrent.atomic.AtomicInteger(0)

  private[xml] def parseXmlTimestamp(value: String, options: XmlOptions): Timestamp = {
    def fromInstant(i: Instant): Timestamp = Timestamp.from(i)
    val zone = options.zoneId

    val n = builtInTimestampFormats.length
    val start = lastHitTimestampFormat.get()
    var builtIn: Option[Timestamp] = None
    var i = 0
    while (i < n && builtIn.isEmpty) {
      val idx = (start + i) % n
      builtIn = allCatch.opt {
        val parsed = builtInTimestampFormats(idx).parse(value)
        if (parsed.isSupported(ChronoField.OFFSET_SECONDS)) {
          fromInstant(Instant.from(parsed))
        } else {
          fromInstant(LocalDateTime.from(parsed).atZone(zone).toInstant)
        }
      }
      if (builtIn.isDefined && idx != start) lastHitTimestampFormat.lazySet(idx)
      i += 1
    }

    builtIn.orElse {
      options.timestampFormat.flatMap { pattern =>
        val fmt = DateTimeFormatter.ofPattern(pattern, Locale.US)
        allCatch.opt {
          val parsed = fmt.parse(value)
          if (parsed.isSupported(ChronoField.OFFSET_SECONDS)) {
            fromInstant(Instant.from(parsed))
          } else {
            fromInstant(LocalDateTime.from(parsed).atZone(zone).toInstant)
          }
        }
      }
    }.getOrElse(throw new IllegalArgumentException(s"cannot parse timestamp: '$value'"))
  }

  /** Zone-less timestamps (TIMESTAMP_NTZ): ISO local date-time or `yyyy-MM-dd HH:mm:ss[.S]`. */
  private[xml] def parseXmlLocalDateTime(value: String): LocalDateTime = {
    allCatch.opt(LocalDateTime.parse(value, DateTimeFormatter.ISO_LOCAL_DATE_TIME))
      .orElse(allCatch.opt(LocalDateTime.parse(value,
        new DateTimeFormatterBuilder()
          .appendPattern("yyyy-MM-dd HH:mm:ss")
          .appendFraction(ChronoField.NANO_OF_SECOND, 0, 9, true)
          .toFormatter)))
      .getOrElse(throw new IllegalArgumentException(s"cannot parse local timestamp: '$value'"))
  }

  private[xml] def parseXmlDate(value: String, options: XmlOptions): Date = {
    val iso = allCatch.opt(LocalDate.parse(value, DateTimeFormatter.ISO_DATE))
    iso.orElse {
      options.dateFormat.flatMap { pattern =>
        allCatch.opt(LocalDate.parse(value, DateTimeFormatter.ofPattern(pattern, Locale.US)))
      }
    }.map(Date.valueOf)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse date: '$value'"))
  }

  // ---- inference predicates (used by InferSchema) ----

  def isBoolean(value: String): Boolean =
    value == "true" || value == "false"

  // The inference predicates run once per leaf per record, so a corpus-scale
  // inference pass calls them hundreds of millions of times. They must reject
  // non-matching values WITHOUT throwing: an exception-per-probe turns a
  // string-heavy corpus into an exception storm (measured: the storm, not the
  // parse or the lattice merge, dominated full-corpus inference cost).

  def isLong(value: String): Boolean = {
    val len = value.length
    if (len == 0) return false
    val c0 = value.charAt(0)
    val start = if (c0 == '+' || c0 == '-') 1 else 0
    if (len == start) return false
    var i = start
    while (i < len && value.charAt(i).isDigit) i += 1
    if (i < len) false // non-digit present: reject with no exception
    else if (len - start <= 18) true // within Long range by construction
    else { // 19+ digits: only the boundary needs a real parse
      val v = if (c0 == '+') value.substring(1) else value
      allCatch.opt(v.toLong).isDefined
    }
  }

  def isDouble(value: String): Boolean = {
    val v = if (value.startsWith("+")) value.substring(1) else value
    // Reject Java-isms the XML data model shouldn't infer as numbers, and
    // digit-less fragments ("-", ".", "/"), before attempting a parse.
    v.nonEmpty && !v.exists(c => c.isLetter && c != 'E' && c != 'e') &&
      v.exists(_.isDigit) && allCatch.opt(v.toDouble).isDefined
  }

  /** The ISO-family built-in formats (instant/offset/local, `yyyy-MM-dd
   *  [HH:mm:ss]`) all start with a year — optionally `+`/`-`-signed, 4 or
   *  more digits (ISO-8601 writes years beyond 9999 with a mandatory `+`) —
   *  followed by `-`; values without that head can only parse as RFC 1123
   *  or under a user-supplied format. */
  private def maybeIsoTemporal(v: String): Boolean = {
    val len = v.length
    if (len < 8) return false
    val c0 = v.charAt(0)
    val s = if (c0 == '-' || c0 == '+') 1 else 0
    var i = s
    while (i < len && v.charAt(i).isDigit) i += 1
    i - s >= 4 && i < len && v.charAt(i) == '-'
  }

  /** RFC 1123 heads: `EEE, d MMM yyyy …` (3-letter day + comma) or, with
   *  the optional day-of-week omitted, a 1-2 digit day then a space. Admits
   *  some non-temporal strings (they just pay the parse attempt); rejects
   *  plain words and ordinary sentences without throwing. */
  private def maybeRfc1123(v: String): Boolean =
    v.length >= 14 && {
      val c0 = v.charAt(0)
      (c0.isLetter && v.charAt(3) == ',') ||
        (c0.isDigit && (v.charAt(1) == ' ' ||
          (v.charAt(1).isDigit && v.charAt(2) == ' ')))
    }

  def isTimestamp(value: String, options: XmlOptions): Boolean =
    (maybeIsoTemporal(value) || maybeRfc1123(value) ||
      options.timestampFormat.isDefined) &&
      allCatch.opt(parseXmlTimestamp(value, options)).isDefined

  def isDate(value: String, options: XmlOptions): Boolean =
    (maybeIsoTemporal(value) || options.dateFormat.isDefined) &&
      allCatch.opt(parseXmlDate(value, options)).isDefined
}
