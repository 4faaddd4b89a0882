package graft.xml

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/**
 * Serializes catalyst [[InternalRow]]s as XML element trees, one instance per
 * task (single-threaded; holds per-schema plans and formatter caches).
 *
 * Mapping rules (reference:
 * src/main/scala/com/databricks/spark/xml/parsers/StaxXmlGenerator.scala:40-159):
 * fields named `attributePrefix + x` become attributes (written before child
 * elements), `valueTag` becomes the element's character data, arrays repeat
 * the field's element once per item, maps write keys as element names, nulls
 * are skipped unless a `nullValue` representation is configured.
 *
 * Works directly on [[InternalRow]]/[[SpecializedGetters]] — the write path
 * never converts to external rows, so numerics append without boxing or
 * intermediate Strings, strings decode exactly once, and timestamp/date
 * formatters build once per instance instead of once per value (the external
 * `df.rdd` conversion plus per-scalar `toString` dominated write cost).
 * Emission goes through [[XmlEmitter]], a zero-dependency append-only writer:
 * one reusable StringBuilder per partition instead of a fresh
 * javax.xml.stream writer per row.
 */
private[graft] final class StaxXmlGenerator(
    schema: StructType,
    options: XmlOptions) {

  import StaxXmlGenerator.FieldPlan

  // Built once per instance; a custom pattern compiled per value was a
  // measurable cost on timestamp-heavy corpora.
  private val tsFormatter: DateTimeFormatter = options.timestampFormat match {
    case Some(fmt) =>
      DateTimeFormatter.ofPattern(fmt).withZone(options.zoneId)
    case None => DateTimeFormatter.ISO_INSTANT
  }
  private val dateFormatter: DateTimeFormatter = options.dateFormat match {
    case Some(fmt) => DateTimeFormatter.ofPattern(fmt)
    case None => DateTimeFormatter.ISO_DATE
  }

  /** Per-struct field plans (attr/child split, pre-stripped attribute names)
   *  keyed by StructType identity — resolved once, not per row. */
  private val structPlans =
    new java.util.IdentityHashMap[StructType, Array[FieldPlan]]

  private def planOf(st: StructType): Array[FieldPlan] = {
    var plan = structPlans.get(st)
    if (plan == null) {
      plan = st.fields.map { f =>
        val isAttr =
          f.name.startsWith(options.attributePrefix) && f.name != options.valueTag
        FieldPlan(
          f.name,
          if (isAttr) f.name.substring(options.attributePrefix.length) else null,
          f.name == options.valueTag,
          f.dataType)
      }
      structPlans.put(st, plan)
    }
    plan
  }

  def write(out: XmlEmitter, row: InternalRow): Unit = {
    out.start(options.rowTag)
    writeStructBody(out, schema, row)
    out.end(options.rowTag)
  }

  /** One `name` element (or several for arrays, or none for null) from the
    * value at `g(i)`. */
  private def writeChild(
      out: XmlEmitter,
      name: String,
      dt: DataType,
      g: SpecializedGetters,
      i: Int): Unit = {
    if (g.isNullAt(i)) writeNullElem(out, name)
    else dt match {
      case ArrayType(inner: ArrayType, _) =>
        // Array directly inside an array: the inner array has no element
        // name of its own, so each inner array becomes ONE `name` element
        // whose items are wrapped in options.arrayElementName (the body's
        // array-in-array case). Flattening both levels under `name` would
        // lose the nesting on read-back (reference: StaxXmlGenerator.scala:
        // 74-77, XmlSuite "DSL save with item").
        val arr = g.getArray(i)
        val n = arr.numElements()
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) writeNullElem(out, name)
          else {
            out.start(name)
            writeBody(out, inner, arr, j)
            out.end(name)
          }
          j += 1
        }
      case ArrayType(elementType, _) =>
        val arr = g.getArray(i)
        val n = arr.numElements()
        var j = 0
        while (j < n) { writeChild(out, name, elementType, arr, j); j += 1 }
      case _ =>
        out.start(name)
        writeBody(out, dt, g, i)
        out.end(name)
    }
  }

  /** With no nullValue representation configured the element is omitted
    * entirely (reference: StaxXmlGenerator.scala:52-56) so a null string
    * round-trips as null, not "". */
  private def writeNullElem(out: XmlEmitter, name: String): Unit = {
    if (options.nullValue != null) {
      out.start(name)
      if (options.nullValue.nonEmpty) out.text(options.nullValue)
      out.end(name)
    }
  }

  private def writeStructBody(
      out: XmlEmitter,
      st: StructType,
      row: InternalRow): Unit = {
    val plan = planOf(st)
    // Attributes must precede any child element.
    var j = 0
    while (j < plan.length) {
      val f = plan(j)
      if (f.attrName != null && !row.isNullAt(j)) {
        out.attrBegin(f.attrName)
        appendScalar(out, f.dt, row, j, attrMode = true)
        out.attrEnd()
      }
      j += 1
    }
    j = 0
    while (j < plan.length) {
      val f = plan(j)
      if (f.attrName == null) {
        if (f.isValueTag) {
          if (!row.isNullAt(j)) appendScalarText(out, f.dt, row, j)
        } else {
          writeChild(out, f.name, f.dt, row, j)
        }
      }
      j += 1
    }
  }

  private def writeBody(
      out: XmlEmitter,
      dt: DataType,
      g: SpecializedGetters,
      i: Int): Unit = dt match {
    case st: StructType =>
      writeStructBody(out, st, g.getStruct(i, st.length))
    case MapType(keyType, valueType, _) =>
      // Keys carrying the attribute prefix become attributes (reference:
      // StaxXmlGenerator.scala:115-123); attributes must precede children.
      val m = g.getMap(i)
      val keys = m.keyArray()
      val values = m.valueArray()
      val n = m.numElements()
      var j = 0
      while (j < n) {
        val key = keyString(keyType, keys, j)
        if (key.startsWith(options.attributePrefix) && key != options.valueTag &&
            !values.isNullAt(j)) {
          out.attrBegin(key.substring(options.attributePrefix.length))
          appendScalar(out, valueType, values, j, attrMode = true)
          out.attrEnd()
        }
        j += 1
      }
      j = 0
      while (j < n) {
        val key = keyString(keyType, keys, j)
        if (!(key.startsWith(options.attributePrefix) && key != options.valueTag)) {
          writeChild(out, key, valueType, values, j)
        }
        j += 1
      }
    case ArrayType(elementType, _) =>
      // Array directly inside an array: wrap items in the configured item
      // tag. An item that is ITSELF an array must become ONE wrapped element
      // carrying its own array body — delegating to writeChild's
      // repeat-per-name convention would flatten the grouping at depth >= 3
      // ([[1,2],[3]] and [[1],[2,3]] would serialize identically).
      val arr = g.getArray(i)
      val n = arr.numElements()
      var j = 0
      while (j < n) {
        if (arr.isNullAt(j)) {
          writeNullElem(out, options.arrayElementName)
        } else elementType match {
          case innerArr: ArrayType =>
            out.start(options.arrayElementName)
            writeBody(out, innerArr, arr, j)
            out.end(options.arrayElementName)
          case _ =>
            writeChild(out, options.arrayElementName, elementType, arr, j)
        }
        j += 1
      }
    case scalar =>
      appendScalarText(out, scalar, g, i)
  }

  /** Map keys become element/attribute names; the overwhelmingly common key
    * type is string (decoded once here). */
  private def keyString(kt: DataType, keys: SpecializedGetters, j: Int): String =
    kt match {
      case StringType => keys.getUTF8String(j).toString
      case DateType => LocalDate.ofEpochDay(keys.getInt(j).toLong).toString
      case _ => String.valueOf(keys.get(j, kt))
    }

  /** Scalar as element character data (closes a pending open tag first). */
  private def appendScalarText(
      out: XmlEmitter,
      dt: DataType,
      g: SpecializedGetters,
      i: Int): Unit = {
    out.textBegin()
    appendScalar(out, dt, g, i, attrMode = false)
  }

  /** Canonical scalar text, appended without intermediate Strings where the
    * form is escape-free by construction (numerics, booleans, ISO temporals).
    * Caller is responsible for tag state: inside an attribute value, or after
    * [[XmlEmitter.textBegin]]. */
  private def appendScalar(
      out: XmlEmitter,
      dt: DataType,
      g: SpecializedGetters,
      i: Int,
      attrMode: Boolean): Unit = dt match {
    case StringType => out.escaped(g.getUTF8String(i).toString, attrMode)
    case LongType => out.raw(g.getLong(i))
    case IntegerType => out.raw(g.getInt(i).toLong)
    case DoubleType => out.rawDouble(g.getDouble(i))
    case BooleanType => out.rawBoolean(g.getBoolean(i))
    case FloatType => out.rawFloat(g.getFloat(i))
    case ShortType => out.raw(g.getShort(i).toLong)
    case ByteType => out.raw(g.getByte(i).toLong)
    case TimestampType =>
      // Same instant the external java.sql.Timestamp path rendered.
      out.rawSafe(tsFormatter.format(DateTimeUtils.microsToInstant(g.getLong(i))))
    case TimestampNTZType =>
      out.rawSafe(DateTimeUtils.microsToLocalDateTime(g.getLong(i))
        .format(DateTimeFormatter.ISO_LOCAL_DATE_TIME))
    case DateType =>
      out.rawSafe(dateFormatter.format(LocalDate.ofEpochDay(g.getInt(i).toLong)))
    case d: DecimalType =>
      out.rawSafe(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toString)
    case other =>
      // CalendarInterval, binary, UDTs: unspecified textual form, escaped.
      out.escaped(String.valueOf(g.get(i, other)), attrMode)
  }
}

private[graft] object StaxXmlGenerator {
  private final case class FieldPlan(
      name: String,
      attrName: String, // null when the field is a child element
      isValueTag: Boolean,
      dt: DataType)
}

/**
 * Minimal streaming XML emitter over a StringBuilder: start/attr/text/end
 * with XML 1.0 escaping and pretty-printing. Not a general-purpose writer —
 * exactly the surface the generator needs, with zero per-row allocation
 * beyond the builder growth (the child-tracking stack is a reused array, the
 * indent comes from a shared pad constant, and escape scans bulk-copy the
 * unescaped spans).
 */
private[graft] final class XmlEmitter(
    sb: java.lang.StringBuilder,
    baseDepth: Int,
    compact: Boolean = false) {
  import XmlEmitter.PAD

  private var depth = baseDepth
  private var openTag = false // start tag written but '>' pending
  // hadChild(top) = current element has already started a child element
  private var hadChild = new Array[Boolean](16)
  private var top = -1

  def start(name: String): Unit = {
    if (openTag) { sb.append('>'); openTag = false }
    if (top >= 0) hadChild(top) = true
    if (!compact) {
      sb.append('\n')
      pad(depth * 4)
    }
    sb.append('<').append(name)
    openTag = true
    depth += 1
    top += 1
    if (top == hadChild.length) {
      hadChild = java.util.Arrays.copyOf(hadChild, hadChild.length * 2)
    }
    hadChild(top) = false
  }

  def attr(name: String, value: String): Unit = {
    attrBegin(name)
    escaped(value, attrMode = true)
    attrEnd()
  }

  def attrBegin(name: String): Unit =
    sb.append(' ').append(name).append("=\"")

  def attrEnd(): Unit = sb.append('"')

  def text(value: String): Unit = {
    textBegin()
    escaped(value, attrMode = false)
  }

  /** Close a pending open tag; subsequent raw/escaped appends are character
    * data. */
  def textBegin(): Unit =
    if (openTag) { sb.append('>'); openTag = false }

  def raw(v: Long): Unit = sb.append(v)
  def rawDouble(v: Double): Unit = sb.append(v)
  def rawFloat(v: Float): Unit = sb.append(v)
  def rawBoolean(v: Boolean): Unit = sb.append(v)

  /** Pre-formatted text known to contain no `&<>"` (ISO temporals, decimal
    * digits) — appended without an escape scan. */
  def rawSafe(s: String): Unit = sb.append(s)

  def end(name: String): Unit = {
    depth -= 1
    val children = top >= 0 && hadChild(top)
    if (top >= 0) top -= 1
    if (openTag) {
      sb.append("/>")
      openTag = false
    } else {
      if (children && !compact) {
        sb.append('\n')
        pad(depth * 4)
      }
      sb.append("</").append(name).append('>')
    }
  }

  private def pad(n: Int): Unit = {
    var left = n
    while (left > 0) {
      val take = math.min(left, PAD.length)
      sb.append(PAD, 0, take)
      left -= take
    }
  }

  /** Escape `&<>` (and `"` inside attributes); spans without escapable
    * characters bulk-copy — the common all-clean value is one arraycopy. */
  def escaped(s: String, attrMode: Boolean): Unit = {
    val n = s.length
    var start = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&' || c == '<' || c == '>' || (attrMode && c == '"')) {
        if (i > start) sb.append(s, start, i)
        c match {
          case '&' => sb.append("&amp;")
          case '<' => sb.append("&lt;")
          case '>' => sb.append("&gt;")
          case _ => sb.append("&quot;")
        }
        start = i + 1
      }
      i += 1
    }
    if (start == 0) sb.append(s)
    else if (start < n) sb.append(s, start, n)
  }
}

private[graft] object XmlEmitter {
  private val PAD = " " * 64
}
