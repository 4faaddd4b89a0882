package graft.xml

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Fluent builder mirroring the reference's `XmlReader` surface (reference:
 * src/main/scala/com/databricks/spark/xml/XmlReader.scala:27-204) for callers
 * (including Java) that prefer setters over option maps.
 *
 * {{{
 *   val df = new XmlReader()
 *     .withRowTag("book")
 *     .withSamplingRatio(0.5)
 *     .xmlFile(spark, "books.xml")
 * }}}
 */
class XmlReader extends Serializable {

  private val params = mutable.Map.empty[String, String]
  private var schema: StructType = _

  private def set(key: String, value: Any): XmlReader = {
    params(key) = value.toString
    this
  }

  def withCharset(v: String): XmlReader = set("charset", v)
  def withCodec(v: String): XmlReader = set("codec", v)
  def withRowTag(v: String): XmlReader = set("rowTag", v)
  def withSamplingRatio(v: Double): XmlReader = set("samplingRatio", v)
  def withExcludeAttribute(v: Boolean): XmlReader = set("excludeAttribute", v)
  def withTreatEmptyValuesAsNulls(v: Boolean): XmlReader = set("treatEmptyValuesAsNulls", v)
  def withMode(v: String): XmlReader = set("mode", v)
  def withAttributePrefix(v: String): XmlReader = set("attributePrefix", v)
  def withValueTag(v: String): XmlReader = set("valueTag", v)
  def withColumnNameOfCorruptRecord(v: String): XmlReader = set("columnNameOfCorruptRecord", v)
  def withIgnoreSurroundingSpaces(v: Boolean): XmlReader = set("ignoreSurroundingSpaces", v)
  def withInferSchema(v: Boolean): XmlReader = set("inferSchema", v)
  def withRowValidationXSDPath(v: String): XmlReader = set("rowValidationXSDPath", v)
  def withIgnoreNamespace(v: Boolean): XmlReader = set("ignoreNamespace", v)
  def withWildcardColName(v: String): XmlReader = set("wildcardColName", v)
  def withTimestampFormat(v: String): XmlReader = set("timestampFormat", v)
  def withDateFormat(v: String): XmlReader = set("dateFormat", v)
  def withNullValue(v: String): XmlReader = set("nullValue", v)

  def withSchema(s: StructType): XmlReader = { schema = s; this }

  /** Loads `path` as a DataFrame through the graft XML relation. */
  def xmlFile(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.format("graft.xml").options(params.toMap)
    (if (schema != null) reader.schema(schema) else reader).load(path)
  }

  /** Parses an in-memory collection of XML record strings. */
  def xmlDataset(spark: SparkSession, ds: org.apache.spark.sql.Dataset[String]): DataFrame =
    xmlRdd(spark, ds.rdd)

  /** RDD variant (reference: XmlReader.scala:169-192). */
  def xmlRdd(spark: SparkSession, rdd: org.apache.spark.rdd.RDD[String]): DataFrame = {
    val options = XmlOptions(params.toMap)
    val resolved =
      if (schema != null) schema
      else InferSchema.resolve(rdd, options, spark.sparkContext.defaultParallelism)
    org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(
      spark, StaxXmlParser.parse(rdd, resolved, options), resolved)
  }
}
