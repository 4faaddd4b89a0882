package graft.xml

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/**
 * The one rule by which an XML scan turns raw records into rows. The DSv1
 * [[XmlRelation]], the DSv2 `xmlng2` reader and every stream batch build a
 * spec once on the driver and run [[rows]] over each partition's records,
 * so the three produce the same rows by construction:
 *
 *  - Pre-test: records that cannot satisfy the pushed filters skip the
 *    parse ([[RawRecordFilter]]). Off under FAILFAST, which must see every
 *    record: a pre-dropped malformed record would let a query succeed that
 *    is contractually required to throw.
 *  - Full parse: malformedness is defined against the full row, and a
 *    pruned parse never attempts the casts of unselected columns. When the
 *    query can observe malformedness — it selects the corrupt-record
 *    column, or the mode drops or fails on bad rows — the full schema is
 *    parsed and the required columns projected out.
 *  - Pruned parse: otherwise only the required columns are parsed; a count
 *    requires none.
 */
private[xml] final class XmlScanSpec private (
    parseSchema: StructType,
    projection: Option[Array[Int]],
    preTest: Array[Array[String]],
    val options: XmlOptions) extends Serializable {

  /** One partition's rows from its decoded records. */
  def rows(records: Iterator[String]): Iterator[InternalRow] = {
    val kept =
      if (preTest.isEmpty) records
      else records.filter(rec => preTest.forall(g => g.exists(rec.contains)))
    val parsed = StaxXmlParser.parseIterator(kept, parseSchema, options)
    projection match {
      case None => parsed
      case Some(idxs) =>
        val types = idxs.map(parseSchema(_).dataType)
        parsed.map { row =>
          val values = new Array[Any](idxs.length)
          var i = 0
          while (i < idxs.length) { values(i) = row.get(idxs(i), types(i)); i += 1 }
          new GenericInternalRow(values): InternalRow
        }
    }
  }
}

private[xml] object XmlScanSpec {

  /** The scan of `required`, a selection of `fullSchema`'s fields, with
   *  `filters` offered for the pre-test. */
  def apply(
      fullSchema: StructType,
      required: StructType,
      filters: Array[Filter],
      options: XmlOptions): XmlScanSpec = {
    val preTest = RawRecordFilter.compile(pushed(filters, fullSchema, options), fullSchema, options)
    val observesMalformed =
      options.parseMode != ParseMode.Permissive ||
        required.fieldNames.contains(options.columnNameOfCorruptRecord)
    if (observesMalformed && required.length < fullSchema.length) {
      new XmlScanSpec(fullSchema, Some(required.fieldNames.map(fullSchema.fieldIndex)), preTest, options)
    } else {
      new XmlScanSpec(required, None, preTest, options)
    }
  }

  /** The filters the pre-test uses: each one that compiles, none when
   *  `rawFilterPushdown=false` or under FAILFAST. */
  def pushed(filters: Array[Filter], schema: StructType, options: XmlOptions): Array[Filter] =
    if (!options.rawFilterPushdown || options.parseMode == ParseMode.FailFast) Array.empty
    else filters.filter(f => RawRecordFilter.compile(Array(f), schema, options).nonEmpty)
}
