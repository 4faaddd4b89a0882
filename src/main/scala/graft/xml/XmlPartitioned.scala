package graft.xml

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapred.lib.MultipleTextOutputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/**
 * Hive-style partitioned layout for the XML connector: writes route each
 * row to `basePath/col=value/part-NNNNN` in ONE job, and reads rebuild the
 * partition columns from directory names with partition PRUNING handled by
 * Catalyst itself.
 *
 * Write (one pass, no per-partition jobs): rows are hash-repartitioned and
 * sorted by the partition columns, so each task sees its values as
 * contiguous runs; the task emits a complete XML document per run (header,
 * rows, footer) keyed by the escaped subdirectory, and a
 * `MultipleTextOutputFormat` routes lines to per-directory part files.
 * Every part file is independently parseable, same as the unpartitioned
 * sink. Partition columns are stored in the PATH only (Hive convention),
 * not repeated inside the documents.
 *
 * Read: one DataFrame branch per leaf directory, each carrying its
 * partition values as literal columns, unioned. A filter like
 * `col("source") === "s3"` constant-folds to `false` on every
 * non-matching branch, and Catalyst collapses those branches out of the
 * plan — partition pruning with zero custom rules (XmlPartitionedSuite
 * pins it). Partition columns read back as strings (cast downstream as
 * needed; Hive itself stores path values as strings).
 */
object XmlPartitioned {

  /** Subset of Hive's path escaping: keep ASCII [A-Za-z0-9._-],
   *  percent-encode every other byte (UTF-8). */
  private[xml] def escape(v: String): String = {
    val sb = new StringBuilder
    v.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if ((c < 0x80 && c.isLetterOrDigit) || c == '.' || c == '_' || c == '-') sb += c
      else sb ++= f"%%${b & 0xff}%02X"
    }
    sb.result()
  }

  private[xml] def unescape(v: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 3 <= v.length) {
        out.write(Integer.parseInt(v.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  private[xml] val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  private val escapeUdf = udf((s: String) => escape(s))

  /** Escaped path fragment for one partition value: codegen'd identity for
   *  the overwhelmingly common safe-charset case, UDF escape otherwise. */
  private def escapedValue(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = coalesce(c.cast(StringType), lit(NullPartition))
    when(s.rlike("^[A-Za-z0-9._-]*$"), s).otherwise(escapeUdf(s))
  }

  /**
   * One-pass partitioned write. `partitionCols` become directories (in
   * order); the documents contain only the remaining columns. Null
   * partition values write to the Hive default-partition directory.
   */
  def write(
      df: DataFrame,
      basePath: String,
      partitionCols: Seq[String],
      options: Map[String, String] = Map.empty): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must not be empty")
    val dataCols = df.schema.fieldNames.filterNot(partitionCols.contains).toSeq
    require(dataCols.nonEmpty, "no data columns left after partition columns")
    partitionCols.foreach { c =>
      require(df.schema.fieldNames.contains(c), s"unknown partition column '$c'")
    }
    // Text output is UTF-8 whatever `charset` says: declare what is written.
    val opts = new XmlOptions(options.filter { case (k, _) => !k.equalsIgnoreCase("charset") })
    val subdir = concat_ws("/", partitionCols.map { c =>
      concat(lit(s"$c="), escapedValue(col(c)))
    }: _*)
    val dataSchema = StructType(df.schema.fields.filter(f => dataCols.contains(f.name)))
    // Data columns FIRST, routing key LAST: the generator walks exactly
    // dataSchema.length leading fields, so the trailing __dir needs no
    // per-row projection.
    val prepared = df
      .repartition(partitionCols.map(col): _*)
      .sortWithinPartitions(partitionCols.map(col): _*)
      .select(dataCols.map(col) :+ subdir.as("__dir"): _*)

    val header = opts.documentStart
    val footer = opts.documentEnd
    val compact = opts.compactOutput
    val optMap = options
    val dirIdx = dataSchema.length
    val rendered = prepared.queryExecution.toRdd.mapPartitions { rows =>
      val gen = new StaxXmlGenerator(dataSchema, new XmlOptions(optMap))
      new Iterator[(Text, Text)] {
        private var current: String = null
        private var pending: mutable.Queue[(Text, Text)] = mutable.Queue.empty
        override def hasNext: Boolean =
          pending.nonEmpty || rows.hasNext || current != null
        override def next(): (Text, Text) = {
          if (pending.nonEmpty) return pending.dequeue()
          if (!rows.hasNext) { // close the final run
            val t = (new Text(current), new Text(footer))
            current = null
            return t
          }
          val row = rows.next()
          val dir = row.getUTF8String(dirIdx).toString
          val sb = new java.lang.StringBuilder
          val emitter = new XmlEmitter(sb, baseDepth = 1, compact = compact)
          gen.write(emitter, row)
          val rowLine = if (compact) sb.toString else sb.substring(1)
          if (current == null) {
            current = dir
            pending += ((new Text(dir), new Text(rowLine)))
            (new Text(dir), new Text(header))
          } else if (current != dir) {
            val closing = (new Text(current), new Text(footer))
            current = dir
            pending += ((new Text(dir), new Text(header)))
            pending += ((new Text(dir), new Text(rowLine)))
            closing
          } else {
            (new Text(dir), new Text(rowLine))
          }
        }
      }
    }
    opts.codec.map(XmlFile.resolveCodec) match {
      case Some(c) =>
        rendered.saveAsHadoopFile(basePath, classOf[Text], classOf[Text],
          classOf[XmlPartitionedOutputFormat], c)
      case None =>
        rendered.saveAsHadoopFile(basePath, classOf[Text], classOf[Text],
          classOf[XmlPartitionedOutputFormat])
    }
  }

  /**
   * Read a partitioned layout back: discovers `col=value` directories under
   * `basePath`, loads each leaf through the XML source with the partition
   * values attached as literal columns, and unions the branches. Filters on
   * partition columns prune branches via constant folding (see spec).
   */
  def read(
      spark: SparkSession,
      basePath: String,
      options: Map[String, String] = Map.empty,
      schema: Option[StructType] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(basePath)
    val fs = base.getFileSystem(conf)

    def leaves(p: Path, parts: Seq[(String, String)]): Seq[(Path, Seq[(String, String)])] = {
      val entries = fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
      val partDirs = entries.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (partDirs.isEmpty) Seq((p, parts))
      else partDirs.toSeq.sortBy(_.getPath.getName).flatMap { d =>
        val Array(k, v) = d.getPath.getName.split("=", 2)
        leaves(d.getPath, parts :+ (k -> unescape(v)))
      }
    }

    val branches = leaves(base, Nil)
    require(branches.nonEmpty && branches.head._2.nonEmpty,
      s"no partition directories under $basePath")
    val partCols = branches.head._2.map(_._1)
    require(branches.forall(_._2.map(_._1) == partCols),
      s"inconsistent partition columns across directories under $basePath")
    val dfs = branches.map { case (dir, parts) =>
      val reader = spark.read.format("graft.xml").options(options)
      val branch = schema.map(reader.schema).getOrElse(reader).load(dir.toString)
      parts.foldLeft(branch) { case (b, (k, v)) =>
        b.withColumn(k,
          if (v == NullPartition) lit(null).cast(StringType) else lit(v))
      }
    }
    dfs.reduce(_.unionByName(_))
  }
}

/** Routes each line to `<key>/<partfile>`; the key never reaches the data
 *  (null actual key = value-only lines, the TextOutputFormat convention). */
class XmlPartitionedOutputFormat extends MultipleTextOutputFormat[Text, Text] {
  override def generateFileNameForKeyValue(key: Text, value: Text, name: String): String =
    s"${key.toString}/$name"
  override def generateActualKey(key: Text, value: Text): Text = null
}
