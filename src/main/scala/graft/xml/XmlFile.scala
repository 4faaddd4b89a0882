package graft.xml

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, NullWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodec
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame


/**
 * File-level entry points: records-RDD extraction for the read path and
 * partition-wise XML serialization for the write path (reference:
 * src/main/scala/com/databricks/spark/xml/util/XmlFile.scala:39-161).
 *
 * Write layout: each task writes one part file that is a complete XML
 * document (`declaration`, `<rootTag>`, one `<rowTag>` element per row,
 * `</rootTag>`), so part files are independently parseable — the property
 * that makes a 100 TB corpus embarrassingly parallel to re-read.
 */
private[graft] object XmlFile {

  /**
   * Floor on split bytes. Spark's 4 MB file open cost is sized for parquet
   * scans at ~500 MB/s per core, about 8 ms of work per split; XML parses
   * at ~60 MB/s per core, so the same 8 ms is about 512 KB. A smaller split
   * costs more to launch than to parse.
   */
  private val MinSplitBytes: Long = 512L << 10
  /** Ceiling on split bytes (Spark's `maxPartitionBytes` default). */
  private val MaxSplitBytes: Long = 128L << 20
  private val SplitMaxSizeKey = "mapreduce.input.fileinputformat.split.maxsize"

  /** Plans the splits of the files `path` names from one driver-side
   *  listing. Compute once per read and pass it to [[read]] (XmlRelation
   *  keeps one across inference and every buildScan). */
  def plan(sc: SparkContext, path: String, options: XmlOptions): SplitPlan =
    plan(sc, inputBytes(sc.hadoopConfiguration, path), options)

  /**
   * The split policy, from the input's total bytes (None when the listing
   * failed). Split bytes = total ÷ defaultParallelism, clamped to
   * [[MinSplitBytes]]..[[MaxSplitBytes]], so an input of at least one floor
   * per core fills every core while a tiny one stays one task. An explicit
   * `splitMaxBytes` option wins, then a global Hadoop split max size, then
   * the policy. The warranted parallelism is ⌊total ÷ split bytes⌋ within
   * [1, cores]: rounding down keeps it at or below the splits Hadoop cuts
   * (a tail of up to 10% joins the last split), so a scan that got its
   * planned splits is never spread again.
   */
  def plan(sc: SparkContext, totalBytes: Option[Long], options: XmlOptions): SplitPlan = {
    val cores = math.max(1, sc.defaultParallelism)
    val conf = sc.hadoopConfiguration
    val global =
      if (conf.get(SplitMaxSizeKey) == null) None else Some(conf.getLong(SplitMaxSizeKey, MaxSplitBytes))
    totalBytes match {
      case None => SplitPlan(options.splitMaxBytes, cores)
      case Some(total) =>
        val policy = math.min(MaxSplitBytes, math.max(MinSplitBytes, total / cores))
        val splitBytes = math.max(1L, options.splitMaxBytes.orElse(global).getOrElse(policy))
        // A global setting is already in force; only an option or the policy is set.
        val setting = if (options.splitMaxBytes.isEmpty && global.isDefined) None else Some(splitBytes)
        SplitPlan(setting, math.min(cores.toLong, math.max(1L, total / splitBytes)).toInt)
    }
  }

  /** The policy's split size for `path`; None under a global Hadoop split
   *  max size, which then stays in force. */
  def splitMaxSizeFor(sc: SparkContext, path: String): Option[Long] =
    plan(sc, path, XmlOptions()).maxSplitBytes

  /** The Hadoop configuration of one planned read: a private copy of the
   *  context's, with the row tag, the charset and the planned split size. */
  def inputConf(sc: SparkContext, options: XmlOptions, plan: SplitPlan): Configuration = {
    val conf = new Configuration(sc.hadoopConfiguration)
    conf.set(XmlInputFormat.ROW_TAG_KEY, options.rowTag)
    conf.set(XmlInputFormat.ENCODING_KEY, options.charset)
    plan.maxSplitBytes.foreach(conf.setLong(SplitMaxSizeKey, _))
    conf
  }

  /** Raw record strings for `path`, split-parallel, planned here. */
  def read(sc: SparkContext, path: String, options: XmlOptions): RDD[String] =
    read(sc, path, options, plan(sc, path, options))

  /** Raw record strings for `path`, split-parallel, as `plan` sizes them. */
  def read(sc: SparkContext, path: String, options: XmlOptions, plan: SplitPlan): RDD[String] = {
    val charsetName = options.charset
    sc.newAPIHadoopFile(
        path,
        classOf[XmlInputFormat],
        classOf[LongWritable],
        classOf[Text],
        inputConf(sc, options, plan))
      .mapPartitions { iter =>
        val decode = recordDecoder(charsetName)
        iter.map { case (_, text) => decode(text) }
      }
  }

  /** Record bytes from [[XmlInputFormat]]'s reader → record string. Input
   *  in a non-ASCII-compatible charset was transcoded to UTF-8 by the reader
   *  (TranscodingInputStream), so its records decode as UTF-8. */
  def recordDecoder(charsetName: String): Text => String = {
    val cs = Charset.forName(charsetName)
    val charset = if (XmlInputFormat.isAsciiCompatible(cs)) cs else StandardCharsets.UTF_8
    text => new String(text.getBytes, 0, text.getLength, charset)
  }

  /** Total byte size of the files `path` names (comma-separated, globs ok,
   *  any Hadoop filesystem); None if listing fails. */
  def inputBytes(conf: Configuration, path: String): Option[Long] = {
    try {
      var total = 0L
      path.split(",").foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p.trim)
        val fs = hp.getFileSystem(conf)
        val matches = fs.globStatus(hp)
        if (matches != null) matches.foreach { st =>
          total += (if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
                    else st.getLen)
        }
      }
      Some(total)
    } catch { case _: Exception => None }
  }

  def save(df: DataFrame, path: String, options: XmlOptions): Unit = {
    val schema = df.schema
    val documentEnd = options.documentEnd
    val codecClass: Option[Class[_ <: CompressionCodec]] = options.codec.map { name =>
      resolveCodec(name)
    }
    // Serialize from InternalRow directly: the external `df.rdd` conversion
    // (boxing every numeric, decoding every string) dominated write cost.
    // The sink mirrors saveAsTextFile (same old-API TextOutputFormat, same
    // NullWritable-key value-plus-newline layout, same reused Text) but
    // fills the Text bytes straight from the builder — all-ASCII rows (the
    // common case for XML) never materialize a per-row String, rows with
    // non-ASCII text fall back to the JDK encoder for exact parity.
    val rendered = df.queryExecution.toRdd.mapPartitions { rows =>
      // One reusable builder + Text per partition; each next() yields one
      // text line block (header, row, or row+footer).
      val sb = new java.lang.StringBuilder(1 << 16)
      val gen = new StaxXmlGenerator(schema, options)
      val text = new Text()
      var buf = new Array[Byte](1 << 16)
      // Fill `text` with the UTF-8 encoding of sb[from..sb.length).
      def fillText(from: Int): Unit = {
        val len = sb.length
        if (buf.length < len - from) {
          buf = new Array[Byte](Integer.highestOneBit(len - from) << 1)
        }
        var i = from
        var bi = 0
        var ascii = true
        while (ascii && i < len) {
          val c = sb.charAt(i)
          if (c < 0x80) { buf(bi) = c.toByte; bi += 1; i += 1 }
          else ascii = false
        }
        if (ascii) text.set(buf, 0, bi)
        else text.set(sb.substring(from)) // JDK-exact encode for non-ASCII
      }
      new Iterator[(NullWritable, Text)] {
        private var begun = false
        private var ended = false
        override def hasNext: Boolean = !ended
        override def next(): (NullWritable, Text) = {
          if (!begun) {
            begun = true
            var header = options.documentStart
            if (!rows.hasNext) { ended = true; header += "\n" + documentEnd }
            text.set(header)
          } else if (rows.hasNext) {
            sb.setLength(0)
            val emitter = new XmlEmitter(sb, baseDepth = 1, compact = options.compactOutput)
            gen.write(emitter, rows.next())
            if (!rows.hasNext) {
              ended = true
              sb.append('\n').append(documentEnd)
            }
            // Pretty mode: strip the emitter's leading newline — the sink
            // writes one per record. Compact rows start at '<'.
            fillText(if (options.compactOutput) 0 else 1)
          } else {
            throw new NoSuchElementException("exhausted")
          }
          (NullWritable.get(), text)
        }
      }
    }
    val outFmt = classOf[org.apache.hadoop.mapred.TextOutputFormat[NullWritable, Text]]
    codecClass match {
      case Some(c) =>
        rendered.saveAsHadoopFile(path, classOf[NullWritable], classOf[Text], outFmt, c)
      case None =>
        rendered.saveAsHadoopFile(path, classOf[NullWritable], classOf[Text], outFmt)
    }
  }

  /** Shared with the V2 write path (same option, same short names). */
  private[graft] def resolveCodec(name: String): Class[_ <: CompressionCodec] = {
    val shortNames = Map(
      "gzip" -> "org.apache.hadoop.io.compress.GzipCodec",
      "bzip2" -> "org.apache.hadoop.io.compress.BZip2Codec",
      "deflate" -> "org.apache.hadoop.io.compress.DeflateCodec",
      "snappy" -> "org.apache.hadoop.io.compress.SnappyCodec",
      "lz4" -> "org.apache.hadoop.io.compress.Lz4Codec")
    val className = shortNames.getOrElse(name.toLowerCase, name)
    Class.forName(className, true, Thread.currentThread.getContextClassLoader)
      .asInstanceOf[Class[_ <: CompressionCodec]]
  }
}

/** How one read splits its input: the split max size it sets (None leaves
 *  a global setting or Hadoop's block sizing in force), and how many tasks
 *  its bytes warrant, at most the cores. */
private[graft] final case class SplitPlan(maxSplitBytes: Option[Long], parallelism: Int)
