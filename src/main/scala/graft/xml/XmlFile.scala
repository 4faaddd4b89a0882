package graft.xml

import java.nio.charset.{Charset, StandardCharsets}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodec
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo


/**
 * File-level entry points: split planning and records-RDD extraction for
 * the read path, and the batch save that runs the V2 writer (reference:
 * src/main/scala/com/databricks/spark/xml/util/XmlFile.scala:39-161).
 *
 * Write layout: each task writes its part files through
 * [[v2.XmlBatchWrite]], each a complete XML document (`declaration`,
 * `<rootTag>`, one `<rowTag>` element per row, `</rootTag>`), so part
 * files are independently parseable — the property that makes a 100 TB
 * corpus embarrassingly parallel to re-read.
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

  /**
   * Writes `df` under `path` through the V2 writer, without planning a
   * second query: one job over the frame's rows, in which every task stages
   * its part files through a `v2.XmlDataWriter`, then one driver-side
   * [[v2.XmlBatchWrite]] commit that renames them into place. A failed task
   * aborts its writer and a failed job aborts the write. Callers apply the
   * save mode first.
   */
  def save(df: DataFrame, path: String, options: XmlOptions): Unit = {
    val sc = df.sparkSession.sparkContext
    // Like Spark's V2 write: a frame with no partitions still runs one task,
    // so partition 0 writes the document skeleton.
    val planned = df.queryExecution.toRdd
    val rows = if (planned.getNumPartitions > 0) planned else sc.parallelize(Seq.empty[InternalRow], 1)
    val write = new v2.XmlBatchWrite(options.parameters + ("path" -> path), df.schema,
      UUID.randomUUID().toString, truncateOnCommit = false,
      new v2.SerializableHadoopConf(new Configuration(sc.hadoopConfiguration)))
    try {
      val factory = write.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = rows.getNumPartitions
      })
      write.commit(sc.runJob(rows, (ctx: TaskContext, iter: Iterator[InternalRow]) => {
        val writer = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
        try {
          iter.foreach(writer.write)
          writer.commit()
        } catch { case t: Throwable => writer.abort(); throw t }
        finally writer.close()
      }))
    } catch { case t: Throwable => write.abort(Array.empty); throw t }
  }

  /** The codec class `codec` names, by short or class name (the V2 writer
   *  and `XmlPartitioned.write`). */
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
