package graft.xml.v2

import java.io.{BufferedOutputStream, OutputStream, OutputStreamWriter}
import java.nio.charset.Charset

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.util.ReflectionUtils

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.xml.{StaxXmlGenerator, XmlEmitter, XmlFile, XmlOptions}

/**
 * The one batch XML file writer. It runs under Spark's V2 write for
 * `df.write.format("xmlng2")`, and [[XmlFile.save]] drives it directly for
 * `xmlng` saves, `INSERT OVERWRITE` and stream-sink batches. Each part file
 * is a complete, independently parseable XML document (declaration,
 * `<rootTag>`, one `<rowTag>` element per row, `</rootTag>`) in the
 * configured `charset`. The commit protocol:
 *
 *  - every task writes to a uniquely-named file under a hidden staging
 *    directory inside the destination (`.xmlng2-staging-<queryId>`; both
 *    Hadoop's input listing and the xmlng stream source skip dot-names);
 *  - a task's commit publishes nothing: it returns the names of its staged
 *    files, and the driver keeps one result per partition, so speculative
 *    or retried attempts never double-publish;
 *  - job `commit()` renames the committed files into place — a per-file
 *    metadata operation, no data movement, no driver-side data — then
 *    drops a `_SUCCESS` marker; `abort()` just deletes the staging
 *    directory. On an object store this is the protocol you want at 100 TB:
 *    task output becomes durable where it will be read, and the driver's
 *    commit cost is O(files), not O(bytes).
 *
 * Empty partitions produce no file, except partition 0, which always
 * writes the document skeleton so an empty DataFrame still round-trips as
 * a readable zero-record corpus.
 *
 * Overwrite through `xmlng2` (`SupportsOverwrite`/`SupportsTruncate`)
 * deletes the previous contents at JOB COMMIT time, after every task
 * output is durably staged — a failure anywhere before commit leaves the
 * old data fully intact (an `xmlng` overwrite deletes up front, in its
 * caller). Filter-based overwrite accepts only the always-true predicate
 * (≡ truncate): an unpartitioned XML directory has no metadata to prune
 * files by, so a selective overwrite would have to read-and-rewrite — a
 * different operator, rejected loudly at plan time rather than silently
 * degraded to full truncation.
 *
 * `maxRecordsPerFile` rolls each task's output to a fresh staged file
 * every N records; every rolled file is a complete XML document. At 100 TB
 * this bounds the largest single object a downstream reader must handle —
 * without it one skewed partition can produce an arbitrarily large file.
 */
private[v2] final class XmlWriteBuilder(
    parameters: Map[String, String],
    schema: StructType,
    queryId: String,
    hadoopConf: SerializableHadoopConf) extends WriteBuilder with SupportsOverwrite {

  private var truncateOnCommit = false

  override def truncate(): WriteBuilder = { truncateOnCommit = true; this }

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    // Only the always-true predicate maps onto this sink (== truncate);
    // anything selective needs file-level metadata an XML directory
    // doesn't have. Reject at plan time, never degrade silently.
    val selective = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (selective.nonEmpty) {
      throw new UnsupportedOperationException(
        "xmlng2 write: overwrite by filter supports only the always-true " +
          s"predicate (truncate); got ${selective.mkString(", ")}")
    }
    truncateOnCommit = true
    this
  }

  override def build(): Write =
    new XmlBatchWrite(parameters, schema, queryId, truncateOnCommit, hadoopConf)
}

private[xml] final class XmlBatchWrite(
    parameters: Map[String, String],
    schema: StructType,
    queryId: String,
    truncateOnCommit: Boolean,
    hadoopConf: SerializableHadoopConf) extends Write with BatchWrite with Logging {

  private val destPath = XmlTable.pathFor(parameters)
  private val stagingName = s".xmlng2-staging-$queryId"
  // Fail fast on the driver: a bad charset (XmlOptions checks it) or codec
  // name should never surface as N identical task failures deep in the job.
  XmlOptions(parameters).codec.foreach(XmlFile.resolveCodec)

  override def toBatch: BatchWrite = this

  override def description(): String =
    s"xmlng2 write [$destPath]${if (truncateOnCommit) " truncate" else ""}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dest = new Path(destPath)
    val fs = dest.getFileSystem(hadoopConf.value)
    fs.mkdirs(new Path(dest, stagingName))
    XmlDataWriterFactory(hadoopConf, parameters, schema, destPath, stagingName, queryId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dest = new Path(destPath)
    val fs = dest.getFileSystem(hadoopConf.value)
    val staging = new Path(dest, stagingName)
    try {
      if (truncateOnCommit) {
        // All new output is durably staged by now; clearing the old
        // contents here (not before the job) means any pre-commit failure
        // leaves the previous data untouched.
        fs.listStatus(dest).foreach { st =>
          if (st.getPath.getName != stagingName) fs.delete(st.getPath, true)
        }
      }
      val staged = messages.collect {
        case XmlWriteTaskResult(files) => files // empty partitions stage nothing
      }.flatten
      // Publish renames in parallel: serially, a 100k-task write is 100k
      // driver-side metadata round-trips (tens of ms each on an object
      // store). Bounded pool; the first failure propagates and aborts.
      if (staged.nonEmpty) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, staged.length))
        try {
          staged.map { case (stagedPath, finalName) =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              override def call(): Unit = {
                val from = new Path(stagedPath)
                val to = new Path(dest, finalName)
                if (!fs.rename(from, to)) {
                  throw new IllegalStateException(
                    s"xml write: failed to publish $from -> $to")
                }
              }
            })
          }.foreach(_.get())
        } finally pool.shutdownNow()
      }
      fs.create(new Path(dest, "_SUCCESS"), true).close()
    } finally {
      // Uncommitted attempt files (failed/speculative attempts) die with
      // the staging dir; on a commit exception Spark calls abort(), for
      // which this delete is also the entire cleanup.
      if (!fs.delete(staging, true) && fs.exists(staging)) {
        logWarning(s"xml write: could not remove staging dir $staging")
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dest = new Path(destPath)
    val fs = dest.getFileSystem(hadoopConf.value)
    fs.delete(new Path(dest, stagingName), true)
  }
}

private[v2] case class XmlDataWriterFactory(
    conf: SerializableHadoopConf,
    parameters: Map[String, String],
    schema: StructType,
    destPath: String,
    stagingName: String,
    queryId: String) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new XmlDataWriter(
      conf.value, parameters, schema, destPath, stagingName, queryId, partitionId, taskId)
}

/** `files` = (staged path, final name) per file the partition produced —
 *  several under `maxRecordsPerFile` rolling, one otherwise, none for an
 *  empty partition that staged nothing. */
private[v2] case class XmlWriteTaskResult(files: Seq[(String, String)])
  extends WriterCommitMessage

private[v2] final class XmlDataWriter(
    conf: Configuration,
    parameters: Map[String, String],
    schema: StructType,
    destPath: String,
    stagingName: String,
    queryId: String,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val options = XmlOptions(parameters)
  private val codec = options.codec.map { name =>
    ReflectionUtils.newInstance(XmlFile.resolveCodec(name), conf)
  }
  private val ext = ".xml" + codec.map(_.getDefaultExtension).getOrElse("")
  private val maxRecords = options.maxRecordsPerFile

  private val gen = new StaxXmlGenerator(schema, options)
  private val sb = new java.lang.StringBuilder(1 << 16)
  private var out: OutputStreamWriter = _
  // Rolling state: `seq` numbers the files this task produced; closed
  // files accumulate (staged path, final name) pairs in reverse.
  private var seq = -1
  private var recordsInFile = 0L
  private var currentStaged: Path = _
  private var filesWritten: List[(String, String)] = Nil

  // Final names carry partitionId + file seq (+ the job's queryId so
  // appends across jobs never collide); staged names additionally carry
  // taskId so concurrent attempts of one partition stage distinct files.
  private def finalName(s: Int): String = f"part-$partitionId%05d-c$s%03d-$queryId$ext"

  /** File + document header materialize on the first row (or at commit for
   *  partition 0), so empty partitions cost nothing. */
  private def ensureOpen(): Unit = if (out == null) {
    seq += 1
    currentStaged = new Path(new Path(destPath, stagingName),
      f"attempt-$taskId-part-$partitionId%05d-c$seq%03d$ext")
    val fs = currentStaged.getFileSystem(conf)
    val raw: OutputStream = fs.create(currentStaged, false)
    val wrapped = codec.map(_.createOutputStream(raw)).getOrElse(raw)
    out = new OutputStreamWriter(
      new BufferedOutputStream(wrapped, 1 << 16), Charset.forName(options.charset))
    out.write(options.documentStart)
  }

  /** Closes the open document (footer + stream) and records its publish
   *  pair. No-op when nothing is open — e.g. a roll landed exactly on the
   *  last record of the partition. */
  private def closeCurrent(): Unit = if (out != null) {
    out.write(s"\n${options.documentEnd}\n")
    out.close()
    out = null
    filesWritten ::= (currentStaged.toString, finalName(seq))
    recordsInFile = 0L
  }

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    sb.setLength(0)
    val emitter = new XmlEmitter(sb, baseDepth = 1, compact = options.compactOutput)
    gen.write(emitter, row)
    // pretty mode emits its own leading newline; compact rows need one to
    // land one per line
    if (options.compactOutput) out.write("\n")
    out.write(sb.toString)
    recordsInFile += 1
    // roll AFTER the record: every file holds at least one row, so a
    // pathological maxRecordsPerFile=1 still yields valid documents
    if (maxRecords.exists(recordsInFile >= _)) closeCurrent()
  }

  override def commit(): WriterCommitMessage = {
    if (out == null && filesWritten.isEmpty && partitionId != 0) {
      XmlWriteTaskResult(Nil)
    } else {
      // partition 0 with no rows still emits the document skeleton
      if (out == null && filesWritten.isEmpty) ensureOpen()
      closeCurrent()
      XmlWriteTaskResult(filesWritten.reverse)
    }
  }

  override def abort(): Unit = {
    close()
    val paths = Option(currentStaged).map(_.toString).toList ++ filesWritten.map(_._1)
    try {
      val fs = new Path(destPath).getFileSystem(conf)
      paths.foreach(p => fs.delete(new Path(p), false))
    } catch { case scala.util.control.NonFatal(_) => () } // staging dir cleanup catches it
  }

  override def close(): Unit = if (out != null) {
    try out.close() catch { case scala.util.control.NonFatal(_) => () }
    out = null
  }
}
