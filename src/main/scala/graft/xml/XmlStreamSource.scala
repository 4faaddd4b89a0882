package graft.xml

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming file source for XML directories:
 * `spark.readStream.format("xmlng").option("rowTag", …).schema(s).load(dir)`.
 *
 * The reference library has no streaming surface, and the `readStream.text`
 * + `from_xml` composition only handles one-record-per-line corpora; this
 * source streams real multi-line XML documents (declaration, root tag,
 * records spanning lines) through the same split-parallel scanner and StAX
 * parser as the batch relation, so every read option (rowTag, charset,
 * modes, XSD validation, pushdown-safe pruning via the user schema) behaves
 * identically in a stream.
 *
 * Offset/recovery model (same shape as Spark's own FileStreamSource): an
 * offset is the id of the latest discovered batch of files. Each discovered
 * batch's file list is persisted to `metadataPath/<batchId>` with an
 * atomic-rename write BEFORE the offset is surfaced, so `getBatch(x, y)` is
 * a pure function of the durable log — a restarted query replays exactly
 * the same files per batch (exactly-once per file). Files are identified by
 * path: appends to an already-seen file are not re-read, matching file-sink
 * + file-source conventions where files are immutable once visible.
 *
 * Scale notes — an unbounded stream must bound BOTH the log dir and the
 * seen-set, and each has its own mechanism:
 *
 *  - discovery is one driver-side listing per trigger (the cost
 *    FileStreamSource pays too);
 *  - the log COMPACTS: every `logCompactInterval` batches (default 10) the
 *    per-batch files merge into one `<id>.compact` snapshot carrying
 *    (batchId, path, mtime) lines, and the superseded entries are deleted —
 *    the log directory stays O(interval) files forever. Batch ids survive
 *    compaction, so a restarted query can still replay any batch exactly;
 *  - `maxFileAgeMs` (optional, off by default — matching semantics of
 *    FileStreamSource's maxFileAge) bounds the retained history: files
 *    whose mtime has fallen `maxFileAgeMs` behind the newest seen mtime
 *    are ignored at discovery if unseen, and evicted from the seen-set and
 *    the snapshot at compaction once their batch is committed (committed
 *    batches are never replayed, so dropping their entries is safe). With
 *    it set, seen-set and snapshot are O(files-per-age-window); without
 *    it, they grow with total file count — path strings only.
 *
 * These bounds are spec'd at the 10⁵-file mark (XmlStreamingSuite,
 * slow-tagged): after age eviction the snapshot holds only in-window
 * entries and the log dir stays O(interval) files; discovery remains the
 * only term that scales with corpus file count, exactly as in
 * FileStreamSource.
 *
 * The actual data read is executor-side and split-parallel via
 * [[XmlFile.read]], and each batch makes its rows by [[XmlScanSpec]], the
 * batch relation's scan rule.
 */
private[xml] class XmlStreamSource(
    sqlContext: SQLContext,
    metadataPath: String,
    path: String,
    override val schema: StructType,
    parameters: Map[String, String]) extends Source with Logging {

  private val options = XmlOptions(parameters)
  private val maxFilesPerTrigger: Option[Int] =
    parameters.get("maxFilesPerTrigger").map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger ($n) must be positive")
      n
    }
  private val maxBytesPerTrigger: Option[Long] =
    parameters.get("maxBytesPerTrigger").map { v =>
      val n = v.toLong
      require(n > 0, s"maxBytesPerTrigger ($n) must be positive")
      n
    }
  private val logCompactInterval: Int =
    parameters.get("logCompactInterval").map(_.toInt).getOrElse(10)
  require(logCompactInterval > 0,
    s"logCompactInterval ($logCompactInterval) must be positive")
  private val maxFileAgeMs: Option[Long] =
    parameters.get("maxFileAgeMs").map { v =>
      val n = v.toLong
      require(n > 0, s"maxFileAgeMs ($n) must be positive")
      n
    }

  private val logDir = new Path(metadataPath)
  private val fs: FileSystem =
    logDir.getFileSystem(sqlContext.sparkContext.hadoopConfiguration)
  if (!fs.exists(logDir)) fs.mkdirs(logDir)

  // Rebuilt from the durable log on (re)start: which (file, mtime) pairs
  // belong to which already-discovered batch, and the seen-set. The newest
  // `.compact` snapshot (if any) carries history up to its id; numbered
  // entries above it carry the rest. Numbered entries at or below the
  // snapshot id are leftovers from a crash between compact-rename and
  // cleanup — stale by construction, so they are re-deleted.
  private val batchFiles = mutable.SortedMap.empty[Long, Seq[FileEntry]]
  private val seen = mutable.HashMap.empty[String, Long]
  private var maxSeenMtime = Long.MinValue
  locally {
    val entries = fs.listStatus(logDir).filter(_.isFile)
    val compacts = entries
      .filter(_.getPath.getName.endsWith(".compact"))
      .map(st => st.getPath.getName.stripSuffix(".compact").toLong -> st.getPath)
      .sortBy(_._1)
    compacts.lastOption.foreach { case (_, p) =>
      readCompact(p).foreach { case (id, files) =>
        batchFiles(id) = files
        files.foreach(e => seen(e.path) = e.mtime)
      }
    }
    val compactedThrough = compacts.lastOption.map(_._1).getOrElse(-1L)
    entries.iterator
      .filter(st => st.getPath.getName.forall(_.isDigit))
      .foreach { st =>
        val id = st.getPath.getName.toLong
        if (id > compactedThrough) {
          val files = readLog(st.getPath)
          batchFiles(id) = files
          files.foreach(e => seen(e.path) = e.mtime)
        } else {
          fs.delete(st.getPath, false) // stale: superseded by the snapshot
        }
      }
    compacts.dropRight(1).foreach { case (_, p) => fs.delete(p, false) }
    if (seen.nonEmpty) maxSeenMtime = seen.valuesIterator.max
  }
  private var latestBatchId: Long = if (batchFiles.isEmpty) -1L else batchFiles.lastKey
  private var committedThrough: Long = -1L

  /** Log line: `path TAB mtime TAB len`. Parsed from the END, each numeric
   *  field validated — a tab inside the path never shifts fields, and
   *  shorter legacy lines degrade to 0s instead of failing the restart. */
  private def parseLine(line: String): FileEntry = {
    def splitLastLong(s: String): Option[(String, Long)] = {
      val i = s.lastIndexOf('\t')
      if (i < 0) None
      else s.drop(i + 1).toLongOption.map(n => (s.take(i), n))
    }
    splitLastLong(line) match {
      case Some((rest, last)) =>
        splitLastLong(rest) match {
          case Some((path, mid)) => FileEntry(path, mid, last) // path \t mtime \t len
          case None => FileEntry(rest, last, 0L) // legacy: path \t mtime
        }
      case None => FileEntry(line, 0L, 0L) // legacy: bare path
    }
  }

  private def readLog(p: Path): Seq[FileEntry] = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, StandardCharsets.UTF_8)
        .split("\n").iterator.filter(_.nonEmpty).map(parseLine).toSeq
    } finally in.close()
  }

  private def writeLog(id: Long, files: Seq[FileEntry]): Unit = {
    val tmp = new Path(logDir, s".${id}.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.map(e => s"${e.path}\t${e.mtime}\t${e.len}")
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(logDir, id.toString))) {
      throw new IllegalStateException(s"failed to commit stream batch log $id")
    }
  }

  /** Tab-separated (batchId, path, mtime, len) lines — batch ids survive
   *  compaction so any batch remains replayable from the snapshot alone. */
  private def readCompact(p: Path): Seq[(Long, Seq[FileEntry])] = {
    val in = fs.open(p)
    val bytes = try {
      val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(b); b
    } finally in.close()
    new String(bytes, StandardCharsets.UTF_8)
      .split("\n").iterator.filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        val id = line.take(i).toLong
        id -> parseLine(line.drop(i + 1))
      }
      .toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
  }

  /** Folds every entry ≤ `id` into one `<id>.compact` snapshot, then deletes
   *  the superseded per-batch files and older snapshots. Atomic-rename
   *  first, cleanup after — a crash between the two leaves stale entries
   *  the next start re-deletes. With `maxFileAgeMs` set, entries of
   *  COMMITTED batches whose files have aged out of the discovery window
   *  are dropped from the snapshot, the in-memory map, and the seen-set:
   *  committed batches are never replayed, and discovery's age filter
   *  guarantees those paths can't be re-delivered as new. */
  private def compactThrough(id: Long): Unit = {
    val cutoff = maxFileAgeMs.map(maxSeenMtime - _)
    cutoff.foreach { c =>
      batchFiles.rangeTo(math.min(id, committedThrough)).foreach { case (bid, files) =>
        val (keep, evict) = files.partition(_.mtime >= c)
        if (evict.nonEmpty) {
          evict.foreach(e => seen.remove(e.path))
          batchFiles(bid) = keep
        }
      }
    }
    val tmp = new Path(logDir, s".${id}.compact.tmp")
    val out = fs.create(tmp, true)
    try {
      val sb = new StringBuilder
      batchFiles.rangeTo(id).foreach { case (bid, files) =>
        files.foreach { e =>
          sb.append(bid).append('\t').append(e.path).append('\t')
            .append(e.mtime).append('\t').append(e.len).append('\n')
        }
      }
      out.write(sb.result().getBytes(StandardCharsets.UTF_8))
    } finally out.close()
    if (!fs.rename(tmp, new Path(logDir, s"$id.compact"))) {
      throw new IllegalStateException(s"failed to commit stream log compaction $id")
    }
    fs.listStatus(logDir).foreach { st =>
      val n = st.getPath.getName
      val stale =
        (n.forall(_.isDigit) && n.toLong <= id) ||
          (n.endsWith(".compact") && n.stripSuffix(".compact").toLong < id)
      if (stale) fs.delete(st.getPath, false)
    }
  }

  /** One listing per trigger: data files under `path` (dir, file, or glob),
   *  excluding hidden/in-progress names, oldest first for FIFO fairness. */
  private def listInput(): Seq[FileStatus] = {
    val in = new Path(path)
    val inFs = in.getFileSystem(sqlContext.sparkContext.hadoopConfiguration)
    val matched = Option(inFs.globStatus(in)).getOrElse(Array.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory) inFs.listStatus(st.getPath).filter(_.isFile) else Array(st)
    }
    files.iterator
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith(".") && !n.startsWith("_")
      }
      .toSeq
      .sortBy(st => (st.getModificationTime, st.getPath.toString))
  }

  override def getOffset: Option[Offset] = synchronized {
    val listed = listInput()
    if (listed.nonEmpty) {
      maxSeenMtime = math.max(maxSeenMtime, listed.map(_.getModificationTime).max)
    }
    val ageCutoff = maxFileAgeMs.map(maxSeenMtime - _)
    val unseen = listed.iterator
      .filter(st => !seen.contains(st.getPath.toString))
      .filter(st => ageCutoff.forall(st.getModificationTime >= _))
      .map(st => FileEntry(st.getPath.toString, st.getModificationTime, st.getLen))
      .toSeq
    val capped = maxFilesPerTrigger.fold(unseen)(unseen.take)
    // Byte pacing: stop before the file that crosses the budget, but always
    // admit the FIRST file (an oversized one alone must still progress —
    // and only alone: judging by accumulated == own length would also let
    // an oversized file ride along after zero-length admissions).
    val take = maxBytesPerTrigger.fold(capped) { budget =>
      var acc = 0L
      var admitted = 0
      capped.takeWhile { e =>
        val ok = admitted == 0 || acc + e.len <= budget
        if (ok) { acc += e.len; admitted += 1 }
        ok
      }
    }
    if (take.nonEmpty) {
      val id = latestBatchId + 1
      writeLog(id, take) // durable before visible
      batchFiles(id) = take
      take.foreach(e => seen(e.path) = e.mtime)
      latestBatchId = id
      logInfo(s"xmlng stream batch $id: ${take.size} new file(s)")
      if ((id + 1) % logCompactInterval == 0) compactThrough(id)
    }
    if (latestBatchId < 0) None else Some(LongOffset(latestBatchId))
  }

  /** Batch-id → file list, via the in-memory map or the durable log (the
   *  resolution getBatch uses; exposed for the compaction tests). */
  private[xml] def loggedFiles(id: Long): Seq[String] = synchronized {
    batchFiles.getOrElse(id, readMissing(id)).map(_.path)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = synchronized {
    val from = start.map(toBatchId(_) + 1).getOrElse(0L)
    val to = toBatchId(end)
    val entries = (from to to).flatMap(id => batchFiles.getOrElse(id, readMissing(id)))
    val spark = sqlContext.sparkSession
    if (entries.isEmpty) {
      Bridge.internalCreateStreamingDataFrame(
        spark, spark.sparkContext.emptyRDD, schema)
    } else {
      // Split plan from the lengths captured at discovery — no second
      // driver-side listing per trigger (on an object store that would be
      // one round-trip per file per micro-batch).
      val sc = sqlContext.sparkContext
      val plan = XmlFile.plan(sc, Some(entries.map(_.len).sum), options)
      val raw = XmlFile.read(sc, entries.map(_.path).mkString(","), options, plan)
      val spec = XmlScanSpec(schema, schema, Array.empty, options)
      Bridge.internalCreateStreamingDataFrame(spark, raw.mapPartitions(spec.rows), schema)
    }
  }

  /** After a restart Spark can ask for a batch discovered by a previous
   *  incarnation whose in-memory map predates it; fall back to the log. */
  private def readMissing(id: Long): Seq[FileEntry] = {
    val p = new Path(logDir, id.toString)
    if (fs.exists(p)) {
      val files = readLog(p)
      batchFiles(id) = files
      files
    } else {
      throw new IllegalStateException(
        s"stream batch $id requested but no log entry exists under $logDir")
    }
  }

  private def toBatchId(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  /** The engine calls this once batch `end` is durably committed downstream;
   *  batches ≤ `end` are never replayed, which is what licenses age-based
   *  eviction of their entries at the next compaction. */
  override def commit(end: Offset): Unit = synchronized {
    committedThrough = math.max(committedThrough, toBatchId(end))
  }
  override def stop(): Unit = ()
  override def toString: String = s"XmlStreamSource[$path, rowTag=${options.rowTag}]"
}

/** One discovered input file: identity, FIFO/age ordering key, and size
 *  (sizes drive split packing in getBatch without re-listing). */
private[xml] case class FileEntry(path: String, mtime: Long, len: Long)
