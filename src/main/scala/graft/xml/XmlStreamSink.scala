package graft.xml

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.Bridge

/**
 * Structured Streaming file sink for XML:
 * `df.writeStream.format("xmlng").option("rowTag", …).start(dir)`.
 *
 * The counterpart of [[XmlStreamSource]] — together they close the streaming
 * loop the reference library never had (its only write surface is the batch
 * sink): XML directories can now be both ends of a continuous pipeline.
 *
 * Exactly-once model: every micro-batch is rendered through the batch writer
 * ([[XmlFile.save]] — so each emitted part file is a complete, independently
 * parseable XML document with declaration and rootTag) into a hidden
 * temporary directory, its part files are then moved into `dir` under the
 * batch's prefix, as `part-<batchId>-<writer's name minus "part-">`, and
 * finally a marker is created under `dir/_xmlng_commits/<batchId>`. The
 * writer's names carry a per-write id, so a replay does not reproduce them:
 * a replayed batch (crash before the marker) is safe because it first
 * deletes every file under its `part-<batchId>-` prefix, whatever attempt
 * wrote it; a batch whose marker exists is skipped outright.
 * Underscore-prefixed working dirs are invisible to Hadoop input listings,
 * so a plain batch read of `dir` sees only data files.
 *
 * Scale notes: the per-batch driver work is one listing + O(part files)
 * renames (same-filesystem moves, no data copy); rendering itself is
 * executor-side and partition-parallel. The commit log stays bounded:
 * markers more than `commitRetention` batches (default 100) behind the one
 * being committed are deleted — the engine only ever replays batches at or
 * after the last checkpointed commit, which is always within one trigger of
 * the newest, so a 100-batch horizon is far beyond any replay window.
 */
private[xml] class XmlStreamSink(
    sqlContext: SQLContext,
    path: String,
    parameters: Map[String, String]) extends Sink with Logging {

  private val options = XmlOptions(parameters)
  private val commitRetention: Long =
    parameters.get("commitRetention").map(_.toLong).getOrElse(100L)
  require(commitRetention > 0, s"commitRetention ($commitRetention) must be positive")
  private val dir = new Path(path)
  private val commitsDir = new Path(dir, "_xmlng_commits")
  private val fs: FileSystem =
    dir.getFileSystem(sqlContext.sparkContext.hadoopConfiguration)
  if (!fs.exists(commitsDir)) fs.mkdirs(commitsDir)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val marker = new Path(commitsDir, batchId.toString)
    if (fs.exists(marker)) {
      logInfo(s"xmlng sink: batch $batchId already committed, skipping")
      return
    }
    // The incoming frame carries an IncrementalExecution; re-wrap its
    // physical RDD as a batch frame so the batch writer can run on it
    // (the standard v1-sink pattern).
    val spark = sqlContext.sparkSession
    val batchDf = Bridge.internalCreateDataFrame(
      spark, data.queryExecution.toRdd, data.schema)

    val tmp = new Path(dir, s"_tmp_batch_$batchId")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    XmlFile.save(batchDf, tmp.toString, options)

    // A replay names its parts afresh and may render fewer of them (e.g.
    // restart on fewer cores changes split packing); whatever the crashed
    // attempt moved here would duplicate rows. Clear every part of this
    // batch first — via a prefix glob, which object stores serve as one
    // prefix-bounded LIST, not a scan of the whole (ever-growing) output
    // directory.
    Option(fs.globStatus(new Path(dir, s"part-$batchId-*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, false))

    val parts = fs.listStatus(tmp).filter { st =>
      st.isFile && st.getPath.getName.startsWith("part-")
    }
    parts.foreach { st =>
      // part-00000-c000-<id>.xml[.gz] → part-<batchId>-00000-c000-<id>.xml[.gz].
      // No exists/delete probe per target: the batch-prefix sweep above
      // already cleared this batch's names.
      val target = new Path(dir, s"part-$batchId-${st.getPath.getName.stripPrefix("part-")}")
      if (!fs.rename(st.getPath, target)) {
        throw new IllegalStateException(
          s"xmlng sink: failed to move ${st.getPath} to $target")
      }
    }
    fs.delete(tmp, true)
    fs.create(marker, true).close()
    // Prune markers beyond the replay horizon so the commit dir is O(retention).
    fs.listStatus(commitsDir).foreach { st =>
      val n = st.getPath.getName
      if (n.forall(_.isDigit) && n.toLong < batchId - commitRetention) {
        fs.delete(st.getPath, false)
      }
    }
    logInfo(s"xmlng sink: committed batch $batchId (${parts.length} file(s))")
  }

  override def toString: String = s"XmlStreamSink[$path, rowTag=${options.rowTag}]"
}
