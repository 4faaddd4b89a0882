package graft.xml

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/**
 * Partitioning scenario matrix in the spirit of the reference's
 * XmlPartitioningSuite (XmlPartitioningSuite.scala:27-73): the same corpus
 * read uncompressed, gzipped, and bzip2-compressed across a sweep of split
 * sizes must always yield the same records — whatever the split boundaries
 * cut through. Records here vary in length and carry attributes and nested
 * elements so boundaries land inside tags, text, and between records.
 */
class XmlPartitioningSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val n = 2000
  private lazy val corpus: String = {
    val rnd = new scala.util.Random(11)
    val sb = new StringBuilder(1 << 20)
    sb.append("<?xml version=\"1.0\"?>\n<houses>\n")
    (0 until n).foreach { i =>
      val pad = "x" * rnd.nextInt(40)
      sb.append(s"""<house id="$i"><num>$i</num><addr>street $pad $i</addr>""")
      if (i % 3 == 0) sb.append(s"<extra><a>1</a><b>two</b></extra>")
      sb.append("</house>\n")
    }
    sb.append("</houses>\n")
    sb.toString
  }

  private def write(dir: Path): (String, String, String) = {
    val plain = dir.resolve("houses.xml")
    Files.write(plain, corpus.getBytes("UTF-8"))
    val gz = dir.resolve("houses.xml.gz")
    val gos = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    gos.write(corpus.getBytes("UTF-8")); gos.close()
    val bz = dir.resolve("houses.xml.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val bos = codec.createOutputStream(Files.newOutputStream(bz))
    bos.write(corpus.getBytes("UTF-8")); bos.close()
    (plain.toString, gz.toString, bz.toString)
  }

  /** A single-file `<houses>` document of about `bytes` bytes in its own
   *  directory; returns the file. */
  private def housesFile(bytes: Int): Path = {
    val dir = Files.createTempDirectory("graft-split-plan")
    val row = s"""<house id="1"><num>1</num><addr>${"x" * 100}</addr></house>\n"""
    val sb = new StringBuilder(bytes + 256)
    sb.append("<houses>\n")
    while (sb.length < bytes) sb.append(row)
    sb.append("</houses>\n")
    Files.write(dir.resolve("houses.xml"), sb.toString.getBytes("UTF-8"))
  }

  private val housesSchema = "_id LONG, num LONG, addr STRING"

  private def v1Partitions(path: Path): Int =
    spark.read.format("graft.xml").option("rowTag", "house")
      .schema(housesSchema).load(path.toString).rdd.getNumPartitions

  /** Job starts of `body`'s jobs, once every one of them has ended. */
  private def jobsOf(body: => Unit): Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    import org.apache.spark.scheduler._
    val group = s"graft-jobs-${System.nanoTime}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group) {
          mine.add(js.jobId); starts.add(js)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (mine.contains(je.jobId)) ended.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "split plan spec")
      try body finally sc.clearJobGroup()
      // Job ends are posted before the action returns; the bus delivers
      // them asynchronously.
      val deadline = System.nanoTime + 10000000000L
      while ((starts.isEmpty || ended.get < starts.size) && System.nanoTime < deadline) {
        Thread.sleep(20)
      }
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    starts.asScala.toSeq
  }

  test("size-aware split packing spreads a large file across the cluster") {
    // ~8 MB single file on local[4]: the split plan (total/parallelism,
    // clamped to >= 512 KB) must yield 2 MB splits, i.e. 4 partitions —
    // not the 1 split a 32 MB block size would give.
    val big = housesFile(8 << 20)
    // This test intentionally exercises the global-conf precedence contract,
    // so it must touch the shared key: snapshot + restore (no assume-skip),
    // and it is the only suite left that mutates it — the sweep tests use
    // the per-read splitMaxBytes option.
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val old = conf.get(key)
    try {
      conf.unset(key)
      val df = spark.read.format("graft.xml").option("rowTag", "house")
        .schema("_id LONG, num LONG, addr STRING").load(big.toString)
      assert(df.rdd.getNumPartitions === 4)
      // An explicit global Hadoop setting wins over the packing policy.
      conf.set(key, "1048576")
      val df2 = spark.read.format("graft.xml").option("rowTag", "house")
        .schema("_id LONG, num LONG, addr STRING").load(big.toString)
      assert(df2.rdd.getNumPartitions >= 8)
      // And the per-read option wins over the global setting.
      conf.set(key, String.valueOf(32L << 20))
      val df3 = spark.read.format("graft.xml").option("rowTag", "house")
        .option("splitMaxBytes", "1048576")
        .schema("_id LONG, num LONG, addr STRING").load(big.toString)
      assert(df3.rdd.getNumPartitions >= 8)
    } finally {
      if (old == null) conf.unset(key) else conf.set(key, old)
    }
  }

  test("split-size sweep x codec matrix returns identical record sets") {
    val dir = Files.createTempDirectory("graft-partitioning")
    val (plain, gz, bz) = write(dir)
    // Per-read splitMaxBytes option: no shared-SparkContext conf mutation,
    // so this suite cannot race with concurrently-running suites.
    for (splitSize <- Seq("1024", "4096", "65536", "1048576")) {
      for (path <- Seq(plain, gz, bz)) {
        val df = spark.read.format("graft.xml").option("rowTag", "house")
          .option("splitMaxBytes", splitSize)
          .schema("_id LONG, num LONG, addr STRING").load(path)
        val ids = df.select("num").collect().map(_.getLong(0)).sorted
        assert(ids.length === n, s"split=$splitSize path=$path lost/duplicated records")
        assert(ids.toSeq === (0 until n).map(_.toLong), s"split=$splitSize path=$path")
      }
    }
  }

  test("a 3.5 MB file fills every core; a file under the 512 KB floor stays one split") {
    assert(v1Partitions(housesFile(3584 << 10)) === 4)
    assert(v1Partitions(housesFile(400 << 10)) === 1)
  }

  test("V1, V2 and a stream batch over the same file plan the same splits") {
    val file = housesFile(3584 << 10)
    val dir = file.getParent.toString
    val v2 = spark.read.format("xmlng2").option("rowTag", "house")
      .schema(housesSchema).load(dir).rdd.getNumPartitions
    @volatile var streamed = -1
    val q = spark.readStream.format("xmlng").option("rowTag", "house")
      .schema(housesSchema).load(dir)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-split-ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) streamed = batch.rdd.getNumPartitions
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(v1Partitions(file.getParent) === 4)
    assert(v2 === 4)
    assert(streamed === 4)
  }

  test("inference spreads only as far as the input warrants") {
    // A sub-floor file warrants one task: one stage, no shuffle.
    val small = housesFile(100 << 10)
    val fileJobs = jobsOf {
      spark.read.format("graft.xml").option("rowTag", "house").load(small.toString)
    }
    assert(fileJobs.nonEmpty)
    assert(fileJobs.map(_.stageInfos.size).sum === 1,
      s"stages: ${fileJobs.flatMap(_.stageInfos.map(_.name))}")
    assert(fileJobs.flatMap(_.stageInfos).forall(_.parentIds.isEmpty))
    // Records of unknown size (schema_of_xml over a 1-partition Dataset)
    // still spread to defaultParallelism through one shuffle.
    val records = (0 until 200).map(i => s"<house><num>$i</num></house>")
    val ds = spark.createDataset(spark.sparkContext.parallelize(records, 1))(
      org.apache.spark.sql.Encoders.STRING)
    val dsJobs = jobsOf(graft.xml.schema_of_xml(ds))
    val stages = dsJobs.flatMap(_.stageInfos)
    assert(stages.size === 2, s"stages: ${stages.map(_.name)}")
    assert(stages.map(_.numTasks).max === spark.sparkContext.defaultParallelism)
  }

  test("state partitions measure a file: URI input directory") {
    // Sparse 130 MB file: 130 MB / 64 MB + 1 = 3 state partitions (cap 4).
    val dir = Files.createTempDirectory("graft-state-bytes")
    val raf = new java.io.RandomAccessFile(dir.resolve("part-0.xml").toFile, "rw")
    try raf.setLength(130L << 20) finally raf.close()
    assert(graft.SparkEntry.stateShufflePartitions(spark, Seq(dir.toString)) === 3)
    assert(graft.SparkEntry.stateShufflePartitions(spark, Seq(dir.toUri.toString)) === 3)
  }
}
