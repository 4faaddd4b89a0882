package graft.xml.bench

import java.io.{File, PrintWriter, StringReader}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.xml.{InferSchema, RawRecordFilter, StaxFactories, StaxXmlParser, XmlFile, XmlInputFormat, XmlOptions}

/**
 * The XML engine benchmark's JVM side. It drives the engine only through
 * its entry points, from one driver thread in a closed loop (one client,
 * each op starts when the previous one has finished), and writes raw
 * samples, checks and spans; `run.py` turns them into metrics.
 *
 * {{{
 *   XmlBench --workload nested_infer --seed 1 --seconds 25 --trace 0 --work DIR
 * }}}
 *
 * Untraced (`--trace 0`): set up three times, run each op once to warm up,
 * time the workload's op cycle for `--seconds`, then check every op's output
 * in full. Traced runs also time host-drift controls just before and just
 * after the loop.
 * Traced (`--trace 1`): each cycle runs the ops without tracing, the same
 * ops inside spans with the stage listener attached, and the layer probes.
 */
object XmlBench {

  val setupReps = 3

  final case class Sample(op: String, seconds: Double, bytes: Long, ok: Boolean, cycle: Int, traced: Boolean)
  final case class Check(name: String, ok: Boolean, message: String)

  /** One timed operation: `run` returns None when its output checks out. */
  final case class Op(kind: String, bytes: Long, run: () => Option[String])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = arg("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work"))

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"xmlbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)
    try {
      val run = new Run(spark, workload, seed, seconds, traced, work, cores)
      run.execute()
      run.write(new File(work, "result.json"), sessionS)
    } finally spark.stop()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def secondsOf(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    secondsSince(t0)
  }

  /** L2 alone: pulls every StAX event of each record, converting nothing. */
  def pullEvents(it: Iterator[String]): Iterator[Long] = {
    val factory = StaxFactories.get
    var n = 0L
    it.foreach { rec =>
      val r = factory.createXMLStreamReader(new StringReader(rec))
      while (r.hasNext) { r.next(); n += 1 }
      r.close()
    }
    Iterator.single(n)
  }

  /** Peak resident set of this JVM in MB (Linux VmHWM), or the heap in use
   *  where /proc is not there. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    if (status.exists()) {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } else {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
  }
}

/** One benchmark run in one JVM. */
final class Run(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Double,
    traced: Boolean,
    work: File,
    cores: Int) {
  import XmlBench._

  private val sc = spark.sparkContext
  private val fixtures = new File(work, "fixtures")
  private val scratch = new File(work, "scratch")
  private val rnd = new scala.util.Random(seed)

  private val samples = ArrayBuffer.empty[Sample]
  private val checks = ArrayBuffer.empty[Check]
  private val setupS = ArrayBuffer.empty[Double]
  private val controls = ArrayBuffer.empty[(String, Double)]
  private val tracer = new Tracer(sc)

  // Set by setUp(); the last of the set-up repetitions is the one measured.
  private var plan: Plan = _
  private var ops: Seq[Op] = Nil
  private var payloads: DataFrame = _

  private val phases = ArrayBuffer.empty[(String, Double)]
  private def phase(name: String)(body: => Unit): Unit = phases += name -> secondsOf(body)

  def execute(): Unit = {
    for (_ <- 1 to setupReps) setupS += secondsOf(setUp())
    phase("warmup")(ops.foreach(op => record(s"warmup.${op.kind}", op.run())))
    // The controls are per-layer figures, so only the traced run, which
    // reports them, pays for them.
    if (traced) phase("control_start")(control())
    phase("loop")(if (traced) tracedLoop() else timedLoop())
    if (traced) phase("control_end")(control())
    phase("verify")(verify())
  }

  /** Runs a checked step; None when it succeeded, else what went wrong. */
  private def attempt(name: String, step: => Option[String]): Option[String] = {
    val msg =
      try step
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    msg.foreach(m => System.err.println(s"xmlbench: $name failed: $m"))
    msg
  }

  private def record(name: String, step: => Option[String]): Unit = {
    val msg = attempt(name, step)
    checks += Check(name, msg.isEmpty, msg.getOrElse(""))
  }

  private def expect[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  // ---- set-up ------------------------------------------------------------

  private def setUp(): Unit = {
    if (plan != null) {
      Seq(plan.read, plan.infer, plan.write, plan.toXml, plan.fromXml, plan.stream)
        .distinct.foreach(_.source.unpersist(blocking = true))
      payloads.unpersist(blocking = true)
    }
    plan = Workloads.materialize(spark, workload, seed, fixtures)
    ops = buildOps(plan)
  }

  private def read(f: Fixture, format: String = "xmlng"): DataFrame =
    spark.read.format(format).schema(f.schema).option("rowTag", f.rowTag).load(f.xml)

  /** The `graft.Bench` sink: executes the plan for its own output. */
  private def sink(df: DataFrame): Long = df.queryExecution.toRdd.count()

  private def narrowed(df: DataFrame): DataFrame = df.select(col(plan.narrow))
  private def filtered(df: DataFrame): DataFrame = df.where(col(plan.filter._1) === lit(plan.filter._2))

  private def toXmlColumn(f: Fixture): org.apache.spark.sql.Column =
    graft.xml.to_xml(struct(f.schema.fieldNames.map(c => col(s"`$c`")): _*), Map("rowTag" -> f.rowTag))

  private def buildOps(p: Plan): Seq[Op] = {
    val parquet = spark.read.parquet(p.read.parquet)
    val filterRows = filtered(parquet).count()
    payloads = p.fromXml.source.select(toXmlColumn(p.fromXml).as("p")).cache()
    val payloadChars = payloads.select(sum(length(col("p")))).first().getLong(0)
    val toXmlChars = xmlChars(p.toXml)
    val writeOut = new File(scratch, "write").getPath
    Seq(
      Op("read_full", p.read.xmlBytes, () =>
        expect("rows", sink(read(p.read)), p.read.rows)),
      Op("read_narrow", p.read.xmlBytes, () =>
        expect("rows", sink(narrowed(read(p.read))), p.read.rows)),
      Op("read_filter", p.read.xmlBytes, () =>
        expect("rows", sink(filtered(read(p.read))), filterRows)),
      Op("infer", p.infer.xmlBytes, () =>
        expect("schema", inferredSchema(p.infer).treeString, p.inferred.treeString)),
      Op("write", p.write.xmlBytes, () => {
        writeXml(p.write, writeOut)
        expect("bytes", Workloads.dataBytes(spark, writeOut), p.write.xmlBytes)
      }),
      Op("to_xml", toXmlChars, () => expect("chars", xmlChars(p.toXml), toXmlChars)),
      Op("from_xml", payloadChars, () =>
        expect("rows,hash", Checks.countAndHash(parsedPayloads(p.fromXml)), (p.fromXml.rows, p.fromXml.hash))),
      Op("stream_drain", p.stream.xmlBytes, () =>
        expect("rows", drain(p.stream)._1, p.stream.rows)))
  }

  /** Characters `to_xml` produces for every row of `f`. */
  private def xmlChars(f: Fixture): Long =
    f.source.select(sum(length(toXmlColumn(f)))).first().getLong(0)

  private def inferredSchema(f: Fixture): StructType =
    spark.read.format("xmlng").option("rowTag", f.rowTag).option("samplingRatio", "1.0").load(f.xml).schema

  private def writeXml(f: Fixture, out: String): Unit =
    f.source.write.format("xmlng").mode("overwrite")
      .option("rowTag", f.rowTag).option("rootTag", f.rootTag).save(out)

  private def parsedPayloads(f: Fixture): DataFrame =
    payloads.select(graft.xml.from_xml(col("p"), f.schema).as("r")).select("r.*")

  private var streams = 0

  /** Drains the fixture through an `xmlng` stream, a file per core in each
   *  batch, into the sink `into` sets up; returns (rows, batches). */
  private def drain(
      f: Fixture,
      into: DataStreamWriter[Row] => DataStreamWriter[Row] = _.format("noop")): (Long, Int) = {
    streams += 1
    val checkpoint = new File(scratch, s"checkpoint-$streams")
    val q = into(spark.readStream.format("xmlng").schema(f.schema)
      .option("rowTag", f.rowTag).option("maxFilesPerTrigger", cores.toString).load(f.xml)
      .writeStream.option("checkpointLocation", checkpoint.getPath)).start()
    try q.processAllAvailable() finally q.stop()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    deleteRecursively(checkpoint)
    (progress.map(_.numInputRows).sum, progress.length)
  }

  private def deleteRecursively(f: File): Unit = {
    val p = new Path(f.getPath)
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }

  // ---- controls ----------------------------------------------------------

  /** Host-drift controls on the read fixture: a parquet scan and Spark's
   *  built-in `xml` source. Timed, never checked, never a gate. */
  private def control(): Unit = {
    controls += "parquet_scan_s" -> secondsOf(sink(spark.read.parquet(plan.read.parquet)))
    controls += "builtin_xml_scan_s" -> secondsOf(sink(read(plan.read, "xml")))
  }

  // ---- the timed loops ---------------------------------------------------

  private def runOp(op: Op, cycle: Int, inSpan: Boolean): Unit = {
    val t0 = System.nanoTime()
    val failure =
      if (inSpan) tracer.span(s"op.${op.kind}")(attempt(op.kind, op.run()))(_ => Map("cycle" -> cycle.toDouble))
      else attempt(op.kind, op.run())
    samples += Sample(op.kind, secondsSince(t0), op.bytes, failure.isEmpty, cycle, inSpan)
  }

  /** Cycles the ops in a seeded order until `seconds` have passed, after
   *  at least one whole cycle. */
  private def timedLoop(): Unit = {
    val t0 = System.nanoTime()
    var cycle = 0
    var done = false
    while (!done) {
      val order = rnd.shuffle(ops).iterator
      while (!done && order.hasNext) {
        if (cycle > 0 && secondsSince(t0) >= seconds) done = true
        else runOp(order.next(), cycle, inSpan = false)
      }
      cycle += 1
    }
  }

  /** Each cycle: the ops untraced, the ops traced, the layer probes. The
   *  untraced half goes first on even cycles and second on odd ones. */
  private def tracedLoop(): Unit = {
    val probe = new Probes
    val t0 = System.nanoTime()
    var cycle = 0
    while (cycle == 0 || secondsSince(t0) < seconds) {
      val order = rnd.shuffle(ops)
      val halves = Seq(false, true)
      (if (cycle % 2 == 0) halves else halves.reverse).foreach { inSpan =>
        if (inSpan) tracer.attach() else tracer.detach()
        order.foreach(runOp(_, cycle, inSpan))
      }
      tracer.attach()
      probe.run(cycle)
      cycle += 1
    }
    tracer.collectStages()
    tracer.detach()
    probe.release()
  }

  /** Direct calls into each engine layer, each inside its own span. */
  private final class Probes {
    private val readOpts = XmlOptions(Map("rowTag" -> plan.read.rowTag))
    private val inferOpts = XmlOptions(Map("rowTag" -> plan.infer.rowTag, "samplingRatio" -> "1.0"))
    private val writeOpts = XmlOptions(plan.write.xmlOptions)
    private val records = cachedRecords(plan.read.xml, readOpts)
    private val inferRecords =
      if (plan.infer == plan.read) records else cachedRecords(plan.infer.xml, inferOpts)
    private val narrowSchema = StructType(Seq(plan.read.schema(plan.narrow.takeWhile(_ != '.'))))
    private val pretest = RawRecordFilter.compile(
      Array(EqualTo(plan.filter._1, plan.filter._2)), plan.read.schema, readOpts)
    private val saveOut = new File(scratch, "save").getPath

    private def cachedRecords(path: String, o: XmlOptions): RDD[String] = {
      val r = XmlFile.read(sc, path, o).persist(StorageLevel.MEMORY_ONLY)
      r.count()
      r
    }

    def release(): Unit = {
      records.unpersist(blocking = true)
      inferRecords.unpersist(blocking = true)
    }

    private def rows(name: String, got: Long, want: Long): Map[String, Double] = {
      record(name, expect("rows", got, want))
      Map("records" -> got.toDouble)
    }

    def run(cycle: Int): Unit = {
      val f = plan.read
      val c = Map("cycle" -> cycle.toDouble)
      tracer.span("XmlInputFormat.scan")(extractOnly(f))(n =>
        c ++ rows("probe.XmlInputFormat", n, f.rows) + ("bytes" -> f.xmlBytes.toDouble))
      tracer.span("XmlFile.read")(XmlFile.read(sc, f.xml, readOpts).count())(n =>
        c ++ rows("probe.XmlFile.read", n, f.rows))
      tracer.span("stax.tokenize")(records.mapPartitions(XmlBench.pullEvents).fold(0L)(_ + _))(n =>
        c + ("events" -> n.toDouble))
      tracer.span("StaxXmlParser.parse_full")(StaxXmlParser.parse(records, f.schema, readOpts).count())(n =>
        c ++ rows("probe.parse_full", n, f.rows))
      tracer.span("StaxXmlParser.parse_narrow")(StaxXmlParser.parse(records, narrowSchema, readOpts).count())(n =>
        c ++ rows("probe.parse_narrow", n, f.rows))
      val groups = pretest
      tracer.span("RawRecordFilter.pretest")(
        records.filter(rec => groups.forall(g => g.exists(rec.contains))).count())(kept =>
        c ++ Map("kept" -> kept.toDouble, "attempted" -> f.rows.toDouble))
      tracer.span("InferSchema.infer")(InferSchema.infer(inferRecords, inferOpts)) { st =>
        record("probe.InferSchema", expect("schema", st.treeString, plan.inferred.treeString))
        c + ("records" -> plan.infer.rows.toDouble)
      }
      tracer.span("XmlFile.save") {
        deleteRecursively(new File(saveOut))
        XmlFile.save(plan.write.source, saveOut, writeOpts)
        Workloads.dataBytes(spark, saveOut)
      } { b =>
        record("probe.XmlFile.save", expect("bytes", b, plan.write.xmlBytes))
        c + ("bytes" -> b.toDouble)
      }
      tracer.span("v2.XmlScan.read_full")(sink(read(f, "xmlng2")))(n =>
        c ++ rows("probe.v2.read_full", n, f.rows))
      tracer.span("v2.XmlScan.read_narrow")(sink(narrowed(read(f, "xmlng2"))))(n =>
        c ++ rows("probe.v2.read_narrow", n, f.rows))
      tracer.span("XmlStreamSource.drain")(drain(plan.stream)) { case (n, batches) =>
        c ++ rows("probe.XmlStreamSource", n, plan.stream.rows) + ("batches" -> batches.toDouble)
      }
    }

    /** L1 alone: the input format's records, counted, nothing decoded. */
    private def extractOnly(f: Fixture): Long = {
      val conf = new Configuration(sc.hadoopConfiguration)
      conf.set(XmlInputFormat.ROW_TAG_KEY, f.rowTag)
      conf.set(XmlInputFormat.ENCODING_KEY, readOpts.charset)
      XmlFile.splitMaxSizeFor(sc, f.xml)
        .foreach(conf.setLong("mapreduce.input.fileinputformat.split.maxsize", _))
      sc.newAPIHadoopFile(f.xml, classOf[XmlInputFormat], classOf[LongWritable], classOf[Text], conf).count()
    }
  }

  // ---- checks ------------------------------------------------------------

  /** Every output in full against its parquet reference. */
  private def verify(): Unit = {
    val p = plan
    val parquet = spark.read.parquet(p.read.parquet)
    def same(name: String, df: DataFrame, want: => (Long, Long)): Unit =
      record(name, expect("rows,hash", Checks.countAndHash(df), want))
    same("verify.read_full", read(p.read), (p.read.rows, p.read.hash))
    same("verify.read_narrow", narrowed(read(p.read)), Checks.countAndHash(narrowed(parquet)))
    same("verify.read_filter", filtered(read(p.read)), Checks.countAndHash(filtered(parquet)))
    same("verify.to_xml",
      p.toXml.source.select(graft.xml.from_xml(toXmlColumn(p.toXml), p.toXml.schema).as("r")).select("r.*"),
      (p.toXml.rows, p.toXml.hash))
    val out = new File(scratch, "verify-write").getPath
    writeXml(p.write, out)
    same("verify.write", read(p.write.copy(xml = out)), (p.write.rows, p.write.hash))
    var streamed = (0L, 0L)
    record("verify.stream_drain", {
      drain(p.stream, _.foreachBatch { (batch: DataFrame, _: Long) =>
        val (n, h) = Checks.countAndHash(batch)
        streamed = (streamed._1 + n, streamed._2 + h)
      })
      expect("rows,hash", streamed, (p.stream.rows, p.stream.hash))
    })
  }

  // ---- output ------------------------------------------------------------

  def write(file: File, sessionS: Double): Unit = {
    import Json._
    val sampleJson = samples.map(s => obj(
      "op" -> str(s.op), "s" -> num(s.seconds), "bytes" -> num(s.bytes.toDouble),
      "ok" -> s.ok.toString, "cycle" -> s.cycle.toString, "traced" -> s.traced.toString))
    val checkJson = checks.map(c => obj("name" -> str(c.name), "ok" -> c.ok.toString, "message" -> str(c.message)))
    val controlJson = controls.groupBy(_._1).map { case (k, vs) => k -> arr(vs.map(v => num(v._2))) }
    val out = new PrintWriter(file, "UTF-8")
    try out.println(obj(
      "workload" -> str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "cores" -> cores.toString,
      "session_s" -> num(sessionS),
      "setup_s" -> arr(setupS.map(num)),
      "phases" -> obj(phases.map { case (k, v) => k -> num(v) }.toSeq: _*),
      "peak_rss_mb" -> num(peakRssMb()),
      "samples" -> arr(sampleJson),
      "checks" -> arr(checkJson),
      "controls" -> obj(controlJson.toSeq: _*)))
    finally out.close()
    if (traced) tracer.write(new File(work, "spans.jsonl"))
  }
}
