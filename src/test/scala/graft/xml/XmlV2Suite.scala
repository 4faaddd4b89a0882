package graft.xml

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 `xmlng2` read path: row identity with DSv1, pruning/pushdown
 *  through the connector API, reported statistics driving auto-broadcast;
 *  and the batch writer that `xmlng2` and `xmlng` saves both run. */
class XmlV2Suite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private lazy val dataDir: String = {
    val xml = new StringBuilder("<rows>\n")
    (0 until 1000).foreach { i =>
      val name = if (i % 100 == 0) "alice" else s"user$i"
      xml.append(
        s"""<r id="$i"><name>$name</name><n>$i</n><note>note &amp; $i</note></r>\n""")
    }
    xml.append("</rows>\n")
    val dir = Files.createTempDirectory("graft_v2")
    Files.write(dir.resolve("data.xml"), xml.toString.getBytes("UTF-8"))
    dir.toString
  }

  private val schema = StructType(Seq(
    StructField("_id", LongType),
    StructField("name", StringType),
    StructField("n", LongType),
    StructField("note", StringType)))

  private def v1: DataFrame =
    spark.read.format("xmlng").option("rowTag", "r").schema(schema).load(dataDir)
  private def v2: DataFrame =
    spark.read.format("xmlng2").option("rowTag", "r").schema(schema).load(dataDir)

  private def batchScan(plan: SparkPlan): BatchScanExec =
    plan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec in:\n$plan"))

  test("v2 rows are identical to v1") {
    val a = v1.collect().map(_.toSeq).sortBy(_.toString)
    val b = v2.collect().map(_.toSeq).sortBy(_.toString)
    assert(b === a)
    assert(v2.count() === 1000)
  }

  test("v2 infers the same schema as v1") {
    val s1 = spark.read.format("xmlng").option("rowTag", "r").load(dataDir).schema
    val s2 = spark.read.format("xmlng2").option("rowTag", "r").load(dataDir).schema
    assert(s2 === s1)
  }

  test("column pruning reaches the v2 scan") {
    val q = v2.select("name", "n")
    val scan = batchScan(q.queryExecution.executedPlan)
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("name", "n"))
    assert(q.agg(sum("n")).collect().head.getLong(0) === (0 until 1000).sum.toLong)
  }

  test("string filters surface as pushed filters and results stay exact") {
    val q = v2.filter(col("name") === "alice").select("n")
    val scan = batchScan(q.queryExecution.executedPlan)
    assert(scan.scan.description().contains("alice"),
      s"expected pushed filter in: ${scan.scan.description()}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      (0 until 1000 by 100).map(_.toLong))
    // Escapable value: not compiled into the pre-test, still exact.
    assert(v2.filter(col("note") === "note & 7").count() === 1)
  }

  test("v2 scan reports input size so a small XML table auto-broadcasts") {
    val big = spark.range(0, 10000).selectExpr("id", "id % 1000 as n")
    val joined = big.join(v2.select("n", "name"), "n")
    val hasBroadcast = joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin") ||
      joined.queryExecution.executedPlan.toString.contains("BroadcastExchange")
    assert(hasBroadcast, s"expected auto-broadcast:\n${joined.queryExecution.executedPlan}")
    assert(joined.count() === 10000)
  }

  test("DROPMALFORMED drops the same rows through v2") {
    val xml =
      """<rows>
        |<r id="1"><name>a</name><n>1</n><note>x</note></r>
        |<r id="2"><name>b</name><n>oops</n><note>y</note></r>
        |<r id="3"><name>c</name><n>3</n><note>z</note></r>
        |</rows>""".stripMargin
    val dir = Files.createTempDirectory("graft_v2_bad")
    Files.write(dir.resolve("bad.xml"), xml.getBytes("UTF-8"))
    def read(fmt: String) = spark.read.format(fmt)
      .option("rowTag", "r").option("mode", "DROPMALFORMED")
      .schema(schema).load(dir.toString)
    // Projection away from the corrupt field must not change which rows
    // exist (full-schema parse + projection under DROPMALFORMED).
    val got = read("xmlng2").select("name").collect().map(_.getString(0)).sorted
    assert(got.toSeq === Seq("a", "c"))
    assert(got.toSeq === read("xmlng").select("name").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("every parse mode gives v1 and v2 the same rows, or makes both throw") {
    val xml =
      """<ROWSET>
        |  <ROW><a>1</a><b>x</b></ROW>
        |  <ROW><a>oops</a><b>y</b></ROW>
        |</ROWSET>
        |""".stripMargin
    val dir = Files.createTempDirectory("graft_v2_modes")
    Files.write(dir.resolve("bad.xml"), xml.getBytes("UTF-8"))
    val ab = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    def outcome(fmt: String, mode: String, query: DataFrame => Seq[String]): Either[String, Seq[String]] = {
      val df = spark.read.format(fmt).option("rowTag", "ROW").option("mode", mode)
        .schema(ab).load(dir.toString)
      try Right(query(df).sorted)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    }
    val queries: Seq[(String, DataFrame => Seq[String])] = Seq(
      "count" -> (df => Seq(df.count().toString)),
      "b only" -> (df => df.select("b").collect().map(_.toString).toSeq),
      "full" -> (df => df.collect().map(_.toString).toSeq))
    for (mode <- Seq("PERMISSIVE", "DROPMALFORMED", "FAILFAST"); (name, query) <- queries) {
      val v1 = outcome("xmlng", mode, query)
      val v2 = outcome("xmlng2", mode, query)
      assert(v2 === v1, s"$mode $name")
      assert(v1.isLeft === (mode == "FAILFAST"), s"$mode $name: $v1")
    }
  }

  test("multi-split v2 read returns every record exactly once") {
    val q = spark.read.format("xmlng2")
      .option("rowTag", "r").option("splitMaxBytes", "2048")
      .schema(schema).load(dataDir)
    assert(q.rdd.getNumPartitions > 4, s"expected many splits, got ${q.rdd.getNumPartitions}")
    val ids = q.select("_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 1000L))
  }

  // ---- V2 write path ----

  private def freshDir(): String =
    Files.createTempDirectory("graft_v2w").resolve("out").toString

  private def save(format: String, df: DataFrame, out: String, mode: String,
      extra: (String, String)*): Unit = {
    var w = df.write.format(format)
      .option("rowTag", "r").option("rootTag", "rows").mode(mode)
    extra.foreach { case (k, v) => w = w.option(k, v) }
    w.save(out)
  }

  private def writeV2(df: DataFrame, out: String, mode: String,
      extra: (String, String)*): Unit = save("xmlng2", df, out, mode, extra: _*)

  /** Both ways into the batch writer: Spark's V2 write (`xmlng2`, append)
   *  and `XmlFile.save` (`xmlng`, overwrite). */
  private val routes = Seq("xmlng2" -> "append", "xmlng" -> "overwrite")

  private def readBack(out: String): DataFrame =
    spark.read.format("xmlng").option("rowTag", "r").schema(schema).load(out)

  test("v2 write: append round-trips through both readers, with _SUCCESS") {
    val out = freshDir()
    writeV2(v1, out, "append")
    val files = new java.io.File(out).listFiles.map(_.getName).sorted
    assert(files.contains("_SUCCESS"))
    assert(!files.exists(_.contains("staging")), s"staging leaked: ${files.toSeq}")
    val a = v1.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(readBack(out).collect().map(_.toSeq).sortBy(_.toString).toSeq === a)
    val viaV2 = spark.read.format("xmlng2").option("rowTag", "r")
      .schema(schema).load(out)
    assert(viaV2.collect().map(_.toSeq).sortBy(_.toString).toSeq === a)
  }

  test("v2 write: overwrite truncates at commit, append accumulates") {
    val out = freshDir()
    writeV2(v1.limit(10), out, "append")
    writeV2(v1.limit(15), out, "append")
    assert(readBack(out).count() === 25) // two appends accumulate
    writeV2(v1.limit(7), out, "overwrite")
    assert(readBack(out).count() === 7) // overwrite replaced everything
  }

  test("v2 write: empty dataset still publishes a readable skeleton") {
    // several empty tasks, or none at all: only partition 0 writes the
    // document skeleton
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    for ((format, mode) <- routes; empty <- Seq(v1.limit(0).repartition(3), noPartitions)) {
      val out = freshDir()
      save(format, empty, out, mode)
      val parts = new java.io.File(out).listFiles
        .map(_.getName).filter(_.startsWith("part-"))
      assert(parts.length === 1, s"$format: expected one skeleton file, got ${parts.toSeq}")
      assert(readBack(out).count() === 0)
    }
  }

  test("v2 write: task failure aborts cleanly, old data stays intact") {
    val bomb = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == 500L) throw new RuntimeException("boom"); id
    }
    val failing = v1.withColumn("_id", bomb(col("_id")))
    for ((format, _) <- routes) {
      val out = freshDir()
      writeV2(v1.limit(10), out, "append")
      val before = readBack(out).collect().map(_.toSeq).sortBy(_.toString).toSeq
      intercept[Exception] { save(format, failing, out, "overwrite") }
      // xmlng2 truncates only at commit, which never ran: data unchanged
      // (an xmlng overwrite deletes the target before its job starts)
      if (format == "xmlng2") {
        assert(readBack(out).collect().map(_.toSeq).sortBy(_.toString).toSeq === before)
      }
      val leftover = new java.io.File(out).listFiles.map(_.getName)
      assert(!leftover.exists(_.contains("staging")),
        s"$format: staging dir survived abort: ${leftover.toSeq}")
    }
  }

  test("v2 write: gzip codec compresses parts that read back identically") {
    for ((format, mode) <- routes) {
      val out = freshDir()
      save(format, v1.limit(50), out, mode, "codec" -> "gzip")
      val parts = new java.io.File(out).listFiles.map(_.getName)
        .filter(_.startsWith("part-"))
      assert(parts.nonEmpty && parts.forall(_.endsWith(".xml.gz")), s"$format: ${parts.toSeq}")
      assert(readBack(out).count() === 50)
    }
  }

  test("v2 write: 64 partitions publish 64 parts, every row exactly once") {
    for ((format, mode) <- routes) {
      val out = freshDir()
      save(format, v1.repartition(64), out, mode)
      val parts = new java.io.File(out).listFiles.map(_.getName)
        .filter(_.startsWith("part-")).sorted
      assert(parts.length === 64, s"$format: ${parts.length} parts")
      // names carry the zero-padded partition id: stable, collision-free
      assert(parts.head.startsWith("part-00000-") && parts.last.startsWith("part-00063-"),
        s"$format: ${parts.head} .. ${parts.last}")
      val ids = readBack(out).select("_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === (0L until 1000L))
    }
  }

  test("v2 write: maxRecordsPerFile rolls complete documents, no row lost") {
    for ((format, mode) <- routes) {
      val out = freshDir()
      // 1000 rows over 4 tasks, 100-record roll: 250 per task → 3 files each
      save(format, v1.repartition(4), out, mode, "maxRecordsPerFile" -> "100")
      val parts = new java.io.File(out).listFiles.map(_.getName)
        .filter(_.startsWith("part-")).sorted
      assert(parts.length === 12, s"$format: expected 12 rolled files, got ${parts.toSeq}")
      // per-partition file seq is part of the name: part-PPPPP-cSSS-...
      assert(parts.count(_.startsWith("part-00000-c")) === 3)
      // every rolled file is a complete, independently parseable document
      val one = spark.read.format("xmlng").option("rowTag", "r")
        .schema(schema).load(new java.io.File(out, parts.head).toString)
      assert(one.count() === 100)
      val ids = readBack(out).select("_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === (0L until 1000L))
      // rolling composes with overwrite
      save(format, v1.limit(10), out, "overwrite", "maxRecordsPerFile" -> "3")
      assert(readBack(out).count() === 10)
      val after = new java.io.File(out).listFiles.map(_.getName)
        .filter(_.startsWith("part-"))
      assert(after.length === 4, s"$format: ceil(10/3) = 4 files, got ${after.toSeq}")
    }
  }

  test("v2 write: bad charset/codec fail on the driver at plan time") {
    val e1 = intercept[Exception] {
      writeV2(v1.limit(1), freshDir(), "append", "charset" -> "no-such-charset")
    }
    assert(e1.toString.toLowerCase.contains("charset"), e1.toString)
    val e2 = intercept[Exception] {
      writeV2(v1.limit(1), freshDir(), "append", "codec" -> "no.such.Codec")
    }
    assert(e2.toString.contains("no.such.Codec"), e2.toString)
  }

  test("v2 write: default ErrorIfExists mode is rejected with guidance") {
    // The V2 contract for non-catalog providers: only append/overwrite.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      v1.limit(1).write.format("xmlng2").option("rowTag", "r").save(freshDir())
    }
    assert(e.getMessage.toLowerCase.contains("errorifexists"))
  }
}
