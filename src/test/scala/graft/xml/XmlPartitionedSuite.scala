package graft.xml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class XmlPartitionedSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Hadoop's committer requires a NON-existent output directory.
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_part").toString + "/out"

  test("partitioned write/read roundtrip; partition values live in the path only") {
    val dir = tmp()
    val df = Seq(
      (1L, "alpha", "s1"), (2L, "beta", "s1"),
      (3L, "gamma", "s2"), (4L, "delta", "s3")
    ).toDF("id", "body", "src")
    XmlPartitioned.write(df, dir, Seq("src"), Map("rowTag" -> "doc"))
    // layout: src=<v>/part files, each a complete XML document
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("src=s1", "src=s2", "src=s3"))
    val doc = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "src=s1").listFiles()
        .filter(_.getName.startsWith("part")).head.toPath))
    assert(doc.contains("<?xml") && doc.contains("<ROWS>") && doc.contains("</ROWS>"))
    assert(!doc.contains("s1"), "partition value must not repeat inside the document")
    val back = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
      .select("id", "body", "src")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(back === Seq((1L, "alpha", "s1"), (2L, "beta", "s1"),
      (3L, "gamma", "s2"), (4L, "delta", "s3")))
  }

  test("partitioned write declares the UTF-8 it writes, whatever charset says") {
    val dir = tmp()
    val df = Seq((1L, "café", "s1")).toDF("id", "body", "src")
    XmlPartitioned.write(df, dir, Seq("src"), Map("rowTag" -> "doc", "charset" -> "ISO-8859-1"))
    val part = new java.io.File(dir, "src=s1").listFiles().filter(_.getName.startsWith("part")).head
    val doc = new String(java.nio.file.Files.readAllBytes(part.toPath), "UTF-8")
    assert(doc.startsWith("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""), doc)
    assert(doc.contains("café"))
  }

  test("filters on partition columns prune branches from the plan") {
    val dir = tmp()
    val df = (0L until 40L).map(i => (i, s"t$i", s"p${i % 4}")).toDF("id", "t", "src")
    XmlPartitioned.write(df, dir, Seq("src"), Map("rowTag" -> "doc"))
    val all = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
    def relationCount(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.size
    assert(relationCount(all) === 4)
    val one = all.filter(col("src") === "p2")
    assert(relationCount(one) === 1,
      s"non-matching branches must fold away:\n${one.queryExecution.optimizedPlan}")
    assert(one.count() === 10)
  }

  test("multi-level partitions, special characters, and null values roundtrip") {
    val dir = tmp()
    val df = Seq(
      (1L, "a", "s 1/x", "en"),
      (2L, "b", null.asInstanceOf[String], "de"),
      (3L, "c", "s=2%", "de")
    ).toDF("id", "t", "src", "lang")
    XmlPartitioned.write(df, dir, Seq("src", "lang"), Map("rowTag" -> "doc"))
    val back = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
      .select("id", "t", "src", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), r.getString(3))).sortBy(_._1).toSeq
    assert(back === Seq(
      (1L, "a", Some("s 1/x"), "en"),
      (2L, "b", None, "de"),
      (3L, "c", Some("s=2%"), "de")))
  }

  test("gzip-compressed partitioned layout roundtrips (stream codec, whole-file splits)") {
    val dir = tmp()
    val df = (0L until 30L).map(i => (i, s"body$i", s"g${i % 3}")).toDF("id", "t", "src")
    XmlPartitioned.write(df, dir, Seq("src"),
      Map("rowTag" -> "doc", "codec" -> "gzip"))
    val parts = new java.io.File(dir, "src=g0").listFiles()
      .filter(_.getName.startsWith("part")).map(_.getName)
    assert(parts.nonEmpty && parts.forall(_.endsWith(".gz")), parts.mkString(","))
    val back = XmlPartitioned.read(spark, dir, Map("rowTag" -> "doc"))
    assert(back.count() === 30)
    assert(back.filter(col("src") === "g1").count() === 10)
  }

  test("escape/unescape roundtrips arbitrary unicode values; escaped form is path-safe") {
    val rnd = new scala.util.Random(31)
    val alphabet = "ab/=%. -_\t\n日本語é€" + (0 until 16).map(_ => rnd.nextPrintableChar()).mkString
    (0 until 300).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(20))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val esc = XmlPartitioned.escape(s)
      assert(XmlPartitioned.unescape(esc) === s, s"value='$s'")
      assert(esc.forall(c => c.isLetterOrDigit && c < 0x80 || "._-%".contains(c)),
        s"unsafe char survives escaping: '$esc'")
    }
  }

  test("write rejects empty or unknown partition columns") {
    val df = Seq((1L, "x", "s")).toDF("id", "t", "src")
    intercept[IllegalArgumentException](
      XmlPartitioned.write(df, tmp(), Seq.empty, Map("rowTag" -> "doc")))
    intercept[IllegalArgumentException](
      XmlPartitioned.write(df, tmp(), Seq("nope"), Map("rowTag" -> "doc")))
    intercept[IllegalArgumentException](
      XmlPartitioned.write(df.select("src"), tmp(), Seq("src"), Map("rowTag" -> "doc")))
  }
}
