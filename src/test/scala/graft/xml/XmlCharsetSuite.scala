package graft.xml

import java.nio.charset.{Charset, StandardCharsets, UnsupportedCharsetException}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/**
 * Charset coverage mirroring the reference's charset surface (reference:
 * src/test/scala/com/databricks/spark/xml/util/XmlFileSuite.scala:53-75):
 * ASCII-compatible charsets scan byte-wise; non-ASCII-compatible ones
 * (UTF-16 with/without BOM, UTF-16LE/BE) decode through
 * [[TranscodingInputStream]] to UTF-8 before the byte state machine runs.
 * Content includes accented, CJK, and astral-plane (surrogate-pair)
 * characters so the transcoder's held-back-surrogate path is exercised.
 */
class XmlCharsetSuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val n = 300
  // Long enough that records cross the transcoder's 8 KiB char buffer many
  // times; 😀 is U+1F600 (a surrogate pair in UTF-16).
  private lazy val corpus: String = {
    val sb = new StringBuilder(1 << 20)
    sb.append("<?xml version=\"1.0\"?>\n<docs>\n")
    (0 until n).foreach { i =>
      val pad = "héllo 😀 世界 " * (i % 7 + 1)
      sb.append(s"""  <doc><id>$i</id><txt>$pad$i</txt></doc>\n""")
    }
    sb.append("</docs>\n")
    sb.toString
  }

  private lazy val tmp: Path = Files.createTempDirectory("graft-charset")

  private def write(name: String, bytes: Array[Byte]): String = {
    val f = tmp.resolve(name)
    Files.write(f, bytes)
    f.toString
  }

  private def read(path: String, charset: String): DataFrame =
    spark.read.format("graft.xml")
      .option("rowTag", "doc")
      .option("charset", charset)
      .schema("id LONG, txt STRING")
      .load(path)

  private lazy val expected: Seq[(Long, String)] = {
    val utf8 = write("docs-utf8.xml", corpus.getBytes(StandardCharsets.UTF_8))
    read(utf8, "UTF-8").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
  }

  private def assertMatches(df: DataFrame): Unit = {
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    assert(got.size === n)
    assert(got === expected)
  }

  test("UTF-16 with BOM reads identically to UTF-8") {
    // String.getBytes("UTF-16") emits a BOM then big-endian code units; the
    // "UTF-16" decoder honors the BOM.
    val p = write("docs-utf16-bom.xml", corpus.getBytes("UTF-16"))
    assertMatches(read(p, "UTF-16"))
  }

  test("UTF-16LE without BOM") {
    val p = write("docs-utf16le.xml", corpus.getBytes("UTF-16LE"))
    assertMatches(read(p, "UTF-16LE"))
  }

  test("UTF-16BE without BOM") {
    val p = write("docs-utf16be.xml", corpus.getBytes("UTF-16BE"))
    assertMatches(read(p, "UTF-16BE"))
  }

  test("gzip-compressed UTF-16 file") {
    val f = tmp.resolve("docs-utf16.xml.gz")
    val gos = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    gos.write(corpus.getBytes("UTF-16")); gos.close()
    assertMatches(read(f.toString, "UTF-16"))
  }

  test("multi-file UTF-16 input keeps per-file parallelism") {
    val dir = Files.createTempDirectory("graft-charset-multi")
    val rows = corpus.linesIterator.filter(_.contains("<doc>")).toSeq
    val files = 4
    (0 until files).foreach { f =>
      val part = rows.zipWithIndex.collect { case (r, i) if i % files == f => r }
        .mkString("<docs>\n", "\n", "\n</docs>")
      Files.write(dir.resolve(s"part-$f.xml"), part.getBytes("UTF-16LE"))
    }
    val df = read(dir.toString, "UTF-16LE")
    // Non-ASCII-compatible files are unsplittable (whole-file reads), so
    // parallelism must come from one split per file.
    assert(df.rdd.getNumPartitions >= files)
    assertMatches(df)
  }

  test("decode-only charsets route to the transcode path without throwing") {
    // ISO-2022-CN's JDK charset is decode-only: getBytes would throw, so
    // isAsciiCompatible must short-circuit on canEncode.
    val cs = Charset.forName("ISO-2022-CN")
    assume(!cs.canEncode)
    assert(!XmlInputFormat.isAsciiCompatible(cs))
    // ASCII bytes are valid ISO-2022-CN (ASCII is its default GL set), so an
    // ASCII corpus declared with the decode-only charset must read cleanly.
    val ascii = "<docs>\n" +
      (0 until 50).map(i => s"<doc><id>$i</id><txt>plain $i</txt></doc>").mkString("\n") +
      "\n</docs>"
    val p = write("docs-iso2022cn.xml", ascii.getBytes(StandardCharsets.US_ASCII))
    val got = read(p, "ISO-2022-CN").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 50L))
  }

  test("unsupported charset fails fast on the driver") {
    val p = write("docs-any.xml", corpus.getBytes(StandardCharsets.UTF_8))
    intercept[UnsupportedCharsetException] {
      read(p, "no-such-charset-xyz")
    }
  }

  test("ASCII-compatible single-byte charset still scans byte-wise") {
    val latin = "<docs>\n" +
      (0 until 50).map(i => s"<doc><id>$i</id><txt>café $i</txt></doc>").mkString("\n") +
      "\n</docs>"
    val p = write("docs-latin1.xml", latin.getBytes(StandardCharsets.ISO_8859_1))
    val cs = Charset.forName("ISO-8859-1")
    assert(XmlInputFormat.isAsciiCompatible(cs))
    val got = read(p, "ISO-8859-1").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 50)
    assert(got.forall { case (i, t) => t == s"café $i" })
  }

  test("xmlng writes in the charset it is given and declares it") {
    import spark.implicits._
    for ((charset, text) <- Seq("ISO-8859-1" -> "café", "UTF-16" -> "日本")) {
      val out = tmp.resolve(s"written-$charset").toString
      Seq((1L, text), (2L, s"$text 2"), (3L, s"$text 3")).toDF("id", "txt").repartition(2)
        .write.format("xmlng").mode("overwrite")
        .option("rowTag", "doc").option("rootTag", "docs").option("charset", charset)
        .save(out)
      val back = read(out, charset).collect().map(r => (r.getLong(0), r.getString(1)))
      assert(back.sortBy(_._1).toSeq === Seq((1L, text), (2L, s"$text 2"), (3L, s"$text 3")),
        charset)
      val parts = new java.io.File(out).listFiles.filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty, charset)
      parts.foreach { f =>
        val doc = new String(Files.readAllBytes(f.toPath), charset)
        assert(doc.startsWith(s"""<?xml version="1.0" encoding="$charset" standalone="yes"?>"""),
          s"$charset: ${doc.take(60)}")
      }
    }
  }
}
