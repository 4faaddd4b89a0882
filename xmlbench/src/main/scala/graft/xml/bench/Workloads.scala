package graft.xml.bench

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One table as the benchmark uses it: its generated rows cached in memory
 *  (the source of writes, `to_xml` and payloads), its parquet copy (the
 *  reference every output is checked against) and its XML fixture written
 *  by the engine's own writer. */
final case class Fixture(
    name: String,
    rowTag: String,
    rootTag: String,
    source: DataFrame,
    parquet: String,
    xml: String,
    xmlBytes: Long,
    rows: Long,
    hash: Long) {
  def schema: StructType = source.schema
  def xmlOptions: Map[String, String] = Map("rowTag" -> rowTag, "rootTag" -> rootTag)
}

/**
 * What a workload runs each op kind on. The op kinds are the same on every
 * workload; the workloads differ in the shape and size of their tables.
 *
 * @param read   table of the three reads (and of the layer probes on them)
 * @param narrow the one column, or nested leaf, the narrow read selects
 * @param filter the pushed equality predicate of the filtered read
 */
final case class Plan(
    read: Fixture,
    narrow: String,
    filter: (String, String),
    infer: Fixture,
    inferred: StructType,
    write: Fixture,
    toXml: Fixture,
    fromXml: Fixture,
    stream: Fixture)

object Workloads {
  val names: Seq[String] = Seq("nested_infer", "small_ops")

  /** Rows, per workload. Sized so that one run (set-up three times, warm-up,
   *  the timed loop and the checks) stays well inside the per-run budget on
   *  a 4-core host. */
  val nestedOrders = 15000L // about 60,000 nested line items
  val suppliers = 1000L
  val customers = 15000L

  /** Inferred fields come out sorted by name, integers as longs. */
  private val itemInferred = StructType(Seq(
    StructField("l_discount", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_linenumber", LongType),
    StructField("l_linestatus", StringType),
    StructField("l_partkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_shipdate", TimestampType),
    StructField("l_suppkey", LongType),
    StructField("l_tax", DoubleType)))

  private val ordersInferred = StructType(Seq(
    StructField("item", ArrayType(itemInferred)),
    StructField("o_custkey", LongType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderkey", LongType),
    StructField("o_orderpriority", StringType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  private val supplierInferred = StructType(Seq(
    StructField("s_acctbal", DoubleType),
    StructField("s_name", StringType),
    StructField("s_nationkey", LongType),
    StructField("s_suppkey", LongType)))

  /** Writes every table of `workload` under `dir` and returns what to run.
   *  The seed picks the rows, the narrow column and the filter literal. */
  def materialize(spark: SparkSession, workload: String, seed: Long, dir: File): Plan = {
    // The large table gets a part file per core; small ones are single files.
    val tables = new Tables(spark, seed,
      if (workload == "small_ops") 1 else spark.sparkContext.defaultParallelism)
    val rnd = new scala.util.Random(seed)
    def choose[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def fixture(name: String, rowTag: String, rootTag: String, rows: DataFrame): Fixture =
      Workloads.fixture(spark, dir, name, rowTag, rootTag, rows)
    workload match {
      case "nested_infer" =>
        val o = fixture("orders", "order", "orders", tables.ordersWithItems(nestedOrders))
        Plan(o, "item." + choose(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
          ("o_orderpriority", choose(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))),
          o, ordersInferred, o, o, o, o)
      case "small_ops" =>
        val s = fixture("supplier", "supplier", "suppliers", tables.supplier(suppliers))
        val c = fixture("customer", "customer", "customers", tables.customer(customers))
        val n = fixture("nation", "nation", "nations", tables.nation())
        Plan(c, choose(Seq("c_acctbal", "c_nationkey", "c_custkey")),
          ("c_mktsegment", choose(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))),
          s, supplierInferred, n, s, s, s)
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other; one of ${names.mkString(", ")}")
    }
  }

  private def fixture(
      spark: SparkSession,
      dir: File,
      name: String,
      rowTag: String,
      rootTag: String,
      rows: DataFrame): Fixture = {
    val parquet = new File(dir, s"$name.parquet").getPath
    val xml = new File(dir, s"$name.xml").getPath
    val source = rows.cache()
    source.write.mode("overwrite").parquet(parquet)
    source.write.format("xmlng").mode("overwrite")
      .option("rowTag", rowTag).option("rootTag", rootTag).save(xml)
    val (n, h) = Checks.countAndHash(spark.read.parquet(parquet))
    Fixture(name, rowTag, rootTag, source, parquet, xml, dataBytes(spark, xml), n, h)
  }

  /** Bytes of the data files under `path` (not the checksums or markers). */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
  }
}

/** Order-insensitive content checks against the parquet reference. */
object Checks {
  private val mask = lit(0xFFFFFFFFL)

  /** Row count and the sum of the rows' 32-bit hashes. */
  def countAndHash(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).bitwiseAND(mask)))
      .first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
