package graft.xml.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * TPC-H-shaped tables generated from the workload seed. Every value is a
 * hash of (seed, row key, column number), so one seed always yields the
 * same rows, and rows are laid out in a seeded permutation of their keys.
 * Column names and types follow the TPC-H parquet tables the engine's own
 * suites use; flags and segments are uniform, so every filter literal a
 * seed can pick has the same selectivity.
 */
final class Tables(spark: SparkSession, seed: Long, partitions: Int) {

  /** Uniform long in [0, m) for the given key columns and column number. */
  private def u(k: Int, m: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: keys :+ lit(k)): _*), lit(m))

  private def pick(k: Int, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), (u(k, values.length, keys: _*) + 1).cast("int"))

  private def cents(k: Int, lo: Long, hi: Long, keys: Column*): Column =
    ((u(k, hi - lo, keys: _*) + lo) / 100.0).cast("double")

  private def day(k: Int, keys: Column*): Column =
    timestamp_seconds(lit(694224000L) + u(k, 2500, keys: _*) * 86400L)

  /** Keys 1..n in a seeded affine permutation of row order. */
  private def keys(n: Long, name: String, salt: Int): DataFrame = {
    val rnd = new scala.util.Random(seed * 31 + salt)
    var a = 1 + rnd.nextInt(math.max(1, n.toInt - 1)).toLong
    while (BigInt(a).gcd(BigInt(n)) != 1) a += 1
    val b = rnd.nextInt(n.toInt).toLong
    spark.range(0, n, 1, partitions).select(((col("id") * a + b) % n + 1).as(name))
  }

  private val nations = Seq(
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  private val regionOf = Seq(0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1)

  /** The lineitem columns of one line of an order (all but l_orderkey). */
  private def lineFields(ok: Column, ln: Column): Seq[Column] = Seq(
    (u(1, 20000, ok, ln) + 1).as("l_partkey"),
    (u(2, 1000, ok, ln) + 1).as("l_suppkey"),
    ln.cast("int").as("l_linenumber"),
    (u(3, 50, ok, ln) + 1).cast("double").as("l_quantity"),
    cents(4, 90000L, 10490000L, ok, ln).as("l_extendedprice"),
    cents(5, 0L, 11L, ok, ln).as("l_discount"),
    cents(6, 0L, 9L, ok, ln).as("l_tax"),
    pick(7, Seq("R", "A", "N"), ok, ln).as("l_returnflag"),
    pick(8, Seq("O", "F"), ok, ln).as("l_linestatus"),
    day(9, ok, ln).as("l_shipdate"))

  /** 1 to 7 lines per order, 4 on average. */
  private def lineCount(ok: Column): Column = (u(0, 7, ok) + 1).cast("int")

  private def orderFields(ok: Column): Seq[Column] = Seq(
    ok.as("o_orderkey"),
    (u(10, 15000, ok) + 1).as("o_custkey"),
    pick(11, Seq("O", "F", "P"), ok).as("o_orderstatus"),
    cents(12, 100000L, 50100000L, ok).as("o_totalprice"),
    day(13, ok).as("o_orderdate"),
    pick(14, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), ok)
      .as("o_orderpriority"))

  /** Orders with their line items nested as an `item` array, in line order. */
  def ordersWithItems(orders: Long): DataFrame = {
    val ok = col("o_orderkey")
    keys(orders, "o_orderkey", 2).select(orderFields(ok) :+
      transform(sequence(lit(1), lineCount(ok)), ln => struct(lineFields(ok, ln): _*)).as("item"): _*)
  }

  def supplier(n: Long): DataFrame = {
    val k = col("s_suppkey")
    keys(n, "s_suppkey", 3).select(
      k,
      concat(lit("Supplier#"), lpad(k.cast("string"), 9, "0")).as("s_name"),
      u(20, 25, k).cast("int").as("s_nationkey"),
      cents(21, -99999L, 999999L, k).as("s_acctbal"))
  }

  def customer(n: Long): DataFrame = {
    val k = col("c_custkey")
    keys(n, "c_custkey", 4).select(
      k,
      concat(lit("Customer#"), lpad(k.cast("string"), 9, "0")).as("c_name"),
      u(30, 25, k).cast("int").as("c_nationkey"),
      cents(31, -99999L, 999999L, k).as("c_acctbal"),
      pick(32, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), k)
        .as("c_mktsegment"))
  }

  def nation(): DataFrame = {
    val k = col("n_nationkey")
    keys(nations.length, "n", 5).select((col("n") - 1).cast("int").as("n_nationkey")).select(
      k,
      element_at(array(nations.map(lit): _*), k + 1).as("n_name"),
      element_at(array(regionOf.map(lit): _*), k + 1).as("n_regionkey"))
  }
}
