package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row key),
  * so the same seed writes the same rows whatever the partitioning, and the
  * program only ever sees the generated parquet directories. Plain Spark
  * SQL only: no engine code runs here.
  */
object Gen {

  /** Uniform integer in [0, m) from (seed, salt, key). */
  private def u(seed: Long, salt: Int, key: Column, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(m))

  private def pick(seed: Long, salt: Int, key: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, salt, key, xs.size.toLong) + 1).cast("int"))

  /** Size of an OLTP copy, in the proportions of TPC-H sf0.1 (150,000
    * orders over 2,405 order days): 62 orders on every day, 10 orders for
    * every customer, one supplier per 150 orders and 2 parts per 15. Each
    * day becomes one fact partition directory of the star. */
  final case class Oltp(days: Int) {
    require(days % 5 == 0, "10 orders per customer needs days divisible by 5")
    val orders: Long = 62L * days
    val customers: Long = orders / 10
    val suppliers: Long = orders / 150
    val parts: Long = orders * 2 / 15
  }

  private val day0: Long = java.time.LocalDate.of(2020, 1, 1).toEpochDay * 86400L

  /** Writes region, nation, customer, supplier, part, orders and lineitem
    * under `dir` in the layout `graft.sources.Tables` reads, each table from
    * its own thread so the small writes overlap. */
  def oltp(spark: SparkSession, seed: Long, size: Oltp, dir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val id = col("id")
    // a seeded permutation of the order keys deals the orders out: rank r
    // goes to customer r mod customers and to day r / 62, so every day has
    // 62 orders and every customer 10, on 10 different days
    val rank = row_number().over(Window.orderBy(xxhash64(lit(seed), lit(11), id), id)) - 1
    val orders = ordersOf(spark.range(size.orders).select(id.as("o_orderkey"), rank.as("r"))
      .select(col("o_orderkey"), (col("r") % size.customers).as("o_custkey"),
        (col("r") / 62).cast("int").as("o_day")), seed)
    val tables = Seq(
      "region" -> spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
          .map(lit): _*), (id + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> spark.range(size.customers).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        u(seed, 1, id, 25).cast("int").as("c_nationkey"),
        ((u(seed, 2, id, 1100000L) - 100000L) / 100.0).as("c_acctbal"),
        pick(seed, 3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "supplier" -> spark.range(size.suppliers).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        u(seed, 4, id, 25).cast("int").as("s_nationkey"),
        ((u(seed, 5, id, 1100000L) - 100000L) / 100.0).as("s_acctbal")),
      "part" -> spark.range(size.parts).select(id.as("p_partkey"),
        concat_ws(" ", pick(seed, 6, id, Seq("blue", "hot", "large", "metal", "pale")),
          pick(seed, 7, id, Seq("bolt", "nut", "ring", "gear", "valve"))).as("p_name"),
        concat(lit("Brand#"), u(seed, 8, id, 25) + 1).as("p_brand"),
        pick(seed, 9, id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD")).as("p_type"),
        (u(seed, 10, id, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 2000) / 10.0).as("p_retailprice")),
      "orders" -> orders,
      "lineitem" -> lineitemOf(orders, seed, size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tables.map { case (name, df) =>
      Future(df.write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }), Duration.Inf)
    finally pool.shutdown()
  }

  /** Completes (o_orderkey, o_custkey, o_day) rows into orders rows; `o_day`
    * counts days from 2020-01-01. */
  private def ordersOf(keys: DataFrame, seed: Long): DataFrame = {
    val k = col("o_orderkey")
    keys.select(k, col("o_custkey"),
      pick(seed, 12, k, Seq("F", "O", "P")).as("o_orderstatus"),
      ((u(seed, 13, k, 50000000L) + 100000L) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(day0) + col("o_day") * 86400L).as("o_orderdate"),
      pick(seed, 15, k, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
  }

  /** One to seven line items per order, keyed by (order, line number). */
  private def lineitemOf(orders: DataFrame, seed: Long, size: Oltp): DataFrame = {
    val k = col("o_orderkey")
    val lines = orders.select(k, col("o_orderdate"),
      explode(sequence(lit(1), (u(seed, 16, k, 7) + 1).cast("int"))).as("l_linenumber"))
    val line = col("o_orderkey") * 8 + col("l_linenumber")
    lines.select(k.as("l_orderkey"),
      u(seed, 17, line, size.parts).as("l_partkey"),
      u(seed, 18, line, size.suppliers).as("l_suppkey"),
      col("l_linenumber"),
      (u(seed, 19, line, 50) + 1).cast("double").as("l_quantity"),
      ((u(seed, 20, line, 9000000L) + 100000L) / 100.0).as("l_extendedprice"),
      (u(seed, 21, line, 11) / 100.0).as("l_discount"),
      (u(seed, 22, line, 9) / 100.0).as("l_tax"),
      pick(seed, 23, line, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 24, line, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(unix_seconds(col("o_orderdate")) + u(seed, 25, line, 30) * 86400L)
        .as("l_shipdate"))
  }

  /** Seeded CDC batches `0 until batches`, written under
    * `dir/<orders|lineitem>/batch=<b>`: batch `b` holds one new order, with
    * its line items, for each of `customers` customers, all dated on the
    * day after the last generated one ("today"). A seeded permutation of
    * the customers picks them, so no customer is in two batches; each has
    * ordered on 10 days before. Order keys continue past the generated
    * ones. */
  def cdcBatches(spark: SparkSession, seed: Long, size: Oltp, dir: String,
                 batches: Int, customers: Int): Unit = {
    val id = col("id")
    val picked = spark.range(size.customers).select(id.as("o_custkey"),
      (row_number().over(Window.orderBy(xxhash64(lit(seed), lit(1000), id), id)) - 1)
        .as("pick"))
      .filter(col("pick") < batches.toLong * customers)
    val orders = ordersOf(picked.select((lit(size.orders) + col("pick")).as("o_orderkey"),
      col("o_custkey"), lit(size.days.toLong).as("o_day")), seed)
    def batch(key: String) = ((col(key) - size.orders) / customers).cast("int").as("batch")
    orders.select(col("*"), batch("o_orderkey")).coalesce(1)
      .write.partitionBy("batch").parquet(s"$dir/orders")
    lineitemOf(orders, seed, size).select(col("*"), batch("l_orderkey")).coalesce(1)
      .write.partitionBy("batch").parquet(s"$dir/lineitem")
  }
}
