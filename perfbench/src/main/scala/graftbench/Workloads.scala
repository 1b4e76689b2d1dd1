package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.olap.StarSchemaJob

/** One named workload: seeded inputs, the standing state set-up builds,
  * the op the loop times, the read that follows each op, and the check of
  * both. Each workload is a closed loop with one client. */
abstract class Workload(val work: String, val seed: Long) {
  /** The generated OLTP copy, in the layout `graft.sources.Tables` reads. */
  val oltp = s"$work/oltp"
  /** Writes the seeded inputs. Not timed. */
  def generate(spark: SparkSession): Unit = Gen.oltp(spark, seed, Workload.StarSize, oltp)
  /** Traced runs only, after the standing build: the build's compute
    * without its writes, so the trace can tell compute from write. */
  def separateStanding(spark: SparkSession, t: Trace): Unit = ()
  /** State a user has standing before the first op; timed as set-up. */
  def standing(spark: SparkSession, t: Trace): Unit = ()
  /** Mismatches of the standing state against the expected values. */
  def checkStanding(spark: SparkSession): Seq[String] = Nil
  /** Untimed step before op `i` (the CDC inserts). */
  def before(spark: SparkSession, i: Int): Unit = ()
  def op(spark: SparkSession, i: Int, t: Trace): Unit
  /** The consumer's read of op `i`'s output. */
  def read(spark: SparkSession, i: Int): Seq[Row]
  /** Mismatches of op `i`'s output and read against the expected values. */
  def check(spark: SparkSession, i: Int, read: Seq[Row]): Seq[String]
  /** Bytes op `i` leaves behind. */
  def outBytes(spark: SparkSession): Long = Files.bytes(outRoot)
  /** Directory the op writes, or "" when it writes no files. */
  def outRoot: String
  /** Per-op values of the workload's own layer metrics. */
  def layerValues(i: Int): Map[String, Double] = Map.empty
  /** Ops run and checked before the timed ones, but not timed: they fill
    * the plan and JIT caches that a standing worker has warm. */
  def warmupOps: Int = 3
  /** Ops the inputs allow. */
  def maxOps: Int = Int.MaxValue
  /** Frees what op `i` left cached, after its check. */
  def release(spark: SparkSession): Unit = ()

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def mismatch(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")
}

object Workload {
  /** Days of order history, and customers changed per CDC batch. TPC-H
    * sf0.1 has 2,405 order days, 62 orders a day and 10 orders a customer;
    * the generated copy keeps those two rates on 120 days, which is what
    * fits a run's time budget. The reference worker re-syncs one customer
    * per change notification; a batch of one customer rewrites the 10 days
    * it ordered on and today, 11 of 121 date partitions (9%), near the 8%
    * that a batch of 20 customers rewrites at sf0.1. */
  val Days = 120
  val CdcCustomers = 1
  val StarSize = Gen.Oltp(Days)
  /** CDC batches generated; a run ends when they run out. */
  val CdcBatches = 24

  def apply(name: String, work: String, seed: Long): Workload = name match {
    case "cdc_mixed"  => new CdcMixed(work, seed)
    case "graph_rank" => new GraphRank(work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The star read both checks and times, and its expected values from plain
  * Spark SQL over the OLTP copy (built-in functions only, no engine call). */
object StarCheck {
  /** Category revenue by year over the published star. */
  def read(spark: SparkSession, star: String): Seq[Row] = {
    spark.read.parquet(s"$star/fact_sales").createOrReplaceTempView("bench_fact")
    spark.read.parquet(s"$star/dim_part").createOrReplaceTempView("bench_dim_part")
    spark.sql("""
      SELECT p.category, year(f.date_key) AS sale_year, count(*) AS n_rows,
             sum(CAST(f.total_sale AS DECIMAL(38,6))) AS sum_total,
             sum(CAST(f.margin AS DECIMAL(38,6))) AS sum_margin
      FROM bench_fact f JOIN bench_dim_part p ON f.l_partkey = p.p_partkey
      GROUP BY 1, 2 ORDER BY 1, 2""").collect().toSeq
  }

  def views(spark: SparkSession, oltp: String): Unit =
    Seq("customer", "supplier", "part", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$oltp/$t.parquet").createOrReplaceTempView(s"oltp_$t")
    }

  /** Fact rows the star should hold for the OLTP files matching `files`
    * (`*` for all), grouped by (customer, day, category, year): count and
    * exact decimal sums of total_sale and margin. Needs [[views]]. */
  def factRows(spark: SparkSession, oltp: String, files: String): Seq[Row] = {
    spark.read.parquet(s"$oltp/orders.parquet/$files").createOrReplaceTempView("bench_o")
    spark.read.parquet(s"$oltp/lineitem.parquet/$files").createOrReplaceTempView("bench_l")
    spark.sql("""
      SELECT o_custkey, to_date(o_orderdate) AS d, split(p_type, ' ')[0] AS category,
             year(to_date(o_orderdate)) AS sale_year, count(*) AS n,
             sum(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(38,6))) AS total,
             sum(CAST(l_extendedprice - p_retailprice * l_quantity AS DECIMAL(38,6))) AS margin
      FROM bench_l JOIN bench_o ON l_orderkey = o_orderkey
           JOIN oltp_part ON l_partkey = p_partkey
           JOIN oltp_supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2, 3, 4""").collect().toSeq
  }

  /** The star's expected content, summed from [[factRows]]: the read, and
    * the fact rows per day and per customer that predict a re-sync. */
  final class Expected {
    private val revenue = scala.collection.mutable.Map.empty[(String, Int),
      (Long, java.math.BigDecimal, java.math.BigDecimal)]
    val rowsOnDay = scala.collection.mutable.Map.empty[java.sql.Date, Long].withDefaultValue(0L)
    val custRows = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    private val days = scala.collection.mutable.Map.empty[Long, Set[java.sql.Date]]
    def custDays(c: Long): Set[java.sql.Date] = days.getOrElse(c, Set.empty)

    def add(rows: Seq[Row]): Unit = rows.foreach { r =>
      val (c, d, n) = (r.getLong(0), r.getDate(1), r.getLong(4))
      val k = (r.getString(2), r.getInt(3))
      val (n0, t0, m0) = revenue.getOrElse(k,
        (0L, java.math.BigDecimal.ZERO.setScale(6), java.math.BigDecimal.ZERO.setScale(6)))
      revenue(k) = (n0 + n, t0.add(r.getDecimal(5)), m0.add(r.getDecimal(6)))
      rowsOnDay(d) += n
      custRows(c) += n
      days(c) = custDays(c) + d
    }

    /** The rows [[read]] should return. */
    def read: Seq[Row] = revenue.toSeq.sortBy(_._1).map { case ((c, y), (n, t, m)) =>
      Row(c, y, n, t, m) }
  }

  /** Mismatches of every dim's row count in `star`. Needs [[views]]. */
  def checkDims(spark: SparkSession, oltp: String, star: String): Seq[String] = {
    val want = spark.sql("""
      SELECT (SELECT count(DISTINCT to_date(o_orderdate)) FROM oltp_orders) AS dim_date,
             (SELECT count(*) FROM oltp_customer) AS dim_customer,
             (SELECT count(*) FROM oltp_part) AS dim_part,
             (SELECT count(DISTINCT split(p_type, ' ')[0]) FROM oltp_part) AS dim_category,
             (SELECT count(*) FROM oltp_supplier) AS dim_supplier,
             (SELECT count(DISTINCT o_orderpriority) FROM oltp_orders) AS dim_priority,
             (SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus
                                    FROM oltp_lineitem)) AS dim_shipmode""").head()
    val dims = want.schema.fieldNames.toSeq
    val got = dims.map(d => spark.read.parquet(s"$star/$d").select(lit(d).as("dim")))
      .reduce(_ unionByName _).groupBy("dim").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    dims.flatMap(d => if (got.getOrElse(d, 0L) == want.getAs[Long](d)) Nil
      else Seq(s"$d rows: got ${got.getOrElse(d, 0L)}, expected ${want.getAs[Long](d)}"))
  }
}

/** The paths a star user runs. Set-up builds the standing star with
  * `StarSchemaJob.run` at its default arguments (the `SyncMain full` call).
  * Each step then inserts a new order for each of `Workload.CdcCustomers`
  * seeded customers into the OLTP copy (untimed), re-syncs those customers
  * with `StarSchemaJob.syncIncremental` (the op), and reads the star. */
final class CdcMixed(work: String, seed: Long) extends Workload(work, seed) {
  private val star = s"$work/star"
  private val cdc = s"$work/cdc"
  def outRoot: String = star
  override def maxOps: Int = Workload.CdcBatches
  private var changed: DataFrame = _
  private var rewritten = -1L
  private var want: (Long, Long, Long) = (0L, 0L, 0L) // rows, dates, own rows

  /** Every built frame of the star goes to the noop sink. */
  override def separateStanding(spark: SparkSession, t: Trace): Unit = {
    val built = t.span("olap.build")(StarSchemaJob.build(spark, oltp))
    t.span("olap.dims_compute")(built.dims.values.foreach(noop))
    t.span("olap.fact_compute")(noop(built.factSales))
  }

  override def standing(spark: SparkSession, t: Trace): Unit =
    t.span("olap.full_sync")(StarSchemaJob.run(spark, oltp, star))

  private val expected = new StarCheck.Expected

  /** The standing star: every dim's row count, and the read, against the
    * whole OLTP copy. */
  override def checkStanding(spark: SparkSession): Seq[String] = {
    StarCheck.views(spark, oltp)
    expected.add(StarCheck.factRows(spark, oltp, "*"))
    StarCheck.checkDims(spark, oltp, star) ++
      mismatch("category revenue of the full sync", StarCheck.read(spark, star), expected.read)
  }

  override def generate(spark: SparkSession): Unit = {
    super.generate(spark)
    Gen.cdcBatches(spark, seed, Workload.StarSize, cdc, Workload.CdcBatches,
      Workload.CdcCustomers)
  }

  /** Moves batch `i`'s files into the OLTP tables, and takes its changed
    * customers, as the sync worker takes them from a change notification. */
  override def before(spark: SparkSession, i: Int): Unit = {
    import java.nio.file.{Files => F, Paths}
    import spark.implicits._
    changed = spark.read.parquet(s"$cdc/orders/batch=$i").select(col("o_custkey"))
      .distinct().as[Long].collect().toSeq.sorted.toDF("user_id")
    for (t <- Seq("orders", "lineitem")) {
      val from = Paths.get(s"$cdc/$t/batch=$i")
      val files = F.list(from)
      try files.iterator().forEachRemaining { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          F.move(f, Paths.get(s"$oltp/$t.parquet", s"cdc$i-${f.getFileName}"))
      } finally files.close()
    }
  }

  def op(spark: SparkSession, i: Int, t: Trace): Unit =
    rewritten = t.span("sources.write")(
      StarSchemaJob.syncIncremental(spark, oltp, star, changed))

  def read(spark: SparkSession, i: Int): Seq[Row] = StarCheck.read(spark, star)

  /** The batch's own line items update the expected star; a
    * partition-grain re-sync rewrites every fact row dated on a day when a
    * changed customer ordered. */
  def check(spark: SparkSession, i: Int, read: Seq[Row]): Seq[String] = {
    val batch = StarCheck.factRows(spark, oltp, s"cdc$i-*")
    expected.add(batch)
    val customers = batch.map(_.getLong(0)).toSet
    val days = customers.flatMap(expected.custDays)
    want = (days.toSeq.map(expected.rowsOnDay).sum, days.size.toLong,
      customers.toSeq.map(expected.custRows).sum)
    mismatch(s"rows rewritten by batch $i", rewritten, want._1) ++
      mismatch(s"category revenue after batch $i", read, expected.read)
  }

  override def layerValues(i: Int): Map[String, Double] = Map(
    "olap.incr_rows_rewritten" -> rewritten.toDouble,
    "olap.incr_dates_rewritten" -> want._2.toDouble,
    "olap.incr_amplification" -> rewritten.toDouble / math.max(1L, want._3))
}

/** `Graph.pageRank` over the seeded co-purchase graph (customer to
  * supplier edges, symmetrised), written to the noop sink. */
final class GraphRank(work: String, seed: Long) extends Workload(work, seed) {
  def outRoot: String = ""
  /** A rank run is cheap and its time falls over the first few runs. */
  override def warmupOps: Int = 8
  private val U = 1000000000000000L
  private var ranks: DataFrame = _
  private var first: Option[((Long, Long), Seq[Row])] = None

  private def edges(spark: SparkSession): DataFrame = {
    val pairs = spark.read.parquet(s"$oltp/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(spark.read.parquet(s"$oltp/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      // even ids are customers, odd ids suppliers
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .union(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  def op(spark: SparkSession, i: Int, t: Trace): Unit =
    ranks = t.span("ops.graph") {
      val r = graft.ops.Graph.pageRank(edges(spark), iters = 3,
        edgesDistinct = true, symmetricEdges = true)
      noop(r)
      r
    }

  /** The 20 top-ranked customers with their names. */
  def read(spark: SparkSession, i: Int): Seq[Row] =
    ranks.filter(col("node") % 2 === 0)
      .orderBy(col("rank_u").desc, col("node")).limit(20)
      .join(spark.read.parquet(s"$oltp/customer.parquet"),
        col("c_custkey") === expr("node DIV 2"))
      .select(col("node"), col("c_name"), col("rank_u"))
      .orderBy(col("rank_u").desc, col("node")).collect().toSeq

  private def hash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("node"), col("rank_u")))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Hash of the rank vector from plain DataFrame joins: the same
    * fixed-point integer iteration, written independently of the engine. */
  private def expectedHash(spark: SparkSession): (Long, Long) = {
    val e = edges(spark).cache()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")).cache()
    val nodes = e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct().cache()
    val n = nodes.count()
    val iterates = (1 to 3).scanLeft(nodes.select(col("node"), lit(U / n).as("rank_u"))) {
      (r, _) =>
        val in = e.join(r.withColumnRenamed("node", "src"), "src").join(outDeg, "src")
          .select(col("dst").as("node"), expr("rank_u DIV out_deg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
        nodes.join(in, Seq("node"), "left")
          .select(col("node"), (lit(15L * U / (100L * n)) +
            expr("85 * coalesce(in_sum, 0L) DIV 100")).as("rank_u"))
          .cache()
    }
    try hash(iterates.last)
    finally (Seq(e, outDeg, nodes) ++ iterates).foreach(_.unpersist(blocking = true))
  }

  /** Every op's rank vector must match the plain recomputation, and its
    * top-ranked customers the first op's. */
  def check(spark: SparkSession, i: Int, read: Seq[Row]): Seq[String] = {
    val h = hash(ranks)
    if (first.isEmpty) first = Some((expectedHash(spark), read))
    val (h0, r0) = first.get
    mismatch(s"rank vector of op $i against the plain recomputation", h, h0) ++
      mismatch(s"top ranks of op $i", read, r0)
  }

  /** The checkpointed RDDs the rank vector reads. */
  private def rankRdds = ranks.queryExecution.analyzed.collect {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
  }

  /** The op leaves its rank vector as checkpoint blocks, not files. */
  override def outBytes(spark: SparkSession): Long = {
    val ids = rankRdds.map(_.id).toSet
    spark.sparkContext.getRDDStorageInfo.filter(s => ids(s.id))
      .map(s => s.memSize + s.diskSize).sum
  }

  override def release(spark: SparkSession): Unit =
    rankRdds.foreach(_.unpersist(blocking = true))
}

object Files {
  import java.nio.file.{Files => F, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk[T](root: String)(f: Iterator[Path] => T): T = {
    val p = Paths.get(root)
    if (root.isEmpty || !F.exists(p)) f(Iterator.empty)
    else {
      val s = F.walk(p)
      try f(s.iterator().asScala.filter(F.isRegularFile(_))) finally s.close()
    }
  }

  def bytes(root: String): Long = walk(root)(_.map(F.size).sum)

  /** The data files under `root`. */
  def dataFiles(root: String): Set[String] =
    walk(root)(_.filter(_.getFileName.toString.startsWith("part-")).map(_.toString).toSet)
}
