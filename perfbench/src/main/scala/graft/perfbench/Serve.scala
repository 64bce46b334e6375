package graft.perfbench

import graft.lake.{LakeCatalog, LakeTable, PartitionField, PruneFilter, Transform}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `serve`: the reference's analyst traffic, read-only, over lake tables
  * built at set-up — raw orders (one append per order year, month +
  * status partitions), silver (month-partitioned, clustered on the key),
  * gold (month × status rollup of silver) and a merge-on-read table with
  * live delete files. Expected answers come from plain Spark over the raw
  * fixture parquet, never through the lake or the SQL source. */
final class Serve(data: String, seed: Long) extends Workload {
  import Serve._

  val opsPerCycle: Int = Gen.ServeClasses.size
  val cycleSeconds: Double = 2.6
  private var gen: Gen.ServeGen = _
  private var raw: LakeTable = _
  private var spark: SparkSession = _
  private var want: Expected = _

  private def orders(s: SparkSession): DataFrame = Workload.lakeOrders(s, data)

  def build(s: SparkSession, wh: String): Unit = {
    val cat = new LakeCatalog(s, wh)
    val o = orders(s)
    def raw(): Unit = {
      val r = cat.createTable("orders_raw", o.schema,
        partitionSpec = Seq(
          PartitionField("o_orderdate", Transform.Month, "p_month"),
          PartitionField("o_orderstatus", Transform.Identity, "p_status")),
        clusterBy = Seq("o_orderkey"), primaryKey = Seq("o_orderkey"))
      Years.foreach(y => r.append(o.filter(year(col("o_orderdate")) === y)))
    }
    def silverGold(): Unit = {
      val silver = cat.createTable("silver_orders", silverOf(o).schema,
        partitionSpec = Seq(PartitionField("order_date", Transform.Month, "p_month")),
        clusterBy = Seq("order_id"), primaryKey = Seq("order_id"))
      silver.append(silverOf(o))
      val gold = silver.scan()
        .groupBy(date_format(col("order_date"), "yyyy-MM").as("order_month"), col("status"))
        .agg(count(lit(1)).as("order_count"), sum(col("total_amount")).as("revenue"))
      cat.createTable("gold_orders", gold.schema, clusterBy = Seq("order_month", "status"))
        .append(gold)
    }
    def mor(): Unit = {
      val base = o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val t = cat.createTable("orders_mor", base.schema,
        partitionSpec = Seq(PartitionField("o_orderstatus", Transform.Identity, "p_status")),
        clusterBy = Seq("o_orderkey"), primaryKey = Seq("o_orderkey"))
      t.append(base)
      t.upsert(morUpdated(base).filter(col("o_orderkey") % 30 === 0))
      t.deleteKeys(base.filter(col("o_orderkey") % 50 === 0).select("o_orderkey"))
    }
    raw()
    silverGold()
    mor()
  }

  def prepare(s: SparkSession, wh: String): Unit = {
    spark = s
    val cat = new LakeCatalog(s, wh)
    raw = cat.table("orders_raw")
    tables = Seq("orders_raw", "silver_orders", "gold_orders", "orders_mor").map(cat.table)
    val o = orders(s)
    val months = o.select(date_format(col("o_orderdate"), "yyyy-MM").as("m")).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    val keys = o.select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toIndexedSeq
    val domain = Gen.OrdersDomain(months, keys, Years.size)
    gen = new Gen.ServeGen(seed, domain)
    want = Expected.compute(s, o, s.read.parquet(s"$data/customer.parquet"), domain,
      new Gen.ServeGen(seed, domain).take(LookupHorizon).filter(_.cls == "point_lookup")
        .map(_.key).toSet)
    s.read.parquet(s"$data/customer.parquet").createOrReplaceTempView("customer")
  }

  private var tables: Seq[LakeTable] = Nil
  override def fixtureStats(): Seq[(String, Any)] = tables.flatMap(Workload.tableStats)

  def op(i: Int, tr: Tracer, layers: Layers): Done = {
    val o = gen.next()
    o.cls match {
      case "scan_api" =>
        val filters = Seq(
          PruneFilter.Ge("o_orderdate", Expected.ts(want.domain.months(o.lo))),
          PruneFilter.Lt("o_orderdate", Expected.ts(Gen.nextMonth(want.domain.months(o.hi - 1)))),
          PruneFilter.Eq("o_orderstatus", o.status))
        val (df, buildMs) = tr.timed("lake.scan")(raw.scan(filters = filters))
        layers.add("lake.scan_build_ms", buildMs)
        val rows = Workload.collectPlanned(
          df.agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("keys")), tr, layers)
        Done(o.cls, rows.length, () => {
          if (tr.enabled) {
            val (kept, total) = raw.planFiles(raw.currentSnapshot, filters)
            layers.add("lake.files_kept", kept.size.toDouble)
            layers.add("lake.files_total", total.toDouble)
          }
          Workload.sameRows(rows, Seq(want.scanApi(o.lo, o.hi, o.status)))
        })
      case cls =>
        val rows = Workload.sql(spark, tr, layers, o.text)
        Done(cls, rows.length, () => Workload.sameRows(rows, want.answer(o)))
    }
  }
}

object Serve {
  /** Raw orders are appended one order year per commit (snapshots 1, 2,
    * ...), so `VERSION AS OF v` reads the first v years. */
  val Years: Seq[Int] = Workload.LakeYears

  /** Ops generated ahead to collect the point-lookup keys whose expected
    * rows are computed at set-up; far more than any run reaches. */
  val LookupHorizon = 20000

  def silverOf(o: DataFrame): DataFrame = o.select(
    col("o_orderkey").as("order_id"), col("o_custkey").as("customer_id"),
    col("o_orderstatus").as("status"), col("o_orderdate").as("order_date"),
    col("o_totalprice").cast("decimal(18,2)").as("total_amount"))

  /** MoR history: after the base append, keys % 30 are restated (status
    * U, price doubled) by an upsert and keys % 50 are deleted — two
    * commits, each leaving a live delete file. */
  def morUpdated(b: DataFrame): DataFrame = b.select(col("o_orderkey"),
    when(col("o_orderkey") % 30 === 0, lit("U")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
    when(col("o_orderkey") % 30 === 0, col("o_totalprice") * 2).otherwise(col("o_totalprice"))
      .as("o_totalprice"))
  def morLive(b: DataFrame): DataFrame = morUpdated(b).filter(col("o_orderkey") % 50 =!= 0)

  final case class Agg(n: Long, revenue: java.math.BigDecimal, lo: Long, hi: Long, keys: Long)

  /** Expected answers, from plain Spark over the raw parquet: per
    * (month, status) and (month, segment) aggregates, the MoR table's
    * live state per key bucket, and the rows of every looked-up key. */
  final case class Expected(
      domain: Gen.OrdersDomain,
      byMonthStatus: Map[(String, String), Agg],
      byMonthSegment: Map[(String, String), Agg],
      morByBucket: Map[(Long, String), Agg],
      lookups: Map[Long, Seq[Any]]) {

    private val zero = java.math.BigDecimal.ZERO
    private def fold(aggs: Iterable[Agg]): Agg =
      aggs.foldLeft(Agg(0, zero, Long.MaxValue, Long.MinValue, 0L))((a, b) =>
        Agg(a.n + b.n, a.revenue.add(b.revenue), a.lo.min(b.lo), a.hi.max(b.hi), a.keys + b.keys))
    private def months(lo: Int, hi: Int): Set[String] = domain.months.slice(lo, hi).toSet

    private def byStatus(ms: Set[String]): Map[String, Agg] =
      byMonthStatus.toSeq.filter(e => ms(e._1._1)).groupMap(_._1._2)(_._2).map { case (s, v) => s -> fold(v) }

    def scanApi(lo: Int, hi: Int, status: String): Seq[Any] = {
      val a = byStatus(months(lo, hi)).get(status)
      Seq(a.map(_.n).getOrElse(0L), a.map(x => Long.box(x.keys)).orNull)
    }

    def answer(o: Gen.ServeOp): Iterable[Seq[Any]] = o.cls match {
      case "pruned_agg" =>
        byStatus(months(o.lo, o.hi)).map { case (s, a) => Seq(s, a.n, a.revenue) }
      case "meta_rollup" =>
        byStatus(months(o.lo, o.hi)).map { case (s, a) => Seq(s, a.n, a.lo, a.hi) }
      case "gold_serve" =>
        val ms = months(o.lo, o.hi)
        byMonthStatus.filter(e => ms(e._1._1)).map { case ((m, s), a) => Seq(m, s, a.n, a.revenue) }
      case "time_travel" =>
        val years = Years.take(o.version).map(_.toString).toSet
        byStatus(domain.months.filter(m => years(m.take(4))).toSet)
          .map { case (s, a) => Seq(s, a.n, a.revenue) }
      case "mor_read" =>
        morByBucket.toSeq
          .filter(e => e._1._1 >= o.keyLo / Gen.MorBucket && e._1._1 < o.keyHi / Gen.MorBucket)
          .groupMap(_._1._2)(_._2).map { case (s, v) => val a = fold(v); Seq(s, a.n, a.revenue) }
      case "raw_join" =>
        val ms = months(o.lo, o.hi)
        byMonthSegment.toSeq.filter(e => ms(e._1._1)).groupMap(_._1._2)(_._2)
          .map { case (s, v) => val a = fold(v); Seq(s, a.n, a.revenue) }
      case "point_lookup" => lookups.get(o.key).toSeq
    }
  }

  object Expected {
    def ts(month: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(Gen.monthStart(month))

    private val price = col("o_totalprice").cast("decimal(18,2)")
    private def aggs(df: DataFrame, keys: org.apache.spark.sql.Column*): Seq[((Any, String), Agg)] =
      df.groupBy(keys: _*)
        .agg(count(lit(1)), sum(price), min(col("o_orderkey")), max(col("o_orderkey")),
          sum(col("o_orderkey")))
        .collect().toSeq.map(r => (r.get(0), r.getString(1)) ->
          Agg(r.getLong(2), r.getDecimal(3), r.getLong(4), r.getLong(5), r.getLong(6)))

    def compute(s: SparkSession, o: DataFrame, customer: DataFrame, d: Gen.OrdersDomain,
        lookupKeys: Set[Long]): Expected = {
      val month = date_format(col("o_orderdate"), "yyyy-MM")
      val byMs = aggs(o, month, col("o_orderstatus"))
        .map { case ((m, st), a) => (m.asInstanceOf[String], st) -> a }.toMap
      val joined = o.join(customer, col("o_custkey") === col("c_custkey"))
      val bySeg = aggs(joined, month, col("c_mktsegment"))
        .map { case ((m, sg), a) => (m.asInstanceOf[String], sg) -> a }.toMap
      val mor = aggs(morLive(o.select("o_orderkey", "o_orderstatus", "o_totalprice")),
        floor(col("o_orderkey") / Gen.MorBucket).cast("long"), col("o_orderstatus"))
        .map { case ((b, st), a) => (b.asInstanceOf[Long], st) -> a }.toMap
      val lookups = o.filter(col("o_orderkey").isin(lookupKeys.toSeq: _*))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), price)
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      Expected(d, byMs, bySeg, mor, lookups)
    }
  }
}
