package graft.perfbench

import graft.lake.{LakeCatalog, LakeTable, Maintenance, PartitionField, Transform}
import graft.streaming.CdcIngest
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** `cdc_ingest`: OLake-style change capture into a month-partitioned
  * orders table keyed on the primary key. Set-up appends the initial
  * snapshot (C1). Each op then lands one seeded change-log segment
  * (untimed), drains it with `CdcIngest.ingest` (AvailableNow), runs
  * `Maintenance.compact` on every [[CompactEvery]]-th op, and reads the
  * table back with SQL; the read must match the generator's model of the
  * live rows by count and order-independent checksum. The op latency is
  * the freshness: segment landed → change visible in a read. */
final class Cdc(data: String, seed: Long) extends Workload {
  import Cdc._

  val opsPerCycle: Int = CompactEvery
  val cycleSeconds: Double = 13.0
  private var spark: SparkSession = _
  private var table: LakeTable = _
  private var gen: Gen.CdcGen = _
  private var logDir: String = _
  private var ckptDir: String = _
  private var logSchema: StructType = _
  private var fs: FileSystem = _
  private var segBytes = 0L
  private var segRows = 0
  private var want: Gen.Checksum = _
  private var cyclePeak = 0L
  private val cycleAmps = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var measuredRows = 0L

  def build(s: SparkSession, wh: String): Unit = {
    val o = Workload.lakeOrders(s, data).select(Columns.map(col): _*)
    new LakeCatalog(s, wh).createTable("orders_cdc", o.schema,
      partitionSpec = Seq(PartitionField("o_orderdate", Transform.Month, "p_month")),
      clusterBy = Seq("o_orderkey"), primaryKey = Seq("o_orderkey"))
      .append(o)
  }

  def prepare(s: SparkSession, wh: String): Unit = {
    spark = s
    table = new LakeCatalog(s, wh).table("orders_cdc")
    logDir = s"$wh/_cdc_log"
    ckptDir = s"$wh/_cdc_checkpoint"
    fs = new Path(wh).getFileSystem(s.sparkContext.hadoopConfiguration)
    val schema = table.currentSchema
    logSchema = StructType(schema.fields ++ Seq(
      StructField(CdcIngest.OpCol, StringType), StructField(CdcIngest.TsCol, TimestampType)))
    val initial = Workload.lakeOrders(s, data)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"),
        unix_date(col("o_orderdate").cast("date")))
      .collect().map(r => Gen.OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4)))
    gen = new Gen.CdcGen(seed, initial)
    cyclePeak = liveBytes
  }

  /** Land the next segment as one parquet file in the change log. */
  override def before(i: Int): Unit = {
    val seg = gen.nextSegment()
    val ntz = logSchema("o_orderdate").dataType == TimestampNTZType
    val rows = seg.map { c =>
      val day = java.time.LocalDate.ofEpochDay(c.row.day.toLong).atStartOfDay()
      Row(c.row.key, c.row.cust, c.row.status, c.row.cents / 100.0,
        if (ntz) day else java.sql.Timestamp.valueOf(day),
        c.op, new java.sql.Timestamp(c.ts * 1000L))
    }
    val before = dirBytes(new Path(logDir))
    spark.createDataFrame(rows.asJava, logSchema).coalesce(1)
      .write.mode("append").parquet(logDir)
    segBytes = dirBytes(new Path(logDir)) - before
    segRows = seg.size
    want = gen.checksum
  }

  def op(i: Int, tr: Tracer, layers: Layers): Done = {
    // write amplification needs two directory walks around the ingest:
    // traced runs only, so untraced latencies stay free of them
    def tableBytes = if (tr.enabled) dirBytes(new Path(table.location)) else 0L
    val tableBytes0 = tableBytes
    val (batches, ingestMs) = tr.timed("streaming.ingest")(
      CdcIngest.ingest(table, logDir, logSchema, ckptDir))
    val tableBytes1 = tableBytes
    // the warm-up is the first cycle; every cycle ends with a compaction
    val compacting = (i + 1) % CompactEvery == 0
    if (compacting) {
      cyclePeak = cyclePeak.max(liveBytes)
      val old = table.currentSnapshot.dataFiles.map(_.path).toSet
      val (snap, compactMs) = tr.timed("lake.compact")(Maintenance.compact(table))
      layers.add("lake.compact_ms", compactMs)
      layers.add("lake.compact_bytes_rewritten",
        snap.dataFiles.filterNot(f => old(f.path)).map(_.bytes).sum.toDouble)
    }
    val rows = tr.span("freshness.read")(Workload.sql(spark, tr, layers, FreshnessSql))
    val expected = want
    measuredRows += segRows
    Done("freshness", rows.length, () => {
      layers.add("streaming.ingest_ms", ingestMs)
      layers.add("streaming.batches_per_ingest", batches.toDouble)
      layers.add("lake.write_bytes", (tableBytes1 - tableBytes0).toDouble)
      layers.add("lake.segment_bytes", segBytes.toDouble)
      val snap = table.currentSnapshot
      layers.add("lake.delete_files_live", snap.deleteFiles.size.toDouble)
      layers.add("lake.data_files_live", snap.dataFiles.size.toDouble)
      if (compacting) closeCycle() else cyclePeak = cyclePeak.max(liveBytes)
      check(rows, expected)
    })
  }

  private def closeCycle(): Unit = {
    cycleAmps += cyclePeak.toDouble / liveBytes
    cyclePeak = liveBytes
  }

  override def phaseStart(): Unit = measuredRows = 0L

  override def finish(measuredS: Double, layers: Layers): Map[String, (Double, String)] = {
    if (table.currentSnapshot.deleteFiles.nonEmpty) {
      Maintenance.compact(table)
      closeCycle()
    }
    layers.add("lake.meta_bytes", dirBytes(new Path(table.location, "meta")).toDouble)
    Map(
      "change_rows_per_s" -> (measuredRows / measuredS, "1/s"),
      "space_amp" -> (Stats.median(cycleAmps.toSeq), "ratio"))
  }

  override def fixtureStats(): Seq[(String, Any)] = Workload.tableStats(table)

  private def liveBytes: Long = {
    val s = table.currentSnapshot
    s.dataFiles.map(_.bytes).sum + s.deleteFiles.map(_.bytes).sum
  }

  private def dirBytes(p: Path): Long =
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
}

object Cdc {
  val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")

  /** Compaction cadence: every this many ingest ops. The reference runs
    * no compaction. A cycle's reads see 1 to 4 live delete files (the
    * fifth is folded before that op's read), just below the 5–30 range
    * over which reads of this table were seen to slow down threefold;
    * cycles long enough to reach 30 do not fit a run (see README). */
  val CompactEvery = 5

  val FreshnessSql: String =
    """SELECT COUNT(*) AS n, SUM(o_orderkey) AS keys,
      |  SUM(CAST(o_orderkey AS DECIMAL(38,0)) * CAST(ROUND(o_totalprice * 100) AS DECIMAL(38,0))) AS key_cents,
      |  SUM(o_orderkey * ascii(o_orderstatus)) AS key_status,
      |  SUM(o_custkey) AS custs,
      |  SUM(unix_date(CAST(o_orderdate AS DATE))) AS days
      |FROM graft.orders_cdc""".stripMargin

  def check(rows: Array[Row], want: Gen.Checksum): Option[String] = {
    def big(v: Any): BigInt = v match {
      case null => BigInt(0)
      case d: java.math.BigDecimal => BigInt(d.toBigIntegerExact)
      case n: java.lang.Number => BigInt(n.longValue)
    }
    if (rows.length != 1) return Some(s"freshness read returned ${rows.length} rows")
    val r = rows.head
    val got = Gen.Checksum(r.getLong(0), big(r.get(1)), big(r.get(2)), big(r.get(3)), big(r.get(4)),
      big(r.get(5)))
    if (got == want) None else Some(s"got ${got.text}; want ${want.text}")
  }
}
