package graft.perfbench

import org.apache.spark.sql.{functions, DataFrame, Row, SparkSession}

import scala.collection.mutable

/** One benchmark workload. The harness ([[Main]]) calls [[build]] once
  * into a fresh warehouse (timed as set-up), then [[prepare]] once
  * (untimed: expected answers, the generator's model), then runs ops:
  * [[before]] untimed, [[op]] timed, and the returned [[Done.check]]
  * untimed. */
trait Workload {
  /** Ops in one cycle: a round of every op class, or one compaction
    * cycle. The warm-up is one cycle and a measured phase is whole cycles,
    * so every run measures the same mix. */
  def opsPerCycle: Int

  /** Nominal length of one warm cycle on a 4-core host, in seconds. A
    * measured phase of S seconds runs ceil(S / cycleSeconds) cycles, a
    * count fixed before it starts: stopping on the clock instead let a
    * slow stretch of the host cut a run short, so slow runs measured
    * fewer cycles than fast ones. */
  def cycleSeconds: Double

  def build(spark: SparkSession, wh: String): Unit
  def prepare(spark: SparkSession, wh: String): Unit
  def before(i: Int): Unit = ()
  /** Called untimed when a measured phase starts. */
  def phaseStart(): Unit = ()
  def op(i: Int, tr: Tracer, layers: Layers): Done

  /** Untimed work after the last measured op (e.g. closing an open
    * compaction cycle); returns workload-only end-to-end figures. */
  def finish(measuredS: Double, layers: Layers): Map[String, (Double, String)] = Map.empty

  /** Sizes of the lake tables the workload reads, for the annotations. */
  def fixtureStats(): Seq[(String, Any)] = Nil
}

/** A finished op: its class, the rows it returned, and the answer check
  * (`None` = correct, `Some(why)` = wrong answer). */
final case class Done(cls: String, rowsOut: Long, check: () => Option[String])

/** Per-layer samples of one phase, by metric name. */
final class Layers {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  def get(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
}

object Workload {

  /** The order years the lake workloads (`serve`, `cdc_ingest`) load: two
    * of the fixture's seven (24 month partitions, about 45k orders). A
    * lake commit here costs about 25 ms per data file, and the slice keeps
    * set-up and a `cdc_ingest` compaction cycle within a run's budget;
    * the per-op work keeps its shape at any slice. */
  val LakeYears: Seq[Int] = Seq(1995, 1996)

  def lakeOrders(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/orders.parquet")
      .filter(functions.year(functions.col("o_orderdate")).isin(LakeYears: _*))

  /** Run one SQL statement through the catalog, with the build (parse +
    * analysis), plan (optimization + physical planning) and exec spans the
    * traced run splits it into. Records the tracker's phase times. */
  def sql(spark: SparkSession, tr: Tracer, layers: Layers, text: String): Array[Row] = {
    val df = tr.span("sql.build")(spark.sql(text))
    collectPlanned(df, tr, layers)
  }

  def collectPlanned(df: DataFrame, tr: Tracer, layers: Layers): Array[Row] = {
    tr.span("sql.plan")(df.queryExecution.executedPlan)
    val (rows, execMs) = tr.timed("sql.exec")(df.collect())
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      layers.add(s"sql.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    layers.add("sql.exec_ms", execMs)
    rows
  }

  /** Current snapshot's data and delete files, the manifests it
    * references, and the number of retained snapshots. */
  def tableStats(t: graft.lake.LakeTable): Seq[(String, Any)] = {
    val s = t.currentSnapshot
    val n = t.meta.name
    Seq(s"fixture.$n.data_files" -> s.dataFiles.size,
      s"fixture.$n.delete_files" -> s.deleteFiles.size,
      s"fixture.$n.manifests" -> t.snapshotFile(s.seq).manifests.size,
      s"fixture.$n.snapshots" -> t.snapshots.size,
      s"fixture.$n.bytes" -> (s.dataFiles.map(_.bytes).sum + s.deleteFiles.map(_.bytes).sum))
  }

  /** Canonical, order-independent text of a result: sorted rows of
    * canonical values. */
  def canonRows(rows: Iterable[Seq[Any]]): Seq[String] =
    rows.map(_.map(RowHash.canon).mkString("|")).toSeq.sorted

  /** `None` when `got` holds exactly the rows of `want`. */
  def sameRows(got: Array[Row], want: Iterable[Seq[Any]]): Option[String] = {
    val (g, w) = (canonRows(got.map(_.toSeq)), canonRows(want))
    if (g == w) None
    else Some(s"got ${g.size} rows ${g.take(3).mkString("; ")}, want ${w.size} rows ${w.take(3).mkString("; ")}")
  }
}
