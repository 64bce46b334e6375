package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness: one closed-loop client thread in one JVM on
  * `local[<cores>]`, with `graft.Bench`'s session settings.
  *
  * {{{
  * Main --workload serve|cdc_ingest|curation --seed N --seconds S --trace 0|1
  *      --data <fixture dir> --work <scratch dir> --answers <curation answers>
  * Main --dump-oracles <file>     (the curation queries' DuckDB oracles)
  * }}}
  *
  * A run: set up once on the cold JVM (session start + fixture build into
  * a fresh warehouse under `--work`; with the JVM's start-up this is
  * `setup_s`), compute the expected answers (untimed), run the warm-up,
  * then measure whole rounds or compaction cycles of ops, as many as
  * `--seconds` holds at the workload's nominal cycle length. With
  * `--trace 1` the first half runs untraced and the second half traced,
  * and the throughput ratio of the two halves is the tracing overhead.
  * Every op's answer is checked. The last stdout line is the result
  * object; the line before it carries the annotations (failure share,
  * tail latency, steal, per-class latencies, and with tracing the span
  * self times). */
object Main {

  /** The untraced run's metrics, in output order, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_ms" -> "ms")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, answers: String)

  final case class OpRec(i: Int, cls: String, ms: Double, ok: Boolean, rowsOut: Long, steal: Double)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    kv.get("dump-oracles") match {
      case Some(out) =>
        Files.writeString(Paths.get(out), Json.obj(Curation.oracles.toSeq.sortBy(_._1)))
      case None =>
        def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
        val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
          need("trace") == "1", need("data"), need("work"), need("answers"))
        val runDir = Files.createTempDirectory(Files.createDirectories(Paths.get(a.work)), "run-")
        try run(a, runDir)
        finally graft.TempDirs.deleteRecursively(runDir)
    }
  }

  private[perfbench] def session(runDir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(a: Args): Workload = a.workload match {
    case "serve" => new Serve(a.data, a.seed)
    case "cdc_ingest" => new Cdc(a.data, a.seed)
    case "curation" => new Curation(a.data, a.seed, Curation.loadAnswers(a.answers))
    case w => sys.error(s"unknown workload $w (serve | cdc_ingest | curation)")
  }

  def run(a: Args, runDir: Path): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmS = (mainMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val cores = Runtime.getRuntime.availableProcessors
    val w = workload(a)

    // set-up: session start + fixture build into a fresh warehouse
    val t0 = System.nanoTime()
    val spark = session(runDir, cores)
    val wh = runDir.resolve("wh").toString
    spark.conf.set("spark.graft.catalog.warehouse", wh)
    w.build(spark, wh)
    val setupS = jvmS + (System.nanoTime() - t0) / 1e9
    try {
      val prepareS = secondsOf(w.prepare(spark, wh))
      val recs = mutable.ArrayBuffer.empty[OpRec]
      val untraced = new Tracer(false, spark.sparkContext)
      var next = 0
      def phase(tr: Tracer, layers: Layers, ops: Int): Seq[OpRec] = {
        val out = runPhase(w, tr, layers, next, ops)
        next += out.size
        recs ++= out
        out
      }
      // warm-up: checked, not measured
      val warmupS = secondsOf(phase(untraced, new Layers, w.opsPerCycle))
      def measured(seconds: Double): Int =
        w.opsPerCycle * math.ceil(seconds / w.cycleSeconds).toInt.max(1)

      val annotations = mutable.LinkedHashMap[String, Any](
        "jvm_start_s" -> jvmS, "prepare_s" -> prepareS,
        "warmup_s" -> warmupS)
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      if (!a.trace) {
        val rss0 = Stats.peakRssMb()
        w.phaseStart()
        val m = phase(untraced, new Layers, measured(a.seconds))
        val measuredS = m.map(_.ms).sum / 1000.0
        val lat = m.map(_.ms)
        val (tail, pct, n) = Stats.tail(lat)
        val values = Map(
          "setup_s" -> setupS,
          "ops_per_s" -> m.count(_.ok) / measuredS,
          "p50_ms" -> Stats.median(lat))
        metrics ++= EndToEnd.map { case (k, u) => k -> (values(k), u) }
        annotations ++= m.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, rs) =>
          s"class.$c.p50_ms" -> Stats.median(rs.map(_.ms)) }
        annotations ++= Seq("tail_ms" -> tail, "tail_percentile" -> pct, "tail_n" -> n,
          "op_ms" -> m.map(r => math.round(r.ms)),
          "rss_before_measure_mb" -> rss0, "peak_rss_mb" -> Stats.peakRssMb(),
          "measured_ops" -> m.size, "measured_s" -> measuredS)
        w.finish(measuredS, new Layers).foreach { case (k, (v, u)) =>
          annotations(k) = v; annotations(s"${k}_unit") = u }
      } else {
        w.phaseStart()
        val ref = phase(untraced, new Layers, measured(a.seconds / 2))
        val refRate = ref.count(_.ok) / (ref.map(_.ms).sum / 1000.0)
        val tap = new JobTap
        spark.sparkContext.addSparkListener(tap)
        val tr = new Tracer(true, spark.sparkContext)
        val layers = new Layers
        val gc0 = Stats.gcMs()
        Stats.resetHeapPeaks()
        w.phaseStart()
        val m = phase(tr, layers, measured(a.seconds / 2))
        val gcMs = Stats.gcMs() - gc0
        val heapMb = Stats.heapPeakMb()
        val measuredS = m.map(_.ms).sum / 1000.0
        w.finish(measuredS, layers).foreach { case (k, (v, _)) => annotations(k) = v }
        PerfbenchBus.drain(spark.sparkContext)
        tr.attach(tap)
        val rate = m.count(_.ok) / measuredS
        val v = Layered.values(m, layers, tap, tr, cores, gcMs, heapMb, 1.0 - rate / refRate)
        metrics ++= Layered.Units.map { case (k, u) => k -> (v(k), u) }
        annotations ++= Layered.ServeOnly.map(k => k -> v(k))
        annotations ++= Layered.annotations(m, tr)
      }

      val steals = recs.map(_.steal)
      annotations ++= w.fixtureStats()
      annotations ++= Seq(
        "failed_frac" -> recs.count(!_.ok).toDouble / recs.size,
        "steal_s" -> (if (steals.exists(_ < 0)) -1.0 else steals.sum),
        "steal_max_op_s" -> steals.max,
        "cores" -> cores, "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace)
      val failed = recs.count(!_.ok)
      println(Json.obj(Seq("annotations" -> annotations.toSeq)))
      println(Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> recs.size,
        "failed" -> failed,
        "metrics" -> metrics.toSeq.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) })))
    } finally {
      spark.stop()
    }
  }

  private def secondsOf(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `n` ops from index `start`. Latency covers only
    * [[Workload.op]]; the untimed `before` and answer check run outside
    * it. */
  def runPhase(w: Workload, tr: Tracer, layers: Layers, start: Int, n: Int): Seq[OpRec] = {
    val out = mutable.ArrayBuffer.empty[OpRec]
    (start until start + n).foreach { i =>
      w.before(i)
      val st0 = graft.Bench.stealSec()
      val t = System.nanoTime()
      val done = try Right(tr.op(i)(w.op(i, tr, layers))) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t) / 1e6
      val st1 = graft.Bench.stealSec()
      val verdict = done match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(d) => try d.check() catch { case e: Exception => Some(s"check threw $e") }
      }
      val cls = done.fold(_ => "error", _.cls)
      verdict.foreach(why => System.err.println(s"[perfbench] op $i ($cls) failed: $why"))
      out += OpRec(i, cls, ms, verdict.isEmpty, done.fold(_ => 0L, _.rowsOut),
        if (st0 < 0 || st1 < 0) -1.0 else st1 - st0)
    }
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Latency at the highest percentile with at least 10 samples beyond
    * it: the 11th-largest sample, its percentile and the sample count
    * (the maximum when there are 10 samples or fewer). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n > 10) (s(n - 11), 100.0 * (n - 10) / n, n) else (s.last, 100.0, n)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The process's VmHWM (peak resident set) in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case kv: Seq[_] if kv.forall { case (_: String, _) => true; case _ => false } && kv.nonEmpty =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
