package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-query cost decomposition for optimization work (guide §1): splits a
  * registered query's wall time into CONSTRUCT (the `run` thunk — includes
  * any driver-side jobs like bounded collects), PLAN (Catalyst →
  * executedPlan → RDD) and EXEC (materialization via the same
  * toRdd.count() action Bench times), and counts the Spark jobs/stages plus
  * summed executor task time each phase launched. Reads the same env as
  * Bench (SPARK_GRAFT_CPUS); argument 1 is the data dir, the rest are query
  * names. Diagnostic only — never part of the driver contract. */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cpus]")
      .appName("graft-query-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // extra session confs for A/B probing: "k1=v1,k2=v2"
    sys.env.get("SPARK_GRAFT_PROBE_CONFS").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    // hadoop-level confs for A/B probing (e.g. fs.file.impl)
    sys.env.get("SPARK_GRAFT_PROBE_HADOOP").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.sparkContext.hadoopConfiguration.set(k, v)
      })

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val taskMs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        if (sys.env.contains("SPARK_GRAFT_PROBE_STAGES")) {
          val i = sc.stageInfo
          System.err.println(f"[probe-stage] id=${i.stageId} tasks=${i.numTasks} " +
            f"run=${i.taskMetrics.executorRunTime}ms cpu=${i.taskMetrics.executorCpuTime / 1000000}ms " +
            f"gc=${i.taskMetrics.jvmGCTime}ms deser=${i.taskMetrics.executorDeserializeTime}ms " +
            s"name=${i.name.takeWhile(_ != '\n').take(80)}")
        }
        ()
      }
    })
    def snap(): (Int, Int, Long) = (jobs.get, stages.get, taskMs.get)

    names.foreach { n =>
      val q = SparkEntry.queries(n)
      try q(spark, sfDir).queryExecution.toRdd.count() // warm
      catch { case e: Exception => System.err.println(s"[probe] $n warm failed: $e") }
      (1 to 3).foreach { i =>
        val (j0, s0, m0) = snap()
        val t0 = System.nanoTime()
        val df = q(spark, sfDir)
        val t1 = System.nanoTime()
        // listener events are async — drain the bus before snapping
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val (j1, s1, m1) = snap()
        val rdd = df.queryExecution.toRdd
        val t2 = System.nanoTime()
        rdd.count()
        val t3 = System.nanoTime()
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val (j2, s2, m2) = snap()
        println(f"[probe] $n run$i " +
          f"construct=${(t1 - t0) / 1e6}%.0fms (jobs=${j1 - j0} stages=${s1 - s0} task=${m1 - m0}ms) " +
          f"plan=${(t2 - t1) / 1e6}%.0fms " +
          f"exec=${(t3 - t2) / 1e6}%.0fms (jobs=${j2 - j1} stages=${s2 - s1} task=${m2 - m1}ms)")
      }
    }
    spark.stop()
  }
}
