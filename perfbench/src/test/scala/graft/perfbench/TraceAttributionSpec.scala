package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `CdcIngest.ingest` runs its micro-batches on the streaming query's own
  * thread, which sets its own job group. The traced run must still count
  * those jobs, their stages and tasks toward the op that started the
  * ingest. */
class TraceAttributionSpec extends AnyFunSuite {

  test("a traced cdc_ingest op's exec metrics include the streaming ingest's jobs") {
    val dir = Files.createTempDirectory("perfbench-trace-")
    val spark = Main.session(dir, 2)
    try {
      val wh = dir.resolve("wh").toString
      spark.conf.set("spark.graft.catalog.warehouse", wh)
      val w = new Cdc("data/sf0.1", 1L)
      w.build(spark, wh)
      w.prepare(spark, wh)
      val tap = new JobTap
      spark.sparkContext.addSparkListener(tap)
      val tr = new Tracer(true, spark.sparkContext)
      val m = Main.runPhase(w, tr, new Layers, 0, 1)
      PerfbenchBus.drain(spark.sparkContext)
      assert(m.size == 1 && m.head.ok)

      val ingest = tr.spans.filter(_.name == "streaming.ingest").map(_.id).toSet
      val ingestJobs = tap.jobs.filter(j => ingest(j.span))
      assert(ingestJobs.nonEmpty, "no job was filed under the ingest span")
      // the premise: the stream thread's jobs carry no op job group
      assert(ingestJobs.exists(_.op < 0))
      def tasksOf(js: Seq[JobTap.Job]): Int = {
        val stages = tap.stages.valuesIterator.filter(s => js.exists(_.id == s.job)).map(_.id).toSet
        tap.tasks.count(t => stages(t.stage))
      }
      assert(tasksOf(ingestJobs.toSeq) > 0)

      // every job submitted inside the op (landing the segment runs
      // before it) counts toward the op, the ingest's jobs included
      val opJobs = tap.jobs.filter(_.span >= 0).toSeq
      assert(ingestJobs.forall(opJobs.contains))
      val v = Layered.values(m, new Layers, tap, tr, 2, 0.0, 0.0, 0.0)
      assert(v("exec.jobs") == opJobs.size.toDouble)
      assert(v("exec.tasks") == tasksOf(opJobs).toDouble)
    } finally {
      spark.stop()
      graft.TempDirs.deleteRecursively(dir)
    }
  }
}
