package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory span tree for the traced run. The client thread opens spans
  * around the layer calls of each op (build, plan, exec, ingest, compact,
  * freshness read); every span id is also set as a Spark local property,
  * so the [[JobTap]] listener files each Spark job (and its stages and
  * tasks) under the span that was open when the job was submitted.
  *
  * With `enabled = false` a span is just its body: the untraced run pays
  * for none of this. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opIndex = -1
  private val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
  private def nsOf(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  /** Root span of op `i`; its jobs run in job group `op-<i>`. */
  def op[A](i: Int)(body: => A): A = {
    if (!enabled) return body
    opIndex = i
    sc.setJobGroup(s"op-$i", s"perfbench op $i", interruptOnCancel = false)
    try span("op")(body)
    finally sc.clearJobGroup()
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = spans.size
    spans += Span(id, if (stack.isEmpty) -1 else stack.top, name, opIndex, System.nanoTime(), 0L)
    stack.push(id)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack.pop()
      sc.setLocalProperty(SpanProp, if (stack.isEmpty) null else stack.top.toString)
    }
  }

  /** Time a call into a layer even when untraced: returns (result, ms). */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = span(name)(body)
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** File the tap's jobs (under the span they were submitted in) and
    * their stages (under the job) as child spans. Jobs of one span, and
    * stages of one job, can run at the same time; each is clipped to its
    * parent and to start after its earlier siblings end, so that every
    * instant of an op is counted in exactly one span's self time. */
  def attach(tap: JobTap): Unit = {
    def addAll(parent: Int, name: String, kids: Seq[(Long, Long, Long)]): Map[Long, Int] = {
      val p = spans(parent)
      var floor = p.startNs
      kids.sortBy(_._2).map { case (key, lo, hi) =>
        val start = lo.max(floor).min(p.endNs)
        val end = hi.min(p.endNs).max(start)
        floor = end
        spans += Span(spans.size, parent, name, p.op, start, end)
        key -> (spans.size - 1)
      }.toMap
    }
    val jobSpan = tap.jobs.filter(j => j.span >= 0 && j.endMs > 0).groupBy(_.span).flatMap {
      case (parent, js) =>
        addAll(parent, "spark.job", js.map(j => (j.id.toLong, nsOf(j.startMs), nsOf(j.endMs))).toSeq)
    }
    tap.stages.valuesIterator.toSeq
      .filter(st => jobSpan.contains(st.job.toLong) && st.submitMs > 0 && st.doneMs >= st.submitMs)
      .groupBy(_.job).foreach { case (job, sts) =>
        addAll(jobSpan(job.toLong), "spark.stage",
          sts.map(st => (st.id.toLong, nsOf(st.submitMs), nsOf(st.doneMs))))
      }
  }

  /** Per span name: summed self time in ms (span minus the union of its
    * child spans), over the given op indices. */
  def selfTimes(ops: Set[Int]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.iterator.filter(s => ops(s.op)).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var (cLo, cHi) = (Long.MinValue, Long.MinValue)
      kids.foreach { case (lo, hi) =>
        if (lo > cHi) { covered += (cHi - cLo).max(0L); cLo = lo; cHi = hi }
        else cHi = cHi.max(hi)
      }
      covered += (cHi - cLo).max(0L)
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, op: Int, startNs: Long, endNs: Long)
}

/** SparkListener recording jobs, stages and tasks with the op (job group)
  * and span (local property) they were submitted under. Events are kept
  * in memory; `PerfbenchBus.drain` waits for the listener bus before they
  * are read. */
final class JobTap extends SparkListener {
  import JobTap._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LongMap.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageJob = mutable.LongMap.empty[Int]
  private val stageSubmitMs = mutable.LongMap.empty[Long]

  private def opOf(group: String): Int =
    if (group != null && group.startsWith("op-")) group.drop(3).toInt else -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val group = if (p == null) null else p.getProperty("spark.jobGroup.id")
    val span = Option(if (p == null) null else p.getProperty(Tracer.SpanProp)).map(_.toInt).getOrElse(-1)
    jobs += Job(e.jobId, opOf(group), span, e.time)
    e.stageIds.foreach(s => stageJob(s.toLong) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId.toLong) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId.toLong) = Stage(i.stageId, stageJob.getOrElse(i.stageId.toLong, -1),
      i.numTasks, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val submit = stageSubmitMs.getOrElse(e.stageId.toLong, info.launchTime)
    tasks += (if (m == null) Task(e.stageId, info.launchTime, info.finishTime,
        (info.launchTime - submit).max(0L), failed = true)
      else Task(e.stageId, info.launchTime, info.finishTime, (info.launchTime - submit).max(0L),
        failed = !info.successful,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        inRows = m.inputMetrics.recordsRead, inBytes = m.inputMetrics.bytesRead,
        shRead = m.shuffleReadMetrics.totalBytesRead,
        shWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

}

object JobTap {
  final case class Job(id: Int, op: Int, span: Int, startMs: Long, endMs: Long = 0L)
  final case class Stage(id: Int, job: Int, numTasks: Int, submitMs: Long, doneMs: Long)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, waitMs: Long,
      failed: Boolean, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      inRows: Long = 0, inBytes: Long = 0, shRead: Long = 0, shWrite: Long = 0, spill: Long = 0)
}
