package graft.lake

import graft.SparkSpec
import graft.streaming.CdcIngest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The imperative merge-on-read commit (upsert / deleteKeys / CDC) stages
  * its rows and its delete keys in ONE job over the batch and commits them
  * through `commitStagedDelta`, the commit the SQL delta write uses. */
class RowLevelCommitSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  /** Jobs started and, per submitted stage, its RDD names, while `body`
    * runs (the listener bus is drained before and after, no sleeps). */
  private def observed[A](body: => A): (A, Int, Seq[Seq[String]]) = {
    val (out, jobs, stages) = observedStages(body)
    (out, jobs, stages.map(_.rddInfos.map(_.name)))
  }

  private def observedStages[A](body: => A): (A, Int, Seq[org.apache.spark.scheduler.StageInfo]) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[org.apache.spark.scheduler.StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.add(e.stageInfo)
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (out, jobs.get(), stages.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a CDC batch stages rows and delete keys in one job that scans the batch once") {
    val dir = Files.createTempDirectory("graft-rowlevel-spec").toString
    val base = (1L to 40L).map(i =>
      (i, ts(f"2024-${1 + i % 4}%02d-15T00:00:00Z"), i * 1.0)).toDF("id", "d", "v")
    // the cdc_ingest shape: month partitions on a non-key column, so the
    // commit's delete keys are global (one delete file per task)
    val t = LakeTable.create(spark, s"$dir/t", "t", base.schema,
      partitionSpec = Seq(PartitionField("d", Transform.Month, "p_month")),
      clusterBy = Seq("id"), primaryKey = Seq("id"))
    t.append(base)
    // key 5 twice: the later update wins; key 6 updated then deleted;
    // key 7 deleted; key 100 inserted into a new month
    val batchDir = s"$dir/batch"
    Seq(
      (5L, ts("2024-02-15T00:00:00Z"), -5.0, "update", ts("2024-06-01T00:00:01Z")),
      (5L, ts("2024-03-15T00:00:00Z"), -50.0, "update", ts("2024-06-01T00:00:02Z")),
      (6L, ts("2024-03-15T00:00:00Z"), -6.0, "update", ts("2024-06-01T00:00:01Z")),
      (6L, ts("2024-03-15T00:00:00Z"), -6.0, "delete", ts("2024-06-01T00:00:02Z")),
      (7L, ts("2024-04-15T00:00:00Z"), 7.0, "delete", ts("2024-06-01T00:00:01Z")),
      (100L, ts("2024-05-15T00:00:00Z"), 100.0, "insert", ts("2024-06-01T00:00:01Z"))
    ).toDF("id", "d", "v", CdcIngest.OpCol, CdcIngest.TsCol)
      .write.parquet(batchDir)
    val batch = spark.read.parquet(batchDir)

    val (snap, jobs, stages) = observed(t.applyCdcBatch(batch, CdcIngest.OpCol, CdcIngest.TsCol))
    val scanStages = stages.count(_.contains("FileScanRDD"))
    assert(scanStages == 1, s"the batch was scanned in $scanStages stages: $stages")
    // window shuffle, write arrangement shuffle, staging collect; the
    // two-job commit this replaced started 5
    assert(jobs == 3, s"the commit started $jobs jobs")
    assert(snap.operation == "cdc" && snap.deleteFiles.size == 1,
      s"one commit, one global delete file: ${snap.deleteFiles}")
    // one data file per touched month (2024-03 for key 5, 2024-05 for 100)
    assert(snap.dataFiles.filter(_.seq == snap.seq).map(_.partition("p_month")).sorted ==
      Seq("2024-03", "2024-05"))

    val want = (1L to 40L).filterNot(Set(5L, 6L, 7L)).map(i => i -> i * 1.0).toMap ++
      Map(5L -> -50.0, 100L -> 100.0)
    assert(t.scan().select("id", "v").as[(Long, Double)].collect().toMap == want)
    spark.read.format("graftlake").option("path", t.location).load()
      .createOrReplaceTempView("rowlevel_cdc")
    assert(spark.sql("SELECT id, v FROM rowlevel_cdc").as[(Long, Double)].collect().toMap == want)
    assert(spark.sql("SELECT d FROM rowlevel_cdc WHERE id = 5").as[java.sql.Timestamp]
      .collect().toSeq == Seq(ts("2024-03-15T00:00:00Z")))
  }

  test("an unpartitioned table's upsert and deleteKeys each write one delete file") {
    val dir = Files.createTempDirectory("graft-rowlevel-flat").toString
    val t = LakeTable.create(spark, s"$dir/t", "t",
      (1L to 2L).map(i => (i, i * 1.0)).toDF("id", "v").schema, primaryKey = Seq("id"))
    t.append((1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))
    // multi-partition inputs: the commit still stages in one task
    val up = (1L to 8L).map(i => (i, -i * 1.0)).toDF("id", "v").repartition(4)
    assert(t.upsert(up).deleteFiles.size == 1)
    val dels = (5L to 12L).map(Tuple1(_)).toDF("id").repartition(4)
    assert(t.deleteKeys(dels).deleteFiles.size == 2)
    assert(t.scan().as[(Long, Double)].collect().toMap ==
      ((1L to 4L).map(i => i -> -i * 1.0) ++ (13L to 20L).map(i => i -> i * 1.0)).toMap)
  }

  test("a range-clustered table's row-level commit writes no more delete files than write tasks") {
    // partition source not a key column: the commit's delete keys are
    // global, one delete file per write task that saw a key
    val dir = Files.createTempDirectory("graft-rowlevel-range").toString
    val base = (1L to 200L).map(i => (i, s"s${i % 3}", (i * 37) % 101)).toDF("id", "s", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", base.schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
      clusterBy = Seq("v"), primaryKey = Seq("id"), clusterStrategy = "range")
    t.append(base)
    val up = (1L to 58L).map(i => (i, s"s${i % 3}", (i * 53) % 101)).toDF("id", "s", "v").repartition(4)
    val (snap, _, stages) = observedStages(t.upsert(up))
    // the staging job's result stage: one task per arranged write task
    val writeTasks = stages.last.numTasks
    assert(snap.deleteFiles.nonEmpty && snap.deleteFiles.size <= writeTasks,
      s"${snap.deleteFiles.size} delete files from $writeTasks write tasks")
    info(s"delete files ${snap.deleteFiles.size}, write tasks $writeTasks")
    assert(t.scan().count() == 200L)
    assert(t.scan().filter($"id" <= 58L).as[(Long, String, Long)].collect().toSet ==
      up.as[(Long, String, Long)].collect().toSet)
  }
}
