package graft.streaming

import graft.SparkSpec
import graft.lake.LakeTable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import java.nio.file.Files

class CdcIngestSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc(): String =
    Files.createTempDirectory("graft-cdc-spec").resolve("t").toString

  test("streaming drain applies inserts, updates and deletes in micro-batches") {
    val t = LakeTable.create(spark, freshLoc(), "t",
      Seq((1, "a", 1.0)).toDF("id", "s", "v").schema, primaryKey = Seq("id"))
    t.append(Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)).toDF("id", "s", "v"))

    val logDir = freshLoc() + "-log"
    val log = Seq(
      (2, "B", 20.0, "update", java.sql.Timestamp.valueOf("2020-01-01 00:00:01")),
      (3, "c", 3.0, "delete", java.sql.Timestamp.valueOf("2020-01-01 00:00:02")),
      (4, "d", 4.0, "insert", java.sql.Timestamp.valueOf("2020-01-01 00:00:03")),
    ).toDF("id", "s", "v", CdcIngest.OpCol, CdcIngest.TsCol)
    log.coalesce(1).write.parquet(logDir)

    val n = CdcIngest.ingest(t, logDir, log.schema, checkpoint = freshLoc() + "-ckpt")
    assert(n >= 1)
    val state = t.scan().orderBy("id").as[(Int, String, Double)].collect().toSeq
    assert(state == Seq((1, "a", 1.0), (2, "B", 20.0), (4, "d", 4.0)))
  }

  test("multi-table ingest: two tables drain CONCURRENTLY through the same API") {
    def setup(tag: String): (LakeTable, String, org.apache.spark.sql.types.StructType, String) = {
      val t = LakeTable.create(spark, freshLoc(), s"t$tag",
        Seq((1, "a")).toDF("id", "s").schema, primaryKey = Seq("id"))
      t.append((1 to 50).map(i => (i, s"$tag$i")).toDF("id", "s"))
      val log = (1 to 50).filter(_ % 2 == 0).map(i =>
        (i, s"$tag${i}u", "update", new java.sql.Timestamp(1000L + i))).toDF(
        "id", "s", CdcIngest.OpCol, CdcIngest.TsCol)
      val logDir = freshLoc() + s"-log$tag"
      val schema = CdcIngest.writeLog(log, "id", logDir)
      (t, logDir, schema, freshLoc() + s"-ckpt$tag")
    }
    val pipes = Seq(setup("x"), setup("y"))
    // one ingest thread per table — the reference's concurrent per-table
    // pipelines (destination.json parallelism is per-pipeline)
    val threads = pipes.map { case (t, logDir, schema, ckpt) =>
      new Thread(() => { CdcIngest.ingest(t, logDir, schema, checkpoint = ckpt); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    pipes.zip(Seq("x", "y")).foreach { case ((t, _, _, _), tag) =>
      val state = t.scan().as[(Int, String)].collect().toMap
      assert(state.size == 50)
      assert(state(2) == s"${tag}2u" && state(1) == s"${tag}1", s"table $tag wrong: $state")
    }
  }

  test("replaying a delivered batch leaves the logical state unchanged (C5)") {
    val t = LakeTable.create(spark, freshLoc(), "t",
      Seq((1, "a")).toDF("id", "s").schema, primaryKey = Seq("id"))
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    val batch = Seq(
      (1, "A", "update", java.sql.Timestamp.valueOf("2020-01-01 00:00:01")),
      (2, "b", "delete", java.sql.Timestamp.valueOf("2020-01-01 00:00:02")),
    ).toDF("id", "s", CdcIngest.OpCol, CdcIngest.TsCol)

    CdcIngest.applyBatch(t, batch)
    val once = t.scan().orderBy("id").as[(Int, String)].collect().toSeq
    CdcIngest.applyBatch(t, batch) // at-least-once redelivery
    val twice = t.scan().orderBy("id").as[(Int, String)].collect().toSeq
    assert(once == Seq((1, "A")) && twice == once)
  }

  test("a batch with an unknown column widens the schema mid-stream (C6)") {
    val t = LakeTable.create(spark, freshLoc(), "t",
      Seq((1, "a")).toDF("id", "s").schema, primaryKey = Seq("id"))
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "s"))
    val batch = Seq(
      (3, "c", "gold", "insert", java.sql.Timestamp.valueOf("2020-01-01 00:00:01")),
    ).toDF("id", "s", "loyalty_tier", CdcIngest.OpCol, CdcIngest.TsCol)

    CdcIngest.applyBatch(t, batch)
    val df = t.scan()
    assert(df.schema.fieldNames.contains("loyalty_tier"))
    // pre-evolution rows null-fill; the new row carries its value
    assert(df.filter(col("loyalty_tier").isNotNull).count() == 1)
    assert(df.filter(col("id") === 3 && col("loyalty_tier") === "gold").count() == 1)
  }

  test("a batch with a WIDENED column type promotes the schema mid-stream (C6)") {
    val t = LakeTable.create(spark, freshLoc(), "t",
      Seq((1L, 10, 1.5f)).toDF("id", "qty", "ratio").schema, primaryKey = Seq("id"))
    t.append(Seq((1L, 10, 1.5f), (2L, 20, 2.5f)).toDF("id", "qty", "ratio"))
    // the source ALTERed qty to BIGINT and ratio to DOUBLE: the batch
    // arrives wider than the table and must auto-promote, not fail
    val batch = Seq(
      (2L, 5000000000L, 2.75, "update", java.sql.Timestamp.valueOf("2020-01-01 00:00:01")),
      (3L, 30L, 3.25, "insert", java.sql.Timestamp.valueOf("2020-01-01 00:00:02")),
    ).toDF("id", "qty", "ratio", CdcIngest.OpCol, CdcIngest.TsCol)
    CdcIngest.applyBatch(t, batch)
    assert(t.currentSchema("qty").dataType == org.apache.spark.sql.types.LongType)
    assert(t.currentSchema("ratio").dataType == org.apache.spark.sql.types.DoubleType)
    assert(t.scan().as[(Long, Long, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 10L, 1.5), (2L, 5000000000L, 2.75), (3L, 30L, 3.25)))
    // replaying the promoting batch is a no-op on the schema (idempotent)
    val v = t.currentSnapshot.schemaVersion
    CdcIngest.applyBatch(t, batch)
    assert(t.currentSnapshot.schemaVersion == v)
  }

  test("in-batch last-writer-wins: latest sync-ts per key wins, delete beats older update") {
    val t = LakeTable.create(spark, freshLoc(), "t",
      Seq((1, "a")).toDF("id", "s").schema, primaryKey = Seq("id"))
    t.append(Seq((1, "a")).toDF("id", "s"))
    val batch = Seq(
      (1, "v1", "update", java.sql.Timestamp.valueOf("2020-01-01 00:00:01")),
      (1, "v2", "update", java.sql.Timestamp.valueOf("2020-01-01 00:00:03")),
      (1, "vX", "delete", java.sql.Timestamp.valueOf("2020-01-01 00:00:02")),
    ).toDF("id", "s", CdcIngest.OpCol, CdcIngest.TsCol)
    CdcIngest.applyBatch(t, batch)
    // latest op (00:03) is an update → the key survives with v2
    assert(t.scan().as[(Int, String)].collect().toSeq == Seq((1, "v2")))
  }

  test("a second same-shaped ingest compiles no generated code") {
    val t = LakeTable.create(spark, freshLoc(), "t",
      Seq((1, "a", 1.0)).toDF("id", "s", "v").schema, primaryKey = Seq("id"))
    t.append((1 to 100).map(i => (i, s"s$i", i.toDouble)).toDF("id", "s", "v"))
    val logDir = freshLoc() + "-log"
    val ckpt = freshLoc() + "-ckpt"
    // one segment = updates, deletes and inserts, so every ingest writes
    // data files and delete files of the same shapes
    def land(k: Int) = CdcIngest.writeLog((1 to 30).map { i =>
      val id = k * 200 + i
      val op = if (i % 3 == 0) "delete" else if (i % 3 == 1) "update" else "insert"
      (if (op == "insert") id else i, s"s$id", id.toDouble, op,
        new java.sql.Timestamp(1000L * (k * 100 + i)))
    }.toDF("id", "s", "v", CdcIngest.OpCol, CdcIngest.TsCol), "id", logDir, nFiles = 1)
    val schema = land(1)
    CdcIngest.ingest(t, logDir, schema, ckpt) // warm
    land(2)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(CdcIngest.ingest(t, logDir, schema, ckpt) == 1L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    // each streaming query runs its batches in a fresh cloned session; a
    // commit in that session recompiles everything on a new class loader
    assert(compiled == 0L, s"second ingest compiled $compiled classes")
    val state = t.scan().select("id").as[Int].collect().toSet
    // 10 keys deleted (twice), 10 inserted per segment
    assert(state.size == 110 && !state(3) && state(1) && state(202) && state(402), state)
  }
}
