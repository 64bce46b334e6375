package graft.streaming

import graft.Tables
import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlInternals
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming CDC ingest (SURVEY §2.9 C1–C6) — the Spark-native replacement
  * for the reference's OLake binlog→Iceberg replication
  * (olake-config/source.json, destination.json:95-98,129-134).
  *
  * Semantics reproduced:
  *  - C1 snapshot-then-incremental: an initial batch append of the source
  *    state, then a `readStream` over the change log takes over
  *    (BLOG_POST_COMPLETE_WALKTHROUGH.md:297-300).
  *  - C2 micro-batch cadence: the file stream drains in micro-batches
  *    (`Trigger.AvailableNow`); each `foreachBatch` call is one
  *    flush+commit, the streaming checkpoint is the binlog position.
  *  - C3 upsert on PK, last-writer-wins per key on the sync timestamp
  *    (delegated to [[LakeTable.applyCdcBatch]]'s window dedupe).
  *  - C4 op + sync-ts metadata columns ([[OpCol]]/[[TsCol]] ≙
  *    `_olake_operation`/`_olake_sync_timestamp`, destination.json:129-130).
  *  - C5 at-least-once replay safety: re-applying a delivered batch
  *    commits a new snapshot with identical logical content (verified by
  *    the q33 oracle, which replays a batch on purpose).
  *  - C6 mid-stream schema evolution: a batch carrying unknown columns
  *    widens the table schema before the write (BLOG:538-553).
  *
  * Scale notes: each micro-batch costs O(batch) — the merge-on-read lake
  * table never rewrites base data on ingest — and the batch dedupe is a
  * single hash shuffle on the primary key. Nothing here holds state on the
  * driver; a 1000-executor cluster runs the same plan per batch. Each
  * micro-batch arrives in the streaming query's cloned session, which has
  * its own executor-side class loader; the commit runs in the table's own
  * session instead ([[inTableSession]]), so its generated code is compiled
  * once per JVM (per executor on a cluster), not once per batch.
  */
object CdcIngest {

  /** Per-row operation metadata column (≙ `_olake_operation`). */
  val OpCol = "_graft_op"

  /** Per-row sync-timestamp metadata column (≙ `_olake_sync_timestamp`). */
  val TsCol = "_graft_sync_ts"

  /** Test-only crash-injection hook, fired with the micro-batch ordinal
    * after that batch's lake commit and before its checkpoint record
    * (see the call site in [[ingest]]). No-op in production. */
  @volatile private[graft] var failpoint: Long => Unit = _ => ()

  /** Deterministic change stream derived from the orders fixture, so the
    * ingested end-state is a pure SQL function of the input table:
    *  - update for every key % 3 == 0: status → 'U', price doubled,
    *    sync-ts = order ts + 1 hour;
    *  - delete for every key % 7 == 0: sync-ts = order ts + 2 hours
    *    (so a key hit by both is deleted — the delete's ts wins).
    *
    * Every key's full history lands in ONE log file (file = key % nFiles),
    * so per-key last-writer-wins resolves inside a single micro-batch and
    * the end state is invariant to how the file source groups files into
    * batches — the property that makes the stream oracle-checkable.
    */
  def changeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
    val updates = o.filter(col("o_orderkey") % 3 === 0).select(
      col("o_orderkey"),
      lit("U").as("o_orderstatus"),
      (col("o_totalprice") * 2).as("o_totalprice"),
      lit("update").as(OpCol),
      (col("o_orderdate") + expr("INTERVAL '1' HOUR")).as(TsCol))
    val deletes = o.filter(col("o_orderkey") % 7 === 0).select(
      col("o_orderkey"),
      col("o_orderstatus"),
      col("o_totalprice"),
      lit("delete").as(OpCol),
      (col("o_orderdate") + expr("INTERVAL '2' HOUR")).as(TsCol))
    updates.unionByName(deletes)
  }

  /** Write the orders change stream as `nFiles` parquet log files under
    * `logDir` (the "binlog segments" the file stream will discover). */
  def writeChangeLog(spark: SparkSession, sfDir: String, logDir: String, nFiles: Int = 2): StructType =
    writeLog(changeStream(spark, sfDir), "o_orderkey", logDir, nFiles)

  /** Write ANY change stream as `nFiles` log segments, keyed so one key's
    * full history lands in one file — per-key last-writer-wins then
    * resolves inside a single micro-batch and the drained end state is
    * invariant to file→batch grouping (the property that makes a stream
    * oracle-checkable). Used by every replicated table of the multi-table
    * ingest (the reference replicates 4 tables concurrently,
    * olake-config/destination.json:100-234). */
  def writeLog(log: DataFrame, keyCol: String, logDir: String, nFiles: Int = 2): StructType = {
    (0 until nFiles).foreach { b =>
      log.filter(pmod(col(keyCol), lit(nFiles)) === b)
        .coalesce(1).write.mode("append").parquet(logDir)
    }
    log.schema
  }

  /** C1 takeover: drain `logDir` into `table` as a Structured Streaming
    * query — `readStream` file source, `foreachBatch` CDC apply, checkpoint
    * = resume position. Returns the number of micro-batches processed. */
  def ingest(
      table: LakeTable,
      logDir: String,
      logSchema: StructType,
      checkpoint: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): Long = {
    val spark = table.spark
    var batches = 0L
    val reader = spark.readStream.schema(logSchema)
    val src = maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(logDir)
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        inTableSession(table, batch)(applyBatch(table, _))
        // crash-injection site (test-only): fires AFTER the batch's lake
        // commit and BEFORE foreachBatch returns — i.e. before Structured
        // Streaming records the batch in the checkpoint. Killing here is
        // the at-least-once redelivery window the checkpoint protocol
        // promises to survive (ProcessSafetySpec proves it cross-process).
        failpoint(batches)
        batches += 1
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    batches
  }

  /** Run a `foreachBatch` body against `table` in the table's session: the
    * micro-batch is re-rooted on `table.spark` (its plan is the
    * session-independent `LogicalRDD` the foreachBatch sink builds) and
    * every job the body starts carries that session's artifact state.
    * Structured Streaming runs each query's batches in a cloned session,
    * and each session gets its own executor class loader and so its own
    * generated-code cache entries; committing in the cloned session would
    * recompile the whole commit for every new query. */
  def inTableSession[A](table: LakeTable, batch: DataFrame)(body: DataFrame => A): A =
    SqlInternals.withSessionResources(table.spark) {
      body(SqlInternals.ofRows(table.spark, batch.queryExecution.logical))
    }

  /** One micro-batch: widen the table for any new columns AND promote
    * column types the batch arrives wider than (C6 — the reference's
    * `auto_promote_types`: a source ALTER from INT to BIGINT shows up as a
    * batch whose column outgrew the table, destination.json:74-79), then
    * apply the CDC merge (C3/C4). Public so a replayed batch (C5) can be
    * pushed through the exact same path. */
  def applyBatch(table: LakeTable, batch: DataFrame): Unit = {
    if (batch.isEmpty) return
    val known = table.currentSchema.fields.map(f => f.name -> f.dataType).toMap
    batch.schema.fields.filterNot(f => f.name == OpCol || f.name == TsCol).foreach { f =>
      known.get(f.name) match {
        case None => table.addColumn(f.name, f.dataType.sql)
        case Some(have) if have != f.dataType && LakeTable.legalPromotion(have, f.dataType) =>
          table.promoteColumn(f.name, f.dataType.sql)
        case _ => () // same type, or narrower than the table: write-side up-cast aligns it
      }
    }
    table.applyCdcBatch(batch, OpCol, TsCol)
  }
}
