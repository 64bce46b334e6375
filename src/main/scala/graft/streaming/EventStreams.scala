package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

import java.sql.Timestamp

/** Event-time streaming operators over the `events` fixture: watermarked
  * tumbling-window aggregation and gap-based sessionization — the
  * Structured Streaming surface a Spark-first engine exposes beyond the
  * reference's CDC semantics (SURVEY §2.9 notes the reference has no
  * event-time windows; the driver brief asks for them as first-class).
  *
  * Verification strategy: each streaming operator has a BATCH-equivalent
  * definition (same DataFrame algebra over the same input), and the batch
  * form is DuckDB-oracle-checked (q50/q51 in
  * [[graft.operators.StreamingOps]]); the streaming form is spec-asserted
  * to produce exactly the batch result when drained with
  * `Trigger.AvailableNow` (EventStreamsSpec).
  */
object EventStreams {

  /** Session gap: a new session starts after 30 minutes of inactivity. */
  val SessionGapSeconds = 1800L

  /** The events fixture read as a STREAM: file source over the parquet,
    * normalizing `ts` to UTC TimestampType exactly as [[graft.Tables.load]]
    * does for the batch form (nanos-as-long fixtures via timestamp_micros;
    * TIMESTAMP_NTZ fixtures via a cast — the wall-clock is UTC by
    * construction, and a session whose time zone is NOT UTC fails loudly
    * at the cast site, [[graft.Tables.requireUtcSession]]; a watermark
    * rejects NTZ, so the normalization is load-bearing here). */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        graft.Tables.requireUtcSession(s, "EventStreams.eventsStream")
        stream.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => stream
    }
  }

  /** Watermarked tumbling-window aggregation (1 hour) — the streaming
    * form of q17. Complete output mode: with a finite AvailableNow drain,
    * append mode would withhold the youngest window (its end is past the
    * final watermark), so complete mode is the checkable configuration;
    * the watermark still declares the lateness bound a continuous
    * deployment would run with. */
  def hourlyWindowed(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .select(
        col("window.start").as("hour_bucket"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Drain a streaming aggregation into a deterministic in-memory table
    * and return it as a DataFrame — the FINITE-VERIFICATION harness (the
    * memory sink is not a deployment sink; that is [[streamAggToLake]]). */
  def drainToTable(s: SparkSession, agg: DataFrame, name: String): DataFrame = {
    val q = agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** PRODUCTION streaming sink: continuously refresh a lake table from a
    * streaming aggregation — Update output mode emits each changed group
    * per micro-batch, `foreachBatch` upserts them into the (primary-keyed)
    * lake table as one merge-on-read commit, and the streaming checkpoint
    * is the resume position. Because aggregation state is cumulative
    * across batches, a group's LAST emission carries its final value and
    * upsert last-writer-wins converges to exactly the batch aggregate —
    * the streaming gold-refresh shape (reference: ClickHouse re-runs the
    * gold INSERT on a schedule; this is its incremental equivalent).
    * O(changed groups) per batch, nothing driver-side. */
  def streamAggToLake(
      agg: DataFrame,
      table: graft.lake.LakeTable,
      checkpoint: String): Unit = {
    val q = agg.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CdcIngest.inTableSession(table, batch) { b => if (!b.isEmpty) { table.upsert(b); () } }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // ------------------------------------------------------------ sessions

  final case class Event(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  final case class Session(
      user_id: Long, session_id: Long,
      session_start: Timestamp, session_end: Timestamp, n_events: Long)

  /** BATCH sessionization: gap-based sessions via window functions — the
    * lag/cumulative-sum idiom (one shuffle on user_id; sessions never
    * materialize per-row state). Oracle-checked as q51. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // µs-exact gap comparison (unix_timestamp truncates to seconds and
    // would disagree with the oracle on fractional-second gaps)
    val newSession = when(
      col("prev_ts").isNull ||
        (expr("unix_micros(ts)") - expr("unix_micros(prev_ts)")) > SessionGapSeconds * 1000000L,
      1L).otherwise(0L)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new", newSession)
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Per-user open-session state carried across micro-batches. */
  final case class OpenSession(start: Timestamp, end: Timestamp, n: Long, sid: Long)

  /** STREAMING sessionization: custom per-user state via
    * flatMapGroupsWithState. Each micro-batch folds its (event-time
    * ordered) new events into the user's OPEN session; a session is
    * emitted only when a later event CLOSES it (gap exceeded), so a
    * session spanning micro-batches is emitted exactly once — never split
    * or duplicated. The final open session per user stays in state: a
    * continuous deployment flushes it via the processing-time timeout
    * (`flushAfter`); a finite drain leaves it unemitted, so streaming
    * output ≡ [[sessionizeBatch]] minus each user's last (still-open)
    * session — spec-asserted across a two-batch drain. State is one small
    * record per user, partitioned by the grouping key (the
    * KeyValueGroupedDataset state-store path). */
  def sessionizeStream(
      events: Dataset[Event],
      flushAfter: Option[String] = None): Dataset[Session] = {
    import events.sparkSession.implicits._
    // ProcessingTimeTimeout only when a flush is requested: with it set,
    // the micro-batch engine keeps scheduling timeout-check batches, which
    // busy-loops a finite drain that registers no timeouts
    val timeoutConf =
      if (flushAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        sessionFold(flushAfter))
  }

  /** µs-exact epoch (Timestamp.getTime is ms-truncated and would disagree
    * with the batch form on fractional-millisecond gaps). */
  private def micros(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  private def sessionFold(flushAfter: Option[String])(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[Session] = {
    if (state.hasTimedOut) { // continuous-mode flush of an idle open session
      val open = state.get
      state.remove()
      return Iterator(Session(userId, open.sid, open.start, open.end, open.n))
    }
    val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    val closed = scala.collection.mutable.ListBuffer.empty[Session]
    var open = state.getOption.orNull
    sorted.foreach { e =>
      if (open == null)
        open = OpenSession(e.ts, e.ts, 1L, 1L)
      else if (micros(e.ts) - micros(open.end) > SessionGapSeconds * 1000000L) {
        closed += Session(userId, open.sid, open.start, open.end, open.n)
        open = OpenSession(e.ts, e.ts, 1L, open.sid + 1)
      } else
        // clamp: an out-of-order event from a later micro-batch (ts <
        // open.end) must not REGRESS the session end — session_end is
        // max(ts), matching the batch form's max() aggregate
        open = open.copy(
          end = if (micros(e.ts) > micros(open.end)) e.ts else open.end,
          n = open.n + 1)
    }
    state.update(open)
    flushAfter.foreach(state.setTimeoutDuration)
    closed.iterator
  }
}
