package graft.operators

import graft.{NamedQuery, Tables}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicLong

/** Event-time streaming operator surface (watermarked windows, stateful
  * sessionization) exposed as oracle-checkable queries. q50 actually RUNS
  * the Structured Streaming pipeline (readStream → watermark → window →
  * memory sink, drained with AvailableNow) and hash-matches the batch
  * oracle; q51 is the batch window-function sessionization whose streaming
  * `flatMapGroupsWithState` twin is parity-tested in EventStreamsSpec. */
object StreamingOps {

  private val runId = new AtomicLong()

  // q50 — watermarked tumbling-window aggregation, executed as a real
  // streaming query and drained deterministically
  val streamedHourly: (SparkSession, String) => DataFrame = (s, dir) => {
    val agg = EventStreams.hourlyWindowed(EventStreams.eventsStream(s, dir))
    EventStreams.drainToTable(s, agg, s"graft_stream_hourly_${runId.incrementAndGet()}")
  }

  // q51 — gap-based sessionization (lag + cumulative-sum window idiom;
  // 30-minute inactivity gap, µs-exact gap comparison)
  val sessionize: (SparkSession, String) => DataFrame = (s, dir) =>
    EventStreams.sessionizeBatch(Tables.load(s, dir, "events"))

  val all: Seq[NamedQuery] = Seq(
    NamedQuery("q50_streamed_hourly", streamedHourly, oracle = Some(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin)),
    NamedQuery("q51_sessionization", sessionize, bench = true, oracle = Some(
      """WITH m AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin)),
  )
}
