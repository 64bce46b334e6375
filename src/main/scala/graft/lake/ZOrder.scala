package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) clustering for multi-column file skipping — the
  * `OPTIMIZE ZORDER BY` idea re-expressed as a Spark write arrangement.
  *
  * Lexicographic clustering (`sortWithinPartitions(a, b)`) tightens
  * per-file bounds only on the FIRST key: every file spans nearly the full
  * range of `b`, so a predicate on `b` alone skips nothing. Z-ordering
  * interleaves the bits of each key's quantile bucket, then RANGE-partitions
  * the write on the interleaved value: each file covers a small hyper-cube
  * of the key space, so footer/commit bounds are tight in EVERY clustered
  * dimension and [[ColumnBounds.mayMatch]] skips files for predicates on
  * any of them.
  *
  * Bucketing is quantile-based (one `approx_percentile` aggregation over
  * the batch, 2^bits−1 split points per column collected to the driver —
  * bounded by construction, ~255 doubles per column), which makes the
  * curve robust to skewed value distributions the way fixed-width
  * bucketing is not.
  *
  * Route coverage: every write through `LakeTable.stageDataFiles` — the
  * DataFrame-API writer, upserts, and COMPACTION — z-arranges. The DSv2
  * row-push write path (SQL INSERT) cannot (its sink contract expresses
  * only column-reference ordering, and the z-value needs the batch's
  * quantiles), so SQL-inserted files land linear and
  * `CALL graft.system.rewrite_data_files` restores the z-layout — the
  * same split as Iceberg/Delta, where OPTIMIZE ZORDER is a maintenance
  * rewrite, not an ingest-time guarantee.
  */
object ZOrder {

  /** Bits per dimension (2^bits quantile buckets). 8 → 255 splits; with c
    * cluster columns the z-value spans c·bits ≤ 63 bits. */
  val Bits = 8

  /** Column types a z-order key may have (orderable as doubles). */
  def supported(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true
    case org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** The z-value column for `df`'s rows over `keys`: per-key quantile
    * bucket (one array fold against the broadcast split literals), bits
    * interleaved key-major. Deterministic given the batch. */
  def zvalue(df: DataFrame, keys: Seq[String]): Column = {
    require(keys.nonEmpty && keys.size * Bits <= 63,
      s"z-order supports up to ${63 / Bits} keys at $Bits bits: $keys")
    val nSplits = (1 << Bits) - 1
    val probs = (1 to nSplits).map(_.toDouble / (1 << Bits))
    // one aggregation computes every column's split points
    val aggs = keys.map(k =>
      percentile_approx(col(k).cast("double"), typedLit(probs), lit(10000)).as(k))
    val splitRow = df.agg(aggs.head, aggs.tail: _*).head()
    val buckets = keys.zipWithIndex.map { case (k, i) =>
      val splits: Seq[Double] =
        if (splitRow.isNullAt(i)) Nil
        else splitRow.getSeq[Double](i).filter(s => !s.isNaN)
      if (splits.isEmpty) lit(0)
      else
        // bucket = number of splits <= value (nulls first, bucket 0)
        aggregate(typedLit(splits), lit(0), (acc, s) =>
          acc + when(col(k).cast("double") >= s, 1).otherwise(0))
    }
    // interleave: bit i of key j lands at position i·c + j (key-major)
    val c = keys.size
    (0 until Bits).flatMap(i => buckets.zipWithIndex.map { case (b, j) =>
      shiftright(b, i).bitwiseAND(lit(1)).cast("long") * lit(1L << (i * c + j))
    }).reduce(_ + _)
  }
}
