package graft.lake

import org.apache.spark.sql.types._

/** Per-file EXACT column sums, recorded in the manifest entry at commit
  * time so grouped/filtered SUM-AVG rollups can be answered from snapshot
  * metadata alone (zero scan tasks at any table size — the same idea as
  * the recorded row counts and bounds, extended to additive aggregates;
  * the reference's gold-tier rollups, scripts/iceberg-setup.sql:80-101,
  * are exactly this shape).
  *
  * Sums are folded IN THE WRITE TASKS as rows pass
  * ([[LakeFileWriter.FileSums]] — zero extra I/O, carried through the
  * commit) on every write route, for every data file. Only EXACT domains
  * are recorded: integral and decimal sums accumulate in unbounded
  * BigDecimal; double/float sums are order-dependent and never recorded,
  * so a metadata-served result can never differ from the scan it
  * replaces. The metadata-aggregate fold
  * ([[graft.plans.LakeMetaAggregate]]) merges the per-file sums, non-null
  * counts and bounds of a group; the serving functions below turn those
  * merged totals into the aggregate's value. */
object ColumnSums {

  /** Columns whose sums are exact and order-independent. Decimals cap at
    * precision 28 so a sum in decimal(38,s) cannot overflow even at 2^31
    * rows (10^28 × 2^31 < 10^38). */
  def summable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.precision <= 28
    case _ => false
  }

  // -------------------------------------------------------------- serving

  /** SUM of a `dt` column whose values total `sum` over `nonNull` non-null
    * values, as (Spark result type, Catalyst value); None = decline.
    * All-null sums to NULL; an integral total outside Long (where the scan
    * would overflow) declines. */
  def serveSum(dt: DataType, sum: BigDecimal, nonNull: Long): Option[(DataType, Any)] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (nonNull == 0) Some((LongType, null))
        else if (sum.isValidLong) Some((LongType, sum.toLong: Any))
        else None
      case d: DecimalType =>
        val rt = DecimalType(math.min(38, d.precision + 10), d.scale)
        if (nonNull == 0) Some((rt, null))
        else {
          val v = org.apache.spark.sql.types.Decimal(sum)
          if (v.changePrecision(rt.precision, rt.scale)) Some((rt, v: Any)) else None
        }
      case _ => None // double/float sums are order-dependent: never served
    }

  /** AVG of an integral column, served only in the provably EXACT double
    * regime: every |value| ≤ `maxAbs` (from recorded bounds) and
    * maxAbs × count ≤ 2^53 bounds every partial double sum any execution
    * order can produce, so Spark's double-accumulating Average — and the
    * exact quotient served here — agree bit-for-bit. Outside that regime
    * the scan result is order-dependent and serving declines. */
  def serveAvg(dt: DataType, sum: BigDecimal, nonNull: Long, maxAbs: BigDecimal): Option[(DataType, Any)] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (nonNull == 0) Some((DoubleType, null))
        else if (maxAbs * BigDecimal(nonNull) <= BigDecimal(1L << 53))
          Some((DoubleType, sum.toDouble / nonNull.toDouble: Any))
        else None
      case _ => None // decimal AVG has its own rounding; double declines
    }
}
