package graft.lake

import org.apache.spark.sql.SparkSession
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
  * commit) on every write route; `spark.graft.lake.recordSums` = false
  * skips recording them. Only EXACT domains are recorded: integral and
  * decimal sums accumulate in unbounded BigDecimal; double/float sums are
  * order-dependent and never recorded, so a metadata-served result can
  * never differ from the scan it replaces. */
object ColumnSums {

  /** Columns whose sums are exact and order-independent. Decimals cap at
    * precision 28 so a sum in decimal(38,s) cannot overflow even at 2^31
    * rows (10^28 × 2^31 < 10^38). */
  def summable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.precision <= 28
    case _ => false
  }

  def recordSums(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.lake.recordSums").forall(_.toBoolean)

  // -------------------------------------------------------------- serving

  /** Exact (sum, non-null count) of `colName` across `files` from the
    * recorded per-file stats; None = some file lacks them (old metadata,
    * dropped stats, recording disabled) — caller declines to the scan. */
  def totals(colName: String, files: Seq[DataFile]): Option[(BigDecimal, Long)] = {
    var total = BigDecimal(0)
    var nn = 0L
    files.foreach { f =>
      val n = f.nonNull.getOrElse(colName, return None)
      if (n > 0) {
        val s = f.sums.getOrElse(colName, return None)
        total += BigDecimal(s)
        nn += n
      }
    }
    Some((total, nn))
  }

  /** SUM(field) over `files` as (Spark result type, Catalyst value);
    * None = decline. Empty/all-null sums to NULL; an integral total
    * outside Long (where the scan would overflow) declines. */
  def serveSum(field: StructField, files: Seq[DataFile]): Option[(DataType, Any)] =
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        totals(field.name, files).flatMap { case (s, nn) =>
          if (nn == 0) Some((LongType, null))
          else if (s.isValidLong) Some((LongType, s.toLong: Any))
          else None
        }
      case d: DecimalType =>
        val rt = DecimalType(math.min(38, d.precision + 10), d.scale)
        totals(field.name, files).flatMap { case (s, nn) =>
          if (nn == 0) Some((rt, null))
          else {
            val v = org.apache.spark.sql.types.Decimal(s)
            if (v.changePrecision(rt.precision, rt.scale)) Some((rt, v: Any)) else None
          }
        }
      case _ => None // double/float sums are order-dependent: never served
    }

  /** COUNT(field) (non-null count) over `files`; works for EVERY column
    * type — the counts come from footer stats, not the sums job. */
  def serveCount(field: StructField, files: Seq[DataFile]): Option[Long] = {
    var nn = 0L
    files.foreach(f => nn += f.nonNull.getOrElse(field.name, return None))
    Some(nn)
  }

  /** AVG(field) for integral columns, served only in the provably EXACT
    * double regime: every |value| ≤ M (from recorded bounds) and
    * M × count ≤ 2^53 bounds every partial double sum any execution order
    * can produce, so Spark's double-accumulating Average — and the exact
    * quotient served here — agree bit-for-bit. Outside that regime the
    * scan result is order-dependent and serving declines. */
  def serveAvg(field: StructField, files: Seq[DataFile]): Option[(DataType, Any)] = {
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case _ => return None // decimal AVG has its own rounding; double declines
    }
    totals(field.name, files).flatMap { case (s, nn) =>
      if (nn == 0) Some((DoubleType, null))
      else {
        val contributing = files.filter(_.nonNull.getOrElse(field.name, 0L) > 0)
        val m = contributing.foldLeft(BigDecimal(0)) { (acc, f) =>
          f.bounds.get(field.name) match {
            case Some(b) if b.kind == "n" =>
              acc.max(BigDecimal(b.min).abs).max(BigDecimal(b.max).abs)
            case _ => return None
          }
        }
        val exactLimit = BigDecimal(1L << 53)
        if (m * BigDecimal(nn) <= exactLimit)
          Some((DoubleType, s.toDouble / nn.toDouble: Any))
        else None
      }
    }
  }
}
