package graft.lake

import org.apache.spark.sql.types._

/** Z-ORDER (Morton-curve) clustering for multi-column file skipping.
  * Sorting by `(a, b)` tightens per-file bounds only on `a`; a zorder
  * table's writes instead range-partition and sort on the bit-interleaved
  * keys ([[LakeTable.writeArrangement]], the `zorder` V2 function), so
  * each file covers a small hyper-cube and its bounds skip on EVERY key.
  * The z-value has the shape of Iceberg's `ZOrderByteUtils` and depends on
  * the row alone, so every write route z-arranges identically. Keys of
  * very different magnitudes interleave unevenly: the wider key's high
  * bits lead the curve. */
object ZOrder {

  /** Column types a z-order key may have. */
  def supported(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `v` (Catalyst-internal) as a long whose UNSIGNED order is the value
    * order: sign bit flipped, fractions via the IEEE-754 order trick. */
  def orderedBits(v: Any, dt: DataType): Long = dt match {
    case ByteType => v.asInstanceOf[Byte].toLong ^ Long.MinValue
    case ShortType => v.asInstanceOf[Short].toLong ^ Long.MinValue
    case IntegerType | DateType => v.asInstanceOf[Int].toLong ^ Long.MinValue
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long] ^ Long.MinValue
    case FloatType => doubleBits(v.asInstanceOf[Float].toDouble)
    case DoubleType => doubleBits(v.asInstanceOf[Double])
    case _: DecimalType => doubleBits(v.asInstanceOf[Decimal].toDouble)
    case other => throw new IllegalArgumentException(s"z-order key of type ${other.sql}")
  }

  private def doubleBits(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    if (bits < 0) ~bits else bits ^ Long.MinValue
  }

  /** Bit `i` (from the top) of key `j` lands at output bit `i·n + j`:
    * binary order of the result is the keys' Morton order. */
  def interleave(keys: Array[Long]): Array[Byte] = {
    val n = keys.length
    val out = new Array[Byte](8 * n)
    for (pos <- 0 until 64 * n if ((keys(pos % n) >>> (63 - pos / n)) & 1L) != 0L)
      out(pos >>> 3) = (out(pos >>> 3) | (0x80 >>> (pos & 7))).toByte
    out
  }
}
