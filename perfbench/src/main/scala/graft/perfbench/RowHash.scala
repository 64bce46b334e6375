package graft.perfbench

import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Order-independent answer digest: row count plus the wrapping 64-bit sum
  * of each row's SHA-256 prefix, over a canonical text of the row with
  * columns taken in sorted-name order. `oracle_answers.py` implements the
  * same rules over DuckDB results, so a Spark answer and its DuckDB oracle
  * digest identically exactly when they hold the same multiset of rows.
  *
  * Canonical values: `N` null, `T`/`F` booleans, `i<n>` integers,
  * `D<plain>` decimals without trailing zeros, `f<hex bits>` doubles
  * (floats widen exactly; -0.0 folds to 0.0), `S<utf8 len>:<text>`
  * strings, `t<epoch µs>` timestamps, `d<epoch day>` dates, `x<hex>`
  * binary, `[a,b]` arrays and `{a,b}` structs. */
object RowHash {

  final case class Digest(rows: Long, hash: String)

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => s"i$x"
    case x: Short => s"i$x"
    case x: Int => s"i$x"
    case x: Long => s"i$x"
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case d: java.math.BigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case s: String => s"S${s.getBytes(StandardCharsets.UTF_8).length}:$s"
    case t: java.sql.Timestamp => s"t${micros(t.toInstant)}"
    case t: java.time.Instant => s"t${micros(t)}"
    case t: java.time.LocalDateTime => s"t${micros(t.toInstant(java.time.ZoneOffset.UTC))}"
    case d: java.sql.Date => s"d${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"d${d.toEpochDay}"
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}; extend RowHash and oracle_answers.py together")
  }

  private def double(x: Double): String =
    if (x.isNaN) "fNaN"
    else f"f${java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x)}%016x"

  private def decimal(d: java.math.BigDecimal): String =
    if (d.signum == 0) "D0" else "D" + d.stripTrailingZeros.toPlainString

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)

  def rowHash(text: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def digest(columns: Seq[String], rows: Iterator[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => canon(r.get(i))).mkString("\u001f"))
      n += 1
    }
    Digest(n, f"$sum%016x")
  }
}
