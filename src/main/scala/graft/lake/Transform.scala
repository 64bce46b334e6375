package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Iceberg-style hidden-partition transforms (reference:
  * olake-config/destination.json:37-73 declares identity/month/day specs;
  * OLAKE_UI_PIPELINE.md:43-48). The writer renders each row's partition
  * value ([[LakeFileWriter]]), and write arrangements cluster on the
  * transform's V2 function ([[LakeFunctions]]).
  *
  * A transform does two jobs:
  *   - `valueOf`: render a predicate literal into the same partition-value
  *     string the writer produced (directory encoding), so the reader can
  *     prune data files from snapshot metadata before Spark ever lists them
  *     (reference behavior: `use_iceberg_partition_pruning=1`,
  *     scripts/iceberg-setup.sql:2);
  *   - `mayMatch`: conservative file-survival test for a pruning filter.
  *     Conservative = never prunes a file that could contain a match; the
  *     reader always re-applies the raw predicate, so pruning is a pure
  *     I/O optimization and never a correctness dependency.
  */
sealed trait Transform {
  def name: String

  /** Whether this transform applies to a source column of type `dt` — the
    * Iceberg transform table (https://iceberg.apache.org/spec/#partition-transforms)
    * as far as this format implements it. Table creation and spec
    * evolution refuse any other pair. */
  def accepts(dt: DataType): Boolean

  /** Render a raw-column literal as the partition-value string, or None if
    * this transform cannot map the literal (then no pruning happens). */
  def valueOf(literal: Any): Option[String]

  /** Whether partition-value ordering mirrors source-column ordering (lets
    * range predicates prune). String compare is safe because rendered values
    * are fixed-width per transform. */
  def orderPreserving: Boolean

  /** Ordering comparison between a file's stored partition value and a raw
    * predicate literal mapped through this transform:
    * Some(sign(file - transform(literal))) when an ordered comparison is
    * sound, None otherwise (→ the caller keeps the file). The default
    * covers order-preserving transforms whose rendered values are
    * fixed-width (so string compare = value compare); [[Identity]]
    * overrides with TYPED comparison because its rendering is raw
    * (lexicographic "10" < "2" would mis-prune numbers). */
  def rangeCompare(fileValue: String, literal: Any): Option[Int] =
    if (!orderPreserving) None
    else valueOf(literal).map { r =>
      // compare by UTF-8 bytes, matching Spark's UTF8String binary order —
      // Java's UTF-16 compareTo disagrees around supplementary characters
      // (relevant for truncate[w] over arbitrary strings; the temporal
      // transforms render ASCII where the two orders coincide)
      val a = fileValue.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = r.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Integer.signum(java.util.Arrays.compareUnsigned(a, b))
    }
}

object Transform {
  case object Identity extends Transform {
    val name = "identity"
    def accepts(dt: DataType): Boolean = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType | _: StringType | BinaryType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    // Temporal literals are NOT rendered: the writer's partition directory
    // uses Spark's cast-to-string form ("yyyy-MM-dd HH:mm:ss[.S]"), which
    // this side cannot reproduce exactly across fractional-second shapes —
    // a mismatched render would FALSELY PRUNE the matching file. Returning
    // None keeps identity-on-temporal conservative (no pruning, residual
    // filter still applies). Strings/numbers/booleans render verbatim.
    def valueOf(literal: Any): Option[String] = literal match {
      case null => Some(PartitionValues.NullSentinel)
      case _: java.sql.Timestamp | _: java.sql.Date | _: Instant |
           _: LocalDate | _: LocalDateTime => None
      // binary has no stable string form; a decimal literal's scale need
      // not be the column's ("1.5" vs the rendered "1.50") — rangeCompare
      // still compares decimals numerically
      case _: Array[Byte] | _: java.math.BigDecimal | _: BigDecimal => None
      case other => Some(other.toString)
    }
    // identity over numbers renders without fixed width, so lexicographic
    // range compare would be wrong ("10" < "2"); rangeCompare below does a
    // TYPED comparison instead.
    val orderPreserving = false

    /** Typed range comparison: parse the stored value back in the
      * literal's own type and compare numerically (integers via BigInt,
      * fractionals via BigDecimal — decimal ordering = real-value ordering
      * = double ordering), strings by UTF-8 byte order (Spark's
      * UTF8String binary comparison — Java's UTF-16 compareTo disagrees
      * around supplementary characters and could falsely prune). Temporal
      * literals stay un-renderable (None), same as valueOf. */
    override def rangeCompare(fileValue: String, literal: Any): Option[Int] =
      try literal match {
        case _: Long | _: Int | _: Short | _: Byte =>
          val lit = BigInt(literal.toString)
          Some(BigInt(fileValue).compare(lit).sign)
        case _: java.math.BigDecimal | _: BigDecimal | _: Double | _: Float =>
          val lit = BigDecimal(literal.toString)
          Some(BigDecimal(fileValue).compare(lit).sign)
        case s: String =>
          val a = fileValue.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Some(java.util.Arrays.compareUnsigned(a, b).sign)
        case b: Boolean =>
          Some(fileValue.toBoolean.compare(b).sign)
        case _ => None
      } catch { case _: NumberFormatException | _: IllegalArgumentException => None }
  }

  /** yyyy partition key. */
  case object Year extends Transform {
    val name = "year"
    def accepts(dt: DataType): Boolean = temporalType(dt)
    def valueOf(literal: Any): Option[String] = temporal(literal).map(_.format(Y))
    val orderPreserving = true
  }

  /** yyyy-MM partition key (the reference's orders spec:
    * destination.json:170-179 `month(order_date)`). */
  case object Month extends Transform {
    val name = "month"
    def accepts(dt: DataType): Boolean = temporalType(dt)
    def valueOf(literal: Any): Option[String] = temporal(literal).map(_.format(YM))
    val orderPreserving = true
  }

  /** yyyy-MM-dd partition key (destination.json:207-212 `day(login_time)`). */
  case object Day extends Transform {
    val name = "day"
    def accepts(dt: DataType): Boolean = temporalType(dt)
    def valueOf(literal: Any): Option[String] = temporal(literal).map(_.format(YMD))
    val orderPreserving = true
  }

  /** Hash bucket (Iceberg `bucket[n]`); never prunes from metadata
    * (`valueOf` is None — see the note inside), co-location only. */
  final case class Bucket(n: Int) extends Transform {
    val name = s"bucket[$n]"
    def accepts(dt: DataType): Boolean = true
    // Literal bucketing needs the source column's exact Catalyst TYPE to
    // hash (Murmur3 is type-dependent) and PruneFilter literals arrive
    // type-erased, so metadata pruning stays off; the residual filter
    // still applies. JVM-side derivation for a KNOWN type is exact — see
    // [[Transform.bucketOf]].
    def valueOf(literal: Any): Option[String] = None
    val orderPreserving = false
  }

  /** The bucket derivation — Spark's `pmod(hash(col), n)` (Murmur3, seed
    * 42; Spark's hash EXPRESSION skips null children, leaving the hash at
    * the seed, so a null key lands in `pmod(42, n)`, never a null
    * partition). Shared by the writer's per-row partition rendering and
    * the `bucket` V2 function ([[LakeFunctions]]) so every write route,
    * its clustering and the storage-partitioned-join key grouping derive
    * the same bucket for the same key. `value` is the Catalyst-internal representation (UTF8String for
    * strings, micros for timestamps). */
  def bucketOf(n: Int, value: Any, dt: DataType): Int = {
    val h: Long =
      if (value == null) 42L
      else org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(value, dt, 42L)
    ((h.toInt % n) + n) % n
  }

  /** String prefix truncation (Iceberg `truncate[w]`). */
  final case class Truncate(w: Int) extends Transform {
    val name = s"truncate[$w]"
    def accepts(dt: DataType): Boolean =
      dt.isInstanceOf[StringType]
    // truncate by CODE POINTS, matching Spark's substring (UTF8String
    // counts code points) — String.take counts UTF-16 units and would
    // render a different prefix for supplementary characters (splitting a
    // surrogate pair), mismatching the stored partition value and falsely
    // pruning the file on equality.
    def valueOf(literal: Any): Option[String] = literal match {
      case s: String =>
        val cp = s.codePointCount(0, s.length)
        Some(if (cp <= w) s else s.substring(0, s.offsetByCodePoints(0, w)))
      case _ => None
    }
    val orderPreserving = true
  }

  def parse(s: String): Transform = s match {
    case "identity" => Identity
    case "year"     => Year
    case "month"    => Month
    case "day"      => Day
    case b if b.startsWith("bucket[")   => Bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt)
    case t if t.startsWith("truncate[") => Truncate(t.stripPrefix("truncate[").stripSuffix("]").toInt)
    case other => throw new IllegalArgumentException(s"unknown transform: $other")
  }

  private def temporalType(dt: DataType): Boolean =
    dt == DateType || dt == TimestampType || dt == TimestampNTZType

  private[lake] val Y   = DateTimeFormatter.ofPattern("yyyy")
  private[lake] val YM  = DateTimeFormatter.ofPattern("yyyy-MM")
  private[lake] val YMD = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  /** Literal → UTC LocalDateTime, matching Spark's UTC session timezone. */
  private def temporal(v: Any): Option[LocalDateTime] = v match {
    case t: java.sql.Timestamp => Some(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case d: java.sql.Date      => Some(d.toLocalDate.atStartOfDay)
    case d: LocalDate          => Some(d.atStartOfDay)
    case d: LocalDateTime      => Some(d)
    case i: Instant            => Some(LocalDateTime.ofInstant(i, ZoneOffset.UTC))
    case s: String =>
      try Some(LocalDate.parse(s.take(10)).atStartOfDay)
      catch { case _: Exception => None }
    case _ => None
  }

}

object PartitionValues {
  /** Spark/Hive's directory encoding for a null partition value. */
  val NullSentinel = "__HIVE_DEFAULT_PARTITION__"
}

/** One field of a partition spec: derive `name` from `source` via
  * `transform` (e.g. month(o_orderdate) AS p_month). */
final case class PartitionField(source: String, transform: Transform, name: String)

/** File-level pruning predicates over RAW source columns. The reader maps
  * them through the partition spec to survive/skip data files, then
  * re-applies them as ordinary Catalyst filters (so results never depend on
  * pruning being precise). */
sealed trait PruneFilter { def column: String; def toColumn: Column }
object PruneFilter {
  import org.apache.spark.sql.functions.{col => c, lit}

  final case class Eq(column: String, value: Any) extends PruneFilter {
    def toColumn: Column = c(column) === lit(value)
  }
  final case class Ge(column: String, value: Any) extends PruneFilter {
    def toColumn: Column = c(column) >= lit(value)
  }
  final case class Gt(column: String, value: Any) extends PruneFilter {
    def toColumn: Column = c(column) > lit(value)
  }
  final case class Lt(column: String, value: Any) extends PruneFilter {
    def toColumn: Column = c(column) < lit(value)
  }
  final case class Le(column: String, value: Any) extends PruneFilter {
    def toColumn: Column = c(column) <= lit(value)
  }
  final case class In(column: String, values: Seq[Any]) extends PruneFilter {
    def toColumn: Column = c(column).isin(values: _*)
  }

  /** Conservative survival test of one data file (its partition values)
    * against one filter, given the table's partition spec. */
  def mayMatch(spec: Seq[PartitionField], partition: Map[String, String], f: PruneFilter): Boolean = {
    val relevant = spec.filter(_.source == f.column)
    if (relevant.isEmpty) return true // not a partition source: cannot prune
    relevant.forall { pf =>
      partition.get(pf.name) match {
        case None => true
        case Some(PartitionValues.NullSentinel) =>
          // the sentinel is what Spark's directory rendering writes for a
          // null partition value — AND for an EMPTY STRING (Hive's default-
          // partition convention conflates them). A null can never satisfy
          // a comparison against a non-null literal, so sentinel files
          // prune for numeric/temporal/bool literals; but when the
          // literal is a STRING the file may hold rows whose value is ""
          // (e.g. "" == "" for Eq, "" < "b" for Lt) — keep conservatively,
          // the scan re-applies the exact predicate either way.
          f match {
            case Eq(_, v)  => v.isInstanceOf[String]
            case In(_, vs) => vs.exists(_.isInstanceOf[String])
            case Ge(_, v)  => v.isInstanceOf[String]
            case Gt(_, v)  => v.isInstanceOf[String]
            case Lt(_, v)  => v.isInstanceOf[String]
            case Le(_, v)  => v.isInstanceOf[String]
          }
        case Some(fileValue) =>
          f match {
            case Eq(_, v) => pf.transform.valueOf(v).forall(_ == fileValue)
            case In(_, vs) =>
              val rendered = vs.flatMap(pf.transform.valueOf)
              rendered.size != vs.size || rendered.contains(fileValue)
            // Range shapes via rangeCompare (None → keep). All four are
            // INCLUSIVE at the boundary bucket: col > V still admits the
            // bucket holding V (other rows of that bucket may exceed V),
            // so Gt prunes like Ge and Le like Lt — conservative for every
            // monotone transform, exact re-filtering happens at scan.
            case Ge(_, v) => pf.transform.rangeCompare(fileValue, v).forall(_ >= 0)
            case Gt(_, v) => pf.transform.rangeCompare(fileValue, v).forall(_ >= 0)
            case Lt(_, v) => pf.transform.rangeCompare(fileValue, v).forall(_ <= 0)
            case Le(_, v) => pf.transform.rangeCompare(fileValue, v).forall(_ <= 0)
          }
      }
    }
  }
}
