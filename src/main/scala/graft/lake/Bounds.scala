package graft.lake

import org.apache.parquet.column.statistics._
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets

/** Per-file column bounds — Iceberg's `lower_bounds`/`upper_bounds`
  * (reference tables record per-column min/max metrics:
  * olake-config/destination.json:84-87 `write.metadata.metrics.default`)
  * — taken from the writer's own parquet footer statistics when the file
  * closes ([[LakeFileWriter]]) and stored in the manifest entry, so a filtered scan can skip whole FILES from
  * metadata alone, before any task launches. Clustering at write
  * ([[LakeTable]] sorts on the cluster keys) makes these ranges tight
  * exactly where queries filter.
  *
  * `kind` names the value domain: "n" = numeric (integers, exact decimal
  * expansions of floats, DATE epoch days, TIMESTAMP epoch micros), "d" =
  * DECIMAL recorded SCALED by the column's parquet decimal annotation,
  * "s" = UTF-8 string. "n" and "d" both hold plain numeric values, so any
  * numeric literal compares exactly against either; "d" tells metadata
  * serving the column is decimal. A bound only ever compares against a
  * literal of its own domain; any mismatch or unparseable shape keeps the
  * file (pruning is conservative by construction — the raw predicate is
  * always re-applied at scan). */
final case class ColBound(kind: String, min: String, max: String)

object ColumnBounds {
  /** Max rendered length of a string bound; longer values drop the column
    * (same spirit as Iceberg's truncate(16) metric mode, without the
    * round-up subtlety of truncated upper bounds). */
  val MaxStringLen = 64

  /** Numeric bounds are rounded to 30 significant digits — DOWN for mins,
    * UP for maxes — so exact decimal expansions of doubles stay short
    * while the interval only ever widens (never mis-prunes). */
  private val FloorMc = new MathContext(30, RoundingMode.FLOOR)
  private val CeilMc  = new MathContext(30, RoundingMode.CEILING)

  // ------------------------------------------------------------- extraction

  /** Bounds of one parquet file from its footer — a column contributes
    * iff every row group carries usable statistics for it (all-null row
    * groups contribute nothing: null rows can never satisfy a comparison
    * predicate, so they do not widen the value interval) — PLUS per-column
    * non-null value counts from the same pass (total rows minus the
    * chunks' recorded `num_nulls`). A column whose null count is unset in
    * any chunk is absent from the count map; the two maps drop columns
    * independently (an all-NaN double column has no usable bounds but an
    * exact non-null count). */
  def statsFromFooter(footer: ParquetMetadata): (Map[String, ColBound], Map[String, Long]) = {
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala.toSeq
    if (blocks.isEmpty) return (Map.empty, Map.empty)
    var acc = Map.empty[String, (String, BigDecimal, BigDecimal, Array[Byte], Array[Byte])]
    var dropped = Set.empty[String]
    val totalRows = blocks.map(_.getRowCount).sum
    var nulls = Map.empty[String, Long]
    var nullsDropped = Set.empty[String]

    def widenNum(name: String, mn: BigDecimal, mx: BigDecimal, kind: String = "n"): Unit =
      acc.get(name) match {
        case None => acc += name -> ((kind, mn, mx, null, null))
        case Some((`kind`, amn, amx, _, _)) =>
          acc += name -> ((kind, amn.min(mn), amx.max(mx), null, null))
        case _ => dropped += name
      }
    def widenStr(name: String, mn: Array[Byte], mx: Array[Byte]): Unit =
      acc.get(name) match {
        case None => acc += name -> (("s", null, null, mn, mx))
        case Some(("s", _, _, amn, amx)) =>
          val nmn = if (java.util.Arrays.compareUnsigned(mn, amn) < 0) mn else amn
          val nmx = if (java.util.Arrays.compareUnsigned(mx, amx) > 0) mx else amx
          acc += name -> (("s", null, null, nmn, nmx))
        case _ => dropped += name
      }

    // Decimal columns store UNSCALED integers in footer stats (150.00 as
    // decimal(10,2) → 15000, INT32/INT64 for precision ≤ 18 and
    // two's-complement big-endian bytes for FIXED_LEN_BYTE_ARRAY/BINARY
    // beyond); the pushed literal arrives SCALED, so record bounds
    // re-scaled by the column's decimal annotation — under kind "d" — or
    // the comparison in `cmp` silently prunes matching files.
    def decimalAnnotation(
        col: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
        : Option[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =
      col.getPrimitiveType.getLogicalTypeAnnotation match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d)
        case _ => None
      }
    def widenIntegral(
        col: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
        name: String, mn: Long, mx: Long): Unit =
      decimalAnnotation(col) match {
        case Some(d) => widenNum(name,
          BigDecimal(java.math.BigDecimal.valueOf(mn, d.getScale)),
          BigDecimal(java.math.BigDecimal.valueOf(mx, d.getScale)), kind = "d")
        case None => widenNum(name, BigDecimal(mn), BigDecimal(mx))
      }

    blocks.foreach { block =>
      block.getColumns.asScala.foreach { col =>
        val name = col.getPath.toDotString
        if (name != LakeTable.SeqCol) {
          val stats = col.getStatistics
          if (stats == null || !stats.isNumNullsSet) nullsDropped += name
          else nulls += name -> (nulls.getOrElse(name, 0L) + stats.getNumNulls)
        }
        if (!dropped(name) && name != LakeTable.SeqCol) {
          val stats = col.getStatistics
          if (stats == null || stats.isEmpty) dropped += name
          else if (!stats.hasNonNullValue) () // all-null chunk: no widening
          else stats match {
            case s: IntStatistics =>
              widenIntegral(col, name, s.getMin.toLong, s.getMax.toLong)
            case s: LongStatistics =>
              widenIntegral(col, name, s.getMin, s.getMax)
            case s: FloatStatistics =>
              if (s.getMin.isNaN || s.getMax.isNaN) dropped += name
              // exact binary expansion — shortest-repr toString would shave
              // sub-ulp mass off the interval and could mis-prune boundary
              // predicates
              else widenNum(name,
                BigDecimal(new java.math.BigDecimal(s.getMin.toDouble)),
                BigDecimal(new java.math.BigDecimal(s.getMax.toDouble)))
            case s: DoubleStatistics =>
              if (s.getMin.isNaN || s.getMax.isNaN) dropped += name
              else widenNum(name,
                BigDecimal(new java.math.BigDecimal(s.getMin)),
                BigDecimal(new java.math.BigDecimal(s.getMax)))
            case s: BinaryStatistics
                if col.getPrimitiveType.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              val mn = s.genericGetMin.getBytes
              val mx = s.genericGetMax.getBytes
              if (mn.length > MaxStringLen || mx.length > MaxStringLen) dropped += name
              else widenStr(name, mn, mx)
            // FIXED_LEN_BYTE_ARRAY / BINARY decimals (precision > 18):
            // min/max bytes are two's-complement big-endian unscaled
            // integers and parquet-mr orders them with its signed-integer
            // binary comparator, so they are true numeric extremes.
            case s: BinaryStatistics if decimalAnnotation(col).isDefined =>
              val d = decimalAnnotation(col).get
              def dec(b: Array[Byte]): Option[BigDecimal] =
                if (b.isEmpty) None
                else Some(BigDecimal(
                  new java.math.BigDecimal(new java.math.BigInteger(b), d.getScale)))
              (dec(s.genericGetMin.getBytes), dec(s.genericGetMax.getBytes)) match {
                case (Some(mn), Some(mx)) => widenNum(name, mn, mx, kind = "d")
                case _ => dropped += name
              }
            case _ => dropped += name
          }
        }
      }
    }
    val bounds = acc.collect {
      case (name, (k @ ("n" | "d"), mn, mx, _, _)) if !dropped(name) =>
        name -> ColBound(k,
          mn.round(FloorMc).underlying.toPlainString,
          mx.round(CeilMc).underlying.toPlainString)
      case (name, ("s", _, _, mn, mx)) if !dropped(name) =>
        name -> ColBound("s",
          new String(mn, StandardCharsets.UTF_8), new String(mx, StandardCharsets.UTF_8))
    }
    val nonNull = nulls.collect {
      case (name, numNulls) if !nullsDropped(name) => name -> (totalRows - numNulls)
    }
    (bounds, nonNull)
  }

  // -------------------------------------------------------------- pruning

  /** sign(bound - literal) in the bound's domain, None when incomparable
    * (→ caller keeps the file). */
  private def cmp(b: ColBound, bound: String, literal: Any): Option[Int] =
    (b.kind, canon(literal)) match {
      case ("n" | "d", Some(Left(lit))) =>
        try Some(BigDecimal(bound).compare(lit).sign)
        catch { case _: NumberFormatException => None }
      case ("s", Some(Right(lit))) =>
        Some(java.util.Arrays.compareUnsigned(
          bound.getBytes(StandardCharsets.UTF_8), lit).sign)
      case _ => None
    }

  /** Literal → its comparison domain. Temporal types canonicalize to the
    * same integers parquet stores (DATE → epoch days, TIMESTAMP → epoch
    * micros UTC); floats/doubles to their exact decimal expansion. */
  private def canon(v: Any): Option[Either[BigDecimal, Array[Byte]]] = v match {
    case null => None
    case s: String => Some(Right(s.getBytes(StandardCharsets.UTF_8)))
    case n @ (_: Long | _: Int | _: Short | _: Byte) => Some(Left(BigDecimal(n.toString)))
    case d: Double if !d.isNaN => Some(Left(BigDecimal(new java.math.BigDecimal(d))))
    case f: Float if !f.isNaN => Some(Left(BigDecimal(new java.math.BigDecimal(f.toDouble))))
    case d: java.math.BigDecimal => Some(Left(BigDecimal(d)))
    case d: BigDecimal => Some(Left(d))
    case t: java.sql.Timestamp =>
      Some(Left(BigDecimal(t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L)))
    case i: java.time.Instant =>
      Some(Left(BigDecimal(i.getEpochSecond * 1000000L + i.getNano / 1000L)))
    case d: java.time.LocalDateTime =>
      Some(Left(BigDecimal(
        d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000L)))
    case d: java.sql.Date => Some(Left(BigDecimal(d.toLocalDate.toEpochDay)))
    case d: java.time.LocalDate => Some(Left(BigDecimal(d.toEpochDay)))
    case _ => None
  }

  /** Conservative file-survival test against recorded column bounds:
    * false ONLY when no value in [min, max] can satisfy the filter.
    * Bounds cover non-null values; null rows never satisfy a comparison
    * predicate, so their presence cannot invalidate a prune. */
  def mayMatch(bounds: Map[String, ColBound], f: PruneFilter): Boolean =
    bounds.get(f.column) match {
      case None => true // no bounds recorded: cannot prune
      case Some(b) =>
        import PruneFilter._
        def geMin(v: Any) = cmp(b, b.min, v) // sign(min - v)
        def geMax(v: Any) = cmp(b, b.max, v) // sign(max - v)
        f match {
          case Eq(_, v) => geMin(v).forall(_ <= 0) && geMax(v).forall(_ >= 0)
          case In(_, vs) =>
            vs.isEmpty || vs.exists(v => geMin(v).forall(_ <= 0) && geMax(v).forall(_ >= 0))
          case Ge(_, v) => geMax(v).forall(_ >= 0)
          case Gt(_, v) => geMax(v).forall(_ > 0)
          case Lt(_, v) => geMin(v).forall(_ < 0)
          case Le(_, v) => geMin(v).forall(_ <= 0)
        }
    }
}
