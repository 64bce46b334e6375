package graft.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.time.LocalDate

/** The lake's transforms and z-value as Spark V2 functions (Iceberg's):
  * `years`, `months`, `days` (ordinals since 1970, the epoch day; UTC),
  * `bucket`, `truncate`, `zorder`, served by the `graft` catalog and
  * clustered on by [[LakeTable.writeArrangement]]. Values are equal exactly
  * when the writer's rendered partition values are; order-preserving ones
  * are monotone. The temporal functions and `truncate` declare the static
  * `invoke` Spark's generated code calls, so a month sorts as an int.
  * `bucket` keeps `produceResult` (a null input lands in the bucket of the
  * hash seed, which null-in-null-out magic methods cannot express), as
  * does `zorder` (any number and type of keys). */
object LakeFunctions extends FunctionCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = ()
  override def name(): String = "graft"

  private val functions: Map[String, UnboundFunction] = Seq(
    unbound("years", "years(d): years since 1970 of a date or timestamp (UTC)") {
      case Seq(dt) if temporal(dt) => new YearsFunction(dt) },
    unbound("months", "months(d): months since 1970-01 of a date or timestamp (UTC)") {
      case Seq(dt) if temporal(dt) => new MonthsFunction(dt) },
    unbound("days", "days(d): days since 1970-01-01 of a date or timestamp (UTC)") {
      case Seq(dt) if temporal(dt) => new DaysFunction(dt) },
    unbound("bucket", "bucket(n, v): pmod(murmur3(v, seed=42), n) — the lake's bucket transform") {
      case Seq(IntegerType, dt) => new BucketFunction(dt) },
    unbound("truncate", "truncate(w, s): the first w code points of s; NULL for NULL or ''") {
      case Seq(IntegerType, dt: StringType) => new TruncateFunction(dt) },
    unbound("zorder", "zorder(k1, ...): the keys' 64-bit ordered forms, bit-interleaved") {
      case keys if keys.nonEmpty && keys.forall(ZOrder.supported) => new ZOrderFunction(keys) }
  ).map(f => f.name() -> f).toMap

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    functions.keys.toArray.sorted.map(Identifier.of(namespace, _))

  override def loadFunction(ident: Identifier): UnboundFunction =
    functions.getOrElse(ident.name().toLowerCase(java.util.Locale.ROOT),
      throw new NoSuchFunctionException(ident))

  /** A partition field as a V2 transform over its source column. */
  def expression(pf: PartitionField): org.apache.spark.sql.connector.expressions.Transform = {
    val src = quoted(pf.source)
    pf.transform match {
      case Transform.Identity    => Expressions.identity(src)
      case Transform.Year        => Expressions.years(src)
      case Transform.Month       => Expressions.months(src)
      case Transform.Day         => Expressions.days(src)
      case Transform.Bucket(n)   => Expressions.bucket(n, src)
      case Transform.Truncate(w) =>
        Expressions.apply("truncate", Expressions.literal(w), Expressions.column(src))
    }
  }

  /** The z-value of `keys` as a V2 expression. */
  def zorder(keys: Seq[String]): VExpression =
    Expressions.apply("zorder", keys.map(k => Expressions.column(quoted(k)): VExpression): _*)

  /** A single-part column name (a dotted one would parse as a path). */
  def quoted(n: String): String = "`" + n.replace("`", "``") + "`"

  private def temporal(dt: DataType): Boolean =
    dt == DateType || dt == TimestampType || dt == TimestampNTZType

  private def unbound(fname: String, desc: String)(
      bindTo: PartialFunction[Seq[DataType], BoundFunction]): UnboundFunction =
    new UnboundFunction {
      override def name(): String = fname
      override def description(): String = desc
      override def bind(inputType: StructType): BoundFunction = {
        val types = inputType.fields.map(_.dataType).toSeq
        bindTo.applyOrElse(types, (_: Seq[DataType]) => throw new UnsupportedOperationException(
          s"graft.$fname does not take (${types.map(_.sql).mkString(", ")}): $desc"))
      }
    }

  private[lake] def epochDay(micros: Long): Int = Math.floorDiv(micros, 86400L * 1000000L).toInt
}

/** One temporal transform over a date (epoch day) or timestamp (µs). */
sealed abstract class TemporalFunction(fname: String, source: DataType, ofDay: Int => Int)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(source)
  override def resultType(): DataType = IntegerType
  override def name(): String = fname
  override def canonicalName(): String = s"graft.$fname(${source.simpleString})"
  override def produceResult(input: InternalRow): Integer =
    if (input.isNullAt(0)) null
    else if (source == DateType) ofDay(input.getInt(0))
    else ofDay(LakeFunctions.epochDay(input.getLong(0)))
}

final class YearsFunction(source: DataType)
    extends TemporalFunction("years", source, YearsFunction.invoke(_: Int))
object YearsFunction {
  def invoke(days: Int): Int = LocalDate.ofEpochDay(days.toLong).getYear - 1970
  def invoke(micros: Long): Int = invoke(LakeFunctions.epochDay(micros))
}

final class MonthsFunction(source: DataType)
    extends TemporalFunction("months", source, MonthsFunction.invoke(_: Int))
object MonthsFunction {
  def invoke(days: Int): Int = {
    val d = LocalDate.ofEpochDay(days.toLong)
    (d.getYear - 1970) * 12 + d.getMonthValue - 1
  }
  def invoke(micros: Long): Int = invoke(LakeFunctions.epochDay(micros))
}

final class DaysFunction(source: DataType)
    extends TemporalFunction("days", source, DaysFunction.invoke(_: Int))
object DaysFunction {
  def invoke(days: Int): Int = days
  def invoke(micros: Long): Int = LakeFunctions.epochDay(micros)
}

/** `bucket(n, v)`: the writer's bucket ([[Transform.bucketOf]]), so
  * clustering, SPJ key grouping and the written files agree bit for bit. */
final class BucketFunction(source: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, source)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft.bucket(${source.simpleString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    Transform.bucketOf(input.getInt(0), if (input.isNullAt(1)) null else input.get(1, source), source)
}

/** `truncate(w, s)`: the first `w` code points (Spark's substring, like
  * [[Transform.Truncate]]); '' is NULL, as the writer renders both alike. */
final class TruncateFunction(source: DataType) extends ScalarFunction[UTF8String] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, source)
  override def resultType(): DataType = source
  override def name(): String = "truncate"
  override def canonicalName(): String = s"graft.truncate(${source.simpleString})"
  override def produceResult(input: InternalRow): UTF8String =
    if (input.isNullAt(1)) null else TruncateFunction.invoke(input.getInt(0), input.getUTF8String(1))
}
object TruncateFunction {
  def invoke(w: Int, s: UTF8String): UTF8String =
    if (s == null || s.numBytes() == 0) null else s.substring(0, w)
}

/** `zorder(k1, …)`: [[ZOrder.interleave]] of the keys' ordered forms, from
  * the row alone; NULL keys order first. */
final class ZOrderFunction(keys: Seq[DataType]) extends ScalarFunction[Array[Byte]] {
  override def inputTypes(): Array[DataType] = keys.toArray
  override def resultType(): DataType = BinaryType
  override def name(): String = "zorder"
  override def canonicalName(): String = s"graft.zorder(${keys.map(_.simpleString).mkString(",")})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Array[Byte] =
    ZOrder.interleave(Array.tabulate(keys.length)(i =>
      if (input.isNullAt(i)) 0L else ZOrder.orderedBits(input.get(i, keys(i)), keys(i))))
}
