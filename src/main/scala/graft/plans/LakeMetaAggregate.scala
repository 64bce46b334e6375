package graft.plans

import graft.lake.{ColBound, ColumnSums, DataFile, PartitionValues, Transform}
import graft.sources.GraftLakeV2Table
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** THE metadata-aggregate path: answers aggregates over lake tables from
  * SNAPSHOT METADATA — ungrouped, or grouped by keys derivable from
  * recorded partition tuples — so the query plans as a driver
  * LocalRelation: zero data I/O at any table size (Iceberg's
  * metadata-count idea, extended to grouped aggregates over partition
  * TRANSFORMS). The reference's `COUNT(*)` after every pipeline stage and
  * the gold rollups are served here; the DSv2 scan implements no
  * aggregate pushdown. Spark cannot translate `month(ts)` / `year(ts)` /
  * `date_format` into connector expressions, so this is an optimizer rule
  * (injected via [[GraftExtensions]], runs BEFORE V2 pushdown) that
  * recognizes the shapes directly in the logical plan. A session without
  * the extensions runs the real scan — same answer, more I/O.
  *
  *   Aggregate(groupings, results, [alias-only Project,] Relation(lake T))
  *
  * where every grouping is one of
  *  - a bare identity-partition-source column,
  *  - `year(d)` / `month(d)` / `dayofmonth(d)` over a year/month/day-
  *    partitioned temporal source (rendered tuples are "yyyy[-MM[-dd]]" —
  *    the value parses straight out of the prefix),
  *  - `date_format(d, 'yyyy' | 'yyyy-MM' | 'yyyy-MM-dd')` at or above the
  *    transform's granularity,
  *  - `substring(s, 1, w)` over a truncate(w)-partitioned string,
  * and every result is a grouping key, COUNT(*) (recorded row counts),
  * MIN/MAX of a column with exact recorded bounds, COUNT(col) (recorded
  * non-null counts), or SUM/AVG of an integral/decimal column with exact
  * recorded per-file sums ([[graft.lake.ColumnSums]] — AVG only in the
  * provably exact double regime) — or a deterministic expression over
  * those (e.g. a post-aggregate cast), computed by a Project above the
  * served LocalRelation.
  *
  * A WHERE clause is admitted when every conjunct classifies every file
  * as wholly-in or wholly-out:
  *  - `=` / `IN` on an identity partition source (the tuple determines
  *    the value; sentinel files are wholly-out for non-null, non-empty
  *    literals — an empty-string literal declines, the sentinel conflates
  *    it with null);
  *  - `>=` / `<` on a year/month/day-partitioned temporal source whose
  *    boundary is EXACTLY aligned to the transform period (a month file
  *    is wholly >= its own first instant; unaligned boundaries decline —
  *    `>` / `<=` always decline, their boundary instant splits a file);
  *  - `IS [NOT] NULL` on a source with any null-preserving recorded
  *    transform (identity/year/month/day/truncate — null rows land in
  *    the sentinel tuple; bucket does not witness null-ness, and a
  *    string sentinel file is undecidable: it conflates null with "").
  *
  * Three steps:
  *  1. RESOLVE the shape from the plan and the partition spec alone — no
  *     file is read. Every grouping key, conjunct and distinct count gets
  *     the spec fields (in spec order) whose transform can answer it; a
  *     shape with no candidate field declines here.
  *  2. FOLD the live file entries in one loop ([[LakeMetaAggregate.Fold]]):
  *     each file reads the first candidate field it records, is checked
  *     (tuple coverage, string-sentinel keys, decidable conjuncts),
  *     classified wholly-in or wholly-out, and merged into its group's
  *     [[LakeMetaAggregate.GroupPartial]]. A file that fails a check
  *     POISONS the fold and the query falls through to the real scan. The
  *     loop runs on the driver up to `spark.graft.lake.metaAggMaxFiles`
  *     entries and in executor tasks above it (merged by one skinny
  *     `reduceByKey`), so a 10⁵-10⁶-file neglected table stays
  *     metadata-only without stalling the planner.
  *  3. RENDER one row per merged partial. A column some folded file could
  *     not answer (missing bounds, sums or counts; an inexact AVG; a type
  *     the aggregate's result type does not match) declines.
  *
  * Declines conservatively — merge-on-read tombstones, missing row
  * counts, non-UTC embedded time zones (rendered tuples are UTC), and
  * string groupings whose files carry the Hive directory sentinel (it
  * conflates null with "") all fall through to the real scan. Null
  * temporal partition values group as NULL keys, matching `month(null)`. */
class LakeMetaAggregate(spark: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate => answer(agg).getOrElse(agg)
  }

  private def answer(agg: Aggregate): Option[LogicalPlan] = {
    // peel alias-only Projects and at most one Filter layer between the
    // aggregate and the relation, collecting alias bindings + conjuncts
    var aliases = Map.empty[ExprId, Expression]
    var conjuncts: Seq[Expression] = Nil
    var relOpt: Option[DataSourceV2Relation] = None
    var cur = agg.child
    var ok = true
    var depth = 0
    while (ok && relOpt.isEmpty && depth < 6) {
      depth += 1
      cur match {
        case Project(list, c)
            if list.forall(e => e.isInstanceOf[Alias] || e.isInstanceOf[AttributeReference]) =>
          aliases ++= list.collect { case a: Alias => a.toAttribute.exprId -> a.child }
          cur = c
        case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c) =>
          conjuncts ++= splitConjunctivePredicates(cond)
          cur = c
        case r: DataSourceV2Relation => relOpt = Some(r)
        case _ => ok = false
      }
    }
    val rel = relOpt.getOrElse(return None)
    val tbl = rel.table match {
      case v: GraftLakeV2Table if !v.raw && !v.changelog => v
      case _ => return None
    }
    val t = tbl.t
    val snap = tbl.snap
    if (snap.deleteFiles.nonEmpty) return None // MoR merge could drop rows
    // memoized decline: the fixed-point optimizer re-applies this rule on
    // every iteration of every batch it sits in, and a fold that already
    // declined against this snapshot would decline again — on a 10⁵-file
    // table that is a planner-side job per re-application. Keyed on
    // (table location, snapshot seq): within one compilation the node's
    // child relation is pinned, and `makeCopy`/`withNewChildren` carry
    // tags, so the memo survives neighboring rewrites of the same query.
    if (agg.getTagValue(LakeMetaAggregate.DeclinedTag).contains((t.location, snap.seq)))
      return None
    val spec = t.specFieldsThrough(snap.specVersion)
    val schema = t.schema(snap.schemaVersion)

    def inline(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if aliases.contains(a.exprId) => aliases(a.exprId)
    }
    def relAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if rel.outputSet.contains(a) => Some(a)
      case _ => None
    }
    // require the zone to be PRESENT and UTC: analysis fills timeZoneId on
    // timezone-aware expressions, so an absent id means an unresolved or
    // hand-copied expression whose effective zone this rule cannot know —
    // decline rather than assume (serving UTC-rendered tuples under a
    // non-UTC session would silently corrupt group keys)
    def utcOk(tz: Option[String]): Boolean = tz.contains("UTC")
    // `d` (temporal source) possibly under a session-tz cast to date
    def temporalSource(e: Expression): Option[AttributeReference] = e match {
      case c: Cast if c.dataType == DateType =>
        relAttr(c.child).filter(a => a.dataType match {
          case TimestampType => utcOk(c.timeZoneId)
          case TimestampNTZType | DateType => true
          case _ => false
        })
      case _ => relAttr(e).filter(_.dataType == DateType)
    }
    // the partition fields of `source` whose transform `allowed` admits,
    // in spec order; each file reads the first one it records
    // ([[LakeMetaAggregate.recordedField]]). None = no field can answer.
    def candidates(source: String, allowed: Transform => Boolean): Option[Seq[String]] =
      Some(spec.filter(pf => pf.source.equalsIgnoreCase(source) && allowed(pf.transform))
        .map(_.name)).filter(_.nonEmpty)
    import LakeMetaAggregate.{Poisoned, recordedField, tupleKey}
    val S = PartitionValues.NullSentinel

    // resolve one grouping expression to its per-file key; the DataFrame
    // API (`groupBy(year(c).as("y"))`) aliases the grouping expression in
    // place rather than through a child Project
    def resolveGroup(g: Expression): Option[DataFile => Any] = g match {
      case al: Alias => resolveGroup(al.child)
      case a: AttributeReference if rel.outputSet.contains(a) => // identity source
        val field = schema.fields.find(_.name.equalsIgnoreCase(a.name)).getOrElse(return None)
        val cands = candidates(a.name, _ == Transform.Identity).getOrElse(return None)
        val parse = LakeMetaAggregate.identityValueParser(field.dataType).getOrElse(return None)
        // a string sentinel conflates null with "": such a file poisons
        Some(tupleKey(cands, nullOk = field.dataType != StringType)(parse))
      case Year(e) =>
        val a = temporalSource(e).getOrElse(return None)
        val cands = candidates(a.name,
          tr => tr == Transform.Year || tr == Transform.Month || tr == Transform.Day)
          .getOrElse(return None)
        Some(tupleKey(cands, nullOk = true)(_.substring(0, 4).toInt))
      case Month(e) =>
        val a = temporalSource(e).getOrElse(return None)
        val cands = candidates(a.name,
          tr => tr == Transform.Month || tr == Transform.Day).getOrElse(return None)
        Some(tupleKey(cands, nullOk = true)(_.substring(5, 7).toInt))
      case DayOfMonth(e) =>
        val a = temporalSource(e).getOrElse(return None)
        val cands = candidates(a.name, _ == Transform.Day).getOrElse(return None)
        Some(tupleKey(cands, nullOk = true)(_.substring(8, 10).toInt))
      case df: DateFormatClass =>
        val a = (df.left match {
          case c: Cast => relAttr(c.child) // date source cast up to timestamp
          case other => relAttr(other)
        }).filter(x => x.dataType match {
          case TimestampType => utcOk(df.timeZoneId)
          case TimestampNTZType | DateType => true
          case _ => false
        }).getOrElse(return None)
        val pattern = df.right match {
          case Literal(p: UTF8String, StringType) => p.toString
          case _ => return None
        }
        val allowed: Transform => Boolean = pattern match {
          case "yyyy" => tr => tr == Transform.Year || tr == Transform.Month || tr == Transform.Day
          case "yyyy-MM" => tr => tr == Transform.Month || tr == Transform.Day
          case "yyyy-MM-dd" => tr => tr == Transform.Day
          case _ => return None
        }
        val cands = candidates(a.name, allowed).getOrElse(return None)
        val width = pattern.length
        Some(tupleKey(cands, nullOk = true)(s => UTF8String.fromString(s.substring(0, width))))
      case Substring(strE, Literal(1, IntegerType), Literal(w: Int, IntegerType)) =>
        val a = relAttr(strE).filter(_.dataType == StringType).getOrElse(return None)
        val cands = candidates(a.name, _ == Transform.Truncate(w)).getOrElse(return None)
        Some(tupleKey(cands, nullOk = false)(UTF8String.fromString)) // null/"" conflation
      case _ => None
    }

    // ---- WHERE conjuncts: per-file wholly-in/wholly-out classification.
    // A conjunct no spec field can decide declines; a FILE it cannot
    // decide poisons the fold.
    def renderIdentity(dt: DataType, v: Any): Option[String] = (dt, v) match {
      case (_, null) => None
      case (StringType, s: UTF8String) =>
        val str = s.toString
        if (str.isEmpty) None else Some(str) // "" conflates with the sentinel
      case (LongType, x: Long) => Some(x.toString)
      case (IntegerType, x: Int) => Some(x.toString)
      case (BooleanType, x: Boolean) => Some(x.toString)
      case _ => None // temporal identity renderings are writer-internal
    }
    // first instant of the literal's transform period, rendered — only
    // when the literal IS that first instant (period-aligned)
    def alignedPeriod(tr: Transform, dt: DataType, v: Any): Option[String] = {
      import java.time.{Instant, LocalDateTime, ZoneOffset}
      val ldt: LocalDateTime = (dt, v) match {
        case (TimestampType | TimestampNTZType, micros: Long) =>
          LocalDateTime.ofInstant(Instant.ofEpochSecond(
            Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L),
            ZoneOffset.UTC)
        case (DateType, days: Int) =>
          java.time.LocalDate.ofEpochDay(days.toLong).atStartOfDay
        case _ => return None
      }
      import java.time.format.DateTimeFormatter.ofPattern
      tr match {
        case Transform.Year if ldt.getDayOfYear == 1 && ldt.toLocalTime == java.time.LocalTime.MIDNIGHT =>
          Some(ldt.format(ofPattern("yyyy")))
        case Transform.Month if ldt.getDayOfMonth == 1 && ldt.toLocalTime == java.time.LocalTime.MIDNIGHT =>
          Some(ldt.format(ofPattern("yyyy-MM")))
        case Transform.Day if ldt.toLocalTime == java.time.LocalTime.MIDNIGHT =>
          Some(ldt.format(ofPattern("yyyy-MM-dd")))
        case _ => None
      }
    }
    // per-file keep/drop decision for one conjunct; None = no field decides it
    def resolveFilter(c: Expression): Option[DataFile => Boolean] = {
      def identityEq(a: AttributeReference, values: Seq[Any]): Option[DataFile => Boolean] = {
        val cands = candidates(a.name, _ == Transform.Identity).getOrElse(return None)
        val rendered = values.map(v => renderIdentity(a.dataType, v))
        if (rendered.exists(_.isEmpty)) return None // null/""/unrenderable literal
        val set = rendered.flatten.toSet
        Some(f => f.partition(recordedField(f, cands)) match {
          case S => false // sentinel rows are null (or ""): no non-empty literal matches
          case v => set.contains(v)
        })
      }
      // each candidate compares against the literal rendered at its own
      // granularity, so only transforms the literal is aligned to qualify
      def temporalRange(a: AttributeReference, lit: Any, ge: Boolean): Option[DataFile => Boolean] = {
        if (lit == null) return None
        val p0s = spec.flatMap { pf =>
          if (!pf.source.equalsIgnoreCase(a.name)) None
          else pf.transform match {
            case tr @ (Transform.Year | Transform.Month | Transform.Day) =>
              alignedPeriod(tr, a.dataType, lit).map(pf.name -> _)
            case _ => None
          }
        }
        if (p0s.isEmpty) return None
        val cands = p0s.map(_._1)
        val p0Of = p0s.toMap
        Some { f =>
          val pname = recordedField(f, cands)
          f.partition(pname) match {
            case S => false // null fails any comparison
            // fixed-width renderings: lexicographic == chronological
            case p => if (ge) p >= p0Of(pname) else p < p0Of(pname)
          }
        }
      }
      // null-ness per file from ANY null-preserving recorded transform of
      // the source (identity/year/month/day/truncate map null -> the
      // sentinel; bucket does NOT — Spark's hash(null) is the seed, so a
      // bucket tuple never witnesses null-ness). A STRING source's
      // sentinel conflates null with "" (an IS NOT NULL keeps the ""
      // rows), so a string sentinel file is undecidable and poisons.
      def nullness(a: AttributeReference, wantNull: Boolean): Option[DataFile => Boolean] = {
        val nullPreserving: Transform => Boolean = {
          case Transform.Identity | Transform.Year | Transform.Month | Transform.Day => true
          case Transform.Truncate(_) => true
          case _ => false
        }
        val cands = candidates(a.name, nullPreserving).getOrElse(return None)
        val stringy = a.dataType == StringType
        Some(f => f.partition(recordedField(f, cands)) match {
          case S => if (stringy) throw Poisoned else wantNull
          case _ => !wantNull
        })
      }
      c match {
        case IsNotNull(a: AttributeReference) if rel.outputSet.contains(a) =>
          nullness(a, wantNull = false)
        case IsNull(a: AttributeReference) if rel.outputSet.contains(a) =>
          nullness(a, wantNull = true)
        case EqualTo(a: AttributeReference, l: Literal) if rel.outputSet.contains(a) =>
          identityEq(a, Seq(l.value))
        case EqualTo(l: Literal, a: AttributeReference) if rel.outputSet.contains(a) =>
          identityEq(a, Seq(l.value))
        case In(a: AttributeReference, lits) if rel.outputSet.contains(a) &&
            lits.forall(_.isInstanceOf[Literal]) =>
          identityEq(a, lits.map(_.asInstanceOf[Literal].value))
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) if rel.outputSet.contains(a) =>
          temporalRange(a, l.value, ge = true)
        case LessThanOrEqual(l: Literal, a: AttributeReference) if rel.outputSet.contains(a) =>
          temporalRange(a, l.value, ge = true) // lit <= a  ==  a >= lit
        case LessThan(a: AttributeReference, l: Literal) if rel.outputSet.contains(a) =>
          temporalRange(a, l.value, ge = false)
        case GreaterThan(l: Literal, a: AttributeReference) if rel.outputSet.contains(a) =>
          temporalRange(a, l.value, ge = false) // lit > a  ==  a < lit
        case _ => None
      }
    }
    val filters = conjuncts.map(c => resolveFilter(inline(c)).getOrElse(return None))
    val groupIn = agg.groupingExpressions.map(inline)
    val keys = groupIn.map(g => resolveGroup(g).getOrElse(return None)).toList

    import LakeMetaAggregate.{Out, Key, CountStar, Bound, SumCol, CountCol, AvgCol, DistinctKey}
    def fieldOf(a: AttributeReference): Option[StructField] =
      schema.fields.find(_.name.equalsIgnoreCase(a.name))
    // one served value: a grouping key or an aggregate function
    def resolveLeaf(in: Expression): Option[Out] = {
      // a reference to an in-place grouping alias (DataFrame-API shape)
      val byAliasId = in match {
        case a: AttributeReference =>
          agg.groupingExpressions.zipWithIndex.collectFirst {
            case (al: Alias, i) if al.exprId == a.exprId => Key(i)
          }
        case _ => None
      }
      byAliasId
        .orElse(groupIn.zipWithIndex.find(_._1.semanticEquals(in)).map(p => Key(p._2)))
        .orElse(in match {
        case AggregateExpression(Count(Seq(l: Literal)), _, false, None, _) if l.value != null =>
          Some(CountStar)
        case AggregateExpression(Count(Seq(a: AttributeReference)), _, false, None, _)
            if rel.outputSet.contains(a) =>
          fieldOf(a).map(CountCol)
        case AggregateExpression(Count(Seq(a: AttributeReference)), _, true, None, _)
            if rel.outputSet.contains(a) =>
          for {
            field <- fieldOf(a)
            cands <- candidates(a.name, _ == Transform.Identity)
          } yield DistinctKey(field, cands)
        case AggregateExpression(Min(a: AttributeReference), _, false, None, _)
            if rel.outputSet.contains(a) =>
          fieldOf(a).map(Bound(_, isMin = true))
        case AggregateExpression(Max(a: AttributeReference), _, false, None, _)
            if rel.outputSet.contains(a) =>
          fieldOf(a).map(Bound(_, isMin = false))
        case AggregateExpression(s: aggregate.Sum, _, false, None, _) =>
          s.child match {
            case a: AttributeReference if rel.outputSet.contains(a) => fieldOf(a).map(SumCol)
            case _ => None
          }
        case AggregateExpression(av: aggregate.Average, _, false, None, _) =>
          av.child match {
            case a: AttributeReference if rel.outputSet.contains(a) => fieldOf(a).map(AvgCol)
            case _ => None
          }
        case _ => None
      })
    }
    // every result is a served value, or an expression over served values
    // (a collapsed post-aggregate cast, arithmetic) that a Project above
    // the LocalRelation computes; any other reference declines
    val leaves = scala.collection.mutable.ArrayBuffer.empty[(Out, Attribute)]
    def serve(x: Expression, attr: => Attribute): Option[Attribute] =
      resolveLeaf(x).map { out => val a = attr; leaves += (out -> a); a }
    val projectList = agg.aggregateExpressions.map { e =>
      val in = inline(e match { case Alias(c, _) => c; case other => other })
      serve(in, e.toAttribute).getOrElse {
        val al = e match { case al: Alias => al; case _ => return None }
        val computed = in.transformDown {
          case x if x.isInstanceOf[AggregateExpression] || x.isInstanceOf[AttributeReference] ||
              groupIn.exists(_.semanticEquals(x)) =>
            serve(x, AttributeReference(s"_meta${leaves.size}", x.dataType)())
              .getOrElse(return None)
        }
        if (!computed.deterministic) return None
        Alias(computed, al.name)(al.exprId, al.qualifier, al.explicitMetadata)
      }
    }
    val leafAttrs = leaves.map(_._2).toSeq

    val maxFiles = spark.conf.getOption("spark.graft.lake.metaAggMaxFiles")
      .map(_.toInt).getOrElse(LakeMetaAggregate.DefaultMaxFiles)
    val rows = LakeMetaAggregate.foldAndRender(spark, snap.dataFiles,
      distributed = snap.dataFiles.size > maxFiles,
      LakeMetaAggregate.Fold(filters, keys, leaves.map(_._1).toSeq),
      leafAttrs.map(_.dataType))
    if (rows.isEmpty) { // the fold runs at most once per compilation
      agg.setTagValue(LakeMetaAggregate.DeclinedTag, (t.location, snap.seq))
      return None
    }
    val served = LocalRelation(leafAttrs, rows.get)
    Some(if (projectList.forall(_.isInstanceOf[Attribute])) served
      else Project(projectList, served))
  }
}

object LakeMetaAggregate {
  /** Default `spark.graft.lake.metaAggMaxFiles`: above this many data-file
    * entries the fold runs in executor tasks instead of on the driver.
    * 200k entries fold in ~10² ms on the driver; a 10⁶-file neglected
    * table folds its manifest entries in executors instead of stalling
    * the planner. */
  val DefaultMaxFiles = 200000

  /** Directory-rendered identity partition value → catalyst internal
    * value of the source type; None = type not renderable round-trip
    * (identity on temporals is never pruned or grouped for the same
    * reason — the writer's rendering is not reproducible). */
  private[plans] def identityValueParser(dt: DataType): Option[String => Any] = dt match {
    case StringType  => Some(s => UTF8String.fromString(s))
    case LongType    => Some(_.toLong)
    case IntegerType => Some(_.toInt)
    case ShortType   => Some(_.toShort)
    case ByteType    => Some(_.toByte)
    case BooleanType => Some(_.toBoolean)
    case DateType    => Some(s => java.time.LocalDate.parse(s).toEpochDay.toInt)
    case _ => None
  }

  // each result column: a grouping key, COUNT(*), exact MIN/MAX, or an
  // additive aggregate over recorded per-file sums/non-null counts
  private[plans] sealed trait Out
  private[plans] case class Key(i: Int) extends Out
  private[plans] case object CountStar extends Out
  private[plans] case class Bound(field: StructField, isMin: Boolean) extends Out
  private[plans] case class SumCol(field: StructField) extends Out
  private[plans] case class CountCol(field: StructField) extends Out
  private[plans] case class AvgCol(field: StructField) extends Out
  /** COUNT(DISTINCT <identity source>): the partition tuples ENUMERATE
    * the distinct values — every row of a file carries exactly the
    * file's recorded value, so the distinct set of a group is the
    * distinct set of its files' tuples (nulls excluded, like SQL). A
    * kept file of a string source carrying the sentinel poisons (it
    * conflates null — excluded — with "" — counted). */
  private[plans] case class DistinctKey(field: StructField, cands: Seq[String]) extends Out

  /** Count of executor-side (above-valve) folds this JVM has run — a test
    * hook proving the executor path was taken (the resulting plan is the
    * same LocalRelation either way). */
  val distributedServes = new java.util.concurrent.atomic.AtomicLong

  /** Decline memo: after a poisoned or unrenderable fold, the Aggregate
    * node is tagged with the (table location, snapshot seq) it declined
    * against so fixed-point re-applications of the rule skip straight to
    * the real scan instead of folding the snapshot again. */
  private[plans] val DeclinedTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[(String, Long)](
      "graft.lake.metaAgg.declinedFold")

  /** Thrown by a per-file key, conjunct or distinct read when the file
    * violates a precondition (records no candidate field, carries a string
    * sentinel where it conflates null with "", is undecidable); the fold
    * catches it — and any other non-fatal per-file failure, e.g. an
    * unparseable tuple value — as POISON: the whole rewrite declines. */
  private[plans] object Poisoned extends RuntimeException with scala.util.control.NoStackTrace

  /** The executor fold's poison marker: a poisoned task emits this key
    * instead of group rows. Never collides with real keys (group key
    * values are Catalyst primitives / UTF8String, never this object). */
  private case object Poison
  private val PoisonKey: List[Any] = List(Poison)

  /** The first of `cands` (spec order) that `f` records; poisons when it
    * records none — a file written under a spec without any of them. */
  private[plans] def recordedField(f: DataFile, cands: Seq[String]): String =
    cands.find(f.partition.contains).getOrElse(throw Poisoned)

  /** A per-file group key parsed from the file's tuple; the sentinel keys
    * NULL where it means null only (`nullOk`), and poisons otherwise. */
  private[plans] def tupleKey(cands: Seq[String], nullOk: Boolean)(
      parse: String => Any): DataFile => Any = { f =>
    f.partition(recordedField(f, cands)) match {
      case PartitionValues.NullSentinel => if (nullOk) null else throw Poisoned
      case s => parse(s)
    }
  }

  /** THE fold: live file entries → per-group merged [[GroupPartial]]s, or
    * None when a file poisons it. Zero-row files (legal, e.g. an overwrite
    * that emptied a partition) contribute nothing a real scan would
    * produce. Every other file is checked — its group key and distinct
    * tuples read (tuple coverage, string sentinels) and EVERY conjunct
    * evaluated, so an undecidable file poisons even when another conjunct
    * drops it — then classified, and a kept file merges into its group.
    * The same function runs over `snapshot.dataFiles` on the driver and
    * over each partition of them in executor tasks. */
  private[plans] final case class Fold(
      filters: Seq[DataFile => Boolean], keys: List[DataFile => Any], outs: Seq[Out]) {
    private val boundCols = outs.collect { case Bound(f, _) => f.name }.toSet
    private val statCols = outs.collect {
      case SumCol(f) => f.name; case CountCol(f) => f.name; case AvgCol(f) => f.name
    }.toSet
    private val sumCols = outs.collect { case SumCol(f) => f.name; case AvgCol(f) => f.name }.toSet
    private val avgCols = outs.collect { case AvgCol(f) => f.name }.toSet
    private val distinct = outs.collect { case d: DistinctKey => d }.distinctBy(_.field.name)

    def apply(files: Iterator[DataFile]): Option[Seq[(List[Any], GroupPartial)]] = {
      val acc = scala.collection.mutable.HashMap.empty[List[Any], GroupPartial]
      try {
        files.foreach { f =>
          if (f.rows > 0L) {
            val key = keys.map(_(f))
            val tuples = distinct.map(d => f.partition(recordedField(f, d.cands)))
            if (filters.map(_(f)).forall(identity)) {
              val values = distinct.zip(tuples).map {
                case (d, PartitionValues.NullSentinel) =>
                  if (d.field.dataType == StringType) throw Poisoned
                  d.field.name -> Set.empty[String] // null: excluded, like SQL
                case (d, v) => d.field.name -> Set(v)
              }.toMap
              val part = GroupPartial.ofFile(f, boundCols, statCols, sumCols, avgCols, values)
              acc.update(key, acc.get(key).fold(part)(GroupPartial.merge(_, part)))
            }
          }
        }
        Some(acc.toSeq)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Exact per-group partial. Absence of a map entry means "some folded
    * file could not answer this column" and the render DECLINES. `files`
    * distinguishes a real (≥1 file) group from the synthesized
    * ungrouped-empty row. */
  private[plans] final case class GroupPartial(
      files: Long,
      rows: Long,
      bounds: Map[String, ColBound],
      nonNull: Map[String, Long],
      sums: Map[String, BigDecimal],
      maxAbs: Map[String, BigDecimal],
      distinct: Map[String, Set[String]])

  private[plans] object GroupPartial {
    val Empty = GroupPartial(0L, 0L, Map.empty, Map.empty, Map.empty, Map.empty, Map.empty)

    /** One file's partial, restricted to the columns the query needs.
      * `sums`/`maxAbs` entries exist for zero-non-null files as identity
      * elements (a file with no values contributes 0 to a sum and does
      * not constrain the AVG exact-regime bound), and are ABSENT when a
      * contributing file lacks the recorded stat — absence declines the
      * column, not the whole fold. */
    def ofFile(
        f: DataFile,
        boundCols: Set[String], statCols: Set[String],
        sumCols: Set[String], avgCols: Set[String],
        distinct: Map[String, Set[String]]): GroupPartial = {
      def per[V](cols: Set[String])(stat: String => Option[V]): Map[String, V] =
        if (cols.isEmpty) Map.empty else cols.iterator.flatMap(c => stat(c).map(c -> _)).toMap
      def additive(c: String)(stat: => Option[BigDecimal]): Option[BigDecimal] =
        f.nonNull.get(c).flatMap { n =>
          if (n == 0L) Some(BigDecimal(0))
          else try stat catch { case _: NumberFormatException => None }
        }
      GroupPartial(1L, f.rows,
        bounds = per(boundCols)(f.bounds.get),
        nonNull = per(statCols)(f.nonNull.get),
        sums = per(sumCols)(c => additive(c)(f.sums.get(c).map(BigDecimal(_)))),
        maxAbs = per(avgCols)(c => additive(c)(f.bounds.get(c).collect {
          case b if b.kind == "n" => BigDecimal(b.min).abs.max(BigDecimal(b.max).abs)
        })),
        distinct = distinct)
    }

    /** Associative, commutative merge. Bounds merge kind-aware in the
      * bound's own comparison domain (numeric for "n"/"d", unsigned UTF-8
      * bytes for "s" — Catalyst's string ordering), and the ORIGINAL
      * rendered strings are kept so no re-rendering can perturb a value.
      * A kind mismatch or parse failure drops the column (→ decline). */
    def merge(a: GroupPartial, b: GroupPartial): GroupPartial = {
      def both[V](x: Map[String, V], y: Map[String, V])(f: (V, V) => Option[V]): Map[String, V] =
        if (x.isEmpty || y.isEmpty) Map.empty
        else x.flatMap { case (c, v) => y.get(c).flatMap(f(v, _)).map(c -> _) }
      GroupPartial(
        files = a.files + b.files,
        rows = a.rows + b.rows,
        bounds = both(a.bounds, b.bounds)(mergeBound),
        nonNull = both(a.nonNull, b.nonNull)((x, y) => Some(x + y)),
        sums = both(a.sums, b.sums)((x, y) => Some(x + y)),
        maxAbs = both(a.maxAbs, b.maxAbs)((x, y) => Some(x.max(y))),
        distinct = both(a.distinct, b.distinct)((x, y) => Some(x | y)))
    }

    private def mergeBound(x: ColBound, y: ColBound): Option[ColBound] = {
      if (x.kind != y.kind) return None
      x.kind match {
        case "n" | "d" =>
          try {
            val mn = if (BigDecimal(x.min) <= BigDecimal(y.min)) x.min else y.min
            val mx = if (BigDecimal(x.max) >= BigDecimal(y.max)) x.max else y.max
            Some(ColBound(x.kind, mn, mx))
          } catch { case _: NumberFormatException => None }
        case "s" =>
          def cmpU(p: String, q: String): Int = java.util.Arrays.compareUnsigned(
            p.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            q.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Some(ColBound("s",
            if (cmpU(x.min, y.min) <= 0) x.min else y.min,
            if (cmpU(x.max, y.max) >= 0) x.max else y.max))
        case _ => None
      }
    }
  }

  /** Run `fold` over `files` — on the driver, or (`distributed`) in
    * executor tasks with map-side merging in each task's hash map and one
    * skinny reduceByKey over group-count-sized partials, so the driver
    * sees only merged groups — and render one row per group. None = the
    * fold was poisoned or some group could not render a column. */
  private[plans] def foldAndRender(
      spark: SparkSession,
      files: Seq[DataFile],
      distributed: Boolean,
      fold: Fold,
      outTypes: Seq[DataType]): Option[Seq[InternalRow]] = {
    val folded: Option[Seq[(List[Any], GroupPartial)]] =
      if (distributed) {
        val sc = spark.sparkContext
        val slices = math.max(1, math.min(files.size / 4096 + 1, sc.defaultParallelism * 2))
        distributedServes.incrementAndGet()
        val merged = sc.parallelize(files, slices)
          .mapPartitions(it => fold(it).fold(Iterator(PoisonKey -> GroupPartial.Empty))(_.iterator))
          .reduceByKey(GroupPartial.merge _).collect()
        if (merged.exists(_._1 == PoisonKey)) None else Some(merged.toSeq)
      } else fold(files.iterator)
    // ungrouped over zero kept files: exactly ONE row (count = 0, values
    // NULL), matching a global Aggregate's semantics
    val groups = folded.getOrElse(return None) match {
      case Seq() if fold.keys.isEmpty => Seq(Nil -> GroupPartial.Empty)
      case gs => gs
    }
    Some(groups.map { case (keys, p) => render(keys, p, fold.outs, outTypes).getOrElse(return None) })
  }

  /** One group's row from its merged partial; None = some column cannot
    * be served exactly or its type is not the aggregate's result type. */
  private def render(
      keys: List[Any], p: GroupPartial, outs: Seq[Out], outTypes: Seq[DataType]): Option[InternalRow] = {
    // the empty partial answers every stat as zero
    def stat[V](m: Map[String, V], c: String, zero: V): Option[V] =
      if (p.files == 0L) Some(zero) else m.get(c)
    def typed(rt: DataType, served: Option[(DataType, Any)]): Option[Any] =
      served.collect { case (dt, v) if dt == rt => v }
    val values = outs.zip(outTypes).map {
      case (Key(i), _) => keys(i)
      case (CountStar, _) => p.rows
      case (Bound(field, isMin), _) =>
        if (p.files == 0L) null
        else boundValue(field, p.bounds.getOrElse(field.name, return None), isMin)
          .getOrElse(return None)
      case (SumCol(field), rt) =>
        typed(rt, ColumnSums.serveSum(field.dataType,
          stat(p.sums, field.name, BigDecimal(0)).getOrElse(return None),
          stat(p.nonNull, field.name, 0L).getOrElse(return None))).getOrElse(return None)
      case (CountCol(field), _) => stat(p.nonNull, field.name, 0L).getOrElse(return None)
      case (AvgCol(field), rt) =>
        typed(rt, ColumnSums.serveAvg(field.dataType,
          stat(p.sums, field.name, BigDecimal(0)).getOrElse(return None),
          stat(p.nonNull, field.name, 0L).getOrElse(return None),
          stat(p.maxAbs, field.name, BigDecimal(0)).getOrElse(return None))).getOrElse(return None)
      case (DistinctKey(field, _), _) =>
        p.distinct.getOrElse(field.name, Set.empty[String]).size.toLong
    }
    Some(InternalRow.fromSeq(values))
  }

  /** Exact min/max of `field` from its merged bound, as a Catalyst value
    * (None = not answerable — rounded float bounds, unbounded types, a
    * bound of another column kind). */
  private[plans] def boundValue(field: StructField, b: ColBound, isMin: Boolean): Option[Any] = {
    val v = if (isMin) b.min else b.max
    field.dataType match {
      case LongType | TimestampType | TimestampNTZType if b.kind == "n" =>
        Some(BigDecimal(v)).filter(_.isValidLong).map(_.toLong)
      case IntegerType | DateType if b.kind == "n" =>
        Some(BigDecimal(v)).filter(_.isValidInt).map(_.toInt)
      case StringType if b.kind == "s" => Some(UTF8String.fromString(v))
      // decimals below the 30-significant-digit bound rounding are recorded
      // EXACT (scaled by the parquet decimal annotation, under kind "d" —
      // INT32/INT64-backed for precision <= 18, two's-complement
      // FIXED_LEN_BYTE_ARRAY beyond); precision > 30 could have been
      // floor/ceil-rounded, decline. Any other kind is not a decimal
      // column's bound: decline, like every type above.
      case dt: DecimalType if dt.precision <= 30 && b.kind == "d" =>
        val x = BigDecimal(v)
        if (x.scale > dt.scale) None
        else {
          val d = Decimal(x)
          if (d.changePrecision(dt.precision, dt.scale)) Some(d) else None
        }
      case _ => None
    }
  }
}
