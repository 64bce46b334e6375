package graft.plans

import graft.lake.{ColBound, PartitionValues, Transform}
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
  * LocalRelation: zero tasks, zero data I/O at any table size (Iceberg's
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
  * as wholly-in or wholly-out (per-file tri-state; any undecidable file
  * declines the whole rewrite):
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
  *    string sentinel file declines: it conflates null with "").
  *
  * Declines conservatively — merge-on-read tombstones, missing row
  * counts, files whose spec predates a grouping/filter field, non-UTC
  * embedded time zones (rendered tuples are UTC), and string groupings
  * whose files carry the Hive directory sentinel (it conflates null with
  * "") all fall through to the real scan. Null temporal partition values
  * group as NULL keys, matching `month(null)`.
  *
  * ABOVE `spark.graft.lake.metaAggMaxFiles` the fold itself moves to
  * EXECUTORS ([[LakeMetaAggregate.distributedServe]]): the snapshot's
  * per-file entries are parallelized and each task classifies filters,
  * derives group keys, and merges exact partials (row counts, kind-aware
  * bound extremes, sums, non-null counts, distinct partition values); the
  * driver touches only the group-count-sized result. Per-file validation
  * the driver fold did at resolve time (tuple-field coverage, string
  * sentinel presence, undecidable filter files) runs task-side and
  * POISONS the fold — a poisoned or shape-unanswerable query still falls
  * through to the real distributed scan, so the valve bounds PLANNER
  * work without ever turning a metadata-answerable rollup into a
  * 10⁵-file data scan (VERDICT r18 #1: 87 s → sub-second at 100k files). */
class LakeMetaAggregate(spark: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate => answer(agg).getOrElse(agg)
  }

  private type FileKey = graft.lake.DataFile => Any

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
    // 100-TB safety valve (VERDICT r15 #6): the fold below is a DRIVER
    // loop over kept files × result columns, fine at the 10²-10⁴ files a
    // maintained table holds but a planner-latency cliff on a NEGLECTED
    // table (10⁵-10⁶ pre-compaction files). Above the threshold the fold
    // moves to EXECUTORS (VERDICT r18 #1, [[distributedServe]]): the
    // manifest entries — already snapshot-resident — are parallelized and
    // merged task-side, so the serve stays metadata-only at any file
    // count instead of declining into a 10⁵-file data scan. The decision
    // uses the RAW entry count so no O(files) driver pass precedes it.
    val maxFiles = spark.conf.getOption("spark.graft.lake.metaAggMaxFiles")
      .map(_.toInt).getOrElse(LakeMetaAggregate.DefaultMaxFiles)
    val distributed = snap.dataFiles.size > maxFiles
    // memoized decline (ADVICE r19): a poisoned/declined DISTRIBUTED fold
    // launches a real Spark job — without this tag the fixed-point
    // optimizer re-runs that job on every iteration of every batch the
    // rule sits in, multiplying planner-side jobs on exactly the
    // 10⁵-10⁶-file regime the valve exists to bound. Keyed on (table
    // location, snapshot seq): within one compilation the node's child
    // relation is pinned, and `makeCopy`/`withNewChildren` carry tags, so
    // the memo survives neighboring rewrites of the same query.
    if (distributed && agg.getTagValue(LakeMetaAggregate.DeclinedTag)
        .contains((t.location, snap.seq))) return None
    // zero-row committed files (legal, e.g. an overwrite that emptied a
    // partition) contribute NOTHING a real scan would produce — keeping
    // them would surface phantom group tuples / distinct values. In the
    // distributed regime the check runs task-side instead.
    val files = if (distributed) Nil else snap.dataFiles.filter(_.rows > 0)
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
    // DISTRIBUTED-regime constraint ledgers: per-file checks the driver
    // fold does eagerly below move into the executor tasks, which POISON
    // the fold (→ decline to the real scan) on any violation
    var needPnames = Set.empty[String]       // tuple field absent in a live file → poison
    var sentinelPnames = Set.empty[String]   // string sentinel in ANY live file → poison
    // a partition field of `source` whose transform is in `allowed` and
    // whose tuple value EVERY file records. Distributed: optimistic —
    // spec shape only, coverage re-checked per file in the tasks.
    // Candidate selection is first-spec-match there: a post-evolution
    // table whose first matching spec field lost coverage declines where
    // the driver fold might have served via a later candidate
    // (perf-conservative, never wrong).
    def recordedField(source: String, allowed: Transform => Boolean): Option[String] =
      if (distributed)
        spec.find(pf => pf.source.equalsIgnoreCase(source) && allowed(pf.transform))
          .map { pf => needPnames += pf.name; pf.name }
      else
        spec.find(pf => pf.source.equalsIgnoreCase(source) && allowed(pf.transform) &&
          files.forall(_.partition.contains(pf.name))).map(_.name)
    val S = PartitionValues.NullSentinel

    // resolve one grouping expression to (output type, per-file key value);
    // the DataFrame API (`groupBy(year(c).as("y"))`) aliases the grouping
    // expression in place rather than through a child Project
    def resolveGroup(g: Expression): Option[(DataType, FileKey)] = g match {
      case al: Alias => resolveGroup(al.child)
      case a: AttributeReference if rel.outputSet.contains(a) => // identity source
        val field = schema.fields.find(_.name.equalsIgnoreCase(a.name)).getOrElse(return None)
        val pname = recordedField(a.name, _ == Transform.Identity).getOrElse(return None)
        val parse = LakeMetaAggregate.identityValueParser(field.dataType).getOrElse(return None)
        if (field.dataType == StringType) {
          if (distributed) sentinelPnames += pname // task-side check
          else if (files.exists(_.partition(pname) == S))
            return None // sentinel conflates null with ""
        }
        Some((field.dataType, f => f.partition(pname) match {
          case S => null; case s => parse(s)
        }))
      case Year(e) =>
        val a = temporalSource(e).getOrElse(return None)
        val pname = recordedField(a.name,
          tr => tr == Transform.Year || tr == Transform.Month || tr == Transform.Day)
          .getOrElse(return None)
        Some((IntegerType, f => f.partition(pname) match {
          case S => null; case s => s.substring(0, 4).toInt
        }))
      case Month(e) =>
        val a = temporalSource(e).getOrElse(return None)
        val pname = recordedField(a.name,
          tr => tr == Transform.Month || tr == Transform.Day).getOrElse(return None)
        Some((IntegerType, f => f.partition(pname) match {
          case S => null; case s => s.substring(5, 7).toInt
        }))
      case DayOfMonth(e) =>
        val a = temporalSource(e).getOrElse(return None)
        val pname = recordedField(a.name, _ == Transform.Day).getOrElse(return None)
        Some((IntegerType, f => f.partition(pname) match {
          case S => null; case s => s.substring(8, 10).toInt
        }))
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
        val pname = recordedField(a.name, allowed).getOrElse(return None)
        Some((StringType, f => f.partition(pname) match {
          case S => null
          case s => UTF8String.fromString(s.substring(0, pattern.length))
        }))
      case Substring(strE, Literal(1, IntegerType), Literal(w: Int, IntegerType)) =>
        val a = relAttr(strE).filter(_.dataType == StringType).getOrElse(return None)
        val pname = recordedField(a.name, _ == Transform.Truncate(w)).getOrElse(return None)
        if (distributed) sentinelPnames += pname // task-side check
        else if (files.exists(_.partition(pname) == S)) return None // null/"" conflation
        Some((StringType, f => UTF8String.fromString(f.partition(pname))))
      case _ => None
    }

    // ---- WHERE conjuncts: per-file wholly-in/wholly-out classification.
    // Any conjunct (or file) that cannot be decided exactly declines.
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
    // per-file keep/drop decision for one conjunct; None = undecidable
    def resolveFilter(c: Expression): Option[graft.lake.DataFile => Option[Boolean]] = {
      def identityEq(a: AttributeReference, values: Seq[Any]): Option[graft.lake.DataFile => Option[Boolean]] = {
        val pname = recordedField(a.name, _ == Transform.Identity).getOrElse(return None)
        val rendered = values.map(v => renderIdentity(a.dataType, v))
        if (rendered.exists(_.isEmpty)) return None // null/""/unrenderable literal
        val set = rendered.flatten.toSet
        Some(f => f.partition(pname) match {
          case S => Some(false) // sentinel rows are null (or ""): no non-empty literal matches
          case v => Some(set.contains(v))
        })
      }
      def temporalRange(a: AttributeReference, lit: Any, ge: Boolean): Option[graft.lake.DataFile => Option[Boolean]] = {
        if (lit == null) return None
        val trs: Seq[Transform] = Seq(Transform.Year, Transform.Month, Transform.Day)
        trs.view.flatMap { tr =>
          recordedField(a.name, _ == tr).flatMap { pname =>
            alignedPeriod(tr, a.dataType, lit).map { p0 =>
              (f: graft.lake.DataFile) => f.partition(pname) match {
                case S => Some(false) // null fails any comparison
                // fixed-width renderings: lexicographic == chronological
                case p => Some(if (ge) p >= p0 else p < p0)
              }
            }
          }
        }.headOption
      }
      // null-ness per file from ANY null-preserving recorded transform of
      // the source (identity/year/month/day/truncate map null -> the
      // sentinel; bucket does NOT — Spark's hash(null) is the seed, so a
      // bucket tuple never witnesses null-ness). A STRING source's
      // sentinel conflates null with "" (an IS NOT NULL keeps the ""
      // rows), so a string sentinel file is undecidable and declines.
      def nullness(a: AttributeReference, wantNull: Boolean): Option[graft.lake.DataFile => Option[Boolean]] = {
        val nullPreserving: Transform => Boolean = {
          case Transform.Identity | Transform.Year | Transform.Month | Transform.Day => true
          case Transform.Truncate(_) => true
          case _ => false
        }
        val pname = recordedField(a.name, nullPreserving).getOrElse(return None)
        val stringy = a.dataType == StringType
        Some(f => f.partition(pname) match {
          case S => if (stringy) None else Some(wantNull)
          case _ => Some(!wantNull)
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
    val filterFns = conjuncts.map(c => resolveFilter(inline(c)))
    if (filterFns.exists(_.isEmpty)) return None
    val keptFiles = if (distributed) Nil else {
      val decided = files.map { f =>
        val ds = filterFns.map(_.get(f))
        if (ds.exists(_.isEmpty)) None else Some(ds.forall(_.get))
      }
      if (decided.exists(_.isEmpty)) return None // an undecidable file
      files.zip(decided).collect { case (f, Some(true)) => f }
    }

    val groupIn = agg.groupingExpressions.map(inline)
    val resolved = groupIn.map(resolveGroup)
    if (resolved.exists(_.isEmpty)) return None
    val keyFns = resolved.map(_.get._2)

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
            pname <- recordedField(a.name, _ == Transform.Identity)
            // distributed: the kept-file sentinel check runs task-side
            if distributed ||
              !(field.dataType == StringType && keptFiles.exists(_.partition(pname) == S))
          } yield DistinctKey(field, pname)
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
    val outs = leaves.map(_._1).toSeq
    val leafAttrs = leaves.map(_._2).toSeq
    // served value types must equal the Aggregate's own result types (a
    // precision/type mismatch would corrupt the LocalRelation) — decline
    // on any divergence
    val outTypes = leafAttrs.map(_.dataType)
    def project(served: LogicalPlan): LogicalPlan =
      if (projectList.forall(_.isInstanceOf[Attribute])) served
      else Project(projectList, served)

    if (distributed) {
      val served = LakeMetaAggregate.distributedServe(spark, snap.dataFiles,
        filterFns.map(_.get), keyFns, needPnames, sentinelPnames,
        outs, outTypes, leafAttrs)
      if (served.isEmpty) // the fold job runs at most once per compilation
        agg.setTagValue(LakeMetaAggregate.DeclinedTag, (t.location, snap.seq))
      return served.map(project)
    }

    // ungrouped: exactly ONE row, even over zero kept files
    // (count = 0, bounds = NULL), matching a global Aggregate's semantics
    val grouped =
      if (groupIn.isEmpty) Seq(Seq.empty[Any] -> keptFiles)
      else keptFiles.groupBy(f => keyFns.map(_(f))).toSeq
    val rows = grouped.map { case (keys, fs) =>
      val values = outs.zip(outTypes).map {
        case (Key(i), _) => keys(i)
        case (CountStar, _) => fs.map(_.rows).sum: Any
        case (Bound(field, isMin), _) =>
          LakeMetaAggregate.boundValue(field, fs, isMin).getOrElse(return None)
        case (SumCol(field), rt) =>
          val (dt, v) = graft.lake.ColumnSums.serveSum(field, fs).getOrElse(return None)
          if (dt != rt) return None
          v
        case (CountCol(field), _) =>
          graft.lake.ColumnSums.serveCount(field, fs).getOrElse(return None): Any
        case (AvgCol(field), rt) =>
          val (dt, v) = graft.lake.ColumnSums.serveAvg(field, fs).getOrElse(return None)
          if (dt != rt) return None
          v
        case (DistinctKey(_, pname), _) =>
          fs.iterator.map(_.partition(pname)).filter(_ != S).toSet.size.toLong: Any
      }
      InternalRow.fromSeq(values)
    }
    Some(project(LocalRelation(leafAttrs, rows)))
  }
}

object LakeMetaAggregate {
  /** Default `spark.graft.lake.metaAggMaxFiles`: the driver fold hands
    * off to [[distributedServe]] above this many data-file entries, for
    * every served shape. 200k entries fold in ~10² ms on the driver; a
    * 10⁶-file neglected table folds its manifest entries in executors
    * instead of stalling the planner. */
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
    * distinct set of its files' tuples (nulls excluded, like SQL).
    * String sources decline when a kept file carries the sentinel (it
    * conflates null — excluded — with "" — counted). */
  private[plans] case class DistinctKey(field: StructField, pname: String) extends Out

  /** Count of distributed (above-valve) serves this JVM has run — a test
    * hook proving the executor-fold path was taken (the resulting plan is
    * the same LocalRelation either way). */
  val distributedServes = new java.util.concurrent.atomic.AtomicLong

  /** Decline memo for the distributed fold (ADVICE r19): after a poisoned
    * or shape-declined executor fold, the Aggregate node is tagged with
    * the (table location, snapshot seq) it declined against so fixed-point
    * re-applications of the rule skip straight to the real scan instead of
    * re-launching the metadata job each iteration. */
  private[plans] val DeclinedTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[(String, Long)](
      "graft.lake.metaAgg.declinedDistributedServe")

  /** Poison marker: a task that finds a file violating a per-file
    * precondition (missing tuple field, string sentinel, undecidable
    * filter, unparseable value) emits this key instead of group rows; any
    * occurrence declines the whole rewrite, mirroring the driver fold's
    * `return None`. Never collides with real keys (group key values are
    * Catalyst primitives / UTF8String, never this object). */
  private case object Poison
  private val PoisonKey: List[Any] = List(Poison)

  /** Exact per-group partial folded in executor tasks. Absence of a map
    * entry means "some folded file could not answer this column" and the
    * final render DECLINES — the same conservative semantics the driver
    * fold gets from its per-file `return None`s. `files` distinguishes a
    * real (≥1 file) group from the synthesized ungrouped-empty row. */
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
      * not constrain the AVG exact-regime bound — matching
      * [[ColumnSums.totals]]/[[ColumnSums.serveAvg]], which skip such
      * files), and are ABSENT when a contributing file lacks the recorded
      * stat — absence poisons the column, not the whole fold. */
    def ofFile(
        f: graft.lake.DataFile,
        boundCols: Set[String], statCols: Set[String],
        sumCols: Set[String], avgCols: Set[String],
        distinctPnames: Seq[String], sentinel: String): GroupPartial = {
      val bounds = boundCols.iterator.flatMap(c => f.bounds.get(c).map(c -> _)).toMap
      val nonNull = statCols.iterator.flatMap(c => f.nonNull.get(c).map(c -> _)).toMap
      val sums = sumCols.iterator.flatMap { c =>
        f.nonNull.get(c) match {
          case Some(0L) => Some(c -> BigDecimal(0))
          case Some(_) => f.sums.get(c).flatMap(s =>
            try Some(c -> BigDecimal(s)) catch { case _: NumberFormatException => None })
          case None => None
        }
      }.toMap
      val maxAbs = avgCols.iterator.flatMap { c =>
        f.nonNull.get(c) match {
          case Some(0L) => Some(c -> BigDecimal(0))
          case Some(_) => f.bounds.get(c) match {
            case Some(b) if b.kind == "n" =>
              try Some(c -> BigDecimal(b.min).abs.max(BigDecimal(b.max).abs))
              catch { case _: NumberFormatException => None }
            case _ => None
          }
          case None => None
        }
      }.toMap
      val distinct = distinctPnames.iterator.map { p =>
        p -> (f.partition(p) match {
          case `sentinel` => Set.empty[String] // null: excluded, like SQL
          case v => Set(v)
        })
      }.toMap
      GroupPartial(1L, f.rows, bounds, nonNull, sums, maxAbs, distinct)
    }

    /** Associative, commutative merge. Bounds merge kind-aware in the
      * bound's own comparison domain (numeric for "n"/"d", unsigned UTF-8
      * bytes for "s" — the same ordering [[boundValue]] reduces with), and
      * the ORIGINAL rendered strings are kept so no re-rendering can
      * perturb a value. A kind mismatch or parse failure drops the column
      * (→ final decline). */
    def merge(a: GroupPartial, b: GroupPartial): GroupPartial = GroupPartial(
      files = a.files + b.files,
      rows = a.rows + b.rows,
      bounds = (a.bounds.keySet & b.bounds.keySet).iterator
        .flatMap(c => mergeBound(a.bounds(c), b.bounds(c)).map(c -> _)).toMap,
      nonNull = (a.nonNull.keySet & b.nonNull.keySet).iterator
        .map(c => c -> (a.nonNull(c) + b.nonNull(c))).toMap,
      sums = (a.sums.keySet & b.sums.keySet).iterator
        .map(c => c -> (a.sums(c) + b.sums(c))).toMap,
      maxAbs = (a.maxAbs.keySet & b.maxAbs.keySet).iterator
        .map(c => c -> a.maxAbs(c).max(b.maxAbs(c))).toMap,
      distinct = (a.distinct.keySet | b.distinct.keySet).iterator
        .map(c => c -> (a.distinct.getOrElse(c, Set.empty[String]) |
          b.distinct.getOrElse(c, Set.empty[String]))).toMap,
    )

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

  /** The ABOVE-VALVE serve: fold the snapshot's file entries in EXECUTORS
    * and return the same LocalRelation the driver fold would have built.
    * Tasks classify filters, derive group keys, and merge [[GroupPartial]]s
    * per group (map-side combine in the per-partition hash map, then one
    * skinny reduceByKey over group-count-sized partials); the driver sees
    * only merged groups. All per-file preconditions the driver fold checks
    * at resolve time run task-side and POISON the fold — any poison, or
    * any column a partial could not answer, declines the whole rewrite and
    * the query falls back to the real distributed scan (exactly the
    * driver fold's `return None` semantics, one small metadata job
    * later). Exceptions in per-file evaluation (malformed tuple values)
    * poison rather than fail the query. */
  private[plans] def distributedServe(
      spark: SparkSession,
      allFiles: Seq[graft.lake.DataFile],
      filterFns: Seq[graft.lake.DataFile => Option[Boolean]],
      keyFns: Seq[graft.lake.DataFile => Any],
      needPnames: Set[String],
      sentinelPnames: Set[String],
      outs: Seq[Out],
      outTypes: Seq[DataType],
      output: Seq[Attribute]): Option[LogicalPlan] = {
    val boundCols = outs.collect { case Bound(f, _) => f.name }.toSet
    val statCols = outs.collect {
      case SumCol(f) => f.name; case CountCol(f) => f.name; case AvgCol(f) => f.name
    }.toSet
    val sumCols = outs.collect { case SumCol(f) => f.name; case AvgCol(f) => f.name }.toSet
    val avgCols = outs.collect { case AvgCol(f) => f.name }.toSet
    // per distinct pname: does a string source make the sentinel a poison?
    val distinctStr: Map[String, Boolean] = outs.collect {
      case DistinctKey(f, pname) => pname -> (f.dataType == StringType)
    }.groupMapReduce(_._1)(_._2)(_ || _)
    val distinctPnames = distinctStr.keys.toSeq.sorted
    val S = PartitionValues.NullSentinel
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(allFiles.size / 4096 + 1, sc.defaultParallelism * 2))
    distributedServes.incrementAndGet()
    val folded = sc.parallelize(allFiles, slices).mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[List[Any], GroupPartial]
      var poisoned = false
      while (it.hasNext && !poisoned) {
        val f = it.next()
        try {
          if (f.rows > 0L) { // zero-row committed files contribute nothing
            if (needPnames.exists(p => !f.partition.contains(p))) poisoned = true
            else if (sentinelPnames.exists(p => f.partition(p) == S)) poisoned = true
            else {
              // every conjunct must classify the file wholly-in/wholly-out;
              // an undecidable file poisons EVEN IF another conjunct drops
              // it — same as the driver fold's pre-filter decidability pass
              val decisions = filterFns.map(_(f))
              if (decisions.exists(_.isEmpty)) poisoned = true
              else if (decisions.forall(_.get)) {
                if (distinctPnames.exists(p => distinctStr(p) && f.partition(p) == S))
                  poisoned = true // sentinel conflates null with "" in the distinct set
                else {
                  val key = keyFns.map(_(f)).toList
                  val part = GroupPartial.ofFile(
                    f, boundCols, statCols, sumCols, avgCols, distinctPnames, S)
                  acc.get(key) match {
                    case Some(p) => acc.update(key, GroupPartial.merge(p, part))
                    case None => acc.update(key, part)
                  }
                }
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => poisoned = true }
      }
      if (poisoned) Iterator.single(PoisonKey -> GroupPartial.Empty) else acc.iterator
    }.reduceByKey(GroupPartial.merge _).collect()
    if (folded.exists(_._1 == PoisonKey)) return None

    // ungrouped over zero kept files: exactly ONE row (count = 0, bounds
    // NULL), matching a global Aggregate's semantics
    val groups: Seq[(List[Any], GroupPartial)] =
      if (keyFns.isEmpty && folded.isEmpty) Seq(Nil -> GroupPartial.Empty)
      else folded.toSeq

    val rows = groups.map { case (keys, p) =>
      // render through the SAME serving functions as the driver fold, on a
      // single synthetic entry holding the merged stats — the type checks
      // and decline conditions are shared by construction
      def statFile(field: StructField, needSum: Boolean,
          withMaxAbs: Boolean): Option[Seq[graft.lake.DataFile]] =
        if (p.files == 0L) Some(Nil)
        else for {
          nn <- p.nonNull.get(field.name)
          sums <-
            if (needSum && nn > 0L)
              p.sums.get(field.name).map(s =>
                Map(field.name -> s.underlying.toPlainString))
            else Some(Map.empty[String, String])
          bnds <-
            if (withMaxAbs && nn > 0L)
              p.maxAbs.get(field.name).map { m =>
                val s = m.underlying.toPlainString
                Map(field.name -> ColBound("n", s, s))
              }
            else Some(Map.empty[String, ColBound])
        } yield Seq(graft.lake.DataFile("", 0L, Map.empty, 0L,
          bounds = bnds, rows = p.rows, nonNull = Map(field.name -> nn), sums = sums))
      val values = outs.zip(outTypes).map {
        case (Key(i), _) => keys(i)
        case (CountStar, _) => p.rows: Any
        case (Bound(field, isMin), _) =>
          if (p.files == 0L) null
          else {
            val b = p.bounds.getOrElse(field.name, return None)
            val probe = graft.lake.DataFile("", 0L, Map.empty, 0L,
              bounds = Map(field.name -> b), rows = p.rows)
            boundValue(field, Seq(probe), isMin).getOrElse(return None)
          }
        case (SumCol(field), rt) =>
          val fs = statFile(field, needSum = true, withMaxAbs = false).getOrElse(return None)
          val (dt, v) = graft.lake.ColumnSums.serveSum(field, fs).getOrElse(return None)
          if (dt != rt) return None
          v
        case (CountCol(field), _) =>
          val fs = statFile(field, needSum = false, withMaxAbs = false).getOrElse(return None)
          graft.lake.ColumnSums.serveCount(field, fs).getOrElse(return None): Any
        case (AvgCol(field), rt) =>
          val fs = statFile(field, needSum = true, withMaxAbs = true).getOrElse(return None)
          val (dt, v) = graft.lake.ColumnSums.serveAvg(field, fs).getOrElse(return None)
          if (dt != rt) return None
          v
        case (DistinctKey(_, pname), _) =>
          p.distinct.getOrElse(pname, Set.empty[String]).size.toLong: Any
      }
      InternalRow.fromSeq(values)
    }
    Some(LocalRelation(output, rows))
  }

  /** Exact min/max of `field` across `files` from recorded bounds, as a
    * Catalyst value (None = not answerable — missing bounds, rounded
    * float bounds, unbounded types). */
  private[plans] def boundValue(
      field: StructField, files: Seq[graft.lake.DataFile], isMin: Boolean): Option[Any] = {
    if (files.isEmpty) return Some(null)
    val bounds: Seq[Option[ColBound]] = files.map(_.bounds.get(field.name))
    if (bounds.exists(_.isEmpty)) return None
    val bs = bounds.flatten
    def pick(vals: Seq[BigDecimal]): BigDecimal = if (isMin) vals.min else vals.max
    field.dataType match {
      case LongType | TimestampType | TimestampNTZType =>
        if (bs.exists(_.kind != "n")) None
        else {
          val vs = bs.map(b => BigDecimal(if (isMin) b.min else b.max))
          if (vs.exists(!_.isValidLong)) None else Some(pick(vs).toLong)
        }
      case IntegerType | DateType =>
        if (bs.exists(_.kind != "n")) None
        else {
          val vs = bs.map(b => BigDecimal(if (isMin) b.min else b.max))
          if (vs.exists(!_.isValidInt)) None else Some(pick(vs).toInt)
        }
      case StringType =>
        if (bs.exists(_.kind != "s")) None
        else {
          val vs = bs.map(b => UTF8String.fromString(if (isMin) b.min else b.max))
          Some(vs.reduce((a, b) => if ((a.compareTo(b) <= 0) == isMin) a else b))
        }
      // decimals below the 30-significant-digit bound rounding are recorded
      // EXACT (scaled by the parquet decimal annotation, under kind "d" —
      // INT32/INT64-backed for precision <= 18, two's-complement
      // FIXED_LEN_BYTE_ARRAY beyond); precision > 30 could have been
      // floor/ceil-rounded, decline. Any other kind is not a decimal
      // column's bound: decline, like every type above.
      case dt: DecimalType if dt.precision <= 30 =>
        if (bs.exists(_.kind != "d")) None
        else {
          val vs = bs.map(b => BigDecimal(if (isMin) b.min else b.max))
          val v = pick(vs)
          if (v.scale > dt.scale) None
          else {
            val d = Decimal(v)
            if (d.changePrecision(dt.precision, dt.scale)) Some(d) else None
          }
        }
      case _ => None
    }
  }
}
