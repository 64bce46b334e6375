package graft.plans

import graft.lake.LakeTable
import graft.sources.{GraftLakeDeleteKeys, GraftLakeRowLevelOperation, GraftLakeV2Table}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.SqlInternals.RowLevelRead
import org.apache.spark.sql.types.LongType

/** Plans merge-on-read for every DSv2 / SQL read of a lake snapshot with
  * live delete files. It rewrites the logical scan
  *
  * {{{ Relation(graftlake T) }}}
  *
  * into the one shape every lake read folds deletes with,
  * [[LakeTable.morFold]]:
  *
  * {{{
  *   Project(the relation's output,
  *     Join(LeftAnti, pk equality && row._graft_seq < key._graft_dseq,
  *       Relation(graftlake T, mor=deferred: raw rows + _graft_seq),
  *       Relation(T's delete keys: pk + _graft_dseq)))
  * }}}
  *
  * AQE picks a broadcast or a shuffled join from the real size of the key
  * side; nothing is collected to the driver. Runs in the
  * operator-optimization batch, BEFORE V2 pushdown, so filter and column
  * pushdown then apply to both sides as usual: predicates on pk columns
  * are inferred onto the key side across the equi-join, and its scan
  * prunes partition-scoped delete files with them ([[GraftLakeDeleteKeys]]).
  *
  * Row-level commands (SQL UPDATE / MERGE INTO / DELETE, as ReplaceData or
  * WriteDelta) keep their target relation out of `children`, so only the
  * reads inside their query are rewritten. The operation's own scan is
  * folded in place — same RowLevelOperationTable instance, so Spark's
  * runtime group filtering and the group replace still see it — and the
  * operation is marked so that scan reads raw rows. A scan this rule never
  * reached fails loudly when its reader factory is built.
  */
class LakeMorRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // metadata-only DELETE FROM: its child IS the target relation, and the
    // delete reads through the imperative scan (LakeTable.morMerged)
    case _: DeleteFromTable => plan
    case _ =>
      // operation scans already folded on an earlier pass (this rule runs
      // to a fixed point; plain reads become `raw` and never match again)
      val folded = plan.collect {
        case Join(rows, keys, LeftAnti, _, _) if keys.collectLeaves().exists(isKeySide) =>
          rows.collectLeaves()
      }.flatten
      plan.transformUp {
        case rel: DataSourceV2Relation => rel.table match {
          case tbl: GraftLakeV2Table if tbl.morPending =>
            fold(rel, tbl, rel.copy(table = tbl.rawTable))
          case RowLevelRead(tbl: GraftLakeV2Table, op: GraftLakeRowLevelOperation)
              if tbl.morPending && !folded.exists(_ eq rel) =>
            op.markMorFolded()
            fold(rel, tbl, rel)
          case _ => rel
        }
      }
  }

  private def isKeySide(p: LogicalPlan): Boolean = p match {
    case r: DataSourceV2Relation => r.table.isInstanceOf[GraftLakeDeleteKeys]
    case _ => false
  }

  /** `rows` keeps the relation's attributes, so upstream references
    * resolve unchanged, plus the commit seq the fold compares. */
  private def fold(
      rel: DataSourceV2Relation, tbl: GraftLakeV2Table, rows: DataSourceV2Relation): LogicalPlan = {
    val rowsOut =
      if (rel.output.exists(_.name.equalsIgnoreCase(LakeTable.SeqCol))) rel.output
      else rel.output :+ AttributeReference(LakeTable.SeqCol, LongType, nullable = false)()
    val keys = DataSourceV2Relation.create(tbl.deleteKeys, None, None)
    Project(rel.output, tbl.t.morFold(rows.copy(output = rowsOut), keys))
  }
}
