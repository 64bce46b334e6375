package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Table}
import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationTable, Write}

/** The package-private Spark SQL pieces the lake needs: a DataFrame over a
  * hand-built logical plan (the merge-on-read fold is built once, as a
  * plan, and the imperative route reads it as a DataFrame), the
  * table/operation pair behind a row-level command's read relation, a
  * session's artifact scope for jobs started on another session's thread,
  * the session's typed SQL conf, and the DSv2 write arrangement step. */
object SqlInternals {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** Run `body` with `spark`'s job artifact state (and class loader)
    * active, so every job it starts runs in `spark`'s executor-side
    * session: the same class loader, hence the same generated-code cache
    * entries, as every other job of that session. */
  def withSessionResources[T](spark: SparkSession)(body: => T): T =
    classic(spark).artifactManager.withResources(body)

  /** The session's SQL conf: typed accessors for the file-source split
    * confs the lake's split packing follows and the parquet pushdown confs
    * its row-group filter follows. */
  def conf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    classic(spark).sessionState.conf

  /** `plan` arranged as `write` requires — Spark's own
    * `DistributionAndOrderingUtils`, the step its DSv2 write planning
    * takes, with transforms resolved through `functions`. */
  def arrange(write: Write, plan: LogicalPlan, functions: FunctionCatalog): LogicalPlan =
    org.apache.spark.sql.execution.datasources.v2.DistributionAndOrderingUtils
      .prepareQuery(write, plan, Some(functions))

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** `RowLevelOperationTable(table, operation)` extractor. */
  object RowLevelRead {
    def unapply(t: Table): Option[(Table, RowLevelOperation)] = t match {
      case r: RowLevelOperationTable => Some((r.table, r.operation))
      case _ => None
    }
  }
}
