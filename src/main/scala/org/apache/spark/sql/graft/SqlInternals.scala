package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationTable}

/** The two package-private Spark SQL pieces the lake's merge-on-read
  * planning needs: a DataFrame over a hand-built logical plan (the fold is
  * built once, as a plan, and the imperative route reads it as a
  * DataFrame), and the table/operation pair behind a row-level command's
  * read relation. */
object SqlInternals {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `RowLevelOperationTable(table, operation)` extractor. */
  object RowLevelRead {
    def unapply(t: Table): Option[(Table, RowLevelOperation)] = t match {
      case r: RowLevelOperationTable => Some((r.table, r.operation))
      case _ => None
    }
  }
}
