package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Name → location catalog over a warehouse root directory, with the DDL +
  * introspection surface the reference exercises (S11/S12:
  * CREATE/DROP TABLE, ALTER ADD COLUMN, DESCRIBE —
  * scripts/iceberg-setup.sql:5-12, BLOG_POST_COMPLETE_WALKTHROUGH.md:541-549).
  *
  * Deliberately directory-addressed (like a Hadoop catalog): a table named
  * `t` lives at `<root>/t`. A REST/metastore catalog would swap in behind
  * the same four methods.
  */
final class LakeCatalog(spark: SparkSession, rootDir: String) {
  private val root = new Path(rootDir)
  private val fs = LakeFs.forPath(root, spark.sparkContext.hadoopConfiguration)

  def location(name: String): String = new Path(root, name).toString

  def createTable(
      name: String,
      schema: StructType,
      partitionSpec: Seq[PartitionField] = Nil,
      clusterBy: Seq[String] = Nil,
      primaryKey: Seq[String] = Nil,
      clusterStrategy: String = "linear",
  ): LakeTable =
    LakeTable.create(spark, location(name), name, schema, partitionSpec, clusterBy, primaryKey,
      clusterStrategy)

  def table(name: String): LakeTable = LakeTable.load(spark, location(name))

  def tableExists(name: String): Boolean = LakeTable.exists(spark, location(name))

  def dropTable(name: String): Boolean = fs.delete(new Path(root, name), true)

  def listTables(): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => LakeTable.exists(spark, location(n))).sorted.toSeq

  /** DESCRIBE TABLE as a DataFrame: columns, then partition spec and table
    * properties in the familiar section format. */
  def describe(name: String): DataFrame = {
    val t = table(name)
    val schema = t.currentSchema
    val cols = schema.fields.map(f => (f.name, f.dataType.simpleString, if (f.nullable) "YES" else "NO"))
    val spec = t.currentPartitionSpec.map(pf => (s"# partition: ${pf.name}", s"${pf.transform.name}(${pf.source})", ""))
    val props = Seq(
      ("# clustering", t.meta.clusterBy.mkString(", "), ""),
      ("# primary key", t.meta.primaryKey.mkString(", "), ""),
      ("# current snapshot", t.currentSeq.toString, ""),
      ("# schema version", t.currentSnapshot.schemaVersion.toString, ""),
    )
    import spark.implicits._
    (cols ++ spec ++ props).toSeq.toDF("col_name", "data_type", "nullable")
  }
}
