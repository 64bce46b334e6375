package graft.sources

import graft.lake.LakeTable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util

/** Read-only METADATA TABLES over a lake table — the Iceberg
  * `table$snapshots` idiom, addressed through the SQL catalog:
  *
  * {{{
  *   SELECT * FROM graft.`orders$snapshots`   -- commit log
  *   SELECT * FROM graft.`orders$files`       -- current data files
  *   SELECT * FROM graft.`orders$partitions`  -- per-partition rollup
  * }}}
  *
  * All three answer from SNAPSHOT METADATA only (the manifests already in
  * memory) as a driver-local scan: zero tasks, zero data-file I/O — at
  * 100 TB these queries cost exactly what the metadata weighs, which is
  * the point of keeping per-file stats in the commit log. */
private[sources] class GraftLakeMetaTable(t: LakeTable, kind: String) extends Table with SupportsRead {

  override def name(): String = s"${t.meta.name}$$$kind"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def schema(): StructType = GraftLakeMetaTable.schemaOf(kind)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = schema()
        override def rows(): Array[InternalRow] = GraftLakeMetaTable.rowsOf(t, kind)
        override def description(): String = s"GraftLakeMetaTable ${name()}"
      }
    }
}

private[sources] object GraftLakeMetaTable {

  val Kinds: Set[String] = Set("snapshots", "files", "partitions")

  def schemaOf(kind: String): StructType = kind match {
    case "snapshots" => StructType(Seq(
      StructField("seq", LongType), StructField("parent", LongType),
      StructField("timestamp_ms", LongType), StructField("operation", StringType),
      StructField("schema_version", IntegerType), StructField("spec_version", IntegerType),
      StructField("data_files", IntegerType), StructField("delete_files", IntegerType),
      StructField("total_bytes", LongType)))
    case "files" => StructType(Seq(
      StructField("path", StringType), StructField("seq", LongType),
      StructField("partition", StringType), StructField("bytes", LongType),
      StructField("rows", LongType), StructField("row_groups", IntegerType),
      // Iceberg's `readable_metrics` idiom: the per-column stats the
      // commit recorded (bounds, non-null count, exact sum), as one
      // deterministic JSON document per file — column names sorted,
      // absent stats omitted
      StructField("metrics", StringType)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType), StructField("files", IntegerType),
      StructField("rows", LongType), StructField("bytes", LongType)))
    case other => throw new IllegalArgumentException(s"unknown metadata table: $$$other")
  }

  /** Per-file column metrics as one deterministic JSON document:
    * `{"col":{"k":…,"lo":…,"hi":…,"nn":…,"sum":…}}`, column names sorted,
    * absent stats omitted. `k` is the bound kind the commit recorded
    * ("n" numeric, "d" scaled decimal, "s" string — see [[graft.lake.ColBound]]). */
  private def renderMetrics(f: graft.lake.DataFile): UTF8String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    val cols = (f.bounds.keySet ++ f.nonNull.keySet ++ f.sums.keySet).toSeq.sorted
    cols.foreach { c =>
      val o = root.putObject(c)
      f.bounds.get(c).foreach { b =>
        o.put("k", b.kind); o.put("lo", b.min); o.put("hi", b.max) }
      f.nonNull.get(c).foreach(n => o.put("nn", n))
      f.sums.get(c).foreach(s => o.put("sum", s))
    }
    UTF8String.fromString(root.toString)
  }

  /** Canonical partition rendering: fields sorted by name, `k=v` joined
    * with `/` — stable across spec evolution (old- and new-spec tuples
    * render side by side). */
  private def renderPartition(p: Map[String, String]): UTF8String =
    UTF8String.fromString(
      if (p.isEmpty) "" else p.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"))

  def rowsOf(t: LakeTable, kind: String): Array[InternalRow] = kind match {
    case "snapshots" =>
      t.snapshots.map { s =>
        new GenericInternalRow(Array[Any](
          s.seq, s.parent.getOrElse(-1L), s.timestampMs, UTF8String.fromString(s.operation),
          s.schemaVersion, s.specVersion, s.dataFiles.size, s.deleteFiles.size,
          s.totalBytes)): InternalRow
      }.toArray
    case "files" =>
      t.currentSnapshot.dataFiles.map { f =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(f.path), f.seq, renderPartition(f.partition),
          f.bytes, f.rows, f.splits.size, renderMetrics(f))): InternalRow
      }.toArray
    case "partitions" =>
      t.currentSnapshot.dataFiles.groupBy(_.partition).toSeq
        .sortBy(_._1.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"))
        .map { case (p, fs) =>
          new GenericInternalRow(Array[Any](
            renderPartition(p), fs.size, fs.map(_.rows).sum,
            fs.map(_.bytes).sum)): InternalRow
        }.toArray
    case other => throw new IllegalArgumentException(s"unknown metadata table: $$$other")
  }
}
