package graft.sources

import graft.lake.{LakeFileWriter, LakeTable, LakeWriteSpec, Snapshot}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.UUID

/** MERGE-ON-READ SQL UPDATE / MERGE INTO / DELETE — Spark's DELTA-based
  * row-level framework ([[SupportsDelta]]), matching the reference's
  * declared write modes (`write.update.mode` / `write.merge.mode` /
  * `write.delete.mode` = `merge-on-read`, olake-config/destination.json:
  * 89-91). Where the group-based path restates whole FILES (copy-on-write),
  * this path writes row-level DELTAS:
  *
  *  - the operation's scan reads the current merged content WITH filter
  *    pushdown (unlike COW, un-read rows stay untouched on disk, so
  *    partition pruning and row-group skipping apply in full);
  *  - every matched row becomes a DELETE of its primary-key identity
  *    (`rowId`), and updates are represented as delete + re-insert
  *    ([[SupportsDelta.representUpdateAsDeleteAndInsert]]);
  *  - each writer task stages its re-inserted rows as ordinary data
  *    files and its displaced identities as delete-key sidecars stamped
  *    with the commit sequence — the per-task shape of the imperative
  *    upsert / deleteKeys / CDC staging job, so the MoR read path (the
  *    planned anti-join, or compaction) applies unchanged;
  *  - the driver commits both file sets in one snapshot through the
  *    row-level commit both routes share ([[LakeTable.commitStagedDelta]],
  *    a use of the lake's one commit primitive that never rebases: a
  *    commit landing since the operation's scan snapshot fails it with the
  *    CME retry recipe and discards its files); NO pre-existing data file
  *    is rewritten. A sparse UPDATE on a 100 TB table costs O(changed
  *    rows), not O(files holding them).
  *
  * Delete-key sidecars are PARTITION-SCOPED when every partition source of
  * the current spec is a primary-key column (the writer renders every
  * transform from the value, so the rowId determines the partition of
  * every row it tombstones); otherwise one global sidecar per task.
  * Scoping stays sound across spec evolution: a field name is never
  * redefined ([[LakeTable.evolvePartitionSpec]]) and files lacking a
  * scoped field keep the sidecar ([[LakeTable.deleteFilesFor]]).
  */
private[sources] class GraftLakeDeltaOperation(
    t: LakeTable,
    snap: Snapshot,
    info: RowLevelOperationInfo)
    extends GraftLakeRowLevelOperation with SupportsDelta {

  private[sources] val opName: String = info.command() match {
    case RowLevelOperation.Command.UPDATE => "update-mor"
    case RowLevelOperation.Command.MERGE  => "merge-mor"
    case _                                => "delete-mor"
  }

  override def command(): RowLevelOperation.Command = info.command()
  override def description(): String = s"graftlake merge-on-read ${info.command()}"

  /** The scan is an ORDINARY pruned/pushed-down MoR scan: delta commits
    * never replace files, so static filter pushdown is safe — only rows
    * the command condition can match are ever read. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(t, snap.seq, t.schema(snap.schemaVersion),
      skipDeletes = morFolded)

  /** Row identity = the table's primary key (equality deletes, like the
    * CDC upsert path — not positional). */
  override def rowId(): Array[NamedReference] =
    t.meta.primaryKey.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  /** Updates split into delete + re-insert: the delete tombstones every
    * older row version of the key, the re-insert lands at the commit
    * sequence (>= the tombstone's, so it survives the MoR merge) — and an
    * UPDATE that rewrites a primary-key or partition-source column is
    * automatically correct. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(winfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftLakeDeltaWrite(t, snap, winfo, opName)
    }
}

/** Arranged by the table's write arrangement over the delta stream
  * (without it a wide MoR MERGE opens a data file per task × partition
  * touched); a pure DELETE's rows carry only the key, DELETE records of a
  * MERGE carry NULL row columns and cluster together. */
private[sources] class GraftLakeDeltaWrite(
    t: LakeTable, snap: Snapshot, winfo: LogicalWriteInfo, opName: String)
    extends graft.lake.ArrangedWrite(t.writeArrangement(snap.specVersion,
      (winfo.schema().fieldNames ++ winfo.rowIdSchema().map[Array[String]](_.fieldNames)
        .orElse(Array.empty[String])).toSeq, rowLevel = true))
    with DeltaWrite {
  override def toBatch(): DeltaBatchWrite = new GraftLakeDeltaBatchWrite(t, snap, winfo, opName)
}

private[sources] class GraftLakeDeltaBatchWrite(
    t: LakeTable, snap: Snapshot, winfo: LogicalWriteInfo, opName: String)
    extends DeltaBatchWrite {

  private val stagingRel = s"_staging/delta-${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val tableSchema = t.schema(snap.schemaVersion)
    // row schema: empty for a pure DELETE (no re-inserted rows); otherwise
    // it must carry exactly the table's columns (any order — files resolve
    // by name)
    val rowSchema = winfo.schema()
    if (rowSchema.nonEmpty) {
      // era-aware like the batch write (r20 SQL-route soak finding): an
      // ALTER landing between the statement's analysis and the scan's
      // snapshot pin leaves rowSchema one era behind `snap` — a shape the
      // format reads fine (NULL-fill / promotion). The stale-base commit
      // check still arbitrates the actual race: if anything (including
      // that ALTER) committed after the operation's scan snapshot, the
      // commit below refuses with the CME retry recipe and the re-run
      // plans against the new era.
      require(t.schemaEraOf(rowSchema, snap.schemaVersion).isDefined,
        s"delta write schema ${rowSchema.simpleString} does not match table " +
          s"${tableSchema.simpleString} or any earlier schema era")
    }
    val rowIdSchema = winfo.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("delta write without a rowId schema"))
    val spec = t.partitionSpec(snap.specVersion)
    val dataParts =
      if (rowSchema.isEmpty) Nil
      else LakeFileWriter.bind(spec, rowSchema).getOrElse(throw new IllegalArgumentException(
        s"partition sources ${spec.map(_.source).mkString(", ")} missing from delta write schema"))
    // delete-key partition scoping: every source must be a rowId column,
    // else one global delete file per task
    val keyParts = LakeFileWriter.bind(spec, rowIdSchema).getOrElse(Nil)
    GraftLakeWriterFactory(LakeWriteSpec(t.location, stagingRel, snap.seq + 1,
      t.hadoopConfEntries, rowSchema, dataParts,
      keySchema = rowIdSchema, keyParts = keyParts))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap(_.asInstanceOf[GraftLakeCommitMessage].files)
    if (staged.isEmpty) return // matched nothing: no-op
    t.commitStagedDelta(stagingRel, opName, expectedBase = Some(snap.seq))(_ => staged)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    t.fs.delete(new Path(t.abs(stagingRel)), true)
  }
}
