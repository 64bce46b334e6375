package graft.sources

import graft.lake.{ColumnSums, LakeFileWriter, LakeTable, LakeWriteSpec, Snapshot}
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
  *  - writers stage the re-inserted rows as ordinary data files and the
  *    displaced identities as delete-key sidecars stamped with the commit
  *    sequence — the SAME shape the CDC upsert path commits, so the MoR
  *    read path (the planned anti-join, or compaction) applies
  *    unchanged;
  *  - the driver commits both file sets in one snapshot
  *    ([[LakeTable.commitStagedDelta]]); NO pre-existing data file is
  *    rewritten. A sparse UPDATE on a 100 TB table costs O(changed rows),
  *    not O(files holding them).
  *
  * Delete-key sidecars are PARTITION-SCOPED when every partition source of
  * the current spec is a primary-key column: every transform renders
  * engine-side (identity/year/month/day/truncate from the value, bucket
  * via the shared [[graft.lake.Transform.bucketOf]] Murmur3 since r18),
  * so the rowId values determine the partition of every row they
  * tombstone, and a pruned scan later loads only the matching sidecars.
  * Otherwise one global sidecar per task. Scoping stays sound across
  * partition-spec evolution because a field name can never be redefined
  * with a different derivation ([[LakeTable.evolvePartitionSpec]]'s
  * history guard) and files lacking a scoped field keep the sidecar
  * conservatively ([[LakeTable.deleteFilesFor]]).
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

private[sources] class GraftLakeDeltaWrite(
    t: LakeTable, snap: Snapshot, winfo: LogicalWriteInfo, opName: String)
    extends DeltaWrite with RequiresDistributionAndOrdering {
  override def toBatch(): DeltaBatchWrite = new GraftLakeDeltaBatchWrite(t, snap, winfo, opName)

  /** Same sink contract as the append path (GraftLakeWriteBuilder): ask
    * Spark to CLUSTER the delta stream on the partition source columns and
    * sort by (sources, cluster keys) before the writers see it — without
    * it a wide MoR MERGE opens one data file per task × partition touched
    * (fanout-writer shape: O(tasks·partitions) small files that only
    * compaction folds later); clustered, re-inserted rows for one
    * partition land in one-ish task and the commit stays O(partitions).
    * DELETE records carry NULL row columns and hash to a single cluster —
    * harmless: delete-key sidecars are tiny and their fanout is bounded
    * by touched tuples, not data volume. A pure DELETE command has an
    * EMPTY row schema → no requirement at all. Advisory (non-strict): a
    * 3-row point MERGE need not shuffle. */
  private lazy val specSources: Seq[String] = {
    val schemaNames = winfo.schema().fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    (t.partitionSpec(snap.specVersion).map(_.source) ++ t.meta.clusterBy)
      .distinct.filter(c => schemaNames.contains(c.toLowerCase(java.util.Locale.ROOT)))
  }

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val parts = t.partitionSpec(snap.specVersion).map(_.source)
      .filter(specSources.contains)
    if (parts.isEmpty) org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.clustered(
      parts.map(Expressions.column).toArray)
  }

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    specSources.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  }
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
      t.hadoopConfEntries, rowSchema, dataParts, ColumnSums.recordSums(t.spark),
      keySchema = rowIdSchema, keyParts = keyParts))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap(_.asInstanceOf[GraftLakeCommitMessage].files)
    if (staged.isEmpty) return // matched nothing: no-op
    val (dataEntries, delEntries) = t.publishStaged(staged, stagingRel)
    try t.commitStagedDelta(dataEntries, delEntries, opName, expectedBase = snap.seq)
    catch {
      case e: Throwable =>
        t.discardPublished(dataEntries.map(_.path) ++ delEntries.map(_.path))
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(t.location)
    val fs = root.getFileSystem(t.spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, stagingRel), true)
  }
}
