package graft.sources

import graft.lake.{LakeFileWriter, LakeTable, LakeWriteSpec, StagedFile}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import java.util.UUID

/** DataSourceV2 WRITE path (append) for graft lake tables — the
  * distributed two-phase commit: each task writes its rows as staged
  * parquet files through the lake's one [[graft.lake.LakeFileWriter]] (one
  * file per partition tuple it sees, stats from the writer's own footer),
  * reports them in its commit message, and the driver publishes them
  * ([[LakeTable.publishStaged]]) and commits one snapshot through the
  * lake's one commit primitive ([[LakeTable.commit]]), the same one the
  * imperative writer uses: an append rebases on a lost race, a replace
  * surfaces it as the CME retry contract, and either discards its
  * published files on failure. Rows embed the planning-time
  * `currentSeq + 1` as their commit seq — a rebase can only RAISE the
  * final seq, which keeps appended rows conservatively old relative to
  * tombstones (see `LakeTable.appending`). Rows arrive arranged by the
  * table's write arrangement; the writer renders their partition values.
  *
  * Append by default; `INSERT OVERWRITE` / truncate arrive through
  * SupportsOverwrite with the always-true filter and commit a full
  * REPLACE snapshot instead (the reference's silver/gold rebuild shape —
  * scripts/iceberg-setup.sql re-runs the INSERT over the curated tier).
  * Filtered overwrite (replace-where) is refused: the lake format models
  * row-level change as merge-on-read deletes, not partition overwrites. */
private[sources] class GraftLakeWriteBuilder(
    t: LakeTable,
    writeSchema: Option[StructType] = None,
    expectedBase: Option[Long] = None,
    replacedFiles: Option[() => Option[Set[String]]] = None)
    extends WriteBuilder with SupportsOverwrite {
  private var replaceAll = false

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]),
      s"graftlake supports only full-table INSERT OVERWRITE, got: ${filters.mkString(", ")}")
    replaceAll = true
    this
  }

  override def build(): Write = {
    // ONE snapshot per write plan, pinned in build(): the writers render
    // partitions by the spec the rows were arranged by (r20 SQL-route
    // soak: a lazy load let a concurrent ALTER slip in between)
    val planSnap = t.currentSnapshot
    new graft.lake.ArrangedWrite(t.writeArrangement(planSnap.specVersion,
        writeSchema.getOrElse(t.schema(planSnap.schemaVersion)).fieldNames.toSeq, rowLevel = false)) {
      override def toBatch: BatchWrite =
        new GraftLakeBatchWrite(t, replaceAll, writeSchema, expectedBase, replacedFiles,
          plannedSnap = Some(() => planSnap))
    }
  }
}

private[sources] class GraftLakeBatchWrite(
    t: LakeTable,
    replaceAll: Boolean = false,
    writeSchema: Option[StructType] = None,
    expectedBase: Option[Long] = None,
    /** Row-level (group) replace: a late-bound view of the REL paths the
      * operation's runtime-filtered scan planned — the commit swaps exactly
      * those files and carries every other entry over. None = plain INSERT
      * OVERWRITE (full replace). */
    replacedFiles: Option[() => Option[Set[String]]] = None,
    plannedSnap: Option[() => graft.lake.Snapshot] = None)
    extends BatchWrite {
  private val stagingRel = s"_staging/dsv2-${UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val snap = plannedSnap.map(_()).getOrElse(t.currentSnapshot)
    // rows arrive in the SHAPE the logical write declared (row-level
    // rewrites may order columns differently from the table definition);
    // files are written in that order and every reader resolves columns
    // by NAME, so layout order is free — but the name/type SET must match
    val tableSchema = t.schema(snap.schemaVersion)
    val schema = writeSchema.getOrElse(tableSchema)
    // era-aware validation (r20 SQL-route soak finding): a statement
    // analyzed just before a concurrent ALTER declares the PREVIOUS
    // era's shape — demanding the current schema here crashed the write
    // with a raw IllegalArgumentException on a race the format supports
    // by construction (files routinely predate evolved columns; readers
    // resolve by name / NULL-fill / type-promote, and the imperative
    // append's blind rebase has always committed this shape). Any shape
    // matching NO era is still a genuinely wrong write and fails.
    require(t.schemaEraOf(schema, snap.schemaVersion).isDefined,
      s"write schema ${schema.simpleString} does not match table " +
        s"${tableSchema.simpleString} or any earlier schema era")
    val spec = t.partitionSpec(snap.specVersion)
    val parts = LakeFileWriter.bind(spec, schema).getOrElse(throw new IllegalArgumentException(
      s"partition sources ${spec.map(_.source).mkString(", ")} missing from write schema"))
    GraftLakeWriterFactory(LakeWriteSpec(t.location, stagingRel, snap.seq + 1,
      t.hadoopConfEntries, schema, parts))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap(_.asInstanceOf[GraftLakeCommitMessage].files)
    // a failed commit discards the published files — abort only clears staging
    val (entries, _) = t.publishStaged(staged, stagingRel)
    val published = entries.map(_.path)
    LakeTable.failpoint("staged-dsv2") // crash-injection site (test-only)
    (replaceAll, replacedFiles) match {
      case (true, Some(planned)) =>
        // GROUP replace (the row-level UPDATE/MERGE/DELETE commit): swap
        // exactly the files the row-level scan read, carrying every other
        // entry over verbatim — O(affected files), not O(table). A missing
        // planned set would make "replace" mean "drop every row the scan
        // did not read" — fail loudly instead. Delete files are retained:
        // they still tombstone rows in carried-over files, and rows of the
        // replacement files embed a commit seq newer than any live
        // tombstone. When the group is the whole table this folds them
        // away like a full replace.
        t.commit("rewrite-dsv2", expectedBase, published = published) { head =>
          val removed = planned().getOrElse(throw new IllegalStateException(
            s"${t.meta.name}: row-level write committed before its scan planned files"))
          val keep = head.dataFiles.filterNot(f => removed.contains(f.path))
          head.copy(dataFiles = keep ++ entries,
            deleteFiles = if (keep.isEmpty) Nil else head.deleteFiles)
        }
      case (true, None) =>
        // full replace (INSERT OVERWRITE / truncate)
        t.commit("overwrite-dsv2", expectedBase, published = published)(
          _.copy(dataFiles = entries, deleteFiles = Nil))
      case _ =>
        t.commit("append-dsv2", rebase = true, published = published)(t.appending(entries))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    t.fs.delete(new Path(t.abs(stagingRel)), true)
  }
}

/** The files one write task staged, with their footer stats and sums —
  * the commit publishes them without reopening any of them. */
private[sources] case class GraftLakeCommitMessage(files: Seq[StagedFile])
    extends WriterCommitMessage

/** Shared by the batch write and the merge-on-read delta write. */
private[sources] case class GraftLakeWriterFactory(spec: LakeWriteSpec)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftLakeDataWriter(new LakeFileWriter(spec, s"p$partitionId-t$taskId"))
}

/** One writer per task over the lake's [[LakeFileWriter]]: appended or
  * re-inserted rows become data files, deleted row identities delete-key
  * files; the commit message carries every staged file's stats. */
private[sources] class GraftLakeDataWriter(w: LakeFileWriter) extends DeltaWriter[InternalRow] {
  override def insert(row: InternalRow): Unit = w.write(row)
  override def delete(meta: InternalRow, id: InternalRow): Unit = w.delete(id)
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete + insert (representUpdateAsDeleteAndInsert)")
  override def commit(): WriterCommitMessage = GraftLakeCommitMessage(w.close())
  override def abort(): Unit = w.abort()
  override def close(): Unit = ()
}
