package graft.sources

import graft.lake.{DataFile, DeleteFile, LakeTable, Snapshot, Transform}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.UUID
import scala.collection.mutable

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
    val dataSpec: Seq[(Int, graft.lake.Transform, String)] =
      if (rowSchema.isEmpty) Nil
      else spec.map { pf =>
        val idx = rowSchema.fields.indexWhere(_.name.equalsIgnoreCase(pf.source))
        require(idx >= 0, s"partition source ${pf.source} missing from delta write schema")
        (idx, pf.transform, pf.name)
      }
    // delete-sidecar partition scoping: every source must be a rowId
    // column; else sidecars are global (bucket renders JVM-side via
    // Transform.bucketOf, same as every other transform)
    val deleteSpec: Option[Seq[(Int, graft.lake.Transform, String)]] = {
      val resolved = spec.map { pf =>
        val idx = rowIdSchema.fields.indexWhere(_.name.equalsIgnoreCase(pf.source))
        if (idx < 0) None
        else Some((idx, pf.transform, pf.name))
      }
      if (spec.nonEmpty && resolved.forall(_.isDefined)) Some(resolved.flatten) else None
    }
    val hadoopConf: Map[String, String] = {
      val it = t.spark.sparkContext.hadoopConfiguration.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    GraftLakeDeltaWriterFactory(
      location = t.location,
      stagingRel = stagingRel,
      rowSchema = rowSchema,
      rowIdSchema = rowIdSchema,
      writeSeq = snap.seq + 1,
      dataSpec = dataSpec,
      deleteSpec = deleteSpec,
      hadoopConf = hadoopConf,
      recordSums = graft.lake.ColumnSums.recordSums(t.spark))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[GraftLakeDeltaCommitMessage])
    val stagedData = msgs.flatMap(_.data)
    val stagedDels = msgs.flatMap(_.deletes)
    if (stagedData.isEmpty && stagedDels.isEmpty) return // matched nothing: no-op
    val conf = t.spark.sparkContext.hadoopConfiguration
    val root = new Path(t.location)
    val fs = root.getFileSystem(conf)
    val moved = mutable.ListBuffer.empty[Path]
    val commitTag = stagingRel.stripPrefix("_staging/")
    try {
      val placedData = stagedData.zipWithIndex.map { case (f, i) =>
        val src = new Path(root, f.stagedRel)
        val partDirs = f.partition.toSeq.sortBy(_._1).map { case (k, v) =>
          s"$k=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)}"
        }
        // staging UUID in the published name: task ids restart per
        // SparkContext, so two PROCESSES staging deltas against the same
        // observed seq would otherwise render identical destination paths
        // (ProcessSafetySpec's cross-JVM finding, applied to all writers)
        val destRel = (Seq("data") ++ partDirs :+
          s"s${f.seq}-${commitTag}-$i-${src.getName}").mkString("/")
        val dest = new Path(root, destRel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new IllegalStateException(s"delta commit failed moving ${f.stagedRel}")
        moved += dest
        (f, destRel, dest)
      }
      val placedDels = stagedDels.zipWithIndex.map { case (f, i) =>
        val src = new Path(root, f.stagedRel)
        val destRel = s"deletes/d-${f.seq}-${commitTag}-$i-${src.getName}"
        val dest = new Path(root, destRel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new IllegalStateException(s"delta commit failed moving ${f.stagedRel}")
        moved += dest
        (f, destRel, dest)
      }
      fs.delete(new Path(root, stagingRel), true)
      // sums arrived IN the commit messages — folded by the write tasks
      // as rows passed, zero read-back I/O
      val metaByPath = LakeTable.fileMetaAll(placedData.map(_._3).toSeq, conf,
        spark = Some(t.spark))
      val dataEntries = placedData.map { case (f, destRel, dest) =>
        val fm = metaByPath(dest)
        DataFile(destRel, f.seq, f.partition, fm.len, splits = fm.splits, bounds = fm.bounds,
          rows = fm.rows, nonNull = fm.nonNull, sums = f.sums)
      }
      val delEntries = placedDels.map { case (f, destRel, dest) =>
        DeleteFile(destRel, f.seq, fs.getFileStatus(dest).getLen, f.partition)
      }
      t.commitStagedDelta(dataEntries.toSeq, delEntries.toSeq, opName, expectedBase = snap.seq)
    } catch {
      case e: Throwable =>
        moved.foreach(p => try fs.delete(p, false) catch { case _: Exception => })
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(t.location)
    val fs = root.getFileSystem(t.spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, stagingRel), true)
  }
}

private[sources] case class StagedDeleteFile(
    stagedRel: String, seq: Long, partition: Map[String, String])

private[sources] case class GraftLakeDeltaCommitMessage(
    data: Seq[StagedFile], deletes: Seq[StagedDeleteFile])
    extends WriterCommitMessage

private[sources] case class GraftLakeDeltaWriterFactory(
    location: String,
    stagingRel: String,
    rowSchema: StructType,
    rowIdSchema: StructType,
    writeSeq: Long,
    dataSpec: Seq[(Int, graft.lake.Transform, String)],
    deleteSpec: Option[Seq[(Int, graft.lake.Transform, String)]],
    hadoopConf: Map[String, String],
    recordSums: Boolean = true) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftLakeDeltaWriterImpl(this, partitionId, taskId)
}

/** One delta writer per task: re-inserted rows go through the standard
  * staged data-file writer; deleted identities go to one delete-key
  * sidecar per (scoped) partition tuple, stamped `_graft_dseq = writeSeq`. */
private[sources] class GraftLakeDeltaWriterImpl(
    f: GraftLakeDeltaWriterFactory, partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val conf = {
    val c = new Configuration(false)
    f.hadoopConf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  // insert side: the standard data writer (rows arrive as clean
  // projections of rowSchema — no marker-column offset)
  private lazy val dataWriter = new GraftLakeDataWriter(
    GraftLakeWriterFactory(f.location, s"${f.stagingRel}/ins", f.rowSchema, f.writeSeq,
      f.dataSpec, f.hadoopConf, f.recordSums),
    partitionId, taskId)
  private var wroteData = false

  // delete side: pk columns + _graft_dseq, one sidecar per partition tuple
  private val delParquetSchema: MessageType =
    GraftLakeWrite.toParquetSchema(f.rowIdSchema, LakeTable.DseqCol)
  private val delGroupFactory = new SimpleGroupFactory(delParquetSchema)
  private val delWriters =
    mutable.Map.empty[Map[String, String], ParquetWriter[Group]]
  private val delStaged = mutable.ListBuffer.empty[StagedDeleteFile]

  override def insert(row: InternalRow): Unit = { wroteData = true; dataWriter.write(row) }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val partition: Map[String, String] = f.deleteSpec match {
      case Some(spec) => spec.map { case (srcIdx, tr, name) =>
        name -> GraftLakeWrite.renderPartition(
          tr, id, srcIdx, f.rowIdSchema.fields(srcIdx).dataType)
      }.toMap
      case None => Map.empty
    }
    val w = delWriters.getOrElseUpdate(partition, {
      val rel = s"${f.stagingRel}/del/p$partitionId-t$taskId-${delWriters.size}.parquet"
      val path = new Path(new Path(f.location), rel)
      delStaged += StagedDeleteFile(rel, f.writeSeq, partition)
      graft.lake.RowParquet.openWriter(path, conf, delParquetSchema)
    })
    w.write(GraftLakeWrite.toGroup(
      delGroupFactory, f.rowIdSchema, id, f.writeSeq, 0, LakeTable.DseqCol))
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete + insert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    val dataMsg =
      if (wroteData) dataWriter.commit().asInstanceOf[GraftLakeCommitMessage].files
      else Nil
    delWriters.values.foreach(_.close())
    GraftLakeDeltaCommitMessage(dataMsg, delStaged.toList)
  }

  override def abort(): Unit = {
    if (wroteData) dataWriter.abort()
    delWriters.values.foreach(w => try w.close() catch { case _: Exception => })
  }

  override def close(): Unit = ()
}
