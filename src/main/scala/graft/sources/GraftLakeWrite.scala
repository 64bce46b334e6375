package graft.sources

import graft.lake.{ColumnSums, LakeFileWriter, LakeTable, LakeWriteSpec, StagedFile}
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
  * ([[LakeTable.publishStaged]]) and commits one snapshot through the same
  * optimistic-retry protocol the imperative writer uses. Rows embed the
  * planning-time `currentSeq + 1` as their commit seq — a rebase can only
  * RAISE the final seq, which keeps appended rows conservatively old
  * relative to tombstones (see `LakeTable.commitAppendWithRetry`).
  *
  * Partition transforms are rendered per row on the executor by the
  * writer (identity through Catalyst's cast to string, month/day/year
  * from the raw value, `bucket[n]` via the shared Murmur3 derivation
  * [[graft.lake.Transform.bucketOf]]), identically on every write route.
  */
/** Append by default; `INSERT OVERWRITE` / truncate arrive through
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

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    override def toBatch: BatchWrite =
      new GraftLakeBatchWrite(t, replaceAll, writeSchema, expectedBase, replacedFiles,
        // pin the PLANNING snapshot: a concurrent spec evolution between
        // planning and execution would otherwise cluster rows by one spec
        // while the writers render partitions from another
        plannedSnap = Some(() => planSnap))

    /** Ask Spark to arrange rows BEFORE they reach the writers (the
      * standard DSv2 sink contract): cluster on the partition SOURCE
      * columns so one task owns one-ish partition value (instead of every
      * task opening a writer per value it happens to see — at cluster
      * scale that is writers × partitions small files), and sort by
      * (sources, cluster keys) so parquet row-group stats are tight on
      * the cluster keys, same as the DataFrame-API writer's arrangement.
      * Plain column references only — named transforms (months etc.)
      * would need a FunctionCatalog to resolve; clustering on the raw
      * source is finer-grained and always correct. Advisory
      * (non-strict): a tiny CDC batch need not shuffle. */
    // ONE snapshot load per write plan: requiredDistribution and
    // requiredOrdering may each be called several times during planning,
    // and two loads racing a concurrent commit could even disagree on the
    // spec version. STRICT val, pinned when build() materializes the
    // Write (r20 SQL-route soak: as a lazy val whose first touch could
    // slip to writer-factory creation, a concurrent ALTER landing before
    // that touch made "the planning snapshot" a post-ALTER one)
    private val planSnap = t.currentSnapshot
    private lazy val specSources: Seq[String] = {
      val schemaNames = writeSchema.getOrElse(t.schema(planSnap.schemaVersion)).fieldNames
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      (t.partitionSpec(planSnap.specVersion).map(_.source) ++ t.meta.clusterBy)
        .distinct.filter(c => schemaNames.contains(c.toLowerCase(java.util.Locale.ROOT)))
    }

    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution = {
      import org.apache.spark.sql.connector.expressions.Expressions
      // range-clustered tables ask for an ORDERED distribution (Iceberg's
      // write.distribution-mode=range): Spark range-partitions on
      // (partition sources, cluster keys), so each task writes files
      // whose cluster-key bounds are disjoint bands — manifest pruning
      // on the lead cluster key stays effective through DSv2 writes too
      if (t.meta.clusterStrategy == "range" && specSources.nonEmpty)
        return org.apache.spark.sql.connector.distributions.Distributions.ordered(
          requiredOrdering())
      val parts = t.partitionSpec(planSnap.specVersion).map(_.source)
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
      t.hadoopConfEntries, schema, parts, ColumnSums.recordSums(t.spark)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.flatMap(_.asInstanceOf[GraftLakeCommitMessage].files)
    // a failure anywhere before the snapshot commit rolls the published
    // files back — abort only clears staging
    val (entries, _) = t.publishStaged(staged, stagingRel)
    try {
      LakeTable.failpoint("staged-dsv2") // crash-injection site (test-only)
      (replaceAll, replacedFiles) match {
        case (true, Some(planned)) =>
          // group replace: swap exactly the files the row-level scan read.
          // A missing planned set would make "replace" mean "drop every
          // row the scan did not read" — fail loudly instead.
          val removed = planned().getOrElse(throw new IllegalStateException(
            s"${t.meta.name}: row-level write committed before its scan planned files"))
          t.commitStagedReplaceFiles(removed, entries, "rewrite-dsv2", expectedBase)
        case (true, None) =>
          t.commitStagedReplace(entries, "overwrite-dsv2", expectedBase)
        case _ =>
          t.commitStagedAppend(entries, "append-dsv2")
      }
    } catch {
      case e: Throwable =>
        t.discardPublished(entries.map(_.path))
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(t.location)
    val fs = root.getFileSystem(t.spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, stagingRel), true)
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
