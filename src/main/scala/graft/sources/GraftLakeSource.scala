package graft.sources

import graft.lake.{LakeTable, PruneFilter}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.graft.SqlInternals
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/** DataSourceV2 read path for graft lake tables — the "cleaner end-state"
  * SURVEY §4 sketches for transform-aware pruning: lake tables become
  * first-class Spark tables, readable as
  * `spark.read.format("graft.sources.GraftLakeSource").option("path", loc)
  * [.option("asOf", seq)].load()` and therefore from plain SQL via temp
  * views.
  *
  * Planner integration:
  *  - `SupportsPushDownFilters`: Eq/Ge/Lt/In filters on partition-source
  *    columns prune DATA FILES from the snapshot at planning time (the
  *    conservative `PruneFilter.mayMatch`); a `_graft_file` IN list is an
  *    exact file set. Every other filter is also returned as a post-scan
  *    filter, so pruning stays a pure I/O optimization.
  *  - `SupportsPushDownRequiredColumns`: readers decode only the projected
  *    parquet columns.
  *  - `SupportsReportStatistics`: post-pruning bytes/rows from snapshot
  *    metadata, so Catalyst auto-broadcasts small lake tables.
  *  - `SupportsRuntimeFiltering`: join-driven IN filters re-prune data
  *    files at runtime (dynamic partition pruning for star joins).
  *  - metadata-answerable aggregates (COUNT(*), exact MIN/MAX, recorded
  *    SUM/COUNT/AVG, ungrouped or grouped by partition-derived keys) never
  *    reach this scan: the [[graft.plans.LakeMetaAggregate]] optimizer
  *    rule answers them from snapshot metadata as a LocalRelation before
  *    V2 pushdown runs. Without `graft.plans.GraftExtensions` they run
  *    this scan — same answer, more I/O.
  *  - `SupportsPushDownLimit`: unfiltered LIMIT plans only enough files to
  *    cover it (partial pushdown; Spark re-applies the limit).
  *  - merge-on-read: a read of a snapshot with live delete files is
  *    planned by [[graft.plans.LakeMorRewrite]] as one anti-join,
  *    [[LakeTable.morFold]]: this scan in `mor=deferred` mode (raw rows,
  *    `_graft_seq` exposed) ⋉̸ the delete keys ([[GraftLakeDeleteKeys]]) —
  *    a row is dropped iff its commit seq precedes a delete of its key.
  *    AQE picks a broadcast or a shuffled join from the real key-side
  *    size; nothing is collected to the driver. A scan the rewrite did not
  *    reach (no `graft.plans.GraftExtensions`) fails loudly.
  *  - time travel: `asOf` pins the snapshot like `scan(asOf = …)`.
  *
  * Input partitions are PACKED like Spark's file source packs them
  * ([[GraftLakeSource.planFileSplits]]): a file no larger than the split
  * target is one chunk, a larger one is cut at its recorded row groups
  * (snapshot metadata captured at commit — Iceberg's `split_offsets` — so
  * the driver never reopens footers), and many small chunks share one
  * task under `spark.sql.files.maxPartitionBytes` / `openCostInBytes`.
  * Every chunk decodes through Spark's VECTORIZED parquet reader into
  * ColumnarBatches; `_graft_file` and synthesized changelog columns are
  * per-chunk constant columns of the same batches.
  */
class GraftLakeSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graftlake"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    loadTable(options) match { case (t, asOf, changelog) =>
      val user = t.schema(t.snapshot(asOf.getOrElse(t.currentSeq)).schemaVersion)
      if (changelog)
        StructType(user.fields :+ StructField(GraftLakeSource.ChangeTypeCol, StringType, nullable = false))
      else user
    }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (t, asOf, changelog) = loadTable(new CaseInsensitiveStringMap(properties))
    new GraftLakeV2Table(t, asOf, changelog = changelog)
  }

  private def loadTable(options: CaseInsensitiveStringMap): (LakeTable, Option[Long], Boolean) = {
    val path = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("graft lake source requires option 'path'"))
    val asOf = Option(options.get("asOf")).map(_.toLong)
    val changelog = Option(options.get("changelog")).exists(_.toBoolean)
    require(!(changelog && asOf.nonEmpty), "changelog reads cannot pin asOf")
    val t = LakeTable.load(SparkSession.active, path)
    if (changelog)
      require(!t.currentSchema.fieldNames.exists(_.equalsIgnoreCase(GraftLakeSource.ChangeTypeCol)),
        s"changelog read appends ${GraftLakeSource.ChangeTypeCol} — the table already has " +
          "a column of that name")
    (t, asOf, changelog)
  }
}

object GraftLakeSource {
  /** Metadata column: absolute path of the data file serving a row. */
  val FileCol = "_graft_file"

  /** Changelog-read label column: insert | update | delete. */
  val ChangeTypeCol = "_change_type"

  /** Data files → InputPartitions packed by Spark's file-source rule
    * (`FilePartition.maxSplitBytes` + `getFilePartitions`, under
    * `spark.sql.files.maxPartitionBytes` / `openCostInBytes` /
    * `minPartitionNum`): a file up to the split target is one chunk, a
    * larger one is cut at its recorded row groups. Keyed (SPJ) splits pack
    * only within one key. Shared by the batch and streaming planners. */
  private[sources] def planFileSplits(
      t: LakeTable, files: Seq[graft.lake.DataFile],
      keyOf: Option[graft.lake.DataFile => Array[Any]] = None): Array[InputPartition] = {
    val openCost = SqlInternals.conf(t.spark).filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(t.spark, files.map(_.bytes + openCost).sum)
    def chunksOf(fs: Seq[graft.lake.DataFile]): Seq[GraftChunk] = fs.flatMap { f =>
      val abs = t.abs(f.path)
      if (f.splits.isEmpty) Nil // no row groups: nothing to read
      else if (f.bytes <= maxSplit) Seq(GraftChunk(abs, 0L, f.bytes))
      else f.splits.map { case (st, len) => GraftChunk(abs, st, len) }
    }
    val parts: Seq[InputPartition] = keyOf match {
      case None => pack(t.spark, chunksOf(files), maxSplit).map(GraftLakeInputPartition(_))
      case Some(k) =>
        val byKey = files.groupBy(f => k(f).toSeq)
        files.map(f => k(f).toSeq).distinct.flatMap(key =>
          pack(t.spark, chunksOf(byKey(key)), maxSplit)
            .map(GraftLakeKeyedInputPartition(_, key.toArray)))
    }
    parts.toArray
  }

  /** Delete-key files → InputPartitions packed under the plain
    * `maxPartitionBytes` target, not spread over cores: the key side of a
    * fold is a small join build input, where extra tasks only add cost. */
  private[sources] def planWholeFiles(
      spark: SparkSession, files: Seq[(String, Long)]): Array[InputPartition] =
    pack(spark, files.map { case (f, len) => GraftChunk(f, 0L, len) },
      SqlInternals.conf(spark).filesMaxPartitionBytes)
      .map(GraftLakeInputPartition(_): InputPartition).toArray

  /** Spark's next-fit-decreasing packing (`FilePartition.getFilePartitions`,
    * with the file source's largest-first order) of `chunks` into groups
    * of at most `maxSplit` bytes, each chunk also costing the open cost. */
  private def pack(spark: SparkSession, chunks: Seq[GraftChunk], maxSplit: Long)
      : Seq[Seq[GraftChunk]] = {
    val sorted = chunks.sortBy(-_.length).toIndexedSeq
    // each PartitionedFile carries its chunk's index back out of the packer
    val files = sorted.indices.map(i => PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(sorted(i).file),
      sorted(i).start, sorted(i).length, otherConstantMetadataColumnValues = Map(ChunkIndex -> i)))
    FilePartition.getFilePartitions(spark, files, maxSplit).map(_.files.toSeq.map(pf =>
      sorted(pf.otherConstantMetadataColumnValues(ChunkIndex).asInstanceOf[Int])))
  }
  private val ChunkIndex = "graft_chunk"
}

/** Translates pushed v1 filters into a parquet [[FilterPredicate]] so the
  * readers skip whole ROW GROUPS from footer statistics (and pages, via
  * column indexes) — the same machinery `spark.read.parquet` engages with
  * `spark.sql.parquet.filterPushdown`. File-level skipping already
  * happened at planning (partition pruning + column bounds); this layer
  * catches the remaining selectivity INSIDE multi-row-group files, where
  * clustering keeps per-row-group ranges tight.
  *
  * Only flat scalar shapes are translated (the whole lake data model,
  * SURVEY §1.3); anything else is simply not pushed — Spark re-applies
  * every predicate post-scan either way, so this is a pure I/O
  * optimization. A filter on a column a file predates evaluates against
  * an all-null chunk and correctly drops the row group (null never
  * satisfies a comparison). */
private[sources] object ParquetPushdown {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary

  /** `pushable` gates columns whose PHYSICAL parquet type is not invariant
    * across the table's schema-version history: parquet's
    * SchemaCompatibilityValidator throws (failing the whole read, not just
    * the optimization) when a predicate's declared type meets a file
    * written before a type promotion — e.g. a long predicate over an INT32
    * file from before an int → bigint promotion. The scan builder proves
    * invariance from the schema history ([[physicalKey]]); a promoted
    * column simply isn't row-group-filtered (file-level bounds pruning
    * still applies — it compares in the value domain, not the physical). */
  def build(schema: StructType, filters: Seq[Filter],
      pushable: String => Boolean = _ => true): Option[FilterPredicate] =
    filters.flatMap(translate(schema, pushable, _)).reduceOption(FilterApi.and)

  /** The physical parquet column type a lake writer produces for a Spark
    * type — the identity that must hold across all schema versions for a
    * predicate built from the CURRENT schema to be valid on EVERY file.
    * Decimals carry their scale (same physical width at a different scale
    * stores different unscaled integers) and split at the INT32/INT64/
    * FIXED_LEN_BYTE_ARRAY precision boundaries the parquet spec fixes. */
  def physicalKey(dt: DataType): String = dt match {
    case IntegerType | DateType => "i32"
    case LongType | TimestampType | TimestampNTZType => "i64"
    case FloatType => "f32"
    case DoubleType => "f64"
    case StringType => "bin"
    case BooleanType => "bool"
    case d: DecimalType if d.precision <= 9 => s"i32:d${d.scale}"
    case d: DecimalType if d.precision <= 18 => s"i64:d${d.scale}"
    case d: DecimalType => s"flba:p${d.precision}:d${d.scale}" // width follows precision
    case other => s"other:${other.catalogString}"
  }

  private val MaxInValues = 20

  private def translate(schema: StructType, pushable: String => Boolean,
      f: Filter): Option[FilterPredicate] = f match {
    case EqualTo(c, v) => pred(schema, pushable, c, v, "eq")
    case GreaterThan(c, v) => pred(schema, pushable, c, v, "gt")
    case GreaterThanOrEqual(c, v) => pred(schema, pushable, c, v, "gtEq")
    case LessThan(c, v) => pred(schema, pushable, c, v, "lt")
    case LessThanOrEqual(c, v) => pred(schema, pushable, c, v, "ltEq")
    case In(c, vs) if vs.nonEmpty && vs.length <= MaxInValues && !vs.contains(null) =>
      val eqs = vs.toSeq.map(v => pred(schema, pushable, c, v, "eq"))
      if (eqs.forall(_.isDefined)) eqs.flatten.reduceOption(FilterApi.or) else None
    case _ => None
  }

  private def pred(schema: StructType, pushable: String => Boolean,
      name: String, v: Any, op: String): Option[FilterPredicate] = {
    if (v == null || !schema.fieldNames.contains(name) || !pushable(name)) return None
    schema(name).dataType match {
      case LongType | TimestampType | TimestampNTZType =>
        asLong(v).map(l => longPred(name, l, op))
      case IntegerType => v match {
        case i: Int => Some(intPred(name, i, op))
        case _ => None
      }
      case DateType => asDays(v).map(d => intPred(name, d, op))
      case DoubleType => v match {
        case d: Double if !d.isNaN => Some(doublePred(name, d, op))
        case _ => None
      }
      case FloatType => v match {
        case f: Float if !f.isNaN => Some(floatPred(name, f, op))
        case _ => None
      }
      case StringType => v match {
        case s: String => Some(binaryPred(name, Binary.fromString(s), op))
        case _ => None
      }
      case BooleanType => v match {
        case b: Boolean if op == "eq" =>
          Some(FilterApi.eq(FilterApi.booleanColumn(name), java.lang.Boolean.valueOf(b)))
        case _ => None
      }
      // INT32/INT64-backed decimals (precision <= 18, the parquet spec's
      // boundaries — matching Spark's writer): compare in the UNSCALED
      // integer domain the footer statistics live in. Pushed only when the
      // literal is exactly representable at the column's scale (Catalyst
      // casts comparison literals to the column type, so this is the
      // normal case); anything else declines — Spark re-applies the
      // predicate post-scan either way. FLBA-backed decimals (> 18) have
      // unsigned-lexicographic Binary stats; not worth the subtlety here.
      case dt: DecimalType if dt.precision <= 18 =>
        asUnscaled(v, dt.scale).flatMap { u =>
          if (dt.precision <= 9) {
            if (u >= Int.MinValue && u <= Int.MaxValue) Some(intPred(name, u.toInt, op))
            else None
          } else Some(longPred(name, u, op))
        }
      case _ => None
    }
  }

  /** Literal → unscaled long at `scale`, None when not exactly
    * representable (rescale would round) or beyond long range. */
  private def asUnscaled(v: Any, scale: Int): Option[Long] = {
    val bd = v match {
      case d: java.math.BigDecimal => Some(d)
      case d: BigDecimal => Some(d.underlying)
      case d: Decimal => Some(d.toJavaBigDecimal)
      case _ => None
    }
    bd.flatMap { d =>
      try Some(d.setScale(scale).unscaledValue.longValueExact)
      catch { case _: ArithmeticException => None }
    }
  }

  private def asLong(v: Any): Option[java.lang.Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case t: java.sql.Timestamp =>
      Some(t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L)
    case i: java.time.Instant => Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case d: java.time.LocalDateTime =>
      Some(d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000L)
    case _ => None
  }

  private def asDays(v: Any): Option[java.lang.Integer] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
    case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
    case _ => None
  }

  private def longPred(c: String, v: java.lang.Long, op: String): FilterPredicate = {
    val col = FilterApi.longColumn(c)
    op match {
      case "eq" => FilterApi.eq(col, v); case "gt" => FilterApi.gt(col, v)
      case "gtEq" => FilterApi.gtEq(col, v); case "lt" => FilterApi.lt(col, v)
      case "ltEq" => FilterApi.ltEq(col, v)
    }
  }
  private def intPred(c: String, v: java.lang.Integer, op: String): FilterPredicate = {
    val col = FilterApi.intColumn(c)
    op match {
      case "eq" => FilterApi.eq(col, v); case "gt" => FilterApi.gt(col, v)
      case "gtEq" => FilterApi.gtEq(col, v); case "lt" => FilterApi.lt(col, v)
      case "ltEq" => FilterApi.ltEq(col, v)
    }
  }
  private def doublePred(c: String, v: java.lang.Double, op: String): FilterPredicate = {
    val col = FilterApi.doubleColumn(c)
    op match {
      case "eq" => FilterApi.eq(col, v); case "gt" => FilterApi.gt(col, v)
      case "gtEq" => FilterApi.gtEq(col, v); case "lt" => FilterApi.lt(col, v)
      case "ltEq" => FilterApi.ltEq(col, v)
    }
  }
  private def floatPred(c: String, v: java.lang.Float, op: String): FilterPredicate = {
    val col = FilterApi.floatColumn(c)
    op match {
      case "eq" => FilterApi.eq(col, v); case "gt" => FilterApi.gt(col, v)
      case "gtEq" => FilterApi.gtEq(col, v); case "lt" => FilterApi.lt(col, v)
      case "ltEq" => FilterApi.ltEq(col, v)
    }
  }
  private def binaryPred(c: String, v: Binary, op: String): FilterPredicate = {
    val col = FilterApi.binaryColumn(c)
    op match {
      case "eq" => FilterApi.eq(col, v); case "gt" => FilterApi.gt(col, v)
      case "gtEq" => FilterApi.gtEq(col, v); case "lt" => FilterApi.lt(col, v)
      case "ltEq" => FilterApi.ltEq(col, v)
    }
  }
}

/** @param raw expose the table WITHOUT merge-on-read delete filtering
  *            and WITH the `_graft_seq` commit-seq column appended — the
  *            row side [[graft.plans.LakeMorRewrite]] folds deletes over
  *            with [[LakeTable.morFold]]. */
private[graft] class GraftLakeV2Table(
    private[graft] val t: LakeTable,
    private[graft] val asOf: Option[Long],
    private[graft] val raw: Boolean = false,
    /** Changelog read mode (`option("changelog","true")` on readStream):
      * the table exposes user columns + `_change_type` and its scan streams
      * typed row-level deltas by bridging [[LakeTable.changes]] per
      * trigger — the CDC-out path that lets an incremental silver tier
      * survive upserts/deletes upstream instead of refusing non-append
      * history. */
    private[graft] val changelog: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private[graft] val snap = t.snapshot(asOf.getOrElse(t.currentSeq))

  private[graft] def userSchema: StructType = t.schema(snap.schemaVersion)

  override def name(): String = if (raw) s"${t.meta.name} (raw)" else t.meta.name
  override def schema(): StructType = {
    val base =
      if (raw) StructType(userSchema.fields :+ StructField(LakeTable.SeqCol, LongType, nullable = false))
      else if (changelog)
        StructType(userSchema.fields :+
          StructField(GraftLakeSource.ChangeTypeCol, StringType, nullable = false))
      else userSchema
    // primary-key columns are NON-NULLABLE by contract: they are the
    // merge-on-read row identity (a null key could never be upserted or
    // tombstoned), Spark's delta-based row-level rewrites refuse nullable
    // row IDs outright, and the default ANSI store-assignment policy
    // guards INSERTs with a runtime AssertNotNull instead of an analysis
    // error — a genuinely null key fails loudly at the write, which is
    // exactly the primary-key semantic.
    if (t.meta.primaryKey.isEmpty) base
    else StructType(base.fields.map(f =>
      if (t.meta.primaryKey.contains(f.name)) f.copy(nullable = false) else f))
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  /** Iceberg-style metadata columns: `_graft_seq` (the commit that wrote
    * each row — a real stored column) and `_graft_file` (the serving data
    * file, injected by the reader). Hidden from `SELECT *`; available by
    * name for audits and incremental jobs. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = LakeTable.SeqCol
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "commit sequence that wrote the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftLakeSource.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType = org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file serving the row"
      })

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    t.partitionSpec(snap.specVersion).map { pf =>
      pf.transform match {
        case graft.lake.Transform.Identity    => Expressions.identity(pf.source)
        case graft.lake.Transform.Year        => Expressions.years(pf.source)
        case graft.lake.Transform.Month       => Expressions.months(pf.source)
        case graft.lake.Transform.Day         => Expressions.days(pf.source)
        case graft.lake.Transform.Bucket(n)   => Expressions.bucket(n, pf.source)
        case graft.lake.Transform.Truncate(w) =>
          Expressions.apply("truncate", Expressions.column(pf.source), Expressions.literal(w))
      }
    }.toArray
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("provider", "graftlake")
    m.put("location", t.location)
    if (t.meta.primaryKey.nonEmpty) m.put("primary_key", t.meta.primaryKey.mkString(","))
    if (t.meta.clusterBy.nonEmpty) m.put("cluster_by", t.meta.clusterBy.mkString(","))
    m.put("current_snapshot", snap.seq.toString)
    m
  }

  /** True when reads of this table must fold live delete files — what
    * [[graft.plans.LakeMorRewrite]] plans for every such relation. */
  private[graft] def morPending: Boolean = !raw && !changelog && snap.deleteFiles.nonEmpty
  private[graft] def rawTable: GraftLakeV2Table =
    new GraftLakeV2Table(t, Some(snap.seq), raw = true)
  private[graft] def deleteKeys: GraftLakeDeleteKeys =
    new GraftLakeDeleteKeys(t, snap.seq, userSchema)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (changelog) new GraftLakeChangelogScanBuilder(t, schema(),
      Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt))
    else new GraftLakeScanBuilder(t, snap.seq, schema(), skipDeletes = raw,
      streamMaxSnapshots = Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt))

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty && !raw && !changelog,
      "cannot write to a time-travel, raw, or changelog view")
    new GraftLakeWriteBuilder(t, Option(info.schema()))
  }

  // --------------------------------------- SQL UPDATE / MERGE INTO (MoR/COW)

  /** Row-level write mode, the reference's `write.update/merge/delete.mode`
    * (destination.json:89-91): `merge-on-read` (default — delta files via
    * [[GraftLakeDeltaOperation]], no data-file rewrite) or `copy-on-write`
    * (group-based file restatement below). MoR needs a primary key for
    * equality deletes; keyless tables always restate. */
  private def rowLevelMode: String = {
    val m = t.spark.conf.getOption("spark.graft.lake.rowLevelMode").getOrElse("merge-on-read")
    require(m == "merge-on-read" || m == "copy-on-write",
      s"spark.graft.lake.rowLevelMode must be merge-on-read | copy-on-write, got $m")
    m
  }

  /** SQL `UPDATE` and `MERGE INTO` via Spark's GROUP-BASED row-level
    * framework with RUNTIME GROUP FILTERING: the operation's scan reads
    * the current merged content, Spark's rewrite computes the
    * post-operation rows, and the write replaces the read group in one
    * snapshot. The group granularity is the FILE — this operation declares
    * `_graft_file` as a required metadata attribute and the scan offers it
    * for runtime filtering, so Spark's
    * `RowLevelOperationRuntimeGroupFiltering` rule runs the command's
    * condition as a subquery, collects the distinct files holding matching
    * rows, and the scan plans ONLY those files. The commit then swaps
    * exactly the planned files and carries every other file entry over
    * verbatim: a selective UPDATE on a 100 TB table rewrites the few
    * affected files, not the table. An unfiltered restatement (no
    * condition, or one the rule cannot push) degrades to the full-table
    * replace it always was. CDC ingest stays merge-on-read
    * ([[deleteWhere]] / upsert) — this is the restatement path. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty && !raw && !changelog,
      "cannot mutate a time-travel, raw, or changelog view")
    if (rowLevelMode == "merge-on-read" && t.meta.primaryKey.nonEmpty)
      return () => new GraftLakeDeltaOperation(t, snap, info)
    () => new GraftLakeRowLevelOperation {
      // shared between the operation's scan and write: the write's commit
      // replaces exactly the files the (runtime-filtered) scan planned
      @volatile private var scanBuilder: Option[GraftLakeScanBuilder] = None

      override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()
      override def description(): String = s"graftlake copy-on-write ${info.command()}"

      /** Ask the analyzer to keep `_graft_file` on the operation's rows —
        * the group id the runtime filter and the replace commit speak. */
      override def requiredMetadataAttributes(): Array[NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(
          GraftLakeSource.FileCol))

      // The scan must return EVERY row of every file it plans — the write
      // replaces whole files, so STATIC filter pushdown (file pruning or
      // parquet row-group skipping on the command condition) would drop
      // carry-over rows. acceptFilters=false blocks that; the only pruning
      // comes from the runtime _graft_file whitelist, whose granularity is
      // exactly the replace granularity.
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        val b = new GraftLakeScanBuilder(t, snap.seq, schema(), skipDeletes = morFolded,
          acceptFilters = false)
        scanBuilder = Some(b)
        b
      }

      override def newWriteBuilder(winfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        // expectedBase = the snapshot the operation's scan reads: a commit
        // landing between scan and replace fails the statement instead of
        // being silently wiped (lost update)
        new GraftLakeWriteBuilder(t, Option(winfo.schema()), expectedBase = Some(snap.seq),
          replacedFiles = Some(() => scanBuilder.flatMap(_.builtScan).flatMap(_.plannedRelPaths)))
          .overwrite(
            Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.AlwaysTrue()))
    }
  }

  // ------------------------------------------------- SQL DELETE FROM (MoR)

  /** `DELETE FROM graft.t WHERE …` as a MERGE-ON-READ delete: evaluate the
    * predicate with a distributed scan, commit the matching primary keys
    * as one delete-key file — O(matching rows), no table rewrite.
    * Predicates Spark cannot push as v1 filters (expressions over columns)
    * are declined via canDeleteWhere and fall back to the GROUP-BASED
    * row-level path ([[newRowLevelOperationBuilder]]) — a copy-on-write
    * rewrite, correct but O(table); keep hot-path deletes on pushable
    * predicates. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && !raw && !changelog && t.meta.primaryKey.nonEmpty &&
      filters.forall(f => GraftLakeV2Table.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(GraftLakeV2Table.filterColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    t.deleteKeys(t.scan().filter(cond)
      .select(t.meta.primaryKey.map(org.apache.spark.sql.functions.col): _*))
  }
}

/** A row-level operation (SQL UPDATE / MERGE INTO / DELETE) whose scan
  * reads the table. When the snapshot has live delete files,
  * [[graft.plans.LakeMorRewrite]] folds them with [[LakeTable.morFold]]
  * over the operation's scan inside the command's query, and marks the
  * operation so the scan reads raw rows (`mor=deferred`). Spark's runtime
  * group filtering and the group replace still see the operation's own
  * scan. An unmarked operation's scan keeps the loud missing-rewrite
  * failure of [[GraftLakeScan]]. */
private[graft] trait GraftLakeRowLevelOperation
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  @volatile private var folded = false
  private[graft] def markMorFolded(): Unit = folded = true
  protected def morFolded: Boolean = folded
}

private[graft] object GraftLakeV2Table {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** v1 Filter → Column, None when untranslatable (→ DELETE refused). */
  def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
    case Not(c) => filterColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

private[sources] class GraftLakeScanBuilder(
    t: LakeTable, seq: Long, tableSchema: StructType, skipDeletes: Boolean,
    acceptFilters: Boolean = true,
    streamMaxSnapshots: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {

  private var required: StructType = tableSchema
  private var pruneFilters: Seq[PruneFilter] = Nil
  private var reported: Array[Filter] = Array.empty
  private var dataFilters: Seq[Filter] = Nil
  private var files: Option[Set[String]] = None
  private var limit: Option[Int] = None

  /** LIMIT n over an unfiltered, tombstone-free snapshot: plan only enough
    * files (by recorded row counts) to cover n rows. Partial pushdown —
    * Spark still applies the limit; this just stops a `SELECT * LIMIT 5`
    * from scheduling a task per row group of a 10^5-file table. */
  override def pushLimit(n: Int): Boolean = {
    val snap = t.snapshot(seq)
    val ok = acceptFilters && dataFilters.isEmpty && n >= 0 && snap.deleteFiles.isEmpty
    if (ok) limit = Some(n)
    ok
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // row-level-operation scans must read every row (see
    // newRowLevelOperationBuilder): no pruning, no reader pushdown
    if (!acceptFilters) return filters
    // every conjunct is kept for READER-level pushdown (parquet row-group
    // stats skipping); the translatable subset below additionally prunes
    // FILES (and whole manifests) at planning — against the partition
    // tuple when the column is a partition source, and against the
    // per-file column bounds for ANY column (clustering keeps those tight
    // on the cluster keys, so this is the scan path's zone-map skip)
    // a `_graft_file` whitelist (IN or =) selects whole files exactly,
    // like the runtime group filter: no post-scan re-check
    val (byFile, rest) = filters.partition(f => GraftLakeScanBuilder.fileNames(f).isDefined)
    files = byFile.flatMap(GraftLakeScanBuilder.fileNames).reduceOption(_ intersect _)
    dataFilters = rest.toSeq
    // Catalyst splits top-level conjunctions before pushdown, so each
    // element here is one conjunct; any untranslated shape simply doesn't
    // prune (and is re-applied post-scan like everything else).
    val translated = rest.flatMap(f => GraftLakeScanBuilder.toPruneFilter(f).map(_ -> f))
    pruneFilters = translated.map(_._1).toSeq
    reported = translated.map(_._2) ++ byFile
    rest // everything else re-applied post-scan: pruning is conservative
  }

  override def pushedFilters(): Array[Filter] = reported

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Last scan this builder produced — the row-level write reads its
    * planned file set to commit a partial (group) replace. */
  @volatile private[sources] var builtScan: Option[GraftLakeScan] = None

  override def build(): Scan = {
    val s = new GraftLakeScan(t, seq, tableSchema, required, pruneFilters, skipDeletes,
      dataFilters, limit, streamMaxSnapshots,
      rowLevelScan = !acceptFilters, files = files)
    builtScan = Some(s)
    s
  }
}

private[graft] object GraftLakeScanBuilder {

  /** v1 Filter conjunct → file-pruning filter; None = shape not prunable.
    * Shared by planning-time pushdown and runtime (DPP) filtering. */
  def toPruneFilter(f: Filter): Option[PruneFilter] = f match {
    case EqualTo(c, v) => Some(PruneFilter.Eq(c, v))
    case GreaterThanOrEqual(c, v) => Some(PruneFilter.Ge(c, v))
    case GreaterThan(c, v) => Some(PruneFilter.Gt(c, v))
    case LessThan(c, v) => Some(PruneFilter.Lt(c, v))
    case LessThanOrEqual(c, v) => Some(PruneFilter.Le(c, v))
    case In(c, vs) => Some(PruneFilter.In(c, vs.toSeq))
    case _ => None
  }

  /** The absolute data-file paths a `_graft_file` IN / = conjunct names. */
  def fileNames(f: Filter): Option[Set[String]] = f match {
    case In(GraftLakeSource.FileCol, vs) => Some(vs.map(String.valueOf).toSet)
    case EqualTo(GraftLakeSource.FileCol, v) => Some(Set(String.valueOf(v)))
    case _ => None
  }
}

/** The key side of the merge-on-read fold ([[LakeTable.morFold]]): the
  * live delete keys of one snapshot (pk columns + `_graft_dseq`) as a DSv2
  * table. Its scan takes pushed pk filters — Spark infers them across the
  * LeftAnti equi-join from the row side's predicates
  * (`InferFiltersFromConstraints`) — and reads only the delete files whose
  * partition scope reaches a data file those filters keep: the same
  * `snapshotPruned` / `planFiles` / `deleteFilesFor` pruning the row side
  * plans with, so a partition-pruned read of a pk-partitioned table loads
  * only its scoped delete files. Every pushed filter is re-applied post
  * scan. Delete files written before a pk type promotion decode wide
  * through the vectorized reader, like old-era data files. */
private[graft] class GraftLakeDeleteKeys(t: LakeTable, seq: Long, userSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"${t.meta.name} (delete keys)"
  override def schema(): StructType = StructType(
    t.meta.primaryKey.map(k => userSchema(k)) :+
      StructField(LakeTable.DseqCol, LongType, nullable = false))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      private var pushed: Array[(PruneFilter, Filter)] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.flatMap(f => GraftLakeScanBuilder.toPruneFilter(f).map(_ -> f))
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed.map(_._2)
      override def build(): Scan = new GraftLakeDeleteKeysScan(t, seq, schema(), pushed.map(_._1))
    }
}

private[sources] class GraftLakeDeleteKeysScan(
    t: LakeTable, seq: Long, keySchema: StructType, filters: Seq[PruneFilter])
    extends Scan with Batch with SupportsReportStatistics {
  private lazy val deleteFiles: Seq[graft.lake.DeleteFile] = {
    val snap = t.snapshotPruned(seq, filters)
    // every key of a delete file carries the file's commit seq as its
    // `_graft_dseq`, so a pushed range on that column keeps or drops
    // whole delete files (how `LakeTable.changes` reads its range's keys)
    def dseq(d: graft.lake.DeleteFile) =
      Map(LakeTable.DseqCol -> graft.lake.ColBound("n", d.seq.toString, d.seq.toString))
    t.deleteFilesFor(snap, t.planFiles(snap, filters)._1)
      .filter(d => filters.forall(graft.lake.ColumnBounds.mayMatch(dseq(d), _)))
  }

  override def readSchema(): StructType = keySchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLakeDeleteKeys ${t.meta.name} snapshot=$seq deleteFiles=${deleteFiles.size}/" +
      s"${t.snapshot(seq).deleteFiles.size} PrunedBy: ${filters.mkString(", ")}"

  /** Key-side size for the join choice: AQE broadcasts it while small. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(deleteFiles.map(_.bytes).sum)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    GraftLakeSource.planWholeFiles(t.spark, deleteFiles.map(d => t.abs(d.path) -> d.bytes))

  override def createReaderFactory(): PartitionReaderFactory =
    GraftLakeReaderFactory(keySchema, t.hadoopConfEntries)
}

private[sources] class GraftLakeScan(
    t: LakeTable,
    seq: Long,
    tableSchema: StructType,
    required: StructType,
    filters: Seq[PruneFilter],
    skipDeletes: Boolean,
    dataFilters: Seq[Filter] = Nil,
    limit: Option[Int] = None,
    streamMaxSnapshots: Option[Int] = None,
    rowLevelScan: Boolean = false,
    files: Option[Set[String]] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Runtime (join-driven) filters, delivered by AQE after the build side
    * of a join materializes — Spark's dynamic partition pruning for DSv2.
    * Purely additive pruning: every predicate is still applied post-scan
    * by the join itself, so a filter this scan cannot translate is simply
    * ignored (conservative, like planning-time pruning). */
  @volatile private var runtimeFilters: Seq[PruneFilter] = Nil
  private def allFilters: Seq[PruneFilter] = filters ++ runtimeFilters

  /** Whitelist on the `_graft_file` metadata column: the pushed `files`
    * set, or at runtime the GROUP filter of Spark's row-level framework
    * (`RowLevelOperationRuntimeGroupFiltering` computes the distinct files
    * holding rows the UPDATE/MERGE/DELETE condition matches and ships them
    * as an IN filter): only those files are read AND therefore only those
    * files are replaced by the copy-on-write commit. */
  @volatile private var fileWhitelist: Option[Set[String]] = files
  private def whitelisted(fs: Seq[graft.lake.DataFile]): Seq[graft.lake.DataFile] =
    fileWhitelist.fold(fs)(w => fs.filter(f => w(t.abs(f.path))))

  /** Relative paths of the data files the LAST `planInputPartitions` call
    * planned — the group set a row-level REPLACE commit must swap out. */
  @volatile private[sources] var plannedRelPaths: Option[Set[String]] = None

  /** Columns worth shipping runtime IN-filters for. A ROW-LEVEL scan
    * (`rowLevelScan`) advertises ONLY the `_graft_file` group id: with
    * more than one attribute Spark builds a composite `struct(...) IN
    * subquery` runtime filter that cannot translate to a v1 In on the file
    * column, and the group filter would silently not restrict the rewrite.
    * Regular scans advertise partition sources (file pruning via the
    * transform spec) and cluster keys (file pruning via tight per-file
    * bounds), restricted to columns surviving column pruning: Spark's
    * `PartitionPruning.getFilterableTableScan` resolves these refs against
    * the PRUNED scan output and throws AnalysisException on any it cannot
    * find — a join that doesn't project the partition source column must
    * simply not be offered that column for DPP. */
  /** Partition sources across the scanned snapshot's whole spec history
    * (evolution-aware: old-spec files prune on old fields, new on new). */
  private lazy val specSources: Seq[String] =
    t.specFieldsThrough(t.snapshot(seq).specVersion).map(_.source)

  // -------------------------------------------- storage-partitioned joins

  /** SPJ plan, or None when this scan cannot be key-grouped: the key
    * extractor for each planned file, the key expressions, and the
    * distinct-key count (computed from the EXTRACTED keys, so old-era
    * files carrying extra retired spec fields don't overcount groups).
    * Eligible when the user opted in (`spark.sql.sources.v2.bucketing
    * .enabled` — checked FIRST: the default path must not pay any
    * metadata reads for this), every CURRENT-spec field is either
    * identity over a string/integral source or `bucket(n, source)` (the
    * standard 100 TB fact-fact layout — the key is the bucket id, the
    * reported expression `bucket(n, col)` resolves through the catalog's
    * [[GraftCatalog.BucketFunction]]), each source survives column pruning
    * (Spark resolves the reported key expressions against the scan
    * output — an absent source would throw, the round-4 DPP lesson), and
    * every planned file records every key field (pre-evolution files
    * cannot be grouped). Identity keys parse the directory-rendered
    * partition value back into catalyst values of the source type; bucket
    * keys parse the rendered bucket id. Two graft tables partitioned alike
    * then join with ZERO shuffle — at 100 TB the difference between a
    * co-partitioned merge and re-shuffling both fact tables. */
  private lazy val spjPlan: Option[(graft.lake.DataFile => Array[Any],
      Array[org.apache.spark.sql.connector.expressions.Expression], Int)] = computeSpjPlan()

  private def computeSpjPlan(): Option[(graft.lake.DataFile => Array[Any],
      Array[org.apache.spark.sql.connector.expressions.Expression], Int)] = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions}
    import org.apache.spark.sql.types._
    val enabled = t.spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (!enabled || rowLevelScan || streamMaxSnapshots.nonEmpty) return None
    val spec = t.partitionSpec(t.specVersionOf(seq)) // header read, no manifest assembly
    if (spec.isEmpty) return None
    val readable = required.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    def parser(dt: DataType): Option[String => Any] = dt match {
      case StringType  => Some(s => org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case LongType    => Some(_.toLong)
      case IntegerType => Some(_.toInt)
      case ShortType   => Some(_.toShort)
      case ByteType    => Some(_.toByte)
      case _ => None
    }
    // single-part field references by construction — an unquoted dotted
    // column name would PARSE as a nested path and fail catalyst
    // resolution instead of falling back, so backtick-quote the name
    def quoted(n: String) = "`" + n.replace("`", "``") + "`"
    // per spec field: (rendered partition value -> catalyst key value,
    // reported key expression); None = this spec cannot key-group
    val fields: Seq[Option[(String => Any, VExpression)]] = spec.map { pf =>
      if (!readable.contains(pf.source.toLowerCase(java.util.Locale.ROOT))) None
      else pf.transform match {
        case graft.lake.Transform.Identity =>
          tableSchema.fields.find(_.name == pf.source)
            .flatMap(f => parser(f.dataType))
            .map(p => (p, Expressions.identity(quoted(pf.source)): VExpression))
        case graft.lake.Transform.Bucket(n) =>
          // the key VALUE is the bucket id the writer rendered (never the
          // null sentinel: Spark's murmur3 hashes a null input to its
          // seed, a real bucket)
          Some(((s: String) => s.toInt: Any,
            Expressions.bucket(n, quoted(pf.source)): VExpression))
        case _ => None
      }
    }
    if (fields.exists(_.isEmpty)) return None
    val planned = t.planFiles(t.snapshotPruned(seq, filters), filters)._1
    if (!planned.forall(f => spec.forall(pf => f.partition.contains(pf.name)))) return None
    // null and "" both render as the Hive default-partition sentinel in
    // directory names, so for STRING sources the recorded tuple cannot
    // distinguish them — refuse key grouping for scans whose planned files
    // carry the sentinel on a string key rather than conflate the two
    // (numeric sources are unambiguous: "" is not a value they can take)
    val stringKeys = spec.filter(pf =>
      pf.transform == graft.lake.Transform.Identity &&
        tableSchema.fields.find(_.name == pf.source).exists(_.dataType == StringType))
    if (stringKeys.nonEmpty && planned.exists(f => stringKeys.exists(pf =>
      f.partition(pf.name) == graft.lake.PartitionValues.NullSentinel))) return None
    val keyOf: graft.lake.DataFile => Array[Any] = f =>
      spec.zip(fields).map { case (pf, field) =>
        f.partition(pf.name) match {
          case graft.lake.PartitionValues.NullSentinel => null
          case v => field.get._1.apply(v)
        }
      }.toArray[Any]
    val keys = fields.map(_.get._2).toArray
    val distinct = planned.map(f => keyOf(f).toSeq).distinct.size
    Some((keyOf, keys, math.max(distinct, 1)))
  }

  private def spjKeyOf: Option[graft.lake.DataFile => Array[Any]] = spjPlan.map(_._1)

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjPlan match {
      case Some((_, keys, distinct)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(keys, distinct)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def filterAttributes(): Array[NamedReference] = {
    val readable = required.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val cols =
      if (rowLevelScan)
        if (readable.contains(GraftLakeSource.FileCol)) Seq(GraftLakeSource.FileCol) else Nil
      else
        (specSources ++ t.meta.clusterBy).distinct
          .filter(c => readable.contains(c.toLowerCase(java.util.Locale.ROOT)))
    cols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  override def filter(runtime: Array[Filter]): Unit = {
    val (fileFilters, rest) =
      runtime.toSeq.partition(GraftLakeScanBuilder.fileNames(_).isDefined)
    fileFilters.flatMap(GraftLakeScanBuilder.fileNames).foreach(n => fileWhitelist = Some(n))
    runtimeFilters = rest.flatMap(GraftLakeScanBuilder.toPruneFilter)
  }

  /** Post-pruning size/row statistics from snapshot metadata, so Catalyst
    * auto-broadcasts small lake tables in joins (a DSv2 relation without
    * stats defaults to "infinitely large" and never broadcasts). Bytes are
    * the compressed parquet sum of planned files — the same estimate
    * Iceberg reports; rows only when no merge-on-read tombstone is live
    * (tombstones only shrink the result, so the byte figure stays a safe
    * overestimate). */
  override def estimateStatistics(): Statistics = {
    val snap = t.snapshotPruned(seq, allFilters)
    val files = whitelisted(t.planFiles(snap, allFilters)._1)
    val bytes = files.map(_.bytes).sum
    // partition-scoped tombstones: a pruned scan whose planned files no
    // delete sidecar can reach still reports exact rows (better broadcast
    // decisions on MoR tables whose churn lives in other partitions)
    val rows: java.util.OptionalLong =
      if (skipDeletes || t.deleteFilesFor(snap, files).isEmpty)
        java.util.OptionalLong.of(files.map(_.rows).sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftLakeMicroBatchStream(t, required, filters, streamMaxSnapshots)
  override def description(): String = {
    val (pruned, total) = t.planFiles(t.snapshot(seq), filters)
    val kept = whitelisted(pruned)
    val mor = if (skipDeletes) " mor=deferred" else ""
    val lim = limit.map(n => s" limitFiles=$n").getOrElse("")
    s"GraftLakeScan ${t.meta.name}$mor snapshot=$seq files=${kept.size}/$total$lim " +
      s"PrunedBy: ${filters.mkString(", ")}"
  }

  /** Packed splits of the planned files ([[GraftLakeSource.planFileSplits]]):
    * small files share a task, a file larger than the split target fans
    * out per row group. Planning is pure metadata. */
  override def planInputPartitions(): Array[InputPartition] = {
    // manifest-level pruning first (skips whole metadata files via their
    // partition summaries), then file-level pruning within what loaded
    val snap = t.snapshotPruned(seq, allFilters)
    val (pruned, _) = t.planFiles(snap, allFilters)
    // `_graft_file` whitelist (planning-time, or the row-level runtime
    // group filter): absolute paths, as the readers stamp them
    val files = whitelisted(pruned)
    // pushed LIMIT (only granted unfiltered + tombstone-free): keep just
    // enough files to cover it — recorded row counts make this metadata
    val kept = limit match {
      case Some(n) if allFilters.isEmpty && fileWhitelist.isEmpty =>
        var acc = 0L
        files.takeWhile { f => val need = acc < n; acc += f.rows; need }
      case _ => files
    }
    plannedRelPaths = Some(kept.map(_.path).toSet)
    // runtime filters only REMOVE files, so a key-grouped plan stays
    // key-grouped after DPP narrows it
    GraftLakeSource.planFileSplits(t, kept, keyOf = spjKeyOf)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the PRUNED snapshot, as in planning: delete manifests whose partition
    // summaries cannot match the scan filters are never parsed (sound
    // because Spark re-applies every pushed filter as residual — see
    // LakeTable.snapshotPruned), and partition-scoped delete files are
    // narrowed further to the ones reaching a PLANNED data file. Any that
    // remain must be folded by the plan above this scan (LakeMorRewrite);
    // a scan no rewrite reached would silently serve deleted rows.
    val snap = t.snapshotPruned(seq, allFilters)
    if (!skipDeletes && snap.deleteFiles.nonEmpty &&
        t.deleteFilesFor(snap, t.planFiles(snap, allFilters)._1).nonEmpty)
      throw new IllegalStateException(
        s"${t.meta.name}: snapshot $seq has live merge-on-read delete files, but no " +
          "delete fold was planned over this scan. Start the session with " +
          "spark.sql.extensions=graft.plans.GraftExtensions (and keep " +
          "graft.plans.LakeMorRewrite out of spark.sql.optimizer.excludedRules).")
    // a column is row-group-filterable only if its physical parquet type
    // is the same in EVERY schema version up to this snapshot's — a file
    // written before a type promotion would otherwise fail the whole read
    // (parquet validates the predicate's declared type against each file's
    // footer schema). Versions that don't carry the column don't
    // constrain it: the predicate evaluates those files' chunks as
    // all-null and correctly drops them.
    val history = (1 to snap.schemaVersion).map(t.schema) // versions start at 1
    def physicallyStable(name: String): Boolean = {
      // resolve case-INsensitively, like every other name lookup in this
      // source — a pushed filter may carry the analyzer's casing while the
      // schema history holds the writer's
      val keys = history.flatMap(s =>
        s.fields.find(_.name.equalsIgnoreCase(name))
          .map(f => ParquetPushdown.physicalKey(f.dataType)))
      keys.distinct.size <= 1
    }
    GraftLakeReaderFactory(required, t.hadoopConfEntries,
      ParquetPushdown.build(tableSchema, dataFilters, physicallyStable))
  }
}

/** Offset of the lake streaming source: the snapshot commit sequence. */
private[sources] case class GraftLakeOffset(seq: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = seq.toString
}

/** Incremental (micro-batch) read of a lake table:
  * `spark.readStream.format("graftlake").option("path", …)` — each trigger
  * consumes the data files committed by snapshots in (startSeq, endSeq],
  * so appends stream through as they commit (the Iceberg incremental-read
  * idiom; this is how a continuously-refreshed silver tier tails the raw
  * tier instead of rescanning it). APPEND-ONLY history: a compaction,
  * upsert or overwrite inside the consumed range rewrites or tombstones
  * rows and cannot be replayed as an append stream — it fails loudly with
  * the restart instructions instead of double-counting. */
private[sources] class GraftLakeMicroBatchStream(
    t: LakeTable,
    required: StructType,
    filters: Seq[PruneFilter],
    maxSnapshotsPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** Sentinel "before any snapshot": the first batch BOOTSTRAPS from the
    * earliest snapshot still on disk (routine expiry deletes old snapshot
    * files while the current file listing retains their data), then
    * increments follow. */
  private val Bootstrap = -1L

  /** End pinned by `Trigger.AvailableNow` at query start: the drain
    * consumes exactly the range committed BEFORE the trigger fired —
    * possibly across several micro-batches when `maxSnapshotsPerTrigger`
    * caps each one — and stops there even while writers keep committing
    * (the bounded-drain guarantee production backfills rely on; without
    * this trait Spark falls back to one unbounded batch). */
  @volatile private var pinnedEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = { pinnedEnd = Some(t.currentSeq) }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: the next batch ends `maxSnapshotsPerTrigger`
    * commits past the start (all available otherwise), never beyond the
    * AvailableNow pin. Returning the start offset unchanged signals "no
    * new data" and ends an AvailableNow drain. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftLakeOffset].seq
    val cap = pinnedEnd.getOrElse(t.currentSeq)
    val eff = if (s == Bootstrap) math.min(t.snapshots.map(_.seq).min, cap) else s
    val end = maxSnapshotsPerTrigger match {
      case Some(n) => math.min(cap, eff + n.max(1).toLong)
      case None    => cap
    }
    GraftLakeOffset(math.max(end, eff))
  }

  override def reportLatestOffset(): Offset = GraftLakeOffset(t.currentSeq)

  override def initialOffset(): Offset = GraftLakeOffset(Bootstrap)
  override def latestOffset(): Offset = GraftLakeOffset(t.currentSeq)
  override def deserializeOffset(json: String): Offset = GraftLakeOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftLakeOffset].seq
    val e = end.asInstanceOf[GraftLakeOffset].seq
    if (e <= s0 && s0 != Bootstrap) return Array.empty
    val earliest = t.snapshots.map(_.seq).min
    val s = if (s0 == Bootstrap) earliest else s0
    // both directions of staleness fail LOUDLY: a checkpointed start older
    // than retention, and a REPLAYED bootstrap batch whose recorded end
    // predates retention (expiry between the offset write and the replay)
    // — returning empty would silently drop the pre-expiry content forever
    require(s0 == Bootstrap || s0 + 1 >= earliest,
      s"streaming checkpoint at seq $s0 is older than the retained history " +
        s"(earliest snapshot $earliest) — snapshots it needs were expired; " +
        "restart from a fresh checkpoint")
    require(s0 != Bootstrap || e >= earliest,
      s"bootstrap batch end $e predates the retained history (earliest " +
        s"snapshot $earliest) — snapshots were expired mid-replay; " +
        "restart from a fresh checkpoint")
    val snap = t.snapshot(e)
    ((s + 1) to e).map(t.snapshot).foreach { sn =>
      require(sn.operation == "create" || sn.operation.startsWith("append") ||
        sn.operation == "add-column" || sn.operation == "promote-type" ||
        sn.operation == "evolve-spec",
        s"streaming read needs append-only history; snapshot ${sn.seq} is " +
          s"'${sn.operation}' — start a fresh checkpoint from the current state instead")
    }
    if (s0 == Bootstrap)
      require(t.snapshot(s).deleteFiles.isEmpty,
        s"streaming bootstrap snapshot $s carries merge-on-read deletes; " +
          "compact the table before streaming it")
    // bootstrap batch = the WHOLE earliest snapshot, then strict increments
    val inRange = snap.dataFiles
      .filter(f => (if (s0 == Bootstrap) f.seq <= s else false) || (f.seq > s && f.seq <= e))
    GraftLakeSource.planFileSplits(t, t.planFiles(snap.copy(dataFiles = inRange), filters)._1)
  }

  // append-only ranges carry no delete files by construction
  override def createReaderFactory(): PartitionReaderFactory =
    GraftLakeReaderFactory(required, t.hadoopConfEntries)
}

private[sources] class GraftLakeChangelogScanBuilder(
    t: LakeTable, outSchema: StructType, maxSnapshotsPerTrigger: Option[Int] = None)
    extends ScanBuilder {
  override def build(): Scan = new GraftLakeChangelogScan(t, outSchema, maxSnapshotsPerTrigger)
}

private[sources] class GraftLakeChangelogScan(
    t: LakeTable, outSchema: StructType, maxSnapshotsPerTrigger: Option[Int] = None)
    extends Scan {
  override def readSchema(): StructType = outSchema
  override def description(): String = s"GraftLakeChangelogScan ${t.meta.name}"
  override def toBatch: Batch = throw new UnsupportedOperationException(
    "changelog is a streaming read (spark.readStream); for a batch changelog use " +
      "LakeTable.changes(from, to)")
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftLakeChangelogMicroBatchStream(t, outSchema, maxSnapshotsPerTrigger)
}

/** CHANGELOG (CDC-out) micro-batch stream: each trigger emits the typed
  * net-effect row deltas (`_change_type` ∈ insert | update | delete) of
  * the snapshots committed in its offset range, by bridging the batch
  * [[LakeTable.changes]] over `(startSeq, endSeq]` — so the stream keeps
  * flowing through upserts, deletes and MoR row-level commits that the
  * plain append stream must refuse. The FIRST batch bootstraps the
  * current full state as `insert` rows (the converged baseline a
  * downstream materialization starts from); increments follow.
  *
  * Mechanics: `changes` is a JOIN-shaped DataFrame (it labels updates vs
  * inserts against the pre-range base), and a DSv2 stream must hand Spark
  * InputPartitions — so each batch materializes its delta set once to a
  * staging directory under the table (`_staging/changelog-*`, the
  * orphan-swept namespace) as a DISTRIBUTED write through
  * [[graft.lake.LakeFileWriter]], then plans ordinary parquet splits over
  * it from the stats the writer recorded. Per batch that costs one extra
  * write+read of the delta rows — O(changed rows), never O(table) — on
  * top of the join `changes` itself plans; committed batches delete their
  * staging eagerly, crashes leave them to
  * [[graft.lake.Maintenance.removeOrphans]].
  *
  * APPEND-ONLY ranges skip the staging round-trip entirely: when every
  * snapshot in the range is append-shaped the delta IS the range's new
  * data files, so their splits are planned DIRECTLY and the reader
  * synthesizes a constant `_change_type = insert` (no join, no write —
  * the batch costs exactly one read of the new files). Appended rows are
  * labelled insert even if a same-pk row already existed (an
  * out-of-contract duplicate — restatement goes through upsert/MERGE,
  * which take the join path and label update). A bootstrap over a fully
  * append-only retained-from-seq-1 history takes the same shortcut.
  * Restatements (overwrite / compact / rollback) still refuse loudly
  * inside `changes` — consume up to them, re-baseline from a fresh
  * checkpoint. */
private[sources] class GraftLakeChangelogMicroBatchStream(
    t: LakeTable,
    outSchema: StructType,
    maxSnapshotsPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.functions.{col, lit}

  private val Bootstrap = -1L
  @volatile private var pinnedEnd: Option[Long] = None
  /** Per-stream staging root; one batch dir underneath per (start, end). */
  private val streamStagingRel = s"_staging/changelog-${java.util.UUID.randomUUID()}"
  /** Staged delta dir and files by batch (start, end), for re-plans and
    * eager cleanup. */
  private val staged = new java.util.concurrent.ConcurrentHashMap[
    (Long, Long), (String, Seq[graft.lake.DataFile])]()

  override def prepareForTriggerAvailableNow(): Unit = { pinnedEnd = Some(t.currentSeq) }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control mirrors the append stream: at most
    * `maxSnapshotsPerTrigger` commits per incremental batch, never past
    * the AvailableNow pin. The BOOTSTRAP batch is exempt — it reads the
    * converged state once, not a replay, so capping it would only split
    * one state read into artificial pieces. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftLakeOffset].seq
    val cap = pinnedEnd.getOrElse(t.currentSeq)
    val end = maxSnapshotsPerTrigger match {
      case Some(n) if s != Bootstrap => math.min(cap, s + n.max(1).toLong)
      case _ => cap
    }
    GraftLakeOffset(math.max(end, s))
  }
  override def reportLatestOffset(): Offset = GraftLakeOffset(t.currentSeq)
  override def initialOffset(): Offset = GraftLakeOffset(Bootstrap)
  override def latestOffset(): Offset = GraftLakeOffset(t.currentSeq)
  override def deserializeOffset(json: String): Offset = GraftLakeOffset(json.trim.toLong)

  private def appendShaped(op: String): Boolean =
    op == "create" || op.startsWith("append") ||
      op == "add-column" || op == "promote-type" || op == "evolve-spec"

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftLakeOffset].seq
    val e = end.asInstanceOf[GraftLakeOffset].seq
    if (e <= s0 && s0 != Bootstrap) return Array.empty
    // a checkpointed start whose successor snapshot was expired cannot
    // replay — fail loudly rather than silently dropping the gap
    val earliest = t.snapshots.map(_.seq).min
    require(s0 == Bootstrap || s0 + 1 >= earliest,
      s"changelog checkpoint at seq $s0 is older than the retained history " +
        s"(earliest snapshot $earliest); restart from a fresh checkpoint")
    // APPEND-ONLY fast path: the delta IS the range's new data files —
    // plan their splits directly, no join, no staging write. Bootstrap
    // qualifies only over a complete (seq-1-retained) append-only history,
    // where state == files. Header reads only; no manifest parse beyond
    // the end snapshot the batch loads anyway.
    val direct =
      if (s0 == Bootstrap) earliest == 0L && // seq 0 = CREATE: nothing expired
        (0L to e).forall(q => appendShaped(t.snapshotFile(q).operation))
      else ((s0 + 1) to e).forall(q => appendShaped(t.snapshotFile(q).operation))
    if (direct) {
      val newFiles = t.snapshot(e).dataFiles
        .filter(f => (s0 == Bootstrap || f.seq > s0) && f.seq <= e)
      // direct-ness rides on each partition — see GraftPacked.direct
      return GraftLakeSource.planFileSplits(t, newFiles).map {
        case p: GraftLakeInputPartition => p.copy(direct = true): InputPartition
        case other => other
      }
    }
    val userCols = outSchema.fieldNames.filterNot(_ == GraftLakeSource.ChangeTypeCol).toSeq
    val delta =
      if (s0 == Bootstrap)
        // baseline: the converged state AS OF the pinned end, all inserts
        t.scan(asOf = Some(e)).withColumn(GraftLakeSource.ChangeTypeCol, lit("insert"))
      else
        t.changes(s0, e) // validates that the range is replayable
    // idempotent re-plan: Spark may call planInputPartitions more than
    // once per micro-batch — a staged batch is REUSED, because a rewrite
    // would replace the files under splits the earlier call already handed
    // to the scheduler
    val (_, files) = staged.computeIfAbsent((s0, e), _ => {
      val rel = s"$streamStagingRel/b$s0-$e"
      val out = delta.select(outSchema.fieldNames.map(col).toIndexedSeq: _*)
      val stagingRel = s"$rel/${java.util.UUID.randomUUID()}"
      val spec = graft.lake.LakeWriteSpec(t.location, stagingRel, e, t.hadoopConfEntries,
        out.schema, recordSums = false)
      // staged files are planned like committed ones, from the split
      // offsets and row counts their writer recorded
      (rel, t.publishStaged(graft.lake.LakeFileWriter.stage(out.queryExecution.toRdd, spec),
        stagingRel, dataRel = rel)._1)
    })
    GraftLakeSource.planFileSplits(t, files)
  }

  // direct (append fast path) partitions read RAW data files, which lack
  // the _change_type column — the reader serves the constant for exactly
  // those partitions (the partition carries the decision); staged
  // partitions carry the real column
  override def createReaderFactory(): PartitionReaderFactory =
    GraftLakeReaderFactory(outSchema, t.hadoopConfEntries,
      missingDefaults = Map(GraftLakeSource.ChangeTypeCol -> UTF8String.fromString("insert")))

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[GraftLakeOffset].seq
    val fs = new Path(t.location).getFileSystem(t.spark.sparkContext.hadoopConfiguration)
    staged.forEach { (k, v) =>
      if (k._2 <= e) {
        val rel = v._1
        try fs.delete(new Path(t.abs(rel)), true) catch { case _: Exception => () }
        staged.remove(k)
      }
    }
  }

  override def stop(): Unit = {
    val fs = new Path(t.location).getFileSystem(t.spark.sparkContext.hadoopConfiguration)
    try fs.delete(new Path(t.abs(streamStagingRel)), true) catch { case _: Exception => () }
    staged.clear()
  }
}

/** One byte range [start, start+length) of a data file: the whole file,
  * or one of its row groups (the standard parquet split contract — a row
  * group belongs to the range containing its midpoint). */
private[sources] final case class GraftChunk(file: String, start: Long, length: Long)

/** One task's chunks, read in order by one reader. */
private[sources] sealed trait GraftPacked extends InputPartition {
  def chunks: Seq[GraftChunk]
  /** A changelog batch over RAW data files (append fast path): the files
    * lack `_change_type`, so the reader synthesizes the factory's
    * missing-column defaults for them. Making direct-ness a property of
    * the PARTITION (not shared stream state) keeps re-plans, plan reuse,
    * and any plan/execute interleaving correct by construction — each
    * partition carries its own decision to the executor. */
  def direct: Boolean = false
}

private[sources] case class GraftLakeInputPartition(
    chunks: Seq[GraftChunk], override val direct: Boolean = false)
    extends GraftPacked

/** A partition that also carries its partition KEY (catalyst values of the
  * identity-partition source columns) — the storage-partitioned-join
  * contract: when every split of a scan exposes `partitionKey`, Spark can
  * group splits by key and join two co-partitioned tables WITHOUT any
  * shuffle (`spark.sql.sources.v2.bucketing.enabled`). */
private[sources] case class GraftLakeKeyedInputPartition(
    chunks: Seq[GraftChunk], keyValues: Array[Any])
    extends GraftPacked with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyValues)
}

private[sources] case class GraftLakeReaderFactory(
    required: StructType,
    hadoopConf: Map[String, String],
    filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
    /** Values of columns a direct partition's files do not carry — the
      * changelog stream's append fast path reads raw data files and
      * serves `_change_type = insert` this way. Other partitions of the
      * same scan read the real column. */
    missingDefaults: Map[String, Any] = Map.empty)
    extends PartitionReaderFactory {

  /** Per-chunk constant columns: the serving file's path as `_graft_file`,
    * plus the synthesized defaults of a direct changelog partition. */
  private def constantsFor(p: GraftPacked, c: GraftChunk): Map[String, Any] = {
    val file: Map[String, Any] =
      if (required.fieldNames.contains(GraftLakeSource.FileCol))
        Map(GraftLakeSource.FileCol -> UTF8String.fromString(c.file))
      else Map.empty
    if (p.direct) missingDefaults ++ file else file
  }

  private def confOf(): Configuration = {
    val conf = new Configuration(false)
    hadoopConf.foreach { case (k, v) => conf.set(k, v) }
    // row-group statistics skipping: HadoopReadOptions picks this up in
    // the vectorized reader (via SpecificParquetRecordReaderBase) — a row
    // group whose stats refute the predicate is never decoded
    filter.foreach(p =>
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, p))
    conf
  }

  /** Every split decodes columnar; there is no row-at-a-time reader. */
  override def supportColumnarReads(p: InputPartition): Boolean = true

  /** The Hadoop `Configuration` is built once per partition and shared by
    * its chunks. */
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val gp = p.asInstanceOf[GraftPacked]
    new GraftLakeVectorizedReader(gp.chunks, required, constantsFor(gp, _), confOf())
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft lake splits are read columnar only")
}

/** Columnar decode of one partition's chunks, one at a time, via Spark's
  * vectorized parquet reader — the same machinery `spark.read.parquet`
  * uses, so the DSv2 path gets dictionary decoding, batch null-filling of
  * evolved columns, INT32/FLOAT pages widened to promoted LONG/DOUBLE
  * columns, and ColumnarToRow codegen for free. `constants` columns (the
  * same names for every chunk of a partition) are not decoded: the reader
  * serves them as Spark serves partition values (`initBatch`), and each
  * batch's vectors are reordered to match `required`. */
private[sources] class GraftLakeVectorizedReader(
    chunks: Seq[GraftChunk],
    required: StructType,
    constants: GraftChunk => Map[String, Any],
    conf: Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  // the old mapred FileSplit extends the mapreduce one AND is what
  // SpecificParquetRecordReaderBase casts to internally
  import org.apache.hadoop.mapred.FileSplit
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val constNames = chunks.headOption.fold(Set.empty[String])(constants(_).keySet)
  private val (constFields, dataFields) = required.fields.partition(f => constNames(f.name))

  conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, StructType(dataFields).json)
  conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
    classOf[ParquetReadSupport].getName)
  // the conf keys ParquetFileFormat/ParquetToSparkSchemaConverter expect
  // to find pre-populated (reading them raw, no defaults)
  conf.setBoolean("spark.sql.parquet.binaryAsString", false)
  conf.setBoolean("spark.sql.parquet.int96AsTimestamp", false)
  conf.setBoolean("spark.sql.caseSensitive", false)
  conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
  conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
  conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
  private val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)

  private def open(c: GraftChunk): VectorizedParquetRecordReader = {
    // lake files carry micros timestamps written proleptic: no rebase
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    r.initialize(new FileSplit(new Path(c.file), c.start, c.length, Array.empty[String]),
      new TaskAttemptContextImpl(conf, attempt))
    val values = constants(c)
    r.initBatch(StructType(constFields),
      InternalRow.fromSeq(constFields.map(f => values(f.name)).toSeq))
    r.enableReturningBatches()
    r
  }

  private val pending = chunks.iterator
  private var reader: VectorizedParquetRecordReader = null

  /** Batch column i = reader vector order(i); the reader lays out the
    * decoded columns first, then the constants. None = already in order. */
  private val order: Option[Array[Int]] = {
    val laid = (dataFields ++ constFields).map(_.name)
    val o = required.fieldNames.map(n => laid.indexOf(n))
    if (o.sameElements(o.indices)) None else Some(o)
  }

  override def next(): Boolean = {
    while (reader == null || !reader.nextBatch()) {
      close()
      if (!pending.hasNext) return false
      reader = open(pending.next())
    }
    true
  }
  override def get(): ColumnarBatch = {
    val b = reader.resultBatch()
    order.fold(b)(o => new ColumnarBatch(o.map(b.column), b.numRows()))
  }
  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}
