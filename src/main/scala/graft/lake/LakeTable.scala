package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, LessThan}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.collection.mutable.ArrayBuffer

/** A versioned, partitioned lakehouse table over Parquet — the Spark-native
  * replacement for the reference's Iceberg v2 tables (SURVEY §7 M2; the
  * environment ships no Iceberg runtime, SURVEY intro).
  *
  * Layout under `location/`:
  * {{{
  *   meta/table.json            immutable definition (format version, spec,
  *                              clustering, pk)
  *   meta/schema-v{N}.json      one StructType per schema version
  *   meta/snap-{seq}.json       commit header + manifest references
  *   meta/man-{seq}-{uuid}.json immutable manifest: data/delete file list
  *   meta/version-hint.text     best-effort pointer to the latest seq
  *   data/p=v/.../s{seq}-*.parquet   data files (user columns + _graft_seq)
  *   deletes/d-{seq}-*.parquet       MoR delete keys (pk cols + _graft_dseq)
  * }}}
  *
  * Metadata scales O(delta) per commit, not O(table): a snapshot file
  * lists [[ManifestRef]]s, a commit writes ONE new manifest per file kind
  * for what changed and re-references its parent's manifests for what did
  * not (the Iceberg snapshot → manifest-list shape). A year of appends to
  * a 10^5-file table costs one small manifest per commit; reading any
  * snapshot re-assembles the full listing from the (JVM-cached, immutable)
  * manifests, and filtered scans skip whole manifests via their recorded
  * partition summaries before parsing a single file entry.
  *
  * Commit protocol (single-writer optimistic, the public Iceberg
  * HadoopTableOperations shape): stage files under `_staging/<uuid>`, move
  * them into `data/`, then `create(..., overwrite = false)` the next
  * `snap-{seq}.json` — a racing second writer fails loudly on the create.
  * The version hint is advisory; readers fall back to listing `meta/` for
  * the max committed seq, so a crash between the two writes is harmless
  * (orphaned staged files are swept by [[Maintenance.removeOrphans]]).
  *
  * Merge-on-read (reference: `write.delete/update/merge.mode =
  * merge-on-read`, destination.json:89-91): an upsert commit writes the
  * batch as new data files at sequence N plus one small parquet of the
  * batch's primary keys stamped `_dseq = N`; a read anti-joins data rows
  * against delete keys with `row._seq < key._dseq`. Nothing ever rewrites
  * the base table on ingest — at 100 TB an upsert batch costs
  * O(batch + keys), not O(table) (VERDICT r1 flagged the copy-on-write
  * q16 shape as the scale-killer to avoid).
  */
final class LakeTable private (
    val spark: SparkSession,
    val location: String,
) {
  import LakeTable._

  private val root = new Path(location)
  private[lake] val fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def metaDir  = new Path(root, "meta")
  private def dataDir  = new Path(root, "data")
  private def delDir   = new Path(root, "deletes")

  // ------------------------------------------------------------------ meta

  lazy val meta: TableMeta = MetaJson.readTableMeta(readString(new Path(metaDir, "table.json")))

  /** Schema files are immutable, so versions cache per table instance
    * (the scan builder walks the whole version history to prove a pushed
    * column's physical parquet type never changed). */
  def schema(version: Int): StructType =
    schemaCache.computeIfAbsent(version, v =>
      MetaJson.readSchema(readString(new Path(metaDir, f"schema-v$v%03d.json"))))
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[Int, StructType]()

  /** Newest schema version ≤ `maxVersion` whose (name, type) set equals
    * `s` — None when `s` matches no era. The DSv2 writers validate their
    * declared write schema with this rather than demanding the CURRENT
    * schema (r20 SQL-route soak finding): a statement analyzed just
    * before a concurrent ALTER commits data shaped like the era it was
    * planned against, which is exactly the shape schema evolution
    * supports — readers resolve columns by name, fill columns the file
    * predates with NULL, and read promoted types through the promotion
    * rules — and exactly what the imperative append's blind rebase has
    * always committed. Shapes matching NO era still fail loudly. */
  private[graft] def schemaEraOf(s: StructType, maxVersion: Int): Option[Int] = {
    def keySet(st: StructType) = st.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toSet
    val want = keySet(s)
    // version numbering can carry gaps (a crashed ALTER orphans its
    // version file; nextMetaVersion skips past them) — a version whose
    // file is missing or unparseable cannot be the era a planner read
    // its schema from, so it is skipped, never thrown on. The skip only
    // DENIES a match; a transient read blip can at worst refuse a write
    // loudly, never admit a wrong shape.
    (maxVersion to 0 by -1).find(v =>
      scala.util.Try(keySet(schema(v)) == want).getOrElse(false))
  }

  /** Partition spec by version: 0 = the CREATE-time spec in table.json,
    * N>=1 = meta/spec-vNNN.json written by [[evolvePartitionSpec]]. Spec
    * files are immutable, so versions cache per table instance. */
  def partitionSpec(version: Int): Seq[PartitionField] =
    if (version == 0) meta.partitionSpec
    else specCache.computeIfAbsent(version, v =>
      MetaJson.readSpec(readString(new Path(metaDir, f"spec-v$v%03d.json"))))
  private val specCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[PartitionField]]()

  /** The spec new writes partition under (the current snapshot's). */
  def currentPartitionSpec: Seq[PartitionField] = partitionSpec(currentSnapshot.specVersion)

  /** First unused metadata version number for `prefix` (schema | spec).
    * Versions are allocated by probing PAST the highest existing FILE, not
    * `current + 1`: after a rollback the current snapshot points at an old
    * version while later version files still exist and are still
    * referenced by time-travelable snapshots — reusing their numbers
    * would overwrite immutable metadata and silently change what those
    * snapshots mean. Probing keeps the version sequence gap-free. */
  private def nextMetaVersion(prefix: String, from: Int): Int = {
    var v = from + 1
    while (fs.exists(new Path(metaDir, f"$prefix-v$v%03d.json"))) v += 1
    v
  }

  /** Highest spec version for which a spec file exists (>= current —
    * rollback can park the current snapshot below later, still-referenced
    * versions). */
  private def maxSpecVersion(cur: Int): Int = nextMetaVersion("spec", cur) - 1

  /** A metadata version for the history GUARDS: an unparseable file (a
    * crashed writer's partial exclusive create — referenced by no
    * snapshot, so skipping is safe) reads as absent, but a transient I/O
    * failure PROPAGATES — a guard silently weakened by a store blip would
    * admit the corruption it refuses. */
  private def schemaIfParseable(v: Int): Option[StructType] =
    try Some(schema(v)) catch {
      case e: java.io.IOException => throw e
      case scala.util.control.NonFatal(_) => None
    }
  private def specIfParseable(v: Int): Seq[PartitionField] =
    try partitionSpec(v) catch {
      case e: java.io.IOException => throw e
      case scala.util.control.NonFatal(_) => Nil
    }

  /** Spec version of one snapshot from its file HEADER alone — no
    * manifest assembly (cheap enough for per-query planning probes). */
  private[graft] def specVersionOf(seq: Long): Int = snapshotFile(seq).specVersion

  /** Schema versions referenced by ANY committed snapshot (headers only —
    * no manifest assembly), PLUS versions whose referencing snapshots were
    * expired ([[retiredSchemaVersions]] — Maintenance.expireSnapshots
    * records them BEFORE deleting the snapshot files, so lineage survives
    * history expiry; without that record a metadata-only drop-column whose
    * referencing snapshots all expired would let the dropped name be
    * re-added while still-live data files hold stale physical values under
    * it). A version file in NEITHER set is an orphan — a crashed writer's
    * leftover or a metadata commit that lost its snapshot race — and no
    * data file was ever written under it; history guards must not read it
    * as live lineage. Existing snapshots are enumerated from the actual
    * `snap-*.json` listing (never `0..head` — expiry deletes a prefix); a
    * file expired between the listing and the header read is already in
    * the retired record, so its disappearance is safe to skip. */
  private def referencedSchemaVersions(upTo: Long): Set[Int] = {
    val existing = fs.listStatus(metaDir).map(_.getPath.getName)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(_.stripPrefix("snap-").stripSuffix(".json").toLong)
      .filter(_ <= upTo)
    val referenced = existing.flatMap { s =>
      try Some(snapshotFile(s).schemaVersion)
      catch { case _: java.io.FileNotFoundException => None } // expired mid-guard
    }.toSet
    referenced ++ retiredSchemaVersions
  }

  /** Schema versions that were referenced by since-expired snapshots —
    * permanent lineage (a dropped column name is forever; see
    * [[addColumn]]). Stored as append-only `retired-schema-vNNN.json`
    * record files, each an immutable set written once by one expiry run;
    * the live view is their union. No file = nothing ever expired. */
  private[lake] def retiredSchemaVersions: Set[Int] =
    fs.listStatus(metaDir).map(_.getPath)
      .filter(_.getName.matches("retired-schema-v\\d+\\.json"))
      .flatMap(p => readString(p).split("[\\[\\],\\s]+").filter(_.nonEmpty).map(_.toInt))
      .toSet

  /** Record `vs` as retired. Called by Maintenance.expireSnapshots BEFORE
    * it deletes any snapshot file, so a crash between record and delete
    * only over-records (a version whose snapshots survived is live anyway
    * — conservative, never unsound). Each expiry run publishes its OWN
    * exclusive-created record file (re-probing on collision) rather than
    * read-merge-rewriting one file: a rewrite would let concurrent expiry
    * runs lose each other's updates AFTER their snapshots are already
    * gone; append-only union cannot. */
  private[lake] def recordRetiredSchemaVersions(vs: Set[Int]): Unit = {
    if (vs.isEmpty) return
    val bytes = vs.toSeq.sorted.mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)
    var v = nextMetaVersion("retired-schema", 0)
    var done = false
    while (!done) {
      try { createExclusive(new Path(metaDir, f"retired-schema-v$v%03d.json"), bytes); done = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException => v += 1
      }
    }
  }

  /** Union of every partition field across spec versions 0..maxVersion,
    * deduped by field name. Pruning resolves each FILE's fields by the
    * names present in its recorded partition tuple ([[PruneFilter.mayMatch]]
    * keeps files lacking a field's name), so matching against the union
    * prunes every file under the spec it was written with — old-spec files
    * stay pruneable after an evolution, new-spec files prune on the new
    * fields. Sound because [[evolvePartitionSpec]] forbids re-using a field
    * name with a different derivation. */
  private[graft] def specFieldsThrough(maxVersion: Int): Seq[PartitionField] = {
    if (maxVersion == 0) return meta.partitionSpec
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, PartitionField]
    (0 to maxVersion).foreach(v => partitionSpec(v).foreach(pf =>
      if (!seen.contains(pf.name)) seen(pf.name) = pf))
    seen.values.toSeq
  }

  def currentSeq: Long = {
    val hint = new Path(metaDir, "version-hint.text")
    val fromHint =
      if (fs.exists(hint))
        try {
          val s = readString(hint).trim.toLong
          if (fs.exists(snapPath(s))) Some(s) else None
        } catch { case _: Exception => None }
      else None
    val base = fromHint.getOrElse {
      val snaps = fs.listStatus(metaDir).map(_.getPath.getName)
        .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
        .map(_.stripPrefix("snap-").stripSuffix(".json").toLong)
      if (snaps.isEmpty) throw new IllegalStateException(s"no snapshots at $location")
      snaps.max
    }
    // The hint is ADVISORY and can lag (a losing concurrent writer may
    // overwrite it backwards after the winner committed): probe forward —
    // seqs are gap-free, so the first missing snapshot marks the head.
    var seq = base
    while (fs.exists(snapPath(seq + 1))) seq += 1
    seq
  }

  def snapshot(seq: Long): Snapshot = assemble(snapshotFile(seq), pruneTo = None)
  def currentSnapshot: Snapshot = snapshot(currentSeq)
  def currentSchema: StructType = schema(currentSnapshot.schemaVersion)

  /** Snapshot with manifests whose partition summaries cannot match
    * `filters` SKIPPED ENTIRELY — their file entries are never parsed (nor
    * fetched, on a remote store). This applies to BOTH kinds (mirroring
    * Iceberg's manifest-list partition field summaries):
    *  - data manifests: file-level pruning ([[planFiles]]) still applies
    *    on top; decisions are identical because both use
    *    [[PruneFilter.mayMatch]] per tuple.
    *  - delete manifests: SOUND because a scoped tombstone's tuple is
    *    rendered from the primary key of the rows it suppresses, so any
    *    suppressed row renders the same tuple — if that tuple cannot
    *    satisfy `filters`, neither can the stale row, and every consumer
    *    of a pruned snapshot re-applies `filters` at ROW level (the
    *    imperative [[scan]] filters explicitly; the DSv2 scan returns all
    *    pushed filters as residual). Global sidecars carry the empty
    *    tuple, which matches everything, so their manifests always load.
    *    A path that ever fully-handles filters without row re-application
    *    must plan its deletes from the UNPRUNED snapshot. */
  def snapshotPruned(seq: Long, filters: Seq[PruneFilter]): Snapshot =
    if (filters.isEmpty) snapshot(seq)
    else assemble(snapshotFile(seq), pruneTo = Some(filters))

  /** Raw snapshot file content (header + manifest refs). */
  private[graft] def snapshotFile(seq: Long): SnapshotFile =
    MetaJson.readSnapshotFile(readString(snapPath(seq)))

  /** True iff some file in a manifest with this partition summary may
    * satisfy every filter. `None` (no summary recorded) never prunes. */
  private[lake] def manifestMayMatch(
      spec: Seq[PartitionField],
      partitions: Option[Seq[Map[String, String]]], filters: Seq[PruneFilter]): Boolean =
    partitions.forall(_.exists(tuple =>
      filters.forall(f => PruneFilter.mayMatch(spec, tuple, f))))

  private def assemble(sf: SnapshotFile, pruneTo: Option[Seq[PruneFilter]]): Snapshot = {
    val dataRefs = sf.manifests.filter(_.isData)
    val delRefs  = sf.manifests.filterNot(_.isData)
    val (keptData, keptDel) = pruneTo match {
      case Some(filters) =>
        val spec = specFieldsThrough(sf.specVersion)
        (dataRefs.filter(m => manifestMayMatch(spec, m.partitions, filters)),
          delRefs.filter(m => manifestMayMatch(spec, m.partitions, filters)))
      case None => (dataRefs, delRefs)
    }
    Snapshot(sf.seq, sf.parent, sf.timestampMs, sf.operation, sf.schemaVersion,
      dataFiles = keptData.flatMap(m => loadManifest(m)._1),
      deleteFiles = keptDel.flatMap(m => loadManifest(m)._2),
      specVersion = sf.specVersion)
  }

  /** (dataFiles, deleteFiles) of one manifest, via the process-wide cache
    * (manifests are immutable and shared across snapshots, so a history
    * listing parses each exactly once per JVM). */
  private def loadManifest(m: ManifestRef): (Seq[DataFile], Seq[DeleteFile]) =
    LakeTable.manifestCache.get(abs(m.path), () => {
      val (_, data, dels) = MetaJson.readManifest(readString(new Path(root, m.path)))
      (data, dels)
    })

  def snapshots: Seq[Snapshot] =
    fs.listStatus(metaDir).map(_.getPath.getName)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(n => snapshot(n.stripPrefix("snap-").stripSuffix(".json").toLong))
      .sortBy(_.seq).toSeq

  /** Lowest retained snapshot seq (0 until the first expiry) — a pure
    * listing, no snapshot assembly. */
  private[graft] def earliestSeq: Long =
    fs.listStatus(metaDir).map(_.getPath.getName)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(_.stripPrefix("snap-").stripSuffix(".json").toLong).min

  // ----------------------------------------------------------------- write

  /** Append `df` (user schema) as new data files + a new snapshot. */
  def append(df: DataFrame): Snapshot = commitWrite(df, "append", keepExisting = true)

  /** Replace the whole table content (used by silver/gold rebuilds and
    * compaction — never by ingest). */
  def overwrite(df: DataFrame): Snapshot = commitWrite(df, "overwrite", keepExisting = false)

  private[lake] def overwriteAs(df: DataFrame, op: String): Snapshot =
    commitWrite(df, op, keepExisting = false)

  /** Merge-on-read upsert: last-writer-wins on `meta.primaryKey`.
    * If `tsCol` is given the batch is first deduped per key by the latest
    * `tsCol` (the reference's `_olake_sync_timestamp` rule, C3). */
  def upsert(batch: DataFrame, tsCol: Option[String] = None): Snapshot = {
    require(meta.primaryKey.nonEmpty, s"${meta.name}: upsert needs a primary key")
    val deduped = tsCol match {
      case Some(ts) => latestPerKey(batch, meta.primaryKey, ts)
      case None     => batch
    }
    commitUpsert(upserts = Some(deduped), deleteKeys = deduped.select(meta.primaryKey.map(col): _*), op = "upsert")
  }

  /** Merge-on-read delete of the given keys (DataFrame of pk columns). */
  def deleteKeys(keys: DataFrame): Snapshot =
    commitUpsert(upserts = None, deleteKeys = keys.select(meta.primaryKey.map(col): _*), op = "delete")

  /** CDC batch with per-row operation + sync timestamp metadata (SURVEY
    * §2.9 C3/C4; reference columns `_olake_operation`,
    * `_olake_sync_timestamp`, destination.json:129-130): within the batch
    * the latest row per key wins; a winning delete tombstones the key, any
    * other op upserts the row. Replaying the same batch commits the same
    * logical state again — reads are unchanged, so at-least-once delivery
    * is safe (C5). */
  def applyCdcBatch(batch: DataFrame, opCol: String, tsCol: String): Snapshot = {
    require(meta.primaryKey.nonEmpty, s"${meta.name}: CDC needs a primary key")
    val latest  = latestPerKey(batch, meta.primaryKey, tsCol)
    val upserts = latest.filter(lower(col(opCol)) =!= "delete").drop(opCol, tsCol)
    commitUpsert(Some(upserts), latest.select(meta.primaryKey.map(col): _*), op = "cdc")
  }

  /** Schema evolution: add a nullable column (metadata-only commit; old
    * files null-fill at read — reference flow: ALTER TABLE ADD COLUMN over
    * CDC, BLOG_POST_COMPLETE_WALKTHROUGH.md:538-553). */
  def addColumn(name: String, dataType: String): Snapshot = synchronized {
    val cur = currentSnapshot
    val old = schema(cur.schemaVersion)
    // all name guards compare CASE-INSENSITIVELY: Spark resolves columns
    // case-insensitively by default, so "P_M" would collide with "p_m" at
    // the first write even though the strings differ
    val lname = name.toLowerCase(java.util.Locale.ROOT)
    require(!old.fieldNames.exists(_.toLowerCase(java.util.Locale.ROOT) == lname),
      s"column $name already exists")
    require(!LakeTable.isReservedName(lname),
      s"${meta.name}: $name is reserved — the _graft namespace belongs to storage/" +
        "arrangement columns the write path derives (would overwrite the data)")
    val next = nextMetaVersion("schema", cur.schemaVersion)
    // a DROPPED name cannot come back: readers project files by name, so
    // old files' stale physical values would silently resurface as the
    // "new" column instead of nulls — pick a fresh name (Iceberg avoids
    // this with field ids; name-mapped formats must refuse). Scans every
    // version REFERENCED BY A COMMITTED SNAPSHOT, including ones above
    // the current after a rollback. Versions no snapshot references are
    // ORPHANS — a crashed writer's leftover, or a metadata commit that
    // lost its snapshot race (r16: the lost add-column's own retry was
    // otherwise poisoned — the guard read the orphan as "existed and was
    // dropped") — and no data file was ever written under them, so they
    // carry no resurfaceable values. An UNPARSEABLE referenced version
    // still fails the read below (schema() throws on a referenced
    // version we cannot parse — that IS corruption), while a transient
    // READ failure propagates: a guard silently weakened by a store blip
    // would wave through the exact corruption it exists to refuse.
    val live = referencedSchemaVersions(cur.seq)
    require(!(1 until next).exists(v =>
      live.contains(v) && v != cur.schemaVersion &&
        schema(v).fieldNames.exists(_.toLowerCase(java.util.Locale.ROOT) == lname)),
      s"${meta.name}: $name existed in an earlier schema version and was dropped — " +
        "old files still hold values under that name and would resurface; use a new name")
    // nor may it shadow a partition FIELD of any spec era: stageDataFiles
    // derives partition columns by withColumn(field.name, ...), which
    // would REPLACE the user column's data and the writer would strip it
    // into the directory name — silent data loss on the next append
    require(!(0 to maxSpecVersion(cur.specVersion)).flatMap(specIfParseable)
      .exists(_.name.toLowerCase(java.util.Locale.ROOT) == lname),
      s"${meta.name}: $name is a partition field name — the write path derives that " +
        "column and would overwrite the data; use a different name")
    val evolved = StructType(old.fields :+ StructField(name, org.apache.spark.sql.types.DataType.fromDDL(dataType), nullable = true))
    writeVersionFile(new Path(metaDir, f"schema-v$next%03d.json"), MetaJson.writeSchema(evolved))
    commitMetaRaceChecked(cur.copy(
      seq = cur.seq + 1, parent = Some(cur.seq), timestampMs = System.currentTimeMillis(),
      operation = "add-column", schemaVersion = next), "add-column")
  }

  /** Schema evolution: widen a column's type in place (metadata-only
    * commit; the reference's `auto_promote_types`,
    * olake-config/destination.json:74-79 — SURVEY §1.4 "type promotion
    * int→long, float→double at read"). Old data files keep their narrow
    * physical encoding; every read path reconciles by requesting the
    * widened type (parquet INT32 decodes as LONG, FLOAT as DOUBLE), the
    * same way add-column null-fills. Only lossless promotions are legal —
    * anything else must be an explicit rewrite, not an ALTER. */
  def promoteColumn(name: String, dataType: String): Snapshot = synchronized {
    val cur = currentSnapshot
    val old = schema(cur.schemaVersion)
    require(old.fieldNames.contains(name), s"${meta.name}: no column $name to promote")
    val from = old(name).dataType
    val to = org.apache.spark.sql.types.DataType.fromDDL(dataType)
    if (from == to) return cur // idempotent: CDC replays re-request promotions
    require(legalPromotion(from, to),
      s"${meta.name}: cannot promote $name from ${from.sql} to ${to.sql} — " +
        "only lossless widenings (byte/short/int -> long, float -> double) are supported")
    // Spark's Murmur3 `hash` is TYPE-dependent (hash(5: int) != hash(5: long)),
    // so widening a bucket-partition source would route the same logical key
    // to a different bucket in new files than in old ones — reads stay
    // correct (bucket values never drive pruning, Transform.Bucket.valueOf
    // is None) but the co-location bucketing exists to provide is silently
    // gone. That needs a rewrite, not an ALTER. (Iceberg avoids this by
    // spec'ing bucket-of-int as bucket-of-long; Spark's hash does not.)
    require(!partitionSpec(cur.specVersion).exists(pf =>
      pf.source == name && pf.transform.isInstanceOf[Transform.Bucket]),
      s"${meta.name}: $name is a bucket-partition source; promoting its type would " +
        "bucket the same value differently in old and new files (Spark's hash is " +
        "type-dependent), destroying co-location — rewrite the table with the wide " +
        "type instead")
    val next = nextMetaVersion("schema", cur.schemaVersion)
    val evolved = StructType(old.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    writeVersionFile(new Path(metaDir, f"schema-v$next%03d.json"), MetaJson.writeSchema(evolved))
    commitMetaRaceChecked(cur.copy(
      seq = cur.seq + 1, parent = Some(cur.seq), timestampMs = System.currentTimeMillis(),
      operation = "promote-type", schemaVersion = next), "promote-type")
  }

  /** Schema evolution: DROP a column (metadata-only commit). Old data
    * files keep the column physically; every reader projects the current
    * schema BY NAME, so the dropped column is simply never decoded — the
    * symmetric twin of add-column's null-fill. Columns the table's
    * machinery depends on refuse: primary-key (MoR identity), cluster
    * keys (write arrangement), and any CURRENT partition-spec source
    * (new writes must derive the partition value). Re-adding the name
    * later via addColumn is safe ONLY because readers project by name
    * against each file's data: old files' stale values would resurface —
    * so re-using a dropped name is refused too (tracked via schema
    * history). */
  def dropColumn(name: String): Snapshot = synchronized {
    val cur = currentSnapshot
    val old = schema(cur.schemaVersion)
    require(old.fieldNames.contains(name), s"${meta.name}: no column $name to drop")
    require(!meta.primaryKey.contains(name),
      s"${meta.name}: $name is a primary-key column — merge-on-read needs it")
    require(!meta.clusterBy.contains(name),
      s"${meta.name}: $name is a cluster key — rewrite the table instead")
    require(!partitionSpec(cur.specVersion).exists(_.source == name),
      s"${meta.name}: $name is a partition source of the current spec — evolve the " +
        "partition spec away from it first")
    require(old.fields.length > 1, s"${meta.name}: cannot drop the only column")
    val next = nextMetaVersion("schema", cur.schemaVersion)
    val evolved = StructType(old.fields.filterNot(_.name == name))
    writeVersionFile(new Path(metaDir, f"schema-v$next%03d.json"), MetaJson.writeSchema(evolved))
    commitMetaRaceChecked(cur.copy(
      seq = cur.seq + 1, parent = Some(cur.seq), timestampMs = System.currentTimeMillis(),
      operation = "drop-column", schemaVersion = next), "drop-column")
  }

  /** Partition-spec evolution (metadata-only commit; Iceberg's
    * "partition evolution"): NEW data partitions under `newSpec`, existing
    * files keep the layout — and the partition tuple — they were written
    * with, because at 100 TB re-partitioning by rewrite is not an option.
    * Pruning keeps working on BOTH populations: each file's tuple is
    * matched against the union of historical specs by field name
    * ([[specFieldsThrough]]), and a file simply survives any filter whose
    * field its spec never derived. Compaction migrates dirty partitions to
    * the current spec as a side effect (it re-stages through the current
    * writer path).
    *
    * A field name is forever: re-using one with a different source or
    * transform would make old tuples mean something new and silently
    * mis-prune, so that is refused — pick a fresh name instead. */
  def evolvePartitionSpec(newSpec: Seq[PartitionField]): Snapshot = synchronized {
    val cur = currentSnapshot
    if (newSpec == partitionSpec(cur.specVersion)) return cur // idempotent
    val sch = schema(cur.schemaVersion)
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    require(newSpec.map(pf => lc(pf.name)).distinct.size == newSpec.size,
      s"${meta.name}: duplicate partition field names in ${newSpec.map(_.name)}")
    newSpec.foreach { pf =>
      require(sch.fieldNames.contains(pf.source),
        s"${meta.name}: partition source ${pf.source} is not a table column")
      require(!sch.fieldNames.exists(f => lc(f) == lc(pf.name)),
        s"${meta.name}: partition field ${pf.name} collides with a data column")
      require(!LakeTable.isReservedName(lc(pf.name)),
        s"${meta.name}: partition field ${pf.name} is reserved (_graft namespace)")
    }
    requireTransformTypes(meta.name, sch, newSpec)
    // the name check and the new version number both span EVERY existing
    // spec file, not just 0..current: after a rollback parks the current
    // snapshot on an old spec, later spec files still exist, are still
    // referenced by time-travelable snapshots, and their field names are
    // still recorded in data-file tuples
    val v = nextMetaVersion("spec", cur.specVersion)
    // unPARSEABLE spec versions (crashed writer's partial file, referenced
    // by no snapshot) don't block evolution; transient read failures do
    val history = (0 until v).flatMap(specIfParseable)
    newSpec.foreach { pf =>
      history.find(h => lc(h.name) == lc(pf.name) &&
          (h.name != pf.name || h.source != pf.source || h.transform != pf.transform)).foreach { h =>
        throw new IllegalArgumentException(
          s"${meta.name}: partition field name ${pf.name} was " +
            s"${h.transform.name}(${h.source}) in an earlier spec and cannot be redefined " +
            s"as ${pf.transform.name}(${pf.source}) — old files' recorded tuples would be " +
            "misread and mis-pruned; use a new field name")
      }
    }
    writeVersionFile(new Path(metaDir, f"spec-v$v%03d.json"), MetaJson.writeSpec(newSpec))
    commitMetaRaceChecked(cur.copy(
      seq = cur.seq + 1, parent = Some(cur.seq), timestampMs = System.currentTimeMillis(),
      operation = "evolve-spec", specVersion = v), "evolve-spec")
  }

  /** Roll the table back to the state of snapshot `toSeq` — a NEW commit
    * whose content (files, schema version, spec version) is the target's,
    * so history stays intact: the bad commits remain time-travelable, the
    * rollback is itself one more snapshot, and nothing is deleted (Iceberg's
    * rollback_to_snapshot). O(metadata): the target's manifests are reused
    * by reference, no data moves. */
  def rollbackTo(toSeq: Long): Snapshot = synchronized {
    val cur = currentSnapshot
    if (toSeq == cur.seq) return cur
    require(toSeq < cur.seq, s"${meta.name}: cannot roll back to future snapshot $toSeq")
    require(fs.exists(snapPath(toSeq)),
      s"${meta.name}: snapshot $toSeq does not exist (expired or never committed)")
    val target = snapshot(toSeq)
    commitMetaRaceChecked(target.copy(
      seq = cur.seq + 1, parent = Some(cur.seq),
      timestampMs = System.currentTimeMillis(), operation = "rollback"), "rollback")
  }

  /** Commit a METADATA-ONLY snapshot (schema evolution, spec evolution,
    * rollback). These operations validate against the snapshot they read
    * — a column-name guard, a spec-history guard, a rollback target —
    * so a lost CROSS-PROCESS race must never blind-rebase (the winner
    * may have changed the very state the validation blessed: e.g. an
    * add-column racing an append under the old schema, or a rollback
    * racing an append it would silently unseat). The loser therefore
    * surfaces as [[java.util.ConcurrentModificationException]] carrying
    * the retry recipe — re-run the operation; it re-reads and
    * re-validates against the new head — instead of the raw O_EXCL
    * IOException it would otherwise see (the upsert/delete precedent
    * applied to the metadata class; in-JVM the table lock already
    * serializes, so this path fires only between processes). */
  private def commitMetaRaceChecked(snap: Snapshot, op: String): Snapshot = {
    LakeTable.failpoint("pre-meta-commit") // race-injection site (test-only)
    try commitSnapshot(snap)
    catch {
      case e: java.io.IOException if fs.exists(snapPath(snap.seq)) =>
        throw new java.util.ConcurrentModificationException(
          s"${meta.name}: $op lost the race for snapshot ${snap.seq} — another writer " +
            "committed first. Metadata operations validate against the snapshot they " +
            "read and are never rebased blindly; re-run the operation (it re-reads " +
            "and re-validates against the current snapshot).", e)
    }
  }

  /** The same lost-race translation for CONTENT-RESTATEMENT commits
    * (compaction, manifest rewrite, replace/overwrite): they compute their
    * file set against the snapshot they read and are never rebased, so a
    * lost cross-process O_EXCL race surfaces as the documented
    * [[java.util.ConcurrentModificationException]] retry contract instead
    * of a raw FileAlreadyExistsException from the hard-link publish.
    * Found by the r19 randomized concurrent-writer soak (VERDICT r18 #3):
    * `compactDirty` racing an appender leaked the raw IOException, so a
    * caller honoring the CME contract crashed instead of re-running. */
  private def commitRestateRaceChecked(seq: Long, op: String)(commit: => Snapshot): Snapshot =
    try commit
    catch {
      case e: java.io.IOException if fs.exists(snapPath(seq)) =>
        throw new java.util.ConcurrentModificationException(
          s"${meta.name}: $op lost the race for snapshot $seq — another writer " +
            "committed first. Content-restatement commits compute their file set " +
            "against the snapshot they read and cannot be rebased; re-run the " +
            "operation against the current snapshot. This attempt's staged files " +
            "are unreferenced and will be removed by Maintenance.removeOrphans.", e)
    }

  // ------------------------------------------------------------------ read

  /** Snapshot-pinned, pruned, merge-on-read scan.
    *
    * @param asOf    time travel: read the table as of this snapshot seq
    *                (reference: `SETTINGS iceberg_snapshot_id = N`,
    *                BLOG_POST_COMPLETE_WALKTHROUGH.md:521-527)
    * @param filters raw-column predicates; used to prune data files via the
    *                partition spec, then re-applied as Catalyst filters (and
    *                pushed into the parquet scan for row-group skipping)
    *
    * Files are read from their manifest entries without a filesystem
    * stat, so the file-source metadata column
    * `_metadata.file_modification_time` reads 0 (1970-01-01) on lake
    * scans (the commit that added a file is its manifest entry's `seq`).
    */
  def scan(asOf: Option[Long] = None, filters: Seq[PruneFilter] = Nil): DataFrame = {
    // manifest-level pruning first: whole manifests whose partition
    // summaries cannot match are never parsed, then file-level pruning
    // below trims within the loaded ones
    val snap = snapshotPruned(asOf.getOrElse(currentSeq), filters)
    val userSchema = schema(snap.schemaVersion)
    val (files, _) = planFiles(snap, filters)
    val merged = morMerged(snap, files)
    val filtered = filters.foldLeft(merged)((d, f) => d.filter(f.toColumn))
    filtered.select(userSchema.fieldNames.map(col): _*)
  }

  /** CHANGELOG between two committed snapshots (the `table_changes` /
    * CDC-out idiom): every NET row-level change in `(from, to]`, labelled
    * `_change_type` ∈ insert | update | delete. Semantics are net-effect
    * as of `to`:
    *   - insert — pk absent at `from`, live at `to`;
    *   - update — pk present at `from`, restated in range, live at `to`;
    *   - delete — pk present at `from`, gone at `to` (delete rows carry
    *     the `from`-state column values);
    *   - a row inserted AND deleted within the range nets to nothing.
    * Cost: the insert/update side reads only the range's new data files
    * (O(delta)); detecting updates vs inserts and producing delete rows
    * joins against the `from` snapshot by primary key — one keyed shuffle
    * of the base, no driver materialization. Tables without a primary key
    * get the append-only changelog (every range row as insert).
    * The range must be replayable: compaction / overwrite / rollback
    * restate files without changing content and have no row-level
    * changelog — ranges containing them are refused loudly (same contract
    * as the streaming read).
    *
    * APPEND CONTRACT on pk tables (ADVICE r12): pk restatement travels
    * only through the upsert/MoR/cdc commit kinds — `append` to a pk
    * table MUST NOT restate a live pk. Appends are not pk-uniqueness-
    * checked (that would put a full anti-join against the served state on
    * every ingest batch, exactly the cost the upsert path exists to pay
    * deliberately), so if a caller violates the contract the table itself
    * is already ill-defined (a scan serves both rows) and the changelog's
    * labels for that pk are undefined: the append-only fast path below
    * emits 'insert' where the base-join path would emit 'update'. Writers
    * that cannot guarantee unique keys must use `upsert`, which is the
    * operation with those semantics. */
  def changes(from: Long, to: Long): DataFrame = {
    require(from <= to, s"${meta.name}: changes range [$from, $to] is inverted")
    // a range reaching below the retained history cannot replay — refuse
    // with the re-baseline recipe (the streaming changelog source carries
    // the same guard) instead of a raw FileNotFoundException from an
    // expired snapshot file. O(1) existence probes on the success path
    // (changes() is called per streaming micro-batch); the directory
    // listing runs only to render the failure message. The replay reads
    // snapshot HEADERS (from+1 .. to) on every path, but the `from` BASE
    // snapshot only when a pk base join is planned — append-only ranges
    // and pk-less tables never read it, so a checkpoint parked exactly at
    // the expiry boundary (from = earliest - 1) stays replayable on those
    // paths (review finding r17: the first guard form refused it).
    def refuseExpired(seq: Long, what: String): Nothing = {
      val earliest = earliestSeq
      throw new IllegalArgumentException(
        if (seq < earliest)
          s"${meta.name}: changes $what snapshot $seq is older than the retained " +
            s"history (earliest snapshot $earliest — earlier ones expired); " +
            "re-baseline from a retained snapshot"
        else s"${meta.name}: changes $what snapshot $seq: no such snapshot")
    }
    // The existence probes above are check-then-read: a concurrent
    // expireSnapshots BETWEEN a probe and the header/base read would
    // otherwise surface as a raw FileNotFoundException instead of the
    // documented re-baseline contract — plausible for a streaming
    // micro-batch racing maintenance. Every replay header/base read is
    // therefore also guarded, re-routing a vanished file through
    // refuseExpired (which re-lists the directory, so the message names
    // the post-expiry earliest snapshot).
    def readGuarded[A](seq: Long, what: String)(body: => A): A =
      try body
      catch {
        case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
          refuseExpired(seq, what)
      }
    if (from < to && !fs.exists(snapPath(from + 1))) refuseExpired(from + 1, "range start")
    if (!fs.exists(snapPath(to))) refuseExpired(to, "end")
    val rangeSnaps =
      ((from + 1) to to).map(q => readGuarded(q, "range header")(snapshotFile(q)))
    rangeSnaps.foreach { sf =>
      require(LakeTable.replayableOp(sf.operation),
        s"${meta.name}: snapshot ${sf.seq} is '${sf.operation}' — content restatements " +
          "have no row-level changelog; consume changes up to the restatement, then " +
          "re-baseline from its snapshot")
    }
    val endSnap = readGuarded(to, "end")(snapshot(to))
    val userSchema = schema(endSnap.schemaVersion)
    val userCols = userSchema.fieldNames.map(col).toSeq
    val TypeCol = "_change_type"
    // rows ADDED in the range that are still live at `to`
    val added = morMerged(endSnap,
      endSnap.dataFiles.filter(f => f.seq > from && f.seq <= to))
    // APPEND-ONLY FAST PATH (VERDICT r11 #7): a range whose every commit is
    // an append (or schema DDL — metadata-only, no rows) adds rows but never
    // restates or tombstones a live pk: pk restatement travels only through
    // the upsert/MoR/cdc commit kinds, and appending an already-live pk
    // breaks the table's pk-uniqueness contract (the scan would serve both
    // rows — no well-defined changelog exists for that state). So every
    // added row is an insert and NO base-table join is planned at all —
    // the changelog of an append burst is O(delta), same as the scan side.
    // This is the Delta-CDF / Iceberg-changelog idiom: append commits emit
    // their rows as inserts straight from the commit's own files.
    val appendOnly = rangeSnaps.forall(sf => LakeTable.appendOnlyOp(sf.operation))
    if (meta.primaryKey.isEmpty || appendOnly)
      return added.select(userCols :+ lit("insert").as(TypeCol): _*)
    val pk = meta.primaryKey
    // the pk path DOES read the `from` base state — refuse expired bases
    // here, past the fast path that never needs them
    if (!fs.exists(snapPath(from))) refuseExpired(from, "base")
    // base rows carry the FROM-era schema; align to the `to` schema the
    // changelog is emitted in (null-fill added columns, widen promoted
    // ones, drop since-removed ones)
    val base = {
      val fromSnap = readGuarded(from, "base")(snapshot(from))
      val raw = morMerged(fromSnap, fromSnap.dataFiles)
      userSchema.fields.foldLeft(raw)((d, f) =>
        if (d.columns.contains(f.name)) d.withColumn(f.name, col(f.name).cast(f.dataType))
        else d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    val basePk = base.select(pk.map(c => col(c).as(s"_b_$c")): _*)
    val addCond = pk.map(c => col(c) === col(s"_b_$c")).reduce(_ && _)
    val upserted = added.join(basePk.distinct(), addCond, "left_outer")
      .withColumn(TypeCol,
        when(col(s"_b_${pk.head}").isNotNull, "update").otherwise("insert"))
      .select(userCols :+ col(TypeCol): _*)
    // rows DELETED in the range: base rows tombstoned by a range delete
    // whose pk is not live at `to` (live again = update, already emitted)
    val rangeDels = endSnap.deleteFiles.filter(d => d.seq > from && d.seq <= to)
    if (rangeDels.isEmpty) return upserted
    // era-aware read: a pk-column type promotion inside the range leaves
    // earlier delete files physically narrow — read each with its own
    // era's pk types and widen to the `to` era explicitly
    val delKeys = readDeleteKeys(rangeDels, endSnap.schemaVersion)
    val delCond = pk.map(c => base(c) === delKeys(c)).reduce(_ && _) &&
      base(SeqCol) < delKeys(DseqCol)
    val endPk = added.select(pk.map(c => col(c).as(s"_e_$c")): _*).distinct()
    val goneCond = pk.map(c => col(c) === col(s"_e_$c")).reduce(_ && _)
    val deleted = base.join(delKeys, delCond, "left_semi")
      .join(endPk, goneCond, "left_anti")
      .select(userCols :+ lit("delete").as(TypeCol): _*)
    upserted.unionByName(deleted)
  }

  /** Delete files that can affect any of `files` — partition scoping on
    * the read side. A delete file scoped to tuple P is skipped iff EVERY
    * candidate data file records, for every field of P, a different value:
    * a file recording the same value may hold matching rows; a file
    * lacking the field (written under an older spec) might too, so it
    * keeps the delete file conservatively. Global delete files (empty
    * tuple) always apply. */
  private[graft] def deleteFilesFor(snap: Snapshot, files: Seq[DataFile]): Seq[DeleteFile] =
    snap.deleteFiles.filter { d =>
      d.partition.isEmpty || files.exists(f =>
        d.partition.forall { case (k, v) => f.partition.get(k).forall(_ == v) })
    }

  /** THE merge-on-read shape, the only way any read applies equality
    * deletes (Iceberg v2 semantics, https://iceberg.apache.org/spec/#equality-delete-files):
    *
    * {{{ rows ⋉̸ keys ON pk = pk ∧ rows._graft_seq < keys._graft_dseq }}}
    *
    * A row version survives unless a delete of its key committed after
    * it. `rows` must expose the pk columns and [[LakeTable.SeqCol]],
    * `keys` the pk columns and [[LakeTable.DseqCol]]. No join hint: AQE
    * picks a broadcast or a shuffled join from the real size of the key
    * side. Built by [[morMerged]] (imperative scan, compaction) and by
    * [[graft.plans.LakeMorRewrite]] (every DSv2 and SQL read). */
  private[graft] def morFold(rows: LogicalPlan, keys: LogicalPlan): LogicalPlan = {
    def attr(p: LogicalPlan, name: String) = p.output.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(s"${meta.name}: MoR side lacks $name"))
    val cond = (meta.primaryKey.map(k => EqualTo(attr(rows, k), attr(keys, k)): Expression) :+
      LessThan(attr(rows, SeqCol), attr(keys, DseqCol))).reduce(And(_, _))
    Join(rows, keys, LeftAnti, Some(cond), JoinHint.NONE)
  }

  /** Merge-on-read content of a FILE SUBSET of `snap` (user columns +
    * [[LakeTable.SeqCol]]): base rows folded by [[morFold]] against the
    * delete keys whose partition scope can reach those files. Shared by
    * [[scan]] and partition-scoped compaction. */
  private[lake] def morMerged(snap: Snapshot, files: Seq[DataFile]): DataFrame = {
    val userSchema = schema(snap.schemaVersion)
    val storage = StructType(userSchema.fields :+ StructField(SeqCol, LongType, nullable = false))
    val base =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], storage)
      else
        readKnownFiles(storage, files.map(f => abs(f.path) -> f.bytes))
    val delFiles = deleteFilesFor(snap, files)
    if (delFiles.isEmpty) base
    else org.apache.spark.sql.graft.SqlInternals.ofRows(spark, morFold(
      base.queryExecution.analyzed,
      readDeleteKeys(delFiles, snap.schemaVersion).queryExecution.analyzed))
  }

  /** Multi-path parquet read with ZERO listing or stat calls, driver or
    * distributed: the imperative reader already knows every leaf file AND
    * its exact byte length from its own manifests, so the relation is
    * built directly over an in-memory [[FileIndex]] of those
    * (path, length) entries (VERDICT r21 #6). The r21 shape merely scoped
    * `parallelPartitionDiscovery.threshold` up, which avoided the listing
    * Spark JOB but still stat()ed every file serially on the driver —
    * fine at 240 local files, minutes at 10^5 object-store files at
    * 10–100 ms per stat — and mutated the shared session conf
    * (set/restore), which two concurrent relation builds could interleave
    * (ADVICE r21). Split planning and footer reads use the manifest
    * length, which is exact by construction (stat'ed by the write task
    * right after [[LakeFileWriter]] closes the file; the spec suite reads
    * through this path everywhere, so a drifting length fails loudly, not
    * silently).
    * Every file stat is synthesized with modification time 0, so
    * `_metadata.file_modification_time` reads 1970-01-01 on lake scans. */
  private def readKnownFiles(storage: StructType, files: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{
      FileIndex, HadoopFsRelation, PartitionDirectory}
    val statuses = files.map { case (p, len) =>
      // blockSize/mtime 0: split planning uses maxPartitionBytes, not
      // the block size; `_metadata.file_modification_time` reads 0
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L, new Path(p))
    }.toArray
    val index = new FileIndex {
      override def rootPaths: Seq[Path] = statuses.map(_.getPath).toSeq
      override def listFiles(
          partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
          dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[PartitionDirectory] =
        Seq(PartitionDirectory(
          org.apache.spark.sql.catalyst.InternalRow.empty, statuses))
      override def inputFiles: Array[String] = statuses.map(_.getPath.toString)
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = files.iterator.map(_._2).sum
      override def partitionSchema: StructType = new StructType()
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      // spark.read forces a user-specified file-source schema NULLABLE;
      // mirror that here so the relation schema (and every downstream
      // plan and output schema) is identical to a plain
      // `spark.read.schema(...).parquet(...)` of the same files — caught
      // by LakeSpec's schema-equality assertion
      dataSchema = nullableSchema(storage),
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(spark))
  }

  /** Delete keys (pk columns + [[LakeTable.DseqCol]]) of the given delete
    * files, grouped by the pk types of the schema era each was committed
    * under, each group cast to the target era's pk types.
    * A delete file whose snapshot header has been expired falls back to
    * the target era (the pre-fix behavior — correct whenever no pk column
    * was promoted in the expired range). */
  private def readDeleteKeys(delFiles: Seq[DeleteFile], toVersion: Int): DataFrame = {
    val target = schema(toVersion)
    val pk = meta.primaryKey
    val targetPk = StructType(
      pk.map(k => target(k)) :+ StructField(DseqCol, LongType, nullable = false))
    def eraVersion(d: DeleteFile): Int =
      try snapshotFile(d.seq).schemaVersion
      catch { case scala.util.control.NonFatal(_) => toVersion }
    delFiles.groupBy(eraVersion).map { case (v, group) =>
      val era = schema(v)
      val eraPk = StructType(
        pk.map(k => era(k)) :+ StructField(DseqCol, LongType, nullable = false))
      val df = readKnownFiles(eraPk, group.map(d => abs(d.path) -> d.bytes))
      if (eraPk == targetPk) df
      else df.select(targetPk.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    }.reduce(_ unionByName _)
  }

  /** Partition-scoped compaction: rewrites ONLY dirty partitions — those
    * owning more than `targetFilesPerPartition` data files (bin-packing)
    * or any row hit by a live tombstone — and drops all delete files in
    * one commit. Untouched partitions keep their exact file entries, so at
    * 100 TB a compaction after a skewed CDC burst rewrites the few hot
    * partitions, not the table (the reference auto-compacts per table at a
    * 10-file threshold, destination.json:262-263; Iceberg's equivalent is
    * rewrite_data_files with a partition filter).
    *
    * Dropping ALL delete files while keeping clean partitions' files is
    * sound because dirtiness-from-deletes is computed EXACTLY: a
    * distributed semi-join of (pk, seq, file) against the delete keys
    * finds every file containing a tombstoned row version; files outside
    * that set serve no row any tombstone matches. */
  def compactDirty(targetFilesPerPartition: Int = 1): Snapshot = synchronized {
    val cur = currentSnapshot
    val dirtyFromDeletes = dirtyDataFiles(cur)
    val byPartition = cur.dataFiles.groupBy(_.partition)
    val overfull = byPartition.filter(_._2.size > targetFilesPerPartition).keySet
    val dirtyPartitions = overfull ++ dirtyFromDeletes.map(_.partition)
    val (dirtyFiles, keepFiles) = cur.dataFiles.partition(f => dirtyPartitions(f.partition))
    if (dirtyFiles.isEmpty && cur.deleteFiles.isEmpty) return cur // nothing to do
    val seq = cur.seq + 1
    val userSchema = schema(cur.schemaVersion)
    val newFiles =
      if (dirtyFiles.isEmpty) Nil // tombstones matched nothing: metadata-only fold
      else stageDataFiles(
        morMerged(cur, dirtyFiles).select(userSchema.fieldNames.map(col): _*),
        cur.schemaVersion, seq, cur.specVersion)
    commitRestateRaceChecked(seq, "compact")(commitSnapshot(Snapshot(
      seq = seq, parent = Some(cur.seq), timestampMs = System.currentTimeMillis(),
      operation = "compact", schemaVersion = cur.schemaVersion,
      dataFiles = keepFiles ++ newFiles, deleteFiles = Nil, specVersion = cur.specVersion)))
  }

  /** Data files containing at least one row version a live tombstone
    * deletes — one distributed semi-join over (pk, seq, input_file_name)
    * per compaction, reading only the pk + seq columns. */
  private def dirtyDataFiles(snap: Snapshot): Seq[DataFile] = {
    if (snap.deleteFiles.isEmpty || snap.dataFiles.isEmpty) return Nil
    val userSchema = schema(snap.schemaVersion)
    val readSchema = StructType(
      meta.primaryKey.map(k => userSchema(k)) :+ StructField(SeqCol, LongType, nullable = false))
    val base = readKnownFiles(readSchema, snap.dataFiles.map(f => abs(f.path) -> f.bytes))
      .withColumn("_graft_file", input_file_name())
    val dels = readDeleteKeys(snap.deleteFiles, snap.schemaVersion)
    val cond = meta.primaryKey.map(k => base(k) === dels(k)).reduce(_ && _) &&
      base(SeqCol) < dels(DseqCol)
    val dirtyNames: Set[String] = base.join(dels, cond, "left_semi")
      .select(col("_graft_file")).distinct()
      .collect().map(r => new Path(r.getString(0)).getName).toSet
    // match by file NAME: staged names embed seq + index + writer uuid and
    // are unique within a table
    snap.dataFiles.filter(f => dirtyNames(new Path(f.path).getName))
  }

  /** File pruning against the partition spec: returns (selected, total).
    * Exposed so tests can assert pruning effectiveness (SURVEY §7.4). */
  def planFiles(snap: Snapshot, filters: Seq[PruneFilter]): (Seq[DataFile], Int) = {
    val total = snap.dataFiles.size
    val spec = specFieldsThrough(snap.specVersion)
    val kept = snap.dataFiles.filter { f =>
      filters.forall(fl =>
        PruneFilter.mayMatch(spec, f.partition, fl) && ColumnBounds.mayMatch(f.bounds, fl))
    }
    (kept, total)
  }

  // ------------------------------------------------------------ internals

  private def latestPerKey(df: DataFrame, pk: Seq[String], tsCol: String): DataFrame = {
    // deterministic last-writer-wins: latest ts first; exact-ts ties break
    // on the remaining column CONTENT (stable under any partitioning —
    // monotonically_increasing_id would depend on partition layout and
    // make replays pick different rows on different parallelism)
    val tieBreak = df.columns.filterNot(c => pk.contains(c) || c == tsCol)
      .map(col(_).desc).toSeq
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(col(tsCol).desc +: tieBreak: _*)
    df.withColumn(RnCol, row_number().over(w))
      .filter(col(RnCol) === 1)
      .drop(RnCol)
  }

  /** Stage OUTSIDE the lock, publish under it. Staging runs the write's
    * Spark jobs — minutes at scale; holding the table lock across them
    * would serialize every concurrent writer behind I/O instead of behind
    * the metadata swap. The staged files are immutable
    * once written, so the only lock-held work is the snapshot JSON swap.
    * Seq skew is benign in both branches: appends blind-rebase (staged
    * rows embed a seq <= the final commit seq — only ever OLDER relative
    * to tombstones), and replace drops all prior tombstones anyway. */
  private def commitWrite(df: DataFrame, op: String, keepExisting: Boolean): Snapshot = {
    val observed = currentSnapshot
    val newFiles = stageDataFiles(df, schemaVersion = observed.schemaVersion,
      seq = observed.seq + 1, specVersion = observed.specVersion)
    LakeTable.failpoint("staged-data") // crash-injection site (test-only)
    synchronized {
      if (keepExisting) commitAppendWithRetry(newFiles, op)
      else {
        val cur = currentSnapshot // re-read under the lock: rebase a replace too
        commitRestateRaceChecked(cur.seq + 1, op)(commitSnapshot(Snapshot(
          seq = cur.seq + 1, parent = Some(cur.seq),
          timestampMs = System.currentTimeMillis(), operation = op,
          schemaVersion = cur.schemaVersion,
          dataFiles = newFiles, deleteFiles = Nil, specVersion = cur.specVersion)))
      }
    }
  }

  /** Append ALREADY-STAGED data files (moved into `data/` by an external
    * writer such as the DSv2 batch write) as one retry-protected commit. */
  def commitStagedAppend(files: Seq[DataFile], op: String): Snapshot =
    synchronized { commitAppendWithRetry(files, op) }

  /** REPLACE the table content with already-staged files (the DSv2
    * INSERT OVERWRITE / row-level COW commit). No rebase retry: overwrite
    * racing any other commit is a real conflict and must surface.
    *
    * @param expectedBase when given (UPDATE/MERGE: the snapshot the
    *                     operation's SCAN read), the commit refuses if any
    *                     other commit landed since — without this, a COW
    *                     restatement would silently wipe a concurrent
    *                     append/delete (lost update). Plain INSERT
    *                     OVERWRITE passes None: "replace whatever is
    *                     there" is its stated semantic. */
  def commitStagedReplace(
      files: Seq[DataFile], op: String, expectedBase: Option[Long] = None): Snapshot =
    synchronized {
      val cur = currentSnapshot
      // CME, not require/IllegalArgument: a genuine concurrency LOSS must
      // follow the documented retry contract like every other
      // non-rebasable conflict (found by the r20 SQL-route soak on its
      // first seed — a caller's CME retry loop crashed on the raw require)
      expectedBase.foreach(base => if (cur.seq != base)
        throw new java.util.ConcurrentModificationException(
          s"${meta.name}: concurrent commit detected (snapshot $base read, " +
            s"${cur.seq} current) — retry the statement"))
      commitRestateRaceChecked(cur.seq + 1, op)(commitSnapshot(Snapshot(
        seq = cur.seq + 1, parent = Some(cur.seq),
        timestampMs = System.currentTimeMillis(), operation = op,
        schemaVersion = cur.schemaVersion, dataFiles = files, deleteFiles = Nil,
        specVersion = cur.specVersion)))
    }

  /** GROUP replace (the row-level UPDATE/MERGE/DELETE commit): swap the
    * `removed` files for `files`, carrying every other data-file entry
    * over verbatim — a selective restatement costs O(affected files), not
    * O(table). Delete files are retained: they still tombstone rows in
    * carried-over files, and rows of the replacement files embed a commit
    * seq newer than any live tombstone (seq >= dseq survives the MoR
    * merge). When the group set is the whole table this folds delete
    * files away like a full replace. */
  def commitStagedReplaceFiles(
      removed: Set[String], files: Seq[DataFile], op: String,
      expectedBase: Option[Long] = None): Snapshot =
    synchronized {
      val cur = currentSnapshot
      // CME, not require/IllegalArgument: a genuine concurrency LOSS must
      // follow the documented retry contract like every other
      // non-rebasable conflict (found by the r20 SQL-route soak on its
      // first seed — a caller's CME retry loop crashed on the raw require)
      expectedBase.foreach(base => if (cur.seq != base)
        throw new java.util.ConcurrentModificationException(
          s"${meta.name}: concurrent commit detected (snapshot $base read, " +
            s"${cur.seq} current) — retry the statement"))
      val keep = cur.dataFiles.filterNot(f => removed.contains(f.path))
      commitRestateRaceChecked(cur.seq + 1, op)(commitSnapshot(Snapshot(
        seq = cur.seq + 1, parent = Some(cur.seq),
        timestampMs = System.currentTimeMillis(), operation = op,
        schemaVersion = cur.schemaVersion,
        dataFiles = keep ++ files,
        deleteFiles = if (keep.isEmpty) Nil else cur.deleteFiles,
        specVersion = cur.specVersion)))
    }

  /** MERGE-ON-READ row-level commit (the DSv2 delta write: SQL UPDATE /
    * MERGE INTO / unpushable DELETE under `write.update/merge.mode =
    * merge-on-read`): append the restated rows as new data files and the
    * displaced row identities as delete-key sidecars — one snapshot, NO
    * pre-existing data file rewritten, O(changed rows) not O(affected
    * files). Like [[commitUpsert]], the staged files embed `expectedBase+1`
    * as their sequence, so a lost race cannot be rebased — it surfaces
    * with the retry recipe instead. */
  def commitStagedDelta(
      dataFiles: Seq[DataFile], deleteFiles: Seq[DeleteFile], op: String,
      expectedBase: Long): Snapshot =
    synchronized {
      val cur = currentSnapshot
      // CME, not require/IllegalArgument: this is the conflict the retry
      // contract exists for (r20 SQL-route soak finding — see
      // commitStagedReplace's twin check)
      if (cur.seq != expectedBase)
        throw new java.util.ConcurrentModificationException(
          s"${meta.name}: concurrent commit detected (snapshot $expectedBase read, " +
            s"${cur.seq} current) — retry the statement")
      val seq = cur.seq + 1
      try commitSnapshot(Snapshot(
        seq = seq, parent = Some(cur.seq), timestampMs = System.currentTimeMillis(),
        operation = op, schemaVersion = cur.schemaVersion,
        dataFiles = cur.dataFiles ++ dataFiles,
        deleteFiles = cur.deleteFiles ++ deleteFiles, specVersion = cur.specVersion))
      catch {
        case e: java.io.IOException if fs.exists(snapPath(seq)) =>
          throw new java.util.ConcurrentModificationException(
            s"${meta.name}: $op lost the race for snapshot $seq — another writer committed " +
              "first. Delta commits embed their sequence in staged files and cannot be " +
              "rebased; re-run the statement against the current snapshot. This attempt's " +
              "staged files are unreferenced and will be removed by " +
              "Maintenance.removeOrphans.", e)
      }
    }

  /** Optimistic-concurrency retry for APPEND commits (the Iceberg rebase
    * shape): on losing the snapshot race, re-read the new current snapshot
    * and re-commit the already-staged files on top of it. Appends are
    * blind-rebase-safe — new files embed a row seq <= the final commit
    * seq, which can only make them OLDER relative to tombstones, never
    * wrongly newer. Upsert/delete commits are NOT rebased: their delete
    * files embed the staged seq, and rebasing without re-stamping could
    * let a commit's own tombstones swallow its rows — a conflict there
    * surfaces to the caller (the reference runs one CDC writer per table,
    * destination.json parallelism is per-pipeline). */
  private def commitAppendWithRetry(newFiles: Seq[DataFile], op: String, maxRetries: Int = 5): Snapshot = {
    var attempt = 0
    while (true) {
      val cur = currentSnapshot // re-read: a racing writer may have won
      val seq = cur.seq + 1
      // FILE-level seq is the VISIBILITY commit: re-stamp entries on a
      // rebase (staged seq < the final commit seq) so range consumers —
      // `changes(from, to)` and both streaming sources select files by
      // `f.seq ∈ (from, to]` — attribute these rows to the snapshot where
      // they actually appear. Without this, a rebased append's rows fell
      // OUTSIDE every per-commit range and a contiguous changelog/stream
      // consumer silently lost them (found by the r19 randomized
      // concurrent-writer soak, seed 102). The ROW-level SeqCol keeps the
      // staged value: every MoR tombstone comparison is row-level
      // (`row._graft_seq < key._graft_dseq`), and a rebased append
      // serializing at its STAGED point w.r.t. concurrent tombstones is
      // exactly the documented blind-rebase contract.
      val stamped = newFiles.map(f => if (f.seq == seq) f else f.copy(seq = seq))
      try {
        return commitSnapshot(Snapshot(
          seq = seq, parent = Some(cur.seq),
          timestampMs = System.currentTimeMillis(), operation = op,
          schemaVersion = cur.schemaVersion,
          dataFiles = cur.dataFiles ++ stamped,
          deleteFiles = cur.deleteFiles, specVersion = cur.specVersion))
      } catch {
        case e: java.io.IOException if attempt < maxRetries && fs.exists(snapPath(seq)) =>
          attempt += 1 // lost the race: rebase onto the winner
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Upsert/delete commits are NOT blind-rebase-safe (unlike appends): the
    * staged data and delete files embed the commit seq, and rebasing onto
    * a racing winner without re-stamping could let this commit's own
    * tombstones swallow its rows. A lost race therefore surfaces as a
    * [[java.util.ConcurrentModificationException]] telling the caller the
    * retry recipe: re-run the SAME upsert/delete against the new current
    * snapshot (the operation is a pure function of its batch, so re-running
    * re-stages with the right seq); the loser's staged files are
    * unreferenced by any snapshot and age-swept by
    * [[Maintenance.removeOrphans]]. */
  private def commitUpsert(upserts: Option[DataFrame], deleteKeys: DataFrame, op: String): Snapshot =
    synchronized {
      val cur = currentSnapshot
      val seq = cur.seq + 1
      val newData = upserts.map(stageDataFiles(_, cur.schemaVersion, seq, cur.specVersion)).getOrElse(Nil)
      val delFiles = writeDeleteFiles(deleteKeys, seq, cur.specVersion)
      LakeTable.failpoint("staged-delta") // crash-injection site (test-only)
      try commitSnapshot(Snapshot(
        seq = seq, parent = Some(cur.seq), timestampMs = System.currentTimeMillis(), operation = op,
        schemaVersion = cur.schemaVersion,
        dataFiles = cur.dataFiles ++ newData,
        deleteFiles = cur.deleteFiles ++ delFiles, specVersion = cur.specVersion))
      catch {
        case e: java.io.IOException if fs.exists(snapPath(seq)) =>
          throw new java.util.ConcurrentModificationException(
            s"${meta.name}: $op lost the race for snapshot $seq — another writer committed " +
              "first. Upsert/delete commits embed their sequence in staged files and cannot " +
              "be rebased; re-run the operation against the current snapshot (it will " +
              "re-stage with the right sequence). This attempt's staged files are " +
              "unreferenced and will be removed by Maintenance.removeOrphans.", e)
      }
    }

  /** Write `df` as partitioned + clustered parquet through
    * [[LakeFileWriter]] tasks under a staging dir, then publish the files
    * into `data/` and return their entries.
    * Partitioning/clustering per the reference's per-table specs
    * (destination.json:37-73 transforms, :115-118 clustering). */
  private def stageDataFiles(
      df: DataFrame, schemaVersion: Int, seq: Long, specVersion: Int = 0): Seq[DataFile] = {
    val userSchema = schema(schemaVersion)
    // align to the table schema: add nulls for missing evolved columns and
    // up-cast narrower incoming types (a CDC batch written before a type
    // promotion landed still carries e.g. INT where the table says BIGINT).
    // Widening only — a batch WIDER than the table is a real schema
    // conflict and fails loudly instead of silently truncating.
    val aligned = userSchema.fields.foldLeft(df) { (d, f) =>
      if (!d.columns.contains(f.name)) d.withColumn(f.name, lit(null).cast(f.dataType))
      else {
        val have = d.schema(f.name).dataType
        if (have == f.dataType) d
        else {
          require(LakeTable.legalPromotion(have, f.dataType),
            s"${meta.name}: column ${f.name} arrives as ${have.sql} but the table " +
              s"stores ${f.dataType.sql} — not a lossless widening; rewrite the batch")
          d.withColumn(f.name, col(f.name).cast(f.dataType))
        }
      }
    }.select(userSchema.fieldNames.map(col): _*)

    val spec = partitionSpec(specVersion)
    val partCols = spec.map(_.name)
    val derived = spec.foldLeft(aligned)(
      (d, pf) => d.withColumn(pf.name, pf.transform(col(pf.source))))

    // one shuffle: co-locate rows of a partition value, clustering sort
    // inside each task so parquet row-group stats are tight on the cluster
    // keys (≈ MergeTree ORDER BY, scripts/iceberg-setup.sql:90).
    // `spark.graft.lake.writeSplits` (default 1) adds a hash salt to the
    // write distribution: with 1, each partition value lands in one task /
    // one file (small tables, tidy layout); at cluster scale a partition
    // value can hold terabytes, so a single task per value would serialize
    // the write — salting fans each value out to N tasks / N files, which
    // the snapshot format tracks per-file anyway.
    var unpersistAfterWrite: Option[DataFrame] = None
    val arranged = if (meta.clusterStrategy == "zorder" && meta.clusterBy.nonEmpty) {
      // Z-ORDER clustering: range-partition + sort the write on the Morton
      // z-value of the cluster keys (partition values lead, so files stay
      // partition-major). Each file then covers a small hyper-cube of the
      // key space and its commit-time bounds are tight in EVERY clustered
      // dimension — multi-column file skipping, where lexicographic
      // clustering only ever serves the first key.
      // persist first: the arrangement reads the input THREE times
      // (quantile aggregation, range-boundary sampling, the write itself)
      // and an expensive upstream plan must not run three times. persist
      // (not localCheckpoint) keeps the lineage recomputable on executor
      // loss and spills to disk; unpersisted after the staging write below.
      val src = derived.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      unpersistAfterWrite = Some(src)
      val z = ZOrder.zvalue(src, meta.clusterBy)
      val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val keys = partCols.map(col) :+ col(ZOrderCol)
      src.withColumn(ZOrderCol, z)
        .repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop(ZOrderCol) // projection only: in-partition order survives
    } else if (meta.clusterStrategy == "range" && meta.clusterBy.nonEmpty) {
      // RANGE clustering (Iceberg's write.distribution-mode=range): the
      // write is range-partitioned on (partition cols, cluster keys), so
      // each task owns a contiguous lexicographic band and every staged
      // file's commit-time bounds are a DISJOINT range of the cluster
      // keys — a pushed comparison on the lead cluster key then prunes
      // whole files from the manifest. Unlike the hash arrangement below,
      // a hot partition value also fans out across tasks by key range
      // (parallel writes without the salt that would destroy the bounds).
      val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val keys = (partCols ++ meta.clusterBy).map(col)
      derived.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
    } else {
      val splits = spark.conf.getOption("spark.graft.lake.writeSplits")
        .map(_.toInt).getOrElse(1).max(1)
      val spreadCols = if (meta.clusterBy.nonEmpty) meta.clusterBy else userSchema.fieldNames.toSeq
      val salt = pmod(xxhash64(spreadCols.map(col): _*), lit(splits))
      // explicit partition count: an expression-only repartition is
      // AQE-coalesced on small inputs, which would undo the fan-out
      val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val repart =
        if (partCols.nonEmpty && splits > 1)
          derived.repartition(n, partCols.map(col) :+ salt: _*)
        else if (partCols.nonEmpty) derived.repartition(partCols.map(col): _*)
        else if (splits > 1) derived.repartition(splits, salt)
        else derived
      val sortCols = partCols ++ meta.clusterBy
      if (sortCols.nonEmpty) repart.sortWithinPartitions(sortCols.map(col): _*) else repart
    }

    // partition columns were only needed to ARRANGE the rows; the writer
    // renders them per row from the sources
    val rows = arranged.select(userSchema.fieldNames.map(col).toIndexedSeq: _*).queryExecution.toRdd
    val stagingRel = s"_staging/${UUID.randomUUID()}"
    val writeSpec = LakeWriteSpec(location, stagingRel, seq, hadoopConfEntries, userSchema,
      dataParts = spec.map(pf => (userSchema.fieldIndex(pf.source), pf.transform, pf.name)),
      recordSums = ColumnSums.recordSums(spark))
    val staged =
      try LakeFileWriter.stage(rows, writeSpec)
      finally unpersistAfterWrite.foreach(_.unpersist(false))
    publishStaged(staged, stagingRel)._1
  }

  /** Stage + publish a commit's delete-key files. Typical CDC batches are
    * small, so the default is ONE file per partition tuple (smallest
    * read-side plan). A bulk delete (GDPR purge, retention sweep) can set
    * `spark.graft.lake.deleteSplits` = N to fan the write out across N
    * tasks hashed on the primary key — a 10⁸-key batch should not funnel
    * through a single writer. Readers take the union of all delete files,
    * so the split count is invisible to the merge.
    *
    * PARTITION SCOPING (Iceberg's partition-scoped delete files): when
    * every partition source of the commit's spec is a primary-key column,
    * the partition of every row a key could tombstone is computable FROM
    * THE KEY (old row and new row alike — the pk determines the value), so
    * the keys are written partitioned and each delete file records its
    * tuple. A partition-pruned scan then loads only the matching delete
    * files instead of the table's whole tombstone set. Specs with
    * non-key sources (e.g. time-partitioned tables with a surrogate pk)
    * keep writing one global file — the old row's partition is unknowable
    * without reading the table. */
  private def writeDeleteFiles(keys: DataFrame, seq: Long, specVersion: Int): Seq[DeleteFile] = {
    val splits = spark.conf.getOption("spark.graft.lake.deleteSplits")
      .map(_.toInt).getOrElse(1).max(1)
    val deduped = keys.distinct()
    val arranged =
      if (splits == 1) deduped.coalesce(1)
      else deduped.repartition(splits, meta.primaryKey.map(col): _*)
    val spec = partitionSpec(specVersion)
    val scoped = spec.nonEmpty && spec.forall(pf => meta.primaryKey.contains(pf.source))
    val stagingRel = s"_staging/${UUID.randomUUID()}"
    val writeSpec = LakeWriteSpec(location, stagingRel, seq, hadoopConfEntries, new StructType(),
      keySchema = arranged.schema,
      keyParts = if (scoped) LakeFileWriter.bind(spec, arranged.schema).getOrElse(Nil) else Nil)
    publishStaged(LakeFileWriter.stage(arranged.queryExecution.toRdd, writeSpec, deletes = true),
      stagingRel)._2
  }

  /** Publish one staging job's files: move each into `data/` (under its
    * partition directories, spec order) or `deletes/`, drop the staging
    * dir, and return the manifest entries built from the stats the writer
    * recorded. Published names are `s{seq}-{tag}-{i}-{staged name}` and
    * `d-{seq}-{tag}-{i}-{staged name}`, `tag` being the staging dir's own
    * fresh name: task attempt ids restart per SparkContext, so two
    * PROCESSES staging against the same observed seq would otherwise
    * render identical destination paths — on local fs the loser's rename
    * fails the whole commit; on an object store it could overwrite the
    * winner's data (caught by ProcessSafetySpec's cross-JVM race).
    * `dataRel` relocates the data files (the changelog stream keeps its
    * batch files inside its own staging namespace). A failed move rolls
    * back the files this call already placed. */
  private[graft] def publishStaged(
      staged: Seq[StagedFile], stagingRel: String, dataRel: String = "data")
      : (Seq[DataFile], Seq[DeleteFile]) = {
    val tag = new Path(stagingRel).getName
    val placed = ArrayBuffer.empty[String]
    try {
      val entries = staged.zipWithIndex.map { case (f, i) =>
        val name = s"${f.seq}-$tag-$i-${new Path(f.rel).getName}"
        val destRel =
          if (f.isDelete) s"deletes/d-$name"
          else (dataRel +: f.partition.map { case (k, v) =>
            s"$k=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)}"
          } :+ s"s$name").mkString("/")
        val dest = new Path(root, destRel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(new Path(root, f.rel), dest))
          throw new IllegalStateException(s"${meta.name}: commit failed moving ${f.rel}")
        placed += destRel
        if (f.isDelete) Right(DeleteFile(destRel, f.seq, f.meta.len, f.partition.toMap))
        else Left(DataFile(destRel, f.seq, f.partition.toMap, f.meta.len, rows = f.meta.rows,
          splits = f.meta.splits, bounds = f.meta.bounds, nonNull = f.meta.nonNull, sums = f.sums))
      }
      fs.delete(new Path(root, stagingRel), true)
      (entries.collect { case Left(d) => d }, entries.collect { case Right(d) => d })
    } catch {
      case e: Throwable =>
        discardPublished(placed.toSeq)
        throw e
    }
  }

  /** Best-effort delete of published files no snapshot references — a
    * commit that failed after [[publishStaged]] rolls its files back. */
  private[graft] def discardPublished(rels: Seq[String]): Unit =
    rels.foreach(r => try fs.delete(new Path(root, r), false) catch { case _: Exception => })

  /** The session's Hadoop conf (filesystem impls, credentials) as entries
    * — the Configuration object itself is not serializable, and a bare
    * `new Configuration()` in a task only reaches the default local fs.
    * Shipped to every write and read task. */
  private[graft] def hadoopConfEntries: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** Persist `s`: write manifests for what changed vs the parent, reuse
    * parent manifests whose every entry survives verbatim, then publish
    * the snapshot header. An append touches O(new files) metadata; a
    * partition-scoped compaction rewrites only manifests that LOST a file,
    * so clean partitions' manifests carry over by reference. */
  private def planManifests(s: Snapshot): Seq[ManifestRef] = {
    val parentRefs: Seq[ManifestRef] = s.parent
      .filter(p => fs.exists(snapPath(p)))
      .map(p => snapshotFile(p).manifests)
      .getOrElse(Nil)

    def diff[F](
        cur: Seq[F], path: F => String, fromRefs: ManifestRef => Seq[F],
        refsOfKind: Seq[ManifestRef]): (Seq[ManifestRef], Seq[F]) = {
      val curByPath = cur.map(f => path(f) -> f).toMap
      require(curByPath.size == cur.size, s"${meta.name}: duplicate file entries in commit ${s.seq}")
      val reused = refsOfKind.filter { m =>
        val entries = fromRefs(m)
        entries.nonEmpty && entries.forall(f => curByPath.get(path(f)).contains(f))
      }
      val covered = reused.flatMap(m => fromRefs(m).map(path)).toSet
      (reused, cur.filterNot(f => covered(path(f))))
    }

    val (dataReused, dataNew) = diff[DataFile](
      s.dataFiles, _.path, m => loadManifest(m)._1, parentRefs.filter(_.isData))
    val (delReused, delNew) = diff[DeleteFile](
      s.deleteFiles, _.path, m => loadManifest(m)._2, parentRefs.filterNot(_.isData))

    def writeNew(kind: String, data: Seq[DataFile], dels: Seq[DeleteFile]): Option[ManifestRef] = {
      if (data.isEmpty && dels.isEmpty) return None
      val rel = f"meta/man-${s.seq}%05d-${UUID.randomUUID()}.json"
      writeString(new Path(root, rel), MetaJson.writeManifest(kind, data, dels))
      val ref = ManifestRef(
        path = rel, kind = kind,
        count = if (kind == "data") data.size else dels.size,
        bytes = if (kind == "data") data.map(_.bytes).sum else dels.map(_.bytes).sum,
        partitions =
          if (kind == "data") ManifestRef.summarize(data)
          else ManifestRef.summarizeDeletes(dels))
      LakeTable.manifestCache.put(abs(rel), (data, dels))
      Some(ref)
    }

    (dataReused ++ writeNew("data", dataNew, Nil) ++
      delReused ++ writeNew("delete", Nil, delNew)).toSeq
  }

  /** Exclusive AND atomic publish of an immutable metadata file: a racing
    * second writer fails loudly instead of overwriting, and the file
    * either does not exist or is fully readable — never partially
    * written. On file:// the Hadoop local fs implements
    * create(overwrite=false) as check-then-create (not exclusive), and a
    * direct java.nio CREATE_NEW makes the name visible BEFORE the bytes
    * land — a concurrent reader probing the head (`currentSeq` probes
    * forward, then parses) can read a torn snapshot file (observed as a
    * cross-process NPE in the rollback-vs-appender race test, r17). So:
    * stage the bytes to a hidden temp name, then hard-LINK it to the
    * target — link creation is atomic, fails with
    * FileAlreadyExistsException when the target exists (the O_EXCL
    * semantics the commit protocol needs), and the content is complete
    * the instant the name appears. A link-INCAPABLE mount (exFAT, some
    * FUSE/CIFS — surfaced by the JDK as an errno FileSystemException,
    * not UnsupportedOperationException) falls back to the direct O_EXCL
    * create: still exclusive, but a concurrent reader may glimpse a torn
    * file — the strongest guarantee such a filesystem offers (and the
    * pre-r17 behavior everywhere). Because MANY FileSystemException
    * subclasses are transient faults a silent fallback would mask (e.g.
    * the staged temp swept mid-publish by a concurrent removeOrphans
    * with a tiny olderThanMs → NoSuchFileException), the fallback is
    * gated on a cached per-directory link-capability probe: if the
    * directory demonstrably CAN hard-link, the original failure was real
    * and propagates; NoSuchFileException on the temp gets one re-stage
    * retry first. Falling back logs once per directory. Non-local
    * schemes keep the Hadoop create. */
  private def createExclusive(p: Path, bytes: Array[Byte]): Unit = {
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      def stageAndLink(): Unit = {
        val tmp = local.resolveSibling(s".${local.getFileName}.${UUID.randomUUID()}.tmp")
        try {
          java.nio.file.Files.write(tmp, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW, java.nio.file.StandardOpenOption.WRITE)
          java.nio.file.Files.createLink(local, tmp)
        } finally java.nio.file.Files.deleteIfExists(tmp)
      }
      try stageAndLink()
      catch {
        // a lost race MUST propagate (FileAlreadyExistsException IS a
        // FileSystemException — match it first)
        case e: java.nio.file.FileAlreadyExistsException => throw e
        // the staged temp vanished between write and link — a concurrent
        // removeOrphans with a small age gate can sweep it. The mount
        // plainly supports the operations; re-stage once and retry (a
        // second miss is a real environmental fault and propagates, as
        // does a race lost on the retry).
        case _: java.nio.file.NoSuchFileException => stageAndLink()
        case e @ (_: UnsupportedOperationException | _: java.nio.file.FileSystemException) =>
          // Only a genuinely link-incapable mount may degrade to the
          // torn-read-window CREATE_NEW path; a transient errno on a
          // capable mount must surface to the caller's retry logic.
          if (LakeTable.dirSupportsHardLinks(local.getParent)) throw e
          warn(
            s"graft-lake: ${local.getParent} does not support hard links; publishing " +
              s"${local.getFileName} via O_EXCL create (exclusive, but a concurrent reader " +
              "may observe a partially-written file on this mount)")
          val ch = java.nio.file.Files.newByteChannel(local,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try ch.write(java.nio.ByteBuffer.wrap(bytes)) finally ch.close()
      }
    } else {
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
    }
  }

  /** Publish a schema-v / spec-v version file. Exclusive: these files are
    * immutable and may be referenced by committed snapshots forever — a
    * concurrent ALTER that allocated the same probed version number must
    * fail HERE, before its snapshot commit could reference a file the
    * winner wrote with different content. The loser FAILS LOUDLY and the
    * caller re-runs the ALTER (which re-probes a fresh number and re-runs
    * every history guard against the winner's file — an automatic retry
    * here could not, the guards were computed before the race). */
  private def writeVersionFile(p: Path, s: String): Unit =
    try createExclusive(p, s.getBytes(StandardCharsets.UTF_8))
    catch {
      case e @ (_: java.nio.file.FileAlreadyExistsException |
                _: org.apache.hadoop.fs.FileAlreadyExistsException) =>
        throw new java.util.ConcurrentModificationException(
          s"${meta.name}: lost a metadata-version race for ${p.getName} — a concurrent " +
            "ALTER committed the same version number first. Re-run this ALTER: it will " +
            "probe a fresh version and re-validate against the winner's schema/spec.", e)
    }

  private[lake] def commitSnapshot(s: Snapshot): Snapshot = {
    // exclusive create: a racing writer loses here, loudly. Manifests
    // written by a LOSING racer are unreferenced by any snapshot and
    // age-swept by [[Maintenance.removeOrphans]].
    val p = snapPath(s.seq)
    createExclusive(p, MetaJson.writeSnapshotFile(s, planManifests(s)).getBytes(StandardCharsets.UTF_8))
    // the hint is ADVISORY (readers list meta/ when it lies) — it must not
    // be able to fail a commit whose snapshot file already exists: a caller
    // seeing an exception here would roll back files a durable snapshot
    // references
    try writeString(new Path(metaDir, "version-hint.text"), s.seq.toString)
    catch { case _: Exception => () }
    s
  }

  private def snapPath(seq: Long) = new Path(metaDir, f"snap-$seq%05d.json")
  /** Absolute path of a snapshot-relative file (used by the DSv2 source). */
  def abs(rel: String): String = new Path(root, rel).toString


  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeString(p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) throw new IllegalStateException(s"failed to publish $p")
  }
}

object LakeTable extends org.apache.spark.internal.Logging {
  /** Degraded-path notices go to Spark's log, not stderr. */
  private def warn(msg: String): Unit = logWarning(msg)

  /** TEST-ONLY crash-injection hook, invoked with a site label at the
    * commit protocol's vulnerable windows (after staging, before the
    * snapshot publish). A fault-injection test process installs a handler
    * that `Runtime.halt`s the JVM to simulate a writer dying mid-commit;
    * production never touches it (the default is a no-op and nothing in
    * the library sets it). */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  /** Process-wide manifest cache. Manifest files are IMMUTABLE (uuid
    * names, write-once), so caching by absolute path is always coherent —
    * across LakeTable instances, catalog lookups, and snapshot history
    * walks. Bounded LRU: 4096 manifests ≈ the metadata of a few hundred
    * large tables; eviction only costs a re-parse. */
  private[lake] val manifestCache = new ManifestCache(4096)

  /** Snapshot operations the row-level changelog can REPLAY. Everything
    * else ("compact", "rollback", ...) is a content RESTATEMENT: same or
    * restated rows with no row-level delta, so
    * [[LakeTable.changes]] and the streaming changelog refuse ranges that
    * cross one — the consumer re-baselines (see the
    * `rebaseline_changelog` procedure, which derives its barrier scan
    * from THIS predicate so the two can never drift). */
  private[graft] def replayableOp(op: String): Boolean =
    op.startsWith("append") || Set("upsert", "delete", "cdc", "add-column",
      "promote-type", "drop-column", "evolve-spec",
      // merge-on-read SQL row-level commits: new data files + delete-key
      // sidecars, the exact shape the changelog replays
      "update-mor", "merge-mor", "delete-mor")(op)

  /** Snapshot operations that never restate or tombstone a live pk: a
    * range of only these takes [[LakeTable.changes]]'s append-only fast
    * path, which never reads the `from` BASE snapshot. Any other
    * replayable op on a pk table plans the base join — so a range
    * containing one is consumable only while the base snapshot is still
    * retained. Shared with `rebaseline_changelog` so the recipe and the
    * base-expiry refusal can never drift (same discipline as
    * [[replayableOp]]). */
  private[graft] def appendOnlyOp(op: String): Boolean =
    op.startsWith("append") ||
      Set("add-column", "promote-type", "drop-column", "evolve-spec")(op)

  /** Cached per-directory hard-link capability probe, consulted only
    * after a createLink failure to decide whether the torn-read-window
    * fallback is legitimate (link-incapable mount) or the failure was a
    * transient fault that must propagate. The probe stages a 1-byte
    * hidden temp and links it; both names are deleted in finally. Cached
    * per absolute directory — capability is a property of the mount, not
    * of the call. Test hook: clear via [[resetLinkProbeCache]]. */
  private val linkCapableDirs =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, java.lang.Boolean]()
  private[lake] def resetLinkProbeCache(): Unit = linkCapableDirs.clear()
  // one probe attempt's outcome — only the two DEFINITE verdicts may be
  // cached; everything inconclusive must leave the cache untouched, or a
  // transient fault would pin the torn-read-window fallback on a
  // link-capable mount for the JVM lifetime (review finding r18)
  private object LinkProbe extends Enumeration {
    val Linked, Unsupported, TempVanished, FsError = Value
  }
  private def linkProbeAttempt(d: java.nio.file.Path): LinkProbe.Value = {
    val src = d.resolve(s".linkprobe-${UUID.randomUUID()}.tmp")
    val dst = d.resolve(s".linkprobe-${UUID.randomUUID()}.tmp")
    try {
      java.nio.file.Files.write(src, Array[Byte](0),
        java.nio.file.StandardOpenOption.CREATE_NEW, java.nio.file.StandardOpenOption.WRITE)
      java.nio.file.Files.createLink(dst, src)
      LinkProbe.Linked
    } catch {
      case _: UnsupportedOperationException => LinkProbe.Unsupported
      // our own staged temp vanished between write and link — a
      // concurrent zero-age removeOrphans sweeps hidden temps; says
      // nothing about link capability
      case _: java.nio.file.NoSuchFileException => LinkProbe.TempVanished
      case _: java.nio.file.FileSystemException => LinkProbe.FsError
    } finally {
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.deleteIfExists(src)
    }
  }
  private[lake] def dirSupportsHardLinks(dir: java.nio.file.Path): Boolean = {
    val key = dir.toAbsolutePath
    val cached = linkCapableDirs.get(key)
    if (cached != null) return cached.booleanValue()
    // definite verdicts cache; an errno-class failure (FileSystemException
    // — EPERM on a linkless mount, but equally a transient EIO/ENOSPC)
    // must REPEAT on a fresh attempt before it may pin FALSE; a vanished
    // temp never concludes. Inconclusive probes return `true` UNCACHED:
    // the caller then propagates its own failure (no silent degrade) and
    // the next call re-probes.
    val verdict: Option[Boolean] = linkProbeAttempt(key) match {
      case LinkProbe.Linked      => Some(true)
      case LinkProbe.Unsupported => Some(false)
      case first @ (LinkProbe.TempVanished | LinkProbe.FsError) =>
        linkProbeAttempt(key) match {
          case LinkProbe.Linked      => Some(true)
          case LinkProbe.Unsupported => Some(false)
          case LinkProbe.FsError if first == LinkProbe.FsError => Some(false)
          case _                     => None
        }
    }
    verdict match {
      case Some(v) => linkCapableDirs.putIfAbsent(key, java.lang.Boolean.valueOf(v)); v
      case None =>
        warn(
          s"graft-lake: hard-link capability probe for $key inconclusive " +
            "(transient filesystem fault); treating as link-capable without caching")
        true
    }
  }

  private[lake] final class ManifestCache(max: Int) {
    private val m =
      new java.util.LinkedHashMap[String, (Seq[DataFile], Seq[DeleteFile])](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Seq[DataFile], Seq[DeleteFile])]): Boolean =
          size() > max
      }
    /** Count of loader invocations — lets tests assert that pruned reads
      * never parse skipped manifests. */
    @volatile private[lake] var misses: Long = 0L
    def get(key: String, load: () => (Seq[DataFile], Seq[DeleteFile])): (Seq[DataFile], Seq[DeleteFile]) =
      synchronized {
        val v = m.get(key)
        if (v != null) v
        else { misses += 1; val nv = load(); m.put(key, nv); nv }
      }
    def put(key: String, v: (Seq[DataFile], Seq[DeleteFile])): Unit =
      synchronized { m.put(key, v) }
    /** Test hook: drop all entries so load counts start from zero. */
    private[lake] def clear(): Unit = synchronized { m.clear() }
  }

  /** Lossless type widenings the read path can reconcile without rewriting
    * old files: parquet stores byte/short/int as INT32, which Spark's
    * reader decodes as LONG on request; FLOAT decodes as DOUBLE (exact —
    * every float is a double). Mirrors the reference's `auto_promote_types`
    * set (int→long, float→double; destination.json:74-79). */
  private val integralRank: Map[org.apache.spark.sql.types.DataType, Int] = Map(
    org.apache.spark.sql.types.ByteType -> 0, org.apache.spark.sql.types.ShortType -> 1,
    org.apache.spark.sql.types.IntegerType -> 2, LongType -> 3)
  private[graft] def legalPromotion(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    (from, to) match {
      case (f, t) if integralRank.contains(f) && integralRank.contains(t) =>
        integralRank(f) < integralRank(t)
      case (org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }

  /** Storage column carrying the commit sequence of each data row. */
  val SeqCol = "_graft_seq"
  /** Transient write-arrangement column for z-order clustering. */
  private val ZOrderCol = "_graft_z"

  /** The `_graft` prefix is reserved for storage/arrangement columns the
    * write path derives (`_graft_seq`, `_graft_z`, `_graft_file`, …) — a
    * user column or partition field in that namespace would be silently
    * overwritten by `withColumn` at the next write. `lower` must already
    * be lowercase. */
  private[graft] def isReservedName(lower: String): Boolean = lower.startsWith("_graft")
  /** Column in delete files carrying the delete's commit sequence. */
  val DseqCol = "_graft_dseq"
  private val RnCol = "_graft_rn"
  private val RowIdCol = "_graft_rowid"

  /** Refuse transform/source-type pairs outside the Iceberg transform
    * table ([[Transform.accepts]]): year/month/day need a date/timestamp
    * source, truncate a string, identity an atomic type. */
  private def requireTransformTypes(
      table: String, schema: StructType, spec: Seq[PartitionField]): Unit =
    spec.foreach { pf =>
      schema.fields.find(_.name == pf.source).foreach { f =>
        if (!pf.transform.accepts(f.dataType))
          throw new IllegalArgumentException(
            s"$table: partition transform ${pf.transform.name} does not apply to column " +
              s"${f.name} of type ${f.dataType.sql}")
      }
    }

  /** CREATE TABLE: writes the immutable definition, schema v1, and an empty
    * snapshot 0 (S12). */
  def create(
      spark: SparkSession,
      location: String,
      name: String,
      schema: StructType,
      partitionSpec: Seq[PartitionField] = Nil,
      clusterBy: Seq[String] = Nil,
      primaryKey: Seq[String] = Nil,
      clusterStrategy: String = "linear",
  ): LakeTable = {
    require(Set("linear", "zorder", "range")(clusterStrategy),
      s"unknown cluster strategy $clusterStrategy (linear | zorder | range)")
    (schema.fieldNames ++ partitionSpec.map(_.name)).foreach(n =>
      require(!isReservedName(n.toLowerCase(java.util.Locale.ROOT)),
        s"$name: $n is reserved — the _graft namespace belongs to derived storage columns"))
    requireTransformTypes(name, schema, partitionSpec)
    if (clusterStrategy == "range") {
      require(clusterBy.nonEmpty, "range clustering needs cluster_by columns")
      clusterBy.foreach(c => require(schema.fieldNames.contains(c),
        s"range cluster key $c must be a table column"))
    }
    if (clusterStrategy == "zorder") {
      require(clusterBy.nonEmpty, "z-order clustering needs cluster_by columns")
      clusterBy.foreach(c => require(
        schema.fieldNames.contains(c) && ZOrder.supported(schema(c).dataType),
        s"z-order key $c must be a numeric/temporal table column"))
    }
    val t = new LakeTable(spark, location)
    val metaDir = new Path(new Path(location), "meta")
    if (t.fs.exists(metaDir)) throw new IllegalStateException(s"table already exists at $location")
    t.fs.mkdirs(metaDir)
    t.writeString(new Path(metaDir, "table.json"),
      MetaJson.writeTableMeta(TableMeta(name, partitionSpec, clusterBy, primaryKey, clusterStrategy)))
    t.writeString(new Path(metaDir, "schema-v001.json"), MetaJson.writeSchema(schema))
    t.commitSnapshot(Snapshot(0L, None, System.currentTimeMillis(), "create", 1, Nil, Nil))
    t
  }

  /** Open an existing table. A table whose table.json records a format
    * version other than [[MetaJson.FormatVersion]] (or none) is refused
    * by name: this build carries no decoders for earlier layouts. */
  def load(spark: SparkSession, location: String): LakeTable = {
    val t = new LakeTable(spark, location)
    val tableJson = new Path(new Path(location), "meta/table.json")
    if (!t.fs.exists(tableJson))
      throw new IllegalArgumentException(s"no lake table at $location")
    val found = MetaJson.readFormatVersion(t.readString(tableJson))
    if (!found.contains(MetaJson.FormatVersion))
      throw new IllegalStateException(
        s"lake table at $location has format version ${found.getOrElse("none")}, but " +
          s"this build reads only format version ${MetaJson.FormatVersion}; re-create " +
          "the table with this build (CREATE TABLE, then re-load its rows from the source)")
    t
  }

  /** `s` with every field, array element and map value nullable — the
    * shape `spark.read` forces on a user-specified file-source schema and
    * the shape the lake writer stores. */
  private[graft] def nullableSchema(s: StructType): StructType = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def loose(dt: DataType): DataType = dt match {
      case st: StructType => nullableSchema(st)
      case a: ArrayType => a.copy(elementType = loose(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(keyType = loose(m.keyType), valueType = loose(m.valueType), valueContainsNull = true)
      case other => other
    }
    StructType(s.fields.map(f => f.copy(dataType = loose(f.dataType), nullable = true)))
  }

  private[lake] def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath
    val s = p.toUri.getPath
    require(s.startsWith(b), s"$p not under $base")
    s.stripPrefix(b).stripPrefix("/")
  }

  def exists(spark: SparkSession, location: String): Boolean = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "meta/table.json"))
  }
}
