package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** One immutable data file tracked by a snapshot.
  *
  * `seq` is the commit sequence number that added the file — its
  * VISIBILITY commit, re-stamped on an append rebase (r19): range
  * consumers (`changes`, the streaming sources) select files by it, so it
  * must name the snapshot where the file first appears. The rows INSIDE
  * the file embed their own `_graft_seq` (= the staged sequence, ≤ this
  * field after a rebase), and merge-on-read delete keys apply only to
  * data ROWS with a strictly smaller sequence (same rule as Iceberg v2
  * sequence numbers — reference tables are format-version 2 with
  * merge-on-read delete/update/merge modes,
  * olake-config/destination.json:80-94).
  *
  * `rows` is the row count (Iceberg's `record_count`), captured from the
  * footer at commit and recorded for every file. Feeds scan statistics
  * (broadcast planning), LIMIT planning and metadata-only COUNT(*).
  *
  * `splits` records the parquet row-group byte ranges (start, length) —
  * Iceberg's `split_offsets` — captured once at commit time so read
  * planning fans a file out across tasks WITHOUT reopening footers on the
  * driver. Empty only for a file with no row groups.
  */
final case class DataFile(
    path: String,
    seq: Long,
    partition: Map[String, String],
    bytes: Long,
    rows: Long,
    splits: Seq[(Long, Long)] = Nil,
    /** Per-column value bounds (Iceberg's lower/upper_bounds), taken from
      * the writer's own footer stats ([[FileMeta]]); a column whose footer
      * carries no usable statistics is absent and cannot stats-skip. */
    bounds: Map[String, ColBound] = Map.empty,
    /** Per-column NON-NULL value counts (Iceberg's `value_counts` minus
      * `null_value_counts`), taken from the writer's own footer
      * statistics — zero extra I/O. Serves metadata-only COUNT(col); a column absent
      * from the map has unknown counts (its footer dropped the null
      * count) and declines. */
    nonNull: Map[String, Long] = Map.empty,
    /** Per-column EXACT value sums as plain decimal strings, folded by the
      * write task as rows pass ([[LakeFileWriter.FileSums]]) for integral
      * and decimal columns only (double sums are order-dependent and never
      * recorded; see [[ColumnSums]]). A column with `nonNull > 0` but no sum entry
      * declines; `nonNull == 0` needs no entry (an all-null column sums to
      * NULL). Serves metadata-only SUM/AVG. */
    sums: Map[String, String] = Map.empty)

/** A merge-on-read delete-key file: parquet of primary-key columns plus a
  * constant `_dseq` column = the commit sequence of the delete.
  *
  * `partition` scopes the file to one partition tuple (Iceberg scopes
  * delete files to partitions for the same reason): the write path records
  * it when every partition SOURCE column is part of the primary key — then
  * the key values determine the partition of every row they could
  * tombstone, old era or new. Empty = global (applies everywhere); readers
  * treat an unknown tuple field conservatively, so scoping is a pure
  * planning optimization — a partition-pruned scan loads only the delete
  * files whose tuple can match its planned data files instead of the
  * table's entire delete-key set. */
final case class DeleteFile(
    path: String, seq: Long, bytes: Long,
    partition: Map[String, String] = Map.empty)

/** One committed table version, with the FULL file listing inlined
  * in memory (read planning needs it). PERSISTENCE is manifest-based
  * (Iceberg's snapshot → manifest-list shape): the snapshot file stores
  * [[ManifestRef]]s and a commit writes only the manifests its parent did
  * not already carry — O(delta) metadata per commit, with unchanged
  * manifests shared structurally across the whole snapshot history. */
final case class Snapshot(
    seq: Long,
    parent: Option[Long],
    timestampMs: Long,
    operation: String,
    schemaVersion: Int,
    dataFiles: Seq[DataFile],
    deleteFiles: Seq[DeleteFile],
    /** Partition-spec version this snapshot writes under: 0 = the
      * CREATE-time spec in table.json, N>=1 = meta/spec-vNNN.json
      * (Iceberg's spec-id — specs evolve without rewriting data; each
      * data file keeps the tuple of the spec it was written with). */
    specVersion: Int = 0,
) {
  def totalBytes: Long = dataFiles.map(_.bytes).sum
}

/** Reference to one immutable manifest file (`meta/man-*.json`) holding a
  * list of data OR delete file entries.
  *
  * `partitions` is the manifest's distinct partition tuples, recorded at
  * write time when there are at most [[ManifestRef.MaxPartitionSummary]]
  * of them (`None` = too many / unknown — never prune). Scan planning uses
  * it to SKIP whole manifests whose partitions cannot match a predicate,
  * so a filtered read of a 10^5-file table parses only the matching
  * slice of metadata (Iceberg keeps the same idea as per-manifest
  * partition field summaries in the manifest list). */
final case class ManifestRef(
    path: String,
    kind: String, // "data" | "delete"
    count: Int,
    bytes: Long,
    partitions: Option[Seq[Map[String, String]]]) {
  def isData: Boolean = kind == "data"
}

object ManifestRef {
  /** Cap on distinct partition tuples recorded per manifest. Commits are
    * typically partition-scoped (a CDC batch lands in the hot partitions),
    * so most manifests stay well under it. */
  val MaxPartitionSummary = 128

  def summarize(files: Seq[DataFile]): Option[Seq[Map[String, String]]] =
    summarizeTuples(files.iterator.map(_.partition))

  /** Delete-kind summaries use the same shape over [[DeleteFile]] tuples.
    * A GLOBAL delete file contributes the empty tuple, which matches every
    * predicate in `mayMatch` — so a manifest holding any global sidecar is
    * summarized but never prunable, keeping the "global sidecars always
    * load" rule without a special case. */
  def summarizeDeletes(dels: Seq[DeleteFile]): Option[Seq[Map[String, String]]] =
    summarizeTuples(dels.iterator.map(_.partition))

  private def summarizeTuples(
      tuples: Iterator[Map[String, String]]): Option[Seq[Map[String, String]]] = {
    val distinct = tuples.distinct.take(MaxPartitionSummary + 1).toSeq
    if (distinct.size > MaxPartitionSummary) None else Some(distinct)
  }
}

/** The decoded content of one snapshot file: header + manifest refs. */
final case class SnapshotFile(
    seq: Long,
    parent: Option[Long],
    timestampMs: Long,
    operation: String,
    schemaVersion: Int,
    manifests: Seq[ManifestRef],
    specVersion: Int = 0)

/** Immutable table definition, written once at CREATE TABLE time. Schema
  * lives NEXT to this (meta/schema-v*.json) and is versioned per snapshot,
  * so ALTER TABLE is a metadata-only commit. */
final case class TableMeta(
    name: String,
    partitionSpec: Seq[PartitionField],
    clusterBy: Seq[String],
    primaryKey: Seq[String],
    /** "linear", "range" or "zorder" ([[ZOrder]]): how every write route
      * arranges rows ([[LakeTable.writeArrangement]]). */
    clusterStrategy: String = "linear",
)

/** Hand-rolled (de)serialization over Jackson (ships with Spark).
  * The layout mirrors Iceberg's public metadata shape at 1/100 the surface:
  * table.json + schema-v{N}.json + snap-{seq}.json + version-hint.text. */
object MetaJson {
  private val M = new ObjectMapper()

  /** The one on-disk layout this build writes and reads, recorded in
    * table.json (Iceberg's `format-version`). Like Iceberg, a reader
    * refuses any other version ([[LakeTable.load]]) instead of carrying
    * decoders for past layouts. Version 2: manifest-based snapshots, and
    * every data file records its row count, split offsets and
    * scaled kind-"d" decimal bounds. */
  val FormatVersion = 2

  def writeTableMeta(t: TableMeta): String = {
    val root = M.createObjectNode()
    root.put("name", t.name)
    root.put("formatVersion", FormatVersion)
    val spec = root.putArray("partitionSpec")
    t.partitionSpec.foreach { pf =>
      val f = spec.addObject()
      f.put("source", pf.source); f.put("transform", pf.transform.name); f.put("name", pf.name)
    }
    putStrings(root, "clusterBy", t.clusterBy)
    putStrings(root, "primaryKey", t.primaryKey)
    if (t.clusterStrategy != "linear") root.put("clusterStrategy", t.clusterStrategy)
    root.toPrettyString
  }

  def readTableMeta(s: String): TableMeta = {
    val root = M.readTree(s)
    TableMeta(
      name = root.get("name").asText(),
      partitionSpec = arr(root, "partitionSpec").map { f =>
        PartitionField(f.get("source").asText(), Transform.parse(f.get("transform").asText()), f.get("name").asText())
      },
      clusterBy = strings(root, "clusterBy"),
      primaryKey = strings(root, "primaryKey"),
      clusterStrategy = Option(root.get("clusterStrategy")).map(_.asText()).getOrElse("linear"),
    )
  }

  /** The format version a table.json records; None when it records none. */
  def readFormatVersion(s: String): Option[Int] =
    Option(M.readTree(s).get("formatVersion")).map(_.asInt())

  /** Snapshot file: header + manifest references. */
  def writeSnapshotFile(s: Snapshot, manifests: Seq[ManifestRef]): String = {
    val root = M.createObjectNode()
    root.put("seq", s.seq)
    s.parent.foreach(p => root.put("parent", p))
    root.put("timestampMs", s.timestampMs)
    root.put("operation", s.operation)
    root.put("schemaVersion", s.schemaVersion)
    if (s.specVersion != 0) root.put("specVersion", s.specVersion)
    val ms = root.putArray("manifests")
    manifests.foreach { m =>
      val f = ms.addObject()
      f.put("path", m.path); f.put("kind", m.kind)
      f.put("count", m.count); f.put("bytes", m.bytes)
      m.partitions.foreach { ps =>
        val pa = f.putArray("partitions")
        ps.foreach { tuple =>
          val o = pa.addObject()
          tuple.foreach { case (k, v) => o.put(k, v) }
        }
      }
    }
    root.toPrettyString
  }

  def readSnapshotFile(s: String): SnapshotFile = {
    val root = M.readTree(s)
    SnapshotFile(
      seq = root.get("seq").asLong(),
      parent = Option(root.get("parent")).map(_.asLong()),
      timestampMs = root.get("timestampMs").asLong(),
      operation = root.get("operation").asText(),
      schemaVersion = root.get("schemaVersion").asInt(),
      manifests = arr(root, "manifests").map { f =>
        ManifestRef(
          path = f.get("path").asText(),
          kind = f.get("kind").asText(),
          count = f.get("count").asInt(),
          bytes = f.get("bytes").asLong(),
          partitions =
            if (f.has("partitions"))
              Some(arr(f, "partitions").map(o =>
                o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap))
            else None,
        )
      },
      specVersion = Option(root.get("specVersion")).map(_.asInt()).getOrElse(0),
    )
  }

  /** Evolved partition spec file (meta/spec-v{N}.json) — same field shape
    * as table.json's partitionSpec array. */
  def writeSpec(spec: Seq[PartitionField]): String = {
    val root = M.createObjectNode()
    val arr = root.putArray("partitionSpec")
    spec.foreach { pf =>
      val f = arr.addObject()
      f.put("source", pf.source); f.put("transform", pf.transform.name); f.put("name", pf.name)
    }
    root.toPrettyString
  }

  def readSpec(s: String): Seq[PartitionField] =
    arr(M.readTree(s), "partitionSpec").map { f =>
      PartitionField(f.get("source").asText(), Transform.parse(f.get("transform").asText()),
        f.get("name").asText())
    }

  /** One manifest: a flat list of data OR delete file entries. */
  def writeManifest(kind: String, data: Seq[DataFile], dels: Seq[DeleteFile]): String = {
    val root = M.createObjectNode()
    root.put("kind", kind)
    if (kind == "data") {
      val dfs = root.putArray("dataFiles")
      data.foreach { df =>
        val f = dfs.addObject()
        f.put("path", df.path); f.put("seq", df.seq); f.put("bytes", df.bytes)
        f.put("rows", df.rows)
        val p = f.putObject("partition")
        df.partition.foreach { case (k, v) => p.put(k, v) }
        if (df.splits.nonEmpty) {
          val sp = f.putArray("splits")
          df.splits.foreach { case (start, len) =>
            val pair = sp.addArray(); pair.add(start); pair.add(len)
          }
        }
        if (df.bounds.nonEmpty) {
          val bo = f.putObject("bounds")
          df.bounds.foreach { case (c, b) =>
            val e = bo.putArray(c); e.add(b.kind); e.add(b.min); e.add(b.max)
          }
        }
        if (df.nonNull.nonEmpty) {
          val nn = f.putObject("nn")
          df.nonNull.foreach { case (c, n) => nn.put(c, n) }
        }
        if (df.sums.nonEmpty) {
          val su = f.putObject("sums")
          df.sums.foreach { case (c, s) => su.put(c, s) }
        }
      }
    } else {
      val ds = root.putArray("deleteFiles")
      dels.foreach { d =>
        val f = ds.addObject()
        f.put("path", d.path); f.put("seq", d.seq); f.put("bytes", d.bytes)
        if (d.partition.nonEmpty) {
          val p = f.putObject("partition")
          d.partition.foreach { case (k, v) => p.put(k, v) }
        }
      }
    }
    root.toPrettyString
  }

  def readManifest(s: String): (String, Seq[DataFile], Seq[DeleteFile]) = {
    val root = M.readTree(s)
    val kind = root.get("kind").asText()
    (kind,
      arr(root, "dataFiles").map(readDataFile),
      arr(root, "deleteFiles").map(readDeleteFile))
  }

  private def readDeleteFile(f: JsonNode): DeleteFile =
    DeleteFile(
      f.get("path").asText(), f.get("seq").asLong(), f.get("bytes").asLong(),
      partition = Option(f.get("partition")).map { p =>
        p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty))

  private def readDataFile(f: JsonNode): DataFile =
    DataFile(
      path = f.get("path").asText(),
      seq = f.get("seq").asLong(),
      partition = Option(f.get("partition")).map { p =>
        p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty),
      bytes = f.get("bytes").asLong(),
      rows = f.get("rows").asLong(),
      splits = arr(f, "splits").map(pair =>
        (pair.get(0).asLong(), pair.get(1).asLong())),
      bounds = Option(f.get("bounds")).map { b =>
        b.properties().asScala.map { e =>
          val a = e.getValue
          e.getKey -> ColBound(a.get(0).asText(), a.get(1).asText(), a.get(2).asText())
        }.toMap
      }.getOrElse(Map.empty),
      nonNull = Option(f.get("nn")).map { n =>
        n.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty),
      sums = Option(f.get("sums")).map { s =>
        s.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty),
    )

  def writeSchema(schema: StructType): String = schema.json
  def readSchema(s: String): StructType = DataType.fromJson(s).asInstanceOf[StructType]

  private def putStrings(root: ObjectNode, field: String, vs: Seq[String]): Unit = {
    val a = root.putArray(field); vs.foreach(a.add)
  }
  private def strings(root: JsonNode, field: String): Seq[String] =
    arr(root, field).map(_.asText())
  private def arr(root: JsonNode, field: String): Seq[JsonNode] =
    Option(root.get(field)).map(_.asInstanceOf[ArrayNode].elements().asScala.toSeq).getOrElse(Nil)
}
