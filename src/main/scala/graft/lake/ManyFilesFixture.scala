package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SCALE-HARNESS fixture builder for [[graft.ScaleBench]]'s files-heavy
  * families: materializes an N-file, N-partition lake table in O(N)
  * hard links plus ONE metadata commit, instead of N real parquet
  * writes (measured: the real writer needs tens of milliseconds per
  * tiny file — dominated by the local filesystem's fork-per-chmod — so
  * a 10⁵-file build through it would cost the better part of an hour
  * per curve point; the METADATA paths under test don't care how the
  * bytes landed).
  *
  * The table is doctored in exactly one, contained way: every data file
  * is a hard link to one physical one-row parquet (pk = 0), while the
  * per-file METADATA — partition tuple, pk bounds, row count, non-null
  * counts — is rewritten per link, so planning, manifest pruning, commit
  * re-recording, and metadata serving all see a fully consistent
  * 10⁵-entry table. Content and metadata agree only for partition
  * p_pk=0 (the template's own file), which is therefore the only file
  * the probes ever READ (the pruned point read targets pk = 0); per-file
  * SUMS are dropped from the links so metadata SUM/AVG serving declines
  * instead of answering from the template's values. Never part of the
  * user API. */
private[graft] object ManyFilesFixture {

  /** Stay safely under ext4's 65000-hard-links-per-inode cap. */
  private val MaxLinksPerInode = 50000L

  /** The `_FIXTURE_DONE` marker records the format version the fixture
    * was built with; a fixture from any other version (or from before the
    * marker recorded one) is rebuilt — [[LakeTable.load]] would refuse it. */
  private def markerFor(location: String) = java.nio.file.Paths.get(location, "_FIXTURE_DONE")
  private val formatTag = s"format=${MetaJson.FormatVersion}"
  private def reusable(marker: java.nio.file.Path): Boolean =
    java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker).split("\\s+").contains(formatTag)

  /** Create (or reopen, via the `_FIXTURE_DONE` marker) an N-file table
    * at `location`: identity-partitioned on `pk` with N distinct
    * partition values, one one-row file each. */
  def build(spark: SparkSession, location: String, name: String, n: Long): LakeTable = {
    val marker = markerFor(location)
    if (reusable(marker)) return LakeTable.load(spark, location)
    // a crashed earlier build (e.g. the filesystem's EMLINK cap mid-link)
    // leaves a markerless table, an older build a stale-format one — the
    // fixture is disposable, rebuild
    val locPath = java.nio.file.Paths.get(location)
    if (java.nio.file.Files.exists(locPath)) graft.TempDirs.deleteRecursively(locPath)
    val df = spark.range(1).select(lit(0L).as("pk"), lit(0L).as("v"))
    val t = LakeTable.create(spark, location, name, df.schema,
      partitionSpec = Seq(PartitionField("pk", Transform.Identity, "p_pk")))
    t.append(df) // seq 1: the REAL template write (real footer stats)
    val snap = t.currentSnapshot
    val tmpl = snap.dataFiles.head
    require(tmpl.partition("p_pk") == "0" && tmpl.rows == 1L,
      s"unexpected template entry: $tmpl")
    val srcFile = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      t.abs(tmpl.path)).toUri.getPath)
    val rootPath = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      location).toUri.getPath)
    val fileName = srcFile.getFileName.toString
    // filesystems cap hard links per inode (ext4: 65000) — refresh the
    // link source with a real COPY every MaxLinksPerInode targets
    var linkSrc = srcFile
    val entries = (0L until n).map { i =>
      if (i == 0L) tmpl
      else {
        val rel = s"data/p_pk=$i/$fileName"
        val target = rootPath.resolve(rel)
        java.nio.file.Files.createDirectories(target.getParent)
        if (i % MaxLinksPerInode == 0L) {
          java.nio.file.Files.copy(srcFile, target)
          linkSrc = target
        } else java.nio.file.Files.createLink(target, linkSrc)
        tmpl.copy(path = rel,
          partition = Map("p_pk" -> i.toString),
          bounds = tmpl.bounds + ("pk" -> ColBound("n", i.toString, i.toString)),
          sums = Map.empty)
      }
    }
    t.commitSnapshot(Snapshot(
      seq = snap.seq + 1, parent = Some(snap.seq),
      timestampMs = System.currentTimeMillis(),
      operation = "append-fixture", schemaVersion = snap.schemaVersion,
      dataFiles = entries, deleteFiles = Nil, specVersion = snap.specVersion))
    java.nio.file.Files.writeString(marker, s"n=$n $formatTag\n")
    t
  }

  /** The skewed-CDC-burst layout for the compaction probe: `partitions`
    * identity-partition values holding `filesPerPartition` files EACH.
    * Here content and metadata are FULLY consistent (each link lives in
    * the partition its row belongs to; a partition just holds many
    * copies of its template row), so compaction — which READS every
    * file and rewrites each dirty partition — operates on a legitimate
    * table. One real one-file-per-partition append supplies the
    * templates; links multiply them; one metadata commit records all. */
  def buildBursty(spark: SparkSession, location: String, name: String,
      partitions: Int, filesPerPartition: Int): LakeTable = {
    require(filesPerPartition <= MaxLinksPerInode,
      s"filesPerPartition $filesPerPartition exceeds the per-inode link cap")
    val marker = markerFor(location)
    if (reusable(marker)) return LakeTable.load(spark, location)
    val locPath = java.nio.file.Paths.get(location)
    if (java.nio.file.Files.exists(locPath)) graft.TempDirs.deleteRecursively(locPath)
    val df = spark.range(partitions.toLong)
      .select(col("id").as("pk"), col("id").as("part"))
    val t = LakeTable.create(spark, location, name, df.schema,
      partitionSpec = Seq(PartitionField("part", Transform.Identity, "p_part")))
    t.append(df) // seq 1: one real file per partition value
    val snap = t.currentSnapshot
    require(snap.dataFiles.size == partitions,
      s"expected one template per partition, got ${snap.dataFiles.size}")
    val rootPath = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      location).toUri.getPath)
    val entries = snap.dataFiles.flatMap { tmpl =>
      val src = rootPath.resolve(tmpl.path)
      val dir = src.getParent
      val base = src.getFileName.toString
      tmpl +: (1 until filesPerPartition).map { j =>
        val target = dir.resolve(s"link$j-$base")
        java.nio.file.Files.createLink(target, src)
        tmpl.copy(path = s"${tmpl.path.stripSuffix(base)}link$j-$base")
      }
    }
    t.commitSnapshot(Snapshot(
      seq = snap.seq + 1, parent = Some(snap.seq),
      timestampMs = System.currentTimeMillis(),
      operation = "append-fixture", schemaVersion = snap.schemaVersion,
      dataFiles = entries, deleteFiles = Nil, specVersion = snap.specVersion))
    java.nio.file.Files.writeString(marker, s"p=$partitions f=$filesPerPartition $formatTag\n")
    t
  }
}
