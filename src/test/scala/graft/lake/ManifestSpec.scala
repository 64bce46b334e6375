package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path

import java.nio.file.Files

/** Manifest-based snapshot persistence: commits must write O(delta)
  * metadata, reuse their parent's manifests by reference, prune whole
  * manifests on filtered reads, and stay readable after expiry drops
  * shared history. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def refsOf(t: LakeTable, seq: Long): Seq[ManifestRef] =
    t.snapshotFile(seq).manifests

  test("append reuses every parent manifest and writes exactly one new one") {
    val dir = Files.createTempDirectory("graft-man-append").toString
    val df = (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    t.append(df)
    t.append(df)
    val r1 = refsOf(t, 1); val r2 = refsOf(t, 2); val r3 = refsOf(t, 3)
    assert(r1.size == 1 && r2.size == 2 && r3.size == 3)
    // structural sharing: each commit carries its ancestors' manifests verbatim
    assert(r2.map(_.path).toSet.subsetOf(r3.map(_.path).toSet))
    assert(r1.map(_.path).toSet.subsetOf(r2.map(_.path).toSet))
    assert((r3.map(_.path).toSet -- r2.map(_.path).toSet).size == 1)
    // the reassembled listing is complete
    assert(t.currentSnapshot.dataFiles.size == r3.map(_.count).sum)
    assert(t.scan().count() == 30)
  }

  test("upsert adds one data and one delete manifest, reusing the rest") {
    val dir = Files.createTempDirectory("graft-man-upsert").toString
    val df = (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    t.upsert(Seq((1L, 99.0)).toDF("id", "v"))
    val r1 = refsOf(t, 1); val r2 = refsOf(t, 2)
    assert(r2.count(_.isData) == 2 && r2.count(!_.isData) == 1)
    assert(r1.map(_.path).toSet.subsetOf(r2.map(_.path).toSet))
    assert(t.scan().as[(Long, Double)].collect().toMap.apply(1L) == 99.0)
  }

  test("partition-scoped compaction keeps clean partitions' manifests by reference") {
    val dir = Files.createTempDirectory("graft-man-compact").toString
    val a = (1L to 50L).map(i => (i, "A", i * 1.0)).toDF("id", "s", "v")
    val b = (51L to 100L).map(i => (i, "B", i * 1.0)).toDF("id", "s", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", a.schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
      primaryKey = Seq("id"))
    t.append(b) // commit 1: clean partition B, its own manifest
    t.append(a) // commit 2: partition A
    t.upsert(Seq((1L, "A", 2.0)).toDF("id", "s", "v")) // commit 3: dirties A only
    val bManifest = refsOf(t, 1).head
    t.compactDirty(targetFilesPerPartition = 2)
    val after = refsOf(t, t.currentSeq)
    assert(after.map(_.path).contains(bManifest.path),
      "compaction rewrote the clean partition's manifest")
    assert(after.forall(_.isData), "compaction left delete manifests behind")
    assert(t.scan().count() == 100)
  }

  test("filtered scans skip non-matching manifests without parsing them") {
    val dir = Files.createTempDirectory("graft-man-prune").toString
    val a = (1L to 50L).map(i => (i, "A", i * 1.0)).toDF("id", "s", "v")
    val b = (51L to 100L).map(i => (i, "B", i * 1.0)).toDF("id", "s", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", a.schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")))
    t.append(a) // manifest 1: only partition A
    t.append(b) // manifest 2: only partition B
    val seq = t.currentSeq

    // partition summaries are recorded per manifest
    val dataRefs = refsOf(t, seq).filter(_.isData)
    assert(dataRefs.size == 2)
    assert(dataRefs.forall(_.partitions.isDefined))

    LakeTable.manifestCache.clear()
    val before = LakeTable.manifestCache.misses
    val pruned = t.snapshotPruned(seq, Seq(PruneFilter.Eq("s", "A")))
    val loads = LakeTable.manifestCache.misses - before
    assert(loads == 1, s"pruned read parsed $loads manifests, expected 1")
    assert(pruned.dataFiles.nonEmpty && pruned.dataFiles.forall(_.partition("p_s") == "A"))

    // and the full scan result through the pruned path is correct
    assert(t.scan(filters = Seq(PruneFilter.Eq("s", "A"))).count() == 50)
    assert(t.scan().count() == 100)
  }

  test("pruned MoR scans skip non-matching DELETE manifests without parsing them") {
    val dir = Files.createTempDirectory("graft-man-delprune").toString
    import org.apache.spark.sql.functions.col
    // partition source IS the pk: sidecars are partition-scoped, so their
    // manifests carry summaries
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("k", Transform.Identity, "p_k")),
      primaryKey = Seq("k"))
    t.append(df)
    t.upsert(Seq((1L, "A")).toDF("k", "s"))             // delete manifest p_k=1
    t.upsert(Seq((3L, "C"), (4L, "D")).toDF("k", "s"))  // delete manifest p_k∈{3,4}
    val seq = t.currentSeq
    val refs = refsOf(t, seq)
    val delRefs = refs.filterNot(_.isData)
    assert(delRefs.size == 2 && delRefs.forall(_.partitions.isDefined),
      s"delete manifests lack partition summaries: $delRefs")
    assert(delRefs.map(_.partitions.get).forall(_.forall(_.nonEmpty)),
      "scoped sidecars must record non-empty tuples")

    // a scan pruned to k=1 must parse ONLY p_k=1's delete manifest (and
    // only the matching data manifests)
    val filters = Seq(PruneFilter.Eq("k", 1L))
    val spec = t.meta.partitionSpec
    val expectedKept = refs.count(m => t.manifestMayMatch(spec, m.partitions, filters))
    val expectedDel = delRefs.count(m => t.manifestMayMatch(spec, m.partitions, filters))
    assert(expectedDel == 1, s"fixture degenerate: $expectedDel delete manifests match")
    val full = t.snapshot(seq)
    LakeTable.manifestCache.clear()
    val before = LakeTable.manifestCache.misses
    val pruned = t.snapshotPruned(seq, filters)
    val loads = LakeTable.manifestCache.misses - before
    assert(loads == expectedKept,
      s"pruned MoR read parsed $loads manifests, expected $expectedKept of ${refs.size}")
    assert(pruned.deleteFiles.size < full.deleteFiles.size,
      "pruning did not reduce the loaded delete-file set")

    // correctness through the pruned path, both partitions
    assert(t.scan(filters = Seq(PruneFilter.Eq("k", 1L)))
      .select(col("s")).as[String].collect().toSeq == Seq("A"))
    assert(t.scan(filters = Seq(PruneFilter.Eq("k", 3L)))
      .select(col("s")).as[String].collect().toSeq == Seq("C"))
    assert(t.scan().count() == 4)

    // a GLOBAL sidecar (partition source not in the pk) poisons pruning
    // for its manifest only — the summary contains the empty tuple
    val df2 = Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "cat", "v")
    val t2 = LakeTable.create(spark, s"$dir/t2", "t2", df2.schema,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity, "p_cat")),
      primaryKey = Seq("id"))
    t2.append(df2)
    t2.upsert(Seq((1L, "z", 11.0)).toDF("id", "cat", "v"))
    val g = t2.snapshotPruned(t2.currentSeq, Seq(PruneFilter.Eq("cat", "y")))
    assert(g.deleteFiles.nonEmpty,
      "global delete manifests must survive pruning (empty tuple matches everything)")
    assert(t2.scan(filters = Seq(PruneFilter.Eq("cat", "y"))).count() == 1)
  }

  test("expiry deletes manifests only when no retained snapshot references them") {
    val dir = Files.createTempDirectory("graft-man-expire").toString
    val df = (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)           // manifest M1
    t.append(df)           // M1 + M2
    t.overwrite(df)        // M3 only — M1/M2 now referenced only by history
    val m12 = refsOf(t, 2).map(_.path).toSet
    val m3 = refsOf(t, 3).map(_.path).toSet
    assert((m12 & m3).isEmpty)
    Maintenance.expireSnapshots(t, keep = 1, maxAgeMs = Some(-1000L))
    val root = new Path(t.location)
    assert(m12.forall(p => !t.fs.exists(new Path(root, p))),
      "expired-only manifests were not deleted")
    assert(m3.forall(p => t.fs.exists(new Path(root, p))),
      "a retained snapshot's manifest was deleted")
    assert(t.scan().count() == 10)
  }

  test("manifest JSON round-trips per-file non-null counts and sums") {
    // the process-wide manifest cache serves just-committed manifests
    // without re-parsing, so the e2e specs never prove the JSON path —
    // this does, for every DataFile field including the r7 stats
    val df = DataFile(
      path = "data/p=1/f.parquet", seq = 3L, partition = Map("p" -> "1"),
      bytes = 1234L, splits = Seq((4L, 100L), (104L, 96L)),
      bounds = Map("id" -> ColBound("n", "1", "10"), "s" -> ColBound("s", "a", "z")),
      rows = 10L,
      nonNull = Map("id" -> 10L, "v" -> 7L, "s" -> 0L),
      sums = Map("id" -> "55", "v" -> "12.50"))
    val bare = DataFile("data/g.parquet", 4L, Map.empty, 5L, rows = 2L)
    val json = MetaJson.writeManifest("data", Seq(df, bare), Nil)
    val (kind, data, dels) = MetaJson.readManifest(json)
    assert(kind == "data" && dels.isEmpty)
    assert(data == Seq(df, bare))
  }

  test("tables of another format version are refused by name") {
    val dir = Files.createTempDirectory("graft-man-format").toString
    val df = (1L to 4L).map(i => (i, s"v$i")).toDF("id", "s")
    val prevCatalog = spark.conf.getOption("spark.sql.catalog.graft")
    val prevWarehouse = spark.conf.getOption("spark.graft.catalog.warehouse")
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", dir)
    try {
      // control: a table this build writes reopens through its whole
      // lifecycle, from the manifest JSON (cache cleared), by both routes
      val cur = LakeTable.create(spark, s"$dir/t_cur", "t_cur", df.schema,
        primaryKey = Seq("id"))
      cur.append(df)                                           // seq 1
      cur.upsert(Seq((2L, "w2"), (5L, "w5")).toDF("id", "s"))  // seq 2
      cur.compactDirty()                                       // seq 3
      LakeTable.manifestCache.clear()
      val back = LakeTable.load(spark, cur.location)
      assert(back.currentSnapshot.dataFiles.forall(f => f.rows > 0 && f.splits.nonEmpty))
      def rows(asOf: Option[Long]) = back.scan(asOf = asOf).as[(Long, String)].collect().toMap
      assert(rows(None) == Map(1L -> "v1", 2L -> "w2", 3L -> "v3", 4L -> "v4", 5L -> "w5"))
      assert(rows(Some(1L)) == Map(1L -> "v1", 2L -> "v2", 3L -> "v3", 4L -> "v4"))
      assert(spark.sql("SELECT * FROM graft.t_cur VERSION AS OF 1").count() == 4)

      // an older recorded version, and a table.json that records none
      Seq("t_v1" -> Some(1), "t_unversioned" -> None).foreach { case (name, version) =>
        val t = LakeTable.create(spark, s"$dir/$name", name, df.schema)
        t.append(df)
        val tableJson = new Path(new Path(t.location), "meta/table.json")
        val in = t.fs.open(tableJson)
        val root = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          finally in.close()
        version match {
          case Some(v) => root.put("formatVersion", v)
          case None => root.remove("formatVersion")
        }
        val out = t.fs.create(tableJson, true)
        out.write(root.toPrettyString.getBytes("UTF-8")); out.close()

        val found = version.map(_.toString).getOrElse("none")
        def namesVersions(msg: String): Boolean =
          msg.contains(s"format version $found") &&
            msg.contains(s"reads only format version ${MetaJson.FormatVersion}") &&
            msg.contains("re-create the table")
        val e = intercept[IllegalStateException](LakeTable.load(spark, t.location))
        assert(namesVersions(e.getMessage) && e.getMessage.contains(t.location), e.getMessage)
        val se = intercept[Exception](spark.sql(s"SELECT * FROM graft.$name").collect())
        val chain = Iterator.iterate[Throwable](se)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(c => c.getMessage != null && namesVersions(c.getMessage)),
          s"SQL read did not surface the refusal: $se")
      }
    } finally {
      prevCatalog match {
        case Some(v) => spark.conf.set("spark.sql.catalog.graft", v)
        case None => spark.conf.unset("spark.sql.catalog.graft")
      }
      prevWarehouse match {
        case Some(v) => spark.conf.set("spark.graft.catalog.warehouse", v)
        case None => spark.conf.unset("spark.graft.catalog.warehouse")
      }
    }
  }
}
