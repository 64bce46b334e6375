package graft.lake

import graft.{SparkSpec, Tables}
import graft.operators.LakePipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

class LakeSpec extends SparkSpec {

  private def contentEqual(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  // ---------------------------------------------------------------- units

  test("month/day/year transforms render UTC partition keys") {
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("1997-03-09T23:59:59Z"))
    assert(Transform.Month.valueOf(ts).contains("1997-03"))
    assert(Transform.Day.valueOf(ts).contains("1997-03-09"))
    assert(Transform.Year.valueOf(ts).contains("1997"))
    assert(Transform.Identity.valueOf("O").contains("O"))
    assert(Transform.parse("month") == Transform.Month)
    assert(Transform.parse("bucket[16]") == Transform.Bucket(16))
  }

  test("pruning is conservative: range filters keep boundary months, equality prunes exactly") {
    val spec = Seq(PartitionField("d", Transform.Month, "p_month"))
    val jan = Map("p_month" -> "2000-01")
    val jun = Map("p_month" -> "2000-06")
    val mid = java.sql.Timestamp.from(java.time.Instant.parse("2000-06-15T00:00:00Z"))
    // d >= 2000-06-15 keeps June (boundary) but not January
    assert(PruneFilter.mayMatch(spec, jun, PruneFilter.Ge("d", mid)))
    assert(!PruneFilter.mayMatch(spec, jan, PruneFilter.Ge("d", mid)))
    // d < 2000-06-15 keeps June AND January
    assert(PruneFilter.mayMatch(spec, jun, PruneFilter.Lt("d", mid)))
    assert(PruneFilter.mayMatch(spec, jan, PruneFilter.Lt("d", mid)))
    // equality on a non-partition column never prunes
    assert(PruneFilter.mayMatch(spec, jan, PruneFilter.Eq("other", 1)))
    // identity equality prunes other values
    val ispec = Seq(PartitionField("s", Transform.Identity, "p_s"))
    assert(!PruneFilter.mayMatch(ispec, Map("p_s" -> "O"), PruneFilter.Eq("s", "F")))
    assert(PruneFilter.mayMatch(ispec, Map("p_s" -> "O"), PruneFilter.Eq("s", "O")))
    // identity over numbers must NOT range-prune (lexicographic trap)
    val nspec = Seq(PartitionField("n", Transform.Identity, "p_n"))
    assert(PruneFilter.mayMatch(nspec, Map("p_n" -> "10"), PruneFilter.Ge("n", 2)))
  }

  // ---------------------------------------------------- end-to-end fixture

  test("pruned scan reads fewer files than the full table, same answer as raw filter") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    val filters = Seq(
      PruneFilter.Ge("o_orderdate", LakePipelines.PruneLo),
      PruneFilter.Lt("o_orderdate", LakePipelines.PruneHi))
    val (kept, total) = t.planFiles(t.currentSnapshot, filters)
    assert(total > 0)
    assert(kept.size < total, s"pruning ineffective: $kept of $total")
    // ~6 months of ~80: expect well under a quarter of the files
    assert(kept.size.toDouble / total < 0.25, s"${kept.size}/$total files survived")
    val viaLake = t.scan(filters = filters)
    val viaRaw = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit(LakePipelines.PruneLo) &&
        col("o_orderdate") < lit(LakePipelines.PruneHi))
    assert(contentEqual(viaLake, viaRaw))
  }

  test("time travel: snapshot 1 is exactly the first append") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    val asOf1 = t.scan(asOf = Some(LakePipelines.OrdersFirstAppendSeq))
    val expected = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderdate") < lit(LakePipelines.TtPivot))
    assert(contentEqual(asOf1, expected))
    assert(t.scan().count() == Tables.load(spark, sfDir, "orders").count())
  }

  test("type promotion: int->long and float->double reconcile files from both eras") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-promote-spec").toString
    val v1 = Seq((1L, 10, 1.5f), (2L, 20, 2.5f)).toDF("id", "qty", "ratio")
    val t = LakeTable.create(spark, s"$dir/t", "t", v1.schema, primaryKey = Seq("id"))
    t.append(v1)
    t.promoteColumn("qty", "bigint")
    t.promoteColumn("ratio", "double")
    // post-promotion append holds values only the wide types represent
    t.append(Seq((3L, 5000000000L, 3.25)).toDF("id", "qty", "ratio"))
    val got = t.scan().as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 10L, 1.5), (2L, 20L, 2.5), (3L, 5000000000L, 3.25)))
    assert(t.currentSchema("qty").dataType == org.apache.spark.sql.types.LongType)
    assert(t.currentSchema("ratio").dataType == org.apache.spark.sql.types.DoubleType)
    // a narrow batch arriving AFTER the promotion up-casts at write
    t.append(Seq((4, 40, 4.5f)).toDF("id", "qty", "ratio")
      .selectExpr("cast(id as long) id", "cast(qty as int) qty", "ratio"))
    assert(t.scan().filter(col("id") === 4L).as[(Long, Long, Double)].head() == ((4L, 40L, 4.5)))
    // upserts against pre-promotion rows still match keys across encodings
    t.upsert(Seq((1L, 11L, 1.75)).toDF("id", "qty", "ratio"))
    assert(t.scan().filter(col("id") === 1L).as[(Long, Long, Double)].head() == ((1L, 11L, 1.75)))
    // narrowing and type changes are rejected loudly; re-promotion is a no-op
    assertThrows[IllegalArgumentException](t.promoteColumn("qty", "int"))
    assertThrows[IllegalArgumentException](t.promoteColumn("ratio", "string"))
    val seqBefore = t.currentSeq
    t.promoteColumn("qty", "bigint")
    assert(t.currentSeq == seqBefore, "idempotent re-promotion must not commit")
    // a batch WIDER than the table is a conflict, not a silent truncation
    assertThrows[IllegalArgumentException](
      t.append(Seq((9L, 1L, "x")).toDF("id", "qty", "ratio")))
    // a bucket-partition source refuses promotion: Spark's hash is
    // type-dependent, old and new files would bucket the same key apart
    val tb = LakeTable.create(spark, s"$dir/tb", "tb",
      Seq((1, "a")).toDF("k", "s").schema,
      partitionSpec = Seq(PartitionField("k", Transform.Bucket(8), "p_bucket")))
    tb.append(Seq((1, "a"), (2, "b")).toDF("k", "s"))
    val err = intercept[IllegalArgumentException](tb.promoteColumn("k", "bigint"))
    assert(err.getMessage.contains("co-location"), err.getMessage)
  }

  test("many-file appends record footer stats per file, bounds intact") {
    val dir = Files.createTempDirectory("graft-dststats-spec").toString
    // an unpartitioned linear table requires no distribution: each of the
    // input's 8 partitions is one write task and one file
    val df = spark.range(0, 800, 1, 8).select(col("id"), (col("id") % 100).as("v"))
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, clusterBy = Seq("id"))
    t.append(df)
    val snap = t.currentSnapshot
    assert(snap.dataFiles.size >= 4, s"expected a fanned-out write, got ${snap.dataFiles.size}")
    assert(snap.dataFiles.forall(f =>
      f.rows >= 0 && f.splits.nonEmpty && f.bounds.contains("id")),
      "every fanned-out file must record rows, splits and bounds")
    assert(snap.dataFiles.map(_.rows).sum == 800)
    assert(t.scan().agg(sum("id")).head.getLong(0) == (0L until 800L).sum)
  }

  test("schema evolution: pre-ALTER rows null-fill the evolved column") {
    val t = LakePipelines.customerEvolved(spark, sfDir)
    val df = t.scan()
    assert(df.schema.fieldNames.contains("loyalty_tier"))
    val oldRows = df.filter(col("c_custkey") % 2 === 1)
    assert(oldRows.filter(col("loyalty_tier").isNotNull).count() == 0)
    val newRows = df.filter(col("c_custkey") % 2 === 0)
    assert(newRows.filter(col("loyalty_tier").isNull).count() == 0)
    // time travel to v1 serves the ORIGINAL 3-column schema
    val v1 = t.scan(asOf = Some(1L))
    assert(!v1.schema.fieldNames.contains("loyalty_tier"))
  }

  test("merge-on-read scan plan: broadcast anti-join, no cartesian product, no table rewrite") {
    val t = LakePipelines.ordersMor(spark, sfDir)
    val plan = t.scan(asOf = Some(LakePipelines.MorDeleteSeq)).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in MoR read:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"MoR anti-join not broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), s"nested-loop join in MoR read:\n$plan")
    // upsert must not have rewritten base files: base files (seq 1) survive in
    // the post-upsert snapshot untouched
    val afterUpsert = t.snapshot(LakePipelines.MorUpsertSeq)
    assert(afterUpsert.dataFiles.exists(_.seq == 1L), "upsert rewrote the base table")
    assert(afterUpsert.deleteFiles.nonEmpty, "upsert should add a delete-key file, not rewrite")
  }

  test("compaction folds delete files and bin-packs, preserving content") {
    val t = LakePipelines.ordersMor(spark, sfDir)
    val before = t.snapshot(LakePipelines.MorDeleteSeq)
    val after = t.currentSnapshot
    assert(after.operation == "compact")
    assert(after.deleteFiles.isEmpty)
    assert(after.dataFiles.size <= before.dataFiles.size)
    assert(contentEqual(t.scan(), t.scan(asOf = Some(LakePipelines.MorDeleteSeq))))
  }

  test("CDC batch: last-writer-wins, deletes tombstone, replay is idempotent") {
    val dir = Files.createTempDirectory("graft-cdc-spec").toString
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", base.schema, primaryKey = Seq("id"))
    t.append(base)
    // batch: id=2 updated twice (second wins), id=3 deleted, id=4 inserted
    val batch = Seq(
      (2L, "b1", 21.0, "update", 100L),
      (2L, "b2", 22.0, "update", 200L),
      (3L, "c", 30.0, "delete", 150L),
      (4L, "d", 40.0, "insert", 120L))
      .toDF("id", "name", "v", "_op", "_sync_ts")
    t.applyCdcBatch(batch, "_op", "_sync_ts")
    val expected = Seq((1L, "a", 10.0), (2L, "b2", 22.0), (4L, "d", 40.0)).toDF("id", "name", "v")
    assert(contentEqual(t.scan(), expected))
    // at-least-once replay (C5): same batch again → same state
    t.applyCdcBatch(batch, "_op", "_sync_ts")
    assert(contentEqual(t.scan(), expected))
  }

  test("partition-scoped compaction: clean partitions keep their exact files") {
    val dir = Files.createTempDirectory("graft-pcompact-spec").toString
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, if (i <= 50) "A" else "B", i * 1.0)).toDF("id", "s", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
      primaryKey = Seq("id"))
    t.append(df)
    // dirty ONLY partition A: upsert restates ids 1-10 (still s=A)
    t.upsert((1L to 10L).map(i => (i, "A", i * 2.0)).toDF("id", "s", "v"))
    val before = t.currentSnapshot
    val bFilesBefore = before.dataFiles.filter(_.partition("p_s") == "B").map(_.path).toSet
    assert(before.deleteFiles.nonEmpty)
    Maintenance.compact(t, targetFilesPerPartition = 2) // A has 2 files but tombstones force it
    val after = t.currentSnapshot
    assert(after.operation == "compact" && after.deleteFiles.isEmpty)
    val bFilesAfter = after.dataFiles.filter(_.partition("p_s") == "B").map(_.path).toSet
    assert(bFilesAfter == bFilesBefore, "clean partition B was rewritten")
    // A was rewritten: no pre-compaction A file survives
    val aSeqs = after.dataFiles.filter(_.partition("p_s") == "A").map(_.seq).toSet
    assert(aSeqs == Set(after.seq), s"dirty partition A kept stale files: $aSeqs")
    // content correct: ids 1-10 doubled, everything else intact
    val got = t.scan().as[(Long, String, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(t.scan().count() == 100)
    assert((1L to 10L).forall(i => got(i) == i * 2.0) && got(60L) == 60.0)
    // a pure bin-pack pass with target=1 also leaves single-file B alone
    t.append((101L to 110L).map(i => (i, "A", i * 1.0)).toDF("id", "s", "v"))
    val b2 = t.currentSnapshot.dataFiles.filter(_.partition("p_s") == "B").map(_.path).toSet
    Maintenance.compact(t)
    assert(t.currentSnapshot.dataFiles.filter(_.partition("p_s") == "B").map(_.path).toSet == b2)
    assert(t.scan().count() == 110)
  }

  test("large delete batches fan out to multiple delete files and read back correctly") {
    val dir = Files.createTempDirectory("graft-delsplit-spec").toString
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    // a small advisory partition size keeps AQE from folding the batch's
    // key clusters into one task
    withConfs(SmallWriteTasks)(t.deleteKeys((1L to 500L).map(Tuple1(_)).toDF("id")))
    assert(t.currentSnapshot.deleteFiles.size > 1,
      s"delete batch did not split: ${t.currentSnapshot.deleteFiles.size} file(s)")
    assert(t.scan().count() == 500)
    assert(t.scan().agg(org.apache.spark.sql.functions.min(col("id"))).head.getLong(0) == 501L)
    // DSv2 read merges the union of split delete files identically
    val v2 = spark.read.format("graftlake").option("path", t.location).load()
    assert(v2.count() == 500)
  }

  test("snapshot expiry keeps recent history readable and drops dead files") {
    val dir = Files.createTempDirectory("graft-expire-spec").toString
    import spark.implicits._
    val t = LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, "x")).toDF("id", "s").schema, primaryKey = Seq("id"))
    t.append(Seq((1L, "x")).toDF("id", "s"))
    t.upsert(Seq((1L, "y")).toDF("id", "s"))
    Maintenance.compact(t)
    val allSnaps = t.snapshots.size
    // age-gated: everything is seconds old, a 1h max-age expires nothing
    Maintenance.expireSnapshots(t, keep = 1, maxAgeMs = Some(3600 * 1000L))
    assert(t.snapshots.size == allSnaps, "age gate ignored: young snapshots expired")
    // age 0 = everything beyond keep is old enough
    Maintenance.expireSnapshots(t, keep = 1, maxAgeMs = Some(-1000L))
    assert(t.snapshots.size == 1 && allSnaps > 1)
    assert(t.scan().as[(Long, String)].collect().toSeq == Seq((1L, "y")))
  }

  test("schema lineage survives snapshot expiry: dropped names stay dead, evolution still works") {
    val dir = Files.createTempDirectory("graft-expire-lineage-spec").toString
    import spark.implicits._
    val t = LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, "x", 5)).toDF("id", "s", "gone").schema, primaryKey = Seq("id"))
    t.append(Seq((1L, "x", 5)).toDF("id", "s", "gone")) // data file holds "gone" physically
    t.dropColumn("gone")                                // metadata-only: file stays referenced
    t.upsert(Seq((1L, "y")).toDF("id", "s"))
    t.upsert(Seq((2L, "z")).toDF("id", "s"))
    // expire EVERY snapshot that references the pre-drop schema version
    Maintenance.expireSnapshots(t, keep = 1, maxAgeMs = Some(-1000L))
    assert(t.snapshots.size == 1)
    // schema versions start at 1 (create); v1 is the pre-drop schema that held "gone"
    assert(t.retiredSchemaVersions.contains(1), "expiry must record the retired lineage")
    // r16 bug: addColumn threw FileNotFoundException on ANY table with
    // expired snapshots (the guard iterated seq 0..head over deleted files)
    t.addColumn("fresh", "int")
    // and the dropped name must STILL refuse — the surviving data file
    // holds stale physical values under it even though every snapshot
    // that referenced its schema version has expired
    val e = intercept[IllegalArgumentException](t.addColumn("gone", "int"))
    assert(e.getMessage.contains("dropped"), e.getMessage)
    assert(t.scan().select("id", "s").as[(Long, String)].collect().toSet ==
      Set((1L, "y"), (2L, "z")))
    // a changelog range reaching below the retained history refuses with
    // the re-baseline recipe, not a raw missing-file error
    val ce = intercept[IllegalArgumentException](t.changes(0L, t.currentSeq))
    assert(ce.getMessage.contains("retained"), ce.getMessage)
    // a SECOND evolution + expiry appends its own retired-record file;
    // the guard unions them all — both dropped names stay dead forever
    t.dropColumn("fresh")
    t.upsert(Seq((3L, "w")).toDF("id", "s"))
    Maintenance.expireSnapshots(t, keep = 1, maxAgeMs = Some(-1000L))
    assert(intercept[IllegalArgumentException](t.addColumn("fresh", "int"))
      .getMessage.contains("dropped"))
    assert(intercept[IllegalArgumentException](t.addColumn("gone", "int"))
      .getMessage.contains("dropped"))
    t.addColumn("fresh2", "int") // evolution itself still works
  }

  test("changelog at the expiry boundary: append-only ranges replay, pk base joins refuse") {
    // the replay reads snapshot HEADERS (from+1 .. to) on every path but
    // the `from` BASE snapshot only on the pk-join path — a checkpoint
    // parked exactly at the expiry boundary (from = earliest-1) must stay
    // replayable for append-only ranges (review finding r17: a uniform
    // from >= earliest guard killed that previously-working stream)
    val dir = Files.createTempDirectory("graft-expire-boundary-spec").toString
    import spark.implicits._
    val t = LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, "x")).toDF("id", "s").schema, primaryKey = Seq("id"))
    t.append(Seq((1L, "a")).toDF("id", "s"))           // seq 1
    t.append(Seq((2L, "b")).toDF("id", "s"))           // seq 2
    t.append(Seq((3L, "c")).toDF("id", "s"))           // seq 3
    Maintenance.expireSnapshots(t, keep = 2, maxAgeMs = Some(-1000L)) // earliest = 2
    // from = earliest-1: append-only fast path reads headers 2..3 only
    assert(t.changes(1L, 3L).select("id").as[Long].collect().toSet == Set(2L, 3L))
    // from below the boundary refuses with the recipe
    assert(intercept[IllegalArgumentException](t.changes(0L, 3L))
      .getMessage.contains("retained"))
    // a non-append commit in range forces the pk base join, which DOES
    // read snapshot(from) — expired base refuses, retained base works
    t.upsert(Seq((2L, "B")).toDF("id", "s"))           // seq 4
    assert(intercept[IllegalArgumentException](t.changes(1L, 4L))
      .getMessage.contains("retained"))
    assert(t.changes(2L, 4L).filter(col("_change_type") === "update")
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("changes() racing a concurrent expiry between existence probe and header read keeps the re-baseline contract") {
    // the guard is check-then-read: the O(1) probes look at snap(from+1)
    // and snap(to), but the replay then reads EVERY header in the range —
    // a concurrent expireSnapshots landing between probe and read used to
    // surface as a raw FileNotFoundException (ADVICE r17). Simulate the
    // torn window by deleting an interior header the probes never touch.
    val dir = Files.createTempDirectory("graft-changes-race-spec").toString
    import spark.implicits._
    val t = LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, "x")).toDF("id", "s").schema, primaryKey = Seq("id"))
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "s")))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/t/meta/snap-00003.json"))
    // probes pass (snap-2 and snap-4 exist); the header read of seq 3
    // must re-route through the documented IllegalArgumentException, not
    // leak java.io.FileNotFoundException to a streaming micro-batch
    val e = intercept[IllegalArgumentException](t.changes(1L, 4L))
    assert(e.getMessage.contains("snapshot 3"), e.getMessage)
  }

  test("hard-link capability probe: detects a capable mount, caches, and leaves no probe litter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-linkprobe-spec")
    LakeTable.resetLinkProbeCache()
    assert(LakeTable.dirSupportsHardLinks(dir),
      "local tmpfs/ext4 must probe as link-capable — the torn-read fallback " +
        "would otherwise silently mask transient errors on this host")
    assert(LakeTable.dirSupportsHardLinks(dir)) // cached second call
    val litter = java.nio.file.Files.list(dir).toArray
    assert(litter.isEmpty, s"probe left files behind: ${litter.mkString(",")}")
  }

  test("age-gated expiry under a backwards clock step expires a contiguous prefix, never an interior snapshot") {
    // doctored fixture (BoundsSpec idiom): make snapshot 2 "younger" than
    // snapshot 3 — the backwards-host-clock shape. A per-snapshot age
    // FILTER would expire {0,1,3} and leave a hole at 3 that every
    // gap-free-history consumer trips over; the takeWhile stops at the
    // first young-enough snapshot and keeps the suffix contiguous.
    val dir = Files.createTempDirectory("graft-expire-clock-spec").toString
    import spark.implicits._
    val t = LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, "x")).toDF("id", "s").schema, primaryKey = Seq("id"))
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "s")))
    val young = System.currentTimeMillis() + 3600 * 1000L
    val snapPath = java.nio.file.Paths.get(s"$dir/t/meta/snap-00002.json")
    val original = new String(java.nio.file.Files.readAllBytes(snapPath), "UTF-8")
    val doctored = original
      .replaceAll("\"timestampMs\"\\s*:\\s*\\d+", s""""timestampMs" : $young""")
    assert(doctored != original, "doctoring missed — snapshot JSON format changed?")
    java.nio.file.Files.write(snapPath, doctored.getBytes("UTF-8"))
    // cutoff = now: snapshots 0,1 are old, 2 is (doctored) young, 3 old
    Maintenance.expireSnapshots(t, keep = 1, maxAgeMs = Some(0L))
    val kept = LakeTable.load(spark, s"$dir/t").snapshots.map(_.seq)
    assert(kept == (2L to 4L), s"interior expiry tore the history: $kept")
    // the retained range is fully consumable
    assert(LakeTable.load(spark, s"$dir/t").changes(2L, 4L).count() == 2)
  }

  test("catalog DDL + DESCRIBE surface (S11/S12)") {
    val dir = Files.createTempDirectory("graft-cat-spec").toString
    val cat = new LakeCatalog(spark, dir)
    import spark.implicits._
    val schema = Seq((1L, "x")).toDF("id", "s").schema
    cat.createTable("t1", schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
      clusterBy = Seq("id"), primaryKey = Seq("id"))
    assert(cat.listTables() == Seq("t1"))
    assert(cat.tableExists("t1"))
    val desc = cat.describe("t1").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("id") == "bigint")
    assert(desc("# partition: p_s") == "identity(s)")
    assert(desc("# primary key") == "id")
    assert(cat.dropTable("t1") && !cat.tableExists("t1"))
    intercept[Exception](cat.table("t1"))
  }

  test("replace commit with an expected base refuses when another commit raced in") {
    val dir = Files.createTempDirectory("graft-cowrace-spec").toString
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema)
    t.append(df)
    val base = t.currentSeq // what a COW UPDATE's scan would have read
    t.append(Seq((2L, "y")).toDF("id", "s")) // the racing commit
    // CME since r20 (SQL-route soak finding): the refusal is a genuine
    // concurrency loss and must follow the documented retry contract
    // the DSv2 INSERT OVERWRITE / COW replace commit: swap in no files
    def replace(expectedBase: Option[Long]) =
      t.commit("overwrite-dsv2", expectedBase)(_.copy(dataFiles = Nil, deleteFiles = Nil))
    val err = intercept[java.util.ConcurrentModificationException](replace(Some(base)))
    assert(err.getMessage.contains("concurrent commit"))
    // without an expected base (plain INSERT OVERWRITE) the replace lands
    assert(replace(None).operation == "overwrite-dsv2")
  }

  test("racing writers: second commit of the same seq fails loudly") {
    val dir = Files.createTempDirectory("graft-race-spec").toString
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema)
    val cur = t.currentSnapshot
    t.commitSnapshot(cur.copy(seq = cur.seq + 1, parent = Some(cur.seq)))
    intercept[Exception] {
      t.commitSnapshot(cur.copy(seq = cur.seq + 1, parent = Some(cur.seq)))
    }
  }

  test("racing upserts: exactly one winner, the loser's failure is actionable and retryable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert-race-spec").toString
    val base = (1L to 50L).map(k => (k, "base")).toDF("id", "s")
    val t0 = LakeTable.create(spark, s"$dir/t", "t", base.schema, primaryKey = Seq("id"))
    t0.append(base)
    // two INDEPENDENT writers (separate instances: the per-instance lock
    // must not be what serializes them) race upserts of different keys
    val w1 = LakeTable.load(spark, s"$dir/t")
    val w2 = LakeTable.load(spark, s"$dir/t")
    val b1 = Seq((1L, "w1")).toDF("id", "s")
    val b2 = Seq((2L, "w2")).toDF("id", "s")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    val threads = Seq(("w1", w1, b1), ("w2", w2, b2)).map { case (name, w, b) =>
      new Thread(() => {
        barrier.await()
        try { results.put(name, Right(w.upsert(b).seq)) }
        catch { case e: Throwable => results.put(name, Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (losers, winners) = Seq("w1", "w2").map(results.get).partition(_.isLeft)
    if (losers.nonEmpty) {
      // the real race: one winner, one actionable ConcurrentModificationException
      assert(winners.size == 1 && losers.size == 1, s"want 1 winner/1 loser: $results")
      val err = losers.head.swap.toOption.get
      assert(err.isInstanceOf[java.util.ConcurrentModificationException], s"wrong error: $err")
      assert(err.getMessage.contains("re-run the operation"),
        s"loser's error must carry the retry recipe: ${err.getMessage}")
      // the promised recipe works: re-running the SAME batch now succeeds
      val loserName = Seq("w1", "w2").find(n => results.get(n).isLeft).get
      val (lw, lb) = if (loserName == "w1") (w1, b1) else (w2, b2)
      lw.upsert(lb)
    }
    // both upserts are in (either via the race or the documented retry)
    val got = LakeTable.load(spark, s"$dir/t").scan()
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "w1" && got(2L) == "w2" && got(3L) == "base" && got.size == 50)
    // the loser's orphaned staged files sweep away without touching state
    Maintenance.removeOrphans(t0, olderThanMs = -1000L)
    val after = LakeTable.load(spark, s"$dir/t").scan().as[(Long, String)].collect().toMap
    assert(after == got, "orphan sweep must not change table content")
  }

  test("negative paths fail loudly: missing snapshot, dropped table, upsert without PK") {
    val dir = Files.createTempDirectory("graft-neg-spec").toString
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema)
    t.append(df)
    intercept[Exception](t.scan(asOf = Some(99L)).collect())   // no such snapshot
    intercept[Exception](t.upsert(df))                          // no primary key
    intercept[Exception](t.addColumn("s", "string"))            // duplicate column
    intercept[Exception](LakeTable.load(spark, s"$dir/nope"))   // not a table
    intercept[Exception](                                       // double create
      LakeTable.create(spark, s"$dir/t", "t", df.schema))
  }

  test("orphan sweep is age-gated: fresh staging survives, old staging + leaked data files go") {
    val dir = Files.createTempDirectory("graft-orphan-spec").toString
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema)
    t.append(df)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/t/_staging/crashed")
    t.fs.mkdirs(staging)
    t.fs.create(new org.apache.hadoop.fs.Path(staging, "leftover.parquet"), true).close()
    // a data/ file referenced by NO snapshot — the leak of a commit that
    // crashed between publishing files and writing the snapshot
    val leaked = new org.apache.hadoop.fs.Path(s"$dir/t/data/leaked.parquet")
    t.fs.create(leaked, true).close()
    // default (3-day) cutoff: everything is fresh = a possible in-flight
    // write; NOTHING may be deleted out from under it
    Maintenance.removeOrphans(t)
    assert(t.fs.exists(staging), "age gate failed: fresh staging dir swept")
    assert(t.fs.exists(leaked), "age gate failed: fresh data file swept")
    // negative cutoff = everything counts as old: both orphans go,
    // snapshot-referenced data stays
    Maintenance.removeOrphans(t, olderThanMs = -1000L)
    assert(!t.fs.exists(staging))
    assert(!t.fs.exists(leaked))
    assert(t.scan().count() == 1)
  }

  test("partition values with '+', space, '%' round-trip both write paths and prune exactly") {
    val dir = Files.createTempDirectory("graft-esc-spec").toString
    import spark.implicits._
    val values = Seq("a+b", "a b", "100%", "x:y=z")
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
    def check(t: LakeTable): Unit = {
      // the snapshot must record the LOGICAL value, not an escaped form
      assert(t.currentSnapshot.dataFiles.map(_.partition("p_s")).toSet == values.toSet)
      assert(t.scan().as[(Long, String)].collect().toMap ==
        values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toMap)
      values.foreach { v =>
        val (kept, total) = t.planFiles(t.currentSnapshot, Seq(PruneFilter.Eq("s", v)))
        assert(total == values.size && kept.map(_.partition("p_s")) == Seq(v),
          s"pruning wrong for '$v': kept=${kept.map(_.partition("p_s"))}")
        assert(t.scan(filters = Seq(PruneFilter.Eq("s", v))).count() == 1)
      }
    }
    val spec = Seq(PartitionField("s", Transform.Identity, "p_s"))
    val t1 = LakeTable.create(spark, s"$dir/t1", "t1", df.schema, partitionSpec = spec)
    t1.append(df)
    check(t1)
    val t2 = LakeTable.create(spark, s"$dir/t2", "t2", df.schema, partitionSpec = spec)
    df.write.format("graftlake").option("path", t2.location).mode("append").save()
    check(LakeTable.load(spark, s"$dir/t2"))
  }

  test("auto-compact policy: thresholds gate the rewrite, single delete file does not trigger") {
    val dir = Files.createTempDirectory("graft-autocompact-spec").toString
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    t.upsert(Seq((1L, "b")).toDF("id", "s"))
    // one delete file exists, but below both thresholds: no O(table) rewrite
    assert(Maintenance.compactIfNeeded(t).isEmpty, "compacted on a single delete file")
    (1 to 9).foreach(i => t.upsert(Seq((i.toLong, s"v$i")).toDF("id", "s")))
    // now >= 10 delete files: policy fires, content preserved
    assert(Maintenance.compactIfNeeded(t).isDefined)
    assert(t.currentSnapshot.deleteFiles.isEmpty)
    assert(t.scan().count() == 9)
  }

  test("concurrent appenders: loser rebases and retries, no rows lost") {
    val dir = Files.createTempDirectory("graft-cc-spec").toString
    import spark.implicits._
    val df = Seq((0L, "init")).toDF("id", "s")
    LakeTable.create(spark, s"$dir/t", "t", df.schema).append(df)
    // two INDEPENDENT handles = two writers racing on the same table
    val writers = (1 to 2).map(_ => LakeTable.load(spark, s"$dir/t"))
    val threads = writers.zipWithIndex.map { case (w, i) =>
      new Thread(() => {
        w.append(Seq(((i + 1).toLong * 100, s"writer$i")).toDF("id", "s"))
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t = LakeTable.load(spark, s"$dir/t")
    assert(t.currentSeq == 3L, s"expected 3 sequential commits, at ${t.currentSeq}")
    assert(t.scan().select("id").as[Long].collect().toSet == Set(0L, 100L, 200L))
  }

  test("N-writer commit stress: mixed appends/upserts/deletes/maintenance linearize, no lost rows or files") {
    // The scale-confidence property a 100 TB deployment cares about most:
    // MANY independent writers (separate table handles — the per-instance
    // lock must not be what serializes them) racing mixed operation
    // sequences must produce (1) a LINEAR snapshot history (single chain,
    // contiguous seqs, parent = seq-1 — the exclusive-create protocol
    // admits no forks), (2) exactly the serial-equivalent final content
    // (writers own disjoint key ranges, so the expected end state is
    // deterministic), (3) no dangling metadata (every file referenced by
    // the final snapshot exists on disk), and (4) every commit that
    // REPORTED success owning exactly one distinct snapshot. Losers of
    // non-rebaseable commits, and appends out of rebases, surface
    // ConcurrentModificationException with the retry recipe — the test
    // retries like a real writer would.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stress-spec").toString
    val schema0 = Seq((0L, "init")).toDF("id", "s").schema
    LakeTable.create(spark, s"$dir/t", "t", schema0, primaryKey = Seq("id"))

    val nWriters = 4
    // the SQL catalog route resolves graft.t to <warehouse>/t
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", dir)
    val sqlInserts = new java.util.concurrent.atomic.AtomicInteger
    def retrying(label: String)(f: => Snapshot): Snapshot = {
      var last: Throwable = null
      for (_ <- 1 to 12) {
        try return f
        catch {
          case e: java.util.ConcurrentModificationException => last = e; Thread.sleep(5)
        }
      }
      throw new AssertionError(s"$label exhausted retries", last)
    }

    val barrier = new java.util.concurrent.CyclicBarrier(nWriters)
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nWriters).map { i =>
      new Thread(() => {
        try {
          val w = LakeTable.load(spark, s"$dir/t")
          val base = i * 100000L
          def record(s: Snapshot): Unit = committed.add(s.seq)
          barrier.await()
          // round 1: append 50 own keys
          record(retrying(s"w$i append1")(w.append(
            (0L to 49L).map(k => (base + k, s"a-$i-0")).toDF("id", "s"))))
          // round 2: upsert own keys 0..9 (non-rebaseable: retry on loss)
          record(retrying(s"w$i upsert")(w.upsert(
            (0L to 9L).map(k => (base + k, s"u-$i-1")).toDF("id", "s"))))
          // round 3: writer 0's compaction (a content restatement)
          // interleaves with the other writers. It returns the CURRENT
          // snapshot unchanged when there is nothing to do — only record
          // a seq the call actually minted
          if (i == 0) {
            val s = retrying("w0 compact")(w.compactDirty())
            if (s.operation == "compact") record(s)
          }
          // round 4: delete own keys 40..49
          record(retrying(s"w$i delete")(w.deleteKeys(
            (40L to 49L).map(k => base + k).toDF("id"))))
          // round 5: second disjoint append
          record(retrying(s"w$i append2")(w.append(
            (1000L to 1049L).map(k => (base + k, s"a-$i-3")).toDF("id", "s"))))
          // round 6 (writers 2/3): MIXED-PROTOCOL race — the same table
          // written through the SQL catalog route (DSv2 batch write →
          // the commit primitive), racing the Scala-API writers above. The
          // DSv2 append commit carries its own rebase-retry; each
          // successful INSERT mints exactly one snapshot (counted, not
          // seq-recorded — the racing winner's seq isn't observable).
          if (i >= 2) {
            spark.sql(
              s"INSERT INTO graft.t VALUES (${base + 2000}, 'sql-$i-0'), (${base + 2001}, 'sql-$i-1')")
            sqlInserts.incrementAndGet()
          }
        } catch { case e: Throwable => failures.add(e) }
      }, s"stress-writer-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")

    val t = LakeTable.load(spark, s"$dir/t")
    // (1) linearizable history: one contiguous chain, every parent = seq-1
    val snaps = t.snapshots.sortBy(_.seq)
    assert(snaps.map(_.seq) == (0L until snaps.size.toLong),
      s"non-contiguous snapshot seqs: ${snaps.map(_.seq)}")
    snaps.drop(1).foreach(s => assert(s.parent.contains(s.seq - 1),
      s"forked history at ${s.seq}: parent ${s.parent}"))
    // (4) every successful commit owns exactly one distinct snapshot;
    // Scala-API commits are seq-recorded, SQL INSERTs are counted — the
    // chain must account for exactly all of them plus the create
    val seqs = committed.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(seqs.distinct.size == seqs.size, s"two commits claimed one snapshot: $seqs")
    assert(seqs.toSet.subsetOf(snaps.map(_.seq).toSet),
      s"reported commit seq missing from the chain: $seqs vs ${snaps.map(_.seq)}")
    assert(snaps.size == 1 + seqs.size + sqlInserts.get,
      s"chain length ${snaps.size} != 1 create + ${seqs.size} Scala + ${sqlInserts.get} SQL commits")
    // (2) serial-equivalent final content per writer-owned key range
    val got = t.scan().as[(Long, String)].collect().toMap
    val expected = (0 until nWriters).flatMap { i =>
      val base = i * 100000L
      (0L to 9L).map(k => (base + k) -> s"u-$i-1") ++
        (10L to 39L).map(k => (base + k) -> s"a-$i-0") ++
        (1000L to 1049L).map(k => (base + k) -> s"a-$i-3") ++
        (if (i >= 2) Seq((base + 2000L) -> s"sql-$i-0", (base + 2001L) -> s"sql-$i-1")
         else Seq.empty)
    }.toMap
    assert(got == expected,
      s"content diverged: missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)} " +
        s"wrong=${expected.collect { case (k, v) if got.get(k).exists(_ != v) => k -> (v, got(k)) }.take(5)}")
    // (3) no dangling metadata: every referenced file exists on disk
    val cur = t.currentSnapshot
    (cur.dataFiles.map(_.path) ++ cur.deleteFiles.map(_.path)).foreach(p =>
      assert(t.fs.exists(new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(t.location), p)),
        s"final snapshot references a missing file: $p"))
  }

  test("staging runs outside the commit lock") {
    val dir = Files.createTempDirectory("graft-stage-lock-spec").toString
    import spark.implicits._
    val df = (1L to 100L).map(k => (k, s"v$k")).toDF("id", "s")
    // a partitioned write: the arrangement shuffle plus the staging job
    // whose tasks write the files and record their stats and sums
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("id", Transform.Bucket(4), "p_b")))
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val appender = new Thread(() => { t.append(df); () }, "stage-lock-appender")
      // the staged-data failpoint fires once staging has finished and
      // before the commit takes the lock
      val staged = new java.util.concurrent.CountDownLatch(1)
      LakeTable.failpoint = site => if (site == "staged-data") staged.countDown()
      var jobsDuring = 0
      // warm the instance's lazy vals (meta, fs — lazy-val init synchronizes
      // on `this`) so the appender doesn't trip over initialization monitors
      // that have nothing to do with the commit lock under test
      assert(t.scan().count() == 0L)
      val jobsBaseline = jobCount.get()
      // hold the TABLE LOCK across the whole staging phase: every Spark job
      // the append needs (the arrangement and the staging write) must run
      // and COMPLETE while we hold it —
      // the appender may only park on the lock for the final snapshot swap
      t.synchronized {
        appender.start()
        assert(staged.await(120, java.util.concurrent.TimeUnit.SECONDS),
          s"staging did not finish while the lock was held (state=${appender.getState})\n" +
            appender.getStackTrace.take(12).mkString("\n"))
        assert(t.currentSeq == 0L, "commit must not publish while the lock is held")
        // deliver every job-start event posted so far
        org.apache.spark.ListenerDrain(spark.sparkContext)
        jobsDuring = jobCount.get()
        assert(jobsDuring > jobsBaseline,
          "staging ran no Spark jobs while the lock was held externally")
      }
      appender.join(120000)
      assert(!appender.isAlive, "append did not complete after the lock was released")
      org.apache.spark.ListenerDrain(spark.sparkContext)
      // NO Spark job between lock acquisition and snapshot publish: the
      // lock-held tail is a pure metadata swap
      assert(jobCount.get() == jobsDuring,
        s"Spark job ran inside the commit critical section ($jobsDuring -> ${jobCount.get()})")
    } finally {
      LakeTable.failpoint = _ => ()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(t.currentSeq == 1L)
    assert(t.scan().count() == 100L)
    // per-file exact sums recorded by the write tasks
    assert(t.currentSnapshot.dataFiles.forall(_.sums.contains("id")))
  }

  test("partition spec evolution: new files under the new spec, pruning serves both populations") {
    val dir = Files.createTempDirectory("graft-evolve-spec").toString
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val b1 = Seq(
      (1L, "A", ts("2024-01-10T00:00:00Z")), (2L, "A", ts("2024-01-20T00:00:00Z")),
      (3L, "B", ts("2024-02-05T00:00:00Z"))).toDF("id", "s", "d")
    val t = LakeTable.create(spark, s"$dir/t", "t", b1.schema,
      partitionSpec = Seq(PartitionField("d", Transform.Month, "p_month")),
      primaryKey = Seq("id"))
    t.append(b1)
    assert(t.currentSnapshot.specVersion == 0)

    // metadata-only evolution: repartition NEW data by identity(s)
    val evolved = t.evolvePartitionSpec(Seq(PartitionField("s", Transform.Identity, "p_s")))
    assert(evolved.operation == "evolve-spec" && evolved.specVersion == 1)
    assert(evolved.dataFiles.map(_.path).toSet == t.snapshot(evolved.seq - 1).dataFiles.map(_.path).toSet,
      "evolution moved data")
    val b2 = Seq(
      (4L, "A", ts("2024-03-01T00:00:00Z")), (5L, "B", ts("2024-03-02T00:00:00Z"))).toDF("id", "s", "d")
    t.append(b2)

    val snap = t.currentSnapshot
    val (oldFiles, newFiles) = snap.dataFiles.partition(_.partition.contains("p_month"))
    assert(oldFiles.nonEmpty && newFiles.nonEmpty)
    assert(newFiles.forall(f => f.partition.contains("p_s") && !f.partition.contains("p_month")))

    // full scan = union of both populations
    assert(contentEqual(t.scan(), b1.unionAll(b2)))

    // filter on the OLD spec's source: prunes old files by month, keeps new
    // files via bounds or conservatism — and returns the exact rows
    val feb = Seq(PruneFilter.Ge("d", ts("2024-02-01T00:00:00Z")),
      PruneFilter.Lt("d", ts("2024-03-01T00:00:00Z")))
    val (keptFeb, _) = t.planFiles(snap, feb)
    assert(!keptFeb.exists(_.partition.get("p_month").contains("2024-01")),
      "January files survived a February filter")
    assert(contentEqual(t.scan(filters = feb), b1.filter($"id" === 3L)))

    // filter on the NEW spec's source: prunes among new files by partition
    // value; old files never partition-prune on s (their spec never derived
    // p_s — only their per-file column BOUNDS may skip them, which is why
    // the pure-partition check below goes through mayMatch directly)
    val histSpec = t.specFieldsThrough(snap.specVersion)
    assert(oldFiles.forall(f => PruneFilter.mayMatch(histSpec, f.partition, PruneFilter.Eq("s", "B"))),
      "old-spec file partition-pruned on a field its spec never derived")
    val (keptA, _) = t.planFiles(snap, Seq(PruneFilter.Eq("s", "B")))
    assert(!keptA.exists(_.partition.get("p_s").contains("A")), "new-spec A file survived s=B")
    assert(contentEqual(t.scan(filters = Seq(PruneFilter.Eq("s", "B"))),
      b1.unionAll(b2).filter($"s" === "B")))

    // DSv2 route reads the evolved table exactly
    val v2 = spark.read.format("graftlake").option("path", t.location).load()
    assert(v2.where($"s" === "A").count() == 3)

    // guard rails
    intercept[IllegalArgumentException](
      t.evolvePartitionSpec(Seq(PartitionField("d", Transform.Day, "p_month")))) // name reuse
    intercept[IllegalArgumentException](
      t.evolvePartitionSpec(Seq(PartitionField("nope", Transform.Identity, "p_x"))))
    intercept[IllegalArgumentException](
      t.evolvePartitionSpec(Seq(PartitionField("d", Transform.Day, "s")))) // data-column collision
    // idempotent: re-declaring the current spec commits nothing
    val seqBefore = t.currentSeq
    t.evolvePartitionSpec(Seq(PartitionField("s", Transform.Identity, "p_s")))
    assert(t.currentSeq == seqBefore)

    // compaction migrates DIRTY partitions to the current spec
    t.upsert(Seq((1L, "A", ts("2024-01-10T00:00:00Z"))).toDF("id", "s", "d")) // dirties a p_month file
    Maintenance.compact(t, targetFilesPerPartition = 10)
    val after = t.currentSnapshot
    val rewritten = after.dataFiles.filter(_.seq == after.seq)
    assert(rewritten.nonEmpty && rewritten.forall(_.partition.contains("p_s")),
      s"compaction kept the retired spec: ${rewritten.map(_.partition)}")
    assert(contentEqual(t.scan(), b1.unionAll(b2)))
  }

  test("z-order clustering: per-file bounds skip on EVERY clustered key, linear only on the first") {
    import spark.implicits._
    // two INDEPENDENT uniform keys — the shape where lexicographic
    // clustering leaves the second key's per-file bounds spanning ~the
    // whole domain while z-ordering keeps both tight
    val rng = new scala.util.Random(7)
    val df = (1 to 20000).map(i =>
      (i.toLong, rng.nextInt(100000), rng.nextInt(100000))).toDF("id", "x", "y")

    // 16 write tasks → 16 z-range files (the test session default of 4
    // would leave too few files to demonstrate skipping, and AQE would
    // fold this small write into one task)
    val dir = Files.createTempDirectory("graft-zorder-spec").toString
    val z = withConfs(SixteenWriteTasks) {
      val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
        clusterBy = Seq("x", "y"), clusterStrategy = "zorder")
      t.append(df)
      t
    }
    val total = z.currentSnapshot.dataFiles.size
    assert(total > 4, s"need several files to show skipping, got $total")

    assert(contentEqual(z.scan(), df))
    // the arrangement column never leaks into storage
    assert(!spark.read.parquet(z.abs(z.currentSnapshot.dataFiles.head.path))
      .columns.contains("_graft_z"))

    def kept(f: PruneFilter): Int = z.planFiles(z.currentSnapshot, Seq(f))._1.size
    // a range on EITHER key alone skips files: every file covers a small
    // hyper-cube, so its bounds are tight in both dimensions — the whole
    // point vs lexicographic clustering, which only serves the first key
    val yf = PruneFilter.Lt("y", 5000)
    val xf = PruneFilter.Lt("x", 5000)
    assert(kept(yf) <= total / 2, s"z-order barely skipped on y: ${kept(yf)}/$total")
    assert(kept(xf) <= total / 2, s"z-order barely skipped on x: ${kept(xf)}/$total")
    // scans agree with the raw answer under the same predicates
    assert(contentEqual(z.scan(filters = Seq(yf)), df.filter($"y" < 5000)))
    assert(contentEqual(z.scan(filters = Seq(xf)), df.filter($"x" < 5000)))

    // guard rails: zorder needs numeric/temporal cluster keys
    val sdir = Files.createTempDirectory("graft-zorder-bad").toString
    intercept[IllegalArgumentException](
      LakeTable.create(spark, s"$sdir/t", "t",
        Seq((1L, "s")).toDF("id", "s").schema,
        clusterBy = Seq("s"), clusterStrategy = "zorder"))
    intercept[IllegalArgumentException](
      LakeTable.create(spark, s"$sdir/t2", "t2", df.schema, clusterStrategy = "zorder"))
  }

  test("drop column: metadata-only, both eras read narrowed, guards hold, names never resurrect") {
    val dir = Files.createTempDirectory("graft-dropcol-spec").toString
    import spark.implicits._
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "s", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
      clusterBy = Seq("id"), primaryKey = Seq("id"))
    t.append(df)
    // guards: pk, cluster key, current partition source, unknown
    intercept[IllegalArgumentException](t.dropColumn("id"))
    intercept[IllegalArgumentException](t.dropColumn("s"))
    intercept[IllegalArgumentException](t.dropColumn("nope"))

    val snap = t.dropColumn("v")
    assert(snap.operation == "drop-column")
    assert(t.currentSchema.fieldNames.toSeq == Seq("id", "s"))
    // old files keep the bytes on disk, the scan never surfaces them
    assert(t.scan().columns.toSeq == Seq("id", "s"))
    assert(t.scan().count() == 2)
    t.append(Seq((3L, "z")).toDF("id", "s"))
    assert(t.scan().as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y"), (3L, "z")))
    // DSv2 route projects identically (old files' extra column ignored)
    val v2 = spark.read.format("graftlake").option("path", t.location).load()
    assert(v2.columns.toSeq == Seq("id", "s") && v2.count() == 3)
    // time travel still shows the pre-drop shape
    assert(t.scan(asOf = Some(1L)).columns.contains("v"))
    // the dropped NAME cannot come back: old files would resurface values
    val err = intercept[IllegalArgumentException](t.addColumn("v", "double"))
    assert(err.getMessage.contains("resurface"))
    // a fresh name is fine
    t.addColumn("v2", "double")
    assert(t.currentSchema.fieldNames.toSeq == Seq("id", "s", "v2"))
  }

  test("rollback restores a prior snapshot's content, keeps full history, moves no data") {
    val dir = Files.createTempDirectory("graft-rollback-spec").toString
    import spark.implicits._
    val b1 = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", b1.schema)
    t.append(b1)
    val goodSeq = t.currentSeq
    t.append(Seq((3L, "bad")).toDF("id", "s")) // the commit to undo
    t.addColumn("extra", "int")                // schema drift after the bad data
    val badSeq = t.currentSeq

    val rb = t.rollbackTo(goodSeq)
    assert(rb.operation == "rollback" && rb.seq == badSeq + 1)
    assert(contentEqual(t.scan(), b1))
    // the rolled-back state restores the target's schema version too
    assert(!t.currentSchema.fieldNames.contains("extra"))
    // nothing was deleted: the bad history is still time-travelable
    assert(t.scan(asOf = Some(badSeq)).count() == 3)
    // O(metadata): the rollback references the target's files verbatim
    assert(rb.dataFiles.map(_.path).toSet == t.snapshot(goodSeq).dataFiles.map(_.path).toSet)
    // guard: future seqs refuse
    intercept[IllegalArgumentException](t.rollbackTo(rb.seq + 5))
    // idempotent: rolling back to the current head is a no-op
    assert(t.rollbackTo(t.currentSeq).seq == t.currentSeq)
    // appends continue on top of the rolled-back line
    t.append(Seq((4L, "z")).toDF("id", "s"))
    assert(t.scan().select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
  }

  test("changelog read: net-effect typed deltas, in-range churn nets out, restatements refuse") {
    val dir = Files.createTempDirectory("graft-changes-spec").toString
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df) // seq 1 — the baseline
    t.upsert(Seq((2L, "b2"), (3L, "c")).toDF("id", "s")) // update 2, insert 3
    t.deleteKeys(Seq(Tuple1(1L)).toDF("id"))             // delete 1
    t.upsert(Seq((9L, "x")).toDF("id", "s"))             // insert 9...
    t.deleteKeys(Seq(Tuple1(9L)).toDF("id"))             // ...and delete it in-range
    val got = t.changes(1L, t.currentSeq)
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((2L, "b2", "update"), (3L, "c", "insert"), (1L, "a", "delete")),
      s"got $got") // 9 netted out; the delete row carries the PRE-image (1, "a")
    // a no-pk table yields the append-only changelog
    val t2 = LakeTable.create(spark, s"$dir/t2", "t2", df.schema)
    t2.append(df)
    t2.append(Seq((3L, "c")).toDF("id", "s"))
    assert(t2.changes(1L, 2L).as[(Long, String, String)].collect().toSet ==
      Set((3L, "c", "insert")))
    // content restatements have no changelog: refused loudly
    Maintenance.compact(t)
    val err = intercept[IllegalArgumentException](t.changes(1L, t.currentSeq))
    assert(err.getMessage.contains("re-baseline"), s"got: ${err.getMessage}")
    // ...but a post-compaction range works again
    assert(t.changes(t.currentSeq, t.currentSeq).count() == 0)
  }

  test("changelog append-only fast path: pure-insert ranges plan no base-table join") {
    // VERDICT r11 #7: a range whose commits are all appends (or metadata-
    // only DDL) emits its rows as inserts straight from the range's own
    // files — the base snapshot must not be scanned or joined at all,
    // even on a pk table.
    val dir = Files.createTempDirectory("graft-appendonly-cdc").toString
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)                                     // seq 1 — baseline
    t.append(Seq((3L, "c")).toDF("id", "s"))         // seq 2 — append
    t.addColumn("extra", "int")                      // seq 3 — metadata-only
    t.append(Seq((4L, "d", 7)).toDF("id", "s", "extra")) // seq 4 — append
    val ch = t.changes(1L, t.currentSeq)
    assert(ch.select("id", "_change_type").as[(Long, String)].collect().toSet ==
      Set((3L, "insert"), (4L, "insert")))
    val plan = ch.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"append-only changelog planned a join:\n$plan")
    // a range that DOES contain a pk restatement still takes the keyed
    // join — and nets id 3 (appended AND restated in range, absent at
    // `from`) to a single insert carrying the final value
    t.upsert(Seq((2L, "b2", 8), (3L, "c2", 9)).toDF("id", "s", "extra"))
    val ch2 = t.changes(1L, t.currentSeq)
    assert(ch2.queryExecution.executedPlan.toString.contains("Join"))
    assert(ch2.select("id", "s", "_change_type").as[(Long, String, String)].collect().toSet ==
      Set((2L, "b2", "update"), (3L, "c2", "insert"), (4L, "d", "insert")))
  }

  test("metadata versions never recycle across a rollback") {
    val dir = Files.createTempDirectory("graft-vrecycle-spec").toString
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val df = Seq((1L, "x", ts("2024-01-10T00:00:00Z"))).toDF("a", "b", "d")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("d", Transform.Month, "p_m")))
    t.append(df)
    val preDrop = t.currentSeq

    // SCHEMA versions: drop b (v2), roll back, add c — the new version
    // must NOT overwrite schema-v002, which the dropped-era snapshot
    // still references for time travel
    t.dropColumn("b")
    val dropSeq = t.currentSeq
    t.rollbackTo(preDrop)
    t.addColumn("c", "int")
    assert(t.currentSchema.fieldNames.toSeq == Seq("a", "b", "d", "c"))
    assert(t.scan(asOf = Some(dropSeq)).columns.toSeq == Seq("a", "d"),
      "rolled-back drop-column snapshot lost its schema — version recycled")
    // the resurrect guard sees versions ABOVE the rolled-back current too:
    // roll back to the era before "c" ever existed — re-adding it must
    // still refuse, because orphaned-era files hold values under that name
    t.rollbackTo(preDrop)
    assert(!t.currentSchema.fieldNames.contains("c"))
    val err = intercept[IllegalArgumentException](t.addColumn("c", "int"))
    assert(err.getMessage.contains("resurface"), s"got: ${err.getMessage}")

    // SPEC versions: evolve (v1), roll back, evolve again — the name-reuse
    // guard must reach the orphaned v1 and the new spec must get v2
    val preEvolve = t.currentSeq
    t.evolvePartitionSpec(Seq(PartitionField("b", Transform.Identity, "p_s")))
    t.rollbackTo(preEvolve)
    intercept[IllegalArgumentException](
      t.evolvePartitionSpec(Seq(PartitionField("d", Transform.Day, "p_s"))))
    val ev2 = t.evolvePartitionSpec(Seq(PartitionField("d", Transform.Day, "p_day")))
    assert(ev2.specVersion == 2, s"spec version recycled: ${ev2.specVersion}")
    assert(t.partitionSpec(1) == Seq(PartitionField("b", Transform.Identity, "p_s")),
      "orphaned spec file overwritten")

    // a data column may never take a partition FIELD name (the write path
    // derives that column and would clobber the data) — nor a CASE VARIANT
    // of one (Spark resolves case-insensitively), nor the reserved _graft
    // namespace
    val err2 = intercept[IllegalArgumentException](t.addColumn("p_m", "string"))
    assert(err2.getMessage.contains("partition field"), s"got: ${err2.getMessage}")
    intercept[IllegalArgumentException](t.addColumn("P_M", "string"))
    intercept[IllegalArgumentException](t.addColumn("_graft_seq", "string"))
    intercept[IllegalArgumentException](
      t.evolvePartitionSpec(Seq(PartitionField("b", Transform.Identity, "_graft_x"))))
  }

  test("delta commit refuses a stale base: a commit landing between scan and write surfaces") {
    val dir = Files.createTempDirectory("graft-deltarace-spec").toString
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    val base = t.currentSeq
    t.append(Seq((2L, "b")).toDF("id", "s")) // the racing commit
    // CME since r20 (SQL-route soak finding): the refusal is a genuine
    // concurrency loss and must follow the documented retry contract
    val err = intercept[java.util.ConcurrentModificationException](
      t.commitStagedDelta("_staging/none", "update-mor", expectedBase = Some(base))(_ => Nil))
    assert(err.getMessage.contains("concurrent commit") &&
      err.getMessage.contains("retry"), s"unhelpful race error: ${err.getMessage}")
    // the current base still commits
    t.commitStagedDelta("_staging/none", "update-mor", expectedBase = Some(t.currentSeq))(_ => Nil)
  }

  test("empty-string partition values: sentinel files keep for string predicates, rows survive") {
    val dir = Files.createTempDirectory("graft-emptypart-spec").toString
    import spark.implicits._
    // "" and null both render as the Hive default-partition sentinel in
    // the directory name — a string predicate must therefore KEEP sentinel
    // files (they may hold "" rows); numeric/temporal literals still prune
    val df = Seq((1L, "a"), (2L, ""), (3L, null.asInstanceOf[String])).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")))
    t.append(df)
    val snap = t.currentSnapshot
    val sentinelFiles = snap.dataFiles.filter(_.partition("p_s") == PartitionValues.NullSentinel)
    assert(sentinelFiles.nonEmpty, "fixture must produce a sentinel partition")
    // Eq(s, "") must not prune the sentinel file — and the scan returns the "" row
    assert(t.planFiles(snap, Seq(PruneFilter.Eq("s", "")))._1.exists(
      _.partition("p_s") == PartitionValues.NullSentinel),
      "Eq(s, \"\") falsely pruned the sentinel partition")
    assert(t.scan(filters = Seq(PruneFilter.Eq("s", ""))).as[(Long, String)]
      .collect().toSeq == Seq((2L, "")))
    // range with a string literal keeps it too ("" < "b")
    assert(t.scan(filters = Seq(PruneFilter.Lt("s", "b"))).as[(Long, String)]
      .collect().toMap == Map(1L -> "a", 2L -> ""))
    // a non-empty equality still prunes the sentinel file
    assert(!t.planFiles(snap, Seq(PruneFilter.Eq("s", "a")))._1.exists(
      _.partition("p_s") == PartitionValues.NullSentinel),
      "Eq(s, \"a\") should still prune the sentinel partition")
    // numeric literals on a numeric identity partition still prune nulls
    val dfn = Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "k")
    val tn = LakeTable.create(spark, s"$dir/tn", "tn", dfn.schema,
      partitionSpec = Seq(PartitionField("k", Transform.Identity, "p_k")))
    tn.append(dfn)
    assert(!tn.planFiles(tn.currentSnapshot, Seq(PruneFilter.Eq("k", 5L)))._1.exists(
      _.partition("p_k") == PartitionValues.NullSentinel),
      "numeric Eq must still prune the null partition")
  }

  test("partition-scoped delete files: a pruned MoR scan loads only its partition's sidecars") {
    val dir = Files.createTempDirectory("graft-scopeddel-spec").toString
    import spark.implicits._
    // partition source (k) IS the primary key: every delete's partition is
    // computable from the key, so sidecars are scoped (Iceberg's
    // partition-scoped delete files)
    val df = Seq((1L, "a"), (2L, "b"), (101L, "c"), (102L, "d")).toDF("k", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("k", Transform.Identity, "p_k")),
      primaryKey = Seq("k"))
    t.append(df)
    // two upserts, each touching a DIFFERENT set of key-partitions
    t.upsert(Seq((1L, "A")).toDF("k", "s"))
    t.upsert(Seq((101L, "C"), (102L, "D")).toDF("k", "s"))
    val snap = t.currentSnapshot
    assert(snap.deleteFiles.nonEmpty)
    assert(snap.deleteFiles.forall(_.partition.contains("p_k")),
      s"delete files not scoped: ${snap.deleteFiles}")
    // a scan pruned to k=1 must need ONLY the p_k=1 sidecar
    val pruned = t.planFiles(snap, Seq(PruneFilter.Eq("k", 1L)))._1
    val needed = t.deleteFilesFor(snap, pruned)
    assert(needed.nonEmpty && needed.forall(_.partition("p_k") == "1"),
      s"pruned scan loads foreign sidecars: $needed of ${snap.deleteFiles.size}")
    assert(needed.size < snap.deleteFiles.size,
      "scoping did not reduce the delete-file set")
    // correctness: pruned + full scans serve the merged content
    assert(t.scan(filters = Seq(PruneFilter.Eq("k", 1L)))
      .as[(Long, String)].collect().toSeq == Seq((1L, "A")))
    assert(t.scan().as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, "b"), (101L, "C"), (102L, "D")))
    // DSv2 arm: a partition-pruned SQL read reads only the scoped sidecars
    // too — the pk filter is inferred onto the fold's key side, whose scan
    // prunes delete files with the same planFiles/deleteFilesFor logic
    spark.read.format("graftlake").option("path", t.location).load()
      .createOrReplaceTempView("scoped_sidecars")
    val sqlRead = spark.sql("SELECT k, s FROM scoped_sidecars WHERE k = 1")
    assert(sqlRead.as[(Long, String)].collect().toSeq == Seq((1L, "A")))
    val keySide = """GraftLakeDeleteKeys t snapshot=\d+ deleteFiles=(\d+)/(\d+)""".r
      .findAllMatchIn(sqlRead.queryExecution.executedPlan.toString).toSeq
    assert(keySide.map(m => (m.group(1).toInt, m.group(2).toInt)) ==
      Seq((needed.size, snap.deleteFiles.size)), s"key side not scoped: $keySide")

    // a spec whose source is NOT part of the pk writes GLOBAL sidecars —
    // the old row's partition is unknowable from the key alone
    val df2 = Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "cat", "v")
    val t2 = LakeTable.create(spark, s"$dir/t2", "t2", df2.schema,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity, "p_cat")),
      primaryKey = Seq("id"))
    t2.append(df2)
    // the upsert MOVES id=1 from cat=x to cat=z: only a global sidecar is sound
    t2.upsert(Seq((1L, "z", 11.0)).toDF("id", "cat", "v"))
    val snap2 = t2.currentSnapshot
    assert(snap2.deleteFiles.forall(_.partition.isEmpty),
      s"non-key-derivable partitions must write global sidecars: ${snap2.deleteFiles}")
    // and the cross-partition upsert reads correctly everywhere
    assert(t2.scan().as[(Long, String, Double)].collect().toSet ==
      Set((1L, "z", 11.0), (2L, "y", 20.0)))
    assert(t2.scan(filters = Seq(PruneFilter.Eq("cat", "x"))).count() == 0,
      "the old-partition row must be tombstoned even under pruning")
  }

  test("randomized MoR workloads: pruned scans (delete-manifest pruning included) equal a driver mirror") {
    // property-style soundness net for the r7 delete-manifest pruning:
    // random append/upsert/delete workloads on a pk-partitioned table,
    // verified against a driver-side Map mirror under random filters —
    // through BOTH the imperative scan (prunes manifests of both kinds)
    // and the DSv2 read (pruned reader path + residual filters)
    import spark.implicits._
    val rng = new scala.util.Random(20260813L)
    val dir = Files.createTempDirectory("graft-morprop").toString
    (1 to 4).foreach { trial =>
      val df0 = Seq.empty[(Long, String, Double)].toDF("k", "s", "v")
      val t = LakeTable.create(spark, s"$dir/t$trial", s"t$trial", df0.schema,
        partitionSpec = Seq(PartitionField("k", Transform.Identity, "p_k")),
        primaryKey = Seq("k"))
      val mirror = scala.collection.mutable.Map.empty[Long, (Long, String, Double)]
      def randRows(n: Int): Seq[(Long, String, Double)] =
        Seq.fill(n)((rng.between(0L, 12L), rng.alphanumeric.take(3).mkString,
          rng.between(0, 1000) / 10.0))
      (1 to 5).foreach { _ =>
        rng.nextInt(3) match {
          case 0 =>
            // append of NEW keys only (duplicate-pk appends are out of
            // contract on a pk table; restatement goes through upsert)
            val rows = randRows(rng.between(1, 5))
              .filterNot { case (k, _, _) => mirror.contains(k) }
              .distinctBy(_._1)
            if (rows.nonEmpty) {
              t.append(rows.toDF("k", "s", "v"))
              rows.foreach(r => mirror(r._1) = r)
            }
          case 1 =>
            val rows = randRows(rng.between(1, 5)).distinctBy(_._1)
            t.upsert(rows.toDF("k", "s", "v"))
            rows.foreach(r => mirror(r._1) = r)
          case 2 if mirror.nonEmpty =>
            val ks = rng.shuffle(mirror.keys.toSeq).take(rng.between(1, 3))
            t.deleteKeys(ks.map(Tuple1(_)).toDF("k"))
            ks.foreach(mirror.remove)
          case _ => ()
        }
        // probe with random filters through both read paths
        val probe = rng.between(0L, 12L)
        val filters = rng.nextInt(3) match {
          case 0 => Seq(PruneFilter.Eq("k", probe))
          case 1 => Seq(PruneFilter.Ge("k", probe))
          case _ => Seq(PruneFilter.Lt("k", probe))
        }
        val keep: Long => Boolean = filters.head match {
          case PruneFilter.Eq(_, v) => _ == v.asInstanceOf[Long]
          case PruneFilter.Ge(_, v) => _ >= v.asInstanceOf[Long]
          case PruneFilter.Lt(_, v) => _ < v.asInstanceOf[Long]
          case other => sys.error(s"unexpected filter $other")
        }
        val want = mirror.values.filter(r => keep(r._1)).toSet
        val gotScan = t.scan(filters = filters)
          .as[(Long, String, Double)].collect().toSet
        assert(gotScan == want,
          s"trial $trial imperative scan diverged under $filters: " +
            s"missing=${want -- gotScan} extra=${gotScan -- want}")
        val cond = filters.head match {
          case PruneFilter.Eq(_, v) => col("k") === v.asInstanceOf[Long]
          case PruneFilter.Ge(_, v) => col("k") >= v.asInstanceOf[Long]
          case PruneFilter.Lt(_, v) => col("k") < v.asInstanceOf[Long]
          case other => sys.error(s"unexpected filter $other")
        }
        val gotV2 = spark.read.format("graft.sources.GraftLakeSource")
          .option("path", t.location).load()
          .filter(cond).as[(Long, String, Double)].collect().toSet
        assert(gotV2 == want,
          s"trial $trial DSv2 scan diverged under $filters: " +
            s"missing=${want -- gotV2} extra=${gotV2 -- want}")
      }
      // delete manifests really carry summaries on this workload
      val delRefs = t.snapshotFile(t.currentSeq).manifests.filterNot(_.isData)
      assert(delRefs.forall(_.partitions.isDefined),
        s"trial $trial delete manifests lack summaries: $delRefs")
    }
  }

  test("AQE splits a hot partition value across multiple files by advisory size, content preserved") {
    val dir = Files.createTempDirectory("graft-splits-spec").toString
    import spark.implicits._
    // one partition value ("hot") holds all the rows — the 100 TB skew
    // shape; its rows arrive from several input partitions, which AQE's
    // rebalance splits the value's shuffle partition by
    val df = (1L to 1000L).map(i => (i, "hot", i * 1.5)).toDF("id", "s", "v").repartition(4)
    withConfs(SmallWriteTasks) {
      val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
        partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
        clusterBy = Seq("id"))
      t.append(df)
      val files = t.currentSnapshot.dataFiles
      assert(files.forall(_.partition("p_s") == "hot"))
      assert(files.size >= 2, s"expected the hot partition fanned out, got ${files.size} file(s)")
      assert(t.scan().as[(Long, String, Double)].collect().toSet ==
        df.as[(Long, String, Double)].collect().toSet)
    }
  }

  /** Spark jobs launched by `body` (attributed via a job group; the status
    * store updates from the listener bus, so drain it before one read). */
  private def jobsLaunched(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("per-file sums fold in the write tasks: recording costs zero extra jobs") {
    val dir = Files.createTempDirectory("graft-taskums-spec").toString
    import spark.implicits._
    val df = (1L to 400L).map(i =>
      (i, s"u$i", java.math.BigDecimal.valueOf(i * 100 + 25, 2))) // i.25 as decimal
      .toDF("id", "name", "m")
      .select($"id", $"name", $"m".cast("decimal(10,2)").as("m"))
    // the same rows with no summable column: nothing to record
    val unsummable = df.select($"id".cast("string").as("id"), $"name", $"m".cast("double").as("m"))
    def mkTable(name: String, rows: org.apache.spark.sql.DataFrame) =
      LakeTable.create(spark, s"$dir/$name", name, rows.schema,
        partitionSpec = Seq(PartitionField("name", Transform.Truncate(2), "p_n")),
        clusterBy = Seq("id"))

    val tOn = mkTable("on", df)
    val jobsOn = jobsLaunched("sums-on") { tOn.append(df) }
    val tOff = mkTable("off", unsummable)
    val jobsOff = jobsLaunched("sums-off") { tOff.append(unsummable) }
    assert(tOff.currentSnapshot.dataFiles.forall(_.sums.isEmpty))
    assert(jobsOn == jobsOff,
      s"recording sums must not launch extra jobs: $jobsOn with vs $jobsOff without")

    // ...and the recorded sums are complete and exact
    val files = tOn.currentSnapshot.dataFiles
    assert(files.nonEmpty && files.forall(f => f.sums.contains("id") && f.sums.contains("m")))
    assert(files.map(f => BigDecimal(f.sums("id"))).sum == BigDecimal((1L to 400L).sum))
    assert(files.map(f => BigDecimal(f.sums("m"))).sum ==
      (1L to 400L).map(i => BigDecimal(java.math.BigDecimal.valueOf(i * 100 + 25, 2))).sum)
    // strings are never summable; no phantom entries
    assert(files.forall(f => !f.sums.contains("name")))
  }

  test("identity(DOUBLE) writes task-side with exact sums") {
    // an identity partition on a DOUBLE source renders per row through
    // Catalyst's cast to string, like every other transform/type pair;
    // sums are folded in the write tasks and serve like any other file's
    val dir = Files.createTempDirectory("graft-fallbacksums-spec").toString
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i * 3, (i % 4).toDouble)).toDF("id", "v", "g")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("g", Transform.Identity, "p_g")),
      clusterBy = Seq("id"))
    t.append(df)
    val files = t.currentSnapshot.dataFiles
    assert(files.map(_.partition("p_g")).toSet == Set("0.0", "1.0", "2.0", "3.0"))
    assert(files.forall(f => f.sums.contains("id") && f.sums.contains("v")))
    assert(files.map(f => BigDecimal(f.sums("v"))).sum == BigDecimal(3L * (1L to 100L).sum))
    assert(files.map(_.nonNull("v")).sum == 100L)
  }

  test("bucket-partitioned writes stage task-side: per-file sums, no read-back job, exact buckets") {
    // r18: bucket joined the task-writable transforms — the imperative
    // append on a bucketed table (the incremental-dedup survivor state's
    // exact shape) records sums in the write tasks and derives the same
    // buckets as every other route
    val dir = Files.createTempDirectory("graft-bucketsums-spec").toString
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i * 3)).toDF("id", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("id", Transform.Bucket(4), "p_b")),
      clusterBy = Seq("id"))
    t.append(df)
    val files = t.currentSnapshot.dataFiles
    assert(files.size >= 2, "bucket spec should split files")
    assert(files.forall(f => f.sums.contains("id") && f.sums.contains("v")))
    assert(files.map(f => BigDecimal(f.sums("v"))).sum == BigDecimal(3L * (1L to 100L).sum))
    assert(files.map(_.nonNull("v")).sum == 100L)
    // the recorded bucket value must be the shared derivation, per file
    files.foreach { f =>
      val ids = spark.read.parquet(s"$dir/t/${f.path}").select("id").as[Long].collect()
      assert(ids.nonEmpty && ids.forall(i =>
        Transform.bucketOf(4, i, org.apache.spark.sql.types.LongType).toString
          == f.partition("p_b")), s"bucket drift in ${f.path}")
    }
  }

  test("DSv2 write roundtrips decimals (INT32/INT64/FIXED_LEN encodings) with task-side sums") {
    val dir = Files.createTempDirectory("graft-dsv2dec-spec").toString
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, i.toString, i.toString, i.toString))
      .toDF("id", "a", "b", "c")
      .select($"id",
        ($"a".cast("decimal(8,2)") + 0.25).cast("decimal(8,2)").as("small"),   // INT32-backed
        ($"b".cast("decimal(14,4)") + 0.0001).cast("decimal(14,4)").as("mid"), // INT64-backed
        ($"c".cast("decimal(28,6)") * 1000000000).cast("decimal(28,6)").as("wide")) // FLBA-backed
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, clusterBy = Seq("id"))
    df.write.format("graftlake").option("path", t.location).mode("append").save()
    val back = LakeTable.load(spark, t.location)
    val got = back.scan().orderBy("id").collect()
    val want = df.orderBy("id").collect()
    assert(got.toSeq == want.toSeq, "DSv2-written decimals must read back exactly")
    // sums arrived via the commit messages for every decimal encoding
    val files = back.currentSnapshot.dataFiles
    assert(files.forall(f => f.sums.contains("small") && f.sums.contains("mid") &&
      f.sums.contains("wide")))
    val wantSmall = (1L to 50L).map(i => BigDecimal(i) + BigDecimal("0.25")).sum
    assert(files.map(f => BigDecimal(f.sums("small"))).sum == wantSmall)
    // INT32/INT64-backed decimal bounds record SCALED; FLBA bounds drop
    // (conservative — binary stats carry no usable decimal interval here)
    val all = files.flatMap(_.bounds.get("small"))
    assert(all.nonEmpty && all.exists(b => BigDecimal(b.min) == BigDecimal("1.25")))
  }

  test("zero-row committed files add no phantom groups or distinct values to metadata serving") {
    val dir = Files.createTempDirectory("graft-zerorow-spec").toString
    import spark.implicits._
    val df = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 40L)).toDF("id", "g", "w")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("g", Transform.Identity, "p_g")))
    t.append(df)

    // hand-commit a zero-row data file under a THIRD partition value (the
    // metadata format allows it: an external writer, or an overwrite that
    // emptied a partition) — a real scan of it produces nothing, so the
    // metadata path must not surface its tuple either
    val zeroRel = "data/zero-row.parquet"
    df.limit(0).coalesce(1).write.mode("overwrite").parquet(s"$dir/zstage")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/zstage"))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/t/$zeroRel"))
    val cur = t.currentSnapshot
    t.commitSnapshot(Snapshot(cur.seq + 1, Some(cur.seq), 1L, "append", cur.schemaVersion,
      cur.dataFiles :+ DataFile(zeroRel, cur.seq + 1, Map("p_g" -> "C"),
        fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/t/$zeroRel")).getLen, rows = 0L),
      Nil, cur.specVersion))

    val back = LakeTable.load(spark, t.location)
    val read = spark.read.format("graftlake").option("path", back.location).load()
    val grouped = read.groupBy("g").agg(count(lit(1)).as("n"))
    assert(grouped.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "grouped count should still be metadata-served")
    val groups = grouped.as[(String, Long)].collect().toMap
    assert(groups == Map("A" -> 2L, "B" -> 1L), s"phantom group leaked: $groups")
    val nd = read.agg(countDistinct(col("g")).as("ng"))
    assert(nd.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(nd.head.getLong(0) == 2L, "zero-row file contributed a phantom distinct value")
    // ungrouped MIN/MAX still serves: the zero-row file records no bounds
    // (no row groups → no footer stats) and must not decline the fold
    val mm = read.agg(min(col("w")).as("mn"), max(col("w")).as("mx"))
    assert(mm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "zero-row file must not decline ungrouped bounds serving")
    assert(mm.as[(Long, Long)].head() == ((10L, 40L)))
    // the real scan agrees
    assert(read.count() == 3L && back.scan().count() == 3L)
  }

  test("staged replace/delta commits losing a race throw ConcurrentModificationException") {
    // r20 SQL-route soak finding (its first seed): the DSv2 replace,
    // group-replace and delta commits validated expectedBase
    // with a bare `require`, so a genuine concurrency LOSS — the exact
    // condition the documented CME retry contract exists for — leaked as
    // IllegalArgumentException and crashed a caller's retry loop (the
    // forked SQL soak writer died mid-plan). Deterministic pin: hand each
    // commit an expectedBase the table has already moved past.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-staleb").resolve("t").toString
    val df = Seq((1L, "a")).toDF("id", "s")
    val t = LakeTable.create(spark, dir, "staleb", df.schema, primaryKey = Seq("id"))
    t.append(df) // seq 1: expectedBase 0 is now stale for every staged commit
    // the three commits the DSv2 writes make: full replace, group replace
    // (swap no files for no files), merge-on-read delta
    intercept[java.util.ConcurrentModificationException](
      t.commit("overwrite-dsv2", expectedBase = Some(0L))(_.copy(dataFiles = Nil, deleteFiles = Nil)))
    intercept[java.util.ConcurrentModificationException](
      t.commit("update-cow", expectedBase = Some(0L))(h => h.copy(dataFiles = h.dataFiles)))
    intercept[java.util.ConcurrentModificationException](
      t.commitStagedDelta("_staging/none", "update-mor", expectedBase = Some(0L))(_ => Nil))
    // and the state is untouched — a refused commit must not publish
    assert(t.currentSeq == 1L)
  }

  test("metadata commits losing a race surface the retry recipe, and the retry lands") {
    // rollback/schema/spec commits validate against the snapshot they
    // read, so a lost CROSS-PROCESS race must surface as the documented
    // ConcurrentModificationException (re-run recipe), never the raw
    // O_EXCL IOException (r16: the append/upsert contract applied to the
    // metadata class). A second table HANDLE simulates the other process
    // — the in-JVM lock is per-instance — and the pre-meta-commit
    // failpoint fires the racing append INSIDE the loser's window (after
    // it read its base, before its O_EXCL create), so the race is
    // deterministic, not timing-dependent.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-meta-race").resolve("t").toString
    val df = Seq((1L, "a")).toDF("id", "s")
    val t = LakeTable.create(spark, dir, "meta_race", df.schema, primaryKey = Seq("id"))
    t.append(df)                                  // seq 1
    t.append(Seq((2L, "b")).toDF("id", "s"))      // seq 2
    val other = LakeTable.load(spark, dir)
    // each arming uses a FRESH pk so the racing appends never restate a
    // live key (appends to a pk table must not — changelog contract)
    def armRace(k: Long): Unit = {
      var fired = false
      LakeTable.failpoint = site =>
        if (site == "pre-meta-commit" && !fired) {
          fired = true
          other.append(Seq((k, "race")).toDF("id", "s"))
          ()
        }
    }
    try {
      // all FIVE metadata-only commit sites share commitMeta;
      // prove the contract at each entry point, not just the helper
      armRace(99L)
      val e = intercept[java.util.ConcurrentModificationException](t.rollbackTo(1L))
      assert(e.getMessage.contains("re-run the operation"), e.getMessage)
      // the recipe works: the re-run re-reads the new head and lands,
      // and the head content is exactly the target snapshot's (the
      // racing append stays time-travelable in history, unseated at head)
      assert(t.rollbackTo(1L).operation == "rollback")
      assert(contentEqual(t.scan(), t.scan(asOf = Some(1L))))
      assert(t.scan().count() == 1L)
      // add-column
      armRace(98L)
      intercept[java.util.ConcurrentModificationException](t.addColumn("extra", "INT"))
      assert(t.addColumn("extra", "INT").operation == "add-column")
      // promote-type: the retry re-validates the promotion against the
      // head the winner moved
      armRace(97L)
      intercept[java.util.ConcurrentModificationException](t.promoteColumn("extra", "BIGINT"))
      assert(t.promoteColumn("extra", "BIGINT").operation == "promote-type")
      assert(t.currentSchema("extra").dataType == org.apache.spark.sql.types.LongType)
      // drop-column: the retry's guards re-read the winner's state, and
      // the dropped-name history written through the racy retries still
      // drives the resurface guard
      armRace(96L)
      intercept[java.util.ConcurrentModificationException](t.dropColumn("extra"))
      assert(t.dropColumn("extra").operation == "drop-column")
      assert(!t.currentSchema.fieldNames.contains("extra"))
      val resurface = intercept[IllegalArgumentException](t.addColumn("extra", "INT"))
      assert(resurface.getMessage.contains("dropped"), resurface.getMessage)
      // evolve-spec
      armRace(95L)
      val newSpec = Seq(PartitionField("s", Transform.Identity, "p_s"))
      intercept[java.util.ConcurrentModificationException](t.evolvePartitionSpec(newSpec))
      assert(t.evolvePartitionSpec(newSpec).operation == "evolve-spec")
      // history stayed linear and gap-free through all five lost races
      val snaps = t.snapshots.sortBy(_.seq)
      assert(snaps.map(_.seq) == (0L to snaps.last.seq), snaps.map(_.seq))
      snaps.tail.foreach(s => assert(s.parent.contains(s.seq - 1),
        s"snapshot ${s.seq} parent ${s.parent} breaks the chain"))
    } finally LakeTable.failpoint = _ => ()
  }

  test("a rebased append stays visible to per-commit changelog ranges (file seq re-stamped)") {
    // r19, found by the randomized concurrent-writer soak (seed 102): a
    // blind-rebased append used to commit file entries still tagged with
    // their STAGED sequence, below the final commit seq — and
    // `changes(from, to)` plus both streaming sources select range files
    // by `f.seq ∈ (from, to]`, so the rows fell outside EVERY per-commit
    // range: a contiguous changelog consumer silently lost them. The file
    // seq is now re-stamped to the visibility commit on rebase, while the
    // ROWS keep the staged `_graft_seq` (every merge-on-read tombstone
    // comparison is row-level — the staged serialization point w.r.t.
    // concurrent deletes is the documented blind-rebase contract).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rebase-cl").resolve("t").toString
    val df = Seq((1L, "a")).toDF("id", "s")
    val t = LakeTable.create(spark, dir, "rebase_cl", df.schema, primaryKey = Seq("id"))
    t.append(df) // seq 1
    val other = LakeTable.load(spark, dir)
    var fired = false
    LakeTable.failpoint = site =>
      if (site == "staged-data" && !fired) {
        fired = true // guard BEFORE the nested append re-enters the site
        other.append(Seq((50L, "winner")).toDF("id", "s")) // wins seq 2
        ()
      }
    try t.append(Seq((60L, "rebased")).toDF("id", "s")) // staged at 2, commits at 3
    finally LakeTable.failpoint = _ => ()
    assert(t.currentSeq == 3L)
    // the rebased entry carries its VISIBILITY commit...
    val prevPaths = t.snapshot(2L).dataFiles.map(_.path).toSet
    val rebased = t.currentSnapshot.dataFiles.filterNot(f => prevPaths(f.path))
    assert(rebased.size == 1 && rebased.head.seq == 3L,
      s"rebased entry not re-stamped: $rebased")
    // ...while its rows keep the STAGED sequence (row-level MoR ordering)
    val rowSeq = spark.read.parquet(t.abs(rebased.head.path))
      .select(LakeTable.SeqCol).as[Long].head()
    assert(rowSeq == 2L, s"row seq $rowSeq should stay the staged sequence")
    // a contiguous per-commit changelog walk sees every row exactly once
    val replayed = (1L to 3L).flatMap(q =>
      t.changes(q - 1, q).select("id").as[Long].collect())
    assert(replayed.sorted == Seq(1L, 50L, 60L),
      s"per-commit changelog lost or duplicated rows: ${replayed.sorted}")
    // and the rebased row is attributed to the commit where it APPEARED
    assert(t.changes(2L, 3L).select("s").as[String].collect().toSeq == Seq("rebased"))
  }

  test("scan construction runs ZERO Spark jobs and zero listing at high file counts " +
      "(DSv2 relation planned from manifest splits)") {
    val dir = Files.createTempDirectory("graft-manyfiles-fileindex").toString
    val n = 2048L // far above the 32-file threshold where the listing job used to fire
    val t = ManyFilesFixture.build(spark, s"$dir/t", "many", n)
    assert(t.currentSnapshot.dataFiles.size == n.toInt) // manifest parse outside the window
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = t.scan()
      df.queryExecution.executedPlan // force analysis + full physical planning
      org.apache.spark.ListenerDrain(spark.sparkContext)
      assert(jobCount.get() == 0,
        s"relation construction launched ${jobCount.get()} Spark job(s); " +
          "planning from manifest splits must launch none at any file count")
      // the relation serves real reads from manifest (path, length) entries:
      // every linked file holds the template's one pk=0 row
      assert(df.count() == n, "manifest-planned scan returned the wrong row count")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the relation schema equals the SQL route's read of the same table
    val sql = spark.read.format("graftlake").option("path", t.location).load()
    assert(t.scan().schema == sql.schema,
      "LakeTable.scan must produce the same relation schema as the DSv2 source")
  }
}
