package graft.sources

import graft.SparkSpec

class SqlCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def register(warehouse: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", warehouse)
  }

  /** Pin the row-level write mode (default merge-on-read) for one test. */
  private def withRowLevelMode[T](mode: String)(body: => T): T = {
    spark.conf.set("spark.graft.lake.rowLevelMode", mode)
    try body finally spark.conf.unset("spark.graft.lake.rowLevelMode")
  }

  test("bucket-partitioned tables take DSv2 writes: buckets agree across routes, null keys, MoR deltas") {
    // r18: the DSv2 batch/delta writers used to REFUSE bucket transforms
    // ("cannot render engine-side") — SQL INSERT/UPDATE/MERGE/DELETE on a
    // bucket-partitioned table was a dead end even though the imperative
    // path and the SPJ bucket V2 function both derive the same Murmur3.
    // All three now share Transform.bucketOf; this pins the agreement.
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlbucket").toString
    register(wh)
    // (a) bucket on a NULLABLE non-pk column, rows written through BOTH
    // routes — every file's recorded partition value must equal the
    // shared derivation for every row it holds, null keys included
    // (hash-of-null = seed: bucket pmod(42, 4), never a null partition)
    spark.sql(
      """CREATE TABLE graft.tbs (id BIGINT, s STRING, v DOUBLE)
        |PARTITIONED BY (bucket(4, s)) TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.tbs VALUES (1,'a',1.0), (2,'b',2.0), (3,NULL,3.0)")
    val t = graft.lake.LakeTable.load(spark, s"$wh/tbs")
    t.append(Seq((4L, "a", 4.0), (5L, null.asInstanceOf[String], 5.0)).toDF("id", "s", "v"))
    // snapshot paths are table-relative, _graft_file absolute — key by basename
    val fileBucket = t.currentSnapshot.dataFiles
      .map(f => f.path.split('/').last -> f.partition("p_bucket_s")).toMap
    val rows = spark.sql("SELECT s, _graft_file FROM graft.tbs").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val s = if (r.isNullAt(0)) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))
      val expect = graft.lake.Transform
        .bucketOf(4, s, org.apache.spark.sql.types.StringType).toString
      val got = fileBucket(r.getString(1).split('/').last)
      assert(got == expect, s"route drift for key ${r.get(0)}: file says $got, bucketOf $expect")
    }
    assert(!fileBucket.values.exists(_ == graft.lake.PartitionValues.NullSentinel),
      "a null bucket key must land in pmod(42, n), never a null partition")
    // (b) the DELTA path on a pk-bucketed table: MoR UPDATE/DELETE land as
    // partition-SCOPED sidecars (pk is the rowId, so the bucket renders
    // from it) and the merged read converges
    spark.sql(
      """CREATE TABLE graft.tbk (id BIGINT, v DOUBLE)
        |PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.tbk SELECT id, CAST(id AS DOUBLE) FROM range(1, 41)")
    spark.sql("UPDATE graft.tbk SET v = v * 10 WHERE id % 5 = 0")
    spark.sql("DELETE FROM graft.tbk WHERE id % 7 = 0")
    val tk = graft.lake.LakeTable.load(spark, s"$wh/tbk")
    assert(tk.currentSnapshot.deleteFiles.nonEmpty, "MoR lifecycle committed no sidecars")
    assert(tk.currentSnapshot.deleteFiles.forall(_.partition.nonEmpty),
      "bucket sidecars must be partition-scoped now that the rowId bucket renders")
    val expect = (1L until 41L).filter(_ % 7 != 0)
      .map(i => (i, if (i % 5 == 0) i * 10.0 else i.toDouble)).toSet
    assert(spark.sql("SELECT id, v FROM graft.tbk").as[(Long, Double)].collect().toSet == expect)
    spark.sql("DROP TABLE graft.tbs"); spark.sql("DROP TABLE graft.tbk")
  }

  test("re-bucketing refuses field-name reuse; the aliased path keeps scoped sidecars sound across eras") {
    // r18 review: bucket delete-sidecars are now partition-SCOPED, and
    // deleteFilesFor compares partition values BY NAME — so a spec
    // evolution that reused a field name with a different derivation
    // (bucket(4) -> bucket(8), same default p_bucket_id) would misread
    // old files' tuples and silently drop tombstones (row resurrection).
    // evolvePartitionSpec's history guard refuses exactly that; this pins
    // the refusal AND walks the legal aliased route through the would-be
    // resurrection scenario.
    val wh = java.nio.file.Files.createTempDirectory("graft-rebucket").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.trbk (id BIGINT, v DOUBLE)
        |PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.trbk SELECT id, CAST(id AS DOUBLE) FROM range(1, 21)")
    // same derived name p_bucket_id, different count — refused, whole chain
    val e = intercept[Exception](
      spark.sql("CALL graft.system.evolve_partition_spec('trbk', 'bucket(8, id)')"))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages(e).contains("cannot be redefined"), messages(e))
    // the legal route: a FRESH field name; old files lack it and keep
    // every scoped sidecar conservatively
    spark.sql("CALL graft.system.evolve_partition_spec('trbk', 'bucket(8, id) AS p_bk8')")
    spark.sql("INSERT INTO graft.trbk SELECT id, CAST(id AS DOUBLE) FROM range(21, 41)")
    // MoR DELETE spanning BOTH eras: sidecars scope to the new spec
    spark.sql("DELETE FROM graft.trbk WHERE id % 2 = 0")
    val t = graft.lake.LakeTable.load(spark, s"$wh/trbk")
    assert(t.currentSnapshot.deleteFiles.nonEmpty, "expected MoR sidecars")
    val odd = (1L until 41L).filter(_ % 2 == 1).toSet
    assert(spark.sql("SELECT id FROM graft.trbk").as[Long].collect().toSet == odd)
    // the resurrection shapes: a PRUNED read whose candidates are only
    // old-era files must still fold the tombstones...
    assert(spark.sql("SELECT id FROM graft.trbk WHERE id < 21").as[Long].collect().toSet
      == odd.filter(_ < 21))
    // ...and compaction must not rewrite 'deleted' rows back to life
    t.compactDirty()
    assert(spark.sql("SELECT id FROM graft.trbk").as[Long].collect().toSet == odd)
    spark.sql("DROP TABLE graft.trbk")
  }

  test("SQL lifecycle: CREATE, INSERT, SELECT, pruning, time travel, ALTER, DESCRIBE, DROP") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlcat").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.tx (id BIGINT, d TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (months(d))
        |TBLPROPERTIES ('cluster_by'='id','primary_key'='id')""".stripMargin)
    val t = graft.lake.LakeTable.load(spark, s"$wh/tx")
    assert(t.meta.partitionSpec.map(p => (p.source, p.transform.name)) == Seq(("d", "month")))
    assert(t.meta.primaryKey == Seq("id") && t.meta.clusterBy == Seq("id"))

    spark.sql(
      """INSERT INTO graft.tx VALUES
        |  (1, TIMESTAMP '2024-01-15 00:00:00', 1.5),
        |  (2, TIMESTAMP '2024-02-15 00:00:00', 2.5)""".stripMargin)
    spark.sql("INSERT INTO graft.tx VALUES (3, TIMESTAMP '2024-03-15 00:00:00', 3.5)")
    assert(spark.sql("SELECT * FROM graft.tx").count() == 3)

    // month-transform pruning reaches the SQL route
    val pruned = spark.sql("SELECT * FROM graft.tx WHERE d >= TIMESTAMP '2024-03-01 00:00:00'")
    assert(pruned.count() == 1)
    assert(pruned.rdd.getNumPartitions <
      spark.sql("SELECT * FROM graft.tx").rdd.getNumPartitions, "SQL predicate pruned nothing")

    // time travel: snapshot 1 = first INSERT only
    assert(spark.sql("SELECT * FROM graft.tx VERSION AS OF 1").count() == 2)

    spark.sql("ALTER TABLE graft.tx ADD COLUMN tier STRING")
    spark.sql("INSERT INTO graft.tx VALUES (4, TIMESTAMP '2024-04-15 00:00:00', 4.5, 'gold')")
    val tiers = spark.sql("SELECT id, tier FROM graft.tx")
      .as[(Long, Option[String])].collect().toMap
    assert(tiers(1L).isEmpty, "pre-ALTER row must null-fill the evolved column")
    assert(tiers(4L).contains("gold"))

    val desc = spark.sql("DESCRIBE TABLE graft.tx").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.contains(("id", "bigint")) && desc.contains(("tier", "string")),
      s"DESCRIBE missing columns: ${desc.mkString(", ")}")
    assert(desc.exists(_._2.contains("months(d)")), s"DESCRIBE missing partitioning: ${desc.mkString(", ")}")

    assert(spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1)).contains("tx"))
    spark.sql("DROP TABLE graft.tx")
    assert(!graft.lake.LakeTable.exists(spark, s"$wh/tx"))
    intercept[Exception](spark.sql("SELECT * FROM graft.tx").collect())
  }

  test("SQL ALTER COLUMN TYPE: lossless widening promotes; narrowing is rejected") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlpromote").toString
    register(wh)
    spark.sql("CREATE TABLE graft.tp (id BIGINT, qty INT, ratio FLOAT) " +
      "TBLPROPERTIES ('primary_key'='id')")
    spark.sql("INSERT INTO graft.tp VALUES (1, 10, CAST(1.5 AS FLOAT))")
    spark.sql("ALTER TABLE graft.tp ALTER COLUMN qty TYPE BIGINT")
    spark.sql("ALTER TABLE graft.tp ALTER COLUMN ratio TYPE DOUBLE")
    spark.sql("INSERT INTO graft.tp VALUES (2, 5000000000, 2.25)")
    val got = spark.sql("SELECT id, qty, ratio FROM graft.tp ORDER BY id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10L, 1.5), (2L, 5000000000L, 2.25)))
    intercept[Exception](spark.sql("ALTER TABLE graft.tp ALTER COLUMN qty TYPE INT"))
    // DROP COLUMN: metadata-only, both eras read narrowed
    spark.sql("ALTER TABLE graft.tp DROP COLUMN ratio")
    assert(spark.sql("SELECT * FROM graft.tp").columns.toSeq == Seq("id", "qty"))
    assert(spark.sql("SELECT * FROM graft.tp").count() == 2)
    intercept[Exception](spark.sql("ALTER TABLE graft.tp DROP COLUMN id")) // pk refuses
    spark.sql("DROP TABLE graft.tp")
  }

  test("CTAS: CREATE TABLE ... AS SELECT materializes a lake table") {
    val wh = java.nio.file.Files.createTempDirectory("graft-ctas").toString
    register(wh)
    graft.Tables.load(spark, sfDir, "orders").createOrReplaceTempView("orders_ctas_src")
    spark.sql(
      """CREATE TABLE graft.ctas_orders
        |TBLPROPERTIES ('primary_key'='id')
        |AS SELECT o_orderkey AS id, o_orderstatus AS s FROM orders_ctas_src""".stripMargin)
    val n = graft.Tables.load(spark, sfDir, "orders").count()
    assert(spark.sql("SELECT COUNT(*) FROM graft.ctas_orders").head().getLong(0) == n)
    val t = graft.lake.LakeTable.load(spark, s"$wh/ctas_orders")
    assert(t.meta.primaryKey == Seq("id"))
    assert(t.scan().count() == n)
  }

  test("SQL UPDATE and MERGE INTO: copy-on-write restatements") {
    withRowLevelMode("copy-on-write") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlupd").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.tm (id BIGINT, s STRING, v DOUBLE)
        |TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.tm VALUES (1,'a',1.0), (2,'b',2.0), (3,'c',3.0)")
    spark.sql("UPDATE graft.tm SET v = v * 10 WHERE id >= 2")
    assert(spark.sql("SELECT SUM(v) FROM graft.tm").head().getDouble(0) == 1.0 + 20.0 + 30.0)
    // MERGE: update matched, insert unmatched
    Seq((2L, "B", 200.0), (4L, "d", 4.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("tm_changes")
    spark.sql(
      """MERGE INTO graft.tm t USING tm_changes c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET t.s = c.s, t.v = c.v
        |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (c.id, c.s, c.v)""".stripMargin)
    val got = spark.sql("SELECT id, s, v FROM graft.tm")
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 1.0), (2L, "B", 200.0), (3L, "c", 30.0), (4L, "d", 4.0)),
      s"MERGE result wrong: $got")
    // history preserved: the pre-UPDATE state is still time-travelable
    assert(spark.sql("SELECT SUM(v) FROM graft.tm VERSION AS OF 1").head().getDouble(0) == 6.0)
    }
  }

  test("DELETE with an unpushable predicate falls back to copy-on-write") {
    withRowLevelMode("copy-on-write") {
    val wh = java.nio.file.Files.createTempDirectory("graft-cowdel").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.tcw (id BIGINT, s STRING)
        |TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.tcw VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    // id % 2 has no v1-filter form: canDeleteWhere declines, the row-level
    // group-based path rewrites the table instead of erroring
    spark.sql("DELETE FROM graft.tcw WHERE id % 2 = 0")
    assert(spark.sql("SELECT id FROM graft.tcw").as[Long].collect().toSet == Set(1L, 3L))
    val t = graft.lake.LakeTable.load(spark, s"$wh/tcw")
    assert(t.currentSnapshot.operation == "rewrite-dsv2",
      s"expected group-replace COW fallback, got ${t.currentSnapshot.operation}")
    }
  }

  test("row-level UPDATE rewrites ONLY the files holding matching rows (runtime group filter)") {
    withRowLevelMode("copy-on-write") {
    val wh = java.nio.file.Files.createTempDirectory("graft-groupfilter").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.tgf (id BIGINT, d TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (months(d)) TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    // three commits -> at least three files across three month partitions
    spark.sql("INSERT INTO graft.tgf VALUES (1, TIMESTAMP '2024-01-15 00:00:00', 1.0)")
    spark.sql("INSERT INTO graft.tgf VALUES (2, TIMESTAMP '2024-02-15 00:00:00', 2.0)")
    spark.sql("INSERT INTO graft.tgf VALUES (3, TIMESTAMP '2024-03-15 00:00:00', 3.0)")
    val t = graft.lake.LakeTable.load(spark, s"$wh/tgf")
    val before = t.currentSnapshot.dataFiles
    assert(before.size >= 3)
    // UPDATE touching only the February row: the runtime group filter must
    // confine the rewrite to the file(s) holding it
    spark.sql("UPDATE graft.tgf SET v = v * 10 WHERE id % 10 = 2")
    val after = t.currentSnapshot
    assert(after.operation == "rewrite-dsv2", s"got ${after.operation}")
    val beforePaths = before.map(_.path).toSet
    val carried = after.dataFiles.filter(f => beforePaths.contains(f.path))
    assert(carried.size == before.size - 1,
      s"expected exactly one file replaced; before=${before.size} carried=${carried.size}")
    assert(carried.forall(f => before.find(_.path == f.path).contains(f)),
      "carried-over file entries must be byte-identical")
    // content correct: only id=2 restated
    assert(spark.sql("SELECT id, v FROM graft.tgf ORDER BY id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    // time travel still serves the pre-update state
    assert(spark.sql("SELECT v FROM graft.tgf VERSION AS OF 3 WHERE id = 2")
      .as[Double].head() == 2.0)
    // MERGE INTO group-filters the same way: only the matched file rewrites
    spark.range(1).selectExpr("cast(3 as bigint) id", "cast(99.0 as double) nv")
      .createOrReplaceTempView("tgf_src")
    val preMerge = t.currentSnapshot.dataFiles.map(_.path).toSet
    spark.sql("MERGE INTO graft.tgf t USING tgf_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv")
    val postMerge = t.currentSnapshot
    assert(postMerge.operation == "rewrite-dsv2")
    assert(postMerge.dataFiles.map(_.path).toSet.intersect(preMerge).size == preMerge.size - 1,
      "MERGE must carry every unmatched file over")
    assert(spark.sql("SELECT v FROM graft.tgf WHERE id = 3").as[Double].head() == 99.0)
    }
  }

  test("SQL UPDATE / MERGE / unpushable DELETE under merge-on-read: deltas, no file rewrite") {
    // default mode — the reference declares write.update/merge.mode =
    // merge-on-read (destination.json:89-91); no conf pin needed
    val wh = java.nio.file.Files.createTempDirectory("graft-morupd").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.tmor (id BIGINT, s STRING, v DOUBLE)
        |TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.tmor VALUES (1,'a',1.0), (2,'b',2.0)")
    spark.sql("INSERT INTO graft.tmor VALUES (3,'c',3.0), (4,'d',4.0)")
    val t = graft.lake.LakeTable.load(spark, s"$wh/tmor")
    val before = t.currentSnapshot.dataFiles
    assert(before.size >= 2)

    // UPDATE: delete+re-insert deltas, every pre-existing file carried verbatim
    spark.sql("UPDATE graft.tmor SET v = v * 10 WHERE id >= 3")
    val afterUpd = t.currentSnapshot
    assert(afterUpd.operation == "update-mor", s"got ${afterUpd.operation}")
    assert(afterUpd.deleteFiles.nonEmpty, "MoR UPDATE wrote no delete sidecar")
    assert(before.forall(f => afterUpd.dataFiles.contains(f)),
      "MoR UPDATE must not rewrite any pre-existing data file")
    assert(spark.sql("SELECT id, v FROM graft.tmor ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, 2.0), (3L, 30.0), (4L, 40.0)))
    // history: pre-update state still time-travelable
    assert(spark.sql(s"SELECT SUM(v) FROM graft.tmor VERSION AS OF ${afterUpd.seq - 1}")
      .head().getDouble(0) == 10.0)

    // MERGE: matched restated, unmatched inserted — still no rewrite
    val preMerge = t.currentSnapshot.dataFiles
    Seq((2L, "B", 200.0), (9L, "i", 9.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("tmor_changes")
    spark.sql(
      """MERGE INTO graft.tmor t USING tmor_changes c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET t.s = c.s, t.v = c.v
        |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (c.id, c.s, c.v)""".stripMargin)
    val afterMrg = t.currentSnapshot
    assert(afterMrg.operation == "merge-mor", s"got ${afterMrg.operation}")
    assert(preMerge.forall(f => afterMrg.dataFiles.contains(f)),
      "MoR MERGE must not rewrite any pre-existing data file")
    assert(spark.sql("SELECT id, s, v FROM graft.tmor").as[(Long, String, Double)]
      .collect().toSet ==
      Set((1L, "a", 1.0), (2L, "B", 200.0), (3L, "c", 30.0), (4L, "d", 40.0), (9L, "i", 9.0)))

    // MERGE with NOT MATCHED BY SOURCE: target rows absent from the source
    // delete as deltas too (the full tri-clause merge)
    val preNmbs = t.currentSnapshot.dataFiles
    Seq((1L, "A3", 111.0), (2L, "B3", 222.0), (3L, "C3", 333.0), (9L, "I3", 999.0))
      .toDF("id", "s", "v").createOrReplaceTempView("tmor_full")
    spark.sql(
      """MERGE INTO graft.tmor t USING tmor_full c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET t.s = c.s, t.v = c.v
        |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (c.id, c.s, c.v)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val afterNmbs = t.currentSnapshot
    assert(afterNmbs.operation == "merge-mor", s"got ${afterNmbs.operation}")
    assert(preNmbs.forall(f => afterNmbs.dataFiles.contains(f)),
      "tri-clause MERGE must not rewrite any pre-existing data file")
    assert(spark.sql("SELECT id, s, v FROM graft.tmor").as[(Long, String, Double)]
      .collect().toSet ==
      Set((1L, "A3", 111.0), (2L, "B3", 222.0), (3L, "C3", 333.0), (9L, "I3", 999.0)),
      "NOT MATCHED BY SOURCE must delete the unmatched target row (id=4)")

    // unpushable DELETE: delta delete keys, no COW fallback
    val preDel = t.currentSnapshot.dataFiles
    spark.sql("DELETE FROM graft.tmor WHERE id % 2 = 0")
    val afterDel = t.currentSnapshot
    assert(afterDel.operation == "delete-mor", s"got ${afterDel.operation}")
    assert(preDel.forall(f => afterDel.dataFiles.contains(f)),
      "MoR DELETE must not rewrite any pre-existing data file")
    assert(spark.sql("SELECT id FROM graft.tmor").as[Long].collect().toSet ==
      Set(1L, 3L, 9L))

    // compaction folds the whole MoR lifecycle away; content unchanged
    t.compactDirty()
    assert(spark.sql("SELECT id, v FROM graft.tmor").as[(Long, Double)].collect().toSet ==
      Set((1L, 111.0), (3L, 333.0), (9L, 999.0)))
  }

  test("MoR UPDATE that rewrites the primary key itself stays correct (delete + re-insert)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-morpk").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.tpkm (id BIGINT, s STRING)
        |TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.tpkm VALUES (1,'a'), (2,'b')")
    spark.sql("UPDATE graft.tpkm SET id = id + 100 WHERE id = 2")
    assert(spark.sql("SELECT id, s FROM graft.tpkm").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (102L, "b")),
      "pk-rewriting UPDATE must tombstone the old identity and insert the new one")
  }

  test("MoR MERGE under a wide shuffle commits O(partitions) data files, not O(tasks x partitions)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mordist").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.tdist (id BIGINT, p STRING, v DOUBLE)
        |PARTITIONED BY (p) TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    val nParts = 8
    val seed = (1L to 400L).map(i => (i, s"p${i % nParts}", i * 1.0)).toDF("id", "p", "v")
    seed.createOrReplaceTempView("tdist_seed")
    spark.sql("INSERT INTO graft.tdist SELECT * FROM tdist_seed")
    // updates touching EVERY partition, spread across many tasks — the
    // shape that fans out to tasks x partitions files without the delta
    // write's clustering requirement
    seed.withColumn("v", org.apache.spark.sql.functions.col("v") * 10).repartition(16)
      .createOrReplaceTempView("tdist_changes")
    val t = graft.lake.LakeTable.load(spark, s"$wh/tdist")
    val before = t.currentSnapshot.dataFiles.map(_.path).toSet
    spark.sql(
      """MERGE INTO graft.tdist t USING tdist_changes c ON t.id = c.id
        |WHEN MATCHED THEN UPDATE SET t.v = c.v""".stripMargin)
    val after = t.currentSnapshot
    assert(after.operation == "merge-mor", s"got ${after.operation}")
    val newFiles = after.dataFiles.filterNot(f => before(f.path))
    assert(newFiles.nonEmpty)
    assert(newFiles.size <= nParts + 2,
      s"delta write fanned out: ${newFiles.size} new data files for $nParts partitions")
    assert(spark.sql("SELECT SUM(v) FROM graft.tdist").head().getDouble(0) ==
      (1L to 400L).map(_ * 10.0).sum)
  }

  test("empty-string pk partition: MoR delete sidecars match Hive-sentinel data files") {
    val wh = java.nio.file.Files.createTempDirectory("graft-morempty").toString
    register(wh)
    import graft.lake.{LakeTable, PartitionField, PartitionValues, PruneFilter, Transform}
    // data files written via the DataFrame path: Hive directory rendering
    // conflates null and "" into __HIVE_DEFAULT_PARTITION__
    val df = Seq(("", 1.0), ("a", 2.0)).toDF("s", "v")
    val t = LakeTable.create(spark, s"$wh/tes", "tes", df.schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
      primaryKey = Seq("s"))
    t.append(df)
    assert(t.currentSnapshot.dataFiles.exists(_.partition("p_s") == PartitionValues.NullSentinel),
      "DataFrame path must record the Hive sentinel for the empty-string row")
    // SQL MoR UPDATE scopes its delete sidecar via renderPartition — the
    // rendering must agree with the sentinel or the delete silently skips
    // (the stale row would stay visible next to the re-inserted one)
    spark.sql("UPDATE graft.tes SET v = 10.0 WHERE s = ''")
    val snap = t.currentSnapshot
    assert(snap.operation == "update-mor", s"got ${snap.operation}")
    assert(snap.deleteFiles.forall(d =>
      d.partition.get("p_s").forall(_ == PartitionValues.NullSentinel)),
      s"delete sidecar rendered '' instead of the sentinel: ${snap.deleteFiles}")
    assert(spark.sql("SELECT s, v FROM graft.tes").as[(String, Double)].collect().toSet ==
      Set(("", 10.0), ("a", 2.0)),
      "stale empty-string row: delete sidecar did not match the sentinel data file")
    // the re-inserted DSv2 row must itself record the sentinel, and a
    // pruned scan on s='' must keep (not prune) sentinel files
    assert(t.scan(filters = Seq(PruneFilter.Eq("s", "")))
      .as[(String, Double)].collect().toSet == Set(("", 10.0)))
    // reverse direction: a CDC-style DataFrame upsert (sidecar via the
    // Hive path) must tombstone the DSv2-re-inserted sentinel data file
    t.upsert(Seq(("", 99.0)).toDF("s", "v"))
    assert(t.scan().as[(String, Double)].collect().toSet ==
      Set(("", 99.0), ("a", 2.0)))
  }

  test("USE graft: unqualified names resolve through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft-usecat").toString
    register(wh)
    spark.sql("CREATE TABLE graft.tu (id BIGINT)")
    spark.sql("INSERT INTO graft.tu VALUES (7)")
    spark.sql("USE graft")
    try {
      assert(spark.sql("SELECT id FROM tu").as[Long].head() == 7L)
      assert(spark.sql("SHOW TABLES").collect().map(_.getString(1)).contains("tu"))
    } finally spark.sql("USE spark_catalog.default")
  }

  test("SQL DELETE FROM commits a merge-on-read delete, no table rewrite") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqldel").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.td (id BIGINT, s STRING)
        |TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.td VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    spark.sql("DELETE FROM graft.td WHERE id <= 2 OR s = 'd'")
    assert(spark.sql("SELECT id FROM graft.td").as[Long].collect().toSeq == Seq(3L))
    val t = graft.lake.LakeTable.load(spark, s"$wh/td")
    val snap = t.currentSnapshot
    assert(snap.operation == "delete" && snap.deleteFiles.nonEmpty,
      s"DELETE was not merge-on-read: ${snap.operation}")
    // the base data file was NOT rewritten
    assert(snap.dataFiles.map(_.seq).forall(_ < snap.seq), "DELETE rewrote data files")
    // time travel still sees the pre-delete state
    assert(spark.sql(s"SELECT * FROM graft.td VERSION AS OF ${snap.seq - 1}").count() == 4)
  }

  test("SQL INSERT OVERWRITE replaces table content in one snapshot; time travel keeps history") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlow").toString
    register(wh)
    spark.sql("CREATE TABLE graft.tow (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.tow VALUES (1,'old'), (2,'old')")
    spark.sql("INSERT OVERWRITE graft.tow VALUES (10,'new'), (11,'new'), (12,'new')")
    assert(spark.sql("SELECT id FROM graft.tow").as[Long].collect().sorted.toSeq ==
      Seq(10L, 11L, 12L))
    val t = graft.lake.LakeTable.load(spark, s"$wh/tow")
    assert(t.currentSnapshot.operation == "overwrite-dsv2")
    assert(spark.sql("SELECT * FROM graft.tow VERSION AS OF 1").count() == 2)
  }

  test("SQL DELETE/UPDATE/MERGE over live delete files stay exact, MoR and COW") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sql-live-dels").toString
    register(wh)
    def ids(table: String): Set[(Long, Double)] =
      spark.sql(s"SELECT id, v FROM graft.$table").as[(Long, Double)].collect().toSet
    // merge-on-read (default mode): every row-level command reads through
    // the planned fold, its own operation scan included
    spark.sql(
      """CREATE TABLE graft.tdl (id BIGINT, v DOUBLE)
        |TBLPROPERTIES ('primary_key'='id')""".stripMargin)
    spark.sql("INSERT INTO graft.tdl VALUES (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)")
    spark.sql("INSERT INTO graft.tdl VALUES (5, 5.0), (6, 6.0), (7, 7.0), (8, 8.0)")
    spark.sql("DELETE FROM graft.tdl WHERE id = 1") // metadata-only: a live delete file
    val tdl = graft.lake.LakeTable.load(spark, s"$wh/tdl")
    assert(tdl.currentSnapshot.deleteFiles.nonEmpty)
    spark.sql("DELETE FROM graft.tdl WHERE id % 4 = 2") // unpushable: a delta write
    spark.sql("UPDATE graft.tdl SET v = v * 10 WHERE id >= 5")
    Seq((3L, 33.0), (9L, 9.0)).toDF("id", "v").createOrReplaceTempView("tdl_src")
    spark.sql(
      """MERGE INTO graft.tdl t USING tdl_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(ids("tdl") ==
      Set((3L, 33.0), (4L, 4.0), (5L, 50.0), (7L, 70.0), (8L, 80.0), (9L, 9.0)))
    assert(tdl.currentSnapshot.operation == "merge-mor")
    val plan = spark.sql("SELECT * FROM graft.tdl").queryExecution.executedPlan.toString
    assert(plan.contains("mor=deferred") && plan.contains("LeftAnti"), plan)

    // copy-on-write: the runtime group filter computes its file set over the
    // FOLDED rows, so a deleted row version matching the condition does not
    // pull its file into the rewrite, and the rewrite never resurrects it
    withRowLevelMode("copy-on-write") {
      spark.sql(
        """CREATE TABLE graft.tdc (id BIGINT, d TIMESTAMP, v DOUBLE)
          |PARTITIONED BY (months(d)) TBLPROPERTIES ('primary_key'='id')""".stripMargin)
      spark.sql("INSERT INTO graft.tdc VALUES (1, TIMESTAMP '2024-01-15 00:00:00', 1.0), " +
        "(12, TIMESTAMP '2024-01-20 00:00:00', 12.0)")
      spark.sql("INSERT INTO graft.tdc VALUES (2, TIMESTAMP '2024-02-15 00:00:00', 2.0)")
      spark.sql("INSERT INTO graft.tdc VALUES (3, TIMESTAMP '2024-03-15 00:00:00', 3.0)")
      spark.sql("DELETE FROM graft.tdc WHERE id = 12")
      val tdc = graft.lake.LakeTable.load(spark, s"$wh/tdc")
      val before = tdc.currentSnapshot
      assert(before.deleteFiles.nonEmpty && before.dataFiles.size == 3)
      // matches live id=2 (February) and the deleted id=12 (January)
      spark.sql("UPDATE graft.tdc SET v = v * 10 WHERE id % 10 = 2")
      val after = tdc.currentSnapshot
      assert(after.operation == "rewrite-dsv2", s"got ${after.operation}")
      val beforePaths = before.dataFiles.map(_.path).toSet
      assert(after.dataFiles.count(f => beforePaths.contains(f.path)) == 2,
        s"expected only the February file replaced: ${after.dataFiles.map(_.path)}")
      assert(ids("tdc") == Set((1L, 1.0), (2L, 20.0), (3L, 3.0)))
      Seq((3L, 99.0)).toDF("id", "nv").createOrReplaceTempView("tdc_src")
      spark.sql("MERGE INTO graft.tdc t USING tdc_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv")
      assert(ids("tdc") == Set((1L, 1.0), (2L, 20.0), (3L, 99.0)))
    }
  }

  test("SQL CTAS-equivalent medallion flow: INSERT INTO ... SELECT from a raw view") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlcat2").toString
    register(wh)
    graft.Tables.load(spark, sfDir, "orders").createOrReplaceTempView("orders_raw_spec")
    spark.sql(
      """CREATE TABLE graft.silver_spec (
        |  order_id BIGINT, status STRING, order_date TIMESTAMP, total_amount DOUBLE)
        |PARTITIONED BY (months(order_date))
        |TBLPROPERTIES ('cluster_by'='order_id','primary_key'='order_id')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.silver_spec
        |SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
        |FROM orders_raw_spec""".stripMargin)
    val n = spark.sql("SELECT COUNT(*) FROM graft.silver_spec").head().getLong(0)
    assert(n == graft.Tables.load(spark, sfDir, "orders").count())
    // the SQL-written table is a plain lake table: the imperative scan agrees
    val t = graft.lake.LakeTable.load(spark, s"$wh/silver_spec")
    assert(t.scan().count() == n)
    assert(t.currentSnapshot.dataFiles.forall(_.partition.contains("p_month_order_date")))
  }

  test("CREATE TABLE ... cluster_strategy=zorder plumbs through to the lake table") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlzorder").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.zt (id BIGINT, x INT, y INT)
        |TBLPROPERTIES ('cluster_by'='x,y', 'cluster_strategy'='zorder')""".stripMargin)
    assert(graft.lake.LakeTable.load(spark, s"$wh/zt").meta.clusterStrategy == "zorder")
    // SQL INSERT is z-arranged like every write route (the table's write
    // arrangement sorts by the `zorder` V2 function); rewrite_data_files
    // is the OPTIMIZE ZORDER equivalent that re-clusters across commits.
    // 16 write tasks kept apart: each write stages 16 z-range files
    val rng = new scala.util.Random(11)
    (1 to 20000).map(i => (i.toLong, rng.nextInt(100000), rng.nextInt(100000)))
      .toDF("id", "x", "y").createOrReplaceTempView("zt_src")
    // two commits → the (single, unpartitioned) bin is over-full at
    // target 1, so rewrite_data_files really rewrites
    withConfs(SixteenWriteTasks) {
      spark.sql("INSERT INTO graft.zt SELECT * FROM zt_src WHERE id % 2 = 0")
      spark.sql("INSERT INTO graft.zt SELECT * FROM zt_src WHERE id % 2 = 1")
    }
    val inserted = graft.lake.LakeTable.load(spark, s"$wh/zt")
    val totalIns = inserted.currentSnapshot.dataFiles.size
    assert(totalIns > 4, s"the SQL inserts staged too few files to check skipping: $totalIns")
    for (k <- Seq("x", "y")) {
      val kept = inserted.planFiles(inserted.currentSnapshot,
        Seq(graft.lake.PruneFilter.Lt(k, 5000)))._1.size
      assert(kept <= totalIns / 2,
        s"SQL INSERT did not z-arrange: $kept/$totalIns files on a $k filter")
    }
    withConfs(SixteenWriteTasks)(spark.sql("CALL graft.system.rewrite_data_files('zt')").collect())
    val zt = graft.lake.LakeTable.load(spark, s"$wh/zt")
    val totalZ = zt.currentSnapshot.dataFiles.size
    assert(totalZ > 4, s"compaction produced too few files to check skipping: $totalZ")
    val keptY = zt.planFiles(zt.currentSnapshot,
      Seq(graft.lake.PruneFilter.Lt("y", 5000)))._1.size
    assert(keptY <= totalZ / 2,
      s"rewrite_data_files did not restore the z-layout: $keptY/$totalZ files on a y filter")
    assert(spark.sql("SELECT COUNT(*) FROM graft.zt").head().getLong(0) == 20000L)
    spark.sql("DROP TABLE graft.zt")
    // a string cluster key refuses z-order at CREATE time
    val err = intercept[Exception](spark.sql(
      """CREATE TABLE graft.zbad (id BIGINT, s STRING)
        |TBLPROPERTIES ('cluster_by'='s', 'cluster_strategy'='zorder')""".stripMargin))
    assert(err.getMessage.contains("numeric"))
  }

  test("metadata tables: $snapshots/$files/$partitions answer from metadata, no data I/O") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlmeta").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.mt (id BIGINT, s STRING)
        |PARTITIONED BY (identity(s))""".stripMargin)
    spark.sql("INSERT INTO graft.mt VALUES (1, 'A'), (2, 'A'), (3, 'B')")
    spark.sql("INSERT INTO graft.mt VALUES (4, 'B')")

    val snaps = spark.sql("SELECT seq, operation FROM graft.`mt$snapshots`")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(snaps.map(_._2).toSeq == Seq("create", "append-dsv2", "append-dsv2"))

    val files = spark.sql("SELECT path, partition, rows FROM graft.`mt$files`")
      .as[(String, String, Long)].collect()
    assert(files.length == t0FileCount(wh))
    assert(files.forall(f => f._2.startsWith("p_s=")))
    assert(files.map(_._3).sum == 4, s"metadata row counts wrong: ${files.mkString(", ")}")

    val parts = spark.sql("SELECT partition, files, rows FROM graft.`mt$partitions`")
      .as[(String, Int, Long)].collect().sortBy(_._1)
    assert(parts.map(p => (p._1, p._3)).toSeq == Seq(("p_s=A", 2L), ("p_s=B", 2L)))

    // readable_metrics idiom: per-column bounds / non-null counts / exact
    // sums the commit recorded, as deterministic JSON per file
    val metrics = spark.sql("SELECT partition, metrics FROM graft.`mt$files`")
      .as[(String, String)].collect().toMap
    val aMetrics = metrics("p_s=A")
    assert(aMetrics.contains(""""id":{"k":"n","lo":"1","hi":"2","nn":2,"sum":"3"}"""),
      s"unexpected metrics document: $aMetrics")

    // a zero-task plan: the scan is driver-local
    val plan = spark.sql("SELECT * FROM graft.`mt$snapshots`")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("GraftLakeMetaTable"),
      s"metadata table planned a distributed scan:\n$plan")
    // unknown suffix still resolves as a (missing) plain table
    intercept[Exception](spark.sql("SELECT * FROM graft.`mt$nope`").collect())
    spark.sql("DROP TABLE graft.mt")
  }

  private def t0FileCount(wh: String): Int =
    graft.lake.LakeTable.load(spark, s"$wh/mt").currentSnapshot.dataFiles.size

  test("CALL graft.system.*: rollback, compaction, expiry, spec evolution from pure SQL") {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlproc").toString
    register(wh)
    spark.sql(
      """CREATE TABLE graft.pt (id BIGINT, d TIMESTAMP, s STRING)
        |PARTITIONED BY (months(d))
        |TBLPROPERTIES ('cluster_by'='id','primary_key'='id')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pt VALUES
        |  (1, TIMESTAMP '2024-01-15 00:00:00', 'a'),
        |  (2, TIMESTAMP '2024-02-15 00:00:00', 'b')""".stripMargin)
    spark.sql("INSERT INTO graft.pt VALUES (3, TIMESTAMP '2024-03-15 00:00:00', 'bad')")

    // rollback undoes the bad insert, returns (previous_seq, current_seq)
    val rb = spark.sql("CALL graft.system.rollback_to_snapshot('pt', 1)").head()
    assert(rb.getLong(0) == 2L && rb.getLong(1) == 3L)
    assert(spark.sql("SELECT * FROM graft.pt").count() == 2)

    // spec evolution from SQL: new writes partition by month AND identity(s)
    val ev = spark.sql(
      "CALL graft.system.evolve_partition_spec('pt', 'months(d), identity(s) AS p_s')").head()
    assert(ev.getInt(0) == 1 && ev.getString(1).contains("identity(s) AS p_s"))
    spark.sql("INSERT INTO graft.pt VALUES (4, TIMESTAMP '2024-04-15 00:00:00', 'c')")
    val t = graft.lake.LakeTable.load(spark, s"$wh/pt")
    val newest = t.currentSnapshot.dataFiles.filter(_.seq == t.currentSeq)
    assert(newest.nonEmpty && newest.forall(_.partition.contains("p_s")))
    assert(spark.sql("SELECT * FROM graft.pt WHERE s = 'c'").count() == 1)

    // compaction (named-arg style) reports the new snapshot's layout
    val rw = spark.sql(
      "CALL graft.system.rewrite_data_files(`table` => 'pt', target_files_per_partition => 1)").head()
    assert(rw.getLong(0) == t.currentSeq + 0 || rw.getLong(0) >= 5L)
    assert(spark.sql("SELECT * FROM graft.pt").count() == 3)

    // expiry keeps the head only; history shrinks to 1 snapshot
    val ex = spark.sql("CALL graft.system.expire_snapshots('pt', 1)").head()
    assert(ex.getInt(1) == 1, s"retained ${ex.getInt(1)} snapshots")
    assert(spark.sql("SELECT * FROM graft.pt").count() == 3)

    // orphan sweep with age 0 runs clean on a healthy table (0 removed —
    // nothing live may be touched)
    val ro = spark.sql("CALL graft.system.remove_orphan_files('pt', 0)").head()
    assert(ro.getInt(0) == 0, s"orphan sweep removed ${ro.getInt(0)} live files")
    assert(spark.sql("SELECT * FROM graft.pt").count() == 3)

    // unknown procedure fails; the cause names the available procedures
    val err = intercept[Exception](spark.sql("CALL graft.system.nope('pt')").collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("nope") &&
      (messages.contains("rollback_to_snapshot") || messages.contains("FAILED_TO_LOAD")),
      s"unhelpful error: $messages")
    spark.sql("DROP TABLE graft.pt")
  }
}
