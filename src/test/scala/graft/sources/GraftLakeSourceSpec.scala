package graft.sources

import graft.SparkSpec
import graft.operators.LakePipelines
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, In, IsNull, StringStartsWith}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

class GraftLakeSourceSpec extends SparkSpec {

  private def readLake(loc: String, asOf: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graftlake").option("path", loc)
    asOf.fold(r)(s => r.option("asOf", s.toString)).load()
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("DSv2 roundtrip equals the imperative scan (partitioned + clustered table)") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    assert(sortedRows(readLake(t.location)) == sortedRows(t.scan()))
  }

  test("DSv2 merge-on-read: tombstoned row versions are dropped") {
    val t = LakePipelines.ordersMor(spark, sfDir)
    // pre-compaction snapshot still has live delete files
    val asOf = LakePipelines.MorDeleteSeq
    assert(sortedRows(readLake(t.location, Some(asOf))) ==
      sortedRows(t.scan(asOf = Some(asOf))))
  }

  test("DSv2 schema evolution: old files null-fill the evolved column") {
    val t = LakePipelines.customerEvolved(spark, sfDir)
    val df = readLake(t.location)
    assert(df.schema.fieldNames.contains("loyalty_tier"))
    assert(sortedRows(df) == sortedRows(t.scan()))
  }

  test("DSv2 type promotion: narrow-era files decode wide on both reader paths") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-promote-dsv2").toString
    val v1 = Seq((1L, 10, 1.5f), (2L, 20, 2.5f)).toDF("id", "qty", "ratio")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", v1.schema, primaryKey = Seq("id"))
    t.append(v1)
    t.promoteColumn("qty", "bigint")
    t.promoteColumn("ratio", "double")
    t.append(Seq((3L, 5000000000L, 3.25)).toDF("id", "qty", "ratio"))
    val expected = Seq((1L, 10L, 1.5), (2L, 20L, 2.5), (3L, 5000000000L, 3.25))
    // plain read: Spark's VECTORIZED parquet reader widens INT32/FLOAT pages
    val vec = readLake(t.location)
    assert(vec.schema("qty").dataType == org.apache.spark.sql.types.LongType)
    assert(vec.as[(Long, Long, Double)].collect().sortBy(_._1).toSeq == expected)
    // a _graft_file projection adds a per-split constant column; the
    // decoded columns still follow each FILE's physical type and widen
    val viaGroup = readLake(t.location)
      .select(col("id"), col("qty"), col("ratio"), col("_graft_file"))
      .as[(Long, Long, Double, String)].collect().sortBy(_._1)
    assert(viaGroup.map(r => (r._1, r._2, r._3)).toSeq == expected)
    assert(viaGroup.map(_._4).distinct.length >= 2, "expected files from both eras")
    // live deletes plan the anti-join over the deferred scan; the promoted
    // pk-adjacent columns must merge across encodings
    t.deleteKeys(Seq(Tuple1(2L)).toDF("id"))
    assert(readLake(t.location).as[(Long, Long, Double)].collect().sortBy(_._1).toSeq ==
      expected.filterNot(_._1 == 2L))
  }

  test("DSv2 time travel via asOf option") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    val v1 = readLake(t.location, Some(LakePipelines.OrdersFirstAppendSeq))
    assert(sortedRows(v1) == sortedRows(t.scan(asOf = Some(LakePipelines.OrdersFirstAppendSeq))))
    assert(v1.count() < readLake(t.location).count())
  }

  test("DSv2 filter pushdown prunes data files (fewer input partitions) with same answer") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    val full = readLake(t.location)
    val pred = col("o_orderdate") >= lit(LakePipelines.PruneLo) &&
      col("o_orderdate") < lit(LakePipelines.PruneHi)
    val filtered = full.filter(pred)
    val nFull = full.rdd.getNumPartitions
    val nPruned = filtered.rdd.getNumPartitions
    assert(nPruned < nFull, s"no pruning: $nPruned of $nFull input partitions")
    // pushdown is visible in the scan description
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PrunedBy"), s"no PrunedBy in:\n$plan")
    // and stays a pure I/O optimization
    val expected = t.scan().filter(pred)
    assert(sortedRows(filtered) == sortedRows(expected))
  }

  test("DSv2 strict-range pushdown: '>' and '<=' predicates prune files too") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    val full = readLake(t.location)
    val pred = col("o_orderdate") > lit(LakePipelines.PruneHi) &&
      col("o_orderdate") <= lit(java.sql.Timestamp.from(
        java.time.Instant.parse("2001-01-01T00:00:00Z")))
    val filtered = full.filter(pred)
    assert(filtered.rdd.getNumPartitions < full.rdd.getNumPartitions,
      "Gt/Le predicates pruned nothing")
    assert(sortedRows(filtered) == sortedRows(t.scan().filter(pred)))
  }

  test("DSv2 column pruning: projected reads decode and return only needed columns") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    val df = readLake(t.location).select("o_orderkey", "o_totalprice")
    assert(df.schema.fieldNames.toSeq == Seq("o_orderkey", "o_totalprice"))
    assert(df.count() == t.scan().count())
  }

  test("large delete sets bypass the driver collect: MoR planned as distributed anti-join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bigdel-spec").toString
    val n = 100000L
    val df = spark.range(n).select(col("id"), (col("id") % 97).cast("double").as("v"))
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    t.deleteKeys(spark.range(0, n, 2).select(col("id")))
    val v2 = readLake(t.location)
    val plan = v2.queryExecution.executedPlan.toString
    assert(plan.contains("mor=deferred"), s"no deferred MoR scan:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti-join in deferred MoR plan:\n$plan")
    assert(v2.count() == n / 2)
    assert(v2.agg(sum("id")).head.getLong(0) == t.scan().agg(sum("id")).head.getLong(0))
  }

  /** A pk table with two data files and one small live delete file. */
  private def smallMorTable(name: String): graft.lake.LakeTable = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", name,
      Seq((0L, 0.0)).toDF("id", "v").schema, primaryKey = Seq("id"))
    t.append(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    t.append(Seq((4L, 4.0), (5L, 5.0)).toDF("id", "v"))
    t.deleteKeys(Seq(Tuple1(2L), Tuple1(5L)).toDF("id"))
    assert(t.currentSnapshot.deleteFiles.map(_.bytes).sum < 4096)
    t
  }

  test("a few bytes of live deletes still plan LeftAnti over a columnar mor=deferred scan") {
    val t = smallMorTable("mor_small")
    val viaSql = { readLake(t.location).createOrReplaceTempView("mor_small_v")
      spark.sql("SELECT id, v FROM mor_small_v WHERE v > 0") }
    Seq(readLake(t.location), viaSql).foreach { df =>
      assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq ==
        Seq((1L, 1.0), (3L, 3.0), (4L, 4.0)))
      val plan = df.queryExecution.executedPlan.toString // AQE's final plan, post-execution
      assert(plan.contains("LeftAnti") && plan.contains("mor=deferred") &&
        plan.contains("GraftLakeDeleteKeys"), s"delete fold not planned:\n$plan")
      assert(plan.contains("ColumnarToRow"), s"MoR scan not columnar:\n$plan")
    }
  }

  test("building a MoR read's plan and reader factories starts zero Spark jobs") {
    val t = smallMorTable("mor_nojobs")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = readLake(t.location).filter(col("v") > 0)
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.size == 2, s"expected row and key scans: $scans")
      scans.foreach(_.readerFactory)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      assert(jobs.get() == 0, s"MoR planning started ${jobs.get()} Spark job(s)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("_graft_file over live deletes serves exactly the merged rows, no opt-in") {
    val t = smallMorTable("mor_file")
    val rows = readLake(t.location).select(col("id"), col("_graft_file")).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    val files = t.currentSnapshot.dataFiles.map(f => t.abs(f.path)).toSet
    assert(rows.forall(r => files.contains(r.getString(1))), rows.mkString(", "))
    // each row names the file that holds it
    rows.foreach { r =>
      assert(spark.read.parquet(r.getString(1)).filter(col("id") === r.getLong(0)).count() == 1,
        s"row ${r.getLong(0)} is not in ${r.getString(1)}")
    }
  }

  test("a MoR read with the delete fold excluded fails naming spark.sql.extensions") {
    val t = smallMorTable("mor_norule")
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.LakeMorRewrite")
    try {
      val e = intercept[Exception](readLake(t.location).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msgs.contains("spark.sql.extensions=graft.plans.GraftExtensions"), msgs)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    // tables without live deletes need no rule
    graft.lake.Maintenance.compact(t)
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.LakeMorRewrite")
    try assert(readLake(t.location).count() == 3)
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("multi-row-group files split into multiple partitions; tombstone-free reads are columnar") {
    val dir = java.nio.file.Files.createTempDirectory("graft-split-spec").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 65536)
    hc.setInt("parquet.page.size", 8192)
    try {
      val n = 200000L
      val df = spark.range(n).select(col("id"), (col("id") * 31 % 1000).as("v"))
      val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema)
      t.append(df)
      val v2 = readLake(t.location)
      val nFiles = t.currentSnapshot.dataFiles.size
      // files below the split target pack whole, like spark.read.parquet
      assert(v2.rdd.getNumPartitions <= nFiles,
        s"small files did not pack: ${v2.rdd.getNumPartitions} partitions for $nFiles files")
      // a file above the split target fans out one partition per row group
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
      val split = try readLake(t.location).rdd.getNumPartitions
        finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
      assert(split > nFiles, s"row groups did not split: $split partitions for $nFiles files")
      // split offsets are recorded in the snapshot at commit time and fully
      // determine the plan (no footer reads at planning)
      assert(t.currentSnapshot.dataFiles.forall(_.splits.nonEmpty), "no split offsets in metadata")
      assert(t.currentSnapshot.dataFiles.map(_.splits.size).sum == split)
      assert(v2.count() == n)
      assert(v2.agg(sum("v")).head.getLong(0) == t.scan().agg(sum("v")).head.getLong(0))
      // vectorized: the columnar scan surfaces as ColumnarToRow in the plan
      val plan = v2.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"), s"DSv2 read not columnar:\n$plan")
    } finally {
      hc.unset("parquet.block.size")
      hc.unset("parquet.page.size")
    }
  }

  private val RowGroupRows = 200000L

  /** One lake file of [[RowGroupRows]] ascending ids (plus `cols` derived
    * from `id`) in many 64 KiB row groups, so per-row-group statistics are
    * monotone and disjoint. `body` gets the table and a reader over the
    * file's LAST chunk (largest ids) for a set of pushed filters, built
    * with the session's pushdown settings as a scan builds it. */
  private def rowGroupFixture(name: String)(cols: Column*)(
      body: (graft.lake.LakeTable, Seq[Filter] => PartitionReader[ColumnarBatch]) => Unit)
      : Unit = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 65536)
    hc.setInt("parquet.page.size", 8192)
    try {
      // repartition(1) + ascending sort: one file, many row groups
      val df = spark.range(RowGroupRows).repartition(1).sortWithinPartitions("id")
        .select(col("id") +: cols: _*)
      val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema)
      t.append(df)
      val file = t.currentSnapshot.dataFiles.maxBy(_.splits.size)
      assert(file.splits.size > 2, s"fixture produced ${file.splits.size} row groups")
      val (start, length) = file.splits.last
      body(t, filters =>
        readerOver(t, df.schema, Seq(GraftChunk(t.abs(file.path), start, length)), filters))
    } finally {
      hc.unset("parquet.block.size")
      hc.unset("parquet.page.size")
    }
  }

  private def readerOver(t: graft.lake.LakeTable, required: StructType,
      chunks: Seq[GraftChunk], filters: Seq[Filter]): PartitionReader[ColumnarBatch] =
    GraftLakeReaderFactory(required, t.hadoopConfEntries, RowGroupFilter.of(spark, filters))
      .createColumnarReader(GraftLakeInputPartition(chunks))

  /** Whether `r` decodes any batch; closes it. */
  private def decodes(r: PartitionReader[ColumnarBatch]): Boolean = try r.next() finally r.close()

  test("pushed predicates skip whole row groups from parquet stats") {
    rowGroupFixture("graft-rgskip-spec")((col("id") * 31 % 1000).as("v")) { (t, lastChunk) =>
      // without a predicate the row group decodes batches...
      assert(decodes(lastChunk(Nil)), "unfiltered row group returned no batch")
      // ...with a refuted predicate (id = 5 lives in the FIRST row group)
      // the reader skips the entire row group without decoding anything
      assert(!decodes(lastChunk(Seq(EqualTo("id", 5L)))), "stats-refuted row group was decoded")

      // end to end: the SQL-visible result is exact with pushdown active
      val v2 = readLake(t.location)
      assert(v2.filter(col("id") === 5L).count() == 1)
      assert(v2.filter(col("id") < 100L).agg(sum("id")).head.getLong(0) == 4950L)
      // one chunk per row group: each chunk's footer keeps only its own row
      // group, so every row is read exactly once
      withConfs(Map("spark.sql.files.maxPartitionBytes" -> "1")) {
        val perRowGroup = readLake(t.location).filter(col("v") >= 0L)
        assert(perRowGroup.rdd.getNumPartitions > 2)
        assert(perRowGroup.count() == RowGroupRows)
      }
    }
  }

  test("row-group skipping follows spark.sql.parquet.filterPushdown") {
    rowGroupFixture("graft-rgswitch-spec")() { (t, lastChunk) =>
      val refuted = Seq(EqualTo("id", 5L))
      // rows the SQL scan decodes: its one chunk is the whole file
      def scanned(): Long = {
        val df = readLake(t.location).filter(col("id") === 5L)
        assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L))
        df.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.metrics("numOutputRows").value
        }.get
      }
      withConfs(Map("spark.sql.parquet.filterPushdown" -> "false",
          "spark.sql.adaptive.enabled" -> "false")) {
        assert(decodes(lastChunk(refuted)), "pushdown off, yet the row group was skipped")
        assert(scanned() == RowGroupRows)
      }
      withConfs(Map("spark.sql.parquet.filterPushdown" -> "true",
          "spark.sql.adaptive.enabled" -> "false")) {
        assert(!decodes(lastChunk(refuted)), "stats-refuted row group was decoded")
        val rows = scanned()
        assert(rows < RowGroupRows / 2, s"pushdown on, yet the scan decoded $rows rows")
      }
    }
  }

  test("row groups skip on IS NULL, prefix, long IN lists and FLBA decimals") {
    val early = (0L until 25L).toArray[Any] // more values than the old 20-value cap
    val cents = new java.math.BigDecimal("1.50")
    rowGroupFixture("graft-rgshapes-spec")(
      when(col("id") >= 1000L, col("id")).as("late"), // null only in the first row groups
      format_string("k%06d", col("id")).as("s"),
      (col("id").cast("decimal(20,0)") * lit(new java.math.BigDecimal("0.01")))
        .cast("decimal(20,2)").as("w") // precision > 18: FIXED_LEN_BYTE_ARRAY
    ) { (t, lastChunk) =>
      // every shape's match lives in the FIRST row groups
      Seq(IsNull("late"), StringStartsWith("s", "k00001"), In("id", early), EqualTo("w", cents))
        .foreach(f => assert(!decodes(lastChunk(Seq(f))), s"$f: refuted row group was decoded"))

      val v2 = readLake(t.location)
      assert(v2.filter(col("late").isNull).count() == 1000)
      assert(v2.filter(col("s").startsWith("k00001")).count() == 10)
      assert(v2.filter(col("id").isin(early.toIndexedSeq: _*)).count() == 25)
      assert(v2.filter(col("w") === lit(cents)).collect().map(_.getLong(0)).toSeq == Seq(150L))
    }
  }

  test("decimal predicates row-group-skip in the unscaled domain; boundaries exact") {
    // ascending money in one file: many row groups, disjoint ranges
    rowGroupFixture("graft-decrg-spec")(
      (col("id").cast("decimal(14,0)") * lit(new java.math.BigDecimal("0.01")))
        .cast("decimal(12,2)").as("m")
    ) { (t, lastChunk) =>
      // m = 1.50 lives in the FIRST row group: the unscaled-int64 predicate
      // (150) must refute the last row group's stats without decoding it —
      // a predicate carrying the SCALED 1.50 would never refute anything
      assert(!decodes(lastChunk(Seq(EqualTo("m", new java.math.BigDecimal("1.50"))))),
        "stats-refuted row group was decoded")

      // a literal not representable at the column scale builds no predicate
      // (never rounds: rounding would change comparison semantics), so it
      // skips nothing
      val offScale = new java.math.BigDecimal("1.505")
      assert(decodes(lastChunk(Seq(EqualTo("m", offScale)))), "off-scale literal skipped")

      // end to end across < / = / >= at a value that sits on a row-group
      // boundary's neighborhood
      val v2 = readLake(t.location)
      assert(v2.filter(col("m") === lit(offScale)).count() == 0)
      val cut = new java.math.BigDecimal("150.00")
      assert(v2.filter(col("m") === lit(cut)).count() == 1)
      assert(v2.filter(col("m") < lit(cut)).count() == 15000)
      assert(v2.filter(col("m") >= lit(cut)).count() == RowGroupRows - 15000)
    }
  }

  test("pushed filter on a type-promoted column: no crash, exact rows, others still push") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-promote-filter").toString
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, 10)).toDF("id", "qty").schema)
    t.append(Seq((1L, 10), (2L, 20)).toDF("id", "qty").coalesce(1)) // one INT32-era file
    t.promoteColumn("qty", "bigint")
    t.append(Seq((3L, 30L), (4L, 40L)).toDF("id", "qty"))

    // the INT32-era file: each chunk builds its predicate against its own
    // footer, and leaves out the columns that footer stores narrower than
    // the scan reads them...
    def chunkOf(f: graft.lake.DataFile) = GraftChunk(t.abs(f.path), 0L, f.bytes)
    val narrow = t.currentSnapshot.dataFiles.minBy(_.seq)
    assert(narrow.rows == 2)
    val chunk = chunkOf(narrow)
    val sch = StructType(Seq(StructField("id", LongType), StructField("qty", LongType)))
    // one partition, the INT32-era chunk opening after a chunk whose INT64
    // footer gave it a long predicate on qty
    val wide = chunkOf(t.currentSnapshot.dataFiles.maxBy(_.seq))
    val r = readerOver(t, sch, Seq(wide, chunk), Seq(GreaterThan("qty", 15L)))
    val ids = try Iterator.continually(r.next()).takeWhile(identity).flatMap { _ =>
      val b = r.get(); (0 until b.numRows).map(b.column(0).getLong)
    }.toList finally r.close()
    assert(ids.drop(1) == List(1L, 2L), s"qty > 15 on the INT32 chunk read $ids")
    // ...so a literal outside int range builds no predicate for that file...
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(chunk.file), spark.sparkContext.hadoopConfiguration))
    val schema = try footer.getFileMetaData.getSchema finally footer.close()
    assert(RowGroupFilter.of(spark, Seq(GreaterThan("qty", Int.MaxValue + 1L))).get
      .predicate(schema, sch).isEmpty)
    // an unpromoted column in the same file still skips
    assert(!decodes(readerOver(t, sch, Seq(chunk), Seq(GreaterThan("id", 2L)))))

    // end to end: filtered scan spans both eras without throwing
    val got = readLake(t.location).filter(col("qty") > 15L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 3L, 4L), s"got $got")
  }

  test("NOT IN on a type-promoted column keeps the rows of pre-promotion files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-promote-notin").toString
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, 20)).toDF("id", "qty").schema)
    t.append(Seq((1L, 20), (2L, 20)).toDF("id", "qty").coalesce(1)) // INT32, qty = 20 only
    t.promoteColumn("qty", "bigint")
    t.append(Seq((3L, 30L)).toDF("id", "qty"))
    // 2^32 + 20 is 20 once truncated to an int: ParquetFilters type-checks
    // only an IN list's first value, so on the INT32 file this NOT IN would
    // refute the qty = 20 row group — no file gets a predicate on a column
    // it stores narrower than the scan reads it
    val notIn = !col("qty").isin(5L, (1L << 32) + 20)
    assert(readLake(t.location).filter(notIn).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("streaming read: appends stream incrementally through a checkpoint, non-append fails") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-streamread-spec").toString
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val df2 = Seq((3L, "c"), (4L, "d")).toDF("id", "s")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df1.schema, primaryKey = Seq("id"))
    t.append(df1)
    val ckpt = s"$dir/ckpt"
    def drain(): Set[(Long, String)] = {
      val buf = scala.collection.mutable.ListBuffer.empty[(Long, String)]
      val q = spark.readStream.format("graftlake").option("path", t.location).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized { buf ++= b.as[(Long, String)].collect() }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.toSet
    }
    assert(drain() == Set((1L, "a"), (2L, "b")))
    t.append(df2)
    // checkpoint resumes: ONLY the new append arrives
    assert(drain() == Set((3L, "c"), (4L, "d")))
    assert(drain() == Set.empty, "no new commits must yield no rows")
    // an upsert in range is not replayable as an append stream: loud failure
    t.upsert(Seq((1L, "A")).toDF("id", "s"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(err.getMessage.contains("append-only") ||
      Option(err.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("storage-partitioned join: co-partitioned lake tables join with NO shuffle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-spj-spec").toString
    def build(name: String, vals: Seq[(Long, String, Double)]): graft.lake.LakeTable = {
      val df = vals.toDF("id", "s", "v")
      val t = graft.lake.LakeTable.create(spark, s"$dir/$name", name, df.schema,
        partitionSpec = Seq(graft.lake.PartitionField("s", graft.lake.Transform.Identity, "p_s")))
      t.append(df)
      t
    }
    val a = build("a", Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "C", 3.0)))
    val b = build("b", Seq((10L, "A", 10.0), (20L, "B", 20.0), (30L, "C", 30.0)))
    def joined = {
      val da = spark.read.format("graftlake").option("path", a.location).load()
      val db = spark.read.format("graftlake").option("path", b.location).load()
      da.join(db.withColumnRenamed("id", "id2").withColumnRenamed("v", "v2"), "s")
        .select($"s", $"id", $"id2")
    }
    val confs = Map(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a non-broadcast join
      "spark.sql.adaptive.enabled" -> "false")
    withConfs(confs) {
      val df = joined
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"co-partitioned join still shuffled:\n$plan")
      assert(df.as[(String, Long, Long)].collect().toSet ==
        Set(("A", 1L, 10L), ("B", 2L, 20L), ("C", 3L, 30L)))
    }
    // with bucketing off (the default), the same join still answers
    assert(joined.count() == 3)

    // INTEGRAL partition keys parse back from their directory rendering
    // and group identically (the numeric keyOf path)
    def buildN(name: String, vals: Seq[(Long, Long)]): graft.lake.LakeTable = {
      val df = vals.toDF("k", "v")
      val t = graft.lake.LakeTable.create(spark, s"$dir/$name", name, df.schema,
        partitionSpec = Seq(graft.lake.PartitionField("k", graft.lake.Transform.Identity, "p_k")))
      t.append(df)
      t
    }
    val na = buildN("na", Seq((1L, 10L), (2L, 20L), (10L, 100L)))
    val nb = buildN("nb", Seq((1L, 11L), (2L, 22L), (10L, 110L)))
    withConfs(confs) {
      val dn = spark.read.format("graftlake").option("path", na.location).load()
        .join(spark.read.format("graftlake").option("path", nb.location).load()
          .withColumnRenamed("v", "v2"), "k")
      val plan = dn.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"numeric-keyed co-partitioned join shuffled:\n$plan")
      assert(dn.as[(Long, Long, Long)].collect().toSet ==
        Set((1L, 10L, 11L), (2L, 20L, 22L), (10L, 100L, 110L)))
    }
  }

  test("storage-partitioned join on bucket(n, key): zero Exchange, matches the shuffle plan") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-spj-bucket").toString
    // bucket partitioning writes through the DataFrame path (engine-side
    // bucket rendering); the JOIN resolves bucket(n, col) through the SQL
    // catalog's FunctionCatalog — the standard fact-fact layout
    def build(name: String, col2: String, f: Long => Long): graft.lake.LakeTable = {
      val df = (1L to 200L).map(i => (i, f(i))).toDF("id", col2)
      val t = graft.lake.LakeTable.create(spark, s"$wh/$name", name, df.schema,
        partitionSpec = Seq(graft.lake.PartitionField(
          "id", graft.lake.Transform.Bucket(4), "p_bucket_id")))
      t.append(df)
      t
    }
    build("ba", "va", _ * 10)
    build("bb", "vb", _ * 100)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", wh)
    def joined = spark.sql(
      "SELECT a.id, a.va, b.vb FROM graft.ba a JOIN graft.bb b ON a.id = b.id")
    val confs = Map(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val shuffled = joined.as[(Long, Long, Long)].collect().toSet // baseline: shuffle plan
    withConfs(confs) {
      val df = joined
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket-co-partitioned join still shuffled:\n$plan")
      assert(df.as[(Long, Long, Long)].collect().toSet == shuffled,
        "zero-shuffle bucket join disagrees with the shuffle plan")
      assert(shuffled.size == 200 && shuffled.contains((7L, 70L, 700L)))
    }
    // the r5 guard still holds: promoting a bucket-source type would
    // re-bucket the same value differently in old vs new files
    val dfi = Seq((1, "x")).toDF("k", "s")
    val ti = graft.lake.LakeTable.create(spark, s"$wh/bi", "bi", dfi.schema,
      partitionSpec = Seq(graft.lake.PartitionField(
        "k", graft.lake.Transform.Bucket(4), "p_bucket_k")))
    ti.append(dfi)
    val err2 = intercept[IllegalArgumentException](ti.promoteColumn("k", "BIGINT"))
    assert(err2.getMessage.contains("bucket"), s"got: ${err2.getMessage}")
  }

  test("streaming read crosses an evolve-spec commit (metadata-only, append-safe)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-streamevolve-spec").toString
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df1.schema, primaryKey = Seq("id"))
    t.append(df1)
    t.evolvePartitionSpec(Seq(
      graft.lake.PartitionField("s", graft.lake.Transform.Identity, "p_s")))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    val buf = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graftlake").option("path", t.location).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.as[(Long, String)].collect() }; ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(buf.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"stream dropped rows across the spec evolution: ${buf.toSet}")
  }

  test("Trigger.AvailableNow drains the pinned range across multiple micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-availnow-spec").toString
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, "a")).toDF("id", "s").schema, primaryKey = Seq("id"))
    t.append(Seq((1L, "a")).toDF("id", "s"))
    t.append(Seq((2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    val batches = scala.collection.mutable.ListBuffer.empty[Set[(Long, String)]]
    var raceArmed = true
    def drain(): Unit = {
      val q = spark.readStream.format("graftlake")
        .option("path", t.location)
        .option("maxSnapshotsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.synchronized {
            val rows = b.as[(Long, String)].collect().toSet
            // a writer races the drain mid-run: committed AFTER the
            // trigger pinned its end, so this run must NOT see it
            if (raceArmed) { raceArmed = false; t.append(Seq((4L, "late")).toDF("id", "s")) }
            batches += rows
          }; ()
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    // one snapshot per micro-batch (bootstrap, then two increments) — the
    // no-trait fallback would have drained everything in a single batch
    assert(batches.toList == List(
      Set((1L, "a")), Set((2L, "b")), Set((3L, "c"))),
      s"bounded drain wrong: ${batches.toList}")
    // the next AvailableNow run picks up exactly the late commit
    batches.clear()
    drain()
    assert(batches.toList.filter(_.nonEmpty) == List(Set((4L, "late"))),
      s"resume wrong: ${batches.toList}")
  }

  test("streaming read bootstraps from the earliest retained snapshot after expiry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-streamexp-spec").toString
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t",
      Seq((1L, "a")).toDF("id", "s").schema)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    graft.lake.Maintenance.expireSnapshots(t, keep = 1, maxAgeMs = Some(-1000L))
    assert(t.snapshots.size == 1, "expiry did not run")
    // a FRESH stream must still deliver the full retained content
    val buf = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graftlake").option("path", t.location).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.as[(Long, String)].collect() }; ()
      }
      .option("checkpointLocation", s"$dir/ckpt-fresh")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(buf.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("metadata columns _graft_seq/_graft_file select by name, hidden from SELECT *") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metacol-spec").toString
    val df1 = Seq((1L, "a")).toDF("id", "s")
    val df2 = Seq((2L, "b")).toDF("id", "s")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df1.schema)
    t.append(df1); t.append(df2)
    val v2 = readLake(t.location)
    assert(!v2.columns.contains("_graft_seq") && !v2.columns.contains("_graft_file"))
    val md = v2.select(col("id"), col("_graft_seq"), col("_graft_file"))
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(md(1L)._1 == 1L && md(2L)._1 == 2L, s"wrong commit seqs: $md")
    assert(md.values.forall(_._2.endsWith(".parquet")))
    assert(md(1L)._2 != md(2L)._2, "rows of different commits share a file")
  }

  test("scan reports snapshot statistics; small lake tables auto-broadcast in joins") {
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val t = LakePipelines.ordersLake(spark, sfDir)
    val snap = t.currentSnapshot
    val stats = new GraftLakeScanBuilder(t, snap.seq, t.currentSchema,
      skipDeletes = false)
      .build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
    assert(stats.sizeInBytes().getAsLong == snap.dataFiles.map(_.bytes).sum)
    assert(stats.numRows().getAsLong == t.scan().count())
    // end to end: a join against a big DF broadcasts the lake side because
    // its reported size is under the auto-broadcast threshold
    val big = spark.range(200000).select(col("id").as("o_orderkey"))
    val joined = big.join(readLake(t.location).select("o_orderkey", "o_totalprice"), "o_orderkey")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"lake side not broadcast:\n$plan")
  }

  test("DPP-safe filterAttributes: joins projecting only non-partition columns plan") {
    // regression for Spark's PartitionPruning.getFilterableTableScan, which
    // resolves filterAttributes() against the PRUNED scan output and throws
    // if the partition source column was projected away (VERDICT r4 §wrong.1)
    val t = LakePipelines.ordersLake(spark, sfDir)
    val snap = t.currentSnapshot
    // a pruned scan only advertises surviving columns for runtime filtering
    val b = new GraftLakeScanBuilder(t, snap.seq, t.currentSchema,
      skipDeletes = false)
    b.pruneColumns(org.apache.spark.sql.types.StructType(
      t.currentSchema.fields.filter(f => f.name == "o_orderkey" || f.name == "o_totalprice")))
    val pruned = b.build().asInstanceOf[GraftLakeScan]
    assert(pruned.filterAttributes().map(_.fieldNames().mkString(".")).toSet ==
      Set("o_orderkey"), "pruned scan must not advertise pruned-away partition sources")
    // end to end: joins that omit the partition source column must not die
    // at planning time (plain equi-join and a DPP-shaped filtered dim join)
    val big = spark.range(200000).select(col("id").as("k"))
    val r1 = big.join(readLake(t.location).select("o_orderkey", "o_totalprice"),
      big("k") === col("o_orderkey")).count()
    assert(r1 > 0)
    val dim = spark.range(100).select(col("id").as("k")).filter(col("k") < 50)
    val r2 = dim.join(readLake(t.location).select("o_orderkey", "o_custkey"),
      dim("k") === col("o_orderkey")).count()
    assert(r2 > 0)
  }

  test("statistics respect pruning: filtered scans report fewer bytes/rows") {
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    val t = LakePipelines.ordersLake(spark, sfDir)
    val snap = t.currentSnapshot
    def statsFor(fs: Array[org.apache.spark.sql.sources.Filter]) = {
      val b = new GraftLakeScanBuilder(t, snap.seq, t.currentSchema,
        skipDeletes = false)
      b.pushFilters(fs)
      b.build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
    }
    val all = statsFor(Array.empty)
    val pruned = statsFor(Array(org.apache.spark.sql.sources.GreaterThanOrEqual(
      "o_orderdate", LakePipelines.PruneLo)))
    assert(pruned.sizeInBytes().getAsLong < all.sizeInBytes().getAsLong)
    assert(pruned.numRows().getAsLong < all.numRows().getAsLong)
  }

  test("runtime filtering: join-driven IN filters re-prune input partitions (DPP)") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    val snap = t.currentSnapshot
    val scan = new GraftLakeScanBuilder(t, snap.seq, t.currentSchema,
      skipDeletes = false).build().asInstanceOf[GraftLakeScan]
    // partition sources + cluster keys are advertised for runtime filtering
    val attrs = scan.filterAttributes().map(_.fieldNames().mkString("."))
    assert(attrs.toSet == Set("o_orderdate", "o_orderstatus", "o_orderkey"))
    val before = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("o_orderstatus", Array[Any]("F"))))
    val after = scan.planInputPartitions().length
    assert(after < before, s"runtime IN filter pruned nothing ($after of $before)")
    // an untranslatable runtime filter is ignored, not wrongly applied
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.StringStartsWith("o_orderstatus", "F")))
    assert(scan.planInputPartitions().length == before)
  }

  test("ungrouped COUNT/MIN/MAX are answered from metadata (zero scan tasks)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metaagg-spec").toString
    val df = Seq((3L, "cherry"), (1L, "apple"), (2L, "banana")).toDF("id", "s")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    t.append(Seq((10L, "zucchini"), (7L, "fig")).toDF("id", "s"))
    val agg = readLake(t.location)
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"),
        min("s").as("smn"), max("s").as("smx"))
    // a metadata-served aggregate plans as a LocalTableScan of the answer
    // row — no BatchScan, no tasks against data files
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"aggregate not metadata-served:\n$plan")
    val r = agg.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)) ==
      ((5L, 1L, 10L, "apple", "zucchini")))
    // an expression over served values runs in a Project above the answer
    val doubled = readLake(t.location).agg(count(lit(1)).as("n"))
      .select((col("n") * 2).as("n2"))
    val dplan = doubled.queryExecution.executedPlan.toString
    assert(dplan.contains("LocalTableScan") && !dplan.contains("BatchScan"),
      s"expression over a served count not metadata-served:\n$dplan")
    assert(doubled.head.getLong(0) == 10L)

    // a WHERE clause keeps the real scan (results must stay exact)
    val filtered = readLake(t.location).filter(col("id") > 2L).agg(count(lit(1)))
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.head.getLong(0) == 3L)

    // live tombstones decline metadata serving — counts must see deletes
    t.deleteKeys(Seq(Tuple1(1L)).toDF("id"))
    val afterDel = readLake(t.location).agg(count(lit(1)).as("n"))
    assert(afterDel.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(afterDel.head.getLong(0) == 4L)

    // float/double min-max is NOT metadata-served (bounds are rounded)
    val dfd = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "d")
    val td = graft.lake.LakeTable.create(spark, s"$dir/td", "td", dfd.schema)
    td.append(dfd)
    val dagg = readLake(td.location).agg(min("d"), max("d"))
    assert(dagg.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(dagg.head.getDouble(0) == 1.5 && dagg.head.getDouble(1) == 2.5)
  }

  test("LakeMetaAggregate is the only metadata-aggregate path: excluded, ungrouped and " +
      "identity-grouped aggregates scan and return the same answers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metaone-spec").toString
    val df = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 30L), (4L, "C", 40L))
      .toDF("id", "cat", "v")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(graft.lake.PartitionField("cat", graft.lake.Transform.Identity, "p_cat")))
    t.append(df)
    t.append(Seq((5L, "B", 50L)).toDF("id", "cat", "v"))
    def ungrouped = readLake(t.location)
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"), sum("v").as("sv"))
    def rollup = readLake(t.location).groupBy("cat")
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"), sum("v").as("sv"))
    def plan(d: DataFrame) = d.queryExecution.executedPlan.toString
    val served = Seq(ungrouped, rollup).map { d =>
      assert(plan(d).contains("LocalTableScan") && !plan(d).contains("BatchScan"),
        s"aggregate not metadata-served:\n${plan(d)}")
      sortedRows(d)
    }
    assert(served == Seq(Seq("[5,1,5,150]"),
      Seq("[A,2,1,2,30]", "[B,2,3,5,80]", "[C,1,4,4,40]")))
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.LakeMetaAggregate")
    try {
      Seq(ungrouped, rollup).zip(served).foreach { case (d, want) =>
        assert(plan(d).contains("BatchScan"),
          s"without the rule the aggregate must run the real scan:\n${plan(d)}")
        assert(sortedRows(d) == want)
      }
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("GROUP BY an identity-partition source answers from metadata (zero scan tasks)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metagrp-spec").toString
    val df = Seq(
      (1L, "A", 10L), (2L, "A", 20L), (3L, "B", 30L),
      (4L, "B", 40L), (5L, "C", 50L)).toDF("id", "cat", "v")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(graft.lake.PartitionField("cat", graft.lake.Transform.Identity, "p_cat")))
    t.append(df)
    t.append(Seq((6L, "A", 60L), (7L, "C", 70L)).toDF("id", "cat", "v"))

    def viaMeta = readLake(t.location)
      .groupBy("cat").agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
    val plan = viaMeta.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"grouped aggregate not metadata-served:\n$plan")
    val got = viaMeta.as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("A", 3L, 1L, 6L), ("B", 2L, 3L, 4L), ("C", 2L, 5L, 7L)),
      s"metadata answer wrong: $got")
    // match the REAL scan path: the imperative parquet scan aggregates the
    // data itself — the metadata answer must agree exactly
    val viaScan = t.scan()
      .groupBy("cat").agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
    assert(viaScan.as[(String, Long, Long, Long)].collect().toSet == got)

    // post-aggregate casts, arithmetic over aggregates and expressions of
    // the key run in a Project above the served answer
    def shaped(rel: DataFrame) = rel.groupBy("cat")
      .agg(sum("v").as("sv"), (max("id") - min("id")).as("span"))
      .withColumn("sv", col("sv").cast("double"))
      .withColumn("label", concat(col("cat"), lit("!")))
    val splan = shaped(readLake(t.location)).queryExecution.executedPlan.toString
    assert(splan.contains("LocalTableScan") && !splan.contains("BatchScan"),
      s"post-aggregate expressions not metadata-served:\n$splan")
    val sgot = shaped(readLake(t.location)).as[(String, Double, Long, String)].collect().toSet
    assert(sgot == Set(("A", 90.0, 5L, "A!"), ("B", 70.0, 1L, "B!"), ("C", 120.0, 2L, "C!")),
      s"metadata answer wrong: $sgot")
    assert(shaped(t.scan()).as[(String, Double, Long, String)].collect().toSet == sgot)
    // ...but an expression over an aggregate metadata cannot answer (a
    // SUM of a derived value) declines the whole rewrite
    val derived = readLake(t.location).groupBy("cat")
      .agg((sum(col("v") * 2) + count(lit(1))).as("x"))
    assert(derived.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(derived.as[(String, Long)].collect().toMap == Map("A" -> 183L, "B" -> 142L, "C" -> 242L))

    // grouping by a NON-partition column keeps the real scan
    val byV = readLake(t.location).groupBy("v").agg(count(lit(1)))
    assert(byV.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(byV.count() == 7)

    // a STRING group column with sentinel files DECLINES (the directory
    // sentinel conflates null with "" — a metadata answer would merge two
    // real groups): falls back to the scan, which keeps them distinct
    t.append(Seq((8L, null.asInstanceOf[String], 80L), (9L, "", 90L)).toDF("id", "cat", "v"))
    val withNull = readLake(t.location).groupBy("cat").agg(count(lit(1)).as("n"))
    assert(withNull.queryExecution.executedPlan.toString.contains("BatchScan"),
      "string sentinel groups must not be metadata-served")
    val m = withNull.as[(Option[String], Long)].collect().toMap
    assert(m.get(None).contains(1L) && m.get(Some("")).contains(1L),
      s"null and empty-string groups must stay distinct: $m")

    // a NUMERIC group column's null partition is unambiguous — still
    // metadata-served, grouped as SQL NULL
    val dfn = Seq((1L, java.lang.Long.valueOf(7L)), (2L, java.lang.Long.valueOf(7L)),
      (3L, null.asInstanceOf[java.lang.Long])).toDF("id", "k")
    val tn = graft.lake.LakeTable.create(spark, s"$dir/tn", "tn", dfn.schema,
      partitionSpec = Seq(graft.lake.PartitionField("k", graft.lake.Transform.Identity, "p_k")))
    tn.append(dfn)
    val gn = readLake(tn.location).groupBy("k").agg(count(lit(1)).as("n"))
    assert(gn.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "numeric-keyed group-by should stay metadata-served")
    assert(gn.as[(Option[Long], Long)].collect().toMap ==
      Map(Some(7L) -> 2L, None -> 1L))
  }

  test("GROUP BY derived year()/month() over a month-partitioned source answers from metadata") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metatrans-spec").toString
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-15"), 1.0),
      (2L, java.sql.Date.valueOf("2024-02-15"), 2.0),
      (3L, java.sql.Date.valueOf("2024-02-20"), 3.0),
      (4L, java.sql.Date.valueOf("2025-01-10"), 4.0),
      (5L, null.asInstanceOf[java.sql.Date], 5.0)).toDF("id", "d", "v")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(graft.lake.PartitionField("d", graft.lake.Transform.Month, "p_m")),
      primaryKey = Seq("id"))
    t.append(df)

    def rollup(rel: org.apache.spark.sql.DataFrame) = rel
      .groupBy(year(col("d")).as("y"), month(col("d")).as("m"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
    val viaMeta = rollup(readLake(t.location))
    val plan = viaMeta.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"derived-transform rollup not metadata-served:\n$plan")
    val got = viaMeta.as[(Option[Int], Option[Int], Long, Long, Long)].collect().toSet
    // the null-date row groups as (NULL, NULL), like month(null)
    assert(got == Set(
      (Some(2024), Some(1), 1L, 1L, 1L), (Some(2024), Some(2), 2L, 2L, 3L),
      (Some(2025), Some(1), 1L, 4L, 4L), (None, None, 1L, 5L, 5L)),
      s"metadata answer wrong: $got")
    // the real scan path must agree exactly
    assert(rollup(t.scan()).as[(Option[Int], Option[Int], Long, Long, Long)]
      .collect().toSet == got)
    // date_format at the transform's granularity is served too
    val fmt = readLake(t.location)
      .groupBy(date_format(col("d"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n"))
    assert(fmt.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(fmt.as[(Option[String], Long)].collect().toMap ==
      Map(Some("2024-01") -> 1L, Some("2024-02") -> 2L, Some("2025-01") -> 1L, None -> 1L))
    // FINER than the partition granularity declines to the real scan
    val byDay = readLake(t.location)
      .groupBy(dayofmonth(col("d")).as("dd")).agg(count(lit(1)).as("n"))
    assert(byDay.queryExecution.executedPlan.toString.contains("BatchScan"),
      "day-of-month over a MONTH partition must not be metadata-served")
    assert(byDay.count() == 4) // 15, (15, 20 -> two distinct days), 10, null

    // FILTERED rollups: an ALIGNED month boundary classifies every file
    // wholly-in/out — still metadata-served; an unaligned one declines
    val aligned = readLake(t.location)
      .filter(col("d") >= lit(java.sql.Date.valueOf("2024-02-01")))
      .groupBy(month(col("d")).as("m")).agg(count(lit(1)).as("n"))
    assert(aligned.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "aligned month-range filter should stay metadata-served")
    assert(aligned.as[(Option[Int], Long)].collect().toMap ==
      Map(Some(2) -> 2L, Some(1) -> 1L)) // Feb 2024 rows + Jan 2025 row
    val unaligned = readLake(t.location)
      .filter(col("d") >= lit(java.sql.Date.valueOf("2024-02-10")))
      .groupBy(month(col("d")).as("m")).agg(count(lit(1)).as("n"))
    assert(unaligned.queryExecution.executedPlan.toString.contains("BatchScan"),
      "a mid-month boundary splits a file and must decline")
    assert(unaligned.as[(Option[Int], Long)].collect().toMap ==
      Map(Some(2) -> 2L, Some(1) -> 1L)) // via the real scan, same rows

    // ungrouped + filtered: one metadata row
    val cnt = readLake(t.location)
      .filter(col("d") >= lit(java.sql.Date.valueOf("2024-02-01")))
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"))
    assert(cnt.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "filtered ungrouped count should be metadata-served")
    assert(cnt.as[(Long, Long)].collect().toSeq == Seq((3L, 2L)))
    // ... including over an empty selection (count 0, NULL bound)
    val empty = readLake(t.location)
      .filter(col("d") >= lit(java.sql.Date.valueOf("2030-01-01")))
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"))
    assert(empty.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(empty.as[(Long, Option[Long])].collect().toSeq == Seq((0L, None)))

    // merge-on-read tombstones decline: results stay correct via the scan
    t.upsert(Seq((2L, java.sql.Date.valueOf("2024-02-15"), 20.0)).toDF("id", "d", "v"))
    val afterMor = rollup(readLake(t.location))
    assert(afterMor.queryExecution.executedPlan.toString.contains("BatchScan"),
      "tombstoned tables must not be metadata-served")
    assert(afterMor.as[(Option[Int], Option[Int], Long, Long, Long)].collect().toSet == got)
  }

  test("SUM/AVG/COUNT(col) are answered from recorded per-file sums (zero scan tasks)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metasum-spec").toString
    // nullable measure: group B's only non-null v is in file 1; group C's
    // v is ALL null (sum must serve NULL for it)
    val df = Seq(
      (1L, "A", java.lang.Long.valueOf(10L), 1.5),
      (2L, "A", java.lang.Long.valueOf(20L), 2.5),
      (3L, "B", java.lang.Long.valueOf(30L), 3.5),
      (4L, "B", null.asInstanceOf[java.lang.Long], 4.5),
      (5L, "C", null.asInstanceOf[java.lang.Long], 5.5)).toDF("id", "cat", "v", "d")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(graft.lake.PartitionField("cat", graft.lake.Transform.Identity, "p_cat")))
    t.append(df)
    t.append(Seq((6L, "A", java.lang.Long.valueOf(60L), 6.5),
      (7L, "C", null.asInstanceOf[java.lang.Long], 7.5)).toDF("id", "cat", "v", "d"))

    def rollup(rel: org.apache.spark.sql.DataFrame) = rel
      .groupBy("cat")
      .agg(sum(col("v")).as("sv"), count(col("v")).as("nv"), avg(col("v")).as("av"))
    val viaMeta = rollup(readLake(t.location))
    val plan = viaMeta.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"additive rollup not metadata-served:\n$plan")
    val got = viaMeta.as[(String, Option[Long], Long, Option[Double])].collect().toSet
    assert(got == Set(
      ("A", Some(90L), 3L, Some(30.0)),
      ("B", Some(30L), 1L, Some(30.0)),
      ("C", None, 0L, None)), s"metadata answer wrong: $got")
    // the real scan path must agree exactly
    assert(rollup(t.scan()).as[(String, Option[Long], Long, Option[Double])]
      .collect().toSet == got)

    // DOUBLE sums are order-dependent: never metadata-served
    val dsum = readLake(t.location).groupBy("cat").agg(sum(col("d")).as("sd"))
    assert(dsum.queryExecution.executedPlan.toString.contains("BatchScan"),
      "double SUM must not be metadata-served")

    // ungrouped + unfiltered: the same rule's driver fold
    val global = readLake(t.location)
      .agg(sum(col("v")).as("sv"), count(col("v")).as("nv"), avg(col("v")).as("av"))
    val gplan = global.queryExecution.executedPlan.toString
    assert(gplan.contains("LocalTableScan") && !gplan.contains("BatchScan"),
      s"ungrouped sum not metadata-served:\n$gplan")
    assert(global.as[(Option[Long], Long, Option[Double])].collect().toSeq ==
      Seq((Some(120L), 4L, Some(30.0))))

    // filtered + summed through the optimizer rule (identity equality)
    val filtered = readLake(t.location)
      .filter(col("cat") === "A")
      .agg(sum(col("v")).as("sv"), count(col("v")).as("nv"))
    assert(filtered.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "filtered ungrouped sum should be metadata-served")
    assert(filtered.as[(Option[Long], Long)].collect().toSeq == Seq((Some(90L), 3L)))

    // a Long total past 2^63 would overflow the scan's accumulator:
    // serving declines (plan gate only — the wrapped scan value is
    // whatever Spark computes)
    val big = Seq((1L, 5000000000000000000L), (2L, 5000000000000000000L))
      .toDF("id", "huge")
    val tb = graft.lake.LakeTable.create(spark, s"$dir/tb", "tb", big.schema)
    tb.append(big.limit(1))
    tb.append(big.filter(col("id") === 2L))
    val bsum = readLake(tb.location).agg(sum(col("huge")))
    assert(bsum.queryExecution.executedPlan.toString.contains("BatchScan"),
      "overflowing SUM must decline to the scan")
    // ... and AVG outside the exact-double regime (|v|·n > 2^53) declines
    // while the in-range SUM still serves
    val bavg = readLake(tb.location).agg(avg(col("huge")))
    assert(bavg.queryExecution.executedPlan.toString.contains("BatchScan"),
      "AVG outside the exact double regime must decline")

    // DECIMAL sums serve exactly, with Spark's sum result type (p+10, s)
    val dec = Seq((1L, "1.25"), (2L, "2.50"), (3L, "4.00")).toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(10,2)").as("m"))
    val td = graft.lake.LakeTable.create(spark, s"$dir/td", "td", dec.schema)
    td.append(dec.filter(col("id") < 3L))
    td.append(dec.filter(col("id") === 3L))
    val dq = readLake(td.location).agg(sum(col("m")).as("sm"))
    assert(dq.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "decimal SUM should be metadata-served")
    assert(dq.schema("sm").dataType == org.apache.spark.sql.types.DecimalType(20, 2))
    assert(dq.head.getDecimal(0) == new java.math.BigDecimal("7.75"))

    // decimal MIN/MAX serve from the SCALED recorded bounds (the round-7
    // unscaled-stats bug would have answered 125/400 here)
    val dmm = readLake(td.location).agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
    assert(dmm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "decimal MIN/MAX should be metadata-served")
    assert(dmm.schema("mn").dataType == org.apache.spark.sql.types.DecimalType(10, 2))
    assert(dmm.head.getDecimal(0) == new java.math.BigDecimal("1.25") &&
      dmm.head.getDecimal(1) == new java.math.BigDecimal("4.00"))
    // ... and GROUPED by an identity partition source (the optimizer-rule
    // path folds the same bounds per group)
    val decp = Seq((1L, "A", "1.25"), (2L, "A", "2.50"), (3L, "B", "4.00")).toDF("id", "g", "s")
      .select(col("id"), col("g"), col("s").cast("decimal(10,2)").as("m"))
    val tdp = graft.lake.LakeTable.create(spark, s"$dir/tdp", "tdp", decp.schema,
      partitionSpec = Seq(graft.lake.PartitionField("g", graft.lake.Transform.Identity, "p_g")))
    tdp.append(decp)
    val gmm = readLake(tdp.location).groupBy("g")
      .agg(min(col("m")).as("mn"), max(col("m")).as("mx"), sum(col("m")).as("sm"))
    assert(gmm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "grouped decimal MIN/MAX should be metadata-served")
    val gvals = gmm.collect().map(r => (r.getString(0),
      r.getDecimal(1).toPlainString, r.getDecimal(2).toPlainString,
      r.getDecimal(3).toPlainString)).toSet
    assert(gvals == Set(("A", "1.25", "2.50", "3.75"), ("B", "4.00", "4.00", "4.00")),
      s"grouped decimal metadata answer wrong: $gvals")
    // precision > 18 decimals are FIXED_LEN_BYTE_ARRAY-encoded: their
    // footer stats are recorded as two's-complement unscaled ints under
    // kind "d", so MIN/MAX serves from metadata like the narrow decimals
    val wide = Seq((1L, "1.25"), (2L, "2.50")).toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(20,2)").as("m"))
    val tw = graft.lake.LakeTable.create(spark, s"$dir/tw", "tw", wide.schema)
    tw.append(wide)
    val wmm = readLake(tw.location).agg(min(col("m")).as("mn"), max(col("m")).as("mx"))
    assert(wmm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "FLBA-encoded decimal MIN/MAX should be metadata-served")
    assert(wmm.schema("mn").dataType == org.apache.spark.sql.types.DecimalType(20, 2))
    assert(wmm.head.getDecimal(0) == new java.math.BigDecimal("1.25") &&
      wmm.head.getDecimal(1) == new java.math.BigDecimal("2.50"))
    // ... but precision > 30 could pre-date scaled recording in mixed
    // manifests and stays unservable: MIN declines to a value-correct scan
    val huge = Seq((1L, "1.25"), (2L, "2.50")).toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(32,2)").as("m"))
    val th = graft.lake.LakeTable.create(spark, s"$dir/th", "th", huge.schema)
    th.append(huge)
    val hmm = readLake(th.location).agg(min(col("m")).as("mn"))
    assert(hmm.queryExecution.executedPlan.toString.contains("BatchScan"),
      "precision>30 decimal MIN must decline to the scan")
    assert(hmm.head.getDecimal(0) == new java.math.BigDecimal("1.25"))
    // decimal SUM caps at precision 28 (ColumnSums.summable: beyond that a
    // per-file decimal(38,s) accumulation could overflow — null in default
    // mode, a THROW inside the commit under ANSI). DECIMAL(30,2): SUM
    // declines to a value-correct scan while MIN/MAX (cap 30) still serves
    val p30 = Seq((1L, "1.25"), (2L, "2.50")).toDF("id", "s")
      .select(col("id"), col("s").cast("decimal(30,2)").as("m"))
    val t30 = graft.lake.LakeTable.create(spark, s"$dir/t30", "t30", p30.schema)
    t30.append(p30)
    val s30 = readLake(t30.location).agg(sum(col("m")).as("sm"))
    assert(s30.queryExecution.executedPlan.toString.contains("BatchScan"),
      "precision>28 decimal SUM must decline to the scan")
    assert(s30.head.getDecimal(0) == new java.math.BigDecimal("3.75"))
    val m30 = readLake(t30.location).agg(min(col("m")).as("mn"))
    assert(m30.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "precision-30 decimal MIN should still be metadata-served")
    assert(m30.head.getDecimal(0) == new java.math.BigDecimal("1.25"))

    // COUNT(DISTINCT <identity source>): the tuples enumerate the
    // distinct values — grouped, filtered, and global shapes all serve
    val dk = readLake(t.location).agg(countDistinct(col("cat")).as("nc"))
    assert(dk.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "global COUNT(DISTINCT identity source) should be metadata-served")
    assert(dk.head.getLong(0) == 3L)
    val dkf = readLake(t.location).filter(col("cat") =!= "C")
      .agg(countDistinct(col("cat")).as("nc"), count(lit(1)).as("n"))
    assert(dkf.queryExecution.executedPlan.toString.contains("BatchScan"),
      "a != conjunct is not classifiable and must decline")
    // distinct count over a NON-partition column keeps the real scan
    val dnp = readLake(t.location).agg(countDistinct(col("v")).as("nv"))
    assert(dnp.queryExecution.executedPlan.toString.contains("BatchScan"))

    // IS NOT NULL / IS NULL conjuncts classify per file from the tuples
    // (any null-preserving transform witnesses null-ness)
    val dfn = Seq((1L, java.lang.Long.valueOf(7L), 10L), (2L, java.lang.Long.valueOf(8L), 20L),
      (3L, null.asInstanceOf[java.lang.Long], 40L)).toDF("id", "k", "w")
    val tk = graft.lake.LakeTable.create(spark, s"$dir/tk", "tk", dfn.schema,
      partitionSpec = Seq(graft.lake.PartitionField("k", graft.lake.Transform.Identity, "p_k")))
    tk.append(dfn)
    val knn = readLake(tk.location).filter(col("k").isNotNull)
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
    assert(knn.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "IS NOT NULL over an identity partition should be metadata-served")
    assert(knn.as[(Long, Option[Long])].collect().toSeq == Seq((2L, Some(30L))))
    val kn = readLake(tk.location).filter(col("k").isNull)
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
    assert(kn.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(kn.as[(Long, Option[Long])].collect().toSeq == Seq((1L, Some(40L))))
    // null identity values are excluded from the distinct count, like SQL
    val dkn = readLake(tk.location).agg(countDistinct(col("k")).as("nk"))
    assert(dkn.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(dkn.head.getLong(0) == 2L) // 7, 8; the null partition is excluded
    // a STRING source with a sentinel file declines (null/"" conflation)
    t.append(Seq((8L, null.asInstanceOf[String], java.lang.Long.valueOf(80L), 8.5))
      .toDF("id", "cat", "v", "d"))
    val snn = readLake(t.location).filter(col("cat").isNotNull).agg(count(lit(1)).as("n"))
    assert(snn.queryExecution.executedPlan.toString.contains("BatchScan"),
      "string sentinel files must decline IS NOT NULL serving")
    assert(snn.head.getLong(0) == 7L)
    // ... and declines the string distinct count too ("" vs null)
    val dks = readLake(t.location).agg(countDistinct(col("cat")).as("nc"))
    assert(dks.queryExecution.executedPlan.toString.contains("BatchScan"),
      "string sentinel files must decline COUNT(DISTINCT) serving")
    assert(dks.head.getLong(0) == 3L) // A, B, C — null excluded, no "" row

    // TIME-TRAVEL rollups serve from the PINNED snapshot's manifests:
    // the same aggregate asOf the first append folds the historical
    // listing, not the current one
    val tt = readLake(t.location, asOf = Some(1L))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(tt.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "asOf aggregate should be metadata-served from the pinned snapshot")
    assert(tt.as[(Long, Option[Long])].collect().toSeq == Seq((5L, Some(60L))))

    // the DSv2 write path records the same stats: a df.write.format
    // append serves SUM from metadata too
    val v2df = Seq((1L, 100L), (2L, 250L)).toDF("id", "cents")
    val tv = graft.lake.LakeTable.create(spark, s"$dir/tv", "tv", v2df.schema)
    v2df.write.format("graftlake").option("path", tv.location).mode("append").save()
    val vq = readLake(tv.location).agg(sum(col("cents")).as("sc"), count(col("cents")).as("n"))
    assert(vq.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "DSv2-written files should carry recorded sums")
    assert(vq.as[(Option[Long], Long)].collect().toSeq == Seq((Some(350L), 2L)))

    // files without recorded sums: SUM declines but COUNT(col) still
    // serves — non-null counts come from footer stats, not the sums
    val tn = graft.lake.LakeTable.create(spark, s"$dir/tn", "tn", big.schema)
    tn.append(big)
    stripSums(tn)
    val nsum = readLake(tn.location).agg(sum(col("huge")))
    assert(nsum.queryExecution.executedPlan.toString.contains("BatchScan"),
      "SUM without recorded sums must decline")
    val ncnt = readLake(tn.location).agg(count(col("huge")).as("n"))
    assert(ncnt.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "COUNT(col) should serve from footer non-null counts")
    assert(ncnt.head.getLong(0) == 2L)
  }

  /** Commit the head's data files again without their recorded sums — a
    * table whose metadata cannot serve SUM/AVG. */
  private def stripSums(t: graft.lake.LakeTable): Unit =
    t.commit("strip-sums")(h => h.copy(dataFiles = h.dataFiles.map(_.copy(sums = Map.empty))))

  test("metadata-served SQL aggregate through the graft catalog") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-metaagg-sql").toString
    spark.conf.set("spark.sql.catalog.graftmeta", classOf[GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", wh)
    try {
      spark.sql("CREATE TABLE graftmeta.counts (id BIGINT, v STRING)")
      Seq((1L, "x"), (2L, "y")).toDF("id", "v")
        .writeTo("graftmeta.counts").append()
      val q = spark.sql("SELECT count(*) AS n, min(id) AS mn FROM graftmeta.counts")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"SQL aggregate not metadata-served:\n$plan")
      assert(q.head.getLong(0) == 2L && q.head.getLong(1) == 1L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graftmeta.counts")
      spark.conf.unset("spark.graft.catalog.warehouse")
    }
  }

  test("pushed LIMIT plans only enough files to cover it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-limit-spec").toString
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema,
      primaryKey = Seq("id"))
    (0 until 5).foreach(i => t.append(df.filter(col("id") % 5 === i)))
    val snap = t.currentSnapshot
    assert(snap.dataFiles.size >= 5)
    def scanWithLimit(n: Option[Int]): GraftLakeScan = {
      val b = new GraftLakeScanBuilder(t, snap.seq, t.currentSchema,
        skipDeletes = false)
      n.foreach(l => assert(b.pushLimit(l), "limit not accepted"))
      b.build().asInstanceOf[GraftLakeScan]
    }
    val full = scanWithLimit(None).planInputPartitions().length
    val limited = scanWithLimit(Some(10)).planInputPartitions().length
    assert(limited < full, s"limit pruned nothing ($limited of $full)")
    // end to end: correct rows, and the limit is visible in the scan
    val got = readLake(t.location).limit(10)
    assert(got.count() == 10)
    // tombstones refuse limit pushdown (kept files could under-deliver)
    t.deleteKeys(spark.range(0, 1000, 2).select(col("id")))
    val b2 = new GraftLakeScanBuilder(t, t.currentSeq, t.currentSchema,
      skipDeletes = false)
    assert(!b2.pushLimit(10))
    assert(readLake(t.location).limit(10).count() == 10)
  }

  test("lake tables are queryable from plain SQL via the DSv2 source") {
    val t = LakePipelines.ordersLake(spark, sfDir)
    readLake(t.location).createOrReplaceTempView("orders_lake_sql")
    val got = spark.sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders_lake_sql
        |GROUP BY o_orderstatus""".stripMargin)
    val want = t.scan().groupBy(col("o_orderstatus").as("status")).agg(count(lit(1)).as("n"))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("above the file-count valve the metadata fold moves to executors and still " +
      "serves (files-heavy pre-compaction table)") {
    // VERDICT r15 #6 introduced the valve: the gold-serve rollups fold
    // per-file sums on the DRIVER — fine on a maintained table, a planner
    // cliff on a neglected one (10⁵-10⁶ pre-compaction files at 100 TB).
    // VERDICT r18 #1: above the valve the same fold runs as a small
    // manifest-entry JOB (LakeMetaAggregate.foldAndRender) instead of
    // declining into a full data scan — 87 s of real file opens at 100k
    // files for a COUNT/MIN/MAX the snapshot already answers. This builds
    // a many-small-files fixture (identity × month × bucket spec, two
    // appends → hundreds of files), proves the driver fold serves and is
    // EXACT at this width, then lowers spark.graft.lake.metaAggMaxFiles
    // and proves the SAME LocalRelation plan comes back — via the executor
    // fold (distributedServes counter) — with identical results, for
    // grouped, ungrouped, filtered-DISTINCT, SUM/AVG/COUNT(col),
    // year()/month()-grouped, temporal-range and IS NULL shapes alike.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metavalve-spec").toString
    val df = spark.range(4000).select(
      col("id"),
      concat(lit("c"), (col("id") % 3).cast("string")).as("cat"),
      (col("id") % 100).as("v"),
      // Nov 2024 .. Feb 2025, one month per 1000 ids, a few NULL dates
      when(col("id") % 97 =!= 0,
        add_months(lit(java.sql.Date.valueOf("2024-11-01")), (col("id") / 1000).cast("int")))
        .as("d"))
    val spec = Seq(
      graft.lake.PartitionField("cat", graft.lake.Transform.Identity, "p_cat"),
      graft.lake.PartitionField("d", graft.lake.Transform.Month, "p_m"),
      graft.lake.PartitionField("id", graft.lake.Transform.Bucket(32), "p_b"))
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = spec, primaryKey = Seq("id"))
    t.append(df.filter(col("id") < 2000))
    t.append(df.filter(col("id") >= 2000))
    val nFiles = t.currentSnapshot.dataFiles.size
    assert(nFiles >= 150, s"fixture too compact to be 'files-heavy': $nFiles files")

    def grouped = readLake(t.location)
      .groupBy("cat").agg(count(lit(1)).as("n"), sum("v").as("sv"),
        min("id").as("mn"), max("id").as("mx"))
    def ungrouped = readLake(t.location)
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
    def filteredDistinct = readLake(t.location)
      .filter(col("cat") === "c1")
      .agg(count(lit(1)).as("n"), countDistinct(col("cat")).as("nd"))
    // further shapes, each checked against the same aggregate over the
    // source rows and then for parity across the valve
    val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "sum/avg/count(col)" -> (_.groupBy("cat").agg(sum("v").as("sv"), avg("v").as("av"),
        count(col("d")).as("nd"))),
      "year/month grouping" -> (_.groupBy(year(col("d")).as("y"), month(col("d")).as("m"))
        .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))),
      "aligned temporal range" -> (_
        .filter(col("d") >= lit(java.sql.Date.valueOf("2024-12-01")) &&
          col("d") < lit(java.sql.Date.valueOf("2025-02-01")))
        .groupBy(month(col("d")).as("m")).agg(count(lit(1)).as("n"), sum("v").as("sv"))),
      "is null" -> (_.filter(col("d").isNull)
        .agg(count(lit(1)).as("n"), min("id").as("mn"), count(col("d")).as("nd"))))
    def assertServed(q: DataFrame, what: String): Unit = {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"$what not metadata-served:\n$plan")
    }
    def folds = graft.plans.LakeMetaAggregate.distributedServes.get()

    // under the default valve (200k) the DRIVER fold serves: zero tasks
    val servedPlan = grouped.queryExecution.executedPlan.toString
    assert(servedPlan.contains("LocalTableScan") && !servedPlan.contains("BatchScan"),
      s"grouped rollup not metadata-served at $nFiles files:\n$servedPlan")
    val servedRows = sortedRows(grouped)
    val servedUng = sortedRows(ungrouped)
    val servedFd = sortedRows(filteredDistinct)
    val servedShapes = shapes.map { case (what, q) =>
      assertServed(q(readLake(t.location)), s"$what below the valve")
      val rows = sortedRows(q(readLake(t.location)))
      assert(rows == sortedRows(q(df)), s"$what: metadata answer differs from the rows")
      rows
    }

    try {
      spark.conf.set("spark.graft.lake.metaAggMaxFiles", (nFiles - 1).toString)
      // grouped rule path: still a LocalRelation serve, via the executor fold
      val pre = folds
      val fallPlan = grouped.queryExecution.executedPlan.toString
      assert(fallPlan.contains("LocalTableScan") && !fallPlan.contains("BatchScan"),
        s"grouped rollup not served by the distributed fold above the valve:\n$fallPlan")
      assert(folds > pre, "above-valve serve did not take the executor-fold path")
      assert(sortedRows(grouped) == servedRows,
        "distributed manifest fold disagrees with the driver fold")
      // ungrouped: the same executor fold serves
      val fallUng = ungrouped.queryExecution.executedPlan.toString
      assert(fallUng.contains("LocalTableScan") && !fallUng.contains("BatchScan"),
        s"ungrouped rollup not served by the distributed fold above the valve:\n$fallUng")
      assert(sortedRows(ungrouped) == servedUng)
      // filtered + COUNT(DISTINCT identity source): task-side filter
      // classification + distinct-tuple sets
      assert(sortedRows(filteredDistinct) == servedFd)
      shapes.zip(servedShapes).foreach { case ((what, q), rows) =>
        val pre = folds
        assertServed(q(readLake(t.location)), s"$what above the valve")
        assert(folds > pre, s"$what above the valve did not take the executor-fold path")
        assert(sortedRows(q(readLake(t.location))) == rows,
          s"$what: executor fold disagrees with the driver fold")
      }

      // POISON path: a table whose sums were never recorded cannot serve
      // SUM above the valve — the fold must decline into the real scan
      // (absence-declines task-side), never a wrong answer
      val t2 = graft.lake.LakeTable.create(spark, s"$dir/t2", "t2", df.schema,
        partitionSpec = spec, primaryKey = Seq("id"))
      t2.append(df)
      stripSums(t2)
      // t2 holds fewer files than t (one append): push the valve below it
      val t2Files = t2.currentSnapshot.dataFiles.size
      spark.conf.set("spark.graft.lake.metaAggMaxFiles", (t2Files - 1).toString)
      def sumless = readLake(t2.location).groupBy("cat").agg(sum("v").as("sv"))
      val pre2 = folds
      val poisonPlan = sumless.queryExecution.executedPlan.toString
      assert(folds > pre2, "sum-less decline did not go through the executor fold")
      assert(poisonPlan.contains("BatchScan"),
        s"sum-less table must decline to the real scan above the valve:\n$poisonPlan")
      val want = df.groupBy("cat").agg(sum("v").as("sv"))
      assert(sortedRows(sumless) == sortedRows(want))

      // ADVICE r19: a declined distributed fold is MEMOIZED on the
      // Aggregate node (TreeNodeTag keyed by table location + snapshot
      // seq) — the fixed-point optimizer re-applies the rule on every
      // iteration of both operator-optimization batches, and without the
      // memo each re-application re-launches the executor fold job on
      // exactly the 10⁵-10⁶-file regime the valve bounds. Applying the
      // rule object twice to the SAME analyzed plan must cost exactly
      // one fold job.
      val memoDf = sumless
      val analyzed = memoDf.queryExecution.analyzed
      val rule = new graft.plans.LakeMetaAggregate(spark)
      val pMemo = folds
      val once = rule.apply(analyzed)
      assert(once.fastEquals(analyzed), "sum-less decline must leave the plan unchanged")
      rule.apply(analyzed)
      rule.apply(analyzed)
      assert(folds - pMemo == 1,
        s"declined distributed fold must run at most once per compilation, ran ${folds - pMemo}")
    } finally spark.conf.unset("spark.graft.lake.metaAggMaxFiles")

    // valve restored: the zero-job driver serve comes back
    assert(grouped.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("after spec evolution each file answers from the first candidate field it records, " +
      "below and above the valve") {
    // spec v0 records day(d) and month(d); v1 drops day(d). GROUP BY
    // month(d) has two candidate fields (d_day, d_month in spec order):
    // v0 files answer from d_day, v1 files — which never recorded it —
    // from d_month. Both fold regimes must serve the rollup exactly.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metaevolve-spec").toString
    val day = graft.lake.PartitionField("d", graft.lake.Transform.Day, "d_day")
    val mon = graft.lake.PartitionField("d", graft.lake.Transform.Month, "d_month")
    val b0 = Seq(
      (1L, java.sql.Date.valueOf("2024-01-05")), (2L, java.sql.Date.valueOf("2024-01-20")),
      (3L, java.sql.Date.valueOf("2024-02-03"))).toDF("id", "d")
    val b1 = Seq(
      (4L, java.sql.Date.valueOf("2024-02-11")), (5L, java.sql.Date.valueOf("2024-03-01")),
      (6L, null.asInstanceOf[java.sql.Date])).toDF("id", "d")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", b0.schema,
      partitionSpec = Seq(day, mon))
    t.append(b0)
    t.evolvePartitionSpec(Seq(mon))
    t.append(b1)
    val files = t.currentSnapshot.dataFiles
    assert(files.exists(!_.partition.contains("d_day")), "v1 files should not record d_day")

    def rollup(rel: DataFrame) = rel.groupBy(month(col("d")).as("m"))
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
    val want = sortedRows(rollup(b0.unionAll(b1)))
    def check(regime: String): Unit = {
      val q = rollup(readLake(t.location))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"month rollup over an evolved spec not metadata-served $regime:\n$plan")
      assert(sortedRows(q) == want, s"month rollup wrong $regime")
    }
    check("below the valve")
    def folds = graft.plans.LakeMetaAggregate.distributedServes.get()
    val pre = folds
    spark.conf.set("spark.graft.lake.metaAggMaxFiles", (files.size - 1).toString)
    try check("above the valve")
    finally spark.conf.unset("spark.graft.lake.metaAggMaxFiles")
    assert(folds > pre, "above-valve rollup did not take the executor-fold path")
  }

  /** Planned input partitions of every lake scan of `t` in `df`'s plan. */
  private def scanParts[S: scala.reflect.ClassTag](df: DataFrame): Seq[Seq[GraftPacked]] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if implicitly[scala.reflect.ClassTag[S]].runtimeClass.isInstance(b.scan) =>
        b.batch.planInputPartitions().toSeq.map(_.asInstanceOf[GraftPacked])
    }

  test("a 72-small-file DSv2 scan packs exactly as many partitions as spark.read.parquet") {
    import graft.lake.{LakeTable, PartitionField, Transform}
    val dir = java.nio.file.Files.createTempDirectory("graft-pack-spec").toString
    val df = spark.range(7200).select(col("id"), (col("id") % 72).as("p"))
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("p", Transform.Identity, "p_p")))
    t.append(df)
    val files = t.currentSnapshot.dataFiles
    assert(files.size == 72, s"fixture wrote ${files.size} files")
    val avg = files.map(_.bytes).sum / files.size
    // Spark's defaults, then a small open cost and a ~3-file split target;
    // storage-partitioned grouping off (keyed splits pack per key only)
    val noSpj = Map("spark.sql.sources.v2.bucketing.enabled" -> "false")
    Seq(noSpj, noSpj ++ Map("spark.sql.files.openCostInBytes" -> "1024",
        "spark.sql.files.maxPartitionBytes" -> (3 * avg).toString)).foreach { confs =>
      withConfs(confs) {
        val lake = scanParts[GraftLakeScan](readLake(t.location)).flatten
        val plain = spark.read.parquet(files.map(f => t.abs(f.path)): _*).rdd.getNumPartitions
        assert(lake.size == plain, s"$confs: lake scan planned ${lake.size}, file source $plain")
        assert(lake.size < files.size, s"$confs: no packing")
        assert(lake.flatMap(_.chunks.map(_.file)).sorted == files.map(f => t.abs(f.path)).sorted,
          s"$confs: packed partitions must cover every file exactly once")
      }
    }
    assert(readLake(t.location).count() == 7200)
  }

  test("LakeTable.scan(filters) plans the files snapshotPruned + planFiles keep") {
    import graft.lake.PruneFilter.{Eq, Ge, In, Lt}
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val orders = LakePipelines.ordersLake(spark, sfDir)
    val evolved = LakePipelines.ordersSpecEvolved(spark, sfDir)
    val shapes = Seq(
      // q24's month range
      orders -> Seq(Ge("o_orderdate", LakePipelines.PruneLo), Lt("o_orderdate", LakePipelines.PruneHi)),
      // serve's scan_api: month range + status
      orders -> Seq(Ge("o_orderdate", ts("1995-03-01T00:00:00Z")),
        Lt("o_orderdate", ts("1995-06-01T00:00:00Z")), Eq("o_orderstatus", "F")),
      orders -> Seq(In("o_orderstatus", Seq("F", "P")), Ge("o_orderdate", LakePipelines.PruneHi)),
      // q74's range + status across a partition-spec evolution
      evolved -> Seq(Ge("o_orderdate", ts("1998-07-01T00:00:00Z")),
        Lt("o_orderdate", ts("1999-07-01T00:00:00Z")), Eq("o_orderstatus", "F")))
    shapes.foreach { case (t, fs) =>
      val seq = t.currentSeq
      val want = t.planFiles(t.snapshotPruned(seq, fs), fs)._1.map(f => t.abs(f.path)).toSet
      val got = scanParts[GraftLakeScan](t.scan(filters = fs)).flatten
        .flatMap(_.chunks.map(_.file)).toSet
      assert(want.nonEmpty && want.size < t.snapshot(seq).dataFiles.size, s"$fs: prunes nothing")
      assert(got == want, s"$fs: scan planned ${got.size} files, planFiles keeps ${want.size}")
    }
  }

  test("a merge-on-read scan over 4 delete files reads its key side in one task") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-keyside-spec").toString
    val base = (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = graft.lake.LakeTable.create(spark, s"$dir/t", "t", base.schema,
      primaryKey = Seq("k"))
    t.append(base)
    (0 until 4).foreach(i => t.upsert(Seq((i * 10L + 1, -1.0)).toDF("k", "v")))
    assert(t.currentSnapshot.deleteFiles.size == 4)
    Seq(t.scan(), readLake(t.location)).foreach { df =>
      assert(scanParts[GraftLakeDeleteKeysScan](df).map(_.size) == Seq(1),
        s"key side not packed into one task:\n${df.queryExecution.sparkPlan}")
      assert(df.count() == 100 && df.filter(col("v") === -1.0).count() == 4)
    }
    // the scan's metadata columns: the serving file and the writing commit
    val meta = t.scan().filter(col("v") === -1.0)
      .select(col(GraftLakeSource.FileCol), col(graft.lake.LakeTable.SeqCol)).collect()
    assert(meta.map(_.getLong(1)).sorted.toSeq == (2L to 5L),
      s"upserted rows must carry their commits' seqs: ${meta.toSeq}")
    assert(meta.map(_.getString(0)).toSet.subsetOf(
      t.currentSnapshot.dataFiles.map(f => t.abs(f.path)).toSet))
    // compaction reads through the same route; a plain relation offers both too
    val compacted = graft.lake.Maintenance.compact(t)
    assert(t.scan().select(col(graft.lake.LakeTable.SeqCol)).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(compacted.seq))
    assert(t.scan().select(col(GraftLakeSource.FileCol)).distinct().count() ==
      t.currentSnapshot.dataFiles.size)
  }
}
