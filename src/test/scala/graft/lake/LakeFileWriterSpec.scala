package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** The lake's one file writer: partition rendering agrees across every
  * write route, recorded stats are exactly the written file's footer, and
  * transform/type pairs outside the Iceberg transform table are refused. */
class LakeFileWriterSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  /** The file's own footer, reopened from disk, plus its FileStatus length. */
  private def reopened(t: LakeTable, rel: String): FileMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(t.abs(rel))
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try FileMeta.of(rd.getFooter, p.getFileSystem(conf).getFileStatus(p).getLen)
    finally rd.close()
  }

  private def physical(t: LakeTable, rel: String): Map[String, PrimitiveTypeName] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(t.abs(rel)), conf))
    try {
      import scala.jdk.CollectionConverters._
      rd.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive => f.getName -> f.asPrimitiveType.getPrimitiveTypeName
      }.toMap
    } finally rd.close()
  }

  test("identity(DATE/DOUBLE/DECIMAL) partitions agree across DSv2 append, SQL INSERT and LakeTable.append") {
    val wh = Files.createTempDirectory("graft-identity-routes").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", wh)
    // (name, SQL type, rows, an equality literal that must keep its row)
    val cases: Seq[(String, String, DataFrame, Any)] = Seq(
      ("date", "DATE", Seq(
        (1L, Some(java.sql.Date.valueOf("2024-01-05"))),
        (2L, Some(java.sql.Date.valueOf("2024-02-29"))),
        (3L, Some(java.sql.Date.valueOf("2024-01-05"))),
        (4L, None)).toDF("id", "k"), java.sql.Date.valueOf("2024-02-29")),
      ("double", "DOUBLE", Seq(
        (1L, Some(1.5)), (2L, Some(-2.0)), (3L, Some(1.0e10)), (4L, None)).toDF("id", "k"), 1.0e10),
      ("decimal", "DECIMAL(10,2)", Seq(
        (1L, Some(BigDecimal("1.50"))), (2L, Some(BigDecimal("-3.25"))), (3L, None))
        .toDF("id", "k").select(col("id"), col("k").cast("decimal(10,2)").as("k")),
        // scale 1 against the column's scale 2: must not prune the "1.50" file
        new java.math.BigDecimal("1.5")))
    cases.foreach { case (name, sqlType, df, probe) =>
      val rows = df.collect().toSet
      // the value Spark's own cast-to-string renders, null as the sentinel
      val expected = df.select(col("k").cast("string")).as[Option[String]].collect()
        .map(_.getOrElse(PartitionValues.NullSentinel)).toSet
      def create(tn: String): LakeTable = {
        spark.sql(s"CREATE TABLE graft.$tn (id BIGINT, k $sqlType) PARTITIONED BY (k)")
        LakeTable.load(spark, s"$wh/$tn")
      }
      val viaAppend = create(s"${name}_append")
      viaAppend.append(df)
      val viaDsv2 = create(s"${name}_dsv2")
      df.write.format("graftlake").option("path", viaDsv2.location).mode("append").save()
      val viaSql = create(s"${name}_sql")
      df.createOrReplaceTempView("identity_src")
      spark.sql(s"INSERT INTO graft.${name}_sql SELECT id, k FROM identity_src")
      Seq(viaAppend, viaDsv2, viaSql).foreach { t =>
        val files = t.currentSnapshot.dataFiles
        assert(files.map(_.partition("p_k")).toSet == expected, s"$name: ${t.location}")
        // every file holds exactly the rows its recorded value names
        files.foreach { f =>
          val got = spark.read.parquet(t.abs(f.path)).select(col("k").cast("string"))
            .as[Option[String]].collect().map(_.getOrElse(PartitionValues.NullSentinel)).toSet
          assert(got == Set(f.partition("p_k")), s"$name: ${f.path} holds $got")
        }
        assert(t.scan().collect().toSet == rows, s"$name: ${t.location}")
        assert(t.scan(filters = Seq(PruneFilter.Eq("k", probe))).count() == 1L, s"$name: $probe")
      }
    }
  }

  test("identity(DOUBLE) tables record timestamp bounds and prune timestamp ranges by file") {
    val dir = Files.createTempDirectory("graft-ts-bounds").toString
    val df = Seq(
      (1L, 1.0, ts("2024-01-03T00:00:00Z")), (2L, 1.0, ts("2024-01-20T00:00:00Z")),
      (3L, 2.0, ts("2024-06-02T00:00:00Z")), (4L, 2.0, ts("2024-06-30T00:00:00Z")))
      .toDF("id", "g", "t")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
      partitionSpec = Seq(PartitionField("g", Transform.Identity, "p_g")))
    t.append(df)
    val snap = t.currentSnapshot
    assert(snap.dataFiles.size == 2)
    snap.dataFiles.foreach(f => assert(f.bounds.keySet == Set("id", "g", "t"), f.bounds))
    val (kept, total) = t.planFiles(snap, Seq(PruneFilter.Ge("t", ts("2024-06-01T00:00:00Z"))))
    assert(total == 2 && kept.map(_.partition("p_g")) == Seq("2.0"))
    assert(t.scan(filters = Seq(PruneFilter.Ge("t", ts("2024-06-01T00:00:00Z"))))
      .select("id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("transform/type pairs outside the Iceberg transform table are refused") {
    val dir = Files.createTempDirectory("graft-transform-refusal").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n", IntegerType), StructField("s", StringType),
      StructField("arr", ArrayType(IntegerType)), StructField("d", DateType)))
    def refused(tr: Transform, source: String, typeSql: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      Seq(tr.name, source, typeSql).foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    }
    Seq((Transform.Month, "id", "BIGINT"), (Transform.Year, "s", "STRING"),
        (Transform.Day, "n", "INT"), (Transform.Truncate(3), "n", "INT"),
        (Transform.Identity, "arr", "ARRAY<INT>")).zipWithIndex.foreach {
      case ((tr, source, typeSql), i) =>
        refused(tr, source, typeSql)(LakeTable.create(spark, s"$dir/c$i", s"c$i", schema,
          partitionSpec = Seq(PartitionField(source, tr, "p"))))
    }
    // legal pairs still create, and evolution refuses the same way
    val t = LakeTable.create(spark, s"$dir/ok", "ok", schema,
      partitionSpec = Seq(PartitionField("d", Transform.Month, "p_m"),
        PartitionField("s", Transform.Truncate(2), "p_s"), PartitionField("arr", Transform.Bucket(4), "p_b")))
    refused(Transform.Day, "s", "STRING")(
      t.evolvePartitionSpec(Seq(PartitionField("s", Transform.Day, "p_day"))))
    assert(t.currentSnapshot.specVersion == 0)
    // SQL CREATE routes to the same check
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", s"$dir/wh")
    val e = intercept[Exception](
      spark.sql("CREATE TABLE graft.bad (id BIGINT, s STRING) PARTITIONED BY (days(s))"))
    assert(e.getMessage.contains("day") && e.getMessage.contains("STRING"), e.getMessage)
  }

  test("recorded stats equal the written file's own footer on every column type and route") {
    val dir = Files.createTempDirectory("graft-writer-stats").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val oldBlock = conf.get("parquet.block.size")
    // small row groups: several splits per file
    conf.setInt("parquet.block.size", 8192)
    try {
      val df = spark.range(0, 600).selectExpr(
        "CAST(id AS INT) AS i", "id AS l", "concat('s', id) AS s", "id % 2 = 0 AS b",
        "date_add(DATE'2024-01-01', CAST(id % 90 AS INT)) AS d",
        "timestamp_micros(1704067200000000 + (id * 86400000000) div 7) AS ts",
        "CAST(timestamp_micros(1704067200000000 + id * 1000) AS TIMESTAMP_NTZ) AS ntz",
        "CAST(id / 4 AS DECIMAL(9,2)) AS d9", "CAST(id * 1000 AS DECIMAL(18,4)) AS d18",
        "CAST(id - 300 AS DECIMAL(38,6)) AS d38",
        "named_struct('a', CAST(id AS INT), 'b', concat('n', id)) AS nested",
        "CAST(concat('bin', id) AS BINARY) AS bin",
        "IF(id % 5 = 0, NULL, id) AS sparse")
      val t = LakeTable.create(spark, s"$dir/t", "t", df.schema,
        partitionSpec = Seq(PartitionField("ts", Transform.Month, "p_m")),
        clusterBy = Seq("l"), primaryKey = Seq("l"))
      t.append(df)
      df.filter(col("l") < 100).write.format("graftlake").option("path", t.location)
        .mode("append").save()
      t.upsert(df.filter(col("l") >= 550))
      val snap = t.currentSnapshot
      assert(snap.dataFiles.size >= 5 && snap.deleteFiles.nonEmpty)
      assert(snap.dataFiles.exists(_.splits.size > 1), "expected multi-row-group files")
      snap.dataFiles.foreach { f =>
        val fm = reopened(t, f.path)
        assert(f.bytes == fm.len, f.path)
        assert(f.splits == fm.splits, f.path)
        assert(f.bounds == fm.bounds, f.path)
        assert(f.rows == fm.rows, f.path)
        assert(f.nonNull == fm.nonNull, f.path)
        Seq("i", "l", "s", "d", "ts", "ntz", "d9", "d18", "d38", "sparse").foreach(c =>
          assert(f.bounds.contains(c), s"${f.path}: no bound for $c"))
        assert(Seq("i", "l", "d9", "d18", "sparse").forall(f.sums.contains), f.sums)
        val types = physical(t, f.path)
        assert(types("d9") == PrimitiveTypeName.INT32)
        assert(types("d18") == PrimitiveTypeName.INT64)
        assert(types("d38") == PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
        assert(types("ts") == PrimitiveTypeName.INT64 && types("ntz") == PrimitiveTypeName.INT64)
      }
      snap.deleteFiles.foreach(f => assert(f.bytes == reopened(t, f.path).len, f.path))
      // the DSv2 append re-adds keys 0..99 (appends never dedupe); the
      // upsert replaces 550..599
      assert(t.scan().count() == 700)
      assert(t.scan().filter(col("l") === 577).select("nested.b", "bin").as[(String, Array[Byte])]
        .collect().map(r => (r._1, new String(r._2, "UTF-8"))).toSeq == Seq(("n577", "bin577")))
    } finally {
      if (oldBlock == null) conf.unset("parquet.block.size") else conf.set("parquet.block.size", oldBlock)
    }
  }

  test("a second same-shaped append compiles no generated code and stamps its own commit seq") {
    val dir = Files.createTempDirectory("graft-writer-codegen").toString
    def rows(from: Long) = (from until from + 20L).map(i => (i, s"v$i")).toDF("id", "s")
    val t = LakeTable.create(spark, s"$dir/t", "t", rows(0L).schema, primaryKey = Seq("id"))
    t.append(rows(0L)) // warm: compiles this shape's write projection
    val second = rows(100L) // built outside the measured region
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    t.append(second)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    // the commit seq is written after projection, so the generated class
    // does not depend on it (inlined as a literal, every commit compiled one)
    assert(compiled == 0L, s"second append compiled $compiled classes")
    val files = t.currentSnapshot.dataFiles
    assert(files.map(_.seq).toSet == Set(1L, 2L))
    files.foreach { f =>
      val seqs = spark.read.parquet(t.abs(f.path)).select(LakeTable.SeqCol).as[Long].collect().toSet
      assert(seqs == Set(f.seq), s"${f.path} records seq ${f.seq}, holds $seqs")
    }
  }

  test("deleteKeys on an empty key set commits no delete file") {
    val dir = Files.createTempDirectory("graft-empty-delete").toString
    val df = (1L to 10L).map(i => (i, i * 2)).toDF("id", "v")
    val t = LakeTable.create(spark, s"$dir/t", "t", df.schema, primaryKey = Seq("id"))
    t.append(df)
    val snap = t.deleteKeys(Seq.empty[Long].toDF("id"))
    assert(snap.seq == 2L && snap.deleteFiles.isEmpty)
    assert(t.scan().count() == 10L)
  }
}
