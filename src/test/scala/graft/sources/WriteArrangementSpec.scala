package graft.sources

import graft.SparkSpec
import graft.lake.{LakeCatalog, LakeTable, PartitionField, PruneFilter, Transform}
import org.apache.spark.sql.DataFrame

import java.nio.file.Files

/** Every lake write route takes the table's one write arrangement: the
  * same rows written by `LakeTable.append`, the path-addressed
  * `format("graftlake")` append, SQL INSERT and SQL MERGE land in the same
  * layout — one file per month of a month-partitioned linear table,
  * disjoint cluster-key bands per month for a range table, and z-order
  * files that skip on either key. */
class WriteArrangementSpec extends SparkSpec {
  import spark.implicits._

  private val wh = Files.createTempDirectory("graft-arrange-spec").toString
  private val rng = new scala.util.Random(23)
  private val rows = (1 to 8000).map(i =>
    (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 120)),
      rng.nextInt(100000), rng.nextInt(100000)))
  private def src: DataFrame = rows.toDF("id", "d", "x", "y").repartition(4)

  private val routes: Seq[(String, LakeTable => Unit)] = Seq(
    "append" -> (t => t.append(src)),
    "path" -> (t => src.write.format("graftlake").option("path", t.location).mode("append").save()),
    "insert" -> (t => spark.sql(s"INSERT INTO graft.${t.meta.name} SELECT * FROM arrange_src")),
    "merge" -> (t => spark.sql(
      s"""MERGE INTO graft.${t.meta.name} t USING arrange_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)))

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", wh)
  }

  /** The table written once by each route, with the rows checked. */
  private def written(strategy: String, partitioned: Boolean, clusterBy: Seq[String])
      : Seq[(String, LakeTable)] = {
    src.createOrReplaceTempView("arrange_src")
    routes.map { case (route, write) =>
      val t = new LakeCatalog(spark, wh).createTable(s"${strategy}_$route", src.schema,
        partitionSpec =
          if (partitioned) Seq(PartitionField("d", Transform.Month, "p_month")) else Nil,
        clusterBy = clusterBy, primaryKey = Seq("id"), clusterStrategy = strategy)
      withConfs(SixteenWriteTasks)(write(t))
      val live = LakeTable.load(spark, t.location)
      assert(live.scan().count() == rows.size, s"$route lost rows")
      route -> live
    }
  }

  /** Every file holds one month: its date bounds fall inside its tuple. */
  private def assertOneTuplePerFile(route: String, t: LakeTable): Unit =
    t.currentSnapshot.dataFiles.foreach { f =>
      val b = f.bounds("d")
      val lo = java.time.LocalDate.ofEpochDay(b.min.toLong)
      val hi = java.time.LocalDate.ofEpochDay(b.max.toLong)
      assert(f"${lo.getYear}%04d-${lo.getMonthValue}%02d" == f.partition("p_month") &&
        f"${hi.getYear}%04d-${hi.getMonthValue}%02d" == f.partition("p_month"),
        s"$route: ${f.path} spans $lo..$hi")
    }

  test("linear month partitions: one file per month from every route") {
    val layouts = written("linear", partitioned = true, Seq("x")).map { case (route, t) =>
      assertOneTuplePerFile(route, t)
      route -> t.currentSnapshot.dataFiles.groupBy(_.partition("p_month")).map {
        case (month, fs) => month -> fs.size
      }
    }
    layouts.foreach { case (route, layout) =>
      assert(layout.size == 4 && layout.values.forall(_ == 1),
        s"$route: files per month $layout")
    }
  }

  test("range: disjoint cluster-key bands per month from every route") {
    written("range", partitioned = true, Seq("x")).foreach { case (route, t) =>
      assertOneTuplePerFile(route, t)
      val files = t.currentSnapshot.dataFiles
      assert(files.size > 4, s"$route: ${files.size} files")
      files.groupBy(_.partition("p_month")).foreach { case (month, fs) =>
        val bands = fs.map(f => (f.bounds("x").min.toLong, f.bounds("x").max.toLong)).sortBy(_._1)
        bands.sliding(2).foreach {
          case Seq(a, b) => assert(a._2 < b._1, s"$route $month: overlapping x bands $bands")
          case _ =>
        }
      }
    }
  }

  test("zorder: files skip on either key from every route") {
    written("zorder", partitioned = false, Seq("x", "y")).foreach { case (route, t) =>
      val total = t.currentSnapshot.dataFiles.size
      assert(total > 4, s"$route: $total files")
      for (k <- Seq("x", "y")) {
        val kept = t.planFiles(t.currentSnapshot, Seq(PruneFilter.Lt(k, 5000)))._1.size
        assert(kept <= total / 2, s"$route: a $k filter kept $kept/$total files")
      }
    }
  }
}
