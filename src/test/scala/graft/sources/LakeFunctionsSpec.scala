package graft.sources

import graft.SparkSpec
import graft.lake.{LakeFileWriter, LakeWriteSpec, PartitionField, Transform}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

import java.nio.file.Files

/** The lake's partition transforms as SQL functions of the `graft`
  * catalog: over every transform and source type, `graft.<fn>(v)` agrees
  * with the partition value the writer renders for `v` (equal exactly when
  * the rendered values are equal), and the order-preserving transforms are
  * monotone. */
class LakeFunctionsSpec extends SparkSpec {

  private val wh = Files.createTempDirectory("graft-fn-spec").toString
  private val rng = new scala.util.Random(5)

  private def date(s: String) = java.sql.Date.valueOf(s)
  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  private val dates: Seq[Any] = Seq(date("1969-12-31"), date("1970-01-01"), date("2000-02-29"),
    date("1899-12-31"), date("2100-01-01")) ++
    Seq.fill(200)(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rng.between(-30000L, 50000L))))
  private val timestamps: Seq[Any] = Seq(ts("1969-12-31T23:59:59.999999Z"),
    ts("1970-01-01T00:00:00Z"), ts("1996-12-31T23:59:59Z"), ts("1997-01-01T00:00:00Z")) ++
    Seq.fill(200)(new java.sql.Timestamp(rng.between(-2000000000000L, 4000000000000L)))
  private val ints: Seq[Any] = Seq(0, -1, Int.MinValue, Int.MaxValue) ++ Seq.fill(200)(rng.nextInt())
  private val longs: Seq[Any] = Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(200)(rng.nextLong())
  private val emoji = new String(Character.toChars(0x1F600))
  private val strings: Seq[Any] = Seq("", "a", "ab", "abc", emoji, emoji + emoji + "x", "�ab",
    "zz") ++ Seq.fill(200)(rng.alphanumeric.take(rng.between(0, 6)).mkString)

  private val cases: Seq[(String, DataType, Seq[Any], Transform, String)] = Seq(
    ("years", DateType, dates, Transform.Year, "graft.years(v)"),
    ("years", TimestampType, timestamps, Transform.Year, "graft.years(v)"),
    ("months", DateType, dates, Transform.Month, "graft.months(v)"),
    ("months", TimestampType, timestamps, Transform.Month, "graft.months(v)"),
    ("days", DateType, dates, Transform.Day, "graft.days(v)"),
    ("days", TimestampType, timestamps, Transform.Day, "graft.days(v)"),
    ("bucket", IntegerType, ints, Transform.Bucket(7), "graft.bucket(7, v)"),
    ("bucket", LongType, longs, Transform.Bucket(7), "graft.bucket(7, v)"),
    ("bucket", StringType, strings, Transform.Bucket(7), "graft.bucket(7, v)"),
    ("bucket", DateType, dates, Transform.Bucket(7), "graft.bucket(7, v)"),
    ("bucket", TimestampType, timestamps, Transform.Bucket(7), "graft.bucket(7, v)"),
    ("truncate", StringType, strings, Transform.Truncate(2), "graft.truncate(2, v)"))

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", wh)
  }

  cases.zipWithIndex.foreach { case ((fn, dt, values, tr, call), i) =>
    test(s"graft.$fn over ${dt.sql} (with NULL) matches the writer's partition values") {
      val schema = StructType(Seq(StructField("id", IntegerType), StructField("v", dt)))
      val rows = (values :+ null).zipWithIndex.map { case (v, id) => Row(id, v) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      // the writer's rendering: every staged file carries the partition
      // value of its rows (staged, not published — the value need not be
      // a path the local file system can encode)
      val loc = s"$wh/w$i"
      val staged = LakeFileWriter.stage(df.queryExecution.toRdd, LakeWriteSpec(loc, "_staging/s", 1L,
        Map.empty, schema, LakeFileWriter.bind(Seq(PartitionField("v", tr, "p")), schema).get))
      val byName = staged.map(f => new java.io.File(f.rel).getName -> f.partition.head._2).toMap
      val rendered: Map[Int, String] = spark.read.parquet(staged.map(f => s"$loc/${f.rel}"): _*)
        .select("id", "_metadata.file_name").collect()
        .map(r => r.getInt(0) -> byName(r.getString(1))).toMap
      df.createOrReplaceTempView("fn_src")
      val q = spark.sql(s"SELECT id, v, $call AS f FROM fn_src")
      val got = q.collect().map(r => (r.getInt(0), r.get(1), Option(r.get(2)))).sortBy(_._1)
      assert(got.length == rows.length && rendered.size == rows.length)
      // equal function values exactly when equal rendered values
      val classes = got.groupBy(_._3).values.map(_.map(r => rendered(r._1)).toSet)
      assert(classes.forall(_.size == 1),
        s"one function value spans several partition values: ${classes.filter(_.size > 1).take(3)}")
      assert(classes.size == rendered.values.toSet.size,
        s"${classes.size} function values for ${rendered.values.toSet.size} partition values")
      if (tr.orderPreserving) {
        // monotone: a larger input never maps to a smaller value
        val ordered = spark.sql(s"SELECT $call AS f FROM fn_src WHERE v IS NOT NULL ORDER BY v")
          .collect().map(_.get(0)).filter(_ != null)
        val cmp: (Any, Any) => Int = (a, b) => (a, b) match {
          case (x: Int, y: Int) => Integer.compare(x, y)
          case (x: String, y: String) => java.util.Arrays.compareUnsigned(
            x.getBytes("UTF-8"), y.getBytes("UTF-8"))
          case other => fail(s"unexpected values $other")
        }
        ordered.sliding(2).foreach {
          case Array(a, b) => assert(cmp(a, b) <= 0, s"$fn not monotone: $a after $b")
          case _ =>
        }
      }
    }
  }

  test("temporal transforms and truncate run as generated static calls; the catalog lists every transform") {
    spark.sql("SELECT DATE'2024-03-05' AS d, TIMESTAMP'2024-03-05 10:00:00' AS t, 'abc' AS s")
      .createOrReplaceTempView("fn_one")
    val q = spark.sql("SELECT graft.years(d), graft.months(t), graft.days(d), " +
      "graft.truncate(2, s) FROM fn_one")
    val invokes = q.queryExecution.analyzed.expressions.flatMap(_.collect { case s: StaticInvoke => s })
    assert(invokes.size == 4, q.queryExecution.analyzed.treeString)
    assert(q.head() == Row(54, 650, 19787, "ab"))
    assert(new GraftCatalog().listFunctions(Array.empty).map(_.name()).toSet ==
      Set("years", "months", "days", "bucket", "truncate", "zorder"))
  }
}
