package graft.lake

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Lake I/O on a local table starts no OS process ([[LakeFs]]). The JDK's
  * flight recorder logs every `ProcessBuilder.start` as a
  * `jdk.ProcessStart` event carrying the command line; the census counts
  * the commands that name the warehouse, because other suites start
  * processes of their own in the same test JVM (ProcessSafetySpec forks
  * JVMs). The recording is stopped before it is read, so no wait is
  * needed: every event of the finished operations is in it. */
class ForkCensusSpec extends SparkSpec {
  import spark.implicits._

  /** The command lines of the processes started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(out)
        RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
      } finally Files.deleteIfExists(out)
    } finally rec.close()
  }

  test("writes, row-level commits, compaction, expiry and SQL INSERT/MERGE start no process") {
    val wh = Files.createTempDirectory("graft-fork-census").toRealPath().toString
    val root = s"$wh/orders"
    val rows = (1L to 40L).map(k => (k, s"s${k % 3}", k * 1.5))
    var got = Set.empty[(Long, String, Double)]
    val commands = processStarts {
      withConfs(Map(
          "spark.sql.catalog.graft" -> classOf[graft.sources.GraftCatalog].getName,
          "spark.graft.catalog.warehouse" -> wh)) {
        val t = LakeTable.create(spark, root, "orders", rows.toDF("id", "s", "v").schema,
          partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")),
          primaryKey = Seq("id"))
        t.append(rows.toDF("id", "s", "v"))
        t.upsert(Seq((3L, "s0", 30.0), (41L, "s2", 41.0)).toDF("id", "s", "v"))
        t.deleteKeys(Seq(5L).toDF("id"))
        t.applyCdcBatch(Seq((6L, "s0", 6.0, "update", 10L), (7L, "s1", 0.0, "delete", 10L))
          .toDF("id", "s", "v", "op", "ts"), "op", "ts")
        t.compactDirty()
        Maintenance.compact(t)
        Maintenance.expireSnapshots(t, keep = 2)
        spark.sql("INSERT INTO graft.orders VALUES (100, 's1', 1.0)")
        Seq((2L, "s2", 20.0), (200L, "s2", 2.0)).toDF("id", "s", "v")
          .createOrReplaceTempView("fork_census_changes")
        spark.sql(
          """MERGE INTO graft.orders t USING fork_census_changes c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET t.v = c.v
            |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (c.id, c.s, c.v)""".stripMargin)
        got = spark.sql("SELECT id, s, v FROM graft.orders")
          .as[(Long, String, Double)].collect().toSet
      }
    }
    val expected = (rows.map(r => r._1 -> r).toMap -- Seq(5L, 7L) ++ Seq(
      3L -> (3L, "s0", 30.0), 41L -> (41L, "s2", 41.0), 6L -> (6L, "s0", 6.0),
      100L -> (100L, "s1", 1.0), 2L -> (2L, "s2", 20.0), 200L -> (200L, "s2", 2.0))).values.toSet
    assert(got == expected, s"wrong rows: ${got -- expected} extra, ${expected -- got} missing")
    val lake = commands.filter(_.contains(wh))
    assert(lake.isEmpty,
      s"${lake.size} of ${commands.size} process starts named $wh, e.g. ${lake.take(3).mkString("; ")}")
  }
}
