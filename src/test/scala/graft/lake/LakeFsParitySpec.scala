package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** [[LakeFs]] changes how the lake sets permissions, not what it sets: every
  * file and directory a local table writes has the mode the stock
  * checksummed `LocalFileSystem` gives a new file or directory under the
  * same umask, each data file keeps its `.crc` sidecar, and a corrupted
  * data file still fails the read at the `.crc` check. */
class LakeFsParitySpec extends SparkSpec {
  import spark.implicits._

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))

  /** (file mode, directory mode) the stock local file system creates. */
  private lazy val stock: (String, String) = {
    val dir = Files.createTempDirectory("graft-stock-modes")
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .create(new Path(dir.resolve("d/f").toString), true).close()
    (mode(dir.resolve("d/f")), mode(dir.resolve("d")))
  }

  /** Every path under `root`, itself included. */
  private def tree(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val all = Files.walk(root)
    try all.iterator.asScala.toList finally all.close()
  }

  /** Every path under `root` (itself included) with a wrong mode. */
  private def wrongModes(root: java.nio.file.Path): Seq[String] = tree(root).flatMap { p =>
    val want = if (Files.isDirectory(p)) stock._2 else stock._1
    val have = mode(p)
    if (have == want) None else Some(s"$p is $have, want $want")
  }

  private def crcOf(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")

  private def newTable(name: String): LakeTable = {
    val rows = (1L to 200L).map(k => (k, s"s${k % 3}", k * 1.5))
    val t = LakeTable.create(spark,
      Files.createTempDirectory(s"graft-parity-$name").resolve("t").toString, name,
      rows.toDF("id", "s", "v").schema,
      partitionSpec = Seq(PartitionField("s", Transform.Identity, "p_s")), primaryKey = Seq("id"))
    t.append(rows.toDF("id", "s", "v"))
    t
  }

  test("staged and published files, metadata and staging dirs get the stock local modes") {
    // the modes the lake has always produced at the default umask
    if (spark.sparkContext.hadoopConfiguration.get("fs.permissions.umask-mode", "022") == "022")
      assert(stock == ("rw-r--r--", "rwxr-xr-x"), stock)
    val t = newTable("modes")
    t.upsert(Seq((3L, "s0", 30.0), (201L, "s2", 2.0)).toDF("id", "s", "v"))
    val root = Paths.get(new Path(t.location).toUri.getPath)
    // one staging job of data files and delete keys, checked before publish
    val stagingRel = "_staging/parity"
    val schema = t.schema(t.currentSnapshot.schemaVersion)
    val spec = LakeWriteSpec(t.location, stagingRel, t.currentSnapshot.seq + 1,
      t.hadoopConfEntries, schema,
      dataParts = LakeFileWriter.bind(t.currentPartitionSpec, schema).get,
      keySchema = StructType(Seq(schema("id"))))
    val staged = LakeFileWriter.stage(Seq((9L, "s0", 9.0), (10L, "s1", 10.0)).toDF("id", "s", "v")
      .select(lit(true) +: schema.fieldNames.toSeq.map(col): _*).coalesce(1)
      .queryExecution.toRdd, spec)
    assert(staged.count(_.isDelete) == 1 && staged.count(!_.isDelete) == 2, staged)
    val stagingDir = root.resolve(stagingRel)
    staged.foreach(f => assert(Files.exists(crcOf(root.resolve(f.rel))), f.rel))
    assert(wrongModes(stagingDir).isEmpty, wrongModes(stagingDir))
    val (data, deletes) = t.publishStaged(staged, stagingRel)
    assert(data.size == 2 && deletes.size == 1)
    // the whole table: data and delete files, manifests, snapshots, schema,
    // version hint, partition and staging directories
    val names = tree(root).map(_.getFileName.toString)
    Seq("version-hint.text", "table.json", "_staging").foreach(n => assert(names.contains(n), n))
    assert(names.exists(_.startsWith("snap-")) && names.exists(_.startsWith("man-")) &&
      names.exists(_.startsWith("d-")))
    assert(wrongModes(root).isEmpty, wrongModes(root).mkString("\n"))
    (t.currentSnapshot.dataFiles ++ data).foreach(f =>
      assert(Files.exists(crcOf(root.resolve(f.path))), s"no .crc next to ${f.path}"))
  }

  test("a flipped byte in a published data file fails the scan at the .crc check") {
    val t = newTable("flip")
    val f = Paths.get(new Path(t.abs(t.currentSnapshot.dataFiles.head.path)).toUri.getPath)
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    try {
      val at = raf.length / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xff)
    } finally raf.close()
    val e = intercept[Exception](t.scan().collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ChecksumException]),
      chain.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n"))
  }

  test("file and scheme-less paths get the lake's local file system, other schemes resolve as before") {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.lakefstest.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    Seq("file:/tmp/x", "/tmp/x").foreach(p =>
      assert(LakeFs.forPath(new Path(p), conf).isInstanceOf[LakeFs.Local], p))
    val other = new Path("lakefstest:///tmp/x")
    assert(LakeFs.forPath(other, conf) eq other.getFileSystem(conf))
  }
}
