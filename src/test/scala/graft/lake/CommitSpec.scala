package graft.lake

import graft.SparkSpec

import java.nio.file.Files
import java.util.ConcurrentModificationException

/** Lost races through the lake's one commit primitive ([[LakeTable.commit]]).
  * An append that runs out of rebases and a restatement that loses its
  * race must each surface the CME retry contract and leave no published
  * file behind, with no orphan sweep. The race is deterministic: a second
  * table handle (its own lock, like another process) appends from the
  * `commit-attempt` failpoint, between the loser's head read and its
  * exclusive snapshot create. */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  /** Every file under `data/` and `deletes/`, relative to the table root. */
  private def filesOnDisk(t: LakeTable): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(t.location)
    Seq("data", "deletes").flatMap { sub =>
      val d = new org.apache.hadoop.fs.Path(root, sub)
      val acc = scala.collection.mutable.ArrayBuffer.empty[String]
      if (t.fs.exists(d)) {
        val it = t.fs.listFiles(d, true)
        while (it.hasNext) acc += LakeTable.relativize(root, it.next().getPath)
      }
      acc
    }.toSet
  }

  /** Every file some snapshot references. */
  private def referenced(t: LakeTable): Set[String] =
    t.snapshots.flatMap(s => s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)).toSet

  /** Manifests under `meta/` that no snapshot references. */
  private def strayManifests(t: LakeTable): Set[String] = {
    val onDisk = t.fs.listStatus(new org.apache.hadoop.fs.Path(t.location, "meta"))
      .map(_.getPath.getName).filter(n => n.startsWith("man-") && n.endsWith(".json"))
      .map("meta/" + _).toSet
    onDisk -- t.snapshots.flatMap(s => t.snapshotFile(s.seq).manifests.map(_.path))
  }

  private val raceKey = new java.util.concurrent.atomic.AtomicLong(1000L)

  /** Run `body` while `other` wins each of the first `races` commit
    * attempts by appending one row under a fresh key; returns `body`'s
    * result and the number of races fired. The nested append's own
    * attempts do not count. */
  private def losing[A](other: LakeTable, races: Int)(body: => A): (A, Int) = {
    var fired = 0
    var nested = false
    LakeTable.failpoint = site =>
      if (site == "commit-attempt" && !nested && fired < races) {
        nested = true
        fired += 1
        try other.append(Seq((raceKey.incrementAndGet(), "race")).toDF("id", "s"))
        finally nested = false
        ()
      }
    try (body, fired)
    finally LakeTable.failpoint = _ => ()
  }

  private def newTable(name: String): (LakeTable, LakeTable) = {
    val dir = Files.createTempDirectory(s"graft-commit-$name").resolve("t").toString
    val t = LakeTable.create(spark, dir, name, Seq((0L, "")).toDF("id", "s").schema,
      primaryKey = Seq("id"))
    (t, LakeTable.load(spark, dir))
  }

  test("an append that runs out of rebases throws the CME retry contract and discards its files") {
    val (t, other) = newTable("exhaust")
    t.append((1L to 5L).map(k => (k, "a")).toDF("id", "s"))
    val (err, races) = losing(other, races = 20)(
      intercept[ConcurrentModificationException](t.append(Seq((7L, "lost")).toDF("id", "s"))))
    // one first attempt plus the rebase budget, every one lost
    assert(races == 6, s"$races races fired")
    assert(err.getMessage.contains("concurrent commit") && err.getMessage.contains("retry") &&
      err.getMessage.contains("re-run the operation"), err.getMessage)
    // the winner's six appends landed; the loser left no file in data/
    assert(t.currentSeq == 7L)
    val leaked = filesOnDisk(t) -- referenced(t)
    assert(leaked.isEmpty, s"lost append left published files: $leaked")
    // ...and no manifest in meta/: each lost attempt deleted the ones it wrote
    val stray = strayManifests(t)
    assert(stray.isEmpty, s"lost append left manifests: $stray")
    assert(!t.scan().as[(Long, String)].collect().exists(_._1 == 7L))
    // the recipe works: the re-run lands
    assert(t.append(Seq((7L, "lost")).toDF("id", "s")).seq == 8L)
    assert(t.scan().filter($"id" === 7L).count() == 1L)
  }

  test("a lost restatement race leaves no published file behind") {
    val (t, other) = newTable("restate")
    t.append((1L to 20L).map(k => (k, "a")).toDF("id", "s"))
    t.upsert((1L to 5L).map(k => (k, "u")).toDF("id", "s")) // live delete files
    assert(t.currentSnapshot.deleteFiles.nonEmpty)
    def noLeaks(what: String): Unit = {
      val leaked = filesOnDisk(t) -- referenced(t)
      assert(leaked.isEmpty, s"lost $what left published files: $leaked")
    }
    // overwrite: staged and published outside the lock, lost at the swap
    val (e1, r1) = losing(other, races = 1)(intercept[ConcurrentModificationException](
      t.overwrite((100L to 110L).map(k => (k, "o")).toDF("id", "s"))))
    assert(r1 == 1 && e1.getMessage.contains("re-run the operation"), e1.getMessage)
    noLeaks("overwrite")
    // compaction: rewrites the tombstoned partition inside the commit
    val (e2, r2) = losing(other, races = 1)(
      intercept[ConcurrentModificationException](t.compactDirty()))
    assert(r2 == 1 && e2.getMessage.contains("re-run the operation"), e2.getMessage)
    noLeaks("compaction")
    // the re-run lands, and it does rewrite files — so the lost attempt
    // had published some
    val compacted = t.compactDirty()
    assert(compacted.operation == "compact" && compacted.deleteFiles.isEmpty)
    assert(compacted.dataFiles.exists(_.seq == compacted.seq))
    noLeaks("compaction re-run")
    assert(t.scan().count() == 22L) // 20 keys + the two racing appends
  }
}
