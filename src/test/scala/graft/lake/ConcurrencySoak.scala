package graft.lake

import org.apache.spark.sql.SparkSession

/** Randomized concurrent-writer soak with a LINEARIZABILITY check
  * (VERDICT r18 #3). The pairwise two-JVM race tests pin single
  * interleavings of single op classes; this forks N writer JVMs each
  * running a seeded MIXED op plan ([[Soak.plan]]: appends, contended MoR
  * upserts/deletes, compaction, metadata evolution — every commit class
  * racing every other) against one table directory, then verifies the
  * final state is explained by SOME serial order. The commit protocol
  * makes "some serial order" concrete: the snapshot chain IS the serial
  * order, so the check is
  *
  *   1. the history is linear, gap-free, and parent-chained (no lost or
  *      forked commits);
  *   2. the committed op multiset equals the drawn plans (re-derived from
  *      the seed — compaction alone may no-op when there is nothing to
  *      fold, so it is bounded, not exact);
  *   3. every fresh-append row is served exactly once (appends are
  *      blind-rebased: a wrong rebase loses or duplicates rows);
  *   4. SERIAL REPLAY: folding each replayable commit's row-level
  *      changelog (`changes(seq-1, seq)`) in commit order reproduces the
  *      served head state EXACTLY — contended keys must carry the LAST
  *      restatement in the serial order, deletes must tombstone, and the
  *      changelog (one code path) must agree with the MoR scan (another)
  *      on every value. A rebase that drops a sidecar, a compaction that
  *      resurrects a tombstoned row, or an evolution that mis-fills an
  *      era diverges here.
  *
  * TWO ROUTES share the harness (r20, VERDICT r19 #2): the imperative
  * LakeTable API ([[Soak]] plans) and the SQL/DSv2 catalog route
  * ([[SqlSoak]] plans — INSERT INTO, MERGE, UPDATE, pushable DELETE,
  * INSERT OVERWRITE, CALL rewrite_data_files, ALTER), whose staging and
  * conflict-classification code is route-specific. Each found a real
  * contract bug on its first seeds (r19: leaked FileAlreadyExists +
  * rebased-append seq mis-stamp; r20: the staged replace/delta commits
  * leaked their concurrency loss as IllegalArgumentException instead of
  * the documented ConcurrentModificationException retry contract).
  *
  * The bounded legs run in ProcessSafetySpec; the longer seeded legs run
  * via `Test/runMain graft.lake.ConcurrencySoak [sql] <writers> <ops>
  * <seed...>` and are recorded in the round notes. Any divergence is a
  * real bug.
  */
object ConcurrencySoak {

  private def fork(args: Seq[String]): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val moduleFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .sliding(2).collect { case Array("--add-opens", v) => Seq("--add-opens", v) }
      .flatten.toSeq
    val cmd = Seq(javaBin) ++ moduleFlags ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.lake.ProcessHelper") ++ args
    new ProcessBuilder(cmd: _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
  }

  /** Runs one soak and verifies; returns (snapshots committed, op counts).
    * Throws on any violated invariant. */
  def runAndVerify(
      spark: SparkSession, writers: Int, opsPerWriter: Int, seed: Long): (Int, Map[String, Int]) = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-soak-$seed").resolve("t").toString
    val t = LakeTable.create(spark, dir, "soak",
      Seq(("seed", "s", -1)).toDF("marker", "w", "i").schema,
      primaryKey = Seq("marker"))
    t.append((0 until Soak.ContendedKeys).map(j => (s"k$j", "seed", -1))
      .toDF("marker", "w", "i"))

    val names = (0 until writers).map(i => ('A' + i).toChar.toString)
    val ps = names.map(w => fork(Seq("soak", dir, w, opsPerWriter.toString, seed.toString)))
    ps.zip(names).foreach { case (p, w) =>
      require(p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), s"soak writer $w timed out")
      require(p.exitValue() == 0, s"soak writer $w exited ${p.exitValue()}")
    }

    val t2 = LakeTable.load(spark, dir)
    val snaps = t2.snapshots.sortBy(_.seq)
    // 1. linear, gap-free, parent-chained
    require(snaps.map(_.seq) == (0L to snaps.last.seq),
      s"non-contiguous history: ${snaps.map(_.seq)}")
    snaps.tail.foreach(s => require(s.parent.contains(s.seq - 1),
      s"snapshot ${s.seq} parent ${s.parent} breaks the chain"))

    // 2. committed op multiset == drawn plans (mirrored from the seed)
    val drawn = names.flatMap(w => Soak.plan(w, opsPerWriter, seed))
    val opCount = snaps.groupBy(_.operation).map { case (k, v) => k -> v.size }
    def committed(op: String): Int = opCount.getOrElse(op, 0)
    def check(op: String, want: Int): Unit = require(committed(op) == want,
      s"$op commits: ${committed(op)} vs $want drawn — lost or duplicated commits")
    check("append", drawn.count(_.isInstanceOf[Soak.Append]) + 1) // +1 contended seed
    check("upsert", drawn.count(_.isInstanceOf[Soak.Upsert]))
    check("delete", drawn.count(_.isInstanceOf[Soak.Delete]))
    check("add-column", drawn.count(_.isInstanceOf[Soak.Evolve]))
    require(committed("compact") <= drawn.count(_ == Soak.Compact),
      "more compactions than drawn") // no-op when nothing to fold

    // 3. fresh appends exactly once; no duplicate pk anywhere
    val head = t2.scan()
    val cols = head.columns.toSeq
    val headRows = head.collect()
    val headMarkers = headRows.map(_.getAs[String]("marker")).toSeq
    require(headMarkers.distinct.size == headMarkers.size,
      "duplicate primary key served at head")
    val fresh = drawn.collect { case a: Soak.Append => a.rows.map(_._1) }.flatten
    val missing = fresh.filterNot(headMarkers.contains)
    require(missing.isEmpty, s"lost fresh-append rows: $missing")

    // 4. serial replay of the committed history via the changelog
    val model = scala.collection.mutable.Map.empty[String, Seq[Any]]
    snaps.filter(s => s.seq > 0 && LakeTable.replayableOp(s.operation)).foreach { s =>
      val ch = t2.changes(s.seq - 1, s.seq)
      val chCols = ch.columns.filterNot(_ == "_change_type").toSet
      ch.collect().foreach { r =>
        val key = r.getAs[String]("marker")
        r.getAs[String]("_change_type") match {
          case "delete" => model -= key
          case _ => // insert | update: net value as of this commit
            model(key) = cols.map(c => if (chCols(c)) r.getAs[Any](c) else null)
        }
      }
    }
    val served = headRows
      .map(r => r.getAs[String]("marker") -> cols.map(c => r.getAs[Any](c))).toMap
    val diverged = (model.keySet ++ served.keySet)
      .filter(k => model.get(k) != served.get(k))
    require(diverged.isEmpty,
      s"serial changelog replay diverges from the served head state at: " +
        s"${diverged.toSeq.sorted.take(10).map(k => s"$k replay=${model.get(k)} head=${served.get(k)}")}")
    (snaps.size, opCount)
  }

  /** The SQL/DSv2-route soak (VERDICT r19 #2): writers draw
    * [[SqlSoak.plan]] — INSERT INTO / MERGE / UPDATE / pushable DELETE /
    * INSERT OVERWRITE / rewrite_data_files / ALTER — in forked JVMs
    * against one catalog table, then the SAME four-part linearizability
    * check runs, with two route-specific generalizations:
    *
    *   - op-count check: zero-match UPDATE statements commit nothing
    *     (probed), so update-mor is bounded by the drawn count rather
    *     than exact; every other class is exact (pushable DELETE commits
    *     a blind sidecar even for absent keys).
    *   - serial replay: an INSERT OVERWRITE is a full-table REPLACE — a
    *     restatement BARRIER the changelog refuses to cross — so the
    *     replay re-baselines the model at each overwrite commit from the
    *     as-of snapshot content (evolved columns the era lacks fill with
    *     NULL, same rule the changelog fold uses), then keeps folding
    *     row-level changelogs on top. The fresh-appends-exactly-once
    *     check keys off the LAST overwrite: appends committed after it
    *     must all be served (nothing but an overwrite ever removes a
    *     fresh key); with no overwrite committed the imperative check
    *     runs unchanged.
    *
    * `mode = "copy-on-write"` routes UPDATE/MERGE through the GROUP
    * REPLACE commit instead (op "rewrite-dsv2" via
    * LakeTable.commit + runtime group filtering — the row-level
    * surface the MoR soak never drives). Rewrites are content-changing
    * restatements, so the replay re-baselines at them exactly like at
    * overwrites, and the fresh-append exactness check doubles as the
    * lost-update tripwire for a rewrite that wrongly drops a concurrent
    * append's rows (pk-pushable DELETEs take the MoR-keys fast path in
    * either mode). */
  def runAndVerifySql(
      spark: SparkSession, writers: Int, opsPerWriter: Int, seed: Long,
      mode: String = "merge-on-read"): (Int, Map[String, Int]) = {
    val cow = mode == "copy-on-write"
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-sqlsoak-$seed").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.graft.catalog.warehouse", wh)
    spark.sql(s"CREATE TABLE graft.${SqlSoak.Table} (marker STRING, w STRING, i INT) " +
      "TBLPROPERTIES ('primary_key'='marker')")
    spark.sql(s"INSERT INTO graft.${SqlSoak.Table} (marker, w, i) VALUES " +
      (0 until Soak.ContendedKeys).map(j => s"('k$j','seed',-1)").mkString(", "))

    val names = (0 until writers).map(i => ('A' + i).toChar.toString)
    val ps = names.map(w =>
      fork(Seq("soak-sql", wh, w, opsPerWriter.toString, seed.toString, mode)))
    ps.zip(names).foreach { case (p, w) =>
      require(p.waitFor(1800, java.util.concurrent.TimeUnit.SECONDS),
        s"sql-soak writer $w timed out")
      require(p.exitValue() == 0, s"sql-soak writer $w exited ${p.exitValue()}")
    }

    val t2 = LakeTable.load(spark, s"$wh/${SqlSoak.Table}")
    val snaps = t2.snapshots.sortBy(_.seq)
    // 1. linear, gap-free, parent-chained
    require(snaps.map(_.seq) == (0L to snaps.last.seq),
      s"non-contiguous history: ${snaps.map(_.seq)}")
    snaps.tail.foreach(s => require(s.parent.contains(s.seq - 1),
      s"snapshot ${s.seq} parent ${s.parent} breaks the chain"))

    // 2. committed op multiset == drawn plans (mirrored from the seed)
    val drawn = names.flatMap(w => SqlSoak.plan(w, opsPerWriter, seed))
    val opCount = snaps.groupBy(_.operation).map { case (k, v) => k -> v.size }
    def committed(op: String): Int = opCount.getOrElse(op, 0)
    def check(op: String, want: Int): Unit = require(committed(op) == want,
      s"$op commits: ${committed(op)} vs $want drawn — lost or duplicated commits")
    check("append-dsv2", drawn.count(_.isInstanceOf[SqlSoak.Insert]) + 1) // +1 contended seed
    if (!cow) {
      check("merge-mor", drawn.count(_.isInstanceOf[SqlSoak.Merge]))
      require(committed("update-mor") <= drawn.count(_.isInstanceOf[SqlSoak.Update]),
        "more update-mor commits than drawn UPDATE statements")
      check("delete", drawn.count(_.isInstanceOf[SqlSoak.Delete]))
      require(committed("rewrite-dsv2") == 0, "COW group replace in a MoR soak")
    } else {
      // copy-on-write folds MERGE / UPDATE into one commit class (group
      // replace, op "rewrite-dsv2"); zero-match statements may commit
      // nothing, so the class is bounded, with the MERGE count as a
      // floor (a MERGE always has an effect — unmatched keys insert).
      // The soak's DELETEs are pk-pushable and take the MoR-keys fast
      // path in EITHER mode (canDeleteWhere is mode-independent — a
      // pushable delete never needs the rewrite), so "delete" stays an
      // exact class here too.
      val rewrites = committed("rewrite-dsv2")
      val drawnRw = drawn.count(o => o.isInstanceOf[SqlSoak.Merge] ||
        o.isInstanceOf[SqlSoak.Update])
      require(rewrites <= drawnRw,
        s"more rewrite-dsv2 commits ($rewrites) than drawn MERGE/UPDATE ($drawnRw)")
      require(rewrites >= drawn.count(_.isInstanceOf[SqlSoak.Merge]),
        s"fewer rewrite-dsv2 commits ($rewrites) than drawn MERGEs — lost commits")
      check("delete", drawn.count(_.isInstanceOf[SqlSoak.Delete]))
      require(committed("merge-mor") + committed("update-mor") == 0,
        "MoR delta commits in a COW soak")
    }
    check("overwrite-dsv2", drawn.count(_.isInstanceOf[SqlSoak.Overwrite]))
    check("add-column", drawn.count(_.isInstanceOf[SqlSoak.Evolve]))
    require(committed("compact") <= drawn.count(_ == SqlSoak.Compact),
      "more compactions than drawn") // no-op when nothing to fold

    // 3. no duplicate pk anywhere; fresh appends exactly once (scoped to
    // the last overwrite barrier when one committed)
    val head = t2.scan()
    val cols = head.columns.toSeq
    val headRows = head.collect()
    val headMarkers = headRows.map(_.getAs[String]("marker")).toSeq
    require(headMarkers.distinct.size == headMarkers.size,
      "duplicate primary key served at head")
    val lastOverwrite = snaps.filter(_.operation == "overwrite-dsv2").map(_.seq)
      .sorted.lastOption
    lastOverwrite match {
      case None =>
        val fresh = drawn.collect { case a: SqlSoak.Insert => a.rows.map(_._1) }.flatten
        val missing = fresh.filterNot(headMarkers.contains)
        require(missing.isEmpty, s"lost fresh-append rows: $missing")
      case Some(l) =>
        snaps.filter(s => s.seq > l && s.operation == "append-dsv2").foreach { s =>
          val rows = t2.changes(s.seq - 1, s.seq).collect()
            .map(_.getAs[String]("marker")).toSeq
          val missing = rows.filterNot(headMarkers.contains)
          require(missing.isEmpty,
            s"append ${s.seq} rows lost after the last overwrite ($l): $missing")
        }
    }

    // 4. serial replay of the committed history: changelog folds for the
    // replayable commits, as-of re-baselining at each overwrite barrier
    val model = scala.collection.mutable.Map.empty[String, Seq[Any]]
    snaps.filter(_.seq > 0).foreach { s =>
      if (s.operation == "overwrite-dsv2" || s.operation == "rewrite-dsv2") {
        // content-CHANGING restatements (full replace; COW group replace
        // for UPDATE/MERGE/DELETE): not changelog-replayable — the serial
        // model re-baselines from the as-of snapshot, which IS that
        // commit's position in the serial order
        model.clear()
        val ov = t2.scan(asOf = Some(s.seq))
        val ovCols = ov.columns.toSet
        ov.collect().foreach { r =>
          model(r.getAs[String]("marker")) =
            cols.map(c => if (ovCols(c)) r.getAs[Any](c) else null)
        }
      } else if (LakeTable.replayableOp(s.operation)) {
        val ch = t2.changes(s.seq - 1, s.seq)
        val chCols = ch.columns.filterNot(_ == "_change_type").toSet
        ch.collect().foreach { r =>
          val key = r.getAs[String]("marker")
          r.getAs[String]("_change_type") match {
            case "delete" => model -= key
            case _ => // insert | update: net value as of this commit
              model(key) = cols.map(c => if (chCols(c)) r.getAs[Any](c) else null)
          }
        }
      } // else: compact — a content restatement, no logical change
    }
    val served = headRows
      .map(r => r.getAs[String]("marker") -> cols.map(c => r.getAs[Any](c))).toMap
    val diverged = (model.keySet ++ served.keySet)
      .filter(k => model.get(k) != served.get(k))
    require(diverged.isEmpty,
      s"serial replay (changelog + overwrite re-baseline) diverges from the " +
        s"served head state at: ${diverged.toSeq.sorted.take(10)
          .map(k => s"$k replay=${model.get(k)} head=${served.get(k)}")}")
    (snaps.size, opCount)
  }

  /** Longer seeded leg:
    * `Test/runMain graft.lake.ConcurrencySoak [sql|sql-cow] <writers> <opsPerWriter> <seed> [<seed>...]` */
  def main(args: Array[String]): Unit = {
    val (route, rest) =
      if (args.headOption.exists(a => a == "sql" || a == "sql-cow"))
        (args.head, args.drop(1))
      else ("api", args)
    val writers = rest(0).toInt
    val ops = rest(1).toInt
    val seeds = rest.drop(2).map(_.toLong).toSeq
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    seeds.foreach { seed =>
      val t0 = System.nanoTime()
      val (snaps, counts) =
        if (route == "sql") runAndVerifySql(spark, writers, ops, seed)
        else if (route == "sql-cow")
          runAndVerifySql(spark, writers, ops, seed, mode = "copy-on-write")
        else runAndVerify(spark, writers, ops, seed)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[soak] route=$route seed=$seed writers=$writers ops=$ops snapshots=$snaps " +
        s"counts=${counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")} " +
        f"ok wall=$secs%.1fs")
    }
    spark.stop()
  }
}
