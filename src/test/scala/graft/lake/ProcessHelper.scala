package graft.lake

import org.apache.spark.sql.SparkSession

/** Child-process entry for cross-JVM commit-safety tests
  * ([[ProcessSafetySpec]] forks this with the test classpath). Modes:
  *
  *   - `race <loc> <writer> <n>` — open the table and run `n` appends,
  *     each carrying a distinct `(writer, i)` marker row. Exercises the
  *     optimistic snapshot protocol ACROSS PROCESSES: the in-JVM
  *     `synchronized` cannot serialize two JVMs, so contention lands on
  *     the O_EXCL snapshot-file create and the rebase retry.
  *   - `crash-data <loc>` — start an append and `Runtime.halt` at the
  *     staged-data failpoint: files are already moved into `data/` but no
  *     snapshot references them (the widest crash window the protocol has).
  *   - `crash-delta <loc>` — start an upsert and halt after BOTH its new
  *     data files and its delete-key sidecars are staged, before the
  *     snapshot publish.
  *   - `crash-meta <loc>` — start an ALTER (add-column) and halt between
  *     its schema-version-file publish and the snapshot commit: the
  *     version file lands as an orphan referenced by no snapshot.
  *   - `cdc-crash <loc> <logDir> <ckpt> <haltAt>` — drain the CDC change
  *     log but halt after micro-batch `haltAt`'s lake commit and before
  *     its streaming-checkpoint record (the at-least-once window).
  *   - `cdc-drain <loc> <logDir> <ckpt>` — resume the same checkpoint and
  *     drain to completion (the unacknowledged batch redelivers).
  *   - `soak <loc> <writer> <n> <seed>` — run the writer's SEEDED random
  *     op plan ([[Soak.plan]]: appends, contended upserts/deletes,
  *     compaction, one add-column) against the shared table, honoring the
  *     commit protocol's conflict contract: a lost non-rebasable race
  *     surfaces as ConcurrentModificationException and the op is RE-RUN
  *     against the fresh snapshot (bounded retries + jitter). The
  *     verifier ([[ConcurrencySoak]]) mirrors the same plan from the same
  *     seed, so drawn-vs-committed op counts are checkable without any
  *     side channel.
  *
  * Exit codes: 0 = mode completed; 137 = deliberate halt at a failpoint
  * (the spec asserts on it); anything else = real failure.
  */
object ProcessHelper {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val loc = args(1)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-process-helper-$mode")
      // the SQL writers read tables with live delete files, which needs the
      // merge-on-read fold the extensions plan
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // lazy: the soak-sql mode's `loc` is a WAREHOUSE root, not a table
    // directory — loading it as a table would throw before dispatch
    lazy val t = LakeTable.load(spark, loc)
    mode match {
      case "race" =>
        val writer = args(2)
        val n = args(3).toInt
        (0 until n).foreach { i =>
          t.append(Seq((s"$writer-$i", writer, i)).toDF("marker", "w", "i"))
        }
        spark.stop()
      case "crash-data" =>
        LakeTable.failpoint =
          site => if (site == "staged-data") Runtime.getRuntime.halt(137)
        t.append(Seq(("doomed", "x", 0)).toDF("marker", "w", "i"))
        sys.error("unreachable: staged-data failpoint did not fire")
      case "crash-delta" =>
        LakeTable.failpoint =
          site => if (site == "staged-delta") Runtime.getRuntime.halt(137)
        t.upsert(Seq(("doomed", "x", 0)).toDF("marker", "w", "i"))
        sys.error("unreachable: staged-delta failpoint did not fire")
      case "race-dsv2" =>
        // same race as "race" but through the DataSourceV2 write path —
        // the two-phase commit's published names and snapshot race must
        // hold across processes exactly like the imperative writer's
        val writer = args(2)
        val n = args(3).toInt
        (0 until n).foreach { i =>
          Seq((s"$writer-$i", writer, i)).toDF("marker", "w", "i")
            .write.format("graftlake").mode("append").save(loc)
        }
        spark.stop()
      case "crash-dsv2" =>
        LakeTable.failpoint =
          site => if (site == "staged-dsv2") Runtime.getRuntime.halt(137)
        Seq(("doomed", "x", 0)).toDF("marker", "w", "i")
          .write.format("graftlake").mode("append").save(loc)
        sys.error("unreachable: staged-dsv2 failpoint did not fire")
      case "crash-meta" =>
        // halt an ALTER between its schema-version-file publish and the
        // snapshot commit: the version file lands as an ORPHAN (referenced
        // by no snapshot) — the crash window of the metadata commit class
        LakeTable.failpoint =
          site => if (site == "pre-meta-commit") Runtime.getRuntime.halt(137)
        t.addColumn("m_extra", "INT")
        sys.error("unreachable: pre-meta-commit failpoint did not fire")
      case "cdc-crash" =>
        // drain the change log but halt AFTER micro-batch `haltAt`'s lake
        // commit and BEFORE its streaming-checkpoint record — the
        // at-least-once redelivery window (committed but unacknowledged)
        val logDir = args(2); val ckpt = args(3); val haltAt = args(4).toLong
        graft.streaming.CdcIngest.failpoint =
          ordinal => if (ordinal == haltAt) Runtime.getRuntime.halt(137)
        graft.streaming.CdcIngest.ingest(t, logDir,
          spark.read.parquet(logDir).schema, ckpt)
        sys.error(s"unreachable: cdc failpoint at batch $haltAt did not fire")
      case "cdc-drain" =>
        // restart from the same checkpoint and drain to completion — the
        // unacknowledged batch redelivers and must re-apply idempotently
        val logDir = args(2); val ckpt = args(3)
        graft.streaming.CdcIngest.ingest(t, logDir,
          spark.read.parquet(logDir).schema, ckpt)
        spark.stop()
      case "soak-sql" =>
        // the SQL/DSv2-route soak writer (VERDICT r19 #2): `loc` is the
        // WAREHOUSE root; every op goes through the GraftCatalog as a SQL
        // statement. Conflicts surface as ConcurrentModificationException
        // possibly WRAPPED by Spark's execution layers, so the retry
        // contract unwraps the cause chain; re-running the statement
        // re-plans against the fresh snapshot, which is exactly the
        // documented recovery. Optional 6th arg: the row-level mode —
        // "copy-on-write" routes UPDATE/MERGE/DELETE through the GROUP
        // REPLACE commit (commitStagedReplaceFiles + runtime group
        // filtering), the one row-level surface the MoR soak never
        // exercises.
        val writer = args(2); val n = args(3).toInt; val seed = args(4).toLong
        spark.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set("spark.graft.catalog.warehouse", loc)
        if (args.length > 5) spark.conf.set("spark.graft.lake.rowLevelMode", args(5))
        val jitter = new scala.util.Random(seed ^ writer.hashCode.toLong)
        def isCme(e: Throwable): Boolean = {
          var c: Throwable = e
          while (c != null) {
            if (c.isInstanceOf[java.util.ConcurrentModificationException]) return true
            c = if (c.getCause eq c) null else c.getCause
          }
          false
        }
        SqlSoak.plan(writer, n, seed).foreach { op =>
          var tries = 0
          var done = false
          while (!done) {
            try {
              SqlSoak.exec(spark, SqlSoak.Table, op)
              done = true
            } catch {
              // SQL statements hold their optimistic window open for the
              // whole re-plan + job (~1-2 s for a compact), so under
              // sustained 5-writer contention a restatement can lose far
              // more consecutive races than the imperative soak's ops —
              // the budget is correspondingly larger and the backoff
              // grows (livelock here is the documented cost of optimistic
              // restatement, contention drains as writers finish; a REAL
              // lost-commit bug still fails loudly at the cap).
              case e: Throwable if isCme(e) && tries < 400 =>
                tries += 1
                Thread.sleep(2L + jitter.nextInt(20 * math.min(tries + 1, 15)))
            }
          }
        }
        spark.stop()
      case "soak" =>
        val writer = args(2); val n = args(3).toInt; val seed = args(4).toLong
        val jitter = new scala.util.Random(seed ^ writer.hashCode.toLong)
        Soak.plan(writer, n, seed).foreach { op =>
          var tries = 0
          var done = false
          while (!done) {
            try {
              op match {
                case Soak.Append(rows) => t.append(rows.toDF("marker", "w", "i"))
                case Soak.Upsert(rows) => t.upsert(rows.toDF("marker", "w", "i"))
                case Soak.Delete(keys) => t.deleteKeys(keys.toDF("marker"))
                case Soak.Compact => t.compactDirty()
                case Soak.Evolve(c) => t.addColumn(c, "INT")
              }
              done = true
            } catch {
              // the documented conflict contract: non-rebasable commits
              // (upsert/delete/compact/metadata) that lose a cross-process
              // race throw CME and must be RE-RUN against the fresh
              // snapshot — which calling the same API again does. Bounded:
              // a livelock (or a real lost-commit bug surfacing as CME
              // forever) fails the writer loudly.
              case _: java.util.ConcurrentModificationException if tries < 40 =>
                tries += 1
                Thread.sleep(2L + jitter.nextInt(40))
            }
          }
        }
        spark.stop()
      case other => sys.error(s"unknown mode $other")
    }
  }
}

/** The randomized concurrent-writer soak's SHARED op plan (VERDICT r18
  * #3). Pure and seeded: the forked writers draw their op sequences from
  * it, and the verifier re-derives the identical plans to check drawn ops
  * against committed history with no side channel.
  *
  * The mix races every commit class the table supports against every
  * other: blind-rebased appends (disjoint fresh keys per writer — the pk
  * append contract), non-rebasable MoR upserts and key deletes over a
  * small CONTENDED key set (so final values genuinely depend on commit
  * order), whole-partition compaction, and one metadata evolution per
  * writer (distinct column names — same-name racing is a legitimate
  * "column exists" failure, not a concurrency property). */
object Soak {
  sealed trait Op extends Product with Serializable
  final case class Append(rows: Seq[(String, String, Int)]) extends Op
  final case class Upsert(rows: Seq[(String, String, Int)]) extends Op
  final case class Delete(keys: Seq[String]) extends Op
  case object Compact extends Op
  final case class Evolve(colName: String) extends Op

  /** Contended pk space: markers k0..k{ContendedKeys-1}, seeded by the
    * verifier before the writers fork. */
  val ContendedKeys = 16

  def plan(writer: String, n: Int, seed: Long): Seq[Op] = {
    val rng = new scala.util.Random(seed * 1000003L + writer.hashCode.toLong)
    var evolved = false
    (0 until n).map { i =>
      val d = rng.nextInt(100)
      if (d < 35)
        Append(Seq(0, 1).map(j => (s"f-$writer-$i-$j", writer, i)))
      else if (d < 65) {
        val ks = Seq.fill(1 + rng.nextInt(3))(rng.nextInt(ContendedKeys)).distinct
        Upsert(ks.map(j => (s"k$j", writer, i)))
      } else if (d < 80) {
        val ks = Seq.fill(1 + rng.nextInt(2))(rng.nextInt(ContendedKeys)).distinct
        Delete(ks.map(j => s"k$j"))
      } else if (d < 90) Compact
      else if (!evolved) { evolved = true; Evolve(s"g_$writer") }
      else Append(Seq((s"f-$writer-$i-x", writer, i)))
    }
  }
}

/** The SQL/DSv2-route twin of [[Soak]] (VERDICT r19 #2): the same
  * seeded-plan discipline, but every op is a SQL statement through the
  * GraftCatalog, exercising the route-SPECIFIC code the imperative soak
  * never touches — the DSv2 two-phase append commit (INSERT INTO), the
  * SupportsDelta staged-delta path with its conflict classification
  * (MERGE / UPDATE), the pushable-DELETE fast path, the full-table
  * REPLACE commit (INSERT OVERWRITE), the rewrite_data_files procedure,
  * and catalog-routed ALTER. The imperative soak found two real
  * high-severity bugs in its first seeds (r19); this gives the SQL
  * route the same adversary.
  *
  * All DML uses explicit column lists `(marker, w, i)`: writers race
  * ALTERs, so a statement cannot know whether a neighbor's g_X column
  * exists yet — Spark's v2 INSERT / MERGE-insert / INSERT OVERWRITE all
  * accept column lists and fill unnamed nullable columns with NULL
  * (probed before this was written). Overwrites are RARE (5%): each one
  * wipes the table's row state and re-seeds the contended keys; the
  * verifier's serial replay re-baselines at each overwrite commit from
  * the as-of snapshot content. */
object SqlSoak {
  /** Fixed table name under the soak's private warehouse. */
  val Table = "soaksql"

  sealed trait Op extends Product with Serializable
  final case class Insert(rows: Seq[(String, String, Int)]) extends Op
  final case class Merge(rows: Seq[(String, String, Int)]) extends Op
  final case class Update(keys: Seq[String], w: String, i: Int) extends Op
  final case class Delete(keys: Seq[String]) extends Op
  final case class Overwrite(w: String, i: Int) extends Op
  case object Compact extends Op
  final case class Evolve(colName: String) extends Op

  def plan(writer: String, n: Int, seed: Long): Seq[Op] = {
    val rng = new scala.util.Random(seed * 7778777L + writer.hashCode.toLong)
    var evolved = false
    (0 until n).map { i =>
      val d = rng.nextInt(100)
      if (d < 25) Insert(Seq(0, 1).map(j => (s"f-$writer-$i-$j", writer, i)))
      else if (d < 45) {
        val ks = Seq.fill(1 + rng.nextInt(3))(rng.nextInt(Soak.ContendedKeys)).distinct
        Merge(ks.map(j => (s"k$j", writer, i)))
      } else if (d < 58) {
        val ks = Seq.fill(1 + rng.nextInt(2))(rng.nextInt(Soak.ContendedKeys)).distinct
        Update(ks.map(j => s"k$j"), writer, i)
      } else if (d < 72) {
        val ks = Seq.fill(1 + rng.nextInt(2))(rng.nextInt(Soak.ContendedKeys)).distinct
        Delete(ks.map(j => s"k$j"))
      } else if (d < 77) Overwrite(writer, i)
      else if (d < 88) Compact
      else if (!evolved) { evolved = true; Evolve(s"g_$writer") }
      else Insert(Seq((s"f-$writer-$i-x", writer, i)))
    }
  }

  /** Render and execute one op as SQL against `graft.<table>`. Markers
    * and writer names are machine-generated `[A-Za-z0-9_-]` — no quoting
    * hazards by construction. */
  def exec(spark: SparkSession, table: String, op: Op): Unit = {
    def vals(rows: Seq[(String, String, Int)]): String =
      rows.map { case (m, w, i) => s"('$m','$w',$i)" }.mkString(", ")
    def inList(keys: Seq[String]): String = keys.map(k => s"'$k'").mkString(", ")
    op match {
      case Insert(rows) =>
        spark.sql(s"INSERT INTO graft.$table (marker, w, i) VALUES ${vals(rows)}")
      case Merge(rows) =>
        spark.sql(
          s"""MERGE INTO graft.$table t
             |USING (SELECT * FROM VALUES ${vals(rows)} AS v(marker, w, i)) s
             |ON t.marker = s.marker
             |WHEN MATCHED THEN UPDATE SET t.w = s.w, t.i = s.i
             |WHEN NOT MATCHED THEN INSERT (marker, w, i) VALUES (s.marker, s.w, s.i)"""
            .stripMargin)
      case Update(keys, w, i) =>
        spark.sql(s"UPDATE graft.$table SET w = '$w', i = $i " +
          s"WHERE marker IN (${inList(keys)})")
      case Delete(keys) =>
        spark.sql(s"DELETE FROM graft.$table WHERE marker IN (${inList(keys)})")
      case Overwrite(w, i) =>
        val payload = (0 until Soak.ContendedKeys).map(j => (s"k$j", w, i))
        spark.sql(s"INSERT OVERWRITE graft.$table (marker, w, i) VALUES ${vals(payload)}")
      case Compact =>
        spark.sql(s"CALL graft.system.rewrite_data_files('$table')").collect()
        ()
      case Evolve(c) =>
        spark.sql(s"ALTER TABLE graft.$table ADD COLUMN $c INT")
    }
    ()
  }
}
