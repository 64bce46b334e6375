package graft.sources

import graft.lake.{LakeCatalog, LakeTable, Maintenance, PartitionField, Transform => LTransform}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Collections, Iterator => JIterator}

/** Stored maintenance procedures for the graft SQL catalog — the
  * `CALL graft.system.<proc>(...)` surface (the Iceberg procedure idiom:
  * the reference operates its tables through Spark SQL procedures like
  * `rollback_to_snapshot` / `expire_snapshots` / `rewrite_data_files`;
  * here they drive the same [[LakeTable]]/[[Maintenance]] entry points the
  * Scala API uses, so SQL-only operators can run the whole lifecycle).
  *
  * {{{
  *   CALL graft.system.rollback_to_snapshot('orders', 3)
  *   CALL graft.system.expire_snapshots('orders', 5)
  *   CALL graft.system.rewrite_data_files('orders')
  *   CALL graft.system.remove_orphan_files('orders', 0)
  *   CALL graft.system.evolve_partition_spec('orders', 'months(o_orderdate), identity(o_orderstatus)')
  * }}}
  *
  * Every procedure returns one summary row (a `LocalScan` — zero tasks).
  * All are non-deterministic: they mutate table state.
  */
private[sources] object GraftProcedures {

  val Names: Seq[String] = Seq(
    "rollback_to_snapshot", "expire_snapshots", "rewrite_data_files",
    "remove_orphan_files", "evolve_partition_spec", "rebaseline_changelog")

  def load(name: String, cat: () => LakeCatalog,
      catalogName: String = "graft"): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "rollback_to_snapshot"  => Some(rollback(cat))
      case "expire_snapshots"      => Some(expire(cat))
      case "rewrite_data_files"    => Some(rewrite(cat))
      case "remove_orphan_files"   => Some(removeOrphans(cat))
      case "evolve_partition_spec" => Some(evolveSpec(cat))
      case "rebaseline_changelog"  => Some(rebaselineChangelog(cat, catalogName))
      case _ => None
    }

  // ------------------------------------------------------------- plumbing

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType, sql: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(sql).build()

  private def result(name: String, schema: StructType, values: Array[Any]): JIterator[Scan] =
    Collections.singletonList[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(new GenericInternalRow(values))
      override def description(): String = s"graft procedure $name"
    }).iterator()

  /** One-row result helper: (names, types, values) with strings encoded. */
  private def row(cols: (String, DataType, Any)*): (StructType, Array[Any]) = {
    val schema = StructType(cols.map(c => StructField(c._1, c._2, nullable = true)))
    val values = cols.map {
      case (_, StringType, v: String) => UTF8String.fromString(v)
      case (_, _, v) => v
    }.toArray[Any]
    (schema, values)
  }

  private abstract class GraftProcedure(
      procName: String, params: Seq[ProcedureParameter], cat: () => LakeCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft table maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    protected def table(input: InternalRow): LakeTable = {
      val n = input.getUTF8String(0).toString
      val c = cat()
      require(c.tableExists(n), s"no table $n in the graft warehouse")
      c.table(n)
    }
  }

  // ----------------------------------------------------------- procedures

  private def rollback(cat: () => LakeCatalog): UnboundProcedure =
    new GraftProcedure("rollback_to_snapshot",
      Seq(in("table", StringType), in("seq", LongType)), cat) {
      override def call(input: InternalRow): JIterator[Scan] = {
        val t = table(input)
        val prev = t.currentSeq
        val snap = t.rollbackTo(input.getLong(1))
        val (schema, values) = row(
          ("previous_seq", LongType, prev), ("current_seq", LongType, snap.seq))
        result(name(), schema, values)
      }
    }

  private def expire(cat: () => LakeCatalog): UnboundProcedure =
    new GraftProcedure("expire_snapshots",
      Seq(in("table", StringType), in("keep", IntegerType),
        inDefault("max_age_ms", LongType, "NULL")), cat) {
      override def call(input: InternalRow): JIterator[Scan] = {
        val t = table(input)
        val before = t.snapshots.size
        val maxAge = if (input.isNullAt(2)) None else Some(input.getLong(2))
        Maintenance.expireSnapshots(t, keep = input.getInt(1), maxAgeMs = maxAge)
        val after = t.snapshots.size
        val (schema, values) = row(
          ("expired", IntegerType, before - after), ("retained", IntegerType, after))
        result(name(), schema, values)
      }
    }

  private def rewrite(cat: () => LakeCatalog): UnboundProcedure =
    new GraftProcedure("rewrite_data_files",
      Seq(in("table", StringType),
        inDefault("target_files_per_partition", IntegerType, "1")), cat) {
      override def call(input: InternalRow): JIterator[Scan] = {
        val t = table(input)
        val snap = Maintenance.compact(t, targetFilesPerPartition = input.getInt(1))
        val (schema, values) = row(
          ("snapshot_seq", LongType, snap.seq),
          ("data_files", IntegerType, snap.dataFiles.size),
          ("delete_files", IntegerType, snap.deleteFiles.size))
        result(name(), schema, values)
      }
    }

  private def removeOrphans(cat: () => LakeCatalog): UnboundProcedure =
    new GraftProcedure("remove_orphan_files",
      Seq(in("table", StringType),
        inDefault("older_than_ms", LongType, Maintenance.DefaultOrphanAgeMs.toString)), cat) {
      override def call(input: InternalRow): JIterator[Scan] = {
        val t = table(input)
        def fileCount: Int = {
          val root = new org.apache.hadoop.fs.Path(t.location)
          Seq("data", "deletes", "_staging", "meta").map { sub =>
            val d = new org.apache.hadoop.fs.Path(root, sub)
            if (!t.fs.exists(d)) 0
            else {
              val it = t.fs.listFiles(d, true); var n = 0
              while (it.hasNext) { it.next(); n += 1 }
              n
            }
          }.sum
        }
        val before = fileCount
        Maintenance.removeOrphans(t, olderThanMs = input.getLong(1))
        val (schema, values) = row(("removed", IntegerType, before - fileCount))
        result(name(), schema, values)
      }
    }

  /** The changelog consumer's RECOVERY recipe, computed server-side
    * (VERDICT r17 #4): `changes()` and the changelog stream refuse on
    * content restatements (compact / rollback) and
    * on expired history — correctly, but until now the only recovery was
    * manual. Given the consumer's last-committed offset `from_seq`, this
    * emits the full epoch arithmetic in one summary row:
    *
    *  - `consumable_to`: the last snapshot `changes(from_seq, _)` can
    *    still replay (the first barrier's predecessor; NULL when the
    *    checkpoint is already below the retained history — nothing is
    *    consumable, go straight to the bootstrap);
    *  - `barrier_seq` / `barrier_operation`: the first restatement (or
    *    the expiry boundary) that forced the re-baseline; both NULL when
    *    the range is fully replayable (no re-baseline needed — the row
    *    says so instead of prescribing a pointless state rebuild);
    *  - `rebaseline_seq`: the head at call time — rebuild state from the
    *    converged scan AS OF this seq, then resume
    *    `changes(rebaseline_seq, ...)`;
    *  - `bootstrap_sql`: that converged-state read, ready to run
    *    (`... VERSION AS OF rebaseline_seq` + `'insert' AS _change_type`
    *    — the exact shape the streaming source's bootstrap batch emits,
    *    so a STREAMING consumer's recipe is simply: fresh checkpoint).
    *
    * The barrier scan derives from [[LakeTable.replayableOp]] — the SAME
    * predicate `changes()` enforces — so the procedure and the refusal
    * can never disagree about what constitutes a barrier. */
  private def rebaselineChangelog(
      cat: () => LakeCatalog, catalogName: String): UnboundProcedure =
    new GraftProcedure("rebaseline_changelog",
      Seq(in("table", StringType), in("from_seq", LongType)), cat) {
      override def call(input: InternalRow): JIterator[Scan] = {
        val t = table(input)
        val tableName = input.getUTF8String(0).toString
        val from = input.getLong(1)
        val head = t.currentSeq
        require(from >= 0 && from <= head,
          s"from_seq $from outside this table's history [0, $head]")
        val earliest = t.earliestSeq
        // expired checkpoint: the replay range's first header is gone —
        // nothing is consumable (changes(from, _) refuses outright)
        val expired = from + 1 < earliest
        // first barrier in (from, head], by the SAME predicates changes()
        // enforces: a non-replayable restatement, or — when the table has
        // a pk and the `from` BASE snapshot is itself expired (a
        // checkpoint parked exactly at the expiry boundary) — the first op
        // that plans the pk base join: changes() reads the base for any
        // range that is not append-only, and with the base gone that read
        // refuses even though every HEADER in the range is retained
        // (LakeTable.changes "base" guard). Without this leg the row
        // would declare such a range consumable and the emitted recipe
        // would fail exactly where it says no re-baseline is needed.
        val baseGone = from < earliest && t.meta.primaryKey.nonEmpty
        val barrier =
          if (expired) None
          else ((from + 1) to head).find { q =>
            val op = t.snapshotFile(q).operation
            !graft.lake.LakeTable.replayableOp(op) ||
              (baseGone && !graft.lake.LakeTable.appendOnlyOp(op))
          }
        val consumableTo: Any =
          if (expired) null
          else barrier.map(b => (b - 1): java.lang.Long).getOrElse((head: java.lang.Long))
        val barrierSeq: Any = barrier.map(b => b: java.lang.Long).orNull
        val barrierOp: Any =
          if (expired) UTF8String.fromString(s"history before seq $earliest expired")
          else barrier.map { b =>
            val op = t.snapshotFile(b).operation
            UTF8String.fromString(
              if (graft.lake.LakeTable.replayableOp(op))
                s"$op (needs the pk base snapshot $from, which expired)"
              else op)
          }.orNull
        val needed = expired || barrier.isDefined
        val bootstrapSql: Any =
          if (!needed) null
          else UTF8String.fromString(
            s"SELECT *, 'insert' AS _change_type FROM $catalogName.$tableName " +
              s"VERSION AS OF $head")
        val (schema, values) = row(
          ("consumable_to", LongType, consumableTo),
          ("barrier_seq", LongType, barrierSeq),
          ("barrier_operation", StringType, barrierOp),
          ("rebaseline_needed", BooleanType, needed),
          ("rebaseline_seq", LongType, if (needed) (head: java.lang.Long) else null),
          ("bootstrap_sql", StringType, bootstrapSql))
        result(name(), schema, values)
      }
    }

  private def evolveSpec(cat: () => LakeCatalog): UnboundProcedure =
    new GraftProcedure("evolve_partition_spec",
      Seq(in("table", StringType), in("spec", StringType)), cat) {
      override def call(input: InternalRow): JIterator[Scan] = {
        val t = table(input)
        val snap = t.evolvePartitionSpec(parseSpec(input.getUTF8String(1).toString))
        val rendered = t.partitionSpec(snap.specVersion)
          .map(pf => s"${pf.transform.name}(${pf.source}) AS ${pf.name}").mkString(", ")
        val (schema, values) = row(
          ("spec_version", IntegerType, snap.specVersion),
          ("spec", StringType, rendered))
        result(name(), schema, values)
      }
    }

  /** `'months(d), bucket(8, k) AS p_bk, identity(s)'` → partition fields.
    * Same transform vocabulary and default naming as the catalog's
    * `PARTITIONED BY` route; `AS name` overrides the derived name. */
  private[sources] def parseSpec(s: String): Seq[PartitionField] = {
    val entry = raw"(?i)\s*(\w+)\s*\(\s*([^()]*?)\s*\)(?:\s+as\s+(\w+))?\s*".r
    s.split(",(?![^(]*\\))").toSeq.filter(_.trim.nonEmpty).map {
      case entry(tr, args, alias) =>
        val parts = args.split(",").map(_.trim).filter(_.nonEmpty)
        def col = parts.last
        def num = parts.head.toInt
        val (transform, defName) = tr.toLowerCase match {
          case "identity"         => (LTransform.Identity, s"p_$col")
          case "years" | "year"   => (LTransform.Year, s"p_year_$col")
          case "months" | "month" => (LTransform.Month, s"p_month_$col")
          case "days" | "day"     => (LTransform.Day, s"p_day_$col")
          case "bucket"           =>
            require(parts.length == 2, s"bucket needs (n, col): $tr($args)")
            (LTransform.Bucket(num), s"p_bucket_$col")
          case "truncate"         =>
            require(parts.length == 2, s"truncate needs (w, col): $tr($args)")
            (LTransform.Truncate(num), s"p_trunc_$col")
          case other => throw new IllegalArgumentException(s"unknown transform: $other")
        }
        PartitionField(col, transform, Option(alias).getOrElse(defName))
      case other =>
        throw new IllegalArgumentException(
          s"cannot parse partition field '$other' — expected transform(col) [AS name]")
    }
  }
}
