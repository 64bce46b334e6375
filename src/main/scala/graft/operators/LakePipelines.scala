package graft.operators

import graft.Tables
import graft.lake._
import graft.streaming.CdcIngest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import java.time.Instant
import scala.collection.concurrent.TrieMap

/** Builds the lake-table fixtures the oracle-checked queries read, once per
  * (scale factor, table) per warehouse, under java.io.tmpdir. Every build is
  * a deterministic function of the driver's parquet fixtures, so the
  * resulting scans are oracle-comparable against DuckDB over the same
  * inputs.
  *
  * The build sequences mirror the reference pipeline's table lifecycle:
  * CDC-style appends with month/identity partition transforms and
  * clustering (destination.json:37-73,115-118), merge-on-read upserts and
  * deletes (destination.json:89-91,132-134), schema evolution
  * (BLOG_POST_COMPLETE_WALKTHROUGH.md:538-553), and compaction
  * (destination.json:262-263).
  */
object LakePipelines {

  /** Time-travel pivot: first append = orders strictly before this. */
  val TtPivot: Timestamp = Timestamp.from(Instant.parse("1999-01-01T00:00:00Z"))

  /** Pruned-scan window (half a year out of ~80 months of orders). */
  val PruneLo: Timestamp = Timestamp.from(Instant.parse("2000-01-01T00:00:00Z"))
  val PruneHi: Timestamp = Timestamp.from(Instant.parse("2000-07-01T00:00:00Z"))

  /** orders_lake commit seqs: 0 create, 1 first append, 2 second append. */
  val OrdersFirstAppendSeq = 1L

  /** orders_mor commit seqs: 0 create, 1 base append, 2 upsert, 3 delete,
    * 4 compact. */
  val MorUpsertSeq = 2L
  val MorDeleteSeq = 3L

  private val built = TrieMap[(String, String), LakeTable]()

  /** Bump whenever any fixture BUILD logic in this file (or the lake write
    * path) changes semantics: the completion markers under the warehouse
    * would otherwise let a later run silently reuse a stale build.
    * v8: tables record format version 2 ([[graft.lake.MetaJson.FormatVersion]])
    * and a v7 warehouse's tables are refused on load;
    * v7: decimal footer bounds (including FIXED_LEN_BYTE_ARRAY) recorded
    * under the scaled kind-"d" format;
    * v6: orders_decimal gains an identity status partition (q90 groups by
    * it from metadata); v5: decimal footer bounds recorded scaled. */
  val LayoutVersion = 8

  def warehouse(sfDir: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"${sys.props("java.io.tmpdir")}/graft-lake/v$LayoutVersion/$key"
  }

  def catalog(spark: SparkSession, sfDir: String): LakeCatalog =
    new LakeCatalog(spark, warehouse(sfDir))

  /** Partitioned + clustered orders table with two appends split at
    * [[TtPivot]] (so snapshot 1 is a meaningful time-travel target). */
  def ordersLake(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_lake") { cat =>
      val orders = Tables.load(spark, sfDir, "orders")
      val t = cat.createTable(
        "orders_lake",
        orders.schema,
        partitionSpec = Seq(
          PartitionField("o_orderdate", Transform.Month, "p_month"),
          PartitionField("o_orderstatus", Transform.Identity, "p_status")),
        clusterBy = Seq("o_orderkey"),
        primaryKey = Seq("o_orderkey"))
      t.append(orders.filter(col("o_orderdate") < lit(TtPivot)))
      t.append(orders.filter(col("o_orderdate") >= lit(TtPivot)))
      t
    }

  /** Integer-cents restatement of orders (the exact-money idiom): an
    * integral `o_cents` measure whose per-file EXACT sums the commit
    * records in the manifests ([[graft.lake.ColumnSums]]), so grouped
    * SUM/AVG revenue rollups are answerable from metadata alone (q86).
    * Two appends → multiple files per (month, status) group. */
  def ordersCents(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_cents") { cat =>
      val o = Tables.load(spark, sfDir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("o_cents"),
        col("o_orderdate"))
      val t = cat.createTable(
        "orders_cents",
        o.schema,
        partitionSpec = Seq(
          PartitionField("o_orderdate", Transform.Month, "p_month"),
          PartitionField("o_orderstatus", Transform.Identity, "p_status")),
        clusterBy = Seq("o_orderkey"),
        primaryKey = Seq("o_orderkey"))
      t.append(o.filter(col("o_orderdate") < lit(TtPivot)))
      t.append(o.filter(col("o_orderdate") >= lit(TtPivot)))
      t
    }

  /** Exact DECIMAL money literal 0.01 — multiplying integer cents by this
    * is exact decimal arithmetic in BOTH engines (never a double divide). */
  private def cents01 = lit(new java.math.BigDecimal("0.01"))

  /** DECIMAL-money restatement of orders — the reference's exact money
    * type (`total_amount DECIMAL(12,2)`, mysql-init/01-setup.sql:28,43-44;
    * SURVEY §1.3 "keep exact decimal, do NOT use Double"). Amounts derive
    * from exact integer cents so both engines compute identical decimals.
    * The table is clustered ON THE MONEY COLUMN with range-disjoint files,
    * so the reference's headline money comparison (`WHERE total_amount >
    * ...`, compare-query-performance.sql:97) prunes whole FILES from
    * manifest bounds — the path round 7's unscaled-stats bug silently
    * broke. TPC-H money spans ~1k..500k, so the selective cut sits at
    * 300000.00 (same shape, same type, a cut that actually divides the
    * fixture's distribution). */
  def ordersDecimal(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_decimal") { cat =>
      val o = Tables.load(spark, sfDir, "orders").select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("user_id"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("order_date"),
        (round(col("o_totalprice") * 100).cast("long").cast("decimal(14,0)") * cents01)
          .cast("decimal(12,2)").as("total_amount"))
      val t = cat.createTable(
        "orders_decimal",
        o.schema,
        // identity partition on status: per-status money rollups (q90)
        // fold from the file listing alone — grouped MIN/MAX/SUM of the
        // decimal column serve from recorded scaled bounds + sums
        partitionSpec = Seq(PartitionField("status", Transform.Identity, "p_status")),
        clusterBy = Seq("total_amount"),
        primaryKey = Seq("order_id"),
        // range clustering: the write itself arranges each append into
        // disjoint total_amount bands per status, so a pushed money
        // comparison prunes whole files from manifest bounds (the layout
        // a money-clustered fact table has at scale)
        clusterStrategy = "range")
      t.append(o.filter(col("order_date") < lit(TtPivot)))
      t.append(o.filter(col("order_date") >= lit(TtPivot)))
      t
    }

  /** Materialized GOLD rollup of [[ordersDecimal]] with exact decimal
    * revenue sums — the reference's gold tier keeps money exact end to end
    * (total_amount never passes through a double on this path). */
  def goldDecimalMetrics(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "gold_dec_metrics") { cat =>
      val gold = ordersDecimal(spark, sfDir).scan()
        .groupBy(
          year(col("order_date")).as("order_year"),
          month(col("order_date")).as("order_month"),
          col("status"))
        .agg(
          count(lit(1)).as("order_count"),
          sum(col("total_amount")).as("gross_revenue")) // decimal(22,2), exact
      val t = cat.createTable(
        "gold_dec_metrics",
        gold.schema,
        clusterBy = Seq("order_year", "order_month", "status"))
      t.append(gold)
      t
    }

  /** Merge-on-read lifecycle table (q16's merge semantics as real table
    * mutations): base = orders with key % 4 != 0; upsert batch = all even
    * keys restated (status U, price doubled); then delete keys % 5 == 0;
    * then compact. */
  def ordersMor(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_mor") { cat =>
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val t = cat.createTable(
        "orders_mor",
        o.schema,
        partitionSpec = Seq(PartitionField("o_orderstatus", Transform.Identity, "p_status")),
        clusterBy = Seq("o_orderkey"),
        primaryKey = Seq("o_orderkey"))
      t.append(o.filter(col("o_orderkey") % 4 =!= 0))
      t.upsert(o.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice")))
      t.deleteKeys(
        t.scan(asOf = Some(MorUpsertSeq)).filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey")))
      Maintenance.compact(t)
      t
    }

  /** Materialized SILVER table: the curated orders projection written back
    * to the lake, partitioned by month and clustered on order_id (the
    * reference's ClickHouse→Iceberg silver INSERT,
    * scripts/iceberg-setup.sql:47-75). */
  def silverOrders(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "silver_orders") { cat =>
      val silver = RelationalOps.silverProjection(spark, sfDir)
      val t = cat.createTable(
        "silver_orders",
        silver.schema,
        partitionSpec = Seq(PartitionField("order_date", Transform.Month, "p_month")),
        clusterBy = Seq("order_id"),
        primaryKey = Seq("order_id"))
      t.append(silver)
      t
    }

  /** CURATED CORPUS as a lake table (the text pipeline meeting the lake
    * stack): q103's doc-level survivors written back partitioned by
    * identity(lang) and clustered by doc_id, with doc_id as primary key —
    * so the corpus report (q109) serves per-language counts AND token
    * sums straight from manifest metadata (identity-partition rollup +
    * commit-time column sums), zero tasks, zero data I/O. */
  def curatedDocs(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "curated_docs") { cat =>
      val survivors = TextOps.curationSurvivors(spark, sfDir)
      val t = cat.createTable(
        "curated_docs",
        survivors.schema,
        partitionSpec = Seq(PartitionField("lang", Transform.Identity, "p_lang")),
        clusterBy = Seq("doc_id"),
        primaryKey = Seq("doc_id"))
      t.append(survivors)
      t
    }

  /** Materialized GOLD table: the month×status KPI rollup pre-computed and
    * stored sorted by (order_month, status) — the reference's MergeTree
    * gold layer (scripts/iceberg-setup.sql:80-101). Queries serve from
    * THIS table instead of re-aggregating raw: that lookup-vs-recompute
    * gap is the medallion speedup the reference headlines (2–5 s raw →
    * 10–50 ms gold, BLOG:488-491). */
  def goldOrderMetrics(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "gold_order_metrics") { cat =>
      val gold = RelationalOps.goldRollup(spark, sfDir)
      val t = cat.createTable(
        "gold_order_metrics",
        gold.schema,
        clusterBy = Seq("order_month", "status"))
      t.append(gold)
      t
    }

  /** orders_cdc commit seqs: 0 create, 1 bootstrap snapshot append, then
    * one CDC commit per drained micro-batch. */
  val CdcBootstrapSeq = 1L

  /** CDC-ingested orders table (SURVEY §2.9 C1–C5): bootstrap = batch
    * append of the full source snapshot; takeover = Structured Streaming
    * drain of a deterministic change log ([[graft.streaming.CdcIngest]]);
    * then one delivered batch is REPLAYED through the same apply path to
    * prove at-least-once idempotence — the q33 oracle hashes the state
    * after the replay. */
  def ordersCdc(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_cdc") { cat =>
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val t = cat.createTable(
        "orders_cdc",
        o.schema,
        clusterBy = Seq("o_orderkey"),
        primaryKey = Seq("o_orderkey"))
      t.append(o) // C1 initial snapshot
      val logDir = s"${cat.location("orders_cdc")}/_cdc_log"
      val logSchema = CdcIngest.writeChangeLog(spark, sfDir, logDir)
      CdcIngest.ingest(t, logDir, logSchema,
        checkpoint = s"${cat.location("orders_cdc")}/_cdc_checkpoint")
      // C5: redeliver the first log segment verbatim
      val replay = spark.read.schema(logSchema).parquet(logDir)
        .filter(col("o_orderkey") % 2 === 0)
      CdcIngest.applyBatch(t, replay)
      t
    }

  /** CDC-replicated CUSTOMER table — second pipeline of the multi-table
    * ingest (the reference replicates users/products/orders/order_items
    * concurrently, destination.json:100-234): bootstrap append, then a
    * streamed drain of a synthetic-but-deterministic change log through
    * the SAME CdcIngest API as orders. Sync timestamps derive from the
    * key, so the end state is a pure SQL function of the fixture. */
  def customerCdc(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "customer_cdc") { cat =>
      val c = Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val t = cat.createTable("customer_cdc", c.schema,
        clusterBy = Seq("c_custkey"), primaryKey = Seq("c_custkey"))
      t.append(c)
      val updates = c.filter(col("c_custkey") % 3 === 0).select(
        col("c_custkey"), col("c_name"),
        (col("c_acctbal") * 2).as("c_acctbal"),
        lit("SYNTHETIC").as("c_mktsegment"),
        lit("update").as(CdcIngest.OpCol),
        timestamp_seconds(lit(1700000000L) + col("c_custkey")).as(CdcIngest.TsCol))
      val deletes = c.filter(col("c_custkey") % 7 === 0).select(
        col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        lit("delete").as(CdcIngest.OpCol),
        timestamp_seconds(lit(1700000000L) + col("c_custkey") + 1000000L).as(CdcIngest.TsCol))
      val logDir = s"${cat.location("customer_cdc")}/_cdc_log"
      val schema = CdcIngest.writeLog(updates.unionByName(deletes), "c_custkey", logDir)
      CdcIngest.ingest(t, logDir, schema,
        checkpoint = s"${cat.location("customer_cdc")}/_cdc_checkpoint")
      t
    }

  /** CDC-replicated EVENTS table — third pipeline of the multi-table
    * ingest (pk `event_id`; the raw event-time column stays out of the
    * replicated payload — the sync timestamp is the CDC ordering). */
  def eventsCdc(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "events_cdc") { cat =>
      val e = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val t = cat.createTable("events_cdc", e.schema,
        clusterBy = Seq("event_id"), primaryKey = Seq("event_id"))
      t.append(e)
      val updates = e.filter(col("event_id") % 3 === 0).select(
        col("event_id"), col("user_id"),
        lit("U").as("event_type"),
        (col("value") * 2).as("value"),
        lit("update").as(CdcIngest.OpCol),
        timestamp_seconds(lit(1700000000L) + col("event_id")).as(CdcIngest.TsCol))
      val deletes = e.filter(col("event_id") % 7 === 0).select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        lit("delete").as(CdcIngest.OpCol),
        timestamp_seconds(lit(1700000000L) + col("event_id") + 1000000L).as(CdcIngest.TsCol))
      val logDir = s"${cat.location("events_cdc")}/_cdc_log"
      val schema = CdcIngest.writeLog(updates.unionByName(deletes), "event_id", logDir)
      CdcIngest.ingest(t, logDir, schema,
        checkpoint = s"${cat.location("events_cdc")}/_cdc_checkpoint")
      t
    }

  /** Silver tier built by TAILING the raw lake table: a streaming read of
    * `orders_lake` (micro-batch offsets = snapshot seqs), the silver
    * projection applied in-stream, each micro-batch appended to the silver
    * table via foreachBatch with the streaming checkpoint as the resume
    * position — the INCREMENTAL medallion: silver consumes only new raw
    * commits instead of rescanning the raw tier (the scheduled-INSERT
    * refresh in the reference, made continuous). */
  def silverStreamed(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "silver_streamed") { cat =>
      val src = ordersLake(spark, sfDir)
      val silverShape = RelationalOps.silverProjection(spark, sfDir).schema
      val t = cat.createTable(
        "silver_streamed",
        silverShape,
        partitionSpec = Seq(PartitionField("order_date", Transform.Month, "p_month")),
        clusterBy = Seq("order_id"),
        primaryKey = Seq("order_id"))
      val q = spark.readStream.format("graftlake").option("path", src.location).load()
        .select(
          col("o_orderkey").as("order_id"),
          col("o_custkey").as("user_id"),
          col("o_orderstatus").as("status"),
          to_date(col("o_orderdate")).as("order_month"),
          col("o_orderdate").as("order_date"),
          col("o_totalprice").as("total_amount"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          CdcIngest.inTableSession(t, batch) { b => if (!b.isEmpty) { t.append(b); () } }
        }
        .option("checkpointLocation", s"${cat.location("silver_streamed")}/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      t
    }

  /** CDC-OUT replica: a downstream table kept in sync by the CHANGELOG
    * stream (`option("changelog","true")`) — the read that keeps flowing
    * through upserts and deletes where the plain append stream (q66)
    * must refuse. Drain 1 bootstraps the converged state as typed
    * `insert` rows; the source then churns (upsert restates one key
    * slice, a MoR delete removes another); drain 2 emits the net-effect
    * insert/update/delete rows and the replica applies them — upserts for
    * insert/update, key-deletes for delete — all through distributed
    * lake commits, no driver materialization. The q82 oracle hashes the
    * replica's final scan against the equivalent relational restatement. */
  def ordersChangelogReplica(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_cl_replica") { cat =>
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val src = cat.createTable("orders_cl_src", o.schema, primaryKey = Seq("o_orderkey"))
      src.append(o)
      val replica = cat.createTable("orders_cl_replica", o.schema, primaryKey = Seq("o_orderkey"))
      val ckpt = s"${cat.location("orders_cl_replica")}/_ckpt"
      def drain(): Unit = {
        val q = spark.readStream.format("graftlake")
          .option("path", src.location).option("changelog", "true").load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            CdcIngest.inTableSession(replica, batch) { b =>
              if (!b.isEmpty) {
                val persisted = b.persist()
                try {
                  val dels = persisted.filter(col("_change_type") === "delete")
                    .select(col("o_orderkey"))
                  val ups = persisted.filter(col("_change_type") =!= "delete")
                    .drop("_change_type")
                  if (!ups.isEmpty) replica.upsert(ups)
                  if (!dels.isEmpty) replica.deleteKeys(dels)
                } finally persisted.unpersist()
              }
            }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // bootstrap: full converged state as inserts
      // churn upstream: restate one slice, delete another — history the
      // append stream cannot replay, the changelog stream can
      src.upsert(o.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("X")))
      src.deleteKeys(o.filter(col("o_orderkey") % 10 === 7).select(col("o_orderkey")))
      drain() // incremental: typed net-effect deltas
      replica
    }

  /** Orders written through the DataSourceV2 WRITE path (distributed
    * two-phase append commit, per-row transform rendering) instead of the
    * DataFrame-API writer — the q59 oracle hashes the scan of the result,
    * proving the v2 writer produces byte-compatible lake data. */
  def ordersDsv2Written(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_dsv2w") { cat =>
      val o = Tables.load(spark, sfDir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val t = cat.createTable(
        "orders_dsv2w",
        o.schema,
        partitionSpec = Seq(PartitionField("o_orderdate", Transform.Month, "p_month")),
        clusterBy = Seq("o_orderkey"))
      o.write.format("graftlake").option("path", t.location).mode("append").save()
      LakeTable.load(spark, t.location)
    }

  /** Schema-evolution table: v1 = 3 customer columns for odd keys; ALTER
    * ADD COLUMN loyalty_tier; second append fills it for even keys — old
    * rows must read back as NULL. */
  def customerEvolved(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "customer_evolved") { cat =>
      val c = Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val t = cat.createTable("customer_evolved", c.schema, primaryKey = Seq("c_custkey"))
      t.append(c.filter(col("c_custkey") % 2 === 1))
      t.addColumn("loyalty_tier", "string")
      t.append(Tables.load(spark, sfDir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment").as("loyalty_tier")))
      t
    }

  /** Type-promotion table (§1.4 `auto_promote_types`): v1 stores `qty` as
    * INT and `ratio` as FLOAT (odd keys); ALTER promotes them to BIGINT /
    * DOUBLE; a second append (even keys) then writes values only the wide
    * types can hold — qty beyond int range. Old files keep their narrow
    * physical encoding and must reconcile at read. All values are small
    * integers or exact binary fractions, so the cross-engine hash is
    * stable. */
  def ordersPromoted(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_promoted") { cat =>
      val o = Tables.load(spark, sfDir, "orders")
      val narrow = o.filter(col("o_orderkey") % 2 === 1).select(
        col("o_orderkey"),
        (col("o_orderkey") % 1000).cast("int").as("qty"),
        (col("o_orderkey") % 7).cast("float").as("ratio"))
      val t = cat.createTable(
        "orders_promoted", narrow.schema,
        clusterBy = Seq("o_orderkey"), primaryKey = Seq("o_orderkey"))
      t.append(narrow)
      t.promoteColumn("qty", "bigint")
      t.promoteColumn("ratio", "double")
      t.append(o.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"),
        (col("o_orderkey") % 1000 + 5000000000L).as("qty"),
        ((col("o_orderkey") % 7).cast("double") + 0.5).as("ratio")))
      t
    }

  /** Build-once-per-JVM with an on-disk completion marker, so a Verify run
    * and a later Bench run (separate JVMs) reuse the same deterministic
    * build, while a half-built directory from a crashed run is discarded. */
  /** Partition-spec-evolution table (Iceberg partition evolution, done
    * metadata-only): era 1 appends orders before [[TtPivot]] under
    * month(o_orderdate); the spec then evolves to month + identity(status)
    * WITHOUT rewriting anything; era 2 appends the rest under the new
    * layout. Reads must prune and merge across both populations. */
  def ordersSpecEvolved(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_spec_evolved") { cat =>
      val o = Tables.load(spark, sfDir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val t = cat.createTable(
        "orders_spec_evolved", o.schema,
        partitionSpec = Seq(PartitionField("o_orderdate", Transform.Month, "p_month")),
        clusterBy = Seq("o_orderkey"))
      t.append(o.filter(col("o_orderdate") < lit(TtPivot)))
      t.evolvePartitionSpec(Seq(
        PartitionField("o_orderdate", Transform.Month, "p_month"),
        PartitionField("o_orderstatus", Transform.Identity, "p_status")))
      t.append(o.filter(col("o_orderdate") >= lit(TtPivot)))
      t
    }

  /** Drop-column table: era 1 appends three columns; DROP o_orderstatus
    * (metadata-only — old files keep the bytes, readers never decode
    * them); era 2 appends the remaining two. Both eras read back through
    * the narrowed schema. */
  def ordersDropped(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_dropped") { cat =>
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val t = cat.createTable("orders_dropped", o.schema, clusterBy = Seq("o_orderkey"))
      t.append(o.filter(col("o_orderkey") % 2 === 1))
      t.dropColumn("o_orderstatus")
      t.append(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice")))
      t
    }

  /** Rollback table: seq 1 appends the odd-key half (the good state),
    * seq 2 appends the rest (the commit to undo), seq 3 rolls back to
    * seq 1 — a metadata-only restatement that leaves the bad commit
    * time-travelable. */
  def ordersRolledBack(spark: SparkSession, sfDir: String): LakeTable =
    cached(spark, sfDir, "orders_rolled_back") { cat =>
      val o = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val t = cat.createTable("orders_rolled_back", o.schema, clusterBy = Seq("o_orderkey"))
      t.append(o.filter(col("o_orderkey") % 2 === 1))
      t.append(o.filter(col("o_orderkey") % 2 === 0))
      t.rollbackTo(1L)
      t
    }

  private[operators] def cached(spark: SparkSession, sfDir: String, name: String)(
      build: LakeCatalog => LakeTable): LakeTable = synchronized {
    built.getOrElseUpdate((sfDir, name), {
      val cat = catalog(spark, sfDir)
      val loc = new Path(cat.location(name))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = new Path(loc, "_GRAFT_BUILD_OK")
      if (fs.exists(marker)) {
        LakeTable.load(spark, cat.location(name))
      } else {
        if (fs.exists(loc)) fs.delete(loc, true)
        val t = build(cat)
        fs.create(marker, true).close()
        t
      }
    })
  }
}
