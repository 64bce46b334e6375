package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-curve measurement (VERDICT r11 #1 — "measure scale,
  * don't just argue it"). Synthesizes K× corpora from the sf0.1 fixture
  * with deterministic id offsets (scale points from
  * `SPARK_GRAFT_SCALE_POINTS`, default 1,10,100), runs the
  * dedup/curation headline set, the q1 scan-agg, the lake write path and
  * (r13) the vector/ANN family on every point, and emits one JSON line
  * (plus a `SCALE_r{N}.json` sidecar, path via `SPARK_GRAFT_SCALE_OUT`)
  * recording per-query wall time, row counts, time ratios vs the 1×
  * base, a plan-shape comparison, and the q77-vs-q39 recall@10 on the
  * first scaled point. `tools/round_bench.sh` runs this as the standing
  * 1×/10× regression gate in the same command path as Bench
  * (VERDICT r12 #8).
  *
  * Corpus construction — linear ground truth by design:
  *   - `documents` is replicated K times with `doc_id + k·10⁷` and every
  *     token PREFIXED `c<k>_`. The prefix is a bijection on each copy's
  *     token space, so within-copy shingle/token-set/minhash structure is
  *     IDENTICAL to the base corpus while cross-copy token sets are
  *     disjoint — no near-dup pair can span copies. A K× corpus therefore
  *     carries exactly K× the pair/survivor/component structure: the
  *     ideal scaling run answers "does wall time grow ~linearly when the
  *     WORK grows exactly linearly", with no quadratic pair blow-up
  *     confounding the curve (naive replication would make every doc a
  *     10-way exact duplicate and square the output instead).
  *   - `orders` is replicated with `o_orderkey + k·10⁷`, other columns
  *     verbatim (aggregate queries are insensitive to duplication).
  *   - the 1× baseline is built through the SAME transform (K=1), so
  *     both measurements see identical token shapes and file layouts.
  *
  * Recorded per query and scale point: min-of-3 wall seconds (per-query
  * warm-up; forced shuffle-file GC between runs), output rows, `rows_ok`
  * (rows_K == K·rows₁ for structure-carrying queries; rollup outputs are
  * scale-invariant), and `plan_same` (the multiset of physical-plan node
  * class names is unchanged vs 1× — scaling must not introduce new plan
  * shapes, e.g. a broadcast silently degrading to a sort-merge join).
  * Legs are STEAL-GATED like Bench windows (VERDICT r19 #3): a min run
  * carrying more than `SPARK_GRAFT_SCALE_STEAL_BUDGET` (1 s) of recorded
  * /proc/stat hypervisor steal re-measures up to
  * `SPARK_GRAFT_SCALE_STEAL_RETRIES` (2) extra runs; a leg whose min
  * stays contaminated — or whose steal was unreadable — ships
  * `"window_dirty":true` so the time column states its own quality
  * (the laws gate on rows/shuffle bytes, which steal cannot touch).
  */
/** DNF/suspect classification and the exact log/JSON fragments the round
  * gate greps for — pure, so ScaleDnfSpec can pin them against
  * `tools/round_bench.sh`'s GATE_RE without running a measurement (the
  * shell gate and the Scala emitter live in different files; the spec is
  * the contract that keeps them from drifting — ADVICE r13 #2/#4). */
private[graft] object ScaleDnf {
  /** Fatal-class failures leave the shared JVM/executor pool or the
    * machine degraded; `NonFatal` one-offs are safe to
    * record-and-continue. JVM `Error`-ness alone is NOT the test (review
    * finding r14): Spark surfaces executor deaths — including the r13
    * disk-exhaustion incident and executor OOMs — to the driver as
    * `SparkException`/`IOException`, which are `NonFatal`. So walk the
    * cause chain (bounded; cause cycles exist) and ALSO match the
    * resource-exhaustion messages that mean "this machine is no longer
    * a trustworthy measurement substrate". */
  def isFatal(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    chain.exists(t => !scala.util.control.NonFatal(t)) ||
      chain.exists { t =>
        val m = Option(t.getMessage).getOrElse("")
        m.contains("No space left") || m.contains("Disk quota exceeded") ||
          m.contains("Java heap space") || m.contains("GC overhead limit") ||
          m.contains("Direct buffer memory") ||
          // a stopped SparkContext is fatal by definition — it never comes
          // back inside one run, so everything after is garbage — yet
          // Spark reports it as NonFatal IllegalStateException /
          // job-cancellation text (r14 incident: a JVM-shutdown signal
          // mid-curve stopped the context and nine follow-on DNFs were
          // recorded unflagged)
          m.contains("stopped SparkContext") ||
          m.contains("SparkContext was shut down")
      }
  }
  def dnfTag(fatal: Boolean): String = if (fatal) "DNF(FATAL)" else "DNF"
  def suspectLog(suspect: Boolean): String =
    if (suspect) " SUSPECT(after-fatal)" else ""
  def suspectJson(suspect: Boolean): String =
    if (suspect) ""","suspect_after_fatal":true""" else ""
}

/** Declared growth LAWS for the measured exchange (VERDICT r14 #2: r14
  * added the shuffle/spill measurement; this turns it into the gate that
  * would have caught the r12 q68 raw-shingle incident a round early — a
  * same-shape plan that starts shipping N× the bytes). Pure, so
  * ScaleLawsSpec can pin doctored points against `round_bench.sh`'s
  * GATE_RE without running a measurement (the ScaleDnf precedent).
  *
  * A family declares the exponent of its shuffled-byte growth in the
  * corpus factor K: `constant` (K⁰ — broadcast/serve/map-only shapes),
  * `linear` (K¹ — co-partitioned work proportional to data), `quadratic`
  * (K² worst case — fixed-parameter LSH banding, whose random-collision
  * candidate mass grows ~K²/2^bits by design; the production knob that
  * keeps it linear, bits ∝ log K, is measured separately by
  * q91_lsh_scaled). A point is off-law when its bytes exceed 3× the
  * law-predicted bytes — same 3× tolerance as the judge's brief — with a
  * small absolute floor so a 0.01 MB-base family can't fail on kilobyte
  * noise. Spill is gated to ZERO for every family (r14 measured exactly 0
  * everywhere once the two documented offenders were fixed/dropped): a
  * family that starts spilling has outgrown its executor-memory story. */
private[graft] object ScaleLaws {
  /** Below this many MB, growth is noise, never a law violation. */
  val FloorMb = 16.0
  def exponent(law: String): Int = law match {
    case "constant"  => 0
    case "linear"    => 1
    case "quadratic" => 2
    case other       => throw new IllegalArgumentException(s"unknown shuffle law: $other")
  }
  def shuffleOk(law: String, k: Int, baseMb: Double, mb: Double,
      capMb: Option[Double] = None): Boolean =
    mb <= math.max(3.0 * math.pow(k.toDouble, exponent(law).toDouble) * baseMb, FloorMb) &&
      capMb.forall(mb <= _)
  def spillOk(mb: Double): Boolean = mb < 0.05
}

/** Per-execution shuffle-write / disk-spill byte tally via task metrics —
  * the quantity whose growth law actually decides 100-TB viability: wall
  * time conflates CPU with exchange, bytes don't. Attached around the
  * timed runs only (warm-up excluded); counters are summed across runs
  * and divided by the run count (identical deterministic executions).
  * The listener bus is async — read the counters only after a ≥500 ms
  * drain (reclaimShuffles provides it; same idiom as LakeSpec's
  * job-count listener). */
private[graft] final class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
  val write = new java.util.concurrent.atomic.AtomicLong
  val spill = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      ()
    }
  }
}

object ScaleBench {

  private val IdStride = 10_000_000L

  /** One measured curve family: expected K×-rows behavior (`invariant` |
    * `linear`), the declared shuffled-byte growth law ([[ScaleLaws]]),
    * and — for the quadratic families — an ABSOLUTE byte cap (ADVICE r15
    * #3: the K² law bound sits ~50× above the measured bytes for the
    * fixed-parameter LSH families, so a 10×-20× regression would pass
    * `shuffle_quadratic_ok`; the cap pins every point at ≤ 3× the
    * round-15 measured 100× exchange, the same tolerance the law itself
    * uses). Spill is gated to zero for every family. */
  /** `pinnedBase`: the family's fixture does NOT scale with k (it is
    * pinned at one extreme regime, e.g. the 10⁶-file table) — measure it
    * once at the 1× point and skip the others; re-measuring an identical
    * fixture at every point would only burn curve wall-clock. */
  private final case class Family(name: String, rowsLaw: String, shuffleLaw: String,
      capMb: Option[Double] = None, pinnedBase: Boolean = false)

  /** Queries measured. Shuffle laws are DECLARED from the plan's promise
    * and were cross-checked against the measured r14 bytes:
    *  - constant: broadcast/serve shapes that ship results, not data
    *    (q1 agg-pushdown ~0.01 MB flat, q39 top-k serve ~0.02 MB flat,
    *    q94 map-only exactly 0, q98-fixed's bounded-benchmark join);
    *  - linear: co-partitioned work ∝ corpus (q68 128×@100×, q107 100×,
    *    q51 90×, lake write/mutate 90×, q91 with its bits ∝ log K knob
    *    103×, q105 184× — within the 3× tolerance of K);
    *  - quadratic: FIXED-parameter LSH banding, whose random-collision
    *    candidate mass grows ~K²/2^bits by design (q38 605×@100× and its
    *    q99 consumers ~570× — far off linear, far under K²; the linear
    *    production shape is exactly what q91_lsh_scaled measures), and
    *    q77_pq_scaled whose rerank ∝ K multiplies a ∝ K candidate set
    *    (the IVF-PQ variant below is the flat path). */
  private val Headline: Seq[Family] = Seq(
    Family("q1_orders_by_status", "invariant", "constant"), // rows = |statuses|
    // caps = 3× the r15-measured 100× bytes (565.5 / 566.5 / 571.2 MB):
    // the quadratic allowance alone would admit a ~50× regression
    Family("q38_minhash_neardup_pairs", "linear", "quadratic", capMb = Some(1700)),
    Family("q68_jaccard_similarity_join", "linear", "linear"),
    Family("q99_neardup_components", "linear", "quadratic", capMb = Some(1700)),
    // q99 with the driver-tail gate CLOSED (ccDriverMaxEdges=0): the same
    // pair sets forced through the distributed Large-Star/Small-Star
    // rounds — the >2¹⁹-edge path a 100-TB corpus would actually take,
    // which the gated default never exercises at these fixture sizes
    Family("q99_cc_distributed", "linear", "quadratic", capMb = Some(1715)),
    Family("q103_curation_pipeline", "invariant", "linear"), // (lang, source) rollup
    Family("q107_duplicate_spans", "linear", "linear"),
    Family("q108_incremental_dedup", "linear", "linear"),
    // the r18 zero-state-shuffle law, probed DIRECTLY: a FIXED batch
    // anti-joined against a survivor state grown K× (the state table is
    // built once per point during warm-up, outside the tally window).
    // The bucketed DSv2 state read keeps the survivor side exchange-free
    // (EventStreamsSpec pins the plan), so the measured bytes are the
    // constant batch-side agg + SPJ shuffle — CONSTANT in K, where the
    // pre-r18 shape re-shuffled the whole state every step (linear).
    // Rows are the fixed batch's fresh-key count — invariant by
    // construction (the probe batch's served half always matches, its
    // prefixed half never does)
    Family("q116_dedup_state_probe", "invariant", "constant"),
    // FILES-HEAVY metadata probes (VERDICT r17 #3): the curve's other
    // tables top out at hundreds of files, but the 100-TB failure mode is
    // 10^5-10^6 files. These families grow FILE COUNT (1000*K one-row
    // files: 1k/10k/100k across the default points), built once per point
    // during warm-up, and measure the metadata paths against it. Shuffle
    // is constant for all five (the measured ops move metadata or one
    // file, never the table); the signal is the recorded TIME ratio
    // column, whose expected laws are declared here for the artifact
    // reader: commit-time ~CONSTANT in live file entries (appends
    // re-reference the parent's manifests and write only the delta
    // manifest — the snapshot file holds manifest REFS, not entries),
    // plan/prune-time ~linear with a small constant (manifest entry
    // scan) while the pruned READ stays one file, meta-serve ~linear:
    // one metadata fold, run on the driver below the metaAggMaxFiles
    // valve (the 100x point = 100k files, still under the default 200k)
    // and in executor tasks above it (r19, VERDICT r18 #1: the _valve
    // variant forces the crossover at every point — one small metadata
    // job, never a re-read of 10⁵ real files), compaction (at 200*K files over 50 partitions) ~linear in
    // file opens + rewritten bytes.
    Family("lake_files_commit", "invariant", "constant"),
    Family("lake_files_pruned_scan", "invariant", "constant"),
    Family("lake_files_meta_serve", "invariant", "constant"),
    Family("lake_files_meta_serve_valve", "invariant", "constant"),
    Family("lake_files_compact", "invariant", "constant"),
    // r19 (VERDICT r18 #4): the files-heavy regime × the CDC-out /
    // streaming read paths — the two consumers the 100k-file fixture
    // never measured. Both are INCREMENTAL probes: append one real row,
    // then (a) `changes(head-1, head)` — the append-only fast path must
    // plan O(delta) and never join the 10⁵-entry base — and (b) an
    // AvailableNow streaming drain from a primed per-point checkpoint —
    // offset resolve + a one-file micro-batch, not a history re-list.
    // The full-history priming drain is paid once, in warm-up, at
    // fixture-build cost. Laws: one output row and flat time/shuffle at
    // every file count.
    Family("lake_files_incr_changelog", "invariant", "constant"),
    Family("lake_files_stream_drain", "invariant", "constant"),
    // r20 (VERDICT r19 #6): the MILLION-file regime, promoted from the
    // dev-only MillionFileProbe into the standing gate now that the
    // fixture caches across runs (ManyFilesFixture's _FIXTURE_DONE
    // marker under a STABLE path — the ~92 s hard-link build is paid
    // once per machine, reopen is a manifest parse). The metadata story
    // is the engine's crown jewel; it is regression-gated at its proven
    // extreme: the above-valve distributed manifest fold (exactness
    // asserted in-probe — count==live entries, min==0 — plus the
    // executor-fold-path counter), the DSv2 planner walk + pruned
    // one-file read, and a one-file append commit against 10⁶ live
    // entries. All three are pinned at 10⁶ regardless of k (pinnedBase),
    // so the law columns are trivially flat; the gated signals are the
    // in-probe requires (a breach DNFs the point, failing the round
    // gate) and the recorded absolute times vs MillionFileProbe's r19
    // measurements (fold 2.8-4.1 s, commit 2.8 s; the standing row has
    // measured 3.0-6.6 s for the fold — each run re-assembles the
    // 10⁶-entry listing from the process-wide manifest cache and ships
    // it to the fold tasks, and the spread is JVM/GC state, steal-clean
    // both times — same order, still 100× under the pre-r19 decline).
    Family("lake_files_1e6_fold", "invariant", "constant", pinnedBase = true),
    Family("lake_files_1e6_plan", "invariant", "constant", pinnedBase = true),
    Family("lake_files_1e6_commit", "invariant", "constant", pinnedBase = true),
    // the lake WRITE path under scale: create a month-partitioned lake
    // table from the scaled orders, append (staging sort + per-file sums
    // + snapshot commit), then scan it back — every other curve point is
    // query-side; this one measures the writer
    Family("lake_ingest_scan", "linear", "linear"),
    // the MUTATION path under scale (r14: lake_ingest_scan covers only
    // append+scan): the q27-shaped merge-on-read lifecycle — append 3/4
    // of the keys, upsert-restate every even key (O(batch) delta commit,
    // delete sidecars), tombstone every 10th, then a MoR scan folding
    // the sidecars back in. Copy offsets are ≡ 0 mod 20 (IdStride =
    // 10^7), so the %4/%2/%10 key classes replicate per copy and live
    // rows are exactly linear. The delete-key sidecars stay far below
    // the 64 MB broadcast gate even at 100x (~9M delta-encoded longs),
    // so the anti-join keeps its broadcast shape at every point —
    // plan_same stays a meaningful check rather than tripping on the
    // gate's intended size adaptivity
    Family("lake_merge_mor", "linear", "linear"),
    // the vector/ANN family (VERDICT r12 #3). q39/q77 probe the fixed
    // 3-probe set against a K× corpus (one scoring/encode pass over all
    // rows, top-k output invariant at 30); q91's planted pair set
    // replicates exactly K× (copy offsets are ≡0 mod 5 and the signed
    // permutation preserves within-copy similarity, see buildFixture)
    Family("q39_exact_topk_cosine", "invariant", "constant"),
    // r16: the exact-rerank join now BROADCASTS the shortlist and streams
    // the quantized corpus map-side (VERDICT r15 #1 — the former shape
    // let the planner shuffle the fat qv corpus once it outgrew the
    // broadcast gate: 72 MB at 100× from a 0.09 MB base, the whole
    // super-linear term). The family's one data-bearing exchange left is
    // the ADC shortlist window — skinny (probe_id, vec_id, approx) rows
    // ∝ corpus — so both q77 rows now declare LINEAR and pass it
    Family("q77_pq_scaled", "invariant", "linear"),
    // q77 behind an IVF coarse stage (VERDICT r14 #2: the flat-WALL ANN
    // path — map-only centroid assignment prunes encode+ADC to the
    // probes' nprobe lists; recall vs exact is re-measured at the 10×
    // point); same broadcast-shortlist rerank tail as q77_pq_scaled
    Family("q77_ivfpq_scaled", "invariant", "linear"),
    Family("q91_lsh_scaled", "linear", "linear"),
    // the codec family's representative (VERDICT r12 #3 parenthetical):
    // one real PNG encode+decode per document id, map-only — rides the
    // replicated documents fixture as-is, one stats row per asset
    Family("q94_image_decode_stats", "linear", "constant"),
    // the streaming-shaped families (r12 verdict: "extend the harnesses
    // to the families they don't yet cover"): gap sessionization over
    // events replicated with user_id/event_id offsets — per-copy event
    // streams are identical to the base, so sessions replicate exactly
    // K× (one shuffle on user_id; the window never crosses copies) —
    // and the sequence-packing planner's two-phase distributed prefix
    // sum over the replicated documents (one packing row per doc)
    Family("q51_sessionization", "linear", "linear"),
    Family("q102_sequence_packing", "linear", "linear"),
    // the CDC/streaming ingest path under scale (VERDICT r15 #5: q33/q34/
    // q64-q66/q82 are oracle-green but no curve family measured the
    // foreachBatch upsert loop under replay — lake_ingest_scan covers
    // batch append, lake_merge_mor batch MoR; this drives the STREAMING
    // loop): snapshot-append the scaled orders, write an 8-segment change
    // log (update every 4th key ×2, delete every 10th — divisors of the
    // 10^7 id stride, so key classes replicate per copy and live rows are
    // exactly linear), then drain it through CdcIngest.ingest at one file
    // per micro-batch — 8 micro-batches of K× rows each, per-batch
    // O(batch) pk-dedupe shuffle + delta commit, O(K) total
    Family("cdc_replay", "linear", "linear"),
    // q68_distinct_candidates was DROPPED from the curve (VERDICT r14 #4):
    // the pre-verify-distinct A/B is settled two rounds running in both
    // seconds (r13) and bytes (r14: 29.6 GB shuffle + 1.3 GB spill vs the
    // default's 21.6 GB + 0 at 100×) — conclusion recorded in PLANS.md.
    //
    // decontamination (r14: the broadcast-postings join family), with the
    // benchmark slice HELD FIXED at the base corpus's `% 50` docs
    // (benchMaxId = IdStride) while replication grows only the training
    // side (VERDICT r14 #3: the honest 100-TB shape — a real eval suite
    // is bounded; the old variant replicated the benchmark WITH the
    // corpus and measured an O(corpus) stand-in, 883 MB spill at 100×).
    // Token prefixes keep cross-copy shingle sets disjoint, so only
    // copy-0 docs can match the copy-0 benchmark: contaminated pairs are
    // INVARIANT and the broadcast + matched-join exchange is constant.
    Family("q98_decon_fixed_bench", "invariant", "constant"),
    // TF-IDF top terms (r14: explode → two-level agg → idf join →
    // per-doc window top-k). Per-copy vocabularies are disjoint, df is
    // copy-invariant and N grows K×, so every weight scales by the same
    // K factor — per-doc top-3 sets replicate exactly (row_number
    // tiebreak is on token, and the shared per-copy prefix preserves
    // lexicographic order); one row per (doc, rank ≤ 3) → linear
    Family("q105_tfidf_top_terms", "linear", "linear"))

  /** One REUSED table directory per lake curve variant, WIPED at the
    * start of each fn invocation (ADVICE r14 #3): measure() calls fn 4×
    * per point (warm-up + 3 timed runs) and plain scoped dirs die only at
    * JVM shutdown, so without the wipe a 1,10,100 curve holds ~4×(1+10+
    * 100) full mutated-table copies on disk simultaneously — exactly the
    * r13 disk-exhaustion incident class. The returned scan DataFrame is
    * consumed (counted, plan-captured) BEFORE the next invocation wipes,
    * so at most one copy per variant is ever live. */
  private val lakeDirs = scala.collection.mutable.Map.empty[String, java.nio.file.Path]
  private def freshLakeDir(tag: String): String = {
    val root = lakeDirs.getOrElseUpdate(tag, TempDirs.scoped(tag))
    val t = root.resolve("t")
    if (java.nio.file.Files.exists(t)) TempDirs.deleteRecursively(t)
    t.toString
  }

  /** Files-heavy probe table: 1000*K one-row files under an IDENTITY
    * partition with 1000*K distinct values — real manifests, real
    * partition summaries, the many-partitions shape a 100-TB table
    * actually has. Built ONCE per point (warm-up call), cached by an
    * existing-table probe; the measuring families mutate it only by
    * +1 tiny file per commit-probe invocation. */
  private def filesHeavyTable(s: SparkSession, k: Int): graft.lake.LakeTable = {
    val root = lakeDirs.getOrElseUpdate(s"graft-scale-files-x$k",
      TempDirs.scoped(s"graft-scale-files-x$k")).toString
    // hard-link fixture (ManyFilesFixture scaladoc): the real writer pays
    // tens of ms per tiny file on this filesystem — a 10^5-file build
    // through it would dominate the whole curve's wall clock
    graft.lake.ManyFilesFixture.build(s, s"$root/t", s"files_x$k", 1000L * k)
  }

  /** MILLION-file probe table (VERDICT r19 #6): pinned at 10⁶ entries
    * (override via SPARK_GRAFT_SCALE_1E6_N for dev shrink), built under
    * a STABLE path — NOT a scoped tempdir — so the ~92 s hard-link build
    * is paid once per machine and every later run reopens via the
    * fixture marker (the table is immutable apart from the +1-tiny-file
    * commit probes, noise against 10⁶). The loaded handle is memoized
    * per process: re-parsing a 10⁶-entry manifest per measured run would
    * drown the op under test. Delete the directory to force a rebuild. */
  private var megaCache: Option[graft.lake.LakeTable] = None
  private def megaFilesTable(s: SparkSession): graft.lake.LakeTable = synchronized {
    megaCache.getOrElse {
      val root = sys.env.getOrElse("SPARK_GRAFT_SCALE_1E6_DIR",
        sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale") + "/files-1e6")
      val n = sys.env.get("SPARK_GRAFT_SCALE_1E6_N").map(_.toLong).getOrElse(1000000L)
      val t = graft.lake.ManyFilesFixture.build(s, s"$root/t", "files_1e6", n)
      megaCache = Some(t)
      t
    }
  }

  /** Compaction probe table: the skewed-burst layout — 50 identity
    * partition values x 4*K files each (`ManyFilesFixture.buildBursty`
    * links one real append's per-partition file 4*K times and commits the
    * links in one metadata commit), 200*K files total. */
  private def filesCompactTable(s: SparkSession, k: Int): graft.lake.LakeTable = {
    val root = lakeDirs.getOrElseUpdate(s"graft-scale-filesc-x$k",
      TempDirs.scoped(s"graft-scale-filesc-x$k")).toString
    graft.lake.ManyFilesFixture.buildBursty(s, s"$root/t", s"filesc_x$k",
      partitions = 50, filesPerPartition = 4 * k)
  }

  /** Scale-bench-only variants not in the driver registry; `k` is the
    * scale point (index params may grow with the corpus — the honest
    * 100 TB shape is tuned-per-scale, not frozen-at-fixture-size). */
  private def resolve(name: String, k: Int): (SparkSession, String) => DataFrame = name match {
    case "q77_pq_scaled" => (s, dir) =>
      // the PQ shortlist is a corpus FRACTION, not a constant: a fixed
      // rerank=150 covers 30% of the 1x corpus but 0.3% of 100x, and
      // measured recall@10 fell 0.97 → 0.77 at just 3x. Growing rerank
      // ∝ K holds the fraction roughly constant while the encode+ADC
      // pass — the O(N) term — still dominates the curve. Measured at
      // 10x (r13): recall@10 0.90 at rerank=150K, 1.00 at 300K, and a
      // 64-codeword codebook alone lifts 150K to 0.97 — both documented
      // PQ knobs recover recall under growth exactly as Jégou'11
      // predicts; the harness keeps the leaner 150K point so the
      // recorded number carries the tension honestly.
      graft.operators.VectorOps.pqTopK(s, dir, rerank = 150 * k)
    case "q91_lsh_scaled" => (s, dir) => {
      // constant bucket occupancy: buckets hold ~N/2^bits vectors, so
      // bits grows by log2(K) — 8/11/15 at 1x/10x/100x. Planted recall
      // stays exactly 1 at any width (identical vectors, identical codes)
      val bits = 8 + math.round(math.log(k.toDouble) / math.log(2.0)).toInt
      graft.operators.VectorOps.lshNeardupPlanted(s, dir, bits)
    }
    case "q77_ivfpq_scaled" => (s, dir) =>
      // same rerank ∝ K contract as q77_pq_scaled (the shortlist is a
      // corpus fraction); the coarse stage prunes the encode+ADC pass to
      // the probes' visited lists, so the O(N) term is the cheap map-only
      // centroid argmin instead of the full PQ pipeline
      graft.operators.VectorOps.ivfPqTopK(s, dir, rerank = 150 * k)
    case "q98_decon_fixed_bench" => (s, dir) =>
      // benchmark bounded to the BASE corpus's slice (copy offsets are
      // multiples of IdStride, so `doc_id < IdStride` is exactly copy 0);
      // at 1× this is bit-identical to the registry q98
      graft.operators.DedupOps.decontamination(s, dir, benchMaxId = Some(IdStride))
    case "q99_cc_distributed" => (s, dir) => {
      s.conf.set("spark.graft.dedup.ccDriverMaxEdges", "0")
      try SparkEntry.queries("q99_neardup_components")(s, dir)
      finally s.conf.unset("spark.graft.dedup.ccDriverMaxEdges")
    }
    case "lake_ingest_scan" => (s, dir) => {
      val loc = freshLakeDir("graft-scale-lake")
      val df = s.read.parquet(s"$dir/orders.parquet")
      val t = graft.lake.LakeTable.create(s, loc, "scale_orders", df.schema,
        partitionSpec = Seq(graft.lake.PartitionField(
          "o_orderdate", graft.lake.Transform.Month, "order_month")))
      t.append(df)
      t.scan()
    }
    case "cdc_replay" => (s, dir) => {
      import graft.streaming.CdcIngest
      val root = freshLakeDir("graft-scale-cdc")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"))
      val t = graft.lake.LakeTable.create(s, s"$root/table", "scale_cdc_orders",
        o.schema, primaryKey = Seq("o_orderkey"))
      t.append(o) // C1 snapshot, then the stream takes over
      // CdcIngest.changeStream's %3/%7 classes do NOT replicate per copy
      // (10^7 ≡ 1 mod 3, ≡ 3 mod 7): the scaled stream draws the same
      // update/delete shapes from stride-divisor classes instead, so the
      // end state is exactly K× the base's and rows_linear_ok is exact
      val updates = o.filter(col("o_orderkey") % 4 === 0).select(
        col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"),
        lit("update").as(CdcIngest.OpCol),
        (col("o_orderdate") + expr("INTERVAL '1' HOUR")).as(CdcIngest.TsCol))
      val deletes = o.filter(col("o_orderkey") % 10 === 0).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit("delete").as(CdcIngest.OpCol),
        (col("o_orderdate") + expr("INTERVAL '2' HOUR")).as(CdcIngest.TsCol))
      val logSchema = CdcIngest.writeLog(
        updates.unionByName(deletes), "o_orderkey", s"$root/log", nFiles = 8)
      CdcIngest.ingest(t, s"$root/log", logSchema, s"$root/ckpt")
      t.scan()
    }
    case "q116_dedup_state_probe" => (s, dir) => {
      import graft.operators.DedupOps
      // UN-WIPED per-point state dir: the K× state build (a linear
      // shuffle) must happen exactly once — in the warm-up call, before
      // the tally listener attaches — so the timed runs measure ONLY the
      // probe anti-join
      val root = lakeDirs.getOrElseUpdate(s"graft-scale-q116-x$k",
        TempDirs.scoped(s"graft-scale-q116-x$k")).toString
      val keyed = s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"),
        graft.functions.TextSig.tokenSetKey(col("text")).as("group_key"))
      val t = DedupOps.survivorTable(s, s"$root/survivors")
      if (t.currentSeq == 0L)
        t.append(keyed.groupBy(col("group_key"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("group_key"), lit(0L).as("first_seen_batch")))
      // fixed probe batch (copy 0 only — K-invariant): even doc_ids carry
      // their real key (always served -> anti-joined away), odd ones a
      // reserved-prefix key that can never match md5 hex (always fresh)
      val batch = keyed.filter(col("doc_id") < IdStride).select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, col("group_key"))
          .otherwise(concat(lit("probe_"), col("group_key"))).as("group_key"))
      DedupOps.withSpjState(s, root) { state =>
        // eager inside the window (the q99/q108 pattern): the SPJ confs
        // are scoped to this block, so the join must execute here
        DedupOps.freshSurvivors(state(), batch, 1L, nullSafeKeys = false)
          .localCheckpoint()
      }
    }
    case "lake_files_commit" => (s, dir) => {
      val t = filesHeavyTable(s, k)
      // measured op: one tiny append onto an N-file table — the commit
      // protocol re-records every live file entry in the new snapshot,
      // so this is the honest commit-time-vs-file-count probe (each
      // invocation adds one file; +4 per point is noise against 1000*K)
      val nextPk = 10_000_000L + t.currentSeq
      t.append(s.range(1).select(lit(nextPk).as("pk"), lit(0L).as("v")))
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row(t.currentSnapshot.dataFiles.size.toLong)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_files",
            org.apache.spark.sql.types.LongType))))
    }
    case "lake_files_pruned_scan" => (s, dir) => {
      // manifest-pruned point read THROUGH DSv2 (pushed filters reach the
      // manifest partition/bounds pruning; the imperative scan() would
      // read all N files and filter post-hoc): planning walks all N
      // entries, the read touches exactly one file regardless of N
      val t = filesHeavyTable(s, k)
      s.read.format("graftlake").option("path", t.location).load()
        .filter(col("pk") === 0L)
    }
    case "lake_files_meta_serve" => (s, dir) => {
      // metadata rollup from manifest counts/bounds — the fold runs on
      // the driver below the metaAggMaxFiles valve (100k at the 100x
      // point < 200k default)
      val t = filesHeavyTable(s, k)
      s.read.format("graftlake").option("path", t.location).load()
        .agg(count(lit(1)).as("n_rows"), min(col("pk")).as("min_pk"),
          max(col("pk")).as("max_pk"))
    }
    case "lake_files_meta_serve_valve" => (s, dir) => {
      // the SAME rollup with the valve forced below the table's file
      // count at every point — the same fold runs in executor tasks over
      // the parallelized snapshot entries, so the serve stays
      // metadata-only: sub-second
      // at 100k files where the pre-r19 decline re-opened every real
      // file (87 s measured at the 100x point, SCALE_r18)
      val t = filesHeavyTable(s, k)
      s.conf.set("spark.graft.lake.metaAggMaxFiles", "500")
      try {
        // EAGER under the conf (the q99/q108 pattern): the valve must be
        // low while the plan EXECUTES, not just while fn builds it
        val r = s.read.format("graftlake").option("path", t.location).load()
          .agg(count(lit(1)).as("n_rows"), min(col("pk")).as("min_pk"),
            max(col("pk")).as("max_pk"))
          .localCheckpoint()
        r
      } finally s.conf.unset("spark.graft.lake.metaAggMaxFiles")
    }
    case "lake_files_incr_changelog" => (s, dir) => {
      // CDC-out of a ONE-ROW delta against the N-file history: the
      // append-only fast path plans O(delta) from the head snapshot's
      // header and never joins the 10⁵-entry base (the table is pk-less,
      // and even pk changelogs take the fast path on pure-append ranges)
      val t = filesHeavyTable(s, k)
      val nextPk = 20_000_000L + t.currentSeq
      t.append(s.range(1).select(lit(nextPk).as("pk"), lit(0L).as("v")))
      val head = t.currentSeq
      t.changes(head - 1, head)
    }
    case "lake_files_stream_drain" => (s, dir) => {
      // incremental streaming consumption against the N-file history:
      // the per-point checkpoint is primed by the warm-up invocation
      // (one full-history drain — fixture cost, untimed), so every TIMED
      // invocation appends one row and drains exactly that delta with
      // Trigger.AvailableNow — offset resolve + a one-file micro-batch;
      // a drain that re-lists or re-reads history shows as a slope
      val t = filesHeavyTable(s, k)
      val ckpt = s"${lakeDirs(s"graft-scale-files-x$k")}/stream-ckpt"
      val nextPk = 30_000_000L + t.currentSeq
      t.append(s.range(1).select(lit(nextPk).as("pk"), lit(0L).as("v")))
      val drained = new java.util.concurrent.atomic.AtomicLong
      val q = s.readStream.format("graftlake").option("path", t.location).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => drained.addAndGet(b.count()); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.range(1).select(lit(drained.get()).as("drained_rows"))
    }
    case "lake_files_1e6_fold" => (s, dir) => {
      // the above-valve DISTRIBUTED manifest fold at 10⁶ entries (default
      // valve 200k < 10⁶), EAGER with exactness asserted in-probe: the
      // standing gate must catch a wrong answer at the extreme, not just
      // a slow one. A require breach throws → the point records DNF →
      // round_bench.sh's gate fails.
      val t = megaFilesTable(s)
      val folds0 = graft.plans.LakeMetaAggregate.distributedServes.get()
      val row = s.read.format("graftlake").option("path", t.location).load()
        .agg(count(lit(1)).as("n_rows"), min(col("pk")).as("min_pk"),
          max(col("pk")).as("max_pk"))
        .collect()(0)
      require(graft.plans.LakeMetaAggregate.distributedServes.get() > folds0,
        "10⁶-file fold did not take the distributed executor path")
      val live = t.currentSnapshot.dataFiles.size
      require(row.getLong(0) == live.toLong && row.getLong(1) == 0L,
        s"10⁶-file fold answered wrong: $row vs $live live one-row entries")
      s.range(1).select(lit(row.getLong(0)).as("n_rows"))
    }
    case "lake_files_1e6_plan" => (s, dir) => {
      // DSv2 planner walk over 10⁶ manifest entries + the pruned ONE-file
      // read (pushed pk=0 reaches manifest partition/bounds pruning)
      val t = megaFilesTable(s)
      s.read.format("graftlake").option("path", t.location).load()
        .filter(col("pk") === 0L)
    }
    case "lake_files_1e6_commit" => (s, dir) => {
      // one-file append commit against 10⁶ live entries (optimistic
      // O_EXCL + hard-link publish; appends re-reference the parent's
      // manifests — the honest commit-vs-live-file-count probe)
      val t = megaFilesTable(s)
      val nextPk = 40_000_000L + t.currentSeq
      t.append(s.range(1).select(lit(nextPk).as("pk"), lit(0L).as("v")))
      s.range(1).select(lit(t.currentSnapshot.dataFiles.size.toLong).as("n_files"))
    }
    case "lake_files_compact" => (s, dir) => {
      // bin-pack compaction of a skewed-burst layout (50 partition
      // values x 4*K files each, hard links ManyFilesFixture.buildBursty
      // commits in one metadata commit): compactDirty
      // folds 200*K tiny files back to 50, then rollback restores the
      // pre-compaction content (O(1) metadata) so every invocation
      // measures the same rewrite
      val t = filesCompactTable(s, k)
      val pre = t.currentSeq
      t.compactDirty()
      t.rollbackTo(pre)
      s.range(1).toDF("ok")
    }
    case "lake_merge_mor" => (s, dir) => {
      val loc = freshLakeDir("graft-scale-mor")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val t = graft.lake.LakeTable.create(s, loc, "scale_orders_mor", o.schema,
        partitionSpec = Seq(graft.lake.PartitionField(
          "o_orderstatus", graft.lake.Transform.Identity, "p_status")),
        clusterBy = Seq("o_orderkey"),
        primaryKey = Seq("o_orderkey"))
      t.append(o.filter(col("o_orderkey") % 4 =!= 0))
      t.upsert(o.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice")))
      t.deleteKeys(o.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey")))
      t.scan()
    }
    case other => SparkEntry.queries(other)
  }

  private def buildFixture(spark: SparkSession, base: String, out: String, k: Int): Unit = {
    // fmt=3: r13 added the signed-permutation embeddings replication
    // (fmt=2) and then the id-offset events replication — a stale-layout
    // fixture dir (symlinked embeddings/events) must not be silently
    // reused
    val marker = s"copies=$k base=$base fmt=3\n"
    val done = new java.io.File(s"$out/_SCALE_DONE")
    if (done.exists()) {
      // a marker from a DIFFERENT base silently reusing the old fixture
      // would corrupt every ratio below; fail fast instead
      val have = java.nio.file.Files.readString(done.toPath)
      require(have == marker,
        s"$out holds a fixture built as '${have.trim}' but this run wants " +
          s"'${marker.trim}' — clear SPARK_GRAFT_SCALE_DIR and rebuild")
      return
    }
    new java.io.File(out).mkdirs()
    // a crashed PRE-fmt2 build can leave a written-table target (e.g.
    // embeddings.parquet, symlinked by the old layout) as a SYMLINK into
    // the read-only base fixture with no _SCALE_DONE marker; Spark's
    // overwrite-delete FOLLOWS symlinks, so writing through it would
    // recursively delete the base testdata everything depends on (review
    // finding r13). Unlink any symlink at a written-table target first.
    Seq("documents", "orders", "embeddings", "events").foreach { n =>
      val p = java.nio.file.Paths.get(s"$out/$n.parquet")
      if (java.nio.file.Files.isSymbolicLink(p)) java.nio.file.Files.delete(p)
    }
    val docs = spark.read.parquet(s"$base/documents.parquet")
    // the whole linear-ground-truth construction stands on copies never
    // overlapping id ranges; a larger base corpus must fail fast
    val maxIds = docs.agg(max(col("doc_id"))).head().getLong(0)
    require(maxIds < IdStride,
      s"base corpus doc_id max $maxIds >= stride $IdStride: copies would collide")
    val docCopies = (0 until k).map { c =>
      docs
        .withColumn("doc_id", col("doc_id") + lit(c * IdStride))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(lit(s"c${c}_"), t)), " "))
    }
    docCopies.reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val orders = spark.read.parquet(s"$base/orders.parquet")
    val maxOk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    require(maxOk < IdStride,
      s"base corpus o_orderkey max $maxOk >= stride $IdStride: copies would collide")
    (0 until k).map(c => orders.withColumn("o_orderkey", col("o_orderkey") + lit(c * IdStride)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    // `embeddings` replicates under a PER-COPY SIGNED PERMUTATION (the
    // "orthogonal per-copy rotation" idiom): copy c's vector is
    // new[i] = sign_c(i) · old[perm_c(i)] — a deterministic signed
    // permutation matrix, i.e. an exact orthogonal transform. Both
    // vectors of any within-copy pair transform identically, so every
    // within-copy inner product (hence cosine, SRP code collision,
    // PQ/IVF structure) is preserved exactly — a K× corpus carries
    // exactly K× the base's similarity structure — while cross-copy
    // similarities are scrambled to the random-direction regime
    // (|cos| ~ N(0, 1/√dim); nothing near the 0.9 dup band, which the
    // q91 rows_ok check verifies end to end at every point). The 1×
    // point runs through the SAME transform (copy 0 gets its own drawn
    // permutation), so ratios compare identical shapes.
    val embIn = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVid = embIn.agg(max(col("vec_id"))).head().getLong(0)
    require(maxVid < IdStride,
      s"base corpus vec_id max $maxVid >= stride $IdStride: copies would collide")
    val dim = embIn.select(size(col("embedding")).as("d"))
      .filter(col("d") > 0).head().getInt(0)
    val embCopies = (0 until k).map { c =>
      val rnd = new scala.util.Random(0xEC5CA1EL + c)
      val perm = rnd.shuffle((0 until dim).toVector)
      val flip = Vector.fill(dim)(rnd.nextBoolean())
      val rot = array((0 until dim).map { i =>
        val e = col("embedding")(perm(i))
        if (flip(i)) -e else e
      }: _*)
      embIn.select(
        (col("vec_id") + lit(c * IdStride)).as("vec_id"),
        when(col("embedding").isNotNull, rot).as("embedding"),
        col("label"))
    }
    embCopies.reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // `events` replicates with user_id/event_id offsets and VERBATIM
    // timestamps: sessionization partitions by user, and within a copy
    // the (ts, event_id) order is the base's order, so every copy holds
    // exactly the base's session structure. Read through Tables.load —
    // it normalizes the fixture's two historical ts encodings to one
    // µs TimestampType, which round-trips plainly through this write.
    val ev = Tables.load(spark, base, "events")
    // BOTH offset columns guarded (ADVICE r13 #3): event_id is shifted by
    // the same stride as user_id, so an unguarded base with event_id ≥
    // stride would silently produce cross-copy event_id collisions while
    // the user_id guard passed
    val evMax = ev.agg(max(col("user_id")), max(col("event_id"))).head()
    val (maxUid, maxEid) = (evMax.getLong(0), evMax.getLong(1))
    require(maxUid < IdStride,
      s"base corpus user_id max $maxUid >= stride $IdStride: copies would collide")
    require(maxEid < IdStride,
      s"base corpus event_id max $maxEid >= stride $IdStride: copies would collide")
    (0 until k).map(c => ev
        .withColumn("user_id", col("user_id") + lit(c * IdStride))
        .withColumn("event_id", col("event_id") + lit(c * IdStride)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    // remaining tables pass through by symlink: loaders see a complete dir
    Tables.names.filterNot(n =>
        n == "documents" || n == "orders" || n == "embeddings" || n == "events").foreach { n =>
      val link = java.nio.file.Paths.get(s"$out/$n.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$base/$n.parquet"))
    }
    java.nio.file.Files.writeString(done.toPath, marker)
  }

  private def planNodes(df: DataFrame): Map[String, Int] =
    df.queryExecution.executedPlan.collect { case n => n.getClass.getSimpleName }
      .groupBy(identity).view.mapValues(_.size).toMap

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val work = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cpus]")
      .appName("graft-scale-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val points = sys.env.getOrElse("SPARK_GRAFT_SCALE_POINTS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq.sorted
    require(points.headOption.contains(1), "scale points must start at 1 (the ratio base)")
    val dirs = points.map(k => k -> s"$work/x$k").toMap
    points.foreach(k => buildFixture(spark, base, dirs(k), k))

    // Shuffle files live until the ContextCleaner GCs their dereferenced
    // ShuffleDependency — across back-to-back runs of a shuffle-heavy
    // query they ACCUMULATE (the 100× q68 point wrote ~40 GB per
    // execution; four un-collected executions filled the disk). Force the
    // GC between runs so each run's spill budget is one execution's.
    def reclaimShuffles(): Unit = { System.gc(); Thread.sleep(500) }

    case class Meas(t: Double, rows: Long, plan: Map[String, Int], steal: Double,
        shuffleB: Long, spillB: Long, windowDirty: Boolean)

    // Steal gate for the MIN run (VERDICT r19 #3): the r19 q68 100× leg
    // shipped t=67.4 s carrying 22.1 s of recorded hypervisor steal —
    // the shuffle law gated the curve's correctness but the time column
    // was silently contaminated. Like Bench's window gate: when the
    // run that holds the min was itself stolen from beyond the budget,
    // re-measure (the episodes are minutes-long, so a fresh run usually
    // lands clean); a leg whose min stays dirty after the retries ships
    // `"window_dirty":true` so the artifact states the time column's
    // quality per leg instead of leaving steal_sec for the reader to
    // adjudicate. Unreadable /proc/stat (-1) never retries (it cannot
    // improve) but DOES flag dirty — unmeasurable is not provably clean.
    val LegStealBudgetSec = sys.env.get("SPARK_GRAFT_SCALE_STEAL_BUDGET")
      .map(_.toDouble).getOrElse(1.0)
    val LegStealRetries = sys.env.get("SPARK_GRAFT_SCALE_STEAL_RETRIES")
      .map(_.toInt).getOrElse(2)

    def measure(name: String, k: Int, dir: String): Meas = {
      val fn = resolve(name, k)
      fn(spark, dir).queryExecution.toRdd.count() // warm-up: codegen/JIT/listing
      var rows = 0L
      // capture the plan from a timed run's OWN DataFrame — a separate
      // fn() call just for plan names would be a whole extra end-to-end
      // execution for the eager operators (q99's CC rounds, q108's
      // checkpointed folds; review finding r12)
      var lastDf: DataFrame = null
      var minT = Double.MaxValue
      var minSteal = -1.0
      val baseRuns = 3
      var ran = 0
      val tally = new ShuffleTally
      spark.sparkContext.addSparkListener(tally)
      try {
        def runOnce(): Unit = {
          reclaimShuffles()
          val st0 = Bench.stealSec()
          val t0 = System.nanoTime()
          // fn() stays INSIDE the window: eager operators do their real
          // work while building (q99 runs its CC rounds in fn), and lazy
          // ones should include Catalyst time like Bench does
          val df = fn(spark, dir)
          rows = df.queryExecution.toRdd.count()
          lastDf = df
          val t = (System.nanoTime() - t0) / 1e9
          val st1 = Bench.stealSec()
          ran += 1
          if (t < minT) {
            minT = t
            minSteal = if (st0 < 0 || st1 < 0) -1.0 else st1 - st0
          }
        }
        (1 to baseRuns).foreach(_ => runOnce())
        var extra = 0
        while (minSteal > LegStealBudgetSec && extra < LegStealRetries) {
          System.err.println(f"[scale] $name ${k}x: min-run steal $minSteal%.3f s " +
            f"> budget $LegStealBudgetSec%.3f s — re-measuring")
          runOnce()
          extra += 1
        }
        reclaimShuffles() // also drains the async listener bus (≥500 ms)
      } finally spark.sparkContext.removeSparkListener(tally)
      Meas(minT, rows, planNodes(lastDf), minSteal,
        tally.write.get / ran, tally.spill.get / ran,
        windowDirty = minSteal < 0 || minSteal > LegStealBudgetSec)
    }

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Fatal-class errors (OutOfMemoryError, disk-exhaustion Errors) leave
    // the shared JVM/executor pool degraded: the run still completes so
    // hours of prior measurement survive in the artifact, but every point
    // measured AFTER one is flagged suspect in the log line and the
    // sidecar, and round_bench.sh's gate fails on the flag (ADVICE r13 #4
    // — the r13 q68 100× incident showed one exhausted point contaminating
    // its neighbors while they were still reported healthy).
    var fatalSeen: Option[String] = None
    def noteFatal(e: Throwable): Boolean = {
      val fatal = ScaleDnf.isFatal(e)
      if (fatal && fatalSeen.isEmpty) fatalSeen = Some(e.getClass.getName)
      fatal
    }
    val entries = Headline.filter(f => only.forall(_.contains(f.name))).map {
        case Family(name, rowsLaw, shuffleLaw, capMb, pinnedBase) =>
      // a point that cannot complete records a DNF row instead of killing
      // the whole artifact (learned the hard way: the r13 q68-distinct
      // 100× point exhausted spill disk and took every other measurement
      // down with it — a DNF is itself a result, e.g. "this variant's
      // peak shuffle footprint exceeds the disk budget the default fits")
      // pinnedBase families measure only the 1× point — their fixture
      // does not scale with k, so the other points would re-measure the
      // identical op (the JSON carries "pinned_base":true so the single
      // point reads as by-design, not a truncated curve)
      val familyPoints = if (pinnedBase) points.take(1) else points
      val measured = familyPoints.map { k =>
        val suspect = fatalSeen.isDefined
        k -> (try Right((measure(name, k, dirs(k)), suspect)) catch {
          case e: Throwable =>
            val fatal = noteFatal(e)
            System.err.println(
              s"[scale] $name ${k}x: ${ScaleDnf.dnfTag(fatal)} — ${e.getMessage}")
            Left((Option(e.getMessage).getOrElse(e.getClass.getName).take(120), fatal))
        })
      }
      val base = measured.head._2.toOption.map(_._1)
      import ScaleDnf.{suspectJson, suspectLog}
      def mb(bytes: Long): String = fmt(bytes / 1e6)
      val perPoint = measured.map {
        case (k, Right((m, suspect))) =>
          // spill is gated at EVERY point, base included (VERDICT r14 #2)
          val spillZeroOk = ScaleLaws.spillOk(m.spillB / 1e6)
          base match {
          case Some(b) =>
            val ratio = if (b.t > 0) m.t / b.t else -1.0
            val rowsOk = rowsLaw match {
              case "linear" => m.rows == k.toLong * b.rows
              case _        => m.rows == b.rows
            }
            val planSame = m.plan == b.plan
            // the declared-law bound AND (where pinned) the absolute
            // measured-bytes cap — both print as one shuffle_<law>_ok so
            // the round gate's ok=false pattern fails on either breach
            val shuffleLawOk = ScaleLaws.shuffleOk(
              shuffleLaw, k, b.shuffleB / 1e6, m.shuffleB / 1e6, capMb)
            System.err.println(s"[scale] $name ${k}x: ${fmt(m.t)}s ${m.rows}r " +
              s"ratio=${fmt(ratio)} rows_${rowsLaw}_ok=$rowsOk plan_same=$planSame " +
              s"shuffle=${mb(m.shuffleB)}MB spill=${mb(m.spillB)}MB " +
              s"shuffle_${shuffleLaw}_ok=$shuffleLawOk spill_zero_ok=$spillZeroOk " +
              s"steal=${fmt(m.steal)}s" +
              (if (m.windowDirty) " window_dirty=true" else "") + suspectLog(suspect))
            s""""x$k":{"t":${fmt(m.t)},"ratio":${fmt(ratio)},"rows":${m.rows},""" +
              s""""rows_ok":$rowsOk,"plan_same":$planSame,""" +
              s""""shuffle_mb":${mb(m.shuffleB)},"spill_mb":${mb(m.spillB)},""" +
              s""""shuffle_ok":$shuffleLawOk,"spill_ok":$spillZeroOk,""" +
              s""""steal_sec":${fmt(m.steal)},"window_dirty":${m.windowDirty}""" +
              s"""${suspectJson(suspect)}}"""
          case None =>
            // the 1x base itself DNF'd: a healthy later point has no law
            // to check against — say so, never print rows_ok=false (which
            // reads as a real scaling-law violation; review finding r13).
            // The shuffle law is also baseless here; spill-zero is not.
            System.err.println(s"[scale] $name ${k}x: ${fmt(m.t)}s ${m.rows}r NO_BASE " +
              s"shuffle=${mb(m.shuffleB)}MB spill=${mb(m.spillB)}MB " +
              s"spill_zero_ok=$spillZeroOk " +
              s"steal=${fmt(m.steal)}s" +
              (if (m.windowDirty) " window_dirty=true" else "") + suspectLog(suspect))
            s""""x$k":{"t":${fmt(m.t)},"rows":${m.rows},"no_base":true,""" +
              s""""shuffle_mb":${mb(m.shuffleB)},"spill_mb":${mb(m.spillB)},""" +
              s""""spill_ok":$spillZeroOk,""" +
              s""""steal_sec":${fmt(m.steal)},"window_dirty":${m.windowDirty}""" +
              s"""${suspectJson(suspect)}}"""
        }
        case (k, Left((err, fatal))) =>
          s""""x$k":{"dnf":${graft.JsonStr.q(err)}${if (fatal) ""","fatal":true""" else ""}}"""
      }
      s""""$name":{"rows_law":"$rowsLaw","shuffle_law":"$shuffleLaw",""" +
        s"""${if (pinnedBase) "\"pinned_base\":true," else ""}${perPoint.mkString(",")}}"""
    }
    // q77 recall@10 vs the exact q39 baseline, RE-ASSERTED ON THE SCALED
    // CORPUS (VERDICT r12 #3 done-criterion): the spec asserts ≈0.97 at
    // fixture scale; a 10× corpus puts 10× more organic candidates around
    // each probe, so recall there is the number that says the PQ shortlist
    // survives growth. Content comparison, not a timing — runs once.
    val recallPoints = points.filter(_ > 1)
    // one recall measurement per ANN scale variant PER SCALED POINT
    // (r14: PQ only at the first point; r15 adds the IVF-PQ path, whose
    // coarse pruning is the recall risk the re-assertion exists to
    // catch; r20 extends the gate to EVERY scaled point — VERDICT r19
    // #4: a codebook trained on a fixed-cap sample can degrade as the
    // corpus grows 100×, exactly the regime the 100 TB story claims, so
    // the 100× recall must be floored, not just recorded). Recall is
    // GATED like every other measurement (r15: a number that is printed
    // but cannot fail is not a tripwire): each variant declares a floor
    // with headroom below its measured value (PQ 0.90 measured at 10× →
    // 0.85 floor; IVF-PQ 0.933 → 0.90 — the coarse stage is the bigger
    // risk, so the tighter floor; the same floors bind at 100× — the
    // scaled corpora replicate the base with disjoint per-copy id
    // spaces, so per-copy geometry is scale-invariant and a recall drop
    // at 100× could only come from codebook-sample dilution, the exact
    // failure the gate hunts), and a breach prints `recall_ok=false`,
    // which the round gate's ok=false pattern fails on. A -1 sentinel
    // (empty exact side) breaches by construction — unverifiable ≠
    // healthy.
    val recallFloor = Map("q77_pq_scaled" -> 0.85, "q77_ivfpq_scaled" -> 0.90)
    def recallOf(variant: String, label: String, jsonKey: String): Seq[(String, Int, String)] =
      recallPoints.flatMap { k =>
        if (only.forall(s => s.contains(variant) && s.contains("q39_exact_topk_cosine"))) {
          // DNF-protected like every measured point (a throw here after ~30
          // min of measurement would discard the whole artifact — review
          // finding r13); the exact side is cached so the brute-force
          // scoring pass runs once, not once for count and once for
          // intersect
          // a recall computed after a fatal DNF is as suspect as any other
          // post-fatal measurement — same marker, same gate failure
          val rSuspect = fatalSeen.isDefined
          try {
            val exact = SparkEntry.queries("q39_exact_topk_cosine")(spark, dirs(k))
              .select(col("probe_id"), col("vec_id")).cache()
            try {
              val denom = exact.count()
              val hits = resolve(variant, k)(spark, dirs(k))
                .select(col("probe_id"), col("vec_id"))
                .intersect(exact).count()
              val r = if (denom == 0) -1.0 else hits.toDouble / denom
              val rOk = r >= recallFloor(variant)
              System.err.println(s"[scale] $label recall@10 vs q39 at ${k}x: ${fmt(r)}" +
                (if (rOk) "" else " recall_ok=false") +
                ScaleDnf.suspectLog(rSuspect))
              // the suspect/breach flags must reach the SIDECAR too, not
              // just the log (review finding r14): a healthy run still
              // emits the plain number, a flagged one an object
              Some((jsonKey, k, if (rSuspect || !rOk)
                s"""{"value":${fmt(r)}${
                  if (rOk) "" else ""","recall_ok":false"""}${ScaleDnf.suspectJson(rSuspect)}}"""
              else fmt(r)))
            } finally { exact.unpersist(); () }
          } catch { case e: Throwable =>
            // `: DNF` (with colon) so round_bench.sh's gate pattern matches
            // this line exactly like every measured point (ADVICE r13 #2)
            val fatal = noteFatal(e)
            System.err.println(
              s"[scale] $label recall at ${k}x: ${ScaleDnf.dnfTag(fatal)} — ${e.getMessage}")
            Some((jsonKey, k, graft.JsonStr.q(
              Option(e.getMessage).getOrElse(e.getClass.getName).take(120))))
          }
        } else None
      }
    val recallJson = (
      recallOf("q77_pq_scaled", "q77", "q77_recall") ++
      recallOf("q77_ivfpq_scaled", "q77_ivfpq", "q77_ivfpq_recall"))
      .map { case (key, k, v) => s""","${key}_x$k":$v""" }.mkString
    val fatalJson = fatalSeen.map(c => s""","fatal_dnf":${graft.JsonStr.q(c)}""").getOrElse("")
    val json = s"""{"points":${points.mkString("[", ",", "]")},"base":"$base"$recallJson$fatalJson,""" +
      s""""queries":{${entries.mkString(",")}}}"""
    // the sidecar IS the round's measured artifact: a failed write exits
    // nonzero (after the JSON still reaches stdout) instead of being
    // swallowed into a stderr note (ADVICE r13 #1; memory:
    // measured-artifact-runs-fail-loud)
    val sidecarOk =
      try {
        // default to a SCRATCH path, never a committed round artifact: a
        // bare dev run without the env var must not clobber a historical
        // SCALE_r<N>.json (review finding r14; round_bench.sh always sets
        // the round's real name explicitly)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(
            sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft-scale-out.json")),
          json + "\n")
        true
      } catch {
        case e: Exception => System.err.println(s"[scale] sidecar write FAILED: $e"); false
      }
    spark.stop()
    println(json)
    if (!sidecarOk) sys.exit(2)
  }
}
