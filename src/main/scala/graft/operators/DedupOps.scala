package graft.operators

import graft.{NamedQuery, Tables}
import graft.functions.TextSig
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators for the training-data pipeline (driver
  * brief north star; fixtures: documents.parquet at every sf).
  *
  * Scale design — every path is shuffle-on-key or bucket-join, never
  * all-pairs:
  *  - exact + normalized dedup: one hash-partitioned groupBy on a per-row
  *    signature (partial aggregation map-side; no skew: signatures are
  *    near-unique);
  *  - MinHash/LSH near-dup: per-row signatures (codegen'd expressions) →
  *    explode into (band, digest) buckets → self-equi-join on the bucket
  *    key → exact-Jaccard verification of the candidate pairs only. At
  *    100 TB the candidate set is O(dup pairs), not O(N²); the only
  *    shuffles are the bucket join and a distinct;
  *  - SimHash: same bucket-join shape over 16-bit hamming bands, with a
  *    pigeonhole completeness guarantee for distance <= 3.
  *
  * Verification split: every registered dedup query is DuckDB-oracle-
  * checked (q35–q38, q68, q72, q98, q99, q108, q116 — SimHash included
  * since its r10 move to the portable md5 basis; q116 is the
  * lake-persistent incremental route); the plan-shape guarantees
  * (no cartesian product anywhere) and algorithm properties (LSH
  * recall, banding completeness, union-find ground truth, streaming-
  * twin parity) are ScalaTest'd (DedupOpsSpec).
  */
object DedupOps {

  // NOT fanned out (measured, r21): the corpus scans as ONE task (single
  // unsplittable row group), but every dedup query here already shuffles
  // right after its signature projection — Tables.fanOut would add an AQE
  // stage whose barrier + re-plan costs more than the parallelism wins at
  // bench scale (A/B: q35 0.27→0.48 s, q38 0.60→0.84, q72 0.40→0.66,
  // q103 0.29→0.61 WITH fanOut). Map-only consumers (q104, the codec
  // family) keep it — see TextOps.repetitionScores / MultimodalOps.
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // q35 — exact + normalized dedup stats per source: how many distinct
  // raw texts (md5) and distinct token-set normal forms each source holds
  val dedupStats: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(TextSig.exactKey(col("text"))).as("distinct_texts"),
        countDistinct(TextSig.tokenSetKey(col("text"))).as("distinct_token_sets"))

  // q36 — normalized near-dup groups: documents sharing an identical
  // distinct-token set (permutations / repetitions of the same vocabulary)
  val neardupGroups: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir)
      .groupBy(TextSig.tokenSetKey(col("text")).as("group_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_docs") > 1)

  // q37 — dedup survivors: canonical (min doc_id) member per token-set
  // group — the output a dedup stage feeds downstream
  val dedupSurvivors: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir)
      .groupBy(TextSig.tokenSetKey(col("text")).as("group_key"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select(col("doc_id"), col("group_size"))

  /** doc_id × distinct bigram shingles, recomputed by every plan arm that
    * references it — the unshared form the LSH q-paths read once per query
    * ([[shingledShared]] materializes it for the paths that read it several
    * times). Native codegen'd shingling when the session has
    * GraftExtensions; bit-identical pure-functions fallback otherwise. */
  private[operators] def shingled(s: SparkSession, dir: String): DataFrame = {
    val sh =
      if (s.catalog.functionExists(graft.plans.GraftExtensions.ShinglesName))
        call_function(graft.plans.GraftExtensions.ShinglesName, col("text"))
      else TextSig.shingles(col("text"))
    docs(s, dir).select(col("doc_id"), sh.as("sh"))
  }

  /** The shingle table materialized ONCE per query run (r21): q38/q68
    * reference the (doc_id, sh) set three to four times — the candidate
    * pipeline plus one join side per pair member plus (q68) the rank
    * dictionary sample — and each reference used to re-run the whole
    * tokenize+shingle projection from the scan. One localCheckpoint
    * computes the shingles once and every consumer reads the blocks (the
    * materialize-the-keyed-corpus-once pattern of q108, review finding
    * r11). Values are identical — the checkpoint only cuts recompute.
    *
    * Deliberately NOT combined with Tables.fanOut, in EITHER position
    * (re-measured r22 on top of the r21 rejection of pre-shingle fanOut):
    * repartitioning the finished (doc_id, sh) rows INTO the checkpoint —
    * which would parallelize the ~1.1 s of serial 1-task derived map
    * stages QueryProbe found (compact builds, dict sample, prefix
    * projection) — A/B-measured q68 1.22→2.42 s, q38 0.51→0.75, q99
    * 0.61→1.11 (steal-clean mins, 5 attempts): the exchange + 32-block
    * checkpoint + per-task fixed overhead of every now-32-way stage costs
    * twice what the serial stages did at this corpus size. At a corpus
    * size where those passes genuinely dominate, the input scans wide on
    * its own and no fanOut is needed.
    *
    * The checkpoint is LAZY: every first consumer here is a full pass (the
    * q38 band groupBy's map stage / the q68 dict aggregate), so it
    * materializes every partition as a side effect and the dedicated
    * eager-checkpoint job + its stage barrier disappear from the run. */
  private[operators] def shingledShared(s: SparkSession, dir: String): DataFrame =
    Tables.shared(shingled(s, dir), eager = false)

  /** Ordered pairs (i < j) from a bucket's sorted member array, as an
    * array expression (the members column is a materialized attribute, so
    * the nested lambdas reference it for free); `pair` builds the output
    * struct from the (earlier, later) members. */
  private[operators] def bucketPairs(members: Column)(pair: (Column, Column) => Column): Column =
    flatten(transform(members, (x, i) =>
      transform(slice(members, i + 2, size(members)), y => pair(x, y))))

  /** Default cap on quadratic in-bucket pair expansion; override with
    * `spark.graft.dedup.lshMaxBucket`. */
  val DefaultLshMaxBucket = 1024

  private[operators] def lshMaxBucket(s: SparkSession): Int =
    s.conf.getOption("spark.graft.dedup.lshMaxBucket")
      .map(_.toInt).getOrElse(DefaultLshMaxBucket)

  /** [[bucketPairs]] with a SKEW GUARD: a bucket over `cap` members
    * SUB-BANDS instead of expanding quadratically — members split into
    * ceil(m/cap) groups by a secondary hash, pairs only within a group, so
    * a degenerate bucket of m members costs O(m·cap) pairs instead of
    * O(m²). A giant bucket means that band digest carries no signal (in
    * the wild: boilerplate-dominated corpora whose shingle sets collapse);
    * true near-dups keep their collision chances in the other bands, and
    * the guard turns a job-killing quadratic blowup into a bounded,
    * logged degradation. Single expression — no second aggregation, no
    * extra shuffle. */
  private[operators] def cappedBucketPairs(members: Column, cap: Int)(
      pair: (Column, Column) => Column): Column = {
    val k = ceil(size(members).cast("double") / lit(cap)).cast("long")
    when(size(members) <= cap, bucketPairs(members)(pair))
      .otherwise(flatten(transform(sequence(lit(0L), k - 1), j =>
        bucketPairs(filter(members, x => pmod(xxhash64(x), k) === j))(pair))))
  }

  /** Per-session listener that surfaces the skew guard when it fires:
    * every query whose plan observed `graft_lsh_skew` logs a warning with
    * the giant-bucket count and the largest bucket seen. */
  private val skewListenerSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private def ensureSkewListener(s: SparkSession): Unit =
    if (skewListenerSessions.add(s)) {
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(
            funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.get("graft_lsh_skew").foreach { row =>
            val giants = row.getAs[Long]("giant_buckets")
            if (giants > 0) log.warn(
              s"LSH skew guard engaged: $giants bucket(s) over the " +
                s"${lshMaxBucket(s)}-member cap (largest: ${row.getAs[Long]("max_bucket")} " +
                "members) were sub-banded instead of expanded quadratically; " +
                "recall within those buckets is reduced. Raise " +
                "spark.graft.dedup.lshMaxBucket or add bands if this corpus " +
                "legitimately collapses into few buckets.")
          }
        override def onFailure(
            funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    }

  /** MinHash/LSH candidate pairs (doc_i < doc_j): signature → band digests
    * → explode → groupBy bucket → in-bucket pair expansion → distinct.
    * This is the scale path: candidates only ever meet inside a bucket,
    * signatures are computed exactly once (a bucket self-JOIN would
    * recompute the whole signature pipeline on both sides — AQE does not
    * reuse the exchange), and the only shuffles are the bucket groupBy and
    * the final distinct. Bucket membership lists are near-duplicate groups
    * — small by construction (a giant bucket would be quadratic under any
    * pairing strategy). */
  /** Native codegen'd signature when the session has [[graft.plans.GraftExtensions]]
    * registered; bit-identical pure-functions fallback otherwise
    * (equality spec-asserted corpus-wide). */
  private def minhashBandsCol(s: SparkSession, sh: org.apache.spark.sql.Column,
      bands: Int, rows: Int): org.apache.spark.sql.Column =
    graft.plans.GraftExtensions.nativeCall(
      graft.plans.GraftExtensions.MinHashBandsName, sh, lit(bands), lit(rows))(
      TextSig.minhashBands(sh, bands, rows))

  def lshCandidates(s: SparkSession, dir: String,
      bands: Int = 8, rows: Int = 4): DataFrame =
    lshCandidatesOf(s, shingled(s, dir), bands, rows)

  /** LSH candidate pairs over any (doc_id, sh) DataFrame — split from
    * [[lshCandidates]] so specs can plant degenerate corpora. */
  private[graft] def lshCandidatesOf(s: SparkSession, shingledDf: DataFrame,
      bands: Int = 8, rows: Int = 4): DataFrame = {
    ensureSkewListener(s)
    val cap = lshMaxBucket(s)
    // guard: documents with < 2 tokens have EMPTY shingle sets — all of
    // them would share the identical all-sentinel signature and pile into
    // one giant bucket (quadratic pair expansion for pairs that can never
    // verify, jaccard undefined on empty sets)
    // The (band, digest) fan-out explodes a CONSTANT band range, with each
    // exploded row picking its digest from the materialized signature
    // attribute — exploding the signature array itself makes Catalyst
    // infer a `size(sig) > 0` filter and push it below the projection,
    // substituting the full MinHash expression into the filter and
    // computing every signature twice per row (the q91 SRP lesson; the
    // constant range's inferred filter constant-folds away).
    val withBands = shingledDf
      .filter(size(col("sh")) > 0)
      .select(
        col("doc_id"),
        minhashBandsCol(s, col("sh"), bands, rows).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        element_at(col("sig"), col("band") + 1).as("digest"))
    withBands
      .groupBy(col("band"), col("digest"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      // skew telemetry rides the same pass; the listener logs when > 0
      .observe("graft_lsh_skew",
        sum(when(size(col("ids")) > cap, 1L).otherwise(0L)).as("giant_buckets"),
        max(size(col("ids")).cast("long")).as("max_bucket"))
      .select(explode(cappedBucketPairs(col("ids"), cap) { (x, y) =>
        struct(x.as("doc_i"), y.as("doc_j"))
      }).as("p"))
      .select(col("p.doc_i"), col("p.doc_j"))
      .distinct()
  }

  // q38 — verified near-duplicate pairs: LSH candidates filtered by EXACT
  // bigram Jaccard >= 0.9. Exact integer set sizes divided once in double,
  // so the value is engine-identical; the oracle recomputes the same pairs
  // from scratch (all-pairs is fine for DuckDB at verification scale).
  /** The threshold as the exact rational 9/10: the verify filter runs in
    * integer arithmetic (see below), and [[NeardupThreshold]] derives
    * from it, so the two cannot drift apart. */
  private val NeardupNum = 9; private val NeardupDen = 10
  val NeardupThreshold: Double = NeardupNum.toDouble / NeardupDen
  val minhashNeardupPairs: (SparkSession, String) => DataFrame = (s, dir) => {
    val sh = shingledShared(s, dir) // one materialization feeds all three uses
    val cand = lshCandidatesOf(s, sh)
    // |sh_i ∩ sh_j| bound ONCE (VERDICT r21 #2: the former single jaccard
    // expression evaluated array_intersect THREE times — numerator plus
    // twice in the denominator — and predicate pushdown substituted a
    // fourth full copy into the join filter). The threshold now tests in
    // exact integer arithmetic on the bound column
    // (inter/union >= 9/10  <=>  19·inter >= 9·(szi+szj), union =
    // szi+szj-inter), which is EQUIVALENT to the former double comparison:
    // set sizes are exact ints ≪ 2^26, so any rational ≠ 9/10 sits ≥
    // 1/(10·union) ≫ one ulp away from 0.9 and the double division cannot
    // cross the boundary; a rational exactly 9/10 rounds to literal-0.9's
    // own double and passed before too. The pushed filter evaluates the
    // intersect once per candidate; only survivors recompute it for the
    // reported jaccard — the identical inter/(szi+szj-inter) double.
    val joined = cand
      .join(sh.select(col("doc_id").as("doc_i"), col("sh").as("sh_i")), "doc_i")
      .join(sh.select(col("doc_id").as("doc_j"), col("sh").as("sh_j")), "doc_j")
      .select(col("doc_i"), col("doc_j"),
        size(array_intersect(col("sh_i"), col("sh_j"))).as("inter"),
        size(col("sh_i")).as("szi"), size(col("sh_j")).as("szj"))
    joined
      .filter(col("inter") * lit(NeardupNum + NeardupDen) >=
        lit(NeardupNum) * (col("szi") + col("szj")))
      .select(col("doc_i"), col("doc_j"),
        (col("inter").cast("double") / (col("szi") + col("szj") - col("inter")))
          .as("jaccard"))
  }

  /** EXACT n-gram Jaccard similarity self-join via PREFIX FILTERING — the
    * deterministic-complete sibling of the MinHash pipeline: every pair at
    * or above the threshold is found, no banding escape probability.
    *
    * Classic distributed set-similarity-join shape (public literature:
    * Vernica/Carey/Li, "Efficient Parallel Set-Similarity Joins Using
    * MapReduce", SIGMOD 2010; the prefix-filter principle of
    * Chaudhuri/Ganti/Kaushik, ICDE 2006):
    *  - order each document's shingle set by GLOBAL document frequency,
    *    rarest first (one small groupBy builds a bounded top-K frequency
    *    dictionary, collected to the driver and applied MAP-SIDE — no
    *    shuffle join, no regroup, no pair enumeration);
    *  - a set x can only reach Jaccard t with a set sharing one of x's
    *    first |x| - ceil(t*|x|) + 1 ordered tokens (if all prefix tokens
    *    miss, the remaining overlap is < ceil(t*|x|) <= the needed
    *    overlap), so candidates = pairs sharing a PREFIX token — generated
    *    with the same groupBy-bucket + in-bucket pair expansion as
    *    [[lshCandidates]], never a self-join re-computation;
    *  - exact Jaccard verification on candidates only. Rarest-first
    *    ordering makes prefix buckets small by construction (the most
    *    selective tokens carry the candidates), which is what bounds the
    *    expansion at corpus scale.
    *
    * The threshold is a RATIONAL (tNum/tDen): ceil(t*|x|) must be computed
    * in exact integer arithmetic — double rounding (0.8*5 = 4.0000...02 →
    * ceil 5) would shorten the prefix and silently drop true pairs. */
  /** Cap on the driver-collected frequency dictionary (top-K tokens by
    * df); override with `spark.graft.dedup.prefixDictSize`. The prefix
    * filter is exact under ANY global total order — frequency ordering
    * only tunes bucket sizes — so the cap bounds the broadcast O(1) in
    * corpus size (same pattern as the PQ training sample) with no
    * correctness cliff: out-of-dictionary tokens order as df = 1, the
    * rarest class, which is where prefix tokens want to be. */
  val DefaultPrefixDictSize = 1 << 16

  /** The prefix dictionary's document frequencies come from the 1/8 of
    * documents whose `xxhash64(doc_id)` is divisible by this. */
  val PrefixDictSampleMod = 8

  def jaccardPrefixCandidates(shingles: DataFrame,
      tNum: Int = 4, tDen: Int = 5): DataFrame = {
    val s = shingles.sparkSession
    val sh = shingles.filter(size(col("sh")) > 0)
    // rarest-first total order (df, tok), stamped MAP-SIDE from a bounded
    // dictionary: one small aggregation + driver collect replaces the
    // former explode → sort-merge df join → regroup → per-doc struct sort
    // (two full shuffles of every token occurrence). Deterministic: the
    // top-K cut orders by (df desc, tok).
    val maxDict = s.conf.getOption("spark.graft.dedup.prefixDictSize")
      .map(_.toInt).getOrElse(DefaultPrefixDictSize)
    // frequencies from a DETERMINISTIC 1/mod document sample: the filter
    // is exact under ANY total order, so sampled df only tunes bucket
    // sizes — and a hash-sampled eighth of the corpus ranks common tokens
    // the same way the full corpus does, at O(sample) aggregation cost
    // (the same bounded-training pattern as the PQ codebook). Tiny
    // corpora (sample could even be empty) stay correct: unseen tokens
    // order as df = 1, ties break on the token itself.
    val dictSrc = sh.filter(pmod(xxhash64(col("doc_id")), lit(PrefixDictSampleMod)) === 0)
    val dict: Map[String, Long] = dictSrc
      .select(explode(col("sh")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok"))
      .limit(maxDict)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // NATIVE hashed-dictionary ordering when the session has
    // GraftExtensions (the HOF form probes the map literal by linear scan
    // per token); bit-identical composition otherwise (spec-asserted)
    val dictCol = typedlit(dict)
    val orderedToks: Column =
      if (s.catalog.functionExists(graft.plans.GraftExtensions.RankOrderName))
        call_function(graft.plans.GraftExtensions.RankOrderName, col("sh"), dictCol)
      else
        transform(
          sort_array(transform(col("sh"), t =>
            struct(coalesce(try_element_at(dictCol, t), lit(1L)).as("df"), t.as("tok")))),
          st => st.getField("tok"))
    val ordered = sh.select(col("doc_id"), orderedToks.as("toks"))
    val sz = size(col("toks"))
    // ceil(t*sz) = floor((tNum*sz + tDen-1) / tDen): the numerator is an
    // exact integer and the quotient sits >= 1/tDen away from any wrong
    // integer boundary, so the double division floors exactly
    val minOverlap = floor((lit(tNum) * sz + lit(tDen - 1)) / lit(tDen)).cast("int")
    val prefixLen = sz - minOverlap + lit(1)
    // buckets carry (doc_id, set size, 1-based prefix position) so pair
    // expansion can apply the two EXACTNESS-PRESERVING ppjoin filters
    // (Xiao/Wang/Lin/Yu, WWW 2008) before any pair leaves its bucket:
    //  - LENGTH: J(x,y) >= t needs t*max(|x|,|y|) <= min(|x|,|y|)
    //    (J <= min/max), checked in exact rational arithmetic;
    //  - POSITIONAL: the overlap is at most 1 + min(|x|-px, |y|-py) for a
    //    token shared at prefix positions px/py (everything before it in
    //    the shared order contributes nothing more), and J >= t needs
    //    overlap >= ceil(tNum*(|x|+|y|) / (tNum+tDen))  (J = inter/union,
    //    union = |x|+|y|-inter). The FIRST shared prefix token of a true
    //    pair always passes (loosest positions), so keeping pairs that
    //    pass in ANY bucket stays complete — while a high-df token at the
    //    tail of two prefixes no longer floods verification with pairs
    //    the sizes already refute. On the sf0.1 corpus this cuts the
    //    candidate set ~30x (4.4M -> ~0.15M) ahead of the shuffle-heavy
    //    verify join.
    // NATIVE in-bucket expansion when the session has GraftExtensions (one
    // tight loop per bucket, only survivors allocate — graft_prefix_pairs);
    // identical-output HOF composition otherwise (equality spec-asserted)
    def filteredPairs(ids: Column): Column =
      graft.plans.GraftExtensions.nativeCall(
        graft.plans.GraftExtensions.PrefixPairsName, ids, lit(tNum), lit(tDen))(
        filter(bucketPairs(ids) { (x, y) =>
          val (sx, sy) = (x.getField("sz"), y.getField("sz"))
          val alpha = ceil((lit(tNum) * (sx + sy)).cast("double") / lit(tNum + tDen)).cast("int")
          val ubound = lit(1) + least(sx - x.getField("p"), sy - y.getField("p"))
          when(
            lit(tNum) * greatest(sx, sy) <= lit(tDen) * least(sx, sy) && ubound >= alpha,
            struct(x.getField("doc_id").as("doc_i"), y.getField("doc_id").as("doc_j")))
        }, p => p.isNotNull))
    val cands = ordered
      .select(col("doc_id"), sz.as("sz"),
        posexplode(slice(col("toks"), lit(1), prefixLen)))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("p"), col("col").as("tok"))
      .groupBy(col("tok"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sz"), col("p")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(filteredPairs(col("ids"))).as("p"))
      .select(col("p.doc_i"), col("p.doc_j"))
    // NO pre-verify distinct: a pair sharing k prefix tokens appears k
    // times, but deduplicating 100% of candidates pre-verification costs
    // a full exchange + hash-agg of the candidate stream (skew-prone: one
    // giant bucket's output lands in one task's partial agg), while the
    // duplication rate is small (~17% on the sf0.1 corpus) and the
    // verifier rejects duplicates as cheaply as originals —
    // [[jaccardSimilarityJoinOn]] dedups the SURVIVORS instead.
    // (Re-examined under the r12 compact signatures: a duplicate now
    // costs ~1.2 KB of signature shipping through the verify joins vs
    // 16 B through a pre-join distinct. A/B-benched at sf0.1 the
    // distinct measured same-to-worse across windows, and re-measured at
    // the 100x scale point via ScaleBench's q68_distinct_candidates
    // variant — see SCALE_r13 — so the crossover would need a far higher
    // duplication rate.)
    cands
  }

  // q68 — exact Jaccard similarity join at threshold 0.8: prefix-filter
  // candidates verified by exact bigram Jaccard. Unlike q38 there is no
  // probabilistic caveat — the oracle's all-pairs result is matched by
  // CONSTRUCTION, at any corpus, at a lower (harder) threshold.
  val JaccardJoinNum = 4; val JaccardJoinDen = 5
  val jaccardSimilarityJoin: (SparkSession, String) => DataFrame = (s, dir) =>
    // shingledShared: the dict sample, prefix pipeline and both verify-join
    // sides all read ONE materialization instead of re-shingling serially
    jaccardSimilarityJoinOn(shingledShared(s, dir), JaccardJoinNum, JaccardJoinDen)

  def jaccardSimilarityJoinOn(shingles: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val cand = jaccardPrefixCandidates(shingles, tNum, tDen)
    // COMPACT SIGNATURES for the verify join (r12 scale measurement: the
    // candidate×signature exchange is THE volume term of the Vernica
    // shape — shipping raw string-bigram arrays per candidate wrote
    // ~150 GB of shuffle at a 100× corpus on one node). Each document's
    // shingle set is hashed ONCE to a sorted, deduplicated array<bigint>
    // (~4× fewer bytes than the strings + offsets), and the intersection
    // becomes a two-pointer merge in the native kernel. Set sizes,
    // intersections and the derived jaccard are identical unless two
    // DISTINCT bigrams of one comparison collide in 64 bits (~2⁻⁶⁴ per
    // pair of distinct shingles) — the same hash-exactness idiom the
    // exact-dedup family already stands on (md5 text/token-set keys,
    // q35–q37). Sortedness is the kernel's input contract; array_sort
    // here is what establishes it.
    // NOT a shared checkpoint (A/B-measured r22): materializing this
    // compaction once — instead of once per verify-join side — measured
    // q68 1.22→1.33-1.43 s. The two join-side map stages are INDEPENDENT
    // exchanges that AQE runs concurrently, so the duplicate pass costs
    // ~nothing wall-clock, while a lazy checkpoint makes both stages race
    // to materialize the same blocks (no dedup for in-flight partitions)
    // and serializes them on the block store.
    val compact = shingles.select(col("doc_id"),
      array_sort(array_distinct(transform(col("sh"), t => xxhash64(t)))).as("sh"))
    // the intersection is the expensive term: its SIZE decides the
    // threshold in exact integer arithmetic
    // (inter/union >= tNum/tDen  <=>  inter*(tNum+tDen) >= tNum*(szi+szj)),
    // and only then is the reported double derived — the value chain
    // size/size arithmetic is bit-identical to dividing directly.
    // NATIVE thresholded count when the session has GraftExtensions
    // ([[graft.plans.InterCount]]: no intersection array materialized,
    // early exit below the threshold — Catalyst pushes the >= 0 filter
    // into the join condition, so the ~Nk rejected candidates die on the
    // cheap call and only survivors recompute for the jaccard value);
    // identical-output array_intersect composition otherwise
    val native = shingles.sparkSession.catalog
      .functionExists(graft.plans.GraftExtensions.InterCountName)
    def interCol: Column =
      if (native)
        call_function(graft.plans.GraftExtensions.InterCountName,
          col("sh_i"), col("sh_j"), lit(tNum), lit(tDen))
      else size(array_intersect(col("sh_i"), col("sh_j")))
    // SHUFFLE_HASH with the doc side as build: Catalyst's size estimate
    // for the exploded pair pipeline undercuts the corpus scan, so left
    // alone it BROADCASTS the candidate stream and streams the corpus —
    // whose parallelism is the corpus file split count (ONE task runs
    // every verification at bench scale). Hash-joining on doc_id instead
    // co-partitions both sides, keeps the verifier at full parallelism,
    // and is the shape that survives 100 TB (the corpus side is never
    // broadcastable; the pair stream exchange is O(candidates))
    val joined = cand
      .join(compact.select(col("doc_id").as("doc_i"), col("sh").as("sh_i"))
        .hint("shuffle_hash"), "doc_i")
      .join(compact.select(col("doc_id").as("doc_j"), col("sh").as("sh_j"))
        .hint("shuffle_hash"), "doc_j")
      .select(col("doc_i"), col("doc_j"), interCol.as("inter"),
        size(col("sh_i")).as("szi"), size(col("sh_j")).as("szj"))
    val passed =
      if (native) joined.filter(col("inter") >= 0)
      else joined.filter(
        col("inter") * lit(tNum + tDen) >= lit(tNum) * (col("szi") + col("szj")))
    passed.select(col("doc_i"), col("doc_j"),
      (col("inter").cast("double") / (col("szi") + col("szj") - col("inter")))
        .as("jaccard"))
      // candidates arrive with multiplicity (one per shared prefix token);
      // duplicates carry identical jaccard values, so dedup on survivors
      // (tiny: the pairs actually above the threshold) replaces a full
      // candidate-stream distinct
      .distinct()
  }

  /** SimHash near-dup pairs within hamming distance `maxDist` (default 3):
    * 4 × 16-bit band buckets are a COMPLETE candidate generator for
    * distance <= 3 (pigeonhole: 3 flipped bits touch at most 3 of the 4
    * bands), then `bit_count(xor)` verifies exactly.
    *
    * Fully DuckDB-hash-checked (q72): the simhash's md5-low64 token-hash
    * basis ([[TextSig.simhash]]) is reproducible in DuckDB, so the oracle
    * brute-forces the EXACT pair set — per token `('0x' ||
    * substr(md5(t),1,16))::UBIGINT`, 64 majority-vote lanes, all-pairs
    * `bit_count(xor)` — organic pairs included (this corpus holds
    * hundreds: true near-dups at hamming 1–3 AND short-doc majority-vote
    * collisions at hamming 0 with set-jaccard down to 0.5, which is why a
    * planted-only oracle contract was not sound here). Banding
    * completeness for <= 3 is additionally spec-PROVEN against brute
    * force (DedupOpsSpec), covering the sub-quadratic path's equivalence
    * to the oracle's all-pairs shape. */
  def simhashNeardupPairs(s: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    val sims = docs(s, dir).select(
      col("doc_id"), TextSig.simhash(TextSig.tokens(col("text"))).as("sim"))
    // sim is referenced 5x below; CollapseProject keeps the non-cheap
    // aggregate in its own project, so the simhash is computed once per row
    val bands = sims.select(
      struct(col("doc_id"), col("sim")).as("m"),
      posexplode(TextSig.simhashBands(col("sim"))))
      .select(col("m"), col("pos").as("band"), col("col").as("digest"))
    val pairs = bucketPairs(col("ms")) { (x, y) =>
      struct(
        x.getField("doc_id").as("doc_i"),
        y.getField("doc_id").as("doc_j"),
        bit_count(x.getField("sim").bitwiseXOR(y.getField("sim"))).as("hamming"))
    }
    bands
      .groupBy(col("band"), col("digest"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(pairs).as("p"))
      .select(col("p.doc_i"), col("p.doc_j"), col("p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** q98 — BENCHMARK DECONTAMINATION, the training-data step that near-dup
    * search does not cover: a training document is contaminated when a
    * large fraction of ITS OWN shingles appears in some held-out benchmark
    * document — an ASYMMETRIC containment test (|sh(doc) ∩ sh(bench)| /
    * |sh(doc)|), catching benchmark text embedded in a longer training
    * document that symmetric Jaccard would wash out. The benchmark here is
    * the deterministic `doc_id % 50 == 0` slice (standing in for a real
    * eval-set table, which is what a deployment would pass).
    *
    * Scale design: benchmark sets are SMALL BY NATURE (eval suites, not
    * corpora), so the benchmark's posting list (bench_id, shingle) is
    * legitimately broadcastable at any training-corpus size — candidates
    * explode their shingles map-side, hash-join the broadcast postings,
    * and one groupBy((doc, bench)) counts intersections: no shuffle of
    * the corpus, no pair enumeration beyond actually-overlapping pairs.
    * Shingle arrays are distinct per doc, so the join-row count per
    * (doc, bench) IS the exact intersection size — containment is exact,
    * and the DuckDB oracle brute-forces the identical value.
    *
    * Honest caveat on the DEMO input: the stand-in benchmark here is a
    * `% 50` slice, which grows O(corpus) — at 100 TB a slice like that
    * would NOT be broadcastable, and a caller decontaminating against a
    * corpus-proportional set should drop the broadcast hint (the plan
    * degrades to a co-partitioned shuffle join on the shingle key, same
    * exactness). The hint encodes the real deployment shape: a bounded
    * eval-suite table. */
  val DecontaminationThreshold = 0.5

  /** `benchMaxId` bounds the stand-in benchmark slice to `doc_id <
    * benchMaxId` — the SCALE-HONEST shape (VERDICT r14 #3): a real eval
    * suite is FIXED while the training corpus grows, so the scale curve
    * holds the benchmark at the base corpus's slice (ScaleBench passes its
    * copy stride) while replication grows only the training side. `None`
    * (the registry q98) keeps the whole `% 50` slice — the demo input,
    * with the documented O(corpus) caveat. At the base corpus the two are
    * identical (every doc_id is below the stride). */
  def decontamination(s: SparkSession, dir: String,
      threshold: Double = DecontaminationThreshold,
      benchMaxId: Option[Long] = None): DataFrame = {
    val sh = shingled(s, dir)
    val isBench = benchMaxId.foldLeft(col("doc_id") % 50 === 0)(
      (p, mx) => p && col("doc_id") < mx)
    val bench = sh.filter(isBench)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("tok"))
    sh.filter(!isBench && size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("tok"))
      .join(broadcast(bench), "tok")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"), first(col("n")).as("n"))
      .withColumn("containment", col("inter").cast("double") / col("n"))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("bench_id"), col("containment"))
  }

  /** CONNECTED COMPONENTS over an undirected edge list by alternating
    * Large-Star / Small-Star rounds (public literature: Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014) — the
    * canonicalization step that turns a near-dup PAIR set into near-dup
    * CLUSTERS (transitive closure), so "keep one survivor per cluster"
    * is well-defined even when A~B and B~C but A~C was never emitted.
    *
    * Pure relational formulation (no neighbor lists are ever collected):
    *  - Large-Star: every node u looks at its symmetric neighborhood,
    *    computes m = min(N(u) ∪ {u}) with one groupBy-min, and rewires
    *    each STRICTLY LARGER neighbor v > u to m (a join + filter).
    *  - Small-Star: on the (lo < hi)-normalized edges, every hi computes
    *    m = min of its smaller endpoints and rewires them — and itself —
    *    to m.
    * Each round is two shuffles (groupBy-min + co-partitioned join);
    * the paper proves convergence to per-component stars rooted at the
    * minimum id in O(log n) rounds w.h.p. — at 10^12 documents that is
    * ~40 bounded-size rounds, never a diameter-length chain like naive
    * label propagation. Lineage is cut with localCheckpoint per round
    * (iterative plans otherwise grow Catalyst trees exponentially).
    *
    * Input: (u, v) long pairs, any order/duplication. Output: one row per
    * distinct endpoint, (node, component) with component = min node id
    * reachable — deterministic, so the driver oracle can recompute it
    * with a recursive transitive-closure CTE. */
  private[graft] def connectedComponents(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    ccCore(edges0) match {
      case Left(labels) => s.createDataFrame(labels.toSeq).toDF("node", "component")
      case Right(df) => df
    }
  }

  /** [[connectedComponents]] with the per-component size attached — the
    * q99 shape. On the bounded driver path the sizes come from the SAME
    * collected label array (one hash-map pass), so the result is a plain
    * LocalTableScan with ZERO extra jobs and ZERO exchanges; the former
    * shape re-shuffled the (tiny) labels through a count window per run.
    * The distributed path keeps the window — identical values either way
    * (a component's window count IS its label multiplicity). */
  private[graft] def connectedComponentsWithSizes(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    ccCore(edges0) match {
      case Left(labels) =>
        val sizes = labels.groupBy(_._2).map { case (c, ls) => c -> ls.length.toLong }
        s.createDataFrame(labels.toSeq.map { case (n, c) => (n, c, sizes(c)) })
          .toDF("node", "component", "cluster_size")
      case Right(df) =>
        df.withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("component"))))
    }
  }

  /** Shared core: Left(labels) when the deduplicated edge list fits the
    * bounded driver tail (node → min-reachable-component pairs, computed
    * by union-find), Right(df) when the Large-Star/Small-Star rounds ran
    * distributed. */
  private def ccCore(edges0: DataFrame): Either[Array[(Long, Long)], DataFrame] = {
    val s = edges0.sparkSession
    def normalize(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("lo"), greatest(col("u"), col("v")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(e.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val withM = e.join(mins, "hi")
      withM.select(col("m").as("u"), col("lo").as("v"))
        .unionAll(withM.select(col("m").as("u"), col("hi").as("v")))
    }
    // convergence signature: edge count + order-independent content hash
    // (one aggregate; an except() equality check would be two more joins
    // per round). XOR fold, not SUM: rows are distinct by construction so
    // xor-cancellation needs a 2^-64 collision, and xor cannot overflow
    // under ANSI mode the way a 64-bit sum of hashes would.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.select(xxhash64(col("lo"), col("hi")).as("h"))
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(h)"), lit(0L)).as("x")).head()
      (r.getLong(0), r.getLong(1))
    }
    // ONE action materializes the normalized edge list AND yields the
    // exact count that routes between the driver tail and the distributed
    // rounds: the Dataset is lazily locally checkpointed and the count()
    // materializes it. The former shape paid an eager-checkpoint job, then
    // a separate count/signature aggregate, then (driver path) a third
    // collect job — three reads where two suffice; the xor convergence
    // signature is now computed only on the distributed path, which is the
    // only consumer. Dataset-level checkpoint (ADVICE r21): the blocks
    // hold InternalRows, so the distributed rounds never round-trip edges
    // through external Rows; only the bounded driver tail deserializes.
    val normalized = Tables.shared(
      normalize(edges0.select(col("u"), col("v"))), eager = false)
    val edgeCount = normalized.count()
    // ADAPTIVE TAIL: a verified near-dup pair set is usually minuscule
    // next to its corpus; below the (bounded, configurable) threshold the
    // distributed rounds' per-round fixed cost — eager checkpoint job +
    // convergence aggregate, ~4–6 rounds — dwarfs the work, so finish
    // with one driver union-find over the already-deduplicated edge list
    // (same bounded-driver pattern as the PQ codebook / prefix dict; at
    // ≤ 2^19 edges that is ≤ 8 MB). Larger pair sets take the
    // Large-Star/Small-Star rounds, which never collect anything.
    val driverMax = s.conf.getOption("spark.graft.dedup.ccDriverMaxEdges")
      .map(_.toLong).getOrElse(1L << 19)
    if (edgeCount <= driverMax) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val collected = normalized.collect() // cheap: reads the checkpoint blocks
      collected.foreach { row =>
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        parent.getOrElseUpdate(math.min(a, b), math.min(a, b))
      }
      // SNAPSHOT the keys before labeling: `parent.keys` is a live view,
      // and find()'s path compression mutates the map — mapping over the
      // view while mutating silently SKIPPED entries (caught by the full
      // sf0.01 oracle run: 47 keys → 28 labels)
      val keys = parent.keysIterator.toArray
      val labels = keys.map(n => (n, find(n)))
      val nodes = collected.iterator
        .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSet
      require(labels.length == nodes.size,
        s"union-find lost nodes: ${labels.length} labels for ${nodes.size} endpoints")
      Left(labels)
    } else {
      var edges = normalized
      var sig = signature(edges)
      var converged = false
      var round = 0
      val maxRounds = 50 // O(log n) proven; 50 covers n ~ 10^15
      while (!converged && round < maxRounds) {
        val next = Tables.shared(
          normalize(smallStar(normalize(largeStar(edges)))), eager = true)
        val nextSig = signature(next)
        converged = ccAccept(next, edges, sigEqual = nextSig == sig)
        edges = next; sig = nextSig
        round += 1
      }
      require(converged, s"connectedComponents did not converge in $maxRounds rounds")
      // converged state: per-component stars (min, v) — plus the roots
      Right(edges.select(col("hi").as("node"), col("lo").as("component"))
        .unionAll(edges.select(col("lo").as("node"), col("lo").as("component")))
        .distinct())
    }
  }

  /** The CC rounds' convergence acceptance (split out so the collision
    * guard is directly testable — DedupOpsSpec doctors a colliding
    * signature): signature equality is probabilistic (64-bit XOR fold),
    * so before ACCEPTING convergence one exact set check confirms it.
    * Both sides are distinct rows with (per the signature) equal counts,
    * so one-direction exceptAll-emptiness proves set equality. Runs once
    * per call (only when the signatures already match), never per round
    * (ADVICE r11). */
  private[graft] def ccAccept(next: DataFrame, prev: DataFrame,
      sigEqual: Boolean): Boolean =
    sigEqual && next.exceptAll(prev).isEmpty

  /** q99 — near-dup CLUSTERS: the q38 verified pair set closed under
    * transitivity via [[connectedComponents]], labeled by the minimum
    * doc_id (the dedup survivor a keep-first policy retains) with the
    * cluster size alongside. Only documents that appear in some near-dup
    * pair are emitted — singletons are the corpus complement and would
    * dominate the output without adding information. */
  val neardupComponents: (SparkSession, String) => DataFrame = (s, dir) => {
    val pairs = minhashNeardupPairs(s, dir)
      .select(col("doc_i").as("u"), col("doc_j").as("v"))
    connectedComponentsWithSizes(pairs).select(
      col("node").as("doc_id"), col("component").as("component_id"),
      col("cluster_size"))
  }

  /** q108 — INCREMENTAL EXACT DEDUP, the streaming-shaped sibling of q37:
    * the corpus arrives in ORDERED micro-batches and each batch is
    * anti-joined against the accumulated survivor keys — first seen
    * wins, exactly how a production ingest dedups against served state
    * (per micro-batch: in-batch min per key, then `left_anti` on the
    * state table, then append). Because the batch ranges are ordered by
    * doc_id, "first seen" provably equals the global min per key, so the
    * incremental end state is oracle-checkable against the one-shot
    * batch recomputation — equality of the two IS the property under
    * test. The streaming twin (a real MemoryStream + foreachBatch query
    * applying the same per-batch step) is parity-tested in
    * DedupOpsSpec. State grows O(distinct keys); each round is one
    * aggregate + one co-partitioned anti-join; localCheckpoint truncates
    * the per-round lineage. (The driver-side max(doc_id) scalar would
    * come from table statistics at scale.) */
  val DedupBatches = 4

  def incrementalDedup(s: SparkSession, dir: String,
      nBatches: Int = DedupBatches): DataFrame = {
    // materialize the keyed corpus ONCE: the max aggregate and every
    // batch filter would otherwise each re-read the parquet and re-run
    // the md5 token-set keying (the connectedComponents checkpoint
    // pattern; review finding r11)
    // lazy checkpoint: the max aggregate below is a full pass, so it
    // materializes the keyed corpus as a side effect — one job, not two
    val keyed = Tables.shared(docs(s, dir).select(
      col("doc_id"), TextSig.tokenSetKey(col("text")).as("group_key")),
      eager = false)
    val maxRow = keyed.agg(max(col("doc_id"))).head()
    // max over zero rows is NULL — an empty corpus has nothing to dedup,
    // so return the (schema-correct) empty state instead of an opaque
    // NullPointerException from getLong (ADVICE r11)
    if (maxRow.isNullAt(0)) return emptySurvivors(s)
    val maxId = maxRow.getLong(0)
    val span = maxId / nBatches + 1 // batch b covers [b*span, (b+1)*span)
    incrementalDedupOn(
      (0 until nBatches).map(b => keyed.filter(expr(s"doc_id div $span") === b)))
  }

  /** q116 — the LAKE-PERSISTENT incremental dedup route, end to end:
    * the same ordered batches as q108, but every anti-join round reads
    * its served state from (and appends its fresh survivors to) a real
    * `graftlake` table via [[lakeDedupStep]], and the RESULT is the
    * table's scan. Registering it makes the durable route itself
    * driver-oracle-checked — same oracle as q108 because both routes
    * fold to first-seen-wins min-per-key; only the state backend
    * differs. The table lives under a per-run temp dir (the operator is
    * a query, not a sink; the restart-resume behavior of the SAME step
    * is EventStreamsSpec's concern). */
  def incrementalDedupLake(s: SparkSession, dir: String,
      nBatches: Int = DedupBatches): DataFrame = {
    val keyed = Tables.shared(docs(s, dir).select(
      col("doc_id"), TextSig.tokenSetKey(col("text")).as("group_key")),
      eager = false) // the max below materializes it
    val maxRow = keyed.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0)) return emptySurvivors(s)
    val span = maxRow.getLong(0) / nBatches + 1
    // fresh state dir per invocation (a reused one would turn the next
    // run's appends into no-op replays); swept at JVM exit — see TempDirs
    val wh = graft.TempDirs.scoped("graft-q116-state").toString
    val t = survivorTable(s, s"$wh/survivors")
    withSpjState(s, wh) { state =>
      (0 until nBatches).foreach { b =>
        lakeDedupStep(t, keyed.filter(expr(s"doc_id div $span") === b), b.toLong,
          state = Some(state()))
      }
    }
    t.scan()
  }

  /** Zero-state-shuffle step plumbing (VERDICT r17 #2): registers a fresh
    * DSv2 catalog over `warehouse`, reads the `survivors` table through
    * it (the catalog read reports `KeyGroupedPartitioning(bucket(N,
    * group_key))` and resolves the bucket V2 function, which the
    * path-based read cannot), and runs `body` under the storage-
    * partitioned-join confs: the anti-join then shuffles ONLY the batch
    * side onto the state's bucket function while the survivor side scans
    * exchange-free — per step the network moves O(batch), not O(state).
    * Broadcast is disabled for the scope: a broadcast anti-join would be
    * "no shuffle" at test scale but ships the WHOLE state to every task —
    * the exact linear-in-state law this plumbing removes. Confs are
    * save-and-restored; the catalog name is unique per invocation so a
    * session's own `graft` catalog is never re-pointed. */
  private val spjCatalogIds = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def withSpjState[A](s: SparkSession, warehouse: String)(
      body: (() => DataFrame) => A): A = {
    val cat = s"graft_q116_${spjCatalogIds.incrementAndGet()}"
    val catKeys = Seq(s"spark.sql.catalog.$cat", s"spark.sql.catalog.$cat.warehouse")
    s.conf.set(catKeys.head, classOf[graft.sources.GraftCatalog].getName)
    s.conf.set(catKeys.last, warehouse)
    val scoped = Map(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // the DYNAMIC warehouse key overrides every graft catalog's static
      // option at each operation (GraftCatalog contract) — a session that
      // ran SQL-catalog queries earlier leaves it pointing at THEIR
      // warehouse, which would hijack this catalog's resolution; pin it
      // to ours for the scope (restored with the rest)
      "spark.graft.catalog.warehouse" -> warehouse)
    // a THUNK, not a DataFrame: the resolved V2 table pins its snapshot
    // at construction, so each step must re-resolve to see the previous
    // step's append
    try LakePipelines.withConfs(s, scoped.toSeq)(body(() => s.table(s"$cat.survivors")))
    finally {
      // the per-invocation catalog registration must not outlive the scope:
      // a bench pass calls this hundreds of times and leaked conf pairs
      // (plus their CatalogManager-cached instances, which unsetting makes
      // unresolvable) would accumulate for the JVM lifetime (review
      // finding r18)
      catKeys.foreach(s.conf.unset)
    }
  }

  /** Empty survivor-state table (doc_id, group_key, first_seen_batch). */
  private[graft] def emptySurvivors(s: SparkSession): DataFrame =
    s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], SurvivorSchema)

  /** The survivors a batch adds to the served state — the semantic core
    * every incremental-dedup route shares (in-memory fold, MemoryStream
    * twin, lake-persistent pipeline), so the routes cannot drift:
    * in-batch min per key, NULL-SAFE anti-join on served state.
    * Idempotent by construction: re-presenting an already-applied batch
    * (at-least-once replay after a crash) finds every key already served
    * and contributes nothing. */
  private[graft] def freshSurvivors(survivors: DataFrame, batch: DataFrame,
      b: Long, nullSafeKeys: Boolean = true): DataFrame = {
    val batchMin = batch.groupBy(col("group_key"))
      .agg(min(col("doc_id")).as("doc_id"))
    // NULL-SAFE anti-join (the default): groupBy above treats a null key
    // as one group, and the state probe must agree — a plain equality
    // anti-join never matches NULL, so a null-keyed group would be
    // re-appended on every batch instead of deduped once (latent on
    // current fixtures, which have no null text; review finding r11).
    //
    // nullSafeKeys=false is the STORAGE-PARTITIONED path ([[withSpjState]]):
    // Spark lowers `<=>` join keys to coalesce(k,'')/isnull(k) pairs,
    // which can never match the state scan's KeyGroupedPartitioning
    // expressions — the exchange-free survivor side requires bare-
    // attribute keys. Sound ONLY because the q116 key is
    // [[TextSig.tokenSetKey]] = md5(concat_ws(...)), which is non-null
    // for every input including null text (concat_ws never returns
    // null), so the two forms are row-for-row identical there.
    val joined =
      if (nullSafeKeys)
        batchMin.join(survivors.select(col("group_key").as("seen_key")),
          col("group_key") <=> col("seen_key"), "left_anti")
      else {
        val served = survivors.select("group_key")
        batchMin.join(served, batchMin("group_key") === served("group_key"), "left_anti")
      }
    joined.select(col("doc_id"), col("group_key"), lit(b).as("first_seen_batch"))
  }

  /** One anti-join-and-append round — the exact step the streaming
    * foreachBatch twin runs (shared so the spec's MemoryStream query and
    * q108 cannot drift): [[freshSurvivors]], then append the fresh keys
    * and checkpoint to truncate lineage. */
  private[graft] def dedupStep(survivors: DataFrame, batch: DataFrame,
      b: Long): DataFrame =
    Tables.shared(
      survivors.unionByName(freshSurvivors(survivors, batch, b)), eager = true)

  /** Survivor-state schema of the lake-persistent route ([[lakeDedupStep]]). */
  private[graft] val SurvivorSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("group_key",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("first_seen_batch",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** LAKE-PERSISTENT incremental dedup state (VERDICT r11 #5): the
    * in-memory fold keeps survivors in `localCheckpoint` blocks, which
    * die with the executors — a restarted pipeline would re-admit every
    * duplicate. This route serves the state from a `graftlake` table
    * instead: each micro-batch reads the table, anti-joins via the SAME
    * [[freshSurvivors]] step, and appends only the fresh keys as one
    * snapshot commit, so the pipeline resumes across sessions from
    * table + streaming checkpoint alone.
    *
    * Crash contract, both orders: the streaming checkpoint advances only
    * after foreachBatch returns, so a crash before the append replays the
    * batch against unchanged state (same result); a crash after the
    * append but before the checkpoint commit replays an already-applied
    * batch, and [[freshSurvivors]]' anti-join makes that replay a no-op
    * append. At scale the anti-join is one co-partitioned shuffle of
    * O(batch + state-keys); the append is O(fresh rows) — no state
    * rewrite, ever.
    *
    * Long-running deployments pair this with PERIODIC state compaction
    * (`Maintenance.compact` as a maintenance job, NOT inline — an
    * in-step compact would reintroduce the O(state) write per batch
    * this step exists to avoid): each batch appends up to one file per
    * touched bucket, and files-per-bucket is what the storage-
    * partitioned anti-join's batch-side shuffle scales with (the
    * one-side shuffle splits the batch across the state's partition
    * groups). Compaction folds each bucket back to ~1 file, restoring
    * the constant batch-side exchange; content is unchanged so replays
    * and the anti-join are unaffected. */
  def lakeDedupStep(table: graft.lake.LakeTable, batch: DataFrame, b: Long,
      state: Option[DataFrame] = None): Unit = {
    // materialize ONCE: the isEmpty probe would otherwise run the full
    // state-scan + anti-join plan and the append would re-run it
    // (review finding r12) — localCheckpoint executes it a single time
    // and both consumers read the blocks.
    // `state` overrides the served-state read: [[withSpjState]] passes
    // the DSv2 catalog read whose KeyGroupedPartitioning keeps the
    // survivor side of the anti-join exchange-free; the default
    // imperative scan stays for callers without the catalog plumbing
    // (identical rows, linear-in-state shuffle).
    val fresh = Tables.shared(freshSurvivors(state.getOrElse(table.scan()), batch, b,
      nullSafeKeys = state.isEmpty), eager = true)
    if (!fresh.isEmpty) { table.append(fresh); () }
  }

  /** Create-or-open the survivor-state table for [[lakeDedupStep]]
    * (probe via LakeTable.load so any Hadoop filesystem works, not just
    * file://). */
  /** Bucket count of the survivor state table. The state is stored
    * bucketed on the dedup key so the per-batch anti-join never shuffles
    * it (see [[withSpjState]]); at a given corpus size pick N so one
    * bucket's keys fit a task's memory — 16 covers the fixture scales,
    * a 100 TB deployment would create the state with a few thousand. */
  val SurvivorBuckets = 16

  def survivorTable(s: SparkSession, location: String): graft.lake.LakeTable =
    try graft.lake.LakeTable.load(s, location)
    catch { case _: IllegalArgumentException =>
      graft.lake.LakeTable.create(s, location, "survivors", SurvivorSchema,
        partitionSpec = Seq(graft.lake.PartitionField(
          "group_key", graft.lake.Transform.Bucket(SurvivorBuckets), "kb")))
    }

  private[graft] def incrementalDedupOn(batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "at least one batch")
    batches.zipWithIndex.foldLeft(emptySurvivors(batches.head.sparkSession)) {
      case (state, (batch, b)) => dedupStep(state, batch, b.toLong)
    }
  }

  /** The bigram-shingle CTE shared by the pair oracles. */
  private val shingleCte =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') tok FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    list_distinct([tok[i] || '_' || tok[i+1] FOR i IN range(1, len(tok))]) sh
      |  FROM t
      |)""".stripMargin

  private val tokenSetKeySql =
    "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"

  val all: Seq[NamedQuery] = Seq(
    NamedQuery("q35_dedup_stats", dedupStats, bench = true, oracle = Some(
      s"""SELECT source, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT md5(text)) AS distinct_texts,
         |  COUNT(DISTINCT $tokenSetKeySql) AS distinct_token_sets
         |FROM documents GROUP BY source ORDER BY ALL NULLS FIRST""".stripMargin)),
    NamedQuery("q36_neardup_groups", neardupGroups, oracle = Some(
      s"""SELECT $tokenSetKeySql AS group_key, COUNT(*) AS n_docs,
         |  MIN(doc_id) AS canonical_doc
         |FROM documents GROUP BY 1 HAVING COUNT(*) > 1
         |ORDER BY ALL NULLS FIRST""".stripMargin)),
    NamedQuery("q37_dedup_survivors", dedupSurvivors, oracle = Some(
      s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS group_size
         |FROM documents GROUP BY $tokenSetKeySql
         |ORDER BY ALL NULLS FIRST""".stripMargin)),
    // Completeness bound of this oracle comparison: the Spark side verifies
    // LSH CANDIDATES with exact Jaccard while the oracle computes exact
    // all-pairs, so a true >=0.9 pair that escapes every band would show as
    // a mismatch. With bands=8 × rows=4 the escape probability of a 0.9-
    // similar pair is (1 - 0.9^4)^8 ≈ 2e-4 (lower for higher sims); across
    // the fixture's ~25 planted pairs that is a <1% chance PER NEW CORPUS,
    // zero for the fixed driver fixtures (verified green at sf0.01/sf0.1).
    // Recall is additionally spec-tested on planted duplicates
    // (DedupOpsSpec), per the standard LSH precision/recall split.
    NamedQuery("q38_minhash_neardup_pairs", minhashNeardupPairs, bench = true, oracle = Some(
      shingleCte +
        """
          |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
          |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
          |FROM s a JOIN s b ON a.doc_id < b.doc_id
          |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.9
          |ORDER BY ALL NULLS FIRST""".stripMargin)),
    // No completeness caveat here (contrast q38): prefix filtering is an
    // EXACT algorithm — the oracle's brute-force all-pairs result is
    // reproduced by construction on any corpus.
    NamedQuery("q68_jaccard_similarity_join", jaccardSimilarityJoin, bench = true, oracle = Some(
      shingleCte +
        """
          |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
          |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
          |FROM s a JOIN s b ON a.doc_id < b.doc_id
          |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
          |ORDER BY ALL NULLS FIRST""".stripMargin)),
    // Full brute-force oracle (r11, formerly rows-only): the md5-low64
    // hash basis is engine-portable, so DuckDB recomputes every simhash
    // and all-pairs hamming from scratch. The packing order of the 64
    // majority lanes differs from Spark's (identity vs fold-reversed) —
    // irrelevant for hamming, which only counts differing lanes under any
    // fixed bijection. Spark's banded sub-quadratic candidate generation
    // equals this all-pairs shape by the pigeonhole completeness argument
    // (spec-proven for <= 3).
    NamedQuery("q72_simhash_neardup_pairs", (s, dir) => simhashNeardupPairs(s, dir),
      bench = true, oracle = Some(
        """WITH th AS (
          |  SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 16))::UBIGINT AS h
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
          |), lanes AS (
          |  SELECT doc_id, b.b AS b,
          |    CASE WHEN 2 * SUM(((h >> b.b) & 1)::BIGINT) >= COUNT(*)
          |         THEN 1::UBIGINT << b.b ELSE 0::UBIGINT END AS bit
          |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) b
          |  GROUP BY doc_id, b.b
          |), sh AS (
          |  SELECT doc_id, SUM(bit)::UBIGINT AS sim FROM lanes GROUP BY doc_id
          |)
          |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
          |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
          |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.sim, b.sim)) <= 3
          |ORDER BY ALL NULLS FIRST""".stripMargin)),
    // asymmetric containment vs the benchmark slice, brute-forced exactly
    // by the oracle (the all-pairs CROSS JOIN is fine at oracle scale;
    // the Spark side is the broadcast-postings inverted-index join)
    NamedQuery("q98_decontamination", (s, dir) => decontamination(s, dir), oracle = Some(
      shingleCte +
        """
          |, bench AS (SELECT doc_id AS bench_id, sh AS bsh FROM s WHERE doc_id % 50 = 0),
          |cand AS (SELECT doc_id, sh FROM s WHERE doc_id % 50 <> 0 AND len(sh) > 0)
          |SELECT c.doc_id, b.bench_id,
          |  CAST(len(list_intersect(c.sh, b.bsh)) AS DOUBLE) / len(c.sh) AS containment
          |FROM cand c CROSS JOIN bench b
          |WHERE CAST(len(list_intersect(c.sh, b.bsh)) AS DOUBLE) / len(c.sh) >= 0.5
          |ORDER BY ALL NULLS FIRST""".stripMargin)),
    // Transitive closure of the q38 pair set: the oracle brute-forces the
    // same pairs all-pairs, then closes them with a recursive
    // reachability CTE and labels each node with its minimum reachable id
    // — exactly what the Large-Star/Small-Star rounds converge to. The
    // q38 completeness caveat (banding escape probability ~2e-4 per
    // 0.9-similar pair) is inherited, nothing more: the closure itself is
    // deterministic on any agreed pair set.
    NamedQuery("q99_neardup_components", neardupComponents, bench = true, oracle = Some(
      shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """
          |, pairs AS MATERIALIZED (
          |  SELECT a.doc_id AS di, b.doc_id AS dj
          |  FROM s a JOIN s b ON a.doc_id < b.doc_id
          |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.9
          |), edges AS MATERIALIZED (
          |  SELECT di AS u, dj AS v FROM pairs UNION SELECT dj, di FROM pairs
          |), reach AS (
          |  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
          |  UNION
          |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
          |), comp AS (
          |  SELECT u AS doc_id, MIN(v) AS component_id FROM reach GROUP BY u
          |)
          |SELECT doc_id, component_id,
          |  COUNT(*) OVER (PARTITION BY component_id) AS cluster_size
          |FROM comp ORDER BY ALL NULLS FIRST""".stripMargin)),
    // The oracle is the ONE-SHOT batch recomputation (global min per
    // key); the incremental ordered-batch path must converge to it
    // exactly — that equality is the property the hash check proves.
    NamedQuery("q108_incremental_dedup", (s, dir) => incrementalDedup(s, dir),
      oracle = Some(
        s"""WITH k AS (
          |  SELECT doc_id, md5(array_to_string(
          |    list_sort(list_distinct(string_split(text, ' '))), ' ')) AS group_key
          |  FROM documents
          |), mx AS (SELECT MAX(doc_id) // $DedupBatches + 1 AS span FROM k),
          |s AS (SELECT group_key, MIN(doc_id) AS doc_id FROM k GROUP BY group_key)
          |SELECT s.doc_id, s.group_key, s.doc_id // mx.span AS first_seen_batch
          |FROM s, mx ORDER BY ALL NULLS FIRST""".stripMargin)),
    NamedQuery("q116_incremental_dedup_lake", (s, dir) => incrementalDedupLake(s, dir),
      oracle = Some(
        s"""WITH k AS (
          |  SELECT doc_id, md5(array_to_string(
          |    list_sort(list_distinct(string_split(text, ' '))), ' ')) AS group_key
          |  FROM documents
          |), mx AS (SELECT MAX(doc_id) // $DedupBatches + 1 AS span FROM k),
          |s AS (SELECT group_key, MIN(doc_id) AS doc_id FROM k GROUP BY group_key)
          |SELECT s.doc_id, s.group_key, s.doc_id // mx.span AS first_seen_batch
          |FROM s, mx ORDER BY ALL NULLS FIRST""".stripMargin)),
  )
}
