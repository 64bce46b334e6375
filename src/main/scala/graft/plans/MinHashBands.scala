package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression computing MinHash LSH band digests in one
  * compiled pass over the shingle array — the hot inner loop of the
  * near-duplicate pipeline ([[graft.operators.DedupOps]]).
  *
  * Why a custom Expression (the (b) tier of the custom-operator ladder —
  * built-ins CAN express this, see [[graft.functions.TextSig.minhashBands]]):
  * higher-order array functions evaluate their lambda bodies through the
  * interpreted expression walker per element × per hash, which dominates
  * the near-dup query's runtime. This expression produces BIT-IDENTICAL
  * output to the HOF composition (same xxhash64 chaining — seed 42, int
  * prefix, then bytes/longs — via the same public XXH64 kernel;
  * equality is spec-asserted corpus-wide in DedupOpsSpec) while running
  * as one tight JVM loop, and participates in whole-stage codegen via a
  * static-call `doGenCode`.
  *
  * Registered as the SQL function `graft_minhash_bands(shingles, bands,
  * rows)` through [[GraftExtensions]] (SparkSessionExtensions).
  */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.MinHashBands$$.MODULE$$.compute($c, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {

  /** Seed used by Spark's xxhash64 SQL function. */
  private val Seed = 42L

  /** One pass: per shingle, hash the BYTES ONCE (`HS = hashBytes(s, 42)` =
    * `xxhash64(s)`), then derive hash function k as the constant-time
    * long-mix `hashLong(HS, hashInt(k, 42))` — the value chain of
    * `xxhash64(k, xxhash64(s))`, which [[graft.functions.TextSig.minhash]]
    * composes from built-ins (bit-equality spec-asserted corpus-wide).
    * The r5 shape re-hashed the full shingle bytes once PER HASH FUNCTION
    * (32× the byte traffic); hashing bytes once and mixing a long per k
    * cuts the signature stage to O(bytes + numHashes) per shingle. Band
    * minima then fold with hashInt(b, 42) → hashLong*, exactly
    * `xxhash64(b, slice(sig, ...))`. */
  def compute(shingles: ArrayData, bands: Int, rows: Int): ArrayData = {
    val numHashes = bands * rows
    val seedK = seedsFor(numHashes)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      val hs = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashLong(hs, seedK(k))
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, Seed)
      var r = 0
      while (r < rows) { h = XXH64.hashLong(mins(b * rows + r), h); r += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** hashInt(k, 42) per hash function, cached — identical for every row. */
  private val seedCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private def seedsFor(numHashes: Int): Array[Long] =
    seedCache.computeIfAbsent(numHashes, n => Array.tabulate(n)(k => XXH64.hashInt(k, Seed)))
}

/** Session extension registering the native functions (enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or the
  * equivalent `--conf`). Operators fall back to the pure-functions._ forms
  * when the extension is absent. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.minhashBandsDescriptor)
    ext.injectFunction(GraftExtensions.dotDescriptor)
    ext.injectFunction(GraftExtensions.l2sqDescriptor)
    ext.injectFunction(GraftExtensions.prefixPairsDescriptor)
    ext.injectFunction(GraftExtensions.shinglesDescriptor)
    ext.injectFunction(GraftExtensions.rankOrderDescriptor)
    ext.injectFunction(GraftExtensions.interCountDescriptor)
    ext.injectFunction(GraftExtensions.srpSumsDescriptor)
    ext.injectFunction(GraftExtensions.pqArgminsDescriptor)
    ext.injectFunction(GraftExtensions.simhashDescriptor)
    ext.injectFunction(GraftExtensions.maxRunDescriptor)
    ext.injectFunction(GraftExtensions.spanHashesDescriptor)
    // the merge-on-read anti-join for every DSv2/SQL lake read with live deletes
    ext.injectOptimizerRule(new LakeMorRewrite(_))
    // metadata-answered GROUP BY over partition transforms (month/day/...)
    ext.injectOptimizerRule(new LakeMetaAggregate(_))
  }
}

object GraftExtensions {
  /** Shared per-thread MD5 instance for the md5-basis kernels
    * (MessageDigest is not thread-safe; one instance per executor
    * thread, reset per use — no steady-state allocation). */
  private[plans] val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  val MinHashBandsName = "graft_minhash_bands"
  val DotName = "graft_dot"
  val L2SqName = "graft_l2sq"
  val PrefixPairsName = "graft_prefix_pairs"
  val ShinglesName = "graft_shingles"
  val RankOrderName = "graft_rank_order"
  val InterCountName = "graft_inter_count"
  val SrpSumsName = "graft_srp_sums"
  val PqArgminsName = "graft_pq_argmins"
  val SimHashName = "graft_simhash"
  val MaxRunName = "graft_max_run"
  val SpanHashesName = "graft_span_hashes"

  /** Pick the registered native kernel when the ACTIVE session has the
    * extensions; the pure-functions fallback otherwise (bit-identical by
    * construction and spec). One gate for every kernel dispatch — note
    * `getActiveSession` is thread-local: a Column built on a thread
    * without an active session takes the (correct, slower) fallback. */
  def nativeCall(name: String, args: Column*)(fallback: => Column): Column =
    SparkSession.getActiveSession
      .filter(_.catalog.functionExists(name))
      .map(_ => org.apache.spark.sql.functions.call_function(name, args: _*))
      .getOrElse(fallback)

  private[plans] val spanHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(SpanHashesName),
    new ExpressionInfo(classOf[SpanHashes].getName, SpanHashesName),
    (args: Seq[Expression]) => {
      require(args.size == 2, s"$SpanHashesName(tokens, w)")
      SpanHashes(args.head, args(1))
    },
  )

  private[plans] val maxRunDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(MaxRunName),
    new ExpressionInfo(classOf[MaxRun].getName, MaxRunName),
    (args: Seq[Expression]) => {
      require(args.size == 1, s"$MaxRunName(arr)")
      MaxRun(args.head)
    },
  )

  private[plans] val simhashDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(SimHashName),
    new ExpressionInfo(classOf[SimHash64].getName, SimHashName),
    (args: Seq[Expression]) => {
      require(args.size == 1, s"$SimHashName(tokens)")
      SimHash64(args.head)
    },
  )

  private[plans] val srpSumsDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(SrpSumsName),
    new ExpressionInfo(classOf[SrpSums].getName, SrpSumsName),
    (args: Seq[Expression]) => {
      require(args.size == 2, s"$SrpSumsName(v, n)")
      val n = args(1) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"n must be an int literal, got $other")
      }
      SrpSums(args.head, n)
    },
  )

  private[plans] val pqArgminsDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(PqArgminsName),
    new ExpressionInfo(classOf[PqArgmins].getName, PqArgminsName),
    (args: Seq[Expression]) => {
      require(args.size == 4, s"$PqArgminsName(v, flatCodebook, lens, dsub)")
      val flat = args(1) match {
        case Literal(a: ArrayData, ArrayType(org.apache.spark.sql.types.FloatType, _)) =>
          a.toFloatArray().toIndexedSeq
        case other => sys.error(s"flatCodebook must be an array<float> literal, got $other")
      }
      val lens = args(2) match {
        case Literal(a: ArrayData, ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
          a.toIntArray().toIndexedSeq
        case other => sys.error(s"lens must be an array<int> literal, got $other")
      }
      val dsub = args(3) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"dsub must be an int literal, got $other")
      }
      PqArgmins(args.head, flat, lens, dsub)
    },
  )

  private[plans] val shinglesDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(ShinglesName),
    new ExpressionInfo(classOf[Shingles].getName, ShinglesName),
    (args: Seq[Expression]) => {
      require(args.size == 1, s"$ShinglesName(text)")
      Shingles(args.head)
    },
  )

  private[plans] val prefixPairsDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(PrefixPairsName),
    new ExpressionInfo(classOf[PrefixPairs].getName, PrefixPairsName),
    (args: Seq[Expression]) => {
      require(args.size == 3, s"$PrefixPairsName(members, tNum, tDen)")
      val tNum = args(1) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"tNum must be an int literal, got $other")
      }
      val tDen = args(2) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"tDen must be an int literal, got $other")
      }
      PrefixPairs(args.head, tNum, tDen)
    },
  )

  private[plans] val interCountDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(InterCountName),
    new ExpressionInfo(classOf[InterCount].getName, InterCountName),
    (args: Seq[Expression]) => {
      require(args.size == 4, s"$InterCountName(a, b, tNum, tDen)")
      val tNum = args(2) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"tNum must be an int literal, got $other")
      }
      val tDen = args(3) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"tDen must be an int literal, got $other")
      }
      InterCount(args(0), args(1), tNum, tDen)
    },
  )

  private[plans] val rankOrderDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(RankOrderName),
    new ExpressionInfo(classOf[RankOrder].getName, RankOrderName),
    (args: Seq[Expression]) => {
      require(args.size == 2, s"$RankOrderName(toks, dictMap)")
      // the dictionary must be a foldable map literal; it is extracted
      // here (not kept as a child) so plans print its SIZE, not N entries
      val dict: Map[String, Long] = args(1) match {
        case l: Literal if l.value == null => Map.empty
        case l @ Literal(md: org.apache.spark.sql.catalyst.util.MapData,
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType, _)) =>
          val ks = md.keyArray(); val vs = md.valueArray()
          (0 until md.numElements())
            .map(i => ks.getUTF8String(i).toString -> vs.getLong(i)).toMap
        case other => sys.error(
          s"$RankOrderName dict must be a map<string,bigint> literal, got $other")
      }
      RankOrder(args.head, dict)
    },
  )

  private[plans] val dotDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(DotName),
    new ExpressionInfo(classOf[ArrayDot].getName, DotName),
    (args: Seq[Expression]) => {
      require(args.size == 2, s"$DotName(a, b)")
      ArrayDot(args(0), args(1))
    },
  )

  private[plans] val l2sqDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(L2SqName),
    new ExpressionInfo(classOf[ArrayL2Sq].getName, L2SqName),
    (args: Seq[Expression]) => {
      require(args.size == 2, s"$L2SqName(a, b)")
      ArrayL2Sq(args(0), args(1))
    },
  )

  private[plans] val minhashBandsDescriptor
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier(MinHashBandsName),
    new ExpressionInfo(classOf[MinHashBands].getName, MinHashBandsName),
    (args: Seq[Expression]) => {
      require(args.size == 3, s"$MinHashBandsName(shingles, bands, rows)")
      val bands = args(1) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"bands must be an int literal, got $other")
      }
      val rows = args(2) match {
        case Literal(v: Int, _) => v
        case other => sys.error(s"rows must be an int literal, got $other")
      }
      MinHashBands(args.head, bands, rows)
    },
  )
}
