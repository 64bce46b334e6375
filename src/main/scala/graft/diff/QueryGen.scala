package graft.diff

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.util.Random

/** Randomized differential-testing query generator (VERDICT r11 #2).
  *
  * The 104 oracle-checked registry queries are FIXED plans; this turns
  * correctness into a FAMILY: a seeded generator composes the SURVEY §2
  * grammar — filters (P1–P8) × joins (J1–J3) × aggregates (A1–A11) ×
  * sorts/limits (O1–O5) × unions (U1–U2) — over the TPC-H-ish fixtures,
  * emitting for every seed BOTH
  *   - a DataFrame plan built with the DataFrame API (select / filter /
  *     join / groupBy / agg / orderBy / limit / union), and
  *   - the equivalent ANSI SQL, built in lockstep from the same random
  *     draws, runnable by Spark SQL *and* DuckDB.
  * The two are independent routes through different frontends (DataFrame
  * DSL vs SQL parser), so comparing them catches composition bugs; the
  * same SQL doubles as a DuckDB oracle for the cross-ENGINE check
  * ([[graft.DiffVerify]] dumps the exact `Verify` contract, so
  * `tools/check_oracle.py` replays every generated instance against
  * DuckDB unchanged).
  *
  * Determinism: every draw comes from `new Random(seed)` — the same seed
  * yields byte-identical SQL and an equivalent plan on every JVM, so
  * generated instances can be pinned in the registry as stable named
  * queries. Cross-engine parity follows the [[graft.NamedQuery]] rules:
  * sums go through DECIMAL(18,2) and cast to DOUBLE once at the end;
  * money thresholds render as Locale.ROOT 3-decimal literals carrying a
  * .005 offset so no cent-exact fixture value sits on a comparison
  * boundary; ORDER BY is
  * always over ALL output columns with explicit ASC NULLS FIRST (so a
  * LIMIT cuts a deterministic multiset even under ties); every computed
  * column carries the same alias on both sides.
  */
object QueryGen {

  /** One generated instance: `sql` runs on Spark SQL and DuckDB; `build`
    * composes the equivalent DataFrame plan over `Tables.load`. `notes`
    * records the LIFECYCLE draws the SQL cannot show (lake arms: read
    * route, cut, expiry, maintenance) — SeedScout prints it, and the
    * DiffOps pin comments cite it, so pin selection is reproducible. */
  final case class Gen(name: String, sql: String,
      build: (SparkSession, String) => DataFrame, notes: String = "")

  // ------------------------------------------------------------ metadata

  /** (column, SQL fragment pool | numeric range) catalogs per fixture
    * table. Value pools mirror the driver-generated fixtures (seed=42,
    * TESTDATA.md); thresholds drawn inside the observed ranges keep
    * selectivity non-degenerate at every sf. */
  private case class Tbl(
      name: String,
      longKeys: Seq[(String, Long)],
      intCols: Seq[(String, Int, Int)],
      moneyCols: Seq[(String, Double, Double)],
      strCols: Map[String, Seq[String]],
      tsCols: Seq[String],
      groupable: Seq[String],
      likeCols: Seq[(String, Seq[String])]) {
    def allCols: Seq[String] =
      longKeys.map(_._1) ++ intCols.map(_._1) ++ moneyCols.map(_._1) ++
        strCols.keys.toSeq.sorted ++ tsCols
  }

  private val orders = Tbl("orders",
    longKeys = Seq(("o_orderkey", 1400L), ("o_custkey", 140L)),
    intCols = Nil,
    moneyCols = Seq(("o_totalprice", 2000.0, 480000.0)),
    strCols = Map(
      "o_orderstatus" -> Seq("O", "F", "P"),
      "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
    tsCols = Seq("o_orderdate"),
    groupable = Seq("o_orderstatus", "o_orderpriority"),
    likeCols = Nil)

  private val lineitem = Tbl("lineitem",
    longKeys = Seq(("l_orderkey", 1400L), ("l_partkey", 190L), ("l_suppkey", 9L)),
    intCols = Seq(("l_linenumber", 1, 7)),
    moneyCols = Seq(("l_quantity", 1.0, 50.0), ("l_extendedprice", 1000.0, 100000.0)),
    strCols = Map(
      "l_returnflag" -> Seq("N", "A", "R"),
      "l_linestatus" -> Seq("F", "O")),
    tsCols = Seq("l_shipdate"),
    groupable = Seq("l_returnflag", "l_linestatus"),
    likeCols = Nil)

  private val customer = Tbl("customer",
    longKeys = Seq(("c_custkey", 140L)),
    intCols = Seq(("c_nationkey", 0, 24)),
    moneyCols = Seq(("c_acctbal", -800.0, 9900.0)),
    strCols = Map("c_mktsegment" ->
      Seq("AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD", "MACHINERY")),
    tsCols = Nil,
    groupable = Seq("c_mktsegment", "c_nationkey"),
    likeCols = Seq(("c_name", Seq("1", "2", "00", "3"))))

  private val supplier = Tbl("supplier",
    longKeys = Seq(("s_suppkey", 9L)),
    intCols = Seq(("s_nationkey", 0, 24)),
    moneyCols = Seq(("s_acctbal", -800.0, 9900.0)),
    strCols = Map.empty,
    tsCols = Nil,
    groupable = Seq("s_nationkey"),
    likeCols = Seq(("s_name", Seq("1", "3", "5"))))

  private val part = Tbl("part",
    longKeys = Seq(("p_partkey", 190L)),
    intCols = Seq(("p_size", 1, 50)),
    moneyCols = Seq(("p_retailprice", 900.0, 920.0)),
    strCols = Map(
      "p_brand" -> (1 to 25).map(i => s"Brand#$i"),
      "p_type" -> Seq("LARGE", "STANDARD", "ECONOMY", "MEDIUM", "PROMO", "SMALL")),
    tsCols = Nil,
    groupable = Seq("p_brand", "p_type", "p_size"),
    likeCols = Seq(("p_name", Seq("widget", "bolt", "small", "cold"))))

  private val nation = Tbl("nation",
    longKeys = Nil,
    intCols = Seq(("n_nationkey", 0, 24), ("n_regionkey", 0, 4)),
    moneyCols = Nil,
    strCols = Map("n_name" -> (0 to 24).map(i => s"NATION_$i")),
    tsCols = Nil,
    groupable = Seq("n_name", "n_regionkey"),
    likeCols = Nil)

  private val region = Tbl("region",
    longKeys = Nil,
    intCols = Seq(("r_regionkey", 0, 4)),
    moneyCols = Nil,
    strCols = Map("r_name" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
    tsCols = Nil,
    groupable = Seq("r_name"),
    likeCols = Nil)

  private val singleTables = Seq(orders, lineitem, customer, supplier, part)

  /** Valid equi-join edges (left, right, leftKey, rightKey). */
  private val joins: Seq[(Tbl, Tbl, String, String)] = Seq(
    (orders, customer, "o_custkey", "c_custkey"),
    (lineitem, orders, "l_orderkey", "o_orderkey"),
    (lineitem, part, "l_partkey", "p_partkey"),
    (lineitem, supplier, "l_suppkey", "s_suppkey"),
    (customer, nation, "c_nationkey", "n_nationkey"),
    (supplier, nation, "s_nationkey", "n_nationkey"),
    (nation, region, "n_regionkey", "r_regionkey"))

  /** Valid 3-table chains: (a ⋈ b on k1) ⋈ c on k2. */
  private val chains: Seq[(Tbl, Tbl, String, String, Tbl, String, String)] = Seq(
    (orders, customer, "o_custkey", "c_custkey", nation, "c_nationkey", "n_nationkey"),
    (lineitem, orders, "l_orderkey", "o_orderkey", customer, "o_custkey", "c_custkey"),
    (customer, nation, "c_nationkey", "n_nationkey", region, "n_regionkey", "r_regionkey"),
    (lineitem, part, "l_partkey", "p_partkey", supplier, "l_suppkey", "s_suppkey"))

  // ------------------------------------------------------- dual renderers

  /** A (Column, SQL) pair built from one random draw — the two sides are
    * constructed together so they cannot drift. */
  private type Dual = (Column, String)

  private def money(v: Double): String = {
    // 3-decimal literal, Locale.ROOT-rendered; thresholds carry a .005
    // offset so no fixture value (cent-exact by construction) sits ON the
    // boundary — a double-vs-decimal-literal comparison then can't flip
    // on representation rounding in either engine
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  }

  private def tsLit(rng: Random): String = {
    val year = 1995 + rng.nextInt(7)
    val month = 1 + rng.nextInt(12)
    val day = 1 + rng.nextInt(28)
    String.format(java.util.Locale.ROOT, "%04d-%02d-%02d 00:00:00",
      Int.box(year), Int.box(month), Int.box(day))
  }

  /** A predicate dual plus the exact name of the column it references —
    * tracked structurally so callers that must discard predicates over an
    * evolved-away column (arm 14) compare names exactly instead of
    * substring-matching rendered SQL (where a column name that is a
    * substring of another, or appears inside a literal, would mis-match). */
  private type Pred = (Column, String, String)

  /** One atomic predicate over `t`'s columns. */
  private def predicate(rng: Random, t: Tbl): Pred = {
    val kinds = Seq.newBuilder[() => Pred]
    if (t.longKeys.nonEmpty) kinds += { () =>
      val (c, max) = t.longKeys(rng.nextInt(t.longKeys.size))
      rng.nextInt(3) match {
        case 0 =>
          val v = 1 + rng.nextLong(max)
          if (rng.nextBoolean()) (col(c) < v, s"$c < $v", c)
          else (col(c) >= v, s"$c >= $v", c)
        case 1 =>
          val m = 2 + rng.nextInt(6); val r = rng.nextInt(m)
          (col(c) % m === r, s"$c % $m = $r", c)
        case _ =>
          val lo = rng.nextLong(max); val hi = lo + 1 + rng.nextLong(max)
          (col(c) >= lo && col(c) <= hi, s"($c >= $lo AND $c <= $hi)", c)
      }
    }
    if (t.intCols.nonEmpty) kinds += { () =>
      val (c, lo, hi) = t.intCols(rng.nextInt(t.intCols.size))
      val v = lo + rng.nextInt(hi - lo + 1)
      rng.nextInt(3) match {
        case 0 => (col(c) < v, s"$c < $v", c)
        case 1 => (col(c) >= v, s"$c >= $v", c)
        case _ => (col(c) === v, s"$c = $v", c)
      }
    }
    if (t.moneyCols.nonEmpty) kinds += { () =>
      val (c, lo, hi) = t.moneyCols(rng.nextInt(t.moneyCols.size))
      val v = math.rint((lo + rng.nextDouble() * (hi - lo)) * 100) / 100 + 0.005
      val lit = money(v)
      if (rng.nextBoolean()) (col(c) < lit.toDouble, s"$c < $lit", c)
      else (col(c) >= lit.toDouble, s"$c >= $lit", c)
    }
    if (t.strCols.nonEmpty) kinds += { () =>
      val keys = t.strCols.keys.toSeq.sorted
      val c = keys(rng.nextInt(keys.size))
      val pool = t.strCols(c)
      rng.nextInt(3) match {
        case 0 =>
          val v = pool(rng.nextInt(pool.size))
          (col(c) === v, s"$c = '$v'", c)
        case 1 =>
          val v = pool(rng.nextInt(pool.size))
          (col(c) =!= v, s"$c <> '$v'", c)
        case _ =>
          val n = 2 + rng.nextInt(math.min(3, pool.size - 1))
          val vs = rng.shuffle(pool).take(n)
          (col(c).isin(vs: _*), vs.mkString(s"$c IN ('", "', '", "')"), c)
      }
    }
    if (t.tsCols.nonEmpty) kinds += { () =>
      val c = t.tsCols(rng.nextInt(t.tsCols.size))
      val v = tsLit(rng)
      if (rng.nextBoolean()) (col(c) < expr(s"TIMESTAMP '$v'"), s"$c < TIMESTAMP '$v'", c)
      else (col(c) >= expr(s"TIMESTAMP '$v'"), s"$c >= TIMESTAMP '$v'", c)
    }
    if (t.likeCols.nonEmpty) kinds += { () =>
      val (c, frags) = t.likeCols(rng.nextInt(t.likeCols.size))
      val f = frags(rng.nextInt(frags.size))
      (col(c).like(s"%$f%"), s"$c LIKE '%$f%'", c)
    }
    val pool = kinds.result()
    pool(rng.nextInt(pool.size))()
  }

  /** 1–3 predicates over the given tables, composed with AND/OR and full
    * parens (identical associativity on both sides). */
  private def wherePreds(rng: Random, tbls: Seq[Tbl]): Option[Dual] =
    wherePredsTracked(rng, tbls).map(_._1)

  /** As [[wherePreds]], but also returns the exact set of column names the
    * composed predicate references (draw sequence is identical — all atoms
    * first, then the connective draws — so seeds are unchanged). */
  private def wherePredsTracked(
      rng: Random, tbls: Seq[Tbl]): Option[(Dual, Set[String])] = {
    val n = rng.nextInt(4) // 0..3 (0 = no WHERE)
    if (n == 0) return None
    val parts = Seq.fill(n) { predicate(rng, tbls(rng.nextInt(tbls.size))) }
    val refs = parts.map(_._3).toSet
    val dual = parts.map(p => (p._1, p._2): Dual).reduce { (a, b) =>
      if (rng.nextInt(3) == 0) (a._1 || b._1, s"(${a._2} OR ${b._2})")
      else (a._1 && b._1, s"(${a._2} AND ${b._2})")
    }
    Some((dual, refs))
  }

  /** 2–4 aggregate expressions over the given tables (decimal-pathed sums
    * per the NamedQuery parity rules; aliases identical on both sides). */
  private def aggExprs(rng: Random, tbls: Seq[Tbl]): Seq[Dual] = {
    val out = Seq.newBuilder[Dual]
    out += ((count(lit(1)).as("cnt"), "COUNT(*) AS cnt"))
    val extra = 1 + rng.nextInt(3)
    val pool = Seq.newBuilder[() => Dual]
    tbls.foreach { t =>
      t.moneyCols.foreach { case (c, _, _) =>
        pool += { () =>
          (sum(col(c).cast(DecimalType(18, 2))).cast("double").as(s"sum_$c"),
            s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS sum_$c")
        }
        pool += { () => (min(col(c)).as(s"min_$c"), s"MIN($c) AS min_$c") }
        pool += { () => (max(col(c)).as(s"max_$c"), s"MAX($c) AS max_$c") }
      }
      (t.longKeys.map(_._1) ++ t.intCols.map(_._1)).foreach { c =>
        pool += { () => (countDistinct(col(c)).as(s"ndv_$c"), s"COUNT(DISTINCT $c) AS ndv_$c") }
        pool += { () => (max(col(c)).as(s"max_$c"), s"MAX($c) AS max_$c") }
      }
      t.strCols.keys.toSeq.sorted.foreach { c =>
        pool += { () => (min(col(c)).as(s"min_$c"), s"MIN($c) AS min_$c") }
      }
    }
    val ps = pool.result()
    // distinct draws: duplicate output aliases would be ambiguous
    val seen = scala.collection.mutable.Set("cnt")
    var tries = 0
    while (seen.size < 1 + extra && tries < 20) {
      val d = ps(rng.nextInt(ps.size))()
      if (seen.add(d._2.split(" AS ").last)) out += d
      tries += 1
    }
    out.result()
  }

  /** Projection items: a random subset of plain columns plus optional
    * computed expressions, aliases aligned. Returns (duals, names). */
  private def projection(rng: Random, tbls: Seq[Tbl]): Seq[Dual] = {
    val cols = rng.shuffle(tbls.flatMap(_.allCols)).take(2 + rng.nextInt(3))
    val plain: Seq[Dual] = cols.map(c => (col(c), c))
    val computed = Seq.newBuilder[Dual]
    if (tbls.exists(_.name == "lineitem") && rng.nextBoolean())
      computed += ((((col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net")),
        "l_extendedprice * (1 - l_discount) AS net"))
    tbls.find(_.tsCols.nonEmpty).foreach { t =>
      if (rng.nextBoolean()) {
        val c = t.tsCols.head
        computed += ((year(col(c)).as("yr"), s"CAST(year($c) AS INT) AS yr"))
      }
    }
    tbls.find(_.moneyCols.nonEmpty).foreach { t =>
      if (rng.nextInt(3) == 0) {
        val (c, lo, hi) = t.moneyCols.head
        val v = money(math.rint((lo + hi) / 2 * 100) / 100 + 0.005)
        computed += ((when(col(c) > v.toDouble, "hi").otherwise("lo").as("bucket"),
          s"CASE WHEN $c > $v THEN 'hi' ELSE 'lo' END AS bucket"))
      }
    }
    tbls.find(_.likeCols.nonEmpty).foreach { t =>
      if (rng.nextInt(3) == 0) {
        val c = t.likeCols.head._1
        computed += ((upper(substring(col(c), 1, 4)).as("frag"),
          s"upper(substring($c, 1, 4)) AS frag"))
      }
    }
    plain ++ computed.result()
  }

  /** Scalar-function projection duals over `t` (VERDICT r12 #4: the §2.8
    * surface — CONCAT / NULLIF / COALESCE / CASE / FLOOR / ROUND /
    * date-part casts / string fns — was fixed-plan-only via q10; this
    * pool randomizes it). Every fragment is the SAME string on Spark SQL
    * and DuckDB with matching result types:
    *   - LENGTH / year / month / day return BIGINT in DuckDB and INT in
    *     Spark — both sides render an explicit CAST(... AS INT);
    *   - FLOOR(double) returns BIGINT in Spark SQL but DOUBLE in DuckDB —
    *     CAST(... AS BIGINT) aligns (the q10 precedent);
    *   - ROUND(double, 1) only over INT-derived doubles (exact operands;
    *     the NamedQuery rule forbids rounding derived money doubles);
    *   - CONCAT is null-intolerant in Spark and null-skipping in DuckDB —
    *     safe here because the drawn fixture columns carry no nulls
    *     (checked; the null-flow family is scenario 7's job, where the
    *     divergence-free COUNT/MIN/MAX/SUM aggregates absorb the nulls). */
  private def scalarDuals(rng: Random, t: Tbl): Seq[Dual] = {
    val pool = Seq.newBuilder[() => Dual]
    val strs = (t.strCols.keys.toSeq ++ t.likeCols.map(_._1)).sorted
    strs.foreach { c =>
      pool += { () =>
        val k = 2 + rng.nextInt(4)
        (upper(substring(col(c), 1, k)).as(s"u_$c"),
          s"upper(substring($c, 1, $k)) AS u_$c")
      }
      pool += { () =>
        (length(col(c)).cast("int").as(s"len_$c"),
          s"CAST(LENGTH($c) AS INT) AS len_$c")
      }
    }
    val firstNum = t.intCols.headOption.map(_._1)
      .orElse(t.longKeys.headOption.map(_._1))
    for (sc <- strs.headOption; ic <- firstNum) {
      pool += { () =>
        (concat(col(sc), lit("#"), col(ic).cast("string")).as("tag"),
          s"CONCAT($sc, '#', CAST($ic AS STRING)) AS tag")
      }
    }
    (t.intCols.map(c => (c._1, c._2, c._3)) ++
        t.longKeys.map(k => (k._1, 0, k._2.toInt))).foreach { case (c, lo, hi) =>
      pool += { () =>
        val v = lo + rng.nextInt(math.max(hi - lo, 1))
        (coalesce(nullif(col(c), lit(v)), lit(-1)).as(s"nz_$c"),
          s"COALESCE(NULLIF($c, $v), -1) AS nz_$c")
      }
      pool += { () =>
        val d = 2 + rng.nextInt(6)
        (floor(col(c) / lit(d.toDouble)).cast("long").as(s"b_$c"),
          s"CAST(FLOOR($c / $d.0) AS BIGINT) AS b_$c")
      }
      pool += { () =>
        (round(col(c).cast("double") * 1.5, 1).as(s"sc_$c"),
          s"ROUND(CAST($c AS DOUBLE) * 1.5, 1) AS sc_$c")
      }
    }
    t.tsCols.foreach { c =>
      pool += { () =>
        val (fn, colFn) = rng.nextInt(3) match {
          case 0 => ("year", year(col(c)))
          case 1 => ("month", month(col(c)))
          case _ => ("day", dayofmonth(col(c)))
        }
        // Spark's SQL fn `day` = dayofmonth; DuckDB day() agrees
        (colFn.cast("int").as(s"${fn}_$c"), s"CAST($fn($c) AS INT) AS ${fn}_$c")
      }
    }
    t.moneyCols.foreach { case (c, lo, hi) =>
      pool += { () =>
        val v = math.rint((lo + rng.nextDouble() * (hi - lo)) * 100) / 100 + 0.005
        val m = money(v)
        (when(col(c) > m.toDouble, "hi").otherwise("lo").as(s"ca_$c"),
          s"CASE WHEN $c > $m THEN 'hi' ELSE 'lo' END AS ca_$c")
      }
      pool += { () =>
        val v = math.rint((lo + hi) / 2 * 100) / 100 + 0.005
        val m = money(v)
        (greatest(col(c), lit(m.toDouble)).as(s"g_$c"),
          s"GREATEST($c, $m) AS g_$c")
      }
    }
    val ps = pool.result()
    val n = 2 + rng.nextInt(3)
    val seen = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[Dual]
    var tries = 0
    while (seen.size < n && tries < 24) {
      val d = ps(rng.nextInt(ps.size))()
      if (seen.add(d._2.split(" AS ").last)) out += d
      tries += 1
    }
    out.result()
  }

  /** Per-table unique row keys (fixture invariants, verified against the
    * driver parquet at every sf): the total order that makes ROW_NUMBER /
    * LAG / running-frame draws deterministic within a window partition.
    * lineitem is deliberately ABSENT: the fixture is not TPC-H-PK-clean —
    * (l_orderkey, l_linenumber) carries up to 6 duplicates, and even the
    * (+ l_partkey, l_suppkey) composite collides at sf0.001, so lineitem
    * has NO reliable total order (the first DuckDB soak of this arm
    * caught exactly that: both Spark routes agreed with each other on a
    * tied LAG/running-sum order and diverged from DuckDB). Tables absent
    * here draw only the ORDER-FREE window class. */
  private val uniqueKeys: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"))

  /** Context columns projected alongside arm 10's window duals: the
    * unique key where one exists, the (non-unique) line id for lineitem. */
  private val windowCtx: Map[String, Seq[String]] =
    uniqueKeys + ("lineitem" -> Seq("l_orderkey", "l_linenumber"))

  /** Window-function duals over `t` partitioned by `pKey` (arm 10: the
    * §2.5-adjacent surface the fixed registry exercises only through
    * hand-written plans — q9/q18/q105's top-k windows — randomized).
    * Every draw is deterministic AND cross-engine exact:
    *   - two determinism classes: ORDER-FREE draws (whole-partition
    *     COUNT/MIN/SUM, RANK/DENSE_RANK — ties rank equally, so the
    *     value is a function of the row, not the evaluation order) are
    *     always available; ORDER-DEPENDENT draws (ROW_NUMBER / LAG /
    *     ROWS-framed running sums) only when [[uniqueKeys]] gives the
    *     table a true total order per partition — ties impossible; the
    *     explicit ROWS frame keeps RANGE-peer semantics out entirely;
    *   - ROW_NUMBER/RANK/DENSE_RANK return INT in Spark but BIGINT in
    *     DuckDB — both sides render CAST(... AS INT) (the LENGTH/year
    *     precedent; fixture row counts are far below 2^31);
    *   - windowed SUMs take the decimal path and cast to DOUBLE once at
    *     the end, exactly like the aggregate arms — decimal addition is
    *     associative, so partition order cannot perturb the result;
    *   - LAG's partition-leading NULL flows into the total-order cut the
    *     same way on all three routes (ASC NULLS FIRST everywhere). */
  private def windowDuals(rng: Random, t: Tbl, pKey: String): Seq[Dual] = {
    import org.apache.spark.sql.expressions.Window
    val uniqOpt = uniqueKeys.get(t.name)
    val wAll = Window.partitionBy(col(pKey))
    val pool = Seq.newBuilder[() => Dual]
    pool += { () =>
      (count(lit(1)).over(wAll).as("wc"),
        s"COUNT(*) OVER (PARTITION BY $pKey) AS wc")
    }
    // rank/dense_rank over a drawn (possibly tied) sort column — never
    // the partition key itself (constant within the partition: every row
    // would rank 1, a vacuous draw)
    val sortable = (t.intCols.map(_._1) ++ t.moneyCols.map(_._1) ++
      t.strCols.keys.toSeq.sorted).filterNot(_ == pKey)
    if (sortable.nonEmpty) pool += { () =>
      val c = sortable(rng.nextInt(sortable.size))
      val (fn, colFn) =
        if (rng.nextBoolean()) ("RANK", rank()) else ("DENSE_RANK", dense_rank())
      // explicit NULLS FIRST like every other ORDER BY in the grammar
      // (ADVICE r14): vacuous today (fixture columns are null-free) but
      // Spark ASC defaults nulls-first and DuckDB nulls-last — a nullable
      // column entering the sortable pool must not diverge for a grammar
      // reason; asc_nulls_first keeps the DataFrame route aligned
      (colFn.over(Window.partitionBy(col(pKey)).orderBy(col(c).asc_nulls_first))
        .cast("int").as(s"rk_$c"),
        s"CAST($fn() OVER (PARTITION BY $pKey ORDER BY $c ASC NULLS FIRST) AS INT) AS rk_$c")
    }
    t.moneyCols.foreach { case (c, _, _) =>
      pool += { () =>
        (sum(col(c).cast(DecimalType(18, 2))).over(wAll).cast("double").as(s"wsum_$c"),
          s"CAST(SUM(CAST($c AS DECIMAL(18,2))) OVER (PARTITION BY $pKey) AS DOUBLE) AS wsum_$c")
      }
    }
    (t.longKeys.map(_._1) ++ t.intCols.map(_._1) ++ t.moneyCols.map(_._1))
      .foreach { c =>
        pool += { () =>
          (min(col(c)).over(wAll).as(s"wmin_$c"),
            s"MIN($c) OVER (PARTITION BY $pKey) AS wmin_$c")
        }
      }
    uniqOpt.foreach { uniq =>
      val uniqSql = uniq.map(c => s"$c ASC").mkString(", ")
      val wOrd = Window.partitionBy(col(pKey)).orderBy(uniq.map(col): _*)
      val over = s"OVER (PARTITION BY $pKey ORDER BY $uniqSql)"
      pool += { () =>
        (row_number().over(wOrd).cast("int").as("rn"),
          s"CAST(ROW_NUMBER() $over AS INT) AS rn")
      }
      t.moneyCols.foreach { case (c, _, _) =>
        pool += { () =>
          val frame = s"OVER (PARTITION BY $pKey ORDER BY $uniqSql " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
          (sum(col(c).cast(DecimalType(18, 2)))
            .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as(s"rsum_$c"),
            s"CAST(SUM(CAST($c AS DECIMAL(18,2))) $frame AS DOUBLE) AS rsum_$c")
        }
      }
      (t.longKeys.map(_._1) ++ t.intCols.map(_._1) ++ t.moneyCols.map(_._1))
        .foreach { c =>
          pool += { () =>
            (lag(col(c), 1).over(wOrd).as(s"lag_$c"), s"LAG($c, 1) $over AS lag_$c")
          }
        }
    }
    val ps = pool.result()
    val n = 2 + rng.nextInt(2)
    val seen = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[Dual]
    var tries = 0
    while (seen.size < n && tries < 24) {
      val d = ps(rng.nextInt(ps.size))()
      if (seen.add(d._2.split(" AS ").last)) out += d
      tries += 1
    }
    out.result()
  }

  // ------------------------------------------------------------ scenarios

  /** Scenario ids (also directly forceable for pinned registry entries):
    * 0 scan/project (+DISTINCT/ORDER+LIMIT), 1 single-table aggregate
    * (+HAVING), 2 two-table join → aggregate (left joins drawn at 1/2 —
    * VERDICT r12 #4 weighted them up from 1/4), 3 three-table join →
    * aggregate, 4 union all/distinct, 5 two-table join → projection
    * with total-order LIMIT, 6 scalar-function projections (§2.8
    * randomized), 7 left join against a FILTERED right side → aggregates
    * over right-side columns (guaranteed NULL flow through
    * COUNT(col)/MIN/MAX/SUM and through a drawn right-side group key),
    * 8 left join → row-level projection with NULL-bearing right-side
    * columns under a total-order LIMIT (the null-boundary corner of the
    * sorted cut: ASC NULLS FIRST must cut the same multiset in Spark's
    * asc_nulls_first, Spark SQL and DuckDB — only PLAIN/COALESCE duals
    * here, never CONCAT over nullable columns, which Spark nulls out and
    * DuckDB null-skips),
    * 9 uncorrelated scalar-subquery threshold filter (r14: the J3 family
    * randomized — SURVEY §2.4's scalar subquery was fixed-plan-only) —
    * `WHERE c >= (SELECT AGG(c) [± d] FROM t [WHERE p])`: the SQL routes
    * plan a real ScalarSubquery through both SQL frontends while the
    * DataFrame route expresses the identical semantics as the idiomatic
    * broadcast single-row cross join + filter, so the differential
    * compares Spark's subquery planner against its join planner AND
    * DuckDB; an inner WHERE that empties the subquery yields a NULL
    * threshold and zero rows on all three routes (drawn corner),
    * 10 window functions (r14: the family the fixed registry covers only
    * through hand-written top-k plans) — ROW_NUMBER / RANK / DENSE_RANK
    * / LAG / partition COUNT/MIN / partition+running decimal SUM over a
    * drawn partition key, exactness rules in [[windowDuals]],
    * 11 lake read path (r15: until now every arm fuzzed raw parquet, so
    * transform pruning + MoR tombstones + upsert restatement were tested
    * only by hand-written specs) — CTAS the drawn table into a graft lake
    * table under a drawn partition transform (identity/month/bucket),
    * apply a drawn upsert restatement and/or key delete, MoR-scan it back
    * under a drawn predicate + projection; the SQL dual is the
    * CONVERGED-STATE relational rewrite over the raw table (CASE for the
    * restated column, NOT(...) for the tombstoned keys), runnable by
    * Spark SQL and DuckDB unchanged — so the whole
    * write→mutate→tombstone-fold→scan machinery must agree with two
    * engines that never saw a lake file,
    * 12 lake TIME TRAVEL (r16, VERDICT r15 #4: arm 11 fuzzes only the
    * CONVERGED MoR state; snapshot pinning was tested only by hand-written
    * specs) — the same CTAS lifecycle with BOTH mutations forced (append →
    * upsert restatement → key tombstone, snapshots 1/2/3), then a scan
    * pinned to a DRAWN snapshot index mid-lifecycle, either as
    * `scan(asOf)` or as `rollbackTo(cut)` + current scan (drawn — the two
    * must be indistinguishable to a reader); the SQL dual is the PREFIX
    * state rewrite (cut=1: the raw table; cut=2: the CASE restatement
    * only; cut=3: the converged rewrite), so a snapshot that leaks any
    * later mutation — or loses an earlier one — diverges on two engines
    * that never saw a snapshot file,
    * 13 lake CHANGELOG (r16 — the CDC-OUT read path, until now covered
    * only by the hand-written q79/q82): the same forced lifecycle, then
    * `changes(from, to)` over a DRAWN snapshot range (6 valid pairs —
    * (0,1) draws the append-only fast path, (1,3) the update+delete
    * union); the SQL dual is the STRUCTURAL net-effect over the prefix
    * states — inserts carry to-state values, updates are exactly the
    * restated key class still live at `to`, deletes the tombstoned
    * class present at `from` with FROM-state values — so a changelog
    * that mislabels a class, leaks a tombstoned key, or emits delete
    * rows with the wrong era's money diverges cross-engine,
    * 14 lake SCHEMA EVOLUTION (r17, VERDICT r16 #1: arms 11–13 mutate
    * DATA; add/promote/drop-column was tested only by hand-written specs
    * — and the r16 orphan-schema bug lived exactly there): a drawn
    * evolution op lands BETWEEN two appends (append under the old schema
    * → ALTER → append under the new schema), then a drawn read crosses
    * the schema boundary — a scan at a drawn cut (direct or via
    * rollback) or a changelog over a drawn range — with the projection
    * forced to read the evolved column. The SQL dual is the null-filled
    * (add), CAST-widened (promote) or column-stripped (drop) rewrite of
    * the era the read pins, so an old-era file that fails to null-fill,
    * a narrow file decoded without widening, a dropped column leaking
    * back, or a pinned read serving the wrong era's schema all diverge
    * against two engines that never saw a schema version file,
    * 15 lake SQL ROUTE (r18): arms 11–14 drive the lifecycle through the
    * imperative LakeTable API; this arm drives the SAME converged-state
    * contract entirely through the SQL catalog's DSv2 surface — CREATE
    * TABLE or CTAS (drawn) under a drawn partition transform, INSERT
    * split across two commits, a drawn row-level restatement (UPDATE,
    * matched-only MERGE, or a MERGE that also INSERTs a shifted-key
    * class) under a DRAWN row-level mode (merge-on-read delta vs
    * copy-on-write group rewrite), DELETE FROM, drawn maintenance, then
    * a SQL SELECT through the catalog. q67/q80/q81 pin three fixed
    * shapes; the composition (mutation × mode × partitioning ×
    * maintenance) on GraftCatalog + GraftLakeWrite + GraftLakeDeltaWrite
    * was never fuzzed. The SQL dual is the arm-11-style converged
    * rewrite (update CASE, shifted-key UNION ALL for the merge insert,
    * post-union complement for the delete over each row's FINAL pk). */
  val NumScenarios = 16

  /** Arm 11's lake-CTAS metadata: the FULL parquet schema per eligible
    * table (the converged-state SQL rewrite must enumerate every column —
    * `Tbl.allCols` omits like-only columns), the primary key, the restated
    * money column, and the transform pool. Orders adds the month(ts)
    * transform; both draw identity(str) and bucket(pk). */
  private case class LakeTbl(t: Tbl, fullCols: Seq[String], pk: String,
      moneyCol: String, identityCol: String, tsCol: Option[String])
  private val lakeTbls = Seq(
    LakeTbl(orders,
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      "o_orderkey", "o_totalprice", "o_orderstatus", Some("o_orderdate")),
    LakeTbl(customer,
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "c_custkey", "c_acctbal", "c_mktsegment", None))

  /** One reused lake-table root per generated instance, wiped at the
    * start of each `build` invocation (ADVICE r15 #1): the same Gen's
    * build runs many times (verify, plan hygiene, soaks — ~160 lake seeds
    * per 1000-seed soak over the 13-arm grammar), and a fresh scoped dir
    * per invocation leaves every CTAS+mutation table on disk until JVM
    * exit — the accumulation class behind the r13 disk-exhaustion
    * incident. Mirrors ScaleBench.freshLakeDir. */
  private val lakeRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]
  private def freshLakeLoc(name: String): String = {
    val root = lakeRoots.computeIfAbsent(name, _ => graft.TempDirs.scoped("graft-diff-lake"))
    val t = root.resolve("t")
    if (java.nio.file.Files.exists(t)) graft.TempDirs.deleteRecursively(t)
    t.toString
  }

  /** Maintenance trailing draw for the lake arms (r18): compaction and
    * the orphan sweep are content-PRESERVING lifecycle mutations —
    * running a drawn one right before the read must never change any
    * query's rows (the expiry draw caught real bugs two rounds running;
    * compaction × MoR × evolution is the analogous interaction surface).
    * Drawn LAST in each arm so every pre-r18 instance's SQL and plan stay
    * byte-identical per seed; the modulus stays off powers of two
    * (documented java.util.Random pathology). 0 and 2 = none (the modulus
    * stays 4 so pinned seeds keep their draws), 1 = compactDirty (folds
    * MoR tombstones, bin-packs, era-aligns rewritten files to the current
    * schema), 3 = compactDirty + an aggressive zero-age orphan sweep
    * (referenced files must all survive it). */
  private def maintDraw(rng: Random): Int = rng.nextInt(27720) % 4
  private def applyMaintenance(lake: graft.lake.LakeTable, draw: Int): Unit = draw match {
    case 1 => lake.compactDirty()
    case 3 =>
      lake.compactDirty()
      graft.lake.Maintenance.removeOrphans(lake, olderThanMs = 0L)
    case _ => ()
  }

  /** @param lakeCap cap the lake arms' CTAS input to the `cap` smallest
    *   primary keys (rendered into the SQL dual identically, so all three
    *   routes stay consistent). The in-suite QueryGenSpec passes 300 —
    *   ~10 full-table CTAS lifecycles per `sbt test` were the r15 suite's
    *   whole wall-time creep (VERDICT r15 #2) — while the registry pins
    *   and the DuckDB soak legs keep full tables (None). */
  def gen(seed: Long, forceScenario: Option[Int] = None,
      lakeCap: Option[Int] = None): Gen = {
    val rng = new Random(seed)
    // NOT nextInt(NumScenarios): for a power-of-two bound java.util.Random
    // takes the HIGH bits of the first post-seed output, which are nearly
    // CONSTANT across small sequential seeds — at NumScenarios=8 all 120
    // family seeds drew the same arm (caught by QueryGenSpec's coverage
    // assertion). A modulo over a bound divisible by the arm count keeps
    // the draw uniform AND on the low bits, which do vary. 720720 =
    // LCM(1..16), so every arm count ≤ 16 divides it — the current 16
    // included (r14 moved 2520 → 27720 when arm 10 landed; r16 moved
    // 27720 → 360360 when arm 12 landed; r18 moved 360360 → 720720 when
    // arm 15 landed; an arm-count change reshuffles only the seed-drawn
    // family, never the pinned entries, which force their scenario and
    // skip this draw). The next bound change comes at a 17TH arm:
    // 720720/17 is not integral — move to LCM(1..17) = 12252240 then.
    val scenario = forceScenario.getOrElse(rng.nextInt(720720) % NumScenarios)
    val name = s"diff_s${seed}_sc$scenario"

    def load(s: SparkSession, dir: String, t: Tbl): DataFrame =
      graft.Tables.load(s, dir, t.name)

    scenario match {
      case 0 =>
        val t = singleTables(rng.nextInt(singleTables.size))
        val pred = wherePreds(rng, Seq(t))
        val proj = projection(rng, Seq(t))
        val distinct = rng.nextInt(3) == 0
        val limit = if (rng.nextBoolean()) Some(20 + rng.nextInt(180)) else None
        val names = proj.map(_._2.split(" AS ").last)
        val sql = new StringBuilder("SELECT ")
        if (distinct) sql ++= "DISTINCT "
        sql ++= proj.map(_._2).mkString(", ")
        sql ++= s" FROM ${t.name}"
        pred.foreach(p => sql ++= s" WHERE ${p._2}")
        limit.foreach { k =>
          sql ++= names.mkString(" ORDER BY ", " ASC NULLS FIRST, ", " ASC NULLS FIRST")
          sql ++= s" LIMIT $k"
        }
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, t)
          pred.foreach(p => df = df.filter(p._1))
          df = df.select(proj.map(_._1): _*)
          if (distinct) df = df.distinct()
          limit.foreach { k =>
            df = df.orderBy(names.map(c => col(c).asc_nulls_first): _*).limit(k)
          }
          df
        })

      case 1 =>
        val t = singleTables(rng.nextInt(singleTables.size))
        val pred = wherePreds(rng, Seq(t))
        val nKeys = rng.nextInt(3) // 0 = global aggregate
        val keys = rng.shuffle(t.groupable).take(nKeys)
        val aggs = aggExprs(rng, Seq(t))
        val having = if (keys.nonEmpty && rng.nextInt(3) == 0) Some(1 + rng.nextInt(3)) else None
        val sql = new StringBuilder("SELECT ")
        sql ++= (keys ++ aggs.map(_._2)).mkString(", ")
        sql ++= s" FROM ${t.name}"
        pred.foreach(p => sql ++= s" WHERE ${p._2}")
        if (keys.nonEmpty) sql ++= keys.mkString(" GROUP BY ", ", ", "")
        having.foreach(h => sql ++= s" HAVING COUNT(*) > $h")
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, t)
          pred.foreach(p => df = df.filter(p._1))
          var out =
            if (keys.isEmpty) df.agg(aggs.head._1, aggs.tail.map(_._1): _*)
            else df.groupBy(keys.map(col): _*).agg(aggs.head._1, aggs.tail.map(_._1): _*)
          having.foreach(h => out = out.filter(col("cnt") > h))
          out
        })

      case 2 =>
        val (a, b, lk, rk) = joins(rng.nextInt(joins.size))
        // left joins at 1/2 (was 1/4): NULL flow into aggregates was the
        // grammar's rarest draw (VERDICT r12 #4); scenario 7 additionally
        // GUARANTEES right-side misses via a filtered right side
        val joinType = if (rng.nextInt(2) == 0) "left" else "inner"
        val pred = wherePreds(rng, if (joinType == "left") Seq(a) else Seq(a, b))
        val keys = rng.shuffle(a.groupable ++ b.groupable).take(1 + rng.nextInt(2))
        val aggs = aggExprs(rng, Seq(a, b))
        val jt = if (joinType == "left") "LEFT JOIN" else "JOIN"
        val sql = new StringBuilder("SELECT ")
        sql ++= (keys ++ aggs.map(_._2)).mkString(", ")
        sql ++= s" FROM ${a.name} $jt ${b.name} ON $lk = $rk"
        pred.foreach(p => sql ++= s" WHERE ${p._2}")
        sql ++= keys.mkString(" GROUP BY ", ", ", "")
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, a).join(load(s, dir, b), col(lk) === col(rk), joinType)
          pred.foreach(p => df = df.filter(p._1))
          df.groupBy(keys.map(col): _*).agg(aggs.head._1, aggs.tail.map(_._1): _*)
        })

      case 3 =>
        val (a, b, k1l, k1r, c, k2l, k2r) = chains(rng.nextInt(chains.size))
        val pred = wherePreds(rng, Seq(a, b, c))
        val keys = rng.shuffle(a.groupable ++ b.groupable ++ c.groupable).take(1 + rng.nextInt(2))
        val aggs = aggExprs(rng, Seq(a, b, c))
        val sql = new StringBuilder("SELECT ")
        sql ++= (keys ++ aggs.map(_._2)).mkString(", ")
        sql ++= s" FROM ${a.name} JOIN ${b.name} ON $k1l = $k1r JOIN ${c.name} ON $k2l = $k2r"
        pred.foreach(p => sql ++= s" WHERE ${p._2}")
        sql ++= keys.mkString(" GROUP BY ", ", ", "")
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, a)
            .join(load(s, dir, b), col(k1l) === col(k1r))
            .join(load(s, dir, c), col(k2l) === col(k2r))
          pred.foreach(p => df = df.filter(p._1))
          df.groupBy(keys.map(col): _*).agg(aggs.head._1, aggs.tail.map(_._1): _*)
        })

      case 4 =>
        val t = singleTables(rng.nextInt(singleTables.size))
        val cols = rng.shuffle(t.allCols).take(2 + rng.nextInt(2))
        val p1 = predicate(rng, t)
        val p2 = predicate(rng, t)
        val all = rng.nextBoolean()
        val kw = if (all) "UNION ALL" else "UNION"
        val sel = cols.mkString(", ")
        val sql = s"SELECT $sel FROM ${t.name} WHERE ${p1._2} $kw " +
          s"SELECT $sel FROM ${t.name} WHERE ${p2._2}"
        Gen(name, sql, (s, dir) => {
          val base = load(s, dir, t)
          val l = base.filter(p1._1).select(cols.map(col): _*)
          val r = base.filter(p2._1).select(cols.map(col): _*)
          if (all) l.unionAll(r) else l.unionAll(r).distinct()
        })

      case 5 =>
        // join → row-level projection (no aggregate) with a LIMIT cut
        // under a total order over ALL output columns — deterministic as
        // a multiset even under ties, same argument as scenario 0
        val (a, b, lk, rk) = joins(rng.nextInt(joins.size))
        val pred = wherePreds(rng, Seq(a, b))
        val proj = projection(rng, Seq(a, b))
        val names = proj.map(_._2.split(" AS ").last)
        val k = 20 + rng.nextInt(180)
        val sql = new StringBuilder("SELECT ")
        sql ++= proj.map(_._2).mkString(", ")
        sql ++= s" FROM ${a.name} JOIN ${b.name} ON $lk = $rk"
        pred.foreach(p => sql ++= s" WHERE ${p._2}")
        sql ++= names.mkString(" ORDER BY ", " ASC NULLS FIRST, ", " ASC NULLS FIRST")
        sql ++= s" LIMIT $k"
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, a).join(load(s, dir, b), col(lk) === col(rk))
          pred.foreach(p => df = df.filter(p._1))
          df.select(proj.map(_._1): _*)
            .orderBy(names.map(c => col(c).asc_nulls_first): _*).limit(k)
        })

      case 6 =>
        // scalar-function projections (§2.8 randomized): 1–2 plain
        // columns for context plus 2–4 scalar duals, under the same
        // total-order LIMIT determinism argument as scenario 0
        val t = singleTables(rng.nextInt(singleTables.size))
        val pred = wherePreds(rng, Seq(t))
        val plain = rng.shuffle(t.allCols).take(1 + rng.nextInt(2)).map(c => (col(c), c))
        val proj = plain ++ scalarDuals(rng, t)
        val names = proj.map(_._2.split(" AS ").last)
        val k = 20 + rng.nextInt(180)
        val sql = new StringBuilder("SELECT ")
        sql ++= proj.map(_._2).mkString(", ")
        sql ++= s" FROM ${t.name}"
        pred.foreach(p => sql ++= s" WHERE ${p._2}")
        sql ++= names.mkString(" ORDER BY ", " ASC NULLS FIRST, ", " ASC NULLS FIRST")
        sql ++= s" LIMIT $k"
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, t)
          pred.foreach(p => df = df.filter(p._1))
          df.select(proj.map(_._1): _*)
            .orderBy(names.map(c => col(c).asc_nulls_first): _*).limit(k)
        })

      case 7 =>
        // left join against a FILTERED right side → aggregates over
        // right-side columns: the right filter guarantees join misses, so
        // NULLs flow through COUNT(col) (null-skipping), MIN/MAX, the
        // decimal-pathed SUM (all-null group → NULL), COUNT(DISTINCT),
        // and — when a right-side group key is drawn — a NULL group,
        // exercising Spark-vs-SQL-vs-DuckDB null-semantics agreement the
        // other arms only hit when a rare unmatched key happens to occur
        val (a, b, lk, rk) = joins(rng.nextInt(joins.size))
        val rpred = predicate(rng, b)
        val keys = rng.shuffle(a.groupable ++ b.groupable).take(1 + rng.nextInt(2))
        val aggs: Seq[Dual] = {
          val out = Seq.newBuilder[Dual]
          out += ((count(lit(1)).as("cnt"), "COUNT(*) AS cnt"))
          val bNum = b.longKeys.map(_._1) ++ b.intCols.map(_._1)
          val bAll = bNum ++ b.moneyCols.map(_._1) ++ b.strCols.keys.toSeq.sorted
          val pool = Seq.newBuilder[() => Dual]
          bAll.foreach { c =>
            pool += { () => (count(col(c)).as(s"nn_$c"), s"COUNT($c) AS nn_$c") }
            pool += { () => (min(col(c)).as(s"min_$c"), s"MIN($c) AS min_$c") }
            pool += { () => (max(col(c)).as(s"max_$c"), s"MAX($c) AS max_$c") }
          }
          bNum.foreach { c =>
            pool += { () =>
              (countDistinct(col(c)).as(s"ndv_$c"), s"COUNT(DISTINCT $c) AS ndv_$c")
            }
          }
          b.moneyCols.foreach { case (c, _, _) =>
            pool += { () =>
              (sum(col(c).cast(DecimalType(18, 2))).cast("double").as(s"sum_$c"),
                s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS sum_$c")
            }
          }
          val ps = pool.result()
          val seen = scala.collection.mutable.Set("cnt")
          var tries = 0
          // KNOWN WART, frozen by golden: the target count re-rolls in
          // the loop CONDITION (one nextInt(2) per check — biased toward
          // 3 aggs and a collision-dependent draw count) instead of being
          // hoisted like aggExprs/scalarDuals do. Still deterministic per
          // seed (the determinism spec is the contract), but hoisting it
          // now would reshape pinned q118 — fix only alongside a
          // deliberate golden update.
          while (seen.size < 3 + rng.nextInt(2) && tries < 20) {
            val d = ps(rng.nextInt(ps.size))()
            if (seen.add(d._2.split(" AS ").last)) out += d
            tries += 1
          }
          out.result()
        }
        val sql = new StringBuilder("SELECT ")
        sql ++= (keys ++ aggs.map(_._2)).mkString(", ")
        sql ++= s" FROM ${a.name} LEFT JOIN " +
          s"(SELECT * FROM ${b.name} WHERE ${rpred._2}) fb ON $lk = $rk"
        sql ++= keys.mkString(" GROUP BY ", ", ", "")
        Gen(name, sql.toString, (s, dir) => {
          load(s, dir, a)
            .join(load(s, dir, b).filter(rpred._1), col(lk) === col(rk), "left")
            .groupBy(keys.map(col): _*).agg(aggs.head._1, aggs.tail.map(_._1): _*)
        })

      case 8 =>
        // left join → ROW-LEVEL projection with null-bearing right-side
        // columns under a total-order LIMIT: the filtered right side
        // guarantees misses, so NULLs sit AT the sort/limit boundary —
        // ASC NULLS FIRST must cut the identical multiset through
        // asc_nulls_first, Spark SQL, and DuckDB. Plain columns plus a
        // COALESCE dual only (identical null semantics in all three);
        // no CONCAT here (Spark nulls out, DuckDB null-skips)
        val (a, b, lk, rk) = joins(rng.nextInt(joins.size))
        val rpred = predicate(rng, b)
        val lpred = if (rng.nextBoolean()) Some(predicate(rng, a)) else None
        val aCols = rng.shuffle(a.allCols).take(1 + rng.nextInt(2))
        val bCols = rng.shuffle(b.allCols).take(1 + rng.nextInt(2))
        val proj: Seq[Dual] =
          aCols.map(c => (col(c), c)) ++ bCols.map(c => (col(c), c)) ++
            (b.intCols.map(_._1) ++ b.longKeys.map(_._1)).headOption.map { c =>
              (coalesce(col(c), lit(-1)).as(s"co_$c"),
                s"COALESCE($c, -1) AS co_$c")
            }
        val names = proj.map(_._2.split(" AS ").last)
        val k = 20 + rng.nextInt(180)
        val sql = new StringBuilder("SELECT ")
        sql ++= proj.map(_._2).mkString(", ")
        sql ++= s" FROM ${a.name} LEFT JOIN " +
          s"(SELECT * FROM ${b.name} WHERE ${rpred._2}) fb ON $lk = $rk"
        lpred.foreach(p => sql ++= s" WHERE ${p._2}")
        sql ++= names.mkString(" ORDER BY ", " ASC NULLS FIRST, ", " ASC NULLS FIRST")
        sql ++= s" LIMIT $k"
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, a)
            .join(load(s, dir, b).filter(rpred._1), col(lk) === col(rk), "left")
          lpred.foreach(p => df = df.filter(p._1))
          df.select(proj.map(_._1): _*)
            .orderBy(names.map(c => col(c).asc_nulls_first): _*).limit(k)
        })

      case 9 =>
        // uncorrelated scalar-subquery threshold (J3 randomized): filter a
        // table against an aggregate of itself. The SQL string carries a
        // genuine `(SELECT ... FROM t ...)` scalar subquery — Spark SQL
        // plans ScalarSubquery, DuckDB its own flavor — while the
        // DataFrame dual is the idiomatic distributed form: a broadcast
        // single-row aggregate cross-joined in and filtered on, so no
        // driver collect and three genuinely different plans must agree.
        //
        // Threshold exactness across engines (the NamedQuery parity rules):
        //  - AVG only over INTEGER columns: both engines form the exact
        //    integer sum in double (fixture sums ≪ 2^53) and perform the
        //    identical IEEE division — bit-equal thresholds; money AVG is
        //    NOT drawn (Spark yields exact DECIMAL(22,6), DuckDB DOUBLE —
        //    a genuine cross-engine representation divergence);
        //  - MIN/MAX ± a small INTEGER offset: the extremum is an exact
        //    fixture value and integer addition on a double is exact, so
        //    both engines hold the bit-identical threshold.
        // No .005 anti-boundary offset is needed here (unlike money()
        // literals): boundary divergence requires a decimal-literal-vs-
        // double representation gap, and every threshold in this arm is
        // COMPUTED from stored values identically in both engines — a tie
        // at the threshold cuts the same row set either way.
        val t = singleTables(rng.nextInt(singleTables.size))
        val numericPool: Seq[(String, String)] =           // (col, kind)
          t.longKeys.map(c => (c._1, "int")) ++ t.intCols.map(c => (c._1, "int")) ++
            t.moneyCols.map(c => (c._1, "money"))
        val (tc, kind) = numericPool(rng.nextInt(numericPool.size))
        val inner: Option[Pred] =
          if (rng.nextBoolean()) Some(predicate(rng, t)) else None
        val innerSql = inner.map(p => s" WHERE ${p._2}").getOrElse("")
        def innerDf(s: SparkSession, dir: String): DataFrame = {
          val d = load(s, dir, t)
          inner.map(p => d.filter(p._1)).getOrElse(d)
        }
        val (thrCol, thrSql): Dual = (kind, rng.nextInt(3)) match {
          case ("int", 0) =>
            (avg(col(tc)), s"SELECT AVG($tc) FROM ${t.name}$innerSql")
          case (_, 1) =>
            val d = 1 + rng.nextInt(50)
            (min(col(tc)) + lit(d), s"SELECT MIN($tc) + $d FROM ${t.name}$innerSql")
          case (_, 2) =>
            val d = 1 + rng.nextInt(50)
            (max(col(tc)) - lit(d), s"SELECT MAX($tc) - $d FROM ${t.name}$innerSql")
          case _ =>
            // money AVG (r18 — the last excluded expression class): a
            // naive AVG(double) threshold is NOT engine-portable (partial
            // double sums are order-dependent), and Spark's exact-DECIMAL
            // AVG diverges from DuckDB's DOUBLE. Both routes instead
            // compute SUM over EXACT integer cents (ROUND(x*100) is
            // within one ulp of an integer for the <=2-decimal fixtures,
            // the RelationalOps.cents recipe) and perform ONE double
            // division on bit-identical exact operands — a bit-equal
            // threshold in all three engines
            (sum(round(col(tc) * 100).cast("long")).cast("double") /
              (count(col(tc)) * 100).cast("double"),
              s"SELECT CAST(SUM(CAST(ROUND($tc * 100) AS BIGINT)) AS DOUBLE) / " +
                s"CAST(COUNT($tc) * 100 AS DOUBLE) FROM ${t.name}$innerSql")
        }
        val geq = rng.nextBoolean()
        val cmpSql = s"$tc ${if (geq) ">=" else "<"} ($thrSql)"
        val outerPred = if (rng.nextBoolean()) Some(predicate(rng, t)) else None
        val proj = projection(rng, Seq(t))
        val names = proj.map(_._2.split(" AS ").last)
        val limit = if (rng.nextBoolean()) Some(20 + rng.nextInt(180)) else None
        val sql = new StringBuilder("SELECT ")
        sql ++= proj.map(_._2).mkString(", ")
        sql ++= s" FROM ${t.name} WHERE "
        outerPred.foreach(p => sql ++= s"${p._2} AND ")
        sql ++= cmpSql
        limit.foreach { k =>
          sql ++= names.mkString(" ORDER BY ", " ASC NULLS FIRST, ", " ASC NULLS FIRST")
          sql ++= s" LIMIT $k"
        }
        Gen(name, sql.toString, (s, dir) => {
          val thr = innerDf(s, dir).agg(thrCol.as("__thr"))
          var df = load(s, dir, t)
          outerPred.foreach(p => df = df.filter(p._1))
          df = df.crossJoin(broadcast(thr))
            .filter(if (geq) col(tc) >= col("__thr") else col(tc) < col("__thr"))
            .select(proj.map(_._1): _*)
          limit.foreach { k =>
            df = df.orderBy(names.map(c => col(c).asc_nulls_first): _*).limit(k)
          }
          df
        })

      case 10 =>
        // window functions (arm 10): project the partition key, the
        // table's row-context key (unique where one exists — the
        // total-order LIMIT then cuts deterministically; for lineitem
        // the cut is still a deterministic multiset because equal rows
        // are interchangeable under a total order over ALL columns, the
        // scenario-0 argument) and 2–3 window duals; the WHERE applies
        // BEFORE the window on all three routes (ANSI: WHERE precedes
        // window evaluation; the DataFrame dual filters before selecting
        // the window columns)
        val t = singleTables(rng.nextInt(singleTables.size))
        val pKey = t.groupable(rng.nextInt(t.groupable.size))
        val pred = wherePreds(rng, Seq(t))
        val wins = windowDuals(rng, t, pKey)
        val proj: Seq[Dual] =
          (pKey +: windowCtx(t.name)).map(c => (col(c), c)) ++ wins
        val names = proj.map(_._2.split(" AS ").last)
        val limit = if (rng.nextBoolean()) Some(20 + rng.nextInt(180)) else None
        val sql = new StringBuilder("SELECT ")
        sql ++= proj.map(_._2).mkString(", ")
        sql ++= s" FROM ${t.name}"
        pred.foreach(p => sql ++= s" WHERE ${p._2}")
        limit.foreach { k =>
          sql ++= names.mkString(" ORDER BY ", " ASC NULLS FIRST, ", " ASC NULLS FIRST")
          sql ++= s" LIMIT $k"
        }
        Gen(name, sql.toString, (s, dir) => {
          var df = load(s, dir, t)
          pred.foreach(p => df = df.filter(p._1))
          df = df.select(proj.map(_._1): _*)
          limit.foreach { k =>
            df = df.orderBy(names.map(c => col(c).asc_nulls_first): _*).limit(k)
          }
          df
        })

      case 11 =>
        // lake read path (arm 11): the DataFrame route runs the REAL lake
        // lifecycle — CTAS under a drawn partition transform, upsert
        // restating a money column (×2: cent-exact doubles double exactly,
        // both engines), key-tombstone delete, MoR scan — while the SQL
        // dual is the converged-state rewrite over the raw table. The
        // outer predicate/projection apply AFTER convergence on all three
        // routes (the predicate sees restated values). Exact-integer `%`
        // key classes keep the mutation sets engine-portable.
        // NOT nextInt(2): for a FORCED scenario (the registry pin path)
        // this is the first post-seed draw, and a power-of-two bound
        // takes the near-constant high bits — every candidate pin seed
        // drew the same table (the documented java.util.Random pathology;
        // same fix as the scenario draw above)
        val lt = lakeTbls(rng.nextInt(27720) % lakeTbls.size)
        val t = lt.t
        import graft.lake.{LakeTable, PartitionField, Transform}
        // every draw happens HERE, never inside build: the same Gen's
        // build may run many times (plan hygiene, verify, soaks) and must
        // compose the identical plan each time
        val pfDraw = rng.nextInt(3)
        val bucketN = 4 * (1 + rng.nextInt(2))
        val upsert = if (rng.nextBoolean()) {
          val u = 2 + rng.nextInt(3)
          Some((u, rng.nextInt(u)))
        } else None
        val delete = if (rng.nextBoolean()) {
          val d = 5 + rng.nextInt(5)
          Some((d, rng.nextInt(d)))
        } else None
        val pred = wherePreds(rng, Seq(t))
        val projCols = rng.shuffle(lt.fullCols).take(2 + rng.nextInt(3))
        // trailing draw (r18): a content-preserving maintenance pass
        // right before the MoR scan — compaction must fold the tombstones
        // and restatements to the identical converged state
        val maint = maintDraw(rng)
        val inner = lt.fullCols.map { c =>
          upsert match {
            case Some((u, ru)) if c == lt.moneyCol =>
              s"CASE WHEN ${lt.pk} % $u = $ru THEN $c * 2 ELSE $c END AS $c"
            case _ => c
          }
        }.mkString(", ")
        val innerWhere = delete.map { case (d, rd) =>
          s" WHERE NOT (${lt.pk} % $d = $rd)"
        }.getOrElse("")
        val sql = s"SELECT ${projCols.mkString(", ")} FROM " +
          s"(SELECT $inner FROM ${lakeFrom(t, lt, lakeCap)}$innerWhere) g" +
          pred.map(p => s" WHERE ${p._2}").getOrElse("")
        val notes11 =
          s"upsert=${upsert.isDefined} delete=${delete.isDefined} maint=$maint"
        Gen(name, sql, (s, dir) => {
          val base = lakeBase(load(s, dir, t), lt, lakeCap)
          val pf = pfDraw match {
            case 0 => PartitionField(lt.identityCol, Transform.Identity, "gp")
            case 1 if lt.tsCol.isDefined =>
              PartitionField(lt.tsCol.get, Transform.Month, "gp")
            case _ => PartitionField(lt.pk, Transform.Bucket(bucketN), "gp")
          }
          val loc = freshLakeLoc(name)
          val lake = LakeTable.create(s, loc, s"diff_lake_$seed", base.schema,
            partitionSpec = Seq(pf), primaryKey = Seq(lt.pk))
          lake.append(base)
          upsert.foreach { case (u, ru) =>
            lake.upsert(base.filter(col(lt.pk) % u === ru)
              .withColumn(lt.moneyCol, col(lt.moneyCol) * 2))
          }
          delete.foreach { case (d, rd) =>
            lake.deleteKeys(base.filter(col(lt.pk) % d === rd).select(col(lt.pk)))
          }
          applyMaintenance(lake, maint)
          var df = lake.scan()
          pred.foreach(p => df = df.filter(p._1))
          df.select(projCols.map(col): _*)
        }, notes11)

      case 12 =>
        // lake TIME TRAVEL (arm 12): the full arm-11 lifecycle with BOTH
        // mutations forced — append (snapshot 1), upsert restatement
        // (snapshot 2), key tombstone (snapshot 3) — then the scan pins a
        // DRAWN mid-lifecycle snapshot, either directly (`scan(asOf)`) or
        // through `rollbackTo(cut)` + current scan (drawn: rollback is
        // one more commit whose CONTENT is the target's, so the two
        // routes must be indistinguishable). The SQL dual rewrites the
        // PREFIX state: a pinned read that leaks the delete, loses the
        // upsert, or re-reads the head instead of the pin diverges
        // against Spark SQL and DuckDB.
        val lt = lakeTbls(rng.nextInt(27720) % lakeTbls.size)
        val t = lt.t
        import graft.lake.{LakeTable, Maintenance, PartitionField, Transform}
        val pfDraw = rng.nextInt(3)
        val bucketN = 4 * (1 + rng.nextInt(2))
        val u = 2 + rng.nextInt(3)
        val ru = rng.nextInt(u)
        val d = 5 + rng.nextInt(5)
        val rd = rng.nextInt(d)
        // cut ∈ {1 append-only, 2 +upsert, 3 converged}; NOT nextInt(4)
        // (pow2 first-draw caveat does not bite — several draws already
        // consumed — but keep every modulus off powers of two for
        // uniformity with the documented pathology)
        val cut = 1 + rng.nextInt(3)
        val useRollback = rng.nextBoolean()
        val pred = wherePreds(rng, Seq(t))
        val projCols = rng.shuffle(lt.fullCols).take(2 + rng.nextInt(3))
        // trailing draw (r17): EXPIRE the non-head history before the read
        // when the read targets the head — after a rollback (the rollback
        // commit IS the head and carries the cut's content: an expired
        // table must serve the identical prefix state) or at cut 3. Drawn
        // LAST so every pre-r17 instance's SQL and plan stay byte-
        // identical; ineligible reads (a direct asOf below the head would
        // pin an expired snapshot) consume the draw and ignore it.
        val expireDraw = rng.nextBoolean()
        // trailing draw (r18, after the r17 expiry draw): maintenance
        // lands AFTER rollback/expiry and BEFORE the read — an asOf pin
        // below the compaction head must keep serving the pre-compaction
        // files, a post-rollback compaction must preserve the cut's state
        val maint = maintDraw(rng)
        val inner = lt.fullCols.map { c =>
          if (cut >= 2 && c == lt.moneyCol)
            s"CASE WHEN ${lt.pk} % $u = $ru THEN $c * 2 ELSE $c END AS $c"
          else c
        }.mkString(", ")
        val innerWhere = if (cut >= 3) s" WHERE NOT (${lt.pk} % $d = $rd)" else ""
        val sql = s"SELECT ${projCols.mkString(", ")} FROM " +
          s"(SELECT $inner FROM ${lakeFrom(t, lt, lakeCap)}$innerWhere) g" +
          pred.map(p => s" WHERE ${p._2}").getOrElse("")
        val notes12 = s"cut=$cut rollback=$useRollback expire=$expireDraw maint=$maint"
        Gen(name, sql, (s, dir) => {
          val base = lakeBase(load(s, dir, t), lt, lakeCap)
          val pf = pfDraw match {
            case 0 => PartitionField(lt.identityCol, Transform.Identity, "gp")
            case 1 if lt.tsCol.isDefined =>
              PartitionField(lt.tsCol.get, Transform.Month, "gp")
            case _ => PartitionField(lt.pk, Transform.Bucket(bucketN), "gp")
          }
          val loc = freshLakeLoc(name)
          val lake = LakeTable.create(s, loc, s"diff_lake_$seed", base.schema,
            partitionSpec = Seq(pf), primaryKey = Seq(lt.pk))
          lake.append(base)                                           // seq 1
          lake.upsert(base.filter(col(lt.pk) % u === ru)
            .withColumn(lt.moneyCol, col(lt.moneyCol) * 2))           // seq 2
          lake.deleteKeys(base.filter(col(lt.pk) % d === rd)
            .select(col(lt.pk)))                                      // seq 3
          var df =
            if (useRollback) {
              lake.rollbackTo(cut.toLong)
              if (expireDraw) Maintenance.expireSnapshots(lake, keep = 1)
              applyMaintenance(lake, maint)
              lake.scan()
            } else {
              if (expireDraw && cut == 3) Maintenance.expireSnapshots(lake, keep = 1)
              // maintenance commits land ABOVE the pinned cut; the asOf
              // read must keep serving the pre-maintenance snapshot
              applyMaintenance(lake, maint)
              lake.scan(asOf = Some(cut.toLong))
            }
          pred.foreach(p => df = df.filter(p._1))
          df.select(projCols.map(col): _*)
        }, notes12)

      case 13 =>
        // lake CHANGELOG (arm 13): the CDC-OUT read path randomized —
        // the forced lifecycle again, then `changes(from, to)` over a
        // drawn snapshot range against the structural net-effect dual
        // (see the NumScenarios scaladoc). Branch values are era-exact:
        // inserts/updates carry TO-state money, delete rows carry
        // FROM-state money — including the key class hit by BOTH
        // mutations, whose delete row doubles under (2,3) but not (1,3).
        val lt = lakeTbls(rng.nextInt(27720) % lakeTbls.size)
        val t = lt.t
        import graft.lake.{LakeTable, PartitionField, Transform}
        val pfDraw = rng.nextInt(3)
        val bucketN = 4 * (1 + rng.nextInt(2))
        val u = 2 + rng.nextInt(3)
        val ru = rng.nextInt(u)
        val d = 5 + rng.nextInt(5)
        val rd = rng.nextInt(d)
        // the 6 valid (from, to) ranges over snapshots 0..3; 27720 % 6 = 0
        // keeps the draw on the varying low bits (documented pathology)
        val ranges = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
        val (cFrom, cTo) = ranges(rng.nextInt(27720) % ranges.size)
        val pred = wherePreds(rng, Seq(t))
        val projCols = rng.shuffle(lt.fullCols).take(2 + rng.nextInt(3))
        // trailing draw (r18): maintenance commits land ABOVE cTo (ranges
        // stay within 0..3) — a changelog range ending below a later
        // content restatement must replay unchanged, while a range
        // CROSSING one refuses (spec-pinned contract, not drawn here)
        val maint = maintDraw(rng)
        // trailing draw (r19, VERDICT r18 #4): a FILES-HEAVY layout — the
        // writeSplits salt fans every commit out to N files per partition
        // value, so the drawn changelog range replays against many-file
        // commits with REAL content (the 10⁵-link ManyFilesFixture is
        // metadata-consistent only and stays a ScaleBench-only probe).
        // Pure layout knob: the SQL dual is untouched by construction.
        val splitsDraw = rng.nextInt(3) // 0 → default single-file layout
        val writeSplits = if (splitsDraw == 0) 1 else 4 * splitsDraw
        // prefix-state inner selects (the arm-12 rewrites): 1 = as
        // appended, 2 = + upsert restatement, 3 = + tombstones
        def innerSel(state: Int): String = {
          val cols = lt.fullCols.map { c =>
            if (state >= 2 && c == lt.moneyCol)
              s"CASE WHEN ${lt.pk} % $u = $ru THEN $c * 2 ELSE $c END AS $c"
            else c
          }.mkString(", ")
          val w = if (state >= 3) s" WHERE NOT (${lt.pk} % $d = $rd)" else ""
          s"SELECT $cols FROM ${lakeFrom(t, lt, lakeCap)}$w"
        }
        def branch(state: Int, label: String, where: Option[String]): String =
          s"SELECT g.*, '$label' AS _change_type FROM (${innerSel(state)}) g" +
            where.map(w => s" WHERE $w").getOrElse("")
        val union = (cFrom, cTo) match {
          // from the empty table every live-at-to row is a net insert (a
          // key inserted AND deleted inside the range nets to nothing);
          // (0,1) is the append-only fast path on the DataFrame route
          case (0, st) => branch(st, "insert", None)
          // no tombstones in range: the restated class, to-state values
          case (1, 2) => branch(2, "update", Some(s"${lt.pk} % $u = $ru"))
          // updates = restated AND still live; deletes = tombstoned class
          // with from-state (RAW) values — even for keys also restated
          case (1, 3) =>
            branch(3, "update", Some(s"${lt.pk} % $u = $ru")) + " UNION ALL " +
              branch(1, "delete", Some(s"${lt.pk} % $d = $rd"))
          // only the tombstone commit in range: deletes carry the
          // RESTATED from-state (state-2) values
          case _ => branch(2, "delete", Some(s"${lt.pk} % $d = $rd"))
        }
        val outCols = projCols :+ "_change_type"
        val sql = s"SELECT ${outCols.mkString(", ")} FROM ($union) h" +
          pred.map(p => s" WHERE ${p._2}").getOrElse("")
        val notes13 = s"range=($cFrom,$cTo) maint=$maint splits=$writeSplits"
        Gen(name, sql, (s, dir) => {
          val base = lakeBase(load(s, dir, t), lt, lakeCap)
          val pf = pfDraw match {
            case 0 => PartitionField(lt.identityCol, Transform.Identity, "gp")
            case 1 if lt.tsCol.isDefined =>
              PartitionField(lt.tsCol.get, Transform.Month, "gp")
            case _ => PartitionField(lt.pk, Transform.Bucket(bucketN), "gp")
          }
          val loc = freshLakeLoc(name)
          val prevSplits = s.conf.getOption("spark.graft.lake.writeSplits")
          try {
            if (writeSplits > 1)
              s.conf.set("spark.graft.lake.writeSplits", writeSplits.toString)
            val lake = LakeTable.create(s, loc, s"diff_lake_$seed", base.schema,
              partitionSpec = Seq(pf), primaryKey = Seq(lt.pk))
            lake.append(base)                                         // seq 1
            lake.upsert(base.filter(col(lt.pk) % u === ru)
              .withColumn(lt.moneyCol, col(lt.moneyCol) * 2))         // seq 2
            lake.deleteKeys(base.filter(col(lt.pk) % d === rd)
              .select(col(lt.pk)))                                    // seq 3
            applyMaintenance(lake, maint)                             // seq 4+
            var df = lake.changes(cFrom.toLong, cTo.toLong)
            pred.foreach(p => df = df.filter(p._1))
            df.select(outCols.map(col): _*)
          } finally prevSplits match {
            case Some(v) => s.conf.set("spark.graft.lake.writeSplits", v)
            case None => s.conf.unset("spark.graft.lake.writeSplits")
          }
        }, notes13)

      case 14 =>
        // lake SCHEMA EVOLUTION (arm 14): append under the old schema
        // (seq 1) → a drawn ALTER (seq 2: add-column / promote-type /
        // drop-column, all metadata-only) → append under the NEW schema
        // (seq 3) — then a drawn read crosses the boundary: scan at cut
        // 1/2/3 (direct or rollback+scan, drawn) or changelog over one of
        // the 5 non-degenerate snapshot ranges. Rows split by an exact pk
        // class: the second-era class arrives under the evolved schema,
        // so era-1 files must null-fill (add), decode-widen (promote) or
        // never resurface (drop) exactly where the SQL dual says.
        val opDraw = rng.nextInt(27720) % 3 // 0 add, 1 promote, 2 drop
        // promote needs a genuinely-narrow column; only customer carries
        // an INT32 in the fixtures (c_nationkey — orders is all int64)
        val lt =
          if (opDraw == 1) lakeTbls.find(_.t.name == "customer").get
          else lakeTbls(rng.nextInt(27720) % lakeTbls.size)
        val t = lt.t
        import graft.lake.{LakeTable, Maintenance, PartitionField, Transform}
        // the evolved column: a fresh INT for add; the INT32 for promote;
        // a column that is never a drawn partition source for drop
        val evoCol = opDraw match {
          case 0 => "g_extra"
          case 1 => "c_nationkey"
          case _ => if (t.name == "orders") "o_orderpriority" else "c_name"
        }
        val pfDraw = rng.nextInt(3)
        val bucketN = 4 * (1 + rng.nextInt(2))
        val sMod = 2 + rng.nextInt(3)
        val rsMod = rng.nextInt(sMod)
        // 8 read classes: 0..2 = scan at cut 1/2/3, 3..7 = changelog over
        // the 5 non-degenerate ranges ((1,2] spans only the metadata
        // commit — zero rows by construction, nothing to differentiate)
        val readDraw = rng.nextInt(27720) % 8
        val useRollback = rng.nextBoolean()
        val clRanges = Seq((0, 1), (0, 2), (0, 3), (1, 3), (2, 3))
        val (era, classFilter, clRange) =
          if (readDraw <= 2) {
            val cut = readDraw + 1
            (if (cut == 1) 1 else 2, if (cut <= 2) Some(false) else None,
              None: Option[(Int, Int)])
          } else {
            val r = clRanges(readDraw - 3)
            val cf = r match {
              case (0, 3) => None          // both appends in range
              case (0, _) => Some(false)   // only the era-1 append
              case _      => Some(true)    // only the era-2 append
            }
            (if (r._2 == 1) 1 else 2, cf, Some(r))
          }
        val predRaw = wherePredsTracked(rng, Seq(t))
        // a drawn predicate may reference the DROPPED column; at an era-2
        // read that column does not exist on the lake route — discard the
        // predicate (deterministic per seed: the draw itself is kept).
        // Exact name-set membership, not SQL-text substring: a column
        // name that is a substring of another (or echoed in a literal)
        // must not flip the discard decision.
        val pred = predRaw.collect {
          case (dual, refs) if !(opDraw == 2 && era >= 2 && refs(evoCol)) => dual
        }
        // projection pool follows the read era's schema; force the evolved
        // column into the projection wherever it exists (era 1 for drop =
        // pre-drop values; era 2 for add = null-filled + populated mix)
        val pool =
          if (opDraw == 2 && era >= 2) lt.fullCols.filterNot(_ == evoCol)
          else lt.fullCols
        val forced: Option[String] = opDraw match {
          case 0 => if (era >= 2) Some("g_extra") else None
          case 1 => Some(evoCol)
          case _ => if (era == 1) Some(evoCol) else None
        }
        val projCols =
          (rng.shuffle(pool).take(2 + rng.nextInt(3)) ++ forced).distinct
        // trailing draw (r17, same contract as arm 12): expire the
        // non-head history before a head read — the expiry × schema-
        // evolution interaction produced real bugs two rounds running
        // (r16 orphan guard, r17 expiry lineage), so the grammar now
        // walks it: after expiry the retained head must still serve the
        // evolved schema, null-fill/widen old-era files, and keep
        // dropped-column lineage. Eligible: head scan (cut 3, either
        // route) or rollback-to-cut (the rollback commit is the head).
        val expireDraw = rng.nextBoolean()
        // trailing draw (r18): maintenance across a SCHEMA-EVOLUTION
        // boundary — compaction rewrites dirty era-1 files under the
        // EVOLVED schema (null-fill added columns, widen promoted ones,
        // drop removed ones) while kept files stay physically old-era;
        // the read must not be able to tell which path a row took
        val maint = maintDraw(rng)
        def innerCols(e: Int): String =
          if (e == 1) lt.fullCols.mkString(", ")
          else opDraw match {
            case 0 => (lt.fullCols :+
              (s"CASE WHEN ${lt.pk} % $sMod = $rsMod THEN " +
                s"CAST(${lt.pk} % 97 AS INT) END AS g_extra")).mkString(", ")
            case 1 => lt.fullCols.map(c =>
              if (c == evoCol) s"CAST($c AS BIGINT) AS $c" else c).mkString(", ")
            case _ => lt.fullCols.filterNot(_ == evoCol).mkString(", ")
          }
        val innerWhere = classFilter match {
          case Some(true)  => s" WHERE ${lt.pk} % $sMod = $rsMod"
          case Some(false) => s" WHERE NOT (${lt.pk} % $sMod = $rsMod)"
          case None        => ""
        }
        val innerSel =
          s"SELECT ${innerCols(era)} FROM ${lakeFrom(t, lt, lakeCap)}$innerWhere"
        val (outCols, sql) = clRange match {
          case None =>
            (projCols, s"SELECT ${projCols.mkString(", ")} FROM ($innerSel) g" +
              pred.map(p => s" WHERE ${p._2}").getOrElse(""))
          case Some(_) =>
            val oc = projCols :+ "_change_type"
            (oc, s"SELECT ${oc.mkString(", ")} FROM " +
              s"(SELECT g.*, 'insert' AS _change_type FROM ($innerSel) g) h" +
              pred.map(p => s" WHERE ${p._2}").getOrElse(""))
        }
        val notes14 = s"op=$opDraw read=$readDraw rollback=$useRollback " +
          s"expire=$expireDraw maint=$maint cl=$clRange"
        Gen(name, sql, (s, dir) => {
          val base = lakeBase(load(s, dir, t), lt, lakeCap)
          val isSecond = col(lt.pk) % sMod === rsMod
          val pf = pfDraw match {
            case 0 => PartitionField(lt.identityCol, Transform.Identity, "gp")
            case 1 if lt.tsCol.isDefined =>
              PartitionField(lt.tsCol.get, Transform.Month, "gp")
            case _ => PartitionField(lt.pk, Transform.Bucket(bucketN), "gp")
          }
          val loc = freshLakeLoc(name)
          val lake = LakeTable.create(s, loc, s"diff_lake_$seed", base.schema,
            partitionSpec = Seq(pf), primaryKey = Seq(lt.pk))
          lake.append(base.filter(!isSecond))                         // seq 1
          opDraw match {                                              // seq 2
            case 0 => lake.addColumn("g_extra", "INT")
            case 1 => lake.promoteColumn(evoCol, "BIGINT")
            case _ => lake.dropColumn(evoCol)
          }
          val second = opDraw match {
            case 0 => base.filter(isSecond)
              .withColumn("g_extra", (col(lt.pk) % 97).cast("int"))
            case 1 => base.filter(isSecond) // narrow batch: widens on align
            case _ => base.filter(isSecond).drop(evoCol)
          }
          lake.append(second)                                         // seq 3
          var df = clRange match {
            case Some((f, to)) =>
              applyMaintenance(lake, maint)                           // seq 4+
              lake.changes(f.toLong, to.toLong)
            case None =>
              val cut = readDraw + 1
              if (useRollback) {
                lake.rollbackTo(cut.toLong)
                if (expireDraw) Maintenance.expireSnapshots(lake, keep = 1)
                applyMaintenance(lake, maint)
                lake.scan()
              } else {
                if (expireDraw && cut == 3) Maintenance.expireSnapshots(lake, keep = 1)
                applyMaintenance(lake, maint)
                lake.scan(asOf = Some(cut.toLong))
              }
          }
          pred.foreach(p => df = df.filter(p._1))
          df.select(outCols.map(col): _*)
        }, notes14)

      case _ =>
        // lake SQL ROUTE (arm 15): the arm-11 converged-state contract,
        // but the DataFrame route drives the ENTIRE lifecycle through the
        // SQL catalog's DSv2 surface — see the NumScenarios scaladoc. The
        // mutation/delete predicates are exact-integer `%` classes (engine-
        // portable); money restates ×2 (cent-exact doubles double exactly);
        // the merge-insert class lands at pk + 30000000, beyond every
        // fixture pk, so the shifted keys can never collide or match.
        val lt = lakeTbls(rng.nextInt(27720) % lakeTbls.size)
        val t = lt.t
        val pfDraw = rng.nextInt(3)
        val bucketN = 4 * (1 + rng.nextInt(2))
        val ctas = rng.nextBoolean()
        val morMode = rng.nextBoolean() // merge-on-read deltas vs copy-on-write
        val mutDraw = rng.nextInt(27720) % 4 // 0 none, 1 UPDATE, 2 MERGE upd, 3 MERGE upd+ins
        val u = 2 + rng.nextInt(3); val ru = rng.nextInt(u)
        val mi = 5 + rng.nextInt(5); val rmi = rng.nextInt(mi)
        val delDraw = rng.nextBoolean()
        val d = 5 + rng.nextInt(5); val rd = rng.nextInt(d)
        val predT = wherePredsTracked(rng, Seq(t))
        val projDraw = rng.shuffle(lt.fullCols).take(2 + rng.nextInt(3))
        val maint = maintDraw(rng)
        // r19 (VERDICT r18 #2): a drawn SQL-route ALTER lands between the
        // initial load and the mutations, so row-level restatements (MoR
        // deltas, COW group rewrites) cross a schema-evolution boundary —
        // the last un-fuzzed route×mutation cell (the imperative route's
        // evolution is arm 14's job). Drawn AFTER every pre-r19 draw so
        // pre-r19 pinned seeds (q130) keep their exact lifecycles.
        // 0 = none, 1 = ADD COLUMN (+ a populate UPDATE after the
        // mutations), 2 = promote type (needs customer's INT32 — on
        // orders the draw degrades to ADD), 3 = DROP COLUMN.
        val alterDraw = rng.nextInt(27720) % 4
        val aMod = 2 + rng.nextInt(3); val raMod = rng.nextInt(aMod)
        val alterOp =
          if (alterDraw == 2 && lt.t.name != "customer") 1 else alterDraw
        val evoCol = alterOp match {
          case 1 => "g_extra"
          case 2 => "c_nationkey"
          case 3 => if (lt.t.name == "orders") "o_orderpriority" else "c_name"
          case _ => ""
        }
        // post-draw adjustments (deterministic per seed, draws untouched):
        // a dropped column leaves the projection and discards predicates
        // referencing it (the arm-14 contract — exact name-set membership);
        // the added / promoted column is forced INTO the projection so the
        // read exercises null-fill + populate / decode-widening
        val pred = predT.collect {
          case (dual, refs) if !(alterOp == 3 && refs(evoCol)) => dual
        }
        val projCols = alterOp match {
          case 1 => (projDraw :+ "g_extra").distinct
          case 2 => (projDraw :+ evoCol).distinct
          case 3 =>
            val kept = projDraw.filterNot(_ == evoCol)
            if (kept.isEmpty) Seq(lt.pk) else kept
          case _ => projDraw
        }
        val effCols =
          if (alterOp == 3) lt.fullCols.filterNot(_ == evoCol) else lt.fullCols
        val Off = 30000000L
        // converged-state dual: update CASE on the money column, the
        // merge-insert branch as a shifted-key UNION ALL, the delete as a
        // post-union complement over each row's FINAL pk (an inserted
        // row's shifted pk changes its `%` class — the delete must see it);
        // a promoted column CASTs in every branch, an added column is a
        // post-union CASE over the FINAL pk (the populate UPDATE runs
        // after the merge, so inserted rows take their SHIFTED class)
        val innerCols = effCols.map { c =>
          if (mutDraw >= 1 && c == lt.moneyCol)
            s"CASE WHEN ${lt.pk} % $u = $ru THEN $c * 2 ELSE $c END AS $c"
          else if (alterOp == 2 && c == evoCol) s"CAST($c AS BIGINT) AS $c"
          else c
        }.mkString(", ")
        val insCols = effCols.map { c =>
          if (c == lt.pk) s"${lt.pk} + $Off AS ${lt.pk}"
          else if (c == lt.moneyCol) s"$c * 2 AS $c"
          else if (alterOp == 2 && c == evoCol) s"CAST($c AS BIGINT) AS $c"
          else c
        }.mkString(", ")
        val from15 = lakeFrom(t, lt, lakeCap)
        val union = s"SELECT $innerCols FROM $from15" +
          (if (mutDraw == 3)
            s" UNION ALL SELECT $insCols FROM $from15 WHERE ${lt.pk} % $mi = $rmi"
          else "")
        // alias discipline: the outer subquery stays `u0` in every draw so
        // alter=0 instances render byte-identical to their pre-r19 SQL
        // (the pinned q130 golden); the add-column wrap introduces `a0`
        val unionWrapped =
          if (alterOp == 1)
            s"SELECT a0.*, CASE WHEN ${lt.pk} % $aMod = $raMod THEN " +
              s"CAST(${lt.pk} % 97 AS INT) END AS g_extra FROM ($union) a0"
          else union
        val delWhere = if (delDraw) s" WHERE NOT (${lt.pk} % $d = $rd)" else ""
        val sql = s"SELECT ${projCols.mkString(", ")} FROM " +
          s"(SELECT * FROM ($unionWrapped) u0$delWhere) g" +
          pred.map(p => s" WHERE ${p._2}").getOrElse("")
        val notes15 = s"ctas=$ctas mor=$morMode mut=$mutDraw alter=$alterOp " +
          s"delete=$delDraw maint=$maint"
        Gen(name, sql, (s, dir) => {
          val base = lakeBase(load(s, dir, t), lt, lakeCap)
          val loc = freshLakeLoc(name)
          // catalog tables live at <warehouse>/<name>: register the
          // instance's fresh root as the warehouse and call the table `t`
          // so the SQL route mutates exactly the wiped per-instance dir
          val wh = java.nio.file.Paths.get(loc).getParent.toString
          val cat = "graft_diff_sql"
          val qt = s"$cat.t"
          val baseView = s"${name}_base"
          val srcView = s"${name}_src"
          val scoped = Map(
            s"spark.sql.catalog.$cat" -> classOf[graft.sources.GraftCatalog].getName,
            // the DYNAMIC warehouse key (GraftCatalog contract — read at
            // every operation) must pin to this instance's root for the
            // whole build
            "spark.graft.catalog.warehouse" -> wh,
            "spark.graft.lake.rowLevelMode" ->
              (if (morMode) "merge-on-read" else "copy-on-write"))
          val prev = scoped.keys.map(k => k -> s.conf.getOption(k)).toMap
          try {
            scoped.foreach { case (k, v) => s.conf.set(k, v) }
            base.createOrReplaceTempView(baseView)
            val partSql = pfDraw match {
              case 0 => s"PARTITIONED BY (identity(${lt.identityCol}))"
              case 1 if lt.tsCol.isDefined =>
                s"PARTITIONED BY (months(${lt.tsCol.get}))"
              case _ => s"PARTITIONED BY (bucket($bucketN, ${lt.pk}))"
            }
            val props = s"TBLPROPERTIES ('primary_key'='${lt.pk}')"
            if (ctas)
              s.sql(s"CREATE TABLE $qt $partSql $props AS SELECT * FROM $baseView")
            else {
              s.sql(s"CREATE TABLE $qt (${base.schema.toDDL}) $partSql $props")
              // two commits → ≥2 data files, so MoR deltas/tombstones and
              // compaction have real multi-file structure to work over
              s.sql(s"INSERT INTO $qt SELECT * FROM $baseView WHERE ${lt.pk} % 2 = 0")
              s.sql(s"INSERT INTO $qt SELECT * FROM $baseView WHERE ${lt.pk} % 2 = 1")
            }
            // the drawn ALTER (r19) lands HERE — after the initial load,
            // before the row-level mutations, so every restatement below
            // crosses the evolution boundary: pre-ALTER files decode under
            // the evolved schema while delta/rewrite commits write it
            alterOp match {
              case 1 => s.sql(s"ALTER TABLE $qt ADD COLUMN g_extra INT")
              case 2 => s.sql(s"ALTER TABLE $qt ALTER COLUMN $evoCol TYPE BIGINT")
              case 3 => s.sql(s"ALTER TABLE $qt DROP COLUMN $evoCol")
              case _ => ()
            }
            mutDraw match {
              case 1 =>
                s.sql(s"UPDATE $qt SET ${lt.moneyCol} = ${lt.moneyCol} * 2 " +
                  s"WHERE ${lt.pk} % $u = $ru")
              case 2 | 3 =>
                // matched branch: the u-class with money restated (the
                // post-ALTER effective columns so both branches union);
                // insert branch: the mi-class shifted beyond every live pk
                // (inserted rows carry NO g_extra — the populate UPDATE
                // below assigns it by their SHIFTED pk class)
                val updSrcCols = effCols.map { c =>
                  if (c == lt.moneyCol) s"$c * 2 AS $c"
                  else if (alterOp == 2 && c == evoCol) s"CAST($c AS BIGINT) AS $c"
                  else c
                }.mkString(", ")
                val srcSql =
                  s"SELECT $updSrcCols FROM $baseView WHERE ${lt.pk} % $u = $ru" +
                    (if (mutDraw == 3)
                      s" UNION ALL SELECT $insCols FROM $baseView WHERE ${lt.pk} % $mi = $rmi"
                    else "")
                s.sql(s"CREATE OR REPLACE TEMPORARY VIEW $srcView AS $srcSql")
                s.sql(
                  s"MERGE INTO $qt t USING $srcView c ON t.${lt.pk} = c.${lt.pk} " +
                    s"WHEN MATCHED THEN UPDATE SET t.${lt.moneyCol} = c.${lt.moneyCol} " +
                    s"WHEN NOT MATCHED THEN INSERT (${effCols.mkString(", ")}) " +
                    s"VALUES (${effCols.map(c => s"c.$c").mkString(", ")})")
              case _ => ()
            }
            // added column populated AFTER the merge, by each row's FINAL
            // pk — a row-level UPDATE computing an expression over the
            // evolved column (itself a restatement crossing the boundary)
            if (alterOp == 1)
              s.sql(s"UPDATE $qt SET g_extra = CAST(${lt.pk} % 97 AS INT) " +
                s"WHERE ${lt.pk} % $aMod = $raMod")
            if (delDraw) s.sql(s"DELETE FROM $qt WHERE ${lt.pk} % $d = $rd")
            // maintenance through the imperative handle on the same table
            // — content-preserving, lands before the read resolves
            applyMaintenance(graft.lake.LakeTable.load(s, loc), maint)
            var df = s.sql(s"SELECT * FROM $qt")
            pred.foreach(p => df = df.filter(p._1))
            df.select(projCols.map(col): _*)
          } finally {
            prev.foreach { case (k, v) =>
              v match { case Some(x) => s.conf.set(k, x); case None => s.conf.unset(k) }
            }
            s.catalog.dropTempView(baseView)
            s.catalog.dropTempView(srcView)
          }
        }, notes15)
    }
  }

  /** The lake arms' CTAS input — full table, or the `cap` smallest
    * primary keys (pk is unique, so the subset is deterministic and
    * identical on every route). SQL form and DataFrame form in lockstep. */
  private def lakeFrom(t: Tbl, lt: LakeTbl, cap: Option[Int]): String =
    cap match {
      case Some(n) => s"(SELECT * FROM ${t.name} ORDER BY ${lt.pk} LIMIT $n) capped"
      case None    => t.name
    }
  private def lakeBase(df: DataFrame, lt: LakeTbl, cap: Option[Int]): DataFrame =
    cap match {
      case Some(n) => df.orderBy(col(lt.pk)).limit(n)
      case None    => df
    }
}
