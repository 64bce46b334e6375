package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import java.time.Instant
import scala.util.Random

/** Property-style tests (seeded random sampling) for the pruning layer's
  * one correctness-critical invariant: NO FALSE NEGATIVES. A file whose
  * partition contains a row matching the filter must survive `mayMatch` —
  * pruning may keep too much (the scan re-filters), but must never drop a
  * match. */
class PruneProps extends AnyFunSuite {
  graft.TestSpark.armWindowStamp() // count this suite in SUITE_WINDOW.json (r21 #9)

  private val rng = new Random(20260812L)
  private def randTs(): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(rng.between(0L, 4102444800L)))

  private val transforms = Seq(Transform.Month, Transform.Day, Transform.Year)

  private def partitionOf(t: Transform, ts: Timestamp): Map[String, String] =
    Map("p" -> t.valueOf(ts).getOrElse(sys.error("unrenderable")))

  test("time transforms never prune a file containing a matching row (Ge/Gt/Lt/Le/Eq)") {
    (1 to 2000).foreach { _ =>
      val rowTs = randTs()
      val filterTs = randTs()
      transforms.foreach { tr =>
        val spec = Seq(PartitionField("c", tr, "p"))
        val part = partitionOf(tr, rowTs)
        if (rowTs.compareTo(filterTs) >= 0)
          assert(PruneFilter.mayMatch(spec, part, PruneFilter.Ge("c", filterTs)),
            s"$tr pruned file holding $rowTs for >= $filterTs")
        if (rowTs.compareTo(filterTs) > 0)
          assert(PruneFilter.mayMatch(spec, part, PruneFilter.Gt("c", filterTs)),
            s"$tr pruned file holding $rowTs for > $filterTs")
        if (rowTs.compareTo(filterTs) < 0)
          assert(PruneFilter.mayMatch(spec, part, PruneFilter.Lt("c", filterTs)),
            s"$tr pruned file holding $rowTs for < $filterTs")
        if (rowTs.compareTo(filterTs) <= 0)
          assert(PruneFilter.mayMatch(spec, part, PruneFilter.Le("c", filterTs)),
            s"$tr pruned file holding $rowTs for <= $filterTs")
        assert(PruneFilter.mayMatch(spec, part, PruneFilter.Eq("c", rowTs)),
          s"$tr pruned file holding $rowTs for = $rowTs")
      }
    }
  }

  test("identity on numbers: typed range pruning, no false negatives, no lexicographic trap") {
    val spec = Seq(PartitionField("c", Transform.Identity, "p"))
    (1 to 2000).foreach { _ =>
      val rowV = rng.between(-1000000L, 1000000L)
      val filterV = rng.between(-1000000L, 1000000L)
      val part = Map("p" -> rowV.toString)
      if (rowV >= filterV)
        assert(PruneFilter.mayMatch(spec, part, PruneFilter.Ge("c", filterV)),
          s"identity pruned file holding $rowV for >= $filterV")
      if (rowV < filterV)
        assert(PruneFilter.mayMatch(spec, part, PruneFilter.Lt("c", filterV)),
          s"identity pruned file holding $rowV for < $filterV")
      if (rowV > filterV)
        assert(PruneFilter.mayMatch(spec, part, PruneFilter.Gt("c", filterV)))
      if (rowV <= filterV)
        assert(PruneFilter.mayMatch(spec, part, PruneFilter.Le("c", filterV)))
      // doubles through BigDecimal comparison
      val rowD = rng.nextDouble() * 1e6 - 5e5
      val filterD = rng.nextDouble() * 1e6 - 5e5
      val partD = Map("p" -> rowD.toString)
      if (rowD >= filterD)
        assert(PruneFilter.mayMatch(spec, partD, PruneFilter.Ge("c", filterD)))
      if (rowD < filterD)
        assert(PruneFilter.mayMatch(spec, partD, PruneFilter.Lt("c", filterD)))
    }
    // the lexicographic trap: "10" < "2" as strings, but 10 >= 2 as numbers
    assert(PruneFilter.mayMatch(spec, Map("p" -> "10"), PruneFilter.Ge("c", 2L)))
    // and typed pruning DOES prune what cannot match: 10 < 20
    assert(!PruneFilter.mayMatch(spec, Map("p" -> "10"), PruneFilter.Ge("c", 20L)))
    assert(!PruneFilter.mayMatch(spec, Map("p" -> "30"), PruneFilter.Lt("c", 20L)))
    // unparseable stored value against a numeric literal: conservative keep
    assert(PruneFilter.mayMatch(spec, Map("p" -> "oops"), PruneFilter.Ge("c", 2L)))
  }

  test("close timestamps in the same period are never cross-pruned") {
    (1 to 2000).foreach { _ =>
      val base = randTs()
      // same-month neighbor: jitter within a few hours
      val near = new Timestamp(base.getTime + rng.between(-3600_000L, 3600_000L))
      transforms.foreach { tr =>
        if (tr.valueOf(base) == tr.valueOf(near)) {
          val spec = Seq(PartitionField("c", tr, "p"))
          assert(PruneFilter.mayMatch(spec, partitionOf(tr, base), PruneFilter.Eq("c", near)))
        }
      }
    }
  }

  test("identity and bucket transforms: no false negatives on strings") {
    (1 to 2000).foreach { _ =>
      val s = rng.alphanumeric.take(rng.between(1, 12)).mkString
      val spec = Seq(PartitionField("c", Transform.Identity, "p"))
      assert(PruneFilter.mayMatch(spec, Map("p" -> s), PruneFilter.Eq("c", s)))
      assert(PruneFilter.mayMatch(spec, Map("p" -> s), PruneFilter.In("c", Seq(s, "other"))))
      // bucket renders no literal (engine-side hash) → always conservative:
      // any bucket value survives any filter
      val b = Transform.Bucket(16)
      assert(PruneFilter.mayMatch(
        Seq(PartitionField("c", b, "p")),
        Map("p" -> rng.between(0, 16).toString), PruneFilter.Eq("c", s)))
    }
  }

  test("truncate transform: prefix partitions never lose their own members") {
    (1 to 2000).foreach { _ =>
      val s = rng.alphanumeric.take(rng.between(1, 20)).mkString
      val w = rng.between(1, 8)
      val tr = Transform.Truncate(w)
      val spec = Seq(PartitionField("c", tr, "p"))
      val part = Map("p" -> tr.valueOf(s).get)
      assert(PruneFilter.mayMatch(spec, part, PruneFilter.Eq("c", s)),
        s"truncate[$w] pruned partition holding '$s'")
      assert(PruneFilter.mayMatch(spec, part, PruneFilter.In("c", Seq(s, "zz_other"))))
    }
  }

  test("range compare follows UTF-8 byte order (Spark's), not Java UTF-16 order") {
    // U+FFFD (3-byte UTF-8) sorts BELOW a supplementary char (4-byte) in
    // UTF-8/Spark order, but ABOVE its surrogates in Java's compareTo —
    // a UTF-16 comparison would falsely prune this file for `col <= supp`
    val supp = new String(Character.toChars(0x10000))
    val tr = Transform.Truncate(3)
    val spec = Seq(PartitionField("c", tr, "p"))
    val fileVal = tr.valueOf("\uFFFD" + "ab").get
    assert(PruneFilter.mayMatch(spec, Map("p" -> fileVal), PruneFilter.Le("c", supp + "zz")))
  }

  test("truncate renders literals by code points, matching the writer's substring") {
    // String.take counts UTF-16 units and would split a surrogate pair,
    // rendering a prefix that never matches the stored partition value
    val emoji = new String(Character.toChars(0x1F600)) // 2 UTF-16 units
    val tr = Transform.Truncate(2)
    assert(tr.valueOf(emoji + emoji + "abc").contains(emoji + emoji))
    val spec = Seq(PartitionField("c", tr, "p"))
    assert(PruneFilter.mayMatch(spec, Map("p" -> (emoji + emoji)),
      PruneFilter.Eq("c", emoji + emoji + "abc")),
      "truncate partition falsely pruned for a supplementary-character prefix")
  }

  test("identity on temporal columns never prunes (render formats differ from directory encoding)") {
    (1 to 500).foreach { _ =>
      val ts = randTs()
      val spec = Seq(PartitionField("c", Transform.Identity, "p"))
      // whatever the writer rendered into the directory, a temporal literal
      // must not prune it — Identity.valueOf declines temporal literals
      val dirValue = ts.toString // one plausible directory encoding
      assert(PruneFilter.mayMatch(spec, Map("p" -> dirValue), PruneFilter.Eq("c", ts)))
      assert(PruneFilter.mayMatch(spec, Map("p" -> dirValue),
        PruneFilter.In("c", Seq(ts, randTs()))))
    }
  }

  test("recorded column bounds never false-negative: longs, doubles, decimals, strings") {
    // The SECOND pruning layer (per-file footer bounds, ColumnBounds.cmp)
    // under the same invariant as the transforms above: a file holding a
    // value that satisfies the filter must survive, across the exact
    // recording pipeline's shapes — 30-significant-digit FLOOR/CEILING
    // bound rounding (monster decimals included), cross-domain literals,
    // UTF-8 byte-ordered strings, and decimal literals against kind-"n"
    // (plain-value) bounds.
    val FloorMc = new java.math.MathContext(30, java.math.RoundingMode.FLOOR)
    val CeilMc  = new java.math.MathContext(30, java.math.RoundingMode.CEILING)
    def numBound(kind: String, vals: Seq[BigDecimal]): Map[String, ColBound] =
      Map("c" -> ColBound(kind,
        vals.min.round(FloorMc).underlying.toPlainString,
        vals.max.round(CeilMc).underlying.toPlainString))
    import PruneFilter._
    def checkKept(b: Map[String, ColBound], vals: Seq[BigDecimal], lit: Any,
        litBd: BigDecimal): Unit = {
      def kept(f: PruneFilter, sat: BigDecimal => Boolean): Unit =
        if (vals.exists(sat))
          assert(ColumnBounds.mayMatch(b, f),
            s"false negative: $f pruned bounds $b holding ${vals.filter(sat).take(3)}")
      kept(Eq("c", lit), _.compare(litBd) == 0)
      kept(In("c", Seq(lit)), _.compare(litBd) == 0)
      kept(Gt("c", lit), _ > litBd)
      kept(Ge("c", lit), _ >= litBd)
      kept(Lt("c", lit), _ < litBd)
      kept(Le("c", lit), _ <= litBd)
    }
    (1 to 500).foreach { _ =>
      // LONG values, kind "n" — literals as Long AND as decimal
      val longs = Seq.fill(rng.between(1, 6))(rng.nextLong())
      val lvals = longs.map(BigDecimal(_))
      val llit = if (rng.nextBoolean()) longs(rng.nextInt(longs.size)) else rng.nextLong()
      checkKept(numBound("n", lvals), lvals, llit, BigDecimal(llit))
      checkKept(numBound("n", lvals), lvals, new java.math.BigDecimal(llit), BigDecimal(llit))
      // DOUBLE values (huge / tiny / negative / subnormal), kind "n"
      val doubles = Seq.fill(rng.between(1, 6))(rng.nextInt(6) match {
        case 0 => rng.nextDouble() * Double.MaxValue * (if (rng.nextBoolean()) 1 else -1)
        case 1 => java.lang.Double.MIN_VALUE * rng.between(1L, 1000L)
        case _ => (rng.nextDouble() - 0.5) * 1e6
      })
      val dvals = doubles.map(d => BigDecimal(new java.math.BigDecimal(d)))
      val dlit = if (rng.nextBoolean()) doubles(rng.nextInt(doubles.size))
        else (rng.nextDouble() - 0.5) * 1e6
      checkKept(numBound("n", dvals), dvals, dlit, BigDecimal(new java.math.BigDecimal(dlit)))
      // DECIMAL values incl. > 30 significant digits (exercises the bound
      // rounding), kind "d" — decimal literals prune on scaled values
      val decs = Seq.fill(rng.between(1, 6))(
        // 20–140 bits: spans well past 30 significant digits, so the
        // FLOOR/CEILING bound rounding really engages
        BigDecimal(BigInt(rng.between(20, 140), rng), rng.between(0, 5)))
        .map(d => if (rng.nextBoolean()) -d else d)
      val dlit2 = (if (rng.nextBoolean()) decs(rng.nextInt(decs.size))
        else BigDecimal(rng.nextLong()) / 100).underlying
      checkKept(numBound("d", decs), decs, dlit2, BigDecimal(dlit2))
      // STRING values, kind "s" — UTF-8 BYTE order (multi-byte included)
      val pool = Seq("", "a", "zz", "é", "日本", "x", "Ab", "bÿ", "0", "~~")
      val strs = Seq.fill(rng.between(1, 6))(
        pool(rng.nextInt(pool.size)) + pool(rng.nextInt(pool.size)))
      def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      implicit val byteOrd: Ordering[String] =
        (a, b) => java.util.Arrays.compareUnsigned(bytes(a), bytes(b))
      val sb = Map("c" -> ColBound("s", strs.min, strs.max))
      val slit = if (rng.nextBoolean()) strs(rng.nextInt(strs.size))
        else pool(rng.nextInt(pool.size))
      def skept(f: PruneFilter, sat: String => Boolean): Unit =
        if (strs.exists(sat))
          assert(ColumnBounds.mayMatch(sb, f),
            s"false negative: $f pruned string bounds $sb holding ${strs.filter(sat)}")
      skept(Eq("c", slit), byteOrd.equiv(_, slit))
      skept(Gt("c", slit), byteOrd.gt(_, slit))
      skept(Ge("c", slit), byteOrd.gteq(_, slit))
      skept(Lt("c", slit), byteOrd.lt(_, slit))
      skept(Le("c", slit), byteOrd.lteq(_, slit))
      // DECIMAL literals (scale 0-2) vs kind-"n" bounds (long and double
      // values): never a false negative, for every filter shape
      val qlit = (if (rng.nextBoolean()) new java.math.BigDecimal(longs(rng.nextInt(longs.size)))
        else new java.math.BigDecimal(rng.nextLong())).movePointLeft(rng.nextInt(3))
      checkKept(numBound("n", lvals), lvals, qlit, BigDecimal(qlit))
      checkKept(numBound("n", dvals), dvals, qlit, BigDecimal(qlit))
      // NaN literal: incomparable => conservatively kept, every shape
      Seq[PruneFilter](Eq("c", Double.NaN), Gt("c", Double.NaN), Le("c", Double.NaN))
        .foreach(f => assert(ColumnBounds.mayMatch(numBound("n", dvals), f)))
    }
  }

  test("filters on non-partition columns never prune") {
    (1 to 500).foreach { _ =>
      val ts = randTs()
      val spec = Seq(PartitionField("c", Transform.Month, "p"))
      assert(PruneFilter.mayMatch(spec, partitionOf(Transform.Month, ts),
        PruneFilter.Ge("other_col", ts)))
    }
  }
}
