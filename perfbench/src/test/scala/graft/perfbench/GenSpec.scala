package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The op stream is a function of the seed alone: the same seed gives a
  * byte-identical stream, a different seed a different one. */
class GenSpec extends AnyFunSuite {

  private val months = (1995 to 2001).flatMap(y => (1 to 12).map(m => f"$y-$m%02d")).take(80)
  private val domain = Gen.OrdersDomain(months, (1L to 150000L by 4).toIndexedSeq, 7)

  private def serve(seed: Long, n: Int = 400): String =
    new Gen.ServeGen(seed, domain).take(n).map(o => s"${o.cls}\t${o.text}").mkString("\n")

  private def curation(seed: Long): String =
    new Gen.CurationGen(seed, Curation.Queries).take(64).mkString("\n")

  /** A small synthetic initial state: the generator never reads Spark. */
  private def initial: Seq[Gen.OrderRow] =
    (0L until 5000L).map(k => Gen.OrderRow(k, k % 97, Gen.Statuses((k % 3).toInt),
      1000L + k * 7, 9131 + (k % 2400).toInt))

  private def cdc(seed: Long, segments: Int = 6): String = {
    val g = new Gen.CdcGen(seed, initial)
    (1 to segments).map(_ => g.nextSegment().map(_.text).mkString("\n")).mkString("\n--\n") +
      "\n" + g.checksum.text
  }

  test("serve: same seed, byte-identical stream; other seed, different stream") {
    assert(serve(7) == serve(7))
    assert(serve(7) != serve(8))
  }

  test("serve: point lookups draw keys that exist") {
    val lookups = new Gen.ServeGen(5, domain).take(800).filter(_.cls == "point_lookup").toSeq
    assert(lookups.nonEmpty && lookups.forall(o => domain.keys.contains(o.key)))
  }

  test("serve: every round runs each op class exactly once") {
    new Gen.ServeGen(3, domain).take(Gen.ServeClasses.size * 20).grouped(Gen.ServeClasses.size)
      .foreach(r => assert(r.map(_.cls).sorted == Gen.ServeClasses.sorted))
  }

  test("curation: same seed, same order; other seed, different order") {
    assert(curation(11) == curation(11))
    assert(curation(11) != curation(12))
    new Gen.CurationGen(5, Curation.Queries).take(Curation.Queries.size * 4)
      .grouped(Curation.Queries.size).foreach(r => assert(r.sorted == Curation.Queries.sorted))
  }

  test("cdc: same seed, byte-identical segments and model; other seed, different") {
    assert(cdc(21) == cdc(21))
    assert(cdc(21) != cdc(22))
  }

  test("cdc: each segment has the fixed op mix and increasing sync timestamps") {
    val g = new Gen.CdcGen(4, initial)
    (1 to 5).foreach { _ =>
      val seg = g.nextSegment()
      assert(seg.count(_.op == "insert") == g.inserts)
      assert(seg.count(_.op == "update") <= g.updates)
      assert(seg.count(_.op == "delete") <= g.deletes)
      assert(seg.map(_.ts) == seg.map(_.ts).sorted && seg.map(_.ts).distinct.size == seg.size)
    }
  }

  test("cdc: the model is last-writer-wins over the segment in sync-ts order") {
    val g = new Gen.CdcGen(9, initial)
    val before = initial.map(r => r.key -> r).toMap
    val seg = g.nextSegment()
    val last = seg.groupBy(_.row.key).map { case (k, cs) => k -> cs.maxBy(_.ts) }
    last.foreach { case (k, c) =>
      if (c.op == "delete") assert(!g.live.contains(k)) else assert(g.live(k) == c.row)
    }
    before.keys.filterNot(last.contains).foreach(k => assert(g.live(k) == before(k)))
  }
}
