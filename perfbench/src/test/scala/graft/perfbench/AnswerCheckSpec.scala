package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** A wrong answer must count as a failed op, for every kind of check the
  * workloads use. */
class AnswerCheckSpec extends AnyFunSuite {

  private val dec = new java.math.BigDecimal(_: String)

  test("serve rows: a corrupted value, a missing row or an extra row is a mismatch") {
    val want = Seq(Seq("F", 10L, dec("12.50")), Seq("O", 3L, dec("1.00")))
    val good = Array(Row("O", 3L, dec("1")), Row("F", 10L, dec("12.5000")))
    assert(Workload.sameRows(good, want).isEmpty)
    assert(Workload.sameRows(Array(Row("O", 3L, dec("1.01")), Row("F", 10L, dec("12.5"))), want).nonEmpty)
    assert(Workload.sameRows(good.take(1), want).nonEmpty)
    assert(Workload.sameRows(good :+ Row("P", 1L, dec("2")), want).nonEmpty)
  }

  test("cdc freshness: a read off by one row or one cent is a mismatch") {
    val rows = Seq(Gen.OrderRow(1, 2, "O", 150, 9000), Gen.OrderRow(5, 3, "F", 99, 9100))
    val want = Gen.Checksum.of(rows.iterator)
    def read(rs: Seq[Gen.OrderRow]) = {
      val c = Gen.Checksum.of(rs.iterator)
      Array(Row(c.n, c.keys.toLong, new java.math.BigDecimal(c.keyCents.bigInteger),
        c.keyStatus.toLong, c.custs.toLong, c.days.toLong))
    }
    assert(Cdc.check(read(rows), want).isEmpty)
    assert(Cdc.check(read(rows.take(1)), want).nonEmpty)
    assert(Cdc.check(read(Seq(rows(0).copy(cents = 151), rows(1))), want).nonEmpty)
  }

  test("curation digest: order-independent, and any changed value changes it") {
    val cols = Seq("b", "a")
    val rows = Seq(Row(1.5, "x"), Row(-0.0, "y"), Row(null, "z"))
    val d = RowHash.digest(cols, rows.iterator)
    assert(d == RowHash.digest(cols, rows.reverse.iterator))
    assert(d == RowHash.digest(cols, Seq(Row(1.5, "x"), Row(0.0, "y"), Row(null, "z")).iterator))
    assert(d != RowHash.digest(cols, Seq(Row(1.5000001, "x"), Row(0.0, "y"), Row(null, "z")).iterator))
    assert(d != RowHash.digest(cols, rows.take(2).iterator))
  }

  test("the harness counts an op with a wrong answer, and one that throws, as failed") {
    final class Fake(answers: Seq[Option[String]]) extends Workload {
      val opsPerCycle = 1
      val cycleSeconds = 1.0
      def build(s: org.apache.spark.sql.SparkSession, wh: String): Unit = ()
      def prepare(s: org.apache.spark.sql.SparkSession, wh: String): Unit = ()
      def op(i: Int, tr: Tracer, layers: Layers): Done = answers(i) match {
        case Some("throw") => throw new IllegalStateException("boom")
        case a => Done("fake", 1, () => a)
      }
    }
    val w = new Fake(Seq(None, Some("corrupted answer"), Some("throw"), None))
    val recs = (0 until 4).flatMap(i => Main.runPhase(w, new Tracer(false, null), new Layers, i, 1))
    assert(recs.map(_.ok) == Seq(true, false, false, true))
  }
}
