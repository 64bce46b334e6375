package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** The seeded op generators. Every op the benchmark runs — SQL text,
  * filter values, change-log segment rows and op order — comes out of one
  * of these, built from the workload seed alone (plus fixed facts about
  * the fixture), so a seed names one byte-identical op stream. They touch
  * no Spark state; `GenSpec` pins determinism without a session. */
object Gen {

  /** Fixed facts about the orders fixture the generators draw from:
    * its months, its order keys in ascending order, and the raw table's
    * snapshot count. */
  final case class OrdersDomain(months: IndexedSeq[String], keys: IndexedSeq[Long], snapshots: Int) {
    def maxKey: Long = keys.last
  }

  /** First instant of a "yyyy-MM" month as a SQL literal body. */
  def monthStart(m: String): String = s"$m-01 00:00:00"

  def nextMonth(m: String): String = {
    val (y, mo) = (m.take(4).toInt, m.drop(5).toInt)
    if (mo == 12) f"${y + 1}%04d-01" else f"$y%04d-${mo + 1}%02d"
  }

  val Statuses: IndexedSeq[String] = IndexedSeq("F", "O", "P")

  /** One serve op. `text` is its whole content: the exact SQL for SQL ops,
    * or the call and its arguments for `scan_api`. */
  final case class ServeOp(cls: String, text: String, lo: Int = 0, hi: Int = 0,
      status: String = "", key: Long = 0L, version: Int = 0, keyLo: Long = 0L, keyHi: Long = 0L)

  val ServeClasses: IndexedSeq[String] = IndexedSeq(
    "pruned_agg", "scan_api", "point_lookup", "meta_rollup",
    "gold_serve", "time_travel", "mor_read", "raw_join")

  /** Key-range granularity of `mor_read` windows (expected answers are
    * bucketed at this width). */
  val MorBucket = 5000L

  /** Serve ops in rounds: every round runs each op class once, in a
    * seeded order, so the class mix is the same in every run and only
    * parameters and order vary with the seed. */
  final class ServeGen(seed: Long, d: OrdersDomain) extends Iterator[ServeOp] {
    private val rnd = new SplittableRandom(seed)
    private var round = IndexedSeq.empty[String]
    def hasNext = true
    def next(): ServeOp = {
      if (round.isEmpty) round = shuffle(rnd, ServeClasses)
      val cls = round.head
      round = round.tail
      make(cls)
    }

    private def window(maxLen: Int): (Int, Int) = {
      val len = 1 + rnd.nextInt(maxLen)
      val lo = rnd.nextInt(d.months.size - len + 1)
      (lo, lo + len)
    }
    private def range(lo: Int, hi: Int): String =
      s"o_orderdate >= TIMESTAMP '${monthStart(d.months(lo))}' AND " +
        s"o_orderdate < TIMESTAMP '${monthStart(monthAfter(hi))}'"
    private def monthAfter(hi: Int): String = nextMonth(d.months(hi - 1))

    private def make(cls: String): ServeOp = cls match {
      case "pruned_agg" =>
        val (lo, hi) = window(12)
        ServeOp(cls, "SELECT o_orderstatus, COUNT(*) AS n, " +
          "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue FROM graft.orders_raw " +
          s"WHERE ${range(lo, hi)} GROUP BY o_orderstatus", lo = lo, hi = hi)
      case "scan_api" =>
        val (lo, hi) = window(6)
        val st = Statuses(rnd.nextInt(Statuses.size))
        ServeOp(cls, s"LakeTable(orders_raw).scan(filters = [o_orderdate >= " +
          s"${monthStart(d.months(lo))}, o_orderdate < ${monthStart(monthAfter(hi))}, " +
          s"o_orderstatus = $st]).agg(count, sum(o_orderkey))", lo = lo, hi = hi, status = st)
      case "point_lookup" =>
        val k = d.keys(rnd.nextInt(d.keys.size))
        ServeOp(cls, "SELECT o_orderkey, o_custkey, o_orderstatus, " +
          "CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM graft.orders_raw " +
          s"WHERE o_orderkey = $k", key = k)
      case "meta_rollup" =>
        val (lo, hi) = window(24)
        ServeOp(cls, "SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS lo, " +
          s"MAX(o_orderkey) AS hi FROM graft.orders_raw WHERE ${range(lo, hi)} " +
          "GROUP BY o_orderstatus", lo = lo, hi = hi)
      case "gold_serve" =>
        val (lo, hi) = window(12)
        ServeOp(cls, "SELECT order_month, status, order_count, revenue FROM graft.gold_orders " +
          s"WHERE order_month >= '${d.months(lo)}' AND order_month <= '${d.months(hi - 1)}'",
          lo = lo, hi = hi)
      case "time_travel" =>
        val v = 1 + rnd.nextInt(d.snapshots)
        ServeOp(cls, "SELECT o_orderstatus, COUNT(*) AS n, " +
          "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue " +
          s"FROM graft.orders_raw VERSION AS OF $v GROUP BY o_orderstatus", version = v)
      case "mor_read" =>
        val buckets = (d.maxKey / MorBucket + 1).toInt
        val len = 1 + rnd.nextInt(math.max(1, buckets / 2))
        val b = rnd.nextInt(buckets - len + 1)
        val (klo, khi) = (b * MorBucket, (b + len) * MorBucket)
        ServeOp(cls, "SELECT o_orderstatus, COUNT(*) AS n, " +
          "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue FROM graft.orders_mor " +
          s"WHERE o_orderkey >= $klo AND o_orderkey < $khi GROUP BY o_orderstatus",
          keyLo = klo, keyHi = khi)
      case "raw_join" =>
        val (lo, hi) = window(12)
        ServeOp(cls, "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(s.total_amount) AS revenue " +
          "FROM graft.silver_orders s JOIN customer c ON s.customer_id = c.c_custkey " +
          s"WHERE s.order_date >= TIMESTAMP '${monthStart(d.months(lo))}' " +
          s"AND s.order_date < TIMESTAMP '${monthStart(monthAfter(hi))}' " +
          "GROUP BY c.c_mktsegment", lo = lo, hi = hi)
    }
  }

  /** Curation ops: rounds of every registered curation query, each round
    * in a seeded order. */
  final class CurationGen(seed: Long, queries: IndexedSeq[String]) extends Iterator[String] {
    private val rnd = new SplittableRandom(seed)
    private var round = IndexedSeq.empty[String]
    def hasNext = true
    def next(): String = {
      if (round.isEmpty) round = shuffle(rnd, queries)
      val q = round.head
      round = round.tail
      q
    }
  }

  /** One live orders row of the CDC model. `cents` is the exact price in
    * cents; `day` the order date as epoch days. */
  final case class OrderRow(key: Long, cust: Long, status: String, cents: Long, day: Int)

  /** One change-log row: `op` ∈ update | delete | insert; `ts` is the sync
    * timestamp in epoch seconds (unique and increasing across the log). */
  final case class Change(op: String, row: OrderRow, ts: Long) {
    def text: String = s"$op,${row.key},${row.cust},${row.status},${row.cents},${row.day},$ts"
  }

  /** Change-log generator for `cdc_ingest`, and the driver-side model of
    * the live rows it implies. A segment holds 1000 rows, the reference's
    * OLake chunk size (`olake-config/source.json:15`). The reference
    * publishes no change mix, so the mix (60 % updates, 20 % deletes,
    * 20 % inserts), the recent window and the hot keys are this
    * benchmark's own choices: updates and deletes favour recent orders
    * (the last [[RecentDays]] of order dates) and [[HotKeys]] keys that
    * are updated again and again; inserts take fresh keys in recent
    * months. Applying a segment to the model is last-writer-wins per key
    * in sync timestamp order, the same rule the lake's CDC apply uses. */
  final class CdcGen(seed: Long, initial: Iterable[OrderRow],
      val updates: Int = 600, val deletes: Int = 200, val inserts: Int = 200) {
    private val rnd = new SplittableRandom(seed)
    val live = mutable.LongMap.empty[OrderRow]
    initial.foreach(r => live(r.key) = r)
    private val lastDay = live.valuesIterator.map(_.day).max
    private val recent: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.from(
      live.valuesIterator.filter(_.day > lastDay - RecentDays).map(_.key).toSeq.sorted)
    private val hot: IndexedSeq[Long] = IndexedSeq.fill(HotKeys)(recent(rnd.nextInt(recent.size)))
    private var nextKey = live.keysIterator.max + 1
    private var ts = SyncTsBase

    /** Distinct recent keys an update or delete may hit; dead ones are
      * skipped on draw. */
    private def pickLive(hotShare: Double): Option[Long] = {
      var tries = 0
      while (tries < 64) {
        val k = if (rnd.nextDouble() < hotShare) hot(rnd.nextInt(hot.size))
          else recent(rnd.nextInt(recent.size))
        if (live.contains(k)) return Some(k)
        tries += 1
      }
      None
    }

    private def price(): Long = 100L + rnd.nextLong(50000000L)

    /** The next segment, already applied to [[live]]. */
    def nextSegment(): IndexedSeq[Change] = {
      val kinds = shuffle(rnd,
        IndexedSeq.fill(updates)("update") ++ IndexedSeq.fill(deletes)("delete") ++
          IndexedSeq.fill(inserts)("insert"))
      val out = mutable.ArrayBuffer.empty[Change]
      kinds.foreach { kind =>
        ts += 1
        val change = kind match {
          case "update" =>
            pickLive(HotShare).map { k =>
              val r = live(k).copy(status = Statuses(rnd.nextInt(Statuses.size)), cents = price())
              Change("update", r, ts)
            }
          case "delete" =>
            pickLive(0.0).map(k => Change("delete", live(k), ts))
          case _ =>
            val r = OrderRow(nextKey, 1L + rnd.nextLong(14999L), "O", price(),
              lastDay - rnd.nextInt(RecentDays))
            nextKey += 1
            recent += r.key
            Some(Change("insert", r, ts))
        }
        change.foreach { c =>
          if (c.op == "delete") live.remove(c.row.key) else live(c.row.key) = c.row
          out += c
        }
      }
      out.toIndexedSeq
    }

    /** Order-independent checksum of the live rows; the freshness read
      * computes the same sums in SQL. */
    def checksum: Checksum = Checksum.of(live.valuesIterator)
  }

  val RecentDays = 365
  val HotKeys = 16
  val HotShare = 0.25
  val SyncTsBase = 2000000000L

  final case class Checksum(n: Long, keys: BigInt, keyCents: BigInt, keyStatus: BigInt,
      custs: BigInt, days: BigInt) {
    def text: String = s"n=$n keys=$keys keyCents=$keyCents keyStatus=$keyStatus custs=$custs days=$days"
  }
  object Checksum {
    def of(rows: Iterator[OrderRow]): Checksum = {
      var n = 0L
      var (k, kc, ks, c, d) = (BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
      rows.foreach { r =>
        n += 1
        k += r.key
        kc += BigInt(r.key) * r.cents
        ks += BigInt(r.key) * r.status.charAt(0).toInt
        c += r.cust
        d += r.day
      }
      Checksum(n, k, kc, ks, c, d)
    }
  }

  /** Fisher–Yates with the caller's generator. */
  def shuffle[A](rnd: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}
