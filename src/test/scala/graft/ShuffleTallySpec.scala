package graft

/** The scale curve's shuffle/spill byte column must measure real
  * exchange: a shuffling query tallies nonzero shuffle-write bytes, a
  * map-only scan tallies zero — so a `shuffle_mb` growth law read off
  * `SCALE_r*.json` reflects actual exchanged bytes, not a dead counter
  * (the listener bus is async; the spec drains it before reading). */
class ShuffleTallySpec extends SparkSpec {

  private def tallied(work: => Unit): (Long, Long) = {
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    try { work; org.apache.spark.ListenerDrain(spark.sparkContext) } finally
      spark.sparkContext.removeSparkListener(tally)
    (tally.write.get, tally.spill.get)
  }

  test("a groupBy exchange tallies nonzero shuffle bytes; a map-only scan tallies none") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, sfDir, "orders")
    val (wShuffle, _) = tallied {
      // disable AQE-independent partial-agg collapse risk: a 2-key
      // grouping over a near-unique key guarantees a real exchange
      assert(df.groupBy(col("o_orderkey"), col("o_custkey")).count().count() > 0)
    }
    assert(wShuffle > 0, "shuffling query tallied zero shuffle-write bytes")
    val (wScan, _) = tallied {
      // toRdd.count(): per-partition counts folded on the driver — no
      // exchange anywhere (DataFrame.count() itself plans a tiny
      // SinglePartition shuffle, which would false-positive here)
      assert(df.select(col("o_orderkey"))
        .where(col("o_orderkey") > 0).queryExecution.toRdd.count() > 0)
    }
    assert(wScan == 0, s"map-only scan tallied $wScan shuffle bytes")
  }
}
