package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** `curation`: the registered LLM-data curation queries, in seeded rounds
  * over the documents fixture. CPU-dense work in the `graft.plans` kernels
  * and `Tables.fanOut` parallelism, with no lake metadata. Each result is
  * digested ([[RowHash]]) and compared with the answer its DuckDB oracle
  * gives on the same fixture (stored by `oracle_answers.py`). */
final class Curation(data: String, seed: Long, answers: Map[String, RowHash.Digest])
    extends Workload {
  import Curation._

  val opsPerCycle: Int = Queries.size
  val cycleSeconds: Double = 11.0
  private val gen = new Gen.CurationGen(seed, Queries)
  private var spark: SparkSession = _

  /** The documents fixture is read in place; there is no lake to build. */
  def build(s: SparkSession, wh: String): Unit = ()

  def prepare(s: SparkSession, wh: String): Unit = {
    spark = s
    Queries.foreach(q => require(answers.contains(q), s"no stored answer for $q"))
  }

  def op(i: Int, tr: Tracer, layers: Layers): Done = {
    val name = gen.next()
    val (df, buildMs) = tr.timed("operators.build")(SparkEntry.queries(name)(spark, data))
    layers.add("operators.build_ms", buildMs)
    val rows = Workload.collectPlanned(df, tr, layers)
    Done(name, rows.length, () => {
      val got = RowHash.digest(df.columns.toSeq, rows.iterator)
      val want = answers(name)
      if (got == want) None else Some(s"digest $got, oracle $want")
    })
  }
}

object Curation {
  val Queries: IndexedSeq[String] = IndexedSeq(
    "q35_dedup_stats", "q38_minhash_neardup_pairs", "q68_jaccard_similarity_join",
    "q99_neardup_components", "q103_curation_pipeline", "q104_repetition_scores",
    "q107_duplicate_spans", "q94_image_decode_stats")

  def oracles: Map[String, String] =
    Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap

  /** Parse the stored answers file written by `oracle_answers.py`. */
  def loadAnswers(path: String): Map[String, RowHash.Digest] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val a = root.get("answers")
    a.fieldNames().asScala.map { n =>
      val e = a.get(n)
      n -> RowHash.Digest(e.get("rows").asLong(), e.get("hash").asText())
    }.toMap
  }
}
