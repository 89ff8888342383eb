package graft.gen

import graft.functions.TextFunctions.wordShingles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planted-documents corpus generator — the documents-table twin of
  * [[EventsGenerator]] (the reference generates only the events shape;
  * a dedup/similarity pipeline additionally needs corpora with KNOWN
  * ground truth to validate its tiers against). Three regimes, fully
  * columnar over `spark.range` (zero shuffle at any scale), seeded by
  * xxhash64 — same parameters ⇒ byte-identical corpus on any
  * partitioning:
  *
  *  - `background` docs: `wordsPerDoc` words drawn per-doc from a
  *    `vocab`-word vocabulary — word 3-gram shingles are effectively
  *    unique, so no cross-doc similarity;
  *  - `clusters` planted clusters × `clusterSize` members: members
  *    share a cluster base text and differ in exactly 3 of the 120
  *    word positions (pairwise Jaccard ≈ 0.74 — above the 0.6 dedup
  *    threshold), the ground truth the approximate dedup tiers must
  *    recover;
  *  - `boilerplate` byte-identical docs: the degenerate band key the
  *    LSH hot-bucket caps must skip (the exact tier d01/d02 catches
  *    these).
  *
  * Output is the REAL documents schema (doc_id, text, lang, source,
  * n_chars), so every gate query runs against a generated corpus
  * unchanged. The corpora the NOTES sweeps measure ARE this
  * generator's output. */
object DocsGenerator {

  /** word k of doc `id` — three regimes by id range (see scaladoc). */
  private def wordExpr(id: Column, k: Column, background: Long,
      clusters: Int, clusterSize: Int, vocab: Long): Column = {
    val planted = id >= background &&
      id < background + clusters.toLong * clusterSize
    val boiler = id >= background + clusters.toLong * clusterSize
    val c = ((id - background) / clusterSize).cast("long")
    val j = pmod(id - background, lit(clusterSize.toLong))
    val base = concat(lit("w"), pmod(xxhash64(lit(7L), c, k), lit(vocab)))
    val mutated = concat(lit("w"), pmod(xxhash64(lit(13L), c, k, j), lit(vocab)))
    when(boiler, concat(lit("w"), pmod(xxhash64(lit(4242L), k), lit(vocab))))
      .when(planted, when(pmod(k, lit(41)) === j, mutated).otherwise(base))
      .otherwise(concat(lit("w"), pmod(xxhash64(id, k), lit(vocab))))
  }

  /** The generated corpus in the real documents schema. */
  def generate(spark: SparkSession, background: Long, clusters: Int,
      clusterSize: Int, boilerplate: Long, wordsPerDoc: Int = 120,
      vocab: Long = 30000L): DataFrame = {
    val n = background + clusters.toLong * clusterSize + boilerplate
    spark.range(n).toDF("doc_id")
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(wordsPerDoc - 1)),
          k => wordExpr(col("doc_id"), k, background, clusters,
            clusterSize, vocab))).as("text"))
      .select(col("doc_id"), col("text"),
        element_at(array(lit("en"), lit("es"), lit("de"), lit("fr")),
          (pmod(xxhash64(col("doc_id"), lit(3L)), lit(4)) + 1).cast("int")).as("lang"),
        concat(lit("web-"), pmod(xxhash64(col("doc_id"), lit(5L)), lit(5))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Ground-truth census over a generated corpus — the invariants a
    * generator must satisfy BY CONSTRUCTION, verified by actually
    * running the dedup math over the output (the g01 pattern: the
    * oracle states the same numbers as literals):
    *  - n_docs: the corpus size;
    *  - n_distinct_texts: everything unique except the boilerplate
    *    block (one shared text);
    *  - planted_pairs_caught: exact word-3-gram Jaccard ≥ 0.6 pairs
    *    INSIDE planted clusters — every C(clusterSize,2) pair of every
    *    cluster, recovered by the same pair pipeline d03 gates;
    *  - cross_regime_pairs: Jaccard pairs that cross a regime boundary
    *    or link two different clusters — zero, or the planted truth is
    *    contaminated and every recall number the corpus produces is
    *    suspect. */
  def census(spark: SparkSession, background: Long, clusters: Int,
      clusterSize: Int, boilerplate: Long): DataFrame = {
    val d = generate(spark, background, clusters, clusterSize, boilerplate)
    val sh = d.select(col("doc_id"), wordShingles(col("text"), 3).as("sh"))
    val pairs = graft.operators.Dedup.ngramJaccardPairs(sh, maxShingleDf = None)
    val pLo = lit(background)
    val pHi = lit(background + clusters.toLong * clusterSize)
    val planted = col("ida") >= pLo && col("ida") < pHi &&
      col("idb") >= pLo && col("idb") < pHi &&
      ((col("ida") - pLo) / clusterSize).cast("long") ===
        ((col("idb") - pLo) / clusterSize).cast("long")
    val boilerPair = col("ida") >= pHi && col("idb") >= pHi
    d.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"))
      .crossJoin(pairs.agg(
        sum(when(planted, 1L).otherwise(0L)).as("planted_pairs_caught"),
        sum(when(!planted && !boilerPair, 1L).otherwise(0L)).as("cross_regime_pairs")))
  }

  /** g02 driver query: generator ground-truth invariants at a gate-size
    * corpus — 2000 background + 20 clusters × 4 + 50 boilerplate =
    * 2130 docs, 2081 distinct texts (boilerplate collapses to one),
    * all 20·C(4,2) = 120 planted pairs recovered, zero contamination. */
  def g02(spark: SparkSession, dir: String): DataFrame =
    census(spark, 2000L, 20, 4, 50L)

  val oracles: Map[String, String] = Map(
    // literals by construction (the g01 pattern): the Spark side must
    // have measured exactly these from the generated corpus
    "g02_generator_docs" ->
      ("SELECT CAST(2130 AS BIGINT) AS n_docs, CAST(2081 AS BIGINT) AS n_distinct_texts, " +
        "CAST(120 AS BIGINT) AS planted_pairs_caught, CAST(0 AS BIGINT) AS cross_regime_pairs")
  )
}
