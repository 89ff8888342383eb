package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Partitioning-invariance: every oracle-checked query must produce
  * byte-identical results under different shuffle-partition counts and
  * with AQE off — the property that makes local results transfer to a
  * 1000-executor cluster (a result that depends on partitioning would
  * silently diverge at scale). Each pick is its own test case, so one
  * query that throws hides no other comparison.
  */
class DeterminismSpec extends AnyFunSuite {

  lazy val base: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  // representative set: shuffle-heavy join/agg, window, LSH dedup,
  // top-k ranking, set-op, generator, plus the round-3 additions with
  // nontrivial distribution behavior: k-means IVF (float-avg training),
  // session windows, capped Jaccard, bucketed join — and the round-4
  // additions whose invariance is load-bearing: the HLL sketch union
  // (q27 — sketch merges must commute), the hash-membership sample
  // (p05), the streaming-engine gates (st02 windowed agg, st03 dedup —
  // micro-batch boundaries must not show), and the media-hash census
  // (m04)
  val picks = Seq("q03_join_agg", "q07_window_topn", "d04_minhash_lsh",
    "s01_knn_brute", "q09_setops", "g01_generator_ndv", "t05_tfidf",
    "s04_ann_ivf_kmeans", "st01_session_window", "d08_ngram_jaccard_capped",
    "p03_bucketed_join",
    "q27_sketch_union", "p05_stratified_sample", "st02_streaming_counts",
    "st03_streaming_dedup", "m04_media_dedup",
    // round-7 additions with nontrivial distribution behavior: the
    // two-phase prefix sum (group boundaries must not show), the
    // micro-unit quantization census (fold order must not show), and
    // one EP3 literal lookup (single-row corpus through the codecs)
    "p06_size_bins", "s05_quantize_census", "c12_ep3_twitter_max_id",
    "t10_rare_tokens",
    // round-8 additions: the canary-gated faces (the canary derivation
    // — max id, orderBy/limit source pick, routing aggregates — must
    // not depend on partitioning), the PII regex census, and SemDeDup
    // (float-mean training + within-cell census must not show
    // partition boundaries)
    "d10_decontamination", "t11_pii_census", "d11_semantic_dedup",
    // round-9 additions: the bucketed range join (bucket boundaries
    // must not show), the distributed-built bloom (partial-merge order
    // must not change the final result), and the shingle df census
    "q29_range_join", "p07_bloom_semijoin", "t12_dup_spans",
    // round-10 additions: the as-of window rewrite (per-user sort
    // order must not show partition boundaries), the CMS sketch
    // (cell counts are sums — combiner order must not show), the
    // two-level quantizer (coarse+fine float-mean training), and the
    // timeout sessionizer (micro-batch boundaries must not show)
    "q31_asof_join", "t13_cms_heavy_hitters", "d12_semdedup_2level",
    "st06_streaming_sessionize",
    // round-11 additions: the hierarchical-probe ANN search (coarse →
    // fine rank windows must not depend on partitioning) and the
    // delta-vs-index incremental dedup (bucketed-index candidate join
    // + verify must not show bucket or partition boundaries)
    "s06_ann_ivf_2level", "d13_incremental_dedup",
    // the PQ ADC pipeline: per-subspace float-mean training, argmin
    // encode, and the integer table-lookup sum — none of codebook
    // training, encode tie-breaks, or the ADC fold may show
    // partition boundaries
    "s07_pq_adc",
    // the bigram LM: corpus count tables + the integer nll fold —
    // neither count-join order nor the per-doc sum may show
    // partition boundaries
    "t14_lm_score",
    // the DSIR selection: count tables, the integer log-weight fold
    // and the top-k cutoff may not show partition boundaries
    "t15_dsir_weights",
    // the survivor selection: CC labels, the quality argmax and its
    // tie-break may not show partition boundaries
    "d14_canonical_docs",
    // the packing census: the two-phase prefix sum must produce the
    // same global offsets at any partitioning
    "t16_seq_packing",
    // the planted-docs generator: its whole contract is that the
    // corpus (and thus the census) is partitioning-independent
    "g02_generator_docs",
    // the filtered search: class-keyed candidates + window ranking
    // may not show partition boundaries
    "s08_filtered_knn",
    // the funnel: per-user min + windowed purchase count may not show
    // partition boundaries
    "q32_funnel",
    // the z-order census: normalization maxes, interleave, and box
    // min/max aggs are pure integer arithmetic — file assignment must
    // not show partitioning
    "p08_zorder_layout",
    // the in-row cell assignment of the IVF searches: the flat seeds,
    // the budgeted probe policy over the population census, and the
    // range tail may not show partition boundaries
    "s03_ann_ivf", "s15_adaptive_probes", "s19_range_search",
    // the in-row IVF-PQ serve path: the probed cells, the per-query ADC
    // table lookups and the unit sums — in-gate, re-ranked, persisted
    // and folded in — may not show partition boundaries
    "s09_ivf_pq", "s10_ivf_pq_rerank", "s11_persisted_ivf_pq", "s12_ivf_pq_foldin")

  /** One session per (shuffle partitions, AQE) setting, shared by every
    * pick; the first is the one the others are compared against. */
  private lazy val sessions: Seq[SparkSession] =
    Seq("4" -> "true", "13" -> "true", "7" -> "false").map { case (partitions, aqe) =>
      val s = base.newSession()
      s.conf.set("spark.sql.shuffle.partitions", partitions)
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      s
    }

  for (name <- picks) test(s"$name is invariant to shuffle partitions and AQE") {
    val Seq(a, b, c) = sessions.map(s => graft.core.Session.scoped(s)(
      SparkEntry.queries(name)(s, sf).collect().map(_.toSeq).toSeq))
    assert(a == b, s"$name diverged between 4 and 13 shuffle partitions")
    assert(a == c, s"$name diverged with AQE off")
  }
}
