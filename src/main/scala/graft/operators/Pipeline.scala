package graft.operators

import graft.core.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end curation pipeline — the FineWeb/RefinedWeb-shaped chain a
  * training-data user actually executes (quality filter → near-dup
  * removal with survivor selection → decontamination → sequence
  * packing), run as ONE job with per-stage retention accounting. Every
  * stage reuses the per-operator machinery gated elsewhere (t02, d08,
  * d14/d15, d10, t16); what THIS gate adds is stage INTEROP — each
  * stage consumes the previous stage's survivor set, so schema drift or
  * a survivor-set bug between stages breaks the census even when every
  * per-operator gate stays green (round-11 verdict item 2).
  */
object Pipeline {

  /** Stage-1 keep bar on t02's quality_bp (drops roughly the bottom
    * quarter of the synthetic corpus — a realistic pre-filter rate). */
  private[graft] val E01QualityBp = 4500L

  /** CONTAINMENT-stage drop set over a survivor frame (round-17
    * verdict item 4 — the quote/excerpt shape the symmetric Jaccard
    * stage provably passes: a short doc fully quoted inside a long
    * survivor has Jaccard ≈ |short|/|long|, far under d08's bar,
    * while its containment is 1.0): d18's sketch-tier chain (result ==
    * d17 exactly, gated there) emits directional pairs at
    * [[Dedup.D17Tau]]; the CONTAINED side drops — its shingles already
    * live inside the surviving container, so the shipped corpus loses
    * (almost) nothing and the duplication goes away — and in a MUTUAL
    * containment pair the lower id survives (d02's keep-lowest rule).
    * A pipeline with the opposite editorial policy (protect originals,
    * drop aggregators) flips the face; the operator emits both
    * directions. Single-pass, not iterative: a doc contained only in
    * a doc that itself drops still drops (its content survives
    * transitively in the final container — documented, spec-pinned on
    * the planted fixture). */
  private[graft] def containmentDrops(spark: SparkSession,
      survivors: DataFrame, cap: Long): DataFrame =
    containmentDropsFromPostings(spark,
      Dedup.postingsOf(Dedup.shingledOf(survivors)), cap)

  /** [[containmentDrops]] over ALREADY-EXPLODED hashed postings of the
    * survivor frame — the e01 stage-reuse seam (stage 3 re-slices the
    * chain's one materialized postings table instead of re-tokenizing
    * the survivors). Semantics identical. */
  private[graft] def containmentDropsFromPostings(spark: SparkSession,
      inv: DataFrame, cap: Long): DataFrame = {
    val cpairs = Dedup.d18OverPostings(spark, inv, Some(cap))._2
      .select(col("contained_id"), col("container_id")).localCheckpoint()
    val mutual = cpairs.as("x").join(cpairs.as("y"),
        col("x.contained_id") === col("y.container_id") &&
          col("x.container_id") === col("y.contained_id"))
      .select(col("x.contained_id"), col("x.container_id"))
    cpairs.join(mutual, Seq("contained_id", "container_id"), "left_anti")
      .select(col("contained_id").as("doc_id"))
      .unionByName(mutual.filter(col("contained_id") > col("container_id"))
        .select(col("contained_id").as("doc_id")))
      .distinct()
  }

  /** LONG-SPAN-stage drop set (round-17 verdict item 4 — the 50-token
    * verbatim splice neither Jaccard nor containment reaches: spliced
    * into enough fresh text, the shared span is a minority of BOTH
    * docs' shingle sets): t27's anchor tier (lossless for spans ≥
    * [[TextOps.T27Min]] tokens, gated against the brute-force oracle)
    * finds every cross-doc verbatim span among the survivors; the
    * HIGHER-id member of each spanning pair drops (d02's keep-lowest
    * rule on the span graph). At deploy the excision form (cut the
    * span, keep the rest) is t21's gate; the curation chain drops
    * whole docs so the census stays a document count. */
  private[graft] def spanDrops(spark: SparkSession,
      survivors: DataFrame): DataFrame =
    TextOps.t27SpansOver(spark, survivors)
      .select(col("doc_b").as("doc_id")).distinct()

  /** e01: the seven-stage curation chain over `documents`, emitting
    * one census row per stage: (stage, stage_name, n_in, n_out).
    *
    *  1. quality   — keep docs with t02 quality_bp ≥ [[E01QualityBp]]
    *     (map-only score, one semi join);
    *  2. dedup     — d08's corpus-relative df-capped pair graph OVER THE
    *     SURVIVORS, pointer-jumping CC, then d14's survivor rule (keep
    *     the highest-quality member per cluster, tie → lowest id);
    *  3. containment — [[containmentDrops]]: the quote/excerpt shape
    *     stage 2's symmetric Jaccard provably passes (round-17 verdict
    *     item 4), via d18's sketch tier over the stage-2 survivors;
    *  4. span_dedup  — [[spanDrops]]: ≥[[TextOps.T27Min]]-token
    *     verbatim splices neither Jaccard nor containment reaches,
    *     via t27's lossless anchor tier;
    *  5. semantic  — d11's SemDeDup over the survivors' EMBEDDINGS
    *     (survivor doc_ids joined to `embeddings` on vec_id): quantizer
    *     cells trained on the survivor set, drop every doc with a
    *     lower-id within-cell neighbor at cos ≥ τ — the embedding-level
    *     dedup real recipes run AFTER lexical dedup (round-12 verdict
    *     item 3; SemDeDup, Abbas et al. 2023). Docs without an
    *     embedding row pass through untouched (no embedding ⇒ nothing
    *     to compare — never silently dropped);
    *  4. decontam  — d10's 8-gram overlap vs the p04 holdout split,
    *     computed over the stage-3 survivors: keep train-split docs
    *     (bucket < 980) with no flagged holdout overlap (the holdout
    *     docs themselves leave the training corpus here too);
    *  5. pack      — t16's fixed-512-token packing over the survivors
    *     in doc_id order; n_out is the packed-SEQUENCE count
    *     ⌈Σtokens / 512⌉, the number of training rows shipped.
    *
    * 100 TB shape: every stage is the operator's own scale form (capped
    * pair graph, O(log d) CC, within-cell-only SemDeDup at n²/K,
    * holdout-side postings, two-phase token sum); the `count()` reads
    * are the documented corpus-relative cap/routing scalars (the
    * d08/d10 precedent — at deploy each stage would persist its
    * survivor set and the counts are free parquet metadata; the
    * semantic stage's survivor-embedding scratch write IS that persist
    * step, reusing the d11 machinery verbatim). The census itself is
    * assembled declaratively from single-row aggregates — no
    * driver-side result reads. */
  def e01Curation(spark: SparkSession, dir: String): DataFrame =
    e01CurationAt(spark, dir, E01QualityBp)

  /** [[e01Curation]] at an explicit stage-1 bar — the OperatorSpec
    * counterfactual seam: bar = 0 disables the quality stage, and the
    * downstream census MUST change (each stage consumes the previous
    * stage's survivor set, so a disabled stage propagates). */
  private[graft] def e01CurationAt(spark: SparkSession, dir: String,
      qualityBar: Long): DataFrame = {
    val d = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // the quality score table is consulted twice (the stage-1 keep-set
    // and the d14 survivor argmax) — one corpus-sized two-column frame,
    // checkpointed so the t02 scoring chain runs once per query
    val qual = TextOps.t02Quality(spark, dir)
      .select(col("doc_id"), col("quality_bp")).localCheckpoint()
    // stage 1: quality keep-set — checkpointed like every other stage
    // input: s1 is walked four times (routing count, the d08 pair
    // graph, the s2 join, the census), and an unmaterialized s1
    // re-runs the t02 scoring chain per reference
    val s1 = d.join(qual.filter(col("quality_bp") >= qualityBar)
      .select("doc_id"), "doc_id").localCheckpoint()
    val n1 = s1.count() // routing scalar: the corpus-relative df cap
    // ONE hashed-postings table over the stage-1 survivors,
    // materialized: the stage-2 pair graph and the stage-3 containment
    // chain both consume it (each with its own corpus-relative cap,
    // identical expressions) — the round-18 shape re-ran tokenize +
    // shingle over the survivor corpus once per stage (guide §1.2)
    val invS1 = Dedup.postingsOf(Dedup.shingledOf(s1)).localCheckpoint()
    // stage 2: capped pair graph over survivors → CC → canonical member
    val pairs = Dedup.ngramJaccardPairsFromPostings(invS1, Some(Dedup.capDf(n1)))
      .select(col("ida"), col("idb"))
    val labels = Dedup.connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("lbl"))
    val clustered = s1.select("doc_id").join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      .join(qual, "doc_id")
    // the survivor id set feeds the semantic-stage scratch write, s3,
    // and the census — checkpoint it (the d07 discipline) so the
    // pair-graph + CC + argmax chain materializes once
    val canonIds = clustered.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality_bp"), (-col("doc_id")).as("nid"))).as("doc_id"))
      .select("doc_id").localCheckpoint()
    // stage 3 re-slices the chain's one materialized postings table by
    // the canonical-survivor ids instead of re-tokenizing the survivor
    // text (per-doc shingles are a pure function of the text, so the
    // semi-join restriction is exactly shingledOf(s2); the df cap
    // recomputes over the restricted postings, same expressions). s2
    // itself stays lazy: its only remaining walks are the routing
    // count and the s3c join, both riding the materialized canonIds —
    // the round-18 checkpoint here re-wrote the survivor text for
    // consumers the postings reuse just removed (guide §5).
    val s2 = d.join(canonIds, "doc_id")
    val n2 = s2.count() // routing scalar: the containment-stage df cap
    // stage 3: CONTAINMENT dedup (quote/excerpt shape) over the
    // canonical survivors — the round-17 quote-farm gap, closed with
    // the d18 sketch tier (== d17 exactly)
    val s3c = s2.join(containmentDropsFromPostings(spark,
        invS1.join(canonIds, Seq("doc_id"), "left_semi"), Dedup.capDf(n2)),
      Seq("doc_id"), "left_anti").localCheckpoint()
    // stage 4: LONG-SPAN dedup — a ≥[[TextOps.T27Min]]-token verbatim
    // splice between survivors drops the higher id (the round-17
    // long-splice gap, closed with t27's lossless anchor tier)
    val s4sp = s3c.join(spanDrops(spark, s3c), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // stage 5: SEMANTIC dedup over the survivors' embeddings — the
    // survivor-joined embedding set lands as a scratch corpus so d11's
    // train/assign/pair machinery runs on it verbatim (quantizer K and
    // stride seeds re-derive from the SURVIVOR count, exactly what the
    // oracle's own count(*) does)
    val semDir = graft.core.IO.scratchDir("graft-e01sem")
    Tables(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .join(s4sp.select(col("doc_id").as("vec_id")), "vec_id")
      .write.mode("overwrite").parquet(s"$semDir/embeddings.parquet")
    // the drop set PERSISTS like the embeddings above: the census
    // evaluates s3 through several downstream branches (n3/n4/nseq/
    // contamination), and an unmaterialized drop set would re-run the
    // whole quantizer training once per branch (measured: 13.3 s vs
    // 5.2 s at sf0.1 before this landing) — persisting stage artifacts
    // is also exactly what the deploy pipeline does between stages
    Similarity.d11DroppedIds(spark, semDir)
      .select(col("vec_id").as("doc_id"))
      .write.mode("overwrite").parquet(s"$semDir/dropped.parquet")
    val semDropped = spark.read.parquet(s"$semDir/dropped.parquet")
    val s5 = s4sp.join(semDropped, Seq("doc_id"), "left_anti")
    val n5 = s5.count() // routing scalar: decontam's corpus-relative cap
    // stage 6: holdout-overlap decontamination over the survivors —
    // checkpointed (small id set) because s6 is walked by both the
    // pack stage and the census
    val contaminated = Dedup.decontaminate(s5, n5)
      .select(col("train_id").as("doc_id")).distinct().localCheckpoint()
    val s6 = s5.filter(Sinks.splitBucket(col("doc_id")) < 980)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // stage 7: packed-sequence count over survivors (t16's token rule)
    val packed = s6.select(size(tokens(col("text"))).cast("long").as("n_tokens"))
      .agg(expr(s"(coalesce(sum(n_tokens), 0) + ${TextOps.T16SeqLen - 1}) " +
        s"div ${TextOps.T16SeqLen}").as("nseq"))
    // census: single-row aggs cross-joined (all 1×1), exploded to rows
    val counts = d.agg(count(lit(1)).as("n0"))
      .crossJoin(s1.agg(count(lit(1)).as("n1")))
      .crossJoin(s2.agg(count(lit(1)).as("n2")))
      .crossJoin(s3c.agg(count(lit(1)).as("n3")))
      .crossJoin(s4sp.agg(count(lit(1)).as("n4")))
      .crossJoin(s5.agg(count(lit(1)).as("n5")))
      .crossJoin(s6.agg(count(lit(1)).as("n6")))
      .crossJoin(packed)
    counts.select(explode(array(
        struct(lit(1L).as("stage"), lit("quality").as("stage_name"),
          col("n0").as("n_in"), col("n1").as("n_out")),
        struct(lit(2L).as("stage"), lit("dedup_canonical").as("stage_name"),
          col("n1").as("n_in"), col("n2").as("n_out")),
        struct(lit(3L).as("stage"), lit("containment").as("stage_name"),
          col("n2").as("n_in"), col("n3").as("n_out")),
        struct(lit(4L).as("stage"), lit("span_dedup").as("stage_name"),
          col("n3").as("n_in"), col("n4").as("n_out")),
        struct(lit(5L).as("stage"), lit("semantic").as("stage_name"),
          col("n4").as("n_in"), col("n5").as("n_out")),
        struct(lit(6L).as("stage"), lit("decontam").as("stage_name"),
          col("n5").as("n_in"), col("n6").as("n_out")),
        struct(lit(7L).as("stage"), lit("pack").as("stage_name"),
          col("n6").as("n_in"), col("nseq").as("n_out")))).as("r"))
      .select(col("r.stage"), col("r.stage_name"), col("r.n_in"), col("r.n_out"))
      .orderBy("stage")
  }

  /** The e02 base/delta split: delta = the last tenth of the corpus by
    * doc_id, both engines re-deriving the bound from their own count
    * (the s12 discipline). */
  private[graft] val E02BaseNum = 9L
  private[graft] val E02BaseDen = 10L

  /** e02: INCREMENTAL curation — e01's chain run the way a deployment
    * actually runs it after day one: the corpus state is already
    * curated and persisted, and each ingest cycle curates ONLY the
    * delta against that state (the d13/m08/s12 fold-in discipline
    * applied to the whole pipeline). Base state here is the
    * quality-surviving first [[E02BaseNum]]/[[E02BaseDen]] of the
    * corpus (at deploy: the persisted survivor set + its shingle
    * index); the delta (the remaining tail) flows through four
    * delta-sized stages, each emitting a census row:
    *
    *  1. quality        — t02's bar, map-only over the DELTA;
    *  2. dedup_vs_base  — drop delta docs whose df-capped 3-gram
    *     Jaccard against ANY base survivor reaches d08's bar (the
    *     postings join is delta×index, never base×base — at deploy the
    *     base side is the persisted d13-bucketed index and this join
    *     exchanges nothing corpus-side);
    *  3. dedup_within   — d08 pairs among the stage-2 survivors → CC →
    *     d14's canonical rule (the delta can carry its own dup
    *     clusters — a delta-vs-index check alone would admit every
    *     member of a new cluster);
    *  4. containment    — drop delta docs CONTAINED (≥ [[Dedup
    *     .D17Tau]] of their capped shingles) in a base survivor or a
    *     lower-id surviving doc — the quote/excerpt shape stage 2's
    *     symmetric bar passes (round-17 verdict item 4);
    *  5. span_dedup     — drop delta docs sharing a ≥[[TextOps
    *     .T27Min]]-token verbatim span with a base survivor or a
    *     lower-id surviving delta doc (t27's lossless anchor tier);
    *  6. decontam       — the surviving delta against the PERSISTED
    *     holdout split of the whole corpus (the eval set is global
    *     state, not delta state: a delta doc contaminated against
    *     last month's benchmark must still drop);
    *  7. pack           — t16's sequence count over the shipped delta.
    *
    * Lexical + decontamination tiers only, by design: they are the
    * tiers with persisted-index fold-in forms (d13/d10); the semantic
    * tier's incremental form is s12's frozen-model assignment and is
    * gated there. The oracle replays the WHOLE thing — base survivor
    * derivation included — as one WITH; the engine's per-stage
    * `count()`s are the documented corpus-relative cap scalars (e01's
    * precedent). 100 TB: every stage is delta-sized except the one
    * base-survivor shingle pass, which at deploy is the ALREADY
    * PERSISTED index (the gate re-derives it because the gate owns no
    * cross-round state). */
  def e02IncrementalCuration(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val n = d.count() // parquet metadata count
    val nb = n * E02BaseNum / E02BaseDen
    val qual = TextOps.t02Quality(spark, dir).select(col("doc_id"), col("quality_bp"))
    // quality keep-set: one small id frame consulted by the base
    // derivation, the delta gate and every downstream stage lineage —
    // checkpointed so the t02 scoring chain runs ONCE per query instead
    // of once per reference (guide §5; measured as part of the round-19
    // e02 restructure)
    val passing = qual.filter(col("quality_bp") >= E01QualityBp)
      .select("doc_id").localCheckpoint()
    // base survivors: ~90% of the corpus and IMMUTABLE across the whole
    // chain — materialize the text once and let every stage re-slice it
    // (at deploy this is the persisted curated corpus, never recomputed)
    val baseS = d.filter(col("doc_id") < nb).join(passing, "doc_id")
      .localCheckpoint()
    val nbS = baseS.count()
    val deltaAll = d.filter(col("doc_id") >= nb)
    // stage 1: quality gate on the delta (delta-sized; `passing` is
    // materialized, so each reference below is a cheap id join)
    val s1 = deltaAll.join(passing, "doc_id")
    val nu = nbS + s1.count() // routing scalar: the corpus-relative df cap
    // ONE hashed-postings table over base ∪ delta survivors, UNCAPPED,
    // materialized: stages 2 and 4 both consume it, each re-deriving
    // its own corpus-relative df cap over its own survivor slice
    // (identical cap/intersection expressions as before). The round-18
    // shape re-ran tokenize + shingle over the ~90% base side once per
    // stage (guide §1.2: remove repeated passes); at deploy this
    // postings table is the persisted d13-shaped index the scaladoc
    // already names.
    // pairs with ida < nb ≤ idb are delta-vs-base hits, pairs with
    // nb ≤ ida are within-delta
    val invU = Dedup.postingsOf(Dedup.shingledOf(baseS.unionByName(s1)))
      .localCheckpoint()
    val pairs = Dedup.ngramJaccardPairsFromPostings(invU, Some(Dedup.capDf(nu)))
      .select(col("ida"), col("idb")).localCheckpoint()
    // stage 2: drop delta docs near-dup of a base survivor
    val crossDrop = pairs.filter(col("ida") < nb && col("idb") >= nb)
      .select(col("idb").as("doc_id")).distinct()
    val s2 = s1.join(crossDrop, Seq("doc_id"), "left_anti")
    // stage 3: within-delta pairs among stage-2 survivors → CC → d14
    val p3 = pairs.filter(col("ida") >= nb)
      .join(s2.select(col("doc_id").as("ida")), "ida")
      .join(s2.select(col("doc_id").as("idb")), "idb")
      .select("ida", "idb")
    val labels = Dedup.connectedComponents(p3)
      .select(col("node").as("doc_id"), col("lbl"))
    val canonIds = s2.select("doc_id").join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      .join(qual, "doc_id")
      .groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality_bp"), (-col("doc_id")).as("nid"))).as("doc_id"))
      .select("doc_id").localCheckpoint()
    val s3 = s2.join(canonIds, "doc_id")
    // stage 4: CONTAINMENT vs the index — a delta doc contained in a
    // base survivor or in any LOWER-id survivor drops (base state is
    // immutable within an ingest cycle, so only delta docs drop; the
    // arrival-order rule makes the incremental chain deterministic).
    // The pair set comes from d18's sketch chain over base ∪ delta
    // survivors — at deploy the base postings are the persisted index
    // (the e02 stage-2 argument). Round 19: the stage re-slices the
    // chain's ONE materialized postings table by survivor id instead of
    // re-tokenizing base ∪ delta (per-doc shingles are a pure function
    // of the text, so the semi-join restriction is exactly
    // shingledOf(u3); the df cap recomputes over the restricted
    // postings with the same expressions)
    val nu3 = nbS + s3.count() // routing scalar: the containment df cap
    val u3ids = baseS.select("doc_id").unionByName(s3.select("doc_id"))
    val invU3 = invU.join(u3ids, Seq("doc_id"), "left_semi")
    val cpairs = Dedup.d18OverPostings(spark, invU3,
      Some(Dedup.capDf(nu3)))._2
    val cdrop = cpairs.filter(col("contained_id") >= nb &&
        col("container_id") < col("contained_id"))
      .select(col("contained_id").as("doc_id")).distinct().localCheckpoint()
    val s4c = s3.join(cdrop, Seq("doc_id"), "left_anti")
    // stage 5: LONG-SPAN vs the index — a delta doc sharing a
    // ≥T27Min-token verbatim span with a base survivor or a lower-id
    // delta survivor drops (t27 emits doc_a < doc_b, so doc_b ≥ nb IS
    // the delta side of every cross pair and the higher id within
    // delta). No checkpoint of the union: t27SpansOver walks its input
    // exactly once (its positional gram table checkpoints internally),
    // the base side is already the materialized baseS, and the delta
    // side is delta-sized — the round-18 checkpoint here re-wrote the
    // whole corpus text for a single consumer (guide §5)
    val u5 = baseS.unionByName(s4c)
    val sdrop = TextOps.t27SpansOver(spark, u5)
      .filter(col("doc_b") >= nb)
      .select(col("doc_b").as("doc_id")).distinct()
    val s5sp = s4c.join(sdrop, Seq("doc_id"), "left_anti").localCheckpoint()
    // stage 6: survivors vs the GLOBAL holdout split (identical rows
    // dedupe, so dropDuplicates is deterministic here)
    val holdoutAll = d.filter(Sinks.splitBucket(col("doc_id")) >= 980)
    val u6 = s5sp.unionByName(holdoutAll).dropDuplicates("doc_id")
    val n6c = u6.count() // routing scalar: decontam's cap
    // contaminated ids feed s6, which the pack stage AND the census
    // both walk — checkpoint the 8-gram overlap scan (small id set)
    val contaminated = Dedup.decontaminate(u6, n6c)
      .select(col("train_id").as("doc_id")).distinct().localCheckpoint()
    val s6 = s5sp.filter(Sinks.splitBucket(col("doc_id")) < 980)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // stage 7: packed-sequence count over the shipped delta
    val packed = s6.select(size(tokens(col("text"))).cast("long").as("n_tokens"))
      .agg(expr(s"(coalesce(sum(n_tokens), 0) + ${TextOps.T16SeqLen - 1}) " +
        s"div ${TextOps.T16SeqLen}").as("nseq"))
    val counts = deltaAll.agg(count(lit(1)).as("n0"))
      .crossJoin(s1.agg(count(lit(1)).as("n1")))
      .crossJoin(s2.agg(count(lit(1)).as("n2")))
      .crossJoin(s3.agg(count(lit(1)).as("n3")))
      .crossJoin(s4c.agg(count(lit(1)).as("n4")))
      .crossJoin(s5sp.agg(count(lit(1)).as("n5")))
      .crossJoin(s6.agg(count(lit(1)).as("n6")))
      .crossJoin(packed)
    counts.select(explode(array(
        struct(lit(1L).as("stage"), lit("quality").as("stage_name"),
          col("n0").as("n_in"), col("n1").as("n_out")),
        struct(lit(2L).as("stage"), lit("dedup_vs_base").as("stage_name"),
          col("n1").as("n_in"), col("n2").as("n_out")),
        struct(lit(3L).as("stage"), lit("dedup_within").as("stage_name"),
          col("n2").as("n_in"), col("n3").as("n_out")),
        struct(lit(4L).as("stage"), lit("containment").as("stage_name"),
          col("n3").as("n_in"), col("n4").as("n_out")),
        struct(lit(5L).as("stage"), lit("span_dedup").as("stage_name"),
          col("n4").as("n_in"), col("n5").as("n_out")),
        struct(lit(6L).as("stage"), lit("decontam").as("stage_name"),
          col("n5").as("n_in"), col("n6").as("n_out")),
        struct(lit(7L).as("stage"), lit("pack").as("stage_name"),
          col("n6").as("n_in"), col("nseq").as("n_out")))).as("r"))
      .select(col("r.stage"), col("r.stage_name"), col("r.n_in"), col("r.n_out"))
      .orderBy("stage")
  }

  /** e03: LEAKAGE-SAFE train/val/test split — the split assignment a
    * curation pipeline actually ships. p04's per-document modular
    * bucket is reproducible but LEAKS: two near-duplicate documents
    * hash independently, so one can land in train while its twin lands
    * in the eval split — the dedup tier's pair graph is a list of
    * exactly such leaks (the train/test-overlap failure Lee et al.
    * 2022 measure). The unit of assignment must therefore be the
    * NEAR-DUP CLUSTER, not the document: d08's df-capped pair graph
    * (the deploy form) → pointer-jumping CC → every member inherits
    * the bucket of its cluster_id, so no near-dup pair can straddle a
    * split boundary BY CONSTRUCTION (both ends share a cluster_id).
    * Singletons keep their own id as cluster_id, which makes the
    * assignment identical to p04's for every unclustered doc; the
    * naive per-doc verdict rides along as `naive_split` so the output
    * itself exhibits where cluster-awareness changed the assignment.
    *
    * 100 TB shape: the pair graph and CC are d08/d07's own scale forms
    * (at deploy the labels are the persisted d07 artifact, not
    * recomputed); the assignment itself is one left join against the
    * node-sized label table plus map-only bucket arithmetic. */
  def e03ClusterSplit(spark: SparkSession, dir: String): DataFrame =
    clusterSafeSplit(
      Tables(spark, dir, "documents").select("doc_id"),
      Dedup.d08NgramJaccardCapped(spark, dir).select("ida", "idb"))

  /** Assignment seam shared with the OperatorSpec counterfactual (a
    * planted cluster whose members' naive buckets straddle a split
    * boundary must be unified). */
  private[graft] def clusterSafeSplit(ids: DataFrame,
      pairs: DataFrame): DataFrame = {
    def splitName(b: Column): Column =
      when(b < 980, "train").when(b < 990, "val").otherwise("test")
    val labels = Dedup.connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("lbl"))
    ids.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      .select(col("doc_id"), col("cluster_id"),
        splitName(Sinks.splitBucket(col("cluster_id"))).as("split"),
        splitName(Sinks.splitBucket(col("doc_id"))).as("naive_split"))
      .orderBy("doc_id")
  }

  /** e03 oracle: the capped pair graph + recursive-CTE components (the
    * d15 chain), then the p04 modular bucket applied to cluster_id and
    * doc_id side by side. */
  private[graft] val e03Sql: String = {
    def splitCase(c: String): String =
      s"CASE WHEN (($c % 1000) * 761) % 1000 < 980 THEN 'train' " +
        s"WHEN (($c % 1000) * 761) % 1000 < 990 THEN 'val' ELSE 'test' END"
    "WITH pairs AS (" +
      Dedup.jaccardSqlWith(Some(Dedup.fullCorpusCapSql))
        .replace(" ORDER BY ida, idb", "") + "), " +
      Dedup.ccLabCtes +
      "cl AS (SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster_id " +
      "FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id) " +
      s"SELECT doc_id, cluster_id, ${splitCase("cluster_id")} AS split, " +
      s"${splitCase("doc_id")} AS naive_split FROM cl ORDER BY doc_id"
  }

  /** e02 oracle: the delta chain as ONE WITH — base-survivor
    * derivation, delta quality, the shared shingle pass with the
    * df cap over base∪delta survivors, cross/within pair splits, the
    * recursive-CTE components + d14 window, the global-holdout 8-gram
    * overlap, and the packed count — caps re-derived from the oracle's
    * OWN counts (the e01 rule). */
  /** Containment-stage oracle CTEs over survivor CTE `src` (doc_id,
    * text): capped postings (cap re-derived from the oracle's OWN
    * `src` count — the e01 rule), directional pairs at
    * [[Dedup.D17Tau]] as `<p>cp(cid, rid)` = (contained, container).
    * Shared by the e01/e02 oracles; ends with ", ". */
  private def containmentCtesSql(p: String, src: String): String = {
    val cap = s"greatest(${Dedup.CapDfFloor}, CAST(ceil(${Dedup.CapDfFrac} * " +
      s"(SELECT count(*) FROM $src)) AS BIGINT))"
    s"${p}tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM $src), " +
      s"${p}sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), " +
      s"i -> array_to_string(w[i:i+2], ' ')))) AS s FROM ${p}tok), " +
      s"${p}sh AS (SELECT doc_id, s FROM ${p}sh0 WHERE s IN (SELECT s FROM ${p}sh0 GROUP BY s HAVING count(*) <= ($cap))), " +
      s"${p}cnt AS (SELECT doc_id, count(*) AS n FROM ${p}sh GROUP BY doc_id), " +
      s"${p}sc AS (SELECT ida, idb, i, ca.n AS na, cb.n AS nb FROM (" +
      s"SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
      s"FROM ${p}sh a JOIN ${p}sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) x " +
      s"JOIN ${p}cnt ca ON ca.doc_id = ida JOIN ${p}cnt cb ON cb.doc_id = idb), " +
      s"${p}cp AS (SELECT ida AS cid, idb AS rid FROM ${p}sc WHERE i / CAST(na AS DOUBLE) >= ${Dedup.D17Tau} " +
      s"UNION ALL SELECT idb, ida FROM ${p}sc WHERE i / CAST(nb AS DOUBLE) >= ${Dedup.D17Tau}), "
  }

  /** Long-span-stage oracle CTEs over `src`: t27's brute-force matched
    * grams → (da, db, delta) alignment runs → spanning pairs as
    * `<p>sp(da, db)` (runs ≥ [[TextOps.T27Min]] tokens). Ends with
    * ", ". */
  private def spanCtesSql(p: String, src: String): String = {
    val L = TextOps.T21L
    s"${p}g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - ${L - 2}), i -> i)) AS pos, " +
      s"unnest(list_transform(range(1, len(w) - ${L - 2}), i -> array_to_string(w[i:i+${L - 1}], ' '))) AS gram " +
      s"FROM (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM $src) WHERE len(w) >= $L), " +
      s"${p}m AS (SELECT a.doc_id AS da, b.doc_id AS db, b.pos - a.pos AS delta, a.pos " +
      s"FROM ${p}g a JOIN ${p}g b ON a.gram = b.gram AND a.doc_id < b.doc_id), " +
      s"${p}r AS (SELECT da, db, delta, pos, " +
      s"pos - row_number() OVER (PARTITION BY da, db, delta ORDER BY pos) AS isl FROM ${p}m), " +
      s"${p}sp AS (SELECT DISTINCT da, db FROM (SELECT da, db FROM ${p}r " +
      s"GROUP BY da, db, delta, isl HAVING count(*) + ${L - 1} >= ${TextOps.T27Min})), "
  }

  private[graft] val e02Sql: String = {
    val capU = s"greatest(${Dedup.CapDfFloor}, CAST(ceil(${Dedup.CapDfFrac} * " +
      "(SELECT count(*) FROM u)) AS BIGINT))"
    val cap4 = s"greatest(${Dedup.CapDfFloor}, CAST(ceil(${Dedup.CapDfFrac} * " +
      "(SELECT count(*) FROM u4)) AS BIGINT))"
    val k = Dedup.DecontamShingleK
    val nbv = s"(SELECT v FROM nb)"
    "WITH qual AS (" + TextOps.qualityBpSql + "), " +
      s"nb AS (SELECT (count(*) * $E02BaseNum) // $E02BaseDen AS v FROM documents), " +
      "bs AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d JOIN qual q USING (doc_id) " +
      s"WHERE q.quality_bp >= $E01QualityBp AND d.doc_id < $nbv), " +
      "s1 AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d JOIN qual q USING (doc_id) " +
      s"WHERE q.quality_bp >= $E01QualityBp AND d.doc_id >= $nbv), " +
      "u AS MATERIALIZED (SELECT * FROM bs UNION ALL SELECT * FROM s1), " +
      "tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM u), " +
      "sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), " +
      "i -> array_to_string(w[i:i+2], ' ')))) AS s FROM tok), " +
      s"sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= ($capU))), " +
      "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "pairs AS (SELECT ida, idb FROM (" +
      "SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) x " +
      "JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb " +
      "WHERE i / (ca.n + cb.n - i) >= 0.6), " +
      "crossdrop AS (SELECT DISTINCT idb AS doc_id FROM pairs " +
      s"WHERE ida < $nbv AND idb >= $nbv), " +
      "s2 AS MATERIALIZED (SELECT * FROM s1 " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM crossdrop)), " +
      s"p3 AS (SELECT ida, idb FROM pairs WHERE ida >= $nbv " +
      "AND ida IN (SELECT doc_id FROM s2) AND idb IN (SELECT doc_id FROM s2)), " +
      "edges AS (SELECT ida AS src, idb AS dst FROM p3 " +
      "UNION ALL SELECT idb, ida FROM p3), " +
      "nodes AS (SELECT DISTINCT src AS doc FROM edges), " +
      "reach AS (WITH RECURSIVE r(doc, other) AS (" +
      "SELECT doc, doc FROM nodes " +
      "UNION SELECT r.doc, e.dst FROM r JOIN edges e ON e.src = r.other) " +
      "SELECT * FROM r), " +
      "lab AS (SELECT doc AS doc_id, min(other) AS lbl FROM reach GROUP BY doc), " +
      "full0 AS (SELECT s.doc_id, coalesce(l.lbl, s.doc_id) AS cluster_id, q.quality_bp " +
      "FROM s2 s LEFT JOIN lab l ON l.doc_id = s.doc_id " +
      "JOIN qual q ON q.doc_id = s.doc_id), " +
      "canon AS (SELECT doc_id FROM full0 " +
      "QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY quality_bp DESC, doc_id) = 1), " +
      "s3 AS MATERIALIZED (SELECT s2.doc_id, s2.text FROM s2 JOIN canon USING (doc_id)), " +
      // stage 4: containment vs base ∪ delta survivors — only DELTA
      // docs contained in a lower-id survivor drop
      "u3 AS MATERIALIZED (SELECT * FROM bs UNION ALL SELECT * FROM s3), " +
      containmentCtesSql("c", "u3") +
      s"cdrop AS (SELECT DISTINCT cid AS doc_id FROM ccp WHERE cid >= $nbv AND rid < cid), " +
      "s4c AS MATERIALIZED (SELECT * FROM s3 " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)), " +
      // stage 5: long spans vs base ∪ surviving delta — the delta-side
      // (higher-id) member of every spanning pair drops
      "u5 AS MATERIALIZED (SELECT * FROM bs UNION ALL SELECT * FROM s4c), " +
      spanCtesSql("z", "u5") +
      s"sdrop AS (SELECT DISTINCT db AS doc_id FROM zsp WHERE db >= $nbv), " +
      "s5sp AS MATERIALIZED (SELECT * FROM s4c " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM sdrop)), " +
      "u4 AS MATERIALIZED (SELECT doc_id, text FROM s5sp " +
      "UNION SELECT doc_id, text FROM documents WHERE ((doc_id % 1000) * 761) % 1000 >= 980), " +
      "dtok AS (SELECT doc_id, ((doc_id % 1000) * 761) % 1000 AS b, " +
      "string_split_regex(rtrim(text), '\\s+') AS w FROM u4), " +
      s"dsh0 AS (SELECT doc_id, b, unnest(list_distinct(list_transform(range(1, len(w) - ${k - 2}), " +
      s"i -> array_to_string(w[i:i+${k - 1}], ' ')))) AS s FROM dtok WHERE len(w) >= $k), " +
      s"dsh AS (SELECT doc_id, b, s FROM dsh0 WHERE s IN (SELECT s FROM dsh0 GROUP BY s HAVING count(*) <= ($cap4))), " +
      "contam AS (SELECT DISTINCT tr.doc_id FROM (SELECT doc_id, s FROM dsh WHERE b < 980) tr " +
      "JOIN (SELECT doc_id, s FROM dsh WHERE b >= 980) ho USING (s) " +
      s"GROUP BY tr.doc_id, ho.doc_id HAVING count(*) >= ${Dedup.DecontamMinShared}), " +
      "s4 AS (SELECT d2.doc_id, d2.text FROM s5sp d2 " +
      "WHERE ((d2.doc_id % 1000) * 761) % 1000 < 980 " +
      "AND d2.doc_id NOT IN (SELECT doc_id FROM contam)), " +
      s"counts AS (SELECT (SELECT count(*) FROM documents WHERE doc_id >= $nbv) AS n0, " +
      "(SELECT count(*) FROM s1) AS n1, (SELECT count(*) FROM s2) AS n2, " +
      "(SELECT count(*) FROM s3) AS n3, " +
      "(SELECT count(*) FROM s4c) AS n3c, " +
      "(SELECT count(*) FROM s5sp) AS n3s, " +
      "(SELECT count(*) FROM s4) AS n4, " +
      "(SELECT CAST((coalesce(sum(len(string_split_regex(rtrim(text), '\\s+'))), 0) " +
      s"+ ${TextOps.T16SeqLen - 1}) // ${TextOps.T16SeqLen} AS BIGINT) FROM s4) AS nseq) " +
      "SELECT CAST(1 AS BIGINT) AS stage, 'quality' AS stage_name, n0 AS n_in, n1 AS n_out FROM counts " +
      "UNION ALL SELECT 2, 'dedup_vs_base', n1, n2 FROM counts " +
      "UNION ALL SELECT 3, 'dedup_within', n2, n3 FROM counts " +
      "UNION ALL SELECT 4, 'containment', n3, n3c FROM counts " +
      "UNION ALL SELECT 5, 'span_dedup', n3c, n3s FROM counts " +
      "UNION ALL SELECT 6, 'decontam', n3s, n4 FROM counts " +
      "UNION ALL SELECT 7, 'pack', n4, nseq FROM counts " +
      "ORDER BY stage"
  }

  /** The whole chain replayed in DuckDB as ONE WITH: the SAME stage
    * CTEs the four per-operator oracles use (t02's quality blend, d08's
    * capped Jaccard, d07/d14's recursive-CTE components + survivor
    * window, d10's 8-gram overlap, t16's token sum), each reading the
    * previous stage's survivor CTE — the cap expressions re-derived
    * from the ORACLE'S OWN stage counts so the two engines cannot
    * desynchronize. */
  private[graft] val e01Sql: String = {
    val cap1 = s"greatest(${Dedup.CapDfFloor}, CAST(ceil(${Dedup.CapDfFrac} * " +
      "(SELECT count(*) FROM s1)) AS BIGINT))"
    val cap3 = s"greatest(${Dedup.CapDfFloor}, CAST(ceil(${Dedup.CapDfFrac} * " +
      "(SELECT count(*) FROM s3sem)) AS BIGINT))"
    val k = Dedup.DecontamShingleK
    "WITH qual AS (" + TextOps.qualityBpSql + "), " +
      // stage 1: quality keep-set
      "s1 AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d JOIN qual q USING (doc_id) " +
      s"WHERE q.quality_bp >= $E01QualityBp), " +
      // stage 2: df-capped 3-gram Jaccard pairs over s1
      "tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM s1), " +
      "sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), " +
      "i -> array_to_string(w[i:i+2], ' ')))) AS s FROM tok), " +
      s"sh AS (SELECT doc_id, s FROM sh0 WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= ($cap1))), " +
      "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "pairs AS (SELECT ida, idb FROM (" +
      "SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) x " +
      "JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb " +
      "WHERE i / (ca.n + cb.n - i) >= 0.6), " +
      // CC + canonical survivor (d14's rule) over s1
      "edges AS (SELECT ida AS src, idb AS dst FROM pairs " +
      "UNION ALL SELECT idb, ida FROM pairs), " +
      "nodes AS (SELECT DISTINCT src AS doc FROM edges), " +
      "reach AS (WITH RECURSIVE r(doc, other) AS (" +
      "SELECT doc, doc FROM nodes " +
      "UNION SELECT r.doc, e.dst FROM r JOIN edges e ON e.src = r.other) " +
      "SELECT * FROM r), " +
      "lab AS (SELECT doc AS doc_id, min(other) AS lbl FROM reach GROUP BY doc), " +
      "full0 AS (SELECT s.doc_id, coalesce(l.lbl, s.doc_id) AS cluster_id, q.quality_bp " +
      "FROM s1 s LEFT JOIN lab l ON l.doc_id = s.doc_id " +
      "JOIN qual q ON q.doc_id = s.doc_id), " +
      "canon AS (SELECT doc_id FROM full0 " +
      "QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY quality_bp DESC, doc_id) = 1), " +
      "s2d AS MATERIALIZED (SELECT s1.doc_id, s1.text FROM s1 JOIN canon USING (doc_id)), " +
      // stage 3: containment over s2d — contained side drops; in a
      // mutual pair the lower id survives
      containmentCtesSql("c", "s2d") +
      "cdrop AS (SELECT DISTINCT cid AS doc_id FROM ccp x WHERE x.cid > x.rid " +
      "OR NOT EXISTS (SELECT 1 FROM ccp y WHERE y.cid = x.rid AND y.rid = x.cid)), " +
      "s3c AS MATERIALIZED (SELECT * FROM s2d " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)), " +
      // stage 4: long spans over s3c — the higher-id member drops
      spanCtesSql("z", "s3c") +
      "s4sp AS MATERIALIZED (SELECT * FROM s3c " +
      "WHERE doc_id NOT IN (SELECT DISTINCT db FROM zsp)), " +
      // stage 5: d11's SemDeDup over the SURVIVOR-joined embeddings —
      // the d11 oracle's own train/assign CTE chain (quantizer K and
      // stride seeds re-derived from the survivor count), then the
      // within-cell lower-id drop rule at τ
      "e AS MATERIALIZED (SELECT em.vec_id, em.embedding::DOUBLE[] AS emb " +
      "FROM embeddings em JOIN s4sp ON s4sp.doc_id = em.vec_id), " +
      Similarity.trainCtesBody(Similarity.LloydRounds, Similarity.D11KSql) +
      Similarity.assignCteSql("semafin", s"cent${Similarity.LloydRounds}", "cf") +
      "semdrop AS (SELECT DISTINCT b.vec_id AS doc_id FROM semafin a " +
      "JOIN semafin b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
      s"AND list_cosine_similarity(a.emb, b.emb) >= ${Similarity.D11Tau}), " +
      "s3sem AS MATERIALIZED (SELECT s4sp.doc_id, s4sp.text FROM s4sp " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM semdrop)), " +
      // stage 6: d10's 8-gram holdout overlap over s3sem
      "dtok AS (SELECT doc_id, ((doc_id % 1000) * 761) % 1000 AS b, " +
      "string_split_regex(rtrim(text), '\\s+') AS w FROM s3sem), " +
      s"dsh0 AS (SELECT doc_id, b, unnest(list_distinct(list_transform(range(1, len(w) - ${k - 2}), " +
      s"i -> array_to_string(w[i:i+${k - 1}], ' ')))) AS s FROM dtok WHERE len(w) >= $k), " +
      s"dsh AS (SELECT doc_id, b, s FROM dsh0 WHERE s IN (SELECT s FROM dsh0 GROUP BY s HAVING count(*) <= ($cap3))), " +
      "contam AS (SELECT DISTINCT tr.doc_id FROM (SELECT doc_id, s FROM dsh WHERE b < 980) tr " +
      "JOIN (SELECT doc_id, s FROM dsh WHERE b >= 980) ho USING (s) " +
      s"GROUP BY tr.doc_id, ho.doc_id HAVING count(*) >= ${Dedup.DecontamMinShared}), " +
      "s4 AS (SELECT d2.doc_id, d2.text FROM s3sem d2 " +
      "WHERE ((d2.doc_id % 1000) * 761) % 1000 < 980 " +
      "AND d2.doc_id NOT IN (SELECT doc_id FROM contam)), " +
      // stage 7 + census
      "counts AS (SELECT (SELECT count(*) FROM documents) AS n0, " +
      "(SELECT count(*) FROM s1) AS n1, (SELECT count(*) FROM s2d) AS n2, " +
      "(SELECT count(*) FROM s3c) AS n2c, " +
      "(SELECT count(*) FROM s4sp) AS n2s, " +
      "(SELECT count(*) FROM s3sem) AS n3, " +
      "(SELECT count(*) FROM s4) AS n4, " +
      "(SELECT CAST((coalesce(sum(len(string_split_regex(rtrim(text), '\\s+'))), 0) " +
      s"+ ${TextOps.T16SeqLen - 1}) // ${TextOps.T16SeqLen} AS BIGINT) FROM s4) AS nseq) " +
      "SELECT CAST(1 AS BIGINT) AS stage, 'quality' AS stage_name, n0 AS n_in, n1 AS n_out FROM counts " +
      "UNION ALL SELECT 2, 'dedup_canonical', n1, n2 FROM counts " +
      "UNION ALL SELECT 3, 'containment', n2, n2c FROM counts " +
      "UNION ALL SELECT 4, 'span_dedup', n2c, n2s FROM counts " +
      "UNION ALL SELECT 5, 'semantic', n2s, n3 FROM counts " +
      "UNION ALL SELECT 6, 'decontam', n3, n4 FROM counts " +
      "UNION ALL SELECT 7, 'pack', n4, nseq FROM counts " +
      "ORDER BY stage"
  }

  /** e04: cross-split LEAKAGE AUDIT — the completeness critic for e03:
    * the cluster-safe split guarantees no LEXICAL (d08) pair straddles
    * train/val/test, but says nothing about the tiers it didn't
    * control for. This gate measures all four: exact 40-char-prefix
    * duplicate pairs (d02's key), the d08 lexical pair graph itself
    * (must audit to ZERO cross-split — the guarantee, restated as a
    * measurement), exact-cosine semantic pairs at d06's τ=0.45 (text
    * clusters say nothing about embedding space), and duplicated
    * [[TextOps.T21L]]-gram postings (t21's substring tier — a gram
    * living in two splits is eval-contamination at the span level).
    * Non-lexical tiers are expected and allowed to be nonzero: the
    * audit's product IS that report — what a training-data owner reads
    * before trusting a split. 100 TB: the lexical/substring tiers ride
    * the capped inverted indexes; the semantic tier here is the exact
    * truth twin (d06) — at deploy it swaps for d09/d11's candidate
    * generation, same census tail. */
  def e04LeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val split = e03ClusterSplit(spark, dir)
      .select(col("doc_id"), col("split")).localCheckpoint(eager = false)
    val sa = split.select(col("doc_id").as("ida"), col("split").as("sa"))
    val sb = split.select(col("doc_id").as("idb"), col("split").as("sb"))
    def pairCensus(tier: String, pairs: DataFrame): DataFrame =
      pairs.join(sa, Seq("ida")).join(sb, Seq("idb"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("n_cross"))
        .select(lit(tier).as("tier"), col("n_total"),
          coalesce(col("n_cross"), lit(0L)).as("n_cross"))
    val docsPfx = Tables(spark, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("pfx"))
    val exactPairs = docsPfx.as("a")
      .join(docsPfx.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
    val gramRow = TextOps.dupGramDocs(spark, dir)
      .join(split, Seq("doc_id"))
      .groupBy(col("s")).agg(countDistinct(col("split")).as("nsp"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("nsp") >= 2, 1L).otherwise(0L)).as("n_cross"))
      .select(lit("substring_grams").as("tier"), col("n_total"),
        coalesce(col("n_cross"), lit(0L)).as("n_cross"))
    pairCensus("exact_prefix", exactPairs)
      .unionByName(pairCensus("lexical",
        Dedup.d08NgramJaccardCapped(spark, dir).select("ida", "idb")))
      .unionByName(pairCensus("semantic",
        Dedup.d06EmbeddingNearDup(spark, dir).select("ida", "idb")))
      .unionByName(gramRow)
      .orderBy("tier")
  }

  /** e04 oracle: e03's split chain as CTEs, then each tier's pair/
    * posting set and its cross-split census — four UNION ALL rows. */
  private[graft] val e04Sql: String = {
    def splitCase(c: String): String =
      s"CASE WHEN (($c % 1000) * 761) % 1000 < 980 THEN 'train' " +
        s"WHEN (($c % 1000) * 761) % 1000 < 990 THEN 'val' ELSE 'test' END"
    def row(tier: String, from: String): String =
      s"SELECT '$tier' AS tier, CAST(count(*) AS BIGINT) AS n_total, " +
        "CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross " +
        s"FROM $from JOIN sp a ON a.doc_id = x.ida JOIN sp b ON b.doc_id = x.idb"
    val l = TextOps.T21L
    "WITH pairs AS (" +
      Dedup.jaccardSqlWith(Some(Dedup.fullCorpusCapSql))
        .replace(" ORDER BY ida, idb", "") + "), " +
      Dedup.ccLabCtes +
      "cl AS (SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster_id " +
      "FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id), " +
      s"sp AS (SELECT doc_id, ${splitCase("cluster_id")} AS split FROM cl), " +
      "ex AS (SELECT a.doc_id AS ida, b.doc_id AS idb FROM documents a JOIN documents b " +
      "ON substring(a.text, 1, 40) = substring(b.text, 1, 40) AND a.doc_id < b.doc_id), " +
      "sem AS (SELECT a.vec_id AS ida, b.vec_id AS idb FROM embeddings a JOIN embeddings b " +
      "ON a.vec_id < b.vec_id " +
      "AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45), " +
      "gtoks AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
      s"gsh0 AS (SELECT doc_id, unnest(range(1, len(w) - ${l - 2})) AS i, w FROM gtoks WHERE len(w) >= $l), " +
      s"gsha AS (SELECT doc_id, array_to_string(w[i:i+${l - 1}], ' ') AS s FROM gsh0), " +
      "gcen AS (SELECT s, count(*) AS c FROM gsha GROUP BY s), " +
      "gd AS (SELECT DISTINCT h.doc_id, h.s FROM gsha h JOIN gcen c ON c.s = h.s WHERE c.c >= 2), " +
      "gs AS (SELECT s, count(DISTINCT sp.split) AS nsp FROM gd JOIN sp USING (doc_id) GROUP BY s) " +
      row("exact_prefix", "ex x") + " UNION ALL " +
      row("lexical", "pairs x") + " UNION ALL " +
      row("semantic", "sem x") + " UNION ALL " +
      "SELECT 'substring_grams' AS tier, CAST(count(*) AS BIGINT) AS n_total, " +
      "CAST(coalesce(sum(CASE WHEN nsp >= 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross FROM gs " +
      "ORDER BY tier"
  }

  // ---- e05: retrieval SERVING pipeline (fuse → diversify) --------------

  /** The served page size — matches s18's K so the diversity rounds
    * replay through the shared [[Similarity.mmrRoundsSql]] generator. */
  private[graft] val E05K = 5

  /** e05: the retrieval SERVING pipeline — the e01 composition
    * argument applied to the QUERY side of the engine: what a search
    * endpoint actually returns is not one tier's ranking but the
    * chain lexical(BM25) + vector(cosine) → RRF fusion → MMR
    * diversification, run as ONE job. s14 proves fusion and s18
    * proves diversification; e05 proves they COMPOSE — interop drift
    * between the fused pool's integer grid and the MMR objective
    * breaks this gate even when both per-operator gates stay green.
    * The fused rrf_mu grid (max 2·10⁶/61 ≈ 32786) rescales onto the
    * cosine micro-unit grid as rrf_mu·61 div 2 (exact integers, max
    * ≈ 10⁶), so the 7/3 MMR weights trade relevance against
    * within-page similarity at the calibration s18 measured. Scale
    * shape: both pools are corpus-wide only in their own tiers'
    * scale-safe forms (postings lookup / broadcast queries); fusion
    * and the k greedy rounds touch ≤ PoolK rows per query. */
  def e05ServingPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wP = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_mu").desc, col("doc_id").asc)
    // materialize the ≤ PoolK·queries-row pool ONCE before the greedy
    // rounds: mmrSelect references it in every materialized round
    // (anti-join, round-1, pick join), and an uncached pool would
    // recompute the whole two-tier fusion DAG per reference — measured
    // 205 s vs s14's own 4.6 s at the 10× gate before this boundary
    val pool = Similarity.s14Fused(spark, dir)
      .withColumn("rp", row_number().over(wP))
      .filter(col("rp") <= Similarity.S14PoolK)
      .join(Tables(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
        col("doc_id") === col("vec_id"))
      .select(col("query_id").as("qid"), col("doc_id").as("nid"), col("e"),
        expr("rrf_mu * 61 div 2").as("rel_m"))
      .localCheckpoint()
    Similarity.mmrSelect(pool, E05K)
      .select(col("qid").as("query_id"), col("rnk"),
        col("nid").as("doc_id"), col("score_m").as("mmr_score_m"))
      .orderBy("query_id", "rnk")
  }

  /** Edge bar for e06: the d06 near-dup threshold applied to the
    * graph's (rounded) exact cosines. */
  private[graft] val E06Tau = 0.45

  /** e06: GRAPH-BASED SEMANTIC CURATION — the curation verb the s22
    * substrate exists for (SemDeDup-at-scale done graph-first, the
    * NVIDIA-NeMo-Curator/DataComp shape): threshold the k-NN graph's
    * exact edge cosines at [[E06Tau]], run pointer-jumping connected
    * components over the qualifying pairs (d07's machinery, O(log
    * diameter) rounds), and emit a verdict for EVERY corpus vector —
    * its cluster representative (`keep_id` = min member id, itself
    * when unclustered), the cluster size, and whether it is the kept
    * canonical. Against d11/d12 (quantizer-cell SemDeDup) this is the
    * TRANSITIVE form: cells compare only within-cell, so a dup chain
    * spanning cells survives d11 but collapses here — the graph makes
    * the closure explicit and the census auditable.
    *
    * Composition, not re-implementation: s22 proves the graph, d07
    * proves CC, d14 proves canonical selection; e06 proves they
    * compose — a drift between the graph's rounded cosine grid and the
    * threshold, or between edge direction and pair identity, breaks
    * this gate while every per-operator gate stays green (the e01
    * interop argument). Scale shape: the graph build is linear in n
    * (s22's bound), the threshold is map-only, pairs are ≤ degree·n,
    * CC rounds are label-keyed joins, and the member census is one
    * keyed shuffle — never corpus×corpus. The oracle replays graph →
    * threshold → transitive closure (recursive CTE over the tiny
    * qualifying components) → census row-for-row. */
  def e06GraphCuration(spark: SparkSession, dir: String): DataFrame = {
    val g = Similarity.s22KnnGraph(spark, dir)
    val pairs = g.filter(col("cos_sim") >= E06Tau)
      .select(least(col("src_id"), col("dst_id")).as("ida"),
        greatest(col("src_id"), col("dst_id")).as("idb"))
      .distinct()
    val lbls = Dedup.connectedComponents(pairs)
      .select(col("node").as("vec_id"), col("lbl"))
    val verdict = Tables(spark, dir, "embeddings").select(col("vec_id"))
      .join(lbls, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("keep_id"))
    val sizes = verdict.groupBy(col("keep_id"))
      .agg(count(lit(1)).as("n_members"))
    verdict.join(sizes, Seq("keep_id"))
      .select(col("vec_id"), col("keep_id"), col("n_members"),
        (col("vec_id") === col("keep_id")).as("kept"))
      .orderBy("vec_id")
  }

  /** e07: INCREMENTAL GRAPH CURATION — e06 ∘ s26 (round-15 verdict
    * item 9): a delta batch folds into the k-NN graph through s26's
    * frozen-model insert, and the curation verdict updates ONLY for
    * clusters the delta edges touch — the e02 delta-bounded argument
    * on the graph tier. The soundness argument the scaladoc owes:
    *
    *  - changed pairs (thresholded edges added by ins/upd or REMOVED
    *    by a back-link re-rank dropping a base edge) are confined to
    *    srcs ∈ touched ∪ delta;
    *  - affected components = the BASE components of any changed
    *    pair's endpoint, plus the delta nodes;
    *  - no folded pair crosses the affected boundary: a pair between
    *    an affected and an unaffected node would have to be UNCHANGED
    *    (else the unaffected side would be affected), hence a base
    *    pair — but then both endpoints share a base component and
    *    both are affected. Contradiction. So re-running connected
    *    components on the affected subgraph alone is exact.
    *
    * Everything outside the affected set keeps its base verdict
    * verbatim (never re-scored, never re-labeled); the CC work is
    * bounded by the affected components, not the corpus. The ORACLE is
    * the full recompute over the folded graph (incrementality must be
    * semantically invisible — the e02/s12 contract), replayed as one
    * WITH: s26's fold chain, the folded edge set, e06's recursive
    * closure and census. OperatorSpec plants a delta near-copy and
    * pins that exactly its base twin's verdict flips. */
  def e07IncrementalCuration(spark: SparkSession, dir: String): DataFrame = {
    val a = Similarity.s26BuildBase(spark, dir)
    val allFull = Similarity.emb(spark, dir)
    val delta = allFull.filter(col("vec_id") >= a.nBase)
    val fwd = Similarity.s26FwdEdges(spark, delta, allFull, a).localCheckpoint()
    val upd = Similarity.s26BackLinks(fwd, a.gBase, allFull).localCheckpoint()
    // the folded graph (edges with 4-dp cosines, e06's grid)
    val gBaseFull = Similarity.s22KnnGraph(spark, a.baseDir)
      .select(col("src_id"), col("dst_id"), col("cos_sim"))
    val tch = upd.select("src_id").distinct()
    val folded = gBaseFull.join(broadcast(tch), Seq("src_id"), "left_anti")
      .unionByName(upd.select(col("src_id"), col("dst_id"),
        round(col("c"), 4).as("cos_sim")))
      .unionByName(fwd.select(col("qid").as("src_id"),
        col("nid").as("dst_id"), round(col("c"), 4).as("cos_sim")))
    def pairsOf(edges: DataFrame): DataFrame =
      edges.filter(col("cos_sim") >= E06Tau)
        .select(least(col("src_id"), col("dst_id")).as("ida"),
          greatest(col("src_id"), col("dst_id")).as("idb"))
        .distinct()
    val pairsBase = pairsOf(gBaseFull).localCheckpoint()
    val pairsFold = pairsOf(folded).localCheckpoint()
    val verdict = e07IncrementalVerdict(pairsBase, pairsFold,
      allFull.filter(col("vec_id") < a.nBase).select("vec_id"),
      delta.select("vec_id"))
    val sizes = verdict.groupBy(col("keep_id"))
      .agg(count(lit(1)).as("n_members"))
    verdict.join(sizes, Seq("keep_id"))
      .select(col("vec_id"), col("keep_id"), col("n_members"),
        (col("vec_id") === col("keep_id")).as("kept"))
      .orderBy("vec_id")
  }

  /** The delta-bounded verdict merge over explicit (base pairs, folded
    * pairs, base ids, delta ids) frames — the OperatorSpec seam (the
    * planted flip fixture feeds tiny pair sets, including the REMOVED-
    * edge split case). See [[e07IncrementalCuration]]'s boundary
    * argument for why recomputing only the affected components is
    * exact. */
  private[graft] def e07IncrementalVerdict(pairsBase: DataFrame,
      pairsFold: DataFrame, baseIds: DataFrame,
      deltaIds: DataFrame): DataFrame = {
    // the BASE verdict — what unaffected nodes keep verbatim
    val lblBase = Dedup.connectedComponents(pairsBase)
      .select(col("node").as("vec_id"), col("lbl"))
    val verdictBase = baseIds
      .join(lblBase, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("keep_id"))
      .localCheckpoint()
    // delta-bounded affected set: changed pairs → base components → members
    val changed = pairsFold.exceptAll(pairsBase)
      .unionByName(pairsBase.exceptAll(pairsFold)).distinct()
    val seeds = changed.select(col("ida").as("vec_id"))
      .unionByName(changed.select(col("idb").as("vec_id"))).distinct()
    val affLbls = verdictBase.join(seeds, Seq("vec_id"), "left_semi")
      .select("keep_id").distinct()
    val affBase = verdictBase
      .join(broadcast(affLbls), Seq("keep_id"), "left_semi")
      .select("vec_id")
    val affected = affBase
      .unionByName(deltaIds).distinct().localCheckpoint()
    // exact CC on the affected subgraph alone (see boundary argument)
    val pairsAff = pairsFold
      .join(affected.withColumnRenamed("vec_id", "ida"), Seq("ida"), "left_semi")
    val lblNew = Dedup.connectedComponents(pairsAff)
      .select(col("node").as("vec_id"), col("lbl"))
    verdictBase.join(affected, Seq("vec_id"), "left_anti")
      .unionByName(affected.join(lblNew, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("keep_id")))
  }

  /** e07 oracle: the FULL recompute — s26's fold chain, the folded
    * edge set, then e06's threshold → recursive closure → census over
    * it (efull = the whole corpus). */
  private[graft] def e07Sql: String =
    Similarity.s26CtesSql(Similarity.LloydRounds, Similarity.S07Rounds) +
      "tch07 AS (SELECT DISTINCT src_id FROM upd), " +
      "gfold AS (SELECT src_id, dst_id, cos_sim FROM g22 " +
      "WHERE src_id NOT IN (SELECT src_id FROM tch07) " +
      "UNION ALL SELECT src_id, dst_id, round(c, 4) FROM upd " +
      "UNION ALL SELECT qid, nid, round(c, 4) FROM fwd), " +
      s"prs AS (SELECT least(src_id, dst_id) AS ida, greatest(src_id, dst_id) AS idb " +
      s"FROM gfold WHERE cos_sim >= $E06Tau GROUP BY 1, 2), " +
      "edg AS (SELECT ida AS src, idb AS dst FROM prs UNION ALL SELECT idb, ida FROM prs), " +
      "nds AS (SELECT DISTINCT src AS v FROM edg), " +
      "reach AS (WITH RECURSIVE r(v, other) AS (SELECT v, v FROM nds " +
      "UNION SELECT r.v, e2.dst FROM r JOIN edg e2 ON e2.src = r.other) SELECT * FROM r), " +
      "lbl AS (SELECT v, min(other) AS keep_id FROM reach GROUP BY v), " +
      "vct AS (SELECT e.vec_id, coalesce(l.keep_id, e.vec_id) AS keep_id " +
      "FROM efull e LEFT JOIN lbl l ON l.v = e.vec_id), " +
      "szs AS (SELECT keep_id, count(*) AS n_members FROM vct GROUP BY keep_id) " +
      "SELECT v.vec_id, v.keep_id, s.n_members, v.vec_id = v.keep_id AS kept " +
      "FROM vct v JOIN szs s ON s.keep_id = v.keep_id ORDER BY vec_id"

  private[graft] def e06Sql: String =
    Similarity.s22CtesSql(Similarity.LloydRounds, Similarity.S07Rounds) +
      s"prs AS (SELECT least(src_id, dst_id) AS ida, greatest(src_id, dst_id) AS idb " +
      s"FROM g22 WHERE cos_sim >= $E06Tau GROUP BY 1, 2), " +
      "edg AS (SELECT ida AS src, idb AS dst FROM prs UNION ALL SELECT idb, ida FROM prs), " +
      "nds AS (SELECT DISTINCT src AS v FROM edg), " +
      // transitive closure by recursion — qualifying components are
      // tiny (the d07 oracle pattern); min reachable id = keep_id
      "reach AS (WITH RECURSIVE r(v, other) AS (SELECT v, v FROM nds " +
      "UNION SELECT r.v, e2.dst FROM r JOIN edg e2 ON e2.src = r.other) SELECT * FROM r), " +
      "lbl AS (SELECT v, min(other) AS keep_id FROM reach GROUP BY v), " +
      "vct AS (SELECT e.vec_id, coalesce(l.keep_id, e.vec_id) AS keep_id " +
      "FROM e LEFT JOIN lbl l ON l.v = e.vec_id), " +
      "szs AS (SELECT keep_id, count(*) AS n_members FROM vct GROUP BY keep_id) " +
      "SELECT v.vec_id, v.keep_id, s.n_members, v.vec_id = v.keep_id AS kept " +
      "FROM vct v JOIN szs s ON s.keep_id = v.keep_id ORDER BY vec_id"

  val oracles: Map[String, String] = Map(
    // e06: graph → threshold → transitive closure → census replayed
    // row-for-row (the d07 recursive-CTE pattern over s22's CTEs)
    "e06_graph_curation" -> e06Sql,
    // e07: the full recompute over the folded graph — incrementality
    // must be semantically invisible (the e02/s12 contract)
    "e07_incremental_curation" -> e07Sql,
    // e05: s14's fused-pool CTEs + the rel-grid rescale + the SHARED
    // unrolled MMR rounds (one selection rule across s18/e05)
    "e05_serving_pipeline" -> (Similarity.s14FusedCtesSql + ", " +
      "fpool AS (SELECT query_id, doc_id, rrf_mu FROM (" +
      "SELECT query_id, doc_id, rrf_mu, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY rrf_mu DESC, doc_id) AS rp FROM fus) " +
      s"WHERE rp <= ${Similarity.S14PoolK}), " +
      "pool AS (SELECT f.query_id AS qid, f.doc_id AS nid, ee.emb, " +
      "CAST(f.rrf_mu * 61 // 2 AS BIGINT) AS rel_m " +
      "FROM fpool f JOIN e ee ON ee.vec_id = f.doc_id)" +
      Similarity.mmrRoundsSql(E05K, "doc_id")),
    "e04_leakage_audit" -> e04Sql,
    "e01_curation_pipeline" -> e01Sql,
    "e02_incremental_curation" -> e02Sql,
    "e03_cluster_split" -> e03Sql)
}
