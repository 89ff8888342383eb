package graft.operators

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.functions.{functions => gf}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring, token
  * stats, fingerprinting, TF-IDF). All but the fingerprint are pure
  * built-in column expressions: one narrow scan, no shuffle except
  * where an aggregation genuinely needs one.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** t01: token statistics — narrow map-only pass over the scan, all
    * codegen'd built-ins. Sum of token lengths ≡ count of
    * non-whitespace chars (tokens() splits on \s+), so the average
    * token length needs no per-token array walk — the interpreted
    * aggregate(transform(...)) HOF this replaced re-walked every
    * doc's token array per row (NOTES.md HOF pitfall). */
  def t01Tokens(spark: SparkSession, dir: String): DataFrame = {
    val w = tokens(col("text"))
    val nonWsChars = length(regexp_replace(col("text"), "\\s", ""))
    docs(spark, dir).select(
        col("doc_id"),
        size(w).cast("long").as("n_tokens"),
        size(array_distinct(w)).cast("long").as("n_uniq"),
        round(nonWsChars.cast("double") / size(w), 4).as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** t02: quality score — bounded blend of uniqueness, stopword density
    * and length (the classic cheap pre-filter for LLM training text). */
  def t02Quality(spark: SparkSession, dir: String): DataFrame = {
    val w = tokens(col("text"))
    val n = size(w).cast("double")
    val uniqRatio = size(array_distinct(w)) / n
    val stopRatio = vocabHits(col("text"), enStops) / n
    // basis points via floor, NOT round(…,4): both engines compute the
    // identical IEEE double left-to-right, and floor of the same double
    // is engine-independent — whereas Spark's round (BigDecimal
    // HALF_UP) and DuckDB's round disagree within 1 ulp of a .00005
    // boundary (2/5000 rows diverged at sf0.1)
    val score = lit(0.5) * uniqRatio +
      lit(0.3) * least(stopRatio * 4.0, lit(1.0)) +
      lit(0.2) * least(n / 50.0, lit(1.0))
    docs(spark, dir).select(
        col("doc_id"),
        round(uniqRatio, 4).as("uniq_ratio"),
        round(stopRatio, 4).as("stop_ratio"),
        floor(score * 10000).cast("long").as("quality_bp"))
      .orderBy("doc_id")
  }

  /** t03: language ID via stopword-vocabulary hits — argmax over four
    * tiny vocabularies, fixed tie order en>es>de>fr, 'und' when no hits. */
  def t03LangId(spark: SparkSession, dir: String): DataFrame = {
    val en = vocabHits(col("text"), enStops)
    val es = vocabHits(col("text"), esStops)
    val de = vocabHits(col("text"), deStops)
    val fr = vocabHits(col("text"), frStops)
    docs(spark, dir).select(
        col("doc_id"), en.as("en_hits"), es.as("es_hits"),
        de.as("de_hits"), fr.as("fr_hits"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits") &&
            col("es_hits") > 0, "es")
          .when(col("de_hits") >= col("fr_hits") && col("de_hits") > 0, "de")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))
      .orderBy("doc_id")
  }

  /** Per-doc content fingerprints — the native codegen'd expression
    * (graft.functions.TokenFingerprint64); ScalaTest pins the reflow-
    * stability semantics. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), gf.token_fingerprint64(col("text")).as("fp"))
      .orderBy("doc_id")

  /** t04: fingerprint census. The raw 64-bit hashes are engine-specific,
    * but the fingerprint is whitespace-reflow-stable BY CONSTRUCTION
    * (HashImpls.tokenFingerprint64 collapses whitespace runs and ignores
    * leading/trailing whitespace), so distinct-fingerprint count ==
    * distinct-normalized-text count — which DuckDB can compute exactly.
    * That turns the engine-specific hash into an oracle-checkable
    * invariant (round-1 verdict item 5). */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(gf.token_fingerprint64(col("text"))).as("n_distinct_fp"))

  /** t06: BPE-ish subword counting — the regex-tokenizer tier of token
    * accounting next to t01's whitespace tier (LLM pipelines budget by
    * subword counts, not words). The classes (letter runs | digit runs
    * | single non-space symbol) are disjoint, so the DuckDB oracle's
    * RE2 counts agree exactly; the Spark side computes all four counts
    * in ONE allocation-free codegen pass over the UTF-8 bytes
    * ([[graft.functions.BpePieceCensus]]) — the previous four
    * `regexp_extract_all` passes each materialized a full match array
    * only to size() it, and were the 10× gate's slowest query at
    * ~15.5 s (round-11 verdict item 5; the s05/HOF lesson again).
    * `element_at` re-evaluates the census ≤4× per row after projection
    * collapse — each evaluation is one linear byte walk, together
    * still far under one regex pass. */
  def t06BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.functions.TextCensusFunctions.bpe_piece_census(col("text"))
    docs(spark, dir).select(
        col("doc_id"),
        element_at(c, 1).as("n_pieces"),
        element_at(c, 2).as("n_word"),
        element_at(c, 3).as("n_num"),
        element_at(c, 4).as("n_punct"))
      .orderBy("doc_id")
  }

  /** t05: top TF-IDF term per document — explode + two shuffles (term
    * frequency, document frequency), corpus size joined in as a
    * broadcast single row, never collected to the driver. */
  def t05TfIdf(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val tok = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "w").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
    val rank = Window.partitionBy("doc_id")
      .orderBy(round(col("tfidf"), 6).desc, col("w").asc)
    scored.withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("w").as("top_term"), round(col("tfidf"), 4).as("tfidf"))
      .orderBy("doc_id")
  }

  /** t07: normalization + redaction — the cleaning pass every training
    * corpus goes through before dedup/tokenization: trim, collapse
    * whitespace runs, lowercase, then redact digit runs to a
    * placeholder. Pure map-only codegen'd expressions (one narrow scan,
    * the final sort is the only exchange); the gate hash-compares the
    * full normalized text byte-for-byte against DuckDB, so the regex
    * and case semantics are pinned cross-engine. The whitespace class
    * is EXPLICIT, not \s: Java's \s includes vertical tab (0x0B), RE2's
    * does not — with a byte-compare gate that divergence would go red
    * the moment a corpus carries a 0x0B. */
  def t07Normalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+", " "))
    docs(spark, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(norm).cast("long").as("n_chars_norm"),
        regexp_replace(norm, "[0-9]+", "<num>").as("norm_redacted"))
      .orderBy("doc_id")
  }

  private val ChunkChars = 200
  private val ChunkStride = 160 // 40-char overlap between windows

  /** t08: fixed-window CHUNKING with overlap — the context-window
    * preparation step between cleaning and tokenization in a training
    * pipeline: each document becomes ⌈len/stride⌉ overlapping windows
    * of [[ChunkChars]] chars (stride [[ChunkStride]], so consecutive
    * chunks share 40 chars and no boundary content is lost to a cut).
    * One narrow scan → explode(sequence) → substring: map-only, scales
    * as a pure flatMap with output ≈ len/stride × corpus — no shuffle
    * until the gate's ORDER BY. Offsets are 1-based in BOTH engines
    * (SQL substring convention), and the chunk text itself is
    * hash-compared cross-engine. */
  def t08Chunks(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(ChunkStride))).as("off"))
      .select(col("doc_id"),
        ((col("off") - 1) / ChunkStride).cast("long").as("chunk_idx"),
        col("text").substr(col("off"), lit(ChunkChars)).as("chunk"))
      .orderBy("doc_id", "chunk_idx")

  /** t09: within-document REPETITION signal — the fraction of a doc's
    * word 3-grams that are duplicates of an earlier 3-gram in the same
    * doc. Boilerplate, keyword stuffing and template spam repeat
    * internally long before they repeat across documents, so
    * repetition thresholds are a standard pre-filter for LLM training
    * corpora (alongside the cross-doc dedup tier d01-d09, which this
    * deliberately does not touch). Map-only: total 3-grams from the
    * token count, distinct 3-grams from the same native shingle
    * expression the dedup tier uses — one narrow scan, no shuffle
    * before the gate's sort. */
  def t09Repetition(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(tokens(col("text")))
    val total3 = greatest(nWords - 2, lit(0))
    val distinct3 = size(wordShingles(col("text"), 3))
    docs(spark, dir).select(
        col("doc_id"),
        total3.cast("long").as("n_3grams"),
        when(total3 > 0,
          round((total3 - distinct3).cast("double") / total3, 4))
          .otherwise(0.0).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** t10: corpus-relative rare-token census — frequency-based quality
    * filtering (the CCNet-style "unusual vocabulary" signal) reduced to
    * exact integer arithmetic: per document, the corpus frequency of
    * its rarest token and the fraction of tokens rarer than a tenth of
    * the uniform share. The threshold is corpus-RELATIVE
    * (total_tokens / vocab / 10), never absolute — the 100 TB rule.
    * Two-phase shape: token counts partial-aggregate into a vocab-sized
    * table that joins back — BROADCAST when the measured vocabulary
    * fits a broadcast comfortably, SHUFFLED HASH when it does not (a
    * whitespace vocabulary over 100 TB of web text — URLs, numbers,
    * typos — is NOT driver-sized, and a forced broadcast would hit
    * Spark's 8 GB hard limit with no fallback; round-7 ADVICE). The
    * regime is decided per-corpus by one narrow routing aggregate over
    * the count table (the d09-router pattern), which also yields the
    * corpus threshold; both join forms produce identical output
    * (OperatorSpec pins the invariance). The only row-level shuffle is
    * the per-doc aggregate (plus the join shuffle in the large-vocab
    * regime). Outputs are exact integers or floors of IEEE divisions
    * of integers, identical in any engine and under any partitioning.
    */
  def t10RareTokens(spark: SparkSession, dir: String): DataFrame =
    t10WithVocabMax(spark, dir, BroadcastVocabMax)

  /** ~24 bytes/entry ⇒ ≈100 MB broadcast at the cap — an order of
    * magnitude under the 8 GB hard limit, and past the point where a
    * shuffled hash join is cheap anyway. */
  private[graft] val BroadcastVocabMax = 4000000L

  private[graft] def t10WithVocabMax(
      spark: SparkSession, dir: String, maxVocab: Long): DataFrame = {
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val cf = tok.groupBy(col("t")).agg(count(lit(1)).as("cf"))
    // one narrow routing aggregate: corpus-relative rarity threshold +
    // the vocab size that picks the join regime. The threshold reaches
    // the main query as a literal — same double the old 1-row
    // crossJoin carried, one fewer join in the plan.
    val route = cf.agg((sum(col("cf")) / count(lit(1)) / 10.0).as("thr"),
      count(lit(1)).as("n_vocab")).head()
    // empty corpus: sum(cf) aggregates to NULL over zero rows — degrade
    // to thr=0 (the joined result below is empty anyway) instead of NPE
    val thr = if (route.isNullAt(0)) 0.0 else route.getDouble(0)
    val nVocab = route.getLong(1)
    val joined =
      if (nVocab <= maxVocab) tok.join(broadcast(cf), "t")
      // high-NDV token keys with bounded per-key build rows: hash
      // beats sort-merge (the d03 rationale); AQE handles skew. The
      // hint sits on cf so the hash table is built from the DISTINCT
      // token counts (vocabulary-bounded), not the doc-token pairs
      // (corpus-bounded) — the t12 build-side lesson
      else tok.join(cf.hint("shuffle_hash"), "t")
    joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("cf")).as("min_cf"),
        sum(when(col("cf") < thr, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("min_cf"), col("n_rare"),
        floor(col("n_rare") * 10000 / col("n_tokens")).cast("long").as("rare_bp"))
      .orderBy("doc_id")
  }

  // ---- t11: PII detection / redaction ------------------------------
  //
  // The scrub every serious training pipeline runs before training.
  // Patterns are deliberately RE2-safe (no backrefs, no lookaround) so
  // Java regex (Spark) and RE2 (DuckDB) match identically; counts are
  // non-overlapping leftmost matches in both engines.
  private[graft] val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Rx = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PhoneRx = "\\b\\d{3}[- ]\\d{3,4}[- ]\\d{4}\\b"

  /** t11: PII census + redaction — per document, match counts for
    * emails / IPv4 addresses / phone-shaped numbers, the total matched
    * chars (length delta after replace-with-empty: exact, and safe
    * against placeholder-longer-than-match underflow), and a prefix of
    * the redacted text proving the replacement semantics. Redaction
    * order is fixed (email, ip, phone) so both engines transform
    * identical intermediates. Map-only until the gate sort — the same
    * single-scan shape as t01/t02. */
  private[graft] def piiCensus(corpus: DataFrame): DataFrame = {
    val redacted =
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRx, "<EMAIL>"), Ipv4Rx, "<IP>"), PhoneRx, "<PHONE>")
    val stripped =
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRx, ""), Ipv4Rx, ""), PhoneRx, "")
    corpus.select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailRx)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(Ipv4Rx)).cast("long").as("n_ipv4"),
        regexp_count(col("text"), lit(PhoneRx)).cast("long").as("n_phones"),
        (length(col("text")) - length(stripped)).cast("long").as("pii_chars"),
        substring(redacted, 1, 40).as("redacted_prefix"))
      .orderBy("doc_id")
  }

  /** The canary document [[t11PiiCensusGated]] appends — one of each
    * PII class, so the gate always carries a true positive row (the
    * d10-canary pattern: the synthetic corpus itself contains no PII,
    * and an all-zero census cannot distinguish "correct" from "matches
    * nothing"). */
  private[graft] val PiiCanaryText =
    "contact alice.smith@example.org or 192.168.1.77 call 555-123-4567 end"

  /** The driver-gate face of t11: the corpus plus one deterministic
    * PII canary (doc_id = max+1 — a pure function of the corpus, so
    * the DuckDB oracle rebuilds it identically). */
  def t11PiiCensusGated(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("text"))
    val canary = base.agg((max(col("doc_id")) + 1).as("doc_id"))
      .select(col("doc_id"), lit(PiiCanaryText).as("text"))
    piiCensus(base.unionAll(canary))
  }

  // ---- t12: duplicated-span coverage -------------------------------

  /** t12: duplicated-span coverage — per document, how much of its
    * word-3-gram shingle set also appears in OTHER documents (df > 1
    * over the corpus-wide inverted index). This is the exact-substring
    * duplication signal LLM data pipelines threshold on (the per-doc
    * face of what d03/d08 turn into pairs): a doc with dup_bp near
    * 10000 is boilerplate or a copy even when no single pair crosses
    * the Jaccard bar. Shape at scale: one shingle-keyed count
    * aggregate (partial aggregation absorbs hot shingles — it is a
    * count, not a pair join, so a stop-shingle costs one combiner
    * cell, not k² pair events) and one equi join back on the same
    * key; both stages shuffle on `s`, so AQE coalesces them into one
    * exchange reuse. Basis points via TRUE integer division (`div`
    * here, `//` in the oracle — not floor of an IEEE quotient), so the
    * gate column is exact integer arithmetic in both engines. */
  def t12DupSpans(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .select(col("doc_id"), explode(wordShingles(col("text"), 3)).as("s"))
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // hint sits on the AGGREGATED side: it is the smaller of the two
    // (distinct shingles ≤ doc×shingle pairs), so it is the hash-table
    // build side; hinting sh instead would build the exploded side
    sh.join(df.hint("shuffle_hash"), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1L, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        expr("n_dup * 10000 div n_shingles").as("dup_bp"))
      .orderBy("doc_id")
  }

  private val enIn = enStops.map(s => s"'$s'").mkString(", ")

  /** The t02 quality score as a (doc_id, quality_bp) DuckDB subquery —
    * shared with the d14 survivor-selection oracle so both gates
    * replay the IDENTICAL blend (same floor-to-bp rule, same stopword
    * list); any drift between the two would let d14 pick a different
    * survivor than the quality tier scores. */
  private[graft] val qualityBpSql: String =
    "SELECT doc_id, CAST(floor((0.5 * uniq_ratio + 0.3 * least(stop_ratio * 4.0, 1.0) " +
      "+ 0.2 * least(n / 50.0, 1.0)) * 10000) AS BIGINT) AS quality_bp " +
      "FROM (SELECT doc_id, CAST(len(w) AS DOUBLE) AS n, " +
      "len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS uniq_ratio, " +
      s"len(list_filter(w, x -> x IN ($enIn))) / CAST(len(w) AS DOUBLE) AS stop_ratio " +
      "FROM (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents))"
  private val esIn = esStops.map(s => s"'$s'").mkString(", ")
  private val deIn = deStops.map(s => s"'$s'").mkString(", ")
  private val frIn = frStops.map(s => s"'$s'").mkString(", ")
  private def hitsSql(vocab: String) =
    s"CAST(len(list_filter(string_split_regex(rtrim(text), '\\s+'), w -> w IN ($vocab))) AS BIGINT)"

  /** t13 Count-Min sketch shape: depth 4 hash rows × width 1024
    * buckets = 4096 mergeable counter cells TOTAL, regardless of
    * corpus size — the property that makes CMS the frequency sketch
    * at 100 TB (vocabulary is unbounded; the sketch is 32 KB). */
  private[graft] val T13Depth = 4
  private[graft] val T13Width = 1024L
  private[graft] val T13TopK = 20

  /** t13: Count-Min-sketch heavy hitters — the frequency face of the
    * mergeable-sketch family (q23/q27 HLL = distinct, q26/q28 =
    * quantiles, p07 bloom = membership; CMS = point frequency,
    * Cormode & Muthukrishnan 2005, public). The training-pipeline use
    * is vocabulary pruning / hot-token detection without a full-vocab
    * aggregate.
    *
    * Build is the true streaming form, NOT a shortcut through the
    * exact counts: every token occurrence emits [[T13Depth]]
    * (row, bucket) cells (bucket = xxhash64(token, row) mod
    * [[T13Width]]) and the counts aggregate into the fixed 4×1024
    * grid — map-side partial aggregation absorbs the token stream, so
    * the shuffle moves at most depth×width×partitions combiner cells
    * no matter how many tokens the corpus has (PlanSpec pins the
    * partial agg). Estimates then probe the sketch for the exact
    * top-[[T13TopK]] tokens (deterministic tie-break on the token) by
    * joining the 80 probe rows against the 4096-cell sketch and taking
    * min over rows — the CMS estimator.
    *
    * The sketch itself is engine-specific (DuckDB has no xxhash64), so
    * the gate follows the q23 invariant pattern: the oracle recomputes
    * the exact top-k and hardcodes the two CMS guarantees the Spark
    * side must have verified — `no_underestimate` (CMS never
    * undercounts: every occurrence of t increments all four of its
    * cells) and `within_eps` (est ≤ exact + ⌈e·N/w⌉, the standard
    * ε = e/w error bound at N total tokens; 4 independent rows put the
    * failure probability at e⁻⁴, and the fixed seeds make the check
    * deterministic per corpus — measured true at sf0.001/0.01/0.1 and
    * the 10× planted corpus). */
  private[graft] val T14Unit = 10000L // ln grid: 1e-4 nats per unit

  /** t14: bigram language-model quality score — the perplexity-style
    * fluency signal (CCNet's LM filter, the standard third leg next to
    * the t02 heuristic blend and the t10 frequency census). A bigram
    * model is trained ON THE CORPUS ITSELF (self-perplexity: template
    * spam and gibberish score far from the corpus average; a
    * production pipeline swapping in an EXTERNAL model changes only
    * where the count tables come from — the operator shape, a token
    * stream joined to probability tables, is identical), with Laplace
    * smoothing so every bigram has positive mass:
    *
    *   nll(a b) = ln((C1(a) + V) / (C2(a,b) + 1))
    *
    * where C2 = corpus count of the bigram, C1 = corpus count of the
    * prefix token (as a bigram prefix, so C2 ≤ C1 holds exactly and
    * nll > 0 always), and V = distinct prefix types. Laplace is chosen
    * over Kneser-Ney BECAUSE it is exactly replayable cross-engine —
    * the count tables are integers and the single ln per distinct
    * (C1, C2) pair reuses the proven t05 ln seam.
    *
    * 100 TB shape: bigrams come from one codegen'd pass (native
    * word_ngrams — the counting twin of the dedup tier's
    * word_shingles); C2/C1 are map-side partial-aggregated counts over
    * bigram/prefix TYPES (vocabulary-sized, NOT corpus-sized); the
    * scoring joins shuffle on their keys — bigram types over 100 TB of
    * web text are not driver-sized, so no broadcast is assumed (AQE
    * broadcasts at gate SFs where they do fit); V attaches as a 1-row
    * broadcast. Each bigram's nll lands in integer 1e-4-nat units
    * (floor — the s05/t02 grid rule) BEFORE the per-doc sum, so doc
    * totals are exact integers in any fold order, and the per-doc mean
    * is a TRUE integer division (the t12 rule). Docs with no bigram
    * (< 2 tokens) surface with zeros via the left join — a quality
    * score that silently drops short docs would pass them unfiltered. */
  def t14LmScore(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bg = d.select(col("doc_id"),
      explode(wordNgrams(col("text"), 2)).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = bg.select(substring_index(col("bg"), " ", 1).as("a"))
      .groupBy("a").agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    val scored = bg
      .withColumn("a", substring_index(col("bg"), " ", 1))
      .join(c2, "bg")
      .join(c1, "a")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        floor(log((col("c1") + col("v")).cast("double") / (col("c2") + lit(1)))
          * T14Unit).cast("long").as("nll"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_sum_e4"))
      .withColumn("avg_nll_e4", expr("nll_sum_e4 div n_bigrams"))
    d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "nll_sum_e4", "avg_nll_e4"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_sum_e4"), col("avg_nll_e4"))
      .orderBy("doc_id")
  }

  /** t24: interpolated KNESER–NEY smoothed bigram LM score — the
    * production smoothing family next to t14's Laplace baseline (the
    * KenLM default that CCNet-style quality filtering actually ships;
    * Kneser & Ney 1995, Chen & Goodman 1998). For an observed bigram
    * (a,w) with count c2, prefix count c1(a) = Σ_w c2(a,w), distinct
    * continuations n1p(a) = |{w : c2(a,w)>0}|, left-context count
    * cont(w) = |{a : c2(a,w)>0}|, and total bigram types n_bb, the KN
    * probability with absolute discount D = 3/4 is
    *
    *   P(w|a) = (c2 − D)/c1 + D·n1p(a)/c1 · cont(w)/n_bb
    *          = [(4·c2 − 3)·n_bb + 3·n1p(a)·cont(w)] / (4·c1·n_bb)
    *
    * — an EXACT int64 rational (the D = 3/4 choice clears the
    * denominators), so both engines take ONE ieee double division and
    * one ln per scored occurrence, floored onto the t14 1e-4-nat
    * integer grid BEFORE the per-doc sum: integer doc totals in any
    * fold order, true integer division for the mean. The continuation
    * counts are what distinguish KN from t14: a word seen often but
    * only after one specific prefix ("Francisco") gets a LOW unigram
    * weight — the novel-context behaviour Laplace cannot express.
    *
    * 100 TB shape: all four model tables (types, prefix, continuation,
    * the 1-row type total) are VOCABULARY-sized partial-agg outputs,
    * never corpus-sized; the scoring joins shuffle on bigram/word-type
    * keys exactly like t14 (AQE broadcasts them at gate SFs); n_bb
    * attaches as a 1-row broadcast. Docs with < 2 tokens surface with
    * zeros via the left join (the t14 honesty rule). */
  def t24KneserNey(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val occ = d.select(col("doc_id"),
        explode(wordNgrams(col("text"), 2)).as("bg"))
      .select(col("doc_id"),
        substring_index(col("bg"), " ", 1).as("a"),
        substring_index(col("bg"), " ", -1).as("w"))
    val ty = occ.groupBy(col("a"), col("w")).agg(count(lit(1)).as("c2"))
    val pre = ty.groupBy(col("a"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val ct = ty.groupBy(col("w")).agg(count(lit(1)).as("cont"))
    val nbb = ty.agg(count(lit(1)).as("nbb"))
    val scored = occ
      .join(ty, Seq("a", "w"))
      .join(pre, Seq("a"))
      .join(ct, Seq("w"))
      .crossJoin(broadcast(nbb))
      .select(col("doc_id"),
        floor(log((lit(4L) * col("c1") * col("nbb")).cast("double") /
            ((lit(4L) * col("c2") - lit(3L)) * col("nbb") +
              lit(3L) * col("n1p") * col("cont")))
          * T14Unit).cast("long").as("nll"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_sum_e4"))
      .withColumn("avg_nll_e4", expr("nll_sum_e4 div n_bigrams"))
    d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "nll_sum_e4", "avg_nll_e4"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_sum_e4"), col("avg_nll_e4"))
      .orderBy("doc_id")
  }

  /** t15: DSIR importance weights + selection (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023) — the data-SELECTION step that sits after the
    * quality tier (t02/t14) in a training pipeline: score every raw
    * doc by how target-like its token distribution is, then keep the
    * top slice. Target here = the `lang = 'en'` slice of the corpus
    * (the dominant-language selection a multilingual crawl actually
    * runs); raw = the whole corpus. Per-feature log-likelihood ratio
    * under Laplace-smoothed unigram bag models:
    *
    *   lr(t) = ln( ((ct+1)·(Nr+V)) / ((cr+1)·(Nt+V)) )
    *
    * with ct/cr the target/raw occurrence counts of token t, Nt/Nr the
    * total token counts, V the raw vocabulary size. A doc's importance
    * log-weight is the sum of lr over its token OCCURRENCES; the gate
    * keeps the top ⌈n/5⌉ docs by weight (tie: doc_id) — DSIR's k-of-n
    * resample with the Gumbel noise term dropped so the oracle replays
    * the selection exactly (a production run adds seeded Gumbel noise
    * to `logw`; the plan shape is identical).
    *
    * Cross-engine exactness: the paper's hashed n-gram buckets exist
    * here as `pmod(xxhash64(t), B)` but DuckDB has no xxhash64, so the
    * gate uses token TYPES as the feature space (count tables are
    * vocabulary-sized either way; hashing only caps V at scale). Both
    * count products are exact int64, one IEEE-double ln per distinct
    * token floored onto the t14 1e-4-nat integer grid BEFORE the
    * per-doc sum — integer doc weights, any fold order.
    *
    * 100 TB shape: count tables are vocabulary-sized partial-agg
    * outputs (swap in the hashed-bucket form to cap V); the scoring
    * join shuffles on the token key exactly like t14 (AQE broadcasts
    * at gate SFs); totals attach as a 1-row broadcast; the top-k is
    * TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows), never a global sort or window. k comes from one narrow
    * routing count (the t10 routing-scalar precedent). */
  def t15DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(spark, dir, identity)

  /** The bounded-feature-space form of t15 — the paper's hashed
    * n-gram buckets: feature = pmod(xxhash64(token), B), so the count
    * tables are capped at B rows no matter how large the live
    * vocabulary grows (100 TB of web text has an unbounded token-type
    * space; B is the knob that keeps the model state fixed-size).
    * Colliding tokens share a bucket and therefore a log-ratio — the
    * paper's accepted approximation. Not the gate form ONLY because
    * DuckDB has no xxhash64 to replay the bucketing; OperatorSpec pins
    * that at a collision-free B the selection equals the type-feature
    * gate exactly (same pipeline, same integer grid, same tie-break). */
  private[graft] def t15DsirWeightsHashed(spark: SparkSession, dir: String,
      buckets: Int): DataFrame =
    dsirWeights(spark, dir, t => pmod(xxhash64(t), lit(buckets.toLong)))

  /** Shared DSIR pipeline, parameterized on the feature map (token
    * type → feature key). All counts/joins/grid arithmetic identical
    * between the two forms — only the key changes. */
  private def dsirWeights(spark: SparkSession, dir: String,
      featKey: Column => Column): DataFrame = {
    val d = docs(spark, dir)
    // explode first, then map: a generator can't be nested inside the
    // feature expression
    val tok = d.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tt"))
      .select(col("doc_id"), col("lang"), featKey(col("tt")).as("t"))
    val raw = tok.groupBy("t").agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("lang") === "en")
      .groupBy("t").agg(count(lit(1)).as("ct"))
    val feat = raw.join(tgt, Seq("t"), "left").na.fill(0L, Seq("ct"))
    val tot = feat.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    // each factor casts to double BEFORE the product: the Long product
    // (ct+1)*(nr+v) overflows int64 at ~billions of tokens (the 100 TB
    // shape) while the double product only rounds — and the quotient
    // feeds log() as a double anyway, so gate-SF values (< 2^53, exact
    // in a double) are unchanged (round-11 advice item 1)
    val lr = feat.crossJoin(broadcast(tot)).select(col("t"),
      floor(log(((col("ct") + 1).cast("double") * (col("nr") + col("v")).cast("double")) /
        ((col("cr") + 1).cast("double") * (col("nt") + col("v")).cast("double"))) * T14Unit)
        .cast("long").as("lr_e4"))
    val perDoc = tok.join(lr, "t").groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_e4")).as("logw_e4"))
    val n = d.count() // narrow routing scalar: k for the resample
    val k = ((n + 4L) / 5L).toInt
    d.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens", "logw_e4"))
      .orderBy(col("logw_e4").desc, col("doc_id"))
      .limit(k)
  }

  private[graft] val T16SeqLen = 512L
  private[graft] val T16GroupSpan = 64L

  /** t16: sequence-packing census — the pretraining prep step after
    * tokenize/filter: docs are concatenated in doc_id order and cut
    * into fixed [[T16SeqLen]]-token training sequences; each doc
    * reports its global token offset, which sequences it spans
    * (seq_first/seq_last) and how many — the map a packing writer (and
    * any loss-masking or doc-boundary logic) needs before emitting
    * training shards.
    *
    * The global running offset uses p06's two-phase prefix sum: a
    * per-group cumulative window (group = doc_id range of
    * [[T16GroupSpan]], shuffle-partitioned, arbitrarily parallel) plus
    * ONE deliberately-unpartitioned window over the n/GroupSpan GROUP
    * TOTALS — bounded rows, never the corpus (grow GroupSpan with the
    * corpus, or recurse the same two-phase split). Token counts are
    * ≥ 1 per doc (the t01 tokenization never yields an empty array),
    * so seq_last's `(start + n - 1) div L` stays non-negative — the
    * regime where Spark's truncating `div` and DuckDB's flooring `//`
    * agree. */
  def t16SeqPacking(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      (col("doc_id") / T16GroupSpan).cast("long").as("grp"))
    val wIn = Window.partitionBy("grp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = d.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
    val wOff = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("grp").agg(sum(col("n_tokens")).as("gtot"))
      .withColumn("off", coalesce(sum(col("gtot")).over(wOff), lit(0L)))
      .select("grp", "off")
    within.join(broadcast(offsets), "grp")
      .select(col("doc_id"), col("n_tokens"),
        (col("off") + col("cum_in") - col("n_tokens")).as("start_off"))
      .withColumn("seq_first", expr(s"start_off div $T16SeqLen"))
      .withColumn("seq_last", expr(s"(start_off + n_tokens - 1) div $T16SeqLen"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .orderBy("doc_id")
  }

  def t13CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    t13ProbeGrid(spark, dir, t13CellsOf(docs(spark, dir)))

  /** The sketch-build half of t13 over any (…, text) frame: the fixed
    * [[T13Depth]]×[[T13Width]] cell-count grid. ONE pass emits all
    * depth rows: each token occurrence explodes a 0..depth-1 sequence,
    * so the scan+tokenize runs once instead of depth times (a union of
    * per-row selects re-scanned the corpus 4× — ADVICE round 10).
    * xxhash64 hashes VALUES, so the column-r form lands in the same
    * cells as the probes' lit(r). Grids over disjoint slices MERGE by
    * cellwise sum — the property st16 runs as a streaming fold. */
  private[graft] def t13CellsOf(d: DataFrame): DataFrame =
    d.select(explode(tokens(col("text"))).as("t"))
      .select(col("t"), explode(sequence(lit(0), lit(T13Depth - 1))).as("r"))
      .select(col("r"), pmod(xxhash64(col("t"), col("r")), lit(T13Width)).as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))

  /** The estimation half of t13 against an explicit cell grid `cms`:
    * exact top-[[T13TopK]] probes the grid and the guarantees census
    * rides the output. The seam st16 serves its STREAMED grid through,
    * sharing this gate shape (and the oracle) verbatim. */
  private[graft] def t13ProbeGrid(spark: SparkSession, dir: String,
      cms: DataFrame): DataFrame = {
    val tok = docs(spark, dir).select(explode(tokens(col("text"))).as("t"))
    val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("exact_n"))
    val total = exact.agg(sum(col("exact_n")).as("n_total"))
    val top = exact.orderBy(col("exact_n").desc, col("t")).limit(T13TopK)
    val probes = (0 until T13Depth).map(r => top.select(
        col("t"), col("exact_n"), lit(r).as("r"),
        pmod(xxhash64(col("t"), lit(r)), lit(T13Width)).as("b")))
      .reduce(_ unionAll _)
    probes.join(broadcast(cms), Seq("r", "b"))
      .groupBy(col("t"), col("exact_n")).agg(min(col("c")).as("est_n"))
      .crossJoin(broadcast(total))
      .select(col("t"), col("exact_n"),
        (col("est_n") >= col("exact_n")).as("no_underestimate"),
        (col("est_n") <= col("exact_n") +
          ceil(lit(math.E) * col("n_total") / T13Width)).as("within_eps"))
      .orderBy(col("exact_n").desc, col("t"))
  }

  // ---- t17: LEARNED quality classifier ------------------------------

  // 24 full-batch rounds at step 16: measured AUC on the held-in
  // corpus 0.59 (3 rounds, lr 1) → 0.70 (8/4) → 0.77 (24/16), the
  // plateau of the swept grid (round-13 NOTES); logistic convergence
  // on a separable teacher is logarithmic, so the knee is where more
  // rounds stop paying
  private[graft] val T17Rounds = 24
  private[graft] val T17Lr = 16L
  private[graft] val T17TrainMod = 5L
  /** Teacher threshold on the t02 blend — the same bar e01's quality
    * stage uses (kept as its own literal: operators don't depend on the
    * pipeline layer). */
  private[graft] val T17LabelBp = 4500L

  /** The deterministic squaring "sigmoid" σ₆₄(z) = 1 / (1 + (1−z/64)⁶⁴)
    * with z clamped to [−8, 8] and the power computed as SIX explicit
    * squarings — multiply/divide/compare only, so both engines produce
    * BIT-IDENTICAL doubles. libm exp() differs between JVM and DuckDB
    * and would desynchronize the micro-unit floors; (1−z/N)ᴺ is the
    * compound-interest approximation of e⁻ᶻ, and since it is the
    * ACTIVATION DEFINITION (not an approximation of one) it needs no
    * error bound — monotone, bounded, sigmoid-shaped is all logistic
    * training needs. Each squaring is a projected column, so the
    * expression tree stays linear (not 2⁶ copies of the z subtree). */
  private def withSigmoid(df: DataFrame, z: Column): DataFrame =
    df.withColumn("zc", greatest(lit(-8.0), least(lit(8.0), z)))
      .withColumn("q1", lit(1.0) - col("zc") / lit(64.0))
      .withColumn("q2", col("q1") * col("q1"))
      .withColumn("q4", col("q2") * col("q2"))
      .withColumn("q8", col("q4") * col("q4"))
      .withColumn("q16", col("q8") * col("q8"))
      .withColumn("q32", col("q16") * col("q16"))
      .withColumn("q64", col("q32") * col("q32"))
      .withColumn("p", lit(1.0) / (lit(1.0) + col("q64")))

  /** t17's feature/label frame: three t01/t02-family features (unique-
    * token ratio, stopword ratio, capped length) plus the TEACHER label
    * — t02's heuristic blend thresholded at [[T17LabelBp]]. The
    * FineWeb-Edu shape: an expensive teacher labels a sample, a cheap
    * linear student imitates it corpus-wide; here the stand-in teacher
    * is the full nonlinear t02 blend (caps and all), the student a
    * 4-weight logistic model over the raw features. */
  private def t17Feats(spark: SparkSession, dir: String): DataFrame = {
    val w = tokens(col("text"))
    val n = size(w).cast("double")
    val uniq = size(array_distinct(w)) / n
    val stopr = vocabHits(col("text"), enStops) / n
    val lenf = least(n / 50.0, lit(1.0))
    val blend = lit(0.5) * uniq +
      lit(0.3) * least(stopr * 4.0, lit(1.0)) + lit(0.2) * lenf
    // features CENTERED by the fixed 0.5 (a constant, not a data
    // statistic — data-derived means would need their own exact-grid
    // machinery): all three raw features are positive, so uncentered
    // GD spends its budget fighting the bias instead of separating
    // (measured: centering moved 24-round AUC from ~0.6 to 0.77)
    docs(spark, dir).select(
      col("doc_id"), (uniq - 0.5).as("x1"), (stopr - 0.5).as("x2"),
      (lenf - 0.5).as("x3"),
      when(floor(blend * 10000).cast("long") >= T17LabelBp, 1)
        .otherwise(0).as("label"))
  }

  /** t17: LEARNED quality classifier — logistic regression trained
    * entirely as DataFrame aggregations (round-12 verdict item 2): the
    * labeled sample is doc_id ≡ 0 (mod [[T17TrainMod]]) — the
    * "teacher-annotated" subset — and each of the [[T17Rounds]]
    * full-batch gradient-descent rounds is ONE partial-aggregating
    * pass over it: p = σ₆₄(w·x) per doc ([[withSigmoid]]), per-doc
    * gradient contributions FLOORED ONTO THE INTEGER MICRO-UNIT GRID
    * before summation (integer sums are exact in any fold order — the
    * s04-Lloyd/t14 rule, so the trained weights are bit-identical in
    * any partitioning and in the oracle's replay), and the weight
    * update w += floor(g/n) stays in micro-units. Apply is one
    * map-side pass over the full corpus with the final 4-weight row
    * broadcast.
    *
    * 100 TB shape: training cost is rounds × one aggregation over the
    * labeled sample (a fixed fraction); apply is map-only; nothing is
    * ever collected to the driver — weights flow as 1-row broadcast
    * frames. The DuckDB oracle ([[t17OracleSql]]) replays every GD
    * round as a generated CTE pair (gradient, update) in lockstep with
    * [[T17Rounds]], then scores the corpus with the same final
    * weights — train AND apply, row for row. */
  def t17QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val feats = t17Feats(spark, dir)
    val train = feats.filter(pmod(col("doc_id"), lit(T17TrainMod)) === 0)
      // scanned once per GD round; the first round's pass materializes it
      .localCheckpoint(eager = false)
    def z(w: Array[Long]) =
      (lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3")) / lit(1e6)
    // weights iterate DRIVER-SIDE as four longs — the MLlib
    // treeAggregate-then-update shape (one partial-aggregated pass per
    // round; only the 4-long gradient row ever reaches the driver — a
    // documented scalar model read, same family as the d08/t13 routing
    // scalars). Chaining the update through crossJoined 1-row frames
    // instead would DOUBLE the logical plan per round (each round
    // references the previous weights twice) — 2^24 plan nodes.
    var w = Array(0L, 0L, 0L, 0L)
    for (_ <- 1 to T17Rounds) {
      val g = withSigmoid(train, z(w)).agg(
        sum(floor((col("label") - col("p")) * lit(1e6))).as("g0"),
        sum(floor((col("label") - col("p")) * col("x1") * lit(1e6))).as("g1"),
        sum(floor((col("label") - col("p")) * col("x2") * lit(1e6))).as("g2"),
        sum(floor((col("label") - col("p")) * col("x3") * lit(1e6))).as("g3"),
        count(lit(1)).as("ntr")).head()
      val n = g.getLong(4).toDouble
      w = Array.tabulate(4)(j =>
        w(j) + T17Lr * math.floor(g.getLong(j).toDouble / n).toLong)
    }
    withSigmoid(feats, z(w))
      .select(col("doc_id"), col("label").cast("long").as("label"),
        floor(col("p") * 1e6).as("score_micro"),
        (col("p") >= 0.5).as("pred"))
      .orderBy("doc_id")
  }

  // ---- t06b: REAL BPE — learned merge table -------------------------

  private[graft] val T06bMerges = 8

  /** t06b: a REAL byte-pair-encoding TRAINER (Sennrich et al. 2016,
    * arXiv:1508.07909 — the algorithm behind GPT/Llama tokenizers),
    * expressed as DataFrame aggregations over the word VOCABULARY
    * (distinct words with corpus frequencies — vocabulary-sized state,
    * never corpus-sized, exactly how production BPE trainers run):
    * each word starts as its space-joined character sequence, and each
    * of the [[T06bMerges]] rounds (1) counts adjacent symbol pairs
    * across the vocabulary weighted by word frequency (one
    * partial-aggregated pass), (2) picks the most frequent pair
    * (tie → lexicographically smallest — deterministic cross-engine:
    * both engines compare binary UTF-8), and (3) merges it everywhere
    * via literal left-to-right non-overlapping string replacement —
    * the SAME replace semantics in Spark and DuckDB, and the standard
    * BPE application order. The chosen (pair, count) per round is the
    * MODEL — 2 strings + a long read driver-side per round, the t17
    * treeAggregate-then-update shape (chaining through frames would
    * double the plan per round).
    *
    * Output: one row per merge round — (round, pair, pair_n,
    * corpus_pieces) where corpus_pieces is the frequency-weighted
    * total symbol count after applying merges 1..r: the BPE
    * COMPRESSION CURVE, the artifact a tokenizer designer actually
    * reads (how much each additional merge buys). The DuckDB oracle
    * ([[t06bOracleSql]]) replays every round as generated MATERIALIZED
    * CTEs — pair census, argmax, replace, piece count — in lockstep
    * with [[T06bMerges]]. t06's native census remains the fast
    * pre-merge accounting pass; this is the LEARNED layer above it
    * (round-12 verdict item 7). */
  def t06bBpeMerges(spark: SparkSession, dir: String): DataFrame =
    t06bAt(spark, dir, T06bMerges)

  /** [[t06bBpeMerges]] at an explicit merge count — the OperatorSpec
    * hand-fixture seam.
    *
    * Sequence representation: single-space SENTINELS at the ends,
    * DOUBLE-space separators between symbols — " b  a  n  a  n  a ".
    * A merge of (l, r) replaces " l  r " with " lr ": the match
    * consumes ONE of the two separator spaces on each side, so (a) it
    * can only align on whole symbols (symbol prefixes are common once
    * merges stack — with bare separators the pair string "an a" would
    * also match inside "b an an a" and corrupt the second an), and
    * (b) each replacement LEAVES one space on each flank, so
    * back-to-back occurrences ("a n a n" merging (a, n)) all merge in
    * the same left-to-right pass — EXACTLY canonical BPE application
    * order, with a single-space sentinel the first/last symbols would
    * miss the second property (measured: the overlap merge deferred a
    * round). Both engines' replace() is the same scan-left,
    * continue-after-replacement algorithm, so the sequences stay
    * bit-identical. Pair extraction and piece counts split trim(seq)
    * on the double separator, so sentinels never pollute the census. */
  private[graft] def t06bAt(spark: SparkSession, dir: String,
      merges: Int): DataFrame = {
    import spark.implicits._
    val (rows, _) = t06bTrain(spark, dir, merges)
    rows.toDF("round", "pair", "pair_n", "corpus_pieces").orderBy("round")
  }

  /** The t06b training loop proper, returning both the per-round model
    * rows and the final (w, n, seq) VOCABULARY (checkpointed): t06b
    * reads the rows, t06c encodes through the vocab.
    * The word column rides along untouched so the trained segmentation
    * stays addressable by word. */
  private[graft] def t06bTrain(spark: SparkSession, dir: String,
      merges: Int): (Seq[(Long, String, Long, Long)], DataFrame) = {
    val w0 = docs(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    t06TrainLoop(w0.select(col("w"), col("n"),
      concat(lit(" "), rtrim(regexp_replace(col("w"), "(.)", "$1  ")),
        lit(" ")).as("seq")), merges)
  }

  /** The merge-round loop shared by the word-level (t06b) and
    * byte-level (t06d) trainers — identical given a starting
    * (w, n, seq) vocabulary frame; only the alphabet differs. */
  private[graft] def t06TrainLoop(seq0: DataFrame,
      merges: Int): (Seq[(Long, String, Long, Long)], DataFrame) = {
    import org.apache.spark.sql.GraftShims.unpersistLocalCheckpoint
    var seqDf = seq0.localCheckpoint(eager = false)
    val pairsOf = expr(
      "transform(sequence(1, size(split(trim(seq), '  ')) - 1), " +
        "i -> concat(element_at(split(trim(seq), '  '), i), ' ', " +
        "element_at(split(trim(seq), '  '), i + 1)))")
    val rows = (1 to merges).map { r =>
      // single-symbol words shed no pairs — and must be filtered
      // BEFORE the transform: Spark's sequence(1, 0) runs DESCENDING
      // (it would index element 0/2 of a 1-element array), where
      // DuckDB's range(1, 1) is simply empty
      val best = seqDf
        .filter(size(split(trim(col("seq")), "  ")) >= 2)
        .select(col("n"), explode(pairsOf).as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("pn"))
        .orderBy(col("pn").desc, col("pair").asc).limit(1).head()
      val (pair, pn) = (best.getString(0), best.getLong(1))
      val next = seqDf.select(col("w"), col("n"),
        replace(col("seq"), lit(" " + pair.replace(" ", "  ") + " "),
          lit(" " + pair.replace(" ", "") + " ")).as("seq"))
        .localCheckpoint(eager = false)
      val pieces = next
        .agg(sum(col("n") * size(split(trim(col("seq")), "  "))).cast("long"))
        .head().getLong(0)
      unpersistLocalCheckpoint(seqDf)
      seqDf = next
      (r.toLong, pair, pn, pieces)
    }
    (rows, seqDf)
  }

  /** t06c: ENCODE the corpus through the LEARNED merge table — the
    * apply half t06b's trainer was missing (train → apply, the t17/s11
    * lifecycle symmetry): run the [[T06bMerges]] merge rounds, then
    * tokenize every document and look each word up in the trained
    * word→pieces vocabulary. Because BPE segmentation is a pure
    * function of the word (canonical left-to-right application — the
    * trainer's own replace chain), encoding distributes as ONE keyed
    * join of the exploded corpus against the vocabulary — which is
    * vocabulary-sized, i.e. broadcast-sized at any corpus scale: the
    * encode pass is map-side, zero corpus shuffle beyond the per-doc
    * census agg. Output per doc: token count, encoded piece count, and
    * the compression in integer basis points (pieces shrink toward
    * n_tokens as merges stack). The oracle replays training AND encode
    * in one WITH chain, so a single mis-segmented word breaks the
    * hash. */
  def t06cBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = t06bTrain(spark, dir, T06bMerges)
    val np = vocab.select(col("w"),
      size(split(trim(col("seq")), "  ")).cast("long").as("np"))
    docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(np), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("np")).as("n_pieces"))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        expr("n_pieces * 10000 div n_tokens").as("pieces_per_token_bp"))
      .orderBy("doc_id")
  }

  /** The t06b trainer in DuckDB — per-round CTEs GENERATED in lockstep
    * with [[T06bMerges]] (the s04/t17 rule), all MATERIALIZED (each
    * round references the previous sequence table twice — uninlined
    * the chain re-evaluates exponentially, the t17 lesson). */
  /** The t06b training chain as a WITH prefix (trailing ", ") — shared
    * by the trainer oracle (reads b/z per round) and the encode oracle
    * (reads the final s$merges vocabulary). Each s CTE carries the
    * word so the trained segmentation stays addressable. */
  private[graft] def t06bCtesSql(merges: Int): String =
    t06CtesSqlOver(merges,
      "SELECT unnest(string_split_regex(rtrim(text), '\\s+')) AS w FROM documents",
      "' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '")

  /** The trainer CTE chain over an explicit pre-tokenizer (`tokSql`,
    * one `w` per row) and seq-0 builder (`seq0Sql`, an expression of
    * `w`) — shared by the word-level (t06b/t06c) and byte-level (t06d)
    * oracles; the merge rounds are alphabet-blind. */
  private[graft] def t06CtesSqlOver(merges: Int, tokSql: String,
      seq0Sql: String): String = {
    val roundsSql = (1 to merges).map { r =>
      s"pc$r AS MATERIALIZED (SELECT p AS pair, CAST(sum(n) AS BIGINT) AS pn FROM (" +
        "SELECT n, unnest(list_transform(range(1, len(string_split(trim(seq), '  '))), " +
        "i -> string_split(trim(seq), '  ')[i] || ' ' || string_split(trim(seq), '  ')[i + 1])) AS p " +
        s"FROM s${r - 1}) GROUP BY p), " +
        s"b$r AS MATERIALIZED (SELECT pair, pn FROM pc$r ORDER BY pn DESC, pair LIMIT 1), " +
        s"s$r AS MATERIALIZED (SELECT w, n, replace(seq, " +
        s"' ' || replace((SELECT pair FROM b$r), ' ', '  ') || ' ', " +
        s"' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS seq FROM s${r - 1}), " +
        s"z$r AS MATERIALIZED (SELECT CAST(sum(n * len(string_split(trim(seq), '  '))) AS BIGINT) AS pieces FROM s$r), "
    }.mkString
    s"WITH w0 AS MATERIALIZED (SELECT w, count(*) AS n FROM ($tokSql) GROUP BY w), " +
      s"s0 AS MATERIALIZED (SELECT w, n, $seq0Sql AS seq FROM w0), " +
      roundsSql
  }

  private[graft] def t06bOracleSql(merges: Int): String = {
    val rows = (1 to merges).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, (SELECT pair FROM b$r) AS pair, " +
        s"(SELECT pn FROM b$r) AS pair_n, (SELECT pieces FROM z$r) AS corpus_pieces"
    }.mkString(" UNION ALL ")
    t06bCtesSql(merges).stripSuffix(", ") + " " + rows + " ORDER BY round"
  }

  /** t06c oracle: training replayed via [[t06bCtesSql]], then the
    * encode join against the FINAL vocabulary — the same lookup the
    * engine broadcasts. */
  private[graft] def t06cOracleSql(merges: Int): String =
    t06bCtesSql(merges) +
      "enc AS (SELECT doc_id, unnest(string_split_regex(rtrim(text), '\\s+')) AS w FROM documents), " +
      s"vp AS (SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS np FROM s$merges) " +
      "SELECT doc_id, count(*) AS n_tokens, CAST(sum(np) AS BIGINT) AS n_pieces, " +
      "CAST(sum(np) * 10000 // count(*) AS BIGINT) AS pieces_per_token_bp " +
      "FROM enc JOIN vp USING (w) GROUP BY doc_id ORDER BY doc_id"

  // ---- t06d: byte-level BPE (GPT-2-class pre-split, no OOV) ------------

  /** The GPT-2-CLASS pre-tokenizer, lookahead-free so Java regex
    * (Spark) and RE2 (DuckDB) execute it identically: an optionally
    * space-prefixed letter run, digit run, or punctuation run, with
    * whitespace runs as their own tokens. GPT-2's exact rule spells
    * the last alternative `\s+(?!\S)` (donate a run's final space to
    * the next token) — RE2 has no lookahead, so a multi-space run
    * keeps its last space instead; byte CONSERVATION holds either way
    * (every byte of the text lands in exactly one pre-token —
    * spec-pinned), which is the property that makes byte-level BPE
    * OOV-free. */
  private[graft] val T06dPat = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  /** t06d: BYTE-LEVEL BPE — the production tokenization level
    * (round-16 missing item 5): GPT-2/Llama-class trainers pre-split
    * with a regex and operate on UTF-8 BYTES, so every input — unseen
    * words, emoji, any script — segments with zero OOV (the byte
    * alphabet covers everything; Radford et al. 2019 §2.2, public).
    * t06b's trainer shape is reused verbatim ([[t06TrainLoop]] — the
    * merge rounds are alphabet-blind, vocabulary-sized state,
    * driver-side argmax); what changes is the alphabet: each
    * pre-token's seq-0 is its UTF-8 bytes as fixed-width HEX PAIRS
    * ("he" → " 68  65 "), which keeps merged symbols uniquely
    * decodable by construction (every atom is exactly two hex digits —
    * decimal atoms could collide after concatenation). Output is
    * t06b's compression curve over the byte alphabet; the oracle
    * replays pre-split, byte expansion, and every merge round through
    * the SAME generated CTE chain as t06b ([[t06CtesSqlOver]]).
    * OperatorSpec pins byte conservation (round-0 pieces == the
    * corpus's exact byte count — word-level t06b provably loses the
    * whitespace bytes) and the no-OOV property (an unseen word
    * segments through the trained table without any fallback path). */
  def t06dByteBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (rows, _) = t06dTrain(spark, dir, T06bMerges)
    rows.toDF("round", "pair", "pair_n", "corpus_pieces").orderBy("round")
  }

  /** The byte-level trainer: GPT-2-class pre-tokens, hex-pair byte
    * seq-0, then the shared merge loop. */
  private[graft] def t06dTrain(spark: SparkSession, dir: String,
      merges: Int): (Seq[(Long, String, Long, Long)], DataFrame) = {
    val w0 = docs(spark, dir)
      .select(explode(
        regexp_extract_all(rtrim(col("text")), lit(T06dPat), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    t06TrainLoop(w0.select(col("w"), col("n"),
      concat(lit(" "),
        rtrim(regexp_replace(hex(encode(col("w"), "UTF-8")), "(..)", "$1  ")),
        lit(" ")).as("seq")), merges)
  }

  /** t06d oracle: the byte-level pre-split and seq-0 fed through the
    * shared generated trainer chain. */
  private[graft] def t06dOracleSql(merges: Int): String = {
    val rows = (1 to merges).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, (SELECT pair FROM b$r) AS pair, " +
        s"(SELECT pn FROM b$r) AS pair_n, (SELECT pieces FROM z$r) AS corpus_pieces"
    }.mkString(" UNION ALL ")
    t06CtesSqlOver(merges,
      s"SELECT unnest(regexp_extract_all(rtrim(text), '$T06dPat')) AS w FROM documents",
      "' ' || rtrim(regexp_replace(hex(encode(w)), '(..)', '\\1  ', 'g')) || ' '")
      .stripSuffix(", ") + " " + rows + " ORDER BY round"
  }

  /** The t17 train+apply pipeline in DuckDB — GD-round CTEs GENERATED
    * per round (the s04 rule: changing [[T17Rounds]] cannot
    * desynchronize engine and oracle). `f`/`tr` materialized so the
    * round chain doesn't re-inline the feature scan per reference. */
  private[graft] def t17OracleSql(rounds: Int): String = {
    val sig =
      "greatest(-8.0, least(8.0, (w0 + w1*x1 + w2*x2 + w3*x3)/1e6)) AS zc, " +
        "1 - zc/64.0 AS q1, q1*q1 AS q2, q2*q2 AS q4, q4*q4 AS q8, " +
        "q8*q8 AS q16, q16*q16 AS q32, q32*q32 AS q64, 1.0/(1.0 + q64) AS p"
    // g/wr MATERIALIZED: DuckDB inlines CTEs by default, and each
    // round references the previous weights twice — uninlined the
    // chain re-evaluates 2^rounds times (measured hang at 24 rounds)
    val roundsSql = (1 to rounds).map { r =>
      s"g$r AS MATERIALIZED (SELECT CAST(sum(floor((label - p) * 1e6)) AS BIGINT) AS g0, " +
        "CAST(sum(floor((label - p) * x1 * 1e6)) AS BIGINT) AS g1, " +
        "CAST(sum(floor((label - p) * x2 * 1e6)) AS BIGINT) AS g2, " +
        "CAST(sum(floor((label - p) * x3 * 1e6)) AS BIGINT) AS g3, " +
        "count(*) AS ntr FROM (" +
        s"SELECT label, x1, x2, x3, $sig FROM tr, wr${r - 1})), " +
        s"wr$r AS MATERIALIZED (SELECT w0 + $T17Lr * CAST(floor(CAST(g0 AS DOUBLE)/ntr) AS BIGINT) AS w0, " +
        s"w1 + $T17Lr * CAST(floor(CAST(g1 AS DOUBLE)/ntr) AS BIGINT) AS w1, " +
        s"w2 + $T17Lr * CAST(floor(CAST(g2 AS DOUBLE)/ntr) AS BIGINT) AS w2, " +
        s"w3 + $T17Lr * CAST(floor(CAST(g3 AS DOUBLE)/ntr) AS BIGINT) AS w3 " +
        s"FROM wr${r - 1}, g$r), "
    }.mkString
    "WITH f AS MATERIALIZED (SELECT doc_id, " +
      "len(list_distinct(w)) / CAST(len(w) AS DOUBLE) - 0.5 AS x1, " +
      s"len(list_filter(w, x -> x IN ($enIn))) / CAST(len(w) AS DOUBLE) - 0.5 AS x2, " +
      "least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) - 0.5 AS x3, " +
      "CASE WHEN floor((0.5 * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE)) + " +
      s"0.3 * least((len(list_filter(w, x -> x IN ($enIn))) / CAST(len(w) AS DOUBLE)) * 4.0, 1.0) + " +
      "0.2 * least(CAST(len(w) AS DOUBLE) / 50.0, 1.0)) * 10000) >= " +
      s"$T17LabelBp THEN 1 ELSE 0 END AS label " +
      "FROM (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents)), " +
      s"tr AS MATERIALIZED (SELECT * FROM f WHERE doc_id % $T17TrainMod = 0), " +
      "wr0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, " +
      "CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3), " +
      roundsSql.stripSuffix(", ") + " " +
      "SELECT doc_id, CAST(label AS BIGINT) AS label, " +
      "CAST(floor(p * 1e6) AS BIGINT) AS score_micro, p >= 0.5 AS pred FROM (" +
      s"SELECT doc_id, label, $sig FROM f, wr$rounds) ORDER BY doc_id"
  }

  // ---- t18: BM25 lexical retrieval ---------------------------------

  /** The t18 query workload: a fixed batch of keyword queries (the
    * lexical analogue of s01's vec_id < 10 query slice). Terms within
    * a query are distinct, so per-term scores sum without a
    * query-side-tf weight. */
  private[graft] val T18Queries: Seq[(String, String)] = Seq(
    "lex0" -> "spark join fast",
    "lex1" -> "window agg",
    "lex2" -> "customer order value",
    "lex3" -> "stream filter hash",
    "lex4" -> "table scan merge")

  private[graft] val T18TopK = 10

  /** t18: BM25-family LEXICAL retrieval — keyword top-k search through
    * an inverted index, the lexical tier next to the s-series vector
    * chain (production retrieval runs both and fuses). The index is
    * the classic postings shape, each piece one aggregation over the
    * tokenized corpus: tf(doc, term), dl(doc), df(term) and the corpus
    * (N, avgdl) row. A query batch restricts the postings FIRST (tf ⋈
    * broadcast query terms — the postings-lookup, never a corpus
    * scan), attaches df/stats by broadcast, dl by one keyed join, then
    * per-(query, doc) scores sum and a per-query window takes top-k.
    *
    * Scoring is BM25 with k1 = 1.2, b = 0.75 and a RATIONAL idf
    * (N + 1)/(df + 0.5) in place of the classic ln((N - df + 0.5)/
    * (df + 0.5)) — a deliberate determinism decision, not an
    * approximation bug: ln routes through each engine's libm (no
    * cross-engine bit guarantee, the one operation IEEE 754 leaves
    * implementation-defined), while +, ×, ÷ are correctly-rounded and
    * bit-identical everywhere. Both factors are monotone in df, so
    * rare terms still dominate; per-term scores land on the integer
    * micro-unit grid (floor ×1e6 — the t14/t17 discipline) BEFORE the
    * per-doc sum, so aggregation order cannot perturb ranking in
    * either engine.
    *
    * 100 TB: tf/dl/df are one tokenize pass + three partial-agg
    * shuffles, computed ONCE (at deploy: persisted term-bucketed, the
    * d13 pattern — queries then join the bucketed postings with zero
    * index-side exchange, exactly s11's serve shape); per-batch cost
    * is |terms ∩ postings| rows, never O(corpus). */
  def t18Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val qterms = T18Queries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
    // postings lookup first: everything downstream is candidate-sized
    val cand = tf.join(broadcast(qterms), Seq("term"))
    // df only for the looked-up terms (the oracle's corpus-wide df
    // agrees on exactly these)
    val dfq = tf.join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val dfd = col("df").cast("double")
    val nd = col("n_docs").cast("double")
    val avgdl = col("tot").cast("double") / nd
    val sMu = floor(lit(1000000.0) *
      ((tfd * lit(2.2)) / (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (dld / avgdl)))) *
      ((nd + lit(1.0)) / (dfd + lit(0.5))))
    val perDoc = cand
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats)) // 1-row corpus stats attach
      .select(col("query_id"), col("doc_id"), sMu.as("s_mu"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s_mu")).as("score_mu"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_mu").desc, col("doc_id").asc)
    perDoc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= T18TopK)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("doc_id"), col("score_mu"))
      .orderBy("query_id", "rnk")
  }

  /** t18 oracle: the same postings/df/dl/stats CTEs, the query batch
    * as VALUES, and the IDENTICAL parenthesization of the score (so
    * both engines execute the same correctly-rounded double op tree),
    * floored to micro-units before the per-doc sum. */
  private[graft] val t18OracleSql: String = {
    val qvals = T18Queries.flatMap { case (qid, qtext) =>
      qtext.split(" ").map(t => s"('$qid', '$t')")
    }.mkString(", ")
    "WITH tok AS (SELECT doc_id, unnest(string_split_regex(rtrim(text), '\\s+')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1), " +
      "stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot FROM dl), " +
      "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
      s"q(query_id, term) AS (VALUES $qvals), " +
      "contrib AS (SELECT q.query_id, t.doc_id, CAST(floor(1000000.0 * " +
      "((CAST(t.tf AS DOUBLE) * 2.2) / (CAST(t.tf AS DOUBLE) + 1.2 * " +
      "(0.25 + 0.75 * (CAST(l.dl AS DOUBLE) / (CAST(s.tot AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) * " +
      "((CAST(s.n_docs AS DOUBLE) + 1.0) / (CAST(f.df AS DOUBLE) + 0.5))) AS BIGINT) AS s_mu " +
      "FROM tf t JOIN q ON q.term = t.term JOIN df f ON f.term = t.term " +
      "JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN stats s), " +
      "sc AS (SELECT query_id, doc_id, CAST(sum(s_mu) AS BIGINT) AS score_mu FROM contrib GROUP BY 1, 2) " +
      "SELECT query_id, rn AS rnk, doc_id, score_mu FROM (" +
      "SELECT query_id, doc_id, score_mu, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY score_mu DESC, doc_id) AS rn FROM sc) " +
      s"WHERE rn <= $T18TopK ORDER BY query_id, rnk"
  }

  /** Build the PERSISTED inverted index — the train-once/serve-many
    * lifecycle (s11's pattern applied to LEXICAL search): postings
    * (doc_id, term, tf) land term-bucketed and term-sorted, df/dl/
    * corpus-stats land as their own tiny tables, and the corpus is
    * tokenized EXACTLY once, at ingest. Every stored piece is what
    * [[t18Bm25]] recomputes per run. */
  private[graft] def t18bBuildIndex(
      spark: SparkSession, dir: String): (String, String, String, String) =
    t18bBuildIndexOver(spark, docs(spark, dir))

  /** [[t18bBuildIndex]] over an explicit (doc_id, text) frame — the
    * st17 seam (the streaming leg builds over the base slice only). */
  private[graft] def t18bBuildIndexOver(
      spark: SparkSession, d: DataFrame): (String, String, String, String) = {
    val wh = graft.core.IO.scratchDir("graft-t18b")
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val (tfT, dlT, dfT, stT) = (s"graft_t18b_tf_$tag", s"graft_t18b_dl_$tag",
      s"graft_t18b_df_$tag", s"graft_t18b_st_$tag")
    val toks = d
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.write.mode("overwrite").format("parquet")
      .bucketBy(Dedup.D13Buckets, "term").sortBy("term")
      .option("path", s"$wh/tf_$tag").saveAsTable(tfT)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    dl.write.mode("overwrite").format("parquet")
      .option("path", s"$wh/dl_$tag").saveAsTable(dlT)
    spark.table(tfT).groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$wh/df_$tag").saveAsTable(dfT)
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$wh/st_$tag").saveAsTable(stT)
    (tfT, dlT, dfT, stT)
  }

  /** The SERVE half: a query batch against the ALREADY-persisted index
    * — identical scoring to [[t18Bm25]], but the plan touches ONLY the
    * stored tables: no tokenize pass, no corpus scan, no Generate node
    * anywhere (PlanSpec pins it). Per-batch cost is the broadcast
    * postings lookup + candidate-sized joins. */
  private[graft] def t18bServe(spark: SparkSession,
      tfT: String, dlT: String, dfT: String, stT: String): DataFrame =
    t18bServeFrames(spark, spark.table(tfT), spark.table(dlT),
      spark.table(dfT), spark.table(stT))

  /** [[t18bServe]] over explicit index frames — the st17 seam: the
    * streaming fold serves its version-addressed df/stats dirs through
    * the IDENTICAL scoring plan. */
  private[graft] def t18bServeFrames(spark: SparkSession, tf: DataFrame,
      dl: DataFrame, df: DataFrame, st: DataFrame): DataFrame = {
    import spark.implicits._
    // (query, term) pairs materialized driver-side — a literal local
    // relation, so the serve plan carries NO Generate node at all
    val qterms = T18Queries
      .flatMap { case (qid, qtext) => qtext.split(" ").map(qid -> _) }
      .toDF("query_id", "term")
    val qdistinct = T18Queries.flatMap(_._2.split(" ")).distinct.toDF("term")
    val cand = tf.join(broadcast(qterms), Seq("term"))
    val dfq = df.join(broadcast(qdistinct), Seq("term"))
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val dfd = col("df").cast("double")
    val nd = col("n_docs").cast("double")
    val avgdl = col("tot").cast("double") / nd
    val sMu = floor(lit(1000000.0) *
      ((tfd * lit(2.2)) / (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (dld / avgdl)))) *
      ((nd + lit(1.0)) / (dfd + lit(0.5))))
    val perDoc = cand
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), sMu.as("s_mu"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s_mu")).as("score_mu"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_mu").desc, col("doc_id").asc)
    perDoc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= T18TopK)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("doc_id"), col("score_mu"))
      .orderBy("query_id", "rnk")
  }

  /** t18b: BM25 against the PERSISTED inverted index — build once
    * ([[t18bBuildIndex]]), then serve the query batch from the stored
    * artifacts alone. Deterministic indexing ⇒ the stored postings
    * equal the fresh ones, so t18b shares [[t18OracleSql]] VERBATIM:
    * persistence must be semantically invisible (the s11 argument, on
    * the lexical side). */
  def t18bPersistedBm25(spark: SparkSession, dir: String): DataFrame = {
    val (tfT, dlT, dfT, stT) = t18bBuildIndex(spark, dir)
    t18bServe(spark, tfT, dlT, dfT, stT)
  }

  // ---- t21: exact-substring span excision (Lee et al. 2022) ---------

  /** t21's span width: any run of [[T21L]] consecutive tokens occurring
    * ≥2 times ANYWHERE in the corpus (other docs or the same one) is a
    * duplicated span. 5 keeps chance collisions negligible on the gate
    * vocabulary while planted near-dup docs light up end to end. */
  private[graft] val T21L = 5

  /** t21: EXACT-SUBSTRING span excision — the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * operator (arXiv:2107.06499), the position-level tier the dedup
    * family lacked: d01-d16 decide whole documents; t12 reports dup
    * COVERAGE per doc; this one locates the exact spans to cut. Their
    * suffix-array pass is a single-machine algorithm; the Spark-native
    * equivalent for fixed width L is: every L-token shingle WITH ITS
    * START POSITION, one corpus-wide occurrence census (dup ⇔ count
    * ≥ 2 — same-doc repeats count, matching the paper), dup shingle
    * starts joined back, and per-doc INTERVAL UNION of the covered
    * [i, i+L-1] ranges via one keyed running-max window (pmax = max
    * end over preceding starts: a row opens a new span iff st > pmax
    * and contributes en − max(pmax, st−1) covered tokens — exact merge
    * arithmetic on integers, no double anywhere).
    *
    * Output per doc: (n_tokens, n_covered, n_spans, n_kept) — the
    * excision plan (n_kept is what survives the cut; the cleaned text
    * itself is a trivial filter of token positions against the same
    * merged spans). Zero-dup docs ride the left join with 0s so the
    * gate sees the whole corpus.
    *
    * 100 TB: shingling is map-only; the census is ONE hash-shuffle agg
    * (the t12 shape, shuffle_hash pinned on the aggregated side); the
    * window is keyed by doc_id, never global. The paper's corpus-wide
    * suffix array never materializes — fixed-L shingles are exactly
    * how the pass distributes. */
  /** Distinct (gram, doc_id) postings of the duplicated [[T21L]]-grams
    * (total occurrence count ≥ 2, t21's census rule) — the substring
    * tier's posting list, reused by e04's cross-split leakage audit. */
  private[graft] def dupGramDocs(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= T21L)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - lit(T21L - 1))).as("i"),
        col("w"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("w"), col("i"), lit(T21L))).as("s"))
    val census = sh.groupBy("s").agg(count(lit(1)).as("c"))
    sh.join(census.hint("shuffle_hash"), Seq("s"))
      .filter(col("c") >= 2)
      .select(col("s"), col("doc_id")).distinct()
  }

  def t21SpanExcision(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val sh = toks.filter(size(col("w")) >= T21L)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - lit(T21L - 1))).as("i"),
        col("w"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ", slice(col("w"), col("i"), lit(T21L))).as("s"))
    val census = sh.groupBy("s").agg(count(lit(1)).as("c"))
    val dup = sh.join(census.hint("shuffle_hash"), Seq("s"))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("i").as("st"),
        (col("i") + lit(T21L - 1)).as("en"))
    val w = Window.partitionBy("doc_id").orderBy("st")
      .rowsBetween(Window.unboundedPreceding, -1)
    val merged = dup.withColumn("pmax", coalesce(max(col("en")).over(w), lit(0)))
    val spans = merged.groupBy("doc_id").agg(
      sum(greatest(lit(0), col("en") - greatest(col("pmax"), col("st") - 1)))
        .cast("long").as("n_covered"),
      sum(when(col("st") > col("pmax"), 1L).otherwise(0L))
        .cast("long").as("n_spans"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (col("n_tokens") - coalesce(col("n_covered"), lit(0L))).as("n_kept"))
      .orderBy("doc_id")
  }

  // ---- t27: unbounded-span exact-substring dedup (Lee et al. 2022) ----

  /** t27's keep threshold: a maximal exact match must span ≥ this many
    * tokens to be reported — Lee et al. 2022's ≈50-token rule
    * (arXiv:2107.06499 §4.1: long matches are near-certain duplication;
    * short matches are idiom). t21's df>1 5-gram census is the recall
    * floor; THIS is the production filter — a common 5-gram idiom never
    * reaches 50 tokens of pair-consistent match (spec-pinned). */
  private[graft] val T27Min = 50

  /** Winnowing window in GRAMS: any duplicated span of ≥ [[T27Min]]
    * tokens contains ≥ [[T27Min]]−L+1 grams, hence at least one FULL
    * window — the anchor-guarantee bound (Schleimer et al. 2003 §4,
    * public). */
  private[graft] val T27W = T27Min - T21L + 1

  /** t27: UNBOUNDED-SPAN EXACT-SUBSTRING DEDUP — the production form
    * of t21 (round-16 verdict item 3): find every maximal CROSS-DOC
    * exact match of ≥ [[T27Min]] tokens, the suffix-array semantics of
    * Lee et al. 2022 re-expressed for a cluster in three bounded
    * stages:
    *
    *  1. RARE-ANCHOR SELECTION (winnowing): per sliding window of
    *     [[T27W]] consecutive 5-grams, select the window's RAREST gram
    *     (min (df, hash, gram), leftmost occurrence). The rule is a
    *     pure function of window CONTENT plus corpus-global df, so two
    *     copies of a duplicated span select anchors at the SAME
    *     span-relative offsets — every ≥[[T27Min]]-token span yields
    *     at least one ALIGNED anchor pair (the full-window guarantee),
    *     which makes the anchor tier LOSSLESS for spans over the
    *     threshold. Rarest-first is what bounds pair fan-out: a
    *     common idiom is anchored only when everything around it is
    *     just as common (the Ed-Join/d16 rarest-token argument).
    *  2. CANDIDATE PAIRS: anchors join on gram content across docs
    *     (da < db), reduced to distinct (da, db, delta) alignments —
    *     never corpus×corpus; only content-identical anchor grams meet.
    *  3. EXTENSION to the maximal match: for each candidate alignment,
    *     the matched-gram position set comes from two id-keyed joins
    *     (candidate × source grams, then an equi-join on the shifted
    *     position and gram), and gaps-and-islands (pos − row_number)
    *     turns consecutive matches into maximal runs — a run of k
    *     grams is an exact common substring of k+L−1 tokens. Work per
    *     candidate is O(len(da)) — the Lee et al. extension cost —
    *     and candidates are anchor-driven, so corpus-wide cost scales
    *     with true duplication, not with idiom frequency.
    *
    * Output: one row per maximal cross-doc span ≥ [[T27Min]] tokens
    * (doc_a, doc_b, start_a, start_b, n_tokens). Within-doc repetition
    * stays t21's territory. The DuckDB oracle is BRUTE FORCE — all
    * matched gram pairs, all alignments, no anchors — so the gate
    * proves the anchor tier loses nothing above the threshold. */
  def t27LongDupSpans(spark: SparkSession, dir: String): DataFrame =
    t27SpansOver(spark, docs(spark, dir))

  /** [[t27LongDupSpans]] over an explicit (doc_id, text) frame — the
    * planted-fixture spec seam. */
  private[graft] def t27SpansOver(spark: SparkSession, d: DataFrame): DataFrame = {
    val L = T21L
    val toks = d.select(col("doc_id"), tokens(col("text")).as("w"))
    // the positional gram table is walked FIVE times downstream (df
    // census, winnowing join, anchor re-join, both extension sides) —
    // materialize it once: an unmaterialized plan re-runs the tokenize
    // + explode + slice + concat chain per reference, and that string-
    // building map pass is the single most expensive stage here
    // (measured ~2/3 of t27's wall at sf0.1 before this landing). The
    // deploy pipeline lands the gram table as a stage artifact (the
    // e01sem precedent); on a multi-node cluster swap localCheckpoint
    // for a persisted scratch table — same consumers either way.
    //
    // Grams travel as their 64-bit xxhash64 from here on (the
    // d08/d13 hashed-postings discipline applied to the positional
    // tier): the gram STRING (~60 B) was the payload of every census
    // shuffle, winnowing-window comparison and extension join key,
    // for ~8 B of identity — hashing at build time cuts those stages'
    // bytes and compare cost ~5× (guide §2.3 "shuffle keys instead of
    // payloads"). A 64-bit collision could alias two distinct grams
    // (lossless-tier risk ~n²/2⁶⁴ per corpus); the BRUTE-FORCE oracle
    // re-proves no span was lost or invented at every gate SF.
    val grams = toks.filter(size(col("w")) >= L)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - lit(L - 1))).as("pos"),
        col("w"))
      .select(col("doc_id"), col("pos"),
        xxhash64(concat_ws(" ", slice(col("w"), col("pos"), lit(L)))).as("h"))
      .localCheckpoint()
    val census = grams.groupBy("h").agg(count(lit(1)).as("df"))
    val gdf = grams.join(census.hint("shuffle_hash"), Seq("h"))
    // winnowing: the rarest gram per window, leftmost on ties — a
    // content-defined rule, identical for both copies of a span
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, T27W - 1)
    val anchors = gdf
      .withColumn("win",
        min(struct(col("df"), col("h"), col("pos"))).over(wWin))
      .select(col("doc_id"), col("win.pos").as("pos"))
      .distinct()
    val agrams = anchors.join(grams, Seq("doc_id", "pos"))
    val cand = agrams.as("a").join(agrams.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        (col("b.pos") - col("a.pos")).as("delta"))
      .distinct()
    // extension: candidate alignments join into the gram table;
    // matches meet on the shifted-position equi-join — never a
    // product. No broadcast hint: the alignment set is anchor-driven
    // (duplication-sized, not corpus-sized), but at 100 TB a heavy-dup
    // corpus could exceed the driver's broadcast budget — AQE picks
    // broadcast whenever the set actually is small
    val gA = grams.select(col("doc_id").as("da"), col("pos"), col("h"))
    val gB = grams.select(col("doc_id").as("db"), col("pos").as("pb"),
      col("h"))
    val matched = cand.join(gA, Seq("da"))
      .withColumn("pb", col("pos") + col("delta"))
      .join(gB, Seq("db", "pb", "h"))
      .select(col("da"), col("db"), col("delta"), col("pos"))
    val wRun = Window.partitionBy(col("da"), col("db"), col("delta"))
      .orderBy(col("pos"))
    matched.withColumn("isl", col("pos") - row_number().over(wRun))
      .groupBy(col("da"), col("db"), col("delta"), col("isl"))
      .agg(min(col("pos")).as("sa"), count(lit(1)).as("nrun"))
      .filter(col("nrun") + lit(L - 1) >= T27Min)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("sa").cast("long").as("start_a"),
        (col("sa") + col("delta")).cast("long").as("start_b"),
        (col("nrun") + lit(L - 1)).cast("long").as("n_tokens"))
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
  }

  /** t27 oracle: BRUTE FORCE — every matched gram pair, every
    * (da, db, delta) alignment, gaps-and-islands runs, threshold —
    * no anchors anywhere, so the gate proves anchor losslessness. */
  private[graft] val t27OracleSql: String = {
    val L = T21L
    "WITH tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
      s"g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - ${L - 2}), i -> i)) AS pos, " +
      s"unnest(list_transform(range(1, len(w) - ${L - 2}), i -> array_to_string(w[i:i+${L - 1}], ' '))) AS gram " +
      s"FROM tok WHERE len(w) >= $L), " +
      "m AS (SELECT a.doc_id AS da, b.doc_id AS db, b.pos - a.pos AS delta, a.pos " +
      "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id), " +
      "runs AS (SELECT da, db, delta, pos, " +
      "pos - row_number() OVER (PARTITION BY da, db, delta ORDER BY pos) AS isl FROM m), " +
      "r2 AS (SELECT da AS doc_a, db AS doc_b, CAST(min(pos) AS BIGINT) AS start_a, " +
      "CAST(min(pos) + delta AS BIGINT) AS start_b, " +
      s"CAST(count(*) + ${L - 1} AS BIGINT) AS n_tokens " +
      "FROM runs GROUP BY da, db, delta, isl) " +
      s"SELECT doc_a, doc_b, start_a, start_b, n_tokens FROM r2 WHERE n_tokens >= $T27Min " +
      "ORDER BY doc_a, doc_b, start_a, start_b"
  }

  // ---- t20: cross-perplexity filter --------------------------------

  /** t20: CROSS-perplexity — the CCNet LM filter run the way
    * production actually runs it: the bigram model trains on a
    * REFERENCE corpus (here the e02 base slice — at deploy, the
    * persisted count tables of a trusted corpus) and scores INCOMING
    * text against it, where t14 scores the corpus against itself.
    * The distinction matters operationally: cross-scoring is what
    * detects drift — a delta batch of template spam scores far from
    * the reference distribution even if it is internally self-
    * consistent (self-perplexity would score it fluent).
    *
    * Same Laplace grid as t14 with the OUT-OF-VOCABULARY paths t14
    * never exercises (its train set IS its eval set): an unseen
    * bigram scores ln((C1 + V)/1), an unseen PREFIX scores ln(V) —
    * both via null-coalesced left joins against the base count
    * tables, so novel text gets the maximum-surprise mass instead of
    * being dropped or crashing the join. Integer 1e-4-nat units
    * floored before the per-doc sum (order-free), true integer
    * division for the mean, bigram-less delta docs kept with zeros.
    *
    * 100 TB: count tables are vocabulary-sized partial aggs computed
    * ONCE over the reference (at deploy: persisted, the t18b/d13
    * pattern); per-batch cost is the delta's bigram stream joined on
    * its keys. */
  def t20CrossPpl(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val n = d.count() // parquet metadata count (the e02 split scalar)
    val nb = n * Pipeline.E02BaseNum / Pipeline.E02BaseDen
    val bgAll = d.select(col("doc_id"),
      explode(wordNgrams(col("text"), 2)).as("bg"))
    val bgBase = bgAll.filter(col("doc_id") < nb)
    val c2 = bgBase.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = bgBase.select(substring_index(col("bg"), " ", 1).as("a"))
      .groupBy("a").agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    val scored = bgAll.filter(col("doc_id") >= nb)
      .withColumn("a", substring_index(col("bg"), " ", 1))
      .join(c2, Seq("bg"), "left")
      .join(c1, Seq("a"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        floor(log((coalesce(col("c1"), lit(0L)) + col("v")).cast("double") /
            (coalesce(col("c2"), lit(0L)) + lit(1)))
          * T14Unit).cast("long").as("nll"))
    val perDoc = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_sum_e4"))
      .withColumn("avg_nll_e4", expr("nll_sum_e4 div n_bigrams"))
    d.filter(col("doc_id") >= nb).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "nll_sum_e4", "avg_nll_e4"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_sum_e4"), col("avg_nll_e4"))
      .orderBy("doc_id")
  }

  /** t20 oracle: t14's CTE chain with the count tables scoped to the
    * base slice, LEFT joins + null-coalesce for the OOV paths, and
    * only delta docs in the output. */
  private[graft] val t20OracleSql: String =
    "WITH tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
      s"nb AS (SELECT (count(*) * ${Pipeline.E02BaseNum}) // ${Pipeline.E02BaseDen} AS v FROM documents), " +
      "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
      "i -> array_to_string(w[i:i+1], ' '))) AS bg FROM tok), " +
      "bgb AS (SELECT * FROM bg WHERE doc_id < (SELECT v FROM nb)), " +
      "c2 AS (SELECT bg, count(*) AS c2 FROM bgb GROUP BY bg), " +
      "c1 AS (SELECT split_part(bg, ' ', 1) AS a, count(*) AS c1 FROM bgb GROUP BY a), " +
      "vv AS (SELECT count(*) AS v FROM c1), " +
      "scored AS (SELECT b.doc_id, " +
      "CAST(floor(ln((coalesce(c1.c1, 0) + vv.v) / CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE)) " +
      s"* $T14Unit) AS BIGINT) AS nll " +
      "FROM (SELECT * FROM bg WHERE doc_id >= (SELECT v FROM nb)) b " +
      "LEFT JOIN c2 ON b.bg = c2.bg " +
      "LEFT JOIN c1 ON split_part(b.bg, ' ', 1) = c1.a CROSS JOIN vv), " +
      "per_doc AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(nll) AS BIGINT) AS nll_sum_e4 " +
      "FROM scored GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, " +
      "coalesce(p.nll_sum_e4, 0) AS nll_sum_e4, " +
      "CAST(coalesce(p.nll_sum_e4 // p.n_bigrams, 0) AS BIGINT) AS avg_nll_e4 " +
      "FROM documents d LEFT JOIN per_doc p USING (doc_id) " +
      "WHERE d.doc_id >= (SELECT v FROM nb) ORDER BY d.doc_id"

  // ---- t19: domain-mixture sampler ---------------------------------

  /** t19: DOMAIN-MIXTURE resampling — the "data mixing" step between
    * curation and training (DoReMi / The Pile-style recipes): given
    * per-domain target WEIGHTS, compute each domain's share of a total
    * token/doc budget, derive a per-domain keep rate, and sample
    * membership as a pure hash function of doc_id (p05's discipline:
    * engine/partitioning/re-run invariant, no stored sample to join).
    * Weights here are a fixed 3-tier policy on the source id (sources
    * 0-4 upweighted 3×, 5-9 2×, the rest 1×) against a budget of half
    * the corpus; targets are frequency-weighted (w·n normalized — the
    * DoReMi shape) and capped at availability, all on the INTEGER grid
    * (div, not /, both engines) so the census hash-matches exactly.
    *
    * 100 TB: per-domain counts are a tiny agg (domains ≪ rows) that
    * broadcasts back; membership is map-only per row; the census is
    * one more tiny agg. The bigint product n·w·T needs headroom —
    * at n ≈ 1e12 docs reduce T/denom first (or go DECIMAL(38)); the
    * gate keeps the raw order because both engines must execute the
    * IDENTICAL integer expression. */
  def t19DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val wt = when(srcNum < 5, lit(3L)).when(srcNum < 10, lit(2L)).otherwise(lit(1L))
    val c = docs(spark, dir).groupBy("source")
      .agg(count(lit(1)).as("n")).withColumn("wt", wt)
    val tot = c.agg(sum(col("n")).as("n_total"),
      sum(col("wt") * col("n")).as("denom"))
    val tgt = c.crossJoin(broadcast(tot)) // 1-row budget attach
      .select(col("source"), col("n"),
        least(col("n"),
          expr("(n * wt * (n_total div 2)) div denom")).as("n_target"))
      .withColumn("rate_pm",
        least(lit(1000L), expr("(1000 * n_target) div n")))
    val kept = docs(spark, dir)
      .join(broadcast(tgt.select("source", "rate_pm")), Seq("source"))
      .filter(Sinks.splitBucket(col("doc_id")) < col("rate_pm"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    tgt.join(kept, Seq("source"), "left")
      .select(col("source"), col("n").as("n_in"), col("n_target"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** t19 oracle: the same integer-grid targets and the same modular
    * hash membership (p04/p05's overflow-safe bucket). */
  private[graft] val t19OracleSql: String =
    "WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
      "w AS (SELECT source, n, CASE WHEN CAST(source[4:] AS INT) < 5 THEN 3 " +
      "WHEN CAST(source[4:] AS INT) < 10 THEN 2 ELSE 1 END AS wt FROM c), " +
      "tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, CAST(sum(wt * n) AS BIGINT) AS denom FROM w), " +
      "tgt AS (SELECT source, n, least(n, (n * wt * (n_total // 2)) // denom) AS n_target FROM w, tot), " +
      "r AS (SELECT source, n, n_target, least(1000, (1000 * n_target) // n) AS rate_pm FROM tgt), " +
      "k AS (SELECT d.source, count(*) AS n_kept FROM documents d JOIN r USING (source) " +
      "WHERE ((d.doc_id % 1000) * 761) % 1000 < r.rate_pm GROUP BY d.source) " +
      "SELECT r.source, CAST(r.n AS BIGINT) AS n_in, CAST(r.n_target AS BIGINT) AS n_target, " +
      "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept " +
      "FROM r LEFT JOIN k USING (source) ORDER BY source"

  // ---- t22: phrase search via positional postings ----------------------

  private[graft] val T22TopK = 5
  private[graft] val T22NumQueries = 5

  /** t22: PHRASE SEARCH — the positional-index tier of lexical
    * retrieval that t18's bag-of-words BM25 cannot express (Lucene's
    * PhraseQuery / postings-with-positions): postings carry (doc, pos,
    * term), and a two-term phrase matches where term₁ at p is followed
    * by term₂ at p+1 — adjacency as a keyed join, never a substring
    * scan over the corpus. The query batch is corpus-derived and
    * deterministic (each query q < [[T22NumQueries]] searches for doc
    * q's own leading bigram, so every query has ≥1 structural hit and
    * near-dup cluster members surface as the interesting extras);
    * results rank by occurrence count then doc id, with the per-query
    * match census riding each row. Postings-lookup-FIRST discipline:
    * BOTH posting sides restrict to the broadcast query-term sets
    * before the adjacency join, so everything downstream of the
    * tokenize pass is candidate-sized. 100 TB: positional postings
    * persist term-bucketed exactly like t18b's (positions are one
    * extra int per posting); the adjacency join keys on (doc, pos) —
    * no window, no self-join on the full corpus. */
  def t22PhraseSearch(spark: SparkSession, dir: String): DataFrame =
    t22Over(docs(spark, dir))

  /** [[t22PhraseSearch]] over an explicit (doc_id, text) frame — the
    * OperatorSpec seam: a hand-built corpus pins adjacency and the
    * OVERLAPPING-occurrence count ("a a a" matches "a a" twice). */
  private[graft] def t22Over(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos0", "term")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("term"))
    val q = d.filter(col("doc_id") < T22NumQueries)
      .select(col("doc_id").as("query_id"),
        element_at(tokens(col("text")), 1).as("w1"),
        element_at(tokens(col("text")), 2).as("w2"))
    val pa = tok.join(broadcast(q.select(col("w1").as("term")).distinct()),
      Seq("term"))
    val pb = tok
      .join(broadcast(q.select(col("w2").as("term")).distinct()), Seq("term"))
      .select(col("doc_id").as("doc_b"), col("pos").as("pos2"),
        col("term").as("term2"))
    val hits = pa.join(broadcast(q), col("term") === col("w1"))
      .join(pb, col("doc_b") === col("doc_id") &&
        col("pos2") === col("pos") + 1 && col("term2") === col("w2"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(col("n_occ").desc, col("doc_id").asc)
    val wN = Window.partitionBy(col("query_id"))
    hits.withColumn("rnk", row_number().over(wR).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(wN))
      .filter(col("rnk") <= T22TopK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("n_occ"),
        col("n_docs"))
      .orderBy("query_id", "rnk")
  }

  private[graft] val t22Sql: String =
    "WITH tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
      "p0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, w FROM tok), " +
      "p AS (SELECT doc_id, pos, w[pos] AS term FROM p0), " +
      s"q AS (SELECT doc_id AS query_id, w[1] AS w1, w[2] AS w2 FROM tok WHERE doc_id < $T22NumQueries), " +
      "hit AS (SELECT q.query_id, a.doc_id, count(*) AS n_occ FROM q " +
      "JOIN p a ON a.term = q.w1 " +
      "JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = q.w2 " +
      "GROUP BY 1, 2) " +
      "SELECT query_id, rnk, doc_id, CAST(n_occ AS BIGINT) AS n_occ, n_docs FROM (" +
      "SELECT query_id, doc_id, n_occ, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY n_occ DESC, doc_id) AS rnk, " +
      "count(*) OVER (PARTITION BY query_id) AS n_docs FROM hit) " +
      s"WHERE rnk <= $T22TopK ORDER BY query_id, rnk"

  // ---- t23: unigram-LM tokenizer trainer (SentencePiece-class) -------

  /** Piece length cap (SentencePiece's max_sentencepiece_length idea,
    * sized to the gate vocabulary) — also the Viterbi DP's fan-in. */
  private[graft] val T23MaxPiece = 4

  /** Words longer than this are excluded from training in BOTH engines
    * (the DP is unrolled to this many positions; the gate corpus max
    * word is 8). */
  private[graft] val T23MaxWord = 12

  /** Multi-char seed pieces kept (singles are always all kept). */
  private[graft] val T23SeedMulti = 32

  private[graft] val T23Rounds = 2

  /** t23: a UNIGRAM-LM tokenizer TRAINER (Kudo 2018, arXiv:1804.10959
    * — the SentencePiece algorithm behind T5/Llama-era tokenizers; the
    * other production tokenizer family next to t06b's BPE). The model
    * is a piece vocabulary with probabilities; training is hard-EM:
    *
    *  - seed: every substring (length ≤ [[T23MaxPiece]]) of the word
    *    vocabulary, frequency-weighted; ALL single chars survive
    *    (coverage guarantee) plus the top [[T23SeedMulti]] multi-char
    *    pieces by (count desc, piece asc);
    *  - E-step: VITERBI-segment each vocabulary word under the current
    *    piece costs — a shortest-path DP over word positions, unrolled
    *    to [[T23MaxWord]] columns of (cost, n_pieces, seg) structs
    *    with ties broken by the (cost, np, seg) struct order itself
    *    (deterministic cross-engine: both engines compare structs
    *    field-wise, strings binary);
    *  - M-step: piece counts = frequency-weighted occurrences along
    *    the Viterbi segmentations, +1 Laplace (the t14 rule — keeps
    *    zero-use singles alive and every cost finite);
    *  - prune: drop the bottom quarter of MULTI-char pieces by
    *    (count desc, piece asc) rank — nKeep = n − n/4 in integer
    *    arithmetic; singles are never pruned (coverage);
    *  - renormalize on the integer nat grid: cost_e4 =
    *    floor(ln(total/cnt)·1e4) — one IEEE ln per piece of an exact
    *    integer ratio, the proven t05/t14 seam.
    *
    * State is VOCABULARY-sized end to end (the t06b discipline): the
    * word vocab is distinct words + frequencies, the model is ≤
    * singles + [[T23SeedMulti]] rows and updates driver-side per round
    * (the t17 treeAggregate-then-update shape — 2 longs + a string per
    * piece), and the E-step is one map-side DP pass over vocab rows
    * with the model attached as a broadcast-sized map literal — the
    * corpus is touched once, at word counting. Output: the model after
    * every round — (round, piece, cnt, cost_e4), round 0 = seed. The
    * DuckDB oracle replays seeding, every DP column, both EM rounds
    * and the prune rank CTE-for-CTE ([[t23OracleSql]]); OperatorSpec
    * pins one hand-computed E/M/prune round on a planted vocabulary. */
  def t23UnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val words = docs(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) <= T23MaxWord)
      .groupBy("w").agg(count(lit(1)).as("n"))
    t23TrainOver(spark, words, T23Rounds)
  }

  /** The trainer over an explicit (w, n) word vocabulary — the
    * OperatorSpec hand-fixture seam. */
  private[graft] def t23TrainOver(spark: SparkSession, words0: DataFrame,
      rounds: Int): DataFrame = {
    import spark.implicits._
    val words = words0.localCheckpoint(eager = false)
    val subs = words.select(col("n"), explode(expr(
        "flatten(transform(sequence(1, length(w)), i -> " +
          s"transform(sequence(1, least($T23MaxPiece, length(w) - i + 1)), " +
          "m -> substring(w, i, m))))")).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    // model-sized driver reads throughout (the t06b/t17 discipline)
    val singles = subs.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multiTop = subs.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc).limit(T23SeedMulti)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def renorm(cs: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
      val total = cs.map(_._2).sum
      cs.map { case (p, c) =>
        (p, c, math.floor(math.log(total.toDouble / c.toDouble) * T14Unit).toLong)
      }.sortBy(_._1)
    }
    var model = renorm((singles ++ multiTop).toSeq)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, Long, Long)]
    out ++= model.map(m => (0L, m._1, m._2, m._3))
    for (r <- 1 to rounds) {
      val costs = model.map(m => m._1 -> m._3).toMap
      val counts = t23Viterbi(words, costs)
        .select(col("n"), explode(split(col("seg"), " ")).as("piece"))
        .groupBy("piece").agg(sum(col("n")).as("cv"))
        .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
      val mstep = model.map { case (p, _, _) => (p, counts.getOrElse(p, 0L) + 1L) }
      val (sing, multi) = mstep.partition(_._1.length == 1)
      val keepN = multi.size - multi.size / 4
      val kept = multi.sortBy { case (p, c) => (-c, p) }.take(keepN)
      model = renorm(sing ++ kept)
      out ++= model.map(m => (r.toLong, m._1, m._2, m._3))
    }
    out.toSeq.toDF("round", "piece", "cnt", "cost_e4")
      .orderBy("round", "piece")
  }

  /** The E-step: Viterbi-segment each (w, n) row under `costs` — a
    * shortest-path DP unrolled to [[T23MaxWord]] struct columns; dp_j
    * = min over piece lengths m of extend(dp_{j-m}, w[j-m+1..j]),
    * minimum taken by the (cost, np, seg) struct order via
    * array_sort (nulls last) — the exact combiner the oracle's
    * list_sort replays. The cost map is a model-sized literal, so the
    * whole pass is map-side codegen over vocabulary rows: no UDF, no
    * shuffle, no corpus. */
  private[graft] def t23Viterbi(words: DataFrame,
      costs: Map[String, Long]): DataFrame = {
    val cmap = typedLit(costs)
    var df = words.withColumn("len", length(col("w")))
      .withColumn("dp0", struct(lit(0L).as("cost"), lit(0L).as("np"),
        lit("").as("seg")))
    for (j <- 1 to T23MaxWord) {
      val cands = (1 to math.min(j, T23MaxPiece)).map { m =>
        val piece = substring(col("w"), j - m + 1, m)
        val prev = col(s"dp${j - m}")
        val c = element_at(cmap, piece)
        when(col("len") >= j && c.isNotNull && prev.isNotNull,
          struct((prev("cost") + c).as("cost"),
            (prev("np") + lit(1L)).as("np"),
            concat(prev("seg"), lit(" "), piece).as("seg")))
      }
      val combined =
        if (cands.size == 1) cands.head
        else element_at(array_sort(array(cands: _*)), 1)
      df = df.withColumn(s"dp$j", combined)
    }
    df.withColumn("dpf",
        element_at(array((1 to T23MaxWord).map(j => col(s"dp$j")): _*), col("len")))
      .select(col("w"), col("n"), ltrim(col("dpf")("seg")).as("seg"))
  }

  /** The t23 trainer in DuckDB — seeding, per-round Viterbi DP columns
    * (lateral aliases, list_sort combiner with NULLS LAST — the exact
    * Spark array_sort semantics), M-step Laplace counts, the prune
    * rank, and the nat-grid renormalization, all MATERIALIZED (each
    * round references the previous model repeatedly — the t17/s23
    * inlining lesson). */
  private[graft] def t23OracleSql(rounds: Int): String = {
    def dpExpr(j: Int): String = {
      val cands = (1 to math.min(j, T23MaxPiece)).map { m =>
        val piece = s"substr(w, ${j - m + 1}, $m)"
        s"CASE WHEN len >= $j AND len(cm[$piece]) > 0 AND dp${j - m} IS NOT NULL " +
          s"THEN {'cost': dp${j - m}['cost'] + cm[$piece][1], " +
          s"'np': dp${j - m}['np'] + 1, " +
          s"'seg': dp${j - m}['seg'] || ' ' || $piece} ELSE NULL END"
      }
      if (cands.size == 1) cands.head
      else s"(list_sort([${cands.mkString(", ")}], 'ASC', 'NULLS LAST'))[1]"
    }
    val dpArr = (1 to T23MaxWord).map(j => s"dp$j").mkString("[", ", ", "]")
    // one NESTED SUBQUERY per DP level: DuckDB's lateral aliases are
    // textual substitution, so dp_j referencing dp_{j-m} inline would
    // re-expand the whole prefix ~5× per level (binder blow-up measured
    // as a hang at 12 levels); a subquery level computes each dp once
    def dpChain(r: Int): String =
      (1 to T23MaxWord).foldLeft(
        "SELECT w, n, cm, length(w) AS len, " +
          "{'cost': CAST(0 AS BIGINT), 'np': CAST(0 AS BIGINT), 'seg': ''} AS dp0 " +
          s"FROM w23, mp$r") { (acc, j) =>
        s"SELECT *, ${dpExpr(j)} AS dp$j FROM ($acc)"
      }
    val roundsSql = (1 to rounds).map { r =>
      s"mp$r AS MATERIALIZED (SELECT map(list(piece ORDER BY piece), " +
        s"list(cost ORDER BY piece)) AS cm FROM m${r - 1}), " +
        s"vt$r AS MATERIALIZED (SELECT w, n, ltrim(dpf['seg']) AS seg FROM (" +
        s"SELECT w, n, $dpArr[len] AS dpf FROM (${dpChain(r)}))), " +
        s"cn$r AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS cv FROM (" +
        s"SELECT n, unnest(string_split(seg, ' ')) AS piece FROM vt$r) GROUP BY piece), " +
        s"ms$r AS MATERIALIZED (SELECT m.piece, coalesce(c.cv, 0) + 1 AS cnt " +
        s"FROM m${r - 1} m LEFT JOIN cn$r c USING (piece)), " +
        s"pr$r AS MATERIALIZED (SELECT piece, cnt FROM ms$r WHERE length(piece) = 1 " +
        "UNION ALL SELECT piece, cnt FROM (" +
        "SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk, " +
        s"count(*) OVER () AS nm FROM ms$r WHERE length(piece) > 1) " +
        "WHERE rk <= nm - nm // 4), " +
        s"m$r AS MATERIALIZED (SELECT piece, CAST(cnt AS BIGINT) AS cnt, " +
        s"CAST(floor(ln(CAST((SELECT sum(cnt) FROM pr$r) AS DOUBLE) / CAST(cnt AS DOUBLE)) * $T14Unit) AS BIGINT) AS cost " +
        s"FROM pr$r), "
    }.mkString
    val rows = (0 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, piece, cnt, cost AS cost_e4 FROM m$r")
      .mkString(" UNION ALL ")
    "WITH w23 AS MATERIALIZED (SELECT w, count(*) AS n FROM (" +
      "SELECT unnest(string_split_regex(rtrim(text), '\\s+')) AS w FROM documents) " +
      s"WHERE length(w) <= $T23MaxWord GROUP BY w), " +
      "sub23 AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (" +
      s"SELECT n, unnest(flatten([[substr(w, i, m) FOR m IN range(1, least($T23MaxPiece, length(w) - i + 1) + 1)] " +
      "FOR i IN range(1, length(w) + 1)])) AS piece FROM w23) GROUP BY piece), " +
      "seedm AS MATERIALIZED (SELECT piece, cnt FROM sub23 WHERE length(piece) > 1 " +
      s"ORDER BY cnt DESC, piece LIMIT $T23SeedMulti), " +
      "seed AS MATERIALIZED (SELECT piece, cnt FROM sub23 WHERE length(piece) = 1 " +
      "UNION ALL SELECT piece, cnt FROM seedm), " +
      "m0 AS MATERIALIZED (SELECT piece, cnt, " +
      s"CAST(floor(ln(CAST((SELECT sum(cnt) FROM seed) AS DOUBLE) / CAST(cnt AS DOUBLE)) * $T14Unit) AS BIGINT) AS cost " +
      "FROM seed), " +
      roundsSql.stripSuffix(", ") + " " +
      s"SELECT round, piece, cnt, cost_e4 FROM ($rows) ORDER BY round, piece"
  }

  // ---- t25: content-defined chunking dedup census ----------------------

  /** Cut rule: a word is a chunk boundary iff its md5's first hex
    * digit is one of these — P = 2/16 = 1/8, so the expected chunk is
    * 8 words. md5 is the one hash both engines expose byte-identically
    * (lowercase hex over UTF-8), which is what makes the boundary
    * decision — and therefore the chunking itself — cross-engine
    * exact. */
  private[graft] val T25CutDigits = Seq("0", "1")

  /** t25: CONTENT-DEFINED CHUNKING dedup census — the shift-resistant
    * member of the dedup family (the FastCDC/rsync/Gear idea at word
    * granularity; Xia et al., USENIX ATC 2016, public): chunk
    * boundaries are decided by the CONTENT at the boundary (a
    * deterministic hash predicate per word), never by position, so a
    * prepended or deleted prefix re-synchronizes at the first cut and
    * shared suffixes dedup chunk-for-chunk — where fixed-window
    * chunking (t08) stays misaligned forever and whole-doc hashing
    * (d01) sees nothing (spec-pinned on a prefix-shifted fixture).
    * Per doc: n_words, n_chunks, n_dup_chunks (fingerprint occurs > 1
    * time corpus-wide, same-doc repeats count — t12's df discipline),
    * covered words, coverage in basis points (TRUE integer division).
    *
    * Scale shape: one posexplode (token-sized, map-only); ONE per-doc
    * window bounded by the doc's own length for the running-cut chunk
    * ids; chunk fingerprints from a (doc, chunk) group-by; then t12's
    * two-stage census — a fingerprint-keyed count aggregate (partial
    * agg absorbs hot boilerplate chunks; a count, never a pair join)
    * and one equi join back on the same key. */
  def t25CdcChunkDedup(spark: SparkSession, dir: String): DataFrame =
    t25Over(docs(spark, dir))

  /** [[t25CdcChunkDedup]] over an explicit (doc_id, text) frame — the
    * OperatorSpec seam for the resynchronization fixture. */
  private[graft] def t25Over(d: DataFrame): DataFrame = {
    val chunks = t25Chunks(d)
    val dfreq = chunks.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    chunks.join(dfreq.hint("shuffle_hash"), "fp")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_words")).as("n_words"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("df") > 1L, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("df") > 1L, col("n_words")).otherwise(0L)).as("n_covered"))
      .select(col("doc_id"), col("n_words"), col("n_chunks"),
        col("n_dup_chunks"), col("n_covered"),
        expr("n_covered * 10000 div n_words").as("dup_bp"))
      .orderBy("doc_id")
  }

  /** The chunk frame (doc_id, chunk_id, fp, n_words): running count of
    * cut words BEFORE each position is the chunk id (the cut word is
    * the LAST word of its chunk), fingerprint = md5 of the chunk's
    * space-joined words. */
  private[graft] def t25Chunks(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos0", "w")))
      .select(col("doc_id"), col("pos0").cast("long").as("pos"), col("w"),
        when(substring(md5(col("w")), 1, 1).isin(T25CutDigits: _*), 1L)
          .otherwise(0L).as("cut"))
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    tok.withColumn("chunk_id", coalesce(sum(col("cut")).over(wCum), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")))).as("fp"),
        count(lit(1)).as("n_words"))
  }

  private[graft] val t25Sql: String = {
    val cutIn = T25CutDigits.map(s => s"'$s'").mkString(", ")
    "WITH tok0 AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS ws FROM documents), " +
      "tokp AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM tok0), " +
      "tw AS (SELECT doc_id, pos, ws[pos] AS w, " +
      s"CASE WHEN substring(md5(ws[pos]), 1, 1) IN ($cutIn) THEN 1 ELSE 0 END AS cut FROM tokp), " +
      "ck AS (SELECT doc_id, pos, w, coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id FROM tw), " +
      "ch AS (SELECT doc_id, chunk_id, md5(string_agg(w, ' ' ORDER BY pos)) AS fp, " +
      "count(*) AS n_words FROM ck GROUP BY 1, 2), " +
      "dfq AS (SELECT fp, count(*) AS df FROM ch GROUP BY 1), " +
      "agg AS (SELECT c.doc_id, CAST(sum(c.n_words) AS BIGINT) AS n_words, " +
      "count(*) AS n_chunks, " +
      "CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks, " +
      "CAST(sum(CASE WHEN d.df > 1 THEN c.n_words ELSE 0 END) AS BIGINT) AS n_covered " +
      "FROM ch c JOIN dfq d USING (fp) GROUP BY 1) " +
      "SELECT doc_id, n_words, n_chunks, n_dup_chunks, n_covered, " +
      "n_covered * 10000 // n_words AS dup_bp FROM agg ORDER BY doc_id"
  }

  // ---- t26: late-interaction retrieval (ColBERT-class MaxSim) ---------

  /** Embedding dims of the deterministic trigram encoder. */
  private[graft] val T26Dims = 8

  /** The deterministic TEXT-PIECE ENCODER shared by query terms and
    * doc chunks: an [[T26Dims]]-dim integer count vector — dim d = the
    * number of the piece's character trigrams whose md5 first hex
    * digit lands in bucket d (the t25 rule: md5 is the one hash both
    * engines expose byte-identically, so the oracle replays the
    * encoder itself, not a stand-in literal). Counts are exact in
    * double (integers), so dot products, norms, and the micro-unit
    * rounding are bit-identical cross-engine — the reason a
    * count-grid encoder can gate a late-interaction SCORING structure
    * end to end where a float model could not. Pieces shorter than a
    * trigram encode as the zero vector (similarity 0, never NULL). */
  private[graft] def t26Vec(s: Column): Column =
    graft.functions.TrigramFunctions.trigram_bucket_counts(s, T26Dims)

  /** The composable twin of [[t26Vec]] — interpreted (higher-order
    * functions get no codegen; measured 22 s of t26's 21 s sf0.1 wall
    * before the native expression), kept ONLY as the equivalence pin's
    * reference implementation. */
  private[graft] def t26VecComposable(s: Column): Column = {
    val buckets = transform(
      sequence(lit(1), length(s) - 2),
      i => (conv(substring(md5(s.substr(i, lit(3))), 1, 1), 16, 10)
        .cast("long") % T26Dims))
    val v = transform(sequence(lit(0), lit(T26Dims - 1)),
      d => size(filter(buckets, b => b === d)).cast("double"))
    when(length(s) >= 3, v)
      .otherwise(array((0 until T26Dims).map(_ => lit(0.0)): _*))
  }

  /** t26: LATE-INTERACTION (multi-vector) RETRIEVAL — the ColBERT
    * MaxSim family (Khattab & Zaharia, SIGIR 2020, public; round-15
    * verdict item 6), closing the retrieval-surface gap between the
    * single-vector dense tier (s01-s28) and the lexical tier (t18):
    * documents are represented as BAGS of chunk vectors (t08's
    * fixed-window chunking × the [[t26Vec]] encoder), queries as bags
    * of term vectors, and
    *
    *   score(q, d) = Σ_{t ∈ q} max_{c ∈ chunks(d)} sim_mu(t, c)
    *
    * — each query aspect independently finds its best-matching chunk
    * (the property the family exists for: a multi-aspect document wins
    * on BOTH aspects where any single pooled vector averages them
    * away; OperatorSpec plants exactly that geometry). sim_mu is
    * cosine in integer micro-units (the s05/s07 grid). Candidate
    * generation is POSTINGS-FIRST — t18's broadcast query terms
    * restrict the corpus to docs sharing a term before any vector
    * math, the production ColBERT deployment shape (lexical or ANN
    * candidates, MaxSim re-rank). 100 TB: chunk vectors are map-only
    * over the corpus (computed once — at deploy they'd persist like
    * s11's codes), the scored frame is candidates × chunks/doc ×
    * terms/query, never corpus-sized, and the per-query top-k is one
    * bounded window. The oracle replays chunking, the encoder, the
    * candidate join, and the max-then-sum CTE-for-CTE. */
  def t26MaxSim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val chunkVecs = t08Chunks(spark, dir)
      .select(col("doc_id"), col("chunk_idx"), t26Vec(col("chunk")).as("cv"))
    val termVecs = T18Queries
      .flatMap { case (qid, qtext) => qtext.split(" ").map(qid -> _) }
      .toDF("query_id", "term")
      .select(col("query_id"), col("term"), t26Vec(col("term")).as("qv"))
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val cand = toks
      .join(broadcast(termVecs.select("query_id", "term")), Seq("term"))
      .select("query_id", "doc_id").distinct()
    t26MaxSimOver(chunkVecs, termVecs, cand)
  }

  /** The MaxSim core over explicit (chunk vectors, term vectors,
    * candidates) frames — the OperatorSpec seam for the planted
    * multi-aspect geometry. */
  private[graft] def t26MaxSimOver(chunkVecs: DataFrame,
      termVecs: DataFrame, cand: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.array_dot
    val cv2 = chunkVecs.withColumn("cc", array_dot(col("cv"), col("cv")))
    val qv2 = termVecs.withColumn("qq", array_dot(col("qv"), col("qv")))
    val simMu = when(col("qq") > 0 && col("cc") > 0,
      round(lit(1e6) * array_dot(col("qv"), col("cv")) /
        (sqrt(col("qq")) * sqrt(col("cc"))), 0).cast("long"))
      .otherwise(0L)
    val perTerm = cand
      .join(broadcast(qv2), Seq("query_id"))
      .join(cv2, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("term"), simMu.as("mu"))
      .groupBy(col("query_id"), col("doc_id"), col("term"))
      .agg(max(col("mu")).as("mx"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_mu").desc, col("doc_id").asc)
    perTerm.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("mx")).as("score_mu"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= T18TopK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score_mu"))
      .orderBy("query_id", "rnk")
  }

  /** t26 oracle: chunks (t08's SQL), the encoder replayed (same
    * md5-bucket rule), literal query terms, postings-first candidates,
    * max-then-sum, top-k. */
  private[graft] val t26OracleSql: String = {
    val qvals = T18Queries.flatMap { case (qid, qtext) =>
      qtext.split(" ").map(t => s"('$qid', '$t')") }.mkString(", ")
    def vecSql(s: String): String =
      s"CASE WHEN length($s) >= 3 THEN " +
        s"list_transform(range(0, $T26Dims), d -> CAST(len(list_filter(" +
        s"list_transform(range(1, greatest(length($s) - 2, 0) + 1), " +
        s"i -> (strpos('0123456789abcdef', substring(md5(substring($s, CAST(i AS INT), 3)), 1, 1)) - 1) % $T26Dims), " +
        "b -> b = d)) AS DOUBLE)) " +
        s"ELSE list_transform(range(0, $T26Dims), d -> CAST(0 AS DOUBLE)) END"
    "WITH ch AS (SELECT doc_id, substring(text, CAST(i AS INT), 200) AS chunk " +
      "FROM documents, LATERAL unnest(generate_series(1, greatest(length(text), 1), 160)) t(i)), " +
      s"cvx AS (SELECT doc_id, ${vecSql("chunk")} AS cv FROM ch), " +
      s"qt AS (SELECT * FROM (VALUES $qvals) q(query_id, term)), " +
      s"qvx AS (SELECT query_id, term, ${vecSql("term")} AS qv FROM qt), " +
      "tok AS (SELECT doc_id, unnest(string_split_regex(rtrim(text), '\\s+')) AS term FROM documents), " +
      "cand AS (SELECT DISTINCT q.query_id, tok.doc_id FROM qt q JOIN tok ON tok.term = q.term), " +
      "pt AS (SELECT c.query_id, c.doc_id, q.term, max(" +
      "CASE WHEN list_dot_product(q.qv, q.qv) > 0 AND list_dot_product(v.cv, v.cv) > 0 THEN " +
      "CAST(round(1e6 * list_dot_product(q.qv, v.cv) / " +
      "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.cv, v.cv))), 0) AS BIGINT) " +
      "ELSE 0 END) AS mx " +
      "FROM cand c JOIN qvx q ON q.query_id = c.query_id JOIN cvx v ON v.doc_id = c.doc_id " +
      "GROUP BY 1, 2, 3), " +
      "sc AS (SELECT query_id, doc_id, CAST(sum(mx) AS BIGINT) AS score_mu FROM pt GROUP BY 1, 2) " +
      "SELECT query_id, rn AS rnk, doc_id, score_mu FROM (" +
      "SELECT query_id, doc_id, score_mu, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY score_mu DESC, doc_id) AS rn FROM sc) " +
      s"WHERE rn <= $T18TopK ORDER BY query_id, rnk"
  }

  val oracles: Map[String, String] = Map(
    "t26_maxsim" -> t26OracleSql,
    "t25_cdc_chunk_dedup" -> t25Sql,
    "t23_unigram_lm" -> t23OracleSql(T23Rounds),
    "t22_phrase_search" -> t22Sql,
    // the same shingle census + interval-union window arithmetic,
    // token for token — a span found by one engine and not the other
    // (or merged differently at an overlap) breaks the hash
    "t27_long_dup_spans" -> t27OracleSql,
    "t21_span_excision" ->
      ("WITH toks AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
        s"sh0 AS (SELECT doc_id, unnest(range(1, len(w) - ${T21L - 2})) AS i, w FROM toks WHERE len(w) >= $T21L), " +
        s"sh AS (SELECT doc_id, i, array_to_string(w[i:i+${T21L - 1}], ' ') AS s FROM sh0), " +
        "census AS (SELECT s, count(*) AS c FROM sh GROUP BY s), " +
        s"dup AS (SELECT doc_id, i AS st, i + ${T21L - 1} AS en FROM sh JOIN census USING (s) WHERE c >= 2), " +
        "merged AS (SELECT doc_id, st, en, coalesce(max(en) OVER (" +
        "PARTITION BY doc_id ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pmax FROM dup), " +
        "spans AS (SELECT doc_id, CAST(sum(greatest(0, en - greatest(pmax, st - 1))) AS BIGINT) AS n_covered, " +
        "CAST(sum(CASE WHEN st > pmax THEN 1 ELSE 0 END) AS BIGINT) AS n_spans FROM merged GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens, " +
        "coalesce(n_covered, 0) AS n_covered, coalesce(n_spans, 0) AS n_spans, " +
        "CAST(len(t.w) AS BIGINT) - coalesce(n_covered, 0) AS n_kept " +
        "FROM toks t LEFT JOIN spans USING (doc_id) ORDER BY doc_id"),
    "t06b_bpe_merges" -> t06bOracleSql(T06bMerges),
    "t06d_byte_bpe" -> t06dOracleSql(T06bMerges),
    "t06c_bpe_encode" -> t06cOracleSql(T06bMerges),
    "t18_bm25" -> t18OracleSql,
    // persistence must be semantically invisible: t18b shares t18's
    // oracle verbatim (deterministic indexing ⇒ stored == fresh)
    "t18b_persisted_bm25" -> t18OracleSql,
    "t19_domain_mix" -> t19OracleSql,
    "t20_cross_ppl" -> t20OracleSql,
    "t17_quality_classifier" -> t17OracleSql(T17Rounds),
    "t16_seq_packing" ->
      // one SQL running sum replays the two-phase prefix sum exactly
      // (same total order: doc_id); integer div on non-negative
      // offsets, so // and Spark's div agree
      ("WITH tok AS (SELECT doc_id, len(string_split_regex(rtrim(text), '\\s+')) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off FROM tok) " +
        s"SELECT doc_id, n_tokens, start_off, start_off // $T16SeqLen AS seq_first, " +
        s"(start_off + n_tokens - 1) // $T16SeqLen AS seq_last, " +
        s"((start_off + n_tokens - 1) // $T16SeqLen) - (start_off // $T16SeqLen) + 1 AS n_seqs " +
        "FROM c ORDER BY doc_id"),
    "t15_dsir_weights" ->
      // same tokenization as t01/t14; Laplace unigram target/raw
      // models with exact-integer count products (DuckDB's HUGEINT
      // sums stay exact), one ln per token type floored onto the
      // 1e-4-nat grid before the per-doc occurrence sum; top ⌈n/5⌉
      // selection replayed with the identical (logw, doc_id) order
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split_regex(rtrim(text), '\\s+')) AS t FROM documents), " +
        "rawc AS (SELECT t, count(*) AS cr FROM tok GROUP BY t), " +
        "tgt AS (SELECT t, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY t), " +
        "feat AS (SELECT r.t, r.cr, coalesce(g.ct, 0) AS ct FROM rawc r LEFT JOIN tgt g USING (t)), " +
        "tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM feat), " +
        "lr AS (SELECT t, CAST(floor(ln(CAST((ct + 1) * (nr + v) AS DOUBLE) / ((cr + 1) * (nt + v))) " +
        s"* $T14Unit) AS BIGINT) AS lr_e4 FROM feat CROSS JOIN tot), " +
        "per_doc AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(lr_e4) AS BIGINT) AS logw_e4 " +
        "FROM tok JOIN lr USING (t) GROUP BY doc_id), " +
        "allx AS (SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens, " +
        "coalesce(p.logw_e4, 0) AS logw_e4 FROM documents d LEFT JOIN per_doc p USING (doc_id)) " +
        "SELECT doc_id, n_tokens, logw_e4 FROM allx ORDER BY logw_e4 DESC, doc_id " +
        "LIMIT (SELECT (count(*) + 4) // 5 FROM documents)"),
    "t14_lm_score" ->
      // same tokenization as t01/t12; bigrams with multiplicity via
      // list_transform over 1-based positions (the t12 slice idiom);
      // Laplace-smoothed nll per bigram floored onto the 1e-4-nat
      // integer grid BEFORE the per-doc sum, true integer division
      // for the mean, left join so bigram-less docs carry zeros
      ("WITH tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
        "i -> array_to_string(w[i:i+1], ' '))) AS bg FROM tok), " +
        "c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg), " +
        "c1 AS (SELECT split_part(bg, ' ', 1) AS a, count(*) AS c1 FROM bg GROUP BY a), " +
        "v AS (SELECT count(*) AS v FROM c1), " +
        "scored AS (SELECT b.doc_id, CAST(floor(ln((c1.c1 + v.v) / CAST(c2.c2 + 1 AS DOUBLE)) " +
        s"* $T14Unit) AS BIGINT) AS nll " +
        "FROM bg b JOIN c2 ON b.bg = c2.bg " +
        "JOIN c1 ON split_part(b.bg, ' ', 1) = c1.a CROSS JOIN v), " +
        "per_doc AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(nll) AS BIGINT) AS nll_sum_e4, " +
        "CAST(sum(nll) // count(*) AS BIGINT) AS avg_nll_e4 FROM scored GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(p.nll_sum_e4, 0) AS nll_sum_e4, coalesce(p.avg_nll_e4, 0) AS avg_nll_e4 " +
        "FROM documents d LEFT JOIN per_doc p USING (doc_id) ORDER BY doc_id"),
    "t24_kneser_ney" ->
      // t14's tokenization; KN model tables over bigram TYPES; the
      // D=3/4 rational form gives exact int64 numerator/denominator,
      // one double division + ln per occurrence, floored onto the
      // 1e-4-nat grid BEFORE the per-doc sum (fold-order-free)
      ("WITH tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
        "i -> array_to_string(w[i:i+1], ' '))) AS bg FROM tok), " +
        "occ AS (SELECT doc_id, split_part(bg, ' ', 1) AS a, split_part(bg, ' ', 2) AS wd FROM bg), " +
        "ty AS (SELECT a, wd, count(*) AS c2 FROM occ GROUP BY a, wd), " +
        "pre AS (SELECT a, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1p FROM ty GROUP BY a), " +
        "ct AS (SELECT wd, count(*) AS cont FROM ty GROUP BY wd), " +
        "nb AS (SELECT count(*) AS nbb FROM ty), " +
        "scored AS (SELECT o.doc_id, CAST(floor(ln(" +
        "CAST(4 * pre.c1 * nb.nbb AS DOUBLE) / " +
        "((4 * ty.c2 - 3) * nb.nbb + 3 * pre.n1p * ct.cont)) " +
        s"* $T14Unit) AS BIGINT) AS nll " +
        "FROM occ o JOIN ty ON o.a = ty.a AND o.wd = ty.wd " +
        "JOIN pre ON o.a = pre.a JOIN ct ON o.wd = ct.wd CROSS JOIN nb), " +
        "per_doc AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(nll) AS BIGINT) AS nll_sum_e4, " +
        "CAST(sum(nll) // count(*) AS BIGINT) AS avg_nll_e4 FROM scored GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, " +
        "coalesce(p.nll_sum_e4, 0) AS nll_sum_e4, coalesce(p.avg_nll_e4, 0) AS avg_nll_e4 " +
        "FROM documents d LEFT JOIN per_doc p USING (doc_id) ORDER BY doc_id"),
    "t13_cms_heavy_hitters" ->
      // exact top-k replayed; the CMS guarantees are hardcoded true —
      // the Spark side must have measured them true (q23 pattern)
      ("WITH w AS (SELECT unnest(string_split_regex(rtrim(text), '\\s+')) AS t FROM documents) " +
        "SELECT t, CAST(count(*) AS BIGINT) AS exact_n, " +
        "true AS no_underestimate, true AS within_eps " +
        "FROM w GROUP BY t ORDER BY exact_n DESC, t LIMIT 20"),
    "t12_dup_spans" ->
      // same tokenization + distinct word-3-gram construction as the
      // d03 oracle; df over the corpus, floor-bp like t10
      ("WITH tok AS (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1), " +
        "i -> array_to_string(w[i:i+2], ' ')))) AS s FROM tok), " +
        "dfx AS (SELECT s, count(*) AS df FROM sh GROUP BY s) " +
        "SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        "CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS dup_bp " +
        "FROM sh JOIN dfx USING (s) GROUP BY doc_id ORDER BY doc_id"),
    "t10_rare_tokens" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split_regex(rtrim(text), '\\s+')) AS t FROM documents), " +
        "cf AS (SELECT t, count(*) AS cf FROM w GROUP BY t), " +
        "thr AS (SELECT CAST(sum(cf) AS DOUBLE) / count(*) / 10.0 AS thr FROM cf) " +
        "SELECT doc_id, n_tokens, min_cf, n_rare, " +
        "CAST(floor(n_rare * 10000 / n_tokens) AS BIGINT) AS rare_bp FROM (" +
        "SELECT doc_id, count(*) AS n_tokens, min(cf) AS min_cf, " +
        "CAST(sum(CASE WHEN cf < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_rare " +
        "FROM w JOIN cf USING (t), thr GROUP BY doc_id) ORDER BY doc_id"),
    "t09_repetition" ->
      // same tokenization + 3-gram construction as the d03 oracle
      ("SELECT doc_id, CAST(greatest(len(w) - 2, 0) AS BIGINT) AS n_3grams, " +
        "CASE WHEN len(w) - 2 > 0 THEN round((greatest(len(w) - 2, 0) - " +
        "len(list_distinct(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))))) " +
        "/ greatest(len(w) - 2, 0), 4) ELSE 0.0 END AS dup_frac FROM (" +
        "SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents) " +
        "ORDER BY doc_id"),
    "t08_chunks" ->
      ("SELECT doc_id, CAST((i - 1) // 160 AS BIGINT) AS chunk_idx, " +
        "substring(text, CAST(i AS INT), 200) AS chunk " +
        "FROM documents, LATERAL unnest(generate_series(1, greatest(length(text), 1), 160)) t(i) " +
        "ORDER BY doc_id, chunk_idx"),
    "t07_normalize" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_raw, " +
        "CAST(length(norm) AS BIGINT) AS n_chars_norm, " +
        "regexp_replace(norm, '[0-9]+', '<num>', 'g') AS norm_redacted FROM (" +
        "SELECT doc_id, text, lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm " +
        "FROM documents) ORDER BY doc_id"),
    "t04_fingerprint" ->
      ("SELECT count(*) AS n_docs, " +
        "count(DISTINCT regexp_replace(trim(text), '\\s+', ' ', 'g')) AS n_distinct_fp " +
        "FROM documents"),
    "t11_pii_census" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
        s"SELECT (SELECT max(doc_id) + 1 FROM documents), '$PiiCanaryText') " +
        "SELECT doc_id, " +
        s"CAST(len(regexp_extract_all(text, '$EmailRx')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(text, '$Ipv4Rx')) AS BIGINT) AS n_ipv4, " +
        s"CAST(len(regexp_extract_all(text, '$PhoneRx')) AS BIGINT) AS n_phones, " +
        "CAST(length(text) - length(" +
        s"regexp_replace(regexp_replace(regexp_replace(text, '$EmailRx', '', 'g'), " +
        s"'$Ipv4Rx', '', 'g'), '$PhoneRx', '', 'g')) AS BIGINT) AS pii_chars, " +
        "substring(" +
        s"regexp_replace(regexp_replace(regexp_replace(text, '$EmailRx', '<EMAIL>', 'g'), " +
        s"'$Ipv4Rx', '<IP>', 'g'), '$PhoneRx', '<PHONE>', 'g'), 1, 40) AS redacted_prefix " +
        "FROM corpus ORDER BY doc_id"),
    "t01_tokens" ->
      ("SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq, " +
        "round(CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w), 4) AS avg_token_len " +
        "FROM (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents) ORDER BY doc_id"),
    "t02_quality" ->
      ("SELECT doc_id, round(uniq_ratio, 4) AS uniq_ratio, round(stop_ratio, 4) AS stop_ratio, " +
        "CAST(floor((0.5 * uniq_ratio + 0.3 * least(stop_ratio * 4.0, 1.0) + 0.2 * least(n / 50.0, 1.0)) * 10000) AS BIGINT) AS quality_bp " +
        "FROM (SELECT doc_id, CAST(len(w) AS DOUBLE) AS n, len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS uniq_ratio, " +
        s"len(list_filter(w, x -> x IN ($enIn))) / CAST(len(w) AS DOUBLE) AS stop_ratio " +
        "FROM (SELECT doc_id, string_split_regex(rtrim(text), '\\s+') AS w FROM documents)) ORDER BY doc_id"),
    "t03_langid" ->
      (s"SELECT doc_id, ${hitsSql(enIn)} AS en_hits, ${hitsSql(esIn)} AS es_hits, " +
        s"${hitsSql(deIn)} AS de_hits, ${hitsSql(frIn)} AS fr_hits, " +
        "CASE WHEN " + hitsSql(enIn) + " >= " + hitsSql(esIn) + " AND " + hitsSql(enIn) + " >= " + hitsSql(deIn) +
        " AND " + hitsSql(enIn) + " >= " + hitsSql(frIn) + " AND " + hitsSql(enIn) + " > 0 THEN 'en' WHEN " +
        hitsSql(esIn) + " >= " + hitsSql(deIn) + " AND " + hitsSql(esIn) + " >= " + hitsSql(frIn) + " AND " +
        hitsSql(esIn) + " > 0 THEN 'es' WHEN " + hitsSql(deIn) + " >= " + hitsSql(frIn) + " AND " +
        hitsSql(deIn) + " > 0 THEN 'de' WHEN " + hitsSql(frIn) + " > 0 THEN 'fr' ELSE 'und' END AS lang_pred " +
        "FROM documents ORDER BY doc_id"),
    "t06_bpe_tokens" ->
      ("SELECT doc_id, " +
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_pieces, " +
        "len(regexp_extract_all(text, '[A-Za-z]+')) AS n_word, " +
        "len(regexp_extract_all(text, '[0-9]+')) AS n_num, " +
        "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct " +
        "FROM documents ORDER BY doc_id"),
    "t05_tfidf" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(rtrim(text), '\\s+')) AS w FROM documents), " +
        "tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w), " +
        "df AS (SELECT w, count(*) AS df FROM tf GROUP BY w), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.w, tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)) AS tfidf " +
        "FROM tf JOIN df USING (w) CROSS JOIN n) " +
        "SELECT doc_id, w AS top_term, round(tfidf, 4) AS tfidf FROM (" +
        "SELECT doc_id, w, tfidf, row_number() OVER (PARTITION BY doc_id ORDER BY round(tfidf, 6) DESC, w) AS rn " +
        "FROM scored) WHERE rn = 1 ORDER BY doc_id")
  )
}
