package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale guarantees claimed in the operator
  * scaladocs must be visible in the executed plan — filters pushed to
  * the parquet scan, columns pruned, dimensions broadcast, top-k not
  * full-sorting. These are the properties that decide whether a plan
  * survives a 100 TB scale-up, so they're pinned as tests.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Formatted mode — the one-line plan truncates PushedFilters. */
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: shipdate filter pushes to the scan; unused columns pruned") {
    val p = plan(Relational.q01(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_partkey"),
      "projection should prune unused lineitem columns")
  }

  test("q06: all range predicates reach PushedFilters") {
    val p = formatted(Relational.q06(spark, sf))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
  }

  test("q03: dimension joins broadcast; no dimension shuffles") {
    val p = plan(Relational.q03(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation+region should both broadcast:\n$p")
  }

  test("q02: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(Relational.q02(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("c05: JSON shred filter still prunes the scan to 2 columns") {
    val p = plan(JsonOps.shreddedFilter(spark, sf))
    assert(p.contains("ReadSchema: struct<event_id:bigint,props:string>"),
      s"scan should read only event_id+props:\n$p")
  }

  test("q01/q10 aggregates are two-phase (partial before the shuffle)") {
    val p1 = plan(Relational.q01(spark, sf))
    assert("HashAggregate".r.findAllIn(p1).size >= 2, "partial+final hash agg expected")
    val p10 = plan(Relational.q10(spark, sf))
    assert("HashAggregate".r.findAllIn(p10).size >= 2)
  }

  test("d03 pair-event self-join honors the shuffle_hash hint") {
    val p = plan(Dedup.d03NgramJaccard(spark, sf))
    assert(p.contains("ShuffledHashJoin"), s"expected hash join:\n$p")
  }

  test("p01 read-back scan is partition-pruned to the filtered event_type") {
    val p = formatted(operators.Sinks.p01PartitionedSink(spark, sf))
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning on event_type:\n$p")
  }

  test("p15 refresh's stored-side read is partition-pruned to the touched days") {
    import org.apache.spark.sql.functions.{col, max}
    val wh = java.nio.file.Files.createTempDirectory("p15plan").toString + "/view"
    val ev = operators.Sinks.p15Events(spark, sf)
    val maxDay = ev.agg(max(col("day"))).head().getLong(0)
    operators.Sinks.p15Build(wh, ev.filter(col("day") < maxDay))
    val p = formatted(
      operators.Sinks.p15TouchedStored(spark, wh, Seq(maxDay - 1, maxDay)))
    assert(p.contains("PartitionFilters: [day"),
      s"expected partition pruning on the day partitions:\n$p")
  }

  test("p17 era scans: the hour predicate prunes directories only under the evolved spec") {
    val (root, prevDay, maxDay) = operators.Sinks.p17Land(spark, sf)
    val (q1, q2) = operators.Sinks.p17Queries(spark, root, prevDay, maxDay)
    val (p1, p2) = (formatted(q1), formatted(q2))
    // era 1 (day= spec): day prunes partitions, hr is a PUSHED DATA filter
    assert("PartitionFilters[^\n]*day".r.findFirstIn(p1).isDefined,
      s"era-1 scan must prune on day:\n$p1")
    assert("PartitionFilters[^\n]*hr".r.findFirstIn(p1).isEmpty,
      s"era-1 spec has no hr partition — hr must not be a partition filter:\n$p1")
    assert("PushedFilters[^\n]*hr".r.findFirstIn(p1).isDefined,
      s"era-1 scan must push hr down as a data filter:\n$p1")
    // era 2 (day=/hr= spec): hr prunes DIRECTORIES
    assert("PartitionFilters[^\n]*hr".r.findFirstIn(p2).isDefined,
      s"era-2 scan must prune on hr:\n$p2")
  }

  test("p19 fact scan carries a RUNTIME dynamicpruning partition filter") {
    val root = operators.Sinks.p19Land(spark, sf)
    val p = formatted(operators.Sinks.p19Join(spark, root))
    // no static day predicate exists — the filter sits on the dim's
    // day_slot attribute — so a partition filter on the fact scan can
    // only be the DPP subquery Spark derived from the broadcast
    assert("PartitionFilters[^\n]*dynamicpruning".r.findFirstIn(p).isDefined,
      s"expected a dynamicpruning expression in the fact scan's PartitionFilters:\n$p")
  }

  test("s21 serve path nominates from the stored signatures, never recomputing them") {
    val sigPath = operators.Similarity.s21BuildSigStore(spark, sf)
    val p = formatted(operators.Similarity.s21Search(spark, sf, sigPath))
    assert(p.contains("graft-s21"),
      s"expected a scan over the persisted signature store:\n$p")
    // a recompute would re-pack signatures from the vectors via the
    // slice()-based fold — its absence pins store-only nomination
    assert(!p.contains("slice("),
      s"signature packing expression found in the serve plan:\n$p")
  }

  test("p12 base-side merge scan is partition-pruned to the touched buckets") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("p12plan").toString + "/snap"
    val d = graft.core.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    operators.Sinks.p12LandBase(d, tmp)
    val p = formatted(operators.Sinks.p12TouchedBase(spark, tmp, Seq(3L, 5L)))
    assert(p.contains("PartitionFilters: [pk"),
      s"expected partition pruning on the pk bucket:\n$p")
  }

  test("d06 blocked pair join: no cartesian product, no nested-loop join") {
    val p = plan(Dedup.d06EmbeddingNearDup(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in d06 plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in d06 plan:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"expected blocked hash join:\n$p")
  }

  test("q22 NOT IN plans as a null-aware anti join (no temp views)") {
    val p = plan(Relational.q22(spark, sf))
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    // the DataFrame form must not have registered any catalog state
    assert(!spark.catalog.tableExists("q22_customer"))
  }

  test("IVF queries assign in-row: no vec_id shuffle carries a vector, no vec_id window") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    object Aqe extends AdaptiveSparkPlanHelper
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "s03" -> Similarity.s03AnnIvf, "s04" -> Similarity.s04AnnIvfKmeans,
      "s06" -> Similarity.s06AnnIvf2Level, "s07" -> Similarity.s07PqAdc,
      "s15" -> Similarity.s15AdaptiveProbes, "s19" -> Similarity.s19RangeSearch,
      "d11" -> Similarity.d11SemanticDedup, "d12" -> Similarity.d12SemanticDedup2Level)
    for ((name, query) <- queries) {
      val executed = query(spark, sf).queryExecution.executedPlan
      // the final cell assignment (and s07's encode) is a projection of
      // the scan: no exchange hashes the corpus on vec_id while the rows
      // still carry a vector (e, a subvector, or an aggregate buffer of
      // one), as the max_by/min_by assignment aggregates did
      val vectorShuffles = Aqe.collectWithSubqueries(executed) {
        case x: ShuffleExchangeExec if (x.outputPartitioning match {
            case h: HashPartitioning => h.references.exists(_.name == "vec_id")
            case _ => false
          }) && x.child.output.exists(_.dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) => x
      }
      assert(vectorShuffles.isEmpty,
        s"$name shuffles vectors on vec_id:\n${vectorShuffles.mkString("\n")}")
      // nor ranks per vector through a window
      val p = executed.toString
      assert(!p.contains("windowspecdefinition(vec_id"),
        s"$name ranks through a per-vec_id Window:\n$p")
    }
  }

  test("shredded-variant write: variant_get reads a typed column scan with pushdown") {
    import org.apache.spark.sql.functions._
    val raw = graft.core.Tables.events(spark, sf).select(col("props").as("doc"))
    val enc = graft.codecs.VariantCodec.encode(raw)
    val dir = graft.core.IO.scratchDir("graft-shred")
    graft.codecs.VariantCodec.flushShredded(enc, s"$dir/v")
    val loaded = spark.read.parquet(s"$dir/v")
    val q = loaded.select(variant_get(col("v"), "$.k", "string").as("k"))
      .filter(col("k").isNotNull)
    val p = formatted(q)
    // PushVariantIntoScan must rewrite the variant to its shredded
    // TYPED field (struct<...:string>), not the binary variant blob...
    assert(p.contains("v:struct<") && !p.contains("v:variant"),
      s"scan should read the shredded typed column:\n$p")
    // ...and push the field predicate into the parquet scan
    assert(p.contains("IsNotNull(v.`"), s"typed-field filter not pushed:\n$p")
    // values survive the shredded layout identically to the plain one
    val viaShred = loaded.select(to_json(col("v")).as("doc"))
      .collect().map(_.getString(0)).sorted.toSeq
    val direct = graft.codecs.VariantCodec.decode(enc)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(viaShred == direct)
  }

  test("variant codec load: the declared VARIANT schema still scans the typed column") {
    import org.apache.spark.sql.functions._
    val raw = graft.core.Tables.events(spark, sf).select(col("props").as("doc"))
    val dir = graft.core.IO.scratchDir("graft-shred-load")
    graft.codecs.VariantCodec.flush(graft.codecs.VariantCodec.encode(raw), s"$dir/v")
    val q = graft.codecs.VariantCodec.load(spark, s"$dir/v")
      .select(variant_get(col("v"), "$.k", "string").as("k"))
      .filter(col("k").isNotNull)
    val p = formatted(q)
    assert(p.contains("v:struct<") && !p.contains("v:variant"),
      s"a load with the declared schema should read the shredded typed column:\n$p")
    assert(p.contains("IsNotNull(v.`"), s"typed-field filter not pushed:\n$p")
  }

  test("p03 bucketed join: no exchange feeds the join (bucket co-location)") {
    val df = operators.Sinks.p03BucketedJoin(spark, sf)
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"expected sort-merge over bucketed scans:\n$p")
    assert(p.contains("Bucketed: true"), s"scans should be bucketed:\n$p")
    // the ONLY exchange allowed is the final orderBy's range partition —
    // the join itself must consume the bucketed layout directly
    assert("Exchange".r.findAllIn(p).size <= 1, s"join should not shuffle:\n$p")
  }

  test("d13 incremental dedup: bucketed index feeds the candidate join, corpus side no exchange") {
    val p = plan(Dedup.d13IncrementalDedup(spark, sf))
    // the operator's whole point: the candidate join consumes the
    // persisted index's (band, bh) bucket layout directly — corpus
    // postings are never re-shuffled at batch time
    assert(p.contains("SortMergeJoin"), s"expected sort-merge over the bucketed index:\n$p")
    assert(p.contains("Bucketed: true"), s"index scan should be bucketed:\n$p")
    // exactly ONE band-key exchange: the DELTA side shuffling into the
    // index's layout; a second would mean the corpus side re-shuffled
    val bandEx = "Exchange hashpartitioning\\(band".r.findAllIn(p).size
    assert(bandEx == 1,
      s"only the delta may exchange on the band keys, got $bandEx:\n$p")
    // verify stage: candidates broadcast, the shingle store streams
    assert(p.contains("BroadcastHashJoin"), s"verify join should broadcast candidates:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("m08 incremental media dedup: bucketed index feeds both joins, corpus side no exchange") {
    val p = plan(operators.Multimodal.m08IncrementalMediaDedup(spark, sf))
    // d13's pin in hash space: both candidate joins consume the
    // persisted index's bucket layout directly — the corpus is never
    // re-shuffled (or re-decoded) at batch time
    assert(p.contains("SortMergeJoin"), s"expected sort-merge over the bucketed index:\n$p")
    assert(p.contains("Bucketed: true"), s"index scans should be bucketed:\n$p")
    // exactly ONE (band, bh) exchange (the delta banding into the
    // index layout) and ONE phash exchange (the delta's content side)
    val bandEx = "Exchange hashpartitioning\\(band".r.findAllIn(p).size
    assert(bandEx == 1, s"only the delta may exchange on band keys, got $bandEx:\n$p")
    val phashEx = "Exchange hashpartitioning\\(phash".r.findAllIn(p).size
    assert(phashEx == 1, s"only the delta may exchange on phash, got $phashEx:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("st01 session_window aggregates partially before its one data shuffle") {
    val p = plan(graft.streaming.StreamingOps.st01SessionWindow(spark, sf))
    assert(p.contains("MergingSessions"), s"expected session-merge operator:\n$p")
    assert(p.contains("partial_min"), s"expected partial (map-side) session agg:\n$p")
  }

  test("q26 percentile sketch is partial-aggregated (mergeable summaries)") {
    val p = plan(Relational.q26(spark, sf))
    assert(p.contains("partial_percentile_approx"),
      s"sketch must combine map-side:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string>"),
      s"scan should read only the three needed columns:\n$p")
  }

  test("q28 histogram union: partial aggs, broadcast totals, pruned scan") {
    val p = plan(Relational.q28(spark, sf))
    // the per-(flag,month,bin) sketch build and the union group-sum must
    // both combine map-side — the mergeability claim made plan-visible
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"sketch build/union must partial-aggregate:\n$p")
    // per-flag totals (one row per flag) join the cumulative bins broadcast
    assert(p.contains("BroadcastHashJoin"), s"totals join should broadcast:\n$p")
    // scan reads only the three columns the binning needs
    assert(p.contains("l_extendedprice") && !p.contains("l_quantity") &&
      !p.contains("l_orderkey"), s"scan should prune to 3 columns:\n$p")
  }

  test("q29 range join: equi join on the bucket key, never a nested loop") {
    val p = plan(Relational.q29(spark, sf))
    // the whole point of the bucketing rewrite — a naive non-equi join
    // plans as BroadcastNestedLoopJoin and dies at scale
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"range join must not fall back to a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"bucket equality must be the join key:\n$p")
    // range predicate survives as the join residual
    assert(p.contains(">= ws") && p.contains("< we"),
      s"range bounds must be the join residual:\n$p")
    // window side prunes to the error events at the scan
    assert(p.contains("EqualTo(event_type,error)"),
      s"window-side filter should reach the scan:\n$p")
  }

  test("q31 as-of join: zero join nodes — one user_id shuffle + window") {
    val p = plan(Relational.q31(spark, sf))
    // the whole point of the union+window rewrite: Spark would plan the
    // inequality join as BroadcastNestedLoopJoin (O(n·m) at scale)
    assert(!p.contains("Join") && !p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"as-of must not plan any join node:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window must shuffle on the as-of key:\n$p")
    // exactly TWO hash exchanges: the signup pre-aggregation on
    // (user_id, us) and the window shuffle on user_id — the scaladoc's
    // stated shape, pinned so a third exchange can't creep in silently
    // (the output orderBy adds a range exchange, not counted here)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2,
      s"as-of should have exactly 2 hash exchanges (pre-agg + window), got $hashEx:\n$p")
    // both sides prune to their event_type at the scan
    assert(p.contains("EqualTo(event_type,purchase)") &&
      p.contains("EqualTo(event_type,signup)"),
      s"side filters should reach the scans:\n$p")
  }

  test("t13 CMS build partial-aggregates the token stream into fixed cells") {
    val p = plan(graft.operators.TextOps.t13CmsHeavyHitters(spark, sf))
    // the sketch's scale property: map-side combine collapses the token
    // stream to ≤ depth×width cells per partition BEFORE the shuffle
    assert(p.contains("partial_count"),
      s"CMS build must partial-aggregate map-side:\n$p")
    // the 4096-cell sketch and the 1-row total attach as broadcasts —
    // never a shuffled join against the probe rows
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"sketch probe must broadcast the 4096-cell sketch:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the CMS path should sort-merge:\n$p")
  }

  test("q30 pivot: stacked map-side-combining aggregates, statuses inlined") {
    val p = plan(Relational.q30(spark, sf))
    // Spark plans pivot as (priority,status) agg → pivotfirst agg; both
    // levels must combine map-side, and the explicit value list shows up
    // inlined in pivotfirst (no separate distinct-values job ran)
    assert(p.contains("partial_count") && p.contains("partial_pivotfirst"),
      s"both aggregate levels must have partial phases:\n$p")
    assert(p.contains("pivotfirst(o_orderstatus") && p.contains("F, O, P"),
      s"explicit status list should be inlined in the aggregate:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"exactly the two aggregate exchanges:\n$p")
  }

  test("p07: bloom prefilter sits on the probe side; the semi join shuffles") {
    val p = plan(Sinks.p07BloomSemiJoin(spark, sf))
    // the bloom probe must survive into the physical plan as a filter
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    // pinned non-broadcast regime: this operator exists for the build
    // side too big to broadcast, so the join itself must be shuffled
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"),
      s"semi join must be shuffled, not broadcast:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"no broadcast join expected:\n$p")
    // the filter is BELOW the probe-side exchange — walked structurally,
    // not via string distance: find the Filter node carrying
    // BloomFilterMightContain and assert its subtree reaches the
    // lineitem scan with NO shuffle exchange in between (i.e. probe
    // rows are pruned before they are ever shuffled)
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val root = Sinks.p07BloomSemiJoin(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val bloomFilters = root.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, s"no Filter node carries might_contain:\n$root")
    val sub = bloomFilters.head
    assert(sub.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"a shuffle exchange sits below the bloom filter — pruning happens too late:\n$sub")
    assert(sub.collectLeaves().exists(_.toString.contains("lineitem")),
      s"bloom filter's subtree should bottom out at the lineitem scan:\n$sub")
  }

  test("t12: shingle df census joins shuffled-hash, no pair blowup shape") {
    val p = plan(graft.operators.TextOps.t12DupSpans(spark, sf))
    assert(p.contains("ShuffledHashJoin"), s"df join should hash-join on s:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"census must stay an equi join:\n$p")
    // both aggregates combine map-side
    assert(p.contains("partial_count"), s"df count must have a partial phase:\n$p")
    // hash table built from the distinct-shingle counts (vocabulary-
    // bounded), not the exploded doc-shingle pairs (corpus-bounded)
    assert(p.contains("BuildRight"), s"build side must be the df aggregate:\n$p")
  }

  test("t01 text pipeline is a single codegen'd map stage — no shuffle") {
    val p = plan(TextOps.t01Tokens(spark, sf))
    // orderBy adds an exchange for the final sort; before it there must
    // be no aggregation/join exchanges — i.e. exactly one Exchange node.
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected shuffles:\n$p")
  }

  test("t08 chunking is a pure flatMap — Generate feeds the scan, no pre-sort shuffle") {
    val p = plan(TextOps.t08Chunks(spark, sf))
    assert(p.contains("Generate explode"), s"expected explode generator:\n$p")
    // only the final orderBy may exchange
    assert("Exchange".r.findAllIn(p).size <= 1, s"chunking must not shuffle:\n$p")
    assert(!p.contains("HashAggregate"), s"no aggregation belongs here:\n$p")
  }

  test("p06 size bins: the only unpartitioned window runs over group totals, not rows") {
    val p = plan(Sinks.p06SizeBins(spark, sf))
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toList
    assert(windows.size == 2, s"expected row cumsum + group offset windows:\n$p")
    // the row-level cumsum is PARTITIONED: spec lists the grp partition
    // expr before the doc_id sort order
    val rowW = windows.filter(_.matches(""".*windowspecdefinition\(grp#\d+L?, doc_id#.*"""))
    assert(rowW.size == 1, s"row-level window lost its grp partitioning:\n$p")
    // the unpartitioned window (spec = sort order only) must aggregate
    // group totals, never touch document rows — a global row-level
    // window is exactly the shuffle p06 exists to avoid
    val globalW = windows.filterNot(rowW.contains(_))
    globalW.foreach { w =>
      assert(w.matches(""".*windowspecdefinition\(grp#\d+L? ASC.*"""),
        s"unexpected window shape:\n$w")
      assert(w.contains("gtot#"), s"offset window is not over group totals:\n$w")
      assert(!w.contains("doc_id#"), s"offset window touches row-level doc_ids:\n$w")
    }
  }

  test("d10 decontamination: no cartesian product; postings join on the shingle key") {
    val p = plan(Dedup.d10Decontamination(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination degraded to a product join:\n$p")
    // train × holdout must be an equi-join on the hashed shingle —
    // hash-based (broadcast or shuffled-hash per AQE), never a
    // pre-sorted merge of the full postings
    assert(p.contains("hashjoin") || p.contains("HashJoin"), s"no hash join:\n$p")
  }

  test("t10 rare tokens: small-vocab regime broadcasts, large-vocab regime hash-shuffles") {
    // gate corpora are far under the vocab cap → broadcast regime
    val p = plan(TextOps.t10RareTokens(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token join degraded to sort-merge:\n$p")
    // forced large-vocab regime: the router must fall back to a
    // SHUFFLED hash join — no broadcast of an un-broadcastable vocab,
    // and still never a sort-merge of the row-level tokens
    val pf = plan(TextOps.t10WithVocabMax(spark, sf, 1L))
    assert(pf.contains("ShuffledHashJoin"), s"fallback must hash-shuffle:\n$pf")
    assert(!pf.contains("SortMergeJoin"), s"fallback degraded to sort-merge:\n$pf")
    // hash table built from the vocabulary-bounded count side, never
    // the corpus-bounded doc-token side
    assert(pf.contains("BuildRight"), s"build side must be the cf aggregate:\n$pf")
  }

  test("d11 SemDeDup: within-cell pairs hash-join on the cell id, never cartesian") {
    val p = plan(Similarity.d11SemanticDedup(spark, sf))
    // the cell of each vector is an in-row projection, so no join
    // attaches the centroids; the PAIR join must be the shuffled hash
    // join on cid — an unkeyed product over the corpus would be the n²
    // disaster d11 exists to avoid
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a join degraded to a product:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"within-cell join must hash on cid:\n$p")
  }

  test("d12 two-level SemDeDup: fine assignment in-row on ccid, pairs never cartesian") {
    val p = plan(Similarity.d12SemanticDedup2Level(spark, sf))
    // both levels assign in-row, so no join attaches the centroids; the
    // FINE search is keyed by the vector's coarse cell (each vector
    // meets only its own coarse cell's k2 centroids — the n·k2 half of
    // the cost claim), and the within-cell pair join must stay the
    // shuffled hash join on cid
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a join degraded to a product:\n$p")
    assert("""nearest_cosine\(e#\d+, cid#\d+""".r.findFirstIn(p).nonEmpty,
      s"fine assignment must search the coarse cell's centroids:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"within-cell join must hash on cid:\n$p")
  }

  test("s06 two-level IVF search: keyed candidate join, probe in-row, never cartesian") {
    val p = plan(Similarity.s06AnnIvf2Level(spark, sf))
    // the candidate join (probes × inverted file on the composite cid)
    // must never degrade to a product — that would be scanning the
    // corpus per query, exactly what the IVF exists to avoid; both
    // probe levels are one in-row projection of the query rows, so no
    // join attaches the centroids and nothing nested-loops
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a join degraded to a product:\n$p")
    // the candidate join is a keyed broadcast join (the probe set is
    // small by construction)
    assert(p.contains("BroadcastHashJoin"), s"keyed joins must broadcast:\n$p")
    // every rank window is partitioned by qid/vec_id — a global window
    // here would serialize the corpus through one task
    assert(!p.contains("No Partition Defined"), s"global window crept in:\n$p")
  }

  test("s15 budgeted probe: one in-row probe and one budget window, no centroid rank window") {
    val p = plan(Similarity.s15AdaptiveProbes(spark, sf))
    // the ranked cells come from one probe_cells projection at
    // S15MaxProbes, their rank from the list position — no join to the
    // centroids and no coarse/fine rank window; the cumulative budget
    // window runs once, and n_probes is read off its admitted rows
    assert("probe_cells\\(".r.findAllIn(p).size == 1, s"s15 must probe once, in-row:\n$p")
    assert("unboundedpreceding\\$\\(\\), -1\\)".r.findAllIn(p).size == 1,
      s"s15 must run its budget window once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a join degraded to a product:\n$p")
    assert(p.contains("windowspecdefinition(qid#") && p.contains("rk2#"),
      s"the budget window over rk2 must stay:\n$p")
    assert(!"windowspecdefinition\\([^)]*cos".r.findFirstIn(p).isDefined,
      s"a rank window ordered by a centroid score remains:\n$p")
  }

  test("p08 z-order census: map-side interleave, only the two 1-row attaches nested-loop") {
    val p = plan(operators.Sinks.p08ZorderLayout(spark, sf))
    // z-values and file ids are pure map-side integer expressions; the
    // only joins in the plan are the two deliberate 1-row broadcast
    // attaches (corpus start, dimension maxes) — no keyed join, no
    // product over the events
    assert(!p.contains("CartesianProduct"), s"census degraded to a product:\n$p")
    // 3 one-row attaches per union branch (t0 under the grid, t0 again
    // inside the maxes' own lineage, the maxes) × 2 layout branches
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 6,
      s"only the 1-row attaches may nested-loop:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no keyed join belongs in a map-side census:\n$p")
  }

  test("t14 bigram LM: keyed count joins, only the 1-row V attach nested-loops") {
    val p = plan(operators.TextOps.t14LmScore(spark, sf))
    // the C2/C1 scoring joins and the per-doc left join are keyed hash
    // joins (bigram types at 100 TB are not driver-sized; AQE may
    // broadcast at gate SFs) — never a product over the token stream
    assert(!p.contains("CartesianProduct"), s"scoring join degraded to a product:\n$p")
    // exactly one nested-loop attach: the deliberate 1-row V broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"only the V attach may nested-loop:\n$p")
  }

  test("t16 seq packing: the only unpartitioned window runs over group totals, not rows") {
    val p = plan(operators.TextOps.t16SeqPacking(spark, sf))
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toList
    assert(windows.size == 2, s"expected row cumsum + group offset windows:\n$p")
    val rowW = windows.filter(_.matches(""".*windowspecdefinition\(grp#\d+L?, doc_id#.*"""))
    assert(rowW.size == 1, s"row-level window lost its grp partitioning:\n$p")
    // the p06 contract: the unpartitioned phase aggregates n/GroupSpan
    // group totals, never document rows
    val globalW = windows.filterNot(rowW.contains(_))
    globalW.foreach { w =>
      assert(w.matches(""".*windowspecdefinition\(grp#\d+L? ASC.*"""),
        s"unexpected window shape:\n$w")
      assert(w.contains("gtot#"), s"offset window is not over group totals:\n$w")
      assert(!w.contains("doc_id#"), s"offset window touches row-level doc_ids:\n$w")
    }
  }

  test("t18 BM25: postings lookup is a broadcast term join, no product beyond the 1-row stats attach") {
    val p = plan(operators.TextOps.t18Bm25(spark, sf))
    // the query batch must broadcast INTO the postings (an exchange of
    // tf keyed on term for the lookup would shuffle the whole index
    // per query batch), and nothing may degrade to a cartesian — the
    // only nested-loop allowed is the broadcast 1-row corpus-stats
    // attach
    assert("BroadcastHashJoin \\[term".r.findFirstIn(p).isDefined,
      s"query terms must broadcast against the postings:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 1, s"only the 1-row stats attach may nested-loop:\n$p")
  }

  test("t18b serve: stored postings only — no tokenize pass, index never shuffles on term") {
    val (tfT, dlT, dfT, stT) = operators.TextOps.t18bBuildIndex(spark, sf)
    val p = plan(operators.TextOps.t18bServe(spark, tfT, dlT, dfT, stT))
    // the serve plan must touch ONLY the stored artifacts: a Generate
    // (explode) node would mean the corpus is being re-tokenized per
    // query batch — the exact cost persistence exists to amortize
    assert(!p.contains("Generate"), s"serve must not re-tokenize the corpus:\n$p")
    assert("BroadcastHashJoin \\[term".r.findFirstIn(p).isDefined,
      s"query terms must broadcast against the stored postings:\n$p")
    assert("Exchange hashpartitioning\\(term".r.findFirstIn(p).isEmpty,
      s"the postings store must never shuffle on term:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("q32 funnel: one keyed join on user_id, window predicate inline, no self-join blowup") {
    val p = plan(operators.Relational.q32(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the attribution window must evaluate inside the keyed join:\n$p")
    // funnel = partial-agg min + ONE user_id join; a window-function
    // rewrite would shuffle the whole feed into per-user partitions
    assert(!p.contains("WindowExec"), s"funnel must not use window functions:\n$p")
  }

  test("t15 DSIR: keyed scoring join, 1-row totals attach, top-k never a global sort") {
    val p = plan(operators.TextOps.t15DsirWeights(spark, sf))
    // the token-scoring join is keyed (vocabulary tables, AQE may
    // broadcast at gate SFs); the only nested-loop is the deliberate
    // 1-row Nr/Nt/V totals broadcast
    assert(!p.contains("CartesianProduct"), s"scoring join degraded to a product:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"only the totals attach may nested-loop:\n$p")
    // the k-of-n resample is per-partition heaps + a k-row driver
    // merge — a global Sort here would shuffle every doc to one
    // partition at 100 TB
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not a global sort:\n$p")
  }

  test("d14 survivor selection: keyed joins only, argmax is an agg, never a window") {
    val p = plan(operators.Dedup.d14CanonicalDocs(spark, sf))
    // pair gen + CC + quality + survivor attach — every join keyed;
    // the survivor argmax must be the max_by partial agg on the
    // cluster key, not a row_number window over the corpus
    assert(!p.contains("CartesianProduct"), s"a join degraded to a product:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      s"survivor choice must be an aggregation, not a window:\n$p")
  }

  test("s08 filtered search: the label predicate is a join key, not a post-filter") {
    val p = plan(Similarity.s08FilteredKnn(spark, sf))
    // the whole point of the operator: candidates come from a keyed
    // (label) broadcast hash join — scoring everything and discarding
    // by label afterwards would be a nested-loop over the corpus
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"label must prune candidates inside the join:\n$p")
    assert("BroadcastHashJoin \\[label".r.findFirstIn(p).isDefined ||
      "BroadcastHashJoin \\[qlabel".r.findFirstIn(p).isDefined,
      s"label must appear in the hash-join keys:\n$p")
  }

  test("s09 IVF-PQ: the code scan is cell-restricted BEFORE the in-row ADC lookup") {
    val p = plan(Similarity.s09IvfPq(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"s09 join degraded to a product:\n$p")
    // the operator's whole point (round-11 verdict item 1): candidates
    // come from the codes ⋈ probed-cells join, and each candidate looks
    // its unit up in its query's ADC table (dtab[sub·codes + code]), so
    // only probed cells' code rows are ever scored. In the plan tree the
    // lookup must sit ABOVE the cell join (prints first) — the reverse
    // order would mean the corpus was ADC-scored first and cell-filtered
    // after — and no (qid, sub, code) join to a distance table remains.
    val cellJoin = "BroadcastHashJoin \\[cell".r.findFirstMatchIn(p)
    val lookup = "dtab#\\d+\\[".r.findFirstMatchIn(p)
    assert(cellJoin.isDefined, s"no cell-keyed probe join found:\n$p")
    assert(lookup.isDefined, s"no in-row ADC table lookup found:\n$p")
    assert(lookup.get.start < cellJoin.get.start,
      s"cell restriction must feed the ADC lookup, not follow it:\n$p")
    assert("Join \\[qid#\\d+L?, sub#\\d+, code#\\d+".r.findFirstIn(p).isEmpty,
      s"a (qid, sub, code) distance-table join remains:\n$p")
  }

  test("IVF-PQ and two-level searches probe in-row: probe_cells, no qid window below the candidate join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    object Aqe extends AdaptiveSparkPlanHelper
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "s06" -> Similarity.s06AnnIvf2Level, "s09" -> Similarity.s09IvfPq,
      "s11" -> Similarity.s11PersistedIvfPq, "s12" -> Similarity.s12IncrementalIvfPq)
    for ((name, query) <- queries) {
      val executed = query(spark, sf).queryExecution.executedPlan
      assert(executed.toString.contains("probe_cells("), s"$name has no in-row probe:\n$executed")
      // the candidate join: probed cells meet the inverted file or the
      // code store on the cell id
      val candidate = Aqe.collect(executed) {
        case j: BroadcastHashJoinExec
            if j.leftKeys.exists(_.references.exists(a => a.name == "cid" || a.name == "cell")) => j
      }
      assert(candidate.nonEmpty, s"$name has no cell-keyed candidate join:\n$executed")
      // the probe's rank windows partitioned by qid are gone from below it
      val rankWindows = candidate.flatMap(j => Aqe.collect(j) {
        case w: WindowExec if w.partitionSpec.exists(_.references.exists(_.name == "qid")) => w
      })
      assert(rankWindows.isEmpty, s"$name ranks the probe through a qid window:\n$executed")
    }
  }

  test("p18 merge-on-read read: deletes broadcast into the scan as a LeftAnti; corpus never shuffles") {
    val root = Sinks.p18LandBase(spark, sf)
    Sinks.p18LandDeletes(spark, sf, root)
    val p = plan(Sinks.p18Read(spark, root))
    // the v2 read tax is a delta-sized broadcast anti-join — a shuffle
    // or merge join here would re-partition the corpus per delete batch
    assert(p.contains("LeftAnti"), s"read must anti-join the delete file:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"deletes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle for a delete batch:\n$p")
  }

  test("p21 positional read: deletes broadcast into the scan as a metadata LeftAnti; corpus never shuffles") {
    val root = Sinks.p18LandBase(spark, sf)
    Sinks.p21LandDeletes(spark, sf, root)
    val p = plan(Sinks.p21Read(spark, root))
    // p18's read discipline on the positional tier: the (file_path,
    // pos) batch is delta-sized and broadcasts against the scan's own
    // metadata columns — never a corpus re-partition
    assert(p.contains("LeftAnti"), s"read must anti-join the delete file:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"deletes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle for a delete batch:\n$p")
  }

  test("p22 combined read: both delete forms stack as broadcast LeftAntis; corpus never shuffles") {
    val root = Sinks.p18LandBase(spark, sf)
    Sinks.p18LandDeletes(spark, sf, root)
    Sinks.p21LandDeletes(spark, sf, root)
    val p = plan(Sinks.p22Read(spark, root))
    assert("LeftAnti".r.findAllIn(p).size >= 2,
      s"read must apply BOTH delete forms as anti-joins:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"deletes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must never shuffle for a delete stack:\n$p")
  }

  test("s22 knn graph: corpus-as-queries candidates are cell-restricted BEFORE the ADC join") {
    // the un-memoized build-plan seam. The gate frame is a persisted
    // parquet store (never a CacheManager entry), so no suite-order
    // cache substitution can rewrite this plan under us — the round-15
    // 237/238 failure mode (OperatorSpec's earlier s22 .cache() made
    // the CacheManager swap an InMemoryRelation into this explain)
    val p = plan(Similarity.s22GraphPlan(spark, sf))
    assert(!p.contains("CartesianProduct"), s"s22 join degraded to a product:\n$p")
    // s09's ordering argument at corpus scale: the cell-keyed probe
    // join (now a SHUFFLE join — the probe side is corpus-sized and
    // cannot broadcast) must be a DESCENDANT of the (qid, sub, code)
    // ADC join, so only probed cells' code rows ever meet a distance
    // table. The reverse order would ADC-score the whole corpus first.
    val cellJoin = "(ShuffledHashJoin|SortMergeJoin) \\[cell#".r.findFirstMatchIn(p)
    val adcJoin = "(ShuffledHashJoin|SortMergeJoin) \\[qid#\\d+L, sub#\\d+, code#\\d+".r.findFirstMatchIn(p)
    assert(cellJoin.isDefined, s"no cell-keyed shuffle probe join found:\n$p")
    assert(adcJoin.isDefined, s"no (qid, sub, code)-keyed ADC join found:\n$p")
    assert(adcJoin.get.start < cellJoin.get.start,
      s"cell restriction must feed the ADC join, not follow it:\n$p")
  }

  test("s27 consolidate: tombstones broadcast into the edge store; the graph never shuffles on a delete key") {
    val p = plan(Similarity.s27GraphDelete(spark, sf))
    // the s16 discipline on the graph store: the delete set is
    // delta-sized between purge cycles, so it rides broadcast
    // anti/semi-joins — a shuffle keyed on the tombstone ids would
    // re-partition the corpus-sized edge store per delete batch
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      s"live-edge split must broadcast-anti-join the tombstones:\n$p")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).isDefined,
      s"touched-node split must broadcast-semi-join the tombstones:\n$p")
    assert("Exchange hashpartitioning\\(vec_id".r.findFirstIn(p).isEmpty,
      s"the tombstone table must never be the shuffle key:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("s28 filtered serve: labels ride broadcast joins; the corpus never exchanges on label") {
    val p = plan(Similarity.s28FilteredGraphSearch(spark, sf))
    assert(p.contains("Scan ExistingRDD"),
      s"serve must read the materialized graph/frontiers:\n$p")
    assert("Exchange hashpartitioning\\(label".r.findFirstIn(p).isEmpty &&
      "Exchange hashpartitioning\\(qlabel".r.findFirstIn(p).isEmpty,
      s"the metadata predicate must never re-partition the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("s23 serve: walk rounds replay against the materialized graph, never the s22 build DAG") {
    val p = plan(Similarity.s23GraphSearch(spark, sf))
    // the e05 lesson, pinned: the graph is the persisted parquet store
    // and every round's frontier is localCheckpointed, so the SERVE
    // plan is file/ExistingRDD leaves plus broadcast joins — none of
    // the build machinery (cell probe join, ADC join) may appear in it
    assert(p.contains("Scan ExistingRDD"),
      s"serve must read the materialized frontiers:\n$p")
    assert("(ShuffledHashJoin|SortMergeJoin) \\[cell#".r.findFirstIn(p).isEmpty,
      s"s22's cell probe join leaked into the serve plan:\n$p")
    assert("\\[qid#\\d+L, sub#\\d+, code#\\d+".r.findFirstIn(p).isEmpty,
      s"s22's ADC join leaked into the serve plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("s11 persisted IVF-PQ: probes broadcast into the code store, which never shuffles") {
    val p = plan(Similarity.s11PersistedIvfPq(spark, sf))
    // the serving property: the persisted code store is consumed
    // in place — the (tiny) probe set broadcasts into its scan, so
    // there is NO exchange keyed on the cell column anywhere
    assert("BroadcastHashJoin \\[cell".r.findFirstIn(p).isDefined,
      s"probe set must broadcast against the code store:\n$p")
    assert("Exchange hashpartitioning\\(cell".r.findFirstIn(p).isEmpty,
      s"the code store must never shuffle on cell:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("s12 fold-in: the existing code store is never read, never exchanged") {
    val (codesT, ccT, fcT, cbT, nBase, k2) = Similarity.s12BuildBase(spark, sf)
    val delta = graft.core.Tables(spark, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") >= nBase)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("e"))
    // the frame the fold-in APPENDS: assign+encode through the frozen
    // stored model — the persisted code store must not appear anywhere
    // in this plan (fold cost is O(batch), never O(index))
    val p = plan(Similarity.s12AssignEncode(spark, delta, ccT, fcT, cbT, k2))
    assert(!p.contains(codesT),
      s"fold-in must not read the existing code store:\n$p")
    assert(!p.contains("CartesianProduct"), s"fold-in join degraded to a product:\n$p")
    // the stored model rides in-row (nearest_cosine/nearest_l2 over the
    // collected centroid and codebook tables): a batch-local map stage
    // with no exchange and no join of any kind
    assert(!p.contains("Exchange"), s"fold-in assign+encode must not shuffle:\n$p")
    assert("\\w*Join\\b".r.findFirstIn(p).isEmpty, s"fold-in assign+encode must not join:\n$p")
  }

  test("s12 search over the FOLDED store: probes broadcast in, store never shuffles") {
    val p = plan(Similarity.s12IncrementalIvfPq(spark, sf))
    // s11's serving pin must survive the bucket-compatible append: the
    // folded code store is consumed in place, the probe set broadcasts
    // into its scan — NO exchange keyed on the cell column anywhere
    assert("BroadcastHashJoin \\[cell".r.findFirstIn(p).isDefined,
      s"probe set must broadcast against the folded code store:\n$p")
    assert("Exchange hashpartitioning\\(cell".r.findFirstIn(p).isEmpty,
      s"the folded code store must never shuffle on cell:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("s13 search over the COMPACTED store keeps the serving pins") {
    val p = plan(Similarity.s13CompactedIvfPq(spark, sf))
    // compaction rewrites the physical layout only — the serve plan
    // over the compacted table must keep s11's properties verbatim:
    // probe set broadcasts in, the store never exchanges on cell
    assert("BroadcastHashJoin \\[cell".r.findFirstIn(p).isDefined,
      s"probe set must broadcast against the compacted code store:\n$p")
    assert("Exchange hashpartitioning\\(cell".r.findFirstIn(p).isEmpty,
      s"the compacted code store must never shuffle on cell:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("s29 persisted graph serve: the edge input is a parquet FileScan; no build machinery") {
    val p = plan(Similarity.s29PersistedGraphSearch(spark, sf))
    // the persistence argument made physical: the walk's edge input is
    // the stored artifact's FILES (a parquet scan — not the s22 build
    // DAG, not a checkpointed RDD of it), so a fresh application could
    // run this plan over yesterday's store with zero recompute
    assert("Scan parquet".r.findFirstIn(p).isDefined,
      s"the serve must read the stored graph's parquet files:\n$p")
    assert("(ShuffledHashJoin|SortMergeJoin) \\[cell#".r.findFirstIn(p).isEmpty,
      s"s22's cell probe join leaked into the persisted serve plan:\n$p")
    assert("\\[qid#\\d+L, sub#\\d+, code#\\d+".r.findFirstIn(p).isEmpty,
      s"s22's ADC join leaked into the persisted serve plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
  }

  test("s30 compaction: latest-per-src resolve rides the bucketed scan with zero exchange") {
    import spark.implicits._
    // a tiny versioned store: 64 srcs at ver=-1, one fold at ver=0
    val base = (0L until 64L).flatMap(s => (1 to 3).map(r =>
      (s, -1L, r.toLong, (s + r) % 64L, 0.5))).toSeq
      .toDF("src_id", "ver", "rnk", "dst_id", "c")
    val (verT, _) = Similarity.s30LandVersioned(spark, base)
    Similarity.s30Append(verT, Seq((5L, 0L, 1L, 7L, 0.9))
      .toDF("src_id", "ver", "rnk", "dst_id", "c"))
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val p = try plan(Similarity.s30Resolve(spark, verT))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    // the store's HashPartitioning(src_id) already satisfies the
    // window's ClusteredDistribution — the whole rewrite is per-bucket
    // local sort + filter + stream; an Exchange here would mean the
    // compaction shuffles the full store on every maintenance cycle
    assert(!p.contains("Exchange"),
      s"the compaction resolve must not shuffle the store:\n$p")
    assert(p.contains("Window"), s"latest-per-src window missing:\n$p")
  }

  test("p23 bloom point lookup: the equality predicate reaches the parquet scan") {
    // the bloom only fires when the predicate is PUSHED — a post-scan
    // filter would read every row group regardless of the footer
    val p = formatted(operators.Sinks.p23BloomSkipping(spark, sf))
    assert("PushedFilters: \\[.*EqualTo\\(doc_id".r.findFirstIn(p).isDefined,
      s"doc_id equality must reach PushedFilters:\n$p")
  }

  test("d16 edit join: keyed joins only, per-doc window, no product anywhere") {
    val p = plan(operators.Dedup.d16EditJoin(spark, sf))
    // candidate gen is a posting-list equi-join on gram; the verify
    // stage joins candidates back to texts by id — scoring every pair
    // against every pair would be the quadratic shape Ed-Join kills
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"edit join degraded to a product:\n$p")
    // the prefix window is keyed by doc_id, never a global sort of the
    // gram table
    assert("Window.*doc_id".r.findFirstIn(p).isDefined ||
      "WindowGroupLimit".r.findFirstIn(p).isDefined ||
      "RunningWindowFunction".r.findFirstIn(p).isDefined ||
      p.contains("windowspecdefinition(doc_id"),
      s"prefix selection must be a doc_id-keyed window:\n$p")
  }

  test("s16 masked search: tombstones anti-join BEFORE ADC scoring, serving pins intact") {
    val p = plan(Similarity.s16DeletedIvfPq(spark, sf))
    // s11's serving pins must survive the mask: probes broadcast into
    // the bucketed code store, which never exchanges on cell
    assert("BroadcastHashJoin \\[cell".r.findFirstIn(p).isDefined,
      s"probe set must broadcast against the code store:\n$p")
    assert("Exchange hashpartitioning\\(cell".r.findFirstIn(p).isEmpty,
      s"the code store must never shuffle on cell:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
    // the mask's whole point: deleted rows are pruned BEFORE the
    // distance lookup — the LeftAnti tombstone join must be a
    // DESCENDANT of the in-row ADC table lookup (prints below it),
    // never a post-scoring filter above it
    val anti = ", LeftAnti".r.findFirstMatchIn(p)
    val lookup = "dtab#\\d+\\[".r.findFirstMatchIn(p)
    assert(anti.isDefined, s"no broadcast anti-join tombstone mask found:\n$p")
    assert(lookup.isDefined, s"no in-row ADC table lookup found:\n$p")
    assert(lookup.get.start < anti.get.start,
      s"tombstones must prune candidates before ADC scoring, not after:\n$p")
  }

  test("s07 PQ ADC: every join keyed and broadcast, never cartesian, no global window") {
    val p = plan(Similarity.s07PqAdc(spark, sf))
    // encode joins subvectors to the 128-row codebook on `sub`, the
    // scored scan joins codes to the broadcast distance table on
    // (sub, cid) — all keyed broadcast hash joins; an unkeyed product
    // would re-rank the corpus per query, the shape ADC exists to kill
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"s07 join degraded to a product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook/dtab joins must broadcast:\n$p")
    // the ADC ranking window is partitioned by qid — never global
    assert(!p.contains("No Partition Defined"), s"global window crept in:\n$p")
  }

  test("m05 media near-dup: both pair tiers join keyed, never cartesian") {
    val p = plan(operators.Multimodal.m05MediaNeardup(spark, sf))
    // dhash pairs join on (band, bh), content pairs on the full hash —
    // an unkeyed product over media items would be the n² shape the
    // banding exists to avoid
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair join degraded to a product:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"pair joins must hash on their keys:\n$p")
    // the hot-bucket cap's anti join is present in the dhash tier
    assert(p.contains("LeftAnti"), s"band cap anti-join missing:\n$p")
  }

  test("p05 stratified sample pushes nothing but a map-side filter before its census agg") {
    val p = plan(operators.Sinks.p05StratifiedSample(spark, sf))
    // filter on the modular bucket is not scan-pushable (expression on
    // two columns) but must sit BELOW the partial aggregate — the plan
    // is scan → filter → partial agg → single shuffle → final agg
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"census should partial-aggregate:\n$p")
    assert(!p.contains("Join"), s"membership must need no join:\n$p")
  }

  test("q27 sketch pipeline: HLL sketches partial-aggregate at both levels") {
    val p = plan(Relational.q27(spark, sf))
    assert(p.contains("partial_hll_sketch_agg"),
      s"per-day sketch build must combine map-side:\n$p")
    assert(p.contains("partial_hll_union_agg"),
      s"cross-day union must combine map-side:\n$p")
  }

  test("AQE skew-join canary: a planted hot key splits under skewJoin, and does not when disabled") {
    // the plan property that decides whether the 100 TB star join
    // needs p02's manual salt at all (round-17 verdict item 6): this
    // build's AQE actually SPLITS a skewed shuffle partition. Manual
    // salting (Sinks.saltedJoin) remains the tool for what AQE cannot
    // split — a single-KEY hotspot is divisible on the map side only
    // when the other side replicates, which is exactly what the salt
    // does — and for engines/paths with AQE off.
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    // thresholds scaled to the fixture: the hot partition (~120k rows
    // of ~64B incompressible payload) clears both the absolute bytes
    // bar and 2x-median; the advisory size forces a multi-way split
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
    val left = s.range(0, 160000).select(
      when(col("id") < 120000, 0L).otherwise(pmod(col("id"), lit(63)) + 1)
        .as("k"),
      sha2(col("id").cast("string"), 256).as("pay"))
    val right = s.range(0, 64).select(col("id").as("k"),
      sha2(col("id").cast("string"), 224).as("dim"))
    def finalPlan(skewOn: Boolean): String = {
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      // aggregate over the payloads so column pruning cannot strip
      // them from the shuffle — the skew must exist in bytes, not rows
      val df = left.join(right, "k")
        .agg(count(col("pay")).as("n"), max(col("dim")).as("mx"))
      assert(df.collect().head.getLong(0) == 160000L, "join lost rows")
      df.queryExecution.executedPlan.toString
    }
    val withSkew = finalPlan(skewOn = true)
    assert(withSkew.contains("skew=true"),
      s"AQE must split the planted hot partition:\n$withSkew")
    val without = finalPlan(skewOn = false)
    assert(!without.contains("skew=true"),
      s"the canary must be OFF-sensitive (else it proves nothing):\n$without")
  }
}
