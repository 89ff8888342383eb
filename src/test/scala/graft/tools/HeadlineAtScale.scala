package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only 100×-sf0.1 datapoint for the FIVE headline pipelines
  * (round-14 verdict item 8, the stretch decade above the routine 10×
  * gate): e01 curation, e02 incremental curation, e05 serving, d13
  * incremental dedup, s11 persisted IVF-PQ build+serve. The d16 and
  * e05 plan defects were only visible at 10× — one more decade is the
  * cheapest way to surface the next superlinear shape.
  *
  * Corpus: the PLANTED generators at 100× the sf0.1 document/embedding
  * row counts (~510k docs incl. 2.5k near-dup clusters + 10k
  * boilerplate; 202k vectors incl. 2k planted near-dup pairs). The
  * five pipelines read only documents/embeddings, so the relational
  * replication of GateAtScale is skipped. Results → NOTES.md.
  *
  * Run: sbt "Test/runMain graft.tools.HeadlineAtScale [docMult]"
  */
object HeadlineAtScale {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder().master("local[32]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dst = graft.core.IO.scratchDir("graft-headline100x")
    val (_, buildSec) = time {
      graft.gen.DocsGenerator
        .generate(spark, 4800L * mult, 25 * mult, 8, 100L * mult)
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
      PlantedCorpus.buildEmbeddings(spark, dst, 2000L * mult, 20L * mult)
    }
    println(f"HEADLINE100X mult=$mult corpus_build=$buildSec%.1fs dst=$dst")

    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val names = Seq("d13_incremental_dedup", "s11_persisted_ivf_pq",
      "e01_curation_pipeline", "e02_incremental_curation",
      "e05_serving_pipeline",
      // round-17 verdict item 8: first decade-up datapoints for the
      // two newest dedup tiers — d17's capped exact intersections,
      // d18's bottom-k sampled form, t27's anchor census + extension
      // join (e01/e02 above now also run containment+span stages
      // in-chain, so their walls carry the composed cost too)
      "d17_containment_dedup", "d18_sketch_containment",
      "t27_long_dup_spans")
    var failed = 0
    for (name <- names) {
      try {
        val (_, sec) = time(force(SparkEntry.queries(name)(spark, dst)))
        println(f"HEADLINE100X $name wall=$sec%.1fs")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"HEADLINE100X $name FAILED: ${e.getMessage.take(300)}")
      }
    }
    // ---- the GRAPH CHAIN (round-16 verdict item 9): s22 build →
    // st18-style folds → compaction → s25 serve → e07 census, at the
    // SINGLE-BOX knob (cellTarget 64 / probes 2, the S22AtScale
    // rationale: per-node candidates = probes·cellTarget, so one box
    // shrinks cells where a 1000-executor cluster keeps the 1024/4
    // gate defaults and spreads the identical linear total work; the
    // gate defaults at 200k vectors put an ~8e8-pair scored join on
    // one box, which is exactly what a cluster exists to spread)
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val sim = graft.operators.Similarity
      val (kc, kp) = (64L, 2)
      val (gStore, s22Sec) = time {
        val g0 = sim.s22GraphAt(spark, dst, kc, kp, sim.S22Pool).localCheckpoint()
        g0.count(); g0
      }
      println(f"HEADLINE100X s22_graph_store wall=$s22Sec%.1fs edges=${gStore.count()}")
      // st18-style folds: frozen base artifacts once, then 3 delta
      // slices fold in (fwd + back-links vs merge-on-read current)
      val (a, baseSec) = time(sim.s26BuildBaseAt(spark, dst, kc, kp))
      println(f"HEADLINE100X s26_base_build wall=$baseSec%.1fs nBase=${a.nBase}")
      val allFull = sim.emb(spark, dst)
      val nAll = graft.core.Tables(spark, dst, "embeddings").count()
      val baseFull = sim.s22GraphAt(spark, a.baseDir, kc, kp, sim.S22Pool)
        .select(col("src_id"), col("rnk").cast("long").as("rnk"),
          col("dst_id"), col("cos_sim").cast("double").as("c"))
        .localCheckpoint()
      var versions = Seq((baseFull, -1L))
      for (b <- 0 until 3) {
        val lo = a.nBase + (nAll - a.nBase) * b / 3
        val hi = a.nBase + (nAll - a.nBase) * (b + 1) / 3
        val (_, foldSec) = time {
          val slice = allFull.filter(col("vec_id") >= lo && col("vec_id") < hi)
          val fwd = sim.s26FwdEdges(spark, slice, allFull, a).localCheckpoint()
          val tch = fwd.select(col("nid").as("src_id")).distinct()
          val tagged = versions.map { case (df, t) =>
            df.join(broadcast(tch), Seq("src_id"))
              .select(col("src_id"), col("dst_id"), col("rnk"))
              .withColumn("tag", lit(t)) }
            .reduce(_ unionByName _)
          val cur = tagged
            .withColumn("mx", max(col("tag")).over(Window.partitionBy(col("src_id"))))
            .filter(col("tag") === col("mx"))
            .select(col("src_id"), col("dst_id"), col("rnk"))
          val upd = sim.s26BackLinks(fwd, cur, allFull).localCheckpoint()
          versions = versions :+ (fwd.select(col("qid").as("src_id"),
            col("rnk").cast("long").as("rnk"), col("nid").as("dst_id"),
            col("c")).unionByName(
              upd.select(col("src_id"), col("rnk").cast("long").as("rnk"),
                col("dst_id"), col("c"))).localCheckpoint(), b.toLong)
        }
        println(f"HEADLINE100X st18_fold_b$b wall=$foldSec%.1fs")
      }
      // the s30 compaction verb: all versions → one src-bucketed store
      val ((_, compPath), compSec) = time(sim.s30CompactFrames(spark, versions))
      println(f"HEADLINE100X s30_compaction wall=$compSec%.1fs")
      // fold-count independence, MEASURED: the same walk over (a) the
      // merge-on-read resolution of base + 3 fold dirs vs (b) the one
      // compacted store — (b)'s input is one bucketed table whatever
      // the fold count was
      // the serve seed through the SAME cell-target's model the build
      // trained (memoized by twoLevelModel) — the S25AtScale discipline
      val (k1, k2) = sim.d12FactorsAt(nAll, kc)
      val (cc, fc, assigned) = sim.twoLevelModel(spark, dst, k1, k2, sim.LloydRounds)
      val seed = sim.s23SeedOver(
        sim.probeCells(spark, dst, cc, fc, k2), assigned, 8).localCheckpoint()
      def walkWall(edges: org.apache.spark.sql.DataFrame): Double = {
        val (_, sec) = time {
          val (vis, _, _) = sim.s23WalkFrames(spark, allFull,
            edges.select(col("src_id"), col("dst_id")), seed, 4, 8)
          force(vis)
        }
        sec
      }
      val morTagged = versions.map { case (df, t) =>
        df.select(col("src_id"), col("dst_id"), col("rnk")).withColumn("tag", lit(t)) }
        .reduce(_ unionByName _)
      val mor = morTagged
        .withColumn("mx", max(col("tag")).over(Window.partitionBy(col("src_id"))))
        .filter(col("tag") === col("mx"))
      val morSec = walkWall(mor)
      val comp = spark.read.parquet(compPath)
      val compWalkSec = walkWall(comp)
      println(f"HEADLINE100X serve_merge_on_read=$morSec%.1fs " +
        f"serve_compacted=$compWalkSec%.1fs (compacted input = one " +
        "bucketed store, fold-count-independent)")
      // s25: occlusion-prune the folded graph, serve through the prune
      val (_, s25Sec) = time {
        val pruned = sim.s24PruneOver(
          comp.select(col("src_id"), col("rnk"), col("dst_id"),
            round(col("c"), 4).as("cos_sim")).localCheckpoint(),
          allFull, sim.S24Degree)
          .select(col("src_id"), col("dst_id")).localCheckpoint()
        val (vis, _, _) = sim.s23WalkFrames(spark, allFull, pruned, seed, 4, 8)
        force(vis)
      }
      println(f"HEADLINE100X s25_prune_and_serve wall=$s25Sec%.1fs")
      // e07: the incremental-curation census over base vs folded pairs
      val (_, e07Sec) = time {
        def pairsOf(edges: org.apache.spark.sql.DataFrame) =
          edges.filter(round(col("c"), 4) >= graft.operators.Pipeline.E06Tau)
            .select(least(col("src_id"), col("dst_id")).as("ida"),
              greatest(col("src_id"), col("dst_id")).as("idb")).distinct()
        val verdict = graft.operators.Pipeline.e07IncrementalVerdict(
          pairsOf(baseFull).localCheckpoint(),
          pairsOf(comp).localCheckpoint(),
          allFull.filter(col("vec_id") < a.nBase).select("vec_id"),
          allFull.filter(col("vec_id") >= a.nBase).select("vec_id"))
        force(verdict)
      }
      println(f"HEADLINE100X e07_census wall=$e07Sec%.1fs")
    } catch {
      case e: Throwable =>
        failed += 1
        println(s"HEADLINE100X graph_chain FAILED: ${e.toString.take(400)}")
        e.printStackTrace()
    }
    println(s"HEADLINE100X done failed=$failed")
    spark.stop()
  }
}
