package graft

import graft.core.{IO, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The quantizer trainers — [[Similarity.trainedCentroids]],
  * [[Similarity.twoLevelModel]] and [[Similarity.s07Codebooks]] —
  * against the Lloyd round they replaced, and their storage contract.
  *
  * Precondition of the equivalence: `vec_id` is unique in the corpus.
  * The reference assigns through `groupBy(vec_id)` + `first(e)`, which
  * silently collapses duplicate ids into one member; the in-row
  * assignment counts every row.
  */
class TrainerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  /** The replaced round, kept only as the reference: assign through the
    * partial-aggregated `max_by`/`min_by` joins of
    * [[AssignmentReference]], then explode each member to one row per
    * dimension, `avg` per (cell, dim), and reassemble with
    * `array_sort(collect_list(struct))`. */
  private object Reference {
    import AssignmentReference.{assignCells, assignFine, s07Encode}
    import graft.functions.VectorFunctions.array_dot

    private def emb(dir: String) = Similarity.emb(spark, dir)
      .withColumn("nrm", sqrt(array_dot(col("e"), col("e"))))

    private def meanOf(assigned: DataFrame, keys: Seq[String], v: String,
        out: String): DataFrame =
      assigned.select(keys.map(col) :+ posexplode(col(v)): _*)
        .groupBy(keys.map(col) :+ col("pos"): _*)
        .agg(round(avg(col("col")), 6).as("x"))
        .groupBy(keys.map(col): _*)
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("x")))),
          t => t("x")).as(out))

    private def withNorm(df: DataFrame) =
      df.withColumn("cnrm", sqrt(array_dot(col("ce"), col("ce"))))

    def trainedCentroids(dir: String, rounds: Int, k: Int): DataFrame = {
      val all = emb(dir)
      val stride = math.max(1L, Tables(spark, dir, "embeddings").count() / k)
      var cents = all.filter(col("vec_id") % stride === 0 && col("vec_id") / stride < k)
        .select((col("vec_id") / stride).cast("int").as("cid"),
          col("e").as("ce"), col("nrm").as("cnrm"))
      for (_ <- 1 to rounds)
        cents = withNorm(meanOf(assignCells(all, cents), Seq("cid"), "e", "ce"))
      cents
    }

    def twoLevelModel(dir: String, k1: Int, k2: Int,
        rounds: Int): (DataFrame, DataFrame, DataFrame) = {
      val all = emb(dir)
      val ccents = trainedCentroids(dir, rounds, k1)
      val coarse = assignCells(all, ccents)
        .select(col("vec_id"), col("e"), col("nrm"), col("cid").as("ccid"))
      val wRank = Window.partitionBy(col("ccid")).orderBy(col("vec_id"))
      var cents = coarse
        .withColumn("rk", row_number().over(wRank).cast("long") - 1)
        .withColumn("m", count(lit(1)).over(Window.partitionBy(col("ccid"))))
        .withColumn("stride", greatest(lit(1L), expr(s"m div $k2")))
        .filter(col("rk") % col("stride") === 0 && expr("rk div stride") < k2)
        .select(col("ccid"), expr("rk div stride").cast("int").as("fcid"),
          col("e").as("ce"), col("nrm").as("cnrm"))
      for (_ <- 1 to rounds)
        cents = withNorm(meanOf(assignFine(coarse, cents),
          Seq("ccid", "fcid"), "e", "ce"))
      (ccents, cents,
        AssignmentReference.twoLevelCells(Similarity.emb(spark, dir), ccents, cents, k2))
    }

    def codebooks(dir: String, rounds: Int, m: Int, nCodes: Int): DataFrame = {
      val sv = Similarity.subvecsOf(Similarity.emb(spark, dir), m)
      val stride = math.max(1L, Tables(spark, dir, "embeddings").count() / nCodes)
      var cb = sv.filter(col("vec_id") % stride === 0 && col("vec_id") / stride < nCodes)
        .select(col("sub"), (col("vec_id") / stride).cast("int").as("cid"),
          col("v").as("cv"))
      for (_ <- 1 to rounds)
        cb = meanOf(s07Encode(sv, cb), Seq("sub", "cid"), "v", "cv")
      cb
    }
  }

  /** Rows as plain values (arrays as Seqs), in a total order — doubles
    * compare exactly. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toSeq
      case v => v
    }).sortBy(_.takeWhile(!_.isInstanceOf[Seq[_]]).mkString("|"))

  test("trainers equal the posexplode/avg/collect_list reference row for row, across partitions and AQE") {
    val (k1, k2) = Similarity.d12Factors(Tables(spark, sf, "embeddings").count())
    for (partitions <- Seq("1", "4"); aqe <- Seq("true", "false")) TestSpark.withConfs(partitions, aqe) {
      val at = s"shuffle.partitions=$partitions, AQE=$aqe"
      Similarity.clearTrainedModels()
      assert(rows(Similarity.trainedCentroids(spark, sf, Similarity.LloydRounds)) ==
        rows(Reference.trainedCentroids(sf, Similarity.LloydRounds, Similarity.IvfCentroids)),
        s"trainedCentroids diverged ($at)")
      val got = Similarity.twoLevelModel(spark, sf, k1, k2, Similarity.LloydRounds)
      val ref = Reference.twoLevelModel(sf, k1, k2, Similarity.LloydRounds)
      assert(rows(got._1) == rows(ref._1), s"two-level coarse centroids diverged ($at)")
      assert(rows(got._2) == rows(ref._2), s"two-level fine centroids diverged ($at)")
      assert(rows(got._3) == rows(ref._3), s"two-level assignment diverged ($at)")
      assert(rows(Similarity.s07Codebooks(spark, sf, Similarity.S07Rounds)) ==
        rows(Reference.codebooks(sf, Similarity.S07Rounds,
          Similarity.S07Subspaces, Similarity.S07Codes)),
        s"s07 codebooks diverged ($at)")
    }
  }

  test("s12's base build stores the models trained over a written copy of the base slice, with no memo entry and no graft-s12 dir") {
    val nBase = Tables.count(spark, sf, "embeddings") * Similarity.S12BaseNum / Similarity.S12BaseDen
    val copy = IO.scratchDir("graft-s12copy")
    Tables(spark, sf, "embeddings").filter(col("vec_id") < nBase)
      .write.parquet(s"$copy/embeddings.parquet")
    val (k1, k2) = Similarity.d12Factors(nBase)
    for (partitions <- Seq("1", "4"); aqe <- Seq("true", "false")) TestSpark.withConfs(partitions, aqe) {
      val at = s"shuffle.partitions=$partitions, AQE=$aqe"
      Similarity.clearTrainedModels()
      val dirs = IO.scratchDirs
      val (codesT, ccT, fcT, cbT, builtBase, builtK2) = Similarity.s12BuildBase(spark, sf)
      try {
        assert(Similarity.trainedModelCount == 0, s"the base build took a memo entry ($at)")
        val made = (IO.scratchDirs -- dirs).map(_.getFileName.toString)
        assert(!made.exists(_.startsWith("graft-s12")), s"the base build made a slice dir ($at): $made")
        assert((builtBase, builtK2) == (nBase, k2), s"base geometry ($at)")
        val (cc, fc, _) = Similarity.twoLevelModel(spark, copy, k1, k2, Similarity.LloydRounds)
        assert(rows(spark.table(ccT)) == rows(cc), s"stored coarse centroids diverged ($at)")
        assert(rows(spark.table(fcT)) == rows(fc), s"stored fine centroids diverged ($at)")
        assert(rows(spark.table(cbT)) == rows(Similarity.s07Codebooks(spark, copy, Similarity.S07Rounds)),
          s"stored codebooks diverged ($at)")
      } finally Seq(codesT, ccT, fcT, cbT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("the IVF-PQ lifecycle persists no RDD, and a memoized model starts no Spark job") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (codesT, ccT, fcT, cbT, nBase, k2) = Similarity.s12BuildBase(spark, sf)
    try {
      Similarity.s12FoldIn(spark, Similarity.emb(spark, sf).filter(col("vec_id") >= nBase),
        codesT, ccT, fcT, cbT, k2)
      Similarity.s11Search(spark, sf, codesT, ccT, fcT, cbT, k2).collect()
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        "build + fold-in + search must leave executor storage as it found it")
    } finally Seq(codesT, ccT, fcT, cbT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    val (k1, k2f) = Similarity.d12Factors(Tables(spark, sf, "embeddings").count())
    Similarity.twoLevelModel(spark, sf, k1, k2f, Similarity.LloydRounds)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftShims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val entries = Similarity.trainedModelCount
      Similarity.twoLevelModel(spark, sf, k1, k2f, Similarity.LloydRounds)
      GraftShims.drainListenerBus(spark)
      assert(jobs.get == 0, s"a memoized twoLevelModel started ${jobs.get} Spark jobs")
      assert(Similarity.trainedModelCount == entries, "a memo hit must add no entry")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
