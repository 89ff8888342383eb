package graft

import graft.core.{IO, Tables}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The IVF-PQ code store — built by [[Similarity.codeRows]]'s in-row
  * assign+encode — against the join-based form it replaced, and the
  * job and file counts of the build, the fold-in and a Lloyd round.
  *
  * Precondition of the equivalence: `vec_id` is unique in the batch.
  * The reference assigns and encodes through `groupBy(vec_id)` /
  * `groupBy(vec_id, sub)` and joins on vec_id, which would collapse or
  * multiply duplicate ids; the in-row form encodes every row once.
  */
class CodeStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  /** The replaced code-store build, kept only as the reference: coarse
    * and fine argmax through the partial-aggregated `max_by` joins, PQ
    * codes through the `min_by` join ([[AssignmentReference]]), and the
    * two joined on vec_id. */
  private def referenceCodes(vecs: DataFrame, cc: DataFrame, fc: DataFrame,
      cb: DataFrame, k2: Int): DataFrame = {
    val cells = AssignmentReference.twoLevelCells(vecs, cc, fc, k2)
      .select(col("vec_id"), col("cid").as("cell"))
    AssignmentReference.s07Encode(Similarity.subvecsOf(vecs, Similarity.S07Subspaces), cb)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
      .join(cells, Seq("vec_id"))
      .select(col("vec_id"), col("sub"), col("code"), col("cell"))
  }

  /** (vec_id, sub, code, cell) rows in a total order. */
  private def rows(df: DataFrame): Seq[(Long, Int, Int, Long)] =
    df.select("vec_id", "sub", "code", "cell").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sorted

  /** Asserts `got` and `ref` hold the same rows, naming the first
    * difference rather than printing both sides; returns the row count. */
  private def assertSameRows(got: DataFrame, ref: DataFrame, what: String): Int = {
    val (g, r) = (rows(got), rows(ref))
    val firstDiff = g.zipAll(r, null, null).find { case (a, b) => a != b }
    assert(firstDiff.isEmpty,
      s"$what: ${g.size} vs ${r.size} rows, first difference (got, reference) ${firstDiff.orNull}")
    g.size
  }

  /** The data files of catalog table `table`: name → bucket id, read
    * from the `_000NN` suffix Spark gives a bucket's file. */
  private def fileBuckets(table: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    val suffix = """.*_(\d{5})\..*\.parquet""".r
    java.nio.file.Files.list(java.nio.file.Paths.get(loc)).iterator().asScala
      .map(_.getFileName.toString).collect { case f @ suffix(id) => f -> id.toInt }.toMap
  }

  /** The bucket ids `codes`' rows fall in: Spark's bucket id of a cell
    * is pmod(murmur3(cell), buckets), which `hash` computes. */
  private def bucketsOf(codes: DataFrame): Seq[Int] =
    codes.select(pmod(hash(col("cell")), lit(Dedup.D13Buckets))).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("in-row codes equal the join-based code store row for row: build, fold-in, s26, across partitions and AQE") {
    val all = Similarity.emb(spark, sf)
    val n = Tables.count(spark, sf, "embeddings")
    for (partitions <- Seq("1", "4"); aqe <- Seq("true", "false")) TestSpark.withConfs(partitions, aqe) {
      val at = s"shuffle.partitions=$partitions, AQE=$aqe"
      val (codesT, ccT, fcT, cbT, nBase, k2) = Similarity.s12BuildBase(spark, sf)
      try {
        val (cc, fc, cb) = (spark.table(ccT), spark.table(fcT), spark.table(cbT))
        val base = assertSameRows(spark.table(codesT),
          referenceCodes(all.filter(col("vec_id") < nBase), cc, fc, cb, k2), s"base build ($at)")
        assert(base == nBase * Similarity.S07Subspaces, s"base store size ($at)")
        val delta = all.filter(col("vec_id") >= nBase)
        val folded = assertSameRows(Similarity.s12AssignEncode(spark, delta, ccT, fcT, cbT, k2),
          referenceCodes(delta, cc, fc, cb, k2), s"fold-in batch ($at)")
        assert(folded == (n - nBase) * Similarity.S07Subspaces, s"fold-in batch size ($at)")
      } finally drop(codesT, ccT, fcT, cbT)
      val a = Similarity.s26BuildBase(spark, sf)
      assertSameRows(a.codesByCell,
        referenceCodes(Similarity.emb(spark, a.baseDir), Similarity.frameOf(spark, a.cc),
          Similarity.frameOf(spark, a.fc), Similarity.frameOf(spark, a.cb), a.k2),
        s"s26 codesByCell ($at)")
    }
  }

  test("a Lloyd round is one Spark job") {
    // two fresh copies of one corpus: each pays its own schema
    // inference, row count and seeding job, so the rounds alone differ
    def fresh(): String = {
      val dir = IO.scratchDir("graft-lloydjobs")
      Tables(spark, sf, "embeddings").write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    val (one, two) = (fresh(), fresh())
    val (_, jobs1) = TestSpark.jobs(Similarity.trainedCentroids(spark, one, rounds = 1))
    val (_, jobs2) = TestSpark.jobs(Similarity.trainedCentroids(spark, two, rounds = 2))
    assert(jobs2.size == jobs1.size + 1, s"rounds = 1: $jobs1; rounds = 2: $jobs2")
    assert(jobs2.count(_ == "ivfpq train flat round 2") == 1, s"round 2's job: $jobs2")
  }

  test("the code store gets one file per bucket from the build and from each fold-in; every job names its phase") {
    // exactly one file per non-empty bucket id, at 1, 4, 13 and 32 shuffle partitions
    // a four-file corpus: four scan tasks, each of which would write its
    // own file into every bucket it holds without the partitioning on cell
    val dir = IO.scratchDir("graft-codefiles")
    Tables(spark, sf, "embeddings").repartition(4).write.parquet(s"$dir/embeddings.parquet")
    val all = Similarity.emb(spark, dir)
    assert(all.rdd.getNumPartitions > 1, "the corpus must scan as several tasks")
    val k2 = Similarity.d12Factors(Tables.count(spark, dir, "embeddings"))._2
    // a delta over every cell, and one of ten vectors, which leaves buckets empty
    val deltas = Seq(
      "whole-corpus" -> all.withColumn("vec_id", col("vec_id") + 1000000L),
      "ten-row" -> all.filter(col("vec_id") < 10).withColumn("vec_id", col("vec_id") + 2000000L))
    val sc = spark.sparkContext
    for (partitions <- Seq("1", "4", "13", "32")) TestSpark.withConfs(partitions, "true") {
      val at = s"shuffle.partitions=$partitions"
      sc.setJobDescription("caller")
      val ((codesT, ccT, fcT, cbT), build) = TestSpark.jobs(Similarity.s11BuildIndex(spark, dir))
      try {
        var files = fileBuckets(codesT)
        assert(files.values.toSeq.sorted == bucketsOf(spark.table(codesT)),
          s"bucket ids of the build's files ($at): ${files.values.toSeq.sorted}")
        val n = spark.table(codesT).count()
        for ((what, delta) <- deltas) {
          val (_, fold) = TestSpark.jobs(Similarity.s12FoldIn(spark, delta, codesT, ccT, fcT, cbT, k2))
          val now = fileBuckets(codesT)
          val added = (now -- files.keySet).values.toSeq.sorted
          assert(added == bucketsOf(Similarity.s12AssignEncode(spark, delta, ccT, fcT, cbT, k2)),
            s"bucket ids of the $what fold-in's files ($at): $added")
          assert(fold.nonEmpty && fold.forall(_ == "ivfpq fold-in"), s"$what fold-in jobs ($at): $fold")
          files = now
        }
        assert(spark.table(codesT).count() == 2 * n + 10 * Similarity.S07Subspaces,
          s"the fold-ins append a code row per delta row and subspace ($at)")
        assert(sc.getLocalProperty("spark.job.description") == "caller",
          "the caller's job description must be restored")
        val unnamed = build.filterNot(_.startsWith("ivfpq "))
        assert(unnamed.isEmpty, s"build jobs without an ivfpq phase ($at): $unnamed")
      } finally {
        sc.setJobDescription(null)
        drop(codesT, ccT, fcT, cbT)
      }
    }
  }

  test("after the base build, planning the fold-in and the search starts no Spark job") {
    val (codesT, ccT, fcT, cbT, nBase, k2) = Similarity.s12BuildBase(spark, sf)
    try {
      val delta = Similarity.emb(spark, sf).filter(col("vec_id") >= nBase)
      val (_, jobs) = TestSpark.jobs {
        Similarity.s12AssignEncode(spark, delta, ccT, fcT, cbT, k2).queryExecution.executedPlan
        Similarity.s11Search(spark, sf, codesT, ccT, fcT, cbT, k2).queryExecution.executedPlan
      }
      assert(jobs.isEmpty, s"the stored model tables were read back: $jobs")
    } finally drop(codesT, ccT, fcT, cbT)
  }

  test("a model table overwritten at its path misses the stored-model memo and serves the new rows") {
    import scala.jdk.CollectionConverters._
    val (codesT, ccT, fcT, cbT) = Similarity.s11BuildIndex(spark, sf)
    try {
      val before = Similarity.storedRows(spark, ccT)
      assert(before.size > 1, "the coarse quantizer needs more than one cell")
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(ccT)).location.toString
      // keep only the last coarse centroid, at the same path
      spark.createDataFrame(before.takeRight(1).asJava, spark.table(ccT).schema)
        .write.mode("overwrite").format("parquet").option("path", loc).saveAsTable(ccT)
      val after = Similarity.storedRows(spark, ccT)
      assert(after.map(_.getInt(0)) == Seq(before.last.getInt(0)), s"served rows $after")
      // the fold-in assigns every vector to that one coarse cell
      val k2 = Similarity.d12Factors(Tables.count(spark, sf, "embeddings"))._2
      val ccids = Similarity.s12AssignEncode(spark, Similarity.emb(spark, sf), ccT, fcT, cbT, k2)
        .select((col("cell") / k2).cast("int")).distinct().collect().map(_.getInt(0)).toSeq
      assert(ccids == Seq(before.last.getInt(0)), s"coarse cells of the fold-in: $ccids")
    } finally drop(codesT, ccT, fcT, cbT)
  }
}
