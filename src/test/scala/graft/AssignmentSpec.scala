package graft

import graft.core.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The final corpus assignment of the IVF queries — in-row through
  * [[Similarity.cellRows]] and the s07 codes — and the in-row serve
  * path of IVF-PQ — the hierarchical probe and the ADC table — against
  * the aggregate, window and join forms they replaced
  * ([[AssignmentReference]]), under the same trained models, across
  * shuffle partitions and AQE.
  *
  * Precondition of the equivalence: `vec_id` is unique and no vector is
  * NULL (see [[AssignmentReference]]); the sf0.001 corpus meets it.
  */
class AssignmentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  /** Rows as plain values (arrays as Seqs), sorted by their leading
    * non-array columns — doubles compare exactly. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toSeq
      case v => v
    }).sortBy(_.takeWhile(!_.isInstanceOf[Seq[_]]).mkString("|"))

  /** Asserts `got` and `ref` hold the same rows, naming the first
    * difference rather than printing both sides. */
  private def assertSameRows(got: DataFrame, ref: DataFrame, what: String): Unit = {
    val (g, r) = (rows(got), rows(ref))
    assert(g.nonEmpty, s"$what: no rows")
    val firstDiff = g.zipAll(r, null, null).find { case (a, b) => a != b }
    assert(firstDiff.isEmpty,
      s"$what: ${g.size} vs ${r.size} rows, first difference (got, reference) ${firstDiff.orNull}")
  }

  test("in-row cell assignment and PQ encode equal the max_by/min_by reference row for row, across partitions and AQE") {
    import graft.functions.VectorFunctions.array_dot
    val all = Similarity.emb(spark, sf)
    val withNrm = all.withColumn("nrm", sqrt(array_dot(col("e"), col("e"))))
    val n = Tables.count(spark, sf, "embeddings")
    val (k1, k2) = Similarity.d12Factors(n)
    for (partitions <- Seq("1", "4"); aqe <- Seq("true", "false"))
      TestSpark.withConfs(partitions, aqe) {
        val at = s"shuffle.partitions=$partitions, AQE=$aqe"
        // s03's seeds and s04's quantizer, at k = 16
        for (rounds <- Seq(0, Similarity.LloydRounds)) {
          val cents = Similarity.trainedCentroids(spark, sf, rounds)
          assertSameRows(
            Similarity.cellRows(all, cents.collect().toSeq).select("vec_id", "cid"),
            AssignmentReference.assignCells(withNrm, cents).select("vec_id", "cid"),
            s"flat quantizer, rounds = $rounds ($at)")
        }
        // d11's corpus-relative k
        assertSameRows(Similarity.d11Cells(spark, sf).select("vec_id", "cid"),
          AssignmentReference.assignCells(withNrm, Similarity.trainedCentroids(
            spark, sf, Similarity.LloydRounds, Similarity.d11CellCount(n))).select("vec_id", "cid"),
          s"d11 cells ($at)")
        val (cc, fc, assigned) = Similarity.twoLevelModel(spark, sf, k1, k2, Similarity.LloydRounds)
        assertSameRows(assigned, AssignmentReference.twoLevelCells(all, cc, fc, k2),
          s"two-level assignment ($at)")
        assertSameRows(Similarity.s07Codes(spark, sf),
          AssignmentReference.s07Encode(Similarity.subvecsOf(all, Similarity.S07Subspaces),
            Similarity.s07Codebooks(spark, sf, Similarity.S07Rounds))
            .select("vec_id", "sub", "cid"),
          s"s07 codes ($at)")
      }
  }

  test("in-row probe_cells and adc_table equal the rank windows and the dtab join row for row, across partitions and AQE") {
    import graft.functions.VectorFunctions.{adc_table, array_dot}
    import Similarity.{S06CoarseProbes, S06FineProbes, S07Codes, S07Subspaces}
    val (k1, k2) = Similarity.d12Factors(Tables.count(spark, sf, "embeddings"))
    val corpus = Similarity.emb(spark, sf).select(col("vec_id").as("qid"), col("e").as("qe"),
      sqrt(array_dot(col("e"), col("e"))).as("qnrm"))
    val gate = corpus.filter(col("qid") < 10)
    val cb = Similarity.s07Codebooks(spark, sf, Similarity.S07Rounds)
    val codebook = graft.functions.Centroids(cb.collect().toSeq.map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2))))
    // each query's table entries (qid, sub, code, unit), the missing
    // codewords' NULL entries left out as the join has no row for them
    def inRowTables(queries: DataFrame): DataFrame =
      queries.select(col("qid"), posexplode(adc_table(col("qe"), codebook, S07Subspaces, S07Codes)))
        .filter(col("col").isNotNull)
        .select(col("qid"), (col("pos") / S07Codes).cast("int").as("sub"),
          (col("pos") % S07Codes).as("code"), col("col").as("unit"))
    for (partitions <- Seq("1", "4"); aqe <- Seq("true", "false"))
      TestSpark.withConfs(partitions, aqe) {
        val at = s"shuffle.partitions=$partitions, AQE=$aqe"
        val (cc, fc, _) = Similarity.twoLevelModel(spark, sf, k1, k2, Similarity.LloydRounds)
        val (ccRows, fcRows) = (cc.collect().toSeq, fc.collect().toSeq)
        // s06's probe, over the gate set and over the corpus as queries (s22)
        for ((queries, what) <- Seq(gate -> "10 queries", corpus -> "corpus as queries"))
          assertSameRows(Similarity.probeCellsOf(queries, ccRows, fcRows, k2).select("qid", "cid"),
            AssignmentReference.probeCellsOf(queries, cc, fc, k2, S06CoarseProbes, S06FineProbes)
              .select("qid", "cid"),
            s"probe, $what ($at)")
        // s15's ranked probe: the list position is the fine window's rank
        assertSameRows(
          gate.select(col("qid"), posexplode(Similarity.probeCol(ccRows, fcRows, k2,
              Similarity.S15MaxProbes)))
            .select(col("qid"), (col("pos") + 1).as("rk2"), col("col").as("cid")),
          AssignmentReference.probeCellsOf(gate, cc, fc, k2, S06CoarseProbes,
            Similarity.S15MaxProbes).select("qid", "rk2", "cid"),
          s"s15 ranked probe ($at)")
        assertSameRows(inRowTables(gate),
          AssignmentReference.adcTables(gate, cb, S07Subspaces), s"ADC tables ($at)")
      }
    // a zero-norm query: every cosine is NULL (non-ANSI division, as the
    // windows divide; ANSI division would throw), so it probes by ids
    // alone; its ADC table has no division at all
    val zero = spark.createDataFrame(Seq((-1L, Seq.fill(64)(0.0), 0.0)))
      .toDF("qid", "qe", "qnrm")
    val (cc, fc, _) = Similarity.twoLevelModel(spark, sf, k1, k2, Similarity.LloydRounds)
    val ansi = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(ansi)
    spark.conf.set(ansi, "false")
    try {
      assertSameRows(Similarity.probeCellsOf(zero, cc.collect().toSeq, fc.collect().toSeq, k2)
          .select("qid", "cid"),
        AssignmentReference.probeCellsOf(zero, cc, fc, k2, S06CoarseProbes, S06FineProbes)
          .select("qid", "cid"),
        "probe, zero-norm query")
      assertSameRows(inRowTables(zero), AssignmentReference.adcTables(zero, cb, S07Subspaces),
        "ADC table, zero-norm query")
    } finally saved.fold(spark.conf.unset(ansi))(spark.conf.set(ansi, _))
  }
}
