package graft

import graft.core.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The final corpus assignment of the IVF queries — in-row through
  * [[Similarity.cellRows]] and the s07 codes — against the aggregate
  * forms it replaced ([[AssignmentReference]]), under the same trained
  * models, across shuffle partitions and AQE.
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
}
