package graft.perfbench

import java.util.SplittableRandom

import graft.core.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The persisted IVF-PQ lifecycle over generated 64-d unit vectors.
  *
  * A pass runs `Similarity.s12BuildBase` (trains the two-level quantizer and
  * the PQ codebooks on the base 90 % and persists the bucketed code store),
  * `s12FoldIn` of the remaining 10 % through the frozen model, and
  * `s11Search` of the 10-query batch (vec_id < 10) — the entry points the
  * repo's Bench phase split calls. The write side is Lloyd/PQ training;
  * search is the read side.
  *
  * Vectors sit in planted clusters, and every query has [[Twins]] planted
  * near-copies spread over base and delta, so its exact top-5 is known to be
  * well separated from the rest of its cluster.
  */
final class VectorIndex(spark: SparkSession, root: String, seed: Long)
    extends Workload(spark, root, seed) {
  import VectorIndex._
  import Main.{force, timed}

  // A pass is 96 small Spark jobs over 9–20 s, as the host's load goes:
  // the run-time budget leaves room for one warm and one timed pass.
  def warmPasses: Int = 1
  def minPasses: Int = 1

  private val dir = s"$root/input/vec"
  private var vectors: Array[Array[Float]] = _
  private var tables: Option[(String, String, String, String, Long, Int)] = None
  private var found: Array[Row] = Array.empty

  def generate(): Unit = {
    vectors = corpus(Vectors, seed)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val rows = vectors.indices.map(i =>
      Row(i.toLong, vectors(i).toSeq, i % Clusters))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def pass(): Pass = {
    var t: (String, String, String, String, Long, Int) = null
    val build = timed { t = Similarity.s12BuildBase(spark, dir) }
    tables = Some(t)
    val (codesT, ccT, fcT, cbT, nBase, k2) = t
    val delta = Tables(spark, dir, "embeddings").filter(col("vec_id") >= nBase)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val fold = timed(Similarity.s12FoldIn(spark, delta, codesT, ccT, fcT, cbT, k2))
    // 50 result rows: collecting them costs no more than the noop sink,
    // and the check reads the pass's own results
    val search = timed {
      found = Similarity.s11Search(spark, dir, codesT, ccT, fcT, cbT, k2).collect()
    }
    Pass(build + fold, search, 3, 0, Map(
      "vector.build_s" -> build, "vector.fold_s" -> fold, "vector.search_s" -> search,
      "vector.index_bytes" -> indexBytes().toDouble))
  }

  private def tableNames: Seq[String] =
    tables.toSeq.flatMap(t => Seq(t._1, t._2, t._3, t._4))

  private def indexBytes(): Long = tableNames.map { n =>
    Main.parquetBytes(spark.sessionState.catalog.getTableMetadata(TableIdentifier(n))
      .location.getPath)
  }.sum

  /** s11BuildIndex registers four catalog tables per call and never drops
    * them; dropping the ones this pass was handed keeps passes independent.
    * Their files stay in the program's scratch dir until JVM exit. */
  def endPass(): Unit = {
    tableNames.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    tables = None
  }

  def storedRatio(): Double =
    indexBytes().toDouble / Main.parquetBytes(s"$dir/embeddings.parquet")

  def check(): Seq[String] = {
    val got = found.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val problems = Seq.newBuilder[String]
    for (q <- 0L until Queries if got.get(q).forall(_.size != K))
      problems += s"query $q: ${got.get(q).map(_.size).getOrElse(0)} result rows, expected $K"
    val recall = (0 until Queries).map(q =>
      exactTopK(q).count(got.getOrElse(q.toLong, Set.empty[Long]).contains) / K.toDouble).sum / Queries
    System.err.println(f"perfbench: recall@$K%d = $recall%.3f")
    if (recall < RecallFloor) problems += f"recall@$K%d $recall%.3f below the floor $RecallFloor%.2f"
    problems.result()
  }

  /** Exact cosine top-K of vector `q` over the corpus, itself excluded. */
  private def exactTopK(q: Int): Seq[Long] = {
    def dot(a: Array[Float], b: Array[Float]) = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k).toDouble * b(k); k += 1 }
      s
    }
    val qv = vectors(q)
    val qn = math.sqrt(dot(qv, qv))
    vectors.indices.filter(_ != q)
      .map(i => (i, dot(qv, vectors(i)) / (qn * math.sqrt(dot(vectors(i), vectors(i))))))
      .sortBy { case (i, c) => (-c, i) }.take(K).map(_._1.toLong)
  }

  def layers(): Map[String, Double] = {
    val n = Vectors.toLong
    val (k1, k2) = Similarity.d12Factors(n)
    val quantizer = timed(force(Similarity.twoLevelModel(spark, dir, k1, k2,
      Similarity.LloydRounds)._3))
    val codebooks = timed(force(Similarity.s07Codebooks(spark, dir, Similarity.S07Rounds)))
    Map("vector.train_quantizer_s" -> quantizer, "vector.train_codebooks_s" -> codebooks)
  }
}

object VectorIndex {
  val Vectors = 3000
  val Dim = 64
  val Clusters = 40
  val Queries = 10
  val K = 5
  /** Planted near-copies per query: its exact top-5. */
  val Twins = 5
  /** Lowest recall@5 a correct index reaches on these clusters; see the
    * README for the measured values it sits under. */
  val RecallFloor = 0.6

  /** Unit vectors around `Clusters` random centres (vec_id i in cluster
    * i % Clusters); vectors 0 until `Queries` each get `Twins` near-copies
    * at ids spread over the whole range, delta included. */
  def corpus(n: Int, seed: Long): Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    def gauss(): Double = {
      var u = r.nextDouble(); while (u == 0.0) u = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centres = Array.fill(Clusters)(unit(Array.fill(Dim)(gauss())))
    val vs = Array.tabulate(n)(i => unit(centres(i % Clusters).map(_ + 0.12 * gauss())))
    val stride = (n - Queries) / (Queries * Twins)
    for (q <- 0 until Queries; t <- 0 until Twins) {
      // same cluster as q (ids ≡ q mod Clusters), at a spread of offsets
      val at = Queries + (q * Twins + t) * stride
      val id = at - at % Clusters + q % Clusters + Clusters
      vs(id) = unit(vs(q).map(_ + 0.01 * gauss()))
    }
    vs.map(_.map(_.toFloat))
  }
}
