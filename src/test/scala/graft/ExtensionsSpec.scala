package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions injection: a session built with
  * `withExtensions(new GraftExtensions)` (≡ --conf spark.sql.extensions)
  * can reach the whole native surface from pure SQL.
  */
class ExtensionsSpec extends AnyFunSuite {

  /** getOrCreate ignores withExtensions when a session already exists,
    * so clear the active/default session (keeping the SparkContext) and
    * build a genuinely new one with the extensions applied. */
  private def extSession(): SparkSession = {
    val prior = TestSpark.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions).getOrCreate()
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("native functions resolve from pure SQL via extensions") {
    val ext = extSession()
    val row = ext.sql(
      """SELECT
        |  simhash64('a b c') AS sh,
        |  token_fingerprint64('a  b c') AS fp,
        |  array_dot(array(1.0d, 2.0d), array(2.0d, 3.0d)) AS d,
        |  jsonc_get(t.nodes, t.strings, t.numbers, 'k') AS g,
        |  jsonc_decode(t.nodes, t.strings, t.numbers) AS doc
        |FROM (SELECT jsonc_encode('{"k": "v", "n": 1}') AS t)""".stripMargin)
      .collect().head
    assert(row.getLong(0) == graft.functions.HashImpls.simHash64("a b c".getBytes("UTF-8")))
    assert(row.getLong(1) == graft.functions.HashImpls.tokenFingerprint64("a b c".getBytes("UTF-8")))
    assert(row.getDouble(2) == 8.0)
    assert(row.getString(3) == "\"v\"") // quoted-token semantics survive SQL
    assert(row.getString(4) == """{"k":"v","n":1}""")

    // int8 quantization census from pure SQL: scale 1.0 (micro 1e6),
    // values ±1.0 and 0.5·scale quantize with err 0 / ~scale/254
    val qc = ext.sql(
      "SELECT int8_qcensus(array(1.0d, -1.0d, 0.503937d)) AS c").collect().head
      .getSeq[Long](0)
    assert(qc(0) == 1000000L, s"scale_micro: $qc")
    assert(qc(2) <= 1000000L / 254 + 1, s"max err above half-step: $qc")
    assert(qc(1) >= qc(2), s"sum below max: $qc")

    // t06's one-pass subword census from pure SQL: runs="ab c7!", so
    // words {ab, c}, digits {7}, punct {!} — and a non-ASCII codepoint
    // counts ONE punct (the regex-per-codepoint semantics)
    val bc = ext.sql("SELECT bpe_piece_census('ab c7! é') AS c")
      .collect().head.getSeq[Long](0)
    assert(bc == Seq(5L, 2L, 1L, 2L), s"bpe census: $bc")

    // the LSH/dedup primitives resolve too, matching the DataFrame forms
    val lsh = ext.sql(
      """SELECT
        |  word_shingles('a b c d', 3) AS sh,
        |  size(minhash_band_keys(array('x', 'y'), 32, 2)) AS nbands,
        |  size(cosine_band_keys(array(1.0d, -1.0d), 4242L, 8, 12)) AS ncos
        |""".stripMargin).collect().head
    assert(lsh.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(lsh.getInt(1) == 16) // 32 perms / 2 rows per band
    assert(lsh.getInt(2) == 12)

    // word_ngrams: the counting twin — multiplicity preserved, in
    // document order (word_shingles would collapse the repeat)
    val ng = ext.sql("SELECT word_ngrams('a b a b', 2) AS ng").collect().head
    assert(ng.getSeq[String](0) == Seq("a b", "b a", "a b"))

    // the runtime-filter bloom pair: build in a scalar subquery over a
    // keyed view, probe with might_contain — present keys always hit
    // (no false negatives), and a disjoint probe set mostly misses
    ext.range(0, 1000).createOrReplaceTempView("graft_ext_bloom")
    val bloom = ext.sql(
      """SELECT
        |  sum(CASE WHEN might_contain(
        |    (SELECT bloom_agg(xxhash64(id)) FROM graft_ext_bloom), xxhash64(id))
        |    THEN 1 ELSE 0 END) AS hits_present,
        |  sum(CASE WHEN might_contain(
        |    (SELECT bloom_agg(xxhash64(id)) FROM graft_ext_bloom), xxhash64(id + 1000000))
        |    THEN 1 ELSE 0 END) AS hits_absent
        |FROM graft_ext_bloom""".stripMargin).collect().head
    assert(bloom.getLong(0) == 1000L, s"bloom must have no false negatives: $bloom")
    assert(bloom.getLong(1) < 100L, s"disjoint keys should mostly miss: $bloom")
  }
  test("array_mean from pure SQL: skips NULL rows, NULL for an all-NULL group, merges across partitions, equals per-component avg") {
    val ext = extSession()
    // halves and quarters: every partial sum is exact, so the merge
    // order cannot move a bit and the comparison can be exact
    ext.sql(
      """SELECT /*+ REPARTITION(3) */ * FROM VALUES
        |  (1, array(1.0d, 2.0d)), (1, array(3.0d, CAST(NULL AS DOUBLE))),
        |  (1, CAST(NULL AS ARRAY<DOUBLE>)), (1, array(5.5d, 6.25d, 7.0d)),
        |  (2, CAST(NULL AS ARRAY<DOUBLE>)), (2, CAST(NULL AS ARRAY<DOUBLE>)),
        |  (3, array(-0.5d, 0.25d)), (3, array(1.5d, 0.75d)), (3, array(2.0d, 4.0d))
        |  AS t(g, v)""".stripMargin).createOrReplaceTempView("graft_ext_vecs")
    assert(ext.table("graft_ext_vecs").rdd.getNumPartitions >= 2,
      "the input must span partitions, so partial buffers serialize and merge")
    val got = ext.sql(
      "SELECT g, array_mean(v) AS m FROM graft_ext_vecs GROUP BY g")
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[Any](1)).map(_.toSeq)).toMap
    val ref = ext.sql(
      """SELECT g, transform(array_sort(collect_list(struct(pos, a))), x -> x.a) AS m
        |FROM (SELECT g, pos, avg(x) AS a
        |      FROM graft_ext_vecs LATERAL VIEW posexplode(v) p AS pos, x
        |      GROUP BY g, pos)
        |GROUP BY g""".stripMargin)
      .collect().map(r => r.getInt(0) -> Some(r.getSeq[Any](1).toSeq)).toMap
    assert(got(1) == Some(Seq(19.0 / 6, 4.125, 7.0)), s"group 1: ${got(1)}")
    assert(got(2).isEmpty, s"an all-NULL group must give NULL: ${got(2)}")
    assert(got - 2 == ref, s"array_mean $got vs per-component avg $ref")
    // integer arrays are cast to array<double>, not read as raw doubles
    val ints = ext.sql("SELECT array_mean(v) FROM VALUES (array(1, 2)), (array(4, 8)) AS t(v)")
      .collect().head.getSeq[Double](0)
    assert(ints == Seq(2.5, 5.0), s"array_mean over int arrays: $ints")
  }
  test("t26 native trigram encoder equals the composable twin (ASCII, non-BMP, sub-trigram)") {
    val spark = TestSpark.session
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the native expression exists for speed only — semantics are the
    // composable Column form's, pinned here on the edge inputs that
    // could diverge: code-point windows (non-BMP emoji), accents,
    // below-trigram strings (zero vector), empty
    val rows = Seq("spark join fast", "ab", "", "abc",
      "\u03b1\u03b2\u03b3\u03b4\u03b5", "a\ud83d\ude00b\ud83d\ude00c\ud83d\ude00d",
      "Hello, w\u00f6rld!").toDF("s")
    val both = rows.select(col("s"),
      graft.operators.TextOps.t26Vec(col("s")).as("nat"),
      graft.operators.TextOps.t26VecComposable(col("s")).as("ref")).collect()
    both.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](2),
        s"native encoder diverged on '${r.getString(0)}': " +
          s"${r.getSeq[Double](1)} vs ${r.getSeq[Double](2)}")
    }
  }
  test("trigram_bucket_counts rejects dims outside the md5 high-nibble range") {
    import org.apache.spark.sql.functions.lit
    // the bucket is the md5 high nibble (0-15) mod dims — dims > 16
    // would leave buckets 16.. permanently zero with no error (the
    // round-16 advice); the constructor now enforces the contract
    val e = intercept[IllegalArgumentException] {
      graft.functions.TrigramFunctions.trigram_bucket_counts(lit("abc"), 17)
    }
    assert(e.getMessage.contains("[1, 16]"), e.getMessage)
    intercept[IllegalArgumentException] {
      graft.functions.TrigramFunctions.trigram_bucket_counts(lit("abc"), 0)
    }: Unit
  }
}
