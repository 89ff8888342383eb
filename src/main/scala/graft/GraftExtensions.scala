package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.functions.{ArrayDotProduct, ArrayMean, Int8QuantCensus, SimHash64, TokenFingerprint64}

/** Session-extension entry point: makes graft's native expressions
  * available to pure-SQL users via
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * (the standard deployment path for a Spark-native library; no custom
  * planner rules are needed — SURVEY §4 concludes parity requires
  * expressions only, and Catalyst handles the rest).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def one(name: String, f: Expression => Expression)(exprs: Seq[Expression]): Expression = {
      require(exprs.length == 1, s"$name expects exactly 1 argument")
      f(exprs.head)
    }
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("token_fingerprint64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[TokenFingerprint64].getName, "token_fingerprint64"),
        one("token_fingerprint64", TokenFingerprint64) _))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[SimHash64].getName, "simhash64"),
        one("simhash64", SimHash64) _))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("array_dot"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ArrayDotProduct].getName, "array_dot"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "array_dot expects exactly 2 arguments")
          ArrayDotProduct(exprs.head, exprs(1))
        }))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("array_mean"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ArrayMean].getName, "array_mean"),
        // an integer or float array is cast, never read as raw doubles
        one("array_mean", e => ArrayMean(org.apache.spark.sql.catalyst.expressions.Cast(
          e, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))) _))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("bpe_piece_census"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.BpePieceCensus].getName, "bpe_piece_census"),
        one("bpe_piece_census", graft.functions.BpePieceCensus) _))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("int8_qcensus"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Int8QuantCensus].getName, "int8_qcensus"),
        one("int8_qcensus", Int8QuantCensus) _))
    // full tape codec in SQL: jsonc_encode(doc), jsonc_decode(n,s,d),
    // jsonc_get(n,s,d, 'seg1', 'seg2', ...) — path segments are literals
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("jsonc_encode"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.codecs.JsoncEncodeExpr].getName, "jsonc_encode"),
        one("jsonc_encode", graft.codecs.JsoncEncodeExpr.apply) _))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("jsonc_decode"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.codecs.JsoncDecodeExpr].getName, "jsonc_decode"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 3, "jsonc_decode expects (nodes, strings, numbers)")
          graft.codecs.JsoncDecodeExpr(exprs(0), exprs(1), exprs(2))
        }))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("jsonc_get"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.codecs.JsoncGetExpr].getName, "jsonc_get"),
        (exprs: Seq[Expression]) => {
          require(exprs.length >= 4,
            "jsonc_get expects (nodes, strings, numbers, 'seg', ...)")
          val path = exprs.drop(3).map {
            case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null =>
              s.toString
            case other => throw new IllegalArgumentException(
              s"jsonc_get path segments must be string literals, got $other")
          }
          graft.codecs.JsoncGetExpr(exprs(0), exprs(1), exprs(2), path)
        }))
    // the LSH/dedup primitives, so the candidate-generation tier is
    // reachable from pure SQL too (parameters must be literals — they
    // shape the generated code)
    def litNum(e: Expression, name: String): Long = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"$name parameters must be integer literals, got $other")
    }
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.WordShingles].getName, "word_shingles"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "word_shingles expects (text, k)")
          graft.functions.WordShingles(exprs.head,
            litNum(exprs(1), "word_shingles").toInt)
        }))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("word_ngrams"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.WordNgrams].getName, "word_ngrams"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "word_ngrams expects (text, k)")
          graft.functions.WordNgrams(exprs.head,
            litNum(exprs(1), "word_ngrams").toInt)
        }))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_band_keys"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.MinHashBandKeys].getName, "minhash_band_keys"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 3, "minhash_band_keys expects (shingles, numPerms, bandRows)")
          graft.functions.MinHashBandKeys(exprs.head,
            litNum(exprs(1), "minhash_band_keys").toInt,
            litNum(exprs(2), "minhash_band_keys").toInt)
        }))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_band_keys"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.CosineBandKeys].getName, "cosine_band_keys"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 4, "cosine_band_keys expects (vec, seed, bits, bands)")
          graft.functions.CosineBandKeys(exprs.head,
            litNum(exprs(1), "cosine_band_keys"),
            litNum(exprs(2), "cosine_band_keys").toInt,
            litNum(exprs(3), "cosine_band_keys").toInt)
        }))
    // Runtime-filter primitives: Spark's engine-internal bloom pair
    // (used by its own InjectRuntimeFilter rewrite) surfaced as SQL
    // functions, so a query can state the semi-join reduction
    // declaratively — build the filter in a scalar subquery, probe with
    // might_contain BEFORE the shuffle (Sinks.p07 is the worked form).
    // bloom_agg(v) sizes from the session's runtime-bloom confs (~1M
    // items / 8M bits) — fine for tests, but a 100 TB build side
    // saturates it and might_contain stops pruning (correctness holds,
    // the semi join removes false positives; the WIN is lost). For the
    // at-scale regime pass the sizing explicitly:
    // bloom_agg(v, estimatedNumItems[, numBits]).
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_agg"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
          "bloom_agg"),
        (exprs: Seq[Expression]) => exprs match {
          case Seq(v) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(v)
          case Seq(v, n) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(v, n)
          case Seq(v, n, b) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(v, n, b)
          case _ => throw new IllegalArgumentException(
            "bloom_agg expects (value[, estimatedNumItems[, numBits]])")
        }))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("might_contain"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
          "might_contain"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, "might_contain expects (bloom, value)")
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs.head, exprs(1))
        }))
  }
}
