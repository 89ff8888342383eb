package graft.codecs

import graft.core.IO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Spark-native re-expression of the reference's codec surface.
  *
  * The reference (`/root/reference/src/codec.rs:21-33`) defines one trait
  * with five lifecycle ops over an in-memory vector of JSON documents:
  * encode / decode / flush / load / name. Here the "vector of documents"
  * is a DataFrame with one document per row, so every op is a distributed
  * dataflow instead of a driver-side loop:
  *
  *  - `encode`  : DataFrame["doc": string] → DataFrame[<codec repr>]
  *  - `decode`  : DataFrame[<codec repr>]  → DataFrame["doc": string]
  *  - `flush`   : encoded frame → ZSTD parquet (reference flush writes one
  *                Arrow RecordBatch; Spark writes one file per partition —
  *                same physical layout per partition, but scales out)
  *  - `load`    : parquet → encoded frame, read with the codec's declared
  *                `storedSchema` (no schema-inference job)
  *  - `get`     : dot-path point lookup against the *encoded* form, the
  *                reference's "query" benchmark (benches/query.rs) —
  *                result column is named "result" (string)
  *
  * Nothing here ever collects to the driver; all four codecs are pure
  * column expressions (built-in or UDF), so each survives a 1000-executor
  * scale-out unchanged.
  */
trait JsonCodec {
  def name: String

  /** raw["doc"] → encoded repr (codec-specific schema). */
  def encode(raw: DataFrame): DataFrame

  /** encoded → ["doc": string] JSON text. Round-trip contract is semantic
    * JSON equality, not byte equality, except plain (SURVEY §7 risks). */
  def decode(encoded: DataFrame): DataFrame

  /** Dot-path lookup on the encoded form → ["result": string]. `path` is
    * the list of object keys, e.g. Seq("search_metadata", "max_id_str").
    */
  def get(encoded: DataFrame, path: Seq[String]): DataFrame

  /** The parquet schema [[flush]] writes: the columns of [[encode]]'s
    * output. CodecSpec pins it against Spark's own inference. */
  def storedSchema: StructType

  def flush(encoded: DataFrame, path: String): Unit =
    IO.writeParquetZstd(encoded, path)

  /** Reads ALL row groups (the reference's first-batch-only load, SURVEY
    * §1.2, is a bug not replicated) with [[storedSchema]], so no
    * schema-inference job runs. It trusts `path` to hold this codec's
    * own flush: another codec's dir reads its missing columns as NULL. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(storedSchema).parquet(path)
}

/** Registry ≈ `Format::get_format` (/root/reference/src/format/formats.rs:16-24).
  * Unknown names throw, mirroring the reference's panic.
  */
object Codecs {
  val plain: JsonCodec = PlainJsonCodec
  val variant: JsonCodec = VariantCodec
  val jsonc: JsonCodec = JsoncCodec
  val shredded: ShreddedCodec = ShreddedCodec.events

  /** All codecs, keyed by name. `plain_json`/`jsonb`/`jsonc`/`variant`
    * mirror the reference's registered names (formats.rs:18-21): our
    * "variant" codec (Spark VariantType) plays the reference's *jsonb*
    * role (binary self-describing), and "shredded" plays the reference's
    * *variant* role (typed columns projected at encode time).
    */
  def all: Map[String, JsonCodec] = Map(
    plain.name -> plain,
    variant.name -> variant,
    jsonc.name -> jsonc,
    shredded.name -> shredded
  )

  def apply(name: String): JsonCodec =
    all.getOrElse(name, throw new IllegalArgumentException(s"Invalid format: $name"))
}
