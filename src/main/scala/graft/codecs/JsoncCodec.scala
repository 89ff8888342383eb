package graft.codecs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Tape codec on Spark: encode/decode/get over the 3-buffer tape struct.
  *
  * Physical schema mirrors the reference's flush layout
  * (/root/reference/src/format/jsonc.rs:64-108 — Struct of three Lists):
  * here `struct<nodes: binary, strings: array<string>, numbers:
  * array<double>>` — BinaryType is the Spark-native compact form of
  * List<UInt8>, and unlike the reference we give the fields real names
  * (Spark requires them; SURVEY §1.2 cosmetics note).
  *
  * All three lifecycle ops are native Catalyst expressions with codegen
  * (JsoncEncodeExpr / JsoncDecodeExpr / JsoncGetExpr) — the SURVEY §7
  * "UDFs first, Expression later" upgrade is complete: no ScalaUDF
  * anywhere in the codec surface, so encode → flush and load → get
  * pipelines stay inside whole-stage codegen end to end.
  */
object JsoncCodec extends JsonCodec {
  val name = "jsonc"
  val storedSchema: StructType = JsoncEncodeExpr.schema

  def encode(raw: DataFrame): DataFrame =
    raw.select(JsoncFunctions.jsonc_encode(col("doc")).as("tape"))
      .select(col("tape.nodes").as("nodes"),
        col("tape.strings").as("strings"),
        col("tape.numbers").as("numbers"))

  def decode(encoded: DataFrame): DataFrame =
    encoded.select(
      JsoncFunctions.jsonc_decode(col("nodes"), col("strings"), col("numbers")).as("doc"))

  /** Quoted-token semantics: a string value comes back WITH its JSON
    * quotes (reference benches/query.rs:99). */
  def get(encoded: DataFrame, path: Seq[String]): DataFrame =
    encoded.select(
      JsoncFunctions.jsonc_get(col("nodes"), col("strings"), col("numbers"), path)
        .as("result"))
}
