package graft.codecs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Plain-text codec: store the raw JSON line as a single string column.
  *
  * Reference: /root/reference/src/format/plain_json.rs — encode is an
  * identity copy (:22-26), the parquet schema is a single non-null Utf8
  * column (:33). Byte-exact round trip is part of the contract, which is
  * why the NDJSON source uses `spark.read.text`, never `spark.read.json`.
  *
  * `get` is the reference's serde_json lookup (benches/query.rs:30-37):
  * parse the whole document at query time and walk the path — here
  * Spark's codegen'd `get_json_object`, so the "full parse per row"
  * happens inside whole-stage codegen, not a UDF.
  */
object PlainJsonCodec extends JsonCodec {
  val name = "plain_json"
  val storedSchema: StructType = StructType.fromDDL("doc STRING")

  def encode(raw: DataFrame): DataFrame = raw.select(col("doc"))

  def decode(encoded: DataFrame): DataFrame = encoded.select(col("doc"))

  def get(encoded: DataFrame, path: Seq[String]): DataFrame =
    encoded.select(
      get_json_object(col("doc"), path.mkString("$.", ".", "")).as("result"))
}
