package graft.codecs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-shredded codec: project documents onto a pre-declared typed
  * schema at encode time; flush is then a plain typed-parquet write.
  *
  * Plays the role of the reference's *variant* format
  * (/root/reference/src/format/variant.rs): a hard-coded, Doris-inspired
  * per-dataset schema (:22-48), shredding by path-get + parse (:94-99),
  * panic on a missing/mistyped projected field (:95-97 `.unwrap()`).
  *
  * Spark-first mapping: `from_json(col, schema)` with FAILFAST is the
  * whole shredder — Catalyst then gets real column pruning and predicate
  * pushdown on the shredded columns, which is exactly the capability the
  * reference's design is reaching toward (SURVEY §4). The reference's
  * `load` is `unimplemented!()` (:130-132); ours is a parquet read with
  * the declared schema.
  *
  * @param schema  declared document schema (the reference hard-codes the
  *                events shape; we parameterize per dataset)
  */
final class ShreddedCodec(val name: String, val schema: StructType) extends JsonCodec {
  def storedSchema: StructType = schema

  /** FAILFAST ≈ the reference's panic on shred failure (variant.rs:95-97). */
  def encode(raw: DataFrame): DataFrame =
    raw.select(
      from_json(col("doc"), schema, Map("mode" -> "FAILFAST")).as("shred"))
      .select(col("shred.*"))

  def decode(encoded: DataFrame): DataFrame =
    encoded.select(to_json(struct(schema.fieldNames.toIndexedSeq.map(col): _*)).as("doc"))

  /** On the shredded form a dot path is literally a nested-column access —
    * the lookup is pure column pruning, no JSON machinery at all. */
  def get(encoded: DataFrame, path: Seq[String]): DataFrame =
    encoded.select(col(path.mkString(".")).cast("string").as("result"))
}

object ShreddedCodec {
  /** The reference's one shipped shredding schema — the events payload
    * (variant.rs:22-48): name/timestamp strings + one double attribute;
    * timestamps deliberately stay strings (README.md:47).
    */
  val events: ShreddedCodec = new ShreddedCodec(
    "shredded",
    StructType.fromDDL(
      "name STRING, timestamp STRING, attributes STRUCT<event_attributes: DOUBLE>"))
}
