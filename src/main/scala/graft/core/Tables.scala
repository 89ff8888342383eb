package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Central table readers for the driver testdata (TESTDATA.md).
  *
  * `events.parquet` has shipped with two `ts` layouts across driver
  * generations, and readers must accept both:
  *
  *  - INT64 TIMESTAMP(NANOS), which Spark's parquet reader rejects
  *    outright (PARQUET_TYPE_ILLEGAL) — the scan fails even for queries
  *    that prune `ts` away, because schema conversion covers the whole
  *    footer. We read nanos as long
  *    (`spark.sql.legacy.parquet.nanosAsLong`) and rebuild a proper
  *    timestamp at microsecond precision. DuckDB keeps full nanos;
  *    every oracle-checked output only ever exposes second-level
  *    buckets or formatted strings, so the truncation is invisible to
  *    the correctness gate.
  *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
  *    TIMESTAMP_NTZ. All graft sessions pin
  *    `spark.sql.session.timeZone=UTC`, so casting to the instant type
  *    preserves the wall-clock value DuckDB sees — and keeps every
  *    downstream operator (watermarks, `window()`, `date_format`) on
  *    the same TimestampType they were built against.
  *
  * Either way the contract out of this reader is the same: `ts` is
  * TimestampType at microsecond precision.
  */
object Tables {

  /** `dir`'s `name` table, read through [[IO.readParquet]]'s schema memo. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else IO.readParquet(spark, s"$dir/$name.parquet")

  /** `dir`'s `name` table's row count, memoized per path and
    * [[IO.listing]] as [[IO.readParquet]]'s schema is: a repeat count
    * of an unchanged table starts no job, and a rewritten one is
    * counted afresh. Only a flat table is memoized: the listing is one
    * level deep, so a rewrite inside a partition directory need not
    * change it, and a partitioned table is counted on every call. */
  def count(spark: SparkSession, dir: String, name: String): Long =
    counts(IO.listing(spark, s"$dir/$name.parquet").filterNot(_._2.exists(_._1.endsWith("/"))))(
      apply(spark, dir, name).count())

  private val counts = new IO.ListingMemo[IO.Listing, Long](_._1)

  def events(spark: SparkSession, dir: String): DataFrame =
    storedEvents(spark, dir) match { case (raw, ts) => contractTs(raw, ts) }

  /** `dir`'s events table as stored, and the type of its `ts` column,
    * read from the memoized schema. */
  private[graft] def storedEvents(spark: SparkSession, dir: String): (DataFrame, DataType) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = IO.readParquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case ts @ (LongType | TimestampNTZType | TimestampType) => (raw, ts)
      // any third driver-generation layout must fail HERE with the
      // observed type, not flow downstream untransformed and break 20
      // tests obscurely (the round-10 NANOS→MICROS drift lesson)
      case other => throw new IllegalStateException(
        s"events.parquet ts has unsupported type $other — " +
          "known layouts: INT64 nanos (LongType via nanosAsLong), " +
          "TIMESTAMP(MICROS) NTZ, TimestampType. Update Tables.storedEvents " +
          "for the new layout.")
    }
  }

  /** `df` with its `ts` column, of stored type `ts`, rebuilt as the
    * contract's TimestampType. */
  private[graft] def contractTs(df: DataFrame, ts: DataType): DataFrame = ts match {
    case LongType =>
      // nanos layout. `ts div 1000`, NOT `ts / 1000`: Spark's `/` is
      // double division and epoch nanos (~1.7e18) exceed double's
      // 53-bit exact range, so the truncated quotient can land 1us
      // below floor(ts/1000) — `div` stays in integer space.
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    // already the contract type — nothing to transform
    case _ => df
  }
}
