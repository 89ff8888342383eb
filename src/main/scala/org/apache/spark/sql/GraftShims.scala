package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's native Catalyst expressions and the public
  * Column API. Spark 4 wraps Column around ColumnNode; the converters
  * live behind `private[sql]`, so this one-file shim (the standard
  * extension-library pattern) exposes them to the graft packages.
  */
object GraftShims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Block until every listener event posted so far has been delivered,
    * so a count a listener keeps is complete when read, with no sleep. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the storage behind a localCheckpoint'ed Dataset.
    *
    * `Dataset.unpersist()` only talks to the CacheManager, so the
    * MEMORY_AND_DISK blocks a localCheckpoint pins (its LogicalRDD)
    * would otherwise live until the ContextCleaner happens to GC them —
    * a leak across a long multi-query session. Iterative operators
    * (Dedup.d07) call this on each superseded round.
    */
  def unpersistLocalCheckpoint(ds: Dataset[_]): Unit = ds match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      // see through projections: callers may hand back a thin select
      // over the checkpointed frame (e.g. connectedComponents' inner
      // loop dropping its change flag) — the storage to release is
      // still the LogicalRDD underneath
      def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project => strip(pr.child)
        case o => o
      }
      strip(c.queryExecution.analyzed) match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
        case _ => ()
      }
    case _ => ()
  }

  /** Re-root a checkpointed Dataset on its materialized RDD with FRESH
    * default statistics.
    *
    * `localCheckpoint()` truncates lineage but PRESERVES the original
    * plan's sizeInBytes estimate on the LogicalRDD. In an iterative
    * operator whose round r+1 joins round r's checkpoint, those
    * estimates COMPOUND — visitJoin multiplies child sizes, so the
    * estimate grows exponentially in round count until Catalyst's
    * BigInt stats product overflows BigInteger during planning
    * (surfaced by connectedComponents at the 100×-sf0.1 corpus,
    * round 17). Rebasing each round's checkpoint on its RDD with
    * default leaf stats keeps every iteration's plan estimate bounded
    * by one round's shape. The checkpoint's outputPartitioning and
    * outputOrdering ride along (round-17 advice): they are physical
    * facts about the materialized RDD, so dropping them would make
    * every consumer re-exchange data that is already hash-partitioned
    * — ONLY the stats reset. */
  def rebaseCheckpoint(df: DataFrame): DataFrame = df match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          org.apache.spark.sql.classic.Dataset.ofRows(c.sparkSession,
            org.apache.spark.sql.execution.LogicalRDD(
              l.output, l.rdd, l.outputPartitioning,
              l.outputOrdering)(c.sparkSession))
        case _ => df
      }
    case _ => df
  }
}
