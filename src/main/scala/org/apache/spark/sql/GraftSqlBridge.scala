package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Expression <-> Column converters so
  * graft's native Catalyst expressions (e.g. graft.functions.DotProduct)
  * can surface as ordinary Columns. This is the conventional extension
  * seam for libraries shipping custom expressions on Spark 4.x.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `RDD.unpersist(blocking = false)` minus its locally-checkpointed WARN. */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Eager local checkpoint that does NOT inherit the source plan's
    * estimated statistics.
    *
    * `Dataset.localCheckpoint()` wraps the materialized RDD in a
    * `LogicalRDD` carrying `Some(optimizedPlan.stats)`. In a
    * driver-sequenced fixpoint loop (BPE merges, k-means, PageRank,
    * star-contraction CC) each round's plan joins/unions the previous
    * round's checkpoint several times, so the inherited `sizeInBytes`
    * BigInt is a PRODUCT over leaves whose bit-length grows
    * geometrically with the round number: by round ~10 Catalyst's
    * size-only stats visitor is multiplying million-bit BigIntegers on
    * the driver (seconds per plan), and by round ~40 it is effectively
    * hung in Toom-Cook multiplication. Production merge/iteration
    * counts (500+, SURVEY §2 H4+') are unreachable with inherited
    * stats.
    *
    * This variant materializes the rows exactly like
    * `localCheckpoint()` (execute → per-row copy → RDD-level local
    * checkpoint, eager) but rebuilds the Dataset via
    * `internalCreateDataFrame`, whose `LogicalRDD` has no origin
    * stats — each round's leaf restarts from the session default size,
    * keeping per-round planning cost CONSTANT in the round number. The
    * trade: the default size disables auto-broadcast of the state (the
    * loops never want that) and drops the child's output partitioning
    * (vocabulary-grain states; the next round re-shuffles regardless).
    */
  def freshLocalCheckpoint(df: Dataset[Row]): DataFrame =
    freshLocalCheckpointCounted(df)._1

  /** [[freshLocalCheckpoint]] that also returns the row count the eager
    * materialization already computed. A fixpoint loop whose
    * convergence check needs the round's cardinality (star-contraction
    * CC) otherwise pays a SECOND count() job per round over the
    * just-checkpointed RDD — pure driver-dispatch latency on
    * edge-set-sized data (r19, §1.2 driver round-trips).
    */
  def freshLocalCheckpointCounted(df: Dataset[Row]): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count()
    (ds.sparkSession.internalCreateDataFrame(rdd, ds.schema), n)
  }
}
