package graft.ops

import org.apache.spark.sql.{Dataset, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** Explicit release of `localCheckpoint()` block storage.
  *
  * The driver-sequenced fixpoint loops (BPE merge learning, k-means
  * refinement, PageRank, star-contraction CC) checkpoint their state
  * every round for lineage truncation. `Dataset.unpersist()` does NOT
  * free those blocks: the checkpointed Dataset is a fresh plan over a
  * `LogicalRDD` whose RDD was persisted at the RDD layer, so the SQL
  * cache manager has no entry for it, and the blocks are reclaimed only
  * when the GC-driven ContextCleaner notices the RDD is unreachable —
  * which under a long-lived benchmark/pipeline session is "much later,
  * under memory pressure", i.e. after they have already evicted some
  * OTHER family's working set (r9 verdict "What's wrong" #1: the BPE
  * loops' checkpoint debris evicted the minhash caches and put a ~9 s
  * rebuild floor under `q_dedup_recall`).
  *
  * [[free]] walks a Dataset's analyzed plan, finds every `LogicalRDD`
  * leaf, and drops its RDD's blocks directly (`SparkContext.unpersistRDD`:
  * `RDD.unpersist` WARNs for each locally checkpointed RDD, i.e. every
  * one freed here) — deterministic reclamation at the moment a loop
  * round (or a whole family) is superseded.
  *
  * SAFETY: a locally-checkpointed RDD has its lineage truncated — once
  * its blocks are dropped the data is unrecoverable, and any later read
  * of a plan over it fails. Call only on states that are provably dead:
  * a loop round after the NEXT round's eager checkpoint materialized,
  * or a family's final state at its `SharedCaches.release` point.
  */
object Checkpoints {

  /** Drop the blocks of the RDD behind every `LogicalRDD` leaf of `ds`'s
    * analyzed plan (non-blocking). No-op for plans with no checkpoint
    * leaf, so it is safe to call uniformly — e.g. on a loop's round-0
    * state that was never checkpointed.
    */
  def free(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd
    }.foreach(GraftSqlBridge.unpersistRDD)
}
