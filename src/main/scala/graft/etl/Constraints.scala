package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Constraint & index phase (SURVEY.md §2 E).
  *
  * The reference re-creates B-tree indexes and FK constraints on the target
  * AFTER bulk load (ETLAlchemySource.py::add_indexes ~L1150-1350, ::add_fks
  * ~L1350-1500). Spark has neither concept, so:
  *
  *   - E1 index migration becomes LAYOUT ADVICE: which columns deserve
  *     bucketing / sort-within-partitions in the written parquet, recorded
  *     as metadata (and applicable via [[applyLayout]]).
  *   - E2 FK migration's semantic payload is the referential-integrity
  *     check itself: child rows whose key finds no distinct parent key,
  *     counted per edge ([[fkOrphansFused]], one scan per child table).
  *     At 100 TB this is a shuffle-or-broadcast join Catalyst plans like
  *     any other; for dimension parents (nation, region) it broadcasts.
  */
object Constraints {

  /** Orphan rows in child whose key has no match in parent (0 = FK holds).
    * NULL child keys are NOT orphans — SQL FK constraints accept NULL
    * (match is simply not enforced for them), so counting them would
    * flag every legitimately-nullable FK column as violated. The
    * one-edge call of [[fkOrphansFused]], so every caller shares one
    * orphan definition.
    */
  def fkOrphanCount(
      child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String): Long =
    fkOrphans("edge", child, childCol, parent, parentCol).head().getLong(1)

  /** One-row (fk_edge, orphan_count) DataFrame for one edge —
    * [[fkOrphansFused]] with a single edge, composable into a union of
    * edge checks without driver round-trips.
    */
  def fkOrphans(
      label: String,
      child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String): DataFrame =
    fkOrphansFused(child,
      Seq(FkEdge(label, childCol, parent, parentCol, broadcastParent = false)))

  /** One FK edge of a fact table, for [[fkOrphansFused]]. `broadcastParent`
    * marks genuine dimension parents (bounded size at any scale factor);
    * fact-to-fact edges leave it false and shuffle.
    */
  final case class FkEdge(
      label: String,
      childCol: String,
      parent: DataFrame,
      parentCol: String,
      broadcastParent: Boolean)

  /** All FK edges of one child table validated in ONE scan: left-join each
    * parent's distinct key set (broadcast for dimensions — zero shuffle of
    * the child; shuffle only for fact-sized parents), then a single
    * aggregate counts the unmatched rows per edge. At 100 TB this replaces
    * k child-table scans + k anti-join shuffles with one scan, one fused
    * aggregation, and at most the one unavoidable fact-fact shuffle.
    */
  def fkOrphansFused(child: DataFrame, edges: Seq[FkEdge]): DataFrame = {
    val joined = edges.zipWithIndex.foldLeft(
      child.select(edges.map(_.childCol).distinct.map(col): _*)) {
      case (df, (e, i)) =>
        val keys = e.parent.select(col(e.parentCol).as(s"__pk_$i")).distinct()
        val p = if (e.broadcastParent) broadcast(keys) else keys
        df.join(p, df(e.childCol) === col(s"__pk_$i"), "left")
    }
    val counts = edges.zipWithIndex.map { case (e, i) =>
      // NULL child keys are not orphans (SQL FK semantics): only a
      // NON-NULL key with no parent match counts.
      count(when(col(s"__pk_$i").isNull && col(e.childCol).isNotNull, 1))
        .as(s"__orphans_$i")
    }
    val rows = edges.zipWithIndex.map { case (e, i) =>
      struct(lit(e.label).as("fk_edge"), col(s"__orphans_$i").as("orphan_count"))
    }
    joined.agg(counts.head, counts.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.fk_edge"), col("r.orphan_count"))
  }

  /** E1 as layout: an "index" on k columns maps to repartition-by-key +
    * sort-within-partitions, which gives parquet min/max row-group pruning
    * on those columns — the closest scalable analogue of a secondary index.
    */
  final case class IndexAdvice(table: String, columns: Seq[String])

  def applyLayout(df: DataFrame, advice: IndexAdvice, numPartitions: Int): DataFrame =
    df.repartition(numPartitions, advice.columns.map(col): _*)
      .sortWithinPartitions(advice.columns.map(col): _*)

  /** Dialect index-name mangling parity (reference dedupes and truncates
    * index names to the dialect max — MySQL 64, Oracle 30).
    */
  def mangleIndexNames(names: Seq[String], maxLen: Int): Seq[String] = {
    val seen = scala.collection.mutable.Set[String]()
    names.map { n =>
      var base = n.take(maxLen)
      var i = 0
      while (seen.contains(base)) {
        i += 1
        val suffix = s"_$i"
        base = n.take(maxLen - suffix.length) + suffix
      }
      seen += base
      base
    }
  }
}
