package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The physical layout every stored artifact family writes — ONE
  * module holding the layout decisions the families share (the Dremel
  * lesson in PAPERS.md: one storage layout under many consumers), so a
  * layout change is made and measured in one place. Each rationale is
  * stated here once; family scaladocs point here.
  *
  *   - **One file per bucket** (r19 §6 output file sizing): a build
  *     repartitions its staged rows by the bucket key into exactly nb
  *     partitions before the bucketed write ([[Table.write]] with
  *     `cluster = true`). Spark's bucket id and HashPartitioning use the
  *     same murmur3 pmod, so each write task holds exactly one bucket —
  *     one file per bucket instead of (write tasks × buckets)
  *     fragments. Locally this cuts the commit protocol's file count
  *     ~tasks-fold (q_takedown_audit's dominant cost); at scale it is
  *     the write.distribution-mode=hash trade: one shuffle of the staged
  *     rows buys right-sized files. Correctness never depends on the
  *     file layout (bucket ids are per-row hashes; sortBy is per-file).
  *   - **A mirror partition equals its bucket**: a table that must be
  *     partially rewritable carries a partition column
  *     [[Table.mirrorExpr]] — the bucket key's hash mod nb, the SAME
  *     Murmur3(seed 42) + pmod Spark's bucketing routes the key with, so
  *     partition k holds exactly bucket k's rows (file count unchanged
  *     vs an unpartitioned bucketed table). A bucketed table can only be
  *     rewritten whole, but partitions can be dynamically overwritten
  *     one at a time — and since a key's rows are hash-confined to one
  *     partition, a per-key level recomputed over a partition subset is
  *     EXACT for every key it contains ([[relevelPartitions]]).
  *     Correctness does not depend on the hash equality — the mirror is
  *     its own stored column, written and pruned by literal predicates;
  *     the equality only keeps the one-file-per-partition layout.
  *   - **Deletes skip re-clustering** (§2.4): a delete's staged
  *     survivors come from a narrow anti-join of the bucketed scan —
  *     already one aligned partition per bucket — so clustering again
  *     would ADD a full shuffle for nothing; delete paths write with
  *     `cluster = false`.
  *   - **Crash order**: mutations record their touched keys in the
  *     family's [[Ledger]] BEFORE the stored rows change, so a crash
  *     between the two leaves only harmless extra ledger rows (re-levelling
  *     an exact key is idempotent), never a stale key the ledger missed.
  *     A two-table rewrite ([[deleteBoth]]) stages both survivor
  *     relations, then drops the table written second at build FIRST:
  *     a crash anywhere between breaks the family's both-tables
  *     `exists` gate into a `buildOrLoad` rebuild, never a served
  *     mismatch between the two tables (the IvfIndex split/merge order).
  *   - **Single writer for dynamic overwrite**: see
  *     [[overwritePartitionsDynamic]] — partial re-levels flip a
  *     session-global conf, so they run one after another; builds and
  *     deletes never touch it and may overlap across families.
  *
  * Holds no state: every verb reads the session catalog.
  */
object BucketedStore {

  /** One stored bucketed table: its catalog `name`, the stored column
    * order `cols` (mirror included), the bucket (and sort) `key`, and an
    * optional partition `mirror` column of the key's bucket hash.
    */
  private[graft] final case class Table(name: String, cols: Seq[String],
                                        key: Seq[String],
                                        mirror: Option[String] = None) {

    /** The bucket a row of `key` lands in, for `nb` buckets — the one
      * definition of the partition mirror (and of the partitions a
      * ledger touches).
      */
    def mirrorExpr(nb: Int): Column =
      expr(s"pmod(hash(${key.mkString(", ")}), $nb)").cast("int")

    /** `df` with the mirror column stamped (when the table has one). */
    def withMirror(df: DataFrame, nb: Int): DataFrame =
      mirror.fold(df)(m => df.withColumn(m, mirrorExpr(nb)))

    /** `df` in the stored row shape: mirror stamped, stored column order. */
    def rows(df: DataFrame, nb: Int): DataFrame =
      withMirror(df, nb).select(cols.map(col): _*)

    /** Overwrite the table with `staged` (which carries every stored
      * column, the mirror included), bucketed and sorted by the key into
      * `nb` buckets and partitioned by the mirror. `cluster`
      * repartitions by the key first (one file per bucket); deletes pass
      * false.
      */
    def write(staged: DataFrame, nb: Int, cluster: Boolean = true): Unit = {
      val r = staged.select(cols.map(col): _*)
      val w = (if (cluster) r.repartition(nb, key.map(col): _*) else r)
        .write.mode(SaveMode.Overwrite)
      mirror.fold(w)(w.partitionBy(_))
        .bucketBy(nb, key.head, key.tail: _*).sortBy(key.head, key.tail: _*)
        .saveAsTable(name)
    }

    /** Append `df`'s rows (insertInto keeps the bucket spec, so reads
      * stay exchange-free), mirror stamped for `nb` buckets.
      */
    def insert(df: DataFrame, nb: Int): Unit =
      rows(df, nb).write.insertInto(name)

    /** The single-table takedown rewrite (the unledgered family `delete`
      * verbs): remove every row whose `idCol` is in `ids`. A read-only
      * count first; nothing to remove returns 0 untouched. Then
      * `beforeWrites` (a concurrent caller's write gate,
      * `GovernanceQueries.parPhase`, which may abort the verb there),
      * the survivors staged (localCheckpoint — the write plan must not
      * scan its own target) and written back without re-clustering.
      * Returns rows removed.
      */
    def deleteIds(spark: SparkSession, ids: DataFrame, idCol: String,
                  beforeWrites: () => Unit): Long = {
      val gone = BandIndex.takedownIds(spark, ids, idCol)
      val stored = spark.table(name)
      val removed = stored.join(gone, Seq(idCol), "left_semi").count()
      if (removed == 0L) return 0L
      beforeWrites()
      val nb = BandIndex.bucketsOf(spark, name)
      write(stored.join(gone, Seq(idCol), "left_anti").localCheckpoint(), nb,
        cluster = false)
      spark.catalog.refreshTable(name)
      removed
    }
  }

  /** A family's touched-key ledger: the keys (`keySchema`, DDL) whose
    * stored level went stale since the last exact re-level. Tiny:
    * batch-vocabulary grain. See the crash-order rule above.
    */
  private[graft] final case class Ledger(name: String, keySchema: String) {
    private def empty(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType.fromDDL(keySchema))

    /** Create the ledger empty if the catalog lacks it. */
    def ensure(spark: SparkSession): Unit =
      if (!spark.catalog.tableExists(name)) {
        dropStaleLocations(spark, Seq(name))
        empty(spark).write.mode(SaveMode.Overwrite).saveAsTable(name)
      }

    /** Append the distinct keys of `keys`, cast to the ledger schema. */
    def record(spark: SparkSession, keys: DataFrame): Unit = {
      ensure(spark)
      keys.select(StructType.fromDDL(keySchema).fields.toSeq.map(f =>
          col(f.name).cast(f.dataType)): _*)
        .distinct().write.insertInto(name)
    }

    /** Reset to empty: everything is exact again. */
    def clear(spark: SparkSession): Unit = {
      empty(spark).write.mode(SaveMode.Overwrite).saveAsTable(name)
      spark.catalog.refreshTable(name)
    }
  }

  /** The default (in-memory) catalog forgets tables across JVMs while
    * their files persist in the warehouse dir; CTAS then refuses the
    * occupied location. Drop stale locations so every fresh session
    * rebuilds from current inputs. Shared by every stored-artifact
    * builder.
    */
  private[ops] def dropStaleLocations(spark: SparkSession,
                                      tables: Seq[String]): Unit =
    for (t <- tables) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(TableIdentifier(t)))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Whether `table` is partitioned by `colName` — the artifact-VINTAGE
    * half of every family's exists() check (r17 ADVICE): the
    * append/delete/partial-re-level verbs require the partition-mirror
    * columns, so a pre-mirror vintage store must read as "not exists"
    * and route through buildOrLoad's documented self-heal rebuild,
    * rather than pass the maintenance gate and fail mid-verb with a
    * missing-column AnalysisException.
    */
  private[ops] def partitionedBy(spark: SparkSession, table: String,
                                 colName: String): Boolean =
    spark.catalog.tableExists(table) &&
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
        .partitionColumnNames.contains(colName)

  /** Dynamic-partition overwrite of `staged` into `table` — the ONE
    * place the session-global `spark.sql.sources.partitionOverwriteMode`
    * is flipped (r17 ADVICE adjudicated): the advised per-writer
    * `option("partitionOverwriteMode", "dynamic")` is NOT honored by
    * the `insertInto` catalog-table path in Spark 4.1 — tested in r18:
    * the write ran STATIC and erased every untouched partition
    * (BandIndexSpec's byte-identical differential caught it). So the
    * conf flip stays, but centralized here: the set/restore window is
    * the one write, every partial re-level shares this body, and the
    * documented constraint is single-writer-per-session during
    * maintenance: re-levels run one after another
    * (`Pipeline.relevelArtifacts`). Delete and build verbs never call
    * this, so they may overlap across families (`Pipeline.deleteDocs`,
    * q_takedown_audit); `GovernanceQueries.parPhase` asserts the conf
    * is untouched at its barrier. Refreshes the catalog entry after
    * (cached file listings must not serve the pre-overwrite files).
    */
  private[ops] def overwritePartitionsDynamic(spark: SparkSession,
                                              staged: DataFrame,
                                              table: String): Unit = {
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "dynamic")
    try staged.write.mode(SaveMode.Overwrite).insertInto(table)
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    spark.catalog.refreshTable(table)
  }

  /** The ledgered bounded re-level skeleton (r17 verdict #3), ONE
    * definition so no stored family can fork the pattern:
    *
    *   1. `parts` — the ledger projected to the partitions its keys
    *      hash-confine to ([[touchedPartitions]], bounded by the table's
    *      partition count);
    *   2. ONE partition-pruned scan of exactly those partitions is
    *      re-staged by the family's `stage` (recompute the per-key
    *      level column via BandIndex.withKeyCount + re-stamp the
    *      mirror + stored column order), staged via localCheckpoint —
    *      the write plan must not scan its own target;
    *   3. dynamic-partition overwrite of exactly those partitions
    *      ([[overwritePartitionsDynamic]]), untouched partitions
    *      byte-identical on disk;
    *   4. the family's `clear` resets its ledger.
    *
    * Exactness: a key's rows are hash-confined to its partition, so a
    * level recomputed within the touched partitions is exact for every
    * key they contain — including untouched co-partitioned keys, which
    * re-level to the value they already carry. Returns partitions
    * rewritten. A re-level that is NOT this shape (ContainIndex's oc
    * leg — an audit against exact ground truth, because stored oc mixes
    * vintages) composes [[overwritePartitionsDynamic]] directly.
    */
  private[ops] def relevelPartitions(spark: SparkSession, table: Table,
                                     parts: Seq[Int],
                                     stage: DataFrame => DataFrame,
                                     clear: () => Unit): Long = {
    if (parts.isEmpty) return 0L
    val staged = stage(spark.table(table.name)
        .filter(col(table.mirror.get).isin(parts: _*)))
      .localCheckpoint()
    overwritePartitionsDynamic(spark, staged, table.name)
    clear()
    parts.size.toLong
  }

  /** The partitions `ledger` touches in `table` at `nb` buckets: the
    * distinct [[Table.mirrorExpr]] of its keys, sorted — collected
    * (bounded by nb). Ledger-grain work, no stored-table scan. Empty
    * when the ledger does not exist.
    */
  private[ops] def touchedPartitions(spark: SparkSession, ledger: Ledger,
                                     table: Table, nb: Int): Seq[Int] =
    if (!spark.catalog.tableExists(ledger.name)) Nil
    else spark.table(ledger.name).select(table.mirrorExpr(nb))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq

  /** Partial-vs-full re-level policy threshold, set from MEASUREMENT
    * (r18, `RELEVEL_r18.json` — sf0.1, 32 partitions, medians of 3
    * reps on fresh identical pre-states; SCALE.md §"Pricing the
    * re-level knob" holds the table and the why): the partial path
    * beat the full re-level at EVERY measured touched-fraction,
    * including true complete cover — 0.51×, 0.50×, 0.58×, 0.63× of
    * full at f ∈ {1/32, 4/32, 16/32, 32/32} — because the
    * dynamic-overwrite writer's cost is proportional to touched
    * partitions while the full path always pays the whole bucketed
    * rewrite. So the measured crossover does not exist below f = 1,
    * and the threshold sits AT complete cover: [[relevelBy]] takes
    * partial for any proper subset and full only when the ledger
    * covers every partition — where the two are row-work-equivalent
    * and full avoids the two costs that DO grow with cover at the
    * 2^18-partition production layout (a touched-partition `isin`
    * literal list the planner must carry, and one commit per
    * partition vs one atomic table rewrite). That extrapolation is
    * flagged as such: at sf0.1 those terms are sub-noise (0.72 s vs
    * 1.15 s even at full cover).
    */
  val RelevelPartialMaxFraction = 1.0

  /** The re-level POLICY every family shares: `partial` over the
    * touched partitions below [[RelevelPartialMaxFraction]], `full` at
    * complete cover (reporting the table's bucket count as the
    * partitions it rewrote). The ledger is read ONCE: the
    * touched-partition list gives the fraction by its size and is what
    * the partial path rewrites. A missing ledger touches nothing (0.0);
    * an unbucketed table counts as fully touched (1.0). Callers
    * re-level one family after another, never concurrently (single
    * writer, above). Returns (path, touched fraction, partitions
    * rewritten) for the caller's report row — the decision must be
    * visible, not silent.
    */
  private[ops] def relevelBy(spark: SparkSession, ledger: Ledger,
                             table: Table)(partial: Seq[Int] => Long)(
      full: => Unit): (String, Double, Long) = {
    val nb = BandIndex.bucketsOf(spark, table.name)
    val (f, parts) =
      if (!spark.catalog.tableExists(ledger.name)) (0.0, Nil)
      else if (nb == 0) (1.0, Nil)
      else {
        val ps = touchedPartitions(spark, ledger, table, nb)
        (ps.size.toDouble / nb, ps)
      }
    if (f < RelevelPartialMaxFraction) ("partial", f, partial(parts))
    else { full; ("full", f, nb.toLong) }
  }

  /** The ledgered two-table takedown skeleton (the family `delete`
    * verbs): remove every row of `docIds` (a doc_id relation) from
    * `first` and `second`. Read-only counts first; nothing to remove
    * returns (0, 0) untouched. Then `beforeWrites` (a concurrent
    * caller's write gate, `GovernanceQueries.parPhase`, which may abort
    * the verb there), the `ledger` record of the removed rows' keys in
    * `levelled` (the table whose stored level goes stale), both
    * survivor relations staged (localCheckpoint), `second` dropped, and
    * both rewritten without re-clustering — the crash order above.
    * Returns (first rows removed, second rows removed).
    */
  private[ops] def deleteBoth(spark: SparkSession, docIds: DataFrame,
                              tag: String, first: Table, second: Table,
                              ledger: Ledger, levelled: Table,
                              beforeWrites: () => Unit): (Long, Long) = {
    require(spark.catalog.tableExists(first.name) &&
      spark.catalog.tableExists(second.name),
      s"delete target $tag does not exist — buildOrLoad first")
    val ids = BandIndex.takedownIds(spark, docIds, "doc_id")
    val both = Seq(first, second)
    val removed = both.map(t =>
      spark.table(t.name).join(ids, Seq("doc_id"), "left_semi").count())
    if (removed.forall(_ == 0L)) return (0L, 0L)
    beforeWrites()
    ledger.record(spark,
      spark.table(levelled.name).join(ids, Seq("doc_id"), "left_semi"))
    val staged = both.map(t => (t, BandIndex.bucketsOf(spark, t.name),
      spark.table(t.name).join(ids, Seq("doc_id"), "left_anti")
        .select(t.cols.map(col): _*).localCheckpoint()))
    spark.sql(s"DROP TABLE IF EXISTS ${second.name}")
    staged.foreach { case (t, nb, s) => t.write(s, nb, cluster = false) }
    both.foreach(t => spark.catalog.refreshTable(t.name))
    (removed(0), removed(1))
  }
}
