package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Stored IVF vector index — the third stored-artifact family (after
  * [[BandIndex]] and [[SpanSet]]): the cell assignment and refined
  * centroids the ANN queries score against, materialized as tables
  * instead of rebuilt per run.
  *
  * Two tables per (corpus snapshot, cell count):
  *
  *   - `<tag>_ivfcells`     (vec_id, v, nrm, cell) bucketed by cell
  *   - `<tag>_ivfcentroids` (cell, cv, cn)         tiny, plain
  *
  * Bucketing on `cell` makes the inverted-list side scan-only for a
  * shuffled probe join, and keeps each cell's vectors co-located for
  * within-cell passes (the semantic-dedup self-join); the centroid
  * table is ~√n rows and broadcasts at any corpus scale. The build
  * writes [[SimilarityQueries.ivfCentroids]] and assigns cells against
  * the stored table, so it equals [[SimilarityQueries.buildIvf]] row
  * for row and the DuckDB oracle stays bit-comparable. Every
  * assignment, seed and mean below is a [[Quantizer]] rule.
  *
  * Maintenance mirrors the other artifacts: [[append]] assigns a new
  * batch against the EXISTING centroids and inserts its cell rows
  * (centroids go stale as data drifts — the documented lower-bound
  * analogue), [[refreshCentroids]] recomputes exact Lloyd means from
  * the stored cells. Builds run once per (session, snapshot, cells)
  * keyed by catalog presence.
  */
object IvfIndex {

  /** Tag embeds the cell count: a derived-cells change must build a new
    * artifact, not silently read one quantized differently.
    */
  def tag(dir: String, nCells: Int): String =
    BandIndex.tag(dir, s"ivf$nCells")

  private def cellsT(tag: String) = cellTable(tag).name
  private def cellTable(tag: String) = BucketedStore.Table(s"${tag}_ivfcells",
    Seq("vec_id", "v", "nrm", "cell"), Seq("cell"))
  private def centT(tag: String) = s"${tag}_ivfcentroids"

  /** Every table this family stores for `tag` (r16 ADVICE #2: reset
    * paths reuse this so they cannot drift from the layout).
    */
  def tables(tag: String): Seq[String] = Seq(cellsT(tag), centT(tag))

  /** Whether the stored index for `tag` is fully cataloged — the
    * buildOrLoad gate, exposed so callers (the pipeline's artifact
    * phase) can distinguish "pre-existing index" from "freshly built
    * this call" BEFORE buildOrLoad erases the difference. r14 advice:
    * maintenance like [[splitHotCells]] must not run on a fresh build
    * under a tag that declared oracle-checked queries read.
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(cellsT(tag)) &&
      spark.catalog.tableExists(centT(tag))

  /** The tags of every IVF index cataloged for corpus `dir`, of any
    * cell count, read from the catalog's table names (the [[tag]]
    * embeds the count) — so a caller need not scan the embeddings to
    * derive it. Sorted; check [[exists]] before use.
    */
  def catalogedTags(spark: SparkSession, dir: String): Seq[String] = {
    val prefix = BandIndex.tag(dir, "ivf")
    spark.sessionState.catalog
      .listTables(spark.catalog.currentDatabase, s"$prefix*_ivfcells")
      .map(_.table.stripSuffix("_ivfcells"))
      .filter(_.stripPrefix(prefix).matches("[0-9]+"))
      .distinct.sorted.toSeq
  }

  /** Derived bucket count this tag was built with (report-row metric). */
  def buckets(spark: SparkSession, tag: String): Int =
    BandIndex.bucketsOf(spark, cellsT(tag))

  /** Materialize (or reuse, if already cataloged this session) the IVF
    * index for the corpus at `dir`. Returns (cells, centroids) as reads
    * of the stored tables.
    */
  def buildOrLoad(spark: SparkSession, dir: String, nCells: Int,
                  targetRowsPerBucket: Long = BandIndex.TargetRowsPerBucket
                 ): (DataFrame, DataFrame) =
    // Cell-row cardinality == corpus cardinality (one row per vector),
    // so the bucket derivation reads the parquet count — metadata-only,
    // no extra corpus pass.
    buildOrLoadVectors(spark,
      SimilarityQueries.normalizedCorpus(spark, dir), tag(dir, nCells),
      nCells, targetRowsPerBucket,
      nRows = () => graft.Tables.t(spark, dir, "embeddings").count())

  /** [[buildOrLoad]] for an ARBITRARY normalized vector relation
    * (vec_id, v, nrm) under an explicit family tag — the LexIndex
    * `plex` precedent applied to the vector stack (r17 verdict next
    * #3): the chunk-grain index q_passage_fusion probes is THIS family
    * at a chunk tag, so append/delete/refreshCentroids/split/merge
    * apply to it unchanged (they read stored tables by tag). `vectors`
    * is by-name: the build scan only runs when the catalog gate says
    * build. `nRows` overrides the cardinality read for callers whose
    * count is metadata-cheap (the embeddings parquet); the default
    * counts the relation itself (one extra derivation pass, build-time
    * only).
    */
  def buildOrLoadVectors(spark: SparkSession, vectors: => DataFrame,
                         t: String, nCells: Int,
                         targetRowsPerBucket: Long =
                           BandIndex.TargetRowsPerBucket,
                         nRows: () => Long = null
                        ): (DataFrame, DataFrame) = {
    val (cT, mT) = (cellsT(t), centT(t))
    // Gate on BOTH tables: mT is written first and cT is assigned
    // against it, so a crash before cT lands leaves centroids without
    // cells, which the gate turns into a rebuild rather than a
    // missing-table error on every later call (the ContainIndex
    // self-heal fix).
    if (!(spark.catalog.tableExists(cT) && spark.catalog.tableExists(mT))) {
      BucketedStore.dropStaleLocations(spark, Seq(cT, mT))
      val vecs = vectors
      val buckets = BandIndex.derivedBuckets(
        if (nRows != null) nRows() else vecs.count(), targetRowsPerBucket)
      // one seed → Lloyd pass: the cell write reads the stored centroids
      SimilarityQueries.ivfCentroids(vecs, nCells)
        .write.mode(SaveMode.Overwrite).saveAsTable(mT)
      cellTable(t).write(
        SimilarityQueries.assignCells(vecs, spark.table(mT)), buckets)
    }
    (spark.table(cT), spark.table(mT))
  }

  /** (total vectors, occupied cells, largest cell) on the stored index
    * — scan-only balance audit for the pipeline report row.
    */
  def cellStats(spark: SparkSession, tag: String): (Long, Long, Long) = {
    val r = spark.table(cellsT(tag))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("nv"),
        count(lit(1)).as("nc"),
        coalesce(max(col("n")), lit(0L)).as("mx"))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Daily-ingest maintenance: assign `newVectors` (vec_id, v, nrm)
    * against the EXISTING stored centroids and append their cell rows
    * (insertInto preserves the bucket spec). Centroids are not moved —
    * they drift stale as appended data shifts the distribution, the
    * same documented staleness bound as the other artifacts' appends —
    * until [[refreshCentroids]].
    */
  def append(spark: SparkSession, newVectors: DataFrame, tag: String): Unit = {
    val (cT, mT) = (cellsT(tag), centT(tag))
    require(spark.catalog.tableExists(cT) && spark.catalog.tableExists(mT),
      s"append target $tag does not exist — buildOrLoad first")
    SimilarityQueries.assignCells(
      newVectors.select(col("vec_id"), col("v"), col("nrm")), spark.table(mT))
      .write.insertInto(cT)
  }

  /** Cell-SPLIT maintenance (r13 verdict #3): under sustained
    * [[append]] a hot cell grows without bound — centroids never move
    * and no cell ever divides, so the probe-fraction assumption
    * (searched work ≈ p/cells of the index) and SemDeDup's Σ|cell|²
    * bound both degrade exactly where the data concentrates. The
    * cell-balance audit ([[cellStats]]) SEES it; this remedies it:
    * every cell larger than `factor` × the mean cell size splits into
    * two children via one LOCAL Lloyd step —
    *
    *   - child seeds = the cell's first two vectors by the
    *     [[Quantizer.seeds]] rule applied within the cell, so the split
    *     is deterministic and engine-independent;
    *   - each of the cell's vectors reassigns to its nearest child seed
    *     ([[Quantizer.nearest]] within the cell); child cell ids are
    *     max(existing cell id) + the seed's rank in (parent asc,
    *     seed-rank asc) order — NOT the seed vec_ids: a build seed can
    *     end up refined into a DIFFERENT cell, so a member's vec_id may
    *     equal a COLD cell's id and reusing it would merge two
    *     unrelated cells;
    *   - child centroids = [[Quantizer.means]] of the reassigned
    *     members; the parent centroid row is removed.
    *
    * Cold cells' rows and centroids are untouched (IvfIndexSpec pins
    * both, plus reassignment == an independent recomputation and the
    * audit's max cell returning under the bound). A split index
    * INTENTIONALLY diverges from the fresh-build assignment — the same
    * class of documented drift as [[append]]'s stale centroids. The
    * pipeline therefore runs this ONLY on indexes that PRE-EXISTED the
    * migration call (r14 advice: a fresh Lloyd build on clustered data
    * can legitimately trip the bound, and splitting at build time would
    * diverge the exact tag the declared oracle-checked queries load;
    * gate via [[exists]] before buildOrLoad). A maintained index trades
    * fresh-build bit-equality for the balance bound (the tag still
    * names the BUILD-time cell count; post-split occupancy is the
    * cellStats read). Cost: one sizes agg
    * + work proportional to the HOT cells only — the split never
    * touches the balanced part of a 10^10-vector index. Both table
    * rewrites stage through localCheckpoint — the write plan must not
    * scan its own target (the r13-advice rule).
    *
    * Returns (cells split, max cell before, max cell after).
    */
  def splitHotCells(spark: SparkSession, tag: String,
                    factor: Double = 2.0): (Int, Long, Long) = {
    val (cT, mT) = (cellsT(tag), centT(tag))
    require(spark.catalog.tableExists(cT) && spark.catalog.tableExists(mT),
      s"split target $tag does not exist — buildOrLoad first")
    val cells = spark.table(cT)
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val st = sizes.agg(coalesce(sum(col("n")), lit(0L)),
        count(lit(1)), coalesce(max(col("n")), lit(0L))).collect()(0)
      val (nv, nc, maxBefore) = (st.getLong(0), st.getLong(1), st.getLong(2))
      if (nv == 0L) return (0, 0L, 0L)
      val bound = math.max(1L, math.ceil(factor * nv.toDouble / nc).toLong)
      // hot ids come to the driver ONCE (bounded by the cell count —
      // already the driver-side grain of this method's return) and go
      // back out as a BROADCAST relation, never as isin(...) literals:
      // with many hot cells the literal list bloats every plan that
      // embeds it three times, where a broadcast hash join's build side
      // is one exchange (r14 advice). Child ids are computed on the
      // collected list — maxId + 2·rank(parent) + seedRank over hot
      // ids sorted ascending, EXACTLY the row numbering the previous
      // global Window.orderBy(cell, sr) produced, without the
      // single-partition sort that window forced on the cluster.
      val hot = sizes.filter(col("n") > bound)
        .select(col("cell").cast("long")).collect().map(_.getLong(0))
        .sorted.toSeq
      if (hot.isEmpty) return (0, maxBefore, maxBefore)
      val maxId = cells.agg(coalesce(max(col("cell")), lit(0L)))
        .collect()(0).getLong(0)
      import spark.implicits._
      val childMap = broadcast(hot.zipWithIndex.flatMap { case (c, i) =>
        Seq((c, 1, maxId + 2L * i + 1L), (c, 2, maxId + 2L * i + 2L))
      }.toDF("cell", "sr", "child"))
      val hotSet = broadcast(hot.toDF("cell"))
      val hotRows = cells.join(hotSet, Seq("cell"), "left_semi")
      // two deterministic child seeds per hot cell, as centroids of
      // their parent
      val seeds = Quantizer.seeds(hotRows, 2, Seq("cell"))
        .join(childMap, Seq("cell", "sr"))
        .select(col("cell").as("parent"), col("child").as("cell"),
          col("v").as("cv"), col("nrm").as("cn"))
      val reassigned = Quantizer.nearest(
          hotRows.withColumnRenamed("cell", "parent"), seeds, 1,
          within = Seq("parent"))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val buckets = BandIndex.bucketsOf(spark, cT)
      val stagedCells = cells.join(hotSet, Seq("cell"), "left_anti")
        .unionByName(reassigned)
        .localCheckpoint()
      // child centroids: the means of the reassigned members only; cold
      // centroids ride through unchanged
      val stagedCents = spark.table(mT)
        .join(hotSet, Seq("cell"), "left_anti")
        .unionByName(Quantizer.means(reassigned, Seq("cell")))
        .localCheckpoint()
      // Crash-safe write order (r14 review): both staged relations are
      // materialized, so BREAK the buildOrLoad gate first — drop the
      // centroid table — then rewrite cells, then restore centroids.
      // A crash anywhere between leaves mT missing, which the
      // both-tables gate turns into a rebuild; the naive
      // overwrite-then-overwrite order could crash with BOTH tables
      // present but inconsistent (child rows without centroids), a
      // corruption no existence gate can see.
      spark.sql(s"DROP TABLE IF EXISTS $mT")
      cellTable(tag).write(stagedCells, buckets)
      stagedCents.write.mode(SaveMode.Overwrite).saveAsTable(mT)
      spark.catalog.refreshTable(cT)
      spark.catalog.refreshTable(mT)
      val maxAfter = spark.table(cT)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L))).collect()(0).getLong(0)
      (hot.size, maxBefore, maxAfter)
    } finally sizes.unpersist()
  }

  /** Cold-cell MERGE maintenance — [[splitHotCells]]' dual (r14
    * verdict #7): sustained append + split leaves STARVED cells where
    * the data is NOT — every probe of a 2-vector cell pays a broadcast
    * centroid row, a probe-join task, and returns almost nothing, so
    * the probe budget (a fixed cells/8 count) buys a shrinking
    * searched fraction as dead cells accumulate. Every cell smaller
    * than mean/`factor` retires — including EMPTY cells (a centroid
    * with zero member rows: every member deleted, or a split child
    * that won nothing), which the occupancy bound alone cannot see
    * because the sizes relation only carries occupied cells (r15
    * advice): their centroids anti-join away with no members to move.
    * An occupied cold cell's members reassign to their nearest
    * SURVIVING (non-retired) centroid by the [[append]] assignment
    * (IvfIndexSpec pins merge == an independent recomputation), and
    * its centroid row is
    * removed. Surviving centroids do NOT move — the append staleness
    * contract; [[refreshCentroids]] is the exactness follow-up — and
    * surviving cells' member rows are byte-untouched except for the
    * absorbed arrivals. The largest cell is ≥ mean > mean/factor for
    * factor > 1, so a survivor always exists (no all-cold corner).
    *
    * Cost: one sizes agg + work proportional to the COLD cells' ROWS
    * only (each below mean/factor by definition) × the broadcast
    * surviving-centroid relation (~√n rows — the append join shape);
    * the balanced part of a 10^10-vector index is never touched. Cold
    * ids come to the driver once (bounded by the cell count) and ship
    * back as a broadcast relation, never isin literals (the r14-advice
    * rule). Same crash-safe write order as the split: both staged
    * relations materialize, the centroid table drops FIRST (a crash
    * anywhere between leaves the both-tables gate broken → rebuild,
    * never a cells/centroids mismatch), then cells rewrite, then
    * centroids restore. A merged index INTENTIONALLY diverges from the
    * fresh-build assignment — the same documented-drift class as
    * append and split; the pipeline runs it only on indexes that
    * pre-existed the migration call (the [[exists]] gate).
    *
    * Returns (cells merged, min occupied cell before, min after) —
    * with [[splitHotCells]]' (split, max before/after) the pipeline
    * row bounds BOTH tails of the cell-size distribution.
    */
  def mergeColdCells(spark: SparkSession, tag: String,
                     factor: Double = 2.0): (Int, Long, Long) = {
    require(factor > 1.0, s"merge factor must exceed 1 (got $factor): " +
      "at factor <= 1 every cell below the mean would retire, " +
      "including the balanced ones")
    val (cT, mT) = (cellsT(tag), centT(tag))
    require(spark.catalog.tableExists(cT) && spark.catalog.tableExists(mT),
      s"merge target $tag does not exist — buildOrLoad first")
    val cells = spark.table(cT)
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val st = sizes.agg(coalesce(sum(col("n")), lit(0L)),
        count(lit(1)), coalesce(min(col("n")), lit(0L))).collect()(0)
      val (nv, nc, minBefore) = (st.getLong(0), st.getLong(1), st.getLong(2))
      if (nv == 0L) return (0, 0L, 0L)
      val bound = nv.toDouble / nc / factor
      val cold = sizes.filter(col("n") < lit(bound))
        .select(col("cell").cast("long")).collect().map(_.getLong(0))
        .sorted.toSeq
      // EMPTY cells — a centroid row with no member rows at all (every
      // member deleted, or a split child that won nothing) — are the
      // extreme of the dead-probe-budget motivation, yet invisible to
      // the occupancy bound (the sizes relation only has occupied
      // cells; r15 advice). Retire them too: anti-join the centroid
      // table against the occupied cell ids. No members to reassign.
      val empties = spark.table(mT)
        .join(sizes.select(col("cell")), Seq("cell"), "left_anti")
        .select(col("cell").cast("long")).collect().map(_.getLong(0))
        .sorted.toSeq
      if (cold.isEmpty && empties.isEmpty)
        return (0, minBefore, minBefore)
      import spark.implicits._
      val coldSet = broadcast(cold.toDF("cell"))
      val retiredSet = broadcast((cold ++ empties).toDF("cell"))
      val survCents = spark.table(mT)
        .join(retiredSet, Seq("cell"), "left_anti")
      // reassign the cold members against SURVIVING centroids — the
      // append assignment, restricted to survivors
      val reassigned = SimilarityQueries.assignCells(
        cells.join(coldSet, Seq("cell"), "left_semi")
          .select(col("vec_id"), col("v"), col("nrm")), survCents)
      val buckets = BandIndex.bucketsOf(spark, cT)
      val stagedCells = cells.join(coldSet, Seq("cell"), "left_anti")
        .unionByName(reassigned)
        .localCheckpoint()
      val stagedCents = survCents.localCheckpoint()
      spark.sql(s"DROP TABLE IF EXISTS $mT")
      cellTable(tag).write(stagedCells, buckets)
      stagedCents.write.mode(SaveMode.Overwrite).saveAsTable(mT)
      spark.catalog.refreshTable(cT)
      spark.catalog.refreshTable(mT)
      val minAfter = spark.table(cT)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(coalesce(min(col("n")), lit(0L))).collect()(0).getLong(0)
      (cold.size + empties.size, minBefore, minAfter)
    } finally sizes.unpersist()
  }

  /** Takedown maintenance (r15 verdict #1): remove `vecIds`' cell rows.
    * Assignments are per-vector facts, so the CELLS table is exact
    * immediately: a deleted vector can never be probed, scored, or
    * returned again — its row is gone from the only table the serving
    * joins scan (IvfIndexSpec pins the serving face). CENTROIDS are
    * untouched and go stale in the DUAL direction of [[append]]: each
    * surviving centroid is the mean of a member set that still counts
    * the deleted vectors, until [[refreshCentroids]] recomputes exact
    * means over survivors (and drops any cell deletion emptied —
    * [[mergeColdCells]] also retires empty cells' centroids). Stale
    * centroids shift which cells are PROBED, never which vectors exist:
    * recall against the surviving corpus may drift until refresh, but
    * no deleted content is served — the direction a takedown needs.
    * The rewrite is [[BucketedStore.Table.deleteIds]]; `beforeWrites`
    * is its write gate. A crash mid-overwrite leaves the cells table
    * partial/missing, which the both-tables gate turns into a rebuild.
    * Returns cell rows removed.
    */
  def delete(spark: SparkSession, vecIds: DataFrame, tag: String,
             beforeWrites: () => Unit = () => ()): Long = {
    require(spark.catalog.tableExists(cellsT(tag)) &&
      spark.catalog.tableExists(centT(tag)),
      s"delete target $tag does not exist — buildOrLoad first")
    cellTable(tag).deleteIds(spark, vecIds, "vec_id", beforeWrites)
  }

  /** Periodic compaction: recompute exact Lloyd means (and norms) from
    * the stored cell assignment — the centroid refresh an IVF system
    * schedules after enough appends. A cell with no member rows
    * (every member deleted) gets no centroid row here — the refresh is
    * the empty-cell retirement path, alongside [[mergeColdCells]].
    */
  def refreshCentroids(spark: SparkSession, tag: String): Unit = {
    Quantizer.means(spark.table(cellsT(tag)), Seq("cell"))
      .write.mode(SaveMode.Overwrite).saveAsTable(centT(tag))
    // drop any session-cached plan over the pre-refresh centroids (the
    // splitHotCells/refreshCounts convention — saveAsTable's implicit
    // invalidation does not reach persisted reads; r15 verdict #1)
    spark.catalog.refreshTable(centT(tag))
  }
}
