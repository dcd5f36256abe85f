package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Stored MinHash dedup index — the materialized artifact the
  * incremental-ingest path (SURVEY.md §2 H3++) and the streaming
  * near-dup probe ([[graft.streaming.CorpusStream.nearDupCandidates]])
  * read, instead of re-deriving the standing corpus's bands per run.
  *
  * Two bucketed tables (plus a tiny ledger) per corpus snapshot:
  *
  *   - `<tag>_shingles` (doc_id, sh)            bucketed by doc_id
  *   - `<tag>_bands`    (doc_id, band, bh, bsz) bucketed by (band, bh),
  *     partitioned by pbk = pmod(hash(band, bh), nb) — the LexIndex pb
  *     mirror enabling [[refreshBucketSizesPartial]] (r17)
  *   - `<tag>_btouched` (band, bh) — the touched-bucket ledger
  *     appends/deletes record BEFORE mutating, refresh paths reset
  *
  * `bsz` — the (band, bh) bucket's population — is PRECOMPUTED at build
  * time via the skew-safe [[withKeyCount]] (groupBy + join-back, never
  * a bucket-key window), so the hot-bucket cap is a pushed parquet
  * predicate on the stored column; the previous shape recomputed it as
  * a window over the WHOLE index on every incremental run — a full
  * index shuffle that contradicted the operator's own "only the
  * arriving batch shuffles" claim.
  *
  * Bucketing on the probe key means a probe equi-join on (band, bh)
  * satisfies the join's required distribution straight off the scan:
  * the index side is scan-only (no Exchange above it — asserted by
  * DedupOpsSpec's plan-shape test), and only the arriving batch is
  * shuffled (or broadcast, when the batch is small enough). The shingle
  * store is bucketed on doc_id for the same reason: the Jaccard-verify
  * join on match_id reads it without an index-side shuffle.
  *
  * At 100 TB this is a daily-maintained table pair (append new docs'
  * bands, periodically recompact / refresh bsz); here the build runs
  * once per (session, corpus snapshot) keyed by catalog presence —
  * `tableExists` — so repeated queries in one session reuse the files
  * on disk and a fresh session rebuilds from current inputs (no
  * staleness window).
  */
object BandIndex {

  /** Bucket-count floor for every stored-artifact family. */
  private[ops] val MinBuckets = 8

  /** Default sizing target: rows one bucket should hold. Artifact rows
    * are narrow (a fingerprint + a couple of longs ≈ 50–100 B), so 4M
    * rows/bucket ≈ low hundreds of MB — inside an executor's
    * shuffle-partition budget. Local test corpora stay at the
    * [[MinBuckets]] floor; a 100 TB corpus's ~10^12 span rows derive
    * ~2^18 buckets from the same rule. Every builder takes this as a
    * parameter so tests exercise non-floor derivations.
    */
  private[graft] val TargetRowsPerBucket = 4L * 1024 * 1024

  /** Buckets for a stored relation, derived from its cardinality at
    * build time (the derived-cells pattern applied to layout):
    * ceil(rows / target) rounded UP to a power of two — re-derivations
    * on grown data then yield multiples of the old count, keeping
    * bucket pruning/alignment behavior predictable — floored at
    * [[MinBuckets]]. Each artifact family derives ONCE from its primary
    * relation and applies the count to both of its tables: co-equal
    * bucket counts on the shared key are what keep the family's
    * internal joins (span rows ⋈ span counts) co-partitioned.
    */
  private[graft] def derivedBuckets(nRows: Long,
                                    targetRows: Long = TargetRowsPerBucket): Int = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    val want = math.max(MinBuckets.toLong,
      (math.max(nRows, 1L) + targetRows - 1) / targetRows)
    var b = MinBuckets
    while (b < want && b < (1 << 22)) b <<= 1
    b
  }

  /** `out` = the per-`keys` row population stamped onto every row of
    * `df` — groupBy + join-back, NEVER `Window.partitionBy(keys)`. This
    * is the LexIndex df rule (`ops/LexIndex.scala` scaladoc, r14
    * verdict #1) hoisted to ONE shared definition (r16 verdict #1) so
    * no family can regress it independently: a window colocates every
    * row of a key in one partition and sorts it on a single task, so
    * under the Zipfian key distributions these artifacts govern — the
    * boilerplate n-gram / band bucket / solid-color media class that
    * HotBucketCap and the df caps exist FOR — the hottest key is an
    * unsplittable O(hot-key) straggler at the families' 10^12-row
    * target scale. The groupBy's partial aggregation collapses that key
    * to one row per map task before any shuffle, and the join-back
    * equi-join is AQE-skew-splittable. Callers re-select their column
    * order (join-back puts the keys first). KeyCountSpec pins
    * join-back == window row-for-row on a planted hot key; each
    * family's build/probe differentials pin the stored column's
    * downstream semantics.
    */
  private[ops] def withKeyCount(df: DataFrame, keys: Seq[String],
                                out: String): DataFrame =
    withKeyAgg(df, keys, Seq(count(lit(1)).as(out)))

  /** The general form of [[withKeyCount]] (r17 verdict #1): stamp
    * arbitrary per-`keys` aggregates (`aggs` must each carry an alias)
    * onto every row of `df` via groupBy + join-back — the one sanctioned
    * route for what would otherwise be `agg over (partition by keys)`
    * windows in the DECLARED-QUERY paths (candidate-bucket caps,
    * fingerprint keeper election, cluster sizes, argmax-struct keeper
    * picks). Same straggler rationale as [[withKeyCount]]'s scaladoc;
    * the groupBy's partial aggregation collapses a Zipf-head key on the
    * map side, and the join-back is AQE-skew-splittable where a window
    * partition is one unsplittable task. Trade vs a window: the window
    * evaluates its input subtree once behind ONE exchange; join-back
    * references `df` twice — every migrated call site therefore feeds
    * a persisted/checkpointed relation (or a prunable cheap branch) so
    * the second reference is a cache read, not a recompute.
    *
    * Callers re-select their column order (join-back appends the agg
    * columns after `df`'s).
    */
  private[graft] def withKeyAgg(df: DataFrame, keys: Seq[String],
                                aggs: Seq[org.apache.spark.sql.Column])
      : DataFrame = {
    // Null-safe (<=>) join-back: a window treats a null key as its own
    // group, and so must the replacement — BandIndex band hashes ARE
    // null for an empty-shingle doc (MinHashBands scaladoc), and a
    // plain equi-join would silently drop those rows. <=> is still an
    // equi-join key for the planner (hash-joinable, AQE-splittable).
    val renamed = keys.map(k => k -> s"__kc_$k")
    val agged = renamed.foldLeft(
        df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)) {
      case (d, (k, a)) => d.withColumnRenamed(k, a)
    }
    val cond = renamed.map { case (k, a) => col(k) <=> col(a) }.reduce(_ && _)
    df.join(agged, cond).drop(renamed.map(_._2): _*)
  }

  /** The bucket count a stored table was actually written with — for
    * report rows and refresh paths (which must preserve, not silently
    * re-spec, the family's bucketing).
    */
  private[graft] def bucketsOf(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(0)

  /** The takedown id set every family `delete` verb joins against —
    * ONE definition instead of a `broadcast(ids.distinct())` per verb.
    * The `key` values are collected once and deduplicated on the
    * driver into a local relation, and that is what is broadcast: a
    * plan-level distinct re-ran its shuffle and broadcast jobs at every
    * use inside a verb (five uses in [[delete]] alone). Collecting a
    * local relation — the set a `Pipeline.deleteDocs` call builds once
    * and hands to every verb — runs no job, so every verb and every
    * step inside a verb sees the same ids even when the caller's
    * relation is nondeterministic. Same size assumption as the
    * broadcast it replaces: a takedown batch is small.
    */
  private[graft] def takedownIds(spark: SparkSession, ids: DataFrame,
                                 key: String): DataFrame = {
    val keys = ids.select(col(key))
    broadcast(spark.createDataFrame(
      java.util.Arrays.asList(keys.collect().distinct: _*), keys.schema))
  }

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

  /** The ledgered bounded re-level skeleton, hoisted to ONE definition
    * (r17 verdict #3: BandIndex and MediaSigStore carried
    * near-identical ~25-line bodies; LexIndex's df re-level is the same
    * shape) so the next stored family cannot fork the pattern:
    *
    *   1. `parts` — the ledger projected to the partition ints its keys
    *      hash-confine to ([[touchedPartitions]], bounded by the table's
    *      partition count, itself bounded by derivedBuckets);
    *   2. ONE partition-pruned scan of exactly those partitions is
    *      re-staged by the family's `stage` (recompute the per-key
    *      level column via [[withKeyCount]]/withDf + re-stamp the
    *      partition mirror + re-select the stored column order), staged
    *      via localCheckpoint — the write plan must not scan its own
    *      target;
    *   3. dynamic-partition overwrite of exactly those partitions
    *      ([[overwritePartitionsDynamic]] — per-writer option, catalog
    *      refresh), untouched partitions byte-identical on disk;
    *   4. the family's `clear` resets its ledger.
    *
    * Exactness argument (shared by every caller): a key's rows are
    * hash-confined to its partition, so a level recomputed within the
    * touched partitions is exact for every key they contain —
    * including untouched co-partitioned keys, which re-level to the
    * value they already carry. Returns partitions rewritten. Families
    * whose re-level is NOT this shape (ContainIndex's oc leg — an
    * audit against exact ground truth, because stored oc mixes
    * vintages) compose [[overwritePartitionsDynamic]] directly.
    */
  private[ops] def relevelPartitions(spark: SparkSession, table: String,
                                     parts: Seq[Int],
                                     partCol: String,
                                     stage: DataFrame => DataFrame,
                                     clear: () => Unit): Long = {
    if (parts.isEmpty) return 0L
    val staged = stage(spark.table(table)
        .filter(col(partCol).isin(parts: _*)))
      .localCheckpoint()
    overwritePartitionsDynamic(spark, staged, table)
    clear()
    parts.size.toLong
  }

  /** The partitions a family's ledger touches: distinct
    * pmod(hash(ledger keys), nb), sorted — collected (bounded by nb).
    * Ledger-grain work (batch vocabulary), no stored-table scan. Empty
    * when the ledger does not exist.
    */
  private[ops] def touchedPartitions(spark: SparkSession, ledger: String,
                                     nb: Int,
                                     hashCols: Seq[String]): Seq[Int] =
    if (!spark.catalog.tableExists(ledger)) Nil
    else spark.table(ledger)
      .select(expr(s"pmod(hash(${hashCols.mkString(", ")}), $nb)").cast("int"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq

  /** The re-level POLICY every family shares (the LexIndex.relevel
    * shape — threshold measured on the pattern family,
    * RELEVEL_r18.json): `partial` over the touched partitions below
    * [[LexIndex.RelevelPartialMaxFraction]], `full` (returning the
    * partitions it rewrote) at complete cover. The ledger is read ONCE:
    * the touched-partition list gives the fraction by its size and is
    * what the partial path rewrites. A missing ledger touches nothing
    * (0.0); an unbucketed table counts as fully touched (1.0). Callers
    * re-level one family after another, never concurrently: the
    * partial path flips a session-global conf
    * ([[overwritePartitionsDynamic]]). Returns (path, touched fraction,
    * partitions rewritten).
    */
  private[ops] def relevelBy(spark: SparkSession, ledger: String,
                             table: String, hashCols: Seq[String])(
      partial: Seq[Int] => Long)(full: => Long): (String, Double, Long) = {
    val nb = bucketsOf(spark, table)
    val (f, parts) =
      if (!spark.catalog.tableExists(ledger)) (0.0, Nil)
      else if (nb == 0) (1.0, Nil)
      else {
        val ps = touchedPartitions(spark, ledger, nb, hashCols)
        (ps.size.toDouble / nb, ps)
      }
    if (f < LexIndex.RelevelPartialMaxFraction) ("partial", f, partial(parts))
    else ("full", f, full)
  }

  /** The family's re-level POLICY verb ([[relevelBy]]; the three
    * mirrors share the same cost structure because their partial paths
    * are [[relevelPartitions]] instances). Returns (path, touched
    * fraction, partitions rewritten).
    */
  def relevel(spark: SparkSession, tag: String): (String, Double, Long) =
    relevelBy(spark, s"${tag}_btouched", s"${tag}_bands", Seq("band", "bh"))(
      parts => refreshBucketSizesPartial(spark, tag, parts)) {
      refreshBucketSizes(spark, tag)
      bucketsOf(spark, s"${tag}_bands").toLong
    }

  /** Ledger seeding for policy specs/benches — see
    * [[LexIndex.seedTouchedForBench]]; production paths never call it.
    */
  private[graft] def seedTouchedForBench(spark: SparkSession, tag: String,
                                         keys: DataFrame): Unit = {
    ensureTouched(spark, tag)
    keys.select(col("band"), col("bh")).distinct()
      .write.insertInto(s"${tag}_btouched")
  }

  /** Whether `table` is partitioned by `colName` — the artifact-VINTAGE
    * half of every family's exists() check (r17 ADVICE): the
    * append/delete/partial-re-level verbs require the partition-mirror
    * columns (LexIndex pb, ContainIndex pb/pd, BandIndex/MediaSigStore
    * pbk), so a pre-mirror vintage store must read as "not exists" and
    * route through buildOrLoad's documented self-heal rebuild, rather
    * than pass the maintenance gate and fail mid-verb with a
    * missing-column AnalysisException.
    */
  private[ops] def partitionedBy(spark: SparkSession, table: String,
                                 colName: String): Boolean =
    spark.catalog.tableExists(table) &&
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .partitionColumnNames.contains(colName)

  /** A catalog-safe table-name prefix for a corpus snapshot: sf dir +
    * role, lowercased, non-alphanumerics folded to `_`.
    */
  def tag(dir: String, role: String): String =
    ("graft_" + dir + "_" + role).toLowerCase
      .replaceAll("[^a-z0-9]+", "_").replaceAll("^_+", "")

  /** The default (in-memory) catalog forgets tables across JVMs while
    * their files persist in the warehouse dir; CTAS then refuses the
    * occupied location. Drop stale locations so every fresh session
    * rebuilds from current inputs. Shared by every stored-artifact
    * builder (band index, span set).
    */
  private[ops] def dropStaleLocations(spark: SparkSession,
                                      tables: Seq[String]): Unit =
    for (t <- tables) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(t)))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Every table this family stores for `tag` — the one list reset
    * paths (q_takedown_audit) reuse so they cannot drift from the
    * storage layout (r16 ADVICE #2).
    */
  def tables(tag: String): Seq[String] =
    Seq(s"${tag}_shingles", s"${tag}_bands", s"${tag}_btouched")

  /** pbk partition column mirroring the (band, bh) bucket hash — the
    * LexIndex withPb convention applied to this family (r17): a
    * bucketed table can only be rewritten whole, but partitions can be
    * dynamically overwritten one at a time, and since a (band, bh)
    * bucket's rows are hash-confined to one pbk, bsz recomputed over a
    * partition subset is EXACT for every bucket it contains. That is
    * what makes [[refreshBucketSizesPartial]] a daily-batch-sized op
    * instead of the O(index) [[refreshBucketSizes]] rewrite.
    */
  private def withPbk(df: DataFrame, nb: Int): DataFrame =
    df.withColumn("pbk", expr(s"pmod(hash(band, bh), $nb)").cast("int"))

  private def writeBands(staged: DataFrame, nb: Int, table: String,
                         cluster: Boolean = true): Unit = {
    // r19 (§6, the LexIndex.writePostings rationale): cluster by the
    // bucket key into nb partitions first — one file per bucket
    // instead of (write tasks × buckets) fragments; at scale this is
    // the hash write-distribution trade. Delete paths pass false
    // (staged survivors are already bucket-aligned — §2.4).
    val rows = staged.select("doc_id", "band", "bh", "bsz", "pbk")
    (if (cluster) rows.repartition(nb, col("band"), col("bh")) else rows)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("pbk")
      .bucketBy(nb, "band", "bh").sortBy("band", "bh")
      .saveAsTable(table)
  }

  /** Touched-bucket ledger backing [[refreshBucketSizesPartial]] —
    * the LexIndex pattern: appends/deletes record their batch's
    * (band, bh) keys BEFORE the index mutates (a crash leaves only
    * harmless extra rows; re-leveling an exact bucket is idempotent).
    */
  private def ensureTouched(spark: SparkSession, tag: String): Unit = {
    val tT = s"${tag}_btouched"
    if (!spark.catalog.tableExists(tT)) {
      dropStaleLocations(spark, Seq(tT))
      import spark.implicits._
      Seq.empty[(Int, String)].toDF("band", "bh")
        .write.mode(SaveMode.Overwrite).saveAsTable(tT)
    }
  }

  private def recordTouched(spark: SparkSession, tag: String,
                            keys: DataFrame): Unit = {
    ensureTouched(spark, tag)
    keys.select(col("band").cast("int"), col("bh").cast("string"))
      .distinct().write.insertInto(s"${tag}_btouched")
  }

  private def clearTouched(spark: SparkSession, tag: String): Unit = {
    import spark.implicits._
    Seq.empty[(Int, String)].toDF("band", "bh")
      .write.mode(SaveMode.Overwrite).saveAsTable(s"${tag}_btouched")
    spark.catalog.refreshTable(s"${tag}_btouched")
  }

  /** Whether the stored index for `tag` is fully cataloged (the
    * IvfIndex convention — maintenance callers gate on this before
    * buildOrLoad erases the fresh-vs-pre-existing difference) AT the
    * current vintage: the band table must carry the r17 pbk partition
    * mirror the maintenance verbs require ([[partitionedBy]]).
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(s"${tag}_shingles") &&
      partitionedBy(spark, s"${tag}_bands", "pbk")

  /** Materialize (or reuse, if already cataloged this session) the band
    * index for `standingDocs` (must carry doc_id + text). Returns
    * (shingleStore, bandIndex) as reads of the stored bucketed tables.
    */
  def buildOrLoad(spark: SparkSession, standingDocs: DataFrame,
                  tag: String,
                  log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
                  targetRowsPerBucket: Long = TargetRowsPerBucket
                 ): (DataFrame, DataFrame) = {
    val shT = s"${tag}_shingles"
    val bdT = s"${tag}_bands"
    // Gate on BOTH tables (the MediaSigStore convention, backported
    // r12) AND on the r17 pbk partition mirror (the schema-drift
    // rule) — the SAME vintage-aware exists() the maintenance callers
    // gate on, so the two predicates cannot disagree (r17 ADVICE):
    // any partial or pre-pbk state self-heals by rebuilding rather
    // than breaking the partial re-level.
    val complete = exists(spark, tag)
    if (!complete) {
      Seq(shT, bdT, s"${tag}_btouched").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      dropStaleLocations(spark, Seq(shT, bdT, s"${tag}_btouched"))
      // Persist so the sizing count and the write share one shingling
      // pass; buckets derive from the family's primary relation (the
      // shingle rows — the band relation is strictly smaller at
      // bands ≪ shingles/doc).
      val sh = DedupQueries.shingleRows(standingDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val buckets = derivedBuckets(sh.count(), targetRowsPerBucket)
        // repartition-by-bucket-key: one file per bucket (the
        // writeBands/writePostings rationale)
        sh.repartition(buckets, col("doc_id"))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(buckets, "doc_id").sortBy("doc_id")
          .saveAsTable(shT)
        // Bands derive from the stored shingles (one shingling pass
        // total); the bucket-size derivation runs ONCE here, at build
        // time — never again on the read path — and via the skew-safe
        // [[withKeyCount]], never a (band, bh) window.
        writeBands(withPbk(
          withKeyCount(DedupQueries.bandsFromShingles(spark.table(shT)),
            Seq("band", "bh"), "bsz"), buckets), buckets, bdT)
        // fresh build is exact everywhere — an empty touched ledger
        ensureTouched(spark, tag)
      } finally sh.unpersist()
      // Readers cap hot buckets with `bsz <= HotBucketCap`; surface what
      // that cap will silently skip, once, at build time (the stored bsz
      // makes this a cheap scan-side aggregate).
      val (nBuckets, nRows) = hotBucketAudit(spark, tag)
      val msg = s"hot_bucket_cap=${DedupQueries.HotBucketCap} " +
        s"skipped_buckets=$nBuckets skipped_rows=$nRows"
      if (nBuckets > 0) log.warn(bdT, "band_index_build", msg)
      else log.info(bdT, "band_index_build", msg)
    }
    (spark.table(shT), spark.table(bdT))
  }

  /** Derived bucket count this tag's band table was built with — a
    * report-row metric (the sizing choice must be visible, not a
    * constant buried in the layout).
    */
  def buckets(spark: SparkSession, tag: String): Int =
    bucketsOf(spark, s"${tag}_bands")

  /** What the hot-bucket cap will silently skip on the stored index:
    * (over-cap buckets, rows inside them). Scan-only — `bsz` is a
    * stored column — so the pipeline can surface every silent cap as a
    * report line without a window over the index.
    */
  def hotBucketAudit(spark: SparkSession, tag: String,
                     cap: Int = DedupQueries.HotBucketCap): (Long, Long) = {
    val r = spark.table(s"${tag}_bands")
      .filter(col("bsz") > cap)
      .agg(count_distinct(struct(col("band"), col("bh"))).as("n_buckets"),
        count(lit(1)).as("n_rows"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Daily-ingest maintenance: append `newDocs`' shingles and bands to
    * the stored tables (insertInto preserves the bucket spec, so reads
    * stay exchange-free). Appended band rows carry bsz counted WITHIN
    * the batch — a lower bound on the true bucket size, so the
    * hot-bucket cap errs toward keeping buckets until the next
    * [[refreshBucketSizes]]; already-capped buckets stay capped (their
    * standing rows keep the over-cap bsz). Staleness is bounded by the
    * refresh cadence.
    */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    val shT = s"${tag}_shingles"
    val bdT = s"${tag}_bands"
    require(spark.catalog.tableExists(shT) && spark.catalog.tableExists(bdT),
      s"append target $tag does not exist — buildOrLoad first")
    val nb = bucketsOf(spark, bdT)
    val sh = DedupQueries.shingleRows(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bands = DedupQueries.bandsFromShingles(sh)
      // ledger first (crash order), then the rows
      recordTouched(spark, tag, bands.select("band", "bh"))
      sh.write.insertInto(shT)
      withPbk(withKeyCount(bands, Seq("band", "bh"), "bsz"), nb)
        .select("doc_id", "band", "bh", "bsz", "pbk")
        .write.insertInto(bdT)
    } finally sh.unpersist()
  }

  /** Takedown maintenance (r15 verdict #1 — the missing lifecycle verb,
    * dual of [[append]]): remove every shingle and band row of `docIds`
    * (a doc_id relation). A deleted doc can never be emitted as a
    * candidate or a match again — both its posting rows and its
    * signature rows are gone (the guarantee a takedown needs,
    * regardless of count staleness). Surviving band rows keep their
    * stored `bsz`, now a stale UPPER bound — the bucket was counted
    * over a population that included the deleted docs — so the
    * hot-bucket cap errs toward SKIPPING a bucket deletion brought back
    * under the cap (cost-safe, recall-lossy at the cap margin): exactly
    * the dual of append's batch-local LOWER bound, which errs toward
    * keeping. [[refreshBucketSizes]] re-levels, after which probe ==
    * rebuild-over-survivors exactly (BandIndexSpec differential on the
    * serving face). Both survivor relations are staged
    * (localCheckpoint), then the band table — written second at build —
    * is dropped FIRST: a crash anywhere between leaves the both-tables
    * gate broken → rebuild, never a shingles/bands mismatch (the
    * IvfIndex split/merge write order). Returns (shingle rows removed,
    * band rows removed).
    * `beforeWrites` runs once the read-only counts are done, before
    * the first write: a concurrent caller's write gate
    * (`GovernanceQueries.parPhase`), which may abort the verb there.
    */
  def delete(spark: SparkSession, docIds: DataFrame,
             tag: String,
             beforeWrites: () => Unit = () => ()): (Long, Long) = {
    val shT = s"${tag}_shingles"
    val bdT = s"${tag}_bands"
    require(spark.catalog.tableExists(shT) && spark.catalog.tableExists(bdT),
      s"delete target $tag does not exist — buildOrLoad first")
    val ids = takedownIds(spark, docIds, "doc_id")
    val sh = spark.table(shT)
    val bd = spark.table(bdT)
    val shRemoved = sh.join(ids, Seq("doc_id"), "left_semi").count()
    val bdRemoved = bd.join(ids, Seq("doc_id"), "left_semi").count()
    if (shRemoved == 0L && bdRemoved == 0L) return (0L, 0L)
    beforeWrites()
    // ledger first (crash order): the deleted docs' buckets are exactly
    // the keys whose surviving bsz is about to go stale
    recordTouched(spark, tag,
      bd.join(ids, Seq("doc_id"), "left_semi").select("band", "bh"))
    val shBuckets = bucketsOf(spark, shT)
    val bdBuckets = bucketsOf(spark, bdT)
    val stagedSh = sh.join(ids, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val stagedBd = bd.join(ids, Seq("doc_id"), "left_anti")
      .select("doc_id", "band", "bh", "bsz", "pbk")
      .localCheckpoint()
    spark.sql(s"DROP TABLE IF EXISTS $bdT")
    // no re-clustering: both staged sides are narrow anti-joins of the
    // bucketed scans, already one aligned partition per bucket
    stagedSh.write.mode(SaveMode.Overwrite)
      .bucketBy(shBuckets, "doc_id").sortBy("doc_id")
      .saveAsTable(shT)
    writeBands(stagedBd, bdBuckets, bdT, cluster = false)
    spark.catalog.refreshTable(shT)
    spark.catalog.refreshTable(bdT)
    (shRemoved, bdRemoved)
  }

  /** Periodic compaction: rebuild the band table from the shingle store
    * with exact bucket sizes (appends leave bsz a per-batch lower
    * bound). Recomputing from shingles avoids reading the table being
    * overwritten; at 100 TB this is the index's scheduled compaction
    * job — a snapshot-and-swap in a real table format, a bucketed
    * overwrite here. This is the full-table re-level;
    * [[refreshBucketSizesPartial]] is the bounded form.
    */
  def refreshBucketSizes(spark: SparkSession, tag: String): Unit = {
    val shT = s"${tag}_shingles"
    val bdT = s"${tag}_bands"
    // Preserve the family's bucket spec (derived at build): a refresh
    // compacts content, it must not silently re-spec the layout.
    val buckets = bucketsOf(spark, bdT)
    writeBands(withPbk(
      withKeyCount(DedupQueries.bandsFromShingles(spark.table(shT)),
        Seq("band", "bh"), "bsz"), buckets), buckets, bdT)
    spark.catalog.refreshTable(bdT)
    // everything is exact again — the ledger resets
    clearTouched(spark, tag)
  }

  /** BOUNDED bsz re-level (r17 — the LexIndex refreshCountsPartial
    * pattern applied to this family): rewrite ONLY the band-table
    * partitions holding (band, bh) buckets touched since the last exact
    * level — the ledger appends/deletes maintain — leaving every other
    * partition's files byte-identical on disk. bsz is recomputed from
    * the band rows THEMSELVES (one partition-pruned scan + skew-safe
    * [[withKeyCount]]; band rows equal bandsFromShingles(shingles) by
    * construction at every lifecycle state, so the two derivations
    * agree — BandIndexSpec pins partial == the from-shingles full
    * refresh row-for-row), staged via localCheckpoint, then
    * dynamic-partition-overwritten. At the family's 10^12-row target
    * the full refresh is an O(index) rewrite; this is O(partitions
    * touched by the batch's buckets). Returns partitions rewritten.
    */
  def refreshBucketSizesPartial(spark: SparkSession, tag: String): Long =
    refreshBucketSizesPartial(spark, tag, touchedPartitions(spark,
      s"${tag}_btouched", bucketsOf(spark, s"${tag}_bands"), Seq("band", "bh")))

  private def refreshBucketSizesPartial(spark: SparkSession, tag: String,
                                        parts: Seq[Int]): Long = {
    val bdT = s"${tag}_bands"
    ensureTouched(spark, tag)
    val nb = bucketsOf(spark, bdT)
    relevelPartitions(spark, bdT, parts, "pbk",
      scan => withPbk(withKeyCount(
          scan.select(col("doc_id"), col("band"), col("bh")),
          Seq("band", "bh"), "bsz"), nb)
        .select("doc_id", "band", "bh", "bsz", "pbk"),
      () => clearTouched(spark, tag))
  }
}
