package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored duplicated-span artifact — the materialized table pair that
  * `q_dedup_spans`, `q_source_overlap` and the streaming boilerplate
  * probe ([[graft.streaming.CorpusStream.boilerplateHits]]) read,
  * instead of re-deriving the span-fingerprint relation from raw text
  * per run ([[SpanDedup.duplicatedSpanSet]]'s own Scaladoc promised
  * exactly this shape; same prose-vs-plan gap the band index closed in
  * r5 — same fix pattern, reused here).
  *
  * Two bucketed tables per corpus snapshot:
  *
  *   - `<tag>_spanrows` (doc_id, source, n_spans, sh)  bucketed by sh
  *   - `<tag>_spanset`  (sh, nd)                       bucketed by sh
  *
  * `sh` is the 32-hex md5 span fingerprint; `nd` its distinct-document
  * count, PRECOMPUTED at build time. Readers apply the duplicated-span
  * threshold (`nd >= MinDocs`) after a bucket-local sum-merge per
  * fingerprint — appends insert per-batch count DELTAS (see below), so
  * the per-row `nd` is a summand, not the total.
  *
  * Both tables bucket on `sh`, so every fingerprint-keyed step that
  * previously shuffled the exploded corpus — the dup-set aggregation,
  * the rows-vs-set join, the overlap matrix's per-span source sets —
  * satisfies its required distribution straight off the scan: the only
  * shuffle left on the profile query's read path is the final per-doc
  * aggregation at doc grain (asserted by PlanShapeSpec). At 100 TB the
  * exploded span relation is the corpus's token stream — paying its
  * shuffle once at build, never per query, is the whole point of the
  * artifact.
  *
  * Maintenance is the LSM shape: daily `append` inserts new docs' span
  * rows plus the batch's per-fingerprint counts as DELTA rows, and
  * reads merge deltas on the fly — counts form a sum-semilattice (the
  * [[graft.etl.Profiler.merge]] argument applied to a stored table), so
  * `sum(nd) group by sh` over any set of delta rows equals the
  * from-scratch count and a span straddling standing corpus and batch
  * surfaces IMMEDIATELY, not at the next refresh. The merge runs
  * bucket-local off the sh-bucketed scan (no exchange — PlanShapeSpec),
  * so its cost is a per-bucket streaming agg over (sh, nd) pairs, not a
  * shuffle. [[refreshSpanCounts]] is the compaction that folds deltas
  * back to one row per fingerprint, keeping the merged scan small. The
  * write-side alternative (merge batch counts INTO standing counts at
  * append) was rejected: with plain bucketed parquet it rewrites the
  * whole count table — corpus-token-order rows at 100 TB — per daily
  * batch, to save readers a bucket-local agg. Builds run once per
  * (session, corpus snapshot) keyed by catalog presence, same as the
  * band index.
  */
object SpanSet {

  def tag(dir: String): String = BandIndex.tag(dir, "spans")

  /** Tag of the CHARACTER-winnow family ([[SpanDedup.winnowRows]]) for a
    * corpus dir. A distinct role, so a word-gram artifact can never be
    * silently served to a char-granularity consumer (or vice versa) by
    * `buildOrLoad`'s tableExists short-circuit — the two families share
    * the storage skeleton but never a table. The extractor is bound to
    * the tag STRUCTURALLY: `buildOrLoadChar`/`appendChar` are the only
    * public writers for this role.
    */
  def charTag(dir: String): String = BandIndex.tag(dir, "charspans")

  private def rowsT(tag: String) = rows(tag).name
  private def setT(tag: String) = counts(tag).name

  /** Both tables bucket on sh with equal counts: the rows ⋈ counts
    * join stays co-partitioned (the family invariant).
    */
  private def rows(tag: String) = BucketedStore.Table(s"${tag}_spanrows",
    Seq("doc_id", "source", "n_spans", "sh"), Seq("sh"))
  private def counts(tag: String) = BucketedStore.Table(s"${tag}_spanset",
    Seq("sh", "nd"), Seq("sh"))

  /** Every table this family stores for `tag` (r16 ADVICE #2: reset
    * paths reuse this so they cannot drift from the layout).
    */
  def tables(tag: String): Seq[String] = Seq(rowsT(tag), setT(tag))

  /** Derived bucket count this tag was built with (report-row metric). */
  def buckets(spark: SparkSession, tag: String): Int =
    BandIndex.bucketsOf(spark, rowsT(tag))

  /** Whether the stored artifact for `tag` is fully cataloged (the
    * IvfIndex convention).
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(rowsT(tag)) &&
      spark.catalog.tableExists(setT(tag))

  /** Materialize (or reuse, if already cataloged this session) the span
    * artifact for `docs` (must carry doc_id + source + text). Returns
    * (spanRows, spanCounts) as reads of the stored bucketed tables.
    */
  def buildOrLoad(spark: SparkSession, docs: DataFrame, tag: String,
                  log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
                  targetRowsPerBucket: Long = BandIndex.TargetRowsPerBucket
                 ): (DataFrame, DataFrame) =
    buildWith(spark, docs, tag, log, targetRowsPerBucket,
      SpanDedup.spanRows(_, Seq("source")))

  /** [[buildOrLoad]] for the CHARACTER-winnow family — same storage
    * skeleton, lifecycle and read paths (the count-delta semilattice and
    * every reader are extractor-independent), rows extracted by
    * [[SpanDedup.winnowRows]]. Pair with [[charTag]].
    */
  def buildOrLoadChar(spark: SparkSession, docs: DataFrame, tag: String,
                      log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
                      targetRowsPerBucket: Long = BandIndex.TargetRowsPerBucket
                     ): (DataFrame, DataFrame) =
    buildWith(spark, docs, tag, log, targetRowsPerBucket,
      SpanDedup.winnowRows(_, Seq("source")))

  private def buildWith(spark: SparkSession, docs: DataFrame, tag: String,
                        log: graft.etl.MigrationLog,
                        targetRowsPerBucket: Long,
                        extractor: DataFrame => DataFrame
                       ): (DataFrame, DataFrame) = {
    val (rT, sT) = (rowsT(tag), setT(tag))
    // both-tables gate (MediaSigStore convention, backported r12): any
    // partial state — crash between writes or an external drop of either
    // table — self-heals by rebuilding.
    if (!(spark.catalog.tableExists(rT) && spark.catalog.tableExists(sT))) {
      BucketedStore.dropStaleLocations(spark, Seq(rT, sT))
      // Persist so the sizing count and the write share one explode
      // pass; BOTH tables take the count derived from the span rows —
      // equal bucket counts on sh keep the rows ⋈ counts join
      // co-partitioned (the family invariant).
      val staged = extractor(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val buckets =
          BandIndex.derivedBuckets(staged.count(), targetRowsPerBucket)
        rows(tag).write(staged, buckets)
        // Counts derive from the stored rows (one explode pass total);
        // the rows table is already sh-bucketed, so this aggregation is
        // bucket-local — no shuffle even at build time, and already
        // aligned: no clustering.
        counts(tag).write(spark.table(rT).groupBy("sh")
          .agg(count(lit(1)).as("nd")), buckets, cluster = false)
      } finally staged.unpersist()
      // Build-time audit (the band index's hot-bucket convention): how
      // much of the span space the MinDocs threshold marks as
      // duplicated — a corpus where most spans are shared is boilerplate
      // soup and worth a loud line.
      val (nSpans, nDup) = spanAudit(spark, tag)
      val msg = s"min_docs=${SpanDedup.MinDocs} " +
        s"distinct_spans=$nSpans duplicated_spans=$nDup"
      if (nSpans > 0 && nDup * 2 > nSpans) log.warn(sT, "span_set_build", msg)
      else log.info(sT, "span_set_build", msg)
    }
    (spark.table(rT), spark.table(sT))
  }

  /** Total count per fingerprint off the stored table: the delta-merge
    * read (see class doc). `sum` over however many delta rows each `sh`
    * carries equals the from-scratch count at ANY append state, and the
    * agg key is the bucketing key, so the merge is bucket-local — no
    * exchange. Post-[[refreshSpanCounts]] this is a streaming agg over
    * one row per fingerprint.
    */
  private def mergedCounts(spark: SparkSession, tag: String): DataFrame =
    spark.table(setT(tag)).groupBy("sh").agg(sum(col("nd")).as("nd"))
      // a fingerprint whose inserts and [[delete]]'s negative deltas
      // cancel to zero is not a span of the corpus any more — it must
      // not count in spanAudit's distinct-span total
      .filter(col("nd") > 0)

  /** The duplicated-span set read off the stored artifact: delta rows
    * sum-merged per fingerprint (bucket-local), then the MinDocs
    * threshold. Exact at any append state — a span straddling standing
    * corpus and the latest batch qualifies immediately.
    */
  def duplicatedSpans(spark: SparkSession, tag: String): DataFrame =
    mergedCounts(spark, tag)
      .filter(col("nd") >= SpanDedup.MinDocs)
      .select("sh")

  /** (distinct spans, duplicated spans) on the stored count table —
    * delta rows merged per fingerprint first, so both numbers are exact
    * at any append state (a raw `count(*)` would count delta rows as
    * spans and under-threshold straddling spans as unique). For
    * build-time logging and pipeline report rows.
    */
  def spanAudit(spark: SparkSession, tag: String): (Long, Long) = {
    val r = mergedCounts(spark, tag)
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(when(col("nd") >= SpanDedup.MinDocs, 1L).otherwise(0L)),
          lit(0L)).as("n_dup"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Daily-ingest maintenance: append `newDocs`' span rows and the
    * batch's per-fingerprint counts as sum-lattice DELTA rows (reads
    * merge them exactly — see class doc).
    */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String): Unit =
    appendWith(spark, newDocs, tag, SpanDedup.spanRows(_, Seq("source")))

  /** [[append]] for the CHARACTER-winnow family. Pair with [[charTag]]. */
  def appendChar(spark: SparkSession, newDocs: DataFrame, tag: String): Unit =
    appendWith(spark, newDocs, tag, SpanDedup.winnowRows(_, Seq("source")))

  private def appendWith(spark: SparkSession, newDocs: DataFrame, tag: String,
                         extractor: DataFrame => DataFrame): Unit = {
    val (rT, sT) = (rowsT(tag), setT(tag))
    require(spark.catalog.tableExists(rT) && spark.catalog.tableExists(sT),
      s"append target $tag does not exist — buildOrLoad first")
    val rows = extractor(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      rows.write.insertInto(rT)
      rows.groupBy("sh").agg(count(lit(1)).as("nd")).write.insertInto(sT)
    } finally rows.unpersist()
  }

  /** Takedown maintenance (r15 verdict #1): remove every span row of
    * `docIds` and insert the deleted rows' per-fingerprint counts as
    * NEGATIVE sum-lattice delta rows — the count lattice that makes
    * appends exact-on-read absorbs deletions the same way, so this is
    * the one count-bearing family whose delete has NO staleness window:
    * `sum(nd) group by sh` over any delta state equals the
    * from-scratch count, and a span that deletion pushed under MinDocs
    * leaves [[duplicatedSpans]] IMMEDIATELY (SpanSetSpec differential
    * vs a rebuild over survivors, no refresh needed). Extractor-
    * independent — the deltas derive from the STORED rows, so one
    * delete serves both the word-gram and char-winnow families.
    * Write order: the rows table (the content-bearing one) rewrites
    * FIRST, then the deltas insert; a crash between leaves counts
    * stale UPPER bounds — spans stay flagged duplicated slightly
    * longer, the safe direction for a dedup artifact — and
    * [[refreshSpanCounts]] heals exactly (it rebuilds counts from
    * rows). Returns (span rows removed, negative delta rows inserted).
    * `beforeWrites` runs once the read-only counts are done, before
    * the first write: a concurrent caller's write gate
    * (`GovernanceQueries.parPhase`), which may abort the verb there.
    */
  def delete(spark: SparkSession, docIds: DataFrame,
             tag: String,
             beforeWrites: () => Unit = () => ()): (Long, Long) = {
    val (rT, sT) = (rowsT(tag), setT(tag))
    require(spark.catalog.tableExists(rT) && spark.catalog.tableExists(sT),
      s"delete target $tag does not exist — buildOrLoad first")
    val ids = BandIndex.takedownIds(spark, docIds, "doc_id")
    val stored = spark.table(rT)
    val gone = stored.join(ids, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val removed = gone.count()
      if (removed == 0L) return (0L, 0L)
      beforeWrites()
      // negated per-fingerprint counts of the deleted rows, staged
      // BEFORE the rows rewrite (they derive from the table being
      // rewritten)
      val stagedNegs = gone.groupBy("sh")
        .agg((-count(lit(1))).as("nd"))
        .localCheckpoint()
      val nNegs = stagedNegs.count()
      val stagedRows = stored.join(ids, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // no re-clustering: staged survivors are bucket-aligned
      rows(tag).write(stagedRows, BandIndex.bucketsOf(spark, rT),
        cluster = false)
      stagedNegs.select(col("sh"), col("nd")).write.insertInto(sT)
      spark.catalog.refreshTable(rT)
      spark.catalog.refreshTable(sT)
      (removed, nNegs)
    } finally gone.unpersist()
  }

  /** Periodic compaction: fold the accumulated delta rows back to one
    * exact row per fingerprint, rebuilt from the stored span rows.
    * Reads stay exact without it (the merge is in the read path); this
    * keeps the merged scan at one row per fingerprint. Bucket-local —
    * no shuffle.
    */
  def refreshSpanCounts(spark: SparkSession, tag: String): Unit =
    counts(tag).write(spark.table(rowsT(tag)).groupBy("sh")
        .agg(count(lit(1)).as("nd")),
      // rows-table spec, NOT a fresh derivation: the family invariant
      // is equal sh bucketing across both tables
      BandIndex.bucketsOf(spark, rowsT(tag)), cluster = false)
}
