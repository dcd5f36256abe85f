package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored containment index — the SIXTH stored artifact family (after
  * band index, span set, IVF cells, chunk store, PQ store): the
  * inverted word-3-gram index + per-doc n-gram arrays the incremental
  * containment path (`q_containment_incremental`) and the streaming
  * ingest probe ([[graft.streaming.CorpusStream.containmentProbe]])
  * read, instead of re-deriving the standing corpus's n-grams per run.
  *
  * Two bucketed tables (plus a tiny ledger) per corpus snapshot:
  *
  *   - `<tag>_cngrams` (g1, doc_id, na, df)   bucketed by g1,
  *     partitioned by the pb mirror of the g1 bucket
  *     ([[BucketedStore]]): a g1's rows are hash-confined to one
  *     partition, so df recomputed within a partition subset is
  *     EXACT for every g1 it contains, which is what makes
  *     [[refreshCountsPartial]] a bounded maintenance op (r16 verdict #4)
  *   - `<tag>_cdocs`   (doc_id, ng, na, oc)   bucketed by doc_id,
  *     partitioned by the pd mirror of the doc_id bucket — same idea
  *     at doc grain, so the oc re-level rewrites only partitions holding
  *     docs whose oc actually changed
  *   - `<tag>_ctouched` (g1) — the touched-n-gram ledger [[append]]
  *     and [[delete]] maintain (recorded BEFORE mutation, the
  *     [[BucketedStore]] crash order), [[refreshCounts]]/
  *     [[refreshCountsPartial]] reset
  *
  * `df` — each n-gram's standing document frequency — and `oc` — each
  * doc's count of OVER-CAP n-grams — are PRECOMPUTED at build time, so
  * the df-cap candidate restriction (`df <= cap`) is a pushed parquet
  * predicate on the posting scan and the support prefilter's
  * min(oc_a, oc_b) bound reads a stored column; recomputing either on
  * the read path would shuffle the whole index per probe (the
  * BandIndex `bsz` argument verbatim). Bucketing on the probe keys
  * (g1 for the posting join, doc_id for the verify join) keeps the
  * index sides scan-only — only the arriving batch shuffles.
  *
  * At 100 TB this is a daily-maintained table pair (append new docs'
  * postings with batch-local df lower bounds, periodically
  * [[refreshCounts]] to exact df/oc); here the build runs once per
  * (session, corpus snapshot) keyed by catalog presence, like every
  * other family.
  */
object ContainIndex {

  /** Catalog tag for a corpus dir + role (delegates to the shared
    * convention).
    */
  def tag(dir: String, role: String): String = BandIndex.tag(dir, role)

  private def ngramT(tag: String) = ngrams(tag).name
  private def docT(tag: String) = docs(tag).name

  private def ngrams(tag: String) = BucketedStore.Table(s"${tag}_cngrams",
    Seq("g1", "doc_id", "na", "df", "pb"), Seq("g1"), Some("pb"))
  private def docs(tag: String) = BucketedStore.Table(s"${tag}_cdocs",
    Seq("doc_id", "ng", "na", "oc", "pd"), Seq("doc_id"), Some("pd"))

  /** Touched-n-gram ledger ([[BucketedStore]] crash order). */
  private def touched(tag: String) =
    BucketedStore.Ledger(s"${tag}_ctouched", "g1 STRING")

  /** Every table this family stores for `tag` — the one list reset
    * paths (q_takedown_audit) and drop helpers reuse so they cannot
    * drift from the storage layout (r16 ADVICE #2).
    */
  def tables(tag: String): Seq[String] =
    Seq(ngramT(tag), docT(tag), touched(tag).name)

  /** Materialize (or reuse, if already cataloged this session) the
    * containment index for `standingDocs` (must carry doc_id + text).
    * Returns (postings, docArrays) as reads of the stored tables.
    */
  def buildOrLoad(spark: SparkSession, standingDocs: DataFrame,
                  tag: String,
                  targetRowsPerBucket: Long = BandIndex.TargetRowsPerBucket
                 ): (DataFrame, DataFrame) = {
    val ngT = ngramT(tag)
    val dcT = docT(tag)
    // Gate on BOTH tables (r10 ADVICE #3) AND on the r17 partition
    // columns being present (the MediaSigStore schema-drift rule): a
    // crash between the two saveAsTable calls, or a pre-pb vintage of
    // the artifact, self-heals by rebuilding rather than breaking the
    // partial re-level with no repair path.
    // the SAME vintage-aware exists() the maintenance callers gate on
    // (r17 ADVICE): pb/pd partition mirrors checked via catalog
    // metadata, so the two predicates cannot disagree
    val complete = exists(spark, tag)
    if (!complete) {
      tables(tag).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      BucketedStore.dropStaleLocations(spark, tables(tag))
      val g = DedupQueries.ngramDocs(standingDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val inv = g.select(col("doc_id"), size(col("ng")).as("na"),
          explode(col("ng")).as("g1"))
        // df derived ONCE at build — never again on the read path (the
        // bsz convention) — and via the skew-safe groupBy + join-back
        // (BandIndex.withKeyCount), never a g1 window: the hottest g1
        // is a boilerplate n-gram, the exact key the df cap governs
        val post = BandIndex.withKeyCount(inv, Seq("g1"), "df")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val buckets =
            BandIndex.derivedBuckets(post.count(), targetRowsPerBucket)
          ngrams(tag).write(ngrams(tag).rows(post, buckets), buckets)
          // per-doc over-cap count from the SAME df relation, joined
          // back to the arrays; docs whose n-grams are all rare get 0
          val oc = post.filter(col("df") > DedupQueries.ContainDfCap)
            .groupBy("doc_id").agg(count(lit(1)).as("oc"))
          docs(tag).write(docs(tag).rows(
            g.join(oc, Seq("doc_id"), "left")
              .select(col("doc_id"), col("ng"), size(col("ng")).as("na"),
                coalesce(col("oc"), lit(0L)).as("oc")), buckets), buckets)
          // fresh build is exact everywhere — an empty touched ledger
          touched(tag).ensure(spark)
        } finally post.unpersist()
      } finally g.unpersist()
    }
    (spark.table(ngT), spark.table(dcT))
  }

  /** Daily-ingest maintenance: append `newDocs`' postings and arrays.
    * Appended rows carry df counted WITHIN the batch — a lower bound on
    * the true frequency, which errs toward treating n-grams as rare:
    * recall-safe (extra candidates), cost-unsafe until the next
    * [[refreshCounts]] — the BandIndex `bsz` staleness contract with
    * the inequality pointing the same (safe) way.
    */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    val ngT = ngramT(tag)
    val dcT = docT(tag)
    require(spark.catalog.tableExists(ngT) && spark.catalog.tableExists(dcT),
      s"append target $tag does not exist — buildOrLoad first")
    val nb = BandIndex.bucketsOf(spark, ngT)
    val g = DedupQueries.ngramDocs(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val inv = g.select(col("doc_id"), size(col("ng")).as("na"),
        explode(col("ng")).as("g1"))
      // ledger first (crash order: extra ledger rows are harmless,
      // missed ones are not), then the postings
      touched(tag).record(spark, inv)
      val post = BandIndex.withKeyCount(inv, Seq("g1"), "df")
      ngrams(tag).insert(post, nb)
      val oc = post.filter(col("df") > DedupQueries.ContainDfCap)
        .groupBy("doc_id").agg(count(lit(1)).as("oc"))
      docs(tag).insert(g.join(oc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ng"), size(col("ng")).as("na"),
          coalesce(col("oc"), lit(0L)).as("oc")), nb)
    } finally g.unpersist()
  }

  /** Periodic compaction: recompute exact df over the full stored
    * posting relation and exact oc per doc, rewriting both tables with
    * their bucket specs preserved (appends leave df/oc per-batch lower
    * bounds). This is the full-table re-level; [[refreshCountsPartial]]
    * is the bounded form that only rewrites partitions the ledger says
    * are stale (r16 verdict #4).
    */
  def refreshCounts(spark: SparkSession, tag: String): Unit = {
    val ngT = ngramT(tag)
    val dcT = docT(tag)
    val buckets = BandIndex.bucketsOf(spark, ngT)
    val post = BandIndex.withKeyCount(
        spark.table(ngT).select(col("g1"), col("doc_id"), col("na")),
        Seq("g1"), "df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stagedNg = ngrams(tag).rows(post, buckets)
        .localCheckpoint() // sever from the table being overwritten
      val oc = post.filter(col("df") > DedupQueries.ContainDfCap)
        .groupBy("doc_id").agg(count(lit(1)).as("oc"))
      val stagedDc = docs(tag).rows(spark.table(dcT)
          .select("doc_id", "ng", "na")
          .join(oc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("ng"), col("na"),
            coalesce(col("oc"), lit(0L)).as("oc")), buckets)
        .localCheckpoint()
      ngrams(tag).write(stagedNg, buckets)
      docs(tag).write(stagedDc, buckets)
      spark.catalog.refreshTable(ngT)
      spark.catalog.refreshTable(dcT)
      // everything is exact again — the ledger resets
      touched(tag).clear(spark)
    } finally post.unpersist()
  }

  /** BOUNDED re-level (r16 verdict #4 — the LexIndex
    * [[LexIndex.refreshCountsPartial]] pattern applied to this family):
    * re-level df for ONLY the posting partitions holding n-grams
    * touched since the last exact level, then re-level oc for ONLY the
    * doc partitions whose stored oc actually changed — leaving every
    * other partition's files byte-identical on disk. At the family's
    * advertised scale [[refreshCounts]] is an O(index) rewrite of BOTH
    * tables; this does daily-batch-proportional posting work plus a
    * scan-grade oc audit:
    *
    *   1. touched g1s → their pb mirror partitions; ONE
    *      partition-pruned scan re-derives df exactly (a g1's rows are
    *      hash-confined to its pb) and dynamic-overwrites exactly those
    *      partitions (staged via localCheckpoint);
    *   2. oc: exact per-doc over-cap counts from the NOW-EXACT stored
    *      df — `postings.filter(df > cap)` is a pushed predicate scan,
    *      and the count is a doc-grain groupBy (fine-grained keys, no
    *      straggler); compared against the stored oc via a
    *      column-pruned (doc_id, oc, pd) read of the doc table. This
    *      audit is vintage-proof where a delta rule is not: stored oc
    *      mixes build-exact rows with append-time batch-local rows, so
    *      "which docs changed" is only decidable against ground truth.
    *      Only partitions holding a changed doc are rewritten;
    *   3. ledger reset.
    *
    * Equals [[refreshCounts]] exactly on both tables (ContainIndexSpec
    * differential), and untouched partitions are not rewritten
    * (byte-identical files — spec-pinned). Returns (posting partitions
    * rewritten, doc partitions rewritten).
    */
  def refreshCountsPartial(spark: SparkSession, tag: String): (Long, Long) =
    refreshCountsPartial(spark, tag, BucketedStore.touchedPartitions(spark,
      touched(tag), ngrams(tag), BandIndex.bucketsOf(spark, ngramT(tag))))

  private def refreshCountsPartial(spark: SparkSession, tag: String,
                                   touchedPbs: Seq[Int]): (Long, Long) = {
    val ngT = ngramT(tag)
    val dcT = docT(tag)
    touched(tag).ensure(spark)
    val nb = BandIndex.bucketsOf(spark, ngT)
    if (touchedPbs.isEmpty) return (0L, 0L)
    // 1. posting df re-level, partition-pruned (the
    // BucketedStore.relevelPartitions shape, inlined because leg 2 below
    // is NOT that shape and the ledger must only clear after BOTH)
    val stagedNg = ngrams(tag).rows(BandIndex.withKeyCount(
        spark.table(ngT).filter(col("pb").isin(touchedPbs: _*))
          .select(col("g1"), col("doc_id"), col("na")),
        Seq("g1"), "df"), nb)
      .localCheckpoint()
    BucketedStore.overwritePartitionsDynamic(spark, stagedNg, ngT)
    // 2. oc re-level: exact over-cap counts off the now-exact df
    val ocExact = spark.table(ngT)
      .filter(col("df") > DedupQueries.ContainDfCap)
      .groupBy("doc_id").agg(count(lit(1)).as("oc_x"))
    val changedPds = spark.table(dcT).select("doc_id", "oc", "pd")
      .join(ocExact, Seq("doc_id"), "left")
      .filter(col("oc") =!= coalesce(col("oc_x"), lit(0L)))
      .select(col("pd").cast("int"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (changedPds.nonEmpty) {
      val stagedDc = spark.table(dcT)
        .filter(col("pd").isin(changedPds: _*))
        .select("doc_id", "ng", "na", "pd")
        .join(ocExact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ng"), col("na"),
          coalesce(col("oc_x"), lit(0L)).as("oc"), col("pd"))
        .localCheckpoint()
      BucketedStore.overwritePartitionsDynamic(spark, stagedDc, dcT)
    }
    touched(tag).clear(spark)
    (touchedPbs.size.toLong, changedPds.size.toLong)
  }

  /** The family's re-level POLICY verb ([[BucketedStore.relevelBy]]).
    * Returns (path, touched fraction, partitions rewritten — posting +
    * doc partitions summed for the partial path).
    */
  def relevel(spark: SparkSession, tag: String): (String, Double, Long) =
    BucketedStore.relevelBy(spark, touched(tag), ngrams(tag)) { parts =>
      val (ng, dc) = refreshCountsPartial(spark, tag, parts)
      ng + dc
    }(refreshCounts(spark, tag))

  /** Takedown maintenance (r15 verdict #1, dual of [[append]]): remove
    * every posting and doc-array row of `docIds`. A deleted doc can
    * never be emitted as a candidate or verified as a match again —
    * its postings AND its n-gram array are gone. Surviving counts go
    * stale in the DUAL direction of append's batch-local lower bounds:
    *   - posting `df` becomes a stale UPPER bound (it counted deleted
    *     docs), so the `df <= cap` candidate restriction may SKIP an
    *     n-gram deletion brought back under the cap — cost-safe but
    *     recall-lossy at the cap margin (append's lower bound erred the
    *     recall-safe way; the two verbs bracket the truth);
    *   - doc-array `oc` becomes a stale UPPER bound, so the support
    *     prefilter's `bound − min(oca, ocb)` threshold drops — MORE
    *     candidates pass, recall-safe and cost-unsafe (same direction
    *     as append here: oc only ever over-subtracts).
    * [[refreshCounts]] re-levels both, after which [[probe]] ==
    * rebuild-over-survivors exactly (ContainIndexSpec differential on
    * the serving face). Survivors staged (localCheckpoint); the
    * doc-array table — written second at build — drops FIRST
    * ([[BucketedStore.deleteBoth]]: the crash order and the
    * `beforeWrites` gate). Returns (posting rows removed, doc-array
    * rows removed).
    */
  def delete(spark: SparkSession, docIds: DataFrame,
             tag: String,
             beforeWrites: () => Unit = () => ()): (Long, Long) =
    BucketedStore.deleteBoth(spark, docIds, tag, ngrams(tag), docs(tag),
      touched(tag), ngrams(tag), beforeWrites)

  /** What the df cap silently excludes from candidate generation on
    * the stored index: (over-cap distinct n-grams, posting rows inside
    * them). Scan-only — `df` is a stored column — so the pipeline can
    * surface every silent cap as a report line (the hot-bucket-audit
    * convention).
    */
  def capAudit(spark: SparkSession, tag: String,
               cap: Int = DedupQueries.ContainDfCap): (Long, Long) = {
    val r = spark.table(ngramT(tag))
      .filter(col("df") > cap)
      .agg(count_distinct(col("g1")).as("n_grams"),
        count(lit(1)).as("n_rows"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Derived bucket count this tag was built with — a report-row
    * metric (the sizing choice must be visible).
    */
  def buckets(spark: SparkSession, tag: String): Int =
    BandIndex.bucketsOf(spark, ngramT(tag))

  /** Whether the stored index for `tag` is fully cataloged (the
    * IvfIndex convention) AT the current vintage: both tables must
    * carry the r17 pb/pd partition mirrors the maintenance verbs
    * require ([[BucketedStore.partitionedBy]]) — a pre-mirror store
    * reads as absent and self-heals via buildOrLoad.
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    BucketedStore.partitionedBy(spark, ngramT(tag), "pb") &&
      BucketedStore.partitionedBy(spark, docT(tag), "pd")

  /** The probe — ONE definition shared by the declared incremental
    * query and the streaming ingest face, so batch and stream cannot
    * drift. `newG` carries the arriving docs' (doc_id, ng); `postings`
    * / `docArrays` are the stored tables. Returns each arriving doc's
    * best standing match at containment >= tau: (doc_id, match_id,
    * containment, jaccard).
    *
    * Shape: candidates from the df-capped posting join (pushed `df <=
    * cap` predicate, index scan-only), support-prefiltered with the
    * SOUND integer bound (see q_dedup_containment — the emitted set is
    * unchanged by it), exact set-intersection verify against the
    * stored arrays (doc_id-bucketed — scan-only on the verify key),
    * best match by (containment desc, match_id asc). Only the arriving
    * batch shuffles.
    */
  def probe(newG: DataFrame, postings: DataFrame,
            docArrays: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = DedupQueries.ContainDfCap
    val ninv = newG.select(col("doc_id"), size(col("ng")).as("naa"),
      explode(col("ng")).as("g1"))
    // arriving docs' over-cap counts, judged on STANDING df (an n-gram
    // absent from the index has no standing df — it is neither rare
    // nor shared, so it contributes to neither side of the bound)
    val overG = postings.filter(col("df") > cap).select("g1").distinct()
    val nocs = ninv.join(overG, "g1")
      .groupBy("doc_id").agg(count(lit(1)).as("oca"))
    val post = postings.filter(col("df") <= cap)
      .select(col("g1"), col("doc_id").as("match_id"), col("na").as("nab"))
    val pairs = ninv.join(post, "g1")
      .groupBy(col("doc_id"), col("match_id"), col("naa"), col("nab"))
      .agg(count(lit(1)).as("support"))
    val socs = docArrays.select(col("doc_id").as("match_id"),
      col("oc").as("ocb"))
    val cand = pairs
      .join(broadcast(nocs.select(col("doc_id"), col("oca"))), Seq("doc_id"),
        "left")
      .join(socs, "match_id")
      .filter(col("support") >= greatest(lit(1),
        expr(DedupQueries.containSupportBound("least(naa, nab)")) -
          least(coalesce(col("oca"), lit(0L)), col("ocb"))))
      .select("doc_id", "match_id")
    val a = newG.select(col("doc_id"), col("ng").as("nga"))
    val b = docArrays.select(col("doc_id").as("match_id"),
      col("ng").as("ngb"))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("cont").desc, col("match_id").asc)
    cand.join(a, "doc_id").join(b, "match_id")
      .withColumn("inter", size(array_intersect(col("nga"), col("ngb"))))
      .withColumn("cont", col("inter").cast("double") /
        least(size(col("nga")), size(col("ngb"))))
      .filter(col("cont") >= DedupQueries.ContainTau)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("match_id"),
        round(col("cont"), 6).as("containment"),
        round(col("inter").cast("double") /
          (size(col("nga")) + size(col("ngb")) - col("inter")), 6)
          .as("jaccard"))
      .orderBy("doc_id")
  }
}
