package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Stored learned-tokenizer artifact — the EIGHTH stored family (band
  * index, span sets, chunk store, IVF, PQ, containment index, media
  * sigs, now BPE): the merge table and the (distinct word →
  * segmentation) map that every encode-side consumer replays,
  * materialized as tables instead of re-derived per session. A training
  * run SHIPS its tokenizer: the merge rules are the model's text
  * interface, and the segmentation map is the corpus-scale encode
  * pass's broadcast side — both belong on disk with the other learned
  * state, not in a session memo (r12 verdict #2: the 10-round merge
  * replay was the bench's 5th most expensive query when every session
  * re-learned it; stored, the steady-state encode face is a scan).
  *
  * Two tables per corpus snapshot:
  *
  *   - `<tag>_bpemerges` (merge_rank, lhs, rhs, pair_count) — tiny
  *     (one row per learned merge), plain table; rank order IS the
  *     apply order.
  *   - `<tag>_bpesegs`   (word, cnt, syms) — the final vocabulary
  *     state with every merge applied, bucketed by word (the encode
  *     join's key).
  *
  * The tag embeds the merge budget, so a budget change builds a new
  * artifact rather than silently reading one learned differently (the
  * PqStore geometry convention). Build runs the SAME driver loop as
  * the declared queries' oracle replay ([[BpeQueries.learnAndApply]] —
  * one definition, no drift).
  *
  * Maintenance: [[append]] ENCODES a new batch against the standing
  * merge table ([[BpeQueries.applyMerges]] — the apply half of the
  * learn loop, no argmax) and inserts segmentation rows for words the
  * map has never seen; standing words keep their rows (their stored
  * cnt stays learn-vintage — it only matters for retraining, and
  * retraining is [[rebuild]]). Like a PQ codebook, learned merges
  * CANNOT be incrementally refreshed from the artifact: pair counts of
  * the original corpus are consumed by the loop. Retraining is a
  * rebuild from the corpus — exactly how production tokenizers are
  * versioned (retrain offline, swap, re-encode) — so this family
  * deliberately has no `refresh*` that pretends otherwise.
  */
object BpeStore {

  /** Budget-embedding tag (the IvfIndex/PqStore convention): a budget
    * change builds a NEW artifact — r14's merge-budget sweep reads
    * several geometry tags side by side with zero cross-tag reads
    * (BpeStoreSpec pins the isolation).
    */
  def tag(dir: String): String = tag(dir, BpeQueries.NumMerges)

  def tag(dir: String, merges: Int): String =
    BandIndex.tag(dir, s"bpe$merges")

  private def mergesT(tag: String) = s"${tag}_bpemerges"
  private def segsT(tag: String) = segs(tag).name
  private def segs(tag: String) = BucketedStore.Table(s"${tag}_bpesegs",
    Seq("word", "cnt", "syms"), Seq("word"))

  /** Every table this family stores for `tag` (r16 ADVICE #2: reset
    * paths reuse this so they cannot drift from the layout).
    */
  def tables(tag: String): Seq[String] = Seq(mergesT(tag), segsT(tag))

  /** Derived bucket count this tag was built with (report-row metric). */
  def buckets(spark: SparkSession, tag: String): Int =
    BandIndex.bucketsOf(spark, segsT(tag))

  /** Materialize (or reuse, if already cataloged this session) the
    * tokenizer artifact for `docs` under `tag`. Returns
    * (merges, segmentations) as reads of the stored tables.
    */
  def buildOrLoad(spark: SparkSession, docs: DataFrame, tag: String,
                  log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
                  numMerges: Int = BpeQueries.NumMerges
                 ): (DataFrame, DataFrame) = {
    val (mT, sT) = (mergesT(tag), segsT(tag))
    // both-tables gate (MediaSigStore convention): any partial state —
    // crash between writes or an external drop of either table —
    // self-heals by rebuilding.
    if (!(spark.catalog.tableExists(mT) && spark.catalog.tableExists(sT))) {
      BucketedStore.dropStaleLocations(spark, Seq(mT, sT))
      val (merges, vFinal) = BpeQueries.learnAndApplyDocs(docs, numMerges)
      try {
        import spark.implicits._
        merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
          .write.mode(SaveMode.Overwrite).saveAsTable(mT)
        val buckets = BandIndex.derivedBuckets(vFinal.count())
        segs(tag).write(vFinal, buckets)
      } finally { vFinal.unpersist(); Checkpoints.free(vFinal) }
      // Build-time audit: the numbers that decide whether the merge
      // table is worth shipping (q_bpe_encode's metrics, as a log line).
      val (w, ch, sy) = segStats(spark, tag)
      val msg = s"merges=${merges.size} vocab_words=$w chars=$ch syms=$sy"
      log.info(sT, "bpe_store_build", msg)
    }
    (spark.table(mT), spark.table(sT))
  }

  /** (vocab words, corpus-weighted chars, corpus-weighted symbols) off
    * the stored segmentation table — ONE aggregate shared by the
    * build-time audit and the pipeline's report row (vocab-grain scan,
    * trivial at any corpus scale).
    */
  def segStats(spark: SparkSession, tag: String): (Long, Long, Long) = {
    val r = spark.table(segsT(tag)).agg(
      count(lit(1)),
      coalesce(sum(col("cnt") * length(col("word"))), lit(0L)),
      coalesce(sum(col("cnt") * size(col("syms"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Stored merge list in rank order — the apply-order input of
    * [[BpeQueries.applyMerges]]. Merge tables are tiny by construction
    * (one row per learned merge; 30k–50k in production), so this is a
    * sanctioned constant-size driver fetch, not a corpus collect.
    */
  def mergeList(spark: SparkSession, tag: String): Seq[(String, String)] =
    spark.table(mergesT(tag)).orderBy("merge_rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Daily-ingest maintenance: encode `newDocs` against the STANDING
    * merge table and insert segmentation rows for words the stored map
    * has never seen (insertInto preserves the bucket spec). Standing
    * words keep their rows; the merge table is not retrained — see the
    * class doc for why tokenizer "refresh" is [[rebuild]].
    */
  def append(spark: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    val (mT, sT) = (mergesT(tag), segsT(tag))
    require(spark.catalog.tableExists(mT) && spark.catalog.tableExists(sT),
      s"append target $tag does not exist — buildOrLoad first")
    val unseen = BpeQueries.vocabOf(newDocs)
      .join(spark.table(sT).select("word"), Seq("word"), "left_anti")
    val segs = BpeQueries.applyMerges(unseen, mergeList(spark, tag))
    try {
      segs.select(col("word"), col("cnt"), col("syms"))
        .write.insertInto(sT)
    } finally { segs.unpersist(); Checkpoints.free(segs) }
  }

  /** Offline retrain: drop both tables and rebuild from the corpus —
    * the only honest tokenizer "refresh" (merge learning consumes the
    * corpus pair counts; see class doc).
    */
  def rebuild(spark: SparkSession, docs: DataFrame, tag: String,
              log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent
             ): (DataFrame, DataFrame) = {
    Seq(mergesT(tag), segsT(tag)).foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS $x"))
    buildOrLoad(spark, docs, tag, log)
  }
}
