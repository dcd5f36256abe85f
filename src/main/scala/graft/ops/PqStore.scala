package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Stored product-quantization artifact — the fifth stored family
  * (band index, span sets, chunk store, IVF index, now PQ): the
  * sub-codebooks and the encoded corpus that `q_embedding_pq` scores
  * by asymmetric distance, materialized as tables instead of re-derived
  * per run. At 100 TB the codes table IS the point: M·log2(k) bits +
  * a 4 B norm per vector against 4·Dim bytes of float32 (21× at the
  * r13 default M=8, k=256, Dim=64), it is what stays resident for the
  * ADC scan while full-precision vectors are touched only by the
  * final re-rank.
  *
  * Two tables per corpus snapshot:
  *
  *   - `<tag>_pqcodebook` (sub, code, cv)       PqM×PqK rows, plain
  *   - `<tag>_pqcodes`    (vec_id, nrm, codes)  bucketed by vec_id
  *
  * The tag embeds the geometry (M×K), so a geometry change builds a
  * new artifact rather than silently reading one quantized differently
  * (the IvfIndex nCells convention). Build runs the SAME derivation as
  * the declared query's oracle replay ([[SimilarityQueries
  * .buildPqCodebook]]/[[SimilarityQueries.encodePq]] — one definition,
  * no drift), once per (session, snapshot) keyed by catalog presence.
  *
  * Maintenance mirrors IvfIndex: [[append]] encodes a new batch
  * against the EXISTING codebook and inserts its code rows — the
  * codebook goes stale as appended data drifts, the family's documented
  * staleness bound. Unlike IVF centroids, a PQ codebook CANNOT be
  * refreshed from the stored artifact alone: codes are lossy, the
  * original vectors are gone. Retraining is a rebuild from the corpus
  * ([[rebuild]]) followed by re-encoding everything — which is exactly
  * how production PQ systems schedule it (retrain offline, swap the
  * index) — so this family deliberately has no `refresh*` that
  * pretends otherwise.
  */
object PqStore {

  /** Geometry-embedding tag (the IvfIndex convention). `k` is the
    * per-subspace codebook size — the r13 sweep builds a second store
    * at the published k=256 point beside the default, and the tag
    * keeps the two geometries from ever reading each other's codes.
    */
  def tag(dir: String, k: Int = SimilarityQueries.PqK): String =
    BandIndex.tag(dir, s"pq${SimilarityQueries.PqM}x$k")

  private def cbT(tag: String) = s"${tag}_pqcodebook"
  private def codesT(tag: String) = codes(tag).name
  private def codes(tag: String) = BucketedStore.Table(s"${tag}_pqcodes",
    Seq("vec_id", "nrm", "codes"), Seq("vec_id"))

  /** Every table this family stores for `tag` (r16 ADVICE #2: reset
    * paths reuse this so they cannot drift from the layout).
    */
  def tables(tag: String): Seq[String] = Seq(cbT(tag), codesT(tag))

  /** Derived bucket count this tag was built with (report-row metric). */
  def buckets(spark: SparkSession, tag: String): Int =
    BandIndex.bucketsOf(spark, codesT(tag))

  /** Whether the stored artifact for `tag` is fully cataloged (the
    * IvfIndex convention).
    */
  def exists(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(cbT(tag)) &&
      spark.catalog.tableExists(codesT(tag))

  /** Materialize (or reuse, if already cataloged this session) the PQ
    * artifact for the corpus at `dir`. Returns (codebook, codes) as
    * reads of the stored tables.
    */
  def buildOrLoad(spark: SparkSession, dir: String,
                  log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
                  targetRowsPerBucket: Long = BandIndex.TargetRowsPerBucket,
                  k: Int = SimilarityQueries.PqK
                 ): (DataFrame, DataFrame) = {
    val t = tag(dir, k)
    val (bT, cT) = (cbT(t), codesT(t))
    // both-tables gate (MediaSigStore convention, backported r12): any
    // partial state — crash between writes or an external drop of either
    // table — self-heals by rebuilding.
    if (!(spark.catalog.tableExists(bT) && spark.catalog.tableExists(cT))) {
      BucketedStore.dropStaleLocations(spark, Seq(bT, cT))
      // One code row per vector: bucket derivation is the parquet
      // count — metadata-only, no extra corpus pass.
      val buckets = BandIndex.derivedBuckets(
        graft.Tables.t(spark, dir, "embeddings").count(), targetRowsPerBucket)
      val n = SimilarityQueries.normalizedCorpus(spark, dir)
      val cb = SimilarityQueries.buildPqCodebook(n, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        cb.write.mode(SaveMode.Overwrite).saveAsTable(bT)
        codes(t).write(SimilarityQueries.encodePq(n, cb), buckets)
      } finally cb.unpersist()
      // Build-time audit: code utilization decides quantization error —
      // a subspace collapsing onto few codes wastes its bits and
      // deserves a loud line (the hot-bucket convention inverted).
      val (nVec, worstUsed) = codeStats(spark, t)
      val msg = s"m=${SimilarityQueries.PqM} k=$k " +
        s"vectors=$nVec worst_subspace_codes_used=$worstUsed"
      if (worstUsed * 2 < k)
        log.warn(cT, "pq_store_build", msg)
      else log.info(cT, "pq_store_build", msg)
    }
    (spark.table(bT), spark.table(cT))
  }

  /** (total vectors, codes used by the WORST-utilized subspace) off the
    * stored codes — the quantizer-health audit for logs/report rows.
    */
  def codeStats(spark: SparkSession, tag: String): (Long, Long) = {
    val enc = spark.table(codesT(tag))
      .select(posexplode(col("codes")).as(Seq("sub", "code")))
      .groupBy("sub").agg(countDistinct(col("code")).as("u"))
      .agg(coalesce(min(col("u")), lit(0L)).as("worst"))
      .collect()(0).getLong(0)
    (spark.table(codesT(tag)).count(), enc)
  }

  /** Daily-ingest maintenance: encode `newVectors` (vec_id, v, nrm)
    * against the EXISTING stored codebook and append their code rows
    * (insertInto preserves the bucket spec). The codebook is not
    * retrained — see the class doc for why PQ refresh is [[rebuild]].
    */
  def append(spark: SparkSession, newVectors: DataFrame, tag: String): Unit = {
    val (bT, cT) = (cbT(tag), codesT(tag))
    require(spark.catalog.tableExists(bT) && spark.catalog.tableExists(cT),
      s"append target $tag does not exist — buildOrLoad first")
    SimilarityQueries.encodePq(newVectors, spark.table(bT))
      .write.insertInto(cT)
  }

  /** Takedown maintenance (r15 verdict #1): remove `vecIds`' code rows.
    * Codes are per-vector facts encoded against the shared codebook, so
    * the CODES table is exact immediately: post-delete it equals
    * `encodePq(survivors, codebook)` row for row (PqStoreSpec
    * differential), and a deleted vector can never appear in an ADC
    * shortlist again — its code row is gone. The CODEBOOK is untouched:
    * it was trained on a corpus that included the deleted vectors, the
    * same model-grain drift as [[append]]'s un-retrained codebook; the
    * exactness follow-up is [[rebuild]] (retrain + re-encode), as the
    * class doc argues for every codebook change. The rewrite is
    * [[BucketedStore.Table.deleteIds]]; `beforeWrites` is its write
    * gate. Returns code rows removed.
    */
  def delete(spark: SparkSession, vecIds: DataFrame, tag: String,
             beforeWrites: () => Unit = () => ()): Long = {
    require(spark.catalog.tableExists(cbT(tag)) &&
      spark.catalog.tableExists(codesT(tag)),
      s"delete target $tag does not exist — buildOrLoad first")
    codes(tag).deleteIds(spark, vecIds, "vec_id", beforeWrites)
  }

  /** Offline retrain: drop both tables and rebuild from the corpus —
    * the only honest PQ "refresh" (codes are lossy; see class doc).
    */
  def rebuild(spark: SparkSession, dir: String,
              log: graft.etl.MigrationLog = graft.etl.MigrationLog.silent,
              k: Int = SimilarityQueries.PqK
             ): (DataFrame, DataFrame) = {
    val t = tag(dir, k)
    Seq(cbT(t), codesT(t)).foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS $x"))
    buildOrLoad(spark, dir, log, k = k)
  }
}
