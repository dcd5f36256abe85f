package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The end-to-end migration pipeline — Spark-first re-expression of the
  * reference's full trace (SURVEY.md §3.1, ETLAlchemyTarget.py::migrate +
  * ETLAlchemySource.py::migrate):
  *
  *   reflect -> [per table] profile -> standardize -> schema rules ->
  *   write -> add_indexes (layout advice) -> add_fks (validation) -> report
  *
  * Key divergences from upstream, all deliberate and scale-driven:
  *   - tables run CONCURRENTLY (upstream is a serial Python loop; Spark's
  *     scheduler interleaves independent jobs submitted from Futures)
  *   - no whole-table driver materialization (upstream fetchall()s every
  *     table into RAM — its known scalability ceiling); everything stays
  *     partitioned on executors
  *   - staging is columnar parquet, not /tmp CSV; constraint phase becomes
  *     validation (orphan counts) since Spark has no FK DDL
  *   - deferred-constraint ordering (E3) is preserved: all writes finish
  *     before any FK validation runs; validation is then ONE action —
  *     every edge of a child table in one fused scan, all child tables
  *     unioned
  *   - the takedown's family deletes overlap ([[deleteDocs]]), while the
  *     re-levels stay sequential ([[relevelArtifacts]]: their partial
  *     paths flip a session-global conf)
  */
object Pipeline {

  final case class SourceConfig(
      dir: String,
      includedTables: Seq[String] = Nil, // empty = all (B7)
      excludedTables: Seq[String] = Nil,
      rules: Map[String, SchemaRules] = Map.empty, // per-table (B2-B5)
      tableRenames: Map[String, String] = Map.empty, // B6
      skipTableIfEmpty: Boolean = false, // B9
      skipColumnIfEmpty: Boolean = false, // B8
      compressVarchar: Boolean = false, // B10
      standardizeTypes: Boolean = true) // B1

  final case class ForeignKey(
      childTable: String, childCol: String,
      parentTable: String, parentCol: String)

  /** Post-load artifact phase — the reference's add_indexes slot
    * (`ETLAlchemySource.py::add_indexes` ~L1150): after all tables are
    * written, build the stored query artifacts and read-optimized
    * layouts FROM the written tables, and surface every silent cap /
    * threshold as a report row.
    *
    *   - `bandIndexTables`: MinHash band index ([[graft.ops.BandIndex]]
    *     table pair; table must carry doc_id + text); report row carries
    *     the hot-bucket-cap audit (what the cap will skip).
    *   - `spanSetTables`: duplicated-span artifact
    *     ([[graft.ops.SpanSet]]; doc_id + source + text); report row
    *     carries the distinct/duplicated span counts.
    *   - `charSpanTables`: CHARACTER-winnow duplicated-substring
    *     artifact (the [[graft.ops.SpanSet]] skeleton, charspans role;
    *     doc_id + source + text); same report shape as `spanSetTables`.
    *   - `chunkStoreTables`: stored chunk table
    *     ([[graft.ops.ChunkStore]]; doc_id + text); report row carries
    *     chunk count + derived buckets.
    *   - `scrubTables`: span-scrubbed CLEANED corpus
    *     ([[graft.ops.SpanDedup.scrubbed]] against the SpanSet
    *     duplicated-span set; doc_id + source + text):
    *     `<t>_scrubbed.parquet` with per-doc counts + scrubbed text —
    *     the output a training pipeline consumes; report row carries
    *     corpus-wide removed-token totals.
    *   - `manifestTables`: per-source reproducibility receipt
    *     ([[graft.ops.GovernanceQueries]] manifest semilattice; table
    *     must carry doc_id/text/lang/source): `<t>_manifest.parquet` —
    *     order-invariant content fingerprints + the '*total*' row; the
    *     next run diffs receipts (corpusDiff) instead of re-reading
    *     the corpus, and the streaming face folds ingest batches into
    *     the same receipt (manifestBatch/manifestMerge).
    *   - `imageSigTables` / `audioSigTables`: stored media perceptual
    *     signatures ([[graft.ops.MediaSigStore]], imgsig/audsig roles;
    *     table must carry doc_id): the decode+hash pass paid once,
    *     band postings bucketed on the single packed band key for
    *     exchange-free candidate joins and ingest probes.
    *   - `shuffleShardTables`: shard-major training-order
    *     materialization ([[Layout.writeShardMajor]] over
    *     [[graft.ops.SampleQueries.shuffleShardPerm]]; table must carry
    *     doc_id): `<t>_shards.parquet/shard=K/` file groups whose
    *     listing-order read replays the exact global permutation
    *     q_shuffle_shard declares (ShardReplaySpec).
    *   - `packTables`: the PACKED training artifact — the composition
    *     the two entries above build toward
    *     ([[graft.ops.PackingQueries.packedSequences]] over the
    *     shard-major permutation, budget
    *     [[graft.ops.PackingQueries.ArtifactBudget]]):
    *     `<t>_packed.parquet/shard=K/` sequence rows (token arrays +
    *     counts + fingerprints) whose loader-order read replays the
    *     exact permutation token stream (PackedReplaySpec) — the epoch
    *     input a trainer streams. Report row carries sequence count +
    *     measured padding fraction of the WRITTEN files (which must
    *     match q_packing_waste's packed column at this budget).
    *   - `lexIndexTables`: stored BM25 inverted index
    *     ([[graft.ops.LexIndex]], the ninth family; table must carry
    *     doc_id + text): term-bucketed postings with build-time df/dl
    *     plus the 1-row corpus stats, so lexical retrieval — q_bm25,
    *     the ingest-time score face — serves scan-only like ANN does.
    *     Report row carries posting/doc/term counts and buckets.
    *   - `buildTrainReady`: the CURATED-MIX packed artifact (r13
    *     verdict #1 — the end-to-end composition): funnel-kept docs
    *     ordered by the survivor-derived mixture stride schedule, fed
    *     through [[graft.ops.PackingQueries.packedSequences]] and
    *     written shard-major as
    *     `documents_train_ready.parquet/shard=K/` (q_train_ready's
    *     relation materialized; TrainReadySpec proves loader replay +
    *     the packed-docs == funnel-kept-set invariant). Report row
    *     carries kept docs, sequence count, measured padding.
    *   - `bpeTables`: stored learned tokenizer ([[graft.ops.BpeStore]],
    *     the eighth family; table must carry text): the merge table +
    *     (word → segmentation) map written once at pipeline time so
    *     every downstream encode pass — the declared q_bpe_* queries,
    *     the streaming face, a trainer's corpus tokenization — reads
    *     the learned artifact instead of replaying the merge loop.
    *     Report row carries merge count, vocabulary size, buckets, and
    *     the corpus-weighted compression the table achieves.
    *   - `zOrder`: table -> (c1, c2) two-dimensional Z-order layout
    *     written alongside the row table ([[Layout.writeZOrdered]]).
    *   - `compact`: table -> sort key small-files compaction
    *     ([[Compaction.compact]]).
    */
  final case class ArtifactConfig(
      bandIndexTables: Seq[String] = Nil,
      spanSetTables: Seq[String] = Nil,
      charSpanTables: Seq[String] = Nil, // char-winnow substring artifact
      chunkStoreTables: Seq[String] = Nil, // stored chunk table (RAG keys)
      containIndexTables: Seq[String] = Nil, // stored containment index
      shuffleShardTables: Seq[String] = Nil, // shard-major training order
      packTables: Seq[String] = Nil, // packed training sequences (epoch input)
      scrubTables: Seq[String] = Nil, // span-scrubbed cleaned corpus
      manifestTables: Seq[String] = Nil, // per-source receipt (q_corpus_manifest)
      imageSigTables: Seq[String] = Nil, // stored image dHash signatures
      audioSigTables: Seq[String] = Nil, // stored audio level signatures
      videoSigTables: Seq[String] = Nil, // stored video folded-dHash sigs
      bpeTables: Seq[String] = Nil, // stored learned tokenizer (BpeStore)
      lexIndexTables: Seq[String] = Nil, // stored BM25 inverted index
      buildTrainReady: Boolean = false, // curated-mix packed artifact (docs)
      buildIvfIndex: Boolean = false, // stored IVF over embeddings.parquet
      buildPqStore: Boolean = false, // stored PQ codes over embeddings.parquet
      zOrder: Map[String, (String, String)] = Map.empty,
      compact: Map[String, String] = Map.empty,
      compactTargetBytes: Long = 128L * 1024 * 1024,
      shardFiles: Int = 16, // total file budget for shuffleShardTables
      hotBucketCap: Int = graft.ops.DedupQueries.HotBucketCap) {
    def isEmpty: Boolean =
      bandIndexTables.isEmpty && spanSetTables.isEmpty &&
        charSpanTables.isEmpty && chunkStoreTables.isEmpty &&
        containIndexTables.isEmpty && shuffleShardTables.isEmpty &&
        packTables.isEmpty &&
        scrubTables.isEmpty && manifestTables.isEmpty &&
        imageSigTables.isEmpty &&
        audioSigTables.isEmpty && videoSigTables.isEmpty &&
        bpeTables.isEmpty && lexIndexTables.isEmpty && !buildTrainReady &&
        !buildIvfIndex && !buildPqStore &&
        zOrder.isEmpty && compact.isEmpty
  }

  final case class TableResult(
      table: String,
      outputName: String,
      rowsIn: Long,
      rowsOut: Long,
      droppedColumns: Seq[String],
      conversions: Seq[TypeStandardizer.ConversionLog],
      skipped: Boolean,
      wallSeconds: Double)

  /** Discover tables in a directory of `<name>.parquet` (the analogue of
    * MetaData().reflect — parquet is self-describing, A2).
    */
  def reflectTables(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .sorted.toSeq
  }

  /** Migrate one table: profile (one pass) -> drop all-null cols (B8) ->
    * narrow types (B1/C1) -> apply schema rules (B2-B5) -> write parquet.
    */
  def migrateTable(
      spark: SparkSession,
      cfg: SourceConfig,
      table: String,
      outDir: String,
      log: MigrationLog = MigrationLog.silent): TableResult =
    migrateWithSchema(spark, cfg, table, outDir, log)._1

  /** [[migrateTable]] plus the schema it wrote (None when skipped), so
    * the FK phase reads the written files without a parquet
    * schema-inference job per read.
    */
  private def migrateWithSchema(
      spark: SparkSession,
      cfg: SourceConfig,
      table: String,
      outDir: String,
      log: MigrationLog): (TableResult, Option[StructType]) = {
    val t0 = System.nanoTime()
    val outName = cfg.tableRenames.getOrElse(table, table)
    log.info(table, "migrate", s"start -> $outName")
    val df = spark.read.parquet(s"${cfg.dir}/$table.parquet")
    val prof = Profiler.profile(df)

    if (cfg.skipTableIfEmpty && prof.rowCount == 0L) {
      log.info(table, "migrate", "skipped: empty table (B9)")
      return (TableResult(table, outName, 0L, 0L, Nil, Nil, skipped = true,
        (System.nanoTime() - t0) / 1e9), None)
    }

    val allNull =
      if (cfg.skipColumnIfEmpty)
        prof.columns.filter(_.isAllNull(prof.rowCount)).map(_.name)
      else Nil
    val pruned = if (allNull.nonEmpty) df.drop(allNull: _*) else df

    val (standardized, conv) =
      if (cfg.standardizeTypes) TypeStandardizer.standardize(pruned, prof)
      else (pruned, Nil)

    val transformed =
      cfg.rules.get(table).map(_.apply(standardized)).getOrElse(standardized)

    log.timed(table, "write") {
      transformed.write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$outName.parquet")
    }
    if (allNull.nonEmpty)
      log.info(table, "migrate", s"dropped all-null cols: ${allNull.mkString(",")}")
    log.info(table, "migrate", s"done rows=${prof.rowCount}")

    (TableResult(table, outName, prof.rowCount, prof.rowCount,
      allNull, conv, skipped = false, (System.nanoTime() - t0) / 1e9),
      Some(transformed.schema))
  }

  /** Build the configured artifacts from the WRITTEN tables (call after
    * all loads — the E3 ordering the reference applies to its index
    * phase). One report row per artifact; silent caps become metrics.
    *
    * Tag contract: artifacts are tagged EXACTLY as their consumers
    * derive them for a corpus directory — `BandIndex.tag(outDir,
    * "full")` (the ingest-time stream probe's whole-corpus index) and
    * `SpanSet.tag(outDir)` (the span queries' artifact) — so the phase
    * pre-pays the build that queries and streaming probes against
    * `outDir` then reuse via `tableExists`, instead of writing a
    * private copy nothing reads (the IVF branch always shared its query
    * tag; band/span now match it). One tag per corpus dir AND BUILD
    * POPULATION is the consumers' contract, hence at most one table per
    * family. The role names the population, because `buildOrLoad`
    * short-circuits on `tableExists` and would otherwise silently serve
    * whichever population built first: this index covers the FULL
    * written table (post-migration, the whole migrated corpus IS what
    * future arrivals dedup against), while `q_dedup_incremental`'s
    * probe target is the doc_id%10!=0 SUBSET and keeps its own role
    * "standing" — the r7 ADVICE cross-poisoning finding.
    */
  def artifactPhase(
      spark: SparkSession,
      outDir: String,
      a: ArtifactConfig,
      log: MigrationLog = MigrationLog.silent): Seq[Report.ArtifactResult] = {
    require(a.bandIndexTables.size <= 1 && a.spanSetTables.size <= 1 &&
      a.charSpanTables.size <= 1 && a.chunkStoreTables.size <= 1 &&
      a.containIndexTables.size <= 1 && a.imageSigTables.size <= 1 &&
      a.audioSigTables.size <= 1 && a.videoSigTables.size <= 1,
      "one band/span/charspan/chunk/contain/media-sig artifact per " +
        "corpus dir — consumers derive the tag from the dir alone, so " +
        "a second table would silently reuse the first table's artifact")
    // the scrub REUSES the SpanSet tag: a scrub table differing from the
    // span-set table would rewrite one population against another's
    // duplicated-span verdicts — the same cross-poisoning, one level up
    require((a.spanSetTables ++ a.scrubTables).distinct.size <= 1,
      "scrubTables and spanSetTables share the corpus dir's SpanSet " +
        "tag and must name the same single table")
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val band = a.bandIndexTables.map { t =>
      val tag = graft.ops.BandIndex.tag(outDir, "full")
      val ((skB, skR), secs) = timed {
        graft.ops.BandIndex.buildOrLoad(spark,
          spark.read.parquet(s"$outDir/$t.parquet"), tag)
        graft.ops.BandIndex.hotBucketAudit(spark, tag, a.hotBucketCap)
      }
      val msg = s"tag=$tag buckets=${graft.ops.BandIndex.buckets(spark, tag)} " +
        s"cap=${a.hotBucketCap} skipped_buckets=$skB skipped_rows=$skR"
      if (skB > 0) log.warn(t, "artifact band_index", msg)
      else log.info(t, "artifact band_index", msg)
      Report.ArtifactResult(t, "band_index", msg, skB, skR, secs)
    }
    val spans = a.spanSetTables.map { t =>
      val tag = graft.ops.SpanSet.tag(outDir)
      val ((nSpans, nDup), secs) = timed {
        graft.ops.SpanSet.buildOrLoad(spark,
          spark.read.parquet(s"$outDir/$t.parquet"), tag, log)
        graft.ops.SpanSet.spanAudit(spark, tag)
      }
      val msg = s"tag=$tag buckets=${graft.ops.SpanSet.buckets(spark, tag)} " +
        s"distinct_spans=$nSpans duplicated_spans=$nDup"
      log.info(t, "artifact span_set", msg)
      Report.ArtifactResult(t, "span_set", msg, 0L, 0L, secs)
    }
    val charSpans = a.charSpanTables.map { t =>
      val tag = graft.ops.SpanSet.charTag(outDir)
      val ((nSpans, nDup), secs) = timed {
        graft.ops.SpanSet.buildOrLoadChar(spark,
          spark.read.parquet(s"$outDir/$t.parquet"), tag, log)
        graft.ops.SpanSet.spanAudit(spark, tag)
      }
      val msg = s"tag=$tag buckets=${graft.ops.SpanSet.buckets(spark, tag)} " +
        s"distinct_fps=$nSpans duplicated_fps=$nDup"
      log.info(t, "artifact char_span_set", msg)
      Report.ArtifactResult(t, "char_span_set", msg, 0L, 0L, secs)
    }
    val chunks = a.chunkStoreTables.map { t =>
      val tag = graft.ops.ChunkStore.tag(outDir)
      val (n, secs) = timed {
        graft.ops.ChunkStore.buildOrLoad(spark,
          spark.read.parquet(s"$outDir/$t.parquet"), tag, log)
        spark.table(s"${tag}_chunks").count()
      }
      val msg = s"tag=$tag buckets=${graft.ops.ChunkStore.buckets(spark, tag)} " +
        s"chunks=$n"
      log.info(t, "artifact chunk_store", msg)
      Report.ArtifactResult(t, "chunk_store", msg, 0L, 0L, secs)
    }
    val contain = a.containIndexTables.map { t =>
      val tag = graft.ops.ContainIndex.tag(outDir, "cfull")
      val ((nGrams, nRows), secs) = timed {
        graft.ops.ContainIndex.buildOrLoad(spark,
          spark.read.parquet(s"$outDir/$t.parquet"), tag)
        graft.ops.ContainIndex.capAudit(spark, tag)
      }
      val msg = s"tag=$tag buckets=${graft.ops.ContainIndex.buckets(spark, tag)} " +
        s"cap=${graft.ops.DedupQueries.ContainDfCap} " +
        s"overcap_ngrams=$nGrams overcap_posting_rows=$nRows"
      if (nGrams > 0) log.warn(t, "artifact contain_index", msg)
      else log.info(t, "artifact contain_index", msg)
      Report.ArtifactResult(t, "contain_index", msg, nGrams, nRows, secs)
    }
    val ivf = if (!a.buildIvfIndex) Nil else {
      val n = spark.read.parquet(s"$outDir/embeddings.parquet").count()
      val cells = graft.ops.SimilarityQueries.derivedCells(n)
      val t = graft.ops.IvfIndex.tag(outDir, cells)
      // Split gating (r14 advice): splitHotCells runs ONLY when the
      // index pre-existed this call (built by an earlier migration /
      // grown by appends). A fresh Lloyd build on clustered data can
      // legitimately exceed the 2x-mean bound, and splitting at build
      // time would diverge the EXACT tag the declared oracle-checked
      // ANN queries (q_ann_ivf / q_ann_probe_sweep / q_ann_ivfpq) load
      // for this dir — fresh-build tags must stay oracle-faithful;
      // the split is maintenance for indexes that have LIVED.
      val preExisting = graft.ops.IvfIndex.exists(spark, t)
      val (_, secs) = timed {
        graft.ops.IvfIndex.buildOrLoad(spark, outDir, cells)
      }
      // balance maintenance (r13 verdict #3): split any cell grown past
      // 2x the mean on a PRE-EXISTING index; the report row carries the
      // receipt. A triggered split intentionally diverges the stored
      // index from the fresh-build assignment (the documented
      // IvfIndex.splitHotCells maintenance semantics). Timed INSIDE the
      // artifact's self-pricing (r14 review: the split's table rewrites
      // dominate exactly when it is load-bearing).
      val ((nSplit, maxBefore, maxAfter), splitSecs) = timed {
        if (preExisting) graft.ops.IvfIndex.splitHotCells(spark, t)
        else (0, -1L, -1L)
      }
      // ... and MERGE any cell starved below mean/2 (r14 verdict #7 —
      // the split's dual; same pre-existing gate, same documented
      // maintenance drift). Split runs first: the two act on disjoint
      // cells (> 2x mean vs < mean/2), and a split's fresh children
      // are ~half the parent — far above the cold bound.
      val ((nMerged, minBefore, minAfter), mergeSecs) = timed {
        if (preExisting) graft.ops.IvfIndex.mergeColdCells(spark, t)
        else (0, -1L, -1L)
      }
      val (nVec, nUsed, maxCell) = graft.ops.IvfIndex.cellStats(spark, t)
      // list balance decides probe cost: a corpus collapsing into few
      // cells, or one cell holding 30% of the vectors, quantizes badly
      val unbalanced =
        nUsed * 2 < cells || (nVec > 0 && maxCell * 10 > nVec * 3)
      val balanceMsg =
        if (!preExisting) "split=skipped_fresh_build merge=skipped_fresh_build"
        else s"split_cells=$nSplit max_before=$maxBefore max_after=$maxAfter " +
          s"merged_cells=$nMerged min_before=$minBefore min_after=$minAfter"
      val msg = s"tag=$t buckets=${graft.ops.IvfIndex.buckets(spark, t)} " +
        s"cells=$cells used=$nUsed vectors=$nVec max_cell=$maxCell $balanceMsg"
      if (nSplit > 0 || nMerged > 0 || unbalanced)
        log.warn("embeddings", "artifact ivf_index", msg)
      else log.info("embeddings", "artifact ivf_index", msg)
      Seq(Report.ArtifactResult("embeddings", "ivf_index", msg, 0L, 0L,
        secs + splitSecs + mergeSecs))
    }
    val pq = if (!a.buildPqStore) Nil else {
      val t = graft.ops.PqStore.tag(outDir)
      val (_, secs) = timed {
        graft.ops.PqStore.buildOrLoad(spark, outDir, log)
      }
      val (nVec, worstUsed) = graft.ops.PqStore.codeStats(spark, t)
      val msg = s"tag=$t buckets=${graft.ops.PqStore.buckets(spark, t)} " +
        s"vectors=$nVec worst_subspace_codes_used=$worstUsed"
      log.info("embeddings", "artifact pq_store", msg)
      Seq(Report.ArtifactResult("embeddings", "pq_store", msg, 0L, 0L, secs))
    }
    val zs = a.zOrder.toSeq.sortBy(_._1).map { case (t, (c1, c2)) =>
      val path = s"$outDir/${t}_zorder.parquet"
      val (_, secs) = timed {
        Layout.writeZOrdered(spark.read.parquet(s"$outDir/$t.parquet"),
          c1, c2, path)
      }
      val msg = s"cols=($c1,$c2) path=$path"
      log.info(t, "artifact zorder", msg)
      Report.ArtifactResult(t, "zorder", msg, 0L, 0L, secs)
    }
    val cps = a.compact.toSeq.sortBy(_._1).map { case (t, sortKey) =>
      val (r, secs) = timed {
        Compaction.compact(spark, s"$outDir/$t.parquet",
          s"$outDir/${t}_compacted.parquet", sortKey, a.compactTargetBytes)
      }
      val msg = s"files ${r.filesBefore} -> ${r.filesAfter} " +
        s"(${r.inputBytes} bytes, sort=$sortKey)"
      log.info(t, "artifact compaction", msg)
      Report.ArtifactResult(t, "compaction", msg, 0L, 0L, secs)
    }
    val scrubs = a.scrubTables.map { t =>
      // The cleaned corpus — the output a training pipeline actually
      // consumes (q_dedup_scrub is the declared proof of the same
      // rewrite). Builds/reuses the SpanSet artifact for this corpus
      // dir, then rewrites every doc against its duplicated-span set.
      val tag = graft.ops.SpanSet.tag(outDir)
      val path = s"$outDir/${t}_scrubbed.parquet"
      val ((nTok, nRem), secs) = timed {
        val docs = spark.read.parquet(s"$outDir/$t.parquet")
        graft.ops.SpanSet.buildOrLoad(spark, docs, tag, log)
        graft.ops.SpanDedup.scrubbed(docs,
          graft.ops.SpanSet.duplicatedSpans(spark, tag), Seq("source"))
          .write.mode(SaveMode.Overwrite).parquet(path)
        // coalesce: sum() over an empty scrubbed output is NULL, and
        // getLong on it would NPE the whole artifact phase for a
        // legitimately empty table
        val F = org.apache.spark.sql.functions
        val r = spark.read.parquet(path)
          .agg(F.coalesce(F.sum("n_tokens"), F.lit(0L)),
            F.coalesce(F.sum("n_removed"), F.lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      val msg = s"path=$path tokens=$nTok removed=$nRem " +
        f"removed_frac=${if (nTok > 0) nRem.toDouble / nTok else 0.0}%.4f"
      log.info(t, "artifact span_scrub", msg)
      Report.ArtifactResult(t, "span_scrub", msg, 0L, nRem, secs)
    }
    val manifests = a.manifestTables.map { t =>
      // The reproducibility receipt a run publishes next to its outputs
      // (q_corpus_manifest is the declared proof of the same receipt):
      // order-invariant per-source fingerprints + the '*total*' row —
      // the next run diffs receipts (corpusDiff is the follow-up when
      // they disagree) instead of re-reading the corpus.
      val path = s"$outDir/${t}_manifest.parquet"
      val ((nDocs, fpTot), secs) = timed {
        val docs = spark.read.parquet(s"$outDir/$t.parquet")
        graft.ops.GovernanceQueries.manifestFinalize(
            graft.ops.GovernanceQueries.manifestPartial(docs))
          .write.mode(SaveMode.Overwrite).parquet(path)
        val F = org.apache.spark.sql.functions
        // null-guard: on a legitimately empty table the total row's
        // sums are NULL (the empty-table NPE class)
        val r = spark.read.parquet(path)
          .filter(F.col("source") === "*total*").head()
        (if (r.isNullAt(r.fieldIndex("n_docs"))) 0L
         else r.getAs[Long]("n_docs"),
          Option(r.getAs[String]("content_fp")).getOrElse("0"))
      }
      val msg = s"path=$path docs=$nDocs content_fp=$fpTot"
      log.info(t, "artifact manifest", msg)
      Report.ArtifactResult(t, "manifest", msg, 0L, 0L, secs)
    }
    def mediaSig(tables: Seq[String], tagOf: String => String, kind: String,
                 sigFn: org.apache.spark.sql.DataFrame =>
                   org.apache.spark.sql.DataFrame) =
      tables.map { t =>
        val tag = tagOf(outDir)
        val (n, secs) = timed {
          val (sigs, _) = graft.ops.MediaSigStore.buildOrLoad(spark,
            spark.read.parquet(s"$outDir/$t.parquet"), tag, sigFn)
          sigs.count()
        }
        // surface what the hot-bucket cap will silently skip (the
        // BandIndex build-audit convention, on the media index)
        val (capB, capR) = graft.ops.MediaSigStore.hotBucketAudit(spark, tag)
        val msg = s"tag=$tag buckets=" +
          s"${graft.ops.MediaSigStore.buckets(spark, tag)} signatures=$n " +
          s"hot_bucket_cap=${graft.ops.DedupQueries.HotBucketCap} " +
          s"capped_buckets=$capB capped_rows=$capR"
        if (capB > 0) log.warn(t, s"artifact $kind", msg)
        else log.info(t, s"artifact $kind", msg)
        Report.ArtifactResult(t, kind, msg, capB, capR, secs)
      }
    val imgSigs = mediaSig(a.imageSigTables, graft.ops.MediaSigStore.imageTag,
      "image_sig_store", graft.ops.ImageDedup.dhashSigs)
    val audSigs = mediaSig(a.audioSigTables, graft.ops.MediaSigStore.audioTag,
      "audio_sig_store", graft.ops.AudioDedup.levelSigs)
    val vidSigs = mediaSig(a.videoSigTables, graft.ops.MediaSigStore.videoTag,
      "video_sig_store", graft.ops.VideoDedup.videoSigs)
    val bpes = a.bpeTables.map { t =>
      // tag per (outDir, TABLE): a tokenizer is learned per corpus
      // table — a dir-only tag would hand every table after the first
      // the FIRST table's artifact through the catalog gate (r13
      // review finding; the mediaSig per-kind convention)
      val tag = graft.ops.BpeStore.tag(s"$outDir/$t")
      val ((nMerges, nWords, comp), secs) = timed {
        val (merges, _) = graft.ops.BpeStore.buildOrLoad(spark,
          spark.read.parquet(s"$outDir/$t.parquet"), tag, log)
        val (w, ch, sy) = graft.ops.BpeStore.segStats(spark, tag)
        val cx = if (sy == 0L) 0.0 else ch.toDouble / sy
        (merges.count(), w, cx)
      }
      val msg = s"tag=$tag merges=$nMerges vocab_words=$nWords " +
        s"buckets=${graft.ops.BpeStore.buckets(spark, tag)} " +
        f"compression_x=$comp%.4f"
      log.info(t, "artifact bpe_store", msg)
      Report.ArtifactResult(t, "bpe_store", msg, 0L, 0L, secs)
    }
    val shards = a.shuffleShardTables.map { t =>
      val path = s"$outDir/${t}_shards.parquet"
      val (n, secs) = timed {
        val perm = graft.ops.SampleQueries.shuffleShardPerm(
          spark.read.parquet(s"$outDir/$t.parquet"))
        Layout.writeShardMajor(perm, path, a.shardFiles)
        spark.read.parquet(path).count()
      }
      val msg = s"path=$path rows=$n files=${a.shardFiles} " +
        s"shards=${graft.ops.SampleQueries.NumShards}"
      log.info(t, "artifact shuffle_shard", msg)
      Report.ArtifactResult(t, "shuffle_shard", msg, 0L, 0L, secs)
    }
    val packs = a.packTables.map { t =>
      val path = s"$outDir/${t}_packed.parquet"
      val ((nSeq, padFrac), secs) = timed {
        val perm = graft.ops.SampleQueries.shuffleShardPerm(
          spark.read.parquet(s"$outDir/$t.parquet"))
        val budget = graft.ops.PackingQueries.ArtifactBudget
        Layout.writeShardMajor(
          graft.ops.PackingQueries.packedSequences(perm, budget),
          path, a.shardFiles, posCol = "seq_id")
        // padding audit measured from the WRITTEN files — the artifact
        // must price itself (q_packing_waste's packed column)
        val F = org.apache.spark.sql.functions
        val r = spark.read.parquet(path)
          .agg(F.count(F.lit(1)),
            F.coalesce(F.sum("n_pad"), F.lit(0L))).head()
        val (ns, pad) = (r.getLong(0), r.getLong(1))
        (ns, if (ns > 0) pad.toDouble / (ns * budget) else 0.0)
      }
      val msg = s"path=$path sequences=$nSeq " +
        s"budget=${graft.ops.PackingQueries.ArtifactBudget} " +
        f"pad_frac=$padFrac%.4f files=${a.shardFiles} " +
        s"shards=${graft.ops.SampleQueries.NumShards}"
      log.info(t, "artifact packed_sequences", msg)
      // nothing is capped/skipped in a packed build — the sequence
      // count lives in msg, NOT in the skipped-rows contract field
      Report.ArtifactResult(t, "packed_sequences", msg, 0L, 0L, secs)
    }
    val lex = a.lexIndexTables.map { t =>
      // per-table tag (the bpeTables convention): a lexical index is
      // per corpus table — a dir-only tag would hand every table after
      // the first the FIRST table's postings through the catalog gate
      val tag = graft.ops.LexIndex.tag(s"$outDir/$t")
      val ((nPost, nDocs, nTerms), secs) = timed {
        val (post, stats) = graft.ops.LexIndex.buildOrLoad(spark,
          spark.read.parquet(s"$outDir/$t.parquet"), tag)
        val F = org.apache.spark.sql.functions
        val pr = post.agg(F.count(F.lit(1)),
          F.count_distinct(F.col("term"))).head()
        (pr.getLong(0), stats.head().getLong(0), pr.getLong(1))
      }
      val msg = s"tag=$tag postings=$nPost docs=$nDocs terms=$nTerms " +
        s"buckets=${graft.ops.LexIndex.buckets(spark, tag)}"
      log.info(t, "artifact lex_index", msg)
      Report.ArtifactResult(t, "lex_index", msg, 0L, 0L, secs)
    }
    val trainReady = if (!a.buildTrainReady) Nil else {
      val path = s"$outDir/documents_train_ready.parquet"
      val budget = graft.ops.PackingQueries.ArtifactBudget
      val ((nKept, nSeq, padFrac), secs) = timed {
        // the curated-mix composition (funnel-kept → survivor stride
        // schedule → packed), written shard-major exactly like the raw
        // packed artifact — q_train_ready's relation, materialized.
        // Persisted for its TWO actions (count + pack) — the schedule
        // windows on TOP of the shared staged cache still re-run per
        // action unpersisted; the count also guards the
        // everything-dropped edge, where reading back an all-empty
        // partitioned write would fail schema inference instead of
        // reporting an honest zero row.
        val perm = graft.ops.PackingQueries.trainReadyPerm(spark, outDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val kept = perm.count()
          if (kept == 0L) {
            // remove any PREVIOUS vintage at the path — a stale packed
            // artifact under a kept_docs=0 report would feed a trainer
            // the prior corpus's sequences (r14 review)
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
            if (fs.exists(p)) fs.delete(p, true)
            (0L, 0L, 0.0)
          } else {
            Layout.writeShardMajor(
              graft.ops.PackingQueries.packedSequences(perm, budget),
              path, a.shardFiles, posCol = "seq_id")
            val F = org.apache.spark.sql.functions
            val r = spark.read.parquet(path)
              .agg(F.count(F.lit(1)),
                F.coalesce(F.sum("n_pad"), F.lit(0L))).head()
            val (ns, pad) = (r.getLong(0), r.getLong(1))
            (kept, ns, if (ns > 0) pad.toDouble / (ns * budget) else 0.0)
          }
        } finally {
          perm.unpersist()
          // the funnel verdicts and CC labels feeding this WRITE are
          // (session, dir)-memoized; a re-migration into the same
          // outDir within one session must re-derive them over the
          // RE-WRITTEN corpus, not serve the first migration's
          // verdicts (r14 review) — release both families here so the
          // next build rebuilds transparently (declared-query runs
          // manage these releases via SharedCaches.releasePoints; the
          // pipeline is its own run)
          graft.ops.SharedCaches.release(graft.ops.SharedCaches.Funnel)
          graft.ops.SharedCaches.release(graft.ops.SharedCaches.Minhash)
        }
      }
      val msg = s"path=$path kept_docs=$nKept sequences=$nSeq " +
        f"budget=$budget pad_frac=$padFrac%.4f files=${a.shardFiles} " +
        s"shards=${graft.ops.SampleQueries.NumShards}"
      if (nKept == 0L)
        log.warn("documents", "artifact train_ready",
          s"funnel kept ZERO docs — nothing written; $msg")
      else log.info("documents", "artifact train_ready", msg)
      Seq(Report.ArtifactResult("documents", "train_ready", msg, 0L, 0L,
        secs))
    }
    band ++ spans ++ charSpans ++ chunks ++ contain ++ scrubs ++
      manifests ++
      imgSigs ++ audSigs ++ vidSigs ++ bpes ++ lex ++ shards ++ packs ++
      trainReady ++ ivf ++ pq ++ zs ++ cps
  }

  /** Takedown phase (r15 verdict #1 — the lifecycle verb the artifact
    * families were missing): remove `docIds` from every doc-grain
    * stored artifact that EXISTS under this corpus dir's standard tags
    * (the exact tags [[artifactPhase]] builds and the query/streaming
    * paths derive — see each family's `delete` for its staleness
    * contract and crash-safe write order). One report row per family
    * actually touched, with per-table removal counts; families not
    * built for this dir are skipped silently (there is nothing to
    * take down). BpeStore is exempt by design — it is a learned MODEL,
    * not an index of documents; unlearning is a retrain.
    *
    * `vecIds` keys the vector families (IvfIndex cells, PqStore codes,
    * keyed by vec_id); it defaults to `docIds`' values under the
    * vec_id name — the 1:1 doc↔vector correspondence of the standard
    * corpus layout — and is a separate parameter for corpora where the
    * two id spaces differ.
    *
    * NOTE the scope boundary, stated rather than hidden: this removes
    * the ids from the STORED ARTIFACTS (what serving paths read). The
    * written parquet corpus tables themselves are plain files the
    * migration owns — removing rows there is a rewrite of the
    * affected tables, a separate storage-level operation; callers
    * doing a full takedown filter-and-rewrite the corpus first, then
    * call this for the nine serving artifacts.
    *
    * The families' verbs run concurrently
    * ([[graft.ops.GovernanceQueries.parPhase]]): their tables are
    * disjoint and no delete verb touches the session-global overwrite
    * mode. A failing verb cancels the siblings still in their
    * read-only counts; a sibling past its counts is never interrupted
    * (its drops and rewrites run to completion) and one that reaches
    * that point after the failure stops before writing. So each other
    * family is left either untouched or fully deleted, as when the
    * verbs ran one after another. The call waits for every verb's
    * outcome, with no time limit, then rethrows the first failure.
    * The report rows keep the order above. `docIds` (and `vecIds`)
    * are materialized once into a driver-local id set that every verb
    * joins. Every cataloged IVF index of the dir is taken down,
    * whatever its cell count.
    */
  def deleteDocs(
      spark: SparkSession,
      outDir: String,
      docIds: org.apache.spark.sql.DataFrame,
      lexTables: Seq[String] = Nil,
      vecIds: Option[org.apache.spark.sql.DataFrame] = None,
      log: MigrationLog = MigrationLog.silent): Seq[Report.ArtifactResult] = {
    import graft.ops._
    // one takedown id set per call: every verb joins the same
    // driver-local relation, materialized once here
    val ids = BandIndex.takedownIds(spark, docIds, "doc_id")
    lazy val vids = BandIndex.takedownIds(spark,
      vecIds.getOrElse(ids.withColumnRenamed("doc_id", "vec_id")), "vec_id")
    // one verb per family that exists under this dir, in report order;
    // a verb runs its family's delete, handing it the phase's write
    // gate `w`, and returns the report row
    def verb(table: String, kind: String)(detail: (() => Unit) => String)
        : Seq[(() => Unit) => Report.ArtifactResult] = Seq { w =>
      val t0 = System.nanoTime()
      val d = detail(w)
      val secs = (System.nanoTime() - t0) / 1e9
      log.info(table, s"delete $kind", d)
      Report.ArtifactResult(table, kind, d, 0L, 0L, secs)
    }
    val band = {
      val tag = BandIndex.tag(outDir, "full")
      if (!BandIndex.exists(spark, tag)) Nil
      else verb(tag, "delete_band_index") { w =>
        val (sh, bd) = BandIndex.delete(spark, ids, tag, w)
        s"tag=$tag shingle_rows_removed=$sh band_rows_removed=$bd " +
          "bsz=stale_upper_bound_until_refreshBucketSizes"
      }
    }
    val spans = Seq(SpanSet.tag(outDir) -> "delete_span_set",
      SpanSet.charTag(outDir) -> "delete_char_span_set").flatMap {
      case (tag, kind) =>
        if (!SpanSet.exists(spark, tag)) Nil
        else verb(tag, kind) { w =>
          val (rows, negs) = SpanSet.delete(spark, ids, tag, w)
          s"tag=$tag span_rows_removed=$rows neg_delta_rows=$negs " +
            "counts=exact_immediately"
        }
    }
    val chunks = {
      val tag = ChunkStore.tag(outDir)
      if (!ChunkStore.exists(spark, tag)) Nil
      else verb(tag, "delete_chunk_store") { w =>
        s"tag=$tag chunk_rows_removed=${ChunkStore.delete(spark, ids, tag, w)} " +
          "exact_immediately"
      }
    }
    val contain = {
      val tag = ContainIndex.tag(outDir, "cfull")
      if (!ContainIndex.exists(spark, tag)) Nil
      else verb(tag, "delete_contain_index") { w =>
        val (ng, dc) = ContainIndex.delete(spark, ids, tag, w)
        s"tag=$tag posting_rows_removed=$ng doc_rows_removed=$dc " +
          "df_oc=stale_upper_bounds_until_refreshCounts"
      }
    }
    val lex = lexTables.flatMap { t =>
      val tag = LexIndex.tag(s"$outDir/$t")
      if (!LexIndex.exists(spark, tag)) Nil
      else verb(tag, "delete_lex_index") { w =>
        s"tag=$tag posting_rows_removed=${LexIndex.delete(spark, ids, tag, w)} " +
          "stats=exact df=stale_upper_bound_until_refreshCountsPartial"
      }
    }
    val media = Seq(
      (MediaSigStore.imageTag(outDir), "delete_image_sigs"),
      (MediaSigStore.audioTag(outDir), "delete_audio_sigs"),
      (MediaSigStore.videoTag(outDir), "delete_video_sigs")).flatMap {
      case (tag, kind) =>
        if (!MediaSigStore.exists(spark, tag)) Nil
        else verb(tag, kind) { w =>
          val (s, b) = MediaSigStore.delete(spark, ids, tag, w)
          s"tag=$tag sig_rows_removed=$s band_rows_removed=$b " +
            "bsz=stale_upper_bound_until_refreshBucketSizes"
        }
    }
    // the tag embeds the cell count: the catalog's table names give
    // every IVF tag of this dir without counting the embeddings
    val ivf = IvfIndex.catalogedTags(spark, outDir).flatMap { tag =>
      if (!IvfIndex.exists(spark, tag)) Nil
      else verb(tag, "delete_ivf_index") { w =>
        s"tag=$tag cell_rows_removed=${IvfIndex.delete(spark, vids, tag, w)} " +
          "centroids=stale_until_refreshCentroids"
      }
    }
    val pq = {
      val tag = PqStore.tag(outDir)
      if (!PqStore.exists(spark, tag)) Nil
      else verb(tag, "delete_pq_store") { w =>
        s"tag=$tag code_rows_removed=${PqStore.delete(spark, vids, tag, w)} " +
          "codebook=untouched_by_design"
      }
    }
    // the families' tables are disjoint and no delete verb flips the
    // session-global overwrite mode (parPhase asserts it), so the verbs
    // overlap; a failing verb cancels only the siblings still counting,
    // and the wait has no time limit, so no write is ever interrupted
    val verbs = band ++ spans ++ chunks ++ contain ++ lex ++ media ++ ivf ++ pq
    if (verbs.isEmpty) Nil else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(verbs.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try GovernanceQueries.parPhase(spark,
        s"delete-docs-${java.util.UUID.randomUUID()}", verbs, Duration.Inf)
      finally pool.shutdown()
    }
  }

  /** Post-mutation re-level step for the stored LexIndexes — the
    * artifact-phase application of the MEASURED partial-vs-full policy
    * (r17 verdict missing #2; `RELEVEL_r18.json` + SCALE.md §"Pricing
    * the re-level knob"): [[graft.ops.LexIndex.relevel]] reads each
    * index's touched-partition fraction and takes the bounded partial
    * path below [[graft.ops.BucketedStore.RelevelPartialMaxFraction]], the
    * wholesale re-level at or above it. One report row per index
    * documents WHICH path was taken and WHY (the fraction and the
    * threshold) — the policy must be visible in the migration report,
    * not silent. Run after [[deleteDocs]] (or any append burst) to
    * restore exact df before the next serving window; kept separate
    * from the mutation verbs so takedown latency (remove the rows NOW)
    * never waits on maintenance.
    */
  private def relevelRow(log: MigrationLog, tag: String, kind: String,
                         f: => (String, Double, Long))
      : Seq[Report.ArtifactResult] = {
    val t0 = System.nanoTime()
    val (path, frac, parts) = f
    val secs = (System.nanoTime() - t0) / 1e9
    val detail = f"tag=$tag path=$path touched_fraction=$frac%.4f " +
      f"threshold=${graft.ops.BucketedStore.RelevelPartialMaxFraction}%.2f " +
      s"parts_rewritten=$parts"
    log.info(tag, kind, detail)
    Seq(Report.ArtifactResult(tag, kind, detail, 0L, 0L, secs))
  }

  def relevelLexIndexes(
      spark: SparkSession,
      outDir: String,
      lexTables: Seq[String],
      log: MigrationLog = MigrationLog.silent): Seq[Report.ArtifactResult] =
    lexTables.flatMap { t =>
      val tag = graft.ops.LexIndex.tag(s"$outDir/$t")
      if (!graft.ops.LexIndex.exists(spark, tag)) Nil
      else relevelRow(log, tag, "relevel_lex_index",
        graft.ops.LexIndex.relevel(spark, tag))
    }

  /** [[relevelLexIndexes]] extended to EVERY stale-able family (r18 —
    * the policy must not be LexIndex-only once every family has both
    * verbs): one policy decision + report row per existing stored
    * index under this dir, each family's own `relevel` applying the
    * shared measured threshold. Same separation as the lex-only form:
    * run after mutations, never inside them. The families re-level one
    * after another, unlike [[deleteDocs]]: every partial path flips the
    * session-global `spark.sql.sources.partitionOverwriteMode`
    * (`BucketedStore.overwritePartitionsDynamic`), so two cannot overlap.
    */
  def relevelArtifacts(
      spark: SparkSession,
      outDir: String,
      lexTables: Seq[String] = Nil,
      log: MigrationLog = MigrationLog.silent): Seq[Report.ArtifactResult] = {
    import graft.ops._
    val lex = relevelLexIndexes(spark, outDir, lexTables, log)
    val band = {
      val tag = BandIndex.tag(outDir, "full")
      if (!BandIndex.exists(spark, tag)) Nil
      else relevelRow(log, tag, "relevel_band_index",
        BandIndex.relevel(spark, tag))
    }
    val contain = {
      val tag = ContainIndex.tag(outDir, "cfull")
      if (!ContainIndex.exists(spark, tag)) Nil
      else relevelRow(log, tag, "relevel_contain_index",
        ContainIndex.relevel(spark, tag))
    }
    val media = Seq(
      (MediaSigStore.imageTag(outDir), "relevel_image_sigs"),
      (MediaSigStore.audioTag(outDir), "relevel_audio_sigs"),
      (MediaSigStore.videoTag(outDir), "relevel_video_sigs")).flatMap {
      case (tag, kind) =>
        if (!MediaSigStore.exists(spark, tag)) Nil
        else relevelRow(log, tag, kind, MediaSigStore.relevel(spark, tag))
    }
    lex ++ band ++ contain ++ media
  }

  /** Full migration: all tables concurrently, then deferred FK validation
    * (E2/E3), then the artifact phase (E1's slot). Returns the report
    * (F1).
    */
  def migrate(
      spark: SparkSession,
      cfg: SourceConfig,
      outDir: String,
      foreignKeys: Seq[ForeignKey] = Nil,
      parallelism: Int = 4,
      log: MigrationLog = MigrationLog.silent,
      artifacts: ArtifactConfig = ArtifactConfig()): Report = {
    val t0 = System.nanoTime()
    val tables = reflectTables(cfg.dir)
      .filter(t => cfg.includedTables.isEmpty || cfg.includedTables.contains(t))
      .filterNot(cfg.excludedTables.contains)
    log.info("*", "migrate", s"${tables.size} tables: ${tables.mkString(",")}")

    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val migrated =
      try Await.result(
        Future.sequence(tables.map(t =>
          Future(migrateWithSchema(spark, cfg, t, outDir, log)))),
        Duration.Inf)
      finally pool.shutdown()
    val results = migrated.map(_._1)

    // E3: constraints strictly after all loads. FK table names are
    // SOURCE names (the user declares edges against the schema they
    // know); the files on disk carry the RENAMED names (B6) and skipped
    // empty tables (B9) were never written — resolve through the same
    // outName mapping migrateTable used, and skip (loudly) any edge
    // whose table has no written file rather than crashing the whole
    // migration after every load succeeded.
    val schemas = migrated.collect { case (r, Some(schema)) =>
      r.outputName -> schema }.toMap
    val edges = foreignKeys.flatMap { fk =>
      val label =
        s"${fk.childTable}.${fk.childCol}->${fk.parentTable}.${fk.parentCol}"
      val (childOut, parentOut) =
        (cfg.tableRenames.getOrElse(fk.childTable, fk.childTable),
          cfg.tableRenames.getOrElse(fk.parentTable, fk.parentTable))
      if (!schemas.contains(childOut) || !schemas.contains(parentOut)) {
        log.warn(fk.childTable, s"fk $label",
          "skipped: table not written this run " +
            s"(child=$childOut parent=$parentOut written=${schemas.size})")
        None
      } else Some((fk, label, childOut, parentOut))
    }
    // Every edge in ONE action: one fused scan per child table
    // (Constraints.fkOrphansFused), unioned, collected once. The
    // written files are read with the schema this step wrote them
    // with, so no read runs a schema-inference job.
    def read(t: String) =
      spark.read.schema(schemas(t)).parquet(s"$outDir/$t.parquet")
    val orphans = if (edges.isEmpty) Map.empty[String, Long] else
      log.timed("*", "fk *") {
        edges.groupBy(_._3).toSeq.sortBy(_._1).map { case (child, es) =>
          Constraints.fkOrphansFused(read(child), es.map {
            case (fk, label, _, parentOut) =>
              Constraints.FkEdge(label, fk.childCol, read(parentOut),
                fk.parentCol, broadcastParent = false)
          })
        }.reduce(_ union _).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    val fkResults = edges.map { case (fk, label, _, _) =>
      log.info(fk.childTable, s"fk $label", s"orphans=${orphans(label)}")
      Report.FkResult(label, orphans(label))
    }
    // E1's slot: artifacts build strictly after loads + validation.
    val artifactResults =
      if (artifacts.isEmpty) Nil
      else artifactPhase(spark, outDir, artifacts, log)
    log.info("*", "migrate", f"all done in ${(System.nanoTime() - t0) / 1e9}%.3fs")
    Report(results, fkResults, (System.nanoTime() - t0) / 1e9, artifactResults)
  }
}
