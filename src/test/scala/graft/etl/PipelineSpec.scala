package graft.etl

import graft.SparkSpec
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  test("end-to-end migrate: profile, prune, narrow, transform, validate, report") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-src").toString
    val dst = Files.createTempDirectory("graft-dst").toString

    // parent / child with one orphan; child has an all-null column
    Seq((1L, "us"), (2L, "eu"))
      .toDF("region_id", "region_name")
      .write.mode("overwrite").parquet(s"$src/regions.parquet")
    Seq((10L, 1L, Option.empty[String], "A"),
        (11L, 2L, Option.empty[String], "B"),
        (12L, 99L, Option.empty[String], "C")) // orphan region 99
      .toDF("cust_id", "region_id", "ghost", "segment")
      .write.mode("overwrite").parquet(s"$src/custs.parquet")
    spark.emptyDataFrame.withColumn("x", org.apache.spark.sql.functions.lit(1))
      .limit(0).write.mode("overwrite").parquet(s"$src/void.parquet")

    val report = Pipeline.migrate(
      spark,
      Pipeline.SourceConfig(
        dir = src,
        skipTableIfEmpty = true,
        skipColumnIfEmpty = true,
        rules = Map("custs" -> SchemaRules(renames = Map("segment" -> "mkt_segment")))),
      outDir = dst,
      foreignKeys = Seq(
        Pipeline.ForeignKey("custs", "region_id", "regions", "region_id")))

    assert(report.skippedTables == Seq("void")) // B9
    val custs = spark.read.parquet(s"$dst/custs.parquet")
    assert(!custs.columns.contains("ghost")) // B8 all-null dropped
    assert(custs.columns.contains("mkt_segment")) // B2 rename applied
    // B1/C1: int64 data fitting int32 narrowed
    assert(custs.schema("cust_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(report.rowsMigrated == 5)
    assert(report.violatedFks.map(_.orphanCount) == Seq(1L)) // E2
    assert(report.render.contains("ORPHANS"))
  }

  test("artifact phase builds stored index + span set + layouts from the " +
    "written tables, and the report surfaces what the cap skips") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-art-src").toString
    val dst = Files.createTempDirectory("graft-art-dst").toString
    // 6 identical boilerplate docs -> identical shingle sets -> 3 hot
    // (band, bh) buckets of size 6 (over a test cap of 4) AND 9 shared
    // 8-gram spans (16 tokens); one unique doc stays under every
    // threshold.
    val boiler = "this is the same boilerplate license header text " +
      "repeated verbatim across many documents in the corpus"
    ((1L to 6L).map(i => (i, boiler)) :+
      (100L, "one unique document with entirely different content here today"))
      .toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .write.parquet(s"$src/docs.parquet")
    (1L to 200L).map(i => (i, i % 7)).toDF("event_id", "k")
      .repartition(20) // small-files input for compaction
      .write.parquet(s"$src/evts.parquet")
    // a small vector corpus so the stored IVF artifact builds too
    val rnd = new scala.util.Random(5)
    (1L to 40L).map(i => (i, Seq.fill(4)(rnd.nextFloat()), "en"))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$src/embeddings.parquet")

    val report = Pipeline.migrate(
      spark, Pipeline.SourceConfig(dir = src), outDir = dst,
      artifacts = Pipeline.ArtifactConfig(
        bandIndexTables = Seq("docs"),
        spanSetTables = Seq("docs"),
        charSpanTables = Seq("docs"),
        chunkStoreTables = Seq("docs"),
        containIndexTables = Seq("docs"),
        manifestTables = Seq("docs"),
        bpeTables = Seq("docs"),
        lexIndexTables = Seq("docs"),
        buildIvfIndex = true,
        buildPqStore = true,
        zOrder = Map("evts" -> ("event_id", "k")),
        compact = Map("evts" -> "event_id"),
        hotBucketCap = 4))

    // every artifact produced a report row...
    assert(report.artifacts.map(_.kind).sorted ==
      Seq("band_index", "bpe_store", "char_span_set", "chunk_store",
        "compaction", "contain_index", "ivf_index", "lex_index",
        "manifest", "pq_store", "span_set", "zorder"))
    // the lexical index built per-table with its sizing in the row
    val lexTag = graft.ops.LexIndex.tag(s"$dst/docs")
    assert(spark.table(s"${lexTag}_lpost").count() > 0)
    assert(report.artifacts.find(_.kind == "lex_index").get
      .detail.contains("docs=7"))
    // the containment index built under the tag the streaming probe
    // derives, with its cap audit in the report row
    val containTag = graft.ops.ContainIndex.tag(dst, "cfull")
    assert(spark.table(s"${containTag}_cngrams").count() > 0)
    assert(report.artifacts.find(_.kind == "contain_index").get
      .detail.contains("cap=16"))
    val ivfRow = report.artifacts.find(_.kind == "ivf_index").get
    assert(ivfRow.detail.contains("vectors=40"), ivfRow.detail)
    // ...the stored tables exist under the tags the query paths and
    // streaming probes derive for the corpus dir (a privately-tagged
    // copy would never be read — the r6 ADVICE finding)...
    val bandTag = graft.ops.BandIndex.tag(dst, "full")
    val spanTag = graft.ops.SpanSet.tag(dst)
    assert(spark.table(s"${bandTag}_bands").count() > 0)
    assert(graft.ops.SpanSet.duplicatedSpans(spark, spanTag).count() == 9)
    // ...the char-winnow family built under ITS distinct role: 6
    // identical boilerplate docs share every selected fingerprint
    val charTag = graft.ops.SpanSet.charTag(dst)
    assert(charTag != spanTag)
    assert(graft.ops.SpanSet.duplicatedSpans(spark, charTag).count() > 0)
    // ...the chunk store materialized one chunk per (short) doc with its
    // derived bucket count in the report row...
    val chunkTag = graft.ops.ChunkStore.tag(dst)
    assert(spark.table(s"${chunkTag}_chunks").count() == 7)
    val chunkRow = report.artifacts.find(_.kind == "chunk_store").get
    assert(chunkRow.detail.contains("buckets=8"), chunkRow.detail)
    assert(spark.read.parquet(s"$dst/evts_zorder.parquet").count() == 200)
    assert(spark.read.parquet(s"$dst/evts_compacted.parquet").count() == 200)
    // ...and the silent hot-bucket cap became a visible report metric
    val capped = report.cappedArtifacts
    assert(capped.map(_.kind) == Seq("band_index"))
    assert(capped.head.skippedBuckets == 3 && capped.head.skippedRows == 18,
      s"unexpected cap audit: ${capped.head}")
    assert(report.render.contains("CAPPED(3 buckets/18 rows)"))
    val span = report.artifacts.find(_.kind == "span_set").get
    assert(span.detail.contains("duplicated_spans=9"), span.detail)
    // ...and the written receipt IS the direct manifest of the written
    // table (one code path), with the total fingerprint in the report
    val written = spark.read.parquet(s"$dst/docs_manifest.parquet")
      .collect().map(_.toString).toSeq.sorted
    val direct = graft.ops.GovernanceQueries.manifestFinalize(
      graft.ops.GovernanceQueries.manifestPartial(
        spark.read.parquet(s"$dst/docs.parquet")))
      .collect().map(_.toString).toSeq.sorted
    assert(written == direct)
    val mRow = report.artifacts.find(_.kind == "manifest").get
    assert(mRow.detail.contains("docs=7") &&
      mRow.detail.contains("content_fp="), mRow.detail)
    // ...and the stored tokenizer exists under the tag the query paths
    // derive, its segmentation map covering EVERY distinct corpus word
    // (the encode join can never drop a seen word), with the learned
    // metrics in the report row
    val bpeTag = graft.ops.BpeStore.tag(s"$dst/docs")
    val segWords = spark.table(s"${bpeTag}_bpesegs")
      .select("word").as[String].collect().toSet
    val corpusWords = spark.read.parquet(s"$dst/docs.parquet")
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text"))).as("w"))
      .filter(org.apache.spark.sql.functions.col("w") =!= "")
      .distinct().as[String].collect().toSet
    assert(segWords == corpusWords)
    assert(spark.table(s"${bpeTag}_bpemerges").count() == 10)
    val bRow = report.artifacts.find(_.kind == "bpe_store").get
    assert(bRow.detail.contains("merges=10") &&
      bRow.detail.contains(s"vocab_words=${corpusWords.size}"),
      bRow.detail)
  }

  test("deleteDocs takedown phase (r15 verdict #1): one report row per " +
    "existing artifact family with removal counts; deleted ids leave " +
    "every serving path; absent families are skipped") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-del-src").toString
    val dst = Files.createTempDirectory("graft-del-dst").toString
    val boiler = "this is the same boilerplate license header text " +
      "repeated verbatim across many documents in the corpus"
    ((1L to 6L).map(i => (i, boiler)) :+
      (100L, "one unique document with entirely different content here today"))
      .toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("s0"))
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .write.parquet(s"$src/docs.parquet")
    val rnd = new scala.util.Random(5)
    (1L to 40L).map(i => (i, Seq.fill(4)(rnd.nextFloat()), "en"))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$src/embeddings.parquet")
    Pipeline.migrate(
      spark, Pipeline.SourceConfig(dir = src), outDir = dst,
      artifacts = Pipeline.ArtifactConfig(
        bandIndexTables = Seq("docs"),
        spanSetTables = Seq("docs"),
        charSpanTables = Seq("docs"),
        chunkStoreTables = Seq("docs"),
        containIndexTables = Seq("docs"),
        lexIndexTables = Seq("docs"),
        buildIvfIndex = true,
        buildPqStore = true))
    val rows = Pipeline.deleteDocs(spark, dst,
      Seq(2L, 3L, 999L).toDF("doc_id"), lexTables = Seq("docs"))
    // one row per family that exists under this dir (no media sigs
    // were built -> none reported)
    assert(rows.map(_.kind).sorted == Seq("delete_band_index",
      "delete_char_span_set", "delete_chunk_store",
      "delete_contain_index", "delete_ivf_index", "delete_lex_index",
      "delete_pq_store", "delete_span_set"),
      rows.map(_.kind).sorted.toString)
    // counts are in the rows (2 indexed docs removed everywhere;
    // vec_ids 2 and 3 removed from the vector families)
    assert(rows.find(_.kind == "delete_chunk_store").get
      .detail.contains("chunk_rows_removed=2"))
    assert(rows.find(_.kind == "delete_ivf_index").get
      .detail.contains("cell_rows_removed=2"))
    assert(rows.find(_.kind == "delete_pq_store").get
      .detail.contains("code_rows_removed=2"))
    // the serving surfaces no longer know the ids
    val bandTag = graft.ops.BandIndex.tag(dst, "full")
    assert(spark.table(s"${bandTag}_shingles")
      .filter(org.apache.spark.sql.functions.col("doc_id").isin(2L, 3L))
      .count() == 0)
    val lexTag = graft.ops.LexIndex.tag(s"$dst/docs")
    val (post, stats) = (spark.table(s"${lexTag}_lpost"),
      spark.table(s"${lexTag}_lstats"))
    assert(stats.as[(Long, Long)].collect().head._1 == 5L,
      "lex stats must subtract the two deleted docs")
    assert(post.filter(org.apache.spark.sql.functions
      .col("doc_id").isin(2L, 3L)).count() == 0)
    // idempotent end-to-end: a second pass removes nothing
    val again = Pipeline.deleteDocs(spark, dst,
      Seq(2L, 3L).toDF("doc_id"), lexTables = Seq("docs"))
    assert(again.forall(r => !r.detail.matches(".*removed=[1-9].*")),
      again.map(_.detail).mkString("; "))
  }

  test("deleteDocs: a family verb that throws fails the call, cancels " +
    "its siblings' job groups and awaits every outcome first; the " +
    "overwrite-mode conf is untouched") {
    import spark.implicits._
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val F = org.apache.spark.sql.functions
    val src = Files.createTempDirectory("graft-fault-src").toString
    val dst = Files.createTempDirectory("graft-fault-dst").toString
    (1L to 8L).map(i => (i, s"document $i has a few words number $i"))
      .toDF("doc_id", "text").write.parquet(s"$src/docs.parquet")
    val rnd = new scala.util.Random(9)
    (1L to 40L).map(i => (i, Seq.fill(4)(rnd.nextFloat()), "en"))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$src/embeddings.parquet")
    Pipeline.migrate(
      spark, Pipeline.SourceConfig(dir = src), outDir = dst,
      artifacts = Pipeline.ArtifactConfig(
        chunkStoreTables = Seq("docs"),
        lexIndexTables = Seq("docs"),
        buildPqStore = true))
    // fault injection through the catalog: temp views shadow two
    // families' stored tables. The chunk store's first scan stalls in
    // one task (a sibling mid-job); the PQ store's first scan throws
    // once that sibling is running. The PQ scan is one task, so its
    // wait holds one core and never starves the stalling sibling of
    // the other. The lex index is untouched.
    val chunkT = graft.ops.ChunkStore.tables(graft.ops.ChunkStore.tag(dst)).head
    val codesT = graft.ops.PqStore.tables(graft.ops.PqStore.tag(dst)).last
    spark.table(chunkT).where(PipelineSpec.stall(F.col("doc_id")))
      .createOrReplaceTempView(chunkT)
    spark.table(codesT).coalesce(1).where(PipelineSpec.fail(F.col("vec_id")))
      .createOrReplaceTempView(codesT)
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("delete-docs-"))
          .foreach(g => starts.add((e.jobId, g, e.time)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded) failed.add(e.jobId)
    }
    val owKey = "spark.sql.sources.partitionOverwriteMode"
    val owBefore = spark.conf.getOption(owKey)
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[Exception] {
        Pipeline.deleteDocs(spark, dst, Seq(2L, 3L).toDF("doc_id"),
          lexTables = Seq("docs"))
      }
      val returnedAt = System.currentTimeMillis()
      val elapsedS = (System.nanoTime() - t0) / 1e9
      // the call rethrows the injected fault, not a sibling's cancellation
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(PipelineSpec.Fault)),
        e.toString)
      // the stalled sibling's job was cancelled: left alone it runs
      // for StallMs
      assert(elapsedS * 1000 < PipelineSpec.StallMs / 2, s"took ${elapsedS}s")
      // failed jobs in at least two of the call's job groups: the
      // thrower's and a cancelled sibling's (listener events are
      // asynchronous, so poll)
      def failedGroups = starts.asScala.collect {
        case (id, g, _) if failed.contains(id) => g }.toSeq.distinct
      val deadline = System.nanoTime() + 20e9.toLong
      while (failedGroups.length < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(failedGroups.length >= 2, starts.asScala.toSeq)
      // every verb's outcome was in before the call returned: no job of
      // the call starts after it
      Thread.sleep(2000)
      assert(starts.asScala.forall(_._3 <= returnedAt),
        s"$returnedAt ${starts.asScala.toSeq}")
      assert(spark.conf.getOption(owKey) == owBefore)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.dropTempView(chunkT)
      spark.catalog.dropTempView(codesT)
    }
  }

  test("deleteDocs: a family verb that throws while a sibling is " +
    "between its drop and its rewrite leaves that sibling's tables " +
    "whole, with exact row counts") {
    import spark.implicits._
    val F = org.apache.spark.sql.functions
    val src = Files.createTempDirectory("graft-wfault-src").toString
    val dst = Files.createTempDirectory("graft-wfault-dst").toString
    (1L to 8L).map(i => (i, s"document $i has a few words number $i"))
      .toDF("doc_id", "text").write.parquet(s"$src/docs.parquet")
    val rnd = new scala.util.Random(11)
    (1L to 40L).map(i => (i, Seq.fill(4)(rnd.nextFloat()), "en"))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$src/embeddings.parquet")
    Pipeline.migrate(
      spark, Pipeline.SourceConfig(dir = src), outDir = dst,
      artifacts = Pipeline.ArtifactConfig(
        chunkStoreTables = Seq("docs"),
        lexIndexTables = Seq("docs"),
        buildPqStore = true))
    val chunkTag = graft.ops.ChunkStore.tag(dst)
    val lexTag = graft.ops.LexIndex.tag(s"$dst/docs")
    val chunkT = graft.ops.ChunkStore.tables(chunkTag).head
    val postT = graft.ops.LexIndex.tables(lexTag).head
    val codesT = graft.ops.PqStore.tables(graft.ops.PqStore.tag(dst)).last
    val gone = F.col("doc_id").isin(2L, 3L)
    val (chunks0, chunksGone) =
      (spark.table(chunkT).count(), spark.table(chunkT).where(gone).count())
    val (post0, postGone) =
      (spark.table(postT).count(), spark.table(postT).where(gone).count())
    val codes0 = spark.table(codesT).count()
    assert(chunksGone > 0 && postGone > 0)
    // the chunk store's rewrite (saveAsTable, which drops the table
    // first) stalls in its first task; the PQ store's count throws
    // once that stall is reached, so the failure lands while the chunk
    // table is dropped and not yet rewritten
    spark.table(codesT).coalesce(1)
      .where(PipelineSpec.failOnceWriting(F.col("vec_id")))
      .createOrReplaceTempView(codesT)
    val protocolKey = "spark.sql.sources.commitProtocolClass"
    val protocolBefore = spark.conf.getOption(protocolKey)
    val owKey = "spark.sql.sources.partitionOverwriteMode"
    val owBefore = spark.conf.getOption(owKey)
    spark.conf.set(protocolKey, classOf[StallingCommitProtocol].getName)
    StallingCommitProtocol.arm(chunkT)
    try {
      val e = intercept[Exception] {
        Pipeline.deleteDocs(spark, dst, Seq(2L, 3L).toDF("doc_id"),
          lexTables = Seq("docs"))
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(PipelineSpec.Fault)),
        e.toString)
      assert(StallingCommitProtocol.stalled.getCount == 0,
        "the chunk store's rewrite never reached its write task")
    } finally {
      StallingCommitProtocol.arm("")
      protocolBefore match {
        case Some(v) => spark.conf.set(protocolKey, v)
        case None => spark.conf.unset(protocolKey)
      }
      spark.catalog.dropTempView(codesT)
    }
    assert(spark.conf.getOption(owKey) == owBefore)
    // the sibling that was mid-rewrite finished it: table present,
    // exactly the takedown's rows gone
    assert(graft.ops.ChunkStore.exists(spark, chunkTag))
    assert(spark.table(chunkT).count() == chunks0 - chunksGone)
    assert(spark.table(chunkT).where(gone).count() == 0L)
    // the other sibling is untouched or fully deleted, never partial
    assert(graft.ops.LexIndex.exists(spark, lexTag))
    assert(Set(post0, post0 - postGone)(spark.table(postT).count()))
    // the failing family failed in its read-only count: untouched
    assert(spark.table(codesT).count() == codes0)
  }

  test("relevelLexIndexes applies the MEASURED partial-vs-full policy " +
    "(r17 verdict missing #2) and the report row documents path + " +
    "fraction + threshold; each path restores exact df") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-relevel").toString
    val docs = (1L to 40L).map(i =>
      (i, (1 to 12).map(j => s"rv${i}w$j").mkString(" ") + " shared"))
      .toDF("doc_id", "text")
    val tag = graft.ops.LexIndex.tag(s"$base/docs")
    graft.ops.LexIndex.tables(tag).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.ops.LexIndex.buildOrLoad(spark, docs, tag)
    val nb = graft.ops.LexIndex.buckets(spark, tag)
    // --- partial side: one touched term << threshold·nb
    graft.ops.LexIndex.seedTouchedForBench(spark, tag,
      Seq("shared").toDF("term"))
    val rows1 = Pipeline.relevelLexIndexes(spark, base, Seq("docs"))
    assert(rows1.size == 1 && rows1.head.kind == "relevel_lex_index")
    assert(rows1.head.detail.contains("path=partial") &&
      rows1.head.detail.contains("threshold=1.00"), rows1.head.detail)
    // --- full side: COMPLETE partition cover (the vocabulary plus
    // synthesized ledger terms for partitions it misses — the
    // RelevelBench cover trick) -> fraction 1.0 -> the full path
    val vocab = spark.table(s"${tag}_lpost").select("term").distinct()
      .union((0 until 500).map(i => s"x$i").toDF("term"))
    graft.ops.LexIndex.seedTouchedForBench(spark, tag, vocab)
    val rows2 = Pipeline.relevelLexIndexes(spark, base, Seq("docs"))
    assert(rows2.head.detail.contains("path=full") &&
      rows2.head.detail.contains("touched_fraction=1.0000"),
      rows2.head.detail)
    // both paths end exact: stored df == recomputed ground truth
    val post = spark.table(s"${tag}_lpost")
    val truth = post.groupBy("term")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df_x"))
    assert(post.join(truth, "term")
      .filter(org.apache.spark.sql.functions.col("df") =!=
        org.apache.spark.sql.functions.col("df_x")).count() == 0)
    // absent index -> skipped, no row
    assert(Pipeline.relevelLexIndexes(spark, base, Seq("nosuch")).isEmpty)
    assert(nb >= 8)
  }

  test("relevelArtifacts (r18): one policy decision + report row per " +
    "existing stale-able family after a real takedown; every stored " +
    "level column ends exact; an empty ledger re-levels nothing") {
    import spark.implicits._
    val F = org.apache.spark.sql.functions
    val src = Files.createTempDirectory("graft-rlv-src").toString
    val dst = Files.createTempDirectory("graft-rlv-dst").toString
    (1L to 30L).map(i =>
      (i, (1 to 10).map(j => s"ra${i}b$j").mkString(" ") +
        " common tail words here"))
      .toDF("doc_id", "text")
      .withColumn("source", F.lit("s0"))
      .withColumn("lang", F.lit("en"))
      .write.parquet(s"$src/docs.parquet")
    Pipeline.migrate(
      spark, Pipeline.SourceConfig(dir = src), outDir = dst,
      artifacts = Pipeline.ArtifactConfig(
        bandIndexTables = Seq("docs"),
        containIndexTables = Seq("docs"),
        lexIndexTables = Seq("docs")))
    Pipeline.deleteDocs(spark, dst, Seq(2L, 3L).toDF("doc_id"),
      lexTables = Seq("docs"))
    val rows = Pipeline.relevelArtifacts(spark, dst,
      lexTables = Seq("docs"))
    assert(rows.map(_.kind).sorted == Seq("relevel_band_index",
      "relevel_contain_index", "relevel_lex_index"),
      rows.map(_.kind).sorted.toString)
    assert(rows.forall(_.detail
        .matches(".*path=(partial|full) .*threshold=1\\.00.*")),
      rows.map(_.detail).mkString("; "))
    // stored level columns are exact after the policy ran
    val bandTag = graft.ops.BandIndex.tag(dst, "full")
    val b = spark.table(s"${bandTag}_bands")
    val bTruth = b.groupBy("band", "bh").agg(F.count(F.lit(1)).as("x"))
      .withColumnRenamed("band", "b2").withColumnRenamed("bh", "h2")
    assert(b.join(bTruth,
      F.col("band") <=> F.col("b2") && F.col("bh") <=> F.col("h2"))
      .filter(F.col("bsz") =!= F.col("x")).count() == 0,
      "band bsz must be exact post-relevel")
    val lexTag = graft.ops.LexIndex.tag(s"$dst/docs")
    val p = spark.table(s"${lexTag}_lpost")
    val pTruth = p.groupBy("term").agg(F.count(F.lit(1)).as("x"))
      .withColumnRenamed("term", "t2")
    assert(p.join(pTruth, F.col("term") === F.col("t2"))
      .filter(F.col("df") =!= F.col("x")).count() == 0,
      "lex df must be exact post-relevel")
    // second pass: ledgers are clear -> partial no-ops everywhere
    val again = Pipeline.relevelArtifacts(spark, dst,
      lexTables = Seq("docs"))
    assert(again.forall(_.detail.contains("parts_rewritten=0")),
      again.map(_.detail).mkString("; "))
  }

  test("reflectTables discovers parquet tables (A2)") {
    val d = Files.createTempDirectory("graft-reflect").toString
    import spark.implicits._
    Seq(1).toDF("a").write.parquet(s"$d/t1.parquet")
    Seq(2).toDF("b").write.parquet(s"$d/t2.parquet")
    assert(Pipeline.reflectTables(d) == Seq("t1", "t2"))
  }
}

object PipelineSpec {
  val Fault = "injected takedown fault"
  val StallMs = 60000L
  private val stalling = new java.util.concurrent.CountDownLatch(1)
  private val first = new java.util.concurrent.atomic.AtomicBoolean(true)

  /** A filter whose first row sleeps until its task is interrupted. */
  val stall = org.apache.spark.sql.functions.udf { (_: Long) =>
    if (first.getAndSet(false)) {
      stalling.countDown()
      Thread.sleep(StallMs)
    }
    true
  }.asNondeterministic()

  /** A filter that throws once [[StallingCommitProtocol]] holds its
    * stalled write task.
    */
  val failOnceWriting = org.apache.spark.sql.functions.udf { (_: Long) =>
    StallingCommitProtocol.stalled.await(StallMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    StallingCommitProtocol.thrown.countDown()
    (throw new IllegalStateException(Fault)): Boolean
  }.asNondeterministic()

  /** A filter that throws once the stalled task is running. */
  val fail = org.apache.spark.sql.functions.udf { (_: Long) =>
    stalling.await(StallMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    (throw new IllegalStateException(Fault)): Boolean
  }.asNondeterministic()
}

/** A file commit protocol whose first task writing into the armed
  * table's location stalls until [[PipelineSpec.failOnceWriting]] has
  * thrown, then for a few seconds more: long enough for a cancellation
  * of its job group to interrupt it, were one sent.
  */
class StallingCommitProtocol(jobId: String, path: String, dpo: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path, dpo) {
  override def setupTask(ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
      : Unit = {
    if (new org.apache.hadoop.fs.Path(path).getName ==
        StallingCommitProtocol.armed.get &&
      StallingCommitProtocol.first.getAndSet(false)) {
      StallingCommitProtocol.stalled.countDown()
      StallingCommitProtocol.thrown.await(PipelineSpec.StallMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      Thread.sleep(3000)
    }
    super.setupTask(ctx)
  }
}

object StallingCommitProtocol {
  private[etl] val armed = new java.util.concurrent.atomic.AtomicReference("")
  private[etl] val first = new java.util.concurrent.atomic.AtomicBoolean(true)
  val stalled = new java.util.concurrent.CountDownLatch(1)
  val thrown = new java.util.concurrent.CountDownLatch(1)
  def arm(table: String): Unit = armed.set(table)
}
