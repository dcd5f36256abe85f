package graft.ops

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingest and tokenization (extends SURVEY.md §2 H4/H8):
  * repetition-based quality filtering (Gopher-style), benchmark
  * decontamination, TF-IDF term scoring, temperature-weighted domain
  * mixing, and PII/blocklist redaction. All built-in expressions —
  * codegen'd end to end, no UDFs — each with a DuckDB oracle twin.
  *
  * Determinism: ratios are single IEEE double divisions of exact integers
  * (exactly-rounded in both engines); transcendentals are avoided where
  * a log-free formulation ranks identically (the TF-IDF N/df weight),
  * and where a log is the semantics itself (`q_lm_perplexity`'s
  * cross-entropy) each per-term `ln` is rounded to 9 decimals BEFORE
  * the exact decimal summation, so a last-ulp libm difference between
  * engines cannot reach the sum.
  */
object CorpusQueries {


  /** Repetition flags: a doc is repetitive when one token dominates or
    * bigrams repeat (Gopher repetition signals, Rae et al. 2021).
    */
  private val TopWordTau = 0.15
  private val Dup2Tau = 0.05

  /** Decontamination: benchmark = the `src0` slice (stand-in for an eval
    * set); a doc is contaminated when >= this fraction of its word
    * 3-grams appear in the benchmark set.
    */
  private val ContamN = 3
  private val ContamTau = 0.3

  /** Memorization-curve n-gram widths: bracket the regime from "common
    * phrase" (4) to "unambiguously verbatim" (16). One Seq feeds the
    * Spark unpivot AND the generated oracle arms.
    */
  private[graft] val MemNs = Seq(4, 8, 16)
  /** n-gram concat for the oracle, derived from ContamN so the two
    * engines cannot drift if the gram size changes. */
  private val contamGramSql: String =
    (0 until ContamN).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString("||' '||")

  /** Bloom pre-filter FLOOR size (bits) for `q_contamination_bloom`.
    * The filter is sized at runtime to the next power of two >=
    * [[BloomBitsPerGram]] x the eval set's distinct n-gram count (never
    * below this floor): an undersized filter saturates — every bucket
    * occupied, filtering nothing — which silently voids the pre-pass's
    * purpose. k=1 hash keeps the filter a plain integer-key semi-join —
    * codegen'd, no UDF, no sketch object; false positives cost only
    * extra rows into the exact verify join, never wrong output.
    */
  private val BloomBits = 4096

  /** Bits per distinct eval n-gram: 8 gives a ~12% k=1 false-positive
    * rate, and makes the pre-filter broadcast ~an order of magnitude
    * smaller than broadcasting the n-gram strings themselves.
    */
  private val BloomBitsPerGram = 8L

  /** BM25 query terms — the SINGLE source for both the Spark tf/df
    * columns and the generated oracle SQL (r8 advice: the terms were
    * previously hardcoded as literals on both sides and could drift).
    */
  private[graft] val Bm25Terms = Seq("spark", "join", "query")

  /** Chunk-id packing for the chunk-grain ("passage") LexIndex:
    * chunk_id = doc_id · PassageIdStride + chunk_idx, decoded by one
    * div/mod on the serving path. 2^20 chunk slots per doc bounds
    * supported docs at ~25M tokens (ChunkStride 24) — far past any
    * training document — while leaving 2^43 doc ids of headroom.
    * (Declared BEFORE `defs`: QueryDef oracle strings interpolate it
    * eagerly at object construction.)
    */
  private[graft] val PassageIdStride = 1L << 20

  /** Dimensionality of the deterministic token-hash chunk vectors
    * ([[tokenHashVecs]]): one dimension per md5 hex position, the
    * engine-portable width (16 dims keeps the oracle's unrolled sum
    * list readable; the construction generalizes to any width by
    * taking more digest bits, exactly as SimHash widened 32 → 64).
    * (Declared BEFORE `defs` — eager oracle interpolation.)
    */
  private[graft] val PassageVecDim = 16

  /** Pseudo-relevance feedback (q_prf_expansion) knobs: feedback depth
    * (BM25 top-K docs assumed relevant), expansion width (top-M terms
    * mined from them), and the expanded terms' score weight. Lavrenko &
    * Croft 2001 (relevance models) / Abdul-Jaleel et al. 2004 (RM3)
    * give the shape; the weight rule here is the RM3 interpolation with
    * the original query at weight 1. Term mining weights by Σ tf over
    * the feedback docs — an INTEGER sum, order-independent and exact in
    * both engines, where RM1's tf/dl mixture would be a float sum whose
    * accumulation order the oracle could not pin.
    */
  private[graft] val PrfFeedbackK = 10
  private[graft] val PrfExpandM = 5
  private[graft] val PrfLambda = 0.5

  /** Dirichlet query-likelihood smoothing mass (q_ql_dirichlet) —
    * Zhai & Lafferty 2001 suggest ~1000–2500 for news-length docs; the
    * synthetic corpus runs 10–99 tokens, so the prior is scaled to the
    * length regime the same way the Gopher bounds are (production
    * swaps the constant, not the shape).
    */
  private[graft] val QlMu = 100L

  /** Domain mixing: per-source budget = ceil(MixC * sqrt(n_source)) docs
    * — alpha=0.5 temperature resampling (rare sources up-weighted
    * relative to their share, as in multilingual LLM data mixes).
    */
  private val MixC = 4

  /** Per-source token-budget cap (q_domain_cap): no source keeps more
    * than CapNum/CapDen of the UNIFORM per-source share
    * (total_tokens/n_sources) — budget = (CapNum * total) div
    * (CapDen * n_sources), integer-exact in both engines. 4/5 binds on
    * EVERY source of this near-uniform synthetic corpus (each sheds
    * ~20% of its tokens), so the quality-ranked keeper election is
    * exercised everywhere rather than only on an outlier mega-domain.
    */
  private val CapNum = 4L
  private val CapDen = 5L

  /** PII / blocklist scrub pattern (applied to lowercased text): emails,
    * phone-shaped digit runs, and a term blocklist. The email/phone arms
    * are the real-world PII surface (this synthetic corpus contains no
    * digits or '@', so they match zero rows — the blocklist arm carries
    * the test); identical RE2/Java-regex subset in both engines.
    */
  private[graft] val piiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val piiPhoneRe = "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b"
  private[graft] val piiBlockRe = "\\b(?:customer|vector)\\b"
  private[graft] val piiPattern =
    piiEmailRe + "|" + piiPhoneRe + "|" + piiBlockRe

  /** ln(2) as ONE double literal shared by `q_lm_perplexity`'s Spark
    * plan and its DuckDB oracle text (Double.toString round-trips the
    * exact value), so the bits-conversion divisor cannot differ
    * between engines even in the last ulp. Declared BEFORE [[defs]]:
    * the oracle string interpolates it at object initialization.
    */
  private[ops] val Ln2: Double = math.log(2.0)

  /** Per-doc contamination overlap — ONE definition for
    * q_contamination, q_contamination_sweep, and q_corpus_funnel's
    * contamination stage (r13 review: three hand-maintained copies of
    * the bench/overlap pipeline could drift). Input `d0` carries
    * (doc_id, source, toks) — callers that already tokenized (the
    * funnel) pass their own relation, so sharing the definition never
    * forces a second tokenize pass. Output: one row per non-benchmark
    * doc with >= ContamN tokens — (doc_id, n_tok, n_ngrams, n_hits);
    * the flagged verdict at any τ is a filter on n_hits/n_ngrams.
    */
  private def contamOverlap(d0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = d0.filter(size(col("toks")) >= ContamN)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tok"),
        wordNgrams(col("toks"), ContamN).as("ng"))
    val bench = g.filter(col("source") === "src0")
      .select(explode(col("ng")).as("ngram")).distinct()
      .withColumn("hit", lit(1))
    g.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("n_tok"),
        size(col("ng")).as("n_ngrams"), explode(col("ng")).as("ngram"))
      .join(broadcast(bench), Seq("ngram"), "left")
      .groupBy("doc_id", "n_tok", "n_ngrams")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
  }

  private def contamOverlapOf(s: org.apache.spark.sql.SparkSession,
                              dir: String)
      : org.apache.spark.sql.DataFrame =
    contamOverlap(Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        tokens(col("text")).as("toks")))

  /** Doc-grain funnel verdicts — ONE definition for q_corpus_funnel's
    * stage accounting AND the train-ready composition
    * (q_train_ready / the pipeline's train_ready artifact, r13 verdict
    * #1: the kept set the funnel accounts for must BE the doc set the
    * packed artifact trains on, which it can only be by construction
    * if both read the same relation). Every doc with the FIRST
    * pipeline stage that drops it ('0_eval_slice'…'6_domain_cap') or
    * '7_kept', plus the source/text/toks/n_tok/qp columns downstream
    * composition needs. Each stage predicate is the standalone
    * operator's definition verbatim (qualityPoints, ruleFlags, the
    * keeper windows, contamOverlap, the q_domain_cap windows); the
    * near-dup stage rides the memoized CC labels (zero extra minhash
    * passes).
    *
    * Memoized ([[SharedCaches.memo]]) and persisted under the
    * [[SharedCaches.Funnel]] family (r14: with the mix audit the
    * relation gained a THIRD consumer, and only the CC leg was shared
    * — each consumer re-ran the tokenize/gopher/contamination/cap
    * corpus passes).
    */
  private[graft] def stagedDocs(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    SharedCaches.memo(SharedCaches.Funnel, "stagedDocs", s, dir) {
      SharedCaches.persist(SharedCaches.Funnel, stagedDocsUncached(s, dir))
    }

  private def stagedDocsUncached(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r18 (§3.3/§5): base is referenced FOUR times below (the keeper
    // agg's input, ndBest's qp join, contamOverlap's toks, capDrop) —
    // un-materialized, each re-ran the corpus tokenize + token-stat
    // pass inside the one-time staged build. Persisted under the
    // Funnel family (same cache-vs-recompute knob as the shingle
    // relation; MEMORY_AND_DISK, released with the family).
    val base = SharedCaches.persist(SharedCaches.Funnel,
      Tables.t(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("n_stop", TextQueries.nStop(col("toks")))
        .withColumn("sl", expr(
          "aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + x)"))
        .withColumn("nd", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("qp", TextQueries.qualityPoints(
          length(col("text")), col("n_tok"), col("n_stop")))
        // Gopher bundle off base's OWN token stats (the shared
        // ruleFlags column bundle — same definition as docRuleFlags,
        // applied to the pass already running; a docRuleFlags call
        // here re-tokenized the corpus a second time, r13 review)
        .withColumn("v_any", GovernanceQueries.ruleFlags(
          col("n_tok").cast("long"), col("sl"), col("nd"),
          col("n_stop").cast("long")).map(_._2).reduce(_ || _)))
    // near-dup non-keepers: CC labels (memoized, shared with the
    // cluster family) + q_dedup_keep_best's argmax-struct election —
    // the skew-safe template (r17 verdict #1: the previous
    // row_number-over-cluster window made a CC mega-component — chained
    // boilerplate overlap, exactly what star-contraction labels
    // exactly — one unsplittable task). The agg runs once over the one
    // qp-joined pass; the drop is "doc_id != keeper" off the agg,
    // join-backed to the CHECKPOINTED label relation (cc), so neither
    // reference re-tokenizes. max(struct(qp, -doc_id)) == the window's
    // (qp DESC, doc_id ASC) rank-1 row: doc_id is unique, so exactly
    // one keeper per cluster.
    val cc = DedupQueries.minhashComponents(s, dir)
    val ndBest = cc.join(base.select(col("doc_id"), col("qp")), "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("qp"), (-col("doc_id")).as("nd"))).as("best"))
      .select(col("cluster_id"), (-col("best.nd")).as("keeper_doc"))
    val ndDrop = cc.join(ndBest, "cluster_id")
      .filter(col("doc_id") =!= col("keeper_doc"))
      .select(col("doc_id"), lit(1).as("near_dup"))
    // contamination verdicts: contamOverlap (one definition with
    // q_contamination/q_contamination_sweep), fed base's OWN toks
    val contam = contamOverlap(
        base.select(col("doc_id"), col("source"), col("toks")))
      .filter(col("n_hits").cast("double") / col("n_ngrams") >= ContamTau)
      .select(col("doc_id"), lit(1).as("contam"))
    // per-source cap verdict: q_domain_cap's windows, verbatim
    val capTot = base.agg(
      sum(col("n_tok").cast("long")).cast("long").as("total_tok"),
      countDistinct(col("source")).as("n_sources"))
    val wCum = Window.partitionBy("source")
      .orderBy(col("qp").desc, md5(col("doc_id").cast("string")),
        col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val capDrop = base
      .select(col("doc_id"), col("source"), col("qp"),
        col("n_tok").cast("long").as("ntl"))
      .crossJoin(broadcast(capTot))
      .withColumn("budget",
        expr(s"($CapNum * total_tok) div ($CapDen * n_sources)"))
      .withColumn("cum", sum(col("ntl")).over(wCum))
      .filter(col("cum") > col("budget"))
      .select(col("doc_id"), lit(1).as("capped"))
    // exact-dup keeper per normalized-text fingerprint via the
    // skew-safe groupBy + join-back (r17 verdict #1: the hottest
    // fingerprint is the mass-duplicated boilerplate doc — one
    // unsplittable window partition at scale). The agg leg prunes to
    // (fp, doc_id) — a scan + md5, not a second tokenize pass; the
    // null-safe <=> join is AQE-skew-splittable on the hot fingerprint.
    BandIndex.withKeyAgg(
        base.withColumn("fp", md5(normText(col("text")))), Seq("fp"),
        Seq(min(col("doc_id")).as("keeper_id")))
      .drop("fp")
      .join(ndDrop, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(capDrop, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("source") === "src0", "0_eval_slice")
          .when(col("qp") < 2, "1_quality")
          .when(col("v_any"), "2_gopher")
          .when(col("keeper_id") =!= col("doc_id"), "3_exact_dup")
          .when(col("near_dup") === 1, "4_near_dup")
          .when(col("contam") === 1, "5_contaminated")
          .when(col("capped") === 1, "6_domain_cap")
          .otherwise("7_kept"))
  }

  /** The q_mixture_schedule stride rule — ONE definition for the
    * schedule, the budget table, and the train-ready composition
    * (q_train_ready orders the funnel-kept docs by this schedule):
    * upweighted sources src0..src4 interleave at 3× density (stride
    * 1), the long tail at stride 3.
    */
  private[graft] def mixtureStride: org.apache.spark.sql.Column =
    when(col("source").isin("src0", "src1", "src2", "src3", "src4"),
      lit(1L)).otherwise(lit(3L))

  /** SQL twin of [[mixtureStride]]. */
  private[graft] val mixtureStrideSql: String =
    """CASE WHEN source IN ('src0','src1','src2','src3','src4')
      |      THEN 1 ELSE 3 END""".stripMargin

  /** Oracle twin of [[stagedDocs]] — the CTE chain ending in
    * `staged(doc_id, source, toks, n_tok, stage)`, shared by the
    * q_corpus_funnel and q_train_ready oracles (consumers prepend
    * `WITH RECURSIVE` — the minhash CC chain needs it). fn_-prefixed:
    * the minhash pair/CC chains own the bare t/d/… names.
    */
  private[graft] lazy val funnelStagedSqlCtes: String = {
    val stop = "[" + TextQueries.stopwords.map(x => s"'$x'")
      .mkString(",") + "]"
    val anyRule = GovernanceQueries.ruleFlagsSql
      .map { case (_, p) => s"($p)" }.mkString(" OR ")
    s"""${DedupQueries.pairsSqlCtes},
       |${DedupQueries.ccSqlCtes},
       |fn_t AS (SELECT doc_id, source, text, $toksSql AS toks,
       |    min(doc_id) OVER (PARTITION BY md5($normSql)) AS keeper_id
       |  FROM documents),
       |fn_m AS (SELECT doc_id, source, keeper_id, toks,
       |    len(toks) AS n_tok,
       |    CAST(len(toks) AS BIGINT) AS nt,
       |    CAST(list_sum(list_transform(toks, t -> length(t)))
       |      AS BIGINT) AS sl,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
       |    CAST(len(list_filter(toks, x -> list_contains($stop, x)))
       |      AS BIGINT) AS ns,
       |    len(list_filter(toks, x -> list_contains($stop, x)))
       |      AS n_stop,
       |    length(text) AS n_chars FROM fn_t),
       |fn_q AS (SELECT *, (CASE WHEN n_tok >= 10 THEN 1 ELSE 0 END
       |    + CASE WHEN n_stop > 0 THEN 1 ELSE 0 END
       |    + CASE WHEN n_chars >= 64 THEN 1 ELSE 0 END) AS qp,
       |    ($anyRule) AS v_any FROM fn_m),
       |fn_nd AS (SELECT doc_id FROM (
       |  SELECT cc.doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id
       |      ORDER BY fn_q.qp DESC, cc.doc_id ASC) AS rn
       |  FROM cc JOIN fn_q ON cc.doc_id = fn_q.doc_id)
       |  WHERE rn > 1),
       |fn_g AS (SELECT doc_id, source,
       |    list_distinct(list_transform(range(1, len(toks)-${ContamN - 2}),
       |      i -> $contamGramSql)) AS ng
       |  FROM fn_t WHERE len(toks) >= $ContamN),
       |fn_bench AS (SELECT DISTINCT unnest(ng) AS ngram FROM fn_g
       |  WHERE source='src0'),
       |fn_x AS (SELECT doc_id, len(ng) AS n_ngrams, unnest(ng) AS ngram
       |  FROM fn_g WHERE source <> 'src0'),
       |fn_j AS (SELECT fn_x.doc_id, fn_x.n_ngrams,
       |    CAST(sum(CASE WHEN b.ngram IS NULL THEN 0 ELSE 1 END)
       |      AS BIGINT) AS n_hits
       |  FROM fn_x LEFT JOIN fn_bench b ON fn_x.ngram = b.ngram
       |  GROUP BY 1,2),
       |fn_c AS (SELECT doc_id FROM fn_j
       |  WHERE CAST(n_hits AS DOUBLE)/n_ngrams >= $ContamTau),
       |fn_capg AS (SELECT CAST(SUM(nt) AS BIGINT) AS total_tok,
       |    COUNT(DISTINCT source) AS n_sources FROM fn_q),
       |fn_capc AS (SELECT doc_id,
       |    ($CapNum * total_tok) // ($CapDen * n_sources) AS budget,
       |    CAST(SUM(nt) OVER (PARTITION BY source
       |      ORDER BY qp DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM fn_q CROSS JOIN fn_capg),
       |fn_cap AS (SELECT doc_id FROM fn_capc WHERE cum > budget),
       |staged AS (SELECT fn_q.doc_id, fn_q.source, fn_q.toks, fn_q.n_tok,
       |    CASE WHEN fn_q.source = 'src0' THEN '0_eval_slice'
       |         WHEN fn_q.qp < 2 THEN '1_quality'
       |         WHEN fn_q.v_any THEN '2_gopher'
       |         WHEN fn_q.keeper_id <> fn_q.doc_id THEN '3_exact_dup'
       |         WHEN nd.doc_id IS NOT NULL THEN '4_near_dup'
       |         WHEN fn_c.doc_id IS NOT NULL THEN '5_contaminated'
       |         WHEN cap.doc_id IS NOT NULL THEN '6_domain_cap'
       |         ELSE '7_kept' END AS stage
       |  FROM fn_q
       |  LEFT JOIN fn_nd nd ON fn_q.doc_id = nd.doc_id
       |  LEFT JOIN fn_c ON fn_q.doc_id = fn_c.doc_id
       |  LEFT JOIN fn_cap cap ON fn_q.doc_id = cap.doc_id)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_repetition_filter",
      "Gopher-style repetition filter: per-doc top-token fraction and " +
        "duplicate-bigram fraction -> repetitive flag. Shape: one scan, " +
        "explode -> two-level hash agg (partial aggs collapse per-task " +
        "token counts before the only doc_id shuffle); the bigram " +
        "distinct-count rides along as a group key, no second pass.",
      (s, dir) => {
        val t = Tables.t(s, dir, "documents")
          .withColumn("toks", tokens(col("text")))
          .withColumn("n_tok", size(col("toks")))
          .withColumn("n_bi2", size(wordNgrams(col("toks"), 2)))
        val dup2raw = lit(1.0) -
          col("n_bi2").cast("double") / (col("n_tok") - 1)
        val topraw = col("top_cnt").cast("double") / col("n_tok")
        t.select(col("doc_id"), col("n_tok"), col("n_bi2"),
            explode(col("toks")).as("tok"))
          .groupBy("doc_id", "n_tok", "n_bi2", "tok")
          .agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id", "n_tok", "n_bi2")
          .agg(max(col("cnt")).as("top_cnt"))
          .select(
            col("doc_id"), col("n_tok"),
            round(topraw, 6).as("top_word_frac"),
            when(col("n_tok") >= 2, round(dup2raw, 6)).otherwise(0.0)
              .as("dup_2gram_frac"),
            when(topraw >= TopWordTau ||
              (col("n_tok") >= 2 && dup2raw >= Dup2Tau), 1).otherwise(0)
              .as("repetitive"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
              |m AS (SELECT doc_id, len(toks) AS n_tok,
              |    len(list_distinct(list_transform(range(1, len(toks)),
              |      i -> toks[i]||' '||toks[i+1]))) AS n_bi2,
              |    unnest(toks) AS tok FROM t),
              |c AS (SELECT doc_id, n_tok, n_bi2, tok, count(*) AS cnt
              |  FROM m GROUP BY 1,2,3,4),
              |a AS (SELECT doc_id, n_tok, n_bi2, max(cnt) AS top_cnt
              |  FROM c GROUP BY 1,2,3)
              |SELECT doc_id, n_tok,
              |  round(CAST(top_cnt AS DOUBLE)/n_tok, 6) AS top_word_frac,
              |  CASE WHEN n_tok >= 2
              |    THEN round(1.0 - CAST(n_bi2 AS DOUBLE)/(n_tok-1), 6)
              |    ELSE 0.0 END AS dup_2gram_frac,
              |  CASE WHEN CAST(top_cnt AS DOUBLE)/n_tok >= $TopWordTau
              |    OR (n_tok >= 2 AND 1.0 - CAST(n_bi2 AS DOUBLE)/(n_tok-1) >= $Dup2Tau)
              |    THEN 1 ELSE 0 END AS repetitive
              |FROM a ORDER BY doc_id""".stripMargin)
    ),

    QueryDef(
      "q_contamination",
      s"Benchmark decontamination: the src0 slice stands in for an eval " +
        s"set; every other doc's word $ContamN-gram overlap against the " +
        "benchmark n-gram set is measured and docs >= " +
        s"$ContamTau flagged. Shape: benchmark distinct n-grams (small) " +
        "BROADCAST to an equi-join against the exploded corpus n-grams — " +
        "the corpus never shuffles; at 100 TB the eval-set side stays " +
        "KBs-to-MBs while the corpus side is a map-only scan + one " +
        "doc_id agg shuffle. (For eval sets beyond broadcast size: same " +
        "plan with a shuffled equi-join, or a Bloom filter pre-pass.)",
      (s, dir) => {
        // overlap body: contamOverlap — one definition with the sweep
        // and the funnel's contamination stage
        contamOverlapOf(s, dir)
          .select(col("doc_id"), col("n_ngrams"), col("n_hits"),
            round(col("n_hits").cast("double") / col("n_ngrams"), 6)
              .as("overlap_frac"),
            when(col("n_hits").cast("double") / col("n_ngrams") >= ContamTau,
              1).otherwise(0).as("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
              |g AS (SELECT doc_id, source,
              |    list_distinct(list_transform(range(1, len(toks)-${ContamN - 2}),
              |      i -> $contamGramSql)) AS ng
              |  FROM t WHERE len(toks) >= $ContamN),
              |bench AS (SELECT DISTINCT unnest(ng) AS ngram FROM g WHERE source='src0'),
              |x AS (SELECT doc_id, len(ng) AS n_ngrams, unnest(ng) AS ngram
              |  FROM g WHERE source <> 'src0'),
              |j AS (SELECT x.doc_id, x.n_ngrams,
              |    CAST(sum(CASE WHEN b.ngram IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits
              |  FROM x LEFT JOIN bench b ON x.ngram = b.ngram
              |  GROUP BY 1,2)
              |SELECT doc_id, n_ngrams, n_hits,
              |  round(CAST(n_hits AS DOUBLE)/n_ngrams, 6) AS overlap_frac,
              |  CASE WHEN CAST(n_hits AS DOUBLE)/n_ngrams >= $ContamTau
              |    THEN 1 ELSE 0 END AS contaminated
              |FROM j ORDER BY doc_id""".stripMargin)
    ),

    QueryDef(
      "q_contamination_sweep",
      "Decontamination threshold sweep (the q_dedup_tau_sweep " +
        "discipline on the contamination knob): the per-doc overlap " +
        "fractions q_contamination computes, priced at every candidate " +
        s"τ in one pass — per τ: flagged docs, flagged tokens, and the " +
        "flagged fraction of the non-benchmark corpus. The committed " +
        s"τ=$ContamTau is one row of its own table (the sweep@" +
        s"$ContamTau row must equal q_contamination's flagged count — " +
        "spec-pinned), and the table is monotone non-increasing in τ " +
        "by construction — how strict decontamination CAN be before it " +
        "eats the corpus becomes a read, not a guess. Denominator: " +
        "frac_flagged divides by the ELIGIBLE population — non-" +
        s"benchmark docs with ≥ $ContamN tokens (docs too short to " +
        "form one n-gram can never be flagged at any τ, so they are " +
        "excluded from both numerator and denominator — same universe " +
        "q_contamination scores). Shape: the " +
        "q_contamination overlap relation (one broadcast bench join, " +
        "one doc-grain agg) + a τ-literal explode on the tiny per-doc " +
        "fraction relation — zero extra corpus passes.",
      (s, dir) => {
        val taus = Seq(0.1, 0.2, 0.3, 0.5, 0.8)
        // r18: an eager checkpoint of fr was TRIED here (§3.3 — fr is
        // read twice: population count + τ-explode agg) and MEASURED
        // SLOWER (closing bench 1.48 → 1.91 s): at this relation's
        // size the checkpoint's extra materialization job costs more
        // than the duplicated lazy overlap pass. Reverted — the
        // cache-vs-recompute knob turned the recompute way.
        val fr = contamOverlapOf(s, dir)
          .select(col("doc_id"), col("n_tok"),
            (col("n_hits").cast("double") / col("n_ngrams")).as("frac"))
        fr.crossJoin(broadcast(fr.agg(
            count(lit(1)).as("n_total")).select(col("n_total"))))
          .select(col("n_total"), col("n_tok"), col("frac"),
            explode(array(taus.map(t => lit(t)): _*)).as("tau"))
          .groupBy("tau")
          .agg(sum(when(col("frac") >= col("tau"), 1L).otherwise(0L))
              .cast("long").as("n_flagged"),
            sum(when(col("frac") >= col("tau"), col("n_tok"))
              .otherwise(0L)).cast("long").as("tokens_flagged"),
            round(sum(when(col("frac") >= col("tau"), 1L).otherwise(0L))
              .cast("double") / max(col("n_total")), 6).as("frac_flagged"))
          .orderBy("tau")
      },
      Some {
        val taus = "[0.1, 0.2, 0.3, 0.5, 0.8]"
        s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
           |g AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok,
           |    list_distinct(list_transform(range(1, len(toks)-${ContamN - 2}),
           |      i -> $contamGramSql)) AS ng
           |  FROM t WHERE len(toks) >= $ContamN),
           |bench AS (SELECT DISTINCT unnest(ng) AS ngram FROM g
           |  WHERE source='src0'),
           |x AS (SELECT doc_id, n_tok, len(ng) AS n_ngrams,
           |    unnest(ng) AS ngram
           |  FROM g WHERE source <> 'src0'),
           |fr AS (SELECT x.doc_id, x.n_tok,
           |    CAST(sum(CASE WHEN b.ngram IS NULL THEN 0 ELSE 1 END)
           |      AS DOUBLE)/x.n_ngrams AS frac
           |  FROM x LEFT JOIN bench b ON x.ngram = b.ngram
           |  GROUP BY x.doc_id, x.n_tok, x.n_ngrams),
           |tot AS (SELECT count(*) AS n_total FROM fr),
           |e AS (SELECT n_total, n_tok, frac, unnest($taus) AS tau
           |  FROM fr, tot)
           |SELECT tau,
           |  CAST(sum(CASE WHEN frac >= tau THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_flagged,
           |  CAST(sum(CASE WHEN frac >= tau THEN n_tok ELSE 0 END)
           |    AS BIGINT) AS tokens_flagged,
           |  round(CAST(sum(CASE WHEN frac >= tau THEN 1 ELSE 0 END)
           |    AS DOUBLE)/max(n_total), 6) AS frac_flagged
           |FROM e GROUP BY tau ORDER BY tau""".stripMargin
      }
    ),

    QueryDef(
      "q_contamination_bloom",
      s"Decontamination with a Bloom-filter pre-pass — the eval-sets-" +
        "beyond-broadcast-size path q_contamination documents. The " +
        "benchmark n-grams hash into a bit set sized at runtime to " +
        s"$BloomBitsPerGram bits per distinct eval n-gram (k=1, " +
        "expressed as a broadcast semi-join on the bucket id — an " +
        "order of magnitude smaller than broadcasting the n-gram " +
        "strings, and never saturated however large the eval set " +
        "grows); only corpus n-grams whose bucket is occupied reach " +
        "the exact verify join, which carries NO broadcast hint — the " +
        "planner broadcasts a small eval set and shuffle-joins a large " +
        "one, and either way only pre-filter SURVIVORS shuffle, never " +
        "the n-gram-grain corpus. The per-doc hit count joins back at " +
        "doc grain. False positives only add verify rows; output is " +
        "exact — the oracle is the plain contamination SQL.",
      (s, dir) => {
        val g = Tables.t(s, dir, "documents")
          .withColumn("toks", tokens(col("text")))
          .filter(size(col("toks")) >= ContamN)
          .select(col("doc_id"), col("source"),
            wordNgrams(col("toks"), ContamN).as("ng"))
        // Persisted: sized (count), hashed into the filter, and verify-
        // joined — three readers of the small side.
        val bench = SharedCaches.persist(SharedCaches.BloomBench,
          g.filter(col("source") === "src0")
            .select(explode(col("ng")).as("ngram")).distinct())
        // Size the filter to the eval set (count runs on the SMALL side
        // only): next power of two >= BloomBitsPerGram per n-gram, with
        // the BloomBits floor. A fixed size would saturate on a large
        // eval set — every bucket occupied, filtering nothing.
        val nb = math.max(1L, bench.count()) * BloomBitsPerGram
        val bloomBits = math.max(BloomBits.toLong,
          java.lang.Long.highestOneBit(nb - 1) << 1)
        // The Bloom filter: the set of occupied hash buckets. <= bloomBits
        // rows however large the eval set is.
        val bits = bench
          .select(pmod(xxhash64(col("ngram")), lit(bloomBits)).as("bit"))
          .distinct()
        val corpus = g.filter(col("source") =!= "src0")
        // Pre-filter (map-only: broadcast integer semi-join), then exact
        // verify only on survivors (no hint: the planner picks broadcast
        // vs shuffle by the eval set's actual size); count exact hits
        // per doc.
        val hits = corpus
          .select(col("doc_id"), explode(col("ng")).as("ngram"))
          .withColumn("bit", pmod(xxhash64(col("ngram")), lit(bloomBits)))
          .join(broadcast(bits), Seq("bit"), "left_semi")
          .join(bench, Seq("ngram"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"))
        // Zero-hit docs never enter the verify join; they re-appear via
        // the doc-grain left join against the unexploded base relation.
        corpus.select(col("doc_id"), size(col("ng")).as("n_ngrams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_ngrams"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_ngrams"), 6).as("overlap_frac"),
            when(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_ngrams") >= ContamTau, 1).otherwise(0)
              .as("contaminated"))
          .orderBy("doc_id")
      },
      // The Bloom pre-pass is output-transparent: the oracle is the plain
      // exact-contamination SQL (same relation as q_contamination).
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
              |g AS (SELECT doc_id, source,
              |    list_distinct(list_transform(range(1, len(toks)-${ContamN - 2}),
              |      i -> $contamGramSql)) AS ng
              |  FROM t WHERE len(toks) >= $ContamN),
              |bench AS (SELECT DISTINCT unnest(ng) AS ngram FROM g WHERE source='src0'),
              |x AS (SELECT doc_id, len(ng) AS n_ngrams, unnest(ng) AS ngram
              |  FROM g WHERE source <> 'src0'),
              |j AS (SELECT x.doc_id, x.n_ngrams,
              |    CAST(sum(CASE WHEN b.ngram IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits
              |  FROM x LEFT JOIN bench b ON x.ngram = b.ngram
              |  GROUP BY 1,2)
              |SELECT doc_id, n_ngrams, n_hits,
              |  round(CAST(n_hits AS DOUBLE)/n_ngrams, 6) AS overlap_frac,
              |  CASE WHEN CAST(n_hits AS DOUBLE)/n_ngrams >= $ContamTau
              |    THEN 1 ELSE 0 END AS contaminated
              |FROM j ORDER BY doc_id""".stripMargin)
    ),

    // ----------------------------------------------------------- H4b''
    QueryDef(
      "q_memorization_curve",
      s"Verbatim-overlap curve at widths ${MemNs.mkString("/")} (the " +
        "memorization-risk read-out of Lee et al. 2022 / Carlini et " +
        "al. 2021: how long a verbatim span survives from eval into " +
        "train): per n-gram width, the fraction of the eval slice's " +
        "DISTINCT word n-grams (src0, the q_contamination convention) " +
        "that appear verbatim anywhere in the train split — type-level " +
        "coverage that must DECAY with n for healthy splits (flat = " +
        "verbatim leakage, the q_split_leakage failure mode at span " +
        "grain). Complements q_contamination's per-doc flags at ONE " +
        "fixed n: this is the curve that picks n. Shape: each branch " +
        "computes all three widths in ITS one pass (an array-of-structs " +
        "unpivot inside the scan, then a single explode) — the eval " +
        "branch scans only the src0 slice (the source filter reaches " +
        "the parquet scan, so a source-partitioned layout prunes it to " +
        "the eval files), the train branch is one map-only scan; eval's " +
        "distinct-gram relation stays eval-sized and BROADCASTS into a " +
        "left-semi probe of the train gram stream, so the corpus never " +
        "shuffles document content — the distinct that follows shuffles " +
        "only HIT grams (bounded by the eval set) and the final agg is " +
        s"${MemNs.length} rows.",
      (s, dir) => {
        val t = Tables.t(s, dir, "documents")
          .select(col("source"), tokens(col("text")).as("toks"))
        val g = t.select(col("source"), explode(array(MemNs.map(n =>
            struct(lit(n).as("n"),
              wordNgrams(col("toks"), n).as("ng"))): _*)).as("w"))
          .select(col("source"), col("w.n").as("n"),
            explode(col("w.ng")).as("ngram"))
        val ev = g.filter(col("source") === "src0")
          .select("n", "ngram").distinct()
        val hits = g.filter(col("source") =!= "src0")
          .select("n", "ngram")
          .join(broadcast(ev), Seq("n", "ngram"), "left_semi")
          .distinct()
          .groupBy("n").agg(count(lit(1)).as("n_hit"))
        ev.groupBy("n").agg(count(lit(1)).as("n_eval_grams"))
          .join(hits, Seq("n"), "left")
          .select(col("n").cast("long").as("n"), col("n_eval_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_eval_grams"), 6).as("hit_frac"))
          .orderBy("n")
      },
      Some {
        val arms = MemNs.map { n =>
          val gram = (0 until n).map(j =>
            if (j == 0) "toks[i]" else s"toks[i+$j]").mkString("||' '||")
          s"""g_$n AS (SELECT source,
             |    list_distinct(list_transform(range(1, len(toks)-${n - 2}),
             |      i -> $gram)) AS ng
             |  FROM t WHERE len(toks) >= $n),
             |e_$n AS (SELECT DISTINCT unnest(ng) AS ngram FROM g_$n
             |  WHERE source = 'src0'),
             |h_$n AS (SELECT COUNT(*) AS nh FROM (SELECT DISTINCT x.ngram
             |  FROM (SELECT unnest(ng) AS ngram FROM g_$n
             |    WHERE source <> 'src0') x
             |  JOIN e_$n e ON x.ngram = e.ngram)),
             |c_$n AS (SELECT $n AS n,
             |  (SELECT COUNT(*) FROM e_$n) AS n_eval_grams,
             |  (SELECT nh FROM h_$n) AS n_hit)""".stripMargin
        }.mkString(",\n")
        val union = MemNs.map(n => s"SELECT * FROM c_$n")
          .mkString("\nUNION ALL\n")
        s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
           |$arms
           |SELECT CAST(n AS BIGINT) AS n,
           |  CAST(n_eval_grams AS BIGINT) AS n_eval_grams,
           |  CAST(n_hit AS BIGINT) AS n_hit,
           |  round(CAST(n_hit AS DOUBLE) / n_eval_grams, 6) AS hit_frac
           |FROM ($union) ORDER BY n""".stripMargin
      }
    ),

    QueryDef(
      "q_tfidf_terms",
      "TF-IDF term scoring: top-10 terms per language by tf x (N/df) — " +
        "the log-free rarity weight keeps IEEE determinism across " +
        "engines (same ranking; ln is monotone in N/df). Shape: ONE " +
        "corpus scan -> explode -> (term, lang, doc) partial+final agg; " +
        "the tf and df branches both re-aggregate that one shuffled " +
        "relation (ReuseExchange), df (vocab-sized) + the 1-row corpus " +
        "count broadcast back into tf. Top-k per lang is a " +
        "WindowGroupLimit, never a global sort.",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        // ONE corpus scan: explode -> (term, lang, doc) count, then both
        // the tf branch and the df branch re-aggregate from that single
        // shuffled relation (identical subplans -> ReuseExchange computes
        // the explode+first-agg once). df = rows per term because a doc
        // has exactly one lang, so (term, doc) is unique in g.
        val g = docs
          .select(col("doc_id"), col("lang"),
            explode(tokens(col("text"))).as("term"))
          .groupBy("term", "lang", "doc_id")
          .agg(count(lit(1)).as("cnt"))
        val tf = g.groupBy("lang", "term")
          .agg(sum(col("cnt")).as("tf"))
        // df == rows of g per term; the cnt >= 1 guard is vacuously true
        // but forces a real dependency on cnt so this branch's g subplan
        // stays identical to the tf branch's — otherwise the optimizer
        // strips the inner count from this copy and the two exchanges no
        // longer canonicalize equal for ReuseExchange (one corpus scan
        // instead of two).
        val dfreq = g.groupBy("term")
          .agg(count(when(col("cnt") >= 1, 1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_total"))
        val scoreRaw = col("tf").cast("double") *
          (col("n_total").cast("double") / col("df").cast("double"))
        val w = Window.partitionBy("lang")
          .orderBy(scoreRaw.desc, col("term").asc)
        tf.join(broadcast(dfreq), "term")
          .crossJoin(broadcast(n))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("lang"), col("rank"), col("term"), col("tf"),
            col("df"), round(scoreRaw, 6).as("tfidf"))
          .orderBy("lang", "rank")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
              |tf AS (SELECT lang, term, count(*) AS tf FROM
              |  (SELECT lang, unnest(toks) AS term FROM t) GROUP BY 1,2),
              |dfq AS (SELECT term, count(*) AS df FROM
              |  (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t)
              |  GROUP BY 1),
              |n AS (SELECT count(*) AS n_total FROM documents),
              |scored AS (SELECT lang, term, tf, df,
              |    CAST(tf AS DOUBLE) * (CAST(n_total AS DOUBLE)/CAST(df AS DOUBLE)) AS score,
              |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
              |      CAST(tf AS DOUBLE) * (CAST(n_total AS DOUBLE)/CAST(df AS DOUBLE)) DESC,
              |      term ASC) AS rank
              |  FROM tf JOIN dfq USING (term), n)
              |SELECT lang, rank, term, tf, df, round(score, 6) AS tfidf
              |FROM scored WHERE rank <= 10 ORDER BY lang, rank""".stripMargin)
    ),

    QueryDef(
      "q_bm25",
      "BM25 document ranking (Robertson-Sparck Jones; k1=1.2, b=0.75) " +
        "for a fixed 3-term query — the retrieval scorer a RAG corpus " +
        "is indexed for, and the lexical complement of the ANN family. " +
        "r14 (r13 verdict #2): serves from the stored LexIndex, the " +
        "NINTH artifact family — term-bucketed postings carrying " +
        "build-time df and dl, plus the 1-row corpus stats — instead " +
        "of re-tokenizing the corpus per execution (two full scans, " +
        "fine as a query, wrong as a serving path; the q_bpe_encode " +
        "move). Only docs containing >= 1 query term rank (retrieval " +
        "serves from postings — a doc the index has no entry for is " +
        "not retrieved; zero-score rows never reached the top-20 " +
        "anyway). Shape: the term IN (...) predicate bucket-prunes AND " +
        "pushes into the posting scan, so the query touches its terms' " +
        "posting lists only; the per-doc combine shuffles just the " +
        "matched postings (Σ df(term) rows — corpus-size-independent " +
        "for selective terms); the documents table appears NOWHERE in " +
        "the plan (LexIndexSpec pins both). r15: stop-term governance " +
        "(LexIndex.StopTermDfFrac) — a query term with df over " +
        "floor(0.9·N) is skipped (idf ≈ 0, posting list ≈ the corpus); " +
        "the df cap is a literal on the stored df column so it pushes " +
        "into the scan, and the oracle applies the identical cap. " +
        "Determinism: idf's ln() " +
        "rounded 9dp, each per-term score rounded 9dp, then the " +
        "per-doc sum in DECIMAL(38,12) — order-independent, so the " +
        "posting-grain aggregation needs no fixed term order; ranks " +
        "break ties by doc_id.",
      (s, dir) => {
        val (post, stats) = LexIndex.buildOrLoad(s,
          Tables.par(s, dir, "documents"), LexIndex.tag(dir))
        val w = Window.orderBy(col("score").desc, col("doc_id").asc)
        LexIndex.scoreTerms(post, stats, Bm25Terms)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 20)
          .select(col("rank"), col("doc_id"), col("dl"),
            round(col("score"), 6).as("score"))
          .orderBy("rank")
      },
      Some {
        // Generated from Bm25Terms (r8 advice): tf_i / df_i / score
        // expressions unroll from the same Seq the Spark side reads, so
        // editing the term list cannot desynchronize the two engines.
        // The oracle recomputes the index's answer the naive way: full
        // tokenize, per-term tf/df, decimal-exact per-doc sums over the
        // MATCHED docs (tf_0+tf_1+tf_2 > 0 — the posting universe).
        val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
          s"    len(list_filter(toks, x -> x = '$t')) AS tf_$i"
        }.mkString(",\n")
        val dfCols = Bm25Terms.indices.map(i =>
          s"    SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
          .mkString(",\n")
        // Stop-term governance mirrored (r15): a term with df over
        // floor(StopTermDfFrac * n_docs) is skipped by the index read
        // path (its posting list is O(corpus), its idf ~ 0) — the
        // oracle applies the identical cap so the two engines agree by
        // construction, not by the test data happening to lack
        // stopword query terms.
        val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
        val scoreSum = Bm25Terms.indices.map(i =>
          s"""(CASE WHEN tf_$i > 0 AND df_$i <= $capSql THEN
             |      CAST(round(round(ln((n_docs - df_$i + 0.5)
             |          / (df_$i + 0.5) + 1.0), 9)
             |        * CAST(tf_$i AS DOUBLE) * 2.2
             |        / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
             |          / (CAST(sum_dl AS DOUBLE) / n_docs))), 9)
             |        AS DECIMAL(38,12))
             |      ELSE CAST(0 AS DECIMAL(38,12)) END)""".stripMargin)
          .mkString("\n    + ")
        val anyTf = Bm25Terms.indices.map(i =>
          s"(CASE WHEN df_$i <= $capSql THEN tf_$i ELSE 0 END)")
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |$tfCols
           |  FROM t),
           |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           |$dfCols
           |  FROM d),
           |sc AS (SELECT doc_id, dl,
           |    CAST($scoreSum AS DOUBLE) AS score
           |  FROM d, st
           |  WHERE $anyTf > 0),
           |r AS (SELECT doc_id, dl, score,
           |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
           |  FROM sc)
           |SELECT rank, doc_id, dl, round(score, 6) AS score
           |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
      }
    ),

    QueryDef(
      "q_ql_dirichlet",
      s"Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty " +
        s"2001, mu=$QlMu) for the same fixed query as q_bm25, from the " +
        s"same stored LexIndex — the language-modeling retrieval " +
        s"scorer next to the probabilistic one, sharing one artifact " +
        s"(a production index serves BOTH; storing per-scorer indexes " +
        s"would double the 10^12-row table for a formula change). " +
        s"ln P(q|d) decomposes DAAT-style: Σ_match ln(1 + tf·|C| / " +
        s"(mu·cf)) + |q|·ln(mu/(dl+mu)) — the first leg needs only " +
        s"MATCHED postings, the second only dl, so docs match exactly " +
        s"as q_bm25 (>= 1 uncapped query term; StopTermDfFrac governs " +
        s"every scorer face of the index, mirrored in the oracle, and " +
        s"|q| counts uncapped terms so the dl leg and the match leg " +
        s"agree on the effective query). cf (collection term " +
        s"frequency) is NOT stored on postings — df is — but the " +
        s"term's matched rows ARE its full posting list, so cf " +
        s"derives from the already-pruned scan with one tiny " +
        s"term-grain agg: no second index pass, no corpus touch. " +
        s"Determinism: 1 + tf·|C|/(mu·cf) is one IEEE division of " +
        s"exact integers (tf·|C| exact in long to ~1e18 — documented " +
        s"headroom at 10^14 collection tokens), each ln rounded 9dp " +
        s"into DECIMAL(38,12) sums; the dl leg is literal-int × " +
        s"9dp-rounded ln, one IEEE multiply-add; ranks tie-break by " +
        s"doc_id. Scores are negative log-probabilities — closer to " +
        s"zero ranks higher.",
      (s, dir) => qlDirichlet(s, Tables.par(s, dir, "documents"),
        LexIndex.tag(dir), Bm25Terms),
      Some {
        val qVals = Bm25Terms.map(t => s"('$t')").mkString(",")
        val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
           |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
           |  GROUP BY 1, 2),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
           |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
           |    CAST(sum(tf) AS BIGINT) AS cf FROM p GROUP BY 1),
           |q(term) AS (VALUES $qVals),
           |nq AS (SELECT CAST(count(*) AS BIGINT) AS nq
           |  FROM q JOIN dfq USING (term), st WHERE df <= $capSql),
           |ts AS (SELECT doc_id,
           |    CAST(round(ln(1.0 + CAST(tf * sum_dl AS DOUBLE)
           |      / ($QlMu * cf)), 9) AS DECIMAL(38,12)) AS ts
           |  FROM p JOIN q USING (term) JOIN dfq USING (term), st
           |  WHERE df <= $capSql),
           |sc AS (SELECT doc_id, dl,
           |    CAST(sum(ts) AS DOUBLE)
           |      + nq * round(ln(CAST($QlMu AS DOUBLE) / (dl + $QlMu)),
           |          9) AS score
           |  FROM ts JOIN d USING (doc_id), nq
           |  GROUP BY doc_id, dl, nq),
           |r AS (SELECT doc_id, dl, score,
           |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
           |      AS rank FROM sc)
           |SELECT rank, doc_id, dl, round(score, 6) AS score
           |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
      }
    ),

    QueryDef(
      "q_proximity_rerank",
      s"Positional proximity re-ranking (Clarke et al. 2000 cover " +
        s"density; the Tao & Zhai 2007 MinCover statistic) of the BM25 " +
        s"top-20: retrieval from the stored LexIndex cannot see WHERE " +
        s"terms sit — a doc mentioning the query terms in one phrase " +
        s"and a doc scattering them across sections score the same " +
        s"bag-of-words BM25 — so stage two re-reads ONLY the 20 " +
        s"shortlisted docs and computes each one's minimal token " +
        s"window covering ALL query terms (min over position " +
        s"combinations of max−min+1 — exact, integer, " +
        s"offset-invariant), then re-ranks by (has-window, window " +
        s"asc, bm25 desc, doc_id). Docs missing a term have no " +
        s"window and fall behind every covered doc, BM25-ordered. " +
        s"The window leg deliberately uses the FULL query (no " +
        s"StopTermDfFrac cap): a stopword carries no idf evidence " +
        s"but its POSITION is still phrase evidence — the two legs " +
        s"measure different things, and both engines apply the same " +
        s"rule. Shape: stage one is q_bm25's bucket-pruned serving " +
        s"plan; stage two is a pushed doc_id point lookup (20 rows) " +
        s"whose per-doc position cross-product is bounded by " +
        s"occurrence counts (≤ dl³ worst case on 20 SHORT relations " +
        s"— panel-bounded, corpus-independent; the classic trade of " +
        s"positional re-rank: pay positions only for the shortlist, " +
        s"never index them). Determinism: integer windows, " +
        s"decimal-exact BM25, doc_id tiebreak.",
      (s, dir) => proximityRerank(s, Tables.par(s, dir, "documents"),
        LexIndex.tag(dir), Bm25Terms),
      Some {
        val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
        val qVals = Bm25Terms.map(t => s"('$t')").mkString(",")
        // per-term position legs a/b/c... unrolled from the SAME Seq
        // as the Spark side (the q_bm25 generated-oracle convention)
        val alias = Bm25Terms.indices.map(i => s"p$i")
        val posJoins = alias.zipWithIndex.map { case (a, i) =>
          s"JOIN pos $a ON $a.doc_id = w0.doc_id AND $a.term = '${Bm25Terms(i)}'"
        }.mkString("\n  ")
        val ps = alias.map(a => s"$a.p").mkString(", ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
           |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
           |  GROUP BY 1, 2),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
           |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           |  FROM p GROUP BY 1),
           |q(term) AS (VALUES $qVals),
           |contrib AS (SELECT p.doc_id, p.term,
           |    CAST(round(round(ln((n_docs - df + 0.5) / (df + 0.5)
           |        + 1.0), 9)
           |      * CAST(tf AS DOUBLE) * 2.2
           |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
           |        / (CAST(sum_dl AS DOUBLE) / n_docs))), 9)
           |      AS DECIMAL(38,12)) AS ts
           |  FROM p JOIN q USING (term) JOIN d USING (doc_id)
           |    JOIN dfq USING (term), st
           |  WHERE df <= $capSql),
           |bscore AS (SELECT doc_id, CAST(sum(ts) AS DOUBLE) AS score
           |  FROM contrib GROUP BY 1),
           |w0 AS (SELECT doc_id, score FROM (SELECT doc_id, score,
           |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r
           |  FROM bscore) rb WHERE r <= 20),
           |pos AS (SELECT t.doc_id,
           |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS p,
           |    unnest(toks) AS term
           |  FROM t JOIN w0 ON t.doc_id = w0.doc_id),
           |win AS (SELECT w0.doc_id,
           |    min(greatest($ps) - least($ps) + 1) AS w
           |  FROM w0
           |  $posJoins
           |  GROUP BY 1),
           |r AS (SELECT w0.doc_id, w0.score, win.w,
           |    ROW_NUMBER() OVER (ORDER BY
           |      CASE WHEN win.w IS NULL THEN 1 ELSE 0 END ASC,
           |      win.w ASC, w0.score DESC, w0.doc_id ASC) AS rank
           |  FROM w0 LEFT JOIN win ON w0.doc_id = win.doc_id)
           |SELECT rank, doc_id, w AS window,
           |  round(score, 6) AS score
           |FROM r ORDER BY rank""".stripMargin
      }
    ),

    QueryDef(
      "q_passage_retrieval",
      s"Passage-grain retrieval with best-passage (maxP) document " +
        s"election (Callan 1994 passage-level evidence; Dai & Callan " +
        s"2019) — the grain a RAG deployment actually serves (r16 " +
        s"verdict missing #1). Composes three standing artifacts: the " +
        s"stored ChunkStore's token spans reconstruct chunk texts " +
        s"(${PackingQueries.ChunkW}-token windows every " +
        s"${PackingQueries.ChunkStride}), a CHUNK-grain LexIndex " +
        s"(role 'plex' — the family's tag parameterization, so the " +
        s"same append/refresh/delete verbs maintain it) serves BM25 " +
        s"where N = chunk count and dl = chunk length, and docs rank " +
        s"by their best passage with the earliest chunk breaking " +
        s"ties. Doc-grain BM25 dilutes a sharp passage inside a long " +
        s"document (dl in the denominator is the WHOLE doc); passage " +
        s"grain scores the evidence where it sits — PassageSpec pins " +
        s"both directions (a long doc with one relevant passage WINS " +
        s"under passage grain and loses under doc grain; on a " +
        s"single-chunk corpus the two rankings are IDENTICAL). Shape: " +
        s"chunk-index build is one corpus tokenize + the family's " +
        s"bucketed write (per session, like every build); serving is " +
        s"q_bm25's bucket-pruned posting scan at chunk grain, the " +
        s"maxP election one doc-grain ordered-struct aggregate over " +
        s"df-bounded matched chunks — the corpus never shuffles at " +
        s"query time, and chunk ids pack doc and index into one long " +
        s"(2^20 chunks/doc — ~25M-token headroom). StopTermDfFrac " +
        s"governs at chunk grain, mirrored in the oracle. " +
        s"Determinism: decimal-exact per-chunk BM25 sums, integer " +
        s"tiebreaks (chunk_idx, doc_id).",
      (s, dir) => passageRetrieval(s, Tables.par(s, dir, "documents"),
        ChunkStore.tag(dir), BandIndex.tag(dir, "plex"), Bm25Terms),
      Some {
        // Generated from Bm25Terms (the q_bm25 convention) at CHUNK
        // grain: the chunk CTEs mirror PackingQueries.chunkRowsOf
        // (full-tail-coverage starts, clamped token slices), then
        // tf/df/score unroll per term over ctoks, best passage per doc
        // by (score desc, chunk_idx asc), docs ranked by best score.
        val w = PackingQueries.ChunkW
        val stride = PackingQueries.ChunkStride
        val startsSql = PackingQueries.chunkStartsSql
        val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
          s"    len(list_filter(ctoks, x -> x = '$t')) AS tf_$i"
        }.mkString(",\n")
        val dfCols = Bm25Terms.indices.map(i =>
          s"    SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
          .mkString(",\n")
        val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
        val scoreSum = Bm25Terms.indices.map(i =>
          s"""(CASE WHEN tf_$i > 0 AND df_$i <= $capSql THEN
             |      CAST(round(round(ln((n_docs - df_$i + 0.5)
             |          / (df_$i + 0.5) + 1.0), 9)
             |        * CAST(tf_$i AS DOUBLE) * 2.2
             |        / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
             |          / (CAST(sum_dl AS DOUBLE) / n_docs))), 9)
             |        AS DECIMAL(38,12))
             |      ELSE CAST(0 AS DECIMAL(38,12)) END)""".stripMargin)
          .mkString("\n    + ")
        val anyTf = Bm25Terms.indices.map(i =>
          s"(CASE WHEN df_$i <= $capSql THEN tf_$i ELSE 0 END)")
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |nn AS (SELECT doc_id, toks, len(toks) AS n FROM t
           |  WHERE len(toks) > 0),
           |stx AS (SELECT doc_id, toks, n, unnest($startsSql) AS start,
           |  generate_subscripts($startsSql, 1) - 1 AS chunk_idx
           |  FROM nn),
           |c AS (SELECT doc_id, chunk_idx,
           |    toks[start+1:start+$w] AS ctoks FROM stx),
           |d AS (SELECT doc_id, chunk_idx,
           |    CAST(len(ctoks) AS BIGINT) AS dl,
           |$tfCols
           |  FROM c),
           |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           |$dfCols
           |  FROM d),
           |sc AS (SELECT doc_id, chunk_idx,
           |    CAST($scoreSum AS DOUBLE) AS score
           |  FROM d, st
           |  WHERE $anyTf > 0),
           |best AS (SELECT doc_id, chunk_idx, score FROM (
           |    SELECT doc_id, chunk_idx, score,
           |      ROW_NUMBER() OVER (PARTITION BY doc_id
           |        ORDER BY score DESC, chunk_idx ASC) AS rb
           |    FROM sc) b WHERE rb = 1),
           |r AS (SELECT doc_id, chunk_idx, score,
           |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
           |      AS rank FROM best)
           |SELECT rank, doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           |  CAST(chunk_idx * $stride + 1 AS INTEGER) AS start_tok,
           |  round(score, 6) AS score
           |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
      }
    ),

    QueryDef(
      "q_passage_fusion",
      s"Passage-grain HYBRID retrieval (r17 verdict next #3 — " +
        s"composing the two halves the engine already serves: " +
        s"q_hybrid_fusion's RRF at doc grain, q_passage_retrieval's " +
        s"chunk grain): reciprocal-rank fusion " +
        s"(k=${SimilarityQueries.RrfK}) of the chunk-grain BM25 " +
        s"top-${SimilarityQueries.FuseN} from the stored 'plex' " +
        s"LexIndex (the q_passage_retrieval scorer VERBATIM, ranked " +
        s"at chunk grain) with the chunk-grain ANN " +
        s"top-${SimilarityQueries.FuseN} from a STORED chunk IVF " +
        s"index — IvfIndex.buildOrLoadVectors over deterministic " +
        s"token-hash signature vectors ($PassageVecDim-dim ±1 " +
        s"md5-bit sums per chunk token multiset — the SimHash bit " +
        s"machinery as a JL sign projection, engine-exact integer " +
        s"sums), probes derived from chunk cardinality exactly as " +
        s"the doc-grain stack derives from corpus cardinality — then " +
        s"maxP election to docs: each doc is its best FUSED chunk, " +
        s"docs rank by that chunk's fused rank. PassageSpec pins " +
        s"both falsifiability directions (a passage findable ONLY by " +
        s"vector alignment surfaces in fusion and not in the " +
        s"BM25-only leg, and vice versa; on a single-chunk corpus " +
        s"the election is the identity and fusion degrades to " +
        s"doc-grain hybrid ranking). Determinism: decimal-exact RRF " +
        s"(each reciprocal one IEEE division rounded 9dp, " +
        s"DECIMAL(20,10) sum), unique-integer fused ranks, integer " +
        s"tiebreaks everywhere. Scale: both legs are shortlist-" +
        s"bounded probes of STORED artifacts — the posting scan is " +
        s"bucket-pruned + df-capped, the ANN scan touches " +
        s"~probe/cells of the bucketed cell table with the centroid " +
        s"relation broadcast; fusion joins two " +
        s"${SimilarityQueries.FuseN}-row lists; the election is one " +
        s"doc-grain aggregate over ≤ 2×${SimilarityQueries.FuseN} " +
        s"rows. The corpus is touched only at index BUILD (once per " +
        s"session/snapshot, like every stored family).",
      (s, dir) => passageFusion(s, Tables.par(s, dir, "documents"),
        ChunkStore.tag(dir), BandIndex.tag(dir, "plex"),
        BandIndex.tag(dir, "pvec"), Bm25Terms),
      Some {
        val w = PackingQueries.ChunkW
        val startsSql = PackingQueries.chunkStartsSql
        val stride = PassageIdStride
        val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
        val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
          s"    len(list_filter(ctoks, x -> x = '$t')) AS tf_$i"
        }.mkString(",\n")
        val dfCols = Bm25Terms.indices.map(i =>
          s"    SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
          .mkString(",\n")
        val scoreSum = Bm25Terms.indices.map(i =>
          s"""(CASE WHEN tf_$i > 0 AND df_$i <= $capSql THEN
             |      CAST(round(round(ln((n_docs - df_$i + 0.5)
             |          / (df_$i + 0.5) + 1.0), 9)
             |        * CAST(tf_$i AS DOUBLE) * 2.2
             |        / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
             |          / (CAST(sum_dl AS DOUBLE) / n_docs))), 9)
             |        AS DECIMAL(38,12))
             |      ELSE CAST(0 AS DECIMAL(38,12)) END)""".stripMargin)
          .mkString("\n    + ")
        val anyTf = Bm25Terms.indices.map(i =>
          s"(CASE WHEN df_$i <= $capSql THEN tf_$i ELSE 0 END)")
          .mkString(" + ")
        // the 16 ±1 md5-bit sums — the tokenHashVecs twin, one list
        // literal of aggregates (engine-exact integer sums)
        val sumList = (0 until PassageVecDim).map(j =>
          s"CAST(SUM(CASE WHEN substr(md5(tok), ${j + 1}, 1) >= '8' " +
            s"THEN 1 ELSE -1 END) AS DOUBLE)")
          .mkString("[", ",\n    ", "]")
        val termLits = Bm25Terms.map(t => s"'$t'").mkString(",")
        // cells/probes from CHUNK cardinality — the derivedCells /
        // derivedProbe twins (floors 16 / 4, fraction 1/8)
        val cellsSql =
          "(SELECT GREATEST(16, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM c)"
        val probeSql =
          """(SELECT GREATEST(4, CAST(ceil(GREATEST(16,
            |    floor(sqrt(count(*)))) / 8.0) AS BIGINT)) FROM c)""".stripMargin
        val k = SimilarityQueries.RrfK
        val fuseN = SimilarityQueries.FuseN
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |nn AS (SELECT doc_id, toks, len(toks) AS n FROM t
           |  WHERE len(toks) > 0),
           |stx AS (SELECT doc_id, toks, n, unnest($startsSql) AS start,
           |  generate_subscripts($startsSql, 1) - 1 AS chunk_idx
           |  FROM nn),
           |c AS (SELECT doc_id, chunk_idx,
           |    toks[start+1:start+$w] AS ctoks FROM stx),
           |d AS (SELECT doc_id, chunk_idx,
           |    CAST(len(ctoks) AS BIGINT) AS dl,
           |$tfCols
           |  FROM c),
           |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           |$dfCols
           |  FROM d),
           |lsc AS (SELECT doc_id * $stride + chunk_idx AS vec_id,
           |    CAST($scoreSum AS DOUBLE) AS score
           |  FROM d, st
           |  WHERE $anyTf > 0),
           |ltop AS (SELECT vec_id, ROW_NUMBER() OVER
           |    (ORDER BY score DESC, vec_id ASC) AS rank FROM lsc
           |  QUALIFY rank <= $fuseN),
           |ctok AS (SELECT doc_id * $stride + chunk_idx AS vec_id,
           |    unnest(ctoks) AS tok FROM c),
           |cvs AS (SELECT vec_id, $sumList AS v
           |  FROM ctok GROUP BY vec_id),
           |pvn AS (SELECT vec_id, v,
           |    sqrt(list_dot_product(v, v)) AS nrm FROM cvs
           |  WHERE list_dot_product(v, v) > 0),
           |${SimilarityQueries.ivfAssignCtes("pv", cellsSql,
               src = "pvn", dim = PassageVecDim)},
           |pvqt AS (SELECT unnest([$termLits]) AS tok),
           |pvq0 AS (SELECT $sumList AS qv FROM pvqt),
           |pvq AS (SELECT CAST(0 AS BIGINT) AS query_id, qv,
           |    sqrt(list_dot_product(qv, qv)) AS qn FROM pvq0),
           |pvqp AS (SELECT query_id, qv, qn, cell FROM (
           |    SELECT q.query_id, q.qv, q.qn, c2.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id
           |        ORDER BY list_dot_product(q.qv, c2.cv)/(q.qn*c2.cn)
           |          DESC, c2.cell ASC) AS pr
           |    FROM pvq q, pvcentn c2)
           |  WHERE pr <= $probeSql),
           |pvsc AS (SELECT a.vec_id,
           |    list_dot_product(qp.qv, a.v)/(qp.qn*a.nrm) AS cos
           |  FROM pvqp qp JOIN pva2 a USING (cell)),
           |vtop AS (SELECT vec_id, ROW_NUMBER() OVER
           |    (ORDER BY cos DESC, vec_id ASC) AS rank FROM pvsc
           |  QUALIFY rank <= $fuseN),
           |pfu AS (SELECT vec_id,
           |    CAST(COALESCE(round(CAST(1.0 AS DOUBLE)/($k + l.rank), 9),
           |      0) AS DECIMAL(20,10))
           |    + CAST(COALESCE(round(CAST(1.0 AS DOUBLE)/($k + v.rank), 9),
           |      0) AS DECIMAL(20,10)) AS rrf
           |  FROM ltop l FULL JOIN vtop v USING (vec_id)),
           |pftop AS (SELECT vec_id, ROW_NUMBER() OVER
           |    (ORDER BY rrf DESC, vec_id ASC) AS rank FROM pfu),
           |pel AS (SELECT CAST(floor(vec_id / $stride) AS BIGINT)
           |      AS doc_id,
           |    CAST(vec_id % $stride AS INTEGER) AS chunk_idx, rank
           |  FROM pftop),
           |pbest AS (SELECT doc_id, chunk_idx, rank AS chunk_rank FROM (
           |    SELECT doc_id, chunk_idx, rank,
           |      ROW_NUMBER() OVER (PARTITION BY doc_id
           |        ORDER BY rank ASC, chunk_idx ASC) AS rb
           |    FROM pel) WHERE rb = 1),
           |pr2 AS (SELECT doc_id, chunk_idx, chunk_rank,
           |    ROW_NUMBER() OVER (ORDER BY chunk_rank ASC, doc_id ASC)
           |      AS rank FROM pbest)
           |SELECT rank, doc_id, chunk_idx, chunk_rank FROM pr2
           |WHERE rank <= 10 ORDER BY rank""".stripMargin
      }
    ),

    QueryDef(
      "q_passage_agg_sweep",
      s"Passage-evidence aggregation sweep (Callan 1994; Dai & Callan " +
        s"2019): the four chunk-to-doc combiners — maxP (best " +
        s"passage), firstP (lead passage), sumP (total evidence, " +
        s"length-biased), avgP (mean evidence, dilution-biased) — " +
        s"plus the doc-grain control, ranked side by side; per arm " +
        s"the top-1 doc with its score and the top-10 overlap vs the " +
        s"doc-grain arm. This is the operating-point evidence for " +
        s"CHOOSING an aggregation (the knob q_passage_retrieval " +
        s"serves as maxP), the sweep convention every governed knob " +
        s"in the repo follows (dedup tau, PQ codebooks, fusion " +
        s"weights). All four passage arms fold ONE chunk-score " +
        s"relation (the stored 'plex' chunk-grain LexIndex scan, " +
        s"localCheckpointed — scored once, not four times); the " +
        s"control reads the standing doc-grain index. Determinism: " +
        s"chunk scores 9dp-rounded into DECIMAL(38,12) BEFORE the " +
        s"per-doc folds, so sum/avg are order-independent in both " +
        s"engines; avgP is the exact decimal sum over the exact count " +
        s"in one IEEE division; every rank ties by doc_id; integer " +
        s"overlap counts. Scale shape: both index scans are " +
        s"bucket-pruned + df-capped posting reads; the arms are " +
        s"doc-grain aggregates over df-bounded matched rows; the " +
        s"union that ranks them is five top-10 relations.",
      (s, dir) => passageAggSweep(s, Tables.par(s, dir, "documents"),
        ChunkStore.tag(dir), BandIndex.tag(dir, "plex"),
        LexIndex.tag(dir), Bm25Terms),
      Some {
        val w = PackingQueries.ChunkW
        val startsSql = PackingQueries.chunkStartsSql
        val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
        // chunk-grain tf/df/score generated from Bm25Terms over ctoks
        // (the q_passage_retrieval oracle's CTEs), doc-grain from the
        // same Seq over toks (the q_bm25 oracle's CTEs)
        val tfC = Bm25Terms.zipWithIndex.map { case (t, i) =>
          s"    len(list_filter(ctoks, x -> x = '$t')) AS tf_$i"
        }.mkString(",\n")
        val tfD = Bm25Terms.zipWithIndex.map { case (t, i) =>
          s"    len(list_filter(toks, x -> x = '$t')) AS tf_$i"
        }.mkString(",\n")
        val dfCols = Bm25Terms.indices.map(i =>
          s"    SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
          .mkString(",\n")
        val scoreSum = Bm25Terms.indices.map(i =>
          s"""(CASE WHEN tf_$i > 0 AND df_$i <= $capSql THEN
             |      CAST(round(round(ln((n_docs - df_$i + 0.5)
             |          / (df_$i + 0.5) + 1.0), 9)
             |        * CAST(tf_$i AS DOUBLE) * 2.2
             |        / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
             |          / (CAST(sum_dl AS DOUBLE) / n_docs))), 9)
             |        AS DECIMAL(38,12))
             |      ELSE CAST(0 AS DECIMAL(38,12)) END)""".stripMargin)
          .mkString("\n    + ")
        val anyTf = Bm25Terms.indices.map(i =>
          s"(CASE WHEN df_$i <= $capSql THEN tf_$i ELSE 0 END)")
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |nn AS (SELECT doc_id, toks, len(toks) AS n FROM t
           |  WHERE len(toks) > 0),
           |stx AS (SELECT doc_id, toks, n, unnest($startsSql) AS start,
           |  generate_subscripts($startsSql, 1) - 1 AS chunk_idx
           |  FROM nn),
           |c AS (SELECT doc_id, chunk_idx,
           |    toks[start+1:start+$w] AS ctoks FROM stx),
           |cd AS (SELECT doc_id, chunk_idx,
           |    CAST(len(ctoks) AS BIGINT) AS dl,
           |$tfC
           |  FROM c),
           |cst AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           |$dfCols
           |  FROM cd),
           |csc AS (SELECT doc_id, chunk_idx,
           |    CAST(round(CAST($scoreSum AS DOUBLE), 9)
           |      AS DECIMAL(38,12)) AS cscore
           |  FROM cd, cst
           |  WHERE $anyTf > 0),
           |dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           |$tfD
           |  FROM t),
           |dst AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           |$dfCols
           |  FROM dd),
           |dsc AS (SELECT doc_id, CAST($scoreSum AS DOUBLE) AS ascore
           |  FROM dd, dst
           |  WHERE $anyTf > 0),
           |arms AS (
           |  SELECT 'maxp' AS arm, doc_id,
           |    CAST(max(cscore) AS DOUBLE) AS ascore FROM csc GROUP BY 2
           |  UNION ALL SELECT 'sump', doc_id,
           |    CAST(sum(cscore) AS DOUBLE) FROM csc GROUP BY 2
           |  UNION ALL SELECT 'avgp', doc_id,
           |    CAST(sum(cscore) AS DOUBLE) / count(*) FROM csc GROUP BY 2
           |  UNION ALL SELECT 'firstp', doc_id, CAST(cscore AS DOUBLE)
           |    FROM csc WHERE chunk_idx = 0
           |  UNION ALL SELECT 'docgrain', doc_id, ascore FROM dsc),
           |ranked AS (SELECT arm, doc_id, ascore,
           |    ROW_NUMBER() OVER (PARTITION BY arm
           |      ORDER BY ascore DESC, doc_id ASC) AS r
           |  FROM arms),
           |top AS (SELECT * FROM ranked WHERE r <= 10),
           |dgtop AS (SELECT doc_id FROM top WHERE arm = 'docgrain'),
           |t1 AS (SELECT arm, doc_id AS top1_doc,
           |    round(ascore, 6) AS top1_score FROM top WHERE r = 1),
           |ov AS (SELECT arm, CAST(count(*) AS BIGINT) AS overlap10
           |  FROM top JOIN dgtop USING (doc_id) GROUP BY 1)
           |SELECT arm, top1_doc, top1_score,
           |  COALESCE(overlap10, CAST(0 AS BIGINT)) AS overlap10
           |FROM t1 LEFT JOIN ov USING (arm) ORDER BY arm""".stripMargin
      }
    ),

    QueryDef(
      "q_prf_expansion",
      s"Pseudo-relevance-feedback query expansion (RM3 shape — " +
        s"Lavrenko & Croft 2001; Abdul-Jaleel et al. 2004), served " +
        s"from the stored LexIndex: the base ${Bm25Terms.size}-term " +
        s"query's BM25 top-$PrfFeedbackK docs are assumed relevant, " +
        s"the top-$PrfExpandM non-query terms by Σtf over them (an " +
        s"integer weight — exact and order-independent in both " +
        s"engines; stop-capped terms are ineligible, the expansion " +
        s"must not buy back what StopTermDfFrac pruned) become " +
        s"expansion terms, and the final ranking scores base terms at " +
        s"weight 1 + expansion terms at $PrfLambda — so docs matching " +
        s"ONLY expansion vocabulary enter the candidate set (the " +
        s"recall win PRF exists for; score_base = 0 rows in the " +
        s"output are exactly those). Shape: the base leg is q_bm25's " +
        s"bucket-pruned posting scan; term mining tokenizes ONLY the " +
        s"$PrfFeedbackK feedback docs (a pushed doc_id point-lookup " +
        s"on the corpus — the one legitimate documents touch, " +
        s"$PrfFeedbackK rows); candidate df arrives from the postings " +
        s"via the scorePanel literal-IN convention (feedback " +
        s"vocabulary is $PrfFeedbackK-doc-bounded, far under " +
        s"PanelTermCap); the expanded leg is ONE scorePanel pass over " +
        s"base+expansion terms (two query_ids, one bucket-pruned " +
        s"scan), so the whole operator reads posting lists + " +
        s"$PrfFeedbackK docs — the corpus never shuffles. " +
        s"Determinism: feedback and final ranks tie-break by doc_id " +
        s"over decimal-exact BM25 sums; term election ties break by " +
        s"term; the interpolation is one IEEE multiply-add of exact " +
        s"operands, identical in both engines.",
      (s, dir) => prfExpansion(s, Tables.par(s, dir, "documents"),
        LexIndex.tag(dir), Bm25Terms),
      Some {
        // Relational BM25 (per (doc, term) contribution CTE) instead of
        // q_bm25's unrolled per-term columns: the expansion terms are
        // DATA here (elected by the query itself), so the oracle mines
        // them with the same relations the Spark side reads.
        val baseVals = Bm25Terms.map(t => s"('$t')").mkString(",")
        val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
           |p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
           |  GROUP BY 1, 2),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
           |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           |  FROM p GROUP BY 1),
           |contrib AS (SELECT p.doc_id, p.term,
           |    CAST(round(round(ln((n_docs - df + 0.5) / (df + 0.5)
           |        + 1.0), 9)
           |      * CAST(tf AS DOUBLE) * 2.2
           |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
           |        / (CAST(sum_dl AS DOUBLE) / n_docs))), 9)
           |      AS DECIMAL(38,12)) AS ts
           |  FROM p JOIN d USING (doc_id) JOIN dfq USING (term), st
           |  WHERE df <= $capSql),
           |base(term) AS (VALUES $baseVals),
           |bscore AS (SELECT doc_id, CAST(sum(ts) AS DOUBLE) AS score
           |  FROM contrib JOIN base USING (term) GROUP BY 1),
           |fb AS (SELECT doc_id FROM (SELECT doc_id,
           |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r
           |  FROM bscore) rb WHERE r <= $PrfFeedbackK),
           |cand AS (SELECT term, CAST(sum(tf) AS BIGINT) AS w
           |  FROM p JOIN fb USING (doc_id)
           |  WHERE term NOT IN (SELECT term FROM base) AND term <> ''
           |  GROUP BY 1),
           |expt AS (SELECT term FROM (SELECT c.term,
           |    ROW_NUMBER() OVER (ORDER BY w DESC, c.term ASC) AS r
           |  FROM cand c JOIN dfq USING (term), st
           |  WHERE df <= $capSql) re WHERE r <= $PrfExpandM),
           |escore AS (SELECT doc_id, CAST(sum(ts) AS DOUBLE) AS score
           |  FROM contrib JOIN expt USING (term) GROUP BY 1),
           |comb AS (SELECT COALESCE(b.doc_id, e.doc_id) AS doc_id,
           |    COALESCE(b.score, 0.0)
           |      + $PrfLambda * COALESCE(e.score, 0.0) AS score,
           |    COALESCE(b.score, 0.0) AS score_base
           |  FROM bscore b FULL OUTER JOIN escore e
           |    ON b.doc_id = e.doc_id),
           |r AS (SELECT doc_id, score, score_base,
           |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
           |      AS rank FROM comb)
           |SELECT rank, doc_id, round(score, 6) AS score,
           |  round(score_base, 6) AS score_base
           |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
      }
    ),

    QueryDef(
      "q_domain_mix",
      s"Domain-mixture resampling: per-source doc budget = ceil($MixC * " +
        "sqrt(n_source)) — alpha=0.5 temperature reweighting (rare " +
        "domains keep proportionally more), selection by deterministic " +
        "md5 rank so the sample is reproducible across engines and " +
        "layouts. Shape: ONE shuffle on source (window count + " +
        "row_number share the partitioning), then the per-source agg " +
        "reuses it; at 100 TB a skewed mega-domain is the hazard — the " +
        "md5 order is scan-order-independent, so the window can be " +
        "replaced by a per-source threshold on the hash value (stateless " +
        "per row, as q_stratified_sample) once budgets are fractions.",
      (s, dir) => {
        val wSrc = Window.partitionBy("source")
        val wOrd = Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).as("n_tok"))
          .withColumn("n_docs", count(lit(1)).over(wSrc))
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("cap", ceil(lit(MixC) * sqrt(col("n_docs"))).cast("long"))
          .filter(col("rn") <= col("cap"))
          .groupBy("source")
          .agg(max(col("n_docs")).as("n_docs"),
            max(col("cap")).as("sample_cap"),
            count(lit(1)).as("n_kept"),
            sum(col("n_tok")).cast("long").as("tokens_kept"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, len($toksSql) AS n_tok FROM documents),
              |r AS (SELECT doc_id, source, n_tok,
              |    count(*) OVER (PARTITION BY source) AS n_docs,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              |  FROM t),
              |k AS (SELECT *, CAST(ceil($MixC * sqrt(n_docs)) AS BIGINT) AS cap
              |  FROM r)
              |SELECT source, max(n_docs) AS n_docs, max(cap) AS sample_cap,
              |  count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tokens_kept
              |FROM k WHERE rn <= cap GROUP BY source ORDER BY source""".stripMargin)
    ),

    QueryDef(
      "q_domain_cap",
      s"Per-source token-budget cap (the C4/Dolma-style over-" +
        "representation guard, dual of q_domain_mix's resampling): no " +
        s"source keeps more than $CapNum/$CapDen of the uniform share " +
        "total_tokens/n_sources — budget computed INTEGER-exactly as " +
        s"($CapNum*total) div ($CapDen*n_sources); within a source, " +
        "docs are kept in quality-then-deterministic-hash rank order " +
        "(qualityPoints shared VERBATIM with q_quality_score/" +
        "q_corpus_filter/q_corpus_funnel, md5 tiebreak) while the " +
        "inclusive running token sum stays <= budget (cumsum is " +
        "monotone, so the kept set is exactly the rank prefix that " +
        "fits). Per-source report row: totals, budget, kept/dropped, " +
        "capped flag, kept fraction. Shape: ONE corpus-width shuffle " +
        "on source — the rank window, the cumsum window, and the " +
        "final agg all share the source partitioning — plus a 1-row " +
        "global-total broadcast; at 100 TB the hazard is a skewed " +
        "mega-source serializing one window partition, the same " +
        "documented hazard (and salting remedy) as q_domain_mix.",
      (s, dir) => {
        val base = Tables.t(s, dir, "documents")
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"), col("source"),
            size(col("toks")).cast("long").as("n_tok"),
            TextQueries.qualityPoints(length(col("text")),
              size(col("toks")), TextQueries.nStop(col("toks"))).as("qp"))
        val tot = base.agg(sum(col("n_tok")).cast("long").as("total_tok"),
          countDistinct(col("source")).as("n_sources"))
        val wCum = Window.partitionBy("source")
          .orderBy(col("qp").desc, md5(col("doc_id").cast("string")),
            col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base.crossJoin(broadcast(tot))
          .withColumn("budget",
            expr(s"($CapNum * total_tok) div ($CapDen * n_sources)"))
          .withColumn("cum", sum(col("n_tok")).over(wCum))
          .withColumn("kept",
            when(col("cum") <= col("budget"), lit(1L)).otherwise(lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("n_tokens"),
            max(col("budget")).as("budget"),
            sum(col("kept")).cast("long").as("n_kept"),
            sum(col("kept") * col("n_tok")).cast("long").as("tokens_kept"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("budget"), col("n_kept"), col("tokens_kept"),
            when(col("tokens_kept") < col("n_tokens"), lit(1))
              .otherwise(lit(0)).cast("int").as("capped"),
            round(col("tokens_kept").cast("double") / col("n_tokens"), 6)
              .as("frac_tok_kept"))
          .orderBy("source")
      },
      Some {
        val stop = "[" + TextQueries.stopwords.map(x => s"'$x'")
          .mkString(",") + "]"
        s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks
           |  FROM documents),
           |m AS (SELECT doc_id, source,
           |    CAST(len(toks) AS BIGINT) AS n_tok,
           |    (CASE WHEN len(toks) >= 10 THEN 1 ELSE 0 END
           |     + CASE WHEN len(list_filter(toks, x ->
           |         list_contains($stop, x))) > 0 THEN 1 ELSE 0 END
           |     + CASE WHEN length(text) >= 64 THEN 1 ELSE 0 END) AS qp
           |  FROM t),
           |g AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tok,
           |    COUNT(DISTINCT source) AS n_sources FROM m),
           |c AS (SELECT m.*,
           |    ($CapNum * total_tok) // ($CapDen * n_sources) AS budget,
           |    CAST(SUM(n_tok) OVER (PARTITION BY source
           |      ORDER BY qp DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum
           |  FROM m CROSS JOIN g),
           |k AS (SELECT *, CASE WHEN cum <= budget THEN 1 ELSE 0 END
           |    AS kept FROM c)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(MAX(budget) AS BIGINT) AS budget,
           |  CAST(SUM(kept) AS BIGINT) AS n_kept,
           |  CAST(SUM(kept * n_tok) AS BIGINT) AS tokens_kept,
           |  CAST(CASE WHEN SUM(kept * n_tok) < SUM(n_tok) THEN 1 ELSE 0
           |    END AS INT) AS capped,
           |  round(CAST(SUM(kept * n_tok) AS DOUBLE) / SUM(n_tok), 6)
           |    AS frac_tok_kept
           |FROM k GROUP BY source ORDER BY source""".stripMargin
      }
    ),

    QueryDef(
      "q_domain_cap_hash",
      s"STATELESS per-source token cap — the hash-threshold selector " +
        s"SCALE.md has documented since r12 as q_domain_cap's " +
        s"mega-source escape, now shipped as its own face instead of " +
        s"a note: the same integer-exact budget (($CapNum*total) div " +
        s"($CapDen*n_sources)) becomes a per-source keep PROBABILITY " +
        s"tau = min(1, budget/source_tokens), and a doc is kept iff " +
        s"its deterministic uniform hash u = int(md5(doc_id)[0:13 " +
        s"hex])/2^52 < tau — no rank, no cumsum, no per-source " +
        s"window: the mega-source that serializes q_domain_cap's " +
        s"exact-k election into one task costs NOTHING here (two " +
        s"map-side-combined source-grain aggs + a broadcast join; " +
        s"every shuffle key is fine-grained or source-grain-tiny). " +
        s"The trade is exactness: kept tokens ≈ budget in " +
        s"expectation, and the report MEASURES the miss per capped " +
        s"source (rel_dev = (kept_tok - budget)/budget — the " +
        s"operating-point evidence for choosing stateless vs exact-k, " +
        s"the sweep discipline's one-row form). Determinism: u is 52 " +
        s"hash bits over 2^52 (double-EXACT — no mantissa rounding), " +
        s"tau is one IEEE division of exact integers, so the kept SET " +
        s"is identical in both engines and under any partitioning " +
        s"(spec-pinned); uncapped sources have tau = 1 and keep " +
        s"everything by construction.",
      (s, dir) => {
        val base = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_tok"))
        base.withColumn("u", hashCapU)
          .join(broadcast(hashCapTaus(base)), "source")
          .withColumn("kept",
            when(col("u") < col("tau"), lit(1L)).otherwise(lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("n_tokens"),
            max(col("budget")).as("budget"),
            round(max(col("tau")), 6).as("tau"),
            sum(col("kept")).cast("long").as("n_kept"),
            sum(col("kept") * col("n_tok")).cast("long").as("tokens_kept"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("budget"), col("tau"), col("n_kept"), col("tokens_kept"),
            when(col("n_tokens") > col("budget"), lit(1)).otherwise(lit(0))
              .cast("int").as("capped"),
            when(col("n_tokens") > col("budget"),
              round((col("tokens_kept") - col("budget")).cast("double") /
                col("budget"), 6)).otherwise(lit(0.0)).as("rel_dev"))
          .orderBy("source")
      },
      Some {
        s"""WITH t AS (SELECT doc_id, source,
           |    CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
           |g AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tok,
           |    COUNT(DISTINCT source) AS n_sources FROM t),
           |s AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok
           |  FROM t GROUP BY source),
           |b AS (SELECT source, src_tok,
           |    ($CapNum * total_tok) // ($CapDen * n_sources) AS budget,
           |    LEAST(1.0, CAST(($CapNum * total_tok)
           |      // ($CapDen * n_sources) AS DOUBLE) / src_tok) AS tau
           |  FROM s CROSS JOIN g),
           |k AS (SELECT t.source, t.n_tok, b.budget, b.tau,
           |    CASE WHEN CAST(CAST('0x' ||
           |        substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 13)
           |        AS BIGINT) AS DOUBLE) / 4503599627370496 < b.tau
           |      THEN 1 ELSE 0 END AS kept
           |  FROM t JOIN b USING (source))
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(MAX(budget) AS BIGINT) AS budget,
           |  round(MAX(tau), 6) AS tau,
           |  CAST(SUM(kept) AS BIGINT) AS n_kept,
           |  CAST(SUM(kept * n_tok) AS BIGINT) AS tokens_kept,
           |  CAST(CASE WHEN SUM(n_tok) > MAX(budget) THEN 1 ELSE 0 END
           |    AS INT) AS capped,
           |  CASE WHEN SUM(n_tok) > MAX(budget)
           |    THEN round((CAST(SUM(kept * n_tok) AS BIGINT)
           |      - MAX(budget)) / CAST(MAX(budget) AS DOUBLE), 6)
           |    ELSE 0.0 END AS rel_dev
           |FROM k GROUP BY source ORDER BY source""".stripMargin
      }
    ),

    QueryDef(
      "q_token_entropy",
      "Unigram token-entropy quality signal — the continuous " +
        "generalization of q_repetition_filter's top-token fraction " +
        "(low entropy = templated/repetitive text, one of the Gopher-" +
        "family quality signals, Rae et al. 2021): per doc, " +
        "H = (n*ln(n) - sum_type c*ln(c)) / (n*ln2) bits. Every " +
        "transcendental term (n*ln(n) and each c*ln(c)) is rounded to " +
        "9 decimals BEFORE the exact DECIMAL subtraction (the " +
        "q_lm_perplexity convention — a last-ulp libm difference " +
        "between engines cannot reach the sum); the closing /n and " +
        "/ln2 are single IEEE divisions with ln2 one shared double " +
        "literal. Shape: explode -> (doc, token)-grain count (map-side " +
        "partial collapses in-task repeats) -> doc-grain agg; doc_id " +
        "rides every key, so both aggs are data-parallel at any " +
        "corpus scale — nothing global, no windows.",
      (s, dir) =>
        docEntropy(Tables.t(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
              |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
              |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
              |    COUNT(*) AS n_types,
              |    SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
              |      AS DECIMAL(28,9))) AS s
              |  FROM c GROUP BY 1)
              |SELECT doc_id, n_tok, n_types,
              |  round(CAST(CAST(round(CAST(n_tok AS DOUBLE) *
              |      ln(CAST(n_tok AS DOUBLE)), 9) AS DECIMAL(28,9)) - s
              |      AS DOUBLE) / n_tok / $Ln2, 6) AS entropy_bits
              |FROM d ORDER BY doc_id""".stripMargin)
    ),

    QueryDef(
      "q_corpus_funnel",
      "Curation-funnel accounting (stages extended r13 with the r12 " +
        "gates — the r12 verdict #5 ask): every doc assigned the FIRST " +
        "pipeline stage that drops it — eval slice (src0 is the " +
        "benchmark, never training data), quality gate (< 2 of the " +
        "q_quality_score points), Gopher any-rule violation " +
        "(docRuleFlags — the q_gopher_rules bundle verbatim), exact-dup " +
        "non-keeper (fingerprint-group min rule), NEAR-dup non-keeper " +
        "(the minhash star-contraction clusters with q_dedup_keep_best's " +
        "quality-then-min-id election — verbatim), decontamination " +
        "(word-3-gram overlap >= tau vs the benchmark), per-source " +
        "token-budget cap (q_domain_cap's quality-rank prefix rule " +
        "verbatim, computed corpus-wide like every other stage " +
        "predicate — a production run re-derives the cap on survivors; " +
        "the funnel prices each gate independently, first-reason " +
        "precedence composing them) — or '7_kept'. One row per stage " +
        "with doc/token counts and corpus fraction: the attrition " +
        "report a curation run publishes next to its data card, with " +
        "each stage's definition shared verbatim with its standalone " +
        "operator (qualityPoints, ruleFlags, the keeper windows, the " +
        "q_contamination join, the cap windows) so the funnel cannot " +
        "drift from the stages it accounts for. Shape = the union of " +
        "the component shapes; the near-dup stage rides the SAME " +
        "memoized CC labels as the cluster family (zero extra minhash " +
        "passes).",
      (s, dir) => {
        val staged = stagedDocs(s, dir)
        staged.groupBy("stage")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("n_tokens"))
          .crossJoin(broadcast(staged.agg(count(lit(1)).as("n_total"))))
          .select(col("stage"), col("n_docs"), col("n_tokens"),
            round(col("n_docs").cast("double") / col("n_total"), 6)
              .as("frac_docs"))
          .orderBy("stage")
      },
      Some {
        s"""WITH RECURSIVE $funnelStagedSqlCtes,
           |tot AS (SELECT count(*) AS n FROM staged)
           |SELECT stage, count(*) AS n_docs,
           |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           |  round(CAST(count(*) AS DOUBLE)/tot.n, 6) AS frac_docs
           |FROM staged, tot GROUP BY stage, tot.n ORDER BY stage""".stripMargin
      }
    ),


    QueryDef(
      "q_mixture_schedule",
      "Deterministic mixture SCHEDULE (the training-time complement of " +
        "q_domain_mix's resampling): stride scheduling — the k-th doc " +
        "of source s (deterministic md5-rank order within source) gets " +
        "schedule key k * stride_s where stride_s = LCM(weights)/w_s, " +
        "and the epoch reads docs by ascending (key, source, doc_id). " +
        "Integer-exact: any key prefix contains floor-exact " +
        "per-source counts in the target ratio (upweighted sources " +
        "src0..src4 at 3x — MixtureScheduleSpec proves the prefix-mix " +
        "bound at every cut), and the order is engine-, layout- and " +
        "rerun-independent, which rand()-interleaving is not. Shape: " +
        "one per-source rank window (source-partitioned, parallel) + " +
        "one range-partitioned output sort; NO single-partition window " +
        "— a global position column, if needed, assembles with the " +
        "q_shuffle_shard prefix-sum trick over key-range buckets.",
      (s, dir) => {
        val wOrd = Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            mixtureStride.as("stride"))
          .withColumn("src_rank", row_number().over(wOrd).cast("long"))
          .select(col("doc_id"), col("source"), col("src_rank"),
            (col("src_rank") * col("stride")).as("sched_key"))
          .orderBy("sched_key", "source", "doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, source,
             |    $mixtureStrideSql AS stride FROM documents),
             |r AS (SELECT doc_id, source, stride,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS src_rank
             |  FROM w)
             |SELECT doc_id, source, src_rank,
             |  CAST(src_rank * stride AS BIGINT) AS sched_key
             |FROM r ORDER BY sched_key, source, doc_id""".stripMargin)
    ),

    QueryDef(
      "q_mixture_budget",
      "Mixture budget table (the planning read-out of " +
        "q_mixture_schedule): per source — docs, tokens, stride, the " +
        "schedule key at which the source EXHAUSTS (n_docs * stride), " +
        "and repeat_factor = max_exhaust/exhaust — how many passes over " +
        "the source a full schedule (running until the slowest source " +
        "exhausts) implies. The standard 'how many epochs over source " +
        "X' number a pretraining run checks before committing to a mix " +
        "(repeat_factor >> 1 on a small upweighted source is the " +
        "memorization red flag). One per-source agg + a broadcast " +
        "1-row max — integer-exact, unit-tested against the schedule " +
        "itself (the last occurrence of source s in q_mixture_schedule " +
        "sits exactly at exhaust_key).",
      (s, dir) => {
        val per = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n_tok"),
            mixtureStride.as("stride"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            max(col("stride")).as("stride"))
          .withColumn("exhaust_key", col("n_docs") * col("stride"))
        val mx = per.agg(max(col("exhaust_key")).as("max_exhaust"))
        per.crossJoin(broadcast(mx))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("stride"), col("exhaust_key"),
            round(col("max_exhaust").cast("double") / col("exhaust_key"), 4)
              .as("repeat_factor"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT source, len($toksSql) AS n_tok,
              |    $mixtureStrideSql AS stride FROM documents),
              |p AS (SELECT source, count(*) AS n_docs,
              |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              |    CAST(max(stride) AS BIGINT) AS stride FROM t GROUP BY source),
              |e AS (SELECT *, n_docs * stride AS exhaust_key FROM p),
              |m AS (SELECT max(exhaust_key) AS mx FROM e)
              |SELECT source, n_docs, n_tokens, stride, exhaust_key,
              |  round(CAST(m.mx AS DOUBLE) / exhaust_key, 4) AS repeat_factor
              |FROM e, m ORDER BY source""".stripMargin)
    ),

    QueryDef(
      "q_pii_scrub",
      "PII / blocklist redaction: one regexp alternation (emails, " +
        "phone-shaped digit runs, blocklisted terms) counted and " +
        "replaced per doc; output is the redaction count plus a " +
        "fingerprint of the scrubbed text. Stateless per row — a " +
        "map-only scan with no shuffle at any scale; the pattern uses " +
        "the RE2-compatible regex subset so both engines agree.",
      (s, dir) => {
        val low = lower(col("text"))
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            regexp_count(low, lit(piiPattern)).as("n_redactions"),
            substring(md5(regexp_replace(low, piiPattern, "[PII]")), 1, 16)
              .as("scrubbed_fp"),
            when(regexp_count(low, lit(piiPattern)) > 0, 1).otherwise(0)
              .as("had_pii"))
          .orderBy("doc_id")
      },
      Some {
        // same pattern; DuckDB needs the 'g' flag for replace-all. SQL
        // single-quoted strings keep backslashes literal — no re-escaping.
        val p = piiPattern.replace("'", "''")
        s"""SELECT doc_id,
           |  len(regexp_extract_all(lower(text), '$p')) AS n_redactions,
           |  substr(md5(regexp_replace(lower(text), '$p', '[PII]', 'g')), 1, 16)
           |    AS scrubbed_fp,
           |  CASE WHEN len(regexp_extract_all(lower(text), '$p')) > 0
           |    THEN 1 ELSE 0 END AS had_pii
           |FROM documents ORDER BY doc_id""".stripMargin
      }
    ),

    // ------------------------------------------------------------- H4i
    QueryDef(
      "q_data_card",
      "Corpus datasheet in one pass (Gebru et al. 2021, 'Datasheets " +
        "for Datasets'): the release-documentation metrics a dataset " +
        "card publishes — size (docs/tokens/chars), provenance breadth " +
        "(distinct sources/langs, max source share), exact-duplication " +
        "rate (128-bit normalized-text fingerprints), and quality " +
        "profile (mean 0-3 gate points, fraction >= 2, fraction " +
        "short) — as (metric, value) rows. Shape: ONE corpus scan " +
        "feeds a single wide aggregate (the three count-distincts " +
        "expand-group over the same shuffled relation) plus a " +
        "source-grain max-share agg, cross-joined 1-row x 1-row and " +
        "unpivoted via stack; ratios are single IEEE divisions of " +
        "exact integers, rounded at 6dp.",
      (s, dir) => {
        val toks = tokens(col("text"))
        val docs = Tables.t(s, dir, "documents")
          .withColumn("n_tok", size(toks))
          .withColumn("qp", TextQueries.qualityPoints(
            length(col("text")), col("n_tok"), TextQueries.nStop(toks)))
          .withColumn("fp", md5(normText(col("text"))))
        val wide = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(length(col("text"))).as("n_chars"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("fp")).as("n_fps"),
          sum(col("qp")).as("sum_qp"),
          sum(when(col("qp") >= 2, 1L).otherwise(0L)).as("n_q2"),
          sum(when(col("n_tok") < 10, 1L).otherwise(0L)).as("n_short"))
        val srcMax = docs.groupBy("source")
          .agg(count(lit(1)).as("sn")).agg(max(col("sn")).as("max_sn"))
        wide.crossJoin(srcMax).selectExpr(
          s"""stack(12,
             |'n_docs', CAST(n_docs AS DOUBLE),
             |'n_tokens', CAST(n_tokens AS DOUBLE),
             |'n_chars', CAST(n_chars AS DOUBLE),
             |'n_sources', CAST(n_sources AS DOUBLE),
             |'n_langs', CAST(n_langs AS DOUBLE),
             |'distinct_fingerprints', CAST(n_fps AS DOUBLE),
             |'exact_dup_rate', round(1.0D - CAST(n_fps AS DOUBLE)/n_docs, 6),
             |'mean_tokens_per_doc', round(CAST(n_tokens AS DOUBLE)/n_docs, 6),
             |'mean_quality_points', round(CAST(sum_qp AS DOUBLE)/n_docs, 6),
             |'pct_quality_ge2', round(CAST(n_q2 AS DOUBLE)/n_docs, 6),
             |'pct_short_docs', round(CAST(n_short AS DOUBLE)/n_docs, 6),
             |'max_source_share', round(CAST(max_sn AS DOUBLE)/n_docs, 6)
             |) AS (metric, value)""".stripMargin)
          .orderBy("metric")
      },
      Some {
        val stop = TextQueries.stopwords.map(x => s"'$x'")
          .mkString("[", ",", "]")
        s"""WITH t AS (SELECT doc_id, lang, source, text, $toksSql AS toks,
           |    md5($normSql) AS fp FROM documents),
           |m AS (SELECT doc_id, lang, source, fp, len(toks) AS n_tok,
           |    length(text) AS n_chars,
           |    (CASE WHEN len(toks) >= 10 THEN 1 ELSE 0 END
           |     + CASE WHEN len(list_filter(toks, x -> list_contains($stop, x))) > 0
           |       THEN 1 ELSE 0 END
           |     + CASE WHEN length(text) >= 64 THEN 1 ELSE 0 END) AS qp
           |  FROM t),
           |w AS (SELECT count(*) AS n_docs, sum(n_tok) AS n_tokens,
           |    sum(n_chars) AS n_chars, count(DISTINCT source) AS n_sources,
           |    count(DISTINCT lang) AS n_langs, count(DISTINCT fp) AS n_fps,
           |    sum(qp) AS sum_qp,
           |    sum(CASE WHEN qp >= 2 THEN 1 ELSE 0 END) AS n_q2,
           |    sum(CASE WHEN n_tok < 10 THEN 1 ELSE 0 END) AS n_short
           |  FROM m),
           |sm AS (SELECT max(sn) AS max_sn FROM
           |  (SELECT count(*) AS sn FROM documents GROUP BY source))
           |SELECT metric, value FROM (
           |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM w
           |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM w
           |  UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM w
           |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM w
           |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM w
           |  UNION ALL SELECT 'distinct_fingerprints', CAST(n_fps AS DOUBLE) FROM w
           |  UNION ALL SELECT 'exact_dup_rate',
           |    round(1.0 - CAST(n_fps AS DOUBLE)/n_docs, 6) FROM w
           |  UNION ALL SELECT 'mean_tokens_per_doc',
           |    round(CAST(n_tokens AS DOUBLE)/n_docs, 6) FROM w
           |  UNION ALL SELECT 'mean_quality_points',
           |    round(CAST(sum_qp AS DOUBLE)/n_docs, 6) FROM w
           |  UNION ALL SELECT 'pct_quality_ge2',
           |    round(CAST(n_q2 AS DOUBLE)/n_docs, 6) FROM w
           |  UNION ALL SELECT 'pct_short_docs',
           |    round(CAST(n_short AS DOUBLE)/n_docs, 6) FROM w
           |  UNION ALL SELECT 'max_source_share',
           |    round(CAST(max_sn AS DOUBLE)/n_docs, 6) FROM w, sm)
           |ORDER BY metric""".stripMargin
      }
    ),

    // ------------------------------------------------------------- H4h
    QueryDef(
      "q_lm_perplexity",
      "CCNet-style LM quality scoring (Wenzek et al. 2020, 'CCNet: " +
        "Extracting High Quality Monolingual Datasets from Web Crawl " +
        "Data'): train a bigram LM with Laplace smoothing on the " +
        "reference slice (source='src0' — the same held-in slice the " +
        "decontamination queries treat as the benchmark side), score " +
        "every other doc by per-bigram cross-entropy in bits, and " +
        "bucket docs into head/middle/tail by entropy tertiles — " +
        "CCNet's filtering signal (head = closest to the reference " +
        "distribution). P(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V); contexts " +
        "derive from the bigram counts themselves and V = distinct " +
        "train tokens + 1 (unseen mass). Each per-bigram -ln(p)/ln2 " +
        "is rounded to 9 decimals then summed as DECIMAL (order-" +
        "independent; a last-ulp libm ln() difference between engines " +
        "cannot reach the sum), and ln2 is embedded as one shared " +
        "double literal. Shape: count tables are vocab-grain (tiny vs " +
        "corpus) so the planner broadcasts them into the token-grain " +
        "probe; one doc-grain agg; the tertile ntile runs on the " +
        "REDUCED per-doc relation (at 100 TB: replace with " +
        "approx-quantile cutoffs — two numbers broadcast — same " +
        "buckets up to quantile error). Docs with <2 tokens have no " +
        "bigrams and are absent by construction.",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val (c2, c1, v) = lmTrainCounts(docs.filter(col("source") === "src0"))
        lmScore(docs.filter(col("source") =!= "src0"), c2, c1, v)
          .withColumn("t",
            ntile(3).over(Window.orderBy(col("xent"), col("doc_id"))))
          .select(col("doc_id"), col("n_bigrams"), col("xent"),
            when(col("t") === 1, "head").when(col("t") === 2, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
              |b AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 2
              |    THEN list_transform(range(1, len(toks)), i -> toks[i]||' '||toks[i+1])
              |    ELSE []::VARCHAR[] END) AS ngram FROM t),
              |c2 AS (SELECT ngram, COUNT(*) AS c2 FROM b WHERE source='src0' GROUP BY 1),
              |c1 AS (SELECT split_part(ngram,' ',1) AS w1,
              |    CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
              |v AS (SELECT COUNT(DISTINCT tok) + 1 AS v FROM
              |  (SELECT unnest(toks) AS tok FROM t WHERE source='src0')),
              |x AS (SELECT doc_id, ngram, split_part(ngram,' ',1) AS w1
              |  FROM b WHERE source <> 'src0'),
              |pr AS (SELECT doc_id,
              |    round(-ln((COALESCE(c2.c2,0)+1)::DOUBLE /
              |      (COALESCE(c1.c1,0)+v.v)::DOUBLE) / $Ln2, 9) AS nll
              |  FROM x LEFT JOIN c2 USING (ngram)
              |    LEFT JOIN c1 ON x.w1 = c1.w1 CROSS JOIN v),
              |d AS (SELECT doc_id, COUNT(*) AS n_bigrams,
              |    round(CAST(SUM(CAST(nll AS DECIMAL(28,9))) AS DOUBLE)
              |      / COUNT(*), 6) AS xent
              |  FROM pr GROUP BY doc_id)
              |SELECT doc_id, n_bigrams, xent,
              |  CASE ntile(3) OVER (ORDER BY xent, doc_id)
              |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              |    ELSE 'tail' END AS bucket
              |FROM d ORDER BY doc_id""".stripMargin)
    )
  )

  /** Per-doc unigram token entropy in bits over a relation carrying
    * `doc_id` and `text` — the ONE definition behind `q_token_entropy`
    * and the ingest-time face
    * ([[graft.streaming.CorpusStream.entropyBatch]]): H =
    * (n·ln n − Σ_type c·ln c)/(n·ln2), every transcendental term
    * rounded to 9 decimals before the exact DECIMAL subtraction (the
    * q_lm_perplexity libm-neutralization convention). The signal is
    * stateless per doc — no corpus-relative inputs — so the streaming
    * face is exact, not watermark-approximate.
    */
  private[graft] def docEntropy(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val cnt = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    cnt.groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_tok"),
        count(lit(1)).as("n_types"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")), 9)
          .cast("decimal(28,9)")).as("s"))
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        round((round(col("n_tok").cast("double") *
            log(col("n_tok").cast("double")), 9).cast("decimal(28,9)")
            - col("s")).cast("double")
          / col("n_tok") / lit(Ln2), 6).as("entropy_bits"))
  }

  /** Bigram-LM count tables from a reference (train) relation carrying
    * `text`: c2 = (ngram, c2) bigram occurrences; c1 = (w1, c1) context
    * occurrences, derived FROM c2 (sum over the context's bigrams) so
    * the two cannot disagree on doc-final tokens; v = 1 row with
    * distinct train tokens + 1 (unseen mass). Shared by
    * `q_lm_perplexity` and the ingest-time face
    * ([[graft.streaming.CorpusStream.lmScoreBatch]]) — one definition,
    * no drift.
    */
  private[graft] def lmTrainCounts(train: org.apache.spark.sql.DataFrame)
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val toks = train.select(tokens(col("text")).as("toks"))
    val c2 = toks
      .select(explode(TextQueries.seqBigrams(col("toks"))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("c2"))
    val c1 = c2
      .groupBy(substring_index(col("ngram"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val v = toks.select(explode(col("toks")).as("tok"))
      .agg((countDistinct(col("tok")) + lit(1L)).as("v"))
    (c2, c1, v)
  }

  /** Per-doc bigram cross-entropy (bits) of `docs` (doc_id + text
    * [+ passthrough]) against the LM count tables: each scored bigram
    * left-joins its count and its context's count (unseen -> 0), p =
    * Laplace-smoothed conditional as a division of EXACT integer-valued
    * doubles (bit-identical across engines); the ln is the one
    * engine-dependent step, neutralized by round(., 9) before the exact
    * DECIMAL summation. Docs with <2 tokens have no bigrams and are
    * absent from the output.
    */
  private[graft] def lmScore(docs: org.apache.spark.sql.DataFrame,
                             c2: org.apache.spark.sql.DataFrame,
                             c1: org.apache.spark.sql.DataFrame,
                             v: org.apache.spark.sql.DataFrame,
                             passthrough: Seq[String] = Nil)
  : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val keep = passthrough.map(col)
    val scored = docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id") +: keep :+
        explode(TextQueries.seqBigrams(col("toks"))).as("ngram"): _*)
      .withColumn("w1", substring_index(col("ngram"), " ", 1))
    val p = (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")
    val nll = round(-log(p) / lit(Ln2), 9)
    scored
      .join(c2, Seq("ngram"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id") +: keep :+ nll.as("nll"): _*)
      .groupBy(col("doc_id") +: keep: _*)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll").cast(DecimalType(28, 9))).as("xs"))
      .select(col("doc_id") +: keep :+ col("n_bigrams") :+
        round(col("xs").cast("double") / col("n_bigrams"), 6)
          .as("xent"): _*)
  }

  /** Two-stage proximity re-ranking over an arbitrary corpus relation
    * against the stored LexIndex at `tagL` — ONE definition for the
    * declared q_proximity_rerank and ProximitySpec's planted corpora.
    * Stages, window semantics, and the no-cap rule for the positional
    * leg are documented on the QueryDef.
    */
  private[graft] def proximityRerank(s: SparkSession, docs: DataFrame,
                                     tagL: String,
                                     terms: Seq[String]): DataFrame = {
    val (post, stats) = LexIndex.buildOrLoad(s, docs, tagL)
    val wr = Window.orderBy(col("score").desc, col("doc_id").asc)
    val top = LexIndex.scoreTerms(post, stats, terms)
      .withColumn("r", row_number().over(wr)).filter(col("r") <= 20)
      .select(col("doc_id"), col("score"))
      .localCheckpoint() // 20 rows; consumed twice (id fetch + re-rank)
    val ids = top.select("doc_id").collect().map(_.getLong(0)).toSeq
    // positions of the query terms inside the shortlisted docs only —
    // the pushed point lookup is the operator's whole corpus touch
    val pos = docs.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("p", "term")))
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("term"))
      .localCheckpoint() // tiny; feeds one leg per term below
    val legs = terms.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .select(col("doc_id"), col("p").as(s"p$i"))
    }
    // the legs are stats-free checkpointed relations (Catalyst would
    // default the equi-join to sort-merge); they are ≤ 20 docs ×
    // occurrences rows by construction, so broadcast explicitly
    val joined = legs.reduce((a, b) => a.join(broadcast(b), Seq("doc_id")))
    val pcols = terms.indices.map(i => col(s"p$i"))
    val span = if (terms.size == 1) lit(1L)
      else greatest(pcols: _*) - least(pcols: _*) + lit(1L)
    val win = joined.select(col("doc_id"), span.as("wspan"))
      .groupBy("doc_id").agg(min(col("wspan")).as("window"))
    val wOrd = Window.orderBy(col("window").asc_nulls_last,
      col("score").desc, col("doc_id").asc)
    top.join(broadcast(win), Seq("doc_id"), "left")
      .withColumn("rank", row_number().over(wOrd))
      .select(col("rank"), col("doc_id"), col("window"),
        round(col("score"), 6).as("score"))
      .orderBy("rank")
  }

  /** Passage-aggregation sweep over an arbitrary corpus relation: the
    * four passage-evidence combiners (maxP / firstP / sumP / avgP —
    * Callan 1994; Dai & Callan 2019) plus the doc-grain control ranked
    * side by side off ONE chunk-score relation and the standing
    * doc-grain index. Per arm: the top-1 doc + its score and the
    * top-10 overlap with the doc-grain arm — the operating-point
    * evidence for CHOOSING an aggregation, next to q_passage_retrieval
    * which serves the chosen one. Chunk scores are 9dp-rounded into
    * DECIMAL(38,12) before the per-doc folds so sum/avg are
    * order-independent in both engines; avgP divides the exact decimal
    * sum by the exact count in ONE IEEE division (the house ratio
    * rule). ONE definition for the declared query and PassageSpec.
    */
  private[graft] def passageAggSweep(s: SparkSession, docs: DataFrame,
                                     tagC: String, tagP: String,
                                     tagL: String,
                                     terms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val chunks = ChunkStore.buildOrLoad(s, docs, tagC)
    val (post, stats) = LexIndex.buildOrLoad(s, chunkTexts(docs, chunks), tagP)
    val cs = LexIndex.scoreTerms(post, stats, terms)
      .select(floor(col("doc_id") / PassageIdStride).cast("long")
          .as("doc_id"),
        pmod(col("doc_id"), lit(PassageIdStride)).cast("int")
          .as("chunk_idx"),
        round(col("score"), 9).cast(DecimalType(38, 12)).as("cscore"))
      .localCheckpoint() // one chunk-score relation feeds four arms
    val (postL, statsL) = LexIndex.buildOrLoad(s, docs, tagL)
    val dg = LexIndex.scoreTerms(postL, statsL, terms)
      .select(col("doc_id"), col("score").as("ascore"))
    val maxp = cs.groupBy("doc_id")
      .agg(max(col("cscore")).cast("double").as("ascore"))
    val sump = cs.groupBy("doc_id")
      .agg(sum(col("cscore")).cast("double").as("ascore"))
    val avgp = cs.groupBy("doc_id")
      .agg((sum(col("cscore")).cast("double") / count(lit(1)))
        .as("ascore"))
    val firstp = cs.filter(col("chunk_idx") === 0)
      .select(col("doc_id"), col("cscore").cast("double").as("ascore"))
    val ranked = Seq("avgp" -> avgp, "docgrain" -> dg, "firstp" -> firstp,
        "maxp" -> maxp, "sump" -> sump)
      .map { case (a, df) =>
        df.withColumn("r", row_number().over(
            Window.orderBy(col("ascore").desc, col("doc_id").asc)))
          .filter(col("r") <= 10)
          .select(lit(a).as("arm"), col("doc_id"), col("ascore"), col("r"))
      }
      .reduce(_ unionAll _)
      .localCheckpoint() // 5 tiny top-10 relations, consumed three ways
    val dgTop = ranked.filter(col("arm") === "docgrain").select("doc_id")
    val top1 = ranked.filter(col("r") === 1)
      .select(col("arm"), col("doc_id").as("top1_doc"),
        round(col("ascore"), 6).as("top1_score"))
    val ov = ranked.join(broadcast(dgTop), Seq("doc_id"), "left_semi")
      .groupBy("arm").agg(count(lit(1)).as("overlap10"))
    // LEFT join + coalesce-to-0 (r17 ADVICE): an arm whose top-10
    // shares zero docs with the doc-grain arm has no `ov` row, and an
    // inner join would silently drop it from the declared 5-arm
    // output; every non-empty arm must always report a row. (An EMPTY
    // arm — firstP when no matched chunk has chunk_idx 0 — has no
    // top-1 row either, and correctly reports nothing.)
    top1.join(ov, Seq("arm"), "left")
      .select(col("arm"), col("top1_doc"), col("top1_score"),
        coalesce(col("overlap10"), lit(0L)).as("overlap10"))
      .orderBy("arm")
  }

  /** Dirichlet query-likelihood ranking over an arbitrary corpus
    * relation against the stored LexIndex at `tagL` — ONE definition
    * for the declared q_ql_dirichlet and QlSpec's planted corpora.
    * Decomposition, governance, and determinism documented on the
    * QueryDef.
    */
  /** Passage-grain retrieval (r16 verdict missing #1 — the RAG serving
    * grain) over an arbitrary corpus relation: chunk texts reconstructed
    * from the STORED ChunkStore's token spans (`tagC`) + one corpus
    * join, indexed as a chunk-grain LexIndex (`tagP` — the family is
    * tag-parameterized, so the same build/append/refresh/delete verbs
    * maintain it), BM25-scored at chunk grain, then aggregated to docs
    * by BEST PASSAGE (maxP — Callan 1994; Dai & Callan 2019), ties to
    * the earliest chunk. ONE definition for the declared
    * q_passage_retrieval and PassageSpec's planted corpora (the
    * falsifiability convention: passage grain must WIN the
    * long-doc-with-one-relevant-passage case and DEGRADE EXACTLY to
    * doc-grain ranking when every doc is a single chunk).
    */
  /** (packed chunk_id, chunk text) rows for any relation carrying
    * doc_id + text, given that relation's chunk spans — ONE definition
    * shared by the chunk-index build ([[passageRetrieval]], spans from
    * the stored ChunkStore) and the ingest-time scorer
    * ([[graft.streaming.CorpusStream.passageScoreBatch]], spans from
    * the stateless chunker on the arriving batch), so batch and
    * ingest-time chunk texts cannot drift.
    */
  private[graft] def chunkTexts(docs: DataFrame,
                                spans: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(spans.select("doc_id", "chunk_idx", "start_tok", "n_chunk_tok"),
        Seq("doc_id"))
      .select(
        (col("doc_id") * PassageIdStride + col("chunk_idx")).as("doc_id"),
        array_join(slice(col("toks"), col("start_tok"), col("n_chunk_tok")),
          " ").as("text"))

  /** maxP doc election over chunk-grain scored rows (packed chunk_id +
    * score): decode doc/chunk, then ONE doc-grain ordered-struct
    * aggregate (negated idx for the earliest-chunk tiebreak — no
    * window, no join-back; matched chunks are df-bounded). Shared by
    * [[passageRetrieval]] and the ingest-time face so the election
    * cannot drift. Returns (doc_id, score, chunk_idx).
    */
  private[graft] def maxPElect(scored: DataFrame): DataFrame =
    scored
      .select(floor(col("doc_id") / PassageIdStride).cast("long")
          .as("doc_id"),
        pmod(col("doc_id"), lit(PassageIdStride)).cast("int")
          .as("chunk_idx"),
        col("score"))
      .groupBy("doc_id")
      .agg(max(struct(col("score"), (-col("chunk_idx")).as("nci"))).as("b"))
      .select(col("doc_id"), col("b.score").as("score"),
        (-col("b.nci")).cast("int").as("chunk_idx"))

  private[graft] def passageRetrieval(s: SparkSession, docs: DataFrame,
                                      tagC: String, tagP: String,
                                      terms: Seq[String]): DataFrame = {
    val chunks = ChunkStore.buildOrLoad(s, docs, tagC)
    // chunk texts: the stored spans sliced out of ONE tokenize pass
    // over the corpus — paid once per session at chunk-index build,
    // like every family's build scan
    val chunkDocs = chunkTexts(docs, chunks)
    val (post, stats) = LexIndex.buildOrLoad(s, chunkDocs, tagP)
    // chunk-grain BM25 off the stored index (N = chunk count, dl =
    // chunk length — the StopTermDfFrac cap governs at chunk grain),
    // then the shared maxP election
    val best = maxPElect(LexIndex.scoreTerms(post, stats, terms))
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    best.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * PackingQueries.ChunkStride + 1).as("start_tok"),
        round(col("score"), 6).as("score"))
      .orderBy("rank")
  }

  /** The doc's deterministic uniform in [0,1) for the stateless cap —
    * 52 md5 bits over 2^52, double-EXACT (no mantissa rounding) — ONE
    * definition for q_domain_cap_hash and the ingest face
    * ([[graft.streaming.CorpusStream.capHashBatch]]) so batch and
    * stream selection cannot drift.
    */
  private[graft] def hashCapU: org.apache.spark.sql.Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(4503599627370496L)

  /** Per-source (source, budget, tau) from a standing corpus carrying
    * (source, n_tok) — the frozen relation the ingest face broadcasts:
    * tau = min(1, budget / source_tokens), budget the q_domain_cap
    * integer-exact derivation. Two map-side-combined source-grain aggs.
    */
  private[graft] def hashCapTaus(base: DataFrame): DataFrame = {
    val tot = base.agg(sum(col("n_tok")).cast("long").as("total_tok"),
      countDistinct(col("source")).as("n_sources"))
    base.groupBy("source")
      .agg(sum(col("n_tok")).cast("long").as("src_tok"))
      .crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"($CapNum * total_tok) div ($CapDen * n_sources)"))
      .withColumn("tau", least(lit(1.0),
        col("budget").cast("double") / col("src_tok")))
      .select("source", "budget", "tau")
  }

  /** Stateless cap applied to an arriving relation against FROZEN taus
    * — the selection [[graft.streaming.CorpusStream.capHashBatch]]
    * serves: keep iff u < tau; an UNSEEN source defaults to tau = 1
    * (keep — a source absent from the standing corpus has no
    * over-representation evidence yet; the next tau re-derivation
    * prices it). Pure per-row function of (doc_id, source) given the
    * broadcast taus, so stream union == batch under any micro-batch
    * split.
    */
  private[graft] def hashCapApply(batch: DataFrame,
                                  taus: DataFrame): DataFrame =
    batch
      .join(broadcast(taus.select(col("source"), col("tau"))),
        Seq("source"), "left")
      .withColumn("tau", coalesce(col("tau"), lit(1.0)))
      .filter(hashCapU < col("tau"))

  /** Deterministic token-hash signature vectors for any (doc_id, text)
    * relation — the derived chunk-grain vector convention
    * q_passage_fusion's ANN leg indexes (r17 verdict next #3: chunk
    * vectors must exist before a chunk ANN index can): dimension j of
    * a row's vector is Σ over its tokens of ±1 by bit 3 of md5 nibble
    * j — the [[DedupQueries]] SimHash bit machinery with the sums kept
    * as coordinates instead of sign-thresholded, i.e. a random ±1
    * projection of the token multiset (Achlioptas 2003, the H2'f JL
    * construction, with the hash playing the sign matrix). One
    * explode + groupBy — integer sums are order-independent, so the
    * vectors are bit-identical in both engines. Zero-norm rows (a
    * perfectly cancelling even token multiset) are dropped: cosine is
    * undefined for them, in both engines by the same predicate.
    * Returns (vec_id, v: array<double>, nrm).
    */
  private[graft] def tokenHashVecs(docs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val bitSums = (0 until PassageVecDim).map(j =>
      sum(when(substring(col("h"), j + 1, 1) >= "8", lit(1))
        .otherwise(lit(-1))).cast("double").as(s"s$j"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id").as("vec_id"),
        array((0 until PassageVecDim).map(j => col(s"s$j")): _*).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
  }

  /** Passage-grain hybrid retrieval (r17 verdict next #3 — the other
    * half of the RAG serving grain, composing H2'x with H4c+p): RRF
    * fusion of chunk-grain BM25 (the stored `plex` LexIndex leg,
    * verbatim [[passageRetrieval]]'s scorer) with chunk-grain ANN over
    * a STORED chunk IVF index ([[IvfIndex.buildOrLoadVectors]] at tag
    * `tagVBase<cells>` over [[tokenHashVecs]] of the chunk texts), then
    * maxP election to docs: each doc is represented by its best FUSED
    * chunk, docs rank by that chunk's fused rank. ONE definition for
    * the declared q_passage_fusion and PassageSpec's planted corpora
    * (both falsifiability directions). Returns
    * (rank, doc_id, chunk_idx, chunk_rank).
    */
  private[graft] def passageFusion(s: SparkSession, docs: DataFrame,
                                   tagC: String, tagP: String,
                                   tagVBase: String,
                                   terms: Seq[String]): DataFrame = {
    import s.implicits._
    val chunks = ChunkStore.buildOrLoad(s, docs, tagC)
    val chunkDocs = chunkTexts(docs, chunks)
    // ---- lexical leg: the stored plex index, q_passage_retrieval's
    // scorer verbatim, ranked at CHUNK grain (no per-doc best yet —
    // fusion must see every scored chunk) and cut to the FuseN
    // shortlist. The rank window is over the df-bounded matched set.
    val (post, stats) = LexIndex.buildOrLoad(s, chunkDocs, tagP)
    val wl = Window.orderBy(col("score").desc, col("doc_id").asc)
    val lexTop = LexIndex.scoreTerms(post, stats, terms)
      .withColumn("rank", row_number().over(wl))
      .filter(col("rank") <= SimilarityQueries.FuseN)
      .select(lit(0L).as("query_id"), col("doc_id").as("vec_id"),
        col("rank"))
    // ---- vector leg: stored chunk-grain IVF over the deterministic
    // token-hash vectors; cells/probes derive from CHUNK cardinality
    // exactly as the doc-grain stack derives from corpus cardinality
    // (the cell count is embedded in the tag — IvfIndex's no-silent-
    // re-spec rule). The chunk count is a stored-table count (cheap);
    // the vector derivation runs only on build (by-name argument).
    val cells = SimilarityQueries.derivedCells(chunks.count())
    val (a2, centn) = IvfIndex.buildOrLoadVectors(s,
      tokenHashVecs(chunkDocs), s"$tagVBase$cells", cells)
    val q = tokenHashVecs(Seq((0L, terms.mkString(" ")))
        .toDF("doc_id", "text"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val vecTop = SimilarityQueries.ivfTopKFor(q, a2, centn,
        SimilarityQueries.derivedProbe(cells), excludeSelf = false,
        n = SimilarityQueries.FuseN)
      .select(col("query_id"), col("vec_id"), col("rank"))
    // ---- decimal-exact RRF (the shared q_hybrid_fusion definition),
    // then maxP election: best fused chunk per doc via ONE doc-grain
    // ordered-struct aggregate (fused ranks are unique integers, so
    // min(struct(rank, chunk_idx)) IS the doc's best passage), docs
    // ranked by their best chunk's fused rank.
    val fused = SimilarityQueries.rrfFuse(lexTop, vecTop)
    val elected = fused
      .select(floor(col("vec_id") / PassageIdStride).cast("long")
          .as("doc_id"),
        pmod(col("vec_id"), lit(PassageIdStride)).cast("int")
          .as("chunk_idx"),
        col("rank"))
      .groupBy("doc_id")
      .agg(min(struct(col("rank"), col("chunk_idx"))).as("b"))
      .select(col("doc_id"), col("b.chunk_idx").as("chunk_idx"),
        col("b.rank").as("chunk_rank"))
    val wd = Window.orderBy(col("chunk_rank").asc, col("doc_id").asc)
    elected.withColumn("rank", row_number().over(wd))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("doc_id"), col("chunk_idx"),
        col("chunk_rank"))
      .orderBy("rank")
  }

  private[graft] def qlDirichlet(s: SparkSession, docs: DataFrame,
                                 tagL: String,
                                 terms: Seq[String]): DataFrame = {
    val (post, stats) = LexIndex.buildOrLoad(s, docs, tagL)
    val nDocs = stats.collect()(0).getLong(0)
    val cap = math.floor(LexIndex.StopTermDfFrac * nDocs).toLong
    // effective query size = uncapped terms (|terms|-row driver fetch,
    // the same literal-cap convention as the scan predicate)
    val nq = LexIndex.termDf(s, tagL, terms)
      .filter(col("df") <= cap).count()
    val matched = post
      .filter(col("term").isin(terms: _*) && col("df") <= cap)
    // cf from the SAME pruned scan: an uncapped term's matched rows
    // are its whole posting list, so the term-grain sum is exact
    val cf = matched.groupBy("term").agg(sum(col("tf")).as("cf"))
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    LexIndex.qlCombine(matched.join(broadcast(cf), Seq("term"))
        .crossJoin(broadcast(stats)), QlMu, nq)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("doc_id"), col("dl"),
        round(col("score"), 6).as("score"))
      .orderBy("rank")
  }

  /** The full PRF pipeline over an arbitrary corpus relation (doc_id,
    * text) against the stored LexIndex at `tagL` — ONE definition for
    * the declared q_prf_expansion and PrfSpec's planted corpora (the
    * both-directions falsifiability convention: the spec plants a doc
    * findable ONLY through expansion vocabulary and proves it is
    * retrieved, next to a control corpus where it is not). Stages and
    * scale shape are documented on the QueryDef.
    */
  private[graft] def prfExpansion(s: SparkSession, docs: DataFrame,
                                  tagL: String,
                                  baseTerms: Seq[String]): DataFrame = {
    import s.implicits._
    val (post, stats) = LexIndex.buildOrLoad(s, docs, tagL)
    val nDocs = stats.collect()(0).getLong(0)
    val cap = math.floor(LexIndex.StopTermDfFrac * nDocs).toLong
    // 1. feedback: base BM25 top-K doc ids (decimal-exact scores,
    //    doc_id tiebreak — K driver-collected longs)
    val wr = Window.orderBy(col("score").desc, col("doc_id").asc)
    val fbIds = LexIndex.scoreTerms(post, stats, baseTerms)
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= PrfFeedbackK)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    // 2. candidate mining: tokenize the K feedback docs (pushed
    //    point lookup), weight = Σ tf, integer-exact; the '' token
    //    of empty docs is never query vocabulary
    val cand = LexIndex.postingRows(
        docs.filter(col("doc_id").isin(fbIds: _*)))
      .filter(!col("term").isin(baseTerms: _*) && col("term") =!= "")
      .groupBy("term").agg(sum(col("tf")).as("w"))
    val candTerms = cand.select("term").collect()
      .map(_.getString(0)).toSeq
    // 3. election: drop stop-capped candidates (their posting
    //    contribution would be skipped anyway), top-M by (w, term)
    val expTerms = cand
      .join(LexIndex.termDf(s, tagL, candTerms), Seq("term"))
      .filter(col("df") <= cap)
      .orderBy(col("w").desc, col("term").asc)
      .limit(PrfExpandM)
      .select("term").collect().map(_.getString(0)).toSeq
    // 4. expanded scoring: ONE panel pass, two query_ids
    val qt = (baseTerms.map(("base", _)) ++ expTerms.map(("exp", _)))
      .toDF("query_id", "term")
    val scored = LexIndex.scorePanel(post, stats, qt,
      (baseTerms ++ expTerms).distinct)
    val per = scored.groupBy("doc_id").agg(
      coalesce(max(when(col("query_id") === "base", col("score"))),
        lit(0.0)).as("score_base"),
      coalesce(max(when(col("query_id") === "exp", col("score"))),
        lit(0.0)).as("score_exp"))
    val w2 = Window.orderBy(col("score").desc, col("doc_id").asc)
    per
      .withColumn("score",
        col("score_base") + lit(PrfLambda) * col("score_exp"))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("doc_id"),
        round(col("score"), 6).as("score"),
        round(col("score_base"), 6).as("score_base"))
      .orderBy("rank")
  }
}
