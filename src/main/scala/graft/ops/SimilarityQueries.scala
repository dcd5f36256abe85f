package graft.ops

import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY.md §2 H2):
  * brute-force cosine top-k as the exactness baseline, a signed-
  * random-projection (hyperplane LSH) bucketed variant as the scale path —
  * the bucket turns the O(n*q) cross join into an equi-join, which at
  * 100 TB shuffles once on the bucket key instead of replicating the
  * corpus per query — and a recall@k query that joins the two so the
  * approximation error is a measured number, not a belief.
  */
object SimilarityQueries {

  private val K = 5

  /** MMR re-ranking geometry (q_mmr_rerank): shortlist depth, picks,
    * and the relevance weight λ (Carbonell & Goldstein 1998; 0.7 is
    * the common relevance-leaning setting). 1−λ is a SEPARATE literal,
    * never derived by float subtraction (1.0 − 0.7 is
    * 0.30000000000000004 in IEEE — a last-ulp mismatch against the
    * oracle's 0.3 literal that could flip a near-tie pick).
    */
  private val MmrShortlist = 20
  private val MmrK = 10
  private val MmrLambda = 0.7
  private val MmrOneMinusLambda = 0.3

  /** Hybrid-retrieval fusion geometry (q_hybrid_fusion): each stack
    * contributes its top-[[FuseN]] shortlist, fused by reciprocal-rank
    * fusion with the published constant k=[[RrfK]] (Cormack, Clarke &
    * Buettcher 2009 — "k=60 worked well" and has been the standard
    * ever since; larger k flattens rank differences, smaller k
    * overweights rank 1). 20 matches q_bm25's declared list depth.
    */
  private[graft] val FuseN = 20
  private[graft] val RrfK = 60

  /** Decimal-exact reciprocal-rank fusion of two ranked shortlists —
    * ONE definition shared by the declared q_hybrid_fusion and the
    * ingest-time face ([[graft.streaming.VectorStream
    * .hybridRetrieveBatch]]) so batch and serving-time fusion cannot
    * drift. Inputs carry (query_id, vec_id, rank); a doc absent from
    * one list contributes 0 from it (full outer union). Each
    * reciprocal 1/(RrfK + rank) is one IEEE division of exact
    * integers, rounded 9dp, cast DECIMAL(20,10); the two-term sum is
    * decimal-exact, so fused ranks are engine-independent (ties break
    * by vec_id). Returns (query_id, vec_id, rank).
    */
  private[graft] def rrfFuse(lexTop: DataFrame,
                             vecTop: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val rrfOf = (r: org.apache.spark.sql.Column) =>
      coalesce(round(lit(1.0) / (lit(RrfK) + r), 9), lit(0.0))
        .cast(DecimalType(20, 10))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("vec_id").asc)
    lexTop.select(col("query_id"), col("vec_id"), col("rank").as("lrank"))
      .join(vecTop
          .select(col("query_id"), col("vec_id"), col("rank").as("vrank")),
        Seq("query_id", "vec_id"), "full")
      .withColumn("rrf", rrfOf(col("lrank")) + rrfOf(col("vrank")))
      .withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("vec_id"), col("rank"))
  }

  /** Per-query BM25 top-`n` shortlist over a panel — [[LexIndex
    * .scorePanel]] ranked and cut, shared by the declared fusion query
    * (excludeSelf = true: panel queries are corpus members) and the
    * streaming face (false: arriving queries are not). Returns
    * (query_id, vec_id, rank).
    */
  private[graft] def lexPanelTop(post: DataFrame, stats: DataFrame,
                                 qt: DataFrame, allTerms: Seq[String],
                                 n: Int, excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    val scored = LexIndex.scorePanel(post, stats, qt, allTerms)
    (if (excludeSelf) scored.filter(col("doc_id") =!= col("query_id"))
     else scored)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
  }

  /** The two fusion shortlists for the STANDARD corpus panel —
    * (BM25 top-[[FuseN]] from the stored LexIndex, IVFADC
    * top-[[FuseN]] from the stored IVF+PQ tables), each
    * (query_id, vec_id, rank) with self excluded (panel queries are
    * corpus members). ONE derivation shared by q_hybrid_fusion and
    * q_fusion_weight_sweep so the sweep prices exactly the lists the
    * declared fusion serves.
    *
    * Memoized ([[SharedCaches.memo]]): the legs' construction includes
    * a driver-side term-universe collect, so plan-level caching cannot
    * dedup it; both consumers would otherwise each re-pay the lexical
    * DAAT pass and the ADC probe (~2.5 s of the family's ~5.9 s at
    * sf0.1). Evicted with the Embeddings family's release, so each
    * bench pass / re-migration re-derives.
    */
  private def fusionLegs(s: SparkSession, dir: String
                        ): (DataFrame, DataFrame) =
    SharedCaches.memo(SharedCaches.Embeddings, "fusionLegs", s, dir) {
      val q = pqQueries(s, dir)
      // lexical leg: the standing LexIndex over the full corpus (the
      // q_bm25 tag); panel terms = each query doc's distinct tokens,
      // term universe collected once (vocabulary-bounded)
      val (post, stats) = LexIndex.buildOrLoad(s,
        Tables.par(s, dir, "documents"), LexIndex.tag(dir))
      val qt = Tables.t(s, dir, "documents")
        .join(q.select(col("query_id")), col("doc_id") === col("query_id"))
        .select(col("query_id"), explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      val allTerms = qt.select("term").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val lexTop = lexPanelTop(post, stats, qt, allTerms, FuseN,
        excludeSelf = true)
      // vector leg: IVFADC, q_ann_ivfpq's shared definitions
      val cells = derivedCells(corpus(s, dir).count())
      val (a2, centn) = IvfIndex.buildOrLoad(s, dir, cells)
      val cand = ivfPqCandidates(q, centn,
        a2.select(col("vec_id"), col("cell")), derivedProbe(cells))
      val vecTop = pqAdcScoredWithin(s, dir, cand)
        .filter(col("rank") <= FuseN)
        .select(col("query_id"), col("vec_id"), col("rank"))
      (SharedCaches.persist(SharedCaches.Embeddings, lexTop),
        SharedCaches.persist(SharedCaches.Embeddings, vecTop))
    }

  /** Weights the fusion sweep prices: w is the LEXICAL reciprocal's
    * share (0 = pure vector, 1 = pure lexical, 0.5 ≡ unweighted RRF —
    * positive scaling preserves ranking, spec-pinned). All five are
    * exact in both binary and decimal, so the DECIMAL-weighted sums
    * are engine-independent.
    */
  private val FusionWeights = Seq(0.0, 0.25, 0.5, 0.75, 1.0)

  /** Arm label for a sweep weight — formatted under Locale.ROOT, not
    * the JVM default: an f-interpolator `%.2f` on a comma-decimal
    * locale would label arms "w0,50" AND derive an invalid oracle CTE
    * identifier from it (r15 advice).
    */
  private def weightTag(w: Double): String =
    "w" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(w))

  /** Analytic ideal DCG at [[K]] (relevance K+1-r, log2 discount),
    * computed once on the driver, rounded 9dp, and injected as ONE
    * literal into the Spark plan and the DuckDB oracle (Double.toString
    * round-trips, the LnTwo convention) — so neither engine's libm
    * evaluates the normalizer.
    */
  private[ops] val IdcgK: Double = {
    val v = (1 to K).map(r =>
      (K + 1 - r).toDouble / (math.log(r + 1.0) / math.log(2.0))).sum
    math.rint(v * 1e9) / 1e9
  }

  /** Graded-relevance view of an exact top-K list: rel = K+1-rank. */
  private[ops] def ndcgRelevance(exact: DataFrame): DataFrame =
    exact.filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id"),
        (lit(K + 1) - col("rank")).cast("double").as("rel"))

  /** One measured nDCG@K row for an approximate ranking against the
    * graded exact relevance (see q_ann_ndcg's determinism notes) —
    * shared by the declared query and SimilaritySpec's identity pin
    * (nDCG of the exact ranking itself == 1.0).
    */
  private[ops] def ndcgRow(ann: DataFrame, ex: DataFrame,
                           queries: DataFrame, variant: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dcg = ann.filter(col("rank") <= K)
      .select(col("query_id"), col("vec_id"), col("rank").as("arank"))
      .join(ex, Seq("query_id", "vec_id"))
      .select(col("query_id"),
        round(col("rel") / log2(col("arank") + 1), 9).as("term"))
      .groupBy("query_id")
      .agg(sum(col("term").cast(DecimalType(20, 10))).as("dcg"))
    queries.join(dcg, Seq("query_id"), "left")
      .select(round(coalesce(col("dcg").cast("double"), lit(0.0)) /
        IdcgK, 9).as("nq"))
      .agg(count(lit(1)).as("n_queries"),
        (sum(col("nq").cast(DecimalType(20, 10))).cast("double") /
          count(lit(1))).as("m"))
      .select(lit(variant).as("variant"), col("n_queries"),
        round(col("m"), 6).as(s"ndcg_at_$K"))
  }
  private val NumPlanes = 8
  private val Dim = 64
  private val planes = makePlanes(NumPlanes, Dim)
  /** IVF coarse quantizer FLOORS: minimum inverted-list cells / probed
    * cells. The declared queries derive the actual counts from corpus
    * cardinality ([[derivedCells]]/[[derivedProbe]]); these floors keep
    * a meaningful quantizer on tiny corpora.
    */
  private val NCells = 16
  private val NProbe = 4

  /** Per-cell quota for the cluster-balanced diversity sample. */
  private val DiverseK = 4

  /** Lloyd rounds for the measured k-means refinement query — enough
    * to show the convergence curve while keeping the unrolled oracle
    * tractable.
    */
  private val KmRounds = 3

  /** Target dimensionality of the JL random projection — 16 so the
    * normalizer 1/sqrt(16) = 0.25 is EXACT (no libm sqrt in the
    * projection itself; the only sqrts are the pair norms, an exactly-
    * rounded IEEE op). Planes seeded differently from the LSH planes.
    */
  private val ProjDim = 16
  private val projPlanes = graft.functions.VectorFunctions
    .makePlanes(ProjDim, Dim, seed = 7L)

  /** Product-quantization geometry: [[PqM]] subspaces of [[PqDsub]]
    * dims, [[PqK]] codes per sub-codebook — codes cost
    * M·log2(k)/8 bytes/vector (+4 for the stored norm) against
    * 4·Dim bytes of float32. k widened 16 → 256 in r13 on
    * q_pq_codebook_sweep's OWN measurement (re-ranked recall@5 0.56 →
    * 0.91 at sf0.01 for 8 → 12 B/vec — the published Jégou et al. 2011
    * operating point dominates); the sweep keeps both points priced
    * side by side.
    */
  private[ops] val PqM = 8
  private[ops] val PqK = 256
  private val PqDsub = Dim / PqM

  /** Bits per code — exact log2 of [[PqK]] (powers of two only). */
  private val PqBits = Integer.numberOfTrailingZeros(PqK)

  /** Codebook sizes the r13 sweep prices side by side: the former
    * default k=16 (4-bit codes) and the published k=256 operating
    * point (8-bit codes — Jégou et al. 2011), now the default. Powers
    * of two only (the bytes-per-vector geometry uses exact log2).
    */
  private val PqSweepKs = Seq(16, 256)

  /** slice of column `v` for the subspace in column `sub` (0-based). */
  private[ops] def pqSliceSub(v: String): org.apache.spark.sql.Column =
    expr(s"slice($v, sub * $PqDsub + 1, $PqDsub)")

  /** Squared L2 via three in-order dots — bit-identical cross-engine. */
  private def pqD2(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  private def pqSubs(s: SparkSession) = broadcast(
    s.range(0, PqM).toDF("sub").withColumn("sub", col("sub").cast("int")))

  /** PQ codebook (sub, code, cv) for a normalized corpus `n` (vec_id,
    * v, nrm): hash-ordered seed rows sliced per subspace, one
    * decimal-exact Lloyd step — the IVF derivation convention applied
    * per subspace, so the DuckDB twin replays it bit-comparably.
    * One definition shared by the declared query, the stored artifact
    * ([[PqStore]]) and its maintenance — no drift.
    */
  private[ops] def buildPqCodebook(n: DataFrame,
                                   k: Int = PqK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = n.sparkSession
    val seedSub = Quantizer.seeds(n, k).crossJoin(pqSubs(s))
      .select(col("sub"), col("sr").as("code"), pqSliceSub("v").as("cv"))
    val sv = n.crossJoin(pqSubs(s))
      .select(col("vec_id"), col("sub"), pqSliceSub("v").as("sv"))
    val wAsg = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d").asc, col("code").asc)
    val a0 = sv.join(broadcast(seedSub), "sub")
      .withColumn("d", pqD2(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wAsg)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"), col("sv"))
    Quantizer.means(a0, Seq("sub", "code"), "sv")
      .select(col("sub"), col("code"), col("cv"))
  }

  /** Encode a normalized corpus against codebook `cb`: one row per
    * vector — (vec_id, nrm, codes), codes ordered by subspace (the
    * stored 4-byte representation plus its norm).
    */
  private[graft] def encodePq(n: DataFrame, cb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAsg = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d").asc, col("code").asc)
    n.crossJoin(pqSubs(n.sparkSession))
      .select(col("vec_id"), col("nrm"), col("sub"), pqSliceSub("v").as("sv"))
      .join(broadcast(cb), "sub")
      .withColumn("d", pqD2(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wAsg)).filter(col("rn") === 1)
      .groupBy("vec_id", "nrm")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** PQ query panel (query_id, qv, qn) off the normalized corpus. */
  private def pqQueries(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).drop("bucket").filter(expr(QueryPred))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))

  /** ADC scoring off the STORED PqStore artifact: every (query, corpus
    * vector) pair scored by summed lookup-table hits — (query_id,
    * vec_id, nrm, score, rank). The scoring join touches ONLY the codes
    * relation (nrm rides the codes table — the "stored 4B codes + 4B
    * norm" design; full vectors appear nowhere). Per-pair sums are
    * DECIMALs of 9dp-rounded partials: float sums over an unordered
    * group differ at the last ulp between engines, and a last-ulp flip
    * reorders ranks. Shared by q_embedding_pq and q_pq_rerank — one
    * definition, and its oracle twin is [[pqCtes]]' `pscored`.
    */
  private def pqAdcScored(s: SparkSession, dir: String,
                          k: Int = PqK): DataFrame = {
    val (cb, codes) = PqStore.buildOrLoad(s, dir, k = k)
    val enc = codes.select(col("vec_id"), col("nrm"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    val q = pqQueries(s, dir)
    pqAdcFinish(q, enc.join(broadcast(pqLookupTable(q, cb)), Seq("sub", "code")))
  }

  /** Per-query ADC lookup table (query_id, sub, code, pd): the M×K
    * query-subvector·centroid dots — KBs per query, broadcast at the
    * hit join. One definition shared by the flat and the IVF-probed
    * ADC scans so their per-pair partials are bit-identical.
    */
  private def pqLookupTable(q: DataFrame, cb: DataFrame): DataFrame =
    q.select(col("query_id"), col("qv")).crossJoin(broadcast(cb))
      .select(col("query_id"), col("sub"), col("code"),
        dot(pqSliceSub("qv"), col("cv")).as("pd"))

  /** Fold lookup-table hits (query_id, vec_id, nrm, pd) into the
    * decimal-exact ADC score and per-query rank — the scoring tail
    * shared by the flat scan and the IVF-probed scan.
    */
  private def pqAdcFinish(q: DataFrame, hits: DataFrame,
                          excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val agg = hits.groupBy("query_id", "vec_id", "nrm")
      .agg(sum(round(col("pd"), 9).cast(DecimalType(30, 15)))
        .cast("double").as("ad"))
      .join(broadcast(q.select(col("query_id"), col("qn"))), "query_id")
    // excludeSelf: see ivfPqCandidates — corpus self-joins drop the
    // trivial self-match; standing-index probes keep it
    (if (excludeSelf) agg.filter(col("query_id") =!= col("vec_id")) else agg)
      .withColumn("score", col("ad") / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id").asc)))
  }

  /** ADC scoring RESTRICTED to an explicit candidate-pair relation
    * (query_id, vec_id) — the IVF×PQ composition's scan: candidate
    * pairs fetch codes from the stored vec_id-bucketed codes table
    * (scan-only on the codes side; only the narrow 2-long pair rows
    * shuffle), so the ADC work is proportional to the PROBED fraction
    * of the corpus, not the corpus. Same lookup table and decimal
    * scoring tail as the flat scan.
    */
  private def pqAdcScoredWithin(s: SparkSession, dir: String,
                                cand: DataFrame): DataFrame = {
    val (cb, codes) = PqStore.buildOrLoad(s, dir)
    pqAdcScoredFor(pqQueries(s, dir), cand, cb, codes)
  }

  /** [[probeCells]] exposed for the streaming spec's gate assertion
    * (probeCells itself stays ops-private).
    */
  private[graft] def probeCellsForTest(q: DataFrame, centn: DataFrame,
                                       nProbe: Int): DataFrame =
    probeCells(q, centn, nProbe)

  /** Candidate pairs of the IVFADC composition for an ARBITRARY query
    * relation (query_id, qv, qn): probed cells ([[probeCells]] — the
    * q_ann_ivf definition) ⋈ the cell-membership relation (vec_id,
    * cell). Shared by the declared q_ann_ivfpq and the micro-batch
    * streaming probe ([[graft.streaming.VectorStream.ivfPqProbeBatch]])
    * so batch and ingest-time retrieval cannot drift.
    */
  private[graft] def ivfPqCandidates(q: DataFrame, centn: DataFrame,
                                     member: DataFrame, nProbe: Int,
                                     excludeSelf: Boolean = true): DataFrame = {
    val cand = broadcast(probeCells(q, centn, nProbe)
        .select(col("query_id"), col("cell")))
      .join(member, "cell")
    // excludeSelf belongs to CORPUS SELF-JOIN semantics (a vector is
    // trivially its own neighbor). An ingest-time probe of arriving
    // vectors against a STANDING index passes false: an at-least-once
    // redelivery of an already-indexed vec_id MUST surface its stored
    // twin (cosine 1.0) — dropping it reports "no close neighbor" for
    // a vector literally in the index.
    (if (excludeSelf) cand.filter(col("query_id") =!= col("vec_id")) else cand)
      .select(col("query_id"), col("vec_id"))
  }

  /** ADC scoring of an explicit candidate-pair relation against a
    * provided codebook + codes relation (the stored [[PqStore]] tables
    * or their session-cached equivalents) — the composition's scan leg
    * for an ARBITRARY query relation, shared with the streaming face.
    * Returns (query_id, vec_id, nrm, ad, score, rank).
    */
  private[graft] def pqAdcScoredFor(q: DataFrame, cand: DataFrame,
                                    cb: DataFrame, codes: DataFrame,
                                    excludeSelf: Boolean = true): DataFrame = {
    val encC = cand.join(codes, "vec_id")
      .select(col("query_id"), col("vec_id"), col("nrm"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    pqAdcFinish(q,
      encC.join(broadcast(pqLookupTable(q, cb)), Seq("query_id", "sub", "code")),
      excludeSelf)
  }

  /** ADC shortlist size for the exact re-rank (q_pq_rerank): 5K keeps
    * the re-ranked fraction ~R/n while bounding the full-vector fetch
    * at R rows per query.
    */
  private val PqRerankR = 5 * K

  /** CTE chain ending in `pscored` (query_id, vec_id, score, rank) —
    * the oracle twin of the PQ build + ADC scoring: same hash-ordered
    * seeds, same decimal-exact Lloyd means per subspace, same argmin
    * encode, same decimal-summed lookup-table scores. Shared by
    * q_embedding_pq and q_pq_rerank so the two oracles cannot drift.
    */
  private def pqCtesFor(k: Int, x: String): String = {
    val ds = PqDsub
    s"""subs$x AS (SELECT unnest(range(0, $PqM)) AS sub),
       |pseeds$x AS (SELECT v, ROW_NUMBER() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS code
       |  FROM (SELECT vec_id, v FROM n
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)),
       |pseedsub$x AS (SELECT sub, code,
       |    v[sub*$ds+1 : sub*$ds+$ds] AS cv FROM pseeds$x, subs$x),
       |psv$x AS (SELECT vec_id, sub, v[sub*$ds+1 : sub*$ds+$ds] AS sv
       |  FROM n, subs$x),
       |pa0$x AS (SELECT vec_id, sub, code, sv FROM (
       |  SELECT psv$x.vec_id, psv$x.sub, c.code, psv$x.sv,
       |    ROW_NUMBER() OVER (PARTITION BY psv$x.vec_id, psv$x.sub
       |      ORDER BY list_dot_product(psv$x.sv, psv$x.sv)
       |        - 2.0*list_dot_product(psv$x.sv, c.cv)
       |        + list_dot_product(c.cv, c.cv) ASC, c.code ASC) AS rn
       |  FROM psv$x JOIN pseedsub$x c USING (sub)) WHERE rn = 1),
       |pcm$x AS (SELECT sub, code, i AS pos,
       |    CAST(sum(CAST(sv[i] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS m
       |  FROM pa0$x, (SELECT unnest(range(1, ${ds + 1})) AS i)
       |  GROUP BY sub, code, i),
       |pcb$x AS (SELECT sub, code, list(m ORDER BY pos) AS cv
       |  FROM pcm$x GROUP BY sub, code),
       |penc$x AS (SELECT vec_id, sub, code FROM (
       |  SELECT psv$x.vec_id, psv$x.sub, c.code,
       |    ROW_NUMBER() OVER (PARTITION BY psv$x.vec_id, psv$x.sub
       |      ORDER BY list_dot_product(psv$x.sv, psv$x.sv)
       |        - 2.0*list_dot_product(psv$x.sv, c.cv)
       |        + list_dot_product(c.cv, c.cv) ASC, c.code ASC) AS rn
       |  FROM psv$x JOIN pcb$x c USING (sub)) WHERE rn = 1),
       |plt$x AS (SELECT query_id, sub, code,
       |    list_dot_product(qv[sub*$ds+1 : sub*$ds+$ds], cv) AS pd
       |  FROM q, pcb$x),
       |pad$x AS (SELECT query_id, vec_id,
       |    CAST(sum(CAST(round(pd, 9) AS DECIMAL(30,15))) AS DOUBLE) AS ad
       |  FROM penc$x JOIN plt$x USING (sub, code) GROUP BY query_id, vec_id),
       |pscored$x AS (SELECT query_id, vec_id, ad/(qn*nrm) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ad/(qn*nrm) DESC, vec_id ASC) AS rank
       |  FROM pad$x JOIN n USING (vec_id) JOIN q USING (query_id)
       |  WHERE query_id <> vec_id)""".stripMargin
  }

  private lazy val pqCtes: String = pqCtesFor(PqK, "")

  /** IVF cells derived from corpus cardinality — SURVEY H2'b's "cells
    * ≫ 16 at scale": cells ≈ √n keeps inverted lists and the centroid
    * relation both ~√n rows, so lists stay balanced and the broadcast
    * centroid side stays small at any corpus scale (10^10 vectors →
    * 10^5 centroids — MBs). Floored at [[NCells]].
    */
  private[graft] def derivedCells(n: Long): Int =
    math.max(NCells, math.floor(math.sqrt(n.toDouble)).toInt)

  /** Cells from a TARGET mean cluster size — the parameterized
    * alternative to [[derivedCells]]' ~√n for the SemDeDup-style
    * consumers, where the knob that matters is within-cell pair cost:
    * cells = ⌈n / target⌉ makes E|cell| = target, so Σ|cell|² ≈
    * n · target stays LINEAR in n at fixed target (√n cells gives
    * Σ|cell|² ≈ n^1.5 — fine for search probes, quadratic-ish for
    * all-pairs within cells). At 10^10 vectors pick target ~10^3–10^4:
    * ~10^6–10^7 cells, centroid table still broadcastable (GBs → use
    * a two-level quantizer past that). Smaller target = cheaper pairs
    * but more cross-cell misses — q_dedup_semantic_recall MEASURES
    * that trade per derivation. Floored at [[NCells]].
    */
  private[graft] def derivedCellsForTarget(n: Long, target: Int): Int =
    math.max(NCells, math.ceil(n.toDouble / target).toInt)

  /** Probed cells scale WITH the cell count (a fixed ~12.5% searched
    * fraction), floored at [[NProbe]]: fixed probes over growing cells
    * would silently shrink the searched fraction and decay recall as
    * the corpus scales.
    */
  private[ops] def derivedProbe(cells: Int): Int =
    math.max(NProbe, math.ceil(cells / 8.0).toInt)

  /** every 25th vector is a "query" — scale-independent choice. */
  private val QueryPred = "vec_id % 25 = 0"

  private def planeSqlLits: Seq[String] =
    planes.map(_.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]"))

  // no ELSE arm for the negative side would swallow NULLs: a NULL dot
  // (null/corrupt vector) must yield a NULL bucket so the row drops
  // from the equi-join, matching VectorFunctions.hyperplaneBucket —
  // an ELSE '0' would bucket corrupt rows at '00000000' in DuckDB only.
  private val bucketSql: String =
    planeSqlLits.map(p =>
      s"CASE WHEN list_dot_product(v, $p::DOUBLE[]) >= 0.0 THEN '1' " +
        s"WHEN list_dot_product(v, $p::DOUBLE[]) < 0.0 THEN '0' END")
      .mkString("||")

  // ---------------------------------------------------------------- Spark
  // Shared builders: the recall query composes the two pipelines, so they
  // must be the *same code*, not near-copies that can drift.

  /** corpus with double vector, norm, and LSH bucket. Persisted: this is
    * the ANN system's prepared index side — every similarity query (and
    * both legs of each: query rows AND corpus rows come from it) starts
    * here, so the normalize+bucket scan is materialized once per session
    * for every consumer across queries. At 100 TB this is the index
    * you'd precompute and store anyway; MEMORY_AND_DISK makes it a
    * disk-backed artifact, not an OOM risk.
    */
  private[ops] def corpus(s: SparkSession, dir: String): DataFrame =
    SharedCaches.memo(SharedCaches.Embeddings, "corpus", s, dir)(
      SharedCaches.persist(SharedCaches.Embeddings,
        Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
          .withColumn("nrm", l2Norm(col("v")))
          .withColumn("bucket", hyperplaneBucket(col("v"), planes))))

  private def rankW = org.apache.spark.sql.expressions.Window
    .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)

  /** Exact top-k: tiny query side broadcast against the full corpus.
    * `k` parameterizes the rank budget (the hard-negative query keeps
    * K+1 — positive + K negatives — off the same definition).
    *
    * r18 (§5 cache-reused-intermediates / §1.2 "don't compute things
    * you throw away"): THIRTEEN declared queries read this relation as
    * their exact-cosine truth leg (every recall/MRR/nDCG row, both
    * fusion queries, the MMR shortlist, the semantic-dedup recall),
    * and each previously re-ran the |queries|×|corpus| dot-product
    * cross join. One ranked relation at the LARGEST budget any
    * consumer uses ([[MmrShortlist]]) is persisted per (session, dir)
    * — rank is independent of the cut, so every k is a filter of it —
    * and evicted with the Embeddings family like [[fusionLegs]]. At
    * 100 TB the truth leg is panel-bounded (queries × corpus touched
    * once instead of 13×) — the same argument, bigger constant.
    */
  private def exactRanked(s: SparkSession, dir: String): DataFrame =
    SharedCaches.memo(SharedCaches.Embeddings, "exactRanked", s, dir) {
      val e = corpus(s, dir)
      val q = e.filter(expr(QueryPred))
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      SharedCaches.persist(SharedCaches.Embeddings,
        broadcast(q).crossJoin(e.drop("bucket"))
          .filter(col("query_id") =!= col("vec_id"))
          .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .withColumn("rank", row_number().over(rankW))
          .filter(col("rank") <= MmrShortlist))
    }

  private[ops] def exactTopK(s: SparkSession, dir: String,
                             k: Int = K): DataFrame = {
    require(k <= MmrShortlist,
      s"exactTopK budget $k exceeds the persisted rank cut $MmrShortlist")
    exactRanked(s, dir).filter(col("rank") <= k)
  }

  /** The greedy MMR selection (q_mmr_rerank) — see the QueryDef for
    * semantics and scale shape. Each of the [[MmrK]]−1 rounds is one
    * query-grain join + per-query window; the new picks are
    * localCheckpointed per round so the final plan is a union of
    * [[MmrK]] bounded pieces, not a [[MmrK]]-deep join tower.
    */
  private[ops] def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val sl = exactTopK(s, dir, MmrShortlist)
      .select(col("query_id"), col("vec_id"), col("cos"),
        col("v"), col("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sims = sl.as("a")
      .join(sl.as("b"), col("a.query_id") === col("b.query_id")
        && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (dot(col("a.v"), col("b.v"))
          / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      mmrSelect(sl.select("query_id", "vec_id", "cos"), sims, MmrK)
        .select(col("query_id"), col("step"),
          col("pick").as("neighbor_id"),
          round(col("cos"), 6).as("cosine"),
          round(col("penalty"), 6).as("penalty"),
          round(lit(MmrLambda) * col("cos")
            - lit(MmrOneMinusLambda) * col("penalty"), 6).as("mmr"))
        .orderBy("query_id", "step")
    } finally { sl.unpersist(); sims.unpersist() }
  }

  /** The greedy selection itself, over any shortlist relation
    * `cand (query_id, vec_id, cos)` and pairwise sims
    * `sims (query_id, va, vb, sim)` — separated from the corpus
    * plumbing so MmrSpec can plant redundancy and prove the penalty
    * changes the picks in both directions. Returns one UNROUNDED row
    * per (query_id, step 1..k): (pick, cos, penalty).
    */
  private[ops] def mmrSelect(cand: DataFrame, sims: DataFrame,
                             k: Int): DataFrame = {
    // r18 (§2.3 "aggregate before you shuffle", §2.4, §3.1): each
    // greedy round previously ran a per-query row_number window
    // (full shuffle + sort of the surviving shortlist) plus
    // un-hinted joins against the ≤(i−1)·|panel|-row selected set.
    // The argmax is now the repo's own max(struct(score, −vec_id))
    // template (identical pick: IEEE max on score, tie → min vec_id —
    // doc_id unique per group), which partial-aggregates map-side, and
    // the selected set / per-candidate penalties are explicit
    // broadcasts (panel-bounded at ≤ k·|queries| and
    // ≤ shortlist·|queries| rows by construction — the 8 GB broadcast
    // cap is unreachable at any corpus scale since both are capped by
    // the query panel, not the corpus). Per round this removes the
    // sort exchange and both join shuffles; r19 then removed the last
    // per-round exchange too (the penalty fold's groupBy) by carrying
    // the penalty as a running max on the candidate rows — see below.
    def argmaxPick(df: DataFrame, step: Int): DataFrame =
      df.groupBy("query_id")
        .agg(max(struct(col("ord"), (-col("vec_id")).as("nv"),
          col("cos").as("cos"), col("penalty").as("penalty"))).as("b"))
        .select(col("query_id"), lit(step).as("step"),
          (-col("b.nv")).as("pick"), col("b.cos"), col("b.penalty"))
    var pieces = Seq(argmaxPick(cand
        .withColumn("penalty", lit(0.0)).withColumn("ord", col("cos")), 1)
      .localCheckpoint())
    // r19 (§2.3/§2.4 — r18 verdict "Next round" #1): the penalty is a
    // RUNNING MAX — penalty_i(d) = max(penalty_{i-1}(d), sim(d, newest
    // pick)) — so each round folds in ONLY the single newest pick per
    // query instead of re-joining sims against the whole selected set
    // (which re-scanned sims and re-aggregated O(i·|panel|·shortlist)
    // rows every round). The running state rides on the candidate rows,
    // seeded at -Infinity: sims can be NEGATIVE (cosine), and the old
    // per-round max over the selected set returned that negative value
    // — a 0.0 seed would silently floor it (MmrSpec pins this edge).
    // -Infinity never reaches the output: the fold join is total (sims
    // covers every shortlist pair, the newest pick is in the shortlist,
    // and d != newest after the anti-join), so from round 2 on the
    // penalty is a max over >= 1 real sims. Each round's state is
    // localCheckpointed (panel-bounded rows) so lineage stays flat
    // instead of re-executing the whole fold chain from cand.
    var cur = cand.withColumn("penalty", lit(Double.NegativeInfinity))
    for (i <- 2 to k) {
      val newest = pieces.last.select(col("query_id"), col("pick"))
      val simNew = sims
        .join(broadcast(newest.withColumnRenamed("pick", "vb")),
          Seq("query_id", "vb"))
        .select(col("query_id"), col("va").as("vec_id"), col("sim"))
      cur = cur
        .join(broadcast(newest.withColumnRenamed("pick", "vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
        .join(broadcast(simNew), Seq("query_id", "vec_id"))
        .withColumn("penalty", greatest(col("penalty"), col("sim")))
        .drop("sim")
        .localCheckpoint()
      val next = argmaxPick(
        cur.withColumn("ord", lit(MmrLambda) * col("cos")
          - lit(MmrOneMinusLambda) * col("penalty")), i)
        .localCheckpoint()
      pieces = pieces :+ next
    }
    pieces.reduce(_ unionByName _)
  }

  /** ANN top-k: candidates restricted to the query's LSH bucket. */
  private def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val q = e.filter(expr(QueryPred))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    q.join(e, "bucket")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= K)
  }

  /** Filtered ANN (the canonical vector-DB query: metadata predicate +
    * nearest neighbors): the index side is PRE-FILTERED — metadata joined
    * and the predicate applied BEFORE the bucket join — so candidates are
    * all valid and k survivors are guaranteed. At 100 TB pre-filter wins
    * when the predicate is selective and the metadata join is cheap
    * (embeddings and metadata co-bucketed on the id at rest → no
    * shuffle); for weak predicates the alternative is post-filter:
    * over-fetch k' > k from the unfiltered index, filter, keep k.
    */
  private def annFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val meta = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val filtered = e.join(meta, "vec_id").filter(col("lang") === "en")
    val q = e.filter(expr(QueryPred))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    q.join(filtered, "bucket")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= K)
  }

  /** Multi-probe masks: flip 0, 1, or 2 of the NumPlanes sign bits —
    * 1 + 8 + 28 = 37 of 256 buckets probed (~14% of a uniform corpus).
    * Probing the QUERY side keeps the corpus untouched: no re-index, no
    * extra corpus shuffle — the fan-out is 37x on the tiny query relation.
    */
  private val probeMasks: Seq[Seq[Int]] =
    Seq(Seq.empty[Int]) ++
      (0 until NumPlanes).map(Seq(_)) ++
      (for { i <- 0 until NumPlanes; j <- (i + 1) until NumPlanes } yield Seq(i, j))

  private def flipBits(bucket: org.apache.spark.sql.Column, flips: Seq[Int]) =
    concat((0 until NumPlanes).map { i =>
      val c = substring(bucket, i + 1, 1)
      if (flips.contains(i)) when(c === "1", lit("0")).otherwise(lit("1")) else c
    }: _*)

  /** Multi-probe ANN top-k: each query also searches every bucket within
    * Hamming distance 2 of its own. For a neighbor at per-plane agreement
    * p, recall rises from p^8 to p^8 + 8p^7(1-p) + 28p^6(1-p)^2 — e.g.
    * 0.29 -> 0.91 at cosine 0.9 — at 37/256 of brute-force cost.
    */
  private def annMultiProbeTopK(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val q = e.filter(expr(QueryPred))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(array(probeMasks.map(m => flipBits(col("bucket"), m)): _*))
          .as("bucket"))
    // the 37 probe buckets of one query are distinct strings, so a corpus
    // vector can match at most one probe — no candidate dedup needed.
    q.join(e, "bucket")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= K)
  }

  /** IVF centroids (cell, cv, cn): the [[Quantizer]] seed centroids
    * (the `nCells` vectors first in md5(vec_id) order), every vector
    * assigned to its nearest seed, then one round of exact Lloyd means
    * — the k-means round-1 centroids (q_kmeans_refine). Centroid-side
    * relations are `nCells` rows and broadcast into both scoring passes,
    * so the corpus is never shuffled to be scored; the mean is one
    * posexplode partial-agg and a shuffle of `nCells` x Dim groups.
    */
  private[ops] def ivfCentroids(n: DataFrame, nCells: Int): DataFrame =
    Quantizer.means(
      Quantizer.nearest(n, Quantizer.seedCentroids(n, nCells), 1), Seq("cell"))

  /** The IVF cell rows (vec_id, v, nrm, cell): each vector of `n` in its
    * nearest cell of `centn` — the one assignment the build, [[IvfIndex]]
    * append and merge use.
    */
  private[ops] def assignCells(n: DataFrame, centn: DataFrame): DataFrame =
    Quantizer.nearest(n, centn, 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))

  /** IVF index build: [[ivfCentroids]], then cell assignment of the
    * full corpus against them. Returns (corpusWithCell, centroids); the
    * stored face ([[IvfIndex]]) writes the same two relations.
    */
  private[ops] def buildIvf(n: DataFrame,
                            nCells: Int): (DataFrame, DataFrame) = {
    val centn = ivfCentroids(n, nCells)
    (assignCells(n, centn), centn)
  }

  /** The normalized corpus for index builders ([[IvfIndex]]). */
  private[ops] def normalizedCorpus(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).drop("bucket")

  /** Bounded SOFT assignment: each vector's `k` nearest cells (rank
    * column `rn`, rank 1 == the stored hard assignment — same score,
    * same cell-asc tiebreak), derived at read time from a stored cell
    * relation + its centroid table. One broadcast scoring pass over the
    * rows of `vecs` — the same shape as the build's own assignment
    * pass. SemDeDup's cross-cell miss trade is bought down with this:
    * a boundary pair split between two home cells still meets in a
    * shared 2nd-nearest cell (q_dedup_semantic_recall MEASURES the gain
    * per derivation).
    */
  private[ops] def softAssign(vecs: DataFrame, centn: DataFrame,
                              k: Int = 2): DataFrame =
    Quantizer.nearest(vecs.select(col("vec_id"), col("v"), col("nrm")),
      centn, k)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("rn"))

  /** IVF top-k against the stored [[IvfIndex]] tables: each query probes
    * its `nProbe` nearest cells; the candidate set is the union of
    * those inverted lists; exact cosine re-rank keeps k. A corpus vector
    * lives in exactly one cell and a query's probe cells are distinct,
    * so no candidate dedup is needed.
    */
  private[ops] def ivfTopKFrom(s: SparkSession, dir: String,
                               a2: DataFrame, centn: DataFrame,
                               nProbe: Int): DataFrame =
    ivfTopKFor(
      corpus(s, dir).filter(expr(QueryPred))
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")),
      a2, centn, nProbe)

  /** The probe leg alone: each query's `nProbe` nearest cells —
    * (query_id, qv, qn, cell). Factored so the IVF search and the
    * IVF-PQ composition (q_ann_ivfpq) probe with the SAME definition.
    */
  private[ops] def probeCells(q: DataFrame, centn: DataFrame,
                              nProbe: Int): DataFrame =
    Quantizer.nearest(q, centn, nProbe, "query_id", "qv", "qn")
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))

  /** IVF top-k for an ARBITRARY query relation (query_id, qv, qn) —
    * the one probe definition shared by the declared batch queries and
    * the micro-batch streaming probe
    * ([[graft.streaming.VectorStream.annProbeBatch]]), so batch and
    * ingest-time search cannot drift.
    */
  private[graft] def ivfTopKFor(q: DataFrame, a2: DataFrame,
                                centn: DataFrame, nProbe: Int,
                                excludeSelf: Boolean = true,
                                n: Int = K): DataFrame = {
    val qp = probeCells(q, centn, nProbe)
    // The probed (query, cell) relation is a query batch ≪ the corpus
    // (same assumption as the exact baseline's broadcast query side), so
    // the inverted-list lookup is a broadcast-HASH join on cell: the
    // corpus-sized a2 is streamed in place, never shuffled.
    // excludeSelf: see ivfPqCandidates — true for corpus self-joins,
    // false for ingest probes of a standing index (redelivered vec_ids
    // must surface their stored twin). `n` widens the cut for
    // shortlist consumers (the FuseN fusion legs).
    val joined = broadcast(qp).join(a2, "cell")
    (if (excludeSelf) joined.filter(col("query_id") =!= col("vec_id"))
     else joined)
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= n)
  }

  // ---------------------------------------------------------------- SQL
  // Shared CTE bodies for the DuckDB twins, composed the same way.

  private[ops] val baseCte =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS nrm,
       |  $bucketSql AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket
       |  FROM n WHERE $QueryPred)""".stripMargin

  private val exactScoredCte =
    s"""exact_scored AS (
       |  SELECT query_id, vec_id,
       |    list_dot_product(qv, v)/(qn*nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY list_dot_product(qv, v)/(qn*nrm) DESC, vec_id ASC) AS rank
       |  FROM q, n WHERE query_id <> vec_id)""".stripMargin

  private val annScoredCte =
    s"""ann_scored AS (
       |  SELECT query_id, vec_id, bucket,
       |    list_dot_product(qv, v)/(qn*nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY list_dot_product(qv, v)/(qn*nrm) DESC, vec_id ASC) AS rank
       |  FROM q JOIN n USING (bucket) WHERE query_id <> vec_id)""".stripMargin

  private def flipBitsSql(flips: Seq[Int]): String =
    (0 until NumPlanes).map { i =>
      val c = s"substr(bucket,${i + 1},1)"
      if (flips.contains(i)) s"CASE WHEN $c='1' THEN '0' ELSE '1' END" else c
    }.mkString("||")

  private val probesCte =
    "probes AS (" + probeMasks.map(m =>
      s"SELECT query_id, qv, qn, ${flipBitsSql(m)} AS bucket FROM q")
      .mkString("\nUNION ALL ") + ")"

  private val mpScoredCte =
    s"""mp_scored AS (
       |  SELECT query_id, vec_id, bucket,
       |    list_dot_product(qv, v)/(qn*nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY list_dot_product(qv, v)/(qn*nrm) DESC, vec_id ASC) AS rank
       |  FROM probes JOIN n USING (bucket) WHERE query_id <> vec_id)""".stripMargin

  /** CTE chain ending in `ltop` / `vtop` — the oracle twin of
    * [[fusionLegs]] (stored-LexIndex BM25 top-[[FuseN]] + IVFADC
    * top-[[FuseN]] for the corpus panel, self excluded, both caps
    * applied), shared by q_hybrid_fusion and q_fusion_weight_sweep so
    * the sweep prices EXACTLY the lists the fusion serves. Assumes
    * baseCte / pqCtes / ivfAssignCtes("") / ivfQpCte precede it.
    */
  private lazy val fusionListCtes: String = {
    val capSql = s"floor(${LexIndex.StopTermDfFrac} * n_docs)"
    s"""lt AS (SELECT doc_id, ${graft.functions.TextFunctions.toksSql}
       |  AS toks FROM documents),
       |lstat AS (SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT) AS sum_dl
       |  FROM lt),
       |lpost AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, term,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, toks, unnest(toks) AS term FROM lt)
       |  GROUP BY 1, 2, 3),
       |ldf AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM lpost GROUP BY 1),
       |lqt AS (SELECT q.query_id, unnest(list_distinct(lt.toks)) AS term
       |  FROM q JOIN lt ON lt.doc_id = q.query_id),
       |lmatch AS (SELECT t.query_id, p.doc_id, p.tf, p.dl, f.df
       |  FROM lqt t JOIN lpost p USING (term)
       |  JOIN ldf f ON p.term = f.term, lstat
       |  WHERE f.df <= $capSql AND p.doc_id <> t.query_id),
       |lscore AS (SELECT query_id, doc_id,
       |    CAST(sum(CAST(round(round(ln((n_docs - df + 0.5)
       |        / (df + 0.5) + 1.0), 9)
       |      * CAST(tf AS DOUBLE) * 2.2
       |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
       |        / (CAST(sum_dl AS DOUBLE) / n_docs))), 9)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS score
       |  FROM lmatch, lstat GROUP BY 1, 2),
       |ltop AS (SELECT query_id, vec_id, rank FROM (
       |  SELECT query_id, doc_id AS vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM lscore) WHERE rank <= $FuseN),
       |vcand AS (SELECT qp.query_id, a2.vec_id, a2.nrm FROM qp
       |  JOIN a2 USING (cell) WHERE qp.query_id <> a2.vec_id),
       |vtop AS (SELECT query_id, vec_id, rank FROM (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM (SELECT c.query_id, c.vec_id, p.ad/(q.qn*c.nrm) AS score
       |    FROM vcand c JOIN pad p USING (query_id, vec_id)
       |    JOIN q USING (query_id))) WHERE rank <= $FuseN)""".stripMargin
  }

  /** Scalar-subquery SQL for the two cell-count derivations — the
    * oracle-side twins of [[derivedCells]] / [[derivedCellsForTarget]].
    */
  private[ops] val sqrtCellsSql: String =
    s"""(SELECT GREATEST($NCells,
       |    CAST(floor(sqrt(count(*))) AS BIGINT)) FROM n)""".stripMargin

  /** (label, v) corpus -> (label, cv, cn, n) centroid rows: the
    * [[Quantizer.means]] per label (the oracle's sum(CAST(.. DECIMAL(30,15)))
    * twin) plus the label count. ONE definition
    * shared by the drift matrix and the prototypicality ranking so the
    * two consumers' centroids cannot drift.
    */
  private[ops] def labelCentroids(e: DataFrame): DataFrame =
    Quantizer.means(e, Seq("label"))
      .join(e.groupBy("label").agg(count(lit(1)).as("n")), "label")

  /** Oracle twin of [[labelCentroids]]: CTEs `e` (label, v), `cm`
    * (per-dim decimal-exact means), `c` (label, cv), `cnt` (label, n)
    * — embedded by both label-centroid consumers' oracles.
    */
  private val labelCentroidCtes: String =
    s"""e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
       |    FROM embeddings),
       |cm AS (SELECT label, i AS pos,
       |    CAST(sum(CAST(v[i] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS m
       |  FROM e, (SELECT unnest(range(1, ${Dim + 1})) AS i)
       |  GROUP BY label, i),
       |c AS (SELECT label, list(m ORDER BY pos) AS cv FROM cm
       |  GROUP BY label),
       |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e
       |  GROUP BY label)""".stripMargin

  /** (label, cv, n) centroid rows -> the pairwise centroid-cosine
    * matrix (label_a, label_b, n_a, n_b, cosine) for label_a <
    * label_b. ONE definition shared by the declared drift query and
    * the streaming twin ([[graft.streaming.DriftStream.summarize]]) so
    * the two faces cannot drift. The L x L comparison is a sanctioned
    * small-relation nested-loop: L is the label-vocabulary size, not a
    * data-scale quantity.
    */
  private[graft] def driftMatrix(cn: DataFrame): DataFrame = {
    val a = cn.select(col("label").as("label_a"), col("cv").as("cva"),
      col("n").as("n_a"))
    val b = cn.select(col("label").as("label_b"), col("cv").as("cvb"),
      col("n").as("n_b"))
    a.join(b, col("label_a") < col("label_b"))
      .withColumn("cosine", round(dot(col("cva"), col("cvb")) /
        (sqrt(dot(col("cva"), col("cva"))) *
          sqrt(dot(col("cvb"), col("cvb")))), 6))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("cosine"))
      .orderBy("label_a", "label_b")
  }

  private[ops] def targetCellsSql(target: Int): String =
    s"""(SELECT GREATEST($NCells,
       |    CAST(ceil(count(*) / $target.0) AS BIGINT)) FROM n)""".stripMargin

  /** The seed → assign → Lloyd-refine → reassign CTE chain ending in
    * `<p>a2 (vec_id, v, nrm, cell)` — the oracle twin of [[buildIvf]]
    * at a parameterized cell count, name-prefixed so one statement can
    * quantize at two settings (the semantic-recall oracle compares the
    * ~√n and target-cluster derivations side by side).
    */
  private[ops] def ivfAssignCtes(p: String, cellsSql: String,
                                 src: String = "n",
                                 dim: Int = Dim): String =
    s"""${p}seeds AS (SELECT vec_id AS cell0, v AS cv0 FROM $src
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $cellsSql),
       |${p}a1 AS (SELECT vec_id, v, cell FROM (
       |  SELECT n.vec_id, n.v, s.cell0 AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY list_dot_product(n.v, s.cv0)
       |        /(n.nrm*sqrt(list_dot_product(s.cv0, s.cv0))) DESC,
       |      s.cell0 ASC) AS rn
       |  FROM $src n, ${p}seeds s) WHERE rn = 1),
       |${p}cm AS (SELECT cell, i AS pos,
       |    CAST(sum(CAST(v[i] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS m
       |  FROM ${p}a1, (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY cell, i),
       |${p}centn AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM
       |  (SELECT cell, list(m ORDER BY pos) AS cv FROM ${p}cm GROUP BY cell)),
       |${p}a2 AS (SELECT vec_id, v, nrm, cell FROM (
       |  SELECT n.vec_id, n.v, n.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |      ORDER BY list_dot_product(n.v, c.cv)/(n.nrm*c.cn) DESC,
       |      c.cell ASC) AS rn
       |  FROM $src n, ${p}centn c) WHERE rn = 1)""".stripMargin

  /** Oracle twin of [[softAssign]]: `<p>soft (vec_id, v, nrm, cell, rn)`
    * with rank <= `k` cells per vector, scored against `<p>centn` with
    * the same cosc-desc/cell-asc tiebreak — rank 1 reproduces `<p>a2`.
    * `src` parameterizes the scored relation so a panel-bounded caller
    * scores only its panel (the recall oracle).
    */
  private[ops] def ivfSoftCte(p: String, k: Int = 2,
                              src: String = "n"): String =
    s"""${p}soft AS (SELECT vec_id, v, nrm, cell, rn FROM (
       |  SELECT s.vec_id, s.v, s.nrm, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |      ORDER BY list_dot_product(s.v, c.cv)/(s.nrm*c.cn) DESC,
       |      c.cell ASC) AS rn
       |  FROM $src s, ${p}centn c) WHERE rn <= $k)""".stripMargin

  /** CTE chain ending in `ivf_scored` — the oracle twin of [[ivfTopKFrom]]:
    * same hash-ordered seeds, same decimal-exact Lloyd means, same
    * probe/re-rank tiebreaks, so results are bit-comparable.
    */
  /** `qp (query_id, qv, qn, cell)` — oracle twin of [[probeCells]] at
    * the ~√n derivation's probe count; shared by [[ivfCtes]] and the
    * IVF-PQ composition oracle so the probe definition cannot drift.
    */
  private val ivfQpCte =
    s"""qp AS (SELECT query_id, qv, qn, cell FROM (
       |  SELECT q.query_id, q.qv, q.qn, c.cell,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY list_dot_product(q.qv, c.cv)/(q.qn*c.cn) DESC,
       |      c.cell ASC) AS pr
       |  FROM q, centn c) WHERE pr <= (SELECT GREATEST($NProbe,
       |    CAST(ceil(GREATEST($NCells, floor(sqrt(count(*)))) / 8.0)
       |      AS BIGINT)) FROM n))""".stripMargin

  private[ops] val ivfCtes =
    s"""${ivfAssignCtes("", sqrtCellsSql)},
       |$ivfQpCte,
       |ivf_scored AS (SELECT query_id, vec_id, cell,
       |    list_dot_product(qv, v)/(qn*nrm) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY list_dot_product(qv, v)/(qn*nrm) DESC, vec_id ASC) AS rank
       |  FROM qp JOIN a2 USING (cell) WHERE query_id <> vec_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_embedding_topk",
      "Brute-force cosine top-k (exact ANN baseline): query rows cross-" +
        "join the corpus — the query side is tiny, so Spark broadcasts it " +
        "— then per-query row_number keeps k.",
      (s, dir) => exactTopK(s, dir)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rank"),
      Some(s"""WITH $baseCte,
              |$exactScoredCte
              |SELECT query_id, rank, vec_id AS neighbor_id, round(cos,6) AS cosine
              |FROM exact_scored WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    ),

    QueryDef(
      "q_mmr_rerank",
      s"Maximal-marginal-relevance diversity re-ranking (Carbonell & " +
        s"Goldstein 1998) of the exact cosine shortlist: from each " +
        s"query's top-$MmrShortlist, greedily select $MmrK — step 1 " +
        s"takes the most relevant, every later step takes argmax of " +
        s"${MmrLambda}·rel(d) − ${MmrOneMinusLambda}·max_sim(d, selected) " +
        s"— so near-duplicate neighbors cost each other their rank " +
        s"and the result page covers the query's distinct senses " +
        s"(the redundancy problem top-k alone cannot fix; the " +
        s"retrieval-side complement of q_diverse_sample's corpus-side " +
        s"diversity). Output: one row per (query, step) with the " +
        s"pick, its relevance, the penalty it paid, and its MMR " +
        s"score; step 1's penalty is 0 by definition. Shape: the " +
        s"shortlist rides the exact-top-k definition (broadcast " +
        s"query side, corpus never shuffles); candidate-candidate " +
        s"sims are a shortlist self-join ($MmrShortlist² rows per " +
        s"query — panel-bounded, corpus-independent); then $MmrK−1 " +
        s"selection rounds, each ONE query-grain join + window over " +
        s"≤ $MmrShortlist rows per query, new picks localCheckpointed " +
        s"so the plan stays round-bounded — at 10⁶ queries each round " +
        s"is one small shuffle over queries×shortlist, and the loop " +
        s"count is the fixed $MmrK, not data-dependent. Greedy " +
        s"selection is inherently sequential in k — MMR's definition " +
        s"— but embarrassingly parallel across queries, which is the " +
        s"axis that scales. Determinism: rel and sim are the " +
        s"index-order dot products both engines share; λ and 1−λ are " +
        s"literal constants (never derived by float subtraction); " +
        s"ties break by vec_id; the oracle replays the same greedy " +
        s"recursion as a recursive CTE carrying the selected set.",
      (s, dir) => mmrRerank(s, dir),
      Some(s"""WITH RECURSIVE $baseCte,
           |$exactScoredCte,
           |sl AS (SELECT query_id, vec_id, cos FROM exact_scored
           |  WHERE rank <= $MmrShortlist),
           |sv AS (SELECT s.query_id, s.vec_id, s.cos, n.v, n.nrm
           |  FROM sl s JOIN n USING (vec_id)),
           |sims AS (SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
           |    list_dot_product(a.v, b.v)/(a.nrm*b.nrm) AS sim
           |  FROM sv a JOIN sv b ON a.query_id = b.query_id
           |    AND a.vec_id <> b.vec_id),
           |mmr AS (
           |  SELECT query_id, 1 AS step, vec_id AS pick, cos,
           |    CAST(0.0 AS DOUBLE) AS penalty, [vec_id] AS sel
           |  FROM (SELECT query_id, vec_id, cos,
           |      ROW_NUMBER() OVER (PARTITION BY query_id
           |        ORDER BY cos DESC, vec_id ASC) AS rn FROM sl) t
           |  WHERE rn = 1
           |  UNION ALL
           |  SELECT m.query_id, m.step + 1, c.pick, c.cos, c.penalty,
           |    list_append(m.sel, c.pick)
           |  FROM mmr m, LATERAL (
           |    SELECT s.vec_id AS pick, s.cos,
           |      (SELECT max(x.sim) FROM sims x
           |         WHERE x.query_id = m.query_id AND x.va = s.vec_id
           |           AND list_contains(m.sel, x.vb)) AS penalty
           |    FROM sl s
           |    WHERE s.query_id = m.query_id
           |      AND NOT list_contains(m.sel, s.vec_id)
           |    ORDER BY $MmrLambda*s.cos
           |        - $MmrOneMinusLambda*(SELECT max(x.sim) FROM sims x
           |          WHERE x.query_id = m.query_id AND x.va = s.vec_id
           |            AND list_contains(m.sel, x.vb)) DESC,
           |      s.vec_id ASC
           |    LIMIT 1) c
           |  WHERE m.step < $MmrK)
           |SELECT query_id, step, pick AS neighbor_id,
           |  round(cos, 6) AS cosine, round(penalty, 6) AS penalty,
           |  round($MmrLambda*cos - $MmrOneMinusLambda*penalty, 6) AS mmr
           |FROM mmr ORDER BY query_id, step""".stripMargin)
    ),

    QueryDef(
      "q_hard_negatives",
      s"Hard-negative mining for contrastive training (the DPR/retrieval " +
        "fine-tuning data-prep step): for each query vector, the nearest " +
        "neighbor is the assumed positive and the next " +
        s"$K nearest are the HARD negatives — the examples that teach a " +
        "bi-encoder the decision boundary, where random negatives are " +
        "trivially separable. Emits each negative with its cosine and " +
        "its MARGIN below the positive (the contrastive-loss gap; a " +
        "margin distribution hugging 0 means the corpus region is " +
        "ambiguous and the pair needs human review or a cross-encoder " +
        "pass). Rides the exact-top-k definition at rank budget K+1 — " +
        "same broadcast-query shape, corpus never shuffles.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = exactTopK(s, dir, K + 1)
        val w = Window.partitionBy("query_id")
        t.withColumn("poscos", max(col("cos")).over(w))
          .filter(col("rank") >= 2)
          .select(col("query_id"), (col("rank") - 1).as("neg_rank"),
            col("vec_id").as("negative_id"),
            round(col("cos"), 6).as("cosine"),
            round(col("poscos") - col("cos"), 6).as("margin"))
          .orderBy("query_id", "neg_rank")
      },
      Some(s"""WITH $baseCte,
              |$exactScoredCte,
              |pos AS (SELECT query_id, max(cos) AS poscos
              |  FROM exact_scored WHERE rank <= ${K + 1} GROUP BY query_id)
              |SELECT e.query_id, rank - 1 AS neg_rank,
              |  vec_id AS negative_id, round(cos, 6) AS cosine,
              |  round(p.poscos - cos, 6) AS margin
              |FROM exact_scored e JOIN pos p ON e.query_id = p.query_id
              |WHERE rank BETWEEN 2 AND ${K + 1}
              |ORDER BY e.query_id, neg_rank""".stripMargin)
    ),

    QueryDef(
      "q_ann_hyperplane",
      s"Approximate NN via $NumPlanes signed random projections: vectors " +
        "land in 2^8 sign buckets; candidates = same-bucket equi-join; " +
        "exact cosine re-rank within bucket. Recall < 1 by design — " +
        "measured by q_ann_recall; the oracle twin embeds the identical " +
        "plane literals so results match.",
      (s, dir) => annTopK(s, dir)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 6).as("cosine"), col("bucket"))
        .orderBy("query_id", "rank"),
      Some(s"""WITH $baseCte,
              |$annScoredCte
              |SELECT query_id, rank, vec_id AS neighbor_id, round(cos,6) AS cosine, bucket
              |FROM ann_scored WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    ),

    QueryDef(
      "q_ann_multiprobe",
      s"Multi-probe ANN: each query searches all ${probeMasks.size} buckets " +
        "within Hamming distance 2 of its own sign bucket (query-side " +
        "fan-out only — the corpus index is untouched). Trades 37/256 of " +
        "brute-force candidate cost for a ~3x recall lift on this data.",
      (s, dir) => annMultiProbeTopK(s, dir)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 6).as("cosine"), col("bucket"))
        .orderBy("query_id", "rank"),
      Some(s"""WITH $baseCte,
              |$probesCte,
              |$mpScoredCte
              |SELECT query_id, rank, vec_id AS neighbor_id, round(cos,6) AS cosine, bucket
              |FROM mp_scored WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    ),

    QueryDef(
      "q_ann_filtered",
      "Filtered semantic search — metadata predicate (lang = 'en' via " +
        "the documents join) + LSH-bucketed nearest neighbors, the " +
        "canonical vector-DB query shape. Pre-filter strategy: the " +
        "index side is restricted BEFORE the bucket join, so every " +
        "candidate is valid and k survivors are guaranteed; the " +
        "post-filter alternative (over-fetch then filter) is documented " +
        "for weak predicates.",
      (s, dir) => annFilteredTopK(s, dir)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 6).as("cosine"), col("bucket"))
        .orderBy("query_id", "rank"),
      Some(s"""WITH $baseCte,
              |meta AS (SELECT doc_id AS vec_id, lang FROM documents),
              |flt AS (SELECT n.* FROM n JOIN meta USING (vec_id)
              |  WHERE lang = 'en'),
              |f_scored AS (
              |  SELECT query_id, flt.vec_id, flt.bucket,
              |    list_dot_product(qv, v)/(qn*nrm) AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY list_dot_product(qv, v)/(qn*nrm) DESC,
              |        flt.vec_id ASC) AS rank
              |  FROM q JOIN flt ON q.bucket = flt.bucket
              |  WHERE query_id <> flt.vec_id)
              |SELECT query_id, rank, vec_id AS neighbor_id,
              |  round(cos,6) AS cosine, bucket
              |FROM f_scored WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    ),

    QueryDef(
      "q_ann_ivf",
      "IVF approximate NN: coarse quantizer with cells DERIVED from " +
        s"corpus cardinality (~sqrt(n), floor $NCells; probes scale as " +
        s"cells/8, floor $NProbe — a fixed searched fraction at any " +
        "scale), deterministic hash-ordered seeds + one Lloyd " +
        "refinement with decimal-exact means, corpus assigned to " +
        "nearest cell, exact cosine re-rank in the probed inverted " +
        "lists. The index is a STORED artifact (IvfIndex: cell rows " +
        "bucketed on cell + a centroid table, with append/refresh " +
        "maintenance) — the inverted-list side is read scan-only; the " +
        "centroid relation broadcasts, so the corpus is scored without " +
        "shuffling; same skeleton as H2' with learned buckets.",
      (s, dir) => {
        val cells = derivedCells(corpus(s, dir).count())
        val (a2, centn) = IvfIndex.buildOrLoad(s, dir, cells)
        ivfTopKFrom(s, dir, a2, centn, derivedProbe(cells))
          .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
            round(col("cos"), 6).as("cosine"), col("cell"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $baseCte,
              |$ivfCtes
              |SELECT query_id, rank, vec_id AS neighbor_id, round(cos,6) AS cosine, cell
              |FROM ivf_scored WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    ),

    QueryDef(
      "q_ann_probe_sweep",
      s"IVF probe-count sweep (the q_pq_codebook_sweep discipline on " +
        "the OTHER knob of the IVF trade — how many inverted lists to " +
        s"touch): recall@$K of the stored-IVF search at nProbe ∈ " +
        "{1, 2, 4, 8, 16} PLUS the SHIPPED operating point " +
        "(derivedProbe = max(floor, ⌈cells/8⌉) — r13 verdict: the " +
        "default q_ann_ivf actually runs at sat BETWEEN sweep rows, " +
        "unmeasured on its own table; it is now the 'ivf_pdefault' " +
        "row, and a spec pins its recall between its bracketing fixed " +
        "points — the PQ-sweep discipline: the shipped point must be " +
        "a row on its own table), one measured row per operating " +
        "point, against the exact cosine top-k. Every leg runs the " +
        "SAME shared probe + scan definitions as q_ann_ivf " +
        "(probeCells / ivfTopKFor — the sweep measures the knob, not " +
        "a reimplementation), against the ONE stored index. The " +
        "table a deployment tunes its latency/recall point from: " +
        "probed work grows linearly in nProbe while recall saturates " +
        "— measured at " +
        "sf0.01: 0.16 / 0.27 / 0.45 / 0.70 / 0.91 for p=1/2/4/8/16 " +
        "(near-linear on isotropic random embeddings — no cluster " +
        "structure means probes add ~equal mass; real embeddings " +
        "flatten much earlier, and this table is how a deployment " +
        "sees that). Scale: the probe leg is a " +
        "query-panel × centroid broadcast per p; the scan leg touches " +
        "~p/cells of the resident index per p; the exact-truth join " +
        "is the cached panel relation (zero new corpus passes).",
      (s, dir) => {
        val cells = derivedCells(corpus(s, dir).count())
        val probes = Seq(1, 2, 4, 8, 16).map(p => (f"ivf_p$p%02d", p)) :+
          (("ivf_pdefault", derivedProbe(cells)))
        val (a2, centn) = IvfIndex.buildOrLoad(s, dir, cells)
        val exact = exactTopK(s, dir).select(col("query_id"), col("vec_id"))
        def row(variant: String, p: Int): DataFrame =
          exact.join(ivfTopKFrom(s, dir, a2, centn, p)
              .select(col("query_id"), col("vec_id"))
              .withColumn("hit", lit(1)),
            Seq("query_id", "vec_id"), "left")
            .agg(count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
            .select(lit(variant).as("variant"),
              lit(p).as("n_probe"), col("n_exact"), col("n_hit"),
              round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"))
        probes.map((row _).tupled).reduce(_.unionAll(_)).orderBy("variant")
      },
      Some {
        // fixed points embed p as a literal; the default leg embeds the
        // SAME scalar-subquery twin of derivedProbe that ivfQpCte uses,
        // so the measured default row IS the shipped search's p
        val pdefSql =
          s"""(SELECT GREATEST($NProbe,
             |    CAST(ceil(GREATEST($NCells, floor(sqrt(count(*)))) / 8.0)
             |      AS BIGINT)) FROM n)""".stripMargin
        val probes = Seq(1, 2, 4, 8, 16)
          .map(p => (f"ivf_p$p%02d", p.toString, f"p$p%02d")) :+
          (("ivf_pdefault", pdefSql, "pdef"))
        def legs(pSql: String, sfx: String) =
          s"""qp_$sfx AS (SELECT query_id, qv, qn, cell FROM (
             |  SELECT q.query_id, q.qv, q.qn, c.cell,
             |    ROW_NUMBER() OVER (PARTITION BY q.query_id
             |      ORDER BY list_dot_product(q.qv, c.cv)/(q.qn*c.cn) DESC,
             |      c.cell ASC) AS pr
             |  FROM q, centn c) WHERE pr <= $pSql),
             |sc_$sfx AS (SELECT query_id, vec_id FROM (
             |  SELECT query_id, vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY list_dot_product(qv, v)/(qn*nrm) DESC,
             |        vec_id ASC) AS rank
             |  FROM qp_$sfx JOIN a2 USING (cell)
             |  WHERE query_id <> vec_id) WHERE rank <= $K)""".stripMargin
        def sel(variant: String, pSql: String, sfx: String) =
          s"""SELECT '$variant' AS variant,
             |  CAST($pSql AS INT) AS n_probe,
             |  count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) / count(*), 4) AS recall_at_$K
             |FROM ex LEFT JOIN sc_$sfx a
             |  ON ex.query_id = a.query_id AND ex.vec_id = a.vec_id""".stripMargin
        s"""WITH $baseCte,
           |${ivfAssignCtes("", sqrtCellsSql)},
           |$exactScoredCte,
           |ex AS (SELECT query_id, vec_id FROM exact_scored
           |  WHERE rank <= $K),
           |${probes.map { case (_, p, sfx) => legs(p, sfx) }.mkString(",\n")}
           |SELECT * FROM (
           |${probes.map((sel _).tupled).mkString("\nUNION ALL\n")}
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_embedding_quantize",
      "Scalar int8 quantization of the embedding store (4x bandwidth / " +
        "storage at 100 TB): per-vector symmetric scale = max|x|/127, " +
        "elements rounded to [-127,127], reconstruction cosine + max " +
        "absolute error measured per vector. Stateless map-only scan — " +
        "no shuffle except the output sort; the quantized corpus is the " +
        "artifact an ANN index stores, with full-precision vectors kept " +
        "only for the final re-rank.",
      (s, dir) => {
        val v = col("v")
        val dim = Dim
        val qz = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
          .withColumn("scale",
            array_max(transform(v, x => abs(x))) / lit(127.0))
          .withColumn("dq", transform(v,
            x => round(x / col("scale"), 0) * col("scale")))
        qz.select(col("vec_id"), round(col("scale"), 6).as("scale_q"),
            round(dot(v, col("dq")) /
              (sqrt(dot(v, v)) * sqrt(dot(col("dq"), col("dq")))), 6)
              .as("recon_cosine"),
            round(array_max(transform(sequence(lit(1), lit(dim)),
              i => abs(element_at(v, i) - element_at(col("dq"), i)))), 6)
              .as("max_abs_err"))
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |sc AS (SELECT vec_id, v,
              |    list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
              |  FROM e),
              |dq AS (SELECT vec_id, v, scale,
              |    list_transform(v, x -> round(x / scale, 0) * scale) AS d
              |  FROM sc)
              |SELECT vec_id, round(scale, 6) AS scale_q,
              |  round(list_dot_product(v, d) /
              |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(d, d))), 6)
              |    AS recon_cosine,
              |  round(list_aggregate(list_transform(range(1, ${Dim + 1}),
              |    i -> abs(v[i] - d[i])), 'max'), 6) AS max_abs_err
              |FROM dq ORDER BY vec_id""".stripMargin)
    ),

    QueryDef(
      "q_embedding_pq",
      s"Product quantization (Jégou et al. 2011, the IVF-PQ memory " +
        s"path): $Dim dims split into $PqM subspaces of $PqDsub, a " +
        s"$PqK-entry codebook per subspace (hash-ordered seeds + one " +
        "decimal-exact Lloyd step — the IVF derivation convention " +
        "applied per subspace), every vector encoded as " +
        s"$PqM codes = ${PqM * PqBits / 8} bytes (+4B stored norm) vs " +
        s"${Dim * 4}B float32 — ${Dim * 4 * 8 / (PqM * PqBits + 32)}× " +
        "compression. Queries rank by ASYMMETRIC distance (ADC): one " +
        s"${PqM}×$PqK lookup table of query-subvector·centroid dots " +
        "per query, each corpus vector scored by summing M table hits " +
        "— bytes and table lookups, never corpus floats. Emits ONE " +
        s"measured row: recall@$K vs the exact top-k plus the mean " +
        "absolute cosine error ON the true top-k pairs — the PQ trade " +
        "(compression vs ranking fidelity) as numbers, the " +
        "q_ann_recall honesty convention. Scale: codebooks are " +
        s"${PqM}×$PqK rows (broadcast anywhere); the ADC scan is " +
        "linear in codes with per-(query,vec) sums decimal-exact (sum " +
        "order must not flip cross-engine ranks); at 100 TB the codes " +
        "relation IS the resident index — " +
        s"${Dim * 4 * 8 / (PqM * PqBits + 32)}× less memory than raw, " +
        "re-rank against full vectors only for the final K.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val scored = pqAdcScored(s, dir)
        val exact = exactTopK(s, dir)
          .select(col("query_id"), col("vec_id"), col("cos"))
        exact.join(scored.select(col("query_id"), col("vec_id"),
            col("score"), col("rank")), Seq("query_id", "vec_id"))
          .agg(countDistinct(col("query_id")).as("n_queries"),
            count(lit(1)).as("n_exact"),
            sum(when(col("rank") <= K, 1L).otherwise(0L)).cast("long")
              .as("n_hit"),
            (sum(round(abs(col("cos") - col("score")), 9)
              .cast(DecimalType(30, 15))).cast("double") / count(lit(1)))
              .as("err"))
          .select(lit(s"pq_adc_m${PqM}_k$PqK").as("variant"),
            col("n_queries"), col("n_exact"), col("n_hit"),
            round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"),
            round(col("err"), 6).as("mean_abs_err"),
            lit(Dim * 4.0 * 8 / (PqM * PqBits + 32)).as("compression_x"))
      },
      Some {
        s"""WITH $baseCte,
           |$pqCtes,
           |$exactScoredCte,
           |ex AS (SELECT query_id, vec_id, cos FROM exact_scored
           |  WHERE rank <= $K)
           |SELECT 'pq_adc_m${PqM}_k$PqK' AS variant,
           |  count(DISTINCT ex.query_id) AS n_queries,
           |  count(*) AS n_exact,
           |  CAST(sum(CASE WHEN p.rank <= $K THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hit,
           |  round(CAST(sum(CASE WHEN p.rank <= $K THEN 1 ELSE 0 END)
           |    AS BIGINT) / count(*), 4) AS recall_at_$K,
           |  round(CAST(sum(CAST(round(abs(ex.cos - p.score), 9)
           |    AS DECIMAL(30,15))) AS DOUBLE)/count(*), 6) AS mean_abs_err,
           |  ${Dim * 4.0 * 8 / (PqM * PqBits + 32)} AS compression_x
           |FROM ex JOIN pscored p USING (query_id, vec_id)""".stripMargin
      }
    ),

    QueryDef(
      "q_pq_rerank",
      s"Two-stage PQ retrieval — the production IVF-PQ shape: the ADC " +
        s"scan shortlists the top $PqRerankR candidates per query from " +
        "CODES ONLY, then the shortlist (and only it) fetches full " +
        s"vectors for an exact cosine re-rank to the final top $K. " +
        "Emits TWO measured rows — recall@5 of the raw ADC ranking vs " +
        "the re-ranked retrieval — so the uplift the re-rank buys (and " +
        s"therefore what the ${Dim * 4 * 8 / (PqM * PqBits + 32)}× " +
        "compression actually costs end-to-end) " +
        "is a number, not a belief. Re-rank recall == the probability " +
        s"the true top-$K survive into an ADC top-$PqRerankR shortlist, " +
        "the quantity a production system tunes R against. Scale: " +
        "stage 1 reads only the stored codes (the resident index); " +
        s"stage 2 fetches R=$PqRerankR full vectors per query — at any " +
        "corpus size the full-precision traffic is R rows per query, " +
        "not corpus rows.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = pqAdcScored(s, dir)
        val n = corpus(s, dir).drop("bucket")
        val q = pqQueries(s, dir)
        val rer = scored.filter(col("rank") <= PqRerankR)
          .join(n.select(col("vec_id"), col("v")), "vec_id")
          // scored already carries qn (ADC divides by it); add qv only
          .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
          .withColumn("cos2",
            dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .withColumn("rrank", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("cos2").desc, col("vec_id").asc)))
          .filter(col("rrank") <= K)
        val exact = exactTopK(s, dir).select(col("query_id"), col("vec_id"))
        def row(ann: DataFrame, variant: String): DataFrame =
          exact.join(ann.select(col("query_id"), col("vec_id"))
              .withColumn("hit", lit(1)),
            Seq("query_id", "vec_id"), "left")
            .agg(countDistinct(col("query_id")).as("n_queries"),
              count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
            .select(lit(variant).as("variant"), col("n_queries"),
              col("n_exact"), col("n_hit"),
              round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"))
        row(scored.filter(col("rank") <= K), "pq_adc")
          .union(row(rer, s"pq_rerank$PqRerankR"))
          .orderBy("variant")
      },
      Some {
        def recallSelect(cte: String, variant: String) =
          s"""SELECT '$variant' AS variant,
             |  count(DISTINCT ex.query_id) AS n_queries,
             |  count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) / count(*), 4) AS recall_at_$K
             |FROM ex LEFT JOIN $cte a
             |  ON ex.query_id = a.query_id AND ex.vec_id = a.vec_id""".stripMargin
        s"""WITH $baseCte,
           |$pqCtes,
           |$exactScoredCte,
           |ex AS (SELECT query_id, vec_id FROM exact_scored
           |  WHERE rank <= $K),
           |padc AS (SELECT query_id, vec_id FROM pscored WHERE rank <= $K),
           |prr AS (SELECT query_id, vec_id FROM (
           |  SELECT p.query_id, p.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.query_id
           |      ORDER BY list_dot_product(q.qv, n.v)/(q.qn*n.nrm) DESC,
           |        p.vec_id ASC) AS rrank
           |  FROM (SELECT query_id, vec_id FROM pscored
           |        WHERE rank <= $PqRerankR) p
           |  JOIN n USING (vec_id) JOIN q USING (query_id))
           |  WHERE rrank <= $K)
           |SELECT * FROM (
           |${recallSelect("padc", "pq_adc")}
           |UNION ALL
           |${recallSelect("prr", s"pq_rerank$PqRerankR")}
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_pq_codebook_sweep",
      "PQ codebook-size sweep (r12 verdict #3 — the codebook-size " +
        "trade as a measured TABLE, the τ-sweep discipline on PQ " +
        s"geometry): ADC and re-ranked recall@$K at k=16 (4-bit codes, " +
        "8 B/vec with the stored norm) AND the published k=256 " +
        "operating point (Jégou et al. 2011's 8-bit codes, 12 B/vec — " +
        s"still ${Dim * 4 / 12}× under the ${Dim * 4} B float32 " +
        "vectors), each against the exact cosine top-k truth. Each k " +
        "is a separate geometry-tagged PqStore build (the tag embeds " +
        "M×k, so the two stores can never read each other's codes); " +
        "the scoring legs are the SAME shared definitions as " +
        "q_embedding_pq/q_pq_rerank (pqAdcScored → decimal-exact ADC; " +
        "the R-shortlist exact re-rank), so the sweep measures the " +
        "geometry, not a reimplementation. Scale: the sweep is an " +
        "OFFLINE tuning table — production builds one store at the " +
        "chosen point; both builds here are the one-pass encode the " +
        "store already prices.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val n = corpus(s, dir).drop("bucket")
        val q = pqQueries(s, dir)
        val exact = exactTopK(s, dir).select(col("query_id"), col("vec_id"))
        def rowsAt(k: Int): DataFrame = {
          val scored = pqAdcScored(s, dir, k)
          val rer = scored.filter(col("rank") <= PqRerankR)
            .join(n.select(col("vec_id"), col("v")), "vec_id")
            .join(broadcast(q.select(col("query_id"), col("qv"))),
              "query_id")
            .withColumn("cos2",
              dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
            .withColumn("rrank", row_number().over(
              Window.partitionBy("query_id")
                .orderBy(col("cos2").desc, col("vec_id").asc)))
            .filter(col("rrank") <= K)
          // exact integer geometry: bits/vec = M*log2(k), +4 B norm
          val bytesPerVec =
            (PqM * Integer.numberOfTrailingZeros(k)) / 8 + 4
          def row(ann: DataFrame, variant: String): DataFrame =
            exact.join(ann.select(col("query_id"), col("vec_id"))
                .withColumn("hit", lit(1)),
              Seq("query_id", "vec_id"), "left")
              .agg(count(lit(1)).as("n_exact"),
                sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
              .select(lit(variant).as("variant"),
                lit(bytesPerVec).cast("long").as("bytes_per_vec"),
                col("n_exact"), col("n_hit"),
                round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"))
          row(scored.filter(col("rank") <= K), s"adc_k$k")
            .unionAll(row(rer, s"rerank_k$k"))
        }
        PqSweepKs.map(rowsAt).reduce(_.unionAll(_)).orderBy("variant")
      },
      Some {
        def recallSelect(cte: String, variant: String, bpv: Int) =
          s"""SELECT '$variant' AS variant,
             |  CAST($bpv AS BIGINT) AS bytes_per_vec,
             |  count(*) AS n_exact,
             |  CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) / count(*), 4) AS recall_at_$K
             |FROM ex LEFT JOIN $cte a
             |  ON ex.query_id = a.query_id AND ex.vec_id = a.vec_id""".stripMargin
        def legs(k: Int) = {
          val x = s"_k$k"
          s"""padc$x AS (SELECT query_id, vec_id FROM pscored$x
             |  WHERE rank <= $K),
             |prr$x AS (SELECT query_id, vec_id FROM (
             |  SELECT p.query_id, p.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY p.query_id
             |      ORDER BY list_dot_product(q.qv, n.v)/(q.qn*n.nrm) DESC,
             |        p.vec_id ASC) AS rrank
             |  FROM (SELECT query_id, vec_id FROM pscored$x
             |        WHERE rank <= $PqRerankR) p
             |  JOIN n USING (vec_id) JOIN q USING (query_id))
             |  WHERE rrank <= $K)""".stripMargin
        }
        val selects = PqSweepKs.map { k =>
          val bpv = (PqM * Integer.numberOfTrailingZeros(k)) / 8 + 4
          s"""${recallSelect(s"padc_k$k", s"adc_k$k", bpv)}
             |UNION ALL
             |${recallSelect(s"prr_k$k", s"rerank_k$k", bpv)}""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $baseCte,
           |$exactScoredCte,
           |ex AS (SELECT query_id, vec_id FROM exact_scored
           |  WHERE rank <= $K),
           |${PqSweepKs.map(k => pqCtesFor(k, s"_k$k")).mkString(",\n")},
           |${PqSweepKs.map(legs).mkString(",\n")}
           |SELECT * FROM (
           |$selects
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_ann_ivfpq",
      "IVF×PQ composed retrieval (Jégou et al. 2011 IVFADC — the " +
        "production memory-bounded ANN shape, SURVEY §2 H2'g''): the " +
        "coarse quantizer restricts WHICH codes are ADC-scanned — each " +
        "query probes its nearest cells ([[probeCells]], the same probe " +
        "definition as q_ann_ivf), candidate pairs = probed cells ⋈ the " +
        "stored cell assignment (column-pruned to (vec_id, cell) — no " +
        "vectors read), and only those candidates fetch codes from the " +
        "stored vec_id-bucketed codes table for the decimal-exact ADC " +
        "sum. Two-stage tail: the probed ADC shortlist re-ranks against " +
        "full vectors (IVFADC-R). Emits THREE measured rows — probed " +
        "ADC, probed+re-rank, and the flat-ADC baseline — each with " +
        "recall@5, MRR@5 AND the probed fraction, so the composition's " +
        "trade (scan ~probe/cells of the index instead of all of it, " +
        "at what recall cost) is numbers, not belief. Scale: at 100 TB " +
        "the flat scan is a full pass over the resident codes per query " +
        "batch; the composition touches ~cells/8 of it — the one " +
        "standing scale-killer this query retires. Probe join is " +
        "broadcast (queries ≪ corpus); codes side is scan-only " +
        "(bucketed by vec_id); only narrow (query_id, vec_id) pair " +
        "rows shuffle.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val nRows = corpus(s, dir).count()
        val cells = derivedCells(nRows)
        val (a2, centn) = IvfIndex.buildOrLoad(s, dir, cells)
        val q = pqQueries(s, dir)
        // Column-pruned scan of the stored cell assignment: the probe
        // join needs only (vec_id, cell) — full vectors stay unread.
        // Probe + candidate legs are the SHARED ivfPqCandidates
        // definition (also the streaming face's).
        val cand = ivfPqCandidates(q, centn,
          a2.select(col("vec_id"), col("cell")), derivedProbe(cells))
        // r18 (§3.3/§5): the probed-ADC ranking feeds FIVE metric legs
        // (adc rec+mrr, rerank seed, and the rerank row's rec+mrr
        // through it) — un-materialized, each re-ran the probe join +
        // codes fetch + lookup-table scoring. Persist the top-R slice
        // (R rows per query — panel-bounded at any scale).
        val scoredP = pqAdcScoredWithin(s, dir, cand)
          .filter(col("rank") <= PqRerankR)
        val n = corpus(s, dir).drop("bucket")
        val rer = scoredP.filter(col("rank") <= PqRerankR)
          .join(n.select(col("vec_id"), col("v")), "vec_id")
          .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
          .withColumn("cos2",
            dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
          .withColumn("rank2", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("cos2").desc, col("vec_id").asc)))
          .filter(col("rank2") <= K)
          .select(col("query_id"), col("vec_id"), col("rank2").as("rank"))
        val exact = exactTopK(s, dir)
        val ex = exact.select(col("query_id"), col("vec_id"))
        val ex1 = exact.filter(col("rank") === 1)
          .select(col("query_id"), col("vec_id"))
        // Probed fraction: candidate pairs / (queries × (corpus-1)) —
        // one double division of exact integer counts.
        val pfProbed = cand.agg(count(lit(1)).as("ncand"))
          .crossJoin(q.agg(count(lit(1)).as("nq")))
          .select(round(col("ncand") /
            (col("nq") * lit((nRows - 1).toDouble)), 6).as("pfrac"))
        val pfFlat = s.range(1).select(lit(1.0).as("pfrac"))
        def row(ann: DataFrame, variant: String, pf: DataFrame): DataFrame = {
          val rec = ex.join(ann.select(col("query_id"), col("vec_id"))
              .withColumn("hit", lit(1)),
            Seq("query_id", "vec_id"), "left")
            .agg(countDistinct(col("query_id")).as("n_queries"),
              count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
          val mrr = ex1.join(
              ann.select(col("query_id"), col("vec_id"), col("rank")),
              Seq("query_id", "vec_id"), "left")
            .agg((sum(round(coalesce(lit(1.0) / col("rank"), lit(0.0)), 9)
              .cast(DecimalType(20, 10))).cast("double") / count(lit(1)))
              .as("mrr"))
          rec.crossJoin(mrr).crossJoin(pf)
            .select(lit(variant).as("variant"), col("n_queries"),
              col("n_exact"), col("n_hit"),
              round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"),
              round(col("mrr"), 6).as(s"mrr_at_$K"),
              col("pfrac").as("probed_fraction"))
        }
        // MEASUREMENT-ONLY leg: the pq_adc_flat row exists to price the
        // composition against the full scan it replaces — it is a full
        // pass over the codes relation per run and is NOT the
        // production plan. A deployment drops this row (or gates it
        // behind a sampled panel); the production path is the two rows
        // above it. See SCALE.md §4 "IVFADC".
        // flat-scan control leg: its rec and mrr legs both read it —
        // persist the top-K slice so the full codes pass runs once
        val flatTop = pqAdcScored(s, dir).filter(col("rank") <= K)
        row(scoredP.filter(col("rank") <= K), "ivfpq_adc", pfProbed)
          .union(row(rer, s"ivfpq_rerank$PqRerankR", pfProbed))
          .union(row(flatTop, "pq_adc_flat", pfFlat))
          .orderBy("variant")
      },
      Some {
        def measured(cteName: String, variant: String, pfSql: String) =
          s"""SELECT '$variant' AS variant,
             |  count(DISTINCT ex.query_id) AS n_queries,
             |  count(*) AS n_exact,
             |  CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) / count(*), 4) AS recall_at_$K,
             |  (SELECT round(CAST(sum(CAST(round(COALESCE(1.0/m.rank, 0), 9)
             |      AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
             |   FROM ex1 LEFT JOIN $cteName m
             |     ON ex1.query_id = m.query_id AND ex1.vec_id = m.vec_id)
             |    AS mrr_at_$K,
             |  $pfSql AS probed_fraction
             |FROM ex LEFT JOIN $cteName an
             |  ON ex.query_id = an.query_id AND ex.vec_id = an.vec_id""".stripMargin
        s"""WITH $baseCte,
           |$pqCtes,
           |${ivfAssignCtes("", sqrtCellsSql)},
           |$ivfQpCte,
           |$exactScoredCte,
           |ex AS (SELECT query_id, vec_id FROM exact_scored WHERE rank <= $K),
           |ex1 AS (SELECT query_id, vec_id FROM exact_scored WHERE rank = 1),
           |cand AS (SELECT qp.query_id, a2.vec_id, a2.nrm FROM qp
           |  JOIN a2 USING (cell) WHERE qp.query_id <> a2.vec_id),
           |ppscored AS (SELECT query_id, vec_id, score,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, vec_id ASC) AS rank
           |  FROM (SELECT c.query_id, c.vec_id, p.ad/(q.qn*c.nrm) AS score
           |    FROM cand c JOIN pad p USING (query_id, vec_id)
           |    JOIN q USING (query_id))),
           |v_adc AS (SELECT query_id, vec_id, rank FROM ppscored
           |  WHERE rank <= $K),
           |v_rer AS (SELECT query_id, vec_id, rrank AS rank FROM (
           |  SELECT p.query_id, p.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.query_id
           |      ORDER BY list_dot_product(q.qv, n.v)/(q.qn*n.nrm) DESC,
           |        p.vec_id ASC) AS rrank
           |  FROM (SELECT query_id, vec_id FROM ppscored
           |        WHERE rank <= $PqRerankR) p
           |  JOIN n USING (vec_id) JOIN q USING (query_id))
           |  WHERE rrank <= $K),
           |v_flat AS (SELECT query_id, vec_id, rank FROM pscored
           |  WHERE rank <= $K),
           |pf AS (SELECT round(CAST((SELECT count(*) FROM cand) AS DOUBLE)
           |    / ((SELECT count(*) FROM q)
           |       * ((SELECT count(*) FROM n) - 1)), 6) AS pfrac)
           |SELECT * FROM (
           |${measured("v_adc", "ivfpq_adc", "(SELECT pfrac FROM pf)")}
           |UNION ALL
           |${measured("v_rer", s"ivfpq_rerank$PqRerankR",
                       "(SELECT pfrac FROM pf)")}
           |UNION ALL
           |${measured("v_flat", "pq_adc_flat", "1.0")}
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_ann_recall",
      s"Recall@$K of every ANN variant (single-probe LSH, multi-probe " +
        "LSH, IVF) against the exact top-k, one " +
        "measured row per variant — an ANN operator without a recall " +
        "number is unfalsifiable. Left-join exact neighbors to ANN " +
        "neighbors; recall = matched / expected.",
      (s, dir) => {
        val exact = exactTopK(s, dir).select(col("query_id"), col("vec_id"))
        def recallRow(ann: DataFrame, variant: String): DataFrame =
          exact.join(ann.select(col("query_id"), col("vec_id"))
              .withColumn("hit", lit(1)),
            Seq("query_id", "vec_id"), "left")
            .agg(countDistinct(col("query_id")).as("n_queries"),
              count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
            .select(lit(variant).as("variant"), col("n_queries"),
              col("n_exact"), col("n_hit"),
              round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"))
        val cells = derivedCells(corpus(s, dir).count())
        val (a2, centn) = IvfIndex.buildOrLoad(s, dir, cells)
        recallRow(annTopK(s, dir), "single_probe")
          .union(recallRow(annMultiProbeTopK(s, dir), "multiprobe_h2"))
          .union(recallRow(
            ivfTopKFrom(s, dir, a2, centn, derivedProbe(cells)),
            "ivf_sqrtn"))
          .orderBy("variant")
      },
      Some {
        def recallSelect(annCte: String, variant: String) =
          s"""SELECT '$variant' AS variant,
             |  count(DISTINCT ex.query_id) AS n_queries,
             |  count(*) AS n_exact,
             |  CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             |    / count(*), 4) AS recall_at_$K
             |FROM ex LEFT JOIN
             |  (SELECT query_id, vec_id FROM $annCte WHERE rank <= $K) an
             |  ON ex.query_id = an.query_id AND ex.vec_id = an.vec_id""".stripMargin
        s"""WITH $baseCte,
           |$probesCte,
           |$ivfCtes,
           |$exactScoredCte,
           |$annScoredCte,
           |$mpScoredCte,
           |ex AS (SELECT query_id, vec_id FROM exact_scored WHERE rank <= $K)
           |SELECT * FROM (
           |${recallSelect("ann_scored", "single_probe")}
           |UNION ALL
           |${recallSelect("mp_scored", "multiprobe_h2")}
           |UNION ALL
           |${recallSelect("ivf_scored", "ivf_sqrtn")}
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_ann_mrr",
      "Mean reciprocal rank of the TRUE nearest neighbor under each ANN " +
        "variant (single-probe LSH, multi-probe LSH, IVF, PQ/ADC): " +
        s"recall@$K asks how many of the true top-$K survive; MRR asks " +
        "where the single true top-1 LANDS in the approximate ranking " +
        "(rr = 1/rank of the exact top-1 inside the ANN list, 0 when " +
        "missed), one measured row per variant. For the candidate-" +
        "restricting variants (LSH/IVF) the re-rank is exact cosine, " +
        "so a found top-1 always ranks 1 and MRR degenerates to top-1 " +
        "recall — reported anyway, labeled by construction; the " +
        "pq_adc row is where rank-awareness is REAL: ADC scores are " +
        "approximate, so the true top-1 can surface at rank 2..5 and " +
        "fractional reciprocals appear. Determinism: each reciprocal " +
        "rounded 9dp and DECIMAL-summed (order-independent), one " +
        "final division rounded 6dp. Scale: rides the same cached " +
        "corpus/index relations as q_ann_recall and the stored PQ " +
        "codes; the exact-top-1 side is one row per panel query.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val ex1 = exactTopK(s, dir).filter(col("rank") === 1)
          .select(col("query_id"), col("vec_id"))
        def mrrRow(ann: DataFrame, variant: String): DataFrame =
          ex1.join(ann.select(col("query_id"), col("vec_id"), col("rank")),
              Seq("query_id", "vec_id"), "left")
            .agg(count(lit(1)).as("n_queries"),
              sum(when(col("rank").isNotNull, 1L).otherwise(0L)).cast("long")
                .as("n_found"),
              (sum(round(coalesce(lit(1.0) / col("rank"), lit(0.0)), 9)
                .cast(DecimalType(20, 10))).cast("double") / count(lit(1)))
                .as("mrr"))
            .select(lit(variant).as("variant"), col("n_queries"),
              col("n_found"), round(col("mrr"), 6).as(s"mrr_at_$K"))
        val cells = derivedCells(corpus(s, dir).count())
        val (a2, centn) = IvfIndex.buildOrLoad(s, dir, cells)
        mrrRow(annTopK(s, dir), "single_probe")
          .union(mrrRow(annMultiProbeTopK(s, dir), "multiprobe_h2"))
          .union(mrrRow(ivfTopKFrom(s, dir, a2, centn, derivedProbe(cells)),
            "ivf_sqrtn"))
          .union(mrrRow(pqAdcScored(s, dir).filter(col("rank") <= K),
            "pq_adc"))
          .orderBy("variant")
      },
      Some {
        def mrrSelect(annCte: String, variant: String) =
          s"""SELECT '$variant' AS variant,
             |  count(*) AS n_queries,
             |  CAST(sum(CASE WHEN an.rank IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_found,
             |  round(CAST(sum(CAST(round(COALESCE(1.0/an.rank, 0), 9)
             |      AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS mrr_at_$K
             |FROM ex1 LEFT JOIN
             |  (SELECT query_id, vec_id, rank FROM $annCte WHERE rank <= $K) an
             |  ON ex1.query_id = an.query_id AND ex1.vec_id = an.vec_id""".stripMargin
        s"""WITH $baseCte,
           |$probesCte,
           |$ivfCtes,
           |$pqCtes,
           |$exactScoredCte,
           |$annScoredCte,
           |$mpScoredCte,
           |ex1 AS (SELECT query_id, vec_id FROM exact_scored WHERE rank = 1)
           |SELECT * FROM (
           |${mrrSelect("ann_scored", "single_probe")}
           |UNION ALL
           |${mrrSelect("mp_scored", "multiprobe_h2")}
           |UNION ALL
           |${mrrSelect("ivf_scored", "ivf_sqrtn")}
           |UNION ALL
           |${mrrSelect("pscored", "pq_adc")}
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_ann_ndcg",
      s"nDCG@$K of each ANN variant against the exact cosine ranking — " +
        "the third retrieval metric face (recall counts survivors, MRR " +
        "locates the single top-1, nDCG grades the WHOLE approximate " +
        "list by graded position agreement): relevance of a retrieved " +
        s"vector = $K+1 minus its EXACT rank (0 beyond the exact " +
        s"top-$K), DCG discounts by log2(position+1), and the " +
        "normalizer is the analytic ideal-DCG constant — computed ONCE " +
        "in Scala, rounded 9dp, and injected as the SAME literal into " +
        "both engines (the LnTwo convention), so the only in-engine " +
        "transcendental is log2 of small integers, neutralized by " +
        "rounding each DCG term 9dp before the DECIMAL sum. As with " +
        "MRR, exact-rerank variants (LSH/IVF) mostly reorder nothing — " +
        "pq_adc is where graded disagreement is real. Scale: rides the " +
        "SAME cached panel relations as q_ann_recall/q_ann_mrr; every " +
        "join is panel-bounded.",
      (s, dir) => {
        val ex = ndcgRelevance(exactTopK(s, dir))
        val queries = ex.select("query_id").distinct()
        val cells = derivedCells(corpus(s, dir).count())
        val (a2, centn) = IvfIndex.buildOrLoad(s, dir, cells)
        ndcgRow(annTopK(s, dir), ex, queries, "single_probe")
          .union(ndcgRow(annMultiProbeTopK(s, dir), ex, queries,
            "multiprobe_h2"))
          .union(ndcgRow(ivfTopKFrom(s, dir, a2, centn, derivedProbe(cells)),
            ex, queries, "ivf_sqrtn"))
          .union(ndcgRow(pqAdcScored(s, dir), ex, queries, "pq_adc"))
          .orderBy("variant")
      },
      Some {
        def ndcgSelect(annCte: String, variant: String) =
          s"""SELECT '$variant' AS variant, COUNT(*) AS n_queries,
             |  round(CAST(SUM(CAST(nq AS DECIMAL(20,10))) AS DOUBLE)
             |    / COUNT(*), 6) AS ndcg_at_$K
             |FROM (SELECT qs.query_id,
             |    round(COALESCE(CAST(d.dcg AS DOUBLE), 0) / $IdcgK, 9) AS nq
             |  FROM qs LEFT JOIN (
             |    SELECT an.query_id,
             |      SUM(CAST(round(ex.rel / log2(an.rank + 1), 9)
             |        AS DECIMAL(20,10))) AS dcg
             |    FROM (SELECT query_id, vec_id, rank FROM $annCte
             |      WHERE rank <= $K) an
             |    JOIN ex ON ex.query_id = an.query_id
             |      AND ex.vec_id = an.vec_id
             |    GROUP BY an.query_id) d
             |  ON d.query_id = qs.query_id)""".stripMargin
        s"""WITH $baseCte,
           |$probesCte,
           |$ivfCtes,
           |$pqCtes,
           |$exactScoredCte,
           |$annScoredCte,
           |$mpScoredCte,
           |ex AS (SELECT query_id, vec_id,
           |    CAST(${K + 1} - rank AS DOUBLE) AS rel
           |  FROM exact_scored WHERE rank <= $K),
           |qs AS (SELECT DISTINCT query_id FROM ex)
           |SELECT * FROM (
           |${ndcgSelect("ann_scored", "single_probe")}
           |UNION ALL
           |${ndcgSelect("mp_scored", "multiprobe_h2")}
           |UNION ALL
           |${ndcgSelect("ivf_scored", "ivf_sqrtn")}
           |UNION ALL
           |${ndcgSelect("pscored", "pq_adc")}
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_hybrid_fusion",
      s"Hybrid lexical+vector retrieval fusion (r14 verdict #4 — the " +
        "shape every production RAG stack actually serves; the engine " +
        "had BOTH stored serving stacks and no composed face): " +
        s"reciprocal-rank fusion (k=$RrfK, the Cormack/Clarke/Buettcher " +
        s"2009 constant) of the BM25 top-$FuseN from the stored " +
        s"LexIndex and the IVFADC top-$FuseN from the stored IVF+PQ " +
        "tables, for the SHARED query panel (every panel vector is its " +
        "own doc's embedding — the doc_id == vec_id bridge " +
        "q_ann_filtered established; each query's lexical form is its " +
        "doc's distinct terms, its vector form its embedding). Three " +
        s"measured rows against the exact-cosine panel — recall@$K, " +
        s"MRR@$K, nDCG@$K for bm25_only / ivfpq_only / rrf_fusion — so " +
        "the fusion's lift (or its honest NON-lift on synthetic data, " +
        "where text and embedding are independently generated and the " +
        "lexical leg cannot predict cosine truth) is a measured table, " +
        "not a belief — and the lift direction is PROVEN reachable in " +
        "both directions (the LangIdMeasuredSpec falsifiability " +
        "convention): SimilaritySpec's complementary-planted-signals " +
        "corpus pins rrfFuse recall@5 strictly above both single " +
        "stacks when each stack can see only half the relevant docs. " +
        "Legs shared VERBATIM: LexIndex.scorePanel is " +
        "scoreTerms' combine + the same two pushed literals (term IN, " +
        "StopTermDfFrac df cap) with a broadcast (query_id, term) " +
        "attribution join; the vector leg is ivfPqCandidates + the " +
        "stored-codes ADC scorer — q_ann_ivfpq's exact plan. RRF " +
        "determinism: each reciprocal 1/(k+rank) is one IEEE division " +
        "of exact integers, rounded 9dp, cast DECIMAL(20,10); the " +
        "two-list sum is decimal-exact, so fused ranks are engine-" +
        "independent (ties break by vec_id). Scale: both RETRIEVAL " +
        "legs are panel-bounded — the posting scan is bucket-pruned to " +
        "the panel's (vocabulary-bounded) term universe and df-capped, " +
        "the ADC scan touches ~probe/cells of the codes, the fusion " +
        s"join is 2×$FuseN rows per query. The one corpus touch " +
        "outside them is the panel-TEXT fetch (queries here are corpus " +
        "members, so their lexical form comes from a column-pruned " +
        "documents scan filtered by the broadcast panel join) — in " +
        "production queries ARRIVE as text, and at scale the fetch is " +
        "a point lookup on a doc_id-bucketed table; the exact-cosine " +
        "truth leg is the measurement-only panel convention every " +
        "retrieval metric query shares.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val q = pqQueries(s, dir)
        val (lexTop, vecTop) = fusionLegs(s, dir)
        // ---- RRF fusion: the shared decimal-exact definition
        val fusedTop = rrfFuse(lexTop, vecTop)
        // ---- measured rows against the exact panel (the q_ann_ivfpq
        // recall/MRR machinery + the shared ndcgRow)
        val exact = exactTopK(s, dir)
        val ex = exact.filter(col("rank") <= K)
          .select(col("query_id"), col("vec_id"))
        val ex1 = exact.filter(col("rank") === 1)
          .select(col("query_id"), col("vec_id"))
        val rel = ndcgRelevance(exact)
        val queries = q.select("query_id")
        def row(ann: DataFrame, variant: String): DataFrame = {
          val rec = ex.join(ann.select(col("query_id"), col("vec_id"))
              .withColumn("hit", lit(1)),
            Seq("query_id", "vec_id"), "left")
            .agg(countDistinct(col("query_id")).as("n_queries"),
              count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
          val mrr = ex1.join(
              ann.select(col("query_id"), col("vec_id"), col("rank")),
              Seq("query_id", "vec_id"), "left")
            .agg((sum(round(coalesce(lit(1.0) / col("rank"), lit(0.0)), 9)
              .cast(DecimalType(20, 10))).cast("double") / count(lit(1)))
              .as("mrr"))
          val nd = ndcgRow(ann, rel, queries, variant)
            .select(col("variant"), col(s"ndcg_at_$K"))
          rec.crossJoin(mrr)
            .select(lit(variant).as("variant"), col("n_queries"),
              col("n_exact"), col("n_hit"),
              round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"),
              round(col("mrr"), 6).as(s"mrr_at_$K"))
            .join(nd, "variant")
        }
        row(lexTop.filter(col("rank") <= K), "bm25_only")
          .union(row(vecTop.filter(col("rank") <= K), "ivfpq_only"))
          .union(row(fusedTop.filter(col("rank") <= K), "rrf_fusion"))
          .orderBy("variant")
      },
      Some {
        def measured(cte: String, variant: String) =
          s"""SELECT '$variant' AS variant,
             |  count(DISTINCT ex.query_id) AS n_queries,
             |  count(*) AS n_exact,
             |  CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_hit,
             |  round(CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1 END)
             |    AS BIGINT) / count(*), 4) AS recall_at_$K,
             |  (SELECT round(CAST(sum(CAST(round(COALESCE(1.0/m.rank, 0), 9)
             |      AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
             |   FROM ex1 LEFT JOIN (SELECT query_id, vec_id, rank
             |       FROM $cte WHERE rank <= $K) m
             |     ON ex1.query_id = m.query_id AND ex1.vec_id = m.vec_id)
             |    AS mrr_at_$K,
             |  (SELECT round(CAST(SUM(CAST(nq AS DECIMAL(20,10))) AS DOUBLE)
             |      / COUNT(*), 6)
             |   FROM (SELECT qs.query_id,
             |       round(COALESCE(CAST(d.dcg AS DOUBLE), 0) / $IdcgK, 9)
             |         AS nq
             |     FROM qs LEFT JOIN (
             |       SELECT an2.query_id,
             |         SUM(CAST(round(exr.rel / log2(an2.rank + 1), 9)
             |           AS DECIMAL(20,10))) AS dcg
             |       FROM (SELECT query_id, vec_id, rank FROM $cte
             |         WHERE rank <= $K) an2
             |       JOIN exr ON exr.query_id = an2.query_id
             |         AND exr.vec_id = an2.vec_id
             |       GROUP BY an2.query_id) d
             |     ON d.query_id = qs.query_id)) AS ndcg_at_$K
             |FROM ex LEFT JOIN (SELECT query_id, vec_id FROM $cte
             |    WHERE rank <= $K) an
             |  ON ex.query_id = an.query_id AND ex.vec_id = an.vec_id""".stripMargin
        s"""WITH $baseCte,
           |$pqCtes,
           |${ivfAssignCtes("", sqrtCellsSql)},
           |$ivfQpCte,
           |$exactScoredCte,
           |$fusionListCtes,
           |fused AS (SELECT query_id, vec_id,
           |    CAST(COALESCE(round(CAST(1.0 AS DOUBLE)/($RrfK + l.rank), 9),
           |      0) AS DECIMAL(20,10))
           |    + CAST(COALESCE(round(CAST(1.0 AS DOUBLE)/($RrfK + v.rank), 9),
           |      0) AS DECIMAL(20,10)) AS rrf
           |  FROM ltop l FULL JOIN vtop v USING (query_id, vec_id)),
           |ftop AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY rrf DESC, vec_id ASC) AS rank FROM fused),
           |ex AS (SELECT query_id, vec_id FROM exact_scored WHERE rank <= $K),
           |ex1 AS (SELECT query_id, vec_id FROM exact_scored WHERE rank = 1),
           |exr AS (SELECT query_id, vec_id,
           |    CAST(${K + 1} - rank AS DOUBLE) AS rel
           |  FROM exact_scored WHERE rank <= $K),
           |qs AS (SELECT query_id FROM q)
           |SELECT * FROM (
           |${measured("ltop", "bm25_only")}
           |UNION ALL
           |${measured("vtop", "ivfpq_only")}
           |UNION ALL
           |${measured("ftop", "rrf_fusion")}
           |) ORDER BY variant""".stripMargin
      }
    ),

    QueryDef(
      "q_fusion_weight_sweep",
      "Fusion-weight sweep — the τ-sweep discipline applied to the " +
        "hybrid blend (how much LEXICAL should a deployment mix in is " +
        "the knob a RAG stack actually tunes): weighted RRF " +
        "w·r_lex + (1−w)·r_vec over the SAME two top-20 shortlists " +
        "q_hybrid_fusion serves (ONE shared derivation — fusionLegs / " +
        "the shared oracle CTE chain), w ∈ {0, .25, .5, .75, 1}, one " +
        s"measured row per w with recall@$K, MRR@$K and nDCG@$K " +
        "against the exact-cosine panel (the full metric set of the " +
        "q_hybrid_fusion row the sweep is pinned against — r15 " +
        "verdict #3). w=0.5 ranks identically to the unweighted " +
        "RRF (positive scaling — spec-pinned against q_hybrid_fusion's " +
        "rrf_fusion row); w=0/1 are the single-stack ends RESTRICTED " +
        "to the union shortlist (a doc present only in the other list " +
        "ties at 0 and can backfill when a query has under K hits of " +
        "its own — documented union-shortlist semantics, not quite " +
        "bm25_only/ivfpq_only). Determinism: reciprocals 9dp-rounded " +
        "and DECIMAL(20,10)-cast as in rrfFuse; weights are " +
        "DECIMAL(6,4) literals exact in binary AND decimal, so the " +
        "weighted sums are decimal-exact and engine-independent. " +
        "Scale: the five arms re-rank ONE materialized 2×20×|panel|-" +
        "row join — the sweep costs five window passes over a " +
        "constant-size relation, nothing touches the corpus or the " +
        "stores again.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val (lexTop, vecTop) = fusionLegs(s, dir)
        val rrfOf = (r: org.apache.spark.sql.Column) =>
          coalesce(round(lit(1.0) / (lit(RrfK) + r), 9), lit(0.0))
            .cast(DecimalType(20, 10))
        // r18 (§3.3 "materialising an intermediate truncates the
        // plan"): the QueryDef's own scale note says the five arms
        // re-rank ONE materialized 2×FuseN×|panel| join — but the
        // relation was never actually materialized, so each arm's
        // three metric legs re-inlined the full-join subtree (58
        // Exchanges / 25 SMJs in the r17 plan audit). Persist it
        // (tracked under the Embeddings family, whose consumers list
        // already names this query) so the 15 legs read one tiny
        // cached relation.
        val joined = SharedCaches.persist(SharedCaches.Embeddings, lexTop
          .select(col("query_id"), col("vec_id"), col("rank").as("lrank"))
          .join(vecTop
              .select(col("query_id"), col("vec_id"), col("rank").as("vrank")),
            Seq("query_id", "vec_id"), "full")
          .withColumn("rl", rrfOf(col("lrank")))
          .withColumn("rv", rrfOf(col("vrank"))))
        val exact = exactTopK(s, dir)
        val ex = exact.filter(col("rank") <= K)
          .select(col("query_id"), col("vec_id"))
        val ex1 = exact.filter(col("rank") === 1)
          .select(col("query_id"), col("vec_id"))
        // nDCG material (r15 verdict #3: the sweep's metric set must
        // match the q_hybrid_fusion row it is pinned against)
        val rel = ndcgRelevance(exact)
        val queries = pqQueries(s, dir).select("query_id")
        def arm(w: Double): DataFrame = {
          val sw = lit(w).cast(DecimalType(6, 4)) * col("rl") +
            lit(1.0 - w).cast(DecimalType(6, 4)) * col("rv")
          val wW = Window.partitionBy("query_id")
            .orderBy(col("sw").desc, col("vec_id").asc)
          val top = joined.withColumn("sw", sw)
            .withColumn("rank", row_number().over(wW))
            .filter(col("rank") <= K)
            .select(col("query_id"), col("vec_id"), col("rank"))
          val rec = ex.join(top.select(col("query_id"), col("vec_id"))
              .withColumn("hit", lit(1)),
            Seq("query_id", "vec_id"), "left")
            .agg(countDistinct(col("query_id")).as("n_queries"),
              count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
          val mrr = ex1.join(
              top.select(col("query_id"), col("vec_id"), col("rank")),
              Seq("query_id", "vec_id"), "left")
            .agg((sum(round(coalesce(lit(1.0) / col("rank"), lit(0.0)), 9)
              .cast(DecimalType(20, 10))).cast("double") / count(lit(1)))
              .as("mrr"))
          val nd = ndcgRow(top, rel, queries, weightTag(w))
            .select(col("variant").as("w_lex"), col(s"ndcg_at_$K"))
          rec.crossJoin(mrr)
            .select(lit(weightTag(w)).as("w_lex"), col("n_queries"),
              col("n_exact"), col("n_hit"),
              round(col("n_hit") / col("n_exact"), 4).as(s"recall_at_$K"),
              round(col("mrr"), 6).as(s"mrr_at_$K"))
            .join(nd, "w_lex")
        }
        FusionWeights.map(arm).reduce(_.union(_)).orderBy("w_lex")
      },
      Some {
        def armSql(w: Double) = {
          val tag = weightTag(w)
          val cte = s"fw_${tag.replace(".", "_")}"
          val ranked =
            s"""$cte AS (SELECT query_id, vec_id, rank FROM (
               |  SELECT query_id, vec_id,
               |    ROW_NUMBER() OVER (PARTITION BY query_id
               |      ORDER BY CAST($w AS DECIMAL(6,4)) * rl
               |        + CAST(${1.0 - w} AS DECIMAL(6,4)) * rv DESC,
               |        vec_id ASC) AS rank
               |  FROM fjoin) WHERE rank <= $K)""".stripMargin
          val sel =
            s"""SELECT '$tag' AS w_lex,
               |  count(DISTINCT ex.query_id) AS n_queries,
               |  count(*) AS n_exact,
               |  CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1 END)
               |    AS BIGINT) AS n_hit,
               |  round(CAST(sum(CASE WHEN an.vec_id IS NULL THEN 0 ELSE 1
               |    END) AS BIGINT) / count(*), 4) AS recall_at_$K,
               |  (SELECT round(CAST(sum(CAST(round(COALESCE(1.0/m.rank, 0),
               |      9) AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
               |   FROM ex1 LEFT JOIN $cte m
               |     ON ex1.query_id = m.query_id AND ex1.vec_id = m.vec_id)
               |    AS mrr_at_$K,
               |  (SELECT round(CAST(SUM(CAST(nq AS DECIMAL(20,10))) AS DOUBLE)
               |      / COUNT(*), 6)
               |   FROM (SELECT qs.query_id,
               |       round(COALESCE(CAST(d.dcg AS DOUBLE), 0) / $IdcgK, 9)
               |         AS nq
               |     FROM qs LEFT JOIN (
               |       SELECT an2.query_id,
               |         SUM(CAST(round(exr.rel / log2(an2.rank + 1), 9)
               |           AS DECIMAL(20,10))) AS dcg
               |       FROM $cte an2
               |       JOIN exr ON exr.query_id = an2.query_id
               |         AND exr.vec_id = an2.vec_id
               |       GROUP BY an2.query_id) d
               |     ON d.query_id = qs.query_id)) AS ndcg_at_$K
               |FROM ex LEFT JOIN $cte an
               |  ON ex.query_id = an.query_id AND ex.vec_id = an.vec_id""".stripMargin
          (ranked, sel)
        }
        val arms = FusionWeights.map(armSql)
        s"""WITH $baseCte,
           |$pqCtes,
           |${ivfAssignCtes("", sqrtCellsSql)},
           |$ivfQpCte,
           |$exactScoredCte,
           |$fusionListCtes,
           |fjoin AS (SELECT query_id, vec_id,
           |    CAST(COALESCE(round(CAST(1.0 AS DOUBLE)/($RrfK + l.rank), 9),
           |      0) AS DECIMAL(20,10)) AS rl,
           |    CAST(COALESCE(round(CAST(1.0 AS DOUBLE)/($RrfK + v.rank), 9),
           |      0) AS DECIMAL(20,10)) AS rv
           |  FROM ltop l FULL JOIN vtop v USING (query_id, vec_id)),
           |${arms.map(_._1).mkString(",\n")},
           |ex AS (SELECT query_id, vec_id FROM exact_scored WHERE rank <= $K),
           |ex1 AS (SELECT query_id, vec_id FROM exact_scored WHERE rank = 1),
           |exr AS (SELECT query_id, vec_id,
           |    CAST(${K + 1} - rank AS DOUBLE) AS rel
           |  FROM exact_scored WHERE rank <= $K),
           |qs AS (SELECT query_id FROM q)
           |SELECT * FROM (
           |${arms.map(_._2).mkString("\nUNION ALL\n")}
           |) ORDER BY w_lex""".stripMargin
      }
    ),

    QueryDef(
      "q_diverse_sample",
      s"Cluster-balanced diversity sample (the D4 recipe, Tirumala et " +
        s"al. 2023: cluster the embedding space, then sample per " +
        s"cluster so no dense region dominates): exactly min($DiverseK, " +
        "|cell|) vectors per stored-IVF cell, chosen by md5(vec_id) " +
        "rank — the selection a uniform sample cannot give (uniform " +
        "follows density; per-cell quotas flatten it). Composes two " +
        "existing pieces: the STORED IvfIndex cell assignment (the one " +
        "quantizer shared with search and semantic dedup) and the " +
        "mergeable min-k aggregate (functions/MinKAgg) — per-cell " +
        "quotas with O(k) task memory, no window, map-side partials " +
        "collapse before the cell shuffle; the cell table's bucketing " +
        "on cell makes the agg exchange-free off the stored scan.",
      (s, dir) => {
        val cells = derivedCells(corpus(s, dir).count())
        val (a2, _) = IvfIndex.buildOrLoad(s, dir, cells)
        val key = concat(md5(col("vec_id").cast("string")), lit("|"),
          col("vec_id").cast("string"))
        a2.groupBy("cell")
          .agg(graft.functions.MinKAgg.minK(key, DiverseK).as("ks"))
          .select(col("cell"), posexplode(col("ks")).as(Seq("i", "key")))
          .select(
            split(col("key"), "\\|").getItem(1).cast("long").as("vec_id"),
            col("cell"), (col("i") + 1).as("rk"))
          .orderBy("cell", "rk")
      },
      Some(s"""WITH $baseCte,
              |${ivfAssignCtes("", sqrtCellsSql)}
              |SELECT vec_id, cell, rk FROM (
              |  SELECT vec_id, cell,
              |    ROW_NUMBER() OVER (PARTITION BY cell
              |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
              |  FROM a2)
              |WHERE rk <= $DiverseK ORDER BY cell, rk""".stripMargin)
    ),

    QueryDef(
      "q_embedding_project",
      s"Johnson-Lindenstrauss random projection $Dim -> $ProjDim dims " +
        "(±1 sign matrix / sqrt(k) — Achlioptas 2003, the " +
        "database-friendly JL construction) WITH its measured " +
        "distortion: pairwise cosine before vs after projection on " +
        "the bounded query panel, one summary row (mean + max " +
        "absolute error) — a dimensionality reduction without a " +
        "distortion number is unfalsifiable, same principle as " +
        "q_ann_recall. Both engines fold the dot products " +
        "left-to-right and 1/sqrt(16) is exact, so every per-pair " +
        "error is bit-identical; the mean uses the round-9-then-" +
        "DECIMAL-sum rule for order independence. At 100 TB the " +
        "projection is a stateless map (k dot products per vector) " +
        "that shrinks every downstream ANN shuffle 4x; the panel " +
        "distortion check rides the same broadcast pattern as the " +
        "exact top-k baseline.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val proj = array(projPlanes.map(p =>
          dot(col("v"), lit(p.toArray)) / lit(4.0)): _*)
        val panel = corpus(s, dir).filter(expr(QueryPred))
          .withColumn("p", proj)
          .withColumn("pn", l2Norm(col("p")))
          .select(col("vec_id"), col("v"), col("nrm"), col("p"), col("pn"))
        val a = panel.select(col("vec_id").as("vec_a"), col("v").as("va"),
          col("nrm").as("na"), col("p").as("pa"), col("pn").as("pna"))
        val b = panel.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("nrm").as("nb"), col("p").as("pb"), col("pn").as("pnb"))
        broadcast(a).crossJoin(b)
          .filter(col("vec_a") < col("vec_b"))
          .select(round(abs(
            dot(col("pa"), col("pb")) / (col("pna") * col("pnb")) -
              dot(col("va"), col("vb")) / (col("na") * col("nb"))), 9)
            .as("err"))
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(col("err").cast(DecimalType(28, 9))).cast("double") /
              count(lit(1)), 6).as("mean_abs_err"),
            round(max(col("err")), 6).as("max_abs_err"))
          .select(lit(ProjDim).as("k_dims"), col("n_pairs"),
            col("mean_abs_err"), col("max_abs_err"))
      },
      Some {
        val projSql = projPlanes.map { p =>
          val lits = p.map(v => if (v > 0) "1.0" else "-1.0")
            .mkString("[", ",", "]")
          s"list_dot_product(qv, $lits::DOUBLE[])/4.0"
        }.mkString("[", ",\n", "]")
        s"""WITH $baseCte,
           |pr AS (SELECT query_id AS vid, qv, qn, $projSql AS p FROM q),
           |pn2 AS (SELECT vid, qv, qn, p,
           |    sqrt(list_dot_product(p, p)) AS pnrm FROM pr),
           |e2 AS (SELECT round(abs(
           |    list_dot_product(a.p, b.p)/(a.pnrm*b.pnrm)
           |    - list_dot_product(a.qv, b.qv)/(a.qn*b.qn)), 9) AS err
           |  FROM pn2 a JOIN pn2 b ON a.vid < b.vid)
           |SELECT $ProjDim AS k_dims, count(*) AS n_pairs,
           |  round(CAST(sum(CAST(err AS DECIMAL(28,9))) AS DOUBLE)
           |    / count(*), 6) AS mean_abs_err,
           |  round(max(err), 6) AS max_abs_err
           |FROM e2""".stripMargin
      }
    ),

    QueryDef(
      "q_kmeans_refine",
      s"Full spherical k-means refinement ($KmRounds Lloyd rounds, " +
        s"$NCells cells) with the convergence MEASURED per round: one " +
        "(iter, cells_used, mean_cos) row per state, mean assigned " +
        "cosine monotonically non-decreasing — the multi-round " +
        "generalization of the IVF build's single refinement, and the " +
        "proof the one-round operating point is a choice, not a " +
        "limitation. Same derivation conventions as the quantizer " +
        "(hash-ordered seeds, decimal-exact per-dim means, cosc-desc/" +
        "cell-asc assignment tiebreak) so the oracle replays every " +
        "round bit-comparably; per-vector cosines rounded 9dp and " +
        "DECIMAL-summed for the order-independent mean. Scale shape " +
        "per round: centroids broadcast (the corpus is scored without " +
        "shuffling, the argmax partial-aggregates map-side), means are " +
        "one posexplode agg -> cells x dim groups; rounds are driver-" +
        "sequenced with localCheckpoint linear lineage (the " +
        "star-contraction pattern), so cost is rounds x one-pass — at " +
        "100 TB you run exactly as many rounds as the measured " +
        "mean_cos gain justifies.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val n = normalizedCorpus(s, dir)
        def assign(cents: DataFrame): DataFrame =
          Quantizer.nearest(n, cents, 1)
            .select(col("vec_id"), col("v"), col("cell"), col("cosc"))
        def metricRow(a: DataFrame, r: Int): DataFrame =
          a.agg(countDistinct(col("cell")).as("cells_used"),
            (sum(round(col("cosc"), 9).cast(DecimalType(28, 10)))
              .cast("double") / count(lit(1))).as("mc"))
            .select(lit(r).as("iter"), col("cells_used"),
              round(col("mc"), 6).as("mean_cos"))
        // Every state feeds the final metric union, so all KmRounds+1
        // checkpoints must live until `out` materializes — no per-round
        // free here (unlike the BPE loop). The eager checkpoint is the
        // state's only storage: a persist() on top would double-store
        // the rows as a cache entry nothing unpersists (r9 verdict).
        val states = scala.collection.mutable.Buffer.empty[DataFrame]
        var a = GraftSqlBridge.freshLocalCheckpoint(
          assign(Quantizer.seedCentroids(n, NCells)))
        states += a
        var rows = metricRow(a, 0)
        for (r <- 1 to KmRounds) {
          val nx = GraftSqlBridge.freshLocalCheckpoint(
            assign(Quantizer.means(a, Seq("cell"))))
          states += nx
          rows = rows.union(metricRow(nx, r))
          a = nx
        }
        // materialize the (KmRounds+1)-row result before dropping the
        // checkpointed states it reads
        val out = rows.orderBy("iter").localCheckpoint()
        states.foreach(Checkpoints.free)
        out
      },
      Some {
        def assignSql(r: Int, cents: String) =
          s"""a$r AS MATERIALIZED (SELECT vec_id, v, cell, cosc FROM (
             |  SELECT n.vec_id, n.v, c.cell,
             |    list_dot_product(n.v, c.cv)/(n.nrm*c.cn) AS cosc,
             |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
             |      ORDER BY list_dot_product(n.v, c.cv)/(n.nrm*c.cn) DESC,
             |      c.cell ASC) AS rn
             |  FROM n, $cents c) WHERE rn = 1)""".stripMargin
        val rounds = (1 to KmRounds).map { r =>
          val p = r - 1
          s"""cm$r AS (SELECT cell, i AS pos,
             |    CAST(sum(CAST(v[i] AS DECIMAL(30,15))) AS DOUBLE)/count(*) AS m
             |  FROM a$p, (SELECT unnest(range(1, ${Dim + 1})) AS i)
             |  GROUP BY cell, i),
             |cent$r AS (SELECT cell, cv,
             |    sqrt(list_dot_product(cv, cv)) AS cn FROM
             |  (SELECT cell, list(m ORDER BY pos) AS cv FROM cm$r
             |   GROUP BY cell)),
             |${assignSql(r, s"cent$r")}""".stripMargin
        }.mkString(",\n")
        val out = (0 to KmRounds).map { r =>
          s"""SELECT $r AS iter, count(DISTINCT cell) AS cells_used,
             |  round(CAST(sum(CAST(round(cosc, 9) AS DECIMAL(28,10)))
             |    AS DOUBLE)/count(*), 6) AS mean_cos FROM a$r""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $baseCte,
           |kseeds AS (SELECT vec_id AS cell, v AS cv,
           |    sqrt(list_dot_product(v, v)) AS cn FROM n
           |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           |  LIMIT $NCells),
           |${assignSql(0, "kseeds")},
           |$rounds
           |SELECT * FROM (
           |$out
           |) ORDER BY iter""".stripMargin
      }
    ),

    QueryDef(
      "q_embedding_drift",
      "Embedding distribution drift across labels (the dataset-" +
        "monitoring face of the similarity family): per-label centroid " +
        "via decimal-exact per-dimension means, then the full pairwise " +
        "centroid-cosine matrix — the number that says whether two " +
        "slices of a corpus (sources, snapshots, pipeline versions) " +
        "occupy the same region of embedding space or have drifted " +
        "apart. Scale shape: ONE map-side-partial aggregation over the " +
        "corpus (label x dim cells — thousands of rows however large " +
        "the corpus), then an L x L comparison of L tiny centroid " +
        "rows; the corpus itself is never joined or shuffled beyond " +
        "the one agg exchange. The L² comparison is a sanctioned " +
        "small-relation nested-loop — L is the label-vocabulary size, " +
        "not a data-scale quantity.",
      (s, dir) => {
        val e = Tables.t(s, dir, "embeddings")
          .select(col("label"), toDoubleVec(col("embedding")).as("v"))
        driftMatrix(labelCentroids(e))
      },
      Some(s"""WITH $labelCentroidCtes
              |SELECT a.label AS label_a, b.label AS label_b,
              |  na.n AS n_a, nb.n AS n_b,
              |  round(list_dot_product(a.cv, b.cv) /
              |    (sqrt(list_dot_product(a.cv, a.cv)) *
              |     sqrt(list_dot_product(b.cv, b.cv))), 6) AS cosine
              |FROM c a JOIN c b ON a.label < b.label
              |JOIN cnt na ON na.label = a.label
              |JOIN cnt nb ON nb.label = b.label
              |ORDER BY label_a, label_b""".stripMargin)
    ),

    QueryDef(
      "q_embedding_prototypicality",
      "Prototype-distance data pruning (Sorscher et al. 2022: rank " +
        "examples by cosine to their cluster prototype; the LEAST " +
        "prototypical fifth of each label is the prune candidate set " +
        "in the abundant-data regime): per-vector cosine to its own " +
        "label centroid (the SAME decimal-exact centroid derivation " +
        "as the drift matrix — one definition), per-label ascending " +
        "rank (vec_id tiebreak), prune flag from the INTEGER-EXACT " +
        "quota test (rank-1)*5 < n — no float threshold, so the same " +
        "vector is flagged on every engine and layout. Scale shape: " +
        "centroids are L tiny rows broadcast into one corpus pass; " +
        "the per-label rank window partitions by label.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e2 = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            toDoubleVec(col("embedding")).as("v"))
        val cc = labelCentroids(e2.select(col("label"), col("v")))
        val w = Window.partitionBy("label")
          .orderBy(col("cos").asc, col("vec_id").asc)
        e2.join(broadcast(cc), "label")
          .withColumn("cos", dot(col("v"), col("cv")) /
            (sqrt(dot(col("v"), col("v"))) * col("cn")))
          .withColumn("rk", row_number().over(w))
          .select(col("vec_id"), col("label"),
            round(col("cos"), 6).as("proto_cos"), col("rk"),
            when((col("rk") - 1) * 5 < col("n"), 1).otherwise(0).as("prune"))
          .orderBy("label", "rk")
      },
      Some(s"""WITH $labelCentroidCtes,
              |e2 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              |    FROM embeddings),
              |cc AS (SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cn
              |  FROM c),
              |sc AS (SELECT e2.vec_id, e2.label,
              |    list_dot_product(e2.v, cc.cv) /
              |      (sqrt(list_dot_product(e2.v, e2.v)) * cc.cn) AS cos
              |  FROM e2 JOIN cc ON e2.label = cc.label),
              |r AS (SELECT vec_id, label, cos,
              |    ROW_NUMBER() OVER (PARTITION BY label
              |      ORDER BY cos ASC, vec_id ASC) AS rk FROM sc)
              |SELECT vec_id, r.label, round(cos, 6) AS proto_cos, rk,
              |  CASE WHEN (rk - 1) * 5 < n THEN 1 ELSE 0 END AS prune
              |FROM r JOIN cnt ON r.label = cnt.label
              |ORDER BY r.label, rk""".stripMargin)
    )
  )
}
