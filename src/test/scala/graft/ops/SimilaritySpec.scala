package graft.ops

import graft.{Registry, SparkSpec}

/** Invariants for the ANN family on sf0.001 (oracle equality is covered
  * by the Verify/DuckDB gate; these pin the structural contracts).
  */
class SimilaritySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("q_ann_ivf: <=k ranked candidates per query, ranks contiguous, cosine descending") {
    val rows = Registry.queryMap("q_ann_ivf")(spark, dir)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"ranks not contiguous for $q")
      assert(sorted.length <= 5)
      // rank order must agree with cosine order (desc, neighbor asc tiebreak)
      val byScore = sorted.sortBy(t => (-t._4, t._3))
      assert(byScore.map(_._3).toSeq == sorted.map(_._3).toSeq, s"rank/cosine disagree for $q")
      // a query is never its own neighbor
      assert(!rs.exists(_._3 == q))
    }
  }

  test("IVF recall holds at a realistic cell count (64 cells, 8 probes, sf0.01)") {
    // SURVEY's IVF note says "cells ≫ 16 at scale": with NCells/NProbe
    // parameterized, prove recall survives the scale configuration —
    // 64 cells over the sf0.01 corpus (~8 vectors/cell), probing 8
    // (same 12.5% probe fraction a 100 TB deployment would use).
    import org.apache.spark.sql.functions.col
    val dir01 = "/root/testdata/sf0.01"
    val exact = SimilarityQueries.exactTopK(spark, dir01)
      .select(col("query_id"), col("vec_id"))
    val (cells, cents) = IvfIndex.buildOrLoad(spark, dir01, 64)
    val ivf = SimilarityQueries.ivfTopKFrom(spark, dir01, cells, cents, 8)
      .select(col("query_id"), col("vec_id"))
    val nExact = exact.count().toDouble
    val hits = exact.join(ivf, Seq("query_id", "vec_id")).count().toDouble
    assert(nExact > 0)
    val recall = hits / nExact
    info(f"ivf recall@5 at 64 cells / 8 probes: $recall%.3f")
    assert(recall >= 0.5, f"recall collapsed at scale cell count: $recall%.3f")
  }

  test("derived IVF sizing: cells ~ sqrt(n) with floors, probes ~ cells/8") {
    assert(SimilarityQueries.derivedCells(50L) == 16)    // floor wins
    assert(SimilarityQueries.derivedCells(500L) == 22)   // sf0.01 corpus
    assert(SimilarityQueries.derivedCells(5000L) == 70)  // sf0.1 corpus
    assert(SimilarityQueries.derivedCells(10000000000L) == 100000)
    assert(SimilarityQueries.derivedProbe(16) == 4)      // floor wins
    assert(SimilarityQueries.derivedProbe(70) == 9)
    assert(SimilarityQueries.derivedProbe(100000) == 12500) // 12.5% held
  }

  test("target-cluster IVF sizing: cells = ceil(n/target) with the same " +
    "floor — within-cell pair cost stays linear in n at fixed target") {
    assert(SimilarityQueries.derivedCellsForTarget(50L, 8) == 16) // floor
    assert(SimilarityQueries.derivedCellsForTarget(500L, 8) == 63)
    assert(SimilarityQueries.derivedCellsForTarget(2000L, 8) == 250)
    // 10^10 vectors at target 4096: ~2.4M cells; E|cell| holds at target
    val n = 10000000000L
    val cells = SimilarityQueries.derivedCellsForTarget(n, 4096)
    assert(cells == 2441407)
    assert(math.abs(n.toDouble / cells - 4096.0) < 1.0)
  }

  test("q_ann_recall: one measured row per variant, recall within [0,1], ivf present") {
    val rows = Registry.queryMap("q_ann_recall")(spark, dir).collect()
    val variants = rows.map(_.getString(0)).toSeq
    assert(variants.sorted == variants, "output must be ordered by variant")
    assert(variants.toSet == Set("single_probe", "multiprobe_h2", "ivf_sqrtn"))
    rows.foreach { r =>
      val recall = r.getDouble(4)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(r.getLong(2) >= r.getLong(3), "hits cannot exceed exact neighbors")
    }
  }

  test("q_ann_mrr: one row per variant; exact-rerank variants degenerate " +
    "to top-1 recall (mrr == n_found/n); pq_adc may be fractional") {
    val rows = Registry.queryMap("q_ann_mrr")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet ==
      Set("single_probe", "multiprobe_h2", "ivf_sqrtn", "pq_adc"))
    rows.foreach { case (variant, n, found, mrr) =>
      assert(mrr >= 0.0 && mrr <= 1.0, s"$variant mrr out of range: $mrr")
      assert(found <= n)
      // mrr can never exceed the found fraction (rr <= 1 per query)
      assert(mrr <= found.toDouble / n + 1e-9, s"$variant mrr $mrr > $found/$n")
      // LSH/IVF re-rank by exact cosine, so the true top-1 ranks first
      // whenever it is a candidate: mrr == found/n exactly
      if (variant != "pq_adc")
        assert(mrr == math.rint(found.toDouble / n * 1e6) / 1e6,
          s"$variant should degenerate to top-1 recall")
    }
  }

  test("q_kmeans_refine: mean assigned cosine is monotonically " +
    "non-decreasing across Lloyd rounds") {
    val rows = Registry.queryMap("q_kmeans_refine")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    rows.foreach { case (_, used, _) => assert(used >= 1 && used <= 16) }
    val mc = rows.map(_._3).toSeq
    // tiny rounding slack: each round's mean is rounded at 6dp
    assert(mc.zip(mc.tail).forall { case (a, b) => b >= a - 1e-6 },
      s"mean_cos not monotone: $mc")
  }

  test("q_embedding_drift: centroid cosines match hand-computed values " +
    "on a controlled corpus") {
    import java.nio.file.Files
    import spark.implicits._
    val d = Files.createTempDirectory("graft-drift").toString
    // label 0 centroid (.5,.5,0,0); label 1 centroid (0,0,.5,.5)
    // (orthogonal to label 0); label 2 centroid (1,1,0,0) (parallel
    // to label 0)
    Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0f, 1f, 0f, 0f), 0),
      (3L, Seq(0f, 0f, 1f, 0f), 1),
      (4L, Seq(0f, 0f, 0f, 1f), 1),
      (5L, Seq(1f, 1f, 0f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val rows = Registry.queryMap("q_embedding_drift")(spark, d)
      .select("label_a", "label_b", "n_a", "n_b", "cosine")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(rows.keySet == Set((0, 1), (0, 2), (1, 2)))
    assert(rows((0, 1)) == ((2L, 2L, 0.0)))   // orthogonal slices
    assert(rows((0, 2)) == ((2L, 1L, 1.0)))   // same direction -> 1.0
    assert(rows((1, 2)) == ((2L, 1L, 0.0)))
  }

  test("q_hard_negatives: K negatives per query with contiguous ranks, " +
    "non-negative margins monotone in rank, consistent with the exact " +
    "top-k at overlapping ranks") {
    val negs = Registry.queryMap("q_hard_negatives")(spark, dir)
      .select("query_id", "neg_rank", "negative_id", "cosine", "margin")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(negs.nonEmpty)
    val topk = Registry.queryMap("q_embedding_topk")(spark, dir)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    negs.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length),
        s"neg ranks not contiguous for $q")
      // margins non-negative and non-decreasing as negatives get easier
      assert(sorted.forall(_._5 >= 0.0))
      assert(sorted.map(_._5).sliding(2).forall(p => p.head <= p.last))
      // the positive (exact rank 1) is never emitted as a negative
      assert(!sorted.exists(_._3 == topk((q, 1))))
      // negative at neg_rank r is the exact neighbor at rank r+1
      sorted.filter(_._2 <= 4).foreach { n =>
        assert(topk((q, n._2 + 1)) == n._3,
          s"negative ${n._2} of $q disagrees with exact top-k")
      }
    }
  }

  test("q_embedding_prototypicality: the planted outlier ranks first " +
    "and is the only pruned vector in its 5-member label; quotas are " +
    "integer-exact per label") {
    import java.nio.file.Files
    import spark.implicits._
    val d = Files.createTempDirectory("graft-proto").toString
    // label 0: four vectors near +x, one at -x (the outlier); label 1:
    // three identical vectors (no outlier; quota still flags rank 1)
    Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(1f, 0.1f, 0f, 0f), 0),
      (4L, Seq(0.8f, 0f, 0.1f, 0f), 0),
      (5L, Seq(-1f, 0f, 0f, 0f), 0),
      (6L, Seq(0f, 1f, 0f, 0f), 1),
      (7L, Seq(0f, 1f, 0f, 0f), 1),
      (8L, Seq(0f, 1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val rows = Registry.queryMap("q_embedding_prototypicality")(spark, d)
      .select("vec_id", "label", "proto_cos", "rk", "prune")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3),
        r.getInt(4)))
    assert(rows.length == 8)
    val l0 = rows.filter(_._2 == 0).sortBy(_._4)
    // the -x outlier is least prototypical: rank 1, negative cosine
    assert(l0.head._1 == 5L && l0.head._3 < 0 && l0.head._5 == 1, l0.head)
    // quota (rk-1)*5 < n with n=5 flags rank 1 only
    assert(l0.count(_._5 == 1) == 1)
    // proto_cos is non-decreasing in rank
    assert(l0.map(_._3).sliding(2).forall(p => p.head <= p.last))
    // label 1: identical vectors -> cosine 1.0 each, vec_id tiebreak
    // ranks them 6,7,8; quota n=3 flags rank 1 only
    val l1 = rows.filter(_._2 == 1).sortBy(_._4)
    assert(l1.map(_._1).toSeq == Seq(6L, 7L, 8L))
    assert(l1.forall(_._3 == 1.0) && l1.count(_._5 == 1) == 1)
  }

  test("nDCG identity: the exact ranking scores exactly 1.0 against " +
    "itself; all declared variants land in [0, 1]") {
    import spark.implicits._
    val exact = SimilarityQueries.exactTopK(spark, dir)
    val ex = SimilarityQueries.ndcgRelevance(exact)
    val queries = ex.select("query_id").distinct()
    val self = SimilarityQueries.ndcgRow(exact, ex, queries, "self")
      .as[(String, Long, Double)].collect()(0)
    assert(self._2 > 0 && self._3 == 1.0,
      s"exact-vs-exact nDCG must be 1.0, got $self")
    val rows = graft.Registry.queryMap("q_ann_ndcg")(spark, dir)
      .as[(String, Long, Double)].collect()
    assert(rows.length == 4)
    rows.foreach(r => assert(r._3 >= 0.0 && r._3 <= 1.0, r.toString))
  }

  test("q_ann_probe_sweep: recall is monotone non-decreasing in the " +
    "probe count and bounded in [0,1] (probing strictly more lists can " +
    "only add candidates); the SHIPPED default p is a row of its own " +
    "table and its recall falls between its bracketing fixed points") {
    import spark.implicits._
    val all = graft.Registry.queryMap("q_ann_probe_sweep")(
      spark, "/root/testdata/sf0.001")
      .as[(String, Int, Long, Long, Double)].collect().toSeq
    val (defRows, fixed0) = all.partition(_._1 == "ivf_pdefault")
    val fixed = fixed0.sortBy(_._2)
    assert(fixed.map(_._2) == Seq(1, 2, 4, 8, 16))
    all.foreach(r => assert(r._5 >= 0.0 && r._5 <= 1.0, r))
    assert(fixed.map(_._4).sliding(2).forall(p => p.head <= p.last),
      s"hits must be monotone in nProbe: $fixed")
    // the r13-verdict pin: the operating point every q_ann_ivf search
    // actually runs at is measured on the same table, and recall at
    // the default sits between the nearest fixed points (inclusive —
    // the default may coincide with a fixed p at small scales)
    assert(defRows.length == 1, s"expected one default row: $defRows")
    val d = defRows.head
    val lo = fixed.filter(_._2 <= d._2).map(_._5).maxOption.getOrElse(0.0)
    val hi = fixed.filter(_._2 >= d._2).map(_._5).minOption.getOrElse(1.0)
    assert(d._5 >= lo && d._5 <= hi,
      s"default recall ${d._5} not within [$lo, $hi] at p=${d._2}")
  }

  test("q_fusion_weight_sweep: w=0.5 reproduces the unweighted RRF's " +
    "metrics exactly (positive scaling preserves ranking — the " +
    "theorem that ties the sweep to q_hybrid_fusion), and every row " +
    "is a probability over the same panel") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val sweep = graft.Registry.queryMap("q_fusion_weight_sweep")(spark, dir)
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(sweep.map(_._1) ==
      Seq("w0.00", "w0.25", "w0.50", "w0.75", "w1.00"))
    sweep.foreach { r =>
      assert(r._5 >= 0.0 && r._5 <= 1.0 && r._6 >= 0.0 && r._6 <= 1.0 &&
        r._7 >= 0.0 && r._7 <= 1.0, r)
      assert(r._2 == sweep.head._2 && r._3 == sweep.head._3,
        s"all arms must measure the same panel: $r")
    }
    // w=0.5 == unweighted RRF on the FULL metric set (recall, MRR,
    // nDCG — r15 verdict #3: the sweep carries the same metrics as
    // the fusion row it is pinned against)
    val fusion = graft.Registry.queryMap("q_hybrid_fusion")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("variant") === "rrf_fusion")
      .select("n_hit", s"recall_at_5", s"mrr_at_5", s"ndcg_at_5")
      .as[(Long, Double, Double, Double)].collect().head
    val w05 = sweep.find(_._1 == "w0.50").get
    assert((w05._4, w05._5, w05._6, w05._7) == fusion,
      s"w=0.5 must equal unweighted RRF: $w05 vs $fusion")
  }

  test("fusion LIFT on complementary planted signals (r15 verdict #3 — " +
    "the falsifiability dual of q_hybrid_fusion's honest non-lift on " +
    "independent synthetic signals): half of each query's relevant " +
    "docs findable only lexically (shared rare terms, orthogonal " +
    "embedding), half only by vector (disjoint vocabulary, identical " +
    "embedding) — rrfFuse recall@5 strictly exceeds BOTH single stacks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nq = 8
    val dim = 8
    def oneHot(i: Int): Seq[Double] =
      Seq.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    // per query q: the query doc (rare terms, e_q), a LEX twin (same
    // rare terms, embedding on a DIFFERENT axis — lexically findable,
    // vector-invisible), a VEC twin (disjoint vocabulary, embedding ==
    // e_q — vector-findable, lexically invisible)
    val docs = (1 to nq).flatMap { q =>
      Seq(
        (q.toLong, s"qa$q qb$q qc$q"),
        (100L + q, s"qa$q qb$q qc$q filler$q"),
        (200L + q, s"va$q vb$q vc$q"))
    }.toDF("doc_id", "text")
    val emb = (1 to nq).flatMap { q =>
      Seq(
        (q.toLong, oneHot(q - 1)),
        (100L + q, oneHot((q + 3) % dim)),
        (200L + q, oneHot(q - 1)))
    }.toDF("vec_id", "v")
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dot(col("v"), col("v"))))
    // truth: each query's relevant set is exactly its two twins
    val truth = (1 to nq).map(q =>
      q.toLong -> Set(100L + q, 200L + q)).toMap
    // LEXICAL stack: the real LexIndex serving path (scorePanel via
    // lexPanelTop — the q_hybrid_fusion leg verbatim)
    val tag = BandIndex.tag("/tmp/fuselift", "lex")
    Seq(s"${tag}_lpost", s"${tag}_lstats", s"${tag}_ltouched").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val (post, stats) = LexIndex.buildOrLoad(spark, docs, tag)
    val qt = docs.filter(col("doc_id") <= nq)
      .select(col("doc_id").as("query_id"), explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("term"))
    val allTerms = qt.select("term").distinct()
      .as[String].collect().sorted.toSeq
    val lexTop = SimilarityQueries.lexPanelTop(post, stats, qt, allTerms,
      20, excludeSelf = true)
    // VECTOR stack: exact cosine top-20 (the panel-truth convention —
    // the stored-stack faces' correctness vs exact is measured by the
    // declared queries; LIFT is about complementary signals + rrfFuse)
    import org.apache.spark.sql.expressions.Window
    val qe = emb.filter(col("vec_id") <= nq)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val wV = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val vecTop = qe.crossJoin(emb)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.dot(col("qv"), col("v"))
          / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(wV))
      .filter(col("rank") <= 20)
      .select(col("query_id"), col("vec_id"), col("rank"))
    def recallAt5(top: org.apache.spark.sql.DataFrame): Double = {
      val hits = top.filter(col("rank") <= 5)
        .select("query_id", "vec_id").as[(Long, Long)].collect()
        .count { case (q, v) => truth(q)(v) }
      hits.toDouble / (nq * 2)
    }
    val lexR = recallAt5(lexTop)
    val vecR = recallAt5(vecTop)
    val fusedR = recallAt5(SimilarityQueries.rrfFuse(lexTop, vecTop))
    // each single stack sees exactly its half; the fusion sees both
    assert(lexR == 0.5, s"lex stack must find only the lex twins: $lexR")
    assert(vecR == 0.5, s"vec stack must find only the vec twins: $vecR")
    assert(fusedR > lexR && fusedR > vecR,
      s"fusion must lift strictly above both stacks: " +
        s"fused=$fusedR lex=$lexR vec=$vecR")
    assert(fusedR == 1.0, s"complementary rank-1 lists fuse to full " +
      s"recall: $fusedR")
    Seq(s"${tag}_lpost", s"${tag}_lstats", s"${tag}_ltouched").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
