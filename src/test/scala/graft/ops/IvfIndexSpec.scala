package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stored IVF index's lifecycle: build (bucketed cells + centroid
  * table, identical to the session-cached build), daily append (assign
  * against EXISTING centroids — documented staleness), periodic
  * centroid refresh (exact Lloyd means from the stored cells).
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def dropAll(tag: String): Unit =
    Seq(s"${tag}_ivfcells", s"${tag}_ivfcentroids").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("stored index equals the session-cached build row for row") {
    val tag = IvfIndex.tag(dir, 16)
    dropAll(tag)
    val (cells, cents) = IvfIndex.buildOrLoad(spark, dir, 16)
    val (a2, centn) = SimilarityQueries.buildIvf(
      SimilarityQueries.normalizedCorpus(spark, dir), 16)
    assert(cells.select("vec_id", "cell").except(
      a2.select("vec_id", "cell")).isEmpty &&
      a2.select("vec_id", "cell").except(
        cells.select("vec_id", "cell")).isEmpty,
      "stored cell assignment must equal the cached build")
    assert(cents.count() == centn.count())
    val (nVec, nUsed, maxCell) = IvfIndex.cellStats(spark, tag)
    assert(nVec == cells.count() && nUsed <= 16 && maxCell >= nVec / 16)
    dropAll(tag)
  }

  test("build derives cell-table buckets from corpus cardinality; a " +
    "non-floor target re-buckets without changing the assignment") {
    val tag = IvfIndex.tag(dir, 16) + "_bkts"
    dropAll(tag); dropAll(IvfIndex.tag(dir, 16))
    // the sf0.001 corpus is 500 vectors: 32/bucket -> 16 buckets
    val (cellsD, _) = IvfIndex.buildOrLoad(spark, dir, 16,
      targetRowsPerBucket = 32L)
    // buildOrLoad keys tables on (dir, nCells); copy under a test tag
    // is unnecessary — read the derived spec directly
    assert(IvfIndex.buckets(spark, IvfIndex.tag(dir, 16)) == 16)
    val (a2, _) = SimilarityQueries.buildIvf(
      SimilarityQueries.normalizedCorpus(spark, dir), 16)
    assert(cellsD.select("vec_id", "cell").except(
      a2.select("vec_id", "cell")).isEmpty,
      "bucketing is layout, not semantics")
    dropAll(IvfIndex.tag(dir, 16)); dropAll(tag)
  }

  test("append assigns against existing centroids; refresh recomputes exact means") {
    val tag = IvfIndex.tag(dir, 16) + "_maint"
    dropAll(tag)
    // build from the real corpus under a maintenance-test tag
    val (a2, centn) = SimilarityQueries.buildIvf(
      SimilarityQueries.normalizedCorpus(spark, dir), 16)
    a2.write.bucketBy(8, "cell").sortBy("cell").saveAsTable(s"${tag}_ivfcells")
    centn.write.saveAsTable(s"${tag}_ivfcentroids")
    val before = spark.table(s"${tag}_ivfcells").count()
    // a batch of two new vectors: one exactly equal to an existing
    // centroid (must land in THAT cell), one arbitrary
    val c0 = spark.table(s"${tag}_ivfcentroids")
      .orderBy("cell").limit(1)
      .select(col("cell").as[Long], col("cv").as[Seq[Double]]).collect()(0)
    val dim = c0._2.length
    val arb = Seq.fill(dim)(0.25)
    val batch = Seq((900001L, c0._2), (900002L, arb))
      .toDF("vec_id", "v")
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dot(col("v"), col("v"))))
    IvfIndex.append(spark, batch, tag)
    spark.catalog.refreshTable(s"${tag}_ivfcells")
    val after = spark.table(s"${tag}_ivfcells")
    assert(after.count() == before + 2)
    assert(after.filter(col("vec_id") === 900001L)
      .select("cell").as[Long].collect()(0) == c0._1,
      "a vector equal to a centroid must be assigned to that centroid's cell")
    // refresh: centroids become the exact means of the stored cells —
    // differential vs a direct recomputation over the same rows
    IvfIndex.refreshCentroids(spark, tag)
    val refreshed = spark.table(s"${tag}_ivfcentroids")
    import org.apache.spark.sql.types.DecimalType
    val expect = spark.table(s"${tag}_ivfcells")
      .select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy("cell", "p")
      .agg((sum(col("x").cast(DecimalType(30, 15))).cast("double")
        / count(lit(1))).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
        t => t.getField("m")).as("cv"))
    val joined = refreshed.alias("r").join(expect.alias("e"), "cell")
      .filter(expr("r.cv <> e.cv"))
    assert(joined.isEmpty, "refreshed centroids must equal exact means")
    dropAll(tag)
  }

  test("splitHotCells (r13 verdict #3): a cell grown hot by appends " +
    "splits into two deterministic children — reassignment equals an " +
    "independent recomputation, cold cells/centroids are untouched, " +
    "and the balance audit's max cell returns under the bound") {
    val tag = IvfIndex.tag(dir, 16) + "_split"
    dropAll(tag)
    // the direct saveAsTable below bypasses buildOrLoad's stale-location
    // sweep — clear any leftover warehouse dirs from an aborted run
    Seq(s"${tag}_ivfcells", s"${tag}_ivfcentroids").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    val (a2, centn) = SimilarityQueries.buildIvf(
      SimilarityQueries.normalizedCorpus(spark, dir), 16)
    a2.write.bucketBy(8, "cell").sortBy("cell").saveAsTable(s"${tag}_ivfcells")
    centn.write.saveAsTable(s"${tag}_ivfcentroids")
    // a bi-modal swarm aimed at ONE centroid: 60 vectors near c0 (two
    // sub-populations offset in different dims) — each appends into
    // c0's cell (nearest standing centroid), growing it past 2x mean
    val c0 = spark.table(s"${tag}_ivfcentroids")
      .orderBy("cell").limit(1)
      .select(col("cell").as[Long], col("cv").as[Seq[Double]]).collect()(0)
    val swarm = (1L to 60L).map { i =>
      val bump = if (i % 2 == 0) 0 else 1
      (900000L + i, c0._2.updated(bump, c0._2(bump) + 0.4))
    }
    val batch = swarm.toDF("vec_id", "v")
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dot(col("v"), col("v"))))
    IvfIndex.append(spark, batch, tag)
    spark.catalog.refreshTable(s"${tag}_ivfcells")
    val before = spark.table(s"${tag}_ivfcells")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val sizesBefore = before.values.groupBy(identity).map {
      case (c, l) => c -> l.size.toLong }
    val (nv, nc) = (before.size.toLong, sizesBefore.size.toLong)
    val bound = math.max(1L, math.ceil(2.0 * nv / nc).toLong)
    val hotCells = sizesBefore.filter(_._2 > bound).keySet
    assert(hotCells.nonEmpty, s"test must create a hot cell: $sizesBefore")
    // independent recomputation of the split from the BEFORE snapshot:
    // per hot cell, seeds = first two members by (md5(id), id); each
    // member to its nearest seed (cos desc, seed asc)
    val members = spark.table(s"${tag}_ivfcells")
      .filter(col("cell").isin(hotCells.toSeq: _*))
      .select(col("vec_id"), col("v").as[Seq[Double]], col("cell"))
      .as[(Long, Seq[Double], Long)].collect().toSeq
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    // child ids: max standing cell id + rank in (parent asc, seed-rank
    // asc) order — the collision-free scheme (a seed vec_id can equal a
    // COLD cell's id, so vec_ids are not reusable as labels)
    val maxId = before.values.max
    val childIdOf = hotCells.toSeq.sorted.flatMap { c =>
      members.filter(_._3 == c)
        .sortBy(m => (md5hex(m._1.toString), m._1)).take(2).map(_._1)
    }.zipWithIndex.map { case (seedVec, i) =>
      seedVec -> (maxId + i + 1) }.toMap
    val expected = members.groupBy(_._3).flatMap { case (_, ms) =>
      val seeds = ms.sortBy(m => (md5hex(m._1.toString), m._1)).take(2)
      ms.map { m =>
        val best = seeds.map(s => (childIdOf(s._1), cos(m._2, s._2)))
          .minBy { case (cid, c) => (-c, cid) }
        m._1 -> best._1
      }
    }
    val (nSplit, maxBefore, maxAfter) = IvfIndex.splitHotCells(spark, tag)
    assert(nSplit == hotCells.size)
    assert(maxBefore == sizesBefore.values.max)
    assert(maxAfter < maxBefore && maxAfter <= bound,
      s"audit must return under the bound: $maxAfter vs $bound")
    val after = spark.table(s"${tag}_ivfcells")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    // cold vectors keep their assignment; hot-cell vectors match the
    // independent recomputation exactly
    before.foreach { case (id, c) =>
      if (!hotCells.contains(c)) assert(after(id) == c, s"cold $id moved")
      else assert(after(id) == expected(id),
        s"vec $id: got ${after(id)} expected ${expected(id)}")
    }
    // the centroid table holds exactly the cold ids + the child seed
    // ids (a parent's own id may legitimately REAPPEAR as a child if
    // the parent seed vector is among the split seeds — ids are labels,
    // membership is the contract); children are decimal-exact means
    val cents = spark.table(s"${tag}_ivfcentroids")
    val coldIds = before.values.toSet -- hotCells
    val childIds = expected.values.toSet
    assert(cents.select("cell").as[Long].collect().toSet ==
      (coldIds ++ childIds),
      "centroid ids must be exactly cold + child ids")
    import org.apache.spark.sql.types.DecimalType
    val expectCv = spark.table(s"${tag}_ivfcells")
      .filter(!col("cell").isin(before.values.toSeq.distinct
        .filterNot(hotCells.contains): _*))
      .select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy("cell", "p")
      .agg((sum(col("x").cast(DecimalType(30, 15))).cast("double")
        / count(lit(1))).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
        t => t.getField("m")).as("cv"))
    val childBad = cents.alias("r").join(expectCv.alias("e"), "cell")
      .filter(expr("r.cv <> e.cv"))
    assert(childBad.isEmpty, "child centroids must equal exact means")
    // a second pass finds nothing left to split
    val (n2, _, _) = IvfIndex.splitHotCells(spark, tag)
    assert(n2 == 0, "split must converge on this corpus")
    dropAll(tag)
  }

  test("delete (r15 verdict #1): cell rows are exact immediately — a " +
    "deleted vector can never be probed again; centroids hold (the " +
    "append-dual staleness) until refreshCentroids recomputes exact " +
    "survivor means and retires emptied cells' centroid rows") {
    val tag = IvfIndex.tag(dir, 16) + "_del"
    dropAll(tag)
    Seq(s"${tag}_ivfcells", s"${tag}_ivfcentroids").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    val (a2, centn) = SimilarityQueries.buildIvf(
      SimilarityQueries.normalizedCorpus(spark, dir), 16)
    a2.write.bucketBy(8, "cell").sortBy("cell").saveAsTable(s"${tag}_ivfcells")
    centn.write.saveAsTable(s"${tag}_ivfcentroids")
    val before = spark.table(s"${tag}_ivfcells")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val centsBefore = spark.table(s"${tag}_ivfcentroids")
      .select("cell").as[Long].collect().toSet
    // victims: one whole (smallest) cell + one vector from the largest
    val sizes = before.values.groupBy(identity).map {
      case (c, l) => c -> l.size }
    val smallCell = sizes.minBy { case (c, n) => (n, c) }._1
    val bigCell = sizes.maxBy { case (c, n) => (n, -c) }._1
    val victims = before.filter(_._2 == smallCell).keys.toSeq :+
      before.filter(_._2 == bigCell).keys.min
    val removed = IvfIndex.delete(spark,
      (victims :+ 999999L).toDF("vec_id"), tag)
    assert(removed == victims.size.toLong)
    // exact immediately: cells == the before-map minus the victims
    val after = spark.table(s"${tag}_ivfcells")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(after == (before -- victims),
      "surviving assignments must be byte-identical")
    // centroids untouched (the documented staleness) — including the
    // emptied cell's row, until the refresh
    assert(spark.table(s"${tag}_ivfcentroids")
      .select("cell").as[Long].collect().toSet == centsBefore)
    // refreshCentroids: exact survivor means, emptied cell retired
    IvfIndex.refreshCentroids(spark, tag)
    val centsAfter = spark.table(s"${tag}_ivfcentroids")
      .select("cell").as[Long].collect().toSet
    assert(centsAfter == centsBefore - smallCell,
      "the emptied cell's centroid must be gone after refresh")
    import org.apache.spark.sql.types.DecimalType
    val expect = spark.table(s"${tag}_ivfcells")
      .select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
      .groupBy("cell", "p")
      .agg((sum(col("x").cast(DecimalType(30, 15))).cast("double")
        / count(lit(1))).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
        t => t.getField("m")).as("cv"))
    val bad = spark.table(s"${tag}_ivfcentroids").alias("r")
      .join(expect.alias("e"), "cell").filter(expr("r.cv <> e.cv"))
    assert(bad.isEmpty, "refreshed centroids must equal survivor means")
    assert(IvfIndex.delete(spark, victims.toDF("vec_id"), tag) == 0L)
    dropAll(tag)
  }

  test("refreshCentroids invalidates session-cached reads (r15 verdict " +
    "#1 'what's wrong'): a persisted pre-refresh centroid plan must " +
    "not serve post-refresh reads") {
    val tag = IvfIndex.tag(dir, 16) + "_inval"
    dropAll(tag)
    Seq(s"${tag}_ivfcells", s"${tag}_ivfcentroids").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    val (a2, centn) = SimilarityQueries.buildIvf(
      SimilarityQueries.normalizedCorpus(spark, dir), 16)
    a2.write.bucketBy(8, "cell").sortBy("cell").saveAsTable(s"${tag}_ivfcells")
    centn.write.saveAsTable(s"${tag}_ivfcentroids")
    // a persisted read of the PRE-refresh centroids — the state every
    // similarity query leaves behind
    val pre = spark.table(s"${tag}_ivfcentroids")
    pre.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pre.count()
    try {
      // shift the stored cells so refreshed means differ from build
      // means: delete one vector from the largest cell
      val victim = spark.table(s"${tag}_ivfcells")
        .groupBy("cell").agg(count(lit(1)).as("n"), min("vec_id").as("v"))
        .orderBy(col("n").desc, col("cell").asc)
        .select("v").as[Long].collect()(0)
      IvfIndex.delete(spark, Seq(victim).toDF("vec_id"), tag)
      IvfIndex.refreshCentroids(spark, tag)
      // a FRESH read must serve the refreshed means, not the cached
      // pre-refresh plan (refreshTable drops the stale cache entry)
      import org.apache.spark.sql.types.DecimalType
      val expect = spark.table(s"${tag}_ivfcells")
        .select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("cell", "p")
        .agg((sum(col("x").cast(DecimalType(30, 15))).cast("double")
          / count(lit(1))).as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
          t => t.getField("m")).as("cv"))
      val bad = spark.table(s"${tag}_ivfcentroids").alias("r")
        .join(expect.alias("e"), "cell").filter(expr("r.cv <> e.cv"))
      assert(bad.isEmpty,
        "post-refresh reads must serve the recomputed centroids")
    } finally pre.unpersist()
    dropAll(tag)
  }

  test("mergeColdCells retires EMPTY cells' centroids (r15 advice): a " +
    "cell whose every member was deleted is invisible to the occupancy " +
    "bound yet must not keep paying a probe-budget centroid row") {
    val tag = IvfIndex.tag(dir, 16) + "_empty"
    dropAll(tag)
    Seq(s"${tag}_ivfcells", s"${tag}_ivfcentroids").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    def nrmOf(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    // two balanced clusters + a 2-member cell 3; deleting cell 3's
    // members EMPTIES it (mean over occupied = 20, bound = 10 — no
    // occupied cell is cold, so only the empty-retirement path fires)
    val a = (1L to 20L).map(i => (i, Seq(1.0, 0.001 * i), 1L))
    val b = (21L to 40L).map(i => (i, Seq(0.001 * i, 1.0), 2L))
    val c = Seq((41L, Seq(0.9, 0.4), 3L), (42L, Seq(0.95, 0.3), 3L))
    (a ++ b ++ c).map { case (id, v, cell) => (id, v, nrmOf(v), cell) }
      .toDF("vec_id", "v", "nrm", "cell")
      .write.bucketBy(2, "cell").sortBy("cell")
      .saveAsTable(s"${tag}_ivfcells")
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.7, 0.7)))
      .map { case (cell, cv) => (cell, cv, nrmOf(cv)) }
      .toDF("cell", "cv", "cn")
      .write.saveAsTable(s"${tag}_ivfcentroids")
    assert(IvfIndex.delete(spark, Seq(41L, 42L).toDF("vec_id"), tag) == 2L)
    // cell 3 is now empty; its centroid still stands (documented)
    assert(spark.table(s"${tag}_ivfcentroids")
      .select("cell").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val (nMerged, minBefore, minAfter) = IvfIndex.mergeColdCells(spark, tag)
    assert(nMerged == 1 && minBefore == 20L && minAfter == 20L,
      s"got ($nMerged, $minBefore, $minAfter)")
    assert(spark.table(s"${tag}_ivfcentroids")
      .select("cell").as[Long].collect().toSet == Set(1L, 2L),
      "the empty cell's centroid must be retired")
    // surviving members untouched
    assert(spark.table(s"${tag}_ivfcells").count() == 40L)
    dropAll(tag)
  }

  test("mergeColdCells (the split's dual, r14 verdict #7): a starved " +
    "cell retires into its members' nearest surviving centroid — " +
    "merge == an independent recomputation of the append rule over " +
    "survivors, surviving rows/centroids untouched, and the balance " +
    "audit's min cell returns over the bound") {
    val tag = IvfIndex.tag(dir, 16) + "_merge"
    dropAll(tag)
    Seq(s"${tag}_ivfcells", s"${tag}_ivfcentroids").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    // hand-built 2-D index: two healthy clusters (20 vectors each) and
    // one starved 2-vector cell between them, both members closer to
    // cluster A by cosine. mean = 42/3 = 14, bound = 14/2 = 7 -> only
    // cell 3 (n=2) is cold.
    def nrmOf(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    val a = (1L to 20L).map(i =>
      (i, Seq(1.0, 0.001 * i), 1L))
    val b = (21L to 40L).map(i =>
      (i, Seq(0.001 * i, 1.0), 2L))
    val c = Seq((41L, Seq(0.9, 0.4), 3L), (42L, Seq(0.95, 0.3), 3L))
    (a ++ b ++ c).map { case (id, v, cell) => (id, v, nrmOf(v), cell) }
      .toDF("vec_id", "v", "nrm", "cell")
      .write.bucketBy(2, "cell").sortBy("cell")
      .saveAsTable(s"${tag}_ivfcells")
    val cents = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.7, 0.7)))
    cents.map { case (cell, cv) => (cell, cv, nrmOf(cv)) }
      .toDF("cell", "cv", "cn")
      .write.saveAsTable(s"${tag}_ivfcentroids")
    val before = spark.table(s"${tag}_ivfcells")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val centsBefore = spark.table(s"${tag}_ivfcentroids")
      .select("cell", "cv", "cn").as[(Long, Seq[Double], Double)]
      .collect().toSet
    // independent recomputation: each cold member to its nearest
    // SURVIVING centroid (cosine desc, cell asc)
    def cos(v: Seq[Double], w: Seq[Double]) =
      v.zip(w).map { case (x, y) => x * y }.sum / (nrmOf(v) * nrmOf(w))
    val expected = c.map { case (id, v, _) =>
      id -> cents.filter(_._1 != 3L)
        .map { case (cell, cv) => (cell, cos(v, cv)) }
        .minBy { case (cell, s) => (-s, cell) }._1
    }.toMap
    assert(expected == Map(41L -> 1L, 42L -> 1L),
      s"fixture must aim both cold members at cluster A: $expected")
    val (nMerged, minBefore, minAfter) = IvfIndex.mergeColdCells(spark, tag)
    assert(nMerged == 1 && minBefore == 2L)
    assert(minAfter >= 7L,
      s"min occupied cell must return over the bound: $minAfter")
    val after = spark.table(s"${tag}_ivfcells")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    before.foreach { case (id, cell) =>
      if (cell != 3L) assert(after(id) == cell, s"surviving $id moved")
      else assert(after(id) == expected(id),
        s"vec $id: got ${after(id)} expected ${expected(id)}")
    }
    // surviving centroid rows are byte-untouched; the cold row is gone
    val centsAfter = spark.table(s"${tag}_ivfcentroids")
      .select("cell", "cv", "cn").as[(Long, Seq[Double], Double)]
      .collect().toSet
    assert(centsAfter == centsBefore.filter(_._1 != 3L))
    // a second pass finds nothing cold (min = 20 > mean/2 = 10.5)
    val (n2, mb2, ma2) = IvfIndex.mergeColdCells(spark, tag)
    assert(n2 == 0 && mb2 == ma2, "merge must converge")
    dropAll(tag)
  }
}
