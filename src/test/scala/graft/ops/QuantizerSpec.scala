package graft.ops

import graft.{Registry, SparkSpec}
import graft.functions.VectorFunctions.dot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The [[Quantizer]] rules against independent references: the
  * (cosine desc, cell asc) pick — ties, NaN, signed-zero and zero-norm
  * cosines included — against the row_number window form the
  * assignment sites used before, the k = 2 rank order, the exact mean
  * against a driver-side BigDecimal sum, and the IVF build as k-means
  * round 1.
  */
class QuantizerSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** The row_number form: each vector's k best cells by cosine desc,
    * then cell asc.
    */
  private def windowPick(vectors: DataFrame, cents: DataFrame,
                         k: Int): DataFrame =
    vectors.crossJoin(cents)
      .withColumn("cosc", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cosc").desc, col("cell").asc)))
      .filter(col("rn") <= k)

  private def picks(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("vec_id"), col("cell").cast("long"), col("rn"))
      .as[(Long, Long, Int)].collect().sorted.toSeq

  private def vectors(rows: (Long, Seq[Double])*): DataFrame =
    rows.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  private def cents(rows: (Long, Seq[Double], Double)*): DataFrame =
    rows.toDF("cell", "cv", "cn")

  test("equal-cosine centroids pick the smaller cell, at k = 1 and k = 2") {
    val s2 = math.sqrt(2.0)
    // every centroid scores exactly 1/√2 against vector 1; vector 2 has
    // one strictly nearest centroid and a three-way tie behind it
    val c = cents((7L, Seq(1.0, 1.0, 0.0), s2), (3L, Seq(1.0, 0.0, 1.0), s2),
      (5L, Seq(1.0, -1.0, 0.0), s2), (9L, Seq(0.0, 1.0, 1.0), s2))
    val v = vectors((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 1.0)))
    assert(picks(Quantizer.nearest(v, c, 1)) == Seq((1L, 3L, 1), (2L, 9L, 1)))
    assert(picks(Quantizer.nearest(v, c, 2)) ==
      Seq((1L, 3L, 1), (1L, 5L, 2), (2L, 3L, 2), (2L, 9L, 1)))
    for (k <- Seq(1, 2))
      assert(picks(Quantizer.nearest(v, c, k)) == picks(windowPick(v, c, k)))
  }

  test("NaN, signed-zero and zero-norm cosines pick the cell the window " +
    "form picks") {
    val c = cents((4L, Seq(0.0, 1.0), 1.0), (2L, Seq(0.0, 1.0), -1.0),
      (6L, Seq(-1.0, 0.0), 1.0))
    // vector 1 scores NaN against every cell; vector 2 scores -0.0 on
    // cell 2 and 0.0 on cell 4 (equal, so the smaller cell wins)
    val v = vectors((1L, Seq(Double.NaN, 1.0)), (2L, Seq(1.0, 0.0)))
    val q = picks(Quantizer.nearest(v, c, 1))
    assert(q == Seq((1L, 2L, 1), (2L, 2L, 1)))
    assert(q == picks(windowPick(v, c, 1)))
    // a zero vector divides 0.0 by a zero norm: whatever the session's
    // division rule makes of that (an error under ANSI, NULL without),
    // both forms must agree on it
    val z = vectors((3L, Seq(0.0, 0.0)))
    def outcome(df: => DataFrame) =
      scala.util.Try(picks(df)).toEither.left.map(_.getClass.getName)
    assert(outcome(Quantizer.nearest(z, c, 1)) == outcome(windowPick(z, c, 1)))
  }

  test("k = 2 keeps softAssign's contract on the corpus: rank 1 is the " +
    "stored hard cell, rank 2 the next by cosine desc, cell asc") {
    val n = SimilarityQueries.normalizedCorpus(spark, dir)
    val (a2, centn) = SimilarityQueries.buildIvf(n, 16)
    val soft = SimilarityQueries.softAssign(a2, centn)
    assert(picks(soft) == picks(windowPick(n, centn, 2)))
    assert(soft.filter(col("rn") === 1).select("vec_id", "cell")
      .as[(Long, Long)].collect().sorted.toSeq ==
      a2.select("vec_id", "cell").as[(Long, Long)].collect().sorted.toSeq)
  }

  test("means equals a driver-side BigDecimal mean per dimension") {
    val n = SimilarityQueries.normalizedCorpus(spark, dir)
      .withColumn("g", pmod(col("vec_id"), lit(3L)))
    val got = Quantizer.means(n, Seq("g"))
      .select(col("g"), col("cv"), col("cn"))
      .as[(Long, Seq[Double], Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val rows = n.select(col("g"), col("v")).as[(Long, Seq[Double])].collect()
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      // CAST(x AS DECIMAL(30,15)) rounds half up at 15 places; the
      // exact sum is cast to double once, then divided by the count
      val cv = rs.toSeq.map(_._2).transpose.map(xs =>
        xs.map(x => BigDecimal(x).setScale(15,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / xs.length)
      var acc = 0.0
      cv.foreach(x => acc += x * x)
      g -> (cv.toSeq, math.sqrt(acc))
    }
    assert(got.keySet == want.keySet && got.size == 3)
    for (g <- want.keys) {
      assert(got(g)._1 == want(g)._1, s"mean of group $g")
      assert(got(g)._2 == want(g)._2, s"norm of group $g")
    }
  }

  test("at equal cell count the IVF build assignment is the k-means " +
    "round-1 state") {
    // q_kmeans_refine runs at 16 cells; its iter-1 row summarizes the
    // round-1 assignment with the same cosine score and rounding
    val n = SimilarityQueries.normalizedCorpus(spark, dir)
    val (a2, centn) = SimilarityQueries.buildIvf(n, 16)
    val ivf = a2.join(centn, "cell")
      .withColumn("cosc", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .agg(countDistinct(col("cell")),
        round(sum(round(col("cosc"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double") / count(lit(1)), 6))
      .as[(Long, Double)].collect()(0)
    val km = Registry.queryMap("q_kmeans_refine")(spark, dir)
      .filter(col("iter") === 1).select("cells_used", "mean_cos")
      .as[(Long, Double)].collect()
    assert(km.toSeq == Seq(ivf))
  }
}
