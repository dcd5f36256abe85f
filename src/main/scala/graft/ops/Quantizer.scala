package graft.ops

import graft.functions.VectorFunctions.dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The Lloyd quantizer behind the vector stack: the three rules the IVF
  * build, k-means, IVF maintenance, the PQ codebook and the label
  * centroids share, each defined once so the stored index, the session
  * build and the DuckDB twins cannot drift apart.
  *
  *   - [[seeds]]: the first rows of a vector relation in
  *     (md5(vec_id), vec_id) order — a hash-order sample, independent
  *     of scale and partitioning, that the oracle replays with
  *     `ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id`.
  *   - [[nearest]]: each vector's top-k cells by cosine desc, then cell
  *     asc. At k = 1 this is the map-side `max(struct(cosc, −cell))`
  *     aggregate: Spark's struct ordering compares doubles as its sort
  *     does (NaN above every number, −0.0 equal to 0.0, NULL below
  *     everything), so it picks the cell a `(cosc desc, cell asc)`
  *     window's first row picks, and it partial-aggregates before the
  *     shuffle instead of sorting the scored cross join. The window form
  *     runs only where k > 1.
  *   - [[means]]: the exact per-dimension Lloyd mean — DECIMAL(30,15)
  *     sums divided once in IEEE double, so a centroid is bit-identical
  *     under any partitioning and to the oracle's
  *     `sum(CAST(v[i] AS DECIMAL(30,15)))` — plus its norm `cn`.
  *
  * Centroid relations are (cell, cv, cn); vector relations carry an id,
  * a vector and its norm (`vec_id`, `v`, `nrm` unless named otherwise).
  */
object Quantizer {

  private val seedOrder: Seq[Column] =
    Seq(md5(col("vec_id").cast("string")), col("vec_id"))

  /** The first `k` rows of `n` in seed order, each with its seed rank
    * `sr` (1-based) — per `within` group when that is given (a
    * group-partitioned window, parallel per group), else over all of
    * `n` (sort + limit; the rank window then sorts `k` rows, not the
    * corpus).
    */
  def seeds(n: DataFrame, k: Int, within: Seq[String] = Nil): DataFrame = {
    val rank = row_number().over(
      Window.partitionBy(within.map(col): _*).orderBy(seedOrder: _*))
    if (within.isEmpty) n.orderBy(seedOrder: _*).limit(k).withColumn("sr", rank)
    else n.withColumn("sr", rank).filter(col("sr") <= k)
  }

  /** The `k` seed vectors of `n` as centroids (cell, cv, cn): each seed
    * is its own cell, named by its vec_id.
    */
  def seedCentroids(n: DataFrame, k: Int): DataFrame =
    seeds(n, k).select(col("vec_id").as("cell"), col("v").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))

  /** Each row of `vectors` with its `k` nearest centroids: the
    * vectors' columns plus `cell`, its cosine `cosc` and its rank `rn`
    * (1 = the hard assignment), by cosine desc, then cell asc. The
    * centroids are broadcast against every vector — the hint is
    * explicit because a centroid relation comes from a limit or an
    * aggregation, which leaves the planner no size estimate, and
    * without it the corpus was shuffled to be scored — or, given
    * `within` columns, joined to the vectors on them (a per-group
    * candidate set).
    */
  def nearest(vectors: DataFrame, centroids: DataFrame, k: Int,
              id: String = "vec_id", v: String = "v", nrm: String = "nrm",
              within: Seq[String] = Nil): DataFrame = {
    val scored = (if (within.isEmpty) vectors.crossJoin(broadcast(centroids))
      else vectors.join(centroids, within))
      .withColumn("cosc", dot(col(v), col("cv")) / (col(nrm) * col("cn")))
    val carried = vectors.columns.toSeq.filter(_ != id)
    if (k == 1)
      // cell is unique per vector, so the carried columns never compare
      scored.groupBy(id)
        .agg(max(struct(col("cosc") +: (-col("cell")).as("nc") +:
          carried.map(col): _*)).as("b"))
        .select(col(id) +: carried.map(c => col(s"b.$c").as(c)) :+
          (-col("b.nc")).as("cell") :+ col("b.cosc").as("cosc") :+
          lit(1).as("rn"): _*)
    else
      scored.withColumn("rn", row_number().over(Window.partitionBy(id)
          .orderBy(col("cosc").desc, col("cell").asc)))
        .filter(col("rn") <= k)
        .select((id +: carried :+ "cell" :+ "cosc" :+ "rn").map(col): _*)
  }

  /** Exact Lloyd means of `assigned` per `keys` group: (keys…, cv, cn),
    * `cv` the per-dimension mean of the `v` column.
    */
  def means(assigned: DataFrame, keys: Seq[String],
            v: String = "v"): DataFrame =
    assigned.select(keys.map(col) :+ posexplode(col(v)).as(Seq("pos", "x")): _*)
      .groupBy(keys.map(col) :+ col("pos"): _*)
      .agg((sum(col("x").cast(DecimalType(30, 15))).cast("double") /
        count(lit(1))).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
}
