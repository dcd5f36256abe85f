package graft

import org.apache.spark.sql.SparkSession

/** Measured pricing of the partial-vs-full re-level knob (r17 verdict
  * missing #2): every stored family has the ledgered bounded re-level
  * (HDel'''), but a policy needs a CROSSOVER — at touched-fraction → 1
  * the partial path (ledger read + staging + dynamic per-partition
  * overwrite) costs more than one wholesale re-level. This harness
  * measures, on the LexIndex family (the family whose partial path the
  * others mirror) over the sf0.1 corpus at a forced 32-partition
  * layout (targetRowsPerBucket=4096 — the floor-8 default collapses
  * the fraction knob to quarters):
  *
  *   - `partial_sec`  — [[graft.ops.LexIndex.refreshCountsPartial]]
  *     with the ledger seeded to touch ceil(f·nb) partitions (one term
  *     per partition — seeding through the family's own hook, not
  *     hand-authored layout);
  *   - `full_sec`     — [[graft.ops.LexIndex.refreshCounts]], the flat
  *     O(index) re-level (ledger-independent);
  *   - `rebuild_sec`  — drop + buildOrLoad from the corpus (tokenize +
  *     full write), the wholesale reference.
  *
  * Fractions {1%, 10%, 50%, 100%}, median of 3 reps each on a fresh
  * identical pre-state. Emits ONE JSON line (the Bench convention);
  * the committed record is RELEVEL_r18.json, and the resulting policy
  * threshold lives at [[graft.ops.BucketedStore.RelevelPartialMaxFraction]]
  * with the SCALE.md table explaining the why.
  */
object RelevelBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-relevel-bench")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val tag = ops.BandIndex.tag(sfDir, "relevelbench")
    val docs = Tables.par(spark, sfDir, "documents")
    def fresh(): Unit = {
      ops.LexIndex.tables(tag).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      ops.LexIndex.buildOrLoad(spark, docs, tag,
        targetRowsPerBucket = 4096L)
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    fresh()
    val nb = ops.LexIndex.buckets(spark, tag)
    val (post, _) = ops.LexIndex.buildOrLoad(spark, docs, tag,
      targetRowsPerBucket = 4096L)
    // one deterministic term per partition: min(term) within each pb
    // from the corpus vocabulary, backfilled with SYNTHESIZED terms
    // for partitions the vocabulary does not occupy (the ledger's
    // contract is terms, not known terms — partial re-levels a
    // term-free partition idempotently) so the f=1.0 row really
    // touches EVERY partition, not just the vocabulary's image.
    val postings = ops.LexIndex.postings(tag)
    val vocabPerPb = postings.withMirror(post.select("term").distinct(), nb)
      .groupBy("pb").agg(min("term").as("term"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val synthPerPb = postings.withMirror(
        (0 until 5000).map(i => s"x$i").toDF("term"), nb)
      .groupBy("pb").agg(min("term").as("term"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val termPerPb = synthPerPb ++ vocabPerPb
    require(termPerPb.size == nb,
      s"partition cover incomplete: ${termPerPb.size} of $nb")

    val fractions = Seq(0.01, 0.1, 0.5, 1.0)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val rows = fractions.map { f =>
      val k = math.max(1, math.ceil(f * nb).toInt)
      val pbs = termPerPb.keys.toSeq.sorted.take(k)
      val terms = pbs.map(termPerPb)
      val (ps, fs, rs) = (1 to reps).map { _ =>
        fresh()
        ops.LexIndex.seedTouchedForBench(spark, tag, terms.toDF("term"))
        val p = timed { ops.LexIndex.refreshCountsPartial(spark, tag); () }
        val fu = timed(ops.LexIndex.refreshCounts(spark, tag))
        val rb = timed(fresh())
        (p, fu, rb)
      }.unzip3
      val touched = pbs.size
      f"""{"fraction":$f,"touched_parts":$touched,"buckets":$nb,""" +
        f""""partial_sec":${median(ps)}%.3f,"full_sec":${median(fs)}%.3f,""" +
        f""""rebuild_sec":${median(rs)}%.3f}"""
    }
    println(s"""{"bench":"relevel","sf":"$sfDir","family":"lexindex",""" +
      s""""reps":$reps,"rows":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
