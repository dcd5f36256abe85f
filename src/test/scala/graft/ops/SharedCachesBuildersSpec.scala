package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The shared relations as [[SharedCaches.memo]] entries: a second call
  * returns the first call's relation without building again, and a
  * release makes the next call rebuild the same rows.
  */
class SharedCachesBuildersSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def memoized(family: String, order: Seq[String])
                      (build: () => DataFrame): Unit = {
    SharedCaches.release(family)
    val first = build()
    val hooks = SharedCaches.hookCount(family)
    assert(hooks > 0, "the first call must register its memo")
    assert(build() eq first, "a second call must reuse the relation")
    assert(SharedCaches.hookCount(family) == hooks,
      "a second call must not build again")
    val rows = first.orderBy(order.head, order.tail: _*).collect().toSeq
    assert(rows.nonEmpty)
    SharedCaches.release(family)
    val rebuilt = build()
    assert(!(rebuilt eq first), "release must evict the memo")
    assert(rebuilt.orderBy(order.head, order.tail: _*).collect().toSeq == rows)
    SharedCaches.release(family)
  }

  test("minhashPairs is one memo per family lifetime and rebuilds after " +
    "release with equal rows") {
    memoized(SharedCaches.Minhash, Seq("doc_a", "doc_b"))(
      () => DedupQueries.minhashPairs(spark, dir))
  }

  test("the embedding corpus is one memo per family lifetime and " +
    "rebuilds after release with equal rows") {
    memoized(SharedCaches.Embeddings, Seq("vec_id"))(
      () => SimilarityQueries.corpus(spark, dir))
  }
}
