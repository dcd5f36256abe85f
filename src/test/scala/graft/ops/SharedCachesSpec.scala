package graft.ops

import graft.{Registry, SparkSpec}

class SharedCachesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("every declared consumer is a registered query (a rename here " +
    "silently breaks the release point, so pin the contract)") {
    val known = Registry.queryMap.keySet
    for ((fam, cs) <- SharedCaches.consumers; c <- cs)
      assert(known.contains(c), s"family $fam lists unknown query $c")
  }

  test("releasePoints picks each family's last present consumer and " +
    "omits families with no consumer in the run") {
    val names = Seq("q_doc_dedup", "q_dedup_clusters", "q_dedup_recall",
      "q_scan_project").sorted
    val pts = SharedCaches.releasePoints(names)
    // last minhash consumer among those present (sorted) is q_doc_dedup
    assert(pts == Map("q_doc_dedup" -> Seq(SharedCaches.Minhash)))
  }

  test("the CC label memo is shared within a family lifetime and " +
    "evicted on release (the fixpoint runs at construction time, so " +
    "only a memo can dedup it)") {
    val first = DedupQueries.minhashComponents(spark, dir)
    assert(DedupQueries.minhashComponents(spark, dir) eq first,
      "second consumer must reuse the constructed label relation")
    // Snapshot rows BEFORE release: release deterministically frees the
    // memo's checkpoint blocks (r9 verdict #1 — Checkpoints.free), so
    // the old handle is unreadable afterwards BY CONTRACT ("nothing
    // reads the labels after their release point").
    val firstRows = first.orderBy("doc_id").collect().toSeq
    SharedCaches.release(SharedCaches.Minhash)
    val rebuilt = DedupQueries.minhashComponents(spark, dir)
    assert(!(rebuilt eq first),
      "release must evict the memo so the next pass rebuilds")
    // and the rebuilt labels are the same rows
    assert(rebuilt.orderBy("doc_id").collect().toSeq == firstRows)
    SharedCaches.release(SharedCaches.Minhash)
  }

  test("the funnel memo single-flights two racing first consumers: one " +
    "build and one SharedCaches registration") {
    SharedCaches.release(SharedCaches.Funnel)
    assert(SharedCaches.hookCount(SharedCaches.Funnel) == 0)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val consumers = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = { go.await(); CorpusQueries.stagedDocs(spark, dir) }
        }))
      go.countDown()
      val built = consumers.map(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
      assert(built(0) eq built(1), "both consumers must get the one memo")
      assert(SharedCaches.hookCount(SharedCaches.Funnel) == 1,
        "the memo must be built and registered once")
    } finally {
      pool.shutdown()
      SharedCaches.release(SharedCaches.Funnel)
      SharedCaches.release(SharedCaches.Minhash)
    }
  }

  test("release after the last consumer does not change results — the " +
    "family rebuilds transparently on next touch") {
    val q = Registry.queryMap("q_doc_dedup")
    val before = q(spark, dir).collect().toSeq
    SharedCaches.release(SharedCaches.Minhash)
    // released entries are gone from the cache manager; rerun rebuilds
    val after = q(spark, dir).collect().toSeq
    assert(before == after)
    // idempotent: releasing an already-released family is a no-op
    SharedCaches.release(SharedCaches.Minhash)
  }
}
