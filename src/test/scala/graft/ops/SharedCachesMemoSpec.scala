package graft.ops

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.SparkSpec

/** The [[SharedCaches.memo]] protocol on its own: counting builds, no
  * Spark job. Each test uses a family of its own, so hook counts start
  * at zero and no shared family is touched.
  */
class SharedCachesMemoSpec extends SparkSpec {
  private val dir = "/memo/spec"

  test("two racing first consumers of one key see one build and one hook") {
    val fam = "memo_spec_race"
    val builds = new AtomicInteger
    val building = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    def consume(): AnyRef = SharedCaches.memo(fam, "k", spark, dir) {
      builds.incrementAndGet()
      building.countDown()
      assert(finish.await(1, TimeUnit.MINUTES))
      new AnyRef
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = pool.submit(new Callable[AnyRef] { def call() = consume() })
      assert(building.await(1, TimeUnit.MINUTES))
      // the second consumer arrives while the first build is running
      val waiter = new AtomicReference[Thread]
      val second = pool.submit(new Callable[AnyRef] {
        def call() = { waiter.set(Thread.currentThread()); consume() }
      })
      def blocked = Option(waiter.get).exists(_.getState == Thread.State.BLOCKED)
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(1)
      while (!blocked && System.nanoTime() < deadline) Thread.sleep(5)
      assert(blocked, "the second consumer must wait for the first build")
      finish.countDown()
      val (a, b) = (first.get(1, TimeUnit.MINUTES), second.get(1, TimeUnit.MINUTES))
      assert(a eq b, "both consumers must get the first build's value")
      assert(builds.get == 1)
      assert(SharedCaches.hookCount(fam) == 1)
    } finally {
      pool.shutdownNow()
      SharedCaches.release(fam)
    }
  }

  test("builds of two different keys run concurrently") {
    val fam = "memo_spec_keys"
    val started = Seq.fill(2)(new CountDownLatch(1))
    // each build waits for the other to start: if either key waited on
    // the other's build, neither latch would open in time
    val pool = Executors.newFixedThreadPool(2)
    try {
      val sawOther = (0 to 1).map(i => pool.submit(new Callable[Boolean] {
        def call() = SharedCaches.memo(fam, s"k$i", spark, dir) {
          started(i).countDown()
          started(1 - i).await(30, TimeUnit.SECONDS)
        }
      })).map(_.get(1, TimeUnit.MINUTES))
      assert(sawOther == Seq(true, true))
      assert(SharedCaches.hookCount(fam) == 2)
    } finally {
      pool.shutdownNow()
      SharedCaches.release(fam)
    }
  }

  test("a build may read another key's memo while it builds") {
    val fam = "memo_spec_nested"
    val outer = SharedCaches.memo(fam, "outer", spark, dir) {
      SharedCaches.memo(fam, "inner", spark, dir)("inner") + "+outer"
    }
    assert(outer == "inner+outer")
    assert(SharedCaches.memo(fam, "inner", spark, dir)("rebuilt") == "inner")
    assert(SharedCaches.hookCount(fam) == 2)
    SharedCaches.release(fam)
  }

  test("a throwing build leaves no entry and no hook; the next call " +
    "builds again") {
    val fam = "memo_spec_throw"
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      SharedCaches.memo(fam, "k", spark, dir) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(SharedCaches.hookCount(fam) == 0)
    val v = SharedCaches.memo(fam, "k", spark, dir) {
      builds.incrementAndGet(); "built"
    }
    assert(v == "built" && builds.get == 2)
    assert(SharedCaches.hookCount(fam) == 1)
    SharedCaches.release(fam)
  }

  test("release(family) evicts the entry, so the next call rebuilds") {
    val fam = "memo_spec_release"
    val builds = new AtomicInteger
    def consume(): AnyRef = SharedCaches.memo(fam, "k", spark, dir) {
      builds.incrementAndGet(); new AnyRef
    }
    val first = consume()
    assert(consume() eq first)
    assert(builds.get == 1)
    SharedCaches.release(fam)
    assert(SharedCaches.hookCount(fam) == 0)
    val rebuilt = consume()
    assert(!(rebuilt eq first))
    assert(builds.get == 2)
    assert(SharedCaches.hookCount(fam) == 1)
    SharedCaches.release(fam)
  }
}
