package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{CacheRegistry, Dedup, SharedBuilds}

/** The composable ops' internal lazy persists (pair-miner shingle sets) are
  * tracked in [[graft.ops.CacheRegistry]]: one handle per distinct cached
  * plan (re-runs don't grow it), all releasable at a session boundary; the
  * shared-build store releases them, and its own builds, on a dir change. */
class CacheRegistrySpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),
      (3L, "z y x w v u t s r q"))
      .toDF("doc_id", "text")
  }

  test("miner persists are tracked, plan-deduped, and releasable") {
    CacheRegistry.releaseAll()
    assert(CacheRegistry.size == 0)

    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, 5).count()
    val afterFirst = CacheRegistry.size
    assert(afterFirst > 0, "miner persist was not tracked")

    // Same call again: the canonicalized-plan key dedupes the handle.
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, 5).count()
    assert(CacheRegistry.size == afterFirst, "re-run grew the registry")

    CacheRegistry.releaseAll()
    assert(CacheRegistry.size == 0)
  }

  // The shared-build store (graft.ops.SharedBuilds). A name is one store
  // entry, so each case declares builds under names of its own.
  private val dir = "/tmp/graft_store_spec"
  private def within[T](f: Future[T]): T = Await.result(f, 60.seconds)

  test("store: a dir change releases every other build, whichever name it has") {
    val builds = new SharedBuilds
    def frame(name: String) = builds.persisted(name) { (s, d) =>
      val df = s.range(3).select(lit(s"$name@$d").as("k")).persist()
      df.count()
      df
    }(Seq(_))
    val (x, y) = (frame("evict_x"), frame("evict_y"))
    val (xa, ya) = (x(spark, "/tmp/storeA"), y(spark, "/tmp/storeA"))
    assert(ya.storageLevel != StorageLevel.NONE)
    // Only X is built under B: Y is never touched there, and must still go.
    val xb = x(spark, "/tmp/storeB")
    assert(ya.storageLevel == StorageLevel.NONE, "Y's release did not run")
    assert(xa.storageLevel == StorageLevel.NONE, "X's release did not run")
    assert(xb.storageLevel != StorageLevel.NONE)
  }

  test("store: a dir change drops the tracked miner caches") {
    val builds = new SharedBuilds
    val b = builds("registry_dir") { (_, d) => d }
    b(spark, "/tmp/storeA")
    CacheRegistry.releaseAll()
    Dedup.duplicatedSpans(docs, "doc_id", "text", 5).count()
    assert(CacheRegistry.size > 0)
    b(spark, "/tmp/storeB")
    assert(CacheRegistry.size == 0, "dir-change eviction left miner caches live")
  }

  test("store: a nested build builds its inner build once") {
    val builds = new SharedBuilds
    val calls = new AtomicInteger
    val inner = builds("nested_inner") { (_, _) => calls.incrementAndGet() }
    val outer = builds("nested_outer") { (s, d) => inner(s, d) + inner(s, d) }
    assert(outer(spark, dir) == 2)
    assert(inner(spark, dir) == 1 && calls.get == 1)
  }

  test("store: two threads calling one name build once") {
    val builds = new SharedBuilds
    val calls = new AtomicInteger
    val (started, gate) = (new CountDownLatch(1), new CountDownLatch(1))
    val b = builds("once_two_threads") { (_, _) =>
      calls.incrementAndGet(); started.countDown(); gate.await(); new Object
    }
    try {
      val first = Future(b(spark, dir))
      assert(started.await(60, TimeUnit.SECONDS))
      @volatile var got: AnyRef = null
      val second = new Thread(() => got = b(spark, dir))
      second.start()
      // The second caller is in the store (waiting on the first build, or
      // parked in a second one) before the first build may finish.
      val deadline = System.nanoTime() + 60e9.toLong
      while (second.getState != Thread.State.WAITING && System.nanoTime() < deadline)
        Thread.sleep(10)
      gate.countDown()
      val v = within(first)
      second.join(60000)
      assert(calls.get == 1, "one name built twice")
      assert(got eq v)
    } finally gate.countDown()
  }

  test("store: a build blocked on a latch does not block a build of another name") {
    val builds = new SharedBuilds
    val (started, gate) = (new CountDownLatch(1), new CountDownLatch(1))
    val slow = builds("latch_slow") { (_, _) => started.countDown(); gate.await(); 1 }
    val fast = builds("latch_fast") { (_, _) => 2 }
    try {
      val pending = Future(slow(spark, dir))
      assert(started.await(60, TimeUnit.SECONDS))
      assert(within(Future(fast(spark, dir))) == 2)
      gate.countDown()
      assert(within(pending) == 1)
    } finally gate.countDown()
  }

  test("store: a build that throws caches nothing and is rebuilt on the next call") {
    val builds = new SharedBuilds
    val calls = new AtomicInteger
    val b = builds("throws_once") { (_, _) =>
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("boom")
      calls.get
    }
    intercept[IllegalStateException](b(spark, dir))
    assert(b(spark, dir) == 2)
    assert(b(spark, dir) == 2 && calls.get == 2)
  }
}
