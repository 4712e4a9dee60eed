package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session-layer registry's contract: one build per key however many
  * callers race for it, builds outside any shared lock, failure eviction,
  * a least-recently-used bound and the `graft.noEdgeCache` bypass. Every
  * case runs against the real registry under a layer name of its own. */
class SessionLayersSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private val dir = "session-layers-spec"

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool)) finally pool.shutdownNow()
  }

  test("8 threads on one key give one build and the same instance") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val fs = (1 to 8).map(_ => Future {
        start.await()
        SessionLayers.value(spark, "spec-race", dir) {
          builds.incrementAndGet(); Thread.sleep(50); new Object
        }
      })
      start.countDown()
      Await.result(Future.sequence(fs), 30.seconds)
    }
    builds.get shouldBe 1
    got.foreach(o => (o eq got.head) shouldBe true)
  }

  test("a key's build completes while another key's build is blocked") {
    val release = new CountDownLatch(1)
    val entered = new CountDownLatch(1)
    withPool(1) { implicit ec =>
      val a = Future(SessionLayers.value(spark, "spec-blocked-a", dir) {
        entered.countDown(); release.await(); "a"
      })
      entered.await(10, TimeUnit.SECONDS) shouldBe true
      // with the build under the map lock this call would wait forever
      val b = Future(SessionLayers.value(spark, "spec-blocked-b", dir)("b"))(ExecutionContext.global)
      Await.result(b, 10.seconds) shouldBe "b"
      a.isCompleted shouldBe false
      release.countDown()
      Await.result(a, 10.seconds) shouldBe "a"
    }
  }

  test("a build that calls the registry for another key completes") {
    // a single ConcurrentHashMap.computeIfAbsent would throw "Recursive update"
    val outer = SessionLayers.value(spark, "spec-outer", dir) {
      SessionLayers.value(spark, "spec-inner", dir)(20) + 1
    }
    outer shouldBe 21
    SessionLayers.value(spark, "spec-inner", dir)(-1) shouldBe 20
  }

  test("a failed build is retried by the next caller") {
    an[IllegalStateException] should be thrownBy
      SessionLayers.value[Int](spark, "spec-retry", dir)(throw new IllegalStateException("transient"))
    // the next caller's own build runs, not the failed caller's closure again
    SessionLayers.value(spark, "spec-retry", dir)(7) shouldBe 7
    SessionLayers.value(spark, "spec-retry", dir)(8) shouldBe 7
  }

  test("past the bound the least-recently-used key goes and a recently used one stays") {
    val builds = new AtomicInteger()
    def layer(i: Int): Int = SessionLayers.value(spark, "spec-lru", dir, i) {
      builds.incrementAndGet(); i
    }
    (0 until SessionLayers.MaxEntries).foreach(layer)
    builds.get shouldBe SessionLayers.MaxEntries
    layer(0) // key 0 is now the most recently used; key 1 the least
    builds.get shouldBe SessionLayers.MaxEntries
    layer(SessionLayers.MaxEntries) // one past the bound evicts key 1
    layer(0)
    builds.get shouldBe SessionLayers.MaxEntries + 1
    layer(1)
    builds.get shouldBe SessionLayers.MaxEntries + 2
  }

  test("under the bypass every call builds and frame returns the un-checkpointed plan") {
    def fresh = spark.range(5).toDF("id")
    val cached = SessionLayers.frame(spark, "spec-frame", dir)(fresh)
    cached.queryExecution.logical shouldBe a[LogicalRDD]
    (SessionLayers.frame(spark, "spec-frame", dir)(fresh) eq cached) shouldBe true
    val builds = new AtomicInteger()
    sys.props("graft.noEdgeCache") = "1"
    try {
      val bypassed = SessionLayers.frame(spark, "spec-frame", dir)(fresh)
      bypassed.queryExecution.logical should not be a[LogicalRDD]
      bypassed.count() shouldBe 5
      (1 to 3).foreach(_ => SessionLayers.value(spark, "spec-bypass", dir)(builds.incrementAndGet()))
      builds.get shouldBe 3
    } finally sys.props.remove("graft.noEdgeCache")
  }
}
