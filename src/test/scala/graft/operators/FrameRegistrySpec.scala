package graft.operators

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The session frame registry in [[OpUtils]]: both lifetimes hand out a
  * loaded cache, a store key is built once under concurrent callers and
  * may nest, a transient re-entry and [[OpUtils.releaseTransients]]
  * unpersist what they drop, and a failed build leaves no entry. */
class FrameRegistrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("frame-registry-spec", "2").getOrCreate()

  private def cached(df: DataFrame) =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])

  /** The frame's cache holds every partition's column buffers. */
  private def loaded(df: DataFrame): Boolean =
    cached(df).exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  private def frame(n: Int): DataFrame = spark.range(n).toDF("x").withColumn("y", col("x") * 2)

  test("transient and store hand out a frame whose cache is already loaded") {
    val t = OpUtils.transient(spark, "spec:loaded-t", frame(101))
    val s = OpUtils.store(spark, "spec:loaded-s")(frame(102))
    try {
      assert(loaded(t))
      assert(loaded(s))
    } finally {
      OpUtils.release(spark, "spec:loaded-t", "spec:loaded-s")
    }
    assert(cached(t).isEmpty && cached(s).isEmpty)
  }

  test("eight concurrent callers of one store key run its build once") {
    val builds = new AtomicInteger()
    val start = new CyclicBarrier(8)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((1 to 8).map(_ => Future {
        start.await()
        OpUtils.store(spark, "spec:once") { builds.incrementAndGet(); frame(103) }
      })), 2.minutes)
      assert(builds.get === 1)
      assert(got.forall(_ eq got.head))
      assert(loaded(got.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      OpUtils.release(spark, "spec:once")
    }
  }

  test("a store build that asks for another store returns") {
    val outer = OpUtils.store(spark, "spec:outer") {
      OpUtils.store(spark, "spec:inner")(frame(104)).withColumn("z", col("y") + 1)
    }
    try {
      assert(outer.count() === 104)
      assert(loaded(outer))
    } finally OpUtils.release(spark, "spec:outer", "spec:inner")
  }

  test("a transient re-entry unpersists the frame it replaces; releaseTransients keeps the stores") {
    val first = OpUtils.transient(spark, "spec:reentry", frame(105))
    val second = OpUtils.transient(spark, "spec:reentry", frame(106))
    val other = OpUtils.transient(spark, "spec:other", frame(107))
    val store = OpUtils.store(spark, "spec:kept")(frame(108))
    try {
      assert(first.storageLevel === StorageLevel.NONE)
      assert(loaded(second) && loaded(other))
      OpUtils.releaseTransients(spark)
      assert(second.storageLevel === StorageLevel.NONE)
      assert(other.storageLevel === StorageLevel.NONE)
      assert(loaded(store))
      assert(OpUtils.store(spark, "spec:kept")(fail("the store was dropped")) eq store)
    } finally OpUtils.release(spark, "spec:kept")
  }

  test("a build that throws leaves no entry, and the next call builds again") {
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      OpUtils.store(spark, "spec:fails") { builds.incrementAndGet(); throw new IllegalStateException("build") }
    }
    // the fill's action fails: the frame is unpersisted, not left half built
    val bad = frame(109).withColumn("z", raise_error(lit("fill")))
    intercept[Exception](OpUtils.store(spark, "spec:fails") { builds.incrementAndGet(); bad })
    assert(cached(bad).isEmpty)
    intercept[Exception](OpUtils.transient(spark, "spec:fails-t", bad))
    assert(cached(bad).isEmpty)
    val good = OpUtils.store(spark, "spec:fails") { builds.incrementAndGet(); frame(110) }
    try {
      assert(builds.get === 3)
      assert(loaded(good))
    } finally OpUtils.release(spark, "spec:fails")
  }
}
