package graft.arrow

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, SparkException, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** [[PartitionStreamer.foreachOrdered]]: partition order, one Spark job
  * per group of `window` partitions after a one-partition first group,
  * groups that fit `spark.driver.maxResultSize`, failures that end the
  * stream instead of hanging it, cancellation of both in-flight groups,
  * and a driver that never runs more than two groups ahead of its
  * consumer. */
class PartitionStreamerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("partition-streamer-spec", "4").getOrCreate()
  private def sc: SparkContext = spark.sparkContext
  private val window = ArrowBridge.RelayWindow
  private val groupKey = "spark.jobGroup.id"
  private val count = (_: Any) => 1L

  /** Runs `body` with the live `spark.driver.maxResultSize` set to
    * `bytes`; the scheduler reads it for each job it starts. */
  private def withMaxResultSize[A](bytes: Long)(body: => A): A = {
    val conf = org.apache.spark.SparkEnv.get.conf
    val key = "spark.driver.maxResultSize"
    val old = conf.getOption(key)
    conf.set(key, bytes.toString)
    try body finally old.fold(conf.remove(key))(conf.set(key, _))
  }

  /** Runs `body` under a fresh job group; returns its result and the
    * ids of the jobs started and ended in that group. A barrier job
    * submitted after `body` is seen ending first, so every event of the
    * group's jobs has been delivered by then: the scheduler posts a
    * job's end when it fails or is cancelled, before the barrier is
    * submitted, and one listener queue delivers in order. */
  private def inGroup[A](body: => A): (A, Seq[Int], Seq[Int]) = {
    val group = s"ps-${System.nanoTime()}"
    val barrier = s"$group-barrier"
    val started = new ConcurrentLinkedQueue[Int]()
    val ended = new ConcurrentLinkedQueue[Int]()
    val barrierSeen = new CountDownLatch(1)
    val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty(groupKey)).orNull
        if (g != null) jobGroup.put(e.jobId, g)
        if (g == group) started.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobGroup.get(e.jobId) match {
        case `group` => ended.add(e.jobId)
        case `barrier` => barrierSeen.countDown()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "partition streamer spec")
      val res = try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrierSeen.await(30, TimeUnit.SECONDS), "listener events never arrived")
      (res, started.asScala.toSeq, ended.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body` on another thread, in the caller's job group (pool threads
    * do not inherit it). */
  private def async[A](body: => A): Future[A] = {
    val group = sc.getLocalProperty(groupKey)
    Future {
      sc.setJobGroup(group, "partition streamer spec")
      try body finally sc.clearJobGroup()
    }
  }

  for (n <- Seq(0, 1, 7, 8, 9, 17, 32)) {
    test(s"$n partitions: order kept, one job for partition 0, then one per $window") {
      val rdd =
        if (n == 0) sc.emptyRDD[Int]
        else sc.parallelize(0 until 10 * n, n)
      val (seen, started, ended) = inGroup {
        val out = scala.collection.mutable.ArrayBuffer[Int]()
        PartitionStreamer.foreachOrdered(rdd, window, count)(out += _)
        out.toSeq
      }
      assert(seen === (0 until 10 * n))
      assert(started.size === (if (n == 0) 0 else 1 + (n - 1 + window - 1) / window))
      assert(ended.toSet === started.toSet)
    }
  }

  test("a partition whose task throws fails the stream, leaving no job active") {
    for (bad <- Seq(5, window + 4)) {
      val rdd = sc.parallelize(0 until 32 * 10, 32).mapPartitionsWithIndex { (p, it) =>
        if (p == bad) throw new IllegalStateException(s"partition $p fails")
        it
      }
      val (outcome, started, ended) = inGroup({
        val run = async(PartitionStreamer.foreachOrdered(rdd, window, count)(_ => ()))
        scala.util.Try(Await.result(run, 30.seconds))
      })
      val e = intercept[SparkException](outcome.get)
      assert(e.getMessage.contains(s"partition $bad fails"), e.getMessage)
      assert(started.nonEmpty)
      assert(ended.toSet === started.toSet, s"jobs still active: ${started.diff(ended)}")
    }
  }

  test("a throwing consume cancels both in-flight group jobs") {
    // groups are [1, window] and [window + 1, 2 * window] after partition
    // 0's own job; the last partition of each holds until killed, and
    // consume throws once both run, so both group jobs are in flight
    StreamerGate.reset(held = Set(window, 2 * window))
    val rdd = sc.parallelize(0 until 32 * 10, 32).mapPartitionsWithIndex { (p, it) =>
      if (StreamerGate.held.contains(p)) StreamerGate.hold(p)
      it
    }
    try {
      val (outcome, started, ended) = inGroup({
        scala.util.Try(PartitionStreamer.foreachOrdered(rdd, window, count) { _ =>
          StreamerGate.running.await(30, TimeUnit.SECONDS)
          throw new java.io.IOException("client gone")
        })
      })
      assert(intercept[java.io.IOException](outcome.get).getMessage === "client gone")
      assert(StreamerGate.runningNow === StreamerGate.held, "both held partitions must have run")
      val deadline = System.nanoTime() + 30000000000L
      while (StreamerGate.killedNow != StreamerGate.held && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(StreamerGate.killedNow === StreamerGate.held)
      assert(started.size === 3)
      assert(ended.toSet === started.toSet, s"jobs still active: ${started.diff(ended)}")
    } finally StreamerGate.release()
  }

  test("no partition of group k+2 starts before the consumer drains group k") {
    StreamerGate.reset(held = Set.empty)
    val rdd = sc.parallelize(0 until 32 * 10, 32).mapPartitionsWithIndex { (p, it) =>
      StreamerGate.ran.add(p)
      it
    }
    // consume holds on partition 0 (its own job), then on the first and
    // the last element of group 1, partitions 1 to window; each time
    // partition 0 and groups 1 and 2 have run, and group 3 waits
    val holds = Seq(0, 10, window * 10 + 9)
    val reached = holds.map(_ => new CountDownLatch(1))
    val drain = holds.map(_ => new CountDownLatch(1))
    val out = new ConcurrentLinkedQueue[Int]()
    val run = Future(PartitionStreamer.foreachOrdered(rdd, window, count) { x =>
      val h = holds.indexOf(x)
      if (h >= 0) { reached(h).countDown(); drain(h).await(60, TimeUnit.SECONDS) }
      out.add(x)
    })
    try {
      for (h <- holds.indices) {
        assert(reached(h).await(30, TimeUnit.SECONDS))
        val deadline = System.nanoTime() + 10000000000L
        while (StreamerGate.ran.size <= 2 * window && System.nanoTime() < deadline)
          Thread.sleep(20)
        Thread.sleep(500)
        assert(StreamerGate.ran.asScala.toSet === (0 to 2 * window).toSet, s"hold at ${holds(h)}")
        drain(h).countDown()
      }
    } finally drain.foreach(_.countDown())
    Await.result(run, 60.seconds)
    assert(out.asScala.toSeq === (0 until 32 * 10))
  }

  test("groups shrink to fit spark.driver.maxResultSize") {
    val limit = 1L << 20
    // 64 KiB results fit limit / 2 eight at a time, 300 KiB ones one at a time
    for ((bytes, jobs) <- Seq((64 << 10, 1 + 2), (300 << 10, 16))) {
      val rdd = sc.parallelize(0 until 16, 16).map(p => Array.fill[Byte](bytes)(p.toByte))
      val (seen, started, _) = withMaxResultSize(limit) {
        inGroup {
          val out = scala.collection.mutable.ArrayBuffer[Int]()
          PartitionStreamer.foreachOrdered(rdd, window, (a: Array[Byte]) => a.length.toLong) { a =>
            assert(a.length === bytes)
            out += a(0)
          }
          out.toSeq
        }
      }
      assert(seen === (0 until 16))
      assert(started.size === jobs, s"$bytes-byte results")
    }
  }

  test("the relay streams partitions above maxResultSize / RelayWindow") {
    import org.apache.spark.sql.functions.rand
    // 16 partitions of ~300 KiB of Arrow each: any eight exceed 1 MiB
    val rows = 16 * 38400
    val df = spark.range(0, rows, 1, 16).select(rand(7).as("x"))
    val out = new java.io.ByteArrayOutputStream()
    val (n, _, bytes) = withMaxResultSize(1L << 20)(ArrowBridge.writeParallel(df, out))
    assert(n === rows)
    assert(bytes === out.size() && bytes > 16L * 300 * 1024)
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(out.toByteArray))
    try assert(res.rows.size === rows) finally res.close()
  }
}

/** Task-side latches of [[PartitionStreamerSpec]]; tasks run in this JVM. */
object StreamerGate {
  @volatile var held: Set[Int] = Set.empty
  @volatile var running = new CountDownLatch(0)
  @volatile private var never = new CountDownLatch(1)
  val ran = new ConcurrentLinkedQueue[Int]()
  private val runningSet = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val killedSet = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def runningNow: Set[Int] = runningSet.asScala.toSet
  def killedNow: Set[Int] = killedSet.asScala.toSet

  def reset(held: Set[Int]): Unit = {
    this.held = held
    running = new CountDownLatch(held.size)
    never = new CountDownLatch(1)
    ran.clear(); runningSet.clear(); killedSet.clear()
  }

  def release(): Unit = never.countDown()

  /** Holds partition `p`'s task until it is killed, or for 60 s. */
  def hold(p: Int): Unit = {
    runningSet.add(p)
    running.countDown()
    val ctx = TaskContext.get()
    val deadline = System.nanoTime() + 60000000000L
    while (!never.await(20, TimeUnit.MILLISECONDS) && System.nanoTime() < deadline) {
      if (ctx.isInterrupted()) {
        killedSet.add(p)
        throw new org.apache.spark.TaskKilledException("cancelled")
      }
    }
  }
}
