package graft

import java.time.Duration
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.awaitChild]], the bounded wait for the transport child, and
  * [[Bench.Cells]], the bounded query cells. */
class BenchSpec extends AnyFunSuite {

  test("a child past its deadline is reported as timed out and destroyed") {
    val proc = new ProcessBuilder("sleep", "600").start()
    val t0 = System.nanoTime()
    val (exit, _) = Bench.awaitChild(proc, Duration.ofSeconds(1))
    assert(exit === None)
    assert(!proc.isAlive)
    assert((System.nanoTime() - t0) / 1e9 < 60, "the wait outlived its deadline")
  }

  test("a child that exits in time returns its code and every stdout line") {
    val proc = new ProcessBuilder("sh", "-c", "echo one; echo two; exit 3").start()
    assert(Bench.awaitChild(proc, Duration.ofSeconds(60)) === (Some(3), Seq("one", "two")))
  }

  test("a query rep past its deadline names its cell failed, and the next cell still runs") {
    val sc = GraftSession.builder("bench-spec", "2").getOrCreate().sparkContext
    val cells = new Bench.Cells(sc, reps = 2, Duration.ofSeconds(1))
    val started = new AtomicInteger()
    try {
      // the rep's one task blocks until the gate opens: only the
      // deadline's cancel of the job group ends it
      cells.run("wedged") {
        started.incrementAndGet()
        sc.parallelize(Seq(1), 1).foreach(_ => BenchSpec.gate.await())
        0.0
      }
      cells.run("next")(0.25)
    } finally BenchSpec.gate.countDown()
    assert(cells.failed === Seq("wedged"))
    assert(started.get === 1, "a failed cell ran a further rep")
    assert(cells.runs.toSeq === Seq("next" -> Seq(0.25, 0.25)))
    // the status tracker hears of the cancel through the listener bus
    val until = System.nanoTime() + 10L * 1000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < until) Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "the wedged rep's job is still running")
  }

  test("each rep's stderr line states the classes it compiled and the jobs it ran") {
    val sc = GraftSession.builder("bench-spec", "2").getOrCreate().sparkContext
    val cells = new Bench.Cells(sc, reps = 2, Duration.ofSeconds(60))
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try cells.run("three-jobs") {
      (1 to 3).foreach(_ => sc.parallelize(1 to 4, 2).count())
      0.5
    } finally System.setErr(stderr)
    val lines = err.toString("UTF-8").linesIterator.filter(_.contains(" codegen ")).toSeq
    assert(lines.size === 2, lines.mkString("\n"))
    lines.zipWithIndex.foreach { case (l, i) =>
      assert(l.matches(s"bench: three-jobs rep ${i + 1} codegen \\d+ classes, 3 jobs"), l)
    }
  }
}

object BenchSpec {
  /** Shared by the local-mode task, which gets a serialized copy of its
    * closure and so must reach the latch through a static path. */
  val gate = new CountDownLatch(1)
}
