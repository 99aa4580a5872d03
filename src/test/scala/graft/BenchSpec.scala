package graft

import java.time.Duration

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.awaitChild]]: the bounded wait for the transport child. */
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
}
