package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.SparkContext

import Main.{Rec, log}

/** The closed loop: `w.clients` threads, each running whole seeded
  * blocks of the op mix back to back until the window has passed, and a
  * watchdog that fails any op past the workload's deadline.
  *
  * `stopByNs` (a nanoTime) is when the loop must have returned, so that
  * the run can still print its result: an op is started only if its
  * deadline plus `SlackMs` falls before it, and a client still inside
  * an op at `stopByNs` is abandoned and the op counted as failed. */
final class Loop(w: Workload, sc: SparkContext, seed: Long, stopByNs: Long) {
  /** Time a cancelled op gets to unwind after its deadline. */
  val SlackMs = 5000
  private val inflight = new ConcurrentHashMap[Long, OpCtx]()
  private val ids = new AtomicLong()
  private var round = 0L

  private val watchdog = new Thread(() => {
    try while (true) {
      Thread.sleep(200)
      inflight.values.asScala.foreach { ctx =>
        if (!ctx.deadlineHit && System.nanoTime() - ctx.startNs > w.deadlineMs * 1000000L) {
          ctx.deadlineHit = true
          log(s"op ${ctx.id} (${ctx.op}) passed its ${w.deadlineMs} ms deadline; thread dump follows")
          ManagementFactory.getThreadMXBean.dumpAllThreads(true, true)
            .foreach(t => System.err.print(t.toString))
          ctx.abort()
          sc.cancelJobGroup(ctx.group)
        }
      }
    } catch { case _: InterruptedException => () }
  }, "perfbench-watchdog")
  watchdog.setDaemon(true)
  watchdog.start()

  def stop(): Unit = watchdog.interrupt()

  /** Run the loop for at least `seconds` (one block per client at 0),
    * or until no op fits before `stopByNs`; returns every op. */
  def run(seconds: Double, tracer: Tracer): Seq[Rec] = {
    round += 1
    val recs = new ConcurrentLinkedQueue[Rec]()
    val t0 = System.nanoTime()
    val windowNs = (seconds * 1e9).toLong
    val abandoned = new AtomicBoolean(false)
    def fits = !abandoned.get &&
      System.nanoTime() + (w.deadlineMs + SlackMs) * 1000000L < stopByNs
    val threads = (0 until math.min(w.clients, sc.defaultParallelism)).map { c =>
      val t = new Thread(() => {
        val rng = new Random((seed * 1000003L + c) * 31 + round)
        var block = 0
        do {
          rng.shuffle(w.mix).iterator.takeWhile(_ => fits)
            .foreach(op => recs.add(runOp(op, c, block, rng, tracer)))
          block += 1
        } while (System.nanoTime() - t0 < windowNs && fits)
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(t => t.join(math.max(1L, (stopByNs - System.nanoTime()) / 1000000L)))
    abandoned.set(true)
    if (System.nanoTime() - t0 < windowNs)
      log(f"window cut to ${(System.nanoTime() - t0) / 1e9}%.1f s to end the run in time")
    inflight.values.asScala.foreach { ctx =>
      inflight.remove(ctx.id)
      ctx.deadlineHit = true
      ctx.endNs = System.nanoTime()
      recs.add(Rec(ctx, Some(new RuntimeException("op never returned"))))
    }
    recs.asScala.toSeq
  }

  private def runOp(op: String, c: Int, block: Int, rng: Random, tracer: Tracer): Rec = {
    val ctx = new OpCtx(ids.incrementAndGet(), op, c, block, tracer)
    inflight.put(ctx.id, ctx)
    sc.setJobGroup(ctx.group, op, interruptOnCancel = true)
    val err =
      try { tracer.span(ctx.id, s"op.$op")(w.run(op, ctx, rng)); None }
      catch { case e: Throwable => Some(e) }
      finally {
        ctx.endNs = System.nanoTime()
        inflight.remove(ctx.id)
        sc.clearJobGroup()
      }
    err.foreach(e => log(s"op ${ctx.id} ($op) failed: $e"))
    log(f"op ${ctx.id} client $c $op ${(ctx.endNs - ctx.startNs) / 1e6}%.0f ms")
    w.afterOp(ctx)
    Rec(ctx, err)
  }
}
