package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

/** One benchmark run in one JVM: a GraftSession at local[nproc], the
  * workload's set-up, a closed loop of client threads for the measured
  * window, and one result line on stdout (prefixed `PERFBENCH `).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <sf dir> --cache <dir> --run-dir <scratch dir>
  *   --stop-by <s>
  *
  * `--stop-by` is the time after JVM start by which the result line must
  * be printed; the loop ends early, and wedged ops are abandoned, to
  * keep it. */
object Main {

  final case class Rec(ctx: OpCtx, error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty && !ctx.deadlineHit
    def ms: Double = (ctx.endNs - ctx.startNs) / 1e6
    /** A failure that is neither the op's deadline nor its connection's:
      * the program answered, and the answer (status, content type,
      * coding, stream, rows or values) did not check out. */
    def checkFailed: Boolean = !ctx.deadlineHit && error.exists(e => !transport(e))
  }

  /** A socket error or timeout anywhere in the cause chain. */
  def transport(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).exists {
      case _: java.net.SocketException | _: java.net.SocketTimeoutException => true
      case _ => false
    }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val runDir = Paths.get(opt("run-dir"))

    val spark = graft.GraftSession.get("perfbench")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val tracer = new Tracer(traced)
    val stats = new SparkStats
    val phases = new QueryPhases
    if (traced) {
      sc.addSparkListener(stats)
      spark.listenerManager.register(phases)
    }

    val w = Workload(name, spark, tracer, new RefCache(Paths.get(opt("cache"))), opt("data"), runDir)
    // a traced run drains the listener and runs its probes after the loop
    val afterLoopMs = if (traced) 10000L + w.probesMs else 5000L
    val stopByNs = System.nanoTime() + (opt("stop-by").toDouble * 1000 -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) - afterLoopMs).toLong * 1000000L
    w match { case q: QueryBatch if traced => q.phases = phases; case _ => () }
    log(f"session $sessionS%.1f s")
    log(f"prepare ${Workload.time(w.prepare())._2}%.0f ms")
    val reps = (1 to 3).map(_ => Workload.time(w.setupRep())._2)
    log(s"set-up reps ${reps.map(r => f"$r%.0f").mkString(" ")} ms")
    log(f"check ${Workload.time(w.check())._2}%.0f ms")
    val loop = new Loop(w, sc, seed, stopByNs)
    // warm-up: the same closed loop, unrecorded, so JIT and caches settle
    val warm = Workload.time(if (w.warmUp) loop.run(0.0, new Tracer(false)))._2
    log(f"warm-up $warm%.0f ms")
    val setupS = sessionS + (Stats.median(reps) + warm) / 1e3
    phases.done.clear()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val all = loop.run(seconds, tracer)
    val windowEndMs = System.currentTimeMillis()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val spillMb = w.spillDirMb
    loop.stop()

    log(f"window ${(windowEndMs - windowStartMs) / 1e3}%.1f s, ${all.size} ops")
    val e2e = endToEnd(w, all, cpuS, setupS)
    var layers = Map.empty[String, Double]
    if (traced) {
      stats.drain()
      layers = Layers(w.mix, all, stats, windowStartMs, windowEndMs, cores, spillMb) ++
        Map("trace.ops_per_s" -> e2e("ops_per_s"), "trace.op_p50_ms" -> e2e("op_p50_ms"),
          "trace.self_ms_per_op" -> tracer.selfNs.sum() / 1e6 / math.max(1, all.size))
      layers ++= w.probes(stats)
      tracer.write(runDir.resolve("spans.jsonl"), t0)
    }
    val (tailMs, tailPct, n) = Stats.tail(all.filter(_.ok).map(_.ms))
    val failures = all.filterNot(_.ok)
    val result = Map(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "attempted" -> all.size, "failed" -> failures.size,
      "check_failed" -> all.count(_.checkFailed),
      "unserved_ops" -> w.mix.distinct.filterNot(op => all.exists(r => r.ok && r.ctx.op == op)),
      "errors" -> failures.take(5).map(r => s"${r.ctx.op}: ${r.error.map(_.toString).getOrElse("deadline")}"),
      "window_s" -> (windowEndMs - windowStartMs) / 1e3,
      "setup_reps_ms" -> reps, "warmup_ms" -> warm, "session_s" -> sessionS,
      "tail" -> Map("percentile" -> tailPct, "n" -> n, "ms" -> tailMs),
      "end_to_end" -> e2e, "per_layer" -> layers)
    println("PERFBENCH " + Stats.json(result))
    System.out.flush()
    w.close()
    // the run directory is removed by the caller: skip Spark's shutdown
    Runtime.getRuntime.halt(0)
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** Closed-loop rates: for each client, the median over its blocks of
    * (completed ops / block seconds), summed over clients. A block is
    * one pass over the op mix, so every block does the same work.
    * A median over no samples is NaN (null in the result); a per-op
    * metric of an op outside the workload's mix is 0. */
  private def endToEnd(w: Workload, all: Seq[Rec], cpuS: Double, setupS: Double): Map[String, Double] = {
    val ok = all.filter(_.ok)
    def rate(f: Rec => Double): Double =
      all.groupBy(_.ctx.client).values.map { rs =>
        Stats.median(rs.groupBy(_.ctx.block).values.toSeq.map { b =>
          val secs = (b.map(_.ctx.endNs).max - b.map(_.ctx.startNs).min) / 1e9
          b.filter(_.ok).map(f).sum / secs
        })
      }.sum
    val ttfb = ok.filter(_.ctx.firstBatchNs > 0).map(r => (r.ctx.firstBatchNs - r.ctx.startNs) / 1e6)
    val base = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> rate(_ => 1.0),
      "op_p50_ms" -> Stats.median(ok.map(_.ms)),
      "op_tail_ms" -> Stats.tail(ok.map(_.ms))._1,
      "cpu_s_per_op" -> (if (ok.isEmpty) Double.NaN else cpuS / ok.size),
      "peak_rss_mb" -> peakRssMb,
      "ttfb_p50_ms" -> (if (w.mix.exists(ServeBulk.Streamed.contains)) Stats.median(ttfb) else 0.0),
      "payload_mb_per_s" -> rate(_.ctx.arrowBytes / 1e6),
      "op_fail_ratio" -> (all.size - ok.size).toDouble / math.max(1, all.size),
      "op_max_ms" -> (if (ok.isEmpty) Double.NaN else ok.map(_.ms).max))
    val perOp = ServeBulk.Mix.filterNot(_ == "get_abandon").map(op => s"p50_ms.$op" ->
      (if (w.mix.contains(op)) Stats.median(ok.filter(_.ctx.op == op).map(_.ms)) else 0.0))
    base ++ perOp
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
