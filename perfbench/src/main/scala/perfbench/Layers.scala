package perfbench

/** Per-layer metrics of a traced run, from the ops' own measurements
  * and the SparkListener's events inside the measured window. A layer
  * the workload does not reach reports 0. */
object Layers {
  import Main.Rec

  def apply(mix: Seq[String], all: Seq[Rec], stats: SparkStats, fromMs: Long, toMs: Long,
      cores: Int, spillMb: Double): Map[String, Double] = {
    val ops = math.max(1, all.size).toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def extra(op: String, key: String): Seq[Double] =
      all.filter(_.ctx.op == op).flatMap(_.ctx.extra.get(key))

    // spark: every job that started inside the window
    val jobs = stats.jobsIn(fromMs, toMs)
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val tasks = stats.tasksOf(stageIds)
    val launchDelays = tasks.flatMap(t =>
      Option(stats.stageSubmitMs.get(t.stageId)).map(s => (t.launchMs - s).toDouble))
    val spark = Map(
      "spark.jobs_per_op" -> jobs.size / ops,
      "spark.stages_per_op" -> stageIds.size / ops,
      "spark.tasks_per_op" -> tasks.size / ops,
      "spark.task_launch_delay_ms" -> mean(launchDelays),
      "spark.executor_cpu_s_per_op" -> tasks.map(_.cpuNs).sum / 1e9 / ops,
      "spark.gc_s_per_op" -> tasks.map(_.gcMs).sum / 1e3 / ops,
      "spark.result_mb_per_op" -> tasks.map(_.resultBytes).sum / 1e6 / ops,
      "spark.shuffle_write_mb_per_op" -> tasks.map(_.shuffleWriteBytes).sum / 1e6 / ops,
      "spark.spill_mb_per_op" -> tasks.map(_.spillBytes).sum / 1e6 / ops,
      "spark.busy_ratio" -> tasks.map(_.durMs).sum / (math.max(1L, toMs - fromMs).toDouble * cores),
      "spark.jobs_after_abandon" -> 0.0, "spark.drain_after_abandon_ms" -> 0.0)

    // server: what the HTTP client saw
    val http = all.filter(_.ctx.headersNs > 0)
    val zstd = all.filter(_.ctx.op == "get_zstd")
    val server = Map(
      "server.headers_ms" -> mean(http.map(_.ctx.headersNs / 1e6)),
      "server.wait_ms_per_op" -> (if (http.isEmpty) 0.0 else http.map(_.ctx.socketWaitNs).sum / 1e6 / http.size),
      "server.wire_mb_per_op" -> (if (http.isEmpty) 0.0 else http.map(_.ctx.wireBytes).sum / 1e6 / http.size),
      "server.coding_ratio.get_zstd" ->
        (if (zstd.isEmpty) 0.0 else zstd.map(_.ctx.wireBytes).sum.toDouble / math.max(1L, zstd.map(_.ctx.arrowBytes).sum)),
      "server.ingest_upload_ms" -> mean(extra("post_ingest", "server.ingest_upload_ms")),
      "server.ingest_ack_ms" -> mean(extra("post_ingest", "server.ingest_ack_ms")),
      "server.spill_dir_mb" -> spillMb) ++
      ServeBulk.Mix.map(op => s"server.failed.$op" -> all.count(r => r.ctx.op == op && !r.ok).toDouble)

    // arrow: the client-side reader, minus the time it waited on the socket
    val decoded = all.filter(_.ctx.batches > 0)
    val decodeMs = decoded.map(_.ctx.decodeSelfNs / 1e6).sum
    val decodedMb = decoded.map(_.ctx.arrowBytes).sum / 1e6
    val arrow = Map(
      "arrow.decode_ms_per_mb" -> (if (decodedMb > 0) decodeMs / decodedMb else 0.0),
      "arrow.batches_per_op" -> mean(decoded.map(_.ctx.batches.toDouble)),
      "arrow.encode_ms_per_mb" -> 0.0, "arrow.encode_zstd_ms_per_mb" -> 0.0,
      "arrow.encode_small_ms" -> 0.0, "arrow.read_ms_per_mb" -> 0.0)

    // sources and dissociated: DSv2 scans, their scan stage's task count
    def partsPerScan(op: String): Double = mean(all.filter(_.ctx.op == op).flatMap { r =>
      val first = stats.jobsOf(r.ctx.group)
        .flatMap(_.stageIds).minOption
      first.flatMap(s => Option(stats.stageTasks.get(s))).map(_.toDouble)
    })
    val sources = Map(
      "sources.load_ms" -> mean(extra("scan_dsv2", "sources.load_ms")),
      "sources.plan_ms" -> mean(extra("scan_dsv2", "sources.plan_ms")),
      "sources.exec_ms" -> mean(extra("scan_dsv2", "sources.exec_ms")),
      "sources.parts_per_scan" -> partsPerScan("scan_dsv2"),
      "dissociated.info_ms" -> 0.0,
      "dissociated.parts_per_scan" -> partsPerScan("scan_dissoc"),
      "dissociated.reassemble_ms_per_mb" -> 0.0)

    // operators: per query, and per tier through the op's job group
    val queries = QueryBatch.queries.map(q => s"operators.$q.ms" ->
      (if (mix.contains(q)) Stats.median(all.filter(r => r.ok && r.ctx.op == q).map(_.ms)) else 0.0))
    val tiers = QueryBatch.queries.map(QueryBatch.tier).distinct.flatMap { tier =>
      val rs = all.filter(r => QueryBatch.queries.contains(r.ctx.op) && QueryBatch.tier(r.ctx.op) == tier)
      val perOp = rs.map { r =>
        val js = stats.jobsOf(r.ctx.group)
        val ss = js.flatMap(_.stageIds).toSet
        val ts = stats.tasksOf(ss)
        (js.size.toDouble, ss.size.toDouble, ts.map(_.shuffleWriteBytes).sum / 1e6,
          ts.map(_.spillBytes).sum / 1e6, ts.map(_.gcMs).sum.toDouble)
      }
      Seq(
        s"operators.$tier.plan_ms" -> mean(rs.flatMap(_.ctx.extra.get("plan_ms"))),
        s"operators.$tier.exec_ms" -> mean(rs.flatMap(_.ctx.extra.get("exec_ms"))),
        s"operators.$tier.jobs" -> mean(perOp.map(_._1)),
        s"operators.$tier.stages" -> mean(perOp.map(_._2)),
        s"operators.$tier.shuffle_mb" -> mean(perOp.map(_._3)),
        s"operators.$tier.spill_mb" -> mean(perOp.map(_._4)),
        s"operators.$tier.gc_ms" -> mean(perOp.map(_._5)))
    }

    // drift: completed-op rate in the last third of the window over the first
    val ok = all.filter(_.ok)
    val drift = if (ok.isEmpty) 0.0 else {
      val start = ok.map(_.ctx.startNs).min
      val third = (ok.map(_.ctx.endNs).max - start) / 3.0
      val first = ok.count(_.ctx.endNs - start <= third)
      val last = ok.count(_.ctx.endNs - start > 2 * third)
      if (first == 0) 0.0 else last.toDouble / first
    }

    spark ++ server ++ arrow ++ sources ++ queries ++ tiers ++ Map("drift.ops_per_s_ratio" -> drift)
  }
}
