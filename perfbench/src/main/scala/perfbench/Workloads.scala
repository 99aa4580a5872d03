package perfbench

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.arrow.ArrowBridge
import graft.datagen.Generators
import graft.dissociated.Dissociated
import graft.server.ArrowHttpServer
import graft.sources.ArrowsTableProvider

/** One benchmark workload: the op mix its clients run in a closed loop,
  * its set-up, and the per-layer probes of a traced run. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val refs: RefCache) {
  def clients: Int
  /** One block of the op mix. Every client runs whole blocks, each a
    * seeded permutation of this list, so every run measures the same
    * mix whatever the seed. */
  def mix: Seq[String]
  /** Per-op deadline; an op past it is failed by the watchdog. */
  def deadlineMs: Int
  /** Whether one unrecorded block runs before the window. */
  def warmUp: Boolean
  /** Client inputs and reference results: harness work, outside setup_s. */
  def prepare(): Unit = ()
  /** One repetition of the timed set-up; the median of several counts. */
  def setupRep(): Unit
  /** Harness checks after set-up, outside setup_s and the window. */
  def check(): Unit = ()
  def run(op: String, ctx: OpCtx, rng: Random): Unit
  /** After an op, outside its timing (traced runs collect listener data). */
  def afterOp(ctx: OpCtx): Unit = ()
  /** Single-threaded layer probes of a traced run, and the longest
    * they may take. */
  def probes(stats: SparkStats): Map[String, Double] = Map.empty
  def probesMs: Long = 0L
  /** Disk held under the server's temp spill root, in MB. */
  def spillDirMb: Double = 0.0
  def close(): Unit = ()
}

object Workload {
  val names = Seq("serve_bulk", "query_batch")

  def apply(name: String, spark: SparkSession, tracer: Tracer, refs: RefCache,
      dataDir: String, runDir: Path): Workload = name match {
    case "serve_bulk"  => new ServeBulk(spark, tracer, refs)
    case "query_batch" => new QueryBatch(spark, tracer, refs, dataDir, runDir)
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}

/** Bulk transfers from an in-process ArrowHttpServer, driven over HTTP:
  * bytes dominate. */
final class ServeBulk(spark: SparkSession, tracer: Tracer, refs: RefCache)
    extends Workload(spark, tracer, refs) {
  val clients = 2
  val mix = ServeBulk.Mix
  val deadlineMs = 30000
  val warmUp = true
  val BigRows = 1000000L
  val IngestRows = 1000000L
  val AbandonRows = 4000000L
  /** Its rows are also the first batch of every larger flightBench
    * stream: values depend on the row id only. */
  val FirstBatchRows = 4096L

  private var server: ArrowHttpServer = _
  private def base: String = server.baseUrl
  private def big = Generators.flightBench(spark, BigRows)
  private def ticker = Generators.ticker(spark, BigRows)
  private lazy val refBig = refs.checksum(s"flightBench-$BigRows")(Checksum.of(big))
  private lazy val refTicker = refs.checksum(s"ticker-$BigRows")(Checksum.of(ticker))
  private lazy val refFirstBatch = refs.checksum(s"flightBench-$FirstBatchRows")(
    Checksum.of(Generators.flightBench(spark, FirstBatchRows)))
  private var ingestBody: Array[Byte] = _

  /** Start a server, register the datasets and fill its spill cache. */
  def setupRep(): Unit = {
    if (server != null) server.stop()
    server = new ArrowHttpServer(spark).start()
    server.register("big", big)
    server.registerDict("ticker", ticker, Seq("ticker"))
    server.register("abandon", Generators.flightBench(spark, AbandonRows))
    Client.getJson(s"$base/qsplit/big")
    Client.getJson(s"$base/dissoc/info/big")
  }

  override def close(): Unit = if (server != null) server.stop()

  override def prepare(): Unit = {
    refBig
    refTicker
    refFirstBatch
    ingestBody = refs.bytes(s"flightBench-$IngestRows.arrows") {
      val out = new ByteArrayOutputStream()
      ArrowBridge.writeParallel(Generators.flightBench(spark, IngestRows), out)
      out.toByteArray
    }
  }

  def run(op: String, ctx: OpCtx, rng: Random): Unit = op match {
    case "get_identity" =>
      val got = getArrow(ctx, s"$base/q/big")
      Check(got == refBig, s"get_identity $got != $refBig")
    case "get_zstd" =>
      val got = getArrow(ctx, s"$base/q/ticker", Seq("Accept-Encoding" -> "zstd"))
      Check(got == refTicker, s"get_zstd $got != $refTicker")
    case "scan_dsv2" => scan(ctx, "url", s"$base/q/big", "sources")
    case "scan_dissoc" => scan(ctx, "dissoc", s"$base/dissoc/info/big", "dissoc")
    case "post_ingest" =>
      val (conn, wire) = Client.open(s"$base/ingest/ingest_c${ctx.client}", ctx, deadlineMs,
        method = "POST", headers = Seq("Content-Type" -> Client.ArrowMime), body = Some(ingestBody))
      try {
        val ack = new com.fasterxml.jackson.databind.ObjectMapper().readTree(wire.readAllBytes())
        Check(ack.path("rows").asLong() == IngestRows && ack.path("columns").asInt() == 4,
          s"post_ingest ack $ack")
      } finally {
        Client.closeWire(ctx, wire)
        conn.disconnect()
      }
    case "get_abandon" => abandon(ctx)
  }

  /** GET an Arrow stream and decode it, removing any HTTP coding. */
  private def getArrow(ctx: OpCtx, url: String, headers: Seq[(String, String)] = Nil,
      maxBatches: Int = Int.MaxValue): Checksum = {
    val (conn, wire) = Client.open(url, ctx, deadlineMs,
      headers = ("Accept" -> Client.ArrowMime) +: headers)
    try {
      val mime = Option(conn.getContentType).map(_.split(';')(0).trim)
      Check(mime.contains(Client.ArrowMime), s"content type ${conn.getContentType} from $url")
      val in = conn.getContentEncoding match {
        case null => wire
        case "zstd" => new com.github.luben.zstd.ZstdInputStream(wire)
        case other => throw new CheckFailed(s"unrequested coding $other from $url")
      }
      Client.decode(new BufferedInputStream(in, 1 << 16), ctx, wire, maxBatches)
    } finally {
      Client.closeWire(ctx, wire)
      conn.disconnect()
    }
  }

  private def abandon(ctx: OpCtx): Unit = {
    val got = getArrow(ctx, s"$base/q/abandon", maxBatches = 1)
    Check(got == refFirstBatch, s"get_abandon first batch $got != $refFirstBatch")
  }

  /** A DSv2 scan that reads every column: the checksum aggregation. */
  private def scan(ctx: OpCtx, option: String, url: String, layer: String): Unit = {
    val df = ctx.timed(s"$layer.load_ms")(spark.read.format("arrows").option(option, url).load())
    val agg = Checksum.aggregate(df)
    ctx.timed(s"$layer.plan_ms")(agg.queryExecution.executedPlan)
    val row = ctx.timed(s"$layer.exec_ms")(agg.head())
    val got = Checksum.fromRow(row, df.schema.size)
    Check(got == refBig, s"scan via $option $got != $refBig")
  }

  override def spillDirMb: Double = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val roots = Files.list(tmp)
    try roots.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("graft-qsplit"))
      .map(dirBytes).sum / 1e6
    finally roots.close()
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** abandonDrain alone may wait 20 s for the listener. */
  override val probesMs = 30000L
  override def probes(stats: SparkStats): Map[String, Double] = {
    val info = s"$base/dissoc/info/big"
    val infoMs = (1 to 5).map(_ => Workload.time(ArrowsTableProvider.dissocInfo(info))._2)
    val nParts = ArrowsTableProvider.dissocInfo(info)._2.size
    // reassemble captured channel bytes of up to four parts, off the socket
    val (ms, outBytes) = (0 until math.min(4, nParts)).map { i =>
      val meta = Client.getBytes(s"$base/dissoc/meta/big/$i")
      val body = Client.getBytes(s"$base/dissoc/data/big/$i")
      val sink = new CountingSink
      val (_, t) = Workload.time(Dissociated.reassemble(
        new ByteArrayInputStream(meta), new ByteArrayInputStream(body), sink))
      (t, sink.bytes)
    }.foldLeft((0.0, 0L)) { case ((a, b), (t, n)) => (a + t, b + n) }
    arrowProbes() ++ abandonDrain(stats) ++ Map(
      "dissociated.info_ms" -> Stats.median(infoMs),
      "dissociated.reassemble_ms_per_mb" -> (if (outBytes > 0) ms / (outBytes / 1e6) else 0.0))
  }

  /** Open /q/ on the 4M-row dataset alone, read one batch, close the
    * socket, then see what Spark still runs. */
  private def abandonDrain(stats: SparkStats): Map[String, Double] = {
    stats.drain()
    abandon(new OpCtx(-1, "get_abandon", -1, 0, tracer))
    val closedMs = System.currentTimeMillis()
    Thread.sleep(500)
    stats.drain(15000)
    val after = stats.jobsIn(closedMs, Long.MaxValue)
    val lastTask = stats.tasks.asScala.map(_.finishMs).filter(_ > closedMs)
    Map("spark.jobs_after_abandon" -> after.size.toDouble,
      "spark.drain_after_abandon_ms" -> (if (lastTask.isEmpty) 0.0 else (lastTask.max - closedMs).toDouble))
  }

  /** Single-threaded encode and read probes on the workload's own
    * datasets: the ingest body's 1M rows, and the first-batch rows. */
  private def arrowProbes(): Map[String, Double] = {
    val bulk = Generators.flightBench(spark, IngestRows)
    val first = Generators.flightBench(spark, FirstBatchRows)
    val small = (1 to 5).map(_ => Workload.time(ArrowBridge.writeParallel(first, new CountingSink))._2)
    val sink = new CountingSink
    val (_, encMs) = Workload.time(ArrowBridge.writeParallel(bulk, sink))
    val ((_, _, zBytes), zMs) = Workload.time(ArrowBridge.writeParallelZstd(bulk, new CountingSink))
    val (_, readMs) = Workload.time {
      val r = ArrowBridge.read(new ByteArrayInputStream(ingestBody))
      try r.rows.foreach(_ => ()) finally r.close()
    }
    Map("arrow.encode_small_ms" -> Stats.median(small),
      "arrow.encode_ms_per_mb" -> encMs / (sink.bytes / 1e6),
      "arrow.encode_zstd_ms_per_mb" -> zMs / (zBytes / 1e6),
      "arrow.read_ms_per_mb" -> readMs / (ingestBody.length / 1e6))
  }
}

object ServeBulk {
  val Mix = Seq("get_identity", "get_zstd", "scan_dsv2", "scan_dissoc", "post_ingest", "get_abandon")
  /** The ops that GET and decode an Arrow stream. */
  val Streamed = Seq("get_identity", "get_zstd", "get_abandon")
}

/** Oracle-checked queries materialized through the noop sink, no HTTP. */
final class QueryBatch(spark: SparkSession, tracer: Tracer, refs: RefCache, dataDir: String,
    runDir: Path) extends Workload(spark, tracer, refs) {
  val clients = 1
  /** A warm query at sf0.01 takes a few seconds. */
  val deadlineMs = 30000
  /** The check pass is each query's first, cold run. */
  val warmUp = false
  val mix = QueryBatch.queries
  private val fns = graft.SparkEntry.queries
  private val checkedRows = scala.collection.concurrent.TrieMap[String, Long]()
  var phases: QueryPhases = _

  /** Open every table the queries read. */
  def setupRep(): Unit = graft.Tables.names.foreach(t => graft.Tables.load(spark, dataDir, t).schema)

  /** One run of every query, written to parquet (one directory per
    * query, as graft.Verify writes them) for the DuckDB oracle check
    * that run.py makes, with its row count kept for the timed runs. It
    * is also each query's cold first execution. */
  override def check(): Unit = {
    val dir = runDir.resolve("check")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try mix.map { q =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val out = dir.resolve(q).toString
          fns(q)(spark, dataDir).write.mode("overwrite").parquet(out)
          checkedRows(q) = spark.read.parquet(out).count()
        }
      })
    }.foreach(_.get()) finally pool.shutdown()
  }

  def run(op: String, ctx: OpCtx, rng: Random): Unit = {
    val obs = Observation(s"rows_${ctx.id}")
    fns(op)(spark, dataDir).observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    val rows = obs.get("rows").asInstanceOf[Long]
    Check(rows == checkedRows(op), s"$op returned $rows rows, checked run had ${checkedRows(op)}")
  }

  /** Planning and execution time of the op's query executions; there is
    * one client, so every execution between its start and its noop
    * write belongs to it. */
  override def afterOp(ctx: OpCtx): Unit = if (phases != null) {
    val until = System.nanoTime() + 3000L * 1000000L
    def mine = phases.done.asScala.filter(d => d.atNs >= ctx.startNs).toSeq
    while (!mine.exists(_.funcName == "overwrite") && System.nanoTime() < until) Thread.sleep(5)
    val ds = mine
    ctx.extra("plan_ms") = ds.map(_.planMs).sum
    ctx.extra("exec_ms") = ds.filter(_.funcName == "overwrite").map(_.execMs).sum
    phases.done.removeIf(d => d.atNs >= ctx.startNs)
  }
}

object QueryBatch {
  /** run.py's QUERIES keeps the same list. */
  val queries = Seq(
    "q05_local_supplier_volume", "q48_price_deciles", "q50_basket_pairs",
    "q58_market_share", "d03_minhash_lsh_pairs", "d13_containment_complete",
    "d24_soft_dedup_weights", "d28_cluster_keeper", "s25_kmeans_churn",
    "s31_quantization_sheet", "t18_keyword_tfidf", "p25_shard_dedup_leakage",
    "m23_caption_transfer")

  def tier(q: String): String = q.head match {
    case 'q' => "relational"
    case 'd' => "dedup"
    case 's' => "similarity"
    case 't' => "text"
    case 'm' => "multimodal"
    case 'p' => "pipeline"
  }
}
