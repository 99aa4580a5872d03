package graft

import scala.jdk.CollectionConverters._

/** The transport/client section of the bench, as its OWN main so it
  * always runs in a fresh JVM (r13 verdict #2): the full 162-cell query
  * battery leaves the session heap at tens of GB, and the late-running
  * transport cells then measured 1.4–10.9× slower in the committed
  * driver artifact than the same paths isolated on the same box
  * (fan-out 29.96 s artifact vs 2.75 s isolated; 100M loop 10.42 vs
  * 6.57). The between-cell GC checkpoints fixed the query cells but
  * not this section — the honest fix is process isolation, which
  * isolated reruns of the loop already proved out
  * (`bench/r7_loop_recheck.jsonl`).
  *
  * [[Bench]] execs this main as a subprocess (same JVM flags, same
  * classpath, same env knobs) and merges the per-cell reps from the
  * machine-readable stdout lines:
  *
  *   TCELL <name> <rep1> <rep2> ...     seconds per rep
  *   TRSS <name> <mb>                   VmRSS after the cell
  *   TRANSPORTDONE                      clean-exit marker
  *
  * Run standalone for diagnosis: `sbt "runMain graft.TransportBench"`.
  * Env knobs are Bench's: SPARK_GRAFT_BENCH_ROWS,
  * SPARK_GRAFT_BENCH_FULL, SPARK_GRAFT_BENCH_LOOP_REPS,
  * SPARK_GRAFT_BENCH_MP_BYTES.
  */
object TransportBench {
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def rssMb(): Long =
    try {
      java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmRSS"))
        .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)
    } catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-transport-bench")
    val loopReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOOP_REPS", "3").toInt
    val benchFull = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "1") == "1"

    def emit(name: String, reps: Seq[Double]): Unit = {
      println(("TCELL " + name) +
        reps.map(s => f" $s%.3f").mkString)
      println(s"TRSS $name ${rssMb()}")
    }

    /** get_simple loop: rows × 4 int64 (reference payload schema,
      * 4096-row batches) served over localhost HTTP, read back through
      * the arrows source's /qsplit parallel path. */
    def arrowsLoop(rows: Long): (Double, Long) = {
      var batches = 0L
      val secs = timed {
        val server = new graft.server.ArrowHttpServer(spark)
        server.register("bench", graft.datagen.Generators.flightBench(spark, rows))
        server.start()
        try {
          val df = spark.read.format("arrows")
            .option("url", s"${server.baseUrl}/q/bench").load()
          val n = df.count()
          require(n == rows, s"arrows loop read $n rows, expected $rows")
          // actual batch count of the stream that was read: sum each
          // served part's /offsets index (not derived from row count)
          val parts = graft.sources.ArrowsTableProvider
            .probeSplits(s"${server.baseUrl}/q/bench")
          batches = parts.map { p =>
            val oc = java.net.URI.create(p.uri.replace("/files/", "/offsets/"))
              .toURL.openConnection()
            oc.setConnectTimeout(30000); oc.setReadTimeout(180000)
            oc.setRequestProperty("Connection", "close")
            val oj = new String(oc.getInputStream.readAllBytes(), "UTF-8")
            "\\[(\\d+),(\\d+)\\]".r.findAllMatchIn(oj).size.toLong
          }.sum
        } finally server.stop()
      }
      (secs, batches)
    }

    def runLoops(): Unit = {
    locally {
      val rows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "10000000").toLong
      val trials = (1 to loopReps).map(_ => arrowsLoop(rows))
      emit("arrows_http_loop_10m", trials.map(_._1))
      val best = trials.minBy(_._1)
      System.err.println(
        f"arrows loop: ${best._2} record batches received, ${best._1}%.2f seconds elapsed (min of $loopReps)")
    }

    System.gc()

    // get_compressed-scale throughput: the ~1 GB ticker payload (42M
    // rows), dictionary-encoded ticker column AND zstd HTTP
    // content-coding actually negotiated by the client, read back
    // through a raw Arrow client that decompresses and decodes.
    if (benchFull) {
      val tickerRows = 42000000L
      def tickerLoop(): (Double, Long) = {
        var batches = 0L
        val secs = timed {
          val server = new graft.server.ArrowHttpServer(spark)
          server.registerDict("ticker",
            graft.datagen.Generators.ticker(spark, tickerRows), Seq("ticker"))
          server.start()
          try {
            val conn = java.net.URI.create(s"${server.baseUrl}/q/ticker").toURL
              .openConnection().asInstanceOf[java.net.HttpURLConnection]
            conn.setConnectTimeout(30000); conn.setReadTimeout(180000)
            conn.setRequestProperty("Connection", "close")
            conn.setRequestProperty("Accept-Encoding", "zstd")
            val coding = conn.getHeaderField("Content-Encoding")
            require(coding == "zstd", s"expected zstd negotiation, got $coding")
            val in = new com.github.luben.zstd.ZstdInputStream(
              new java.io.BufferedInputStream(conn.getInputStream, 1 << 16))
            val alloc = graft.arrow.ArrowBridge.newAllocator("bench-ticker")
            val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(in, alloc)
            var rows = 0L
            while (reader.loadNextBatch()) {
              rows += reader.getVectorSchemaRoot.getRowCount; batches += 1
            }
            reader.close(); alloc.close()
            require(rows == tickerRows, s"ticker loop read $rows rows, expected $tickerRows")
          } finally server.stop()
        }
        (secs, batches)
      }
      val trials = (1 to loopReps).map(_ => tickerLoop())
      emit("ticker_compressed_loop_42m", trials.map(_._1))
      val best = trials.minBy(_._1)
      System.err.println(
        f"ticker compressed loop 42M (zstd + dict): ${best._2} record batches received, ${best._1}%.2f seconds elapsed (min of $loopReps)")
    }

    // Dissociated dual-channel DSv2 read loops: the reference
    // dissociated client's loop (cudf-flight-client.cc:51-325) at
    // get_simple scale, through the public read path. Server startup +
    // one-time spill registration hoisted OUT of the timed region (r11
    // rule); single-pair = the reference client's exact shape, fan-out
    // = the published channel pairs packed into read tasks by Spark's
    // file-packing rule (ArrowsScan.pack).
    if (benchFull) {
      val dRows = 10000000L
      val server = new graft.server.ArrowHttpServer(spark)
      server.register("dloop", graft.datagen.Generators.flightBench(spark, dRows))
      server.start()
      try {
        def dissocLoop(fanout: Boolean): Double = timed {
          val n = spark.read.format("arrows")
            .option("dissoc", s"${server.baseUrl}/dissoc/info/dloop")
            .option("dissocfanout", fanout.toString).load().count()
          require(n == dRows, s"dissoc loop read $n rows, expected $dRows")
        }
        val single = (1 to loopReps).map(_ => dissocLoop(fanout = false))
        emit("arrows_dissoc_single_10m", single)
        System.err.println(
          f"dissoc dual-channel single-pair loop 10M: ${single.min}%.2f seconds elapsed (min of $loopReps)")
      } finally server.stop()
    }

    if (benchFull) {
      val fRows = 30000000L
      val server = new graft.server.ArrowHttpServer(spark)
      server.register("dfan", graft.datagen.Generators.flightBench(spark, fRows))
      server.start()
      try {
        def fanLoop(): Double = timed {
          val n = spark.read.format("arrows")
            .option("dissoc", s"${server.baseUrl}/dissoc/info/dfan").load().count()
          require(n == fRows, s"dissoc fanout loop read $n rows, expected $fRows")
        }
        // rep 1 additionally pays the server-side one-time ~1 GB spill
        val fan = (1 to loopReps).map(_ => fanLoop())
        emit("arrows_dissoc_fanout_30m", fan)
        System.err.println(
          f"dissoc fan-out loop 30M: ${fan.min}%.2f seconds elapsed (min of $loopReps)")
      } finally server.stop()
    }

    // client timing breakdown (time-to-schema / time-to-first-batch /
    // total), the get_compressed client's mandated metrics — measured
    // with a raw arrow-java client against a 1M-row serve. r15 (r14
    // verdict #4): min-of-3 like every other cell — these three were
    // single-rep, so one host-load spike or stale-connection TCP stall
    // landed straight in the artifact (the r14 0.007–0.019×
    // "regressions" at 32 cores were exactly that).
    locally {
      val server = new graft.server.ArrowHttpServer(spark)
      server.register("t", graft.datagen.Generators.flightBench(spark, 1000000))
      server.start()
      try {
        val trials = (1 to loopReps).map { _ =>
          val t0 = System.nanoTime()
          val tc = java.net.URI.create(s"${server.baseUrl}/q/t").toURL.openConnection()
          tc.setConnectTimeout(30000); tc.setReadTimeout(180000)
          tc.setRequestProperty("Connection", "close") // no stale-pool checkout
          val in = tc.getInputStream
          val alloc = graft.arrow.ArrowBridge.newAllocator("bench-tts")
          val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(in, alloc)
          reader.getVectorSchemaRoot.getSchema
          val tSchema = (System.nanoTime() - t0) / 1e9
          reader.loadNextBatch()
          val tFirst = (System.nanoTime() - t0) / 1e9
          var nb = 1L
          while (reader.loadNextBatch()) nb += 1
          val tTotal = (System.nanoTime() - t0) / 1e9
          reader.close(); alloc.close()
          (tSchema, tFirst, tTotal, nb)
        }
        emit("arrows_time_to_schema", trials.map(_._1))
        emit("arrows_time_to_first_batch", trials.map(_._2))
        emit("arrows_client_total_1m", trials.map(_._3))
        val best = trials.minBy(_._3)
        System.err.println(
          f"client metrics (1M rows): schema ${best._1}%.3f s, first batch ${best._2}%.3f s, total ${best._3}%.2f s, ${best._4} batches (min of $loopReps)")
      } finally server.stop()
    }

    System.gc()

    // The full-scale reference payload (http/get_simple: 100M rows,
    // ~24.4k batches) — the one BASELINE.md throughput figure: a 3.2 GB
    // serve+read loop, internally parallel on both sides. Runs LAST:
    // its working set (spill + page cache + reader vectors) is the
    // section's largest by 3×, and on a host with thin memory backing
    // (r14 diagnosis: guest page cache re-reads degrade to host-swap
    // speed once the footprint crosses the backing) it must not be able
    // to poison the smaller cells' timings.
    if (benchFull) {
      val trials = (1 to loopReps).map(_ => arrowsLoop(100000000L))
      emit("arrows_http_loop_100m", trials.map(_._1))
      val best = trials.minBy(_._1)
      System.err.println(
        f"arrows loop 100M: ${best._2} record batches received, ${best._1}%.2f seconds elapsed (min of $loopReps)")
    }
    } // runLoops

    // Multipart parse overhead — the reference's one measured perf
    // lesson (naive parse = 85% of total fetch time on a ~1 GB body,
    // http/get_multipart/python/client/README.md:41-49). Same in-memory
    // body through both parsers, isolating parse cost from transport:
    //   naive     = buffer the whole body, scan, copy each part out
    //   streaming = MultipartStream, O(chunk) memory, zero part copies
    // Defined here, CALLED FIRST (before the loops): the naive parser
    // holds ~3.2 GB of 1-GiB humongous arrays live at once, which needs
    // a clean unfragmented G1 heap — run after the serve loops it OOMed
    // the 8 GB child (r14), while the loops themselves are indifferent
    // to ordering.
    def multipartSection(): Unit = if (benchFull) {
      val boundary = "bench0123456789benchBENCHbench0123456"
      val bodySize = // ~1 GiB binary middle part by default
        sys.env.getOrElse("SPARK_GRAFT_BENCH_MP_BYTES", (1L << 30).toString).toLong
      val head = ("\r\n--" + boundary + "\r\nContent-Type: application/json\r\n\r\n" +
        """{"name":"bench"}""" +
        "\r\n--" + boundary + "\r\nContent-Type: application/vnd.apache.arrow.stream\r\n\r\n")
        .getBytes("UTF-8")
      val foot = ("\r\n--" + boundary + "\r\nContent-Type: text/plain\r\n\r\nok\r\n--" +
        boundary + "--\r\n").getBytes("UTF-8")
      val body = new Array[Byte](head.length + bodySize.toInt + foot.length)
      System.arraycopy(head, 0, body, 0, head.length)
      java.util.Arrays.fill(body, head.length, head.length + bodySize.toInt, 0x41.toByte)
      // sprinkle \r so the delimiter first-byte check actually fires
      var p = head.length
      while (p < head.length + bodySize.toInt) { body(p) = '\r'; p += 4093 }
      System.arraycopy(foot, 0, body, head.length + bodySize.toInt, foot.length)
      val delim = ("\r\n--" + boundary).getBytes("UTF-8")

      // r13 ADVICE #2: the full-body buffer allocation is back INSIDE
      // the timed region — a buffer-everything client pays readAllBytes'
      // allocation per request, and hoisting it understated the naive
      // baseline r13 measured (comparable again with r12-and-earlier
      // numbers). A small untimed warm rep below still primes codegen
      // paths; the fresh-JVM section has the headroom the old in-session
      // placement lacked (the r13 OOM class).
      def naiveParse(): Long = {
        // emulate a buffer-everything client: full-body copy stands in
        // for readAllBytes, then boundary scan + per-part copy
        val buf = java.util.Arrays.copyOf(body, body.length)
        def find(from: Int): Int = {
          var i = from
          while (i <= buf.length - delim.length) {
            if (buf(i) == delim(0)) {
              var j = 1
              while (j < delim.length && buf(i + j) == delim(j)) j += 1
              if (j == delim.length) return i
            }
            i += 1
          }
          -1
        }
        var total = 0L
        var at = find(0)
        while (at >= 0) {
          val next = find(at + delim.length)
          if (next >= 0) {
            var bodyStart = at + delim.length
            // skip part headers: find \r\n\r\n
            while (bodyStart < next && !(buf(bodyStart) == '\r' && buf(bodyStart + 1) == '\n'
              && buf(bodyStart + 2) == '\r' && buf(bodyStart + 3) == '\n')) bodyStart += 1
            bodyStart += 4
            val part = java.util.Arrays.copyOfRange(buf, bodyStart, next)
            total += part.length
          }
          at = next
        }
        total
      }

      def streamParse(): Long = {
        var total = 0L
        val chunk = new Array[Byte](64 * 1024)
        graft.server.MultipartStream.parse(
          new java.io.ByteArrayInputStream(body), boundary) { part =>
          var n = part.body.read(chunk)
          while (n != -1) { total += n; n = part.body.read(chunk) }
        }
        total
      }

      // r14: the warm rep the comment above promises is now real — the
      // first naive rep pays JIT compilation of the byte-scan loops AND
      // first-touch of ~3 GiB of humongous G1 regions, which measured
      // 4.8–34 s against a 3.6 s steady state depending on box load.
      // One untimed warm rep per parser; every timed rep still pays the
      // full buffer allocation + scan + part copies (the r13 ADVICE #2
      // contract). Deliberately NO System.gc() between reps: a G1 full
      // collection right before a rep measured the STREAMING parse
      // 2-3× slower — post-full-GC heap resizing lands inside the timed
      // region. min-of-3 plus the warm rep is the house noise defense.
      naiveParse(); streamParse()
      val naiveReps = (1 to 3).map(_ => timed { naiveParse() })
      val streamReps = (1 to 3).map(_ => timed { streamParse() })
      val (tNaive, tStream) = (naiveReps.min, streamReps.min)
      // full rep vectors into the runs artifact (house rule: noisy
      // rounds stay diagnosable), min only for the narration line
      emit("multipart_naive_parse_1g", naiveReps)
      emit("multipart_stream_parse_1g", streamReps)
      System.err.println(
        f"multipart 1 GiB parse: naive $tNaive%.2f s, streaming $tStream%.2f s")
    }

    multipartSection()
    // between-section checkpoint (Bench's r12 move): the multipart
    // arrays are dead here — collect them so no loop cell is taxed for
    // them, and so the humongous regions return to the free set
    System.gc()

    runLoops()

    println("TRANSPORTDONE")
    spark.stop()
  }
}
