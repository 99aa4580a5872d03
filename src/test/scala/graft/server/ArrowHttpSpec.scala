package graft.server

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.arrow.{ArrowBridge, DriverRows}
import graft.datagen.Generators

class ArrowHttpSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("arrow-http-spec", "4").getOrCreate()

  lazy val server: ArrowHttpServer = {
    val s = new ArrowHttpServer(spark)
    s.register("ticker", Generators.ticker(spark, 5000, 2))
    s.register("bench", Generators.flightBench(spark, 10000, 2))
    s.start()
    serverStarted = true
    s
  }
  private var serverStarted = false

  /** Temp files and directories the tests make; deleted after the server stops. */
  private val temps = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
  private def temp(p: java.nio.file.Path): java.nio.file.Path = { temps += p; p }

  // stopping the server removes its qsplit spill directory
  override def afterAll(): Unit =
    try if (serverStarted) server.stop()
    finally {
      temps.foreach(graft.TempDirs.delete)
      super.afterAll()
    }

  private def get(path: String, headers: Map[String, String] = Map.empty)
      : (Int, Map[String, String], Array[Byte]) = {
    val conn = URI.create(server.baseUrl + path).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val code = conn.getResponseCode
    val body = new ByteArrayOutputStream()
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    if (in != null) {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n != -1) { body.write(buf, 0, n); n = in.read(buf) }
      in.close()
    }
    val hs = conn.getHeaderFields.entrySet().iterator()
    val hmap = scala.collection.mutable.Map[String, String]()
    while (hs.hasNext) {
      val e = hs.next()
      if (e.getKey != null) hmap(e.getKey.toLowerCase) = e.getValue.get(0)
    }
    (code, hmap.toMap, body.toByteArray)
  }

  test("GET /q streams a decodable Arrow stream with correct rows") {
    val (code, headers, body) = get("/q/ticker")
    assert(code === 200)
    assert(headers("content-type").startsWith(Negotiation.ArrowMime))
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
    val rows = res.rows.toVector
    res.close()
    assert(rows.size === 5000)
    assert(rows.forall(_.getLong(1) % 100 == 0))
  }

  test("DSv2 url read: format(arrows) over our own server") {
    val df = spark.read.format("arrows")
      .option("url", s"${server.baseUrl}/q/bench").load()
    assert(df.schema.fieldNames.toSeq === Seq("a", "b", "c", "d"))
    assert(df.count() === 10000)
    // values equal the generated frame
    val want = Generators.flightBench(spark, 10000, 2)
    assert(df.except(want).count() === 0 && want.except(df).count() === 0)
  }

  test("qsplit: dynamic serve spills to parts; DSv2 read fans out N partitions") {
    val (code, _, body) = get("/qsplit/bench")
    assert(code === 200)
    val uris = "\"uri\": \"([^\"]+)\"".r.findAllMatchIn(new String(body, UTF_8))
      .map(_.group(1)).toVector
    assert(uris.size === 2, s"expected one URI per partition, got $uris") // 2 input partitions
    // the split-aware read packs the part files into tasks (two parts
    // no bigger than the open cost each, at 4 pinned cores, stay one
    // task each) and returns the same rows as the single-stream read
    graft.SqlConfs.withConf(spark, graft.SqlConfs.PinnedPacking: _*) {
      val df = spark.read.format("arrows")
        .option("url", s"${server.baseUrl}/q/bench").load()
      assert(df.rdd.getNumPartitions === 2, df.rdd.getNumPartitions.toString)
      assert(df.count() === 10000)
      val single = spark.read.format("arrows")
        .option("split", "false")
        .option("url", s"${server.baseUrl}/q/bench").load()
      assert(single.rdd.getNumPartitions === 1)
      assert(df.except(single).count() === 0 && single.except(df).count() === 0)
    }
  }

  test("negotiation: zstd HTTP coding round-trips") {
    val (code, headers, body) = get("/q/ticker", Map("Accept-Encoding" -> "zstd"))
    assert(code === 200)
    assert(headers.get("content-encoding").contains("zstd"))
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(body))
    val res = ArrowBridge.read(in)
    assert(res.rows.size === 5000)
    res.close()
  }

  test("zstd parallel frames: decompressed bytes identical to identity serve") {
    // the zstd serve codes each partition as an independent zstd frame
    // inside its Spark task (writeParallel). Concatenated-frame decode
    // must yield EXACTLY the identity stream — same schema header, same
    // single leading dictionary (duplicates stripped), same partition
    // order, one EOS. A dict-encoded multi-partition dataset covers the
    // trickiest path.
    server.registerDict("ticker_dict", Generators.ticker(spark, 5000, 2), Seq("ticker"))
    val (ci, _, identity) = get("/q/ticker_dict", Map("Accept-Encoding" -> "identity"))
    val (cz, zh, z) = get("/q/ticker_dict", Map("Accept-Encoding" -> "zstd"))
    assert(ci === 200 && cz === 200)
    assert(zh.get("content-encoding").contains("zstd"))
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(z))
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n != -1) { bos.write(buf, 0, n); n = in.read(buf) }
    in.close()
    assert(java.util.Arrays.equals(bos.toByteArray, identity),
      s"zstd-decoded ${bos.size} B != identity ${identity.length} B")
  }

  test("zstd serve: the schema decodes before the last partition finishes") {
    // the relay writes the (coded) schema before any partition result;
    // a dataset whose last partition is held on a latch must still let
    // a zstd client decode its schema
    val base = Generators.flightBench(spark, 4000, 4)
    val gated = spark.createDataFrame(base.rdd.mapPartitionsWithIndex { (i, it) =>
      if (i == 3) FirstByteGate.latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
      it
    }, base.schema)
    FirstByteGate.latch = new java.util.concurrent.CountDownLatch(1)
    server.register("gated", gated)
    val conn = URI.create(server.baseUrl + "/q/gated").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestProperty("Accept-Encoding", "zstd")
    val alloc = ArrowBridge.newAllocator("first-byte-spec")
    try {
      val reader = try {
        scala.concurrent.Await.result(scala.concurrent.Future {
          val r = new org.apache.arrow.vector.ipc.ArrowStreamReader(
            new com.github.luben.zstd.ZstdInputStream(conn.getInputStream), alloc)
          assert(r.getVectorSchemaRoot.getSchema.getFields.size === 4)
          r
        }(scala.concurrent.ExecutionContext.global), scala.concurrent.duration.Duration(30, "s"))
      } finally {
        val held = FirstByteGate.latch.getCount
        FirstByteGate.latch.countDown()
        assert(held === 1, "the last partition was released early")
      }
      var rows = 0L
      while (reader.loadNextBatch()) rows += reader.getVectorSchemaRoot.getRowCount
      reader.close()
      assert(rows === 4000)
    } finally alloc.close()
  }

  test("negotiation: gzip HTTP coding round-trips (matrix completeness)") {
    val (code, headers, body) = get("/q/ticker", Map("Accept-Encoding" -> "gzip"))
    assert(code === 200)
    assert(headers.get("content-encoding").contains("gzip"))
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(body))
    val res = ArrowBridge.read(in)
    assert(res.rows.size === 5000)
    res.close()
  }

  test("negotiation: br coding round-trips; client q ranks it over gzip") {
    // the reference client's explicit-br case (client.py:89-96): a
    // higher client q on br must beat gzip even though the server ranks
    // zstd first among EQUALS — zstd is absent from this Accept-Encoding
    val (code, headers, body) = get("/q/ticker",
      Map("Accept-Encoding" -> "gzip;q=0.9, br"))
    assert(code === 200)
    assert(headers.get("content-encoding").contains("br"))
    val in = new Brotli.BrotliStoredInputStream(new java.io.ByteArrayInputStream(body))
    val res = ArrowBridge.read(in)
    assert(res.rows.size === 5000)
    res.close()
  }

  test("negotiation: server preference order is zstd > br > gzip at equal q") {
    val (code, headers, _) = get("/q/ticker",
      Map("Accept-Encoding" -> "br, gzip, zstd"))
    assert(code === 200)
    assert(headers.get("content-encoding").contains("zstd"))
  }

  test("DSv2 read decodes a br-coded serve end-to-end") {
    val df = spark.read.format("arrows")
      .option("url", s"${server.baseUrl}/q/ticker")
      .option("acceptEncoding", "br")
      .option("split", "false").load()
    assert(df.count() === 5000)
  }

  test("negotiation: IPC codecs param wins and is echoed") {
    val (code, headers, body) = get("/q/ticker",
      Map("Accept" -> s"""${Negotiation.ArrowMime}; codecs="zstd, lz4""""))
    assert(code === 200)
    assert(headers("content-type").contains("codecs=\"zstd\""))
    assert(!headers.contains("content-encoding"))
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
    assert(res.rows.size === 5000)
    res.close()
  }

  test("negotiation: identity;q=0 without alternatives yields 406") {
    // "compress" is genuinely unsupported (br no longer is — it moved
    // into the coding matrix when the stored-mode codec landed)
    val (code, _, body) = get("/q/ticker",
      Map("Accept-Encoding" -> "identity;q=0, compress"))
    assert(code === 406)
    assert(new String(body, UTF_8).contains("no acceptable"))
  }

  test("multipart/mixed: four parts parse by streaming scanner; digest verifies") {
    val (code, headers, body) = get("/multipart/ticker")
    assert(code === 200)
    val ct = headers("content-type")
    assert(ct.startsWith("multipart/mixed"))
    val boundary = ct.split("boundary=\"")(1).stripSuffix("\"")
    var kinds = Vector[String]()
    var arrowRows = -1
    var json = ""
    var footnotes = ""
    var digestLine = ""
    var arrowSha = ""
    MultipartStream.parse(new java.io.ByteArrayInputStream(body), boundary) { part =>
      val ct = part.headers("content-type")
      kinds :+= ct
      if (ct == "application/json")
        json = new String(part.body.readAllBytes(), UTF_8)
      else if (ct == Negotiation.ArrowMime) {
        // hash the part's exact bytes AND decode them (tee via buffer)
        val raw = part.body.readAllBytes()
        arrowSha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(raw).map("%02x".format(_)).mkString
        val res = ArrowBridge.read(new java.io.ByteArrayInputStream(raw))
        arrowRows = res.rows.size
        res.close()
      } else if (ct == "application/vnd.graft.digest")
        digestLine = new String(part.body.readAllBytes(), UTF_8)
      else footnotes = new String(part.body.readAllBytes(), UTF_8)
    }
    assert(kinds === Vector("application/json", Negotiation.ArrowMime, "text/plain",
      "application/vnd.graft.digest"))
    assert(json.contains(""""name":"ticker""""))
    assert(arrowRows === 5000)
    assert(footnotes.contains("record batches sent"))
    assert(footnotes.contains("seconds elapsed"))
    // the digest part names the sha256 of the Arrow part's exact bytes
    assert(digestLine.startsWith(s"sha256:$arrowSha bytes:"), digestLine)
  }

  test("registerDict refuses high-cardinality columns, pointing at the delta path") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // one distinct value per row — far over MaxDictValues
    val wide = Generators.flightBench(spark, ArrowHttpServer.MaxDictValues + 64, 2)
      .select(concat(lit("v"), col("a")).as("k"))
    val e = intercept[IllegalArgumentException] {
      server.registerDict("too_wide", wide, Seq("k"))
    }
    assert(e.getMessage.contains("registerDictDelta"))
    // the failed register must not leave a half-registered dataset
    assert(get("/q/too_wide")._1 === 404)
  }

  test("dictionary-encoded serving: smaller wire, decodes via bridge and DSv2") {
    val df = Generators.ticker(spark, 5000, 2)
    server.registerDict("ticker_dict", df, Seq("ticker"))
    val (code, _, body) = get("/q/ticker_dict")
    assert(code === 200)
    val (_, _, plain) = get("/q/ticker")
    assert(body.length < plain.length) // dictionary indices < repeated strings
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
    val rows = res.rows.toVector
    res.close()
    assert(rows.size === 5000)
    assert(rows.map(_.getString(0)).distinct.size === 60)
    // DSv2 row-reader path decodes dictionaries too
    val viaSource = spark.read.format("arrows")
      .option("split", "false")
      .option("url", s"${server.baseUrl}/q/ticker_dict").load()
    assert(viaSource.select("ticker").distinct().count() === 60)
    assert(viaSource.count() === 5000)

    // the parallel relay keeps exactly ONE dictionary message on the
    // wire even though both partitions serialize one
    def readIntLE(a: Array[Byte], off: Int): Int =
      (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) |
        ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)
    var off = 0
    var dicts = 0
    var batchMsgs = 0
    var done = false
    while (!done && off < body.length) {
      assert(readIntLE(body, off) === -1)
      val metaLen = readIntLE(body, off + 4)
      if (metaLen == 0) done = true
      else {
        val header = java.nio.ByteBuffer.wrap(body, off + 8, metaLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val msg = org.apache.arrow.flatbuf.Message.getRootAsMessage(header)
        msg.headerType() match {
          case org.apache.arrow.flatbuf.MessageHeader.DictionaryBatch => dicts += 1
          case org.apache.arrow.flatbuf.MessageHeader.RecordBatch => batchMsgs += 1
          case _ => ()
        }
        off += 8 + metaLen + msg.bodyLength().toInt
      }
    }
    assert(dicts === 1, s"expected one dictionary message, saw $dicts")
    assert(batchMsgs >= 2, s"expected parallel per-partition batches, saw $batchMsgs")
  }

  test("delta-dictionary serving: growing dict, no pre-scan, DSv2-decodable") {
    // batches see new tickers as the stream progresses, so the serve
    // must emit delta dictionary messages mid-stream (one full + >= 1
    // delta) — the single-pass path with no distinct() pre-scan
    val df = Generators.ticker(spark, 5000, 2)
      .orderBy("ticker").coalesce(1) // value set grows across batches
    server.registerDictDelta("ticker_delta", df, Seq("ticker"))
    val (code, _, body) = get("/q/ticker_delta")
    assert(code === 200)

    def readIntLE(a: Array[Byte], off: Int): Int =
      (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) |
        ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)
    var off = 0
    var fullDicts = 0
    var deltaDicts = 0
    var done = false
    while (!done && off < body.length) {
      assert(readIntLE(body, off) === -1)
      val metaLen = readIntLE(body, off + 4)
      if (metaLen == 0) done = true
      else {
        val header = java.nio.ByteBuffer.wrap(body, off + 8, metaLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val msg = org.apache.arrow.flatbuf.Message.getRootAsMessage(header)
        if (msg.headerType() == org.apache.arrow.flatbuf.MessageHeader.DictionaryBatch) {
          val db = msg.header(new org.apache.arrow.flatbuf.DictionaryBatch())
            .asInstanceOf[org.apache.arrow.flatbuf.DictionaryBatch]
          if (db.isDelta) deltaDicts += 1 else fullDicts += 1
        }
        off += 8 + metaLen + msg.bodyLength().toInt
      }
    }
    assert(fullDicts === 1, s"expected one full dictionary, saw $fullDicts")
    assert(deltaDicts >= 1, s"expected mid-stream delta dictionaries, saw $deltaDicts")

    // bridge reader decodes (arrow-java appends deltas)
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
    val rows = res.rows.toVector
    res.close()
    assert(rows.size === 5000)
    assert(rows.map(_.getString(0)).distinct.size === 60)

    // DSv2 path decodes it too
    val viaSource = spark.read.format("arrows")
      .option("split", "false")
      .option("url", s"${server.baseUrl}/q/ticker_delta").load()
    assert(viaSource.select("ticker").distinct().count() === 60)
    assert(viaSource.count() === 5000)
  }

  /** (full, delta) dictionary messages of an uncoded served stream. */
  private def dictMessages(body: Array[Byte]): (Int, Int) = {
    val dicts = graft.arrow.IpcFrames.scan(body).filter(_.isDictionary).map { f =>
      message(f).header(new org.apache.arrow.flatbuf.DictionaryBatch())
        .asInstanceOf[org.apache.arrow.flatbuf.DictionaryBatch].isDelta
    }
    (dicts.count(!_), dicts.count(identity))
  }

  private def message(f: graft.arrow.IpcFrames.Frame): org.apache.arrow.flatbuf.Message =
    org.apache.arrow.flatbuf.Message.getRootAsMessage(
      java.nio.ByteBuffer.wrap(f.framedHeader, 8, f.metaLen).slice()
        .order(java.nio.ByteOrder.LITTLE_ENDIAN))

  /** 4 partitions of 10,000 rows, each holding 100 `k` values (and
    * nulls) no other partition has; the values grow within a partition,
    * so its later batches carry new ones. */
  private def partitionedKeys = {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    spark.range(0, 40000, 1, 4).select(col("id"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(concat(lit("k"), (col("id") / 10000).cast("long"), lit("_"),
          (col("id") % 10000 / 100).cast("long"))).as("k"))
  }

  test("delta-dictionary serving: several partitions with disjoint values read back exactly") {
    val df = partitionedKeys
    assert(df.rdd.getNumPartitions === 4)
    server.registerDictDelta("keys_delta", df, Seq("k"))
    val (code, _, body) = get("/q/keys_delta")
    assert(code === 200)
    // each partition opens with its own full dictionary, then deltas
    val (full, delta) = dictMessages(body)
    assert(full === 4, s"expected one full dictionary per partition, saw $full")
    assert(delta >= 4, s"expected delta dictionaries in every partition, saw $delta")

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), Option(r.getString(1)))
    val want = df.collect().map(key).toVector
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
    val rows = try res.rows.map(key).toVector finally res.close()
    assert(rows === want)

    val viaSource = spark.read.format("arrows")
      .option("split", "false")
      .option("url", s"${server.baseUrl}/q/keys_delta").load()
    assert(viaSource.collect().map(key).toVector.sorted === want.sorted)
  }

  test("delta-dictionary serving: a negotiated zstd IPC codec compresses every batch") {
    server.registerDictDelta("keys_delta_zstd", partitionedKeys, Seq("k"))
    val (code, headers, body) = get("/q/keys_delta_zstd",
      Map("Accept" -> s"""${Negotiation.ArrowMime}; codecs="zstd""""))
    assert(code === 200)
    assert(headers("content-type").contains("codecs=\"zstd\""))
    val batches = graft.arrow.IpcFrames.scan(body).filterNot(_.isSchema).map { f =>
      val msg = message(f)
      val rb =
        if (f.isDictionary) msg.header(new org.apache.arrow.flatbuf.DictionaryBatch())
          .asInstanceOf[org.apache.arrow.flatbuf.DictionaryBatch].data()
        else msg.header(new org.apache.arrow.flatbuf.RecordBatch())
          .asInstanceOf[org.apache.arrow.flatbuf.RecordBatch]
      (f.isDictionary, Option(rb.compression()).map(_.codec()))
    }
    assert(batches.count(!_._1) >= 4 && batches.count(_._1) >= 4)
    val zstd = org.apache.arrow.flatbuf.CompressionType.ZSTD
    assert(batches.forall(_._2.contains(zstd)), batches)
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
    try assert(res.rows.size === 40000) finally res.close()
  }

  test("delta-dictionary zstd serve: the schema decodes before the last partition finishes") {
    val base = Generators.ticker(spark, 4000, 4)
    val gated = spark.createDataFrame(base.rdd.mapPartitionsWithIndex { (i, it) =>
      if (i == 3) FirstByteGate.latch.await(60, java.util.concurrent.TimeUnit.SECONDS)
      it
    }, base.schema)
    FirstByteGate.latch = new java.util.concurrent.CountDownLatch(1)
    server.registerDictDelta("gated_delta", gated, Seq("ticker"))
    val conn = URI.create(server.baseUrl + "/q/gated_delta").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestProperty("Accept-Encoding", "zstd")
    val alloc = ArrowBridge.newAllocator("first-byte-delta-spec")
    try {
      val reader = try {
        scala.concurrent.Await.result(scala.concurrent.Future {
          val r = new org.apache.arrow.vector.ipc.ArrowStreamReader(
            new com.github.luben.zstd.ZstdInputStream(conn.getInputStream), alloc)
          assert(r.getVectorSchemaRoot.getSchema.getFields.size === 3)
          r
        }(scala.concurrent.ExecutionContext.global), scala.concurrent.duration.Duration(30, "s"))
      } finally {
        val held = FirstByteGate.latch.getCount
        FirstByteGate.latch.countDown()
        assert(held === 1, "the last partition was released early")
      }
      var rows = 0L
      while (reader.loadNextBatch()) rows += reader.getVectorSchemaRoot.getRowCount
      reader.close()
      assert(rows === 4000)
    } finally alloc.close()
  }

  test("a schema-only probe answers the served stream's first message, then EOS") {
    val df = Generators.ticker(spark, 5000, 2)
    server.registerDict("probe_dict", df, Seq("ticker"))
    server.registerDictDelta("probe_delta", df, Seq("ticker"))
    for (name <- Seq("ticker", "probe_dict", "probe_delta")) {
      val (pc, _, probe) = get(s"/q/$name", Map("X-Arrow-Schema-Only" -> "1"))
      val (sc, _, served) = get(s"/q/$name")
      assert(pc === 200 && sc === 200)
      assert(probe.takeRight(8).toSeq === ArrowBridge.EosBytes.toSeq, name)
      val first = graft.arrow.IpcFrames.scan(served).head
      assert(first.isSchema, name)
      assert(probe.dropRight(8).toSeq === served.slice(0, first.end.toInt).toSeq, name)
    }
  }

  test("a plain register over a dictionary dataset serves its rows without the old dictionary") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    def rowsOf(path: String): Vector[org.apache.spark.sql.Row] = {
      val (code, _, body) = get(path)
      assert(code === 200, path)
      val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
      try res.rows.toVector finally res.close()
    }
    server.registerDict("redict", Generators.ticker(spark, 5000, 2), Seq("ticker"))
    // every value lies outside the dictionary registered first
    server.register("redict", Generators.ticker(spark, 5000, 2)
      .withColumn("ticker", concat(col("ticker"), lit("X"))))
    val rows = rowsOf("/q/redict")
    assert(rows.size === 5000)
    assert(rows.forall(_.getString(0).endsWith("X")))

    // and a frame without the delta-dictionary column
    server.registerDictDelta("redelta", Generators.ticker(spark, 5000, 2), Seq("ticker"))
    server.register("redelta", Generators.flightBench(spark, 10000, 2))
    assert(rowsOf("/q/redelta").size === 10000)
  }

  test("registerDict over a served name drops its /qsplit/ spill") {
    def count(): Long = spark.read.format("arrows")
      .option("url", s"${server.baseUrl}/q/respill").load().count()
    server.register("respill", Generators.ticker(spark, 5000, 2))
    assert(count() === 5000)
    server.registerDict("respill", Generators.ticker(spark, 9000, 2), Seq("ticker"))
    assert(count() === 9000)
  }

  test("POST /ingest round-trips a stream into a temp view") {
    val df = Generators.ticker(spark, 500, 1)
    val bytes = new ByteArrayOutputStream()
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), bytes)
    val conn = URI.create(s"${server.baseUrl}/ingest/posted").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(bytes.toByteArray)
    conn.getOutputStream.close()
    assert(conn.getResponseCode === 200)
    val resp = new String(conn.getInputStream.readAllBytes(), UTF_8)
    assert(resp.contains(""""rows":500"""))
    assert(spark.table("posted").count() === 500)
  }

  /** An IPC stream of `rows` ticker rows (written by a Spark job). */
  private def tickerBody(rows: Int): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val df = Generators.ticker(spark, rows, 1)
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), bytes)
    bytes.toByteArray
  }

  private def postIngest(name: String, rows: Int): Unit = postIngest(name, tickerBody(rows))

  private def postIngest(name: String, body: Array[Byte]): Unit = {
    val conn = URI.create(s"${server.baseUrl}/ingest/$name").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setReadTimeout(30000)
    conn.getOutputStream.write(body)
    conn.getOutputStream.close()
    assert(conn.getResponseCode === 200)
    conn.getInputStream.readAllBytes()
  }

  /** The ingest spool files of dataset `name`. */
  private def spoolFiles(name: String): Seq[java.io.File] =
    server.spillRootPath.get.resolve("ingest").toFile.listFiles()
      .filter(_.getName.startsWith(s"$name-")).toSeq

  private def rowsOf(body: Array[Byte]): Int = {
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(body))
    try res.rows.size finally res.close()
  }

  test("POST /ingest twice to one name keeps one spool file, holding the second body") {
    postIngest("respool", 300)
    postIngest("respool", 700)
    val spools = spoolFiles("respool")
    assert(spools.length === 1, spools.mkString(", "))
    assert(spark.table("respool").count() === 700)
  }

  test("concurrent POSTs to one name leave a readable view and one spool file") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    for (_ <- 0 until 4) {
      val posts = Seq(200, 400).map(tickerBody).map(b => Future(postIngest("racy", b)))
      posts.foreach(Await.result(_, scala.concurrent.duration.Duration(60, "s")))
      val rows = spark.table("racy").count()
      assert(rows === 200 || rows === 400)
      val (code, _, body) = get("/q/racy")
      assert(code === 200)
      assert(rowsOf(body) === rows)
    }
    val spools = spoolFiles("racy")
    assert(spools.length === 1, spools.mkString(", "))
  }

  test("a /q/ serve planned before a re-ingest still reads the file it planned") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    postIngest("held", 300)
    val second = tickerBody(700)
    // every task slot waits on a latch, so the serve's job is planned on
    // the first spool file but its task opens that file only after the
    // re-ingest below has superseded it
    val slots = spark.sparkContext.defaultParallelism
    SlotGate.started = new java.util.concurrent.CountDownLatch(slots)
    SlotGate.release = new java.util.concurrent.CountDownLatch(1)
    val busy = Future(spark.sparkContext.parallelize(0 until slots, slots).foreach { _ =>
      SlotGate.started.countDown()
      SlotGate.release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    })
    val alloc = ArrowBridge.newAllocator("held-serve-spec")
    try {
      assert(SlotGate.started.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val conn = URI.create(server.baseUrl + "/q/held").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setReadTimeout(30000)
      // the schema arrives once the serve has resolved its dataset
      val reader = Await.result(Future(new org.apache.arrow.vector.ipc.ArrowStreamReader(
        conn.getInputStream, alloc)).map { r => r.getVectorSchemaRoot; r }, Duration(30, "s"))
      postIngest("held", second)
      SlotGate.release.countDown()
      var rows = 0L
      while (reader.loadNextBatch()) rows += reader.getVectorSchemaRoot.getRowCount
      reader.close()
      assert(rows === 300)
    } finally {
      SlotGate.release.countDown()
      Await.result(busy, Duration(60, "s"))
      alloc.close()
    }
    assert(spark.table("held").count() === 700)
    // the superseded file goes once the serve that held it is done
    val deadline = System.nanoTime() + 10000000000L
    while (spoolFiles("held").length > 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(spoolFiles("held").length === 1, spoolFiles("held").mkString(", "))
  }

  test("POST /ingest streams to disk: multi-batch body, no driver buffering") {
    // 50k rows = many 4096-row batches — bigger than any single batch
    // buffer; the handler spools to a .arrows artifact and the view
    // reads back through the DSv2 source.
    val df = Generators.ticker(spark, 50000, 2)
    val bytes = new ByteArrayOutputStream()
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), bytes)
    val conn = URI.create(s"${server.baseUrl}/ingest/bigpost").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setChunkedStreamingMode(1 << 16) // stream the request too
    conn.getOutputStream.write(bytes.toByteArray)
    conn.getOutputStream.close()
    assert(conn.getResponseCode === 200)
    val resp = new String(conn.getInputStream.readAllBytes(), UTF_8)
    assert(resp.contains(""""rows":50000"""), resp)
    assert(spark.table("bigpost").count() === 50000)
    // the spooled artifact is a served /files/ citizen (ranges + offsets)
    val (fc, fh, _) = get("/files/bigpost.arrows")
    assert(fc === 200 && fh.get("accept-ranges").contains("bytes"))
    val (oc, _, obody) = get("/offsets/bigpost.arrows")
    assert(oc === 200 && new String(obody, UTF_8).contains("\"batches\""))
  }

  test("POST /ingest-multipart: JSON + Arrow parts ingest to a temp view") {
    val df = Generators.ticker(spark, 300, 1)
    val arrow = new ByteArrayOutputStream()
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), arrow)
    val boundary = "graftTestBoundary42"
    val body = new ByteArrayOutputStream()
    def part(ct: String): Unit =
      body.write(s"\r\n--$boundary\r\nContent-Type: $ct\r\n\r\n".getBytes(UTF_8))
    part("application/json")
    body.write("""{"source":"unit-test"}""".getBytes(UTF_8))
    part(Negotiation.ArrowMime)
    body.write(arrow.toByteArray)
    body.write(s"\r\n--$boundary--\r\n".getBytes(UTF_8))

    val conn = URI.create(s"${server.baseUrl}/ingest-multipart/mp_posted").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", s"""multipart/form-data; boundary="$boundary"""")
    conn.getOutputStream.write(body.toByteArray)
    conn.getOutputStream.close()
    assert(conn.getResponseCode === 200)
    val resp = new String(conn.getInputStream.readAllBytes(), UTF_8)
    assert(resp.contains(""""rows":300"""))
    assert(resp.contains(""""source":"unit-test""""))
    assert(spark.table("mp_posted").count() === 300)
  }

  test("a malformed /ingest body answers 400, registers no view and leaves no spool file") {
    val good = tickerBody(2000)
    val hugeMeta = good.clone()
    java.nio.ByteBuffer.wrap(hugeMeta, 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(0x7ffffff0)
    val random = new Array[Byte](1024)
    new scala.util.Random(11).nextBytes(random)
    val bodies = Seq("bad_half" -> good.take(good.length / 2), "bad_meta" -> hugeMeta,
      "bad_random" -> random)
    for ((name, body) <- bodies) {
      val t0 = System.nanoTime()
      val conn = URI.create(s"${server.baseUrl}/ingest/$name").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setReadTimeout(5000)
      conn.setFixedLengthStreamingMode(body.length.toLong)
      conn.getOutputStream.write(body)
      conn.getOutputStream.close()
      assert(conn.getResponseCode === 400, name)
      val msg = new String(conn.getErrorStream.readAllBytes(), UTF_8)
      assert((System.nanoTime() - t0) / 1e9 < 5.0, name)
      assert(msg.contains("invalid Arrow IPC stream"), s"$name: $msg")
      assert(!spark.catalog.tableExists(name), name)
      assert(spoolFiles(name).isEmpty, s"$name: ${spoolFiles(name).mkString(", ")}")
    }
  }

  test("a client gone mid-stream cancels the serve's jobs still in flight") {
    import org.apache.spark.sql.functions.{col, udf}
    val window = ArrowBridge.RelayWindow
    val held = window + 1
    // partition `held` is in the second group job, submitted with the
    // first once partition 0's own job has ended, and holds until its
    // job is cancelled; partition 2 holds the relay until the client is
    // gone, so a write fails while `held` runs
    CancelGate.reset()
    val gate = udf { (x: Long) =>
      val p = org.apache.spark.TaskContext.getPartitionId()
      if (p == held) CancelGate.hold()
      else if (p == 2) CancelGate.clientGone.await(60, java.util.concurrent.TimeUnit.SECONDS)
      x >= Long.MinValue
    }
    server.register("cancel", Generators.flightBench(spark, 16 * 4096, 16).filter(gate(col("a"))))
    val alloc = ArrowBridge.newAllocator("cancel-spec")
    try {
      val conn = URI.create(server.baseUrl + "/q/cancel").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestProperty("Connection", "close")
      conn.setReadTimeout(30000)
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(conn.getInputStream, alloc)
      assert(reader.loadNextBatch())
      assert(CancelGate.heldRunning.await(30, java.util.concurrent.TimeUnit.SECONDS))
      conn.disconnect()
      CancelGate.clientGone.countDown()
      try reader.close() catch { case _: java.io.IOException => () }
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 30000000000L
      while ((!CancelGate.killed || tracker.getActiveJobIds.nonEmpty) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(CancelGate.killed, "the held task was never cancelled")
      assert(tracker.getActiveJobIds.isEmpty,
        s"jobs still active: ${tracker.getActiveJobIds.mkString(", ")}")
    } finally {
      CancelGate.never.countDown()
      CancelGate.clientGone.countDown()
      alloc.close()
    }
  }

  test("indirect listing + ranged fetch reassembles to the full file") {
    // materialize an artifact and register it
    val df = Generators.ticker(spark, 2000, 1)
    val tmp = temp(java.nio.file.Files.createTempFile("graft", ".arrows"))
    val out = java.nio.file.Files.newOutputStream(tmp)
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), out)
    out.close()
    server.registerFile("ticker.arrows", tmp)

    val (lcode, _, listing) = get("/")
    assert(lcode === 200)
    // the listing may also carry qsplit spill artifacts — find ours
    val uris = "\"uri\": \"([^\"]+)\"".r
      .findAllMatchIn(new String(listing, UTF_8)).map(_.group(1)).toVector
    assert(uris.exists(_.endsWith("/files/ticker.arrows")), uris.mkString(", "))

    // HEAD-equivalent: full GET gives the length; then two half ranges
    val (code, headers, full) = get("/files/ticker.arrows")
    assert(code === 200)
    assert(headers.get("accept-ranges").contains("bytes"))
    val size = full.length
    val half = size / 2
    val (c1, _, part1) = get("/files/ticker.arrows", Map("Range" -> s"bytes=0-${half - 1}"))
    val (c2, _, part2) = get("/files/ticker.arrows", Map("Range" -> s"bytes=$half-"))
    assert(c1 === 206 && c2 === 206)
    assert(part1.length + part2.length === size)
    val joined = part1 ++ part2
    assert(joined.toSeq === full.toSeq)
    // concatenation is a valid stream (the get_range premise)
    val res = ArrowBridge.read(new java.io.ByteArrayInputStream(joined))
    assert(res.rows.size === 2000)
    res.close()
  }

  test("range validation: clamped ends, 416 for unsatisfiable or malformed") {
    val df = Generators.ticker(spark, 1000, 1)
    val tmp = temp(java.nio.file.Files.createTempFile("graft-rv", ".arrows"))
    val out = java.nio.file.Files.newOutputStream(tmp)
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), out)
    out.close()
    server.registerFile("rv.arrows", tmp)
    val size = java.nio.file.Files.size(tmp)

    // end beyond EOF clamps to size-1
    val (c1, h1, b1) = get("/files/rv.arrows", Map("Range" -> s"bytes=0-${size * 2}"))
    assert(c1 === 206 && b1.length === size.toInt)
    assert(h1("content-range") === s"bytes 0-${size - 1}/$size")
    // suffix larger than the file covers the whole file
    val (c2, _, b2) = get("/files/rv.arrows", Map("Range" -> s"bytes=-${size * 3}"))
    assert(c2 === 206 && b2.length === size.toInt)
    // start past EOF, inverted, and malformed ranges → 416 with */size
    for (r <- Seq(s"bytes=$size-", "bytes=500-10", "bytes=abc-def", "bytes=99999999999999999999-")) {
      val (c, h, _) = get("/files/rv.arrows", Map("Range" -> r))
      assert(c === 416, s"$r -> $c")
      assert(h("content-range") === s"bytes */$size", r)
    }
  }

  test("ranged-parallel read: offsets index splits one URL into partitions") {
    val df = Generators.ticker(spark, 20000, 1)
    val tmp = temp(java.nio.file.Files.createTempFile("graft-ranged", ".arrows"))
    val out = java.nio.file.Files.newOutputStream(tmp)
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), out,
      ArrowBridge.WriteOptions(batchSize = 1000)) // 20 batches
    out.close()
    server.registerFile("ranged.arrows", tmp)

    val url = s"${server.baseUrl}/files/ranged.arrows"
    val back = spark.read.format("arrows")
      .option("rangepartitions", "4").option("url", url).load()
    assert(back.rdd.getNumPartitions === 4)
    assert(back.count() === 20000)
    val want = df.agg(org.apache.spark.sql.functions.sum("price")).head().getLong(0)
    assert(back.agg(org.apache.spark.sql.functions.sum("price")).head().getLong(0) === want)
  }

  test("a corrupt registered file: /offsets answers 500 promptly and logs the path") {
    val df = Generators.ticker(spark, 2000, 1)
    val bytes = new ByteArrayOutputStream()
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), bytes,
      ArrowBridge.WriteOptions(batchSize = 500))
    val bad = bytes.toByteArray
    // a metaLen of 1 GiB in the second message
    val second = graft.arrow.IpcFrames.scan(bad)(1).offset.toInt
    java.nio.ByteBuffer.wrap(bad, second + 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(1 << 30)
    val tmp = temp(java.nio.file.Files.createTempFile("graft-corrupt", ".arrows"))
    java.nio.file.Files.write(tmp, bad)
    server.registerFile("corrupt.arrows", tmp)
    val err = new ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val t0 = System.nanoTime()
    val code = try {
      val conn = URI.create(server.baseUrl + "/offsets/corrupt.arrows").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setReadTimeout(5000)
      conn.getResponseCode
    } finally System.setErr(stderr)
    assert(code === 500)
    assert((System.nanoTime() - t0) / 1e9 < 5.0)
    assert(err.toString(UTF_8).contains("/offsets/corrupt.arrows"), err.toString(UTF_8))
  }

  test("DSv2 file write + multi-file read round-trip with pruning") {
    val df = Generators.ticker(spark, 3000, 3)
    val dir = temp(java.nio.file.Files.createTempDirectory("graft-arrows")).toString
    df.write.format("arrows").option("codec", "lz4").mode("overwrite").save(dir)
    val back = spark.read.format("arrows").load(dir)
    assert(back.count() === 3000)
    assert(back.select("price").distinct().count() ===
      df.select("price").distinct().count())
    // pruned read plan only materializes the required column
    val plan = back.select("price").queryExecution.executedPlan.toString
    assert(plan.contains("price"))
  }

  test("stop() reclaims the qsplit spill directory (no per-server disk leak)") {
    // deleteOnExit() cannot remove non-empty dirs, and a process that
    // loops server instances (the bench's transport loops) would leak
    // one payload-sized spill dir per instance — this filled the
    // round-7 build box (25 × 3.1 GB) before stop() learned to clean
    val s2 = new ArrowHttpServer(spark)
    s2.register("leakcheck", Generators.flightBench(spark, 1000, 2))
    s2.start()
    try {
      val conn = URI.create(s2.baseUrl + "/qsplit/leakcheck").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode === 200)
      conn.getInputStream.readAllBytes()
    } finally s2.stop()
    val root = s2.spillRootPath
    assert(root.isDefined, "qsplit never spilled — vacuous")
    assert(java.nio.file.Files.notExists(root.get),
      s"spill dir survived stop(): ${root.get}")
  }
}

/** The latch the first-byte spec holds a partition on (tasks run in
  * this JVM in local mode). */
object FirstByteGate {
  @volatile var latch = new java.util.concurrent.CountDownLatch(0)
}

/** The latches the held-serve spec occupies every task slot with. */
object SlotGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(0)
  @volatile var release = new java.util.concurrent.CountDownLatch(0)
}

/** The latches the disconnect spec holds two partitions on. The held
  * task waits for `never`, and records and ends its own kill when its
  * job is cancelled first. */
object CancelGate {
  @volatile var heldRunning = new java.util.concurrent.CountDownLatch(1)
  @volatile var clientGone = new java.util.concurrent.CountDownLatch(1)
  @volatile var never = new java.util.concurrent.CountDownLatch(1)
  @volatile var killed = false

  def reset(): Unit = {
    heldRunning = new java.util.concurrent.CountDownLatch(1)
    clientGone = new java.util.concurrent.CountDownLatch(1)
    never = new java.util.concurrent.CountDownLatch(1)
    killed = false
  }

  def hold(): Unit = {
    heldRunning.countDown()
    val ctx = org.apache.spark.TaskContext.get()
    val deadline = System.nanoTime() + 60000000000L
    while (!never.await(20, java.util.concurrent.TimeUnit.MILLISECONDS) &&
        System.nanoTime() < deadline) {
      if (ctx.isInterrupted()) { killed = true; throw new org.apache.spark.TaskKilledException("cancelled") }
    }
  }
}
