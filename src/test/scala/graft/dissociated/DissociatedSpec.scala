package graft.dissociated

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TempDirs}
import graft.arrow.{ArrowBridge, IpcFrames}
import graft.datagen.Generators
import graft.server.ArrowHttpServer

class DissociatedSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.builder("dissoc-spec", "4").getOrCreate()

  test("split + shuffled reassembly is byte-identical to the plain stream") {
    val plain = Channels.plainStream(Generators.ticker(spark, 5000, 2), batchSize = 512)
    assert(Channels.bodies(plain).size === 10) // 5000/512 -> 9 full + 1 tail

    // metadata channel in order; bodies reversed within the writer's
    // windows of 8
    val metaCh = Channels.metadata(plain)
    val bodyCh = Channels.body(plain)

    val sink = new ByteArrayOutputStream()
    val (batches, _) = Dissociated.reassemble(
      new ByteArrayInputStream(metaCh),
      new ByteArrayInputStream(bodyCh), sink, maxPending = 8)
    assert(batches === 10)
    assert(sink.toByteArray.toSeq === plain.toSeq)

    val res = ArrowBridge.read(new ByteArrayInputStream(sink.toByteArray))
    assert(res.rows.size === 5000)
    res.close()
  }

  /** Reassembles the whole-dataset channel pair of `name` over HTTP. */
  private def fetchChannels(server: ArrowHttpServer, name: String)
      : (Long, Vector[org.apache.spark.sql.Row]) = {
    val meta = URI.create(s"${server.baseUrl}/dissoc/meta/$name").toURL.openStream()
    val data = URI.create(s"${server.baseUrl}/dissoc/data/$name").toURL.openStream()
    val sink = new ByteArrayOutputStream()
    val (batches, _) = Dissociated.reassemble(meta, data, sink)
    val res = ArrowBridge.read(new ByteArrayInputStream(sink.toByteArray))
    try (batches, res.rows.toVector) finally res.close()
  }

  test("streamed partition-wise channels reassemble to the full dataset") {
    // the channels batch per spilled partition (2 partitions x 2500
    // rows here) — the contract is the decoded rows, not the batch
    // layout
    val server = new ArrowHttpServer(spark)
    server.register("parts", Generators.ticker(spark, 5000, 2))
    server.start()
    try {
      val (batches, rows) = fetchChannels(server, "parts")
      assert(batches === 2)
      assert(rows.size === 5000)
      assert(rows.forall(_.getLong(1) % 100 == 0))
    } finally server.stop()
  }

  test("reassemble: zero-batch stream terminates instead of blocking") {
    // a plan with no partitions still spills one (batch-free) part file,
    // so the channels serve it like any other dataset
    val empty = Generators.ticker(spark, 5000, 2).limit(0)
    assert(empty.queryExecution.toRdd.getNumPartitions === 0)
    val server = new ArrowHttpServer(spark)
    server.register("empty", empty)
    server.start()
    try {
      val (batches, rows) = fetchChannels(server, "empty")
      assert(batches === 0)
      assert(rows.isEmpty)
    } finally server.stop()
  }

  test("reassemble: truncated body channel fails loudly, no deadlock") {
    val plain = Channels.plainStream(Generators.ticker(spark, 5000, 2), batchSize = 512)
    val metaCh = Channels.metadata(plain)
    val bodies = Channels.bodies(plain)
    val bodyCh = Channels.bodyChannel(bodies, bodies.indices.dropRight(1)) // lose the tail
    val sink = new ByteArrayOutputStream()
    val e = intercept[java.io.EOFException] {
      Dissociated.reassemble(
        new ByteArrayInputStream(metaCh),
        new ByteArrayInputStream(bodyCh), sink)
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("HTTP dual-channel: discovery, concurrent fetch, reassembly; query runs once") {
    val server = new ArrowHttpServer(spark)
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    server.register("trading", {
      runs.incrementAndGet()
      Generators.ticker(spark, 8000, 2)
    })
    server.start()
    try {
      val info = new String(
        URI.create(s"${server.baseUrl}/dissoc/info/trading").toURL.openStream().readAllBytes(), UTF_8)
      assert(info.contains("\"channel\": \"metadata\""))
      val metaUrl = info.split("\"uri\": \"")(1).split("\"")(0)
      val dataUrl = info.split("\"uri\": \"")(2).split("\"")(0)

      val meta = URI.create(metaUrl).toURL.openStream()
      val data = URI.create(dataUrl).toURL.openStream()
      val sink = new ByteArrayOutputStream()
      val (batches, bytes) = Dissociated.reassemble(meta, data, sink, maxPending = 16)
      assert(batches === 2) // 8000 rows / 4096 default batch
      assert(bytes === sink.size().toLong)

      val res = ArrowBridge.read(new ByteArrayInputStream(sink.toByteArray))
      val rows = res.rows.toVector
      res.close()
      assert(rows.size === 8000)
      assert(rows.forall(_.getLong(1) % 100 == 0))
      // both channels were served from ONE spilled run of the query
      assert(runs.get() === 1)
    } finally server.stop()
  }

  test("file-backed channels are byte-consistent with the spilled parts") {
    // spill two partitions through the DSv2 writer, then rebuild the
    // stream from the meta/body file channels and decode it
    val df = Generators.ticker(spark, 5000, 2)
    val dir = tempDir("dissoc-files")
    df.write.format("arrows").mode("overwrite").save(dir.toString)
    val parts = dir.toFile.listFiles().filter(_.getName.endsWith(".arrows"))
      .sortBy(_.getName).map(_.toPath).toVector
    assert(parts.size === 2)
    val opens = parts.map(p => () => IpcFrames.open(p))
    val metaCh = new ByteArrayOutputStream()
    val n = Dissociated.streamMetadata(opens, metaCh)
    val bodyCh = new ByteArrayOutputStream()
    Dissociated.streamBody(opens, bodyCh)
    val sink = new ByteArrayOutputStream()
    val (batches, _) = Dissociated.reassemble(
      new ByteArrayInputStream(metaCh.toByteArray),
      new ByteArrayInputStream(bodyCh.toByteArray), sink)
    assert(batches === n)
    val res = ArrowBridge.read(new ByteArrayInputStream(sink.toByteArray))
    val rows = res.rows.toVector
    res.close()
    assert(rows.size === 5000)
  }

  test("dissoc DSv2 read: spark.read resolves /dissoc/info/ and reassembles both channels") {
    // SURVEY §3.3's stated Spark mapping, closed (r10 verdict #3): a
    // registered dataset is consumed end-to-end through spark.read —
    // discovery JSON → concurrent meta/body fetch (bodies out of order
    // within the server's 8-wide windows) → bounded in-order reassembly
    // feeding the normal arrows reader
    val server = new ArrowHttpServer(spark)
    server.register("dsv2trading", Generators.ticker(spark, 9000, 3))
    server.start()
    try {
      val infoUrl = s"${server.baseUrl}/dissoc/info/dsv2trading"
      val df = spark.read.format("arrows").option("dissoc", infoUrl).load()
      // inferred schema matches the generator's
      assert(df.schema.fieldNames.toSeq === Generators.ticker(spark, 1, 1).schema.fieldNames.toSeq)
      val rows = df.collect()
      assert(rows.length === 9000)
      assert(rows.forall(_.getLong(df.schema.fieldIndex("price")) % 100 == 0))
      // column pruning + aggregation through the normal plan surface
      import org.apache.spark.sql.functions._
      val n = spark.read.format("arrows").option("dissoc", infoUrl).load()
        .agg(countDistinct(col("ticker"))).head().getLong(0)
      assert(n === 60)
    } finally server.stop()
  }

  test("dissoc DSv2 read: a spilled multi-part dataset packs its channel pairs into tasks") {
    // the discovery doc publishes one (metadata, body) pair per spilled
    // part, with the part's byte size (FlightInfo's endpoint list is
    // plural by design), and the scan packs contiguous runs of pairs
    // into tasks by Spark's file-packing rule: a task closes when its
    // bytes plus the next part's would pass FilePartition.maxSplitBytes,
    // each part counting its size plus spark.sql.files.openCostInBytes.
    // Four parts far below the open cost on 4 pinned cores stay one
    // task each; a 1000-part dataset of such parts is about 33 tasks of
    // 31 parts (the 4 MB open cost against the 128 MB maxPartitionBytes).
    val server = new ArrowHttpServer(spark)
    server.register("dsv2parts", Generators.ticker(spark, 12000, 4))
    server.start()
    try {
      val infoUrl = s"${server.baseUrl}/dissoc/info/dsv2parts"
      val (chans, parts) = graft.sources.ArrowsTableProvider.dissocInfo(infoUrl)
      assert(chans.keySet === Set("metadata", "body")) // whole-dataset pair kept
      assert(parts.size === 4)
      // each published part carries its channel pair inline (r12: a
      // planned task opens its streams without a discovery round-trip)
      assert(parts.forall(p =>
        p.metaUri.contains("/dissoc/meta/") && p.bodyUri.contains("/dissoc/data/")))
      graft.SqlConfs.withConf(spark, graft.SqlConfs.PinnedPacking: _*) {
        val df = spark.read.format("arrows").option("dissoc", infoUrl).load()
        assert(df.rdd.getNumPartitions === 4)
        assert(df.count() === 12000)
      }
      // each per-part pair is a self-contained stream (own schema frame)
      val one = spark.read.format("arrows").option("dissoc", parts.head.infoUri).load()
      assert(one.rdd.getNumPartitions === 1)
      assert(one.count() > 0)
      // dissocfanout=false: the reference client's single dual-location
      // loop — whole dataset through ONE channel pair / one task
      val single = spark.read.format("arrows").option("dissoc", infoUrl)
        .option("dissocfanout", "false").load()
      assert(single.rdd.getNumPartitions === 1)
      assert(single.count() === 12000)
    } finally server.stop()
  }

  test("dissoc DSv2 read: unknown dataset fails with the fetch error, not a silent empty frame") {
    val server = new ArrowHttpServer(spark)
    server.start()
    try {
      val ex = intercept[Exception] {
        spark.read.format("arrows")
          .option("dissoc", s"${server.baseUrl}/dissoc/info/nosuch").load().collect()
      }
      assert(ex.getMessage != null)
    } finally server.stop()
  }

  test("spilled channels publish an exact Content-Length (no chunked framing)") {
    // r15: the channel handlers compute the channel byte length from a
    // cached header scan of the spilled parts, so the JDK server sends
    // plain fixed-length responses — the r14 fan-out burned its time in
    // 4 KiB HTTP chunk framing on 2×parts concurrent streams (client
    // threads pinned in ChunkedInputStream chunk decode; 8.9 s → 1.2 s
    // for the 30M-row fan-out once the length was published). This pins
    // the header AND that the advertised length equals the drained
    // bytes, whole-dataset and per-part.
    val server = new ArrowHttpServer(spark)
    server.register("fixlen", Generators.ticker(spark, 6000, 3))
    server.start()
    try {
      val (_, parts) = graft.sources.ArrowsTableProvider
        .dissocInfo(s"${server.baseUrl}/dissoc/info/fixlen")
      assert(parts.size === 3)
      def check(url: String): Long = {
        val conn = java.net.URI.create(url).toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestProperty("Connection", "close")
        val advertised = conn.getContentLengthLong
        assert(advertised > 0, s"$url not fixed-length " +
          s"(Transfer-Encoding: ${conn.getHeaderField("Transfer-Encoding")})")
        val drained = {
          val in = conn.getInputStream
          val buf = new Array[Byte](1 << 16)
          var total = 0L
          var n = in.read(buf)
          while (n != -1) { total += n; n = in.read(buf) }
          in.close(); total
        }
        assert(drained === advertised, url)
        drained
      }
      // whole-dataset channels and every per-part pair
      val wholeMeta = check(s"${server.baseUrl}/dissoc/meta/fixlen")
      val wholeBody = check(s"${server.baseUrl}/dissoc/data/fixlen")
      val partMeta = parts.map(p => check(p.metaUri)).sum
      val partBody = parts.map(p => check(p.bodyUri)).sum
      // per-part meta channels each carry their own schema + EOS frames;
      // the whole-dataset one carries a single schema + EOS
      assert(partBody === wholeBody)
      assert(partMeta > wholeMeta)
    } finally server.stop()
  }
}
