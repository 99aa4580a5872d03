package graft.sources

import java.net.{InetSocketAddress, URI}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SqlConfs, TempDirs}
import graft.arrow.IpcFrames
import graft.datagen.Generators
import graft.server.ArrowHttpServer

/** The arrows scan packs small pieces (spilled parts, channel pairs,
  * local files) into read tasks by Spark's file-packing rule, keeping
  * piece order, and never packs a piece whose size it does not know. */
class PackedScanSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {
  lazy val spark: SparkSession = GraftSession.builder("packed-scan-spec", "4").getOrCreate()

  /** 32 spilled parts of 1000 rows (about 32 KB) each. */
  lazy val server: ArrowHttpServer = {
    val s = new ArrowHttpServer(spark)
    s.register("parts32", Generators.flightBench(spark, 32000, 32))
    s.start()
    serverStarted = true
    s
  }
  private var serverStarted = false

  override def afterAll(): Unit =
    try if (serverStarted) server.stop() finally super.afterAll()

  private def url = s"${server.baseUrl}/q/parts32"
  private def infoUrl = s"${server.baseUrl}/dissoc/info/parts32"
  private def read(option: String, value: String, extra: (String, String)*): DataFrame =
    spark.read.format("arrows").option(option, value).options(extra.toMap).load()
  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions
  private def pinned[T](body: => T): T = SqlConfs.withConf(spark, SqlConfs.PinnedPacking: _*)(body)

  test("pack: next-fit in order; unknown and oversized pieces stand alone") {
    // each piece adds 10 + 5: three fit under 45, the fourth would not
    assert(ArrowsScan.pack((0 until 8).map(_ -> 10L), 45, 5) ===
      Seq(Seq(0, 1, 2), Seq(3, 4, 5), Seq(6, 7)))
    assert(ArrowsScan.pack(Seq(0 -> 10L, 1 -> 10L, 2 -> -1L, 3 -> 10L, 4 -> 10L), 45, 5) ===
      Seq(Seq(0, 1), Seq(2), Seq(3, 4)))
    assert(ArrowsScan.pack(Seq(0 -> 10L, 1 -> 45L, 2 -> 10L, 3 -> 10L), 45, 5) ===
      Seq(Seq(0), Seq(1), Seq(2, 3)))
    assert(ArrowsScan.pack(Seq.empty[(Int, Long)], 45, 5).isEmpty)
  }

  test("listings publish each spilled part's byte size") {
    val qsplit = ArrowsTableProvider.probeSplits(url)
    val dissoc = ArrowsTableProvider.dissocInfo(infoUrl)._2
    assert(qsplit.size === 32 && dissoc.size === 32)
    assert(qsplit.forall(_.bytes > 30000), qsplit.map(_.bytes))
    assert(dissoc.map(_.bytes) === qsplit.map(_.bytes))
  }

  test("32 small parts plan 4 tasks through /qsplit/ and /dissoc/, rows in part order") {
    pinned {
      val packed = read("url", url)
      assert(parts(packed) === 4)
      val single = read("url", url, "split" -> "false")
      assert(parts(single) === 1)
      val want = single.collect().toSeq
      assert(want.size === 32000)
      assert(packed.collect().toSeq === want)

      val fanned = read("dissoc", infoUrl)
      assert(parts(fanned) === 4)
      val onePair = read("dissoc", infoUrl, "dissocfanout" -> "false")
      assert(parts(onePair) === 1)
      assert(onePair.collect().toSeq === want)
      assert(fanned.collect().toSeq === want)
    }
  }

  test("maxPartitionBytes below a part's size gives every part its own task") {
    pinned {
      SqlConfs.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "1024") {
        assert(parts(read("url", url)) === 32)
        assert(parts(read("dissoc", infoUrl)) === 32)
        assert(read("url", url).count() === 32000)
      }
    }
  }

  /** Serves `/qsplit/x` as the server's own parts32 listing with the
    * `bytes` field removed from the entries `drop` selects. */
  private def withListing(drop: Int => Boolean)(f: String => Unit): Unit = {
    val mapper = new ObjectMapper()
    val listing = mapper.readTree(
      URI.create(s"${server.baseUrl}/qsplit/parts32").toURL.openStream().readAllBytes())
    val entries = listing.path("arrow_stream_files")
    (0 until entries.size).filter(drop).foreach(i =>
      entries.get(i).asInstanceOf[ObjectNode].remove("bytes"))
    val body = mapper.writeValueAsBytes(listing)
    val stub = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    stub.createContext("/qsplit/x", exchange => {
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    stub.start()
    try f(s"http://127.0.0.1:${stub.getAddress.getPort}/q/x") finally stub.stop(0)
  }

  test("a listing entry without bytes is never packed") {
    val schema = read("url", url).schema
    def planned(qUrl: String): Int =
      parts(spark.read.format("arrows").schema(schema).option("url", qUrl).load())
    pinned {
      withListing(_ => true) { qUrl =>
        val df = spark.read.format("arrows").schema(schema).option("url", qUrl).load()
        assert(parts(df) === 32)
        assert(df.count() === 32000)
      }
      // entry 12 is a task of its own and splits the sized run around
      // it: the 12 parts before it and the 19 after pack 8 to a task,
      // into 2 and 3 tasks
      withListing(_ == 12) { qUrl =>
        assert(planned(qUrl) === 6)
      }
    }
  }

  test("a packed local read with one part cut mid-batch fails the query") {
    val dir = tempDir("graft-packed")
    Generators.flightBench(spark, 8000, 8).write.format("arrows").mode("overwrite")
      .save(dir.toString)
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".arrows"))
      .sortBy(_.getName).toSeq
    assert(files.size === 8)
    SqlConfs.withConf(spark, "spark.sql.files.minPartitionNum" -> "2") {
      val whole = spark.read.format("arrows").load(dir.toString)
      assert(parts(whole) === 2)
      assert(whole.count() === 8000)

      // cut the second part of the first task halfway through its first batch body
      val victim = files(1).toPath
      val frames = IpcFrames.open(victim)
      val batch = try frames.find(f => !f.isSchema && f.bodyLength > 0).get
        finally frames.close()
      val ch = java.nio.channels.FileChannel.open(victim, java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(batch.end - batch.bodyLength / 2) finally ch.close()

      val cut = spark.read.format("arrows").load(dir.toString)
      assert(parts(cut) === 2)
      val e = intercept[Exception](cut.collect())
      assert(!e.getMessage.isEmpty)
      intercept[Exception](cut.count())
    }
  }
}
