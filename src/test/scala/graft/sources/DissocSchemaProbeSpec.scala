package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.arrow.ArrowBridge
import graft.datagen.Generators
import graft.dissociated.{Channels, Dissociated}
import graft.server.ArrowHttpServer

/** A dissociated schema probe reads the metadata channel only: against
  * a stub server that counts them, it requests no body channel; a graft
  * server answers its schema-only request with the schema frame and EOS
  * alone. */
class DissocSchemaProbeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("dissoc-probe-spec", "4").getOrCreate()

  /** Runs `f(infoUrl, bodyRequests)` against a stub serving a canned
    * discovery document and the channels of ticker(5000). */
  private def withStub(f: (String, AtomicInteger) => Unit): Unit = {
    val plain = Channels.plainStream(Generators.ticker(spark, 5000, 2), batchSize = 512)
    val meta = Channels.metadata(plain)
    val body = Channels.body(plain)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/dissoc"
    val bodyRequests = new AtomicInteger()
    def serve(path: String)(bytes: => Array[Byte]): Unit =
      server.createContext(path, exchange => {
        val b = bytes
        exchange.sendResponseHeaders(200, b.length)
        // a reader may close a channel it no longer needs
        try exchange.getResponseBody.write(b) catch { case _: IOException => () }
        finally exchange.close()
      })
    serve("/dissoc/info/canned")(
      s"""{"ticket": "canned", "locations": [
         |  {"uri": "$base/meta/canned", "channel": "metadata"},
         |  {"uri": "$base/data/canned", "channel": "body"}
         |]}""".stripMargin.getBytes(UTF_8))
    serve("/dissoc/meta/canned")(meta)
    serve("/dissoc/data/canned") { bodyRequests.incrementAndGet(); body }
    server.start()
    try f(s"$base/info/canned", bodyRequests) finally server.stop(0)
  }

  test("dissocSchema requests no body channel") {
    withStub { (info, bodyRequests) =>
      val schema = ArrowsTableProvider.dissocSchema(info)
      assert(schema.fieldNames.toSeq === Seq("ticker", "price", "volume"))
      assert(bodyRequests.get === 0)
    }
  }

  test("spark.read dissoc load() requests no body channel; the scan requests one") {
    withStub { (info, bodyRequests) =>
      val df = spark.read.format("arrows").option("dissoc", info).load()
      assert(df.schema.fieldNames.toSeq === Seq("ticker", "price", "volume"))
      assert(bodyRequests.get === 0)
      assert(df.count() === 5000)
      assert(bodyRequests.get === 1)
    }
  }

  /** (Content-Length, body) of a GET, with `X-Arrow-Schema-Only` when
    * `schemaOnly`. */
  private def get(url: String, schemaOnly: Boolean): (Long, Array[Byte]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    if (schemaOnly) conn.setRequestProperty("X-Arrow-Schema-Only", "1")
    assert(conn.getResponseCode === 200)
    val in = conn.getInputStream
    try (conn.getContentLengthLong, in.readAllBytes()) finally in.close()
  }

  test("a schema-only metadata request reads the schema frame and EOS, nothing more") {
    val df = Generators.ticker(spark, 5000, 2)
    val server = new ArrowHttpServer(spark)
    server.register("probe", df)
    server.start()
    try {
      val (fullLen, full) = get(s"${server.baseUrl}/dissoc/meta/probe", schemaOnly = false)
      assert(fullLen === full.length)
      // the whole channel opens with the same schema frame: [type][seq][len][bytes]
      val schemaFrame = Dissociated.metaFrameLen(
        ByteBuffer.wrap(full, 5, 4).order(ByteOrder.LITTLE_ENDIAN).getInt).toInt
      val (len, probe) = get(s"${server.baseUrl}/dissoc/meta/probe", schemaOnly = true)
      assert(probe.length === schemaFrame + Dissociated.metaFrameLen(0))
      assert(len === probe.length)
      assert(probe.take(schemaFrame).toSeq === full.take(schemaFrame).toSeq)

      val sink = new ByteArrayOutputStream()
      val (batches, _) = Dissociated.reassemble(
        new ByteArrayInputStream(probe), new ByteArrayInputStream(Array.emptyByteArray), sink)
      assert(batches === 0)
      val res = ArrowBridge.read(new ByteArrayInputStream(sink.toByteArray))
      try {
        assert(res.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
          df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
        assert(res.rows.isEmpty)
      } finally res.close()

      val info = s"${server.baseUrl}/dissoc/info/probe"
      val loaded = spark.read.format("arrows").option("dissoc", info).load()
      assert(loaded.schema === ArrowsTableProvider.dissocSchema(info))
      assert(loaded.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(loaded.count() === 5000)
    } finally server.stop()
  }
}
