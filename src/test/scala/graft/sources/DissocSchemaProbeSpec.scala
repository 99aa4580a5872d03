package graft.sources

import java.io.IOException
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.datagen.Generators
import graft.dissociated.Channels

/** A dissociated schema probe reads the metadata channel only: against
  * a stub server that counts them, it requests no body channel. */
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
}
