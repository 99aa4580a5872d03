package graft.server

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, Socket, SocketException, SocketTimeoutException, URI}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.arrow.{ArrowBridge, DriverRows}
import graft.datagen.Generators

/** The server's HTTP framing, seen on the wire through raw sockets. */
class HttpCoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("http-core-spec", "4").getOrCreate()

  lazy val server: ArrowHttpServer = {
    val s = new ArrowHttpServer(spark)
    s.register("wide", Generators.flightBench(spark, 1000000, 32))
    s.register("ticker", Generators.ticker(spark, 5000, 2))
    s.start()
    serverStarted = true
    s
  }
  private var serverStarted = false

  // stopping the server removes its qsplit spill directory
  override def afterAll(): Unit =
    try if (serverStarted) server.stop() finally super.afterAll()

  private def connect(): Socket = {
    val s = new Socket("127.0.0.1", server.boundPort)
    s.setSoTimeout(30000)
    s
  }

  private def send(s: Socket, head: String, body: Array[Byte] = Array.empty): Unit = {
    val out = s.getOutputStream
    out.write(head.getBytes(ISO_8859_1))
    out.write(body)
    out.flush()
  }

  private def line(in: InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n' && c >= 0) { if (c != '\r') sb += c.toChar; c = in.read() }
    sb.toString
  }

  /** Status code and headers (names lower-cased) of a response. */
  private def head(in: InputStream): (Int, Map[String, String]) = {
    val status = line(in).split(" ")(1).toInt
    val hs = Iterator.continually(line(in)).takeWhile(_.nonEmpty).map { h =>
      val k = h.indexOf(':')
      h.take(k).trim.toLowerCase -> h.drop(k + 1).trim
    }.toMap
    (status, hs)
  }

  /** The chunks of a chunked body, in order. */
  private def chunks(in: InputStream): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var n = Integer.parseInt(line(in).takeWhile(_ != ';'), 16)
    while (n > 0) {
      out += in.readNBytes(n)
      assert(line(in).isEmpty, "chunk not ended by CRLF")
      n = Integer.parseInt(line(in).takeWhile(_ != ';'), 16)
    }
    assert(line(in).isEmpty, "no blank line after the last chunk")
    out.result()
  }

  private def rows(body: Array[Byte]): Vector[org.apache.spark.sql.Row] = {
    val res = ArrowBridge.read(new ByteArrayInputStream(body))
    try res.rows.toVector finally res.close()
  }

  private def rowCount(body: Array[Byte]): Long = {
    val alloc = ArrowBridge.newAllocator("http-core-spec")
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(new ByteArrayInputStream(body), alloc)
    try {
      var n = 0L
      while (rdr.loadNextBatch()) n += rdr.getVectorSchemaRoot.getRowCount
      n
    } finally { rdr.close(); alloc.close() }
  }

  private def tickerBody(rows: Int): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val df = Generators.ticker(spark, rows, 1)
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), bytes)
    bytes.toByteArray
  }

  private def spoolFiles(name: String): Seq[java.io.File] =
    server.spillRootPath.map(_.resolve("ingest").toFile).filter(_.isDirectory)
      .map(_.listFiles().filter(_.getName.startsWith(s"$name-")).toSeq).getOrElse(Nil)

  /** Status of a raw request with a `Content-Length` body. */
  private def status(method: String, path: String, headers: String = "",
      body: Array[Byte] = Array.empty): Int = {
    val s = connect()
    try {
      send(s, s"$method $path HTTP/1.1\r\nHost: localhost\r\n$headers" +
        s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n", body)
      head(new BufferedInputStream(s.getInputStream))._1
    } finally s.close()
  }

  /** Files named `prefix*` in the temp dir, the spill root and its
    * ingest spool dir: where a name with `../` segments would spool. */
  private def filesNamed(prefix: String): Set[java.io.File] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val spill = server.spillRootPath.toSeq.flatMap(r => Seq(r.toFile, r.resolve("ingest").toFile))
    (tmp +: spill).filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.startsWith(prefix))).toSet
  }

  test("GET /q/ of a 32-partition dataset: one chunk per partition, each >= 64 KiB") {
    val s = connect()
    try {
      send(s, "GET /q/wide HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n\r\n")
      val in = new BufferedInputStream(s.getInputStream)
      val (code, hs) = head(in)
      assert(code === 200)
      assert(hs.get("transfer-encoding").contains("chunked"))
      val cs = chunks(in)
      assert(cs.length <= 36, s"${cs.length} chunks")
      assert(hs.get("connection").contains("close"))
      val small = cs.drop(1).dropRight(1).map(_.length).filter(_ < HttpCore.ChunkSize)
      assert(small.isEmpty, s"inner chunks under 64 KiB: ${small.mkString(", ")}")
      assert(rowCount(cs.flatten.toArray) === 1000000)
    } finally s.close()
  }

  test("HTTP/1.0: no Transfer-Encoding, a close-delimited body with the same rows") {
    val s = connect()
    val body = try {
      send(s, "GET /q/ticker HTTP/1.0\r\n\r\n")
      val in = new BufferedInputStream(s.getInputStream)
      val (code, hs) = head(in)
      assert(code === 200)
      assert(!hs.contains("transfer-encoding"), hs)
      assert(!hs.contains("content-length"), hs)
      in.readAllBytes()
    } finally s.close()
    val conn = URI.create(server.baseUrl + "/q/ticker").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val chunked = conn.getInputStream.readAllBytes()
    assert(rows(body).size === 5000)
    assert(rows(body) === rows(chunked))
  }

  test("a malformed request line answers 400") {
    for (req <- Seq("GARBAGE\r\n\r\n", "GET /q/ticker\r\n\r\n", "GET /q/ticker HTTP/9.9\r\n\r\n",
        "GET  /q/ticker HTTP/1.1\r\n\r\n")) {
      val s = connect()
      try {
        send(s, req)
        assert(head(new BufferedInputStream(s.getInputStream))._1 === 400, req)
      } finally s.close()
    }
  }

  test("an oversize header block answers 431 or 400 and the connection closes within 5 s") {
    val s = connect()
    try {
      s.setSoTimeout(5000)
      val big = "X-Filler: " + ("a" * 1000) + "\r\n"
      try send(s, "GET /q/ticker HTTP/1.1\r\n" + big * 100)
      catch { case _: SocketException => () } // the server may close first
      val t0 = System.nanoTime()
      val in = new BufferedInputStream(s.getInputStream)
      val (code, _) = head(in)
      assert(code === 431 || code === 400)
      val closed = try { in.readAllBytes(); true }
        catch {
          case _: SocketTimeoutException => false
          case _: SocketException => true // reset: closed as well
        }
      assert(closed && (System.nanoTime() - t0) / 1e9 < 5.0)
    } finally s.close()
  }

  test("a chunked POST cut off inside a chunk answers 400 and leaves no spool file") {
    val body = tickerBody(500)
    val s = connect()
    try {
      send(s, "POST /ingest/cutoff HTTP/1.1\r\nHost: localhost\r\n" +
        "Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n" +
        Integer.toHexString(body.length) + "\r\n", body.take(body.length / 2))
      s.shutdownOutput()
      val in = new BufferedInputStream(s.getInputStream)
      assert(head(in)._1 === 400)
      in.readAllBytes()
    } finally s.close()
    assert(!spark.catalog.tableExists("cutoff"))
    assert(spoolFiles("cutoff").isEmpty, spoolFiles("cutoff").mkString(", "))
  }

  test("64 concurrent connections mixing GET /q/ and POST /ingest/ all complete") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val body = tickerBody(200)
    val threads = java.util.concurrent.Executors.newFixedThreadPool(64)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(threads)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val ops = (0 until 64).map { i =>
        Future {
          start.await()
          val post = i % 2 == 1
          val path = if (post) s"/ingest/conc$i" else "/q/ticker"
          val conn = URI.create(server.baseUrl + path).toURL
            .openConnection().asInstanceOf[HttpURLConnection]
          conn.setRequestProperty("Connection", "close")
          conn.setReadTimeout(60000)
          if (post) {
            conn.setRequestMethod("POST")
            conn.setDoOutput(true)
            conn.setFixedLengthStreamingMode(body.length.toLong)
            conn.getOutputStream.write(body)
            conn.getOutputStream.close()
          }
          val code = conn.getResponseCode
          val got = conn.getInputStream.readAllBytes()
          if (post) (code, new String(got, UTF_8).contains(""""rows":200"""))
          else (code, rowCount(got) == 5000)
        }
      }
      start.countDown()
      val results = ops.map(Await.result(_, Duration(120, "s")))
      assert(results.forall(_ == ((200, true))), results.mkString(", "))
    } finally threads.shutdownNow()
  }

  test("an ingest name that is not an identifier answers 400 and spools nothing") {
    val body = tickerBody(200)
    val boundary = "graftEscapeBoundary"
    val multipart = new ByteArrayOutputStream()
    multipart.write(s"\r\n--$boundary\r\nContent-Type: ${Negotiation.ArrowMime}\r\n\r\n"
      .getBytes(UTF_8))
    multipart.write(body)
    multipart.write(s"\r\n--$boundary--\r\n".getBytes(UTF_8))
    val before = filesNamed("escape-")
    assert(status("POST", "/ingest/..%2F..%2Fescape", body = body) === 400)
    assert(status("POST", "/ingest-multipart/..%2Fescape",
      s"Content-Type: multipart/form-data; boundary=\"$boundary\"\r\n",
      multipart.toByteArray) === 400)
    assert(filesNamed("escape-") === before)
    for (name <- Seq("..%2F..%2Fescape", "..%2Fescape", "escape"))
      assert(status("GET", s"/q/$name") === 404, name)
  }

  test("a dissociated part index past the part count answers 404") {
    val (_, parts) = graft.sources.ArrowsTableProvider
      .dissocInfo(s"${server.baseUrl}/dissoc/info/ticker")
    assert(parts.size === 2)
    for (path <- Seq(s"/dissoc/info/ticker/${parts.size}", "/dissoc/meta/ticker/99999999999"))
      assert(status("GET", path) === 404, path)
  }
}
