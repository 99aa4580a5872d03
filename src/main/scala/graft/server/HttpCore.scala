package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, IOException,
  InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketException, URI}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.{ConcurrentHashMap, Executors, RejectedExecutionException}

/** A blocking HTTP/1.1 server: one request per connection, answered
  * with `Connection: close`, each connection served start to end on one
  * thread of a fixed pool. Requests are routed to the handler of the
  * longest matching path prefix.
  *
  * The response framing is the handler's, through
  * [[HttpCore.Exchange.sendResponseHeaders]]: a positive length is a
  * fixed `Content-Length`, 0 a streamed body (chunked, or delimited by
  * the connection's close for an HTTP/1.0 request), -1 no body. A
  * streamed body goes out as one chunk per `flush()`, per write of
  * [[HttpCore.ChunkSize]] or more, or per full [[HttpCore.ChunkSize]]
  * buffer; its first write is sent at once. So the relay's partitions
  * each travel as one chunk, as in the reference servers (server.py
  * :97-142, with the 64 KiB floor at :388).
  *
  * A request line over [[HttpCore.MaxRequestLine]] bytes, a malformed
  * request line, header or chunk, or a request body that ends early
  * answers 400; a header block over [[HttpCore.MaxHeaderBytes]] answers
  * 431. */
final class HttpCore(port: Int, threads: Int) {
  import HttpCore._

  private val routes = scala.collection.concurrent.TrieMap[String, Exchange => Unit]()
  private val open = ConcurrentHashMap.newKeySet[Socket]()
  private val listener = new ServerSocket()
  listener.bind(new InetSocketAddress("127.0.0.1", port), Backlog)

  private val pool = Executors.newFixedThreadPool(threads, r => {
    val t = new Thread(r, "arrow-http")
    t.setDaemon(true) // never pin the JVM open
    t
  })
  private val acceptor = new Thread(() => accept(), "arrow-http-accept")
  acceptor.setDaemon(true)

  def boundPort: Int = listener.getLocalPort

  /** Serves paths starting with `prefix` with `handler`. */
  def route(prefix: String)(handler: Exchange => Unit): Unit = routes.put(prefix, handler)

  def start(): Unit = acceptor.start()

  /** Stops accepting, and closes every connection still open. */
  def stop(): Unit = {
    listener.close()
    open.forEach(s => s.close())
    pool.shutdownNow()
  }

  private def accept(): Unit =
    try while (true) {
      val s = listener.accept()
      s.setTcpNoDelay(true)
      open.add(s)
      try pool.execute(() => serve(s))
      catch { case e: RejectedExecutionException => s.close(); throw e }
    } catch { case _: SocketException | _: RejectedExecutionException => () } // stopped

  private def serve(s: Socket): Unit =
    try {
      s.setSoTimeout(ReadTimeoutMs)
      val in = new BufferedInputStream(s.getInputStream, 1 << 16)
      val out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
      val ex = try readRequest(in, out) catch {
        case e: BadRequest =>
          val ex = new Exchange("GET", "/", "HTTP/1.1", new java.util.TreeMap(), new FixedBody(in, 0), out)
          ex.sendText(e.status, e.getMessage + "\n")
          ex.finish()
          linger(s, in)
          null
      }
      if (ex != null) {
        val handler = routes.keys.filter(ex.path.startsWith).maxByOption(_.length).map(routes(_))
        handler match {
          case Some(h) => h(ex)
          case None => ex.sendText(404, "no route\n")
        }
        if (!ex.sent) ex.sendResponseHeaders(500, -1)
        ex.finish()
        if (!ex.requestBody.ended) linger(s, in)
      }
    } catch {
      case _: IOException => () // the client went away
    } finally {
      open.remove(s)
      s.close()
    }

  /** Reads and drops what the client still sends, for up to a second,
    * after the response is out: closing a socket with unread input
    * resets the connection, which can discard the response before the
    * client reads it. */
  private def linger(s: Socket, in: InputStream): Unit = {
    s.shutdownOutput()
    s.setSoTimeout(1000)
    val deadline = System.nanoTime() + 1000000000L
    val buf = new Array[Byte](1 << 16)
    try while (in.read(buf) >= 0 && System.nanoTime() < deadline) ()
    catch { case _: IOException => () }
  }

  private def readRequest(in: InputStream, out: OutputStream): Exchange = {
    val line = readLine(in, MaxRequestLine, 400)
    if (line == null) return null // closed before a request
    val parts = line.split(" ", -1)
    if (parts.length != 3 || !isToken(parts(0)) || !RequestVersion.matches(parts(2)))
      throw new BadRequest(400, s"malformed request line")
    val path = try Option(new URI(parts(1)).getPath).filter(_.startsWith("/"))
      catch { case _: java.net.URISyntaxException => None }
    if (path.isEmpty) throw new BadRequest(400, "malformed request target")

    val headers = new java.util.TreeMap[String, String](String.CASE_INSENSITIVE_ORDER)
    var budget = MaxHeaderBytes
    var h = readLine(in, budget, 431)
    while (h != null && h.nonEmpty) {
      budget -= h.length + 2
      val k = h.indexOf(':')
      if (k <= 0 || !isToken(h.substring(0, k))) throw new BadRequest(400, "malformed header line")
      val (name, value) = (h.substring(0, k), h.substring(k + 1).trim)
      val prior = headers.putIfAbsent(name, value)
      if (prior != null && prior != value && Framing.exists(_.equalsIgnoreCase(name)))
        throw new BadRequest(400, s"conflicting $name headers")
      h = readLine(in, budget, 431)
    }
    if (h == null) throw new BadRequest(400, "request ended inside its headers")

    val chunked = Option(headers.get("Transfer-Encoding")).map(_.toLowerCase)
    val body: Body = chunked match {
      case Some("chunked") => new ChunkedBody(in)
      case Some(te) => throw new BadRequest(400, s"unsupported Transfer-Encoding $te")
      case None => Option(headers.get("Content-Length")) match {
        case None => new FixedBody(in, 0)
        case Some(v) if v.nonEmpty && v.length <= 18 && v.forall(_.isDigit) =>
          new FixedBody(in, v.toLong)
        case Some(v) => throw new BadRequest(400, s"malformed Content-Length $v")
      }
    }
    if ("100-continue".equalsIgnoreCase(headers.get("Expect"))) {
      out.write("HTTP/1.1 100 Continue\r\n\r\n".getBytes(ISO_8859_1))
      out.flush()
    }
    new Exchange(parts(0), path.get, parts(2), headers, body, out)
  }
}

object HttpCore {
  /** Target size of one chunk of a streamed response. */
  val ChunkSize: Int = 64 * 1024
  val MaxRequestLine: Int = 8 * 1024
  val MaxHeaderBytes: Int = 32 * 1024
  /** Pending-connection queue of the listening socket. */
  val Backlog: Int = 256
  /** A read from the client that waits this long fails the request. */
  val ReadTimeoutMs: Int = 60000

  private val RequestVersion = "HTTP/1\\.[01]".r
  private val Framing = Seq("Content-Length", "Transfer-Encoding")
  private val Reasons = Map(200 -> "OK", 206 -> "Partial Content", 400 -> "Bad Request",
    404 -> "Not Found", 405 -> "Method Not Allowed", 406 -> "Not Acceptable",
    416 -> "Range Not Satisfiable", 431 -> "Request Header Fields Too Large",
    500 -> "Internal Server Error")

  /** The request can not be served as sent; answered with `status`. */
  final class BadRequest(val status: Int, msg: String) extends IOException(msg)

  private def isToken(s: String): Boolean =
    s.nonEmpty && s.forall(c => c > ' ' && c < 127 && "\"(),/:;<=>?@[\\]{}".indexOf(c) < 0)

  /** One line without its CRLF (or bare LF), of at most `max` bytes, or
    * null at EOF before its first byte. */
  private def readLine(in: InputStream, max: Int, status: Int): String = {
    val sb = new java.lang.StringBuilder()
    var c = in.read()
    if (c < 0) return null
    while (c != '\n') {
      if (c < 0) throw new BadRequest(400, "request ended inside a line")
      if (sb.length >= max) throw new BadRequest(status, s"line longer than $max bytes")
      sb.append(c.toChar)
      c = in.read()
    }
    val n = sb.length
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  /** A request body; `ended` once it was read to its end. */
  private[server] sealed abstract class Body extends InputStream {
    def ended: Boolean
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
  }

  private final class FixedBody(in: InputStream, length: Long) extends Body {
    private var left = length
    def ended: Boolean = left == 0
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (left == 0) -1
      else if (len == 0) 0
      else {
        val n = in.read(b, off, math.min(len.toLong, left).toInt)
        if (n < 0) throw new BadRequest(400, s"request body ended after ${length - left} of $length bytes")
        left -= n
        n
      }
  }

  private final class ChunkedBody(in: InputStream) extends Body {
    private var left = 0L // of the current chunk
    private var done = false
    def ended: Boolean = done
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (!done && left == 0) nextChunk()
      if (done) -1
      else if (len == 0) 0
      else {
        val n = in.read(b, off, math.min(len.toLong, left).toInt)
        if (n < 0) throw new BadRequest(400, "chunked request body ended inside a chunk")
        left -= n
        if (left == 0 && readLine(in, 2, 400) != "") throw new BadRequest(400, "chunk not ended by CRLF")
        n
      }
    }
    private def nextChunk(): Unit = {
      val line = readLine(in, 1024, 400)
      if (line == null) throw new BadRequest(400, "chunked request body ended before its last chunk")
      val hex = line.takeWhile(_ != ';').trim
      if (hex.isEmpty || hex.length > 15 || !hex.forall(Character.digit(_, 16) >= 0))
        throw new BadRequest(400, s"malformed chunk size line")
      left = java.lang.Long.parseLong(hex, 16)
      if (left == 0) { // last chunk: skip the trailer section
        var budget = MaxHeaderBytes
        var t = readLine(in, budget, 431)
        while (t != null && t.nonEmpty) { budget -= t.length + 2; t = readLine(in, budget, 431) }
        if (t == null) throw new BadRequest(400, "chunked request body ended inside its trailer")
        done = true
      }
    }
  }

  /** One request and its response. */
  final class Exchange private[server] (val method: String, val path: String,
      val protocol: String, headers: java.util.Map[String, String],
      private[server] val requestBody: Body, out: OutputStream) {
    private val response = new java.util.LinkedHashMap[String, String]()
    private var body: OutputStream = _
    private var aborted = false

    /** The first value of request header `name` (any case). */
    def requestHeader(name: String): Option[String] = Option(headers.get(name))

    def setHeader(name: String, value: String): Unit = response.put(name, value)
    def hasHeader(name: String): Boolean = response.containsKey(name)
    /** Whether the status line is out. */
    def sent: Boolean = body != null

    /** Ends the response without its proper end: a chunked body gets no
      * last chunk, and the connection closes. */
    def abort(): Unit = aborted = true

    /** Sends the status line and headers; `len` > 0 is a fixed body
      * length, 0 a streamed body, -1 no body. */
    def sendResponseHeaders(code: Int, len: Long): Unit = {
      require(body == null, "response headers already sent")
      val head = new java.lang.StringBuilder(s"HTTP/1.1 $code ${Reasons.getOrElse(code, "Status")}\r\n")
      response.forEach((k, v) => head.append(k).append(": ").append(v).append("\r\n"))
      val http10 = protocol == "HTTP/1.0"
      if (len > 0) head.append(s"Content-Length: $len\r\n")
      else if (len < 0) head.append("Content-Length: 0\r\n")
      else if (!http10) head.append("Transfer-Encoding: chunked\r\n")
      head.append("Connection: close\r\n\r\n")
      out.write(head.toString.getBytes(ISO_8859_1))
      body =
        if (method == "HEAD") OutputStream.nullOutputStream()
        else if (len < 0) new FixedOut(out, 0)
        else if (len > 0) new FixedOut(out, len)
        else if (http10) new FixedOut(out, Long.MaxValue) // ended by the close
        else new ChunkedOut(out)
      if (len == 0) out.flush() // a streamed response shows its status at once
    }

    def responseBody: OutputStream = {
      require(body != null, "response headers not sent")
      body
    }

    /** A complete fixed-length text response. */
    def sendText(code: Int, text: String): Unit = {
      val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (!hasHeader("Content-Type")) setHeader("Content-Type", "text/plain; charset=utf-8")
      sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
      body.write(b)
    }

    /** Ends the response after its handler: a chunked body gets its
      * last chunk here, never from the handler's `close()`, so a
      * handler that fails after closing its streams still aborts. */
    private[server] def finish(): Unit = if (!aborted) {
      body match {
        case c: ChunkedOut => c.end()
        case _ => ()
      }
      out.flush()
    }
  }

  private final class FixedOut(out: OutputStream, length: Long) extends OutputStream {
    private var left = length
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (len > left) throw new IOException(s"response body longer than its Content-Length $length")
      out.write(b, off, len)
      left -= len
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.flush()
  }

  /** The chunk encoder of a streamed response (see [[HttpCore]]). */
  private final class ChunkedOut(out: OutputStream) extends OutputStream {
    private val buf = new Array[Byte](ChunkSize)
    private var n = 0
    private var first = true

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (len >= ChunkSize) { emit(); chunk(b, off, len) }
      else {
        val k = math.min(len, ChunkSize - n)
        System.arraycopy(b, off, buf, n, k)
        n += k
        if (n == ChunkSize) {
          emit()
          System.arraycopy(b, off + k, buf, 0, len - k)
          n = len - k
        }
      }
      if (first && len > 0) { first = false; flush() }
    }
    override def flush(): Unit = { emit(); out.flush() }
    override def close(): Unit = flush()
    def end(): Unit = { emit(); out.write(LastChunk) }
    private def emit(): Unit = if (n > 0) { chunk(buf, 0, n); n = 0 }
    private def chunk(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write((Integer.toHexString(len) + "\r\n").getBytes(ISO_8859_1))
      out.write(b, off, len)
      out.write(Crlf)
    }
  }

  private val Crlf = "\r\n".getBytes(ISO_8859_1)
  private val LastChunk = "0\r\n\r\n".getBytes(ISO_8859_1)
}
