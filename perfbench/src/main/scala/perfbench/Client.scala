package perfbench

import java.io.{FilterInputStream, InputStream, OutputStream}
import java.net.{HttpURLConnection, URI}

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BaseIntVector, BigIntVector, FieldVector, VarCharVector}
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform

/** An op's output did not match its reference. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
}

/** Row count plus, per column, the sums of the low and high 32 bits of
  * each value. Strings are first hashed with xxhash64 (seed 42), as
  * Spark's `xxhash64` does. The sums are exact and order-independent,
  * so a Spark aggregation and a client-side decode must agree. */
final case class Checksum(rows: Long, cols: Vector[(Long, Long)])

object Checksum {
  /** Reference checksum, computed by Spark in one aggregation job. */
  def of(df: DataFrame): Checksum = fromRow(aggregate(df).head(), df.schema.size)

  /** The checksum as a one-row aggregation that reads every column. */
  def aggregate(df: DataFrame): DataFrame = {
    val aggs = df.schema.fields.toSeq.flatMap { f =>
      val v = if (f.dataType == StringType) xxhash64(col(f.name)) else col(f.name).cast("long")
      Seq(sum(v.bitwiseAND(0xffffffffL)), sum(shiftright(v, 32)))
    }
    df.agg(count(lit(1)), aggs: _*)
  }

  def fromRow(r: Row, columns: Int): Checksum = {
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Checksum(l(0), (0 until columns).map(c => (l(1 + 2 * c), l(2 + 2 * c))).toVector)
  }
}

/** Bytes read through it, and (when timing) the time blocked in reads. */
final class Meter(in: InputStream, timing: Boolean) extends FilterInputStream(in) {
  var bytes = 0L
  var waitNs = 0L
  private def count(n: Int): Int = { if (n > 0) bytes += n; n }
  override def read(): Int = {
    val t0 = if (timing) System.nanoTime() else 0L
    val c = super.read()
    if (timing) waitNs += System.nanoTime() - t0
    if (c >= 0) bytes += 1
    c
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val t0 = if (timing) System.nanoTime() else 0L
    val n = super.read(b, off, len)
    if (timing) waitNs += System.nanoTime() - t0
    count(n)
  }
}

/** Discards what is written to it and counts the bytes. */
final class CountingSink extends OutputStream {
  var bytes = 0L
  override def write(b: Int): Unit = bytes += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
}

/** The benchmark's HTTP and Arrow client: plain HttpURLConnection and
  * arrow-java, as an outside client of the server would use. */
object Client {
  val allocator = new RootAllocator(Long.MaxValue)
  val ArrowMime = "application/vnd.apache.arrow.stream"

  /** Open a request and wait for the response headers. The connection
    * is closed after the response (no keep-alive), and the op's
    * watchdog abort disconnects it. */
  def open(url: String, ctx: OpCtx, timeoutMs: Int, method: String = "GET",
      headers: Seq[(String, String)] = Nil, body: Option[Array[Byte]] = None)
      : (HttpURLConnection, Meter) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    ctx.onAbort(() => conn.disconnect())
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestMethod(method)
    conn.setRequestProperty("Connection", "close")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setFixedLengthStreamingMode(b.length.toLong)
      ctx.timed("server.ingest_upload_ms") {
        val out = conn.getOutputStream
        out.write(b)
        out.close()
      }
    }
    val t0 = System.nanoTime()
    val code = ctx.span("server.headers")(conn.getResponseCode)
    ctx.headersNs += System.nanoTime() - t0
    if (body.isDefined) ctx.extra("server.ingest_ack_ms") = (System.nanoTime() - t0) / 1e6
    Check(code == 200 || code == 206, s"$method $url -> HTTP $code")
    (conn, new Meter(conn.getInputStream, ctx.tracer.enabled))
  }

  /** Decode an Arrow IPC stream with arrow-java, folding every value of
    * every batch into a checksum; stop after `maxBatches` batches. The
    * decode's self time excludes the time `wire` waited on the socket. */
  def decode(in: InputStream, ctx: OpCtx, wire: Meter,
      maxBatches: Int = Int.MaxValue): Checksum = {
    val t0 = System.nanoTime()
    val wait0 = wire.waitNs
    val counted = new Meter(in, timing = false)
    val reader = new ArrowStreamReader(counted, allocator, CommonsCompressionFactory.INSTANCE)
    try ctx.span("arrow.decode") {
      val root = reader.getVectorSchemaRoot
      val n = root.getFieldVectors.size
      val lo = new Array[Long](n)
      val hi = new Array[Long](n)
      var rows = 0L
      var batches = 0
      while (batches < maxBatches && reader.loadNextBatch()) {
        ctx.firstBatch()
        batches += 1
        val m = root.getRowCount
        var c = 0
        while (c < n) {
          fold(root.getVector(c), reader, m, lo, hi, c)
          c += 1
        }
        rows += m
      }
      ctx.batches += batches
      Checksum(rows, lo.zip(hi).toVector)
    } finally {
      ctx.arrowBytes += counted.bytes
      reader.close()
      ctx.decodeSelfNs += System.nanoTime() - t0 - (wire.waitNs - wait0)
    }
  }

  private def hashString(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def fold(v: FieldVector, reader: ArrowStreamReader, rows: Int,
      lo: Array[Long], hi: Array[Long], c: Int): Unit = {
    var l = 0L
    var h = 0L
    def add(x: Long): Unit = { l += x & 0xffffffffL; h += x >> 32 }
    val enc = v.getField.getDictionary
    if (enc != null) {
      val dict = reader.getDictionaryVectors.get(enc.getId).getVector.asInstanceOf[VarCharVector]
      val hashes = Array.tabulate(dict.getValueCount)(i => hashString(dict.get(i)))
      val idx = v.asInstanceOf[BaseIntVector]
      var i = 0
      while (i < rows) { if (!v.isNull(i)) add(hashes(idx.getValueAsLong(i).toInt)); i += 1 }
    } else v match {
      case b: BigIntVector =>
        var i = 0
        while (i < rows) { if (!b.isNull(i)) add(b.get(i)); i += 1 }
      case s: VarCharVector =>
        var i = 0
        while (i < rows) { if (!s.isNull(i)) add(hashString(s.get(i))); i += 1 }
      case x: BaseIntVector =>
        var i = 0
        while (i < rows) { if (!v.isNull(i)) add(x.getValueAsLong(i)); i += 1 }
      case other =>
        throw new CheckFailed(s"unexpected column type ${other.getField}")
    }
    lo(c) += l
    hi(c) += h
  }

  /** Record what the socket side of an op saw. */
  def closeWire(ctx: OpCtx, m: Meter): Unit = {
    ctx.wireBytes += m.bytes
    ctx.socketWaitNs += m.waitNs
  }

  def getJson(url: String): com.fasterxml.jackson.databind.JsonNode = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestProperty("Connection", "close")
    try {
      if (conn.getResponseCode != 200)
        throw new java.io.IOException(s"GET $url -> HTTP ${conn.getResponseCode}")
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(conn.getInputStream.readAllBytes())
    } finally conn.disconnect()
  }

  def getBytes(url: String): Array[Byte] = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestProperty("Connection", "close")
    try {
      if (conn.getResponseCode != 200)
        throw new java.io.IOException(s"GET $url -> HTTP ${conn.getResponseCode}")
      conn.getInputStream.readAllBytes()
    } finally conn.disconnect()
  }
}
