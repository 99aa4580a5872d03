package graft.arrow

import java.io.{Closeable, EOFException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.arrow.flatbuf.{Message, MessageHeader}

/** The one reader of Arrow IPC encapsulation: a stream of messages
  * `[0xFFFFFFFF][metaLen:i32 LE][Message flatbuffer, padded][body]`
  * ended by EOS (`[0xFFFFFFFF][0]`) or by EOF exactly at a message
  * boundary (format/Columnar.rst, "Encapsulated message format").
  *
  * Malformed input fails loudly with [[IpcFrames.Malformed]] before any
  * length read off the wire is allocated: a `metaLen` outside
  * (0, [[IpcFrames.MaxMetaLen]]], a negative body length, an unknown
  * header type, a message running past the stream's length, or a
  * truncation inside a message. The stream must end exactly at its
  * length, so a corrupted length cannot end the scan early and yield a
  * shorter frame list. */
object IpcFrames {

  /** Upper bound on one message's flatbuffer metadata; far above any
    * schema or batch header this project writes. */
  val MaxMetaLen: Int = 64 << 20

  final class Malformed(msg: String) extends IllegalArgumentException(msg)

  /** One message: where it starts, its header type
    * (`org.apache.arrow.flatbuf.MessageHeader`), the framed header
    * (8-byte prefix plus flatbuffer) and the body length after it. */
  final case class Frame(offset: Long, headerType: Byte, framedHeader: Array[Byte],
      bodyLength: Long) {
    def metaLen: Int = framedHeader.length - 8
    def end: Long = offset + framedHeader.length + bodyLength
    def isSchema: Boolean = headerType == MessageHeader.Schema
    def isDictionary: Boolean = headerType == MessageHeader.DictionaryBatch
  }

  /** Frames of `in`, a stream of `length` bytes; every message is
    * bounded by that length. */
  def reader(in: InputStream, length: Long): Reader = new Reader(in, length)

  /** Frames of an IPC stream file. */
  def open(path: java.nio.file.Path): Reader =
    reader(new java.io.BufferedInputStream(java.nio.file.Files.newInputStream(path), 1 << 16),
      java.nio.file.Files.size(path))

  /** Every frame header of an in-memory stream (bodies skipped). */
  def scan(bytes: Array[Byte]): Vector[Frame] =
    reader(new java.io.ByteArrayInputStream(bytes), bytes.length).toVector

  /** Body length recorded in a framed header. */
  def bodyLength(framedHeader: Array[Byte]): Long = parse(framedHeader, 0L)._2

  private def intLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def malformed(msg: String): Nothing = throw new Malformed(msg)

  /** (header type, body length) of a framed header at stream `offset`. */
  private def parse(framed: Array[Byte], offset: Long): (Byte, Long) = {
    if (framed.length < 8 || intLE(framed, 0) != -1)
      malformed(s"expected continuation marker at $offset")
    val metaLen = intLE(framed, 4)
    if (metaLen != framed.length - 8) malformed(s"metadata length $metaLen at $offset != ${framed.length - 8}")
    val (tpe, bodyLen) =
      try {
        val msg = Message.getRootAsMessage(
          ByteBuffer.wrap(framed, 8, metaLen).slice().order(ByteOrder.LITTLE_ENDIAN))
        (msg.headerType(), msg.bodyLength())
      } catch { case e: RuntimeException => malformed(s"unreadable message header at $offset: $e") }
    if (tpe < MessageHeader.Schema || tpe > MessageHeader.SparseTensor)
      malformed(s"unknown message header type $tpe at $offset")
    if (bodyLen < 0) malformed(s"negative body length $bodyLen at $offset")
    (tpe, bodyLen)
  }

  /** Iterator over the frames of one stream. After `next()` the caller
    * may [[readBody]] the frame's body into its own buffer; a body left
    * unread is skipped when the iterator advances. */
  final class Reader private[IpcFrames] (in: InputStream, length: Long)
      extends Iterator[Frame] with Closeable {
    private var pos = 0L
    private var unread = 0L
    private var ahead: Frame = _
    private var ended = false

    override def hasNext: Boolean = {
      if (ahead == null && !ended) {
        if (unread > 0) skip(unread)
        ahead = readFrame()
        ended = ahead == null
      }
      ahead != null
    }

    override def next(): Frame = {
      if (!hasNext) throw new NoSuchElementException("IPC stream ended")
      val f = ahead
      ahead = null
      unread = f.bodyLength
      f
    }

    /** Reads the body of the frame last returned into the head of `buf`. */
    def readBody(buf: Array[Byte]): Unit = {
      if (unread > buf.length) malformed(s"body of $unread bytes exceeds its ${buf.length}-byte buffer")
      val len = unread.toInt
      val n = in.readNBytes(buf, 0, len)
      pos += n
      if (n < len) malformed(s"truncated body at ${pos - n}: $n of $len bytes")
      unread = 0
    }

    /** The frame's body as a fresh array. */
    def body(): Array[Byte] = {
      if (unread > Int.MaxValue - 8) malformed(s"body of $unread bytes exceeds an array")
      val b = new Array[Byte](unread.toInt)
      readBody(b)
      b
    }

    override def close(): Unit = in.close()

    private def readFrame(): Frame = {
      val offset = pos
      val prefix = new Array[Byte](8)
      val first = in.readNBytes(prefix, 0, 8)
      pos += first
      if (first == 0) {
        if (offset != length) malformed(s"stream ended at $offset of $length bytes")
        return null // EOF at a message boundary
      }
      if (first < 8) malformed(s"truncated message prefix at $offset")
      if (intLE(prefix, 0) != -1) malformed(s"expected continuation marker at $offset")
      val metaLen = intLE(prefix, 4)
      if (metaLen == 0) { // EOS
        if (pos != length) malformed(s"${length - pos} bytes after EOS at $offset")
        return null
      }
      if (metaLen < 0 || metaLen > MaxMetaLen) malformed(s"metadata length $metaLen at $offset")
      if (pos + metaLen > length) malformed(s"metadata length $metaLen at $offset runs past the stream")
      val framed = java.util.Arrays.copyOf(prefix, 8 + metaLen)
      val got = in.readNBytes(framed, 8, metaLen)
      pos += got
      if (got < metaLen) malformed(s"truncated metadata at $offset: $got of $metaLen bytes")
      val (tpe, bodyLen) = parse(framed, offset)
      if (bodyLen > length - pos) malformed(s"body length $bodyLen at $offset runs past the stream")
      Frame(offset, tpe, framed, bodyLen)
    }

    private def skip(n: Long): Unit = {
      try in.skipNBytes(n)
      catch { case _: EOFException => malformed(s"truncated body at $pos") }
      pos += n
      unread = 0
    }
  }
}
