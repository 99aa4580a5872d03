package graft.dissociated

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

import graft.arrow.{ArrowBridge, IpcFrames}

/** Dissociated IPC: metadata and body of each record batch travel on
  * SEPARATE channels and are reassembled by sequence number — the
  * capability of the reference's dissociated-ipc experiment
  * (cudf-flight-server.cc send_metadata_stream :138-182 /
  * send_data_stream :227-258; client reassembly
  * cudf-flight-client.cc:264-288) re-expressed over plain byte channels
  * (HTTP/TCP in place of UCX; GPU residency out of scope, SURVEY §7).
  *
  * Wire format (little-endian lengths, mirroring the reference's 5-byte
  * `[type:1][seq:u32 LE]` AM prefix):
  *   metadata channel: frames [type:1][seq:4][len:4][bytes]; type 1 =
  *     schema (seq 0), 2 = batch metadata (seq 1, 2, ... in order),
  *     0 = EOS (seq = batch count, len 0)
  *   body channel: frames [seq:4][len:4][bytes], 8-byte-aligned payloads
  *     (padding included in len; the IPC body alignment rule,
  *     cudf-flight-server.cc:273-277), in any order within the window
  *
  * A batch's IPC encapsulation is `[0xFFFFFFFF][metaLen:4][flatbuffer]
  * [padding][body]` — the splitter cuts at the body offset, the
  * reassembler concatenates, so a rebuilt stream is byte-identical to a
  * plain Arrow IPC stream and decodes with the standard reader.
  *
  * Window rule: a reader that has delivered every batch before `next`
  * holds at most `maxPending` early bodies, and a body whose seq is at
  * or beyond `next + maxPending` THROWS [[IpcFrames.Malformed]] rather
  * than blocking (the reference's `outstanding_tags_` is unbounded,
  * SURVEY §7 hard parts). So is a body seq repeated, already delivered
  * or past the EOS count, a body length other than its header's body
  * length padded to 8, and a metadata frame out of order or longer
  * than `8 + IpcFrames.MaxMetaLen`. A channel that ends before its EOS
  * count throws `EOFException` ("truncated").
  */
object Dissociated {

  val TypeEos: Byte = 0
  val TypeSchema: Byte = 1
  val TypeBatch: Byte = 2

  /** Writes the metadata channel of the IPC streams `parts` opens, one
    * after another (the server's are its spilled `.arrows` part files,
    * one per partition, name-sorted): reads ONLY the encapsulation
    * headers — body regions are `skip`ped (an lseek on a file stream, no
    * read, no allocation), since reassembly can't emit a batch until its
    * META frame arrives and a metadata channel that read every body
    * would gate it on a whole-dataset pass. The query that produced the
    * spill is NOT re-run, so meta and body channels built from the same
    * files are consistent by construction. The first part's schema is
    * the channel's. Each part is opened when its turn comes and closed
    * after it. Returns the batch count. */
  def streamMetadata(parts: Seq[() => IpcFrames.Reader], out: OutputStream): Int = {
    val d = new DataOutputStream(out)
    var schemaSent = false
    var seq = 0
    parts.foreach { open =>
      val frames = open()
      try frames.foreach { f =>
        if (!f.isSchema) { seq += 1; writeMetaFrame(d, TypeBatch, seq, f.framedHeader) }
        else if (!schemaSent) { writeMetaFrame(d, TypeSchema, 0, f.framedHeader); schemaSent = true }
      } finally frames.close()
    }
    writeMetaFrame(d, TypeEos, seq, Array.empty)
    d.flush()
    seq
  }

  /** Writes the metadata channel of a schema probe: the schema frame of
    * the stream `first` opens, then EOS after no batch. */
  def streamSchema(first: () => IpcFrames.Reader, out: OutputStream): Unit = {
    val frames = first()
    val schema = try frames.find(_.isSchema).get finally frames.close()
    val d = new DataOutputStream(out)
    writeMetaFrame(d, TypeSchema, 0, schema.framedHeader)
    writeMetaFrame(d, TypeEos, 0, Array.empty)
    d.flush()
  }

  /** Body frames per delivery window of [[streamBody]]. */
  private val ShuffleWindow = 8

  /** Writes the body channel of the same parts as [[streamMetadata]];
    * delivery is permuted within `ShuffleWindow`-frame windows to
    * exercise out-of-order reassembly (reference transport tags are
    * unordered).
    *
    * Bodies are read into a ring of `ShuffleWindow` grow-only reused
    * buffers — at most window-many bodies are ever live and no body
    * array is allocated per batch after warm-up (a fresh array per batch
    * is the whole dataset volume in per-request allocation churn). */
  def streamBody(parts: Seq[() => IpcFrames.Reader], out: OutputStream): Unit = {
    val d = new DataOutputStream(out)
    var seq = 0
    // ring slot: (seq, buffer, true body length)
    val bufs = Array.fill(ShuffleWindow)(new Array[Byte](0))
    val seqs = new Array[Int](ShuffleWindow)
    val lens = new Array[Int](ShuffleWindow)
    var filled = 0
    def flushWindow(): Unit = {
      var i = filled - 1
      while (i >= 0) {
        writeBodyFrameRef(d, seqs(i), bufs(i), lens(i))
        i -= 1
      }
      filled = 0
    }
    parts.foreach { open =>
      val frames = open()
      try frames.foreach { f =>
        if (!f.isSchema) {
          val bodyLen = f.bodyLength.toInt
          if (bufs(filled).length < bodyLen) bufs(filled) = new Array[Byte](bodyLen)
          frames.readBody(bufs(filled))
          seq += 1
          seqs(filled) = seq
          lens(filled) = bodyLen
          filled += 1
          if (filled >= ShuffleWindow) flushWindow()
        }
      } finally frames.close()
    }
    flushWindow()
    d.flush()
  }

  // ---------------- channel framing ----------------

  /** Channel bytes of a metadata frame with a `len`-byte payload:
    * `[type:1][seq:4][len:4]` then the payload. */
  def metaFrameLen(len: Long): Long = 9L + len

  /** Channel bytes of a body frame with a `len`-byte IPC body:
    * `[seq:4][len:4]` then the body padded to 8. */
  def bodyFrameLen(len: Long): Long = 8L + padTo8(len)

  /** `len` rounded up to the 8-byte alignment of IPC bodies. */
  private def padTo8(len: Long): Long = (len + 7) & ~7L

  def writeMetaFrame(out: DataOutputStream, tpe: Byte, seq: Int, bytes: Array[Byte]): Unit = {
    out.writeByte(tpe)
    out.writeInt(Integer.reverseBytes(seq))
    out.writeInt(Integer.reverseBytes(bytes.length))
    out.write(bytes)
  }

  /** Writes body frame `seq` of the first `len` bytes of `bytes`. */
  def writeBodyFrameRef(out: DataOutputStream, seq: Int,
      bytes: Array[Byte], len: Int): Unit = {
    val pad = (padTo8(len) - len).toInt
    out.writeInt(Integer.reverseBytes(seq))
    out.writeInt(Integer.reverseBytes(len + pad))
    out.write(bytes, 0, len)
    if (pad > 0) out.write(Padding, 0, pad)
  }

  /** Zeros a body frame is padded with: at most 7 of them. */
  private val Padding = new Array[Byte](7)

  // ---------------- client: reassembly ----------------

  /** Copies the reassembled stream of a channel pair to `sink`:
    * (batches, bytes written including EOS). */
  def reassemble(meta: InputStream, body: InputStream, sink: OutputStream,
      maxPending: Int = 16): (Long, Long) = {
    val r = new Reassembler(meta, () => body, maxPending)
    val bytes = r.transferTo(sink)
    sink.flush()
    (r.batches, bytes)
  }

  /** The Arrow IPC stream of a (metadata, body) channel pair, rebuilt on
    * the reading thread as it reads: schema, then each batch's metadata
    * and body in seq order, then EOS. The body channel is opened by the
    * first read past the schema, so a schema probe never requests it.
    * Bodies that arrive early wait in at most `maxPending` slots (the
    * window rule in the object's header). Every frame's length is
    * checked before it is allocated. `close()` closes whichever channels
    * are open. */
  final class Reassembler(meta: InputStream, openBody: () => InputStream,
      maxPending: Int = 16) extends InputStream {
    require(maxPending >= 1, s"maxPending $maxPending")
    private final class Meta(val framed: Array[Byte], val bodyLen: Int)

    private val metaIn = new DataInputStream(meta)
    private var bodyIn: DataInputStream = _
    private val metas = mutable.HashMap.empty[Int, Meta]
    private val bodies = mutable.HashMap.empty[Int, Array[Byte]]
    private var metaSeq = -1 // seq of the last metadata frame read; the schema is 0
    private var eos = -1 // the batch count, once the EOS frame is read
    private var next = 1 // the batch to deliver next

    // the chunk being read out, and the body due after the current metadata
    private var chunk = Array.emptyByteArray
    private var pos = 0
    private var lim = 0
    private var held: Array[Byte] = _
    private var heldLen = 0
    private var done = false
    private var closed = false

    /** Batches delivered so far. */
    def batches: Long = next - 1

    private def malformed(msg: String): Nothing = throw new IpcFrames.Malformed(msg)

    private def fully[T](channel: String)(read: => T): T =
      try read catch {
        case _: EOFException => throw new EOFException(
          s"dissociated stream truncated: $channel channel ended after batch ${next - 1} of " +
            (if (eos < 0) "unknown (no EOS)" else eos.toString))
      }

    private def intLE(in: DataInputStream, channel: String): Int =
      fully(channel)(Integer.reverseBytes(in.readInt()))

    /** Reads the next metadata frame: the schema, then batches in seq
      * order, then EOS carrying the batch count. */
    private def readMeta(): Unit = {
      val tpe = fully("metadata")(metaIn.readByte())
      val seq = intLE(metaIn, "metadata")
      val len = intLE(metaIn, "metadata")
      if (tpe == TypeEos && metaSeq >= 0) {
        if (seq != metaSeq || len != 0) malformed(s"EOS frame ($seq, $len bytes) after batch $metaSeq")
        eos = seq
      } else {
        if (tpe != (if (metaSeq < 0) TypeSchema else TypeBatch) || seq != metaSeq + 1)
          malformed(s"metadata frame type $tpe seq $seq after frame $metaSeq")
        if (len < 8 || len > 8 + IpcFrames.MaxMetaLen) malformed(s"metadata frame $seq of $len bytes")
        // the frame is an IPC framed header whose own prefix must agree
        // with the channel's length before that length is allocated
        val marker = intLE(metaIn, "metadata")
        val metaLen = intLE(metaIn, "metadata")
        if (marker != -1 || metaLen != len - 8)
          malformed(s"metadata frame $seq: prefix ($marker, $metaLen) in a $len-byte frame")
        val framed = new Array[Byte](len)
        ByteBuffer.wrap(framed).order(ByteOrder.LITTLE_ENDIAN).putInt(marker).putInt(metaLen)
        fully("metadata")(metaIn.readFully(framed, 8, len - 8))
        val bodyLen = IpcFrames.bodyLength(framed)
        if (bodyLen > Int.MaxValue - 8) malformed(s"batch $seq: body of $bodyLen bytes")
        metas(seq) = new Meta(framed, bodyLen.toInt)
        metaSeq = seq
      }
    }

    /** Whether batch `seq` exists: reads metadata up to it or to EOS. */
    private def metaUpTo(seq: Int): Boolean = {
      while (metaSeq < seq && eos < 0) readMeta()
      seq <= metaSeq
    }

    /** Reads one body frame into its slot of the window. */
    private def readBody(): Unit = {
      val seq = intLE(bodyIn, "body")
      val len = intLE(bodyIn, "body")
      if (seq < next || bodies.contains(seq)) malformed(s"body $seq repeated (next is $next)")
      if (seq.toLong - next >= maxPending)
        malformed(s"body $seq outside the $maxPending-batch window after $next")
      if (!metaUpTo(seq)) malformed(s"body $seq beyond the stream's $eos batches")
      val padded = padTo8(metas(seq).bodyLen)
      if (len != padded) malformed(s"body $seq: frame of $len bytes, its header says $padded")
      val b = new Array[Byte](len)
      fully("body")(bodyIn.readFully(b))
      bodies(seq) = b
    }

    private def emit(bytes: Array[Byte], len: Int): Unit = { chunk = bytes; pos = 0; lim = len }

    /** Moves to the next chunk; false once EOS has been read out. */
    private def advance(): Boolean = {
      if (closed) throw new IOException("dissociated stream closed")
      if (held != null) { emit(held, heldLen); held = null }
      else if (done) return false
      else if (metaSeq < 0) { readMeta(); val s = metas.remove(0).get.framed; emit(s, s.length) }
      else if (!metaUpTo(next)) { emit(ArrowBridge.EosBytes, 8); done = true }
      else {
        if (bodyIn == null) bodyIn = new DataInputStream(openBody())
        while (!bodies.contains(next)) readBody()
        val m = metas.remove(next).get
        held = bodies.remove(next).get
        heldLen = m.bodyLen // channel padding past the IPC body is dropped
        emit(m.framed, m.framed.length)
        next += 1
      }
      true
    }

    private def ready(): Boolean = {
      while (pos >= lim) if (!advance()) return false
      true
    }

    override def read(): Int =
      if (!ready()) -1 else { pos += 1; chunk(pos - 1) & 0xff }

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (!ready()) -1
      else {
        val n = math.min(len, lim - pos)
        System.arraycopy(chunk, pos, b, off, n)
        pos += n
        n
      }

    /** Writes whole chunks, with no copy through a transfer buffer. */
    override def transferTo(out: OutputStream): Long = {
      var n = 0L
      while (ready()) { out.write(chunk, pos, lim - pos); n += lim - pos; pos = lim }
      n
    }

    override def close(): Unit = if (!closed) {
      closed = true
      try metaIn.close() finally if (bodyIn != null) bodyIn.close()
    }
  }
}
