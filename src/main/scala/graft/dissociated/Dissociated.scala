package graft.dissociated

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, CountDownLatch}

import org.apache.spark.sql.DataFrame

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
  *     schema (seq 0), 2 = batch metadata, 0 = EOS (len = batch count)
  *   body channel: frames [seq:4][len:4][bytes], 8-byte-aligned payloads
  *     (padding included in len; the IPC body alignment rule,
  *     cudf-flight-server.cc:273-277)
  *
  * A batch's IPC encapsulation is `[0xFFFFFFFF][metaLen:4][flatbuffer]
  * [padding][body]` — the splitter cuts at the body offset, the
  * reassembler concatenates, so a rebuilt stream is byte-identical to a
  * plain Arrow IPC stream and decodes with the standard reader.
  */
object Dissociated {

  val TypeEos: Byte = 0
  val TypeSchema: Byte = 1
  val TypeBatch: Byte = 2

  /** A reassembly sink that can take OWNERSHIP of a chunk: every array
    * [[reassemble]] emits is freshly read off a channel and never
    * touched again, so a sink implementing this skips the defensive
    * copy a generic OutputStream write needs (~the whole body volume
    * in allocation + memcpy per read). `len` ≤ `chunk.length` (channel
    * padding beyond the true IPC body length is dropped). */
  trait OwnedChunkSink { def writeOwned(chunk: Array[Byte], len: Int): Unit }

  final case class Split(seq: Int, metadata: Array[Byte], body: Array[Byte])

  /** Serialize a DataFrame into (schema message, per-batch splits). */
  def split(df: DataFrame, batchSize: Int = 4096): (Array[Byte], Vector[Split]) = {
    val full = new ByteArrayOutputStream()
    ArrowBridge.write(df.schema, ArrowBridge.internalRows(df), full,
      ArrowBridge.WriteOptions(batchSize = batchSize))
    splitStream(full.toByteArray)
  }

  /** Serve the metadata channel from spilled `.arrows` part files (one
    * per partition, name-sorted): reads ONLY the encapsulation headers —
    * body regions are `skip`ped (an lseek on a file stream, no read, no
    * allocation), since reassembly can't emit a batch until its META
    * frame arrives and a metadata channel that read every body would
    * gate it on a whole-dataset pass. The query that produced the spill
    * is NOT re-run, so meta and body channels built from the same files
    * are consistent by construction. Returns the batch count. */
  def streamMetadataFromFiles(paths: Seq[java.nio.file.Path], out: OutputStream): Int = {
    val d = new DataOutputStream(out)
    var schemaSent = false
    var seq = 0
    paths.foreach { p =>
      val frames = IpcFrames.open(p)
      try frames.foreach { f =>
        if (!f.isSchema) { seq += 1; writeMetaFrame(d, TypeBatch, seq, f.framedHeader) }
        else if (!schemaSent) { writeMetaFrame(d, TypeSchema, 0, f.framedHeader); schemaSent = true }
      } finally frames.close()
    }
    writeMetaFrame(d, TypeEos, seq, Array.empty)
    d.flush()
    seq
  }

  /** Serve the body channel from the same spilled part files; delivery
    * is permuted within `shuffleWindow`-frame windows to exercise
    * out-of-order reassembly (reference transport tags are unordered).
    *
    * Bodies are read into a ring of `shuffleWindow` grow-only reused
    * buffers — at most window-many bodies are ever live and no body
    * array is allocated per batch after warm-up (a fresh array per batch
    * is the whole dataset volume in per-request allocation churn). */
  def streamBodyFromFiles(paths: Seq[java.nio.file.Path], out: OutputStream,
      shuffleWindow: Int = 8): Unit = {
    val d = new DataOutputStream(out)
    var seq = 0
    // ring slot: (seq, buffer, true body length)
    val bufs = Array.fill(shuffleWindow)(new Array[Byte](0))
    val seqs = new Array[Int](shuffleWindow)
    val lens = new Array[Int](shuffleWindow)
    var filled = 0
    def flushWindow(): Unit = {
      var i = filled - 1
      while (i >= 0) {
        writeBodyFrameRef(d, seqs(i), bufs(i), lens(i))
        i -= 1
      }
      filled = 0
    }
    paths.foreach { p =>
      val frames = IpcFrames.open(p)
      try frames.foreach { f =>
        if (!f.isSchema) {
          val bodyLen = f.bodyLength.toInt
          if (bufs(filled).length < bodyLen) bufs(filled) = new Array[Byte](bodyLen)
          frames.readBody(bufs(filled))
          seq += 1
          seqs(filled) = seq
          lens(filled) = bodyLen
          filled += 1
          if (filled >= shuffleWindow) flushWindow()
        }
      } finally frames.close()
    }
    flushWindow()
    d.flush()
  }

  /** Split a serialized Arrow IPC stream into schema + batch messages,
    * each batch cut at its body offset. */
  def splitStream(stream: Array[Byte]): (Array[Byte], Vector[Split]) = {
    val frames = IpcFrames.reader(new ByteArrayInputStream(stream), stream.length)
    var schema: Array[Byte] = null
    val splits = Vector.newBuilder[Split]
    var seq = 0
    frames.foreach { f =>
      if (f.isSchema) schema = f.framedHeader
      else { seq += 1; splits += Split(seq, f.framedHeader, frames.body()) }
    }
    (schema, splits.result())
  }

  // ---------------- channel framing ----------------

  def writeMetaFrame(out: DataOutputStream, tpe: Byte, seq: Int, bytes: Array[Byte]): Unit = {
    out.writeByte(tpe)
    out.writeInt(Integer.reverseBytes(seq))
    out.writeInt(Integer.reverseBytes(bytes.length))
    out.write(bytes)
  }

  def writeBodyFrame(out: DataOutputStream, seq: Int, bytes: Array[Byte]): Unit =
    writeBodyFrameRef(out, seq, bytes, bytes.length)

  /** [[writeBodyFrame]] over a reused buffer prefix. */
  def writeBodyFrameRef(out: DataOutputStream, seq: Int,
      bytes: Array[Byte], len: Int): Unit = {
    val pad = (8 - (len % 8)) % 8 // 8-byte alignment rule
    out.writeInt(Integer.reverseBytes(seq))
    out.writeInt(Integer.reverseBytes(len + pad))
    out.write(bytes, 0, len)
    if (pad > 0) out.write(new Array[Byte](pad), 0, pad)
  }

  /** Serve the metadata stream of a pre-split dataset. */
  def writeMetadataChannel(out: OutputStream, schema: Array[Byte],
      splits: Seq[Split]): Unit = {
    val d = new DataOutputStream(out)
    writeMetaFrame(d, TypeSchema, 0, schema)
    splits.foreach(s => writeMetaFrame(d, TypeBatch, s.seq, s.metadata))
    writeMetaFrame(d, TypeEos, splits.size, Array.empty)
    d.flush()
  }

  /** Serve the body stream; `order` permutes delivery to exercise
    * out-of-order transfer (reference tags are unordered by design). */
  def writeBodyChannel(out: OutputStream, splits: Seq[Split],
      order: Seq[Int] = Nil): Unit = {
    val d = new DataOutputStream(out)
    val seq = if (order.nonEmpty) order.map(i => splits(i)) else splits
    seq.foreach(s => writeBodyFrame(d, s.seq, s.body))
    d.flush()
  }

  // ---------------- client: reassembly ----------------

  final case class MetaFrame(tpe: Byte, seq: Int, bytes: Array[Byte])

  def readMetaFrame(in: DataInputStream): Option[MetaFrame] =
    try {
      val tpe = in.readByte()
      val seq = Integer.reverseBytes(in.readInt())
      val len = Integer.reverseBytes(in.readInt())
      val b = new Array[Byte](len)
      in.readFully(b)
      Some(MetaFrame(tpe, seq, b))
    } catch { case _: EOFException => None }

  def readBodyFrame(in: DataInputStream): Option[(Int, Array[Byte])] =
    try {
      val seq = Integer.reverseBytes(in.readInt())
      val len = Integer.reverseBytes(in.readInt())
      val b = new Array[Byte](len)
      in.readFully(b)
      Some((seq, b))
    } catch { case _: EOFException => None }

  /** Reads both channels concurrently (out-of-order completion), emits a
    * standard Arrow IPC stream in sequence order with BOUNDED buffering
    * (`maxPending` reassembly slots — the backpressure the reference's
    * unbounded `outstanding_tags_` lacks, SURVEY §7 hard parts). */
  def reassemble(meta: InputStream, body: InputStream, sink: OutputStream,
      maxPending: Int = 16): (Long, Long) = {
    val metaBySeq = new ConcurrentHashMap[Int, MetaFrame]()
    val bodyBySeq = new ConcurrentHashMap[Int, Array[Byte]]()
    val schemaLatch = new CountDownLatch(1)
    @volatile var schema: Array[Byte] = null
    @volatile var eosCount = -1
    @volatile var error: Throwable = null
    val available = new ArrayBlockingQueue[Int](1024)
    val pendingGate = new java.util.concurrent.Semaphore(maxPending)

    def noteAvailable(seq: Int): Unit =
      if (metaBySeq.containsKey(seq) && bodyBySeq.containsKey(seq)) available.put(seq)

    // A producer thread that dies (error OR clean EOF) pushes a sentinel
    // so the consumer's take() can never block forever: zero-batch
    // streams, errors after the schema latch, and truncated channels all
    // surface instead of deadlocking.
    val Sentinel = Int.MinValue

    val metaThread = new Thread(() => {
      try {
        val d = new DataInputStream(meta)
        var frame = readMetaFrame(d)
        while (frame.isDefined) {
          val f = frame.get
          f.tpe match {
            case TypeSchema => schema = f.bytes; schemaLatch.countDown()
            case TypeBatch  => metaBySeq.put(f.seq, f); noteAvailable(f.seq)
            case TypeEos    => eosCount = f.seq
            case other      => throw new IllegalStateException(s"meta frame type $other")
          }
          frame = readMetaFrame(d)
        }
      } catch { case t: Throwable => error = t; schemaLatch.countDown() }
      finally available.put(Sentinel)
    }, "dissoc-meta")
    metaThread.setDaemon(true)

    val bodyThread = new Thread(() => {
      try {
        val d = new DataInputStream(body)
        var frame = readBodyFrame(d)
        while (frame.isDefined) {
          pendingGate.acquire() // bound unprocessed bodies in memory
          val (seq, bytes) = frame.get
          bodyBySeq.put(seq, bytes)
          noteAvailable(seq)
          frame = readBodyFrame(d)
        }
      } catch { case t: Throwable => error = t }
      finally available.put(Sentinel)
    }, "dissoc-body")
    bodyThread.setDaemon(true)

    metaThread.start(); bodyThread.start()
    schemaLatch.await()
    if (error != null) throw error
    // owned-chunk fast path: every array this loop emits is fresh off a
    // channel and never reused, so a sink that can take ownership skips
    // the defensive copy (and its allocation) per frame
    val owned: OwnedChunkSink = sink match {
      case o: OwnedChunkSink => o
      case _ => (chunk, len) => sink.write(chunk, 0, len)
    }
    owned.writeOwned(schema, schema.length)

    var emitted = 0L
    var bytes = schema.length.toLong
    var next = 1
    var liveProducers = 2
    val ready = scala.collection.mutable.Set[Int]()
    while (eosCount < 0 || emitted < eosCount) {
      val seq = available.take()
      if (seq == Sentinel) {
        liveProducers -= 1
        if (error != null) throw error
        if (liveProducers == 0 && (eosCount < 0 || emitted < eosCount))
          throw new EOFException(
            s"dissociated stream truncated: emitted $emitted of " +
              (if (eosCount < 0) "unknown (no EOS)" else eosCount.toString))
      } else ready += seq
      while (ready.contains(next)) {
        val m = metaBySeq.remove(next)
        val b = bodyBySeq.remove(next)
        owned.writeOwned(m.bytes, m.bytes.length)
        // strip alignment padding: the IPC header records the true body
        // length; padded tail bytes beyond it are channel-only
        val trueLen = IpcFrames.bodyLength(m.bytes)
        if (trueLen > b.length)
          throw new IpcFrames.Malformed(s"batch $next: body frame of ${b.length} bytes < header's $trueLen")
        owned.writeOwned(b, trueLen.toInt)
        bytes += m.bytes.length + trueLen
        ready -= next
        pendingGate.release()
        emitted += 1
        next += 1
      }
      if (error != null) throw error
    }
    sink.write(ArrowBridge.EosBytes)
    sink.flush()
    // bounded join: a malformed channel with frames beyond EOS could
    // leave a (daemon) producer parked on the gate — don't hang with it
    metaThread.join(10000); bodyThread.join(10000)
    if (error != null) throw error
    (emitted, bytes + 8)
  }
}
