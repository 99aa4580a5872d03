package graft.arrow

import java.io.{InputStream, OutputStream}
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.{BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.compression.{CompressionCodec, CompressionUtil, NoCompressionCodec}
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema => ASchema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Arrow IPC ⇄ Spark bridge: streaming writer from InternalRow iterators
  * and streaming reader to external Rows, covering the reference's type
  * lattice (SURVEY §1.3) with LZ4/ZSTD IPC body compression and
  * single-dictionary-per-stream encoding (the reference's wire shapes:
  * http/get_compressed/python/server/server.py:50-52,390-393).
  *
  * Batch-at-a-time in constant memory both directions — the reference's
  * own pipelining discipline (SURVEY §4 row 1).
  */
object ArrowBridge {

  /** Shared root allocator; children are created per stream. */
  private val root = new RootAllocator(Long.MaxValue)
  private val childId = new AtomicLong()

  def newAllocator(tag: String): BufferAllocator =
    root.newChildAllocator(s"graft-$tag-${childId.incrementAndGet()}", 0, Long.MaxValue)

  final case class WriteOptions(
      batchSize: Int = 4096,
      /** IPC buffer codec: None | Some("lz4") | Some("zstd"). */
      codec: Option[String] = None,
      /** Write the IPC *file* format instead of the stream format. */
      fileFormat: Boolean = false,
      /** Columns to dictionary-encode, with their ordered value sets
        * (one dictionary per stream, as the reference does). */
      dictColumns: Map[String, Array[String]] = Map.empty)

  private def codecType(name: String): CompressionUtil.CodecType = name match {
    case "lz4"  => CompressionUtil.CodecType.LZ4_FRAME
    case "zstd" => CompressionUtil.CodecType.ZSTD
    case other  => throw new IllegalArgumentException(s"unknown IPC codec $other")
  }

  // =================== write: InternalRow -> IPC ===================

  /** The one encoder of a relayed stream: [[writeDeltaDict]] over
    * `deltaDictCols` when there are any, else [[write]] with `opts`.
    * Returns (rows, batches). */
  private def encode(schema: StructType, rows: Iterator[InternalRow], out: OutputStream,
      opts: WriteOptions, deltaDictCols: Seq[String]): (Long, Long) =
    if (deltaDictCols.isEmpty) write(schema, rows, out, opts)
    else {
      val (r, b, _) = writeDeltaDict(schema, rows, out, deltaDictCols, opts.batchSize, opts.codec)
      (r, b)
    }

  /** The header of a [[writeParallel]] stream with these options: its
    * schema message, which is what the encoder writes for no rows minus
    * EOS. It is also the byte prefix of every per-partition stream, which
    * is what makes executor-side serialization concatenable. No
    * dictionary message is in it: arrow-java's writer emits dictionaries
    * with the first batch (`ArrowWriter.writeBatch`), and a delta stream
    * emits them as values appear. */
  def schemaBytes(schema: StructType, opts: WriteOptions = WriteOptions(),
      deltaDictCols: Seq[String] = Nil): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    encode(schema, Iterator.empty, bos, opts, deltaDictCols)
    val all = bos.toByteArray
    java.util.Arrays.copyOfRange(all, 0, all.length - EosBytes.length)
  }

  /** v5 IPC end-of-stream marker: continuation + zero length. */
  val EosBytes: Array[Byte] = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)

  /** Parallel DataFrame → IPC stream: each partition serializes (and,
    * with `zstd`, compresses) its own batches inside its Spark task
    * (all cores busy); the driver relays [schema][dictionaries]
    * [partition batches…][EOS] in partition order, one Spark job per
    * group of up to [[RelayWindow]] partitions with two groups in
    * flight (see [[PartitionStreamer]] for how groups are sized) —
    * constant driver memory, no row-at-a-time driver loop. This is the
    * 100 TB-shaped serving path: on a cluster the driver only relays
    * ~10 MB chunks. The schema goes out before any partition finishes,
    * so a client sees first bytes at once.
    *
    * Dictionary streams stay parallel. With `opts.dictColumns` the
    * value set is fixed at registration, so every partition emits
    * IDENTICAL dictionary messages right after its schema; the relay
    * keeps the first partition's and drops the rest, preserving one
    * dictionary per stream on the wire (the reference's shape). With
    * `deltaDictCols` each partition runs [[writeDeltaDict]] over its
    * own rows, so it opens with its own full (non-delta) dictionary
    * batch, which replaces the previous partition's on the reader (the
    * IPC stream format allows replacement; arrow-java's
    * `ArrowReader.loadDictionary` replaces on a non-delta batch), and
    * its delta batches follow among its record batches; the relay keeps
    * every partition's dictionary messages.
    *
    * With `zstd` the HTTP-level zstd coding is done as INDEPENDENT
    * zstd frames — one for the schema, one per partition dictionary
    * kept, one per non-empty partition chunk, one for EOS.
    * Concatenated frames are standard zstd (the CLI produces them for
    * multi-file input) and any zstd decoder reads them as one stream,
    * so the decompressed bytes equal the uncoded output. (libzstd's own
    * multi-threaded stream encoder intermittently stalled serves
    * 20–80 s under concurrent decode load; one-shot per-task frames
    * share no native context. Ratio cost of per-chunk frames is < 0.5%
    * on the ticker payload.)
    *
    * Returns (rows, batches, uncoded stream bytes). The relay writes
    * the IPC stream format only.
    */
  def writeParallel(df: org.apache.spark.sql.DataFrame, out: OutputStream,
      opts: WriteOptions = WriteOptions(),
      zstd: Boolean = false,
      deltaDictCols: Seq[String] = Nil): (Long, Long, Long) = {
    require(!opts.fileFormat, "writeParallel writes the IPC stream format only")
    def code(bytes: Array[Byte]): Array[Byte] =
      if (zstd) com.github.luben.zstd.Zstd.compress(bytes, ZstdLevel) else bytes
    val header = schemaBytes(df.schema, opts, deltaDictCols)
    out.write(code(header))
    out.flush()
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val bos = new java.io.ByteArrayOutputStream(1 << 20)
      val (r, b) = encode(schema, it, bos, opts, deltaDictCols)
      val all = bos.toByteArray
      // [schema][dictionaries…][batches…][EOS] → (dictionaries, batches)
      val frames = IpcFrames.scan(all)
      val dictStart = frames.head.end.toInt
      val batchStart = frames.drop(1).find(!_.isDictionary)
        .fold(all.length - EosBytes.length)(_.offset.toInt)
      val dict = java.util.Arrays.copyOfRange(all, dictStart, batchStart)
      val batches = java.util.Arrays.copyOfRange(all, batchStart, all.length - EosBytes.length)
      def coded(raw: Array[Byte]) = if (raw.isEmpty) raw else code(raw)
      Iterator.single(RelayPart(coded(dict), dict.length, coded(batches), batches.length, r, b))
    }
    val everyDict = deltaDictCols.nonEmpty
    var rows = 0L
    var batches = 0L
    var bytes = header.length.toLong
    var dictSent = false
    PartitionStreamer.foreachOrdered(parts, RelayWindow,
        (p: RelayPart) => p.dict.length.toLong + p.batches.length) { p =>
      if (p.dictLen > 0 && (everyDict || !dictSent)) {
        dictSent = true
        out.write(p.dict)
        bytes += p.dictLen
      }
      if (p.batchesLen > 0) {
        out.write(p.batches)
        out.flush()
      }
      rows += p.rows; batches += p.batchCount; bytes += p.batchesLen
    }
    out.write(code(EosBytes))
    out.flush()
    (rows, batches, bytes + EosBytes.length)
  }

  /** [[writeParallel]] coded as zstd frames. */
  def writeParallelZstd(df: org.apache.spark.sql.DataFrame, out: OutputStream,
      opts: WriteOptions = WriteOptions()): (Long, Long, Long) =
    writeParallel(df, out, opts, zstd = true)

  private final val ZstdLevel = 3 // a constant: inlined, so task closures capture nothing

  /** Most partitions per Spark job of the [[writeParallel]] relay (fewer
    * when `spark.driver.maxResultSize` needs it), which keeps two such
    * groups in flight; the driver holds at most 2 × this many partition
    * results (one more while partition 0 is written). */
  final val RelayWindow = 8

  /** One partition's share of a [[writeParallel]] stream, coded; the
    * lengths are the uncoded ones. */
  private final case class RelayPart(dict: Array[Byte], dictLen: Int,
      batches: Array[Byte], batchesLen: Int, rows: Long, batchCount: Long)

  /** Push-style streaming writer: append rows one at a time, constant
    * memory; flushes a batch every `opts.batchSize` rows. */
  final class StreamingWriter(schema: StructType, out: OutputStream, opts: WriteOptions) {
    private val alloc = newAllocator("stream-write")
    private var rows = 0L
    private var batches = 0L
    private var n = 0
    private var closed = false

    private val state = makeWriteState(schema, out, opts, alloc)

    def append(r: InternalRow): Unit = {
      var i = 0
      while (i < state.setters.length) { state.setters(i)(r, i, n); i += 1 }
      n += 1
      if (n == opts.batchSize) flushBatch()
    }

    private def flushBatch(): Unit = if (n > 0) {
      state.root.setRowCount(n)
      state.writer.writeBatch()
      rows += n; batches += 1; n = 0
      state.root.allocateNew()
    }

    /** Ends the stream (EOS); returns (rows, batches). */
    def finish(): (Long, Long) = {
      flushBatch()
      state.writer.end()
      (rows, batches)
    }

    def close(): Unit = if (!closed) {
      closed = true
      state.writer.close()
      state.root.close()
      state.closeDicts()
      alloc.close()
    }
  }

  private final case class WriteState(
      root: VectorSchemaRoot,
      writer: org.apache.arrow.vector.ipc.ArrowWriter,
      setters: Array[(SpecializedGetters, Int, Int) => Unit],
      closeDicts: () => Unit)

  /** Writes `rows` as an Arrow IPC stream; returns (rows, batches). */
  def write(schema: StructType, rows: Iterator[InternalRow], out: OutputStream,
            opts: WriteOptions = WriteOptions()): (Long, Long) = {
    val w = new StreamingWriter(schema, out, opts)
    try {
      while (rows.hasNext) w.append(rows.next())
      w.finish()
    } finally w.close()
  }

  /** Single-pass dictionary-DELTA stream writer: encodes `dictCols`
    * (string columns) against dictionaries that GROW as values appear —
    * the first values emit as a full dictionary batch, later batches
    * emit `isDelta=true` dictionary batches carrying only unseen values
    * (appended by spec-conforming readers; arrow-java's ArrowReader
    * batch-appends them, so [[read]] decodes these streams unchanged).
    *
    * Contrast with `WriteOptions.dictColumns` (one dictionary per
    * stream, the reference's only wire shape,
    * get_compressed/python/server/server.py:50-52): that path needs the
    * value set up front — a full `distinct()` pre-scan — while this one
    * needs NO pre-scan and O(|dictionary|) writer memory, the shape for
    * encoding unbounded streams (POST ingest, readStream) where the
    * value set is unknown. Delta batches are the IPC spec's documented
    * evolution of dictionary streams (format/Columnar.rst, dictionary
    * messages).
    *
    * `codec` is the IPC body codec (None | Some("lz4") | Some("zstd")),
    * applied to the dictionary batches and the record batches alike, as
    * arrow-java's own writer does.
    *
    * Returns (rows, batches, final dictionary size per column). */
  def writeDeltaDict(schema: StructType, rows: Iterator[InternalRow],
      out: OutputStream, dictCols: Seq[String], batchSize: Int = 4096,
      codec: Option[String] = None): (Long, Long, Map[String, Int]) = {
    import org.apache.arrow.vector.ipc.WriteChannel
    import org.apache.arrow.vector.ipc.message.{ArrowDictionaryBatch, IpcOption, MessageSerializer}
    import org.apache.arrow.vector.util.DictionaryUtility
    require(dictCols.nonEmpty, "writeDeltaDict needs at least one dictionary column")
    dictCols.foreach(c => require(
      schema(c).dataType == StringType, s"dictionary column $c must be string"))
    val alloc = newAllocator("delta-dict-write")
    val bodyCodec = codec.fold[CompressionCodec](NoCompressionCodec.INSTANCE)(c =>
      CommonsCompressionFactory.INSTANCE.createCodec(codecType(c)))
    def unload(root: VectorSchemaRoot) = new VectorUnloader(root, true, bodyCodec, true).getRecordBatch
    val dictIds = dictCols.zipWithIndex.toMap
    def encoding(c: String) =
      new DictionaryEncoding(dictIds(c).toLong, false, new ArrowType.Int(32, true))

    val fields: Seq[Field] = schema.fields.toSeq.map { f =>
      if (dictIds.contains(f.name))
        new Field(f.name,
          new FieldType(f.nullable, new ArrowType.Int(32, true), encoding(f.name), null),
          List.empty[Field].asJava)
      else ArrowSchemas.toArrowField(f)
    }
    val vroot = VectorSchemaRoot.create(new ASchema(fields.asJava), alloc)
    // empty value vectors let toMessageFormat recover the VALUE type for
    // the wire schema (the index type travels in the encoding metadata)
    val provider = new DictionaryProvider.MapDictionaryProvider()
    dictCols.foreach { c =>
      val dv = new VarCharVector(s"$c-dict", alloc)
      dv.allocateNew(0); dv.setValueCount(0)
      provider.put(new Dictionary(dv, encoding(c)))
    }
    val lookups = dictCols.map(c => c -> new java.util.HashMap[String, Integer]()).toMap
    val pendingNew = dictCols.map(c => c -> scala.collection.mutable.ArrayBuffer[String]()).toMap

    try {
      val setters: Array[(InternalRow, Int) => Unit] =
        schema.fields.zipWithIndex.map { case (f, i) =>
          val vec = vroot.getVector(i)
          if (dictIds.contains(f.name)) {
            val lookup = lookups(f.name)
            val pend = pendingNew(f.name)
            val iv = vec.asInstanceOf[IntVector]
            (r: InternalRow, dst: Int) =>
              if (r.isNullAt(i)) iv.setNull(dst)
              else {
                val v = r.getUTF8String(i).toString
                var idx = lookup.get(v)
                if (idx == null) { idx = Integer.valueOf(lookup.size); lookup.put(v, idx); pend += v }
                iv.setSafe(dst, idx.intValue())
              }
          } else {
            val s = mkSetter(vec, f.dataType, ArrowSchemas.origTag(f))
            (r: InternalRow, dst: Int) => s(r, i, dst)
          }
        }

      val wch = new WriteChannel(Channels.newChannel(out))
      val used = new java.util.HashSet[java.lang.Long]()
      val msgFields = vroot.getSchema.getFields.asScala
        .map(f => DictionaryUtility.toMessageFormat(f, provider, used))
      MessageSerializer.serialize(wch, new ASchema(msgFields.asJava))

      var rowsN = 0L
      var batches = 0L
      val emittedOnce = scala.collection.mutable.Set[String]()
      while (rows.hasNext) {
        var n = 0
        while (rows.hasNext && n < batchSize) {
          val r = rows.next()
          var i = 0
          while (i < setters.length) { setters(i)(r, n); i += 1 }
          n += 1
        }
        // dictionary (delta) batches FIRST — a batch may only reference
        // values its readers have already seen
        dictCols.foreach { c =>
          val pend = pendingNew(c)
          if (pend.nonEmpty) {
            val dv = new VarCharVector(s"$c-dict", alloc)
            dv.allocateNew(pend.size)
            pend.zipWithIndex.foreach { case (v, j) => dv.setSafe(j, v.getBytes(UTF_8)) }
            dv.setValueCount(pend.size)
            val droot = new VectorSchemaRoot(
              List(dv.getField).asJava, List[FieldVector](dv).asJava, pend.size)
            val rb = unload(droot)
            val db = new ArrowDictionaryBatch(dictIds(c).toLong, rb,
              /* isDelta = */ emittedOnce.contains(c))
            try MessageSerializer.serialize(wch, db) finally db.close()
            dv.close()
            emittedOnce += c
            pend.clear()
          }
        }
        vroot.setRowCount(n)
        val rb = unload(vroot)
        try MessageSerializer.serialize(wch, rb) finally rb.close()
        vroot.allocateNew() // reset buffers for the next fill
        rowsN += n
        batches += 1
      }
      ArrowStreamWriter.writeEndOfStream(wch, IpcOption.DEFAULT)
      out.flush()
      (rowsN, batches, dictCols.map(c => c -> lookups(c).size).toMap)
    } finally {
      vroot.close()
      provider.getDictionaryIds.asScala.foreach(id => provider.lookup(id).getVector.close())
      alloc.close()
    }
  }

  private def makeWriteState(schema: StructType, out: OutputStream,
      opts: WriteOptions, alloc: BufferAllocator): WriteState = {
    {
      val provider = new DictionaryProvider.MapDictionaryProvider()
      val dictIndex: Map[String, java.util.HashMap[UTF8String, Integer]] =
        opts.dictColumns.toSeq.zipWithIndex.map { case ((name, values), i) =>
          val dictVec = new VarCharVector(s"$name-dict", alloc)
          dictVec.allocateNew(values.length)
          values.zipWithIndex.foreach { case (v, j) => dictVec.setSafe(j, v.getBytes(UTF_8)) }
          dictVec.setValueCount(values.length)
          provider.put(new Dictionary(dictVec,
            new DictionaryEncoding(i.toLong, false, new ArrowType.Int(32, true))))
          val lookup = new java.util.HashMap[UTF8String, Integer]()
          values.zipWithIndex.foreach { case (v, j) => lookup.put(UTF8String.fromString(v), j) }
          name -> lookup
        }.toMap

      val fields: Seq[Field] = schema.fields.toSeq.map { f =>
        if (opts.dictColumns.contains(f.name)) {
          val id = opts.dictColumns.keysIterator.toSeq.indexOf(f.name).toLong
          new Field(f.name,
            new FieldType(f.nullable, new ArrowType.Int(32, true),
              new DictionaryEncoding(id, false, new ArrowType.Int(32, true)), null),
            List.empty[Field].asJava)
        } else ArrowSchemas.toArrowField(f)
      }
      val vroot = VectorSchemaRoot.create(new ASchema(fields.asJava), alloc)
      locally {
        val setters: Array[(SpecializedGetters, Int, Int) => Unit] =
          schema.fields.zipWithIndex.map { case (f, i) =>
            val vec = vroot.getVector(i)
            if (opts.dictColumns.contains(f.name)) {
              val lookup = dictIndex(f.name)
              val iv = vec.asInstanceOf[IntVector]
              // probed with the row's own bytes: no String per row
              (g: SpecializedGetters, src: Int, dst: Int) =>
                if (g.isNullAt(src)) iv.setNull(dst)
                else {
                  val v = g.getUTF8String(src)
                  val j = lookup.get(v)
                  if (j == null) throw new IllegalArgumentException(
                    s"dictionary column '${f.name}': value '$v' is not in its dictionary")
                  iv.setSafe(dst, j.intValue())
                }
            } else mkSetter(vec, f.dataType, ArrowSchemas.origTag(f))
          }

        val chan = Channels.newChannel(out)
        val writer =
          if (opts.fileFormat) {
            opts.codec match {
              case Some(c) => new ArrowFileWriter(vroot, provider,
                Channels.newChannel(out), new java.util.HashMap[String, String](),
                org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
                CommonsCompressionFactory.INSTANCE, codecType(c))
              case None => new ArrowFileWriter(vroot, provider, Channels.newChannel(out))
            }
          } else opts.codec match {
            case Some(c) => new ArrowStreamWriter(vroot, provider, chan,
              org.apache.arrow.vector.ipc.message.IpcOption.DEFAULT,
              CommonsCompressionFactory.INSTANCE, codecType(c))
            case None => new ArrowStreamWriter(vroot, provider, chan)
          }
        writer.start()
        WriteState(vroot, writer, setters, () =>
          provider.getDictionaryIds.asScala.foreach(id => provider.lookup(id).getVector.close()))
      }
    }
  }

  /** Setter writing value `src`-th field of a SpecializedGetters into
    * vector position `dst`. Children of lists/structs recurse. */
  private def mkSetter(vec: FieldVector, dt: DataType, orig: Option[String])
      : (SpecializedGetters, Int, Int) => Unit = {
    def nn(f: (SpecializedGetters, Int, Int) => Unit): (SpecializedGetters, Int, Int) => Unit =
      (g, src, dst) => if (g.isNullAt(src)) setNull(vec, dst) else f(g, src, dst)
    (orig, dt) match {
      case (Some("uint8"), ShortType) =>
        val v = vec.asInstanceOf[UInt1Vector]; nn((g, s, d) => v.setSafe(d, g.getShort(s) & 0xff))
      case (Some("uint16"), IntegerType) =>
        val v = vec.asInstanceOf[UInt2Vector]; nn((g, s, d) => v.setSafe(d, g.getInt(s).toChar))
      case (Some("uint32"), LongType) =>
        val v = vec.asInstanceOf[UInt4Vector]; nn((g, s, d) => v.setSafe(d, g.getLong(s).toInt))
      case (Some("uint64"), t: DecimalType) =>
        val v = vec.asInstanceOf[UInt8Vector]
        nn((g, s, d) => v.setSafe(d, g.getDecimal(s, t.precision, t.scale)
          .toJavaBigDecimal.toBigInteger.longValue()))
      case (Some("date64"), DateType) =>
        val v = vec.asInstanceOf[DateMilliVector]
        nn((g, s, d) => v.setSafe(d, g.getInt(s).toLong * 86400000L))
      case (Some("timestamp_ns"), TimestampType) =>
        val v = vec.asInstanceOf[TimeStampNanoTZVector]
        nn((g, s, d) => v.setSafe(d, Math.multiplyExact(g.getLong(s), 1000L)))
      case (_, ByteType) =>
        val v = vec.asInstanceOf[TinyIntVector]; nn((g, s, d) => v.setSafe(d, g.getByte(s)))
      case (_, ShortType) =>
        val v = vec.asInstanceOf[SmallIntVector]; nn((g, s, d) => v.setSafe(d, g.getShort(s)))
      case (_, IntegerType) =>
        val v = vec.asInstanceOf[IntVector]; nn((g, s, d) => v.setSafe(d, g.getInt(s)))
      case (_, LongType) =>
        val v = vec.asInstanceOf[BigIntVector]; nn((g, s, d) => v.setSafe(d, g.getLong(s)))
      case (_, FloatType) =>
        val v = vec.asInstanceOf[Float4Vector]; nn((g, s, d) => v.setSafe(d, g.getFloat(s)))
      case (_, DoubleType) =>
        val v = vec.asInstanceOf[Float8Vector]; nn((g, s, d) => v.setSafe(d, g.getDouble(s)))
      case (_, StringType) =>
        val v = vec.asInstanceOf[VarCharVector]
        nn((g, s, d) => v.setSafe(d, g.getUTF8String(s).getBytes))
      case (_, BinaryType) =>
        val v = vec.asInstanceOf[VarBinaryVector]; nn((g, s, d) => v.setSafe(d, g.getBinary(s)))
      case (_, BooleanType) =>
        val v = vec.asInstanceOf[BitVector]
        nn((g, s, d) => v.setSafe(d, if (g.getBoolean(s)) 1 else 0))
      case (_, DateType) =>
        val v = vec.asInstanceOf[DateDayVector]; nn((g, s, d) => v.setSafe(d, g.getInt(s)))
      case (_, TimestampType) =>
        val v = vec.asInstanceOf[TimeStampMicroTZVector]; nn((g, s, d) => v.setSafe(d, g.getLong(s)))
      case (_, TimestampNTZType) =>
        val v = vec.asInstanceOf[TimeStampMicroVector]; nn((g, s, d) => v.setSafe(d, g.getLong(s)))
      case (_, t: DecimalType) =>
        val v = vec.asInstanceOf[DecimalVector]
        nn((g, s, d) => v.setSafe(d, g.getDecimal(s, t.precision, t.scale).toJavaBigDecimal))
      case (_, NullType) =>
        (_, _, _) => () // NullVector: value count set via root.setRowCount
      case (_, ArrayType(et, _)) =>
        val v = vec.asInstanceOf[ListVector]
        val childSetter = mkSetter(v.getDataVector.asInstanceOf[FieldVector], et, None)
        (g, s, d) => {
          if (g.isNullAt(s)) v.setNull(d)
          else {
            val arr = g.getArray(s)
            // startNewValue returns this row's child start offset —
            // keeps the setter stateless across batch resets
            val start = v.startNewValue(d)
            var k = 0
            while (k < arr.numElements()) { childSetter(arr, k, start + k); k += 1 }
            v.endValue(d, arr.numElements())
          }
        }
      case (_, st: StructType) =>
        val v = vec.asInstanceOf[StructVector]
        val childSetters = st.fields.zipWithIndex.map { case (cf, ci) =>
          mkSetter(v.getChildrenFromFields.get(ci), cf.dataType, ArrowSchemas.origTag(cf))
        }
        (g, s, d) => {
          if (g.isNullAt(s)) v.setNull(d)
          else {
            v.setIndexDefined(d)
            val struct = g.getStruct(s, st.fields.length)
            var k = 0
            while (k < childSetters.length) { childSetters(k)(struct, k, d); k += 1 }
          }
        }
      case (_, other) => throw new UnsupportedOperationException(s"write: $other")
    }
  }

  private def setNull(vec: FieldVector, idx: Int): Unit = vec match {
    case v: BaseFixedWidthVector    => v.setNull(idx)
    case v: BaseVariableWidthVector => v.setNull(idx)
    case v: ListVector              => v.setNull(idx)
    case v: StructVector            => v.setNull(idx)
    case _: NullVector              => ()
    case other => throw new UnsupportedOperationException(s"setNull: ${other.getClass}")
  }

  // =================== read: IPC -> external Rows ===================

  final class ReadResult(
      val schema: StructType,
      val rows: Iterator[Row],
      private val closeFn: () => Unit) extends AutoCloseable {
    override def close(): Unit = closeFn()
  }

  /** Streaming read of an Arrow IPC stream: batches are decoded one at a
    * time by [[InternalRows]] (dictionary-encoded columns to their value
    * type) and each row becomes an external `Row` through Spark's own
    * converter, the one `collect()` uses. */
  def read(in: InputStream): ReadResult = {
    val alloc = newAllocator("read")
    val reader = new ArrowStreamReader(in, alloc, CommonsCompressionFactory.INSTANCE)
    val schema = ArrowSchemas.fromArrowSchema(reader.getVectorSchemaRoot.getSchema)
    val rows = new InternalRows(reader, schema)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    new ReadResult(schema, rows.map(r => toRow(r).asInstanceOf[Row]),
      () => { rows.close(); reader.close(); alloc.close() })
  }
}
