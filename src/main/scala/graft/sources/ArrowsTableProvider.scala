package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.net.{HttpURLConnection, URI}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnarBatch}

import graft.arrow.{ArrowBridge, ArrowSchemas, InternalRows}

/** DataSource V2 for Arrow IPC streams: `format("arrows")`.
  *
  * Read: local `.arrows` files (or directories of them) and `http(s)://`
  * URIs, the reference's own scale-out story (get_indirect's
  * JSON-of-URIs, `curl --parallel`; SURVEY §2.4). Each file, URI or
  * dissociated channel pair is a piece, and the scan packs contiguous
  * runs of sized pieces into read tasks by Spark's file-packing rule
  * (see [[ArrowsScan.pack]]); a piece of unknown size is a task of its
  * own. Column pruning supported; schemas
  * that map 1:1 onto Spark types take a zero-copy columnar path
  * (ArrowColumnVector), widened/dictionary schemas fall back to row
  * conversion.
  *
  * Write: partition-parallel part files (`part-NNNNN.arrows`) with
  * lz4|zstd codec / IPC file-format options.
  */
class ArrowsTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrows"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("dissoc")) match {
      case Some(infoUrl) => ArrowsTableProvider.dissocSchema(infoUrl)
      case None =>
        val paths = ArrowsTableProvider.resolvePaths(options)
        require(paths.nonEmpty, "arrows source needs at least one path or url")
        ArrowsTableProvider.readSchema(paths.head)
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ArrowsTable(schema, new CaseInsensitiveStringMap(properties))
}

object ArrowsTableProvider {
  def isUrl(p: String): Boolean = p.startsWith("http://") || p.startsWith("https://")

  /** Expand paths: multi-path load, directories → their .arrows files. */
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] =
    rawPaths(options).flatMap { p =>
      if (isUrl(p)) Seq(p)
      else {
        val f = new java.io.File(stripScheme(p))
        if (f.isDirectory)
          f.listFiles().toSeq.map(_.getPath)
            .filter(n => n.endsWith(".arrows") || n.endsWith(".arrow")).sorted
        else Seq(f.getPath)
      }
    }

  private[sources] def stripScheme(p: String): String =
    if (p.startsWith("file:")) URI.create(p).getPath else p

  /** The unexpanded path options (directories stay directories) —
    * the streaming source re-lists them per micro-batch. */
  def rawPaths(options: CaseInsensitiveStringMap): Seq[String] = {
    // Spark passes load(paths*) as a JSON string array
    val multi = Option(options.get("paths")).toSeq.flatMap { paths =>
      json.readValue(paths, classOf[Array[String]]).toSeq
    }
    multi ++ Option(options.get("path")).toSeq ++ Option(options.get("url")).toSeq
  }

  def open(path: String): InputStream = open(path, schemaOnly = false)

  /** Socket guards for every client-side HTTP open (r14): a bench run
    * hung INDEFINITELY mid-100M-loop — one reader task blocked in
    * socket read while every server handler thread idled and a second
    * pooled connection held 2.9 MB of undelivered response — the same
    * stale keep-alive checkout race the dissociated channel reads
    * documented and opted out of in r13. Timeouts turn any recurrence
    * into a task failure (which Spark retries on a fresh connection)
    * instead of a wedged bench.
    *
    * r15 (r14 verdict #3): `Connection: close` now rides EVERY open,
    * not just bulk body reads — r14 left schema probes, /offsets
    * fetches, /qsplit probes and /dissoc/info discovery in the JDK
    * keep-alive pool, and a pooled connection the server half-closed
    * still stalled the FIRST read ~25 s until TCP gave up (the exact
    * 28–29 s plateau signature on three r14 32-core cells). The pool
    * buys nothing here: probe responses are a few hundred bytes against
    * a localhost (or LAN) server where a fresh connect is ~50 µs, and
    * at scale the probe fan-out per query is O(#parts), not a hot loop.
    * Opting every request out removes the stale-checkout race class
    * entirely. */
  private def httpTimeouts(conn: HttpURLConnection): HttpURLConnection = {
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(180000)
    conn.setRequestProperty("Connection", "close")
    conn
  }

  def open(path: String, schemaOnly: Boolean, accept: String = ""): InputStream =
    if (isUrl(path)) {
      val conn = httpTimeouts(
        URI.create(path).toURL.openConnection().asInstanceOf[HttpURLConnection])
      conn.setRequestProperty("Accept", "application/vnd.apache.arrow.stream")
      // opt-in content-coding (option acceptEncoding): the server
      // negotiates zstd/br/gzip and the decode match below unwraps it
      if (accept.nonEmpty) conn.setRequestProperty("Accept-Encoding", accept)
      if (schemaOnly) conn.setRequestProperty("X-Arrow-Schema-Only", "1")
      val code = conn.getResponseCode
      require(code == 200, s"GET $path -> HTTP $code")
      val ct = Option(conn.getContentType).getOrElse("")
      require(ct.startsWith("application/vnd.apache.arrow.stream"),
        s"unexpected content-type $ct from $path")
      val raw = conn.getInputStream
      val decoded = Option(conn.getContentEncoding) match {
        case Some("gzip") => new java.util.zip.GZIPInputStream(raw)
        case Some("zstd") => new com.github.luben.zstd.ZstdInputStream(raw)
        case Some("br")   => new graft.server.Brotli.BrotliStoredInputStream(raw)
        case _            => raw
      }
      new BufferedInputStream(decoded, 1 << 16)
    } else new BufferedInputStream(new java.io.FileInputStream(stripScheme(path)), 1 << 16)

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** GET a server JSON document as a Jackson tree. */
  private def getJson(url: String): com.fasterxml.jackson.databind.JsonNode =
    json.readTree(httpTimeouts(URI.create(url).toURL
        .openConnection().asInstanceOf[HttpURLConnection])
      .getInputStream.readAllBytes())

  /** A listing entry's `bytes` field; -1 when the listing does not give it. */
  private def bytesOf(entry: com.fasterxml.jackson.databind.JsonNode): Long = {
    val b = entry.path("bytes")
    if (b.isIntegralNumber && b.asLong >= 0) b.asLong else -1L
  }

  /** Probe the server's /offsets index and build range pieces of
    * roughly equal byte size, each covering whole batches. Empty when
    * the server has no index. */
  def rangedPartitions(fileUrl: String, n: Int): Seq[ArrowsPiece] =
    try {
      val root = getJson(fileUrl.replace("/files/", "/offsets/"))
      val schemaEnd = root.path("schema_end")
      val spans = root.path("batches").elements().asScala
        .map(b => (b.path(0).asLong, b.path(1).asLong)).toVector
      if (!schemaEnd.isIntegralNumber || spans.isEmpty) Nil
      else {
        val total = spans.last._2 - spans.head._1
        val target = math.max(1L, total / n)
        val groups = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var start = spans.head._1
        var end = start
        spans.foreach { case (_, e) =>
          end = e
          if (end - start >= target) { groups += ((start, end)); start = end }
        }
        if (end > start) groups += ((start, end))
        groups.toSeq.map { case (s, e) =>
          ArrowsPiece(fileUrl, schemaEnd = schemaEnd.asLong, start = s, end = e)
        }
      }
    } catch { case _: Exception => Nil }

  /** One entry of a `/qsplit/` listing: a part's URI and its byte size
    * (-1 when the listing does not give one). */
  final case class SplitPart(uri: String, bytes: Long)

  /** Probe a /q/ URL's /qsplit/ twin: a graft server answers with a
    * JSON-of-URIs listing of spilled per-partition artifacts (the
    * indirect-listing shape), each with its byte size. Empty on
    * 404/foreign servers → caller falls back to the single-stream read. */
  def probeSplits(qUrl: String): Seq[SplitPart] =
    try {
      val conn = httpTimeouts(URI.create(qUrl.replace("/q/", "/qsplit/")).toURL
        .openConnection().asInstanceOf[HttpURLConnection])
      if (conn.getResponseCode != 200) Nil
      else json.readTree(conn.getInputStream.readAllBytes())
        .path("arrow_stream_files").elements().asScala
        .map(e => SplitPart(e.path("uri").asText(), bytesOf(e)))
        .filter(_.uri.nonEmpty).toSeq
    } catch { case _: Exception => Nil }

  /** GET a byte range of a URL. */
  def openRange(url: String, start: Long, endExclusive: Long): InputStream = {
    val conn = httpTimeouts(
      URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection])
    conn.setRequestProperty("Range", s"bytes=$start-${endExclusive - 1}")
    val code = conn.getResponseCode
    require(code == 206 || code == 200, s"range GET $url -> HTTP $code")
    new BufferedInputStream(conn.getInputStream, 1 << 16)
  }

  // ---- dissociated dual-channel read (SURVEY §3.3; the reference
  // client's out-of-order completion / in-order delivery,
  // dissociated-ipc/cudf-flight-client.cc:51-325, as a spark.read path)

  /** One publishable unit of dissociated parallelism: a per-part info
    * URI plus (when the server inlines them) the part's resolved
    * channel pair — a task with the pair opens its two streams with no
    * discovery round-trip — and the part's byte size (-1 when not
    * published). */
  final case class DissocPart(infoUri: String, metaUri: String, bodyUri: String, bytes: Long)

  /** Parse a `/dissoc/info/` discovery document (key order and
    * whitespace are not part of the contract): the channel→uri map from
    * `locations` plus any per-part entries from `parts` (the reference's
    * FlightInfo endpoint list is plural by design,
    * cudf-flight-server.cc:349-365 — a spilled dataset publishes one
    * (metadata, body) pair per part for a parallel scan). */
  def dissocInfo(infoUrl: String): (Map[String, String], Seq[DissocPart]) = {
    val root = getJson(infoUrl)
    val chans = root.path("locations").elements().asScala
      .map(l => l.path("channel").asText() -> l.path("uri").asText()).toMap
    val parts = root.path("parts").elements().asScala
      .map(p => DissocPart(p.path("uri").asText(),
        p.path("metadata").asText(), p.path("body").asText(), bytesOf(p)))
      .filter(_.infoUri.nonEmpty).toSeq
    (chans, parts)
  }

  /** Resolve a `/dissoc/info/` discovery document to its (metadata,
    * body) channel URIs — the HTTP analogue of the reference's
    * dual-location FlightInfo. */
  def resolveDissoc(infoUrl: String): (String, String) = {
    val pairs = dissocInfo(infoUrl)._1
    (pairs.getOrElse("metadata",
        throw new IllegalArgumentException(s"no metadata channel in $infoUrl")),
      pairs.getOrElse("body",
        throw new IllegalArgumentException(s"no body channel in $infoUrl")))
  }

  private def openRaw(url: String, schemaOnly: Boolean = false): InputStream = {
    // a channel is drained to EOF once, so a pooled connection buys
    // nothing; httpTimeouts opts it out of the keep-alive pool
    val conn = httpTimeouts(
      URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection])
    if (schemaOnly) conn.setRequestProperty("X-Arrow-Schema-Only", "1")
    val code = conn.getResponseCode
    require(code == 200, s"GET $url -> HTTP $code")
    new BufferedInputStream(conn.getInputStream, 1 << 16)
  }

  /** The reassembled Arrow IPC stream behind a dissoc info URL:
    * [[graft.dissociated.Dissociated.Reassembler]] rebuilds it on the
    * reading thread, bodies may arrive out of order within its bounded
    * window (16 pending slots: constant memory at any stream length),
    * and batches come out in sequence order. */
  def openDissoc(infoUrl: String, schemaOnly: Boolean = false): InputStream = {
    val (metaUrl, bodyUrl) = resolveDissoc(infoUrl)
    openDissocPair(metaUrl, bodyUrl, schemaOnly)
  }

  /** As [[openDissoc]] with the channel pair already resolved (planned
    * tasks get theirs inline from the top-level discovery document).
    *
    * The metadata channel opens now, the body channel on the first read
    * past the schema. Opening them one after the other cannot starve a
    * fan-out: the server's pool (2 × parallelism + 8 handler threads)
    * covers both channels of every reader task that can run at once, so
    * a body request never queues behind another task's streaming meta
    * handler. */
  def openDissocPair(metaUrl: String, bodyUrl: String,
      schemaOnly: Boolean = false): InputStream =
    new graft.dissociated.Dissociated.Reassembler(
      openRaw(metaUrl, schemaOnly), () => openRaw(bodyUrl))

  /** Schema of a dissociated dataset: reads the schema frame off the
    * metadata channel only (asked for alone with `X-Arrow-Schema-Only`);
    * the body channel is never requested. */
  def dissocSchema(infoUrl: String): StructType =
    probeSchema("dissoc-schema-probe")(new ArrowStreamReader(
      openDissoc(infoUrl, schemaOnly = true), _,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE))

  /** Local file in the Arrow IPC *file* format? (ARROW1 magic) */
  def isFileFormat(path: String): Boolean =
    !isUrl(path) && {
      val f = new java.io.File(stripScheme(path))
      f.isFile && f.length > 6 && {
        val in = new java.io.FileInputStream(f)
        try {
          val magic = new Array[Byte](6)
          in.read(magic) == 6 && new String(magic, "ASCII") == "ARROW1"
        } finally in.close()
      }
    }

  /** Open either IPC format as an ArrowReader. */
  def openReader(path: String, alloc: org.apache.arrow.memory.BufferAllocator,
      schemaOnly: Boolean = false, accept: String = ""): org.apache.arrow.vector.ipc.ArrowReader =
    if (isFileFormat(path)) {
      val ch = new java.io.RandomAccessFile(stripScheme(path), "r").getChannel
      new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc,
        org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    } else new ArrowStreamReader(open(path, schemaOnly, accept), alloc,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)

  def readSchema(path: String): StructType =
    probeSchema("schema-probe")(openReader(path, _, schemaOnly = true))

  /** The Spark schema of the reader `open` returns; reads no batch. */
  private def probeSchema(tag: String)(
      open: org.apache.arrow.memory.BufferAllocator => org.apache.arrow.vector.ipc.ArrowReader)
      : StructType = {
    val alloc = ArrowBridge.newAllocator(tag)
    try {
      val reader = open(alloc)
      try ArrowSchemas.fromArrowSchema(reader.getVectorSchemaRoot.getSchema)
      finally reader.close()
    } finally alloc.close()
  }
}

final class ArrowsTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "arrows"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowsScanBuilder(tableSchema, opts)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ArrowsWriteBuilder(info.schema(), options.asCaseSensitiveMap().asScala.toMap)
}

final class ArrowsScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve our metadata tags (pruned schema loses them)
    val byName = full.fields.map(f => f.name -> f).toMap
    required = StructType(requiredSchema.fields.map(f => byName.getOrElse(f.name, f)))
  }
  override def build(): Scan = Option(options.get("dissoc")) match {
    case Some(infoUrl) =>
      new ArrowsScan(full, required, Nil, 1, Nil, dissoc = Some(infoUrl),
        // dissocfanout=false forces the whole dataset through ONE
        // channel pair (the reference client's single dual-location
        // loop); the default packs the published pairs into tasks
        dissocFanout = Option(options.get("dissocfanout")).forall(_.toBoolean))
    case None => buildPaths()
  }

  private def buildPaths(): Scan = {
    val paths = ArrowsTableProvider.resolvePaths(options)
    // Spark's V2 Table.columns() bridge strips StructField metadata, so
    // the original-type tags (dictionary/uint/...) that steer reader
    // selection may be gone — re-probe the first source's Arrow schema
    // and re-attach them by field name.
    val tagged = try {
      val probed = ArrowsTableProvider.readSchema(paths.head)
        .fields.map(f => f.name -> f).toMap
      StructType(required.fields.map { f =>
        probed.get(f.name).map(p => f.copy(metadata = p.metadata)).getOrElse(f)
      })
    } catch { case _: Exception => required }
    new ArrowsScan(full, tagged, paths,
      Option(options.get("rangepartitions")).map(_.toInt).getOrElse(1),
      ArrowsTableProvider.rawPaths(options),
      Option(options.get("split")).forall(_.toBoolean),
      accept = Option(options.get("acceptencoding")).getOrElse(""))
  }
}

/** A batch scan of files, URLs or a dissociated dataset: its read
  * tasks are contiguous runs of pieces packed by [[ArrowsScan.pack]]. */
final class ArrowsScan(full: StructType, required: StructType, paths: Seq[String],
    rangePartitions: Int, rawDirs: Seq[String], split: Boolean = true,
    dissoc: Option[String] = None, dissocFanout: Boolean = true,
    accept: String = "")
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Unbounded variant: the load path is watched as an append-only
    * directory of .arrows files; each micro-batch covers the newly
    * arrived files (the reference's incremental batch-at-a-time
    * delivery, SURVEY §1.1, extended to an unbounded source). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ArrowsMicroBatchStream(required, rawDirs)

  /** Read tasks: each file/URL is a piece; a /q/ dynamic serve first
    * probes the server's /qsplit/ spill listing and expands to one piece
    * per spilled part file (option split=false opts out); a URL whose
    * server publishes a batch-offset index (our /offsets endpoint) and
    * option rangepartitions > 1 splits into byte-range pieces — the
    * get_range split-fetch made a parallel scan (SURVEY §2.4; §4). The
    * pieces are then packed into tasks by [[ArrowsScan.pack]]. */
  override def planInputPartitions(): Array[InputPartition] =
    // dissociated dual-channel dataset: the protocol's unit of
    // parallelism is the CHANNEL PAIR — a spilled dataset publishes one
    // per part (the reference's FlightInfo endpoint list is plural,
    // cudf-flight-server.cc:349-365), so each pair is a piece; the
    // out-of-order concurrency lives INSIDE each pair's fetch. A
    // single-pair dataset (unspilled/empty) stays one partition.
    if (dissoc.isDefined) {
      val parts =
        if (!dissocFanout) Nil
        else try ArrowsTableProvider.dissocInfo(dissoc.get)._2
        catch { case _: Exception => Nil }
      if (parts.size > 1)
        // pair-direct pieces: the inline channel URIs skip the
        // per-part discovery GET; entries without them (a foreign
        // server publishing info URIs only) resolve at open time
        ArrowsScan.packed(parts.map(p => ArrowsPiece(p.infoUri,
          dissoc = true, dissocMeta = p.metaUri, dissocBody = p.bodyUri) -> p.bytes))
      else Array(ArrowsInputPartition(Seq(ArrowsPiece(dissoc.get, dissoc = true))))
    } else ArrowsScan.packed(paths.flatMap { p =>
      val expanded =
        if (split && ArrowsTableProvider.isUrl(p) && p.contains("/q/")) {
          val parts = ArrowsTableProvider.probeSplits(p)
          if (parts.nonEmpty) parts.map(s => s.uri -> s.bytes) else Seq(p -> -1L)
        } else if (ArrowsTableProvider.isUrl(p)) Seq(p -> -1L)
        else Seq(p -> new java.io.File(ArrowsTableProvider.stripScheme(p)).length)
      expanded.flatMap { case (u, bytes) =>
        val ranged =
          if (rangePartitions > 1 && ArrowsTableProvider.isUrl(u) && u.contains("/files/"))
            ArrowsTableProvider.rangedPartitions(u, rangePartitions)
          else Nil
        // a range piece is a task of its own: the option asked for that split
        if (ranged.nonEmpty) ranged.map(_ -> -1L)
        else Seq(ArrowsPiece(u, accept = accept) -> bytes)
      }
    })

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowsReaderFactory(required)
}

object ArrowsScan {
  /** Spark's file-packing rule over pieces of known byte size (-1:
    * unknown), in their given order: each piece adds its size plus
    * `spark.sql.files.openCostInBytes` to the current group, and a
    * group closes when its total plus the next piece's size is more
    * than `maxSplitBytes`. A piece of unknown size is a group of its
    * own, and so, by the rule, is a piece of `maxSplitBytes` or more.
    * Pieces are never sorted, so rows come back in piece order. */
  def pack[T](pieces: Seq[(T, Long)], maxSplitBytes: Long, openCost: Long): Seq[Seq[T]] = {
    val groups = Seq.newBuilder[Seq[T]]
    val current = scala.collection.mutable.ArrayBuffer[T]()
    var size = 0L
    def close(): Unit = if (current.nonEmpty) {
      groups += current.toList; current.clear(); size = 0L
    }
    pieces.foreach { case (piece, bytes) =>
      if (bytes < 0 || size + bytes > maxSplitBytes) close()
      current += piece
      if (bytes < 0) close() else size += bytes + openCost
    }
    close()
    groups.result()
  }

  /** [[pack]] with Spark's own split size for these pieces
    * (`FilePartition.maxSplitBytes` over the sum of size + open cost of
    * the sized pieces, which reads `spark.sql.files.maxPartitionBytes`
    * and `spark.sql.files.minPartitionNum` or the default parallelism). */
  def packed(pieces: Seq[(ArrowsPiece, Long)]): Array[InputPartition] = {
    val openCost = SQLConf.get.filesOpenCostInBytes
    val total = pieces.map(_._2).filter(_ >= 0).map(_ + openCost).sum
    val maxSplit = FilePartition.maxSplitBytes(SparkSession.active, total)
    pack(pieces, maxSplit, openCost).map(g => ArrowsInputPartition(g): InputPartition).toArray
  }
}

/** One stream a read task opens: a local file or URL, a byte span of
  * one (`start >= 0`: [schema][span][EOS] from two range GETs), or a
  * dissociated channel pair. */
final case class ArrowsPiece(path: String,
    schemaEnd: Long = -1, start: Long = -1, end: Long = -1,
    dissoc: Boolean = false,
    dissocMeta: String = "", dissocBody: String = "",
    accept: String = "") {
  def isRanged: Boolean = start >= 0
}

/** A read task: a contiguous run of pieces, read one after another. */
final case class ArrowsInputPartition(pieces: Seq[ArrowsPiece]) extends InputPartition

/** 1:1 Arrow↔Spark mapping (no widening/dictionary) → columnar OK. */
object ExactMap {
  def ok(st: StructType): Boolean = st.fields.forall { f =>
    ArrowSchemas.origTag(f).isEmpty && (f.dataType match {
      case s: StructType => ok(s)
      case org.apache.spark.sql.types.ArrayType(e, _) =>
        ok(StructType(Seq(org.apache.spark.sql.types.StructField("e", e))))
      case _ => true
    })
  }
}

final class ArrowsReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  private val columnar = ExactMap.ok(required)

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ArrowsPackedReader(p.asInstanceOf[ArrowsInputPartition].pieces,
      new ArrowsRowReader(_, required))

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    new ArrowsPackedReader(p.asInstanceOf[ArrowsInputPartition].pieces,
      new ArrowsColumnarReader(_, required))
}

/** Reads a task's pieces in order, holding one piece's reader (and its
  * sockets) open at a time. A failure in any piece fails the task. */
final class ArrowsPackedReader[T](pieces: Seq[ArrowsPiece],
    open: ArrowsPiece => PartitionReader[T]) extends PartitionReader[T] {
  private val rest = pieces.iterator
  private var current: PartitionReader[T] = _

  override def next(): Boolean = {
    var found = false
    while (!found && (current != null || rest.hasNext)) {
      if (current == null) current = open(rest.next())
      found = current.next()
      if (!found) close()
    }
    found
  }
  override def get(): T = current.get()
  override def close(): Unit = if (current != null) {
    try current.close() finally current = null
  }
}

/** Shared reader plumbing: stream/file → per-batch vector access. A
  * ranged piece synthesizes [schema][its byte span][EOS] from two
  * range GETs — a valid standalone stream (the get_range concatenation
  * premise). */
abstract class ArrowsReaderBase(part: ArrowsPiece) {
  protected val alloc = ArrowBridge.newAllocator("dsv2-read")
  protected val reader =
    if (part.dissoc) {
      val in =
        if (part.dissocMeta.nonEmpty && part.dissocBody.nonEmpty)
          ArrowsTableProvider.openDissocPair(part.dissocMeta, part.dissocBody)
        else ArrowsTableProvider.openDissoc(part.path)
      new ArrowStreamReader(in, alloc,
        org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    }
    else if (part.isRanged) {
      val pieces = java.util.Arrays.asList(
        ArrowsTableProvider.openRange(part.path, 0, part.schemaEnd),
        ArrowsTableProvider.openRange(part.path, part.start, part.end),
        new java.io.ByteArrayInputStream(ArrowBridge.EosBytes): InputStream)
      new ArrowStreamReader(
        new java.io.SequenceInputStream(java.util.Collections.enumeration(pieces)),
        alloc, org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    } else ArrowsTableProvider.openReader(part.path, alloc, accept = part.accept)
  protected val root = reader.getVectorSchemaRoot

  def closeAll(): Unit = { reader.close(); alloc.close() }
}

final class ArrowsColumnarReader(part: ArrowsPiece, required: StructType)
    extends ArrowsReaderBase(part) with PartitionReader[ColumnarBatch] {
  private val arrowFieldIndex: Map[String, Int] =
    root.getSchema.getFields.asScala.map(_.getName).zipWithIndex.toMap
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    if (reader.loadNextBatch()) {
      val vecs = required.fields.map { f =>
        new ArrowColumnVector(root.getVector(arrowFieldIndex(f.name)))
      }
      batch = new ColumnarBatch(vecs.toArray, root.getRowCount)
      true
    } else false
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = { if (batch != null) batch.close(); closeAll() }
}

final class ArrowsRowReader(part: ArrowsPiece, required: StructType)
    extends ArrowsReaderBase(part) with PartitionReader[InternalRow] {
  private val rows = new InternalRows(reader, required)
  private var row: InternalRow = _

  override def next(): Boolean = rows.hasNext && { row = rows.next(); true }
  override def get(): InternalRow = row
  override def close(): Unit = { rows.close(); closeAll() }
}

// ============================ write ============================

final class ArrowsWriteBuilder(schema: StructType, options: Map[String, String])
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new ArrowsBatchWrite(schema, options)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new ArrowsStreamingWrite(schema, options)
  }
}

/** Streaming sink: each micro-batch appends deterministic
  * `part-e<epoch>-p<partition>.arrows` files, so a retried task
  * overwrites its own file (idempotent per (epoch, partition)) and the
  * micro-batch arrows SOURCE can tail the same directory — the
  * stream-through-artifacts loop. */
final class ArrowsStreamingWrite(schema: StructType, options: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val path = options.getOrElse("path",
    throw new IllegalArgumentException("arrows streaming write needs a path"))

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    new java.io.File(path).mkdirs()
    val opts = ArrowBridge.WriteOptions(
      codec = options.get("codec").filter(_ != "identity"))
    ArrowsStreamingWriterFactory(path, schema, opts)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final case class ArrowsStreamingWriterFactory(path: String, schema: StructType,
    opts: ArrowBridge.WriteOptions)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new ArrowsDataWriter(path, partitionId, schema, opts,
      fixedName = Some(f"part-e$epochId%05d-p$partitionId%05d"))
}

final class ArrowsBatchWrite(schema: StructType, options: Map[String, String])
    extends BatchWrite {
  private val path = options.getOrElse("path",
    throw new IllegalArgumentException("arrows write needs a path"))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new java.io.File(path).mkdirs()
    val opts = ArrowBridge.WriteOptions(
      codec = options.get("codec").filter(_ != "identity"),
      fileFormat = options.get("variant").contains("file"))
    ArrowsWriterFactory(path, schema, opts)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class ArrowsWriterFactory(path: String, schema: StructType,
    opts: ArrowBridge.WriteOptions) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ArrowsDataWriter(path, partitionId, schema, opts)
}

final class ArrowsDataWriter(dir: String, partitionId: Int, schema: StructType,
    opts: ArrowBridge.WriteOptions, fixedName: Option[String] = None)
    extends DataWriter[InternalRow] {
  private val ext = if (opts.fileFormat) "arrow" else "arrows"
  private val file = new java.io.File(dir,
    fixedName.map(n => s"$n.$ext").getOrElse(
      f"part-$partitionId%05d-${UUID.randomUUID().toString.take(8)}.$ext"))
  private val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16)
  private val writer = new ArrowBridge.StreamingWriter(schema, out, opts)

  override def write(record: InternalRow): Unit = writer.append(record)

  override def commit(): WriterCommitMessage = {
    writer.finish()
    new WriterCommitMessage {}
  }
  override def abort(): Unit = { writer.close(); out.close(); val _ = file.delete() }
  override def close(): Unit = { writer.close(); out.close() }
}
