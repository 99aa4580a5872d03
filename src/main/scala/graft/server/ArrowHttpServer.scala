package graft.server

import java.io.{IOException, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.SecureRandom
import java.util.Base64

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.arrow.{ArrowBridge, IpcFrames}
import graft.dissociated.Dissociated

/** Driver-embedded HTTP service streaming DataFrames as Arrow IPC
  * streams — the engine surface reproducing the reference's http/
  * experiment family (SURVEY §2.3):
  *
  *   GET  /q/<name>          chunked Arrow stream, content negotiation
  *                           (HTTP codings zstd>br>gzip; IPC codecs
  *                           zstd,lz4 via Accept ;codecs), 406 path.
  *                           The zstd coding is a sequence of
  *                           independent zstd frames: one for the
  *                           schema, one for the dictionary of a
  *                           dictionary-encoded dataset, one per
  *                           non-empty partition chunk, one for EOS —
  *                           any zstd decoder reads them as one stream.
  *                           For a delta-dictionary dataset, each
  *                           partition's full dictionaries are one frame
  *                           ahead of that partition's chunk, and its
  *                           delta dictionaries travel inside the chunk
  *   GET  /multipart/<name>  multipart/mixed: JSON + Arrow + footnotes
  *   GET  /                  indirect JSON listing of /files artifacts
  *   GET  /files/<name>      static .arrows artifact, Content-Length +
  *                           Accept-Ranges + single-range GETs
  *   POST /ingest/<name>     Arrow stream request body → temp view;
  *                           a body that is not one IPC stream, or a
  *                           name that is not an identifier, is 400
  *
  * Streaming policy mirrors the reference (server.py:97-142,388,
  * 421-429): the HTTP framing is ours ([[HttpCore]]), and a streamed
  * response goes out as one chunk per flush or per 64 KiB. The relay
  * flushes once after the schema (TTFB) and once per partition, so
  * each partition travels as one chunk; a coded stream that never
  * flushes goes out in 64 KiB chunks, its first write at once.
  */
final class ArrowHttpServer(spark: SparkSession, port: Int = 0) {

  private val datasets = scala.collection.concurrent.TrieMap[String, ArrowHttpServer.Dataset]()
  /** Ingest spool file of each ingested dataset, and the references to
    * each spool file: one from its registration, one per request
    * reading its dataset (a DSv2 task opens its file lazily, after the
    * request planned it). A spool file is deleted when its last
    * reference goes. Both maps are guarded by `spoolRefs`. */
  private val spools = scala.collection.mutable.Map[String, java.nio.file.Path]()
  private val spoolRefs = scala.collection.mutable.Map[java.nio.file.Path, Int]()
  private val files = scala.collection.concurrent.TrieMap[String, java.nio.file.Path]()

  // reference preference order zstd > br > gzip (server.py:444-449);
  // br is the RFC 7932 stored-mode coding (see Brotli.scala)
  val httpCodings: Seq[String] = Seq("zstd", "br", "gzip")
  val ipcCodecs: Seq[String] = Seq("zstd", "lz4")

  /** Runs `serve` on dataset `name` (404 when there is none), holding a
    * reference to its spool file until `serve` returns. */
  private def withDataset(exchange: HttpCore.Exchange, name: String)(
      serve: ArrowHttpServer.Dataset => Unit): Unit = {
    val (ds, held) = spoolRefs.synchronized {
      val held = spools.get(name)
      held.foreach(p => spoolRefs(p) += 1)
      (datasets.get(name), held)
    }
    try ds match {
      case None => exchange.sendText(404, s"no dataset $name")
      case Some(d) => serve(d)
    } finally held.foreach(releaseSpool)
  }

  private def releaseSpool(path: java.nio.file.Path): Unit = spoolRefs.synchronized {
    val n = spoolRefs(path) - 1
    if (n > 0) spoolRefs(path) = n
    else {
      spoolRefs.remove(path)
      java.nio.file.Files.deleteIfExists(path)
    }
  }

  /** The one registration path: replaces the name's dataset together
    * with its dictionary settings, and drops the `/qsplit/` spill of
    * what it replaces (and that spill's `/files/<name>/` entries).
    * Serialized per name with [[ensureSpilled]], so a spill of the old
    * data cannot land in the cache after the new data is in place. */
  private def put(name: String, ds: ArrowHttpServer.Dataset): Unit =
    spillLocks.computeIfAbsent(name, _ => new Object).synchronized {
      spillCache.remove(name).foreach(_ =>
        files.keys.filter(_.startsWith(s"$name/")).foreach(files.remove))
      datasets.put(name, ds)
    }

  def register(name: String, df: => DataFrame): Unit =
    put(name, ArrowHttpServer.Dataset(() => df))
  def registerFile(name: String, path: java.nio.file.Path): Unit = {
    frameIndexCache.remove(name)
    files.put(name, path)
  }

  /** Register with dictionary encoding on the given string columns;
    * their distinct values are collected once, eagerly, and every serve
    * of `/q/` carries them as the one dictionary message of its stream,
    * written ahead of the first record batch. The collect is
    * CAPPED at [[ArrowHttpServer.MaxDictValues]] per column: an
    * up-front dictionary only makes sense for genuinely low-cardinality
    * columns (the reference's case is 60 tickers), and an unguarded
    * collect() on an API surface is a driver-OOM hazard at scale —
    * high-cardinality columns belong on [[registerDictDelta]], which
    * streams the dictionary single-pass and never collects. */
  def registerDict(name: String, df: DataFrame, columns: Seq[String]): Unit = {
    val max = ArrowHttpServer.MaxDictValues
    val dicts = columns.map { c =>
      val vals = df.select(c).distinct().orderBy(c).limit(max + 1)
        .collect().map(_.getString(0))
      require(vals.length <= max,
        s"registerDict($name): column '$c' has more than $max distinct values; " +
          "use registerDictDelta, which never collects the value set")
      c -> vals
    }.toMap
    put(name, ArrowHttpServer.Dataset(() => df, dicts = dicts))
  }

  /** Register with delta-dictionary encoding on the given string
    * columns: no distinct() pre-scan, no up-front value collection (the
    * scale shape for serving streams whose value set is unknown). A
    * `/q/` serve goes through the parallel relay like any other: each
    * partition encodes its own rows with `ArrowBridge.writeDeltaDict`,
    * so it opens with a full dictionary of its first batch's values,
    * which replaces the previous partition's, and adds delta batches as
    * new values appear. Every coding and IPC codec applies. */
  def registerDictDelta(name: String, df: => DataFrame, columns: Seq[String]): Unit =
    put(name, ArrowHttpServer.Dataset(() => df, deltaDicts = columns))

  // Sized for the parallel dissociated scan (r12 ADVICE): each of up to
  // `defaultParallelism` reader tasks holds TWO long-lived channel
  // streams (meta + body) concurrently, plus short info requests — a
  // pool smaller than 2×parallelism serializes the whole fan-out behind
  // its sockets (measured: the 10M fan-out read 3.6 s behind 8 threads,
  // 0.9 s behind 72). Threads are cheap here — every handler streams in
  // O(64 KiB) chunks, so per-thread memory is bounded regardless of
  // pool width.
  private val server = new HttpCore(port, 2 * spark.sparkContext.defaultParallelism + 8)

  def boundPort: Int = server.boundPort
  def baseUrl: String = s"http://127.0.0.1:$boundPort"

  // ------------------------------------------------------------------
  server.route("/q/") { exchange => safely(exchange) {
    val name = exchange.path.stripPrefix("/q/")
    withDataset(exchange, name) { ds =>
      Negotiation.negotiate(
        exchange.requestHeader("Accept"), exchange.requestHeader("Accept-Encoding"),
        ipcCodecs, httpCodings, http10 = exchange.protocol == "HTTP/1.0"
      ) match {
        case Left(diag) => exchange.sendText(406, diag + "\n")
        case Right(strategy) =>
          exchange.setHeader("Content-Type", strategy.contentType)
          exchange.setHeader("Content-Disposition", s"""attachment; filename="$name.arrows"""")
          val opts = ArrowBridge.WriteOptions(codec = strategy.ipcCodec, dictColumns = ds.dicts)
          // schema-only probe: answer [schema][EOS] without running
          // the query (keeps DSv2 inferSchema from triggering a full
          // serve that is then abandoned); the header is the relay's own
          if (exchange.requestHeader("X-Arrow-Schema-Only").isDefined) {
            exchange.sendResponseHeaders(200, 0)
            val out = exchange.responseBody
            out.write(ArrowBridge.schemaBytes(ds.df().schema, opts, ds.deltaDicts))
            out.write(ArrowBridge.EosBytes)
            out.close()
          } else {
            strategy.httpCoding.foreach(c => exchange.setHeader("Content-Encoding", c))
            exchange.sendResponseHeaders(200, 0) // 0 = chunked
            val sink = exchange.responseBody
            val df = ds.df()
            // the relay codes zstd itself, as per-task frames
            val out: OutputStream = strategy.httpCoding match {
              case Some("gzip") => new java.util.zip.GZIPOutputStream(sink, true)
              case Some("br")   => new Brotli.BrotliStoredOutputStream(sink)
              case _            => sink
            }
            try ArrowBridge.writeParallel(df, out, opts,
              zstd = strategy.httpCoding.contains("zstd"), deltaDictCols = ds.deltaDicts)
            finally out.close()
          }
      }
    }
  }}

  // ------------------------------------------------------------------
  server.route("/multipart/") { exchange => safely(exchange) {
    val name = exchange.path.stripPrefix("/multipart/")
    withDataset(exchange, name) { ds =>
      // CSPRNG boundary: 28 bytes entropy, base64url (reference
      // algorithm, http/get_multipart/README.md:34-56)
      val rnd = new Array[Byte](28)
      new SecureRandom().nextBytes(rnd)
      val boundary = Base64.getUrlEncoder.withoutPadding.encodeToString(rnd)
      exchange.setHeader("Content-Type",
        s"""multipart/mixed; boundary="$boundary"""")
      exchange.sendResponseHeaders(200, 0)
      val out = exchange.responseBody
      val t0 = System.nanoTime()
      val df = ds.df()
      def part(ct: String): Unit =
        out.write(s"\r\n--$boundary\r\nContent-Type: $ct\r\n\r\n".getBytes(UTF_8))

      part("application/json")
      val cols = df.schema.fields.map(f =>
        s"""{"name":"${f.name}","type":"${f.dataType.simpleString}"}""").mkString(",")
      out.write(s"""{"name":"$name","columns":[$cols]}""".getBytes(UTF_8))

      part(Negotiation.ArrowMime)
      val counting = new CountingOutputStream(out)
      // digest computed WHILE streaming (no second pass, no buffering):
      // feeds the integrity part below
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      val (rows, batches, _) = ArrowBridge.writeParallel(df,
        new java.security.DigestOutputStream(counting, digest))
      counting.flush()

      part("text/plain")
      val secs = (System.nanoTime() - t0) / 1e9
      out.write(
        f"""record batches sent: $batches%d
           |arrow bytes sent: ${counting.count}%d
           |rows sent: $rows%d
           |seconds elapsed: $secs%.2f
           |""".stripMargin.getBytes(UTF_8))

      // 4th part kind (beyond the reference's three): an integrity
      // digest of the Arrow part's exact bytes, so a client can
      // verify the payload it just decoded without re-reading it
      part("application/vnd.graft.digest")
      out.write((digest.digest().map("%02x".format(_)).mkString("sha256:", "", "") +
        s" bytes:${counting.count}\n").getBytes(UTF_8))
      out.write(s"\r\n--$boundary--\r\n".getBytes(UTF_8))
      out.close()
    }
  }}

  // ------------------------------------------------------------------
  // spill-to-artifact split listing: the first request runs the query
  // ONCE, spills it partition-parallel to .arrows part files through
  // the DSv2 writer, registers each part as a /files/ artifact, and
  // answers the same JSON-of-URIs shape as the indirect listing — so a
  // client fans out one GET per partition (and can range-split each via
  // /offsets). This is the reference's own scale-out pattern
  // (get_indirect JSON-of-URIs + parallel fetch) applied to dynamic
  // query results: serving memory stays O(batch), reads get N-way
  // parallelism instead of one task decoding the whole stream.
  private val spillCache = scala.collection.concurrent.TrieMap[String, Vector[String]]()
  @volatile private var spillRootCreated = false
  /** Spill dir if one was materialized (spec hook for stop() cleanup). */
  private[server] def spillRootPath: Option[java.nio.file.Path] =
    if (spillRootCreated) Some(spillRoot) else None
  private lazy val spillRoot = {
    val p = java.nio.file.Files.createTempDirectory("graft-qsplit")
    p.toFile.deleteOnExit()
    spillRootCreated = true
    p
  }

  /** Run the query ONCE and spill it partition-parallel to .arrows part
    * files (each registered under /files). Cached until re-register;
    * shared by /qsplit and the dissociated channels. Serialized per
    * name: concurrent first requests (e.g. a client opening both
    * dissociated channels at once) must not race two overwrites into
    * the same spill directory. */
  private val spillLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def ensureSpilled(name: String, dfFn: () => DataFrame): Vector[String] =
    spillLocks.computeIfAbsent(name, _ => new Object).synchronized {
    spillCache.getOrElseUpdate(name, {
      val dir = spillRoot.resolve(name).toFile
      if (dir.exists) dir.listFiles().foreach(_.delete())
      dfFn().write.format("arrows").mode("overwrite").save(dir.getPath)
      dir.listFiles().filter(_.getName.endsWith(".arrows")).sortBy(_.getName)
        .toVector.map { f =>
          val key = s"$name/${f.getName}"
          registerFile(key, f.toPath)
          key
        }
    })
  }

  server.route("/qsplit/") { exchange => safely(exchange) {
    val name = exchange.path.stripPrefix("/qsplit/")
    withDataset(exchange, name) { ds =>
      val parts = ensureSpilled(name, ds.df)
      val uris = parts.map(k => s"""{"uri": "$baseUrl/files/$k", "bytes": ${partBytes(k)}}""")
        .mkString(",\n  ")
      exchange.setHeader("Content-Type", "application/json")
      exchange.sendText(200, s"""{"arrow_stream_files": [\n  $uris\n]}""")
    }
  }}

  /** Byte size of a spilled part file: listings publish it so a client
    * can pack small parts into fewer read tasks. */
  private def partBytes(key: String): Long = java.nio.file.Files.size(files(key))

  // ------------------------------------------------------------------
  // batch-offset index for ranged-parallel clients: the stream format
  // has no footer, so the server publishes message boundaries
  server.route("/offsets/") { exchange => safely(exchange) {
    val name = exchange.path.stripPrefix("/offsets/")
    files.get(name) match {
      case None => exchange.sendText(404, s"no file $name")
      case Some(_) =>
        val ix = frameIndex(name)
        val spans = ix.batches.map { case (start, end) => s"[$start,$end]" }.mkString(",")
        exchange.setHeader("Content-Type", "application/json")
        exchange.sendText(200,
          s"""{"schema_end": ${ix.schemaEnd}, "total": ${ix.total}, "batches": [$spans]}""")
    }
  }}

  /** Message layout of each registered file, from a header-only scan
    * (bodies are lseek-skipped, so building it is O(#batches), not
    * O(bytes)); it serves both the /offsets index and the exact
    * dissociated channel lengths. Cached per file until re-registration. */
  private val frameIndexCache =
    scala.collection.concurrent.TrieMap[String, ArrowHttpServer.FrameIndex]()

  private def frameIndex(key: String): ArrowHttpServer.FrameIndex =
    frameIndexCache.getOrElseUpdate(key, {
      val p = files(key)
      val frames = IpcFrames.open(p)
      try {
        var schemaEnd = 0L
        var schemaFramed = 0L
        var metaTotal = 0L
        var bodyTotal = 0L
        val batches = Vector.newBuilder[(Long, Long)]
        frames.foreach { f =>
          if (f.isSchema) { schemaEnd = f.end; schemaFramed = f.framedHeader.length }
          else {
            batches += ((f.offset, f.end))
            metaTotal += Dissociated.metaFrameLen(f.framedHeader.length)
            bodyTotal += Dissociated.bodyFrameLen(f.bodyLength)
          }
        }
        ArrowHttpServer.FrameIndex(java.nio.file.Files.size(p), schemaEnd, schemaFramed,
          batches.result(), metaTotal, bodyTotal)
      } finally frames.close()
    })

  server.route("/files/") { exchange => safely(exchange) {
    val name = exchange.path.stripPrefix("/files/")
    files.get(name) match {
      case None => exchange.sendText(404, s"no file $name")
      case Some(p) =>
        val bytes = java.nio.file.Files.size(p)
        exchange.setHeader("Content-Type", Negotiation.ArrowMime)
        exchange.setHeader("Accept-Ranges", "bytes")
        val range = exchange.requestHeader("Range")
        // RFC 9110 §14: clamp end to size-1; suffix ranges larger than
        // the file cover the whole file; syntactically or semantically
        // unsatisfiable ranges → 416 with the */size form.
        def unsatisfiable(): Unit = {
          exchange.setHeader("Content-Range", s"bytes */$bytes")
          exchange.sendText(416, "unsatisfiable range")
        }
        range match {
          case Some(r) if r.startsWith("bytes=") &&
              !r.stripPrefix("bytes=").matches("(\\d{0,18}-\\d{1,18}|\\d{1,18}-)") =>
            unsatisfiable()
          case Some(r) if r.startsWith("bytes=") =>
            val Array(a, b) = r.stripPrefix("bytes=").split("-", 2)
            val start = if (a.isEmpty) math.max(0L, bytes - b.toLong) else a.toLong
            val end = if (a.isEmpty || b.isEmpty) bytes - 1
                      else math.min(b.toLong, bytes - 1)
            if (start > end || start >= bytes) unsatisfiable()
            else {
              val len = end - start + 1
              exchange.setHeader("Content-Range", s"bytes $start-$end/$bytes")
              exchange.sendResponseHeaders(206, len)
              val out = exchange.responseBody
              val ch = java.nio.file.Files.newByteChannel(p)
              try {
                ch.position(start)
                val buf = java.nio.ByteBuffer.allocate(64 * 1024)
                var remaining = len
                while (remaining > 0) {
                  buf.clear(); buf.limit(math.min(buf.capacity(), remaining).toInt)
                  val n = ch.read(buf)
                  if (n < 0) remaining = 0
                  else { out.write(buf.array(), 0, n); remaining -= n }
                }
              } finally { ch.close(); out.close() }
            }
          case _ =>
            exchange.sendResponseHeaders(200, bytes)
            val out = exchange.responseBody
            java.nio.file.Files.copy(p, out)
            out.close()
        }
    }
  }}

  // ------------------------------------------------------------------
  /** Spool an Arrow IPC body to a .arrows artifact — the bytes stream
    * straight to disk (O(64 KiB) driver memory, never a Vector[Row]).
    * Then [[IpcFrames]] checks the file's framing, with every length
    * bounded before anything is allocated for it, and one
    * batch-at-a-time pass counts rows. A body that is not one IPC
    * stream starting with its schema fails as a
    * [[HttpCore.BadRequest]]. The spool file is deleted on every
    * failure. Returns (path, rows, columns). */
  private def spoolIngest(name: String, in: java.io.InputStream)
      : (java.nio.file.Path, Long, Int) = {
    val dir = spillRoot.resolve("ingest")
    java.nio.file.Files.createDirectories(dir)
    val path = dir.resolve(
      s"$name-${java.util.UUID.randomUUID.toString.take(8)}.arrows")
    try {
      java.nio.file.Files.copy(in, path,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      try {
        val frames = IpcFrames.open(path)
        try {
          if (!frames.hasNext || !frames.next().isSchema)
            throw new IpcFrames.Malformed("the stream does not start with a schema message")
          frames.foreach(_ => ())
        } finally frames.close()
        val alloc = ArrowBridge.newAllocator("ingest-count")
        val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
          new java.io.BufferedInputStream(java.nio.file.Files.newInputStream(path), 1 << 16),
          alloc, org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
        try {
          val cols = rdr.getVectorSchemaRoot.getSchema.getFields.size
          var rows = 0L
          while (rdr.loadNextBatch()) rows += rdr.getVectorSchemaRoot.getRowCount
          (path, rows, cols)
        } finally { rdr.close(); alloc.close() }
      } catch {
        case e: Exception => throw new HttpCore.BadRequest(400, s"invalid Arrow IPC stream: $e")
      }
    } catch {
      case e: Throwable => java.nio.file.Files.deleteIfExists(path); throw e
    }
  }

  /** Expose a spooled artifact as dataset + temp view + static file —
    * reads go through the DSv2 source, not driver memory. The spool
    * file it supersedes is deleted once no request reads it (see
    * [[spoolRefs]]). Serialized per name with [[ensureSpilled]], so
    * neither a concurrent ingest nor a spill of the old data can leave
    * the view or the spill cache on a superseded file. A throw from
    * `load` or from the view deletes the spool file before anything
    * names it; the bookkeeping after cannot throw, and the `/files/`
    * entry is published last. */
  private def registerSpooled(name: String, path: java.nio.file.Path): Unit = {
    def orDiscard[A](step: => A): A =
      try step catch { case e: Throwable => java.nio.file.Files.deleteIfExists(path); throw e }
    val df = orDiscard(spark.read.format("arrows").load(path.toString))
    spillLocks.computeIfAbsent(name, _ => new Object).synchronized {
      orDiscard(df.createOrReplaceTempView(name))
      val superseded = spoolRefs.synchronized {
        spoolRefs(path) = 1
        register(name, df)
        spools.put(name, path)
      }
      registerFile(s"$name.arrows", path)
      superseded.foreach(releaseSpool)
    }
  }

  /** The dataset name an ingest path ends with. It names the spool
    * file and the temp view, so anything but a plain identifier (a
    * decoded `%2F`, a dot segment) is a [[HttpCore.BadRequest]]. */
  private def ingestName(exchange: HttpCore.Exchange, prefix: String): String = {
    val name = exchange.path.stripPrefix(prefix)
    if (!ArrowHttpServer.IngestName.matches(name))
      throw new HttpCore.BadRequest(400, s"ingest name must match ${ArrowHttpServer.IngestName}")
    name
  }

  server.route("/ingest/") { exchange => safely(exchange) {
    val name = ingestName(exchange, "/ingest/")
    if (exchange.method != "POST") exchange.sendText(405, "POST only")
    else {
      val (path, rows, cols) = spoolIngest(name, exchange.requestBody)
      registerSpooled(name, path)
      exchange.sendText(200,
        s"""{"name":"$name","rows":$rows,"columns":$cols}""")
    }
  }}

  // ------------------------------------------------------------------
  // multipart/form-data POST ingest: JSON metadata part + Arrow stream
  // part (http/post_multipart/README.md:20-22 — spec-only in the
  // reference; implemented here with the streaming boundary scanner)
  server.route("/ingest-multipart/") { exchange => safely(exchange) {
    val name = ingestName(exchange, "/ingest-multipart/")
    val ct = exchange.requestHeader("Content-Type").getOrElse("")
    if (exchange.method != "POST") exchange.sendText(405, "POST only")
    else if (!ct.startsWith("multipart/") || !ct.contains("boundary="))
      exchange.sendText(400, "multipart body with a boundary required")
    else {
      val boundary = ct.split("boundary=")(1).stripPrefix("\"").stripSuffix("\"")
      var meta = "{}"
      var spooled: Option[(java.nio.file.Path, Long, Int)] = None
      def dropSpooled(): Unit = spooled.foreach(s => java.nio.file.Files.deleteIfExists(s._1))
      try MultipartStream.parse(exchange.requestBody, boundary) { part =>
        part.headers.getOrElse("content-type", "") match {
          case Negotiation.ArrowMime =>
            // the Arrow part streams straight to disk, like /ingest/;
            // a later Arrow part replaces an earlier one
            dropSpooled()
            spooled = Some(spoolIngest(name, part.body))
          case "application/json" =>
            meta = new String(part.body.readAllBytes(), UTF_8)
          case _ => () // ignore unknown parts
        }
      } catch {
        case e: IOException => dropSpooled(); throw e
        case e: Exception =>
          dropSpooled()
          throw new HttpCore.BadRequest(400, s"malformed multipart body: ${e.getMessage}")
      }
      spooled match {
        case None => exchange.sendText(400, "no arrow part in body")
        case Some((path, rows, cols)) =>
          registerSpooled(name, path)
          exchange.sendText(200,
            s"""{"name":"$name","rows":$rows,"columns":$cols,"metadata":$meta}""")
      }
    }
  }}

  // ------------------------------------------------------------------
  // dissociated IPC: discovery + metadata/body channels (the reference's
  // dual-location FlightInfo + AM/tagged streams, cudf-flight-server.cc
  // :96-104,138-182,227-258, re-expressed over HTTP). Channels serve
  // from the SAME spilled artifacts as /qsplit: the query runs once
  // (partition-parallel, through the DSv2 writer), then each channel is
  // a sequential O(one batch) pass over the part files — meta/body
  // sequence pairing is consistent by construction, with no
  // plan-determinism premise and no second query run. Every dataset
  // spills to at least one part file: Spark runs one write task even for
  // a plan with zero partitions, so an empty result is one part holding
  // [schema][EOS].

  /** Split a dissoc path remainder into (dataset, optional part index):
    * `{name}` addresses the whole dataset, `{name}/{i}` one spilled
    * part (per-part channel pairs are the dissociated scan's unit of
    * parallelism — the reference FlightInfo's plural endpoint list,
    * cudf-flight-server.cc:349-365). An index past the Int range
    * reads as `Int.MaxValue`, which is past every part count. */
  private def dissocTarget(path: String): (String, Option[Int]) = {
    val k = path.lastIndexOf('/')
    if (k > 0 && path.length > k + 1 && path.drop(k + 1).forall(_.isDigit))
      (path.take(k), Some(path.drop(k + 1).toIntOption.getOrElse(Int.MaxValue)))
    else (path, None)
  }

  server.route("/dissoc/info/") { exchange => safely(exchange) {
    val (name, idx) = dissocTarget(
      exchange.path.stripPrefix("/dissoc/info/"))
    withDataset(exchange, name) { ds =>
      exchange.setHeader("Content-Type", "application/json")
      val keys = ensureSpilled(name, ds.df)
      val n = keys.size
      idx match {
        case Some(i) if i >= n =>
          exchange.sendText(404, s"no part $i of $name ($n parts)")
        case Some(i) =>
          exchange.sendText(200,
            s"""{"ticket": "$name/$i", "locations": [
               |  {"uri": "$baseUrl/dissoc/meta/$name/$i", "channel": "metadata"},
               |  {"uri": "$baseUrl/dissoc/data/$name/$i", "channel": "body"}
               |]}""".stripMargin)
        case None =>
          // whole-dataset channels stay first (single-pair clients);
          // a multi-part spill additionally publishes one entry per
          // part so a parallel scan can spread the pairs over tasks.
          // Each entry carries its channel pair INLINE (metadata/body)
          // so a planned task opens its two streams without a per-part
          // discovery round-trip, and the part file's byte size so the
          // scan can pack small parts; the per-part info URI stays for
          // indirection-style clients.
          val parts =
            if (n <= 1) ""
            else (0 until n)
              .map(i => s"""{"uri": "$baseUrl/dissoc/info/$name/$i", """ +
                s""""metadata": "$baseUrl/dissoc/meta/$name/$i", """ +
                s""""body": "$baseUrl/dissoc/data/$name/$i", "bytes": ${partBytes(keys(i))}}""")
              .mkString(""", "parts": [""", ", ", "]")
          exchange.sendText(200,
            s"""{"ticket": "$name", "locations": [
               |  {"uri": "$baseUrl/dissoc/meta/$name", "channel": "metadata"},
               |  {"uri": "$baseUrl/dissoc/data/$name", "channel": "body"}
               |]$parts}""".stripMargin)
      }
    }
  }}

  /** Exact meta-channel byte length of a set of spilled parts: one
    * schema frame (first part's), every batch meta frame, one EOS. */
  private def metaChannelLen(keys: Seq[String]): Long =
    Dissociated.metaFrameLen(frameIndex(keys.head).schemaFramed) +
      keys.map(frameIndex(_).metaTotal).sum + Dissociated.metaFrameLen(0)

  private def bodyChannelLen(keys: Seq[String]): Long =
    keys.map(frameIndex(_).bodyTotal).sum

  /** Openers of the frames of each spilled part, in order. */
  private def partFrames(keys: Seq[String]): Seq[() => IpcFrames.Reader] =
    keys.map(files(_)).map(p => () => IpcFrames.open(p))

  /** A dissociated channel endpoint over the spilled parts it addresses
    * (see [[dissocTarget]]). */
  private def dissocChannel(prefix: String)(
      serve: (HttpCore.Exchange, Vector[String]) => Unit): Unit =
    server.route(prefix) { exchange => safely(exchange) {
      val (name, idx) = dissocTarget(exchange.path.stripPrefix(prefix))
      withDataset(exchange, name) { ds =>
        val keys = ensureSpilled(name, ds.df)
        if (idx.exists(_ >= keys.size))
          exchange.sendText(404, s"no part ${idx.get} of $name (${keys.size} parts)")
        else {
          exchange.setHeader("Content-Type", "application/octet-stream")
          serve(exchange, idx.map(i => Vector(keys(i))).getOrElse(keys))
        }
      }
    }}

  // Both channels publish an EXACT Content-Length computed from the
  // cached per-part frame index: the client reads a plain fixed-length
  // stream with no chunk parsing at all (2×parts concurrent readers of
  // a chunked channel pinned in ChunkedInputStream chunk decode), and
  // the connection's 64 KiB socket buffer coalesces the per-frame
  // writes (the meta channel makes ~4 small writes per batch).
  // a schema probe (`X-Arrow-Schema-Only`, as on /q/) gets the schema
  // frame and EOS only, not a whole channel it will not read
  dissocChannel("/dissoc/meta/") { (exchange, keys) =>
    if (exchange.requestHeader("X-Arrow-Schema-Only").isDefined) {
      exchange.sendResponseHeaders(200, Dissociated.metaFrameLen(
        frameIndex(keys.head).schemaFramed) + Dissociated.metaFrameLen(0))
      Dissociated.streamSchema(partFrames(keys).head, exchange.responseBody)
    } else {
      exchange.sendResponseHeaders(200, metaChannelLen(keys))
      Dissociated.streamMetadata(partFrames(keys), exchange.responseBody)
    }
  }

  // bodies are delivered out of order within windows of 8 (under the
  // client's bounded reassembly window)
  dissocChannel("/dissoc/data/") { (exchange, keys) =>
    val len = bodyChannelLen(keys)
    if (len == 0) { // zero batches: empty body
      exchange.sendResponseHeaders(200, -1)
    } else {
      exchange.sendResponseHeaders(200, len)
      Dissociated.streamBody(partFrames(keys), exchange.responseBody)
    }
  }

  // ------------------------------------------------------------------
  // indirect listing (JSON-of-URIs), reference get_indirect/server.py:23-44
  server.route("/") { exchange => safely(exchange) {
    if (exchange.path != "/") exchange.sendText(404, "not found")
    else {
      val uris = files.keys.toSeq.sorted.map(n =>
        s"""{"uri": "$baseUrl/files/$n"}""").mkString(",\n  ")
      val body = s"""{"arrow_stream_files": [\n  $uris\n]}"""
      exchange.setHeader("Content-Type", "application/json")
      exchange.sendText(200, body)
    }
  }}

  /** Runs a handler; every exception it ends with is logged to stderr
    * as one line with the request path. A failure after the response
    * started aborts it, so the client never reads a clean end; before
    * that, a malformed request answers its 4xx and any other failure
    * that is not a lost client answers 500. */
  private def safely(exchange: HttpCore.Exchange)(body: => Unit): Unit =
    try body
    catch {
      case e: Exception =>
        System.err.println(s"[arrow-http] ${exchange.method} " +
          s"${exchange.path}: ${String.valueOf(e).replace('\n', ' ')}")
        e match {
          case _ if exchange.sent => exchange.abort()
          case b: HttpCore.BadRequest => exchange.sendText(b.status, s"bad request: ${b.getMessage}\n")
          case _: IOException => // client went away
          case _ => exchange.sendText(500, s"error: ${e.getMessage}")
        }
    }

  def start(): ArrowHttpServer = { server.start(); this }
  def stop(): Unit = {
    server.stop()
    // Reclaim the qsplit spill artifacts NOW, not at JVM exit:
    // deleteOnExit() cannot remove non-empty directories, so a
    // long-lived process (or a bench looping servers) would leak one
    // ~payload-sized dir per server instance — 25 leaked 100M-loop
    // spills filled the round-7 build box's disk before this cleanup.
    if (spillRootCreated) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(spillRoot.toFile)
      spillCache.clear()
    }
  }
}

object ArrowHttpServer {
  /** Cap on eagerly-collected dictionary values per column in
    * [[ArrowHttpServer.registerDict]]; beyond this the value set is no
    * longer "small" and must stream via registerDictDelta. */
  val MaxDictValues: Int = 4096

  /** A registered dataset and how `/q/` encodes its string columns:
    * `dicts` are dictionary columns with their value sets, computed at
    * registration (one dictionary per stream, the reference's
    * USE_DICTIONARY_ENCODING behavior, get_compressed/server.py:50-52);
    * `deltaDicts` are delta-dictionary columns. */
  private final case class Dataset(df: () => DataFrame,
      dicts: Map[String, Array[String]] = Map.empty, deltaDicts: Seq[String] = Nil)

  private val IngestName = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Message layout of a served file: its byte length, the end of its
    * schema message and that message's framed length, each batch
    * message's [start, end) span, and the byte totals of its
    * dissociated meta and body channel frames. */
  private final case class FrameIndex(total: Long, schemaEnd: Long, schemaFramed: Long,
      batches: Vector[(Long, Long)], metaTotal: Long, bodyTotal: Long)
}

final class CountingOutputStream(under: OutputStream) extends OutputStream {
  var count: Long = 0
  override def write(b: Int): Unit = { under.write(b); count += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    under.write(b, off, len); count += len
  }
  override def flush(): Unit = under.flush()
  override def close(): Unit = () // parts share the exchange stream
}
