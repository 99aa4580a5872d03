package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, batched decode/feature-extract per partition.
  *
  * Three decode tiers, all REAL (no stubs remain):
  *  - [[decodePpm]] — our own binary P6 PPM parser (magic, comments,
  *    dims, maxval, interleaved RGB) with channel-mean + Rec.601 luma
  *    features (m03, and per-frame in m05).
  *  - [[decodeImage]] — the JDK's ImageIO codecs (zero external deps,
  *    headless-safe): lossless BMP with a pixel-exact oracle (m02) and
  *    lossy JPEG with a tolerance-contract oracle (m06).
  *  - [[decodeWav]] — RIFF/WAV chunk walker + PCM stats (m04).
  * Payloads are real file bytes synthesized deterministically, so the
  * DuckDB oracle recomputes pixels/samples/container lengths exactly.
  * Video codecs proper aren't in the container; m05's length-prefixed
  * frame container stands in, with real per-frame image decode.
  */
object MultimodalOps {

  /** Deterministic 24-bpp bottom-up BMP payload for a doc id — REAL
    * image-file bytes decodable by any BMP reader (m02 uses the JDK's
    * ImageIO, zero external deps). Dims as [[ppmBytes]]; pixel (x,y)
    * channel c ∈ {0=R,1=G,2=B} is byte (id·31 + (3·(y·w+x)+c)·7) mod
    * 256 — the same recipe as the PPM tier, so the oracle arithmetic
    * is shared. */
  def bmpBytes(docId: Long): Array[Byte] = {
    val w = 4 + (docId % 13).toInt
    val h = 4 + ((docId * 3) % 11).toInt
    val rowSize = (3 * w + 3) & ~3 // rows pad to 4-byte multiples
    val imgSize = rowSize * h
    val bb = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + imgSize)
      .putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(imgSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1 // bottom-up raster, BGR byte order
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val p = 3 * (y * w + x)
        bb.put(((docId * 31 + (p + 2) * 7) % 256).toByte)
        bb.put(((docId * 31 + (p + 1) * 7) % 256).toByte)
        bb.put(((docId * 31 + p * 7) % 256).toByte)
        x += 1
      }
      var pad = rowSize - 3 * w
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
      y -= 1
    }
    bb.array()
  }

  /** Decode any ImageIO-supported payload (BMP/JPEG/PNG/GIF) and fold
    * per-channel means + Rec.601 luma, plus the (0,0) pixel's luma.
    * Channel means are invariant under any pixel permutation, so they
    * alone can't catch a raster-order bug; the corner pixel is
    * position-sensitive — a bottom-up/top-down or left-right flip in
    * the encoder or decoder moves a different pixel to (0,0). This is
    * the JDK-native decoder tier: one ImageIO round per row inside
    * mapPartitions, no external codec libraries.
    * Returns (w, h, mean_r, mean_g, mean_b, mean_luma, corner_luma). */
  def decodeImage(payload: Array[Byte])
      : (Int, Int, Double, Double, Double, Double, Double) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload not decodable by ImageIO")
    val w = img.getWidth
    val h = img.getHeight
    var rs = 0L; var gs = 0L; var bs = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        rs += (rgb >> 16) & 0xff
        gs += (rgb >> 8) & 0xff
        bs += rgb & 0xff
        x += 1
      }
      y += 1
    }
    val n = w * h
    val mr = rs.toDouble / n
    val mg = gs.toDouble / n
    val mb = bs.toDouble / n
    val c = img.getRGB(0, 0)
    val cornerLuma = 0.299 * ((c >> 16) & 0xff) + 0.587 * ((c >> 8) & 0xff) +
      0.114 * (c & 0xff)
    (w, h, mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb, cornerLuma)
  }

  /** Deterministic JPEG payload for a doc id: a smooth two-axis
    * gradient (r = baseR + x, g = baseG + y, b = baseB constant) JPEG-
    * encoded at quality 0.9 through the JDK's own writer. Smooth
    * content keeps lossy error ≈1 luma unit, so decoded channel means
    * sit well inside the tolerance m06 asserts — while a decoder bug
    * (channel swap, raster offset) lands tens of units out. */
  def jpegBytes(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 17).toInt
    val h = 16 + ((docId * 5) % 13).toInt
    val baseR = 30 + ((docId * 7) % 150).toInt
    val baseG = 60 + ((docId * 11) % 120).toInt
    val baseB = 90 + ((docId * 13) % 100).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((baseR + x) << 16) | ((baseG + y) << 8) | baseB)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(0.9f)
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  /** Integer per-channel pixel sums and squared sums of a P6 PPM
    * payload — the exact-arithmetic tier under m16's corpus
    * normalization constants (channel means are ratios of these
    * BIGINTs; stds derive from the integer variance numerator
    * n·Σx² − (Σx)², so both engines compute identical doubles). Same
    * REAL parse as [[decodePpm]] (magic, comments, dims, maxval),
    * integer accumulation instead of means.
    * Returns (n_pixels, Σr, Σg, Σb, Σr², Σg², Σb²). */
  def ppmChannelSums(b: Array[Byte]): (Long, Long, Long, Long, Long, Long, Long) = {
    var pos = 0
    def skipWs(): Unit = {
      var go = true
      while (go && pos < b.length) {
        val c = b(pos)
        if (c == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') pos += 1
        else go = false
      }
    }
    def token(): String = {
      skipWs()
      val s0 = pos
      while (pos < b.length && !Character.isWhitespace(b(pos).toChar)) pos += 1
      new String(b, s0, pos - s0, "US-ASCII")
    }
    require(token() == "P6", "not a binary PPM (P6) payload")
    val w = token().toInt
    val h = token().toInt
    require(token().toInt == 255, "unsupported maxval")
    pos += 1
    val n = w * h
    var rs = 0L; var gs = 0L; var bs = 0L
    var r2 = 0L; var g2 = 0L; var b2 = 0L
    var p = 0
    while (p < n) {
      val r = b(pos + 3 * p) & 0xff
      val g = b(pos + 3 * p + 1) & 0xff
      val bl = b(pos + 3 * p + 2) & 0xff
      rs += r; gs += g; bs += bl
      r2 += r.toLong * r; g2 += g.toLong * g; b2 += bl.toLong * bl
      p += 1
    }
    (n.toLong, rs, gs, bs, r2, g2, b2)
  }

  /** Output schema of the real image feature extractor. */
  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("byte_len", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false),
    StructField("corner_luma", DoubleType, nullable = false)))

  /** Byte-level P6 integrity validator (m17): checks the magic, parses
    * header tokens with the same comment/whitespace rules as
    * [[decodePpm]], and verifies the raster payload length — WITHOUT
    * decoding pixels. Returns "ok" | "bad_magic" | "truncated". A header
    * that is itself malformed (non-numeric token, or cut off before a
    * numeric token exists — the empty token throws NumberFormatException)
    * classifies as "bad_magic"; "truncated" is reserved for a WELL-FORMED
    * header whose raster payload is short. Expected
    * raster length is computed in Long and dims are capped (w·h ≤ 2^26
    * pixels) so a corrupt header claiming absurd dims can't overflow the
    * length check into a false "ok". This is the gate an ingest tier
    * runs before paying decode cost. */
  def validatePpm(b: Array[Byte]): String = {
    if (b.length < 2 || b(0) != 'P' || b(1) != '6') return "bad_magic"
    var pos = 2
    def token(): String = {
      var go = true
      while (go && pos < b.length) {
        val c = b(pos)
        if (c == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') pos += 1
        else go = false
      }
      val s0 = pos
      while (pos < b.length && !Character.isWhitespace(b(pos).toChar)) pos += 1
      new String(b, s0, pos - s0, "US-ASCII")
    }
    try {
      val w = token().toInt
      val h = token().toInt
      val maxval = token().toInt
      pos += 1 // single whitespace byte after maxval per the P6 grammar
      if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) "bad_magic"
      else if (w.toLong * h > (1L << 26)) "bad_magic" // absurd-dims cap
      else if ((b.length - pos).toLong < w.toLong * h * 3L) "truncated"
      else "ok"
    } catch { case _: NumberFormatException => "bad_magic" }
  }

  /** Deterministic P6 PPM payload for a doc id — REAL image bytes:
    * ASCII header (magic, width, height, maxval) + interleaved RGB.
    * Dims 4..16 × 4..14; pixel byte k = (id·31 + k·7) mod 256. */
  def ppmBytes(docId: Long): Array[Byte] = {
    val w = 4 + (docId % 13).toInt
    val h = 4 + ((docId * 3) % 11).toInt
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](w * h * 3)
    var k = 0
    while (k < px.length) { px(k) = ((docId * 31 + k * 7) % 256).toByte; k += 1 }
    header ++ px
  }

  /** The ingest-fault schedule shared by m17/m20/m21 (ONE definition —
    * the r11 advice: three inlined copies would drift silently because
    * each query's oracle hardcodes the matching CASE): id % 31 → magic
    * byte stomped ("bad_magic"), else id % 23 → 5-byte truncation
    * ("truncated"), else clean bytes. Deterministic at the BYTE level so
    * [[validatePpm]] really parses and the oracle asserts the verdicts
    * analytically (the m06 contract-oracle pattern). */
  def faultedPpmBytes(docId: Long): Array[Byte] = {
    val raw = ppmBytes(docId)
    if (docId % 31 == 0) { val c = raw.clone(); c(0) = 'X'.toByte; c }
    else if (docId % 23 == 0) raw.take(raw.length - 5)
    else raw
  }

  /** Real P6 decoder: parses magic / `#` comments / dims / maxval, then
    * accumulates per-channel sums over the raster. Returns (width,
    * height, mean_r, mean_g, mean_b, rec601_luma_of_means,
    * corner_luma) — the last is the raster's FIRST pixel's luma, the
    * position-sensitive check channel means (permutation-invariant)
    * can't provide. */
  def decodePpm(b: Array[Byte]): (Int, Int, Double, Double, Double, Double, Double) = {
    var pos = 0
    def skipWs(): Unit = {
      var go = true
      while (go && pos < b.length) {
        val c = b(pos)
        if (c == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') pos += 1
        else go = false
      }
    }
    def token(): String = {
      skipWs()
      val s0 = pos
      while (pos < b.length && !Character.isWhitespace(b(pos).toChar)) pos += 1
      new String(b, s0, pos - s0, "US-ASCII")
    }
    require(token() == "P6", "not a binary PPM (P6) payload")
    val w = token().toInt
    val h = token().toInt
    require(token().toInt == 255, "unsupported maxval")
    pos += 1 // exactly one whitespace byte separates header from raster
    val n = w * h
    var rs = 0L; var gs = 0L; var bs = 0L
    var p = 0
    while (p < n) {
      rs += b(pos + 3 * p) & 0xff
      gs += b(pos + 3 * p + 1) & 0xff
      bs += b(pos + 3 * p + 2) & 0xff
      p += 1
    }
    val mr = rs.toDouble / n
    val mg = gs.toDouble / n
    val mb = bs.toDouble / n
    val cornerLuma = 0.299 * (b(pos) & 0xff) + 0.587 * (b(pos + 1) & 0xff) +
      0.114 * (b(pos + 2) & 0xff)
    (w, h, mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb, cornerLuma)
  }

  /** 56-bit dHash of a P6 PPM payload — a REAL perceptual hash over
    * really-decoded bytes: parse the header, nearest-neighbor-sample an
    * 8×8 grid of integer gray sums (r+g+b — integral, no luma weights,
    * so the oracle recomputes it bit-exactly), then 7 adjacent-column
    * comparison bits per row × 8 rows. 56 bits keeps the fold inside a
    * non-negative BIGINT in both engines (bit 63 would overflow
    * DuckDB's `<<`). */
  def dhashPpm(b: Array[Byte]): Long = {
    var pos = 0
    def skipWs(): Unit = {
      var go = true
      while (go && pos < b.length) {
        val c = b(pos)
        if (c == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') pos += 1
        else go = false
      }
    }
    def token(): String = {
      skipWs()
      val s0 = pos
      while (pos < b.length && !Character.isWhitespace(b(pos).toChar)) pos += 1
      new String(b, s0, pos - s0, "US-ASCII")
    }
    require(token() == "P6", "not a binary PPM (P6) payload")
    val w = token().toInt
    val h = token().toInt
    require(token().toInt == 255, "unsupported maxval")
    pos += 1
    def gray(x: Int, y: Int): Int = {
      val p = 3 * ((y * h / 8) * w + (x * w / 8))
      (b(pos + p) & 0xff) + (b(pos + p + 1) & 0xff) + (b(pos + p + 2) & 0xff)
    }
    var hsh = 0L
    var j = 0
    while (j < 56) {
      val y = j / 7
      val x = j % 7
      if (gray(x + 1, y) > gray(x, y)) hsh |= 1L << j
      j += 1
    }
    hsh
  }

  /** Output schema of the real audio feature extractor. */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("byte_len", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("duration_s", DoubleType, nullable = false),
    StructField("mean_amp", DoubleType, nullable = false),
    StructField("rms", DoubleType, nullable = false)))

  val audioGateSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("n_clip", IntegerType, nullable = false),
    StructField("n_quiet", IntegerType, nullable = false)))

  /** Deterministic RIFF/WAV payload for a doc id — REAL audio bytes:
    * 16-bit mono PCM at 8 kHz, 64..254 samples, sample k =
    * ((id·131 + k·17) mod 65536) − 32768. Every third doc carries an
    * extra LIST chunk between fmt and data, so the decoder's
    * chunk-walking (not just fixed offsets) is exercised. */
  def wavBytes(docId: Long): Array[Byte] = {
    val rate = 8000
    val n = 64 + (docId % 191).toInt
    val junk = if (docId % 3 == 0) 8 + 6 else 0
    val dataSize = 2 * n
    val riffSize = 4 + (8 + 16) + junk + (8 + dataSize)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    if (junk > 0) bb.put("LIST".getBytes("US-ASCII")).putInt(6)
      .put("GRAFT!".getBytes("US-ASCII"))
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var k = 0
    while (k < n) {
      bb.putShort((((docId * 131 + k * 17) % 65536) - 32768).toShort)
      k += 1
    }
    bb.array()
  }

  /** Deterministic RIFF/WAV payload for an AUDIO id (m08's corpus:
    * payload = toneWavBytes(doc_id % 97), so the same clip rides many
    * documents). Same container layout as [[wavBytes]] (fmt chunk, LIST
    * junk every third id, 16-bit mono PCM), but the sample recipe is a
    * quadratic-phase chirp whose FREQUENCY depends on the id — sample
    * k = ((k²·(17+id) + k·29 + id·131) mod 65536) − 32768 — so per-frame
    * energies vary non-monotonically and the m08 energy-difference
    * fingerprint discriminates between clips (the [[wavBytes]] sawtooth
    * is monotonic in k at these ids: every energy sequence decreases and
    * all difference bits collapse to zero). */
  def toneWavBytes(audioId: Long): Array[Byte] = {
    val rate = 8000
    val n = 64 + (audioId % 191).toInt
    val junk = if (audioId % 3 == 0) 8 + 6 else 0
    val dataSize = 2 * n
    val riffSize = 4 + (8 + 16) + junk + (8 + dataSize)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    if (junk > 0) bb.put("LIST".getBytes("US-ASCII")).putInt(6)
      .put("GRAFT!".getBytes("US-ASCII"))
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var k = 0
    while (k < n) {
      bb.putShort((((k.toLong * k * (17 + audioId) + k * 29L + audioId * 131) % 65536) - 32768).toShort)
      k += 1
    }
    bb.array()
  }

  /** Real WAV decoder returning the raw PCM samples: the same RIFF
    * chunk walk as [[decodeWav]], but the data chunk is materialized
    * instead of folded — the decode path m08's fingerprint consumes. */
  def decodeWavSamples(b: Array[Byte]): Array[Short] = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val c = new Array[Byte](4); bb.get(c); new String(c, "US-ASCII")
    }
    require(fourcc() == "RIFF", "not a RIFF payload")
    bb.getInt
    require(fourcc() == "WAVE", "not a WAVE form")
    var rate = -1
    var dataOff = -1
    var dataLen = -1
    while (bb.remaining() >= 8 && (rate < 0 || dataOff < 0)) {
      val id = fourcc()
      val len = bb.getInt
      val next = bb.position() + len + (len & 1)
      id match {
        case "fmt " =>
          require(bb.getShort == 1, "not PCM")
          require(bb.getShort == 1, "not mono")
          rate = bb.getInt
          bb.getInt; bb.getShort
          require(bb.getShort == 16, "not 16-bit")
        case "data" => dataOff = bb.position(); dataLen = len
        case _      => ()
      }
      bb.position(next)
    }
    require(rate > 0 && dataOff >= 0, "missing fmt or data chunk")
    val n = dataLen / 2
    val out = new Array[Short](n)
    var k = 0
    while (k < n) { out(k) = bb.getShort(dataOff + 2 * k); k += 1 }
    out
  }

  /** Acoustic fingerprint over decoded PCM: frame into 8-sample
    * windows, fold each frame's energy (sum of squares, exact in a
    * long), then one bit per adjacent frame pair — bit f set iff
    * energy(f+1) > energy(f). The band-energy-difference scheme of
    * published audio fingerprinters (Haitsma-Kalker / Chromaprint),
    * minus the FFT: energies stand in for spectral bands so the whole
    * fingerprint stays integral and the oracle recomputes it
    * bit-exactly. Trailing samples short of a full frame are ignored.
    * Returns (n_frames, fingerprint). */
  def energyFingerprint(samples: Array[Short]): (Int, Long) = {
    val nf = samples.length / 8
    val en = new Array[Long](nf)
    var f = 0
    while (f < nf) {
      var e = 0L
      var k = f * 8
      while (k < (f + 1) * 8) { val v = samples(k).toLong; e += v * v; k += 1 }
      en(f) = e
      f += 1
    }
    var fp = 0L
    var i = 0
    while (i < nf - 1) {
      if (en(i + 1) > en(i)) fp |= 1L << i
      i += 1
    }
    (nf, fp)
  }

  /** Real WAV decoder: validates RIFF/WAVE magic, walks chunks (even-
    * padded), parses fmt (PCM, mono, 16-bit required), then folds the
    * data chunk into mean amplitude and RMS. */
  def decodeWav(b: Array[Byte]): (Int, Int, Double, Double, Double) = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val c = new Array[Byte](4); bb.get(c); new String(c, "US-ASCII")
    }
    require(fourcc() == "RIFF", "not a RIFF payload")
    bb.getInt // riff size
    require(fourcc() == "WAVE", "not a WAVE form")
    var rate = -1
    var dataOff = -1
    var dataLen = -1
    while (bb.remaining() >= 8 && (rate < 0 || dataOff < 0)) {
      val id = fourcc()
      val len = bb.getInt
      val next = bb.position() + len + (len & 1) // chunks are even-padded
      id match {
        case "fmt " =>
          require(bb.getShort == 1, "not PCM")
          require(bb.getShort == 1, "not mono")
          rate = bb.getInt
          bb.getInt; bb.getShort
          require(bb.getShort == 16, "not 16-bit")
        case "data" => dataOff = bb.position(); dataLen = len
        case _      => () // skip unknown chunks (LIST etc.)
      }
      bb.position(next)
    }
    require(rate > 0 && dataOff >= 0, "missing fmt or data chunk")
    val n = dataLen / 2
    var sum = 0L
    var sq = 0L
    var k = 0
    while (k < n) {
      val v = bb.getShort(dataOff + 2 * k).toLong
      sum += v; sq += v * v; k += 1
    }
    (rate, n, n.toDouble / rate, sum.toDouble / n,
      math.sqrt(sq.toDouble / n))
  }

  /** Output schema of the frame-sampling extractor. */
  val frameFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("byte_len", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("sampled_frames", IntegerType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false)))

  /** Deterministic multi-frame container for a doc id: [n_frames:4 LE]
    * then per frame [len:4 LE][P6 PPM bytes]; frame f's image is
    * ppmBytes(id·7 + f), 2..6 frames per doc. */
  def framesBytes(docId: Long): Array[Byte] = {
    val nf = 2 + (docId % 5).toInt
    val frames = (0 until nf).map(f => ppmBytes(docId * 7 + f))
    val bb = java.nio.ByteBuffer.allocate(4 + frames.map(4 + _.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(nf)
    frames.foreach { fr => bb.putInt(fr.length); bb.put(fr) }
    bb.array()
  }

  /** Walks the container by its length prefixes, decodes ONLY every
    * `k`-th frame (others are skipped by seek, never parsed — what
    * makes sparse sampling cheap), and folds sampled lumas in frame
    * order. Returns (n_frames, sampled_count, mean_sampled_luma). */
  def sampleFrames(b: Array[Byte], k: Int): (Int, Int, Double) = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nf = bb.getInt
    var sum = 0.0
    var sampled = 0
    var f = 0
    while (f < nf) {
      val len = bb.getInt
      if (f % k == 0) {
        val frame = new Array[Byte](len)
        bb.get(frame)
        sum += decodePpm(frame)._6
        sampled += 1
      } else bb.position(bb.position() + len) // seek past, no decode
      f += 1
    }
    (nf, sampled, sum / sampled)
  }

  /** Temporally-pooled perceptual video hash: walk the container, dHash
    * every `k`-th sampled frame (others seek-skipped), and majority-vote
    * each of the 56 dHash bits ACROSS the sampled frames — the pooled
    * print moves only a few bits under light re-encode/per-frame edits
    * (each frame's dHash drifts a little, the vote absorbs it), which is
    * exactly the hamming-band near-dup property m09's order-sensitive
    * polynomial chain deliberately lacks (one changed frame reprints the
    * whole chain). Ties (even sampled counts) vote 0 — strict-majority,
    * deterministic on both engines. Returns (n_frames, pooled 56-bit). */
  def videoPooledHash(b: Array[Byte], k: Int): (Int, Long) = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nf = bb.getInt
    val votes = new Array[Int](56)
    var f = 0
    while (f < nf) {
      val len = bb.getInt
      if (f % k == 0) {
        val frame = new Array[Byte](len)
        bb.get(frame)
        val h = dhashPpm(frame)
        var j = 0
        while (j < 56) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      } else bb.position(bb.position() + len)
      f += 1
    }
    var v = 0L
    var j = 0
    while (j < 56) { if (votes(j) > 0) v |= (1L << j); j += 1 }
    (nf, v)
  }

  /** Sequence-sensitive video fingerprint: walk the container, dHash
    * every `k`-th frame (others seek-skipped, never parsed), and chain
    * the sampled hashes in frame order through a modular polynomial —
    * fp = (fp * 31 + dhash mod M) mod M, M the 30-bit MinHash prime —
    * so values stay far inside BIGINT in both engines and a reordered
    * frame sequence changes the print (the property a per-frame SET
    * hash would lose). Returns (n_frames, fp). */
  def videoFingerprint(b: Array[Byte], k: Int): (Int, Long) = {
    val M = 1073741789L
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nf = bb.getInt
    var fp = 0L
    var f = 0
    while (f < nf) {
      val len = bb.getInt
      if (f % k == 0) {
        val frame = new Array[Byte](len)
        bb.get(frame)
        fp = (fp * 31 + dhashPpm(frame) % M) % M
      } else bb.position(bb.position() + len)
      f += 1
    }
    (nf, fp)
  }

  /** Scene-cut statistics over the sampled frames of a container: walks
    * the length prefixes like [[videoFingerprint]] (non-sampled frames
    * seek-skipped), dHashes each sampled frame, and compares CONSECUTIVE
    * sampled hashes by Hamming distance — a transition past `thresh`
    * bits is a cut. Returns (n_sampled, n_cuts, max_hamming). */
  def sceneCutStats(b: Array[Byte], k: Int, thresh: Int): (Int, Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nf = bb.getInt
    var prev = -1L // dhashPpm is a 56-bit non-negative value
    var sampled = 0; var cuts = 0; var maxH = 0
    var f = 0
    while (f < nf) {
      val len = bb.getInt
      if (f % k == 0) {
        val frame = new Array[Byte](len)
        bb.get(frame)
        val hsh = dhashPpm(frame)
        if (prev >= 0) {
          val hd = java.lang.Long.bitCount(prev ^ hsh)
          if (hd > maxH) maxH = hd
          if (hd > thresh) cuts += 1
        }
        prev = hsh
        sampled += 1
      } else bb.position(bb.position() + len)
      f += 1
    }
    (sampled, cuts, maxH)
  }

  /** documents.text re-framed as an opaque binary payload column with a
    * metadata struct — the multimodal table shape. */
  def binaryTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        col("source").as("origin"),
        length(encode(col("text"), "UTF-8")).as("byte_len")).as("meta"))

  /** Output schema of the JPEG tolerance-contract extractor (m06). */
  val jpegFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("within_tolerance", BooleanType, nullable = false)))

  val all: Seq[QueryDef] = Seq(

    // -- binary ingest + metadata (fully SQL-checkable) ----------------
    QueryDef.sql("m01_binary_meta",
      (s, d) => binaryTable(s, d)
        .select(col("doc_id"),
          col("meta.byte_len").as("byte_len"),
          md5(col("payload")).as("payload_md5"),
          col("meta.mime").as("mime"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  octet_length(encode(text)) AS byte_len,
        |  md5(text) AS payload_md5,
        |  'text/plain' AS mime
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // -- REAL ImageIO decode: BMP file bytes through the JDK decoder ---
    // The stub tier is gone: payloads are genuine BMP files (file
    // header, info header, bottom-up padded BGR raster) and the decode
    // is the JDK's own ImageIO — a codec we didn't write — inside the
    // same mapPartitions plumbing. The oracle recomputes channel sums,
    // the exact container byte length (padding included), AND the (0,0)
    // pixel's luma from the generation recipe. Channel means alone are
    // permutation-invariant; corner_luma is the position-sensitive
    // check, so a raster-order (bottom-up/top-down), padding, or
    // channel-order bug in either our encoder or our use of the decoder
    // fails the hash.
    QueryDef.sql("m02_decode_features",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 500)
        val feats = ids.rdd.mapPartitions { it =>
          // ImageIO reader lookup is per-call; per-partition init would
          // hold a reusable reader here
          it.map { r =>
            val id = r.getLong(0)
            val payload = bmpBytes(id)
            val (w, h, mr, mg, mb, luma, corner) = decodeImage(payload)
            Row(id, payload.length, w, h, mr, mg, mb, luma, corner)
          }
        }
        s.createDataFrame(feats, imageFeatureSchema).orderBy(col("doc_id"))
      },
      """WITH b AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + (doc_id * 3) % 11 AS h
        |  FROM documents WHERE doc_id < 500),
        |s AS (
        |  SELECT doc_id, w, h, w * h AS n,
        |    54 + ((3 * w + 3) // 4) * 4 * h AS byte_len,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p) * 7) % 256), (a, x) -> a + x) AS rs,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p + 1) * 7) % 256), (a, x) -> a + x) AS gs,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p + 2) * 7) % 256), (a, x) -> a + x) AS bs
        |  FROM b)
        |SELECT doc_id, byte_len, w AS width, h AS height,
        |  CAST(rs AS DOUBLE) / n AS mean_r,
        |  CAST(gs AS DOUBLE) / n AS mean_g,
        |  CAST(bs AS DOUBLE) / n AS mean_b,
        |  0.299 * (CAST(rs AS DOUBLE) / n) + 0.587 * (CAST(gs AS DOUBLE) / n)
        |    + 0.114 * (CAST(bs AS DOUBLE) / n) AS mean_luma,
        |  0.299 * CAST((doc_id * 31) % 256 AS DOUBLE)
        |    + 0.587 * CAST((doc_id * 31 + 7) % 256 AS DOUBLE)
        |    + 0.114 * CAST((doc_id * 31 + 14) % 256 AS DOUBLE) AS corner_luma
        |FROM s
        |ORDER BY doc_id""".stripMargin),

    // -- REAL lossy JPEG decode with a tolerance contract --------------
    // The compressed-format tier: smooth-gradient images JPEG-encoded
    // and decoded through the JDK codec. Lossy output can't hash-match
    // an exact oracle, so like q34 the CONTRACT does: dimensions are
    // lossless (exact), and decoded channel means must sit within 4
    // luma units of the analytic means — true for a correct decode of
    // smooth content (error ≈1), false for any channel-order or raster
    // bug (error ≈30+). Oracle emits the analytic dims + literal TRUE.
    QueryDef.sql("m06_jpeg_decode",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 300)
        val feats = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (w, h, mr, mg, mb, _, _) = decodeImage(jpegBytes(id))
            val exR = 30 + ((id * 7) % 150).toInt + (w - 1) / 2.0
            val exG = 60 + ((id * 11) % 120).toInt + (h - 1) / 2.0
            val exB = 90 + ((id * 13) % 100).toInt.toDouble
            val ok = math.abs(mr - exR) <= 4.0 && math.abs(mg - exG) <= 4.0 &&
              math.abs(mb - exB) <= 4.0
            Row(id, w, h, ok)
          }
        }
        s.createDataFrame(feats, jpegFeatureSchema).orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  CAST(16 + doc_id % 17 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 5) % 13 AS INTEGER) AS height,
        |  TRUE AS within_tolerance
        |FROM documents
        |WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin),

    // -- REAL image decode: P6 PPM parse + channel means ---------------
    // The payload is genuine image bytes; the decoder genuinely parses
    // them (magic, comments, dims, maxval, raster). The oracle
    // recomputes channel sums, the header byte arithmetic, and the
    // first raster pixel's luma (corner_luma — the position-sensitive
    // check; channel means are permutation-invariant), so a parser bug
    // (off-by-one into the raster, header length miscount, raster
    // reorder) fails the hash.
    QueryDef.sql("m03_image_decode",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 500)
        val feats = ids.rdd.mapPartitions { it =>
          // decoder state would init once per partition here
          it.map { r =>
            val id = r.getLong(0)
            val payload = ppmBytes(id)
            val (w, h, mr, mg, mb, luma, corner) = decodePpm(payload)
            Row(id, payload.length, w, h, mr, mg, mb, luma, corner)
          }
        }
        s.createDataFrame(feats, imageFeatureSchema).orderBy(col("doc_id"))
      },
      """WITH b AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + (doc_id * 3) % 11 AS h
        |  FROM documents WHERE doc_id < 500),
        |s AS (
        |  SELECT doc_id, w, h, w * h AS n,
        |    3 + length(CAST(w AS VARCHAR)) + 1 + length(CAST(h AS VARCHAR)) + 5
        |      + 3 * w * h AS byte_len,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p) * 7) % 256), (a, x) -> a + x) AS rs,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p + 1) * 7) % 256), (a, x) -> a + x) AS gs,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p + 2) * 7) % 256), (a, x) -> a + x) AS bs
        |  FROM b)
        |SELECT doc_id, byte_len, w AS width, h AS height,
        |  CAST(rs AS DOUBLE) / n AS mean_r,
        |  CAST(gs AS DOUBLE) / n AS mean_g,
        |  CAST(bs AS DOUBLE) / n AS mean_b,
        |  0.299 * (CAST(rs AS DOUBLE) / n) + 0.587 * (CAST(gs AS DOUBLE) / n)
        |    + 0.114 * (CAST(bs AS DOUBLE) / n) AS mean_luma,
        |  0.299 * CAST((doc_id * 31) % 256 AS DOUBLE)
        |    + 0.587 * CAST((doc_id * 31 + 7) % 256 AS DOUBLE)
        |    + 0.114 * CAST((doc_id * 31 + 14) % 256 AS DOUBLE) AS corner_luma
        |FROM s
        |ORDER BY doc_id""".stripMargin),

    // -- REAL audio decode: RIFF/WAV chunk walk + PCM stats ------------
    // Genuine wave-file bytes (RIFF header, fmt chunk, an interleaved
    // LIST chunk on every third doc, 16-bit PCM data); the decoder
    // genuinely walks chunks and folds samples. The oracle recomputes
    // every sample and the full container byte length from the
    // generation recipe, so a header offset bug, a chunk-skip bug, or a
    // sign error in the PCM decode fails the hash.
    QueryDef.sql("m04_audio_decode",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 500)
        val feats = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val payload = wavBytes(id)
            val (rate, n, dur, mean, rms) = decodeWav(payload)
            Row(id, payload.length, rate, n, dur, mean, rms)
          }
        }
        s.createDataFrame(feats, audioFeatureSchema).orderBy(col("doc_id"))
      },
      """WITH b AS (
        |  SELECT doc_id, 64 + doc_id % 191 AS n,
        |    CASE WHEN doc_id % 3 = 0 THEN 14 ELSE 0 END AS junk
        |  FROM documents WHERE doc_id < 500),
        |v AS (
        |  SELECT doc_id, n, 44 + 2 * n + junk AS byte_len,
        |    list_transform(range(0, n),
        |      k -> (doc_id * 131 + k * 17) % 65536 - 32768) AS vs
        |  FROM b),
        |s AS (
        |  SELECT doc_id, n, byte_len,
        |    list_reduce([CAST(0 AS BIGINT)] || vs, (a, x) -> a + x) AS sm,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(vs, x -> x * x),
        |      (a, x) -> a + x) AS sq
        |  FROM v)
        |SELECT doc_id, byte_len, 8000 AS sample_rate, n AS n_samples,
        |  CAST(n AS DOUBLE) / 8000 AS duration_s,
        |  CAST(sm AS DOUBLE) / n AS mean_amp,
        |  sqrt(CAST(sq AS DOUBLE) / n) AS rms
        |FROM s
        |ORDER BY doc_id""".stripMargin),

    // -- frame sampling over a multi-frame container -------------------
    // The video-pipeline op the mandate names (decode / frame-sample):
    // payloads are REAL multi-frame containers ([n:4 LE] then per frame
    // [len:4 LE][P6 PPM bytes]); the extractor walks the container by
    // its length prefixes, decodes ONLY every 3rd frame with the same
    // P6 parser m03 uses (skip cost is a seek, not a decode — the
    // property that makes sparse sampling cheap at scale), and folds
    // sampled lumas. The oracle recomputes sampled frames analytically,
    // so frame indexing or seek-offset bugs fail the hash.
    QueryDef.sql("m05_frame_sample",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 300)
        val feats = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val payload = framesBytes(id)
            val (n, sampled, meanLuma) = sampleFrames(payload, 3)
            Row(id, payload.length, n, sampled, meanLuma)
          }
        }
        s.createDataFrame(feats, frameFeatureSchema).orderBy(col("doc_id"))
      },
      // frame f of doc id is ppmBytes(id*7 + f); sampled frames are
      // f % 3 == 0; per-frame mean luma mirrors the m03 arithmetic
      """WITH b AS (
        |  SELECT doc_id, 2 + doc_id % 5 AS nf FROM documents WHERE doc_id < 300),
        |f AS (
        |  SELECT doc_id, nf, unnest(range(0, nf)) AS fi FROM b),
        |dims AS (
        |  SELECT doc_id, nf, fi, doc_id * 7 + fi AS fid,
        |    4 + (doc_id * 7 + fi) % 13 AS w,
        |    4 + ((doc_id * 7 + fi) * 3) % 11 AS h
        |  FROM f),
        |sz AS (
        |  SELECT doc_id, nf, fi, fid, w, h, w * h AS n,
        |    3 + length(CAST(w AS VARCHAR)) + 1 + length(CAST(h AS VARCHAR)) + 5
        |      + 3 * w * h AS frame_len
        |  FROM dims),
        |lum AS (
        |  SELECT doc_id, nf, fi, frame_len,
        |    0.299 * (CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, n),
        |        p -> (fid * 31 + (3 * p) * 7) % 256), (a, x) -> a + x) AS DOUBLE) / n)
        |    + 0.587 * (CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, n),
        |        p -> (fid * 31 + (3 * p + 1) * 7) % 256), (a, x) -> a + x) AS DOUBLE) / n)
        |    + 0.114 * (CAST(list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, n),
        |        p -> (fid * 31 + (3 * p + 2) * 7) % 256), (a, x) -> a + x) AS DOUBLE) / n)
        |      AS luma
        |  FROM sz),
        |agg AS (
        |  SELECT doc_id, nf,
        |    4 + CAST(SUM(4 + frame_len) AS BIGINT) AS byte_len,
        |    COUNT(*) FILTER (WHERE fi % 3 = 0) AS sampled,
        |    -- ordered left fold, not SUM: the decoder accumulates lumas
        |    -- in frame order, and double addition must replay that exact
        |    -- IEEE sequence to hash-match
        |    list_reduce([CAST(0.0 AS DOUBLE)] ||
        |      list(luma ORDER BY fi) FILTER (WHERE fi % 3 = 0),
        |      (a, x) -> a + x)
        |      / COUNT(*) FILTER (WHERE fi % 3 = 0) AS mean_luma
        |  FROM lum GROUP BY doc_id, nf)
        |SELECT doc_id, byte_len, nf AS n_frames,
        |  CAST(sampled AS INTEGER) AS sampled_frames, mean_luma
        |FROM agg
        |ORDER BY doc_id""".stripMargin),

    // -- perceptual image dedup: dHash over REALLY-decoded bytes -------
    // The multimodal twin of d01: a corpus where the same image rides
    // many documents (payload = ppmBytes(doc_id % 40) — the web shape:
    // one logo/stock photo embedded in thousands of pages). Each
    // payload is REALLY parsed (header walk + raster sampling, no
    // metadata shortcut) into a 56-bit dHash — a genuine perceptual
    // hash (sample grid + adjacent-comparison bits), kept integral so
    // the oracle recomputes it bit-exactly from the generation recipe.
    // Dedup is then d01's shape on the hash: one 8-byte-key shuffle,
    // per-group copy count + canonical (min doc_id) flag. 100 TB
    // shape: decode is mapPartitions (per-partition codec init), the
    // shuffle carries (doc_id, dhash) longs only — image bytes never
    // move — and groups are bounded by content repetition, not corpus
    // size.
    QueryDef.sql("m07_image_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val hashes = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            Row(id, dhashPpm(ppmBytes(id % 40)))
          }
        }
        val df = s.createDataFrame(hashes, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("dhash", LongType, nullable = false))))
        val byH = Window.partitionBy(col("dhash"))
        df.withColumn("n_copies", count(lit(1)).over(byH))
          .withColumn("canonical", col("doc_id") === min(col("doc_id")).over(byH))
          .orderBy(col("doc_id"))
      }, {
      // gray(x, y) of group image gid: r+g+b at the sampled raster
      // pixel (x·w//8, y·h//8), each channel (gid·31 + (3·(sy·w+sx)+c)·7)
      // mod 256 — the ppmBytes recipe
      def oGray(sx: String, sy: String): String =
        s"""((gid*31 + (3*(($sy)*w+($sx)))*7) % 256
           | + (gid*31 + (3*(($sy)*w+($sx))+1)*7) % 256
           | + (gid*31 + (3*(($sy)*w+($sx))+2)*7) % 256)""".stripMargin
      val sy = "((j // 7) * h) // 8"
      val sx0 = "((j % 7) * w) // 8"
      val sx1 = "(((j % 7) + 1) * w) // 8"
      s"""WITH b AS (
         |  SELECT doc_id, doc_id % 40 AS gid,
         |    4 + (doc_id % 40) % 13 AS w, 4 + ((doc_id % 40) * 3) % 11 AS h
         |  FROM documents WHERE doc_id < 1000),
         |hsh AS (
         |  SELECT doc_id,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
         |      CASE WHEN ${oGray(sx1, sy)} > ${oGray(sx0, sy)}
         |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
         |      (acc, bit) -> acc + bit) AS dhash
         |  FROM b),
         |g AS (
         |  SELECT doc_id, dhash,
         |    COUNT(*) OVER (PARTITION BY dhash) AS n_copies,
         |    MIN(doc_id) OVER (PARTITION BY dhash) AS mn
         |  FROM hsh)
         |SELECT doc_id, dhash, CAST(n_copies AS BIGINT) AS n_copies,
         |  doc_id = mn AS canonical
         |FROM g ORDER BY doc_id""".stripMargin
      }),

    // -- acoustic fingerprint dedup: energy-diff hash over REAL WAV ----
    // m07's move for the audio modality: a corpus where the same clip
    // rides many documents (payload = toneWavBytes(doc_id % 97)), each
    // payload REALLY decoded (RIFF chunk walk, LIST-chunk skip, PCM
    // materialization) and fingerprinted by adjacent-frame energy
    // differences (Haitsma-Kalker shape, kept integral — see
    // energyFingerprint). Dedup is d01's contract on (n_frames, fp):
    // copy count + canonical (min doc_id) flag per group. Distinct
    // clips mostly get distinct prints (73/97 at this recipe), with a
    // few cross-clip collisions — the perceptual-hash trade the
    // operator exists to make. 100 TB shape: decode runs mapPartitions
    // (per-partition codec init); the shuffle carries (doc_id,
    // n_frames, fp) — audio bytes never move; groups are bounded by
    // content repetition, not corpus size.
    QueryDef.sql("m08_audio_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val prints = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (nf, fp) = energyFingerprint(decodeWavSamples(toneWavBytes(id % 97)))
            Row(id, nf, fp)
          }
        }
        val df = s.createDataFrame(prints, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_frames", IntegerType, nullable = false),
          StructField("fp", LongType, nullable = false))))
        val byFp = Window.partitionBy(col("n_frames"), col("fp"))
        df.withColumn("n_copies", count(lit(1)).over(byFp))
          .withColumn("canonical", col("doc_id") === min(col("doc_id")).over(byFp))
          .orderBy(col("doc_id"))
      },
      """WITH b AS (
        |  SELECT doc_id, doc_id % 97 AS aid FROM documents WHERE doc_id < 1000),
        |v AS (
        |  SELECT doc_id, aid, 64 + (aid % 191) AS n FROM b),
        |e AS (
        |  SELECT doc_id, n, list_transform(range(0, n // 8), f ->
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(f*8, (f+1)*8),
        |      k -> CAST((k*k*(17 + aid) + k*29 + aid*131) % 65536 - 32768 AS BIGINT)
        |         * CAST((k*k*(17 + aid) + k*29 + aid*131) % 65536 - 32768 AS BIGINT)),
        |      (a, x) -> a + x)) AS en
        |  FROM v),
        |f AS (
        |  SELECT doc_id, len(en) AS n_frames,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(en)),
        |      i -> CASE WHEN en[i+1] > en[i] THEN (CAST(1 AS BIGINT) << (i-1))
        |           ELSE 0 END),
        |      (a, bit) -> a + bit) AS fp
        |  FROM e),
        |g AS (
        |  SELECT doc_id, n_frames, fp,
        |    COUNT(*) OVER (PARTITION BY n_frames, fp) AS n_copies,
        |    MIN(doc_id) OVER (PARTITION BY n_frames, fp) AS mn
        |  FROM f)
        |SELECT doc_id, CAST(n_frames AS INTEGER) AS n_frames, fp,
        |  CAST(n_copies AS BIGINT) AS n_copies,
        |  doc_id = mn AS canonical
        |FROM g ORDER BY doc_id""".stripMargin),

    // -- video dedup: chained frame dHashes over the container walk ----
    // Completes the modality trio (m07 image, m08 audio): a corpus
    // where the same VIDEO rides many documents (payload =
    // framesBytes(doc_id % 60) — one clip embedded in many pages).
    // Fingerprint = the m05 container walk sampling every 2nd frame
    // (skipped frames seek past, never parsed), each sampled frame
    // REALLY decoded through the m07 dHash, hashes chained in frame
    // ORDER through a modular polynomial (see videoFingerprint) — so
    // two clips sharing frames in a different order print differently.
    // Dedup is d01's contract on (n_frames, fp). 100 TB shape: decode
    // is mapPartitions; the shuffle carries (doc_id, n_frames, fp)
    // longs only — video bytes never move; groups bounded by content
    // repetition, not corpus size.
    QueryDef.sql("m09_video_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val prints = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (nf, fp) = videoFingerprint(framesBytes(id % 60), 2)
            Row(id, nf, fp)
          }
        }
        val df = s.createDataFrame(prints, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_frames", IntegerType, nullable = false),
          StructField("fp", LongType, nullable = false))))
        val byFp = Window.partitionBy(col("n_frames"), col("fp"))
        df.withColumn("n_copies", count(lit(1)).over(byFp))
          .withColumn("canonical", col("doc_id") === min(col("doc_id")).over(byFp))
          .orderBy(col("doc_id"))
      }, {
      // frame fi of group clip gid is ppmBytes(gid*7 + fi); sampled
      // frames are fi % 2 == 0; per-frame dHash mirrors m07's recipe
      // with the frame id as the channel base
      def oGray(sx: String, sy: String): String =
        s"""((fid*31 + (3*(($sy)*w+($sx)))*7) % 256
           | + (fid*31 + (3*(($sy)*w+($sx))+1)*7) % 256
           | + (fid*31 + (3*(($sy)*w+($sx))+2)*7) % 256)""".stripMargin
      val sy = "((j // 7) * h) // 8"
      val sx0 = "((j % 7) * w) // 8"
      val sx1 = "(((j % 7) + 1) * w) // 8"
      s"""WITH b AS (
         |  SELECT doc_id, doc_id % 60 AS gid, 2 + (doc_id % 60) % 5 AS nf
         |  FROM documents WHERE doc_id < 1000),
         |f AS (
         |  SELECT doc_id, gid, nf, unnest(range(0, nf)) AS fi FROM b),
         |d AS (
         |  SELECT doc_id, nf, fi, gid*7+fi AS fid,
         |    4 + (gid*7+fi) % 13 AS w, 4 + ((gid*7+fi)*3) % 11 AS h
         |  FROM f WHERE fi % 2 = 0),
         |hsh AS (
         |  SELECT doc_id, nf, fi,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
         |      CASE WHEN ${oGray(sx1, sy)} > ${oGray(sx0, sy)}
         |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
         |      (acc, bit) -> acc + bit) AS dhash
         |  FROM d),
         |pr AS (
         |  SELECT doc_id, nf,
         |    list_reduce([CAST(0 AS BIGINT)] ||
         |      list(dhash % 1073741789 ORDER BY fi),
         |      (a, x) -> (a * 31 + x) % 1073741789) AS fp
         |  FROM hsh GROUP BY doc_id, nf),
         |g AS (
         |  SELECT doc_id, nf, fp,
         |    COUNT(*) OVER (PARTITION BY nf, fp) AS n_copies,
         |    MIN(doc_id) OVER (PARTITION BY nf, fp) AS mn
         |  FROM pr)
         |SELECT doc_id, CAST(nf AS INTEGER) AS n_frames, fp,
         |  CAST(n_copies AS BIGINT) AS n_copies,
         |  doc_id = mn AS canonical
         |FROM g ORDER BY doc_id""".stripMargin
      }),

    // -- image resolution / aspect-ratio gate (the LAION-style filter) -
    // The first quality pass every image-text corpus runs: drop
    // thumbnails (min dimension too small) and banner-shaped crops
    // (aspect ratio beyond 2:1), with a per-image verdict + reason the
    // curation audit keeps. Dims come from REALLY decoding the payload
    // (the m07 web-shape corpus: payload = ppmBytes(doc_id % 40)) in
    // mapPartitions — not from trusted metadata, which at web scale
    // lies — while the oracle recomputes them analytically from the
    // generation recipe. Integer-only rules (cross-multiplied aspect
    // test, no division). 100 TB shape: decode + verdict are entirely
    // map-side (zero shuffles, PlanSpec-pinned); image bytes never
    // leave the decode partition; only the tiny verdict frame flows on.
    QueryDef.sql("m10_image_size_filter",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val dims = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (w, h, _, _, _, _, _) = decodePpm(ppmBytes(id % 40))
            Row(id, w, h)
          }
        }
        s.createDataFrame(dims, StructType(Seq(
            StructField("doc_id", LongType, nullable = false),
            StructField("width", IntegerType, nullable = false),
            StructField("height", IntegerType, nullable = false))))
          .withColumn("n_pixels", col("width") * col("height"))
          .withColumn("reason",
            when(least(col("width"), col("height")) < 6, "too_small")
              .when(greatest(col("width"), col("height")) >
                least(col("width"), col("height")) * 2, "bad_aspect")
              .otherwise("ok"))
          .withColumn("keep", col("reason") === "ok")
          .orderBy(col("doc_id"))
      },
      """WITH b AS (
        |  SELECT doc_id,
        |    4 + (doc_id % 40) % 13 AS w, 4 + ((doc_id % 40) * 3) % 11 AS h
        |  FROM documents WHERE doc_id < 1000),
        |v AS (
        |  SELECT doc_id, w, h, w * h AS n_pixels,
        |    CASE WHEN least(w, h) < 6 THEN 'too_small'
        |         WHEN greatest(w, h) > least(w, h) * 2 THEN 'bad_aspect'
        |         ELSE 'ok' END AS reason
        |  FROM b)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(n_pixels AS INTEGER) AS n_pixels, reason, reason = 'ok' AS keep
        |FROM v
        |ORDER BY doc_id""".stripMargin),

    // -- joint text+image pair gate (the LAION-style paired filter) ----
    // An image-text corpus keeps a PAIR only when both sides pass: the
    // text clears the Gopher hard rules (t12/p06's exact battery) AND
    // the image clears the m10 size/aspect gate. Verdict precedence is
    // text first (text is the cheaper signal at scale — a text reject
    // means the image is never decoded in a staged pipeline; here both
    // compute for the audit). 100 TB shape: the decoded-dims frame is
    // the bounded side (one row per IMAGE, joined into the doc slice
    // by a tiny hash join); every text rule is map-side; the verdict
    // rollup is per-reason counts — no row ever shuffles except the
    // dims frame itself.
    QueryDef.sql("m11_pair_gate",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val dims = s.createDataFrame(
          ids.rdd.mapPartitions { it =>
            it.map { r =>
              val id = r.getLong(0)
              val (w, h, _, _, _, _, _) = decodePpm(ppmBytes(id % 40))
              Row(id, w, h)
            }
          },
          StructType(Seq(
            StructField("doc_id", LongType, nullable = false),
            StructField("width", IntegerType, nullable = false),
            StructField("height", IntegerType, nullable = false))))
        val ws = col("ws")
        Tables.documents(s, d).filter(col("doc_id") < 1000)
          .withColumn("ws", graft.operators.OpUtils.words(col("text")))
          .transform(graft.operators.OpUtils.wordStats(ws))
          .withColumn("g2", graft.functions.GraftFunctions.gramHashes60(ws, 2))
          .withColumn("text_fail",
            graft.operators.OpUtils.gopherRules(col("g2")).reduce(_ || _))
          .join(dims, Seq("doc_id"))
          .withColumn("image_fail",
            least(col("width"), col("height")) < 6 ||
              greatest(col("width"), col("height")) >
                least(col("width"), col("height")) * 2)
          .withColumn("verdict",
            when(col("text_fail"), "text_reject")
              .when(col("image_fail"), "image_reject")
              .otherwise("kept"))
          .select(col("doc_id"), col("text_fail"), col("image_fail"), col("verdict"))
          .orderBy(col("doc_id"))
      }, {
      val oWs = graft.operators.OpUtils.oWords("text")
      s"""WITH t AS (
         |  SELECT doc_id, $oWs AS ws FROM documents WHERE doc_id < 1000),
         |tx AS (
         |  SELECT doc_id, len(ws) AS n,
         |    list_reduce([0] || list_transform(ws, w -> length(w)),
         |      (a, b) -> a + b) AS sum_len,
         |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to')))
         |      AS stop_hits,
         |    len(list_filter(ws, w -> regexp_matches(w, '[^a-z0-9]'))) AS n_sym,
         |    CASE WHEN len(ws) < 2 THEN CAST([] AS BIGINT[])
         |         ELSE list_transform(range(1, len(ws)),
         |                bi -> ${graft.operators.OpUtils.oMd5Val("array_to_string(ws[bi:bi+1], ' ')", 15)}) END AS g2
         |  FROM t),
         |tf AS (
         |  SELECT doc_id,
         |    (n < 50 OR n > 100000 OR sum_len < n * 3 OR sum_len > n * 10
         |     OR stop_hits < 2 OR n_sym * 10 > n
         |     OR (len(g2) > 0 AND
         |         (len(g2) - len(list_distinct(g2))) * 10 > len(g2) * 3))
         |      AS text_fail
         |  FROM tx),
         |im AS (
         |  SELECT doc_id,
         |    4 + (doc_id % 40) % 13 AS w, 4 + ((doc_id % 40) * 3) % 11 AS h
         |  FROM documents WHERE doc_id < 1000),
         |jf AS (
         |  SELECT tf.doc_id, tf.text_fail,
         |    (least(im.w, im.h) < 6 OR greatest(im.w, im.h) > least(im.w, im.h) * 2)
         |      AS image_fail
         |  FROM tf JOIN im USING (doc_id))
         |SELECT doc_id, text_fail, image_fail,
         |  CASE WHEN text_fail THEN 'text_reject'
         |       WHEN image_fail THEN 'image_reject'
         |       ELSE 'kept' END AS verdict
         |FROM jf
         |ORDER BY doc_id""".stripMargin
      }),

    // -- audio clipping / silence quality gate -------------------------
    // The audio-corpus first pass (m10's move for sound): drop clips
    // whose REALLY-decoded PCM is clipped (|sample| >= 30000 on > 10%
    // of frames — a hard-limited recording) or near-silent (|sample| <
    // 2000 on > 10% — dead air). Same corpus as m08 (payload =
    // toneWavBytes(doc_id % 97): one clip rides many docs); decode
    // happens per-partition via the same RIFF chunk walk, rules are
    // integer cross-multiplied comparisons, verdict precedence
    // clipped-first. Zero joins, zero row shuffles — audio bytes never
    // leave the decode partition; the oracle recomputes the chirp
    // samples analytically.
    QueryDef.sql("m12_audio_gate",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 500)
        val gate = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val samples = decodeWavSamples(toneWavBytes(id % 97))
            var nClip = 0; var nQuiet = 0
            var k = 0
            while (k < samples.length) {
              val a = math.abs(samples(k).toInt)
              if (a >= 30000) nClip += 1
              if (a < 2000) nQuiet += 1
              k += 1
            }
            Row(id, samples.length, nClip, nQuiet)
          }
        }
        s.createDataFrame(gate, audioGateSchema)
          .withColumn("clip_ppm",
            expr("CAST(n_clip AS BIGINT) * 1000000 div n_samples"))
          .withColumn("quiet_ppm",
            expr("CAST(n_quiet AS BIGINT) * 1000000 div n_samples"))
          .withColumn("verdict",
            when(col("n_clip") * 10 > col("n_samples"), "clipped")
              .when(col("n_quiet") * 10 > col("n_samples"), "silent")
              .otherwise("ok"))
          .orderBy(col("doc_id"))
      },
      """WITH b AS (
        |  SELECT doc_id, doc_id % 97 AS aid, 64 + (doc_id % 97) % 191 AS n
        |  FROM documents WHERE doc_id < 500),
        |v AS (
        |  SELECT doc_id, n, list_transform(range(0, n),
        |    k -> (k * k * (17 + aid) + k * 29 + aid * 131) % 65536 - 32768) AS vs
        |  FROM b),
        |c AS (
        |  SELECT doc_id, n,
        |    len(list_filter(vs, x -> abs(x) >= 30000)) AS n_clip,
        |    len(list_filter(vs, x -> abs(x) < 2000)) AS n_quiet
        |  FROM v)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_samples,
        |  CAST(n_clip AS INTEGER) AS n_clip,
        |  CAST(n_quiet AS INTEGER) AS n_quiet,
        |  CAST(n_clip AS BIGINT) * 1000000 // n AS clip_ppm,
        |  CAST(n_quiet AS BIGINT) * 1000000 // n AS quiet_ppm,
        |  CASE WHEN n_clip * 10 > n THEN 'clipped'
        |       WHEN n_quiet * 10 > n THEN 'silent'
        |       ELSE 'ok' END AS verdict
        |FROM c
        |ORDER BY doc_id""".stripMargin),

    // -- video duration / integrity gate --------------------------------
    // The clip-corpus first pass in front of m09's fingerprint dedup:
    // frame count and duration from the REAL container walk — length
    // prefixes only, every frame seek-skipped, NOTHING decoded (strictly
    // cheaper than m09's every-2nd-frame decode), plus an integrity
    // verdict (the walk must land exactly on the buffer end — a
    // truncated upload fails here, not three stages later). Nominal
    // 2 fps → duration_ms = 500·n_frames; gates are integer compares.
    // 100 TB shape: video bytes never leave the walk partition, zero
    // joins, zero row shuffles (PlanSpec); the oracle recomputes the
    // frame count analytically and the intact contract emits literal
    // TRUE (the q34 move).
    QueryDef.sql("m13_video_length_gate",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val walked = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val b = framesBytes(id % 60)
            val bb = java.nio.ByteBuffer.wrap(b)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nf = bb.getInt
            var f = 0
            while (f < nf) {
              val len = bb.getInt
              bb.position(bb.position() + len) // seek only — never decode
              f += 1
            }
            Row(id, nf, bb.remaining() == 0)
          }
        }
        s.createDataFrame(walked, StructType(Seq(
            StructField("doc_id", LongType, nullable = false),
            StructField("n_frames", IntegerType, nullable = false),
            StructField("intact", BooleanType, nullable = false))))
          .withColumn("duration_ms", col("n_frames") * 500)
          .withColumn("reason",
            when(!col("intact"), "corrupt")
              .when(col("n_frames") < 3, "too_short")
              .when(col("n_frames") > 5, "too_long")
              .otherwise("ok"))
          .withColumn("keep", col("reason") === "ok")
          .orderBy(col("doc_id"))
      },
      """WITH b AS (
        |  SELECT doc_id, 2 + (doc_id % 60) % 5 AS nf
        |  FROM documents WHERE doc_id < 1000),
        |v AS (
        |  SELECT doc_id, nf, TRUE AS intact, nf * 500 AS duration_ms,
        |    CASE WHEN nf < 3 THEN 'too_short'
        |         WHEN nf > 5 THEN 'too_long'
        |         ELSE 'ok' END AS reason
        |  FROM b)
        |SELECT doc_id, CAST(nf AS INTEGER) AS n_frames, intact,
        |  CAST(duration_ms AS INTEGER) AS duration_ms, reason,
        |  reason = 'ok' AS keep
        |FROM v
        |ORDER BY doc_id""".stripMargin),

    // -- aspect-ratio bucketing for batched image training -------------
    // Vision trainers batch same-aspect images together (variable-aspect
    // batches waste pixels on padding): classify each image into
    // tall / square / wide by integer cross-multiplication (w·4 > h·5
    // ⟺ w/h > 1.25 — no FP ratio, no cross-engine division), then per
    // bucket report the population, the dim envelope, and how many
    // 32-image batches the bucket fills (ceil by integer arithmetic).
    // Scale shape: headers decode in mapPartitions (image bytes never
    // shuffle — the m03 contract), only (id, w, h) rows reach the
    // 3-row bucket agg.
    QueryDef.sql("m14_aspect_buckets",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val dims = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (w, h, _, _, _, _, _) = decodePpm(ppmBytes(id % 40))
            Row(id, w, h)
          }
        }
        s.createDataFrame(dims, StructType(Seq(
            StructField("doc_id", LongType, nullable = false),
            StructField("width", IntegerType, nullable = false),
            StructField("height", IntegerType, nullable = false))))
          .withColumn("bucket",
            when(col("width") * 4 > col("height") * 5, "wide")
              .when(col("height") * 4 > col("width") * 5, "tall")
              .otherwise("square"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_images"),
            min(col("width")).as("min_w"), max(col("width")).as("max_w"),
            min(col("height")).as("min_h"), max(col("height")).as("max_h"))
          .withColumn("n_batches", expr("(n_images + 31) div 32"))
          .orderBy(col("bucket"))
      },
      """WITH b AS (
        |  SELECT doc_id,
        |    4 + (doc_id % 40) % 13 AS w, 4 + ((doc_id % 40) * 3) % 11 AS h
        |  FROM documents WHERE doc_id < 1000),
        |v AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN w * 4 > h * 5 THEN 'wide'
        |         WHEN h * 4 > w * 5 THEN 'tall'
        |         ELSE 'square' END AS bucket
        |  FROM b)
        |SELECT bucket, COUNT(*) AS n_images,
        |  CAST(MIN(w) AS INTEGER) AS min_w, CAST(MAX(w) AS INTEGER) AS max_w,
        |  CAST(MIN(h) AS INTEGER) AS min_h, CAST(MAX(h) AS INTEGER) AS max_h,
        |  CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches
        |FROM v
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin),

    // -- video scene-cut profile ---------------------------------------
    // The shot-boundary read a video curation pass runs before clip
    // extraction: per container, how many sampled-frame transitions
    // jump more than half the dHash bits (a hard cut), and the largest
    // jump seen. Reuses the m09 machinery — length-prefix walk with
    // non-sampled frames seek-skipped, per-frame 56-bit dHash — but
    // compares CONSECUTIVE sampled hashes by Hamming distance instead
    // of chaining them into one print. Decode and the cut fold stay in
    // the partition that holds the bytes (zero shuffles, m10's shape);
    // only (doc_id, 3 ints) rows flow on. The oracle re-derives every
    // frame hash analytically from the generation recipe and pairs
    // fi with fi+2 — integer-only end-to-end.
    QueryDef.sql("m15_scene_cuts",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val cuts = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (ns, nc, mh) = sceneCutStats(framesBytes(id % 60), 2, 28)
            Row(id, ns, nc, mh)
          }
        }
        s.createDataFrame(cuts, StructType(Seq(
            StructField("doc_id", LongType, nullable = false),
            StructField("n_sampled", IntegerType, nullable = false),
            StructField("n_cuts", IntegerType, nullable = false),
            StructField("max_hamming", IntegerType, nullable = false))))
          .orderBy(col("doc_id"))
      }, {
      // frame fi of group clip gid is ppmBytes(gid*7 + fi); sampled
      // frames are fi % 2 == 0; dHash recipe shared with the m09 oracle
      def oGray(sx: String, sy: String): String =
        s"""((fid*31 + (3*(($sy)*w+($sx)))*7) % 256
           | + (fid*31 + (3*(($sy)*w+($sx))+1)*7) % 256
           | + (fid*31 + (3*(($sy)*w+($sx))+2)*7) % 256)""".stripMargin
      val sy = "((j // 7) * h) // 8"
      val sx0 = "((j % 7) * w) // 8"
      val sx1 = "(((j % 7) + 1) * w) // 8"
      s"""WITH b AS (
         |  SELECT doc_id, doc_id % 60 AS gid, 2 + (doc_id % 60) % 5 AS nf
         |  FROM documents WHERE doc_id < 1000),
         |f AS (
         |  SELECT doc_id, gid, nf, unnest(range(0, nf)) AS fi FROM b),
         |d AS (
         |  SELECT doc_id, nf, fi, gid*7+fi AS fid,
         |    4 + (gid*7+fi) % 13 AS w, 4 + ((gid*7+fi)*3) % 11 AS h
         |  FROM f WHERE fi % 2 = 0),
         |hsh AS (
         |  SELECT doc_id, fi,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
         |      CASE WHEN ${oGray(sx1, sy)} > ${oGray(sx0, sy)}
         |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
         |      (acc, bit) -> acc + bit) AS dhash
         |  FROM d),
         |ns AS (SELECT doc_id, COUNT(*) AS n_sampled FROM hsh GROUP BY 1),
         |tr AS (
         |  SELECT a.doc_id,
         |    CAST(bit_count(CAST(xor(a.dhash, b.dhash) AS BIGINT)) AS INTEGER) AS hd
         |  FROM hsh a JOIN hsh b ON a.doc_id = b.doc_id AND b.fi = a.fi + 2),
         |agg AS (
         |  SELECT doc_id, SUM(CASE WHEN hd > 28 THEN 1 ELSE 0 END) AS n_cuts,
         |    MAX(hd) AS max_hamming
         |  FROM tr GROUP BY 1)
         |SELECT ns.doc_id, CAST(n_sampled AS INTEGER) AS n_sampled,
         |  CAST(COALESCE(n_cuts, 0) AS INTEGER) AS n_cuts,
         |  CAST(COALESCE(max_hamming, 0) AS INTEGER) AS max_hamming
         |FROM ns LEFT JOIN agg ON ns.doc_id = agg.doc_id
         |ORDER BY ns.doc_id""".stripMargin
      }),

    // -- per-source channel normalization constants ---------------------
    // The mean/std-per-channel sheet a vision trainer bakes into its
    // input transform (the ImageNet-mean move, computed on YOUR
    // corpus, per source — a source whose constants sit far off the
    // pool is mis-exposed or mis-decoded). Exactness recipe: each
    // image REALLY decodes (the m03 P6 parse) to integer channel sums
    // and squared sums; per-source totals are BIGINT adds; means are
    // ratios of exact integers and stds come from the integer variance
    // numerator n·Σx²−(Σx)² (one sqrt on an exactly-agreed double —
    // correctly rounded in both engines). 100 TB shape: decode happens
    // where the bytes sit (mapPartitions), only 7 BIGINTs per image
    // reach the source rollup's map-side partials — the constants cost
    // one scan and a source-count-row shuffle.
    QueryDef.sql("m16_channel_norm",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id"), col("source")).filter(col("doc_id") < 500)
        val sums = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (n, rs, gs, bs, r2, g2, b2) = ppmChannelSums(ppmBytes(id))
            Row(id, r.getString(1), n, rs, gs, bs, r2, g2, b2)
          }
        }
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("source", StringType, nullable = false),
          StructField("n", LongType, nullable = false),
          StructField("rs", LongType, nullable = false),
          StructField("gs", LongType, nullable = false),
          StructField("bs", LongType, nullable = false),
          StructField("r2", LongType, nullable = false),
          StructField("g2", LongType, nullable = false),
          StructField("b2", LongType, nullable = false)))
        def std(sq: String, sm: String) =
          sqrt((col("n_px") * col(sq) - col(sm) * col(sm)).cast("double")) /
            col("n_px")
        s.createDataFrame(sums, schema)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_images"), sum(col("n")).as("n_px"),
            sum(col("rs")).as("rs"), sum(col("gs")).as("gs"),
            sum(col("bs")).as("bs"), sum(col("r2")).as("r2"),
            sum(col("g2")).as("g2"), sum(col("b2")).as("b2"))
          .select(col("source"), col("n_images"), col("n_px"),
            (col("rs").cast("double") / col("n_px")).as("mean_r"),
            (col("gs").cast("double") / col("n_px")).as("mean_g"),
            (col("bs").cast("double") / col("n_px")).as("mean_b"),
            std("r2", "rs").as("std_r"),
            std("g2", "gs").as("std_g"),
            std("b2", "bs").as("std_b"))
          .orderBy(col("source"))
      },
      """WITH b AS (
        |  SELECT doc_id, source, 4 + doc_id % 13 AS w, 4 + (doc_id * 3) % 11 AS h
        |  FROM documents WHERE doc_id < 500),
        |v AS (
        |  SELECT doc_id, source, w * h AS n,
        |    list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p) * 7) % 256) AS rv,
        |    list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p + 1) * 7) % 256) AS gv,
        |    list_transform(range(0, w * h),
        |      p -> (doc_id * 31 + (3 * p + 2) * 7) % 256) AS bv
        |  FROM b),
        |s AS (
        |  SELECT source, n,
        |    list_reduce([CAST(0 AS BIGINT)] || rv, (a, x) -> a + x) AS rs,
        |    list_reduce([CAST(0 AS BIGINT)] || gv, (a, x) -> a + x) AS gs,
        |    list_reduce([CAST(0 AS BIGINT)] || bv, (a, x) -> a + x) AS bs,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(rv, x -> x * x),
        |      (a, x) -> a + x) AS r2,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(gv, x -> x * x),
        |      (a, x) -> a + x) AS g2,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(bv, x -> x * x),
        |      (a, x) -> a + x) AS b2
        |  FROM v),
        |a AS (
        |  SELECT source, COUNT(*) AS n_images, CAST(SUM(n) AS BIGINT) AS n_px,
        |    CAST(SUM(rs) AS BIGINT) AS rs, CAST(SUM(gs) AS BIGINT) AS gs,
        |    CAST(SUM(bs) AS BIGINT) AS bs, CAST(SUM(r2) AS BIGINT) AS r2,
        |    CAST(SUM(g2) AS BIGINT) AS g2, CAST(SUM(b2) AS BIGINT) AS b2
        |  FROM s GROUP BY 1)
        |SELECT source, n_images, n_px,
        |  CAST(rs AS DOUBLE) / n_px AS mean_r,
        |  CAST(gs AS DOUBLE) / n_px AS mean_g,
        |  CAST(bs AS DOUBLE) / n_px AS mean_b,
        |  sqrt(CAST(n_px * r2 - rs * rs AS DOUBLE)) / n_px AS std_r,
        |  sqrt(CAST(n_px * g2 - gs * gs AS DOUBLE)) / n_px AS std_g,
        |  sqrt(CAST(n_px * b2 - bs * bs AS DOUBLE)) / n_px AS std_b
        |FROM a ORDER BY source""".stripMargin),

    // -- corrupt-image ingest audit ---------------------------------------
    // The gate an ingest tier runs BEFORE paying decode cost: validate
    // magic, header grammar, and raster payload length per image, and
    // report per source how much of the feed is unusable (a source
    // whose uploads truncate mid-transfer shows up here, not as a
    // decoder crash 3 stages later). The validator ([[validatePpm]])
    // REALLY parses bytes; faults are injected deterministically at
    // the byte level (doc_id % 31 → magic flipped, else % 23 → 5-byte
    // truncation) so the oracle can assert the verdict schedule
    // analytically — the m06 contract-oracle pattern. 100 TB shape:
    // validation runs where the bytes sit (mapPartitions), bytes never
    // leave the partition, only (id, source, verdict) reaches the
    // bounded source rollup.
    QueryDef.sql("m17_corrupt_audit",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id"), col("source")).filter(col("doc_id") < 500)
        val verdicts = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            Row(id, r.getString(1), validatePpm(faultedPpmBytes(id)))
          }
        }
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("source", StringType, nullable = false),
          StructField("verdict", StringType, nullable = false)))
        s.createDataFrame(verdicts, schema)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_images"),
            sum(when(col("verdict") === "ok", 1L).otherwise(0L)).as("n_ok"),
            sum(when(col("verdict") === "bad_magic", 1L).otherwise(0L))
              .as("n_bad_magic"),
            sum(when(col("verdict") === "truncated", 1L).otherwise(0L))
              .as("n_truncated"))
          .orderBy(col("source"))
      },
      """WITH v AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 31 = 0 THEN 'bad_magic'
        |         WHEN doc_id % 23 = 0 THEN 'truncated'
        |         ELSE 'ok' END AS verdict
        |  FROM documents WHERE doc_id < 500)
        |SELECT source, COUNT(*) AS n_images,
        |  CAST(SUM(CASE WHEN verdict = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |  CAST(SUM(CASE WHEN verdict = 'bad_magic' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bad_magic,
        |  CAST(SUM(CASE WHEN verdict = 'truncated' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated
        |FROM v GROUP BY 1 ORDER BY source""".stripMargin),

    // -- near-dup image pairs: dHash hamming-band blocking ----------------
    // m07 catches byte-level copies (identical dHash); recompressed or
    // lightly-edited images land a few bits away. This is d09's
    // band-blocking move on the IMAGE sketch — with the exact-dedup tier
    // run FIRST: candidates generate over the DISTINCT dHash frame (one
    // row per distinct sketch, min-doc representative), so the pair join
    // scales with distinct content, not copy count. The 56-bit grid hash
    // bands into 4×14-bit keys (16,384 values/band — pigeonhole covers
    // hamming ≤ 3 fully; wider edits are caught when any band survives);
    // verification is exact bit_count. 100 TB shape: decode + dHash in
    // mapPartitions (bytes never shuffle), the distinct-sketch rollup is
    // one 8-byte-key shuffle, bands explode over the DISTINCT frame
    // only, and the band join's keyspace grows with content variety.
    QueryDef.sql("m18_image_band_neardup",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val hashes = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            Row(id, dhashPpm(ppmBytes(id % 40)))
          }
        }
        val df = s.createDataFrame(hashes, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("dhash", LongType, nullable = false))))
        // persist barrier: without it both sides of the self-join re-run
        // the decode RDD and the distinct-sketch rollup (two full decode
        // passes — the p17/s21 lesson)
        val reps = OpUtils.transient(s, s"m18:$d",
          df.groupBy(col("dhash"))
            .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies")))
        val bands = reps.select(col("dhash"), col("rep"), col("n_copies"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("key", expr("shiftright(dhash, band * 14) & 16383"))
        // hamming BEFORE distinct (r10 verdict #1, the d09 rule): the
        // verify bit_count is map-side on the join output, so the
        // distinct's shuffle carries only true near-dups, not every
        // band collision
        bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.rep") < col("b.rep"))
          .select(col("a.rep").as("img_a"), col("b.rep").as("img_b"),
            expr("bit_count(a.dhash ^ b.dhash)").as("hamming"),
            col("a.n_copies").as("copies_a"), col("b.n_copies").as("copies_b"))
          .filter(col("hamming") <= 6)
          .distinct()
          .orderBy(col("img_a"), col("img_b"))
      }, {
      // the m07 analytic dHash contract: gray(x, y) of group image gid
      // from the ppmBytes recipe, bit j set iff right neighbor brighter
      def oGray(sx: String, sy: String): String =
        s"""((gid*31 + (3*(($sy)*w+($sx)))*7) % 256
           | + (gid*31 + (3*(($sy)*w+($sx))+1)*7) % 256
           | + (gid*31 + (3*(($sy)*w+($sx))+2)*7) % 256)""".stripMargin
      val sy = "((j // 7) * h) // 8"
      val sx0 = "((j % 7) * w) // 8"
      val sx1 = "(((j % 7) + 1) * w) // 8"
      s"""WITH b AS (
         |  SELECT doc_id, doc_id % 40 AS gid,
         |    4 + (doc_id % 40) % 13 AS w, 4 + ((doc_id % 40) * 3) % 11 AS h
         |  FROM documents WHERE doc_id < 1000),
         |hsh AS (
         |  SELECT doc_id,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
         |      CASE WHEN ${oGray(sx1, sy)} > ${oGray(sx0, sy)}
         |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
         |      (acc, bit) -> acc + bit) AS dhash
         |  FROM b),
         |reps AS (
         |  SELECT dhash, MIN(doc_id) AS rep, COUNT(*) AS n_copies
         |  FROM hsh GROUP BY 1),
         |k AS (
         |  SELECT dhash, rep, n_copies, unnest(range(0, 4)) AS band FROM reps),
         |kb AS (
         |  SELECT dhash, rep, n_copies, band,
         |    (dhash >> (band * 14)) & 16383 AS key FROM k),
         |pairs AS (
         |  SELECT DISTINCT a.rep AS img_a, b.rep AS img_b,
         |    a.dhash AS ha, b.dhash AS hb,
         |    a.n_copies AS copies_a, b.n_copies AS copies_b
         |  FROM kb a JOIN kb b
         |    ON a.band = b.band AND a.key = b.key AND a.rep < b.rep)
         |SELECT img_a, img_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming,
         |  CAST(copies_a AS BIGINT) AS copies_a, CAST(copies_b AS BIGINT) AS copies_b
         |FROM pairs
         |WHERE bit_count(xor(ha, hb)) <= 6
         |ORDER BY img_a, img_b""".stripMargin
      }),

    // -- near-dup audio pairs: energy-fingerprint hamming bands ----------
    // m18's banding move for the AUDIO modality: m08 groups byte-level
    // re-encodes (identical energy fingerprint); a lightly re-leveled
    // clip flips a bit or two. Same-duration clips (equal n_frames —
    // different length means different content) band the fingerprint
    // into 3×10-bit keys (r13 re-band, r12 verdict: the old 3×8-bit
    // keys had 256 values/band AND ignored fp bits 24+); pigeonhole
    // covers hamming ≤ 2 fully; exact bit_count verifies. HONEST
    // CEILING: the verified sketch is n_frames-1 ≤ 30 bits (clips here
    // are 8..31 frames), and guaranteed recall at hamming ≤ 2 caps the
    // banding at 3 disjoint slices — 10 bits/band is the information-
    // theoretic max for THIS sketch; the composite (duration, band,
    // key) keyspace is ~duration_variety × 1024. The scale path for
    // long-form audio is the d09 120-bit treatment (the bits exist
    // once clips have ≥ 121 frames); for short clips the sketch, not
    // the banding, is the bound. As in m18 the exact tier runs FIRST:
    // candidates generate over the DISTINCT (n_frames, fp) frame
    // behind a persist barrier, so the pair join scales with content
    // variety, not copy count, and decode bytes never shuffle.
    QueryDef.sql("m19_audio_band_neardup",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val prints = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (nf, fp) = energyFingerprint(decodeWavSamples(toneWavBytes(id % 97)))
            Row(id, nf, fp)
          }
        }
        val df = s.createDataFrame(prints, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_frames", IntegerType, nullable = false),
          StructField("fp", LongType, nullable = false))))
        val reps = OpUtils.transient(s, s"m19:$d",
          df.groupBy(col("n_frames"), col("fp"))
            .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies")))
        val bands = reps.select(col("n_frames"), col("fp"), col("rep"),
            col("n_copies"), explode(sequence(lit(0), lit(2))).as("band"))
          .withColumn("key", expr("shiftright(fp, band * 10) & 1023"))
        // hamming BEFORE distinct (r10 verdict #1, the d09 rule)
        bands.as("a").join(bands.as("b"),
            col("a.n_frames") === col("b.n_frames") &&
              col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.rep") < col("b.rep"))
          .select(col("a.rep").as("clip_a"), col("b.rep").as("clip_b"),
            col("a.n_frames").as("n_frames"),
            expr("bit_count(a.fp ^ b.fp)").as("hamming"),
            col("a.n_copies").as("copies_a"), col("b.n_copies").as("copies_b"))
          .filter(col("hamming") <= 2)
          .distinct()
          .orderBy(col("clip_a"), col("clip_b"))
      },
      """WITH b AS (
        |  SELECT doc_id, doc_id % 97 AS aid FROM documents WHERE doc_id < 1000),
        |v AS (
        |  SELECT doc_id, aid, 64 + (aid % 191) AS n FROM b),
        |e AS (
        |  SELECT doc_id, n, list_transform(range(0, n // 8), f ->
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(f*8, (f+1)*8),
        |      k -> CAST((k*k*(17 + aid) + k*29 + aid*131) % 65536 - 32768 AS BIGINT)
        |         * CAST((k*k*(17 + aid) + k*29 + aid*131) % 65536 - 32768 AS BIGINT)),
        |      (a, x) -> a + x)) AS en
        |  FROM v),
        |f AS (
        |  SELECT doc_id, len(en) AS n_frames,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(en)),
        |      i -> CASE WHEN en[i+1] > en[i] THEN (CAST(1 AS BIGINT) << (i-1))
        |           ELSE 0 END),
        |      (a, bit) -> a + bit) AS fp
        |  FROM e),
        |reps AS (
        |  SELECT n_frames, fp, MIN(doc_id) AS rep, COUNT(*) AS n_copies
        |  FROM f GROUP BY 1, 2),
        |k AS (
        |  SELECT n_frames, fp, rep, n_copies, unnest(range(0, 3)) AS band
        |  FROM reps),
        |kb AS (
        |  SELECT n_frames, fp, rep, n_copies, band,
        |    (fp >> (band * 10)) & 1023 AS key FROM k),
        |pairs AS (
        |  SELECT DISTINCT a.rep AS clip_a, b.rep AS clip_b,
        |    a.n_frames AS n_frames, a.fp AS fa, b.fp AS fb,
        |    a.n_copies AS copies_a, b.n_copies AS copies_b
        |  FROM kb a JOIN kb b
        |    ON a.n_frames = b.n_frames AND a.band = b.band AND a.key = b.key
        |      AND a.rep < b.rep)
        |SELECT clip_a, clip_b, CAST(n_frames AS INTEGER) AS n_frames,
        |  CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming,
        |  CAST(copies_a AS BIGINT) AS copies_a, CAST(copies_b AS BIGINT) AS copies_b
        |FROM pairs
        |WHERE bit_count(xor(fa, fb)) <= 2
        |ORDER BY clip_a, clip_b""".stripMargin),

    // -- caption → image referential audit --------------------------------
    // The cross-modal integrity gate (r10 verdict #4): every document is
    // a caption referencing image asset doc_id % 640; the asset registry
    // is m17's image frame (ids < 500, REAL byte-level validatePpm with
    // m17's fault schedule), so a reference can be DANGLING (ref ≥ 500 —
    // the asset was never ingested) or point at a CORRUPT image. Per
    // source: how much of the caption feed is actually trainable.
    // 100 TB shape: the registry side is ABSOLUTELY bounded (id < 500 at
    // any SF — the d11/d24 fixed-eval-side pattern) and broadcasts as a
    // keys+verdict frame; the caption side reaches the join with only
    // (doc_id, source, ref) — no text, no bytes; validation runs where
    // the bytes sit (mapPartitions), as in m17.
    QueryDef.sql("m20_caption_asset_audit",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 500)
        val verdicts = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            Row(id, validatePpm(faultedPpmBytes(id)))
          }
        }
        val assets = s.createDataFrame(verdicts, StructType(Seq(
          StructField("img_id", LongType, nullable = false),
          StructField("verdict", StringType, nullable = false))))
        val caps = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            (col("doc_id") % 640).as("img_ref"))
        // .distinct() is a no-op on the unique-id frame; it marks the
        // broadcast side as aggregation-bounded for the house hint rule
        // (the d11 evalGrams pattern) — ≤500 rows at any SF either way
        caps.join(broadcast(assets.distinct()), col("img_ref") === col("img_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_captions"),
            sum(when(col("verdict").isNull, 1L).otherwise(0L)).as("n_dangling"),
            sum(when(col("verdict").isNotNull && col("verdict") =!= "ok", 1L)
              .otherwise(0L)).as("n_corrupt"),
            sum(when(col("verdict") === "ok", 1L).otherwise(0L)).as("n_ok"))
          .select(col("source"), col("n_captions"), col("n_dangling"),
            col("n_corrupt"), col("n_ok"),
            expr("CAST(CAST(n_ok AS DECIMAL(38,0)) * 1000000 DIV n_captions AS BIGINT)")
              .as("ok_ppm"))
          .orderBy(col("source"))
      },
      """WITH a AS (
        |  SELECT doc_id AS img_id,
        |    CASE WHEN doc_id % 31 = 0 THEN 'bad_magic'
        |         WHEN doc_id % 23 = 0 THEN 'truncated'
        |         ELSE 'ok' END AS verdict
        |  FROM documents WHERE doc_id < 500),
        |c AS (SELECT doc_id, source, doc_id % 640 AS img_ref FROM documents)
        |SELECT source, COUNT(*) AS n_captions,
        |  CAST(SUM(CASE WHEN a.img_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dangling,
        |  CAST(SUM(CASE WHEN a.verdict IS NOT NULL AND a.verdict <> 'ok'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN a.verdict = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |  CAST(CAST(SUM(CASE WHEN a.verdict = 'ok' THEN 1 ELSE 0 END) AS HUGEINT)
        |    * 1000000 // COUNT(*) AS BIGINT) AS ok_ppm
        |FROM c LEFT JOIN a ON c.img_ref = a.img_id
        |GROUP BY 1 ORDER BY source""".stripMargin),

    // -- orphaned image assets (the reverse referential direction) --------
    // m20 finds captions whose image is missing; this finds images no
    // caption references — storage paying for bytes no training example
    // reaches (the d31 backlog pattern, inverted). Assets carry the
    // source of their carrier document; the reference set is the
    // DISTINCT caption refs — ≤ 640 longs at ANY SF (the ref keyspace
    // is absolutely bounded by the % 640 contract), so it broadcasts
    // and the audit costs one caption key-scan + one bounded join. Real
    // byte validation tags how many orphans were corrupt anyway (cold
    // comfort accounting).
    QueryDef.sql("m21_orphan_assets",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id"), col("source")).filter(col("doc_id") < 500)
        val verdicts = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            Row(id, r.getString(1), validatePpm(faultedPpmBytes(id)))
          }
        }
        val assets = s.createDataFrame(verdicts, StructType(Seq(
          StructField("img_id", LongType, nullable = false),
          StructField("source", StringType, nullable = false),
          StructField("verdict", StringType, nullable = false))))
        val refs = Tables.documents(s, d)
          .select((col("doc_id") % 640).as("img_ref")).distinct()
        assets.join(broadcast(refs), col("img_id") === col("img_ref"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_assets"),
            sum(when(col("img_ref").isNull, 1L).otherwise(0L)).as("n_orphans"),
            sum(when(col("img_ref").isNull && col("verdict") === "ok", 1L)
              .otherwise(0L)).as("n_orphans_ok"))
          .select(col("source"), col("n_assets"), col("n_orphans"),
            col("n_orphans_ok"),
            expr("CAST(CAST(n_orphans AS DECIMAL(38,0)) * 1000000 DIV n_assets AS BIGINT)")
              .as("orphan_ppm"))
          .orderBy(col("source"))
      },
      """WITH a AS (
        |  SELECT doc_id AS img_id, source,
        |    CASE WHEN doc_id % 31 = 0 THEN 'bad_magic'
        |         WHEN doc_id % 23 = 0 THEN 'truncated'
        |         ELSE 'ok' END AS verdict
        |  FROM documents WHERE doc_id < 500),
        |r AS (SELECT DISTINCT doc_id % 640 AS img_ref FROM documents)
        |SELECT source, COUNT(*) AS n_assets,
        |  CAST(SUM(CASE WHEN r.img_ref IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphans,
        |  CAST(SUM(CASE WHEN r.img_ref IS NULL AND verdict = 'ok'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans_ok,
        |  CAST(CAST(SUM(CASE WHEN r.img_ref IS NULL THEN 1 ELSE 0 END) AS HUGEINT)
        |    * 1000000 // COUNT(*) AS BIGINT) AS orphan_ppm
        |FROM a LEFT JOIN r ON a.img_id = r.img_ref
        |GROUP BY 1 ORDER BY source""".stripMargin),

    // -- cross-modal near-dup composition: re-caption / asset-swap --------
    // (r11 verdict #4) Caption pairs that are TEXT near-dups (d09's
    // 120-bit 3-GRAM simhash, 4×30-bit bands, hamming ≤ 3 — r12's
    // wide-sketch fix + r14's shingle fix, same as
    // DedupOps.simhashPairs/sketch120) whose referenced
    // images are NOT near-dups (m18's 56-bit dHash, 4×14-bit bands,
    // hamming ≤ 6, over REALLY-decoded asset bytes) — near-identical
    // captions describing genuinely different pictures: the asset-swap /
    // stale-recaption signal a paired-modality curation tier gates on.
    // Contract: doc_id references asset (doc_id % 640) whose stored
    // content group is gid = ref % 40 with m18's ppmBytes recipe.
    // Same-gid pairs are CONSISTENT re-captions (not swaps) and drop;
    // image-near-dup gid pairs drop via an anti-join against the banded
    // image pair set. 100 TB shape: one banded bucket-generate per
    // modality (the r12 d09 move — native hamming_pairs over each band
    // bucket, no join machinery per candidate) — the text side shuffles
    // 16-byte sketches (never text), the image side bands over the
    // DISTINCT asset-content registry (decode in mapPartitions, bytes
    // never shuffle; bounded by content variety, 40 here) whose
    // verified pair set is aggregate-bounded and broadcasts into the
    // anti-join keys-only.
    QueryDef.sql("m22_caption_image_swap",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        // text sketch frame: d09's SHARED production sketch store (r14:
        // 120-bit simhash over 3-gram shingles — the content-level
        // collision fix, see DedupOps.simhashPairs); gid is pure
        // arithmetic on doc_id, so it needs no extra scan or join
        val sh = graft.operators.DedupOps.sketch120(s, d)
        // d09's shared banded bucket-generate (120-bit sketch, 4×30-bit
        // bands, over-cap skew guard, hamming verify in-loop). gid is
        // pure arithmetic on doc_id, so it reattaches to the surviving
        // pairs without a join.
        val textPairs = graft.operators.DedupOps
          .bandedPairs120(sh.select(col("doc_id"), col("sh_hi"), col("sh_lo")), 3)
          .withColumnRenamed("hamming", "text_hamming")
          .withColumn("gid_a", (col("a_id") % 640) % 40)
          .withColumn("gid_b", (col("b_id") % 640) % 40)
        // image sketches over the DISTINCT asset-content registry
        val gids = Tables.documents(s, d)
          .select(((col("doc_id") % 640) % 40).as("gid")).distinct()
        val ih = gids.rdd.mapPartitions { it =>
          it.map { r => val g = r.getLong(0); Row(g, dhashPpm(ppmBytes(g))) }
        }
        val ihDf = s.createDataFrame(ih, StructType(Seq(
          StructField("gid", LongType, nullable = false),
          StructField("dhash", LongType, nullable = false))))
        val ib = ihDf.select(col("gid"), col("dhash"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("key", expr("shiftright(dhash, band * 14) & 16383"))
        val imgPairs = ib.groupBy(col("band"), col("key"))
          .agg(collect_list(struct(col("gid"), col("dhash"))).as("members"))
          .select(graft.functions.GraftFunctions
            .hammingPairs(col("members"), 6).as(Seq("ga", "gb", "img_ham")))
          .select(col("ga"), col("gb"))
          .distinct()
        textPairs
          .filter(col("gid_a") =!= col("gid_b")) // same image = consistent re-caption
          .join(broadcast(imgPairs),
            least(col("gid_a"), col("gid_b")) === col("ga") &&
              greatest(col("gid_a"), col("gid_b")) === col("gb"), "left_anti")
          .orderBy(col("a_id"), col("b_id"))
      }, {
        val oGray = (sx: String, sy: String) =>
          s"""((gid*31 + (3*(($sy)*w+($sx)))*7) % 256
             | + (gid*31 + (3*(($sy)*w+($sx))+1)*7) % 256
             | + (gid*31 + (3*(($sy)*w+($sx))+2)*7) % 256)""".stripMargin
        val sy = "((j // 7) * h) // 8"
        val sx0 = "((j % 7) * w) // 8"
        val sx1 = "(((j % 7) + 1) * w) // 8"
        val fold = (hs: String) =>
          s"""list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 60), j ->
             |      CASE WHEN list_reduce([0] || list_transform($hs, x ->
             |             CASE WHEN ((x >> j) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
             |           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END),
             |      (a, b) -> a + b)""".stripMargin
        s"""WITH g3 AS (
           |  SELECT doc_id, gid, ${OpUtils.oGrams3("ws")} AS gs
           |  FROM (SELECT doc_id, (doc_id % 640) % 40 AS gid,
           |          ${OpUtils.oWords("text")} AS ws FROM documents)),
           |h AS (
           |  SELECT doc_id, gid,
           |    list_transform(gs, w -> ${OpUtils.oMd5Val("w", 15)}) AS hhi,
           |    list_transform(gs, w -> ${OpUtils.oMd5ValAt("w", 16, 15)}) AS hlo
           |  FROM g3),
           |sh AS (
           |  SELECT doc_id, gid,
           |    ${fold("hhi")} AS sh_hi,
           |    ${fold("hlo")} AS sh_lo
           |  FROM h),
           |k AS (SELECT doc_id, gid, sh_hi, sh_lo, unnest(range(0, 4)) AS band FROM sh),
           |kb AS (SELECT doc_id, gid, sh_hi, sh_lo, band,
           |  (CASE WHEN band < 2 THEN sh_hi >> (band * 30)
           |        ELSE sh_lo >> ((band - 2) * 30) END) & 1073741823 AS key FROM k),
           |kf AS (
           |  SELECT doc_id, gid, sh_hi, sh_lo, band, key FROM (
           |    SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bucket_n FROM kb)
           |  WHERE bucket_n <= ${graft.operators.DedupOps.MaxBandBucket}),
           |tp AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |    bit_count(xor(a.sh_hi, b.sh_hi)) + bit_count(xor(a.sh_lo, b.sh_lo))
           |      AS text_hamming,
           |    a.gid AS gid_a, b.gid AS gid_b
           |  FROM kf a JOIN kf b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.sh_hi, b.sh_hi))
           |      + bit_count(xor(a.sh_lo, b.sh_lo)) <= 3),
           |gdim AS (
           |  SELECT gid, 4 + gid % 13 AS w, 4 + (gid * 3) % 11 AS h
           |  FROM (SELECT DISTINCT (doc_id % 640) % 40 AS gid FROM documents)),
           |idh AS (
           |  SELECT gid,
           |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
           |      CASE WHEN ${oGray(sx1, sy)} > ${oGray(sx0, sy)}
           |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
           |      (acc, bit) -> acc + bit) AS dhash
           |  FROM gdim),
           |ik AS (SELECT gid, dhash, unnest(range(0, 4)) AS band FROM idh),
           |ikb AS (SELECT gid, dhash, band,
           |  (dhash >> (band * 14)) & 16383 AS key FROM ik),
           |ipair AS (
           |  SELECT DISTINCT x.gid AS ga, y.gid AS gb FROM ikb x JOIN ikb y
           |    ON x.band = y.band AND x.key = y.key AND x.gid < y.gid
           |       AND bit_count(xor(x.dhash, y.dhash)) <= 6)
           |SELECT a_id, b_id, CAST(text_hamming AS INTEGER) AS text_hamming,
           |  gid_a, gid_b
           |FROM tp
           |WHERE gid_a <> gid_b
           |  AND NOT EXISTS (SELECT 1 FROM ipair
           |    WHERE ipair.ga = least(gid_a, gid_b)
           |      AND ipair.gb = greatest(gid_a, gid_b))
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // -- caption transfer across near-dup assets ---------------------------
    // m22's complement: when the IMAGES are near-dups (m18's banded
    // dHash over the bounded content registry), their caption pools are
    // candidates for consolidation onto the kept asset — per near-dup
    // asset pair, how many distinct captions each side carries and how
    // many are ALREADY shared verbatim (16-byte text hash), i.e. how
    // much of the merge is free. transfer_ppm = shared / min(side) in
    // exact integer ppm. 100 TB shape: the image tier runs entirely on
    // the content registry (decode in mapPartitions, bounded by
    // variety, pairs via the native hamming_pairs bucket-generate); the
    // caption side shuffles ONE distinct (gid, hash) frame — text never
    // shuffles — and the pair/caption-count frames are aggregate-
    // bounded (≤ registry² pairs) broadcasts.
    QueryDef.sql("m23_caption_transfer",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val gids = Tables.documents(s, d)
          .select(((col("doc_id") % 640) % 40).as("gid")).distinct()
        val ih = gids.rdd.mapPartitions { it =>
          it.map { r => val g = r.getLong(0); Row(g, dhashPpm(ppmBytes(g))) }
        }
        val ihDf = s.createDataFrame(ih, StructType(Seq(
          StructField("gid", LongType, nullable = false),
          StructField("dhash", LongType, nullable = false))))
        val ib = ihDf.select(col("gid"), col("dhash"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("key", expr("shiftright(dhash, band * 14) & 16383"))
        val imgPairs = ib.groupBy(col("band"), col("key"))
          .agg(collect_list(struct(col("gid"), col("dhash"))).as("members"))
          .select(graft.functions.GraftFunctions
            .hammingPairs(col("members"), 6).as(Seq("ga", "gb", "img_ham")))
          .distinct()
        // one distinct caption-content frame per gid; 16-byte hashes
        // shuffle, captions don't
        val dh = OpUtils.transient(s, s"m23:$d",
          Tables.documents(s, d)
            .select(((col("doc_id") % 640) % 40).as("gid"),
              unhex(md5(trim(col("text")))).as("h"))
            .distinct())
        val caps = dh.groupBy(col("gid")).agg(count(lit(1)).as("n_caps"))
        val shared = dh.as("x").join(dh.as("y"),
            col("x.h") === col("y.h") && col("x.gid") < col("y.gid"))
          .groupBy(col("x.gid").as("sga"), col("y.gid").as("sgb"))
          .agg(count(lit(1)).as("shared_captions"))
        imgPairs
          .join(broadcast(caps.as("ca")), col("ga") === col("ca.gid"))
          .join(broadcast(caps.as("cb")), col("gb") === col("cb.gid"))
          .join(broadcast(shared),
            col("ga") === col("sga") && col("gb") === col("sgb"), "left")
          .select(col("ga"), col("gb"), col("img_ham"),
            col("ca.n_caps").as("captions_a"), col("cb.n_caps").as("captions_b"),
            coalesce(col("shared_captions"), lit(0L)).as("shared_captions"))
          .withColumn("transfer_ppm",
            expr("CAST(CAST(shared_captions AS DECIMAL(38,0)) * 1000000 " +
              "DIV least(captions_a, captions_b) AS BIGINT)"))
          .orderBy(col("ga"), col("gb"))
      }, {
        val oGray = (sx: String, sy: String) =>
          s"""((gid*31 + (3*(($sy)*w+($sx)))*7) % 256
             | + (gid*31 + (3*(($sy)*w+($sx))+1)*7) % 256
             | + (gid*31 + (3*(($sy)*w+($sx))+2)*7) % 256)""".stripMargin
        val sy = "((j // 7) * h) // 8"
        val sx0 = "((j % 7) * w) // 8"
        val sx1 = "(((j % 7) + 1) * w) // 8"
        s"""WITH gdim AS (
           |  SELECT gid, 4 + gid % 13 AS w, 4 + (gid * 3) % 11 AS h
           |  FROM (SELECT DISTINCT (doc_id % 640) % 40 AS gid FROM documents)),
           |idh AS (
           |  SELECT gid,
           |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
           |      CASE WHEN ${oGray(sx1, sy)} > ${oGray(sx0, sy)}
           |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
           |      (acc, bit) -> acc + bit) AS dhash
           |  FROM gdim),
           |ik AS (SELECT gid, dhash, unnest(range(0, 4)) AS band FROM idh),
           |ikb AS (SELECT gid, dhash, band,
           |  (dhash >> (band * 14)) & 16383 AS key FROM ik),
           |ipair AS (
           |  SELECT DISTINCT x.gid AS ga, y.gid AS gb,
           |    bit_count(xor(x.dhash, y.dhash)) AS img_ham
           |  FROM ikb x JOIN ikb y
           |    ON x.band = y.band AND x.key = y.key AND x.gid < y.gid
           |       AND bit_count(xor(x.dhash, y.dhash)) <= 6),
           |dh AS (
           |  SELECT DISTINCT (doc_id % 640) % 40 AS gid,
           |    unhex(md5(trim(text))) AS h
           |  FROM documents),
           |caps AS (SELECT gid, COUNT(*) AS n_caps FROM dh GROUP BY gid),
           |sh AS (
           |  SELECT x.gid AS ga, y.gid AS gb, COUNT(*) AS shared
           |  FROM dh x JOIN dh y ON x.h = y.h AND x.gid < y.gid
           |  GROUP BY 1, 2)
           |SELECT p.ga, p.gb, CAST(p.img_ham AS INTEGER) AS img_ham,
           |  ca.n_caps AS captions_a, cb.n_caps AS captions_b,
           |  CAST(COALESCE(sh.shared, 0) AS BIGINT) AS shared_captions,
           |  CAST(CAST(COALESCE(sh.shared, 0) AS HUGEINT) * 1000000
           |    // least(ca.n_caps, cb.n_caps) AS BIGINT) AS transfer_ppm
           |FROM ipair p
           |JOIN caps ca ON ca.gid = p.ga
           |JOIN caps cb ON cb.gid = p.gb
           |LEFT JOIN sh ON sh.ga = p.ga AND sh.gb = p.gb
           |ORDER BY p.ga, p.gb""".stripMargin
      }),

    // -- near-dup video pairs: temporally-pooled dHash hamming bands ------
    // Completes the near-dup banding trio (m18 image, m19 audio): m09
    // groups byte-level re-encodes by the order-sensitive polynomial
    // chain, which reprints ENTIRELY when one frame drifts — a lightly
    // re-encoded clip needs a sketch that moves a few BITS instead. The
    // temporally-pooled dHash ([[videoPooledHash]]: majority vote of
    // each dHash bit across the sampled frames) has exactly that
    // property, so m18's layout applies: exact tier FIRST (candidates
    // generate over the DISTINCT (n_frames, vhash) frame behind a
    // persist barrier — pair work scales with content variety, not copy
    // count), same-duration blocking, 4×14-bit bands (pigeonhole covers
    // hamming ≤ 3 fully; wider edits caught when any band survives),
    // exact summed bit_count verify at ≤ 6 riding the join condition
    // (pre-distinct, the d09 rule). 100 TB shape: decode + container
    // walk in mapPartitions (video bytes never shuffle); the shuffle
    // carries (id, n_frames, 8-byte vhash) only; the frame is bounded
    // by content variety.
    QueryDef.sql("m24_video_band_neardup",
      (s, d) => {
        val ids = Tables.documents(s, d)
          .select(col("doc_id")).filter(col("doc_id") < 1000)
        val prints = ids.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val (nf, vh) = videoPooledHash(framesBytes(id % 60), 2)
            Row(id, nf, vh)
          }
        }
        val df = s.createDataFrame(prints, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_frames", IntegerType, nullable = false),
          StructField("vhash", LongType, nullable = false))))
        val reps = OpUtils.transient(s, s"m24:$d",
          df.groupBy(col("n_frames"), col("vhash"))
            .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies")))
        val bands = reps.select(col("n_frames"), col("vhash"), col("rep"),
            col("n_copies"), explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("key", expr("shiftright(vhash, band * 14) & 16383"))
        bands.as("a").join(bands.as("b"),
            col("a.n_frames") === col("b.n_frames") &&
              col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.rep") < col("b.rep"))
          .select(col("a.rep").as("vid_a"), col("b.rep").as("vid_b"),
            col("a.n_frames").as("n_frames"),
            expr("bit_count(a.vhash ^ b.vhash)").as("hamming"),
            col("a.n_copies").as("copies_a"), col("b.n_copies").as("copies_b"))
          .filter(col("hamming") <= 6)
          .distinct()
          .orderBy(col("vid_a"), col("vid_b"))
      }, {
      // frame fi of clip gid is ppmBytes(gid*7 + fi) (m09's contract);
      // sampled frames are fi % 2 == 0; per-frame dHash mirrors m07
      def oGray(sx: String, sy: String): String =
        s"""((fid*31 + (3*(($sy)*w+($sx)))*7) % 256
           | + (fid*31 + (3*(($sy)*w+($sx))+1)*7) % 256
           | + (fid*31 + (3*(($sy)*w+($sx))+2)*7) % 256)""".stripMargin
      val sy = "((j // 7) * h) // 8"
      val sx0 = "((j % 7) * w) // 8"
      val sx1 = "(((j % 7) + 1) * w) // 8"
      s"""WITH b AS (
         |  SELECT doc_id, doc_id % 60 AS gid, 2 + (doc_id % 60) % 5 AS nf
         |  FROM documents WHERE doc_id < 1000),
         |f AS (
         |  SELECT doc_id, gid, nf, unnest(range(0, nf)) AS fi FROM b),
         |d AS (
         |  SELECT doc_id, nf, fi, gid*7+fi AS fid,
         |    4 + (gid*7+fi) % 13 AS w, 4 + ((gid*7+fi)*3) % 11 AS h
         |  FROM f WHERE fi % 2 = 0),
         |hsh AS (
         |  SELECT doc_id, nf, fi,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
         |      CASE WHEN ${oGray(sx1, sy)} > ${oGray(sx0, sy)}
         |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END),
         |      (acc, bit) -> acc + bit) AS dhash
         |  FROM d),
         |hl AS (SELECT doc_id, nf, list(dhash ORDER BY fi) AS hs
         |       FROM hsh GROUP BY doc_id, nf),
         |pool AS (
         |  SELECT doc_id, nf,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 56), j ->
         |      CASE WHEN list_reduce([0] || list_transform(hs, x ->
         |             CASE WHEN ((x >> j) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0
         |           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END),
         |      (a, b) -> a + b) AS vhash
         |  FROM hl),
         |reps AS (
         |  SELECT nf, vhash, MIN(doc_id) AS rep, COUNT(*) AS n_copies
         |  FROM pool GROUP BY 1, 2),
         |k AS (
         |  SELECT nf, vhash, rep, n_copies, unnest(range(0, 4)) AS band
         |  FROM reps),
         |kb AS (
         |  SELECT nf, vhash, rep, n_copies, band,
         |    (vhash >> (band * 14)) & 16383 AS key FROM k),
         |pairs AS (
         |  SELECT DISTINCT a.rep AS vid_a, b.rep AS vid_b,
         |    a.nf AS n_frames, a.vhash AS va, b.vhash AS vb,
         |    a.n_copies AS copies_a, b.n_copies AS copies_b
         |  FROM kb a JOIN kb b
         |    ON a.nf = b.nf AND a.band = b.band AND a.key = b.key
         |      AND a.rep < b.rep)
         |SELECT vid_a, vid_b, CAST(n_frames AS INTEGER) AS n_frames,
         |  CAST(bit_count(xor(va, vb)) AS INTEGER) AS hamming,
         |  CAST(copies_a AS BIGINT) AS copies_a, CAST(copies_b AS BIGINT) AS copies_b
         |FROM pairs
         |WHERE bit_count(xor(va, vb)) <= 6
         |ORDER BY vid_a, vid_b""".stripMargin
      })
  )
}
