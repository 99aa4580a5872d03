package graft.arrow

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.lang.management.ManagementFactory
import java.nio.channels.Channels

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.{Failure, Random, Success, Try}

import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageChannelReader
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[IpcFrames]] against arrow-java's own message reader on random
  * streams, plus fuzzed truncation and corruption: malformed input must
  * fail loudly within 5 s, without allocating a corrupt length, and
  * never come back as a shorter frame list. */
class IpcFramesSpec extends AnyFunSuite {
  private def check(p: Prop, n: Int): Unit = {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20261017L))
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ticker", StringType),
    StructField("price", DoubleType)))
  private val tickers = Array("AAPL", "AMZN", "GOOG", "META", "MSFT")

  /** How one random stream is written: dict is "none", "one" (one
    * dictionary per stream) or "delta" (growing dictionaries). */
  private case class Shape(rows: Int, batchSize: Int, codec: Option[String], dict: String, seed: Long)

  private def shapes(maxRows: Int, batchSizes: Seq[Int]): Gen[Shape] = for {
    rows <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.choose(1, maxRows))
    batch <- Gen.oneOf(batchSizes)
    codec <- Gen.oneOf(None, Some("lz4"), Some("zstd"))
    dict <- Gen.oneOf("none", "one", "delta")
    seed <- Gen.long
  } yield Shape(rows, batch, codec, dict, seed)

  private def stream(s: Shape): Array[Byte] = {
    val rnd = new Random(s.seed)
    val rows = Iterator.tabulate(s.rows)(i => new GenericInternalRow(Array[Any](
      i.toLong, UTF8String.fromString(tickers(rnd.nextInt(tickers.length))),
      if (rnd.nextInt(8) == 0) null else rnd.nextDouble())))
    val out = new ByteArrayOutputStream()
    if (s.dict == "delta") ArrowBridge.writeDeltaDict(schema, rows, out, Seq("ticker"), s.batchSize)
    else ArrowBridge.write(schema, rows, out, ArrowBridge.WriteOptions(s.batchSize, s.codec,
      dictColumns = if (s.dict == "one") Map("ticker" -> tickers) else Map.empty))
    out.toByteArray
  }

  private type Row = (Long, Byte, Int, Long) // offset, header type, metaLen, body length

  private def rows(frames: Seq[IpcFrames.Frame]): Vector[Row] =
    frames.map(f => (f.offset, f.headerType, f.metaLen, f.bodyLength)).toVector

  /** What arrow-java's MessageChannelReader reads: metaLen is what the
    * channel consumed beyond the prefix and the body. */
  private def reference(bytes: Array[Byte]): Vector[Row] = {
    val alloc = ArrowBridge.newAllocator("ipc-frames-ref")
    val ch = new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes)))
    val rdr = new MessageChannelReader(ch, alloc)
    try {
      val out = Vector.newBuilder[Row]
      var off = ch.bytesRead()
      var r = rdr.readNext()
      while (r != null) {
        val bodyLen = r.getMessage.bodyLength()
        Option(r.getBodyBuffer).foreach(_.close())
        out += ((off, r.getMessage.headerType(), (ch.bytesRead() - off - 8 - bodyLen).toInt, bodyLen))
        off = ch.bytesRead()
        r = rdr.readNext()
      }
      out.result()
    } finally { rdr.close(); alloc.close() }
  }

  private def within5s[T](f: => T): T = Await.result(Future(f), 5.seconds)

  /** Reads every frame and body of `bytes`: the result, and the bytes
    * this thread allocated meanwhile. */
  private def readAll(bytes: Array[Byte]): (Try[Vector[Row]], Long) = {
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val res = Try {
      val frames = IpcFrames.reader(new ByteArrayInputStream(bytes), bytes.length)
      rows(frames.map { f => frames.body(); f }.toVector)
    }
    (res, mx.getCurrentThreadAllocatedBytes - before)
  }

  /** Whether reading `bytes` fails as malformed; either way it must not
    * allocate much beyond the bytes themselves. */
  private def fails(bytes: Array[Byte]): Boolean = {
    val (res, allocated) = readAll(bytes)
    assert(allocated < 2L * bytes.length + (1 << 20), s"allocated $allocated bytes")
    res match {
      case Failure(_: IpcFrames.Malformed) => true
      case Failure(e) => throw e
      case Success(_) => false
    }
  }

  test("frames equal arrow-java's MessageChannelReader on random streams") {
    check(Prop.forAll(shapes(2000, Seq(1, 7, 100, 512, 4096))) { s =>
      val bytes = stream(s)
      val want = reference(bytes)
      val frames = IpcFrames.reader(new ByteArrayInputStream(bytes), bytes.length)
      val got = frames.map { f =>
        // framed header and body are the stream's own bytes
        val at = f.offset.toInt
        assert(f.framedHeader.toSeq === bytes.slice(at, at + 8 + f.metaLen).toSeq)
        assert(IpcFrames.bodyLength(f.framedHeader) === f.bodyLength)
        val body = frames.body()
        assert(body.toSeq === bytes.slice(at + 8 + f.metaLen, f.end.toInt).toSeq)
        f
      }.toVector
      assert(want.nonEmpty && want.head._2 == org.apache.arrow.flatbuf.MessageHeader.Schema)
      // EOF at the message boundary ends a stream as EOS does, for both
      // readers
      val noEos = bytes.dropRight(ArrowBridge.EosBytes.length)
      rows(got) == want &&
        rows(IpcFrames.scan(noEos)) == want && reference(noEos) == want
    }, 100)
  }

  test("every truncation inside a message throws") {
    check(Prop.forAll(shapes(300, Seq(64, 4096))) { s =>
      val bytes = stream(s)
      val boundaries = IpcFrames.scan(bytes).map(_.offset).toSet + (bytes.length - 8L)
      within5s((1 until bytes.length).filterNot(n => boundaries(n.toLong)).forall { n =>
        fails(bytes.take(n))
      })
    }, 12)
  }

  test("corrupt marker or metaLen throws; corrupt flatbuffer never yields fewer frames") {
    val cases = for {
      s <- shapes(300, Seq(64, 4096))
      pick <- Gen.choose(0, Int.MaxValue)
      region <- Gen.oneOf("marker", "metaLen", "flatbuffer")
      at <- Gen.choose(0, Int.MaxValue)
      flip <- Gen.choose(1, 255)
    } yield (s, pick, region, at, flip)
    check(Prop.forAll(cases) { case (s, pick, region, at, flip) =>
      val bytes = stream(s)
      val frames = IpcFrames.scan(bytes)
      val eos = IpcFrames.Frame(bytes.length - 8L, 0, ArrowBridge.EosBytes, 0L)
      val f = (frames :+ eos)(pick % (frames.size + 1))
      val (start, len) = region match {
        case "marker"  => (0, 4)
        case "metaLen" => (4, 4)
        case _         => (8, math.max(1, f.metaLen))
      }
      if (region == "flatbuffer" && f.metaLen == 0) true // EOS has no flatbuffer
      else {
        val bad = bytes.clone()
        val i = f.offset.toInt + start + at % len
        bad(i) = (bad(i) ^ flip).toByte
        if (region != "flatbuffer") within5s(fails(bad))
        else within5s(readAll(bad)) match {
          case (_, allocated) if allocated >= 2L * bad.length + (1 << 20) => false
          case (Failure(_: IpcFrames.Malformed), _) => true
          case (Failure(e), _) => throw e
          case (Success(got), _) => got.size >= frames.size
        }
      }
    }, 600)
  }

  test("a huge or negative metaLen is rejected before it is allocated") {
    val bytes = stream(Shape(50, 64, None, "none", 1L))
    for (metaLen <- Seq(-8, Int.MinValue, IpcFrames.MaxMetaLen, IpcFrames.MaxMetaLen + 8, Int.MaxValue)) {
      val bad = bytes.clone()
      java.nio.ByteBuffer.wrap(bad, 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(metaLen)
      assert(within5s(fails(bad)), metaLen.toString)
    }
  }
}
