package graft.dissociated

import java.io.{ByteArrayInputStream, EOFException, OutputStream}
import java.lang.management.ManagementFactory

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.arrow.IpcFrames
import graft.datagen.Generators

/** [[Dissociated.Reassembler]] on truncated, corrupted and wrongly
  * ordered channels: each must fail loudly within its time limit,
  * without allocating a corrupt length, or rebuild the exact stream. */
class ReassemblerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("reassembler-spec", "4").getOrCreate()

  /** DissociatedSpec's stream: ticker(5000) in 10 batches of up to 512
    * rows, its metadata channel and its batch bodies. */
  private lazy val plain = Channels.plainStream(Generators.ticker(spark, 5000, 2), batchSize = 512)
  private lazy val metaCh: Array[Byte] = Channels.metadata(plain)
  private lazy val bodies = {
    val b = Channels.bodies(plain)
    assert(b.size === 10)
    b
  }

  /** Bodies in `order`, by default reversed within groups of 4. */
  private def bodyCh(order: Seq[Int] = bodies.indices.grouped(4).flatMap(_.reverse).toSeq): Array[Byte] =
    Channels.bodyChannel(bodies, order)

  /** Compares what is written to it with `want`, storing nothing. */
  private final class Compare(want: Array[Byte]) extends OutputStream {
    private var n = 0
    private var same = true
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      same &&= len <= want.length - n &&
        java.util.Arrays.equals(b, off, off + len, want, n, n + len)
      n += len
    }
    def identical: Boolean = same && n == want.length
  }

  /** Reassembles `meta`/`body` (prefixes of `metaLen`/`bodyLen` bytes)
    * within `limit`: Success(whether the rebuilt stream is the plain
    * one) or the failure. The reading thread must allocate less than
    * twice the channel bytes plus 1 MiB. */
  private def reassemble(meta: Array[Byte], body: Array[Byte], metaLen: Int, bodyLen: Int,
      maxPending: Int = 8, limit: FiniteDuration = 5.seconds): Try[Boolean] = {
    val (res, allocated) = Await.result(Future {
      val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      val before = mx.getCurrentThreadAllocatedBytes
      val res = Try {
        val sink = new Compare(plain)
        Dissociated.reassemble(new ByteArrayInputStream(meta, 0, metaLen),
          new ByteArrayInputStream(body, 0, bodyLen), sink, maxPending)
        sink.identical
      }
      (res, mx.getCurrentThreadAllocatedBytes - before)
    }, limit)
    assert(allocated < 2L * (metaLen + bodyLen) + (1 << 20), s"allocated $allocated bytes")
    res
  }

  private def failsLoudly(res: Try[Boolean]): Boolean = res match {
    case Failure(_: EOFException | _: IpcFrames.Malformed) => true
    case _ => false
  }

  test("the split channels reassemble byte-identically") {
    val body = bodyCh()
    assert(reassemble(metaCh, body, metaCh.length, body.length) === Success(true))
  }

  test("every proper prefix of either channel fails loudly") {
    val body = bodyCh()
    (0 until metaCh.length).foreach { n =>
      val res = reassemble(metaCh, body, n, body.length)
      assert(failsLoudly(res), s"metadata prefix of $n bytes: $res")
    }
    (0 until body.length).foreach { n =>
      val res = reassemble(metaCh, body, metaCh.length, n)
      assert(failsLoudly(res), s"body prefix of $n bytes: $res")
    }
  }

  /** Offsets of the framing bytes of a channel whose frames are a
    * `head`-byte header ending in a little-endian length. */
  private def framing(ch: Array[Byte], head: Int): Vector[Int] = {
    val offs = Vector.newBuilder[Int]
    var o = 0
    while (o < ch.length) {
      offs ++= (o until o + head)
      val len = java.nio.ByteBuffer.wrap(ch, o + head - 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      o += head + len
    }
    offs.result()
  }

  test("300 single-byte corruptions of framing bytes fail loudly or change nothing") {
    val body = bodyCh()
    val metaOffs = framing(metaCh, 9) // type, seq, length
    val bodyOffs = framing(body, 8) // seq, length
    assert(metaOffs.size === 9 * 12 && bodyOffs.size === 8 * 10)
    val rnd = new Random(20261017L)
    var loud = 0
    (1 to 300).foreach { _ =>
      val inMeta = rnd.nextBoolean()
      val (ch, offs) = if (inMeta) (metaCh.clone(), metaOffs) else (body.clone(), bodyOffs)
      val at = offs(rnd.nextInt(offs.size))
      ch(at) = (ch(at) ^ (1 + rnd.nextInt(255))).toByte
      val res =
        if (inMeta) reassemble(ch, body, ch.length, body.length)
        else reassemble(metaCh, ch, metaCh.length, ch.length)
      val where = s"${if (inMeta) "metadata" else "body"} byte $at"
      assert(failsLoudly(res) || res == Success(true), s"$where: $res")
      if (failsLoudly(res)) loud += 1
    }
    assert(loud > 0)
  }

  test("a body beyond the window throws instead of blocking") {
    // all ten bodies reversed: batch 10 arrives while batch 1 is next
    val reversed = bodyCh(bodies.indices.reverse)
    val res = reassemble(metaCh, reversed, metaCh.length, reversed.length,
      maxPending = 2, limit = 10.seconds)
    assert(res.failed.get.isInstanceOf[IpcFrames.Malformed], res)
    // the window is [next, next + maxPending): 10 slots hold the whole
    // reversal, 9 do not
    assert(reassemble(metaCh, reversed, metaCh.length, reversed.length, maxPending = 10) === Success(true))
    assert(reassemble(metaCh, reversed, metaCh.length, reversed.length, maxPending = 9)
      .failed.get.isInstanceOf[IpcFrames.Malformed])
  }

  test("a repeated body seq throws, delivered or still pending") {
    for (order <- Seq(Seq(0, 0) ++ (1 to 9), Seq(3, 3) ++ (0 to 9).filter(_ != 3))) {
      val dup = bodyCh(order)
      assert(reassemble(metaCh, dup, metaCh.length, dup.length)
        .failed.get.isInstanceOf[IpcFrames.Malformed], order)
    }
  }
}
