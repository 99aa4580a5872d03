package graft.dissociated

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.sql.DataFrame

import graft.arrow.{ArrowBridge, DriverRows, IpcFrames}

/** Dissociated channels of an in-memory IPC stream for specs: the
  * metadata and body channels the server's writers make of it, and a
  * body channel in any order. */
object Channels {

  /** The plain IPC stream of `df` in batches of `batchSize` rows. */
  def plainStream(df: DataFrame, batchSize: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ArrowBridge.write(df.schema, DriverRows.internalRows(df), out,
      ArrowBridge.WriteOptions(batchSize = batchSize))
    out.toByteArray
  }

  private def frames(stream: Array[Byte]): () => IpcFrames.Reader =
    () => IpcFrames.reader(new ByteArrayInputStream(stream), stream.length)

  /** The metadata channel of `stream`. */
  def metadata(stream: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    Dissociated.streamMetadata(Seq(frames(stream)), out)
    out.toByteArray
  }

  /** The body channel of `stream`, in the writer's windowed order. */
  def body(stream: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    Dissociated.streamBody(Seq(frames(stream)), out)
    out.toByteArray
  }

  /** The body of each batch message of `stream`, in stream order. */
  def bodies(stream: Array[Byte]): Vector[Array[Byte]] = {
    val r = frames(stream)()
    val b = Vector.newBuilder[Array[Byte]]
    r.foreach(f => if (!f.isSchema) b += r.body())
    b.result()
  }

  /** A body channel of `bodies` (batch i has seq i + 1) in `order`,
    * which may repeat or leave out batches. */
  def bodyChannel(bodies: Seq[Array[Byte]], order: Seq[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    order.foreach(i => Dissociated.writeBodyFrameRef(d, i + 1, bodies(i), bodies(i).length))
    d.flush()
    out.toByteArray
  }
}
