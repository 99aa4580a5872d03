package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming over append-only directories of `.arrows`
  * files. Each `latestOffset` re-lists the directories; files are
  * assigned stable positions in arrival order (alphabetical within one
  * listing), and a micro-batch covers the files between two offsets.
  *
  * Replay safety: an offset's JSON carries the ASSIGNED FILE LIST, not
  * a bare count — `planInputPartitions` derives its file range purely
  * from the two offsets, so a replayed micro-batch after a driver
  * restart re-reads exactly the files it covered originally (a count
  * into a restart-emptied in-memory buffer would silently plan an
  * empty batch). Deserializing an offset also repopulates the
  * arrival-order map, keeping later assignments consistent. */
final class ArrowsMicroBatchStream(schema: StructType, dirs: Seq[String])
    extends MicroBatchStream {

  private case class ArrowsOffset(files: Vector[String]) extends Offset {
    override def json(): String =
      files.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]")
  }

  /** Files in assigned order; grows monotonically. */
  private val known = scala.collection.mutable.ArrayBuffer[String]()
  private val knownSet = scala.collection.mutable.Set[String]()

  private def listNow(): Seq[String] = dirs.flatMap { d =>
    val f = new java.io.File(ArrowsTableProvider.stripScheme(d))
    if (f.isDirectory)
      f.listFiles().toSeq.map(_.getPath)
        .filter(n => n.endsWith(".arrows") || n.endsWith(".arrow")).sorted
    else if (f.isFile) Seq(f.getPath)
    else Nil
  }

  private def assimilate(files: Seq[String]): Unit =
    files.foreach { p =>
      if (!knownSet.contains(p)) { known += p; knownSet += p }
    }

  override def latestOffset(): Offset = synchronized {
    assimilate(listNow())
    ArrowsOffset(known.toVector)
  }

  override def initialOffset(): Offset = ArrowsOffset(Vector.empty)

  override def deserializeOffset(json: String): Offset = synchronized {
    val files = "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toVector
    assimilate(files) // restore arrival order after a restart
    ArrowsOffset(files)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ArrowsOffset].files
    val e = end.asInstanceOf[ArrowsOffset].files
    require(e.take(s.size) == s,
      s"offset ranges diverge: start is not a prefix of end (${s.size} vs ${e.size} files)")
    e.drop(s.size).map(p =>
      ArrowsInputPartition(Seq(ArrowsPiece(p))): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowsReaderFactory(schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
