package graft.arrow

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD

/** Streams an RDD's partitions to the driver IN ORDER while keeping up
  * to `window` partition jobs in flight — the parallelism
  * `toLocalIterator` lacks (it runs one partition job at a time),
  * with memory bounded to `window` partition results.
  */
object PartitionStreamer {

  def foreachOrdered[T: ClassTag](rdd: RDD[T], window: Int)(consume: T => Unit): Unit = {
    val sc = rdd.sparkContext
    val n = rdd.getNumPartitions
    if (n == 0) return

    def submit(p: Int) = {
      val buf = mutable.ArrayBuffer[T]()
      val action = sc.submitJob[T, Array[T], Array[T]](
        rdd, _.toArray, Seq(p),
        (_, res) => { buf ++= res; () },
        buf.toArray)
      action
    }

    val inFlight = mutable.Queue[org.apache.spark.FutureAction[Array[T]]]()
    var next = 0
    // a throwing `consume` (a client gone mid-stream) or a failed job
    // cancels the jobs still in flight instead of leaving them to run
    try {
      while (next < math.min(window, n)) { inFlight += submit(next); next += 1 }
      while (inFlight.nonEmpty) {
        val head = inFlight.dequeue()
        val res = Await.result(head, Duration.Inf)
        if (next < n) { inFlight += submit(next); next += 1 }
        res.foreach(consume)
      }
    } finally inFlight.foreach(job => if (!job.isCompleted) job.cancel())
  }
}
