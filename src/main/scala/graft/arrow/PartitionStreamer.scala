package graft.arrow

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD

/** Streams an RDD's partitions to the driver IN ORDER, running them as
  * one Spark job per group of up to `window` partitions with at most
  * two groups in flight — the parallelism `toLocalIterator` lacks (it
  * runs one partition job at a time) without paying job, stage and
  * task-binary overhead per partition. Driver memory is bounded to two
  * groups, 2 × `window` partition results, whatever the dataset size.
  *
  * Spark aborts a job whose partition results total more than
  * `spark.driver.maxResultSize`, so a whole group must fit in it, not
  * only each partition. Under that limit partition 0 first runs as a
  * job of its own; once its result is measured (`size`), each group
  * holds as many partitions as fit in half the limit at the largest
  * result measured so far, from 1 to `window`, and the first two groups
  * go out before partition 0 is consumed (so at most 2 × `window` + 1
  * results are held then). With no limit (0), every group holds
  * `window` partitions.
  */
object PartitionStreamer {

  def foreachOrdered[T: ClassTag](rdd: RDD[T], window: Int, size: T => Long)(
      consume: T => Unit): Unit = {
    val sc = rdd.sparkContext
    val n = rdd.getNumPartitions
    val limit = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    var largest = 0L // the largest partition result measured so far
    def groupSize: Int =
      if (limit <= 0) window
      else (limit / (2 * math.max(largest, 1L))).max(1L).min(window.toLong).toInt
    type Group = (FutureAction[Unit], Seq[Promise[Array[T]]])

    // The result handler runs on the DAG scheduler's thread, so it only
    // completes a promise; a failed or cancelled job fails the promises
    // it left pending, so the consumer never waits on a dead partition.
    def submit(parts: Range): Group = {
      val results = parts.map(_ => Promise[Array[T]]())
      val job = sc.submitJob[T, Array[T], Unit](
        rdd, _.toArray, parts, (i, res) => { results(i).trySuccess(res); () }, ())
      job.onComplete(_.failed.foreach(e => results.foreach(_.tryFailure(e))))(
        ExecutionContext.parasitic)
      (job, results)
    }

    val inFlight = mutable.Queue[Group]()
    var next = 0
    def fill(): Unit = while (next < n && inFlight.size < 2) {
      val end = math.min(n, next + groupSize)
      inFlight += submit(next until end)
      next = end
    }
    def await(p: Promise[Array[T]]): Array[T] = {
      val res = Await.result(p.future, Duration.Inf)
      largest = math.max(largest, res.iterator.map(size).sum)
      res
    }
    // a throwing `consume` (a client gone mid-stream) or a failed job
    // cancels the group jobs still in flight instead of leaving them to run
    try {
      if (limit > 0 && n > 0) {
        // partition 0 runs alone; its result sizes the two groups
        // submitted before it is consumed
        inFlight += submit(0 until 1)
        next = 1
        val first = await(inFlight.head._2.head)
        inFlight.dequeue()
        fill()
        first.foreach(consume)
      } else fill()
      while (inFlight.nonEmpty) {
        inFlight.head._2.foreach(p => await(p).foreach(consume))
        inFlight.dequeue()
        fill()
      }
    } finally inFlight.foreach { case (job, _) => if (!job.isCompleted) job.cancel() }
  }
}
