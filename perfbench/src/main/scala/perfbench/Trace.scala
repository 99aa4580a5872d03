package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of an op: its name, start and end (nanoTime), the
  * span that caused it (0 for an op's root span) and the op it belongs
  * to. */
final case class Span(id: Long, parent: Long, opId: Long, name: String,
    startNs: Long, endNs: Long)

/** Span recorder. Spans are kept in memory and written out when the run
  * ends. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  /** Time spent inside the tracer itself, for the overhead estimate. */
  val selfNs = new LongAdder()

  def span[A](opId: Long, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t1 = System.nanoTime()
      try body
      finally {
        val t2 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), opId, name, t1, t2))
        selfNs.add((t1 - t0) + (System.nanoTime() - t2))
      }
    }

  def write(path: java.nio.file.Path, originNs: Long): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Stats.json(Map("name" -> s.name, "span" -> s.id, "parent" -> s.parent,
        "op" -> s.opId, "start_ms" -> (s.startNs - originNs) / 1e6,
        "end_ms" -> (s.endNs - originNs) / 1e6))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** What one op did, filled in by the op while it runs. */
final class OpCtx(val id: Long, val op: String, val client: Int, val block: Int,
    val tracer: Tracer) {
  val group = s"perfbench-op-$id"
  val startNs: Long = System.nanoTime()
  @volatile var endNs = 0L
  @volatile var deadlineHit = false
  var firstBatchNs = -1L
  /** Decoded Arrow IPC bytes (after any HTTP coding is removed). */
  var arrowBytes = 0L
  /** Bytes read off the socket. */
  var wireBytes = 0L
  var batches = 0L
  /** Time blocked in socket reads (traced runs only). */
  var socketWaitNs = 0L
  /** Time inside the Arrow reader, minus its waits on the socket. */
  var decodeSelfNs = 0L
  var headersNs = 0L
  /** Op-specific layer measurements, summed per op name. */
  val extra = scala.collection.mutable.Map[String, Double]()
  private val aborts = new ConcurrentLinkedQueue[() => Unit]()

  def span[A](name: String)(body: => A): A = tracer.span(id, name)(body)
  def timed[A](key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try span(key)(body)
    finally extra(key) = extra.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e6
  }
  def firstBatch(): Unit = if (firstBatchNs < 0) firstBatchNs = System.nanoTime()
  def onAbort(f: () => Unit): Unit = aborts.add(f)
  /** Called by the deadline watchdog: break whatever the op blocks on. */
  def abort(): Unit = aborts.forEach(f => try f() catch { case _: Throwable => () })
}

/** Spark's scheduler and executors, seen through a SparkListener. Raw
  * events are kept with their timestamps and aggregated over a window
  * afterwards, so listener-bus delivery lag cannot misplace them. */
object SparkStats {
  final case class Job(id: Int, timeMs: Long, group: String, stageIds: Seq[Int])
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, durMs: Long,
      cpuNs: Long, gcMs: Long, resultBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long)
}

final class SparkStats extends SparkListener {
  import SparkStats._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobsEnded = new AtomicLong()
  val lastEventNs = new AtomicLong(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.add(Job(e.jobId, e.time, g.getOrElse(""), e.stageIds))
    e.stageInfos.foreach(s => stageTasks.put(s.stageId, s.numTasks))
    lastEventNs.set(System.nanoTime())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    lastEventNs.set(System.nanoTime())
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    lastEventNs.set(System.nanoTime())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, i.launchTime, i.finishTime, i.duration,
      m.executorCpuTime, m.jvmGCTime, m.resultSize, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    lastEventNs.set(System.nanoTime())
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment, or `maxMs` passed. */
  def drain(maxMs: Long = 5000): Unit = {
    val until = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < until &&
      (jobs.size > jobsEnded.get() ||
        System.nanoTime() - lastEventNs.get() < 300 * 1000000L)) Thread.sleep(50)
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.asScala.filter(j => j.timeMs >= fromMs && j.timeMs <= toMs).toSeq
  def jobsOf(group: String): Seq[Job] = jobs.asScala.filter(_.group == group).toSeq
  def tasksOf(stageIds: Set[Int]): Seq[Task] =
    tasks.asScala.filter(t => stageIds.contains(t.stageId)).toSeq
}

/** Planning phases of every query execution (analysis, optimization,
  * planning), from Spark's QueryExecutionListener. */
object QueryPhases {
  final case class Done(funcName: String, planMs: Double, execMs: Double, atNs: Long)
}

final class QueryPhases extends QueryExecutionListener {
  import QueryPhases.Done
  val done = new ConcurrentLinkedQueue[Done]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add(Done(funcName, qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
      durationNs / 1e6, System.nanoTime()))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
