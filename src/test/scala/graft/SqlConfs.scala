package graft

import org.apache.spark.sql.SparkSession

object SqlConfs {
  /** The split size of a packed arrows scan divides by the default
    * parallelism unless `spark.sql.files.minPartitionNum` is set; specs
    * that count a packed scan's partitions pin it, so the count does not
    * depend on how many cores the shared SparkContext was built with. */
  val PinnedPacking: Seq[(String, String)] = Seq("spark.sql.files.minPartitionNum" -> "4")

  /** Runs `body` with the session confs `kv` set, then restores each to
    * its earlier value (or unsets it). */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
