package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.load]]'s schema cache: a repeated load starts no Spark job,
  * a rewritten file is inferred again, and sessions whose parquet confs
  * differ each infer for themselves. */
class TablesSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.builder("tables-spec", "4").getOrCreate()
  private val groupKey = "spark.jobGroup.id"

  /** Runs `body` under a fresh job group; returns its result and the
    * number of jobs it started. A barrier job submitted after `body` is
    * seen first, so by then every job start of the group was delivered:
    * one listener queue delivers in order. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-${System.nanoTime()}"
    val barrier = s"$group-barrier"
    val started = new ConcurrentLinkedQueue[Int]()
    val barrierSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      private val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty(groupKey)).orNull
        if (g != null) groups.put(e.jobId, g)
        if (g == group) started.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groups.get(e.jobId) == barrier) barrierSeen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "tables spec")
      val res = try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrierSeen.await(30, TimeUnit.SECONDS), "listener events never arrived")
      (res, started.size)
    } finally sc.removeSparkListener(listener)
  }

  /** Writes `df` as the single parquet file `dir/name.parquet`. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Path = {
    val out = dir.resolve(s"$name.out")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val parts = Files.list(out)
    val part = try parts.iterator.asScala.find(_.toString.endsWith(".parquet")).get
      finally parts.close()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of the same file starts no Spark job") {
    import spark.implicits._
    val dir = tempDir("graft-tables")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "t")
    val (first, coldJobs) = jobsOf(Tables.load(spark, dir.toString, "t").schema)
    assert(coldJobs >= 1, "the first load should infer the schema with a job")
    val (second, warmJobs) = jobsOf(Tables.load(spark, dir.toString, "t").schema)
    assert(warmJobs === 0)
    assert(second === first)
    assert(Tables.load(spark, dir.toString, "t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }

  test("a file rewritten with another schema and mtime is inferred again") {
    import spark.implicits._
    val dir = tempDir("graft-tables")
    val file = writeTable(Seq(1L, 2L).toDF("a"), dir, "t")
    assert(Tables.load(spark, dir.toString, "t").schema.fieldNames.toSeq === Seq("a"))
    val mtime = Files.getLastModifiedTime(file).toMillis
    writeTable(Seq("x").toDF("b"), dir, "t")
    Files.setLastModifiedTime(file, FileTime.fromMillis(mtime + 10000))
    val reread = Tables.load(spark, dir.toString, "t")
    assert(reread.schema.fieldNames.toSeq === Seq("b"))
    assert(reread.as[String].collect().toSeq === Seq("x"))
  }

  test("sessions with different nanosAsLong each infer a nanos column themselves") {
    val dir = tempDir("graft-tables")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("nanos.parquet").toString))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704067200123456789L))
    finally writer.close()

    val asLong = spark.newSession()
    asLong.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(Tables.load(asLong, dir.toString, "nanos").schema("ts").dataType === LongType)
    val e = intercept[Exception](Tables.load(strict, dir.toString, "nanos").schema)
    assert(e.getMessage.contains("NANOS"), e.getMessage)
    assert(Tables.load(asLong, dir.toString, "nanos").schema("ts").dataType === LongType)
  }
}
