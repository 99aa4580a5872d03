package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TempDirs}
import graft.arrow.{ArrowBridge, DriverRows}
import graft.datagen.Generators

class ArrowsStreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.builder("arrows-stream-spec", "4").getOrCreate()

  test("readStream over an append-only .arrows directory") {
    val dir = tempDir("graft-stream").toString

    def dropFile(n: Int, rows: Int): Unit = {
      val df = Generators.ticker(spark, rows, 1)
      val f = new java.io.File(dir, f"chunk-$n%03d.arrows")
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f))
      ArrowBridge.write(df.schema, DriverRows.internalRows(df), out)
      out.close()
    }

    dropFile(0, 1000)
    val schema = spark.read.format("arrows").load(dir).schema
    val q = spark.readStream.format("arrows").schema(schema).load(dir)
      .groupBy(col("ticker")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("arrows_stream_out").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("arrows_stream_out")
        .agg(sum(col("n"))).head().getLong(0)
      assert(n1 === 1000L)

      dropFile(1, 500)
      dropFile(2, 250)
      q.processAllAvailable()
      val n2 = spark.table("arrows_stream_out")
        .agg(sum(col("n"))).head().getLong(0)
      assert(n2 === 1750L)
    } finally q.stop()
  }

  test("dissoc-reassembled artifacts feed the arrows micro-batch source incrementally") {
    // r11 verdict #5: the dissociated dual-channel read composes with
    // the unbounded source — each segment arrives over the dissoc
    // protocol (concurrent meta/body, bounded reassembly), lands as a
    // plain .arrows artifact (reassembly output IS a valid IPC stream),
    // and the micro-batch source picks it up on the next trigger; the
    // converged stream equals the batch read of the same directory
    val dir = tempDir("graft-dissoc-stream").toString
    val server = new graft.server.ArrowHttpServer(spark)
    server.register("seg0", Generators.ticker(spark, 1000, 2))
    server.register("seg1", Generators.ticker(spark, 600, 2))
    server.start()
    try {
      def land(name: String): Unit = {
        val in = ArrowsTableProvider.openDissoc(s"${server.baseUrl}/dissoc/info/$name")
        val f = new java.io.File(dir, s"$name.arrows")
        val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f))
        try in.transferTo(out) finally { out.close(); in.close() }
      }
      land("seg0")
      val schema = spark.read.format("arrows").load(dir).schema
      val q = spark.readStream.format("arrows").schema(schema).load(dir)
        .groupBy(col("ticker")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("dissoc_stream_out").start()
      try {
        q.processAllAvailable()
        val n1 = spark.table("dissoc_stream_out")
          .agg(sum(col("n"))).head().getLong(0)
        assert(n1 === 1000L)

        land("seg1")
        q.processAllAvailable()
        val n2 = spark.table("dissoc_stream_out")
          .agg(sum(col("n"))).head().getLong(0)
        assert(n2 === 1600L)
      } finally q.stop()
      // stream convergence equals the batch read of the same artifacts
      assert(spark.read.format("arrows").load(dir).count() === 1600L)
    } finally server.stop()
  }

  test("writeStream sink: per-epoch part files, batch- and stream-readable") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft-sink").toString
    val ckpt = tempDir("graft-sink-ckpt").toString

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "name")
      .writeStream.format("arrows")
      .option("path", dir).option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      input.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()

    // deterministic per-epoch names (idempotent under task retry)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".arrows")).map(_.getName).sorted
    assert(parts.nonEmpty && parts.forall(_.matches("part-e\\d{5}-p\\d{5}\\.arrows")), parts.mkString(","))

    // batch read of the streamed artifacts
    val back = spark.read.format("arrows").load(dir)
    assert(back.count() === 3)
    assert(back.select("name").orderBy("id").as[String].collect().toSeq === Seq("a", "b", "c"))

    // and the micro-batch SOURCE tails the same directory: the full
    // stream -> arrows artifacts -> stream loop
    val q2 = spark.readStream.format("arrows").schema(back.schema).load(dir)
      .groupBy().count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("sink_loop_out").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("sink_loop_out").head().getLong(0) === 3L)
    } finally q2.stop()
  }

  test("offsets carry the file list: replay plans the same files on a fresh instance") {
    // simulates a driver restart: a NEW stream instance (empty arrival
    // map) must replay a deserialized offset range exactly, not slice
    // an empty buffer into a silently-empty micro-batch
    val dir = tempDir("graft-replay").toString
    def drop(n: Int): String = {
      val df = Generators.ticker(spark, 100, 1)
      val f = new java.io.File(dir, f"chunk-$n%03d.arrows")
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f))
      ArrowBridge.write(df.schema, DriverRows.internalRows(df), out)
      out.close()
      f.getPath
    }
    val f0 = drop(0); val f1 = drop(1)
    val schema = spark.read.format("arrows").load(dir).schema

    val s1 = new ArrowsMicroBatchStream(schema, Seq(dir))
    val start = s1.initialOffset()
    val end = s1.latestOffset()
    val endJson = end.json()
    assert(endJson.contains(f0) && endJson.contains(f1))

    // fresh instance, as after restart: deserialize the logged offsets
    val s2 = new ArrowsMicroBatchStream(schema, Seq(dir))
    val parts = s2.planInputPartitions(
      s2.deserializeOffset(start.json()), s2.deserializeOffset(endJson))
    assert(parts.length === 2)
    assert(parts.flatMap(_.asInstanceOf[ArrowsInputPartition].pieces.map(_.path)).toSet ===
      Set(f0, f1))

    // and new arrivals continue after the restored assignments
    val f2 = drop(2)
    val next = s2.latestOffset()
    val tail = s2.planInputPartitions(s2.deserializeOffset(endJson), next)
    assert(tail.flatMap(_.asInstanceOf[ArrowsInputPartition].pieces.map(_.path)).toSeq ===
      Seq(f2))
  }
}
