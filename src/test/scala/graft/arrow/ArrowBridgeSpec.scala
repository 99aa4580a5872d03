package graft.arrow

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.datagen.Generators

class ArrowBridgeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("arrow-bridge-spec", "4").getOrCreate()

  /** write df → IPC bytes; returns (bytes, rows, batches). */
  private def encode(df: DataFrame, opts: ArrowBridge.WriteOptions)
      : (Array[Byte], Long, Long) = {
    val out = new ByteArrayOutputStream()
    val (nRows, nBatches) = ArrowBridge.write(df.schema, DriverRows.internalRows(df), out, opts)
    (out.toByteArray, nRows, nBatches)
  }

  private def readBack(bytes: Array[Byte]): (StructType, Seq[Row]) = {
    val res = ArrowBridge.read(new ByteArrayInputStream(bytes))
    val rows = res.rows.toVector
    res.close()
    (res.schema, rows)
  }

  /** write df → IPC bytes → read back; returns (schema, rows). */
  private def roundTrip(df: DataFrame,
      opts: ArrowBridge.WriteOptions = ArrowBridge.WriteOptions())
      : (StructType, Seq[Row], Long, Long) = {
    val (bytes, nRows, nBatches) = encode(df, opts)
    val (schema, rows) = readBack(bytes)
    (schema, rows, nRows, nBatches)
  }

  /** The same IPC bytes read by the DSv2 source, as a `.arrows` file. */
  private def viaSource(bytes: Array[Byte]): Seq[Seq[Any]] = {
    val f = java.nio.file.Files.createTempFile("graft-bridge", ".arrows")
    try {
      java.nio.file.Files.write(f, bytes)
      rowsOf(spark.read.format("arrows").load(f.toString))
    } finally java.nio.file.Files.delete(f)
  }

  // canonical form: every collection becomes a List so both toString
  // (used as sort key) and equality are representation-independent
  private def normalize(v: Any): Any = v match {
    case b: Array[Byte] => b.toList
    case a: Array[_]    => a.toList.map(normalize)
    case s: Seq[_]      => s.toList.map(normalize)
    case r: Row         => r.toSeq.toList.map(normalize)
    case d: java.math.BigDecimal => d.stripTrailingZeros()
    case x => x
  }
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map(normalize))

  test("21-type lattice round-trips (values + batch count)") {
    val df = Generators.manyTypes(spark, 1000, 4)
    val (bytes, nRows, nBatches) = encode(df,
      ArrowBridge.WriteOptions(batchSize = 100,
        dictColumns = Map("col_19" -> Array("alpha", "beta", "gamma", "delta"))))
    val (schema, rows) = readBack(bytes)
    assert(nRows === 1000)
    assert(nBatches === 10) // global iterator: 1000 rows / 100 per batch
    assert(schema.fieldNames.toSeq === df.schema.fieldNames.toSeq)
    // types survive (with widening tags re-applied)
    assert(schema("col_4").dataType === ShortType)    // uint8
    assert(schema("col_7").dataType === DecimalType(20, 0)) // uint64
    assert(schema("col_19").dataType === StringType)  // dictionary
    val got = rows.map(_.toSeq.toList.map(normalize)).sortBy(_.mkString("|"))
    val want = rowsOf(df).sortBy(_.mkString("|"))
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    // the DSv2 row reader (col_19's dictionary tag keeps the scan off the
    // columnar path) decodes the same bytes to the same values
    assert(viaSource(bytes).sortBy(_.mkString("|")) === want)
  }

  test("nulls round-trip across all types") {
    val df = Generators.withNulls(Generators.manyTypes(spark, 300, 2))
    val (bytes, nRows, _) = encode(df, ArrowBridge.WriteOptions())
    val (_, rows) = readBack(bytes)
    assert(nRows === 300)
    val got = rows.map(_.toSeq.toList.map(normalize)).sortBy(_.mkString("|"))
    val want = rowsOf(df).sortBy(_.mkString("|"))
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    assert(rows.exists(_.toSeq.exists(_ == null)))
    // the DSv2 row reader (widened uint columns) decodes the same bytes
    assert(viaSource(bytes).sortBy(_.mkString("|")) === want)
  }

  test("flight-bench shape: 4xint64, 4096-row batches, sliced tail") {
    val df = Generators.flightBench(spark, 10000, 1)
    val (schema, rows, nRows, nBatches) = roundTrip(df)
    assert(schema.fields.forall(_.dataType === LongType))
    assert(nRows === 10000)
    assert(nBatches === 3) // 4096+4096+1808
    assert(rows.size === 10000)
  }

  test("lz4 and zstd IPC body compression round-trip") {
    val df = Generators.ticker(spark, 5000, 2)
    for (codec <- Seq("lz4", "zstd")) {
      val (_, rows, nRows, _) = roundTrip(df, ArrowBridge.WriteOptions(codec = Some(codec)))
      assert(nRows === 5000, codec)
      assert(rows.size === 5000, codec)
      val want = rowsOf(df).sortBy(_.mkString("|"))
      assert(rows.map(_.toSeq.toList.map(normalize)).sortBy(_.mkString("|")) === want, codec)
    }
  }

  test("compressed stream is smaller than identity on compressible data") {
    val df = Generators.ticker(spark, 20000, 1)
    def bytesWith(o: ArrowBridge.WriteOptions): Int = {
      val out = new ByteArrayOutputStream()
      ArrowBridge.write(df.schema, DriverRows.internalRows(df), out, o)
      out.size()
    }
    val plain = bytesWith(ArrowBridge.WriteOptions())
    val zstd = bytesWith(ArrowBridge.WriteOptions(codec = Some("zstd")))
    val dict = bytesWith(ArrowBridge.WriteOptions(
      dictColumns = Map("ticker" -> Generators.tickers.toArray)))
    assert(zstd < plain)
    assert(dict < plain) // dictionary-encoded ticker strings shrink the wire
  }

  test("a value outside the registered dictionary fails naming the column and the value") {
    val df = spark.range(3).selectExpr("if(id = 2, 'ZZQX', 'AAPL') AS ticker", "id")
    val e = intercept[IllegalArgumentException] {
      ArrowBridge.write(df.schema, DriverRows.internalRows(df), new ByteArrayOutputStream(),
        ArrowBridge.WriteOptions(dictColumns = Map("ticker" -> Array("AAPL", "MSFT"))))
    }
    assert(e.getMessage.contains("'ticker'") && e.getMessage.contains("'ZZQX'"), e.getMessage)
  }

  test("empty and single-row streams round-trip (schema survives)") {
    val df0 = Generators.ticker(spark, 5000, 1).filter("price < 0") // empty
    val (schema0, rows0, n0, b0) = roundTrip(df0)
    assert(n0 === 0 && b0 === 0 && rows0.isEmpty)
    assert(schema0.fieldNames.toSeq === Seq("ticker", "price", "volume"))

    val df1 = Generators.ticker(spark, 1, 1)
    val (_, rows1, n1, b1) = roundTrip(df1)
    assert(n1 === 1 && b1 === 1 && rows1.size === 1)
  }

  test("ticker distribution matches reference ranges") {
    val df = Generators.ticker(spark, 10000, 2)
    import org.apache.spark.sql.functions._
    val r = df.agg(
      countDistinct(col("ticker")).as("nt"),
      min(col("price")).as("minp"), max(col("price")).as("maxp"),
      min(col("volume")).as("minv"), max(col("volume")).as("maxv")).head()
    assert(r.getLong(0) === 60L)
    assert(r.getLong(1) >= 100L && r.getLong(2) <= 100000L)
    assert(r.getLong(1) % 100 === 0L && r.getLong(2) % 100 === 0L)
    assert(r.getLong(3) >= 1L && r.getLong(4) <= 10000L)
  }

  test("delta dictionaries: growing value set, no pre-scan, standard-reader decodable") {
    import spark.implicits._
    // three 4-row batches whose category sets grow: {A,B} -> +{C} -> +{D}
    val cats = Seq("A", "B", "A", "B", "B", "C", "A", "C", "D", "A", "D", "B")
    val df = cats.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("id", "cat")
      .coalesce(1).sortWithinPartitions("id")
    val out = new ByteArrayOutputStream()
    val (nRows, nBatches, sizes) = ArrowBridge.writeDeltaDict(
      df.schema, DriverRows.internalRows(df), out, Seq("cat"), batchSize = 4)
    assert(nRows === 12 && nBatches === 3)
    assert(sizes === Map("cat" -> 4))

    // wire shape: exactly one full dictionary message then deltas, each
    // arriving before the first record batch that references it
    val bytes = out.toByteArray
    var off = 0
    def readIntLE(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
        ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    val kinds = scala.collection.mutable.ArrayBuffer[(Byte, Boolean)]()
    var done = false
    while (!done && off < bytes.length) {
      assert(readIntLE(off) === -1)
      val metaLen = readIntLE(off + 4)
      if (metaLen == 0) done = true
      else {
        val buf = java.nio.ByteBuffer.wrap(bytes, off + 8, metaLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val msg = org.apache.arrow.flatbuf.Message.getRootAsMessage(buf)
        val isDelta = msg.headerType() ==
          org.apache.arrow.flatbuf.MessageHeader.DictionaryBatch &&
          msg.header(new org.apache.arrow.flatbuf.DictionaryBatch())
            .asInstanceOf[org.apache.arrow.flatbuf.DictionaryBatch].isDelta
        kinds += ((msg.headerType(), isDelta))
        off += 8 + metaLen + msg.bodyLength().toInt
      }
    }
    import org.apache.arrow.flatbuf.MessageHeader.{DictionaryBatch => DB, RecordBatch => RB, Schema => SC}
    assert(kinds.toList === List(
      (SC, false),          // schema
      (DB, false), (RB, false),  // full dict {A,B} + batch 1
      (DB, true), (RB, false),   // delta {C} + batch 2
      (DB, true), (RB, false)))  // delta {D} + batch 3

    // the STANDARD reader path decodes it (arrow-java appends deltas)
    val res = ArrowBridge.read(new ByteArrayInputStream(bytes))
    val back = res.rows.toVector.map(r => (r.getLong(0), r.getString(1)))
    res.close()
    assert(back === cats.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toVector)
  }
}
