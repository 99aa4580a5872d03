package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TESTDATA star schema
  * (see TESTDATA.md). One parquet file per table under the given
  * scale-factor directory.
  *
  * Each file's schema is inferred once per session and then supplied to
  * every later read, so a load starts no schema-inference Spark job. The
  * cache holds one entry per (session, path): the file's length, its
  * modification time and the inferred schema. A file whose length or
  * mtime no longer matches is inferred again and its entry replaced.
  * Sessions are weak keys, and keyed separately because inference reads
  * session confs (`spark.sql.legacy.parquet.nanosAsLong`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Inferred(length: Long, mtime: FileTime, schema: StructType)

  private val schemas =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Inferred]]())

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every operator reaches its input through here, so this is the one
    // choke point that guarantees graft's native functions resolve on
    // ANY session (idempotent after the first call) — r11: a spec-built
    // session skipped GraftSession.get's registration and word_profile
    // failed to resolve in a query that hadn't registered explicitly
    graft.functions.GraftFunctions.register(spark)
    val path = s"$sfDir/$name.parquet"
    val file = Paths.get(path)
    // a directory or a missing path reads (and fails) as Spark's own
    if (!Files.isRegularFile(file)) return spark.read.parquet(path)
    val length = Files.size(file)
    val mtime = Files.getLastModifiedTime(file)
    val cached = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Inferred]())
    val schema = Option(cached.get(path)) match {
      case Some(e) if e.length == length && e.mtime == mtime => e.schema
      case _ =>
        // inferred outside any map lock: two racing loads may both infer
        val s = spark.read.parquet(path).schema
        cached.put(path, Inferred(length, mtime, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has drifted across driver testdata generations:
    * TIMESTAMP(NANOS) (read as a nanos-since-epoch long under
    * spark.sql.legacy.parquet.nanosAsLong=true, set by [[GraftSession]]),
    * then µs isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Normalize all
    * encodings to TimestampType so downstream `unix_micros(ts)` call sites
    * analyze regardless of which generation is on disk (SURVEY §1.3 row 15:
    * ns→µs truncation, NTZ vs UTC). Under the UTC session timezone the
    * NTZ→TimestampType cast is an exact bijection, so the DuckDB oracles'
    * `epoch_ns(ts)` semantics are preserved bit-for-bit.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      // integer div: ns values exceed 2^53, double division drifts by 1 µs
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
