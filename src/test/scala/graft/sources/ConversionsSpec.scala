package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TempDirs}
import graft.datagen.Generators

/** One logical dataset materialized across formats and read back — the
  * reference's rand-many-types pipeline (data/rand-many-types/Makefile:
  * 18-33: .arrows → .arrow → .parquet → embedded DBs; arrow-commits
  * .arrows vs .jsonl twins). */
class ConversionsSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.builder("conversions-spec", "4").getOrCreate()

  private def tmpDir(tag: String) = tempDir(s"graft-$tag").toString

  test("arrows → arrow-file → parquet → jsonl all agree") {
    // ticker table: JSON-safe types (jsonl can't carry binary/decimal
    // losslessly; the reference's jsonl twin is likewise a simple table)
    val df = Generators.ticker(spark, 4000, 2)

    val arrowsDir = tmpDir("arrows")
    df.write.format("arrows").mode("overwrite").save(arrowsDir)

    val arrowDir = tmpDir("arrowfile")
    // stream → file transcode through our source (arrows-to-arrow.py parity)
    spark.read.format("arrows").load(arrowsDir)
      .write.format("arrows").option("variant", "file").mode("overwrite").save(arrowDir)

    val parquetDir = tmpDir("parquet")
    spark.read.format("arrows").load(arrowDir).write.mode("overwrite").parquet(parquetDir)

    val jsonlDir = tmpDir("jsonl")
    spark.read.parquet(parquetDir).write.mode("overwrite").json(jsonlDir)

    val fromArrows = spark.read.format("arrows").load(arrowsDir)
    val fromArrowFile = spark.read.format("arrows").load(arrowDir)
    val fromParquet = spark.read.parquet(parquetDir)
    val fromJsonl = spark.read.schema(df.schema).json(jsonlDir)

    def key(d: org.apache.spark.sql.DataFrame) =
      d.select(md5(concat_ws("|", col("ticker"), col("price"), col("volume"))).as("k"))
        .agg(count(lit(1)), approx_count_distinct(col("k")),
          sum(conv(substring(col("k"), 1, 8), 16, 10).cast("long")))
        .head().toSeq

    val base = key(fromArrows)
    assert(fromArrows.count() === 4000)
    assert(key(fromArrowFile) === base)
    assert(key(fromParquet) === base)
    assert(key(fromJsonl) === base)
  }

  test("arrow-commits golden fixture: JSONL slice round-trips through .arrows") {
    // the F5 pipeline (arrow-commits.R): git-log table → .arrows +
    // .jsonl twin, with the R script's stopifnot round-trip identity
    // (:66) as the contract; the writer's default batch size holds all
    // 48 rows in one batch
    import org.apache.spark.sql.types._
    val f5 = StructType(Seq(
      StructField("commit", StringType), StructField("time", TimestampType),
      StructField("files", IntegerType), StructField("merge", BooleanType),
      StructField("message", StringType)))
    val fixture = getClass.getResource("/arrow-commits-sample.jsonl").getPath
    val docs = spark.read.schema(f5)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss'Z'").json(fixture)
    assert(docs.count() === 48)
    // PII rule: no author column anywhere (arrow-commits.R:31-32)
    assert(!docs.columns.exists(_.toLowerCase.contains("author")))
    // messages are single-line (first line only, arrow-commits.R:37-42)
    assert(docs.filter(col("message").contains("\n")).count() === 0)

    val dir = tmpDir("commits")
    docs.coalesce(1).write.format("arrows").mode("overwrite").save(dir)
    val back = spark.read.format("arrows").load(dir)
    // identical: same schema, same rows (the stopifnot)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      f5.map(f => (f.name, f.dataType)))
    assert(back.count() === 48)
    assert(back.except(docs).count() === 0 && docs.except(back).count() === 0)

    // jsonl twin: write and re-read gives the same table
    val twinDir = tmpDir("commits-jsonl")
    back.write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss'Z'").json(twinDir)
    val twin = spark.read.schema(f5)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss'Z'").json(twinDir)
    assert(twin.except(docs).count() === 0 && docs.except(twin).count() === 0)

    // and the deterministic generator emits the same shape
    val gen = graft.datagen.Generators.gitLog(spark, 100)
    assert(gen.schema.map(f => (f.name, f.dataType)) ===
      f5.map(f => (f.name, f.dataType)))
    assert(gen.filter(length(col("commit")) =!= 40).count() === 0)
  }

  test("21-type lattice survives arrows → parquet with tags intact") {
    val df = Generators.manyTypes(spark, 500, 2)
    val dir = tmpDir("lattice")
    df.write.format("arrows").mode("overwrite").save(dir)
    val back = spark.read.format("arrows").load(dir)
    // widened types + metadata tags preserved through the round trip
    assert(back.schema("col_4").dataType === org.apache.spark.sql.types.ShortType)
    assert(back.schema("col_4").metadata.getString("graft.arrow.type") === "uint8")
    assert(back.schema("col_15").metadata.getString("graft.arrow.type") === "timestamp_ns")
    assert(back.count() === 500)
    // null column type survives
    assert(back.schema("col_20").dataType === org.apache.spark.sql.types.NullType)
  }

  test("multi-path load reads every path, commas in a path included") {
    val root = tmpDir("paths")
    val a = Generators.ticker(spark, 300, 1)
    val b = Generators.ticker(spark, 200, 1)
    def save(df: org.apache.spark.sql.DataFrame, dir: String): String = {
      df.coalesce(1).write.format("arrows").mode("overwrite").save(dir)
      new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".arrows")).head
    }
    // Spark hands load(p1, p2) to the source as a JSON array of paths
    val p1 = save(a, s"$root/dir1")
    val p2 = save(b, s"$root/dirWith,Comma")
    val back = spark.read.format("arrows").load(p1, p2)
    assert(back.count() === 500)
    assert(back.except(a.union(b)).count() === 0 && a.union(b).except(back).count() === 0)
  }
}
