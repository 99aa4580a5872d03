package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the engine: UTC, AQE on, shuffle
  * partitions sized to local cores (not the 200 default), ns-parquet
  * readable, and a whole-stage codegen cache that holds the query mix.
  * All mains and test suites go through here so behavior is identical
  * everywhere.
  */
object GraftSession {
  /** Entries of Spark's generated-class cache (`CodeGenerator.cache`,
    * Spark's default 100). The 13 queries of the benchmark's query loop
    * compile 803 distinct classes over a run with an unbounded cache, so
    * at 100 every class is evicted before its query comes round again
    * and each repeat pays Janino and the JIT anew. 4096 holds that
    * working set about five times over and keeps the cache bounded.
    *
    * The cache is JVM-global: `CodeGenerator`'s initializer sizes it
    * once, from the conf of the session active at the first codegen in
    * the JVM, and no later session can resize it. So this is a static
    * conf set by [[builder]] before `getOrCreate`, and the first
    * session of any JVM must be built here.
    *
    * The cache is keyed by the generated source, so [[builder]] also
    * names each whole-stage class without its stage id
    * (`spark.sql.codegen.useIdInClassName`): AQE numbers stages in the
    * order it creates them, which varies with task timing, and a
    * stage's code renumbered on a later run would otherwise compile
    * again. The id still shows in the plan and in the source's comment. */
  val CodegenCacheEntries = 4096

  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  def get(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
