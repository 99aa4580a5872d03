package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A repeated query reuses its generated classes. The benchmark's query
  * loop runs 13 queries in turn; Spark's codegen cache, sized in
  * [[GraftSession.builder]], holds all of their classes, so a second
  * pass over the loop compiles none. At Spark's default of 100 entries
  * the other queries evict each query's classes before it comes round
  * again, and every pass compiles them anew. Whole-stage classes are
  * named without their stage id (see [[GraftSession.builder]]), so a
  * stage that AQE numbers differently on another run still reuses its
  * class, and the frames the queries share are filled before any
  * consumer is planned (see [[operators.OpUtils.store]]), so AQE picks
  * the same join sides on every run.
  *
  * `CodeGenerator` updates the compilation-time histogram once per
  * cache miss, so the histogram's count is the number of classes
  * compiled. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("codegen-reuse-spec", "4").getOrCreate()
    functions.GraftFunctions.register(s)
    s
  }
  private val sf = "/root/testdata/sf0.001"

  /** The queries of the benchmark's `query_batch` workload. */
  private val loop = Seq(
    "q05_local_supplier_volume", "q48_price_deciles", "q50_basket_pairs",
    "q58_market_share", "d03_minhash_lsh_pairs", "d13_containment_complete",
    "d24_soft_dedup_weights", "d28_cluster_keeper", "s25_kmeans_churn",
    "s31_quantization_sheet", "t18_keyword_tfidf", "p25_shard_dedup_leakage",
    "m23_caption_transfer")

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass over the loop, every query through the noop sink; returns
    * the number of classes each query compiled. */
  private def pass(): Seq[(String, Long)] = loop.map { q =>
    val c0 = compiled
    SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    q -> (compiled - c0)
  }

  test("a second pass over the query loop compiles no class") {
    pass()
    val again = pass()
    assert(again.map(_._2).sum === 0, "recompiled on the second pass: " +
      again.filter(_._2 > 0).map { case (q, n) => s"$q $n" }.mkString(", "))
  }
}
