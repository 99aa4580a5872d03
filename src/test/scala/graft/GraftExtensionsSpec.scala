package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions install path: a session built with ONLY the
  * extensions conf (no programmatic register call) must expose the
  * native functions in SQL. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("functions resolve in a session configured via spark.sql.extensions") {
    // extensions only apply to a NEWLY built session: retire any shared
    // suite session first (suites run sequentially under Test/fork, and
    // later suites rebuild through GraftSession.getOrCreate)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    // through GraftSession.builder, which registers no function, so
    // that this suite also sizes the JVM-global codegen cache if it
    // builds the JVM's first session
    val spark = GraftSession.builder("graft-ext-spec", "2")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      val r = spark.sql(
        "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
          "poly_hash('ab') p, poly_hash_min('abcdefgh', 8) m, " +
          "int8_dot(array(2L, 3L), array(5L, 7L)) d8").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getLong(1) === (97L * 31 + 98) % 1000000007L)
      assert(!r.isNullAt(2))
      assert(r.getLong(3) === 31L) // 2*5 + 3*7

      // and so does every other function of the native-function table
      val missing = functions.GraftFunctions.builtins.map(_._1)
        .filterNot(spark.catalog.functionExists)
      assert(missing.isEmpty, s"not installed via spark.sql.extensions: ${missing.mkString(", ")}")

      // the injected planner strategy plans the as-of join in this
      // session too (no AsOfJoin.install call — extensions only)
      import spark.implicits._
      val l = Seq((1L, "A", 10L)).toDF("id", "sym", "t")
      val r2 = Seq((9L, "A", 5L)).toDF("id", "sym", "t")
      val lplan = l.queryExecution.analyzed
      val rplan = r2.toDF("r_id", "r_sym", "r_t").queryExecution.analyzed
      def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val joined = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        plans.AsOfJoinPlan(lplan, rplan,
          Seq(attr(lplan, "sym")), Seq(attr(rplan, "r_sym")),
          Seq(attr(lplan, "t"), attr(lplan, "id")),
          Seq(attr(rplan, "r_t"), attr(rplan, "r_id"))))
      assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"))
      assert(joined.collect().map(r => (r.getLong(0), r.getLong(3))).toSeq === Seq((1L, 9L)))

      // and the interval-join strategy (extensions only, no install call)
      val pts = Seq(15L, 99L).toDF("us")
      val wins = Seq((1L, 10L, 20L)).toDF("win_id", "lo", "hi")
      val ptsPlan = pts.queryExecution.analyzed
      val winsPlan = wins.toDF("w_win_id", "w_lo", "w_hi").queryExecution.analyzed
      val tagged = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        plans.IntervalJoinPlan(ptsPlan, winsPlan,
          attr(ptsPlan, "us"), attr(winsPlan, "w_lo"), attr(winsPlan, "w_hi")))
      assert(tagged.queryExecution.executedPlan.toString.contains("IntervalJoin"))
      assert(tagged.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((15L, 1L)))
    } finally spark.stop()
  }
}
