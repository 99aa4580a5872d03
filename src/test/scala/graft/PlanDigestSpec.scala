package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A query's digest is a function of its plan alone: neither running a
  * persisted store the plan reads nor the lambdas other queries built
  * may move it. */
class PlanDigestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("plan-digest-spec", "4").getOrCreate()

  test("a plan over a persisted store digests the same before and after the store runs") {
    val store = spark.range(0, 10000, 1, 4)
      .selectExpr("id", "id % 7 AS k").repartition(3, org.apache.spark.sql.functions.col("k"))
      .persist()
    try {
      def query = store.groupBy("k").count().queryExecution.optimizedPlan
      // the text is taken at once: a store's physical plan is one shared,
      // mutable object, which running the store finalizes
      val before = (PlanDigest.canonical(query), PlanDigest.digest(query))
      assert(before._1.contains("InMemoryRelation"))
      assert(store.count() === 10000)
      val after = (PlanDigest.canonical(query), PlanDigest.digest(query))
      assert(after._1 === before._1)
      assert(after._2 === before._2)
    } finally store.unpersist(blocking = true)
  }

  test("lambda variables are numbered by the plan, not by the lambdas built before it") {
    import org.apache.spark.sql.functions.{array, col, transform}
    def query = spark.range(3)
      .select(transform(array(col("id"), col("id") + 1), x => transform(array(x), y => x + y)))
      .queryExecution.optimizedPlan
    val first = PlanDigest.canonical(query)
    assert(first.contains("lambda x_0") && first.contains("lambda x_1"), first)
    spark.range(1).select(transform(array(col("id")), z => z + 1)).queryExecution.optimizedPlan
    assert(PlanDigest.canonical(query) === first)
  }
}
