package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** [[DedupOps.clusterLabels]]: the driver's synchronous min-label
  * propagation ([[DedupOps.hopLabels]]) against the doubling self-joins
  * it replaces below the pair bound ([[DedupOps.doublingLabels]]), on
  * random pair sets and on the real verified pairs, plus the chooser's
  * fallback past the bound. */
class ClusterLabelsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("cluster-labels-spec", "2").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def check(p: Prop, n: Int): Unit = {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20261020L))
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private def pairsFrame(ps: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ps.map { case (a, b) => Row(a, b) }: _*),
      org.apache.spark.sql.types.StructType.fromDDL("a_id BIGINT, b_id BIGINT"))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def driverPath(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Edges over local node indices `0 until n` of one component shape. */
  private val chain = Gen.choose(5, 12).map(h => (h + 1, (0 until h).map(i => (i, i + 1))))
  private val star = Gen.choose(2, 9).map(k => (k + 1, (1 to k).map(i => (0, i))))
  private val clique = Gen.choose(2, 6).map(k =>
    (k, for (i <- 0 until k; j <- i + 1 until k) yield (i, j)))
  private val sparse = for {
    n <- Gen.choose(2, 12)
    es <- Gen.listOfN(n + 2, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, es.filter { case (i, j) => i != j }.toIndexedSeq)

  /** One to four shapes on distinct random ids: pairs in random
    * orientation, some of them repeated (and some repeats flipped). */
  private val pairSets: Gen[Seq[(Long, Long)]] = for {
    shapes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf(chain, star, clique, sparse)))
    seed <- Gen.long
  } yield {
    val rnd = new Random(seed)
    val total = shapes.map(_._1).sum
    val ids = rnd.shuffle((1L to total * 4L).toVector).take(total).map(_ * 1000L + rnd.nextInt(1000))
    val offsets = shapes.map(_._1).scanLeft(0)(_ + _)
    val ps = shapes.zip(offsets).flatMap { case ((_, es), o) =>
      es.map { case (i, j) =>
        if (rnd.nextBoolean()) (ids(o + i), ids(o + j)) else (ids(o + j), ids(o + i))
      }
    }
    ps ++ ps.filter(_ => rnd.nextInt(4) == 0).map(p => if (rnd.nextBoolean()) p else p.swap)
  }

  test("driver propagation equals the doubling self-joins on random pair sets") {
    check(Prop.forAll(pairSets) { ps =>
      val df = pairsFrame(ps)
      val driver = DedupOps.labelsOf(spark, df, ps.size, "labels-spec")
      assert(driverPath(driver))
      rows(driver) == rows(DedupOps.doublingLabels(spark, df, "labels-spec"))
    }, 25)
    OpUtils.releaseTransients(spark)
  }

  test("a 5-hop chain keeps two labels: 1..5 label 1, and 6 labels 2") {
    val chain = (1L to 5L).map(i => (i, i + 1))
    val (ids, labels) = DedupOps.hopLabels(chain.map(_._1).toArray, chain.map(_._2).toArray)
    assert(ids.toSeq === (1L to 6L))
    assert(labels.toSeq === Seq(1L, 1L, 1L, 1L, 1L, 2L))
    assert(rows(DedupOps.labelsOf(spark, pairsFrame(chain.reverse), 100, "labels-spec")) ===
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 2L))
  }

  test("past the pair bound the labels come from the doubling self-joins") {
    val chain = (1L to 5L).map(i => (i, i + 1))
    val at = DedupOps.labelsOf(spark, pairsFrame(chain), 5, "labels-spec")
    val past = DedupOps.labelsOf(spark, pairsFrame(chain), 4, "labels-spec")
    assert(driverPath(at))
    assert(!driverPath(past))
    assert(past.schema === at.schema)
    assert(rows(past) === rows(at))
    OpUtils.releaseTransients(spark)
  }

  test("the verified pairs of the corpus label the same both ways") {
    val labels = DedupOps.clusterLabels(spark, sf)
    val joins = DedupOps.doublingLabels(spark,
      DedupOps.candidatePairs(spark, sf).select("a_id", "b_id"), "labels-spec")
    assert(driverPath(labels))
    assert(labels.schema === joins.schema)
    val got = rows(labels)
    assert(got.nonEmpty, "no verified pairs — vacuous corpus")
    assert(got === rows(joins))
    OpUtils.releaseTransients(spark)
  }
}
