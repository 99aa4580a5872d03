package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry, TempDirs}

/** d13's reason to exist, demonstrated: a small document embedded
  * verbatim in a large one has containment 1.0 but tiny Jaccard, so the
  * MinHash bands (Jaccard-tuned) never propose the pair — d12 misses it
  * by construction, and d13's duplicated-gram bucket path catches it.
  * The corpus is built so the gap is real, then both queries run over
  * it end-to-end (the same code paths the driver gates).
  */
class ContainmentRecallSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession =
    GraftSession.builder("containment-recall", "4").getOrCreate()

  test("small-in-large pair: invisible to d12's bands, caught by d13's gram buckets") {
    import spark.implicits._
    // 12-word doc embedded contiguously in the middle of a 200-word doc:
    // Jaccard(tiny, huge) ≈ 10/198 — far below any band-collision regime —
    // while containment(tiny in huge) = 1.0, the exact pair d13 exists for.
    val tiny = (1 to 12).map(i => s"tiny$i").mkString(" ")
    val fillerA = (1 to 94).map(i => s"fa$i").mkString(" ")
    val fillerB = (1 to 94).map(i => s"fb$i").mkString(" ")
    val huge = s"$fillerA $tiny $fillerB"
    val dir = tempDir("d13spec").toString
    Seq((1L, "en", tiny), (2L, "en", huge))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val d12 = SparkEntry.queries("d12_containment")(spark, dir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val d13 = SparkEntry.queries("d13_containment_complete")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))

    assert(!d12.contains((1L, 2L)),
      "the bands proposed the small-in-large pair — this corpus no longer demonstrates d12's gap")
    val hit = d13.find(r => r._1 == 1L && r._2 == 2L)
    assert(hit.nonEmpty,
      s"d13 missed the embedded pair; rows: ${d13.mkString(", ")}")
    // every 3-gram of the tiny doc appears in the huge doc
    assert(hit.get._3 == 1.0, s"expected cont_a 1.0, got ${hit.get}")
    // d13 is a superset of d12: the band candidates are unioned in
    assert(d12.subsetOf(d13.map(r => (r._1, r._2)).toSet),
      "d13 lost band-path pairs that d12 reports")
  }
}
