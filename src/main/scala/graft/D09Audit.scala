package graft

import org.apache.spark.sql.functions._

/** d09 output-proportionality audit (r11 verdict #2): measures, per SF,
  * how much of the simhash band join's work is the ANSWER versus the
  * blocking scheme — band-join output rows (the pre-verify shuffle
  * volume), distinct colliding pairs, and post-verify true near-dup
  * pairs. d09's superlinear growth claim ("candidates densify with dup
  * structure, not with the join") becomes a recorded number instead of
  * a comment: if true pairs grow at least as fast as runtime, the cell
  * is output-proportional; if collisions dominate, the band layout is
  * the problem.
  *
  * r14 adds the CONTENT-RECALL columns the r13 verdict's acceptance
  * asks for: `gt_pairs` is the ground-truth near-dup population (pairs
  * with 3-gram jaccard ≥ 0.5 over hashed shingle sets — d04's truth,
  * computed via an inverted-index join, never all-pairs) and
  * `gt_caught` is how many of them d09's blocking + hamming ≤ 3 verify
  * finds. These make the sketch-input change (unigram → 3-gram
  * shingles) verifiable from the artifact: collision p per pair must
  * FALL while gt recall holds at the dup population the hamming tier
  * covers. Prints ONE `D09AUDIT {json}` line; optional 2nd arg writes
  * the json to a file (gate artifact).
  *
  * usage: runMain graft.D09Audit <sfDir> [outFile]
  */
object D09Audit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: D09Audit <sfDir> [outFile]")
    val sfDir = args(0)
    val spark = GraftSession.builder("graft-d09audit", "32").getOrCreate()
    try {
      val t0 = System.nanoTime()
      // d09's own sketch frame (120-bit sketch over 3-GRAM shingles,
      // 4×30-bit bands); every frame read twice is a transient frame
      val bandKey = "(CASE WHEN band < 2 THEN shiftright(sh_hi, band * 30) " +
        "ELSE shiftright(sh_lo, (band - 2) * 30) END) & 1073741823"
      val sh = operators.DedupOps.sketch120(spark, sfDir)
      val nDocs = sh.count()
      val bands = sh.select(col("doc_id"), col("sh_hi"), col("sh_lo"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("key", expr(bandKey))
      val joined = operators.OpUtils.transient(spark, "audit:joined",
        bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          (expr("bit_count(a.sh_hi ^ b.sh_hi)") +
            expr("bit_count(a.sh_lo ^ b.sh_lo)")).as("hamming")))
      val collisionRows = joined.count() // band-join output (incl. multi-band hits)
      // bucket-population profile: the collect_list skew guard's working
      // set (max members per (band, key)) and how the collision mass
      // spreads — the number that bounds the generator's per-bucket
      // triangle at any SF
      val bstats = bands.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("mx"), count(lit(1)).as("nb")).head()
      val (maxBucket, nBuckets) = (bstats.getLong(0), bstats.getLong(1))
      val candidatePairs = joined.select("a_id", "b_id").distinct().count()
      val truePairs = operators.OpUtils.transient(spark, "audit:true",
        joined.filter(col("hamming") <= 3).select("a_id", "b_id").distinct())
      val nTrue = truePairs.count()
      // the same candidate join over the DISTINCT sketch frame (the m18
      // exact-dedup-first move): how much of the collision volume is
      // identical sketches colliding with themselves copy × copy?
      val reps = operators.OpUtils.transient(spark, "audit:reps",
        sh.select(col("sh_hi"), col("sh_lo")).distinct())
      val nSketches = reps.count()
      val bandsD = reps.select(col("sh_hi"), col("sh_lo"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("key", expr(bandKey))
      val distinctCollisions = bandsD.as("a").join(bandsD.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            (col("a.sh_hi") < col("b.sh_hi") ||
              (col("a.sh_hi") === col("b.sh_hi") &&
                col("a.sh_lo") < col("b.sh_lo")))).count()
      // CONTENT ground truth (r14): pairs with 3-gram jaccard >= 0.5
      // over hashed shingle sets — d04's notion of near-dup, computed
      // with an inverted-index join on shared shingles (pairs that
      // share none never materialize), then exact |∩|/|∪| arithmetic.
      val g = Tables.documents(spark, sfDir)
        .select(col("doc_id"), array_distinct(graft.functions.GraftFunctions
          .gramHashes60(operators.OpUtils.words(col("text")), 3)).as("gs"))
        .filter(size(col("gs")) > 0)
        .select(col("doc_id"), size(col("gs")).as("ng"), explode(col("gs")).as("h"))
      val gt = operators.OpUtils.transient(spark, "audit:gt",
        g.as("a").join(g.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.ng").as("na"), col("b.ng").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")) >= 0.5)
        .select(col("a_id"), col("b_id")))
      val gtPairs = gt.count()
      val gtCaught = gt.join(truePairs, Seq("a_id", "b_id")).count()
      val secs = (System.nanoTime() - t0) / 1e9
      operators.OpUtils.releaseTransients(spark)
      val json =
        f"""{"sf_dir":"$sfDir","n_docs":$nDocs,"n_sketches":$nSketches,""" +
          f""""max_bucket":$maxBucket,"n_buckets":$nBuckets,""" +
          f""""collision_rows":$collisionRows,""" +
          f""""distinct_sketch_collisions":$distinctCollisions,""" +
          f""""candidate_pairs":$candidatePairs,"true_pairs":$nTrue,""" +
          f""""gt_pairs":$gtPairs,"gt_caught":$gtCaught,""" +
          f""""collisions_per_true_pair":${
            if (nTrue == 0) -1.0 else candidatePairs.toDouble / nTrue}%.2f,""" +
          f""""audit_secs":$secs%.2f}"""
      println(s"D09AUDIT $json")
      args.lift(1).foreach(p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"))
    } finally spark.stop()
  }
}
