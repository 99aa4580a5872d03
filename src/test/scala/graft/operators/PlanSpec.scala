package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry}

/** Plan-shape assertions: the properties that keep these queries fast at
  * 1000× the data are checked, not assumed. */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("plan-spec", "4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("p_size"), p)
    // pruned read schema: only the needed columns are decoded
    assert(p.contains("ReadSchema"), p)
    assert(!p.split("ReadSchema")(1).split("\n")(0).contains("p_retailprice"), p)
  }

  test("q05: all dimension joins broadcast — fact table never shuffles for a join") {
    val p = plan("q05_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only exchanges are the final aggregation + sort
    val exchanges = p.split("\n").count(l =>
      l.contains("Exchange") && !l.contains("Broadcast") && !l.contains("Reused"))
    assert(exchanges <= 2, s"unexpected shuffles:\n$p")
  }

  test("q01: aggregation is partial (map-side combine) before one shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    val shuffles = p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("q04 semi and q10 anti join plan as join operators, not subquery loops") {
    assert(plan("q04_order_priority_semi").contains("LeftSemi"))
    assert(plan("q10_anti_join").contains("LeftAnti"))
  }

  test("q36: the Q21 shape is one aggregation cascade — no joins at all") {
    // r14: the semi/anti self-join pair (3 lineitem scans, 12 exchanges)
    // was replaced by per-(order,supplier) → per-order aggregation;
    // EXISTS ⇔ n_supp ≥ 2, NOT EXISTS ⇔ n_failed = 1. Only the first
    // exchange carries full (order, supplier) cardinality.
    val p = plan("q36_sole_blame")
    assert(!p.contains("Join"), p)
    val scans = p.split("\n").count(_.contains("Scan parquet"))
    assert(scans === 1, s"lineitem must be scanned once:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("whole-stage codegen covers the relational hot paths") {
    // AQE prints codegen spans only in the final (executed) plan
    val df = SparkEntry.queries("q06_revenue_scan")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages render as "*(n) Operator"
    assert(p.contains("*(1)"), p)
  }

  test("s01: query side broadcasts against the corpus (no corpus shuffle)") {
    val p = plan("s01_knn_bruteforce")
    assert(p.contains("Broadcast"), p)
  }

  test("s03/s04: centroid build is a partial agg — no per-group lists, no explode") {
    for (name <- Seq("s03_label_centroids", "s04_ivf_search")) {
      val p = plan(name)
      assert(!p.contains("collect_list"), s"$name materializes per-group lists:\n$p")
      assert(!p.toLowerCase.contains("generate explode"), s"$name has a 64x row blowup:\n$p")
      assert(p.contains("HashAggregate"), p)
    }
  }

  test("q29: stratified sample is one scan + one small agg (map-side only)") {
    val p = plan("q29_stratified_sample")
    // the kept-row decision is a projection, never a shuffle of rows:
    // exactly the final aggregation exchange
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
    assert(!p.contains("Join"), p)
  }

  test("d07: clustering has no cartesian product and no per-group lists") {
    val p = plan("d07_neardup_clusters")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("collect_list"), p)
  }

  test("t04: fingerprint plan runs the native poly_hash inside codegen") {
    val df = SparkEntry.queries("t04_fingerprint")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("poly_hash") || p.toLowerCase.contains("polyhash"), p)
    // no interpreted HOF pipeline left on this path
    assert(!p.contains("aggregate(transform(sequence"), p)
  }

  test("t07/s06: per-row operators never shuffle rows (map + final sort only)") {
    for (name <- Seq("t07_repetition_ratio", "s06_embedding_quantize")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"), s"$name shuffles:\n$p")
      assert(!p.contains("Join"), s"$name joins:\n$p")
    }
  }

  test("d08: duplicated-span detection shuffles hashes, never text") {
    val p = plan("d08_substring_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // every hash exchange clusters on the md5 hash or doc_id — the text
    // column never appears downstream of the gram projection
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && shuffled.forall(l =>
      l.contains("h#") || l.contains("doc_id#")), p)
    assert(!shuffled.exists(_.contains("text#")), p)
  }

  test("p01: the whole curation pipeline is one pass + one hash shuffle, no joins") {
    val p = plan("p01_curated_corpus")
    assert(!p.contains("Join"), s"p01 joins:\n$p")
    // quality computes map-side; the only hash exchange is the 16-byte
    // md5 partitioning the dedup window runs in
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1, s"expected exactly one hash shuffle:\n$p")
    assert(shuffled.head.contains("h#"), s"dedup shuffle not keyed on the hash:\n$p")
    assert(!shuffled.head.contains("text#"), s"text rides the shuffle:\n$p")
  }

  test("p02: shard-parallel packing is one shuffle by shard, no joins") {
    val p = plan("p02_token_packing")
    assert(!p.contains("Join"), s"p02 joins:\n$p")
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1, s"expected exactly one hash shuffle:\n$p")
    assert(shuffled.head.contains("source#"), s"packing shuffle not keyed on shard:\n$p")
  }

  test("q32: grouping sets expand over the pre-aggregated leaf, not the scan") {
    // r14 (guide §2.3): Expand duplicates its input once per grouping
    // set — it must sit ABOVE the (flag, status) leaf aggregation
    // (~6 rows) rather than above the lineitem scan (every row ×2).
    // Shape: scan → partial agg → exchange → leaf agg → Expand →
    // grouping-sets agg pair. Two tiny exchanges beat one Expand'd
    // full-cardinality one.
    val p = plan("q32_grouping_sets")
    val lines = p.split("\n")
    val expandAt = lines.indexWhere(_.trim.matches("""\+?- Expand .*|.*\+- Expand \(\d+\)"""))
    assert(expandAt >= 0, p)
    // everything BELOW the Expand in the tree (printed after it in the
    // operator list) must already include a HashAggregate — i.e. the
    // Expand consumes aggregated rows, not scan rows
    assert(lines.drop(expandAt + 1).exists(_.contains("HashAggregate")), p)
    val shuffles = lines.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 2, p)
  }

  test("explicit broadcast hints only on bounded frames (dims or aggregates)") {
    // A forced broadcast() on an SF-proportional frame is a scale-killer:
    // correct at sf0.1, executor OOM at 100×. Allowed shapes: leaf scans
    // are all dimension tables (region/nation/supplier — fixed or
    // SF-sublinear cardinality), or the hinted subtree contains an
    // Aggregate (output bounded by its grouping keys, e.g. a 1-row max
    // or a k-centroid table).
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    SparkEntry.queries.foreach { case (name, fn) =>
      assertBoundedHints(name, fn(spark, sf).queryExecution.analyzed)
    }
  }

  test("streaming builders carry no broadcast hints on unbounded frames") {
    // The same scale rule applies to streaming plans — and a forced
    // broadcast there is WORSE, because a stream-static join re-plans
    // (and would re-broadcast) every micro-batch. These builders aren't
    // in SparkEntry.queries, so they get their own guard.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = MemoryStream[EventStreams.Event].toDF()
    val evDs = MemoryStream[EventStreams.Event].toDS()
    val docs = MemoryStream[(Long, Long, String)].toDF()
      .toDF("doc_id", "us", "text")
    val plans = Seq(
      "tumblingCounts" -> EventStreams.tumblingCounts(ev),
      "sessionize" -> EventStreams.sessionize(evDs).toDF(),
      "dedupStream" -> EventStreams.dedupStream(docs),
      "enrichedCounts" -> EventStreams.enrichedCounts(
        ev, graft.Tables.customer(spark, sf)),
      "ingestDedupStream" -> EventStreams.ingestDedupStream(
        docs, graft.Tables.documents(spark, sf)
          .select(org.apache.spark.sql.functions.unhex(
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.trim(
                org.apache.spark.sql.functions.col("text")))).as("h"))),
      "intervalTagStream" -> EventStreams.intervalTagStream(ev,
        Seq((1L, 0L, 300000000L)).toDF("win_id", "lo", "hi")),
      "qualityBandStream" -> EventStreams.qualityBandStream(docs))
    plans.foreach { case (name, df) =>
      assertBoundedHints(s"EventStreams.$name", df.queryExecution.analyzed)
    }
  }

  test("d11: eval grams broadcast — corpus side reaches the join unshuffled") {
    // AQE off so executedPlan is the full exchange-inserted tree (no
    // adaptive wrapper hiding the subtrees from collect)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ep = SparkEntry.queries("d11_decontaminate")(spark, sf)
        .queryExecution.executedPlan
      val bhj = ep.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"eval gram join is not broadcast:\n$ep")
      // the corpus (streamed) side must hit the join with zero
      // exchanges: every shuffle in the plan is above the join and so
      // carries only matched rows (∝ contamination, not corpus volume)
      val streamed = bhj.head.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.head.left
        case _ => bhj.head.right
      }
      val streamedShuffles =
        streamed.collect { case e: ShuffleExchangeLike => e }
      assert(streamedShuffles.isEmpty,
        s"corpus grams shuffled before the join:\n$ep")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d08/d11 share one gram pipeline (the cached 8-gram store)") {
    // The explode+md5 word-8-gram pass is the dominant CPU of the
    // exact-substring family at 100 TB; r5 ran it twice (d08 and d11
    // each re-derived it). The store makes it ONE cached pipeline:
    // d11 reads the exploded frame directly, d08 reads the per-(doc,
    // gram) pre-agg whose cached plan reads that same exploded frame.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scans(p: SparkPlan): Seq[InMemoryTableScanExec] = p.collect {
        case s: InMemoryTableScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.inputPlan) // cached plans registered under AQE wrap here
      }.flatten
      val d11Scans = scans(SparkEntry.queries("d11_decontaminate")(spark, sf)
        .queryExecution.executedPlan)
      val d08Scans = scans(SparkEntry.queries("d08_substring_dedup")(spark, sf)
        .queryExecution.executedPlan)
      assert(d11Scans.nonEmpty, "d11 corpus side does not read the cached gram store")
      assert(d08Scans.nonEmpty, "d08 does not read the cached gram store")
      val exploded = d11Scans.map(_.relation.cacheBuilder).toSet
      val viaAgg = d08Scans.flatMap(s => scans(s.relation.cachedPlan))
        .map(_.relation.cacheBuilder)
      assert(viaAgg.exists(exploded.contains),
        "d08's pre-agg store is not built from the same exploded gram frame d11 reads")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d08: the per-h window reuses the store's hash partitioning — no h re-shuffle") {
    // gram8Agg persists with HashPartitioning(h); the duplication
    // window must inherit it, leaving the per-doc rollup as the only
    // visible exchange. A second exchange means the cache scan lost
    // the partitioning and the biggest shuffle in the suite runs twice.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("d08_substring_dedup")(spark, sf)
        .queryExecution.executedPlan.toString
      // count only exchanges in the QUERY, not the cache-build shuffle
      // rendered inside the InMemoryRelation subtree (that one runs
      // once at store materialization, amortized across d08/d13)
      val query = p.split("InMemoryRelation")(0)
      val shuffles = query.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(shuffles === 1, s"expected only the doc_id rollup exchange:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d13: the gram-bucket self-join runs inside the store's h-partitioning") {
    // Candidate source B self-joins the (doc_id, h) store per h. Both
    // sides read the SAME cached frame, already HashPartitioning(h) —
    // a query-side exchange on h would mean the gram volume (the
    // dominant shuffle at 100 TB) moves again for the join. Everything
    // that's allowed to shuffle here is pair-sized: bands, candidate
    // ids, the gsets joins.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ep = SparkEntry.queries("d13_containment_complete")(spark, sf)
        .queryExecution.executedPlan
      val hShuffles = ep.collect {
        case e: ShuffleExchangeLike if (e.outputPartitioning match {
          case hp: HashPartitioning =>
            hp.expressions.exists(_.references.exists(_.name == "h"))
          case _ => false
        }) => e
      }
      assert(hShuffles.isEmpty,
        s"gram volume re-shuffled on h for the bucket join:\n$ep")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d17: line dedup shuffles line hashes, and both windows share one h exchange") {
    val p = plan("d17_line_dedup")
    assert(!p.contains("Join"), s"line dedup should be windows, not joins:\n$p")
    // 1 = repartition(h) (shared by the occurrence-count AND keep-first
    // windows), 2 = per-doc rollup; a third would mean the line volume
    // — the biggest frame in this plan — moved twice
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 2, s"windows did not share the h partitioning:\n$p")
    assert(!shuffled.exists(l => l.contains("text#") || l.contains("t#")),
      s"text rides a shuffle:\n$p")
  }

  test("t11: scoring is map-side — document rows never shuffle") {
    val p = plan("t11_dsir_weights")
    // the only hash exchanges are the two bounded (4096-key) feature
    // count aggregations; the per-doc score folds over broadcast maps
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 2, s"expected only the two bucket-count aggs:\n$p")
    assert(shuffled.forall(_.contains("b#")), s"a doc-row column rides a shuffle:\n$p")
    assert(!shuffled.exists(l => l.contains("doc_id#") || l.contains("text#")),
      s"doc rows shuffled:\n$p")
  }

  test("p04: the keep decision is a projection — doc rows reach the rollup unshuffled") {
    val p = plan("p04_domain_mixture")
    // exchanges: per-source count agg + final per-source rollup (both
    // keyed on source, both tiny); the rate table joins via broadcast
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"doc rows shuffled for the rate join:\n$p")
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.forall(_.contains("source#")),
      s"a non-source exchange moves doc rows:\n$p")
  }

  test("d16: centroid codebook folds map-side — no per-vector window or argmax shuffle") {
    val p = plan("d16_semantic_dedup")
    // assignment must NOT plan as crossJoin+window (that shuffles
    // corpus × k rows); the fold over the broadcast codebook keeps the
    // corpus side flat until the within-cell pair join
    assert(!p.contains("Window"), s"assignment planned as a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // every hash exchange is pair-join or verdict machinery on
    // (cell, sub) or vec_id — never an unblocked corpus self-join key.
    // label# is the centroid STORE build (20-row agg, runs once per
    // session, rendered inside the InMemoryRelation subtree).
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && shuffled.forall(l =>
      l.contains("cell#") || l.contains("vec_id#") || l.contains("label#")), p)
  }

  test("t09: repartition(wh) feeds the frequency window — two hash shuffles total") {
    val p = plan("t09_word_rarity")
    // 1 = repartition(wh) (reused by the window), 2 = per-doc rollup;
    // a third would mean the window re-shuffled what repartition built
    val shuffles = p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(shuffles === 2, s"window did not reuse the wh partitioning:\n$p")
    assert(!p.contains("Join"), s"frequency lookup should be a window, not a join:\n$p")
  }

  test("t13: vocab broadcasts — token rows partial-agg before the per-doc shuffle") {
    val p = plan("t13_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly: the vocab count agg (wh) + the per-doc rollup (doc_id);
    // the top-1000 cut is TakeOrdered (no extra exchange), and tokens
    // must never shuffle as rows
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"token rows crossed the wire:\n$p")
  }

  test("t14: df agg is two-phase partial — the Zipf head never concentrates") {
    val p = plan("t14_doc_freq")
    // within-doc dedup + map-side partial agg mean the only
    // hashpartitioning exchange is the (wh) df rollup; the 1-row total
    // broadcasts; the top-500 cut is TakeOrdered (no sort shuffle)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1, s"posting lists crossed the wire as rows:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p06: funnel — eval grams + rate table broadcast; gram store reused; no NLJ") {
    val p = plan("p06_curation_funnel")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested-loop is the sanctioned 1-row broadcast total that
    // builds the rate table (p04's shape); nothing may be cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(p.split("BroadcastNestedLoopJoin").length <= 2, p)
    // the contamination stage must read the SHARED 8-gram store, not a
    // p06-private explode+md5 rerun
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("s09: PQ encode folds the broadcast codebook map-side — no SMJ, no explode") {
    val p = plan("s09_pq_search")
    // codebook and query tables broadcast; the corpus side never
    // sort-merge-joins, and encoding is a fold, not a 10x row blowup
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.toLowerCase.contains("generate explode"), p)
  }

  test("q39: one user repartition feeds the distinct agg AND the cohort window") {
    val p = plan("q39_retention_cohorts")
    // HashPartitioning(user_id) satisfies the (user_id, week) distinct
    // (subset clustering) and the per-user min window — so exactly two
    // hash exchanges: the user repartition and the tiny cohort rollup
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 2, s"cohort pipeline re-shuffled:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("t15: growth curve — one fixed-width (wh, min) shuffle plus the 10-row rollup") {
    val p = plan("t15_vocab_growth")
    assert(!p.contains("SortMergeJoin"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"gram rows crossed the wire:\n$p")
  }

  test("q38: the range join runs as a broadcast EQUI-join on bins, not an NLJ") {
    // the whole point of the bin-bucketed formulation: a time-range
    // predicate with no equi-key must NOT plan as O(events × windows)
    val p = plan("q38_interval_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p05: the prefilter sits below the stratum window; corpus join is broadcast") {
    // the window must rank ~2·quota survivors per stratum, not the
    // corpus — so the hv·n_docs prefilter has to run BEFORE the window
    val p = plan("p05_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // Catalyst folds the hv·n_docs prefilter into the broadcast-join
    // condition itself — find the predicate anywhere below the Window
    val lines = p.split("\n")
    val winIdx = lines.indexWhere(_.contains("Window"))
    val filtIdx = lines.indexWhere(_.contains("80000000"))
    assert(winIdx >= 0 && filtIdx > winIdx,
      s"prefilter not below the window (win=$winIdx filt=$filtIdx):\n$p")
    // Spark's window-group-limit additionally prunes to top-quota
    // per partition BEFORE the stratum exchange — keep that visible
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("s10: centroid table broadcasts; per-label top-k bounded pre-exchange") {
    val p = plan("s10_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the 10 hot label partitions must never receive the corpus: each
    // map partition forwards at most k rows per label
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("s08: only the brute-truth arm pays a corpus NLJ; the LSH arm hash-joins") {
    val p = plan("s08_recall_eval")
    val nlj = p.split("\n").count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 1, s"corpus-side NLJ leaked beyond the brute arm:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d19: the union sketch folds as map-side MIN partials; no text on exchanges") {
    val p = plan("d19_source_similarity")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
    // one source-keyed agg (its exchange may be reused for both join sides)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"d19 shuffles beyond the source agg:\n$p")
    assert(!p.split("\n").filter(_.contains("Exchange"))
      .exists(_.contains("text#")), s"text crosses the wire:\n$p")
  }

  test("s11: the inverted-list probe is a broadcast equi-join; top-k bounded pre-exchange") {
    val p = plan("s11_ivfpq_search")
    assert(!p.contains("SortMergeJoin"), p)
    // one cell per query: codes meet the query tables on label equality
    assert(p.contains("BroadcastHashJoin"), p)
    // per-query top-10 prunes per map partition BEFORE the q_id exchange
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("p07: chunk generation is map-side only — text never shuffles, no join") {
    val p = plan("p07_doc_chunks")
    assert(!p.contains("Exchange hashpartitioning"), s"p07 shuffles:\n$p")
    assert(!p.contains("Join"), s"p07 joins:\n$p")
  }

  test("t16: LM scoring shuffles hash longs only; no text on any exchange") {
    val p = plan("t16_bigram_lm")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty, p)
    assert(!shuffled.exists(_.contains("text#")), s"text crosses the wire:\n$p")
    assert(shuffled.forall(l =>
      l.contains("bh#") || l.contains("ph#") || l.contains("doc_id#")), p)
    // count tables build as two-phase hash aggs (map-side partials
    // neutralize the Zipf head before the exchange)
    assert(p.contains("HashAggregate"), p)
  }

  test("p08: one source-keyed agg; totals broadcast — doc rows never join") {
    val p = plan("p08_epoch_plan")
    assert(!p.contains("SortMergeJoin"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"p08 shuffles more than the source agg:\n$p")
  }

  test("q40: compaction is ONE partial-agg shuffle — no per-user window, no sort of rows") {
    val p = plan("q40_latest_compaction")
    assert(!p.contains("Window"), s"q40 fell back to a window plan:\n$p")
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
    // max_by is partial-aggregable: a partial aggregate must sit below
    // the exchange (map-side combine of the current-best per user)
    assert(p.contains("partial_max_by") || p.contains("partial_maxby")
      || p.toLowerCase.contains("partial"), p)
  }

  test("q41: the global total is a 1-row broadcast — no correlated re-scan, no SMJ") {
    val p = plan("q41_value_share")
    assert(!p.contains("SortMergeJoin"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, s"q41 shuffles beyond the two aggs:\n$p")
  }

  test("t17: lexical diversity is map-side only — distinct counting never shuffles") {
    val p = plan("t17_lexical_diversity")
    assert(!p.contains("Exchange hashpartitioning"), s"t17 shuffles:\n$p")
    assert(!p.contains("Join"), s"t17 joins:\n$p")
  }

  test("t18: tf stays inside the row; df head broadcasts; top-3 bounded pre-exchange") {
    val p = plan("t18_keyword_tfidf")
    // tf = counted filter over the token array — no (doc, word) agg
    // before the join, so the only row-bearing exchange is the window's
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("p09: shuffle-shard plan is one shard-keyed exchange of (id, hash) pairs") {
    val p = plan("p09_shuffle_shards")
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
    assert(!p.contains("Join"), p)
    // no global total-order pass before the window: the only range
    // partitioning is the final presentation sort
    val ranges = p.split("\n").count(_.contains("Exchange rangepartitioning"))
    assert(ranges <= 1, p)
  }

  test("s13: both cascade windows share one q_id exchange; limits bound pre-exchange") {
    val p = plan("s13_cascade_rerank")
    assert(p.contains("WindowGroupLimit"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, s"s13 re-shuffles between cascade passes:\n$p")
  }

  test("s12: range search is a bucket-keyed hash join — corpus rows never shuffle") {
    val p = plan("s12_range_search")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), s"s12 shuffles rows:\n$p")
  }

  test("q42: prospects — scalar broadcast, anti join, date filter pushed to the scan") {
    val p = plan("q42_prospect_customers")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
  }

  test("q43: the rank audit joins the tiny per-group sketch frame back by broadcast") {
    val p = plan("q43_approx_quantiles")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m10: the image gate is decode + projection — zero joins, zero row shuffles") {
    val p = plan("m10_image_size_filter")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("d21: eval grams broadcast with attribution — corpus still unshuffled to the join") {
    val p = plan("d21_contamination_report")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exchanges carry only hit pairs / rollup keys, never document text
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")), p)
  }

  test("m11: the pair gate joins the bounded dims frame — no SMJ, no cartesian") {
    val p = plan("m11_pair_gate")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s14: health sheet — no per-group lists; centroid NN is a broadcast self-join") {
    val p = plan("s14_embedding_health")
    assert(!p.contains("collect_list"), p)
    assert(!p.toLowerCase.contains("generate explode"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d22: the tuning sheet is a projection over the verified pair list — no pow()") {
    val p = plan("d22_lsh_tuning")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.toUpperCase.contains("POWER("), p)
    assert(!p.contains("POW("), p)
  }

  test("q44: unpivot is a map-side Expand — no shuffle beyond the wide aggregate") {
    val p = plan("q44_unpivot_metrics")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("q45: decay weights are integer shifts — one agg shuffle, 1-row time broadcast") {
    val p = plan("q45_trending_decay")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.toUpperCase.contains("POWER(") && !p.contains("EXP("), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, p)
  }

  test("s15: filtered search equi-joins the label list; top-k bounded pre-exchange") {
    val p = plan("s15_filtered_knn")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("p10: the dataset card is one pass — aggregations only, no joins") {
    val p = plan("p10_dataset_card")
    assert(!p.contains("Join"), p)
    assert(p.contains("Expand"), p) // the exact multi-distinct expand
  }

  test("q47: native session windows — one user shuffle into the merging agg") {
    val p = plan("q47_session_native")
    assert(p.contains("MergingSessions"), p)
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, s"expected only the user_id exchange:\n$p")
  }

  test("q48: deciles come from the histogram — orders contribute one partial agg") {
    val p = plan("q48_price_deciles")
    assert(!p.contains("Join"), p)
    // hist groupBy + the priority re-key for the windows; the final
    // (priority, decile) rollup rides the priority partitioning
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, p)
    assert(p.contains("partial_count"), p) // map-side combine at the scan
  }

  test("q49: one custkey exchange feeds the gap window AND the rollup") {
    val p = plan("q49_order_gaps")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("d23: prefix dedup shuffles 16-byte keys once — no join, text map-side") {
    val p = plan("d23_prefix_dedup")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("d24: soft weights — label joins are hash/broadcast, never cartesian") {
    val p = plan("d24_soft_dedup_weights")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s16: masks fold map-side; the 10-query set broadcasts; top-k bounded") {
    val p = plan("s16_binary_hamming")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, s"expected only the q_id window exchange:\n$p")
  }

  test("t19: novelty window reuses the gram store's h-partitioning") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("t19_gram_novelty")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("InMemoryRelation"), p) // the SHARED 8-gram store
      val query = p.split("InMemoryRelation")(0)
      val shuffles = query.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(shuffles === 1, s"expected only the doc_id rollup exchange:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("t20: length spectrum is a two-phase distinct agg — no join") {
    val p = plan("t20_word_length_profile")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, p)
  }

  test("p11: curriculum phases map-side; one (phase, shard) exchange") {
    val p = plan("p11_quality_curriculum")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("s17: only the truth arm pays a corpus NLJ; candidates hash-join on (t, bucket)") {
    val p = plan("s17_mips_lsh")
    // the persisted candidate cache renders its subtree once per
    // consumer, and its filled AQE plan renders each node twice (final
    // plan with its codegen stage id, then initial plan) — count
    // DISTINCT nested-loop nodes, not renderings
    val nlj = p.split("\n")
      .filter(l => l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      .map(_.replaceAll("^[\\s:+|-]+", "").replaceAll("^\\*\\(\\d+\\) ", "")).distinct.length
    assert(nlj <= 2, p) // brute-force truth + the 1-row M² broadcast
    // (truth ⟕ top-3 may SMJ in the static plan — both sides are
    // query-sample-sized aggregates; AQE converts it at runtime)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("t21: head cut is TakeOrdered over the persisted count frame — no full sort") {
    val p = plan("t21_head_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("InMemoryRelation"), p) // counts materialized once
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q50: basket pairs build map-side from per-order arrays — no self-join") {
    val p = plan("q50_basket_pairs")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 2, p) // orderkey group + pair rollup
    // r12: the pair triangle is the native lazy generator, not the
    // interpreted nested-transform array build
    assert(p.contains("Generate value_pairs"), p)
  }

  test("q51: the growth lag window runs over the bounded (tier, month) agg") {
    val p = plan("q51_revenue_growth")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 2, p) // fact agg + the bounded window re-key
  }

  test("t22: readability is a pure map-side projection — zero shuffles, no join") {
    val p = plan("t22_readability")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("t23: zipf head cut is TakeOrdered — never a full sort of the gram counts") {
    val p = plan("t23_zipf_curve")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p12: split verdicts are map-side against a broadcast 1-row bounds agg") {
    val p = plan("p12_temporal_split")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d25: threshold sweep reads the persisted pair stores — no new text scan") {
    val p = plan("d25_threshold_sweep")
    // the only nested-loop is the 6-row literal threshold cross
    val nlj = p.split("\n")
      .filter(l => l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
      .map(_.replaceAll("^[\\s:+|-]+", "")).distinct.length
    assert(nlj <= 1, p)
    assert(p.contains("LocalTableScan") || p.contains("InMemoryRelation"), p)
  }

  test("s18: per-query top-3 and vote windows are WindowGroupLimit-bounded") {
    val p = plan("s18_knn_classify")
    assert(p.contains("WindowGroupLimit"), p)
    // the query side must carry an ABSOLUTE literal cap: a proportional
    // sample (pmod-style) theta-joined with the corpus is O(n²) at
    // scale (r7 verdict #4). The bound reaches the scan as a pushed
    // LessThan, visible as a literal comparison in the plan.
    assert("vec_id#\\d+L? < 100".r.findFirstIn(p).isDefined ||
      p.contains("LessThan(vec_id,100)"), p)
  }

  test("s19: assignment is a map-side fold — no per-vector window, no SMJ") {
    val p = plan("s19_kmeans_step")
    assert(!p.contains("Window"), p) // argmax happens inside the row
    assert(!p.contains("SortMergeJoin"), p)
    // the persisted codebook renders its build subtree once per consumer
    // (with per-rendering expr-ids), so pin semantics instead of counting
    // renderings: exactly one cell rollup; every other hash exchange must
    // be the label-keyed cached codebook build
    val hp = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hp.count(_.contains("hashpartitioning(cell")) === 1, p)
    assert(hp.forall(l => l.contains("hashpartitioning(cell") ||
      l.contains("hashpartitioning(label")), p)
  }

  test("q52: bucketed scans co-locate the join — zero exchange on either side") {
    val p = plan("q52_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("Bucketed: true"), p)
    // the only hash exchange is the 5-key priority rollup AFTER the join
    val shuffles = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffles.length === 1, p)
    assert(shuffles.forall(_.contains("o_orderpriority")), p)
    // both scans read all 8 buckets as co-located partitions; the SMJ's
    // Sorts are partition-LOCAL (no exchange) — modern Spark ignores the
    // on-disk bucket sort order without the legacy flag, and a local
    // sort of one bucket is the cheap part at any scale
    assert(p.contains("SelectedBucketsCount: 8 out of 8"), p)
  }

  test("q53: the salt is a join key and the hot side is never broadcast") {
    val p = plan("q53_salted_join")
    val smj = p.split("\n").filter(_.contains("SortMergeJoin"))
    assert(smj.nonEmpty && smj.head.contains("fsalt") && smj.head.contains("dsalt"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // replication is map-side explode of a literal: no extra exchange for it
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 3, p) // two join sides + final rollup
  }

  test("q54: change filter preserves partitioning — both windows share one shuffle") {
    val p = plan("q54_scd2_history")
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
    assert(!p.contains("Join"), p)
    // second window (lead) must not re-sort the change rows
    assert(p.split("\n").count(_.trim.startsWith("+- Sort")) <= 2, p)
  }

  test("s20: covariance folds into one native buffer — no explode, no hash shuffle") {
    val p = plan("s20_embedding_covariance")
    // r10 verdict #2: the ×2080 struct explode is gone — each vector
    // folds into cov_triangle_agg's single 2145-long partial state
    assert(p.contains("cov_triangle_agg"), p)
    assert(!p.toLowerCase.contains("explode"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    // the only exchange gathers the per-partition buffers (single
    // partition), then the constant 2080-cell local index fans out
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("p13: sample keys are map-side; the per-language rank retains k rows per partition") {
    val p = plan("p13_priority_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("t24: the CMS folds partially map-side — fixed sketch state, not words, shuffles") {
    val p = plan("t24_heavy_hitters")
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass before its exchange: each partition ships one
    // 4×4096-counter buffer regardless of corpus size
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_cms_agg"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q55: sliding windows expand map-side (constant fan-out), one rollup shuffle") {
    val p = plan("q55_sliding_velocity")
    assert(!p.contains("Join"), p)
    // the 2-slide expansion is an Expand/Generate BELOW the partial agg
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("m13: container walk shuffles no rows — video bytes stay in the partition") {
    val p = plan("m13_video_length_gate")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q56: top-20 is TakeOrdered over the customer agg; nation broadcasts") {
    val p = plan("q56_returned_items")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q57: the per-part argmin is a hash aggregate with map-side partials — no window sort") {
    val p = plan("q57_cheapest_supplier")
    // r14: argmin_dl buffers two primitives, so the argmin rides
    // HashAggregate (partial + final) — the old rank-1 window paid a
    // full map-side sort on the 5-key ordering tuple even with
    // WindowGroupLimit bounding the exchange
    assert(p.contains("partial_argmin_dl"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q58: supplier/nation/region collapse to one broadcast build — facts shuffle once each") {
    val p = plan("q58_market_share")
    assert(p.contains("BroadcastHashJoin"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    // lineitem + orders sides of the key join, plus the bounded year agg
    assert(shuffles <= 3, p)
  }

  test("s21: both pair sides carry the absolute 200-vector cap; cosines compute once") {
    val p = plan("s21_similarity_histogram")
    assert("vec_id#\\d+L? < 200".r.findFirstIn(p).isDefined ||
      p.contains("LessThan(vec_id,200)"), p)
    // the whole pair pipeline lives INSIDE the persisted histogram's
    // build plan — the total agg must read the cache, not re-cross
    assert(p.contains("InMemoryRelation"), p)
    assert(!p.split("InMemoryRelation")(0).contains("cosinesimilarity"), p)
  }

  test("s22: argmax is in-row over the broadcast codebook — no window, one corpus pass") {
    val p = plan("s22_ivf_balance")
    assert(!p.contains("Window"), p) // assignment folds inside the row
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("InMemoryRelation"), p)
    assert(!p.split("InMemoryRelation")(0).contains("embeddings.parquet"), p)
  }

  test("t25: one corpus pass — the band frame persists; totals read the cache") {
    val p = plan("t25_quality_bands")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("InMemoryRelation"), p)
    // no corpus scan above the cached band frame (inlining = 2 passes)
    assert(!p.split("InMemoryRelation")(0).contains("documents.parquet"), p)
  }

  test("p14: corpus scanned once into the persisted per-source frame; totals broadcast") {
    val p = plan("p14_token_budget")
    assert(p.contains("InMemoryRelation"), p) // transient-persisted source frame
    assert(!p.contains("SortMergeJoin"), p)
    // every documents scan lives INSIDE the cached frame's build plan —
    // the query above it must not re-scan the corpus
    val above = p.split("InMemoryRelation")(0)
    assert(!above.contains("documents.parquet"), p)
  }

  test("m14: dims-only rows reach the 3-row bucket agg — no join, no image bytes") {
    val p = plan("m14_aspect_buckets")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("q59: ship-year filter reaches the lineitem scan; priority split is one agg") {
    val p = plan("q59_priority_shipping")
    assert(p.contains("PushedFilters"), p)
    assert(p.split("PushedFilters").exists(s =>
      s.take(400).contains("l_shipdate")), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 3, p) // two key-join sides + the 2-row status agg
  }

  test("q60: part joins as an equi-join (AQE-replannable), never a loop join") {
    val p = plan("q60_promo_revenue")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.split("PushedFilters").exists(s =>
      s.take(400).contains("l_shipdate")), p)
  }

  test("q61: the >300 HAVING survivors become the join build side, never the probe") {
    val p = plan("q61_large_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q62: the 2-nation supplier slice broadcasts into lineitem") {
    val p = plan("q62_trade_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d26: trend shuffles line hashes and the 10-row decile partials — never text") {
    val p = plan("d26_dup_trend")
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
    assert(shuffled.length <= 2, p) // repartition(h) + decile agg
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("s23: probe carries the absolute 200 cap; top-3 bounded; edges read the cache") {
    val p = plan("s23_knn_graph")
    assert("vec_id#\\d+L? < 200".r.findFirstIn(p).isDefined ||
      p.contains("LessThan(vec_id,200)"), p)
    assert(p.contains("WindowGroupLimit"), p)
    // the pair pipeline lives inside the persisted top-3 frame — the
    // mutual-edge self-join must read the cache, not re-cross the probe
    assert(p.contains("InMemoryRelation"), p)
    assert(!p.split("InMemoryRelation")(0).contains("cosinesimilarity"), p)
  }

  test("s24: hub in-degree aggregates the bounded top-3 edges; top-20 is TakeOrdered") {
    val p = plan("s24_ann_hubness")
    assert("vec_id#\\d+L? < 200".r.findFirstIn(p).isDefined ||
      p.contains("LessThan(vec_id,200)"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t26: char classes count map-side — one source shuffle of integer partials") {
    val p = plan("t26_char_classes")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("p15: the source shuffle feeds both the packing window and the rollup") {
    val p = plan("p15_pack_efficiency")
    assert(!p.contains("Join"), p)
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles === 1, p)
  }

  test("m15: scene cuts fold where the bytes sit — zero row shuffles, no join") {
    val p = plan("m15_scene_cuts")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  // ---- r9 backfill: the nine operators that landed in r8's snapshot
  // commit with no guards (r8 verdict "What's wrong #2") ----

  test("q63: returned-lines EXISTS plans as a semi join with both filters pushed") {
    val p = plan("q63_order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the quarter slice reaches the orders scan, the returnflag slice
    // the lineitem scan — neither side scans full-width
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q64: zero-order customers survive (LeftOuter); one custkey + one histogram shuffle") {
    val p = plan("q64_customer_distribution")
    assert(p.contains("LeftOuter"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length <= 2, p)
    assert(shuffled.forall(l => l.contains("c_custkey#") || l.contains("c_count#")), p)
  }

  test("q65: both lineitem passes shuffle on the one partkey; brand rollup is the only other exchange") {
    val p = plan("q65_small_qty_revenue")
    assert(!p.contains("CartesianProduct"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty &&
      shuffled.forall(l => l.contains("partkey#") || l.contains("p_brand#")), p)
  }

  test("q66: the share gate is a 1-row broadcast over the partkey agg; products are DECIMAL(38,0)") {
    val p = plan("q66_part_value_share")
    // the global (total, count) crosses the cluster once as a 1-row
    // IdentityBroadcast — the bounded BNLJ every other guard forbids
    // is exactly right here
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Exchange SinglePartition"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.forall(_.contains("l_partkey#")), p)
    // no BIGINT headroom cliff: the gate and ppm multiply in decimal
    assert(p.contains("as decimal(38,0))"), p)
  }

  test("d27: source-pair probes join inside the persisted rollup — no exchange between cache and join") {
    val p = plan("d27_cross_source_lines")
    assert(p.contains("InMemoryRelation"), p)
    // the ONLY ENSURE_REQUIREMENTS hash exchange is the bounded
    // (src_a, src_b) pair rollup; the h-clustering exchange lives
    // INSIDE the cached build (REPARTITION_BY_COL) and is not re-paid
    // by the join
    val ensure = p.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(ensure.nonEmpty &&
      ensure.forall(l => l.contains("src_a#") && l.contains("src_b#")), p)
    assert(!p.split("\n").exists(l => l.contains("Exchange") && l.contains("text#")), p)
  }

  test("s25: both argmax passes are map-side folds over broadcast codebooks; no window, no re-scan above the cache") {
    val p = plan("s25_kmeans_churn")
    assert(p.contains("InMemoryRelation"), p)
    assert(p.contains("IdentityBroadcastMode"), p)
    // assignment is the order-independent fold, never a per-vector window
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the churn rollup reads the persisted pass-1 assignments — no
    // parquet scan above the first cache boundary
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
  }

  test("t27: dup-gram profile computes inside the row — zero shuffles, zero joins") {
    val p = plan("t27_dup_gram_profile")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    // r10: the whole profile is the native one-pass expression over the
    // words array — neither the O(g²) exists-over-slice HOF nor the
    // gram-array materialization (transform+concat_ws) may reappear
    assert(p.contains("dup_gram_profile"), p)
    assert(!p.contains("exists(slice"), p)
    assert(!p.contains("concat_ws"), p)
  }

  test("m16: channel sums decode in-partition; only 7-BIGINT partials ride the one source shuffle") {
    val p = plan("m16_channel_norm")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1 && shuffled.head.contains("source#"), p)
  }

  test("p16: shard manifest is one pass — map-side partials into a 16-row shuffle, no join") {
    val p = plan("p16_shard_manifest")
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1 && shuffled.head.contains("shard#"), p)
  }

  test("d09: bucket key carries the 30-bit band mask; sketch and pair loop are native") {
    val p = plan("d09_simhash_band_pairs")
    // the r12 verdict #1 fix: band keys are 30-bit (1073741823 mask),
    // keyspace 2^30/band — the 15-bit keyspace (32767) had MEASURED
    // ~quadratic collision mass, and the original 4-bit nibble (& 15)
    // made candidates O(n²/16)
    assert(p.contains("1073741823"), p)
    assert(!p.contains("& 32767"), p)
    // r12: bucket-and-generate replaced the banded self-join — the
    // candidate triangle is the native hamming_pairs generator over
    // each (band, key) bucket (verify in-loop, still before the
    // distinct's exchange). The ONLY join is the r13 collect_list skew
    // guard: over-cap band buckets broadcast into a left_anti.
    assert(p.split("\n").count(_.contains("Join")) === 1, p)
    assert(p.split("\n").exists(l => l.contains("Broadcast") && l.contains("LeftAnti")), p)
    assert(p.contains("Generate hamming_pairs"), p)
    // the sketch is the one-pass native expression, not the 60-pass HOF
    assert(p.contains("simhash120"), p)
    assert(!p.contains("aggregate(transform(sequence"), p)
    // exchanges move (band, key, id, sketch) / pair rows — never text
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")), p)
    assert(shuffled.exists(l => l.contains("band#") && l.contains("key#")), p)
  }

  // ---- r9 sweep: new operators land WITH their guards ----

  test("q67: quantity envelope and part-arm disjunction both push to the scans") {
    val p = plan("q67_disjunctive_revenue")
    // the hand-hoisted qty envelope reaches the lineitem scan…
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), p)
    assert(p.contains("LessThanOrEqual(l_quantity,30.0)"), p)
    // …and the brand/size disjunction prunes the part dim at ITS scan
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q68: anti join's build side shrinks at the orders scan; gate is a 1-row broadcast") {
    val p = plan("q68_idle_customers")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,2000-01-01"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("as decimal(38,0))"), p)
  }

  test("q69: one suppkey shuffle; the max gate crosses back as a broadcast, never a window") {
    val p = plan("q69_top_supplier")
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.forall(_.contains("suppkey#")), p)
    assert(p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"), p)
  }

  test("d28: keeper election is an agg over the bounded label frame — no cartesian, no per-group lists") {
    val p = plan("d28_cluster_keeper")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("collect_list"), p)
    // quality computes map-side; text never rides an exchange
    assert(!p.split("\n").exists(l => l.contains("Exchange") && l.contains("text#")), p)
  }

  test("s26: both rankings are WindowGroupLimit-bounded over ONE persisted pair frame") {
    val p = plan("s26_matryoshka_recall")
    assert("vec_id#\\d+L? < 200".r.findFirstIn(p).isDefined ||
      p.contains("LessThan(vec_id,200)"), p)
    assert(p.split("WindowGroupLimit").length - 1 >= 2, p)
    assert(p.contains("InMemoryRelation"), p)
    // no cosine computed above the cache boundary — both windows and
    // the overlap join read the persisted frame
    assert(!p.split("InMemoryRelation")(0).contains("cosinesimilarity"), p)
  }

  test("s27: one corpus pass into the persisted half-centroid frame; the drift join reads the cache") {
    val p = plan("s27_centroid_drift")
    assert(p.contains("InMemoryRelation"), p)
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
    assert(!p.contains("Window"), p)
  }

  test("t28: footer counts shuffle (source, hash) partials then the bounded footer table — never text") {
    val p = plan("t28_footer_boilerplate")
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length <= 2, p)
    assert(!shuffled.exists(_.contains("text#")), p)
  }

  test("p17: the corpus scans ONCE into the persisted 16-row shard frame; total is a 1-row broadcast") {
    val p = plan("p17_shard_skew")
    assert(p.contains("InMemoryRelation"), p)
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q70: the PROMO slice prunes part at its scan; dims broadcast; only the rollup hash-shuffles") {
    val p = plan("q70_product_profit")
    assert(p.contains("EqualTo(p_type,PROMO)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // at this SF every join build broadcasts, so the single hash
    // exchange is the (nation, year) rollup; at scale AQE owns the
    // orders-side strategy
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.forall(l => l.contains("n_name#") || l.contains("nation#")), p)
  }

  test("m17: validation runs on the RDD partition; only verdict rows reach the source rollup") {
    val p = plan("m17_corrupt_audit")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1 && shuffled.head.contains("source#"), p)
  }

  // ---- r10 sweep: new operators land WITH their guards ----

  test("q71: complaint set anti-joins broadcast; part predicates push to its scan; pairs distinct once") {
    val p = plan("q71_part_supplier_variety")
    // the tiny negative-balance supplier set must never shuffle the fact
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // segment predicates prune part at ITS scan, not post-join
    assert(p.contains("Not(EqualTo(p_brand,Brand#15))"), p)
    assert(p.contains("Not(StringStartsWith(p_ty"), p)
    // the supplier-part relation distincts on (partkey, suppkey) BEFORE
    // anything else — lineitem's other columns never reach an exchange
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.forall(l => !l.contains("l_quantity") && !l.contains("l_extendedprice")), p)
  }

  test("q72: both date slices aggregate with pushed scan bounds; the merge re-groups partials, no join") {
    val p = plan("q72_partial_agg_merge")
    assert(p.contains("Union"), p)
    assert(!p.contains("Join"), p)
    // each slice's shipdate bound reaches its own parquet scan — at
    // scale these are partition-pruned incremental reads
    assert(p.contains("LessThan(l_shipdate,1998-01-01"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1998-01-01"), p)
    // the merge is a re-aggregation of slice partials (sum-of-counts),
    // never a rescan: exactly the two slice scans exist
    assert(p.split("lineitem.parquet").length - 1 === 2, p)
    assert(p.contains("sum(n_lines"), p)
  }

  test("d29: one documents scan feeds both distinct tiers; no text column on any exchange") {
    val p = plan("d29_normalized_dedup")
    assert(!p.contains("Join"), p)
    // both hash distincts ride one Expand over ONE corpus scan
    assert(p.contains("Expand"), p)
    assert(p.split("documents.parquet").length - 1 === 1, p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
  }

  test("t29: grams leave the doc as 60-bit longs; occurrences shuffle once, the rollup re-groups counts") {
    val p = plan("t29_unique_gram_mass")
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    // (source, h) count shuffle + source rollup of the counted gram table
    assert(shuffled.length === 2, p)
    assert(!shuffled.exists(_.contains("text#")), p)
    assert(p.split("documents.parquet").length - 1 === 1, p)
  }

  test("s28: every top-k is WindowGroupLimit-bounded pre-exchange; the nprobe fan-out is a 3-row literal") {
    val p = plan("s28_nprobe_recall")
    assert(p.contains("WindowGroupLimit"), p)
    // the fan-out joins a LocalTableScan literal, never a corpus frame
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
    // no unbounded window: every Window sits above a WindowGroupLimit
    val lines = p.split("\n")
    lines.zipWithIndex.filter(_._1.trim.startsWith("+- Window ")).foreach {
      case (_, i) => assert(lines.drop(i + 1).take(3)
        .exists(_.contains("WindowGroupLimit")), p)
    }
  }

  test("s29: distortion is map-side per vector; one label shuffle, no joins") {
    val p = plan("s29_quant_distortion")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1 && shuffled.head.contains("label#"), p)
    assert(p.split("embeddings.parquet").length - 1 === 1, p)
  }

  test("p18: one corpus scan into the persisted mixture frame; rollups broadcast back; worst-source window is bounded") {
    val p = plan("p18_shard_mixture")
    // the persist barrier: no parquet scan above the first cache boundary
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // doc rows never reach the window: only the counted (shard, source)
    // frame does, via broadcast-joined rollups
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("m18: decode runs once behind the persist barrier; the band join keys on the 14-bit mask") {
    val p = plan("m18_image_band_neardup")
    // ONE decode pass: the RDD scan sits under InMemoryRelation; the
    // join sides read the cache
    assert(!p.split("InMemoryRelation")(0).contains("Scan ExistingRDD"), p)
    assert(p.contains("16383"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // d09 rule: hamming verify rides the join condition, pre-distinct
    val joinLine = p.split("\n").find(l =>
      l.contains("Join [band") || l.contains("Join [key")).getOrElse("")
    assert(joinLine.contains("bit_count"), p)
  }

  test("q73: one lineitem pass, one partkey exchange feeding agg AND dominance window; supplier broadcasts") {
    val p = plan("q73_dominant_suppliers")
    // r14: the up-front repartition(l_partkey) satisfies both the
    // (partkey, suppkey) aggregation and the per-part window, so the
    // old persist barrier + second aggregate + self-join is one
    // exchange + one window — lineitem scans once, and no other
    // exchange carries l_partkey
    assert(p.split("lineitem").length - 1 >= 1, p)
    val liScans = p.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1, p)
    val pkExchanges = p.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_partkey"))
    assert(pkExchanges.length == 1, p)
    assert(p.contains("Window"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1997-01-01"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d30: the three sample rates ride one literal fan-out over one corpus scan; only hashes shuffle") {
    val p = plan("d30_sample_dedup_rate")
    assert(p.split("documents.parquet").length - 1 === 1, p)
    assert(p.contains("LocalTableScan"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
  }

  test("m19: decode runs once behind the persist barrier; candidates block on (n_frames, 10-bit band)") {
    val p = plan("m19_audio_band_neardup")
    assert(!p.split("InMemoryRelation")(0).contains("Scan ExistingRDD"), p)
    // r13 re-band: 3×10-bit keys cover ALL fp bits (the 3×8-bit keys
    // ignored bits 24+ and had a 256-value keyspace)
    assert(p.contains("& 1023"), p)
    assert(!p.contains("& 255"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // d09 rule: hamming verify rides the join condition, pre-distinct
    val joinLine = p.split("\n").find(l =>
      l.contains("Join [n_frames") || l.contains("Join [band")).getOrElse("")
    assert(joinLine.contains("bit_count"), p)
  }

  test("m24: decode runs once behind the persist barrier; candidates block on (n_frames, 14-bit band)") {
    val p = plan("m24_video_band_neardup")
    assert(!p.split("InMemoryRelation")(0).contains("Scan ExistingRDD"), p)
    assert(p.contains("16383"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // d09 rule: hamming verify rides the join condition, pre-distinct
    val joinLine = p.split("\n").find(l =>
      l.contains("Join [n_frames") || l.contains("Join [band")).getOrElse("")
    assert(joinLine.contains("bit_count"), p)
  }

  test("d32: one text-hash shuffle then a bounded band rollup; no join; text never shuffles") {
    val p = plan("d32_quality_dup_profile")
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
    // the cluster rollup is map-side partial before the h exchange
    assert(p.contains("HashAggregate"), p)
  }

  test("p23: keeper marking is ONE window on the 16-byte hash; no join; text never shuffles") {
    val p = plan("p23_dedup_aware_packing")
    assert(!p.contains("Join"), p)
    assert(p.split("\n").count(_.contains("Window [")) === 1, p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
  }

  test("m22: both modality band masks key their buckets; text never shuffles; image pair set broadcasts into the anti-join") {
    val p = plan("m22_caption_image_swap")
    // text bands 4×30-bit (1073741823 mask, r13), image bands 4×14-bit (16383)
    assert(p.contains("1073741823"), p)
    assert(p.contains("16383"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // sketches cross the exchanges, never caption text
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")), p)
    // r12: both modality candidate triangles are native hamming_pairs
    // bucket-generates (verify in-loop, d09 rule) — the only joins left
    // are the composition itself and the r13 text-side hot-bucket guard
    assert(p.split("\n").count(_.contains("Generate hamming_pairs")) === 2, p)
    // the composition is a broadcast LEFT ANTI on gid keys only
    assert(p.contains("LeftAnti"), p)
    assert(p.split("\n").exists(l => l.contains("Broadcast") && l.contains("LeftAnti")), p)
    assert(p.split("\n").count(_.contains("Join")) === 2, p)
  }

  test("p19: one corpus pass into 16 shard counts; resume arithmetic is per-row on the bounded frame") {
    val p = plan("p19_resume_manifest")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1 && shuffled.head.contains("shard#"), p)
  }

  test("d31: text stays at its scan and vectors never load; only keys ride the coverage join") {
    val p = plan("d31_embedding_coverage")
    // the embeddings scan reads ONLY vec_id — the 512-byte vector
    // column must not be decoded for a coverage count
    val embScan = p.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("embeddings.parquet")).get
    assert(!embScan.split("ReadSchema")(1).contains("embedding:"), p)
    // no text column on any exchange
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")), p)
  }

  test("s30: doc metrics reduce to (id, qm, tokens) before the join; one id shuffle; label rollup") {
    val p = plan("s30_cluster_quality")
    assert(!p.contains("CartesianProduct"), p)
    val embScan = p.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("embeddings.parquet")).get
    assert(!embScan.split("ReadSchema")(1).contains("embedding:"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")), p)
  }

  test("p20: all epoch assignments compute in one map pass; no doc shuffles; the fan-out is a 3-row literal") {
    val p = plan("p20_epoch_decorrelation")
    assert(p.split("documents.parquet").length - 1 === 1, p)
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  // ---- r11 sweep: new operators land WITH their guards ----

  test("t30: one documents scan behind the persist barrier; winner joins broadcast; no text on exchanges") {
    val p = plan("t30_footer_strip_effect")
    // text is read ONCE: no parquet scan above the first cache boundary
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")) && !shuffled.exists(_.contains("ws#")), p)
  }

  test("m20/m21: referential audits join keys-only against the broadcast-bounded asset side") {
    for (name <- Seq("m20_caption_asset_audit", "m21_orphan_assets")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), s"$name:\n$p")
      // caption text never loads: the corpus scan reads only keys
      val capScan = p.split("\n").filter(l =>
        l.contains("FileScan parquet") && l.contains("documents.parquet"))
      assert(capScan.nonEmpty && capScan.forall(l =>
        !l.split("ReadSchema")(1).split("\n")(0).contains("text:")), s"$name:\n$p")
    }
  }

  test("p21: coverage sheet is one key-scan — no join, one source shuffle, no text read") {
    val p = plan("p21_crossmodal_coverage")
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1 && shuffled.head.contains("source#"), p)
    val scan = p.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet")).get
    assert(!scan.split("ReadSchema")(1).split("\n")(0).contains("text:"), p)
  }

  test("s31: one q_id exchange feeds all four arm rankings — no per-arm join, no persist") {
    val p = plan("s31_quantization_sheet")
    // r15 shape (r14 verdict #5): the r14 plan persisted the pair frame
    // and ran truth + 4 arms as 8 windows / 4 SortMergeJoins / 6
    // SinglePartition exchanges. Now ONE hashpartitioning(q_id)
    // exchange feeds four rank windows (one sort each, shared
    // partitioning), and each arm's recall is a conditional sum over
    // the truth rows — no join between rankings at all.
    val qx = p.split("\n").filter(_.contains("Exchange hashpartitioning(q_id"))
    assert(qx.length === 1, p)
    assert(p.split("\n").count(_.trim.startsWith("+- Window")) === 4, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the only SinglePartition exchanges are the final sheet aggregate
    // and the ~|labels|-row codebook collect — nothing row-scale
    assert(p.split("\n").count(_.contains("Exchange SinglePartition")) <= 3, p)
  }

  test("p22: the doc running sum partitions on (source, sub); bases broadcast back") {
    val p = plan("p22_subshard_packing")
    // the d09 treatment for packing: the per-doc window key includes
    // the sub-shard, so a Zipf source spreads over 16 partitions
    val docWin = p.split("\n").find(l =>
      l.contains("Window") && l.contains("lcum")).getOrElse("")
    assert(docWin.contains("source#") && docWin.contains("sub#"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d33: calibration sheet never materializes a pair — buckets aggregate, no join at all") {
    val p = plan("d33_lsh_calibration")
    // probe cost comes from bucket SIZES (Σ s·(s−1)/2), so the plan has
    // no join of any kind and no candidate explosion
    assert(!p.contains("Join"), p)
    // signatures come from the persisted store: no parquet scan above
    // the first cache boundary
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
    // exchanges carry (config, band, key) over the 16-long sigs — never text
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
  }

  test("t31: tokenization is map-side — no join, one (lang, source) shuffle, no token strings cross") {
    val p = plan("t31_tokenizer_fertility")
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.length === 1 &&
      shuffled.head.contains("lang#") && shuffled.head.contains("source#"), p)
    // only the six per-group counters shuffle, never token arrays or text
    assert(!shuffled.head.contains("text#") && !shuffled.head.contains("toks"), p)
  }

  test("p24: keeper marking is ONE window on the 16-byte hash; denominators ride a 1-row broadcast") {
    val p = plan("p24_post_dedup_mixture")
    // the keeper window lives INSIDE the persisted source rollup (both
    // consumers read the cache, whose subtree prints once per scan) —
    // no window runs above the cache boundary
    assert(!p.split("InMemoryRelation")(0).contains("Window ["), p)
    assert(p.contains("Window ["), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
    // the totals join is the 1-row aggregate-bounded broadcast, nothing bigger
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("s32: assignment is the broadcast-codebook fold; ranking window runs on the bounded cell frame") {
    val p = plan("s32_ivf_split_advisor")
    // no corpus-side shuffle for the assignment: the codebook is a 1-row
    // collected broadcast, so the only exchanges are the cell agg (and
    // the bounded frame's ranking window)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.exists(_.contains("cell#")), p)
  }

  test("m23: image pairs are the native bucket-generate; caption side shuffles hashes only") {
    val p = plan("m23_caption_transfer")
    assert(p.contains("Generate hamming_pairs"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the caption-content frame shuffles 16-byte hashes, never text
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")), p)
    // pair/count frames reach the output through broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d34: calibration joins are keyed against the persisted sig/gram stores; text never shuffles") {
    val p = plan("d34_minhash_estimator_error")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // sigs and gram sets come from the persisted stores: no parquet
    // scan above the first cache boundary
    assert(!p.split("InMemoryRelation")(0).contains("FileScan parquet"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
  }

  test("p25: shard ids are pure arithmetic on the generated pair ids — no join back to the corpus") {
    val p = plan("p25_shard_dedup_leakage")
    assert(p.contains("Generate hamming_pairs"), p)
    // the only joins are the 1-row total broadcast, the r13 hot-bucket
    // guard's broadcast left_anti, and the r14 16-row shard-universe
    // zero-fill (broadcast LEFT OUTER on an aggregate-bounded frame);
    // the shard tags never touch the documents table again
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // (the persisted pair frame's plan prints under BOTH of its
    // InMemoryTableScan consumers, so the guard line can repeat)
    val bhj = p.split("\n").filter(_.contains("BroadcastHashJoin"))
    assert(bhj.nonEmpty &&
      bhj.forall(l => l.contains("LeftAnti") || l.contains("LeftOuter")), p)
    assert(p.split("\n").count(_.contains("BroadcastNestedLoopJoin")) === 1, p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(!shuffled.exists(_.contains("text#")), p)
  }

  test("p26: split assignment is map-side arithmetic; stratum window runs on the bounded cell frame") {
    val p = plan("p26_stratified_split")
    // no join anywhere: assignment is md5 arithmetic in the scan
    // projection, the share window runs over the aggregated cells
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    // one rollup exchange (+ the window's re-partition on the bounded
    // frame); documents text never crosses a wire
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
    assert(p.contains("Window ["), p)
  }

  test("t32: entropy proxy shuffles 60-bit word hashes, never text; band frame aggregates") {
    val p = plan("t32_word_entropy")
    assert(!p.contains("Join"), p)
    val shuffled = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(shuffled.nonEmpty && !shuffled.exists(_.contains("text#")), p)
    // the (doc, wh) count is a two-phase partial aggregate
    assert(p.contains("HashAggregate"), p)
  }

  test("s33: margin scan is broadcast-centroid map-side; top-2 cut is WindowGroupLimit pre-exchange") {
    val p = plan("s33_centroid_margin")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the centroid side is the broadcast of a bounded aggregate; the
    // corpus never shuffles n × k rows (WindowGroupLimit trims to 2/vec
    // before the exchange)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("p22 totals: the two-level layout packs every source to p02's exact token total") {
    val a = SparkEntry.queries("p22_subshard_packing")(spark, sf)
      .groupBy(col("source"))
      .agg(max(col("start_off") + col("n_tokens")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = SparkEntry.queries("p02_token_packing")(spark, sf)
      .groupBy(col("source"))
      .agg(max(col("start_off") + col("n_tokens")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.nonEmpty && a === b)
  }

  test("meta: every 'PlanSpec' claim in an operator comment has a matching guard") {
    // r8 verdict "What's wrong #3": comments asserted guards that did
    // not exist. This pins the invariant — a query whose Scaladoc says
    // "PlanSpec" must have a test here naming its short id (the claim
    // is attributed to the nearest QueryDef above or below the mention,
    // covering both header comments and in-body notes).
    import scala.jdk.CollectionConverters._
    val dir = new java.io.File("src/main/scala/graft/operators")
    assert(dir.isDirectory, dir.getAbsolutePath)
    val qdef = """QueryDef\.sql\(\s*"([a-z0-9_]+)"""".r
    val unguarded = scala.collection.mutable.ArrayBuffer[String]()
    for (f <- dir.listFiles().filter(_.getName.endsWith(".scala")).sortBy(_.getName)) {
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toVector
      val decls = lines.zipWithIndex.flatMap { case (l, i) =>
        qdef.findFirstMatchIn(l).map(m => (i, m.group(1)))
      }
      for ((l, i) <- lines.zipWithIndex if l.contains("PlanSpec")) {
        val above = decls.filter(_._1 <= i).lastOption.map(_._2)
        val below = decls.filter(_._1 > i).headOption.map(_._2)
        // shared-helper comments (the gram8 store) name their consumers
        // explicitly — those ids count as candidates too
        val named = lines.slice(math.max(0, i - 3), math.min(lines.length, i + 4))
          .flatMap("""\b([qdstmp]\d{2})\b""".r.findAllMatchIn(_).map(_.group(1)))
        val candidates =
          (above.toSeq.map(_.split("_").head) ++ below.toSeq.map(_.split("_").head) ++
            named).distinct
        val covered = candidates.exists { short =>
          testNames.exists(t => t.matches(s"(?s).*\\b$short\\b.*"))
        }
        if (!covered)
          unguarded += s"${f.getName}:${i + 1} (near ${candidates.mkString(" / ")})"
      }
    }
    assert(unguarded.isEmpty,
      s"'PlanSpec' claims with no matching guard test:\n${unguarded.mkString("\n")}")
  }

  private def assertBoundedHints(
      name: String,
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, LocalRelation, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
    val dimPrefixes = Seq("r_", "n_", "s_")
    analyzed.foreach {
      // only broadcast-strategy hints can OOM at scale; MERGE/SHUFFLE_HASH
      // hints on unbounded frames are the scale-SAFE direction (q52/q53)
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        // Deduplicate (distinct) is an aggregation over all columns —
        // same cardinality-reduction justification as Aggregate
        val hasAgg = h.child.collectFirst {
          case a: Aggregate => a: LogicalPlan
          case dd: Deduplicate => dd: LogicalPlan
        }.isDefined
        val leaves = h.child.collectLeaves()
        val dimOnly = leaves.nonEmpty && leaves.forall(l =>
          dimPrefixes.exists(p => l.schema.fieldNames.forall(_.startsWith(p))))
        // driver-literal frames (threshold tables etc.) are bounded by
        // construction — they never grow with the corpus
        val localOnly = leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation])
        assert(hasAgg || dimOnly || localOnly,
          s"$name: broadcast hint on unbounded frame:\n${h.child.treeString}")
      case _ =>
    }
  }
}
