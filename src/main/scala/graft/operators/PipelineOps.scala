package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import OpUtils._

/** Composed curation pipeline over `documents` — the audit frame a
  * training-data run actually ships: every document gets a verdict with
  * provenance (which stage dropped it), not just a filtered table.
  *
  * Scale design (100 TB): the whole pipeline is ONE pass + ONE shuffle.
  * Quality signals (word count, stopword ratio, mean word length — the
  * t02 score) compute map-side; exact dedup needs only a 16-byte
  * binary md5 hash shuffle; and the stage verdict is a single
  * row_number window over that same partitioning (no joins, no second
  * pass). Verdict precedence: quality first — a document whose text
  * fails the score reports 'quality' even when it is also a duplicate
  * (quality is text-determined, so every member of an exact-hash group
  * scores identically and the group fails or survives as one); among
  * surviving groups the min-id copy is 'kept', the rest 'exact_dup'.
  * PlanSpec asserts the one-shuffle shape; PipelineCompositionSpec
  * pins the verdict semantics on a constructed corpus.
  */
object PipelineOps {

  /** p16's per-shard manifest: count, char and token mass, content
    * checksum and doc_id range of each of the 16 shuffle shards. Input
    * needs `doc_id`, `n_chars`, `text`; `shardManifestStream` runs it on
    * a live feed. */
  private[graft] def shardManifest(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        md5Val(trim(col("text")), 11).as("cs"),
        shard16(col("doc_id")).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("cs")).as("checksum"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  /** p26's split counts: documents and tokens per (source, lang, split),
    * the split a pure function of doc_id (md5(doc_id || '#split') mod
    * 100 → train 98 / val 1 / test 1). Input needs `doc_id`, `source`,
    * `lang`, `text`; `stratifiedSplitStream` runs it on a live feed. */
  private[graft] def splitCounts(docs: DataFrame): DataFrame = {
    val bucket = pmod(
      md5Val(concat(col("doc_id").cast("string"), lit("#split")), 15),
      lit(100L))
    val split = when(bucket < 98, "train")
      .when(bucket === 98, "val").otherwise("test")
    docs
      .select(col("source"), col("lang"), split.as("split"),
        size(words(col("text"))).as("n"))
      .groupBy(col("source"), col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef.sql("p01_curated_corpus",
      (s, d) => {
        val q = Tables.documents(s, d)
          .transform(wordStats(words(col("text"))))
          .withColumnRenamed("n", "n_words")
          .withColumn("quality", quality(col("n_words"), col("sum_len"), col("stop_hits")))
          .withColumn("h", unhex(md5(trim(col("text")))))
        q.withColumn("rn",
            row_number().over(Window.partitionBy(col("h")).orderBy(col("doc_id"))))
          .withColumn("stage",
            when(col("quality") < 0.5, lit("quality"))
              .when(col("rn") > 1, lit("exact_dup"))
              .otherwise(lit("kept")))
          .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
            col("quality"), col("stage"))
          .orderBy(col("doc_id"))
      },
      s"""WITH q AS (
         |  SELECT doc_id, lang, source, text, ${oWords("text")} AS ws FROM documents),
         |m AS (
         |  SELECT doc_id, lang, source, unhex(md5(trim(text))) AS h,
         |    len(ws) AS n_words,
         |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS stop_hits,
         |    list_reduce([0] || list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_len
         |  FROM q),
         |sc AS (
         |  SELECT doc_id, lang, source, h, n_words,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(stop_hits AS DOUBLE) / n_words) * 0.3 +
         |      least((CAST(sum_len AS DOUBLE) / n_words) / 8.0, 1.0) * 0.2 AS quality
         |  FROM m),
         |st AS (
         |  SELECT doc_id, lang, source, n_words, quality,
         |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         |  FROM sc)
         |SELECT doc_id, lang, source, n_words, quality,
         |  CASE WHEN quality < 0.5 THEN 'quality'
         |       WHEN rn > 1 THEN 'exact_dup' ELSE 'kept' END AS stage
         |FROM st ORDER BY doc_id""".stripMargin),

    // -- token packing: concatenate-and-chunk into training blocks -----
    // The GPT-style data-prep step after curation: documents are
    // concatenated in shard order and cut into fixed 2048-token
    // blocks; a document may straddle a boundary, so each doc reports
    // its token offset and first/last block id. 100 TB shape: packing
    // is PER SHARD (source here), exactly how real pipelines do it —
    // each shard packs independently with shard-local block ids, so
    // the job is one hash shuffle by shard + an in-partition sort +
    // one running-sum window; shards pack in parallel across
    // executors and no global coordination exists. Token counts are
    // whitespace words (the t01 convention); offsets stay integral so
    // the block arithmetic is bit-exact cross-engine.
    QueryDef.sql("p02_token_packing",
      (s, d) => {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(words(col("text"))).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("start_off", col("cum") - col("n_tokens"))
          .withColumn("first_seq", floor(col("start_off") / 2048.0).cast("long"))
          .withColumn("last_seq",
            when(col("n_tokens") === 0, col("first_seq"))
              .otherwise(floor((col("cum") - 1) / 2048.0).cast("long")))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("start_off"), col("first_seq"), col("last_seq"))
          .orderBy(col("doc_id"))
      },
      s"""WITH t AS (
         |  SELECT doc_id, source, len(${oWords("text")}) AS n_tokens FROM documents),
         |c AS (
         |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |  CAST(cum - n_tokens AS BIGINT) AS start_off,
         |  CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS first_seq,
         |  CASE WHEN n_tokens = 0 THEN CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT)
         |       ELSE CAST(floor((cum - 1) / 2048.0) AS BIGINT) END AS last_seq
         |FROM c ORDER BY doc_id""".stripMargin),

    // -- two-level token packing: the Zipf-shard answer to p02 ----------
    // p02 packs per source with ONE running-sum window per source key —
    // correct, parallel across sources, but a single Zipf-dominant
    // source serializes into one partition's window (r10 verdict
    // "What's wrong #3"). This is the d09 treatment applied to packing:
    // each source splits into 16 SUB-SHARDS (doc_id % 16); the running
    // sum runs per (source, sub) — 16× the parallelism, and the knob
    // grows with the corpus exactly like d10's cell ladder — then each
    // sub-shard's offsets shift by a BASE = the exclusive prefix sum of
    // sub-shard totals, computed on the bounded |sources|×16 rollup and
    // broadcast back. Offsets stay exact and contiguous per source; the
    // layout contract is order-by-(sub, doc_id) within a source instead
    // of p02's order-by-doc_id — the trade a two-level packer makes.
    QueryDef.sql("p22_subshard_packing",
      (s, d) => {
        val wLocal = Window.partitionBy(col("source"), col("sub"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = OpUtils.transient(s, s"p22:$d",
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"),
              (col("doc_id") % 16).as("sub"),
              size(words(col("text"))).cast("long").as("n_tokens"))
            .withColumn("lcum", sum(col("n_tokens")).over(wLocal)))
        val wBase = Window.partitionBy(col("source")).orderBy(col("sub"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val bases = local.groupBy(col("source"), col("sub"))
          .agg(max(col("lcum")).as("sub_total"))
          .withColumn("base", coalesce(sum(col("sub_total")).over(wBase), lit(0L)))
          .select(col("source").as("bsrc"), col("sub").as("bsub"), col("base"))
        local.join(broadcast(bases),
            col("source") === col("bsrc") && col("sub") === col("bsub"))
          .withColumn("cum", col("base") + col("lcum"))
          .withColumn("start_off", col("cum") - col("n_tokens"))
          .withColumn("first_seq", floor(col("start_off") / 2048.0).cast("long"))
          .withColumn("last_seq",
            when(col("n_tokens") === 0, col("first_seq"))
              .otherwise(floor((col("cum") - 1) / 2048.0).cast("long")))
          .select(col("doc_id"), col("source"), col("sub"), col("n_tokens"),
            col("start_off"), col("first_seq"), col("last_seq"))
          .orderBy(col("doc_id"))
      },
      s"""WITH t AS (
         |  SELECT doc_id, source, doc_id % 16 AS sub,
         |    CAST(len(${oWords("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |l AS (
         |  SELECT doc_id, source, sub, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source, sub ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS lcum
         |  FROM t),
         |st AS (
         |  SELECT source, sub, MAX(lcum) AS sub_total FROM l GROUP BY 1, 2),
         |b AS (
         |  SELECT source, sub,
         |    COALESCE(SUM(sub_total) OVER (PARTITION BY source ORDER BY sub
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
         |  FROM st),
         |c AS (
         |  SELECT l.doc_id, l.source, l.sub, l.n_tokens, b.base + l.lcum AS cum
         |  FROM l JOIN b ON l.source = b.source AND l.sub = b.sub)
         |SELECT doc_id, source, CAST(sub AS BIGINT) AS sub, n_tokens,
         |  CAST(cum - n_tokens AS BIGINT) AS start_off,
         |  CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS first_seq,
         |  CASE WHEN n_tokens = 0
         |       THEN CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT)
         |       ELSE CAST(floor((cum - 1) / 2048.0) AS BIGINT) END AS last_seq
         |FROM c ORDER BY doc_id""".stripMargin),

    // -- leakage-safe train/val split (cluster-aware) ------------------
    // Hash-mod splitting on raw doc_id leaks: two near-duplicate
    // documents can land on opposite sides of the train/val fence, and
    // the model is then evaluated on paraphrases of its training data.
    // The unit of assignment must be the NEAR-DUP CLUSTER, not the
    // document: every member of a d07 cluster shares its cluster id's
    // hash bucket (singletons hash their own id), so duplicates can
    // never straddle the split. Deterministic by construction — a
    // content-derived md5 bucket, stable across reruns and cluster
    // sizes. 100 TB shape: the labels frame is small (cluster members
    // only), so the left join broadcasts under AQE; the hash and
    // verdict are map-side projections; over the demo corpus (docs +
    // perturbed twins) the twins give the split something real to keep
    // together.
    QueryDef.sql("p03_leakage_safe_split",
      (s, d) => {
        val labels = DedupOps.clusterLabels(s, d)
          .withColumnRenamed("src", "doc_id")
        DedupOps.corpus(s, d).select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .withColumn("grp", coalesce(col("cluster"), col("doc_id")))
          .withColumn("bucket", md5Val(col("grp").cast("string"), 7) % 10)
          .select(col("doc_id"), col("grp"),
            when(col("bucket") === 0, lit("val")).otherwise(lit("train")).as("split"))
          .orderBy(col("doc_id"))
      },
      s"""WITH ${DedupOps.oLabelCtes},
         |g AS (
         |  SELECT c.doc_id, COALESCE(l.cluster, c.doc_id) AS grp
         |  FROM corpus c LEFT JOIN labels l ON l.src = c.doc_id)
         |SELECT doc_id, grp,
         |  CASE WHEN ${oMd5Val("CAST(grp AS VARCHAR)", 7)} % 10 = 0
         |       THEN 'val' ELSE 'train' END AS split
         |FROM g ORDER BY doc_id""".stripMargin),

    // -- domain mixture rebalancing (per-source downsampling) ----------
    // The mixture step after t10's per-source health sheet: real
    // pipelines don't train on the crawl's natural source mix — they
    // set target shares and DOWN-SAMPLE over-represented domains (the
    // C4/Pile/RefinedWeb reweighting move). Target here: a balanced
    // mix (each source an equal share), so keep_ppm(source) =
    // min(1e6, (total/n_sources)·1e6 / source_count) — all INTEGER
    // arithmetic (DIV), bit-exact cross-engine. Each doc is kept by a
    // deterministic content-independent coin: md5(doc_id) % 1e6 <
    // keep_ppm — stable across reruns, no RNG state to coordinate
    // across executors. 100 TB shape: the per-source count is a tiny
    // hash agg (sources are domains, not docs), the rate table
    // broadcasts, the keep decision is a map-side projection —
    // document rows never shuffle; the per-source rollup that reports
    // the achieved mix is the only other (tiny) exchange.
    QueryDef.sql("p04_domain_mixture",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val stats = docs.groupBy(col("source")).agg(count(lit(1)).as("src_docs"))
        val tot = docs.agg(count(lit(1)).as("total"),
          countDistinct(col("source")).as("n_sources"))
        val rates = stats.crossJoin(broadcast(tot))
          .withColumn("keep_ppm", least(lit(1000000L),
            expr("(total * 1000000) DIV (n_sources * src_docs)")))
          .select(col("source"), col("keep_ppm"))
        docs.select(col("doc_id"), col("source"))
          .join(broadcast(rates), Seq("source"))
          .withColumn("kept",
            pmod(md5Val(col("doc_id").cast("string"), 7), lit(1000000L)) < col("keep_ppm"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("keep_ppm")).as("keep_ppm"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
          .withColumn("kept_frac", col("n_kept").cast("double") / col("n_docs"))
          .orderBy(col("source"))
      },
      s"""WITH st AS (SELECT source, COUNT(*) AS src_docs FROM documents GROUP BY source),
         |tt AS (SELECT COUNT(*) AS total, COUNT(DISTINCT source) AS n_sources
         |       FROM documents),
         |r AS (
         |  SELECT source,
         |    least(1000000, (total * 1000000) // (n_sources * src_docs)) AS keep_ppm
         |  FROM st CROSS JOIN tt),
         |k AS (
         |  SELECT d.source, r.keep_ppm,
         |    (${oMd5Val("CAST(d.doc_id AS VARCHAR)", 7)} % 1000000) < r.keep_ppm AS kept
         |  FROM documents d JOIN r USING (source))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(MAX(keep_ppm) AS BIGINT) AS keep_ppm,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS kept_frac
         |FROM k GROUP BY source ORDER BY source""".stripMargin),

    // -- exact-quota stratified sample (deterministic, bounded window) --
    // p04 is RATE-based rebalancing (Bernoulli keep per doc — kept count
    // varies with the draw); this is the other sampling contract a
    // curation run needs: EXACTLY min(quota, |stratum|) docs per
    // language, reproducible across runs and engines. Selection is
    // rank-by-hash: the quota docs with the smallest md5 values per
    // stratum, doc_id as tiebreak — a deterministic "random" sample.
    // 100 TB shape: a per-stratum rank is a skewed window (5 langs → 5
    // hot partitions over the full corpus), so a map-side prefilter
    // bounds it first: keep only docs with hv·n_docs < 2·quota·10^6 —
    // ~2·quota uniform-hash survivors per stratum regardless of corpus
    // size (the full-stratum branch when n_docs ≤ 2·quota falls out of
    // the same inequality). The window then ranks ~80 rows per stratum,
    // not the corpus; the only full-corpus work is the map-side hash +
    // the broadcast-join against the 5-row count table. The oracle
    // mirrors prefilter + rank exactly, so both engines select the
    // identical sample even in the (never-observed, margin-2×) case of
    // a prefilter shortfall under quota.
    QueryDef.sql("p05_stratified_sample",
      (s, d) => {
        val quota = 40
        val docs = Tables.documents(s, d)
          .withColumn("hv", pmod(
            md5Val(concat(lit("p05:"), col("doc_id").cast("string")), 7),
            lit(1000000L)))
        val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("lang")).orderBy(col("hv"), col("doc_id"))
        docs.join(broadcast(cnt), Seq("lang"))
          .filter(col("hv") * col("n_docs") < lit(2L * quota * 1000000L))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= quota)
          .select(col("lang"), col("rk"), col("doc_id"), col("source"), col("hv"))
          .orderBy(col("lang"), col("rk"))
      },
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |    ${oMd5Val("'p05:' || CAST(doc_id AS VARCHAR)", 7)} % 1000000 AS hv
         |  FROM documents),
         |c AS (SELECT lang, COUNT(*) AS n_docs FROM h GROUP BY lang),
         |p AS (
         |  SELECT h.lang, h.doc_id, h.source, h.hv,
         |    row_number() OVER (PARTITION BY h.lang ORDER BY h.hv, h.doc_id) AS rk
         |  FROM h JOIN c USING (lang)
         |  WHERE hv * n_docs < 80000000)
         |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, source,
         |  CAST(hv AS BIGINT) AS hv
         |FROM p WHERE rk <= 40
         |ORDER BY lang, rk""".stripMargin),

    // -- full-pipeline curation funnel (per-source stage attribution) --
    // The sheet a curation run's owner actually reads: for each source,
    // how many documents entered and where each one fell out — the
    // Gopher hard rules (t12's battery), exact dedup (p01's keep-first
    // hash group), benchmark decontamination (d11's eval 8-grams), the
    // p04 mixture coin (identical rate table and coin, so this column
    // AUDITS the decision p04 makes) — with first-failing-stage
    // attribution in that fixed order. Every signal is shared with its
    // standalone operator: gopher + coin are map-side projections, the
    // contamination set comes from the persisted 8-gram store through
    // the same broadcast join as d11 (exchanges ∝ contamination), and
    // the whole funnel adds exactly TWO full-corpus shuffles, both
    // fixed-width: the 16-byte-hash dedup window and the doc_id join
    // that attaches the contamination flag (text never leaves the map
    // side). Stage precedence is text-determined first (gopher), so an
    // exact-hash group fails or survives as one — the p01 invariant.
    QueryDef.sql("p06_curation_funnel",
      (s, d) => {
        val ws = col("ws")
        val base = Tables.documents(s, d)
          .withColumn("ws", words(col("text")))
          .transform(wordStats(ws))
          .withColumn("g2", graft.functions.GraftFunctions.gramHashes60(ws, 2))
          .withColumn("gopher_fail", gopherRules(col("g2")).reduce(_ || _))
          .select(col("doc_id"), col("source"), col("gopher_fail"),
            unhex(md5(trim(col("text")))).as("h"))
        val contam = DedupOps.gram8Exploded(s, d)
          .join(broadcast(DedupOps.evalGrams(s, d)), Seq("h"))
          .select(col("doc_id")).distinct()
          .withColumn("contaminated", lit(true))
        val rates = {
          val docs = Tables.documents(s, d)
          val stats = docs.groupBy(col("source")).agg(count(lit(1)).as("src_docs"))
          val tot = docs.agg(count(lit(1)).as("total"),
            countDistinct(col("source")).as("n_sources"))
          stats.crossJoin(broadcast(tot))
            .withColumn("keep_ppm", least(lit(1000000L),
              expr("(total * 1000000) DIV (n_sources * src_docs)")))
            .select(col("source"), col("keep_ppm"))
        }
        base
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("h")).orderBy(col("doc_id"))))
          .join(contam, Seq("doc_id"), "left")
          .join(broadcast(rates), Seq("source"))
          .withColumn("mix_keep",
            pmod(md5Val(col("doc_id").cast("string"), 7), lit(1000000L)) < col("keep_ppm"))
          .withColumn("stage",
            when(col("gopher_fail"), lit("gopher"))
              .when(col("rn") > 1, lit("exact_dup"))
              .when(col("contaminated").isNotNull, lit("contaminated"))
              .when(!col("mix_keep"), lit("mixture"))
              .otherwise(lit("kept")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("stage") === "gopher", 1L).otherwise(0L)).as("n_gopher"),
            sum(when(col("stage") === "exact_dup", 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("stage") === "contaminated", 1L).otherwise(0L)).as("n_contam"),
            sum(when(col("stage") === "mixture", 1L).otherwise(0L)).as("n_mixture"),
            sum(when(col("stage") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy(col("source"))
      },
      s"""WITH w AS (SELECT doc_id, source, text, ${oWords("text")} AS ws FROM documents),
         |m AS (
         |  SELECT doc_id, source, text, ws, len(ws) AS n,
         |    list_reduce([0] || list_transform(ws, x -> length(x)), (a, b) -> a + b)
         |      AS sum_len,
         |    len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS stop_hits,
         |    len(list_filter(ws, x -> regexp_matches(x, '[^a-z0-9]'))) AS n_sym,
         |    CASE WHEN len(ws) < 2 THEN CAST([] AS BIGINT[])
         |         ELSE list_transform(range(1, len(ws)),
         |                bi -> ${oMd5Val("array_to_string(ws[bi:bi+1], ' ')", 15)}) END AS g2
         |  FROM w),
         |gf AS (
         |  SELECT doc_id, source,
         |    (n < 50 OR n > 100000 OR sum_len < 3 * n OR sum_len > 10 * n
         |      OR stop_hits < 2 OR n_sym * 10 > n
         |      OR (len(g2) > 0 AND (len(g2) - len(list_distinct(g2))) * 10 > len(g2) * 3))
         |      AS gopher_fail,
         |    unhex(md5(trim(text))) AS h
         |  FROM m),
         |eg AS (
         |  SELECT DISTINCT unnest(list_transform(range(5, 14),
         |    i -> unhex(md5(array_to_string(ws[i:i+7], ' '))))) AS h
         |  FROM w WHERE doc_id % 25 = 0 AND doc_id < 5000 AND len(ws) >= 20),
         |cg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(ws) < 8 THEN []
         |       ELSE list_transform(range(1, len(ws) - 6),
         |              i -> unhex(md5(array_to_string(ws[i:i+7], ' ')))) END) AS h
         |  FROM w),
         |contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (h)),
         |st AS (SELECT source, COUNT(*) AS src_docs FROM documents GROUP BY source),
         |tt AS (SELECT COUNT(*) AS total, COUNT(DISTINCT source) AS n_sources
         |       FROM documents),
         |r AS (
         |  SELECT source,
         |    least(1000000, (total * 1000000) // (n_sources * src_docs)) AS keep_ppm
         |  FROM st CROSS JOIN tt),
         |v AS (
         |  SELECT gf.doc_id, gf.source,
         |    CASE WHEN gf.gopher_fail THEN 'gopher'
         |         WHEN ROW_NUMBER() OVER (PARTITION BY gf.h ORDER BY gf.doc_id) > 1
         |           THEN 'exact_dup'
         |         WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
         |         WHEN NOT ((${oMd5Val("CAST(gf.doc_id AS VARCHAR)", 7)} % 1000000)
         |                   < r.keep_ppm) THEN 'mixture'
         |         ELSE 'kept' END AS stage
         |  FROM gf
         |  LEFT JOIN contam ON contam.doc_id = gf.doc_id
         |  JOIN r USING (source))
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN stage = 'gopher' THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
         |  CAST(SUM(CASE WHEN stage = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(SUM(CASE WHEN stage = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contam,
         |  CAST(SUM(CASE WHEN stage = 'mixture' THEN 1 ELSE 0 END) AS BIGINT) AS n_mixture,
         |  CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM v GROUP BY source ORDER BY source""".stripMargin),

    // -- overlapping document chunking (RAG / context-window prep) -----
    // p02 packs documents into training blocks ACROSS doc boundaries;
    // this is the other chunking contract — the RAG/embedding-index
    // shape: each document independently cut into 64-word windows with
    // stride 48 (16-word overlap so no sentence is ever split across a
    // retrieval boundary without context). Chunk identity is
    // (doc_id, chunk_idx) plus the md5 of the chunk's exact words —
    // the key an embedding index or a chunk-level dedup joins on.
    // Boundary arithmetic is all integer (ceil via (n-W+S-1) DIV S);
    // every chunk carries >= 17 words by construction (the last window
    // extends backward, never forward past the doc). 100 TB shape:
    // entirely map-side — sequence+explode generates chunk rows inside
    // the scan partition, text never shuffles (PlanSpec: zero hash
    // exchanges, no join); output fan-out is bounded at ~n_words/48
    // rows per doc, each a fixed-width (ids + 32-char hash) row.
    QueryDef.sql("p07_doc_chunks",
      (s, d) => {
        val W = 64; val S = 48
        Tables.documents(s, d)
          .withColumn("ws", words(col("text")))
          .withColumn("n", size(col("ws")).cast("long"))
          .withColumn("n_chunks",
            when(col("n") <= W, lit(1L))
              .otherwise(expr(s"((n - $W + ${S - 1}) DIV $S) + 1")))
          .select(col("doc_id"), col("ws"), col("n"),
            explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
          .withColumn("start_word", col("chunk_idx") * S + 1)
          .withColumn("chunk_words", least(lit(W.toLong), col("n") - col("chunk_idx") * S))
          .select(col("doc_id"), col("chunk_idx"), col("start_word"), col("chunk_words"),
            md5(concat_ws(" ", slice(col("ws"), col("start_word").cast("int"),
              col("chunk_words").cast("int")))).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      s"""WITH w AS (
         |  SELECT doc_id, ${oWords("text")} AS ws,
         |    CAST(len(${oWords("text")}) AS BIGINT) AS n
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, ws, n,
         |    CASE WHEN n <= 64 THEN 1 ELSE ((n - 64 + 47) // 48) + 1 END AS n_chunks
         |  FROM w),
         |e AS (SELECT doc_id, ws, n, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
         |SELECT doc_id, chunk_idx,
         |  CAST(chunk_idx * 48 + 1 AS BIGINT) AS start_word,
         |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS chunk_words,
         |  md5(array_to_string(
         |    ws[chunk_idx * 48 + 1 : chunk_idx * 48 + least(64, n - chunk_idx * 48)],
         |    ' ')) AS chunk_md5
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin),

    // -- epoch / repeat-factor plan (data-constrained mixing) ----------
    // p04 decides what to DROP from over-represented sources; this is
    // the complementary decision when the budget EXCEEDS the corpus —
    // how many epochs of each source to schedule. Budget = 4x total
    // corpus tokens, equal target share per source; each source repeats
    // at repeat_ppm = min(4e6, share*1e6/src_tokens) — capped at 4
    // epochs, the published point past which repetition stops paying
    // (data-constrained scaling). A capped source reports its
    // shortfall: the tokens the mixture wanted but repetition can't
    // supply — the signal that triggers sourcing more data. All
    // integer arithmetic (DIV; products stay under 2^63 for corpora to
    // ~10^12 tokens x 10^6 ppm headroom), bit-exact cross-engine.
    // 100 TB shape: ONE source-keyed hash agg with full map-side
    // partials (token counts fold per partition); the totals row and
    // rate table are broadcast-sized (sources are domains, not docs) —
    // document rows never shuffle.
    QueryDef.sql("p08_epoch_plan",
      (s, d) => {
        val bySrc = Tables.documents(s, d)
          .select(col("source"), size(words(col("text"))).cast("long").as("n_tokens"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
        val tot = bySrc.agg(sum(col("src_tokens")).as("total_tokens"),
          count(lit(1)).as("n_sources"))
        bySrc.crossJoin(broadcast(tot))
          .withColumn("share_tokens", expr("(total_tokens * 4) DIV n_sources"))
          .withColumn("repeat_ppm", least(lit(4000000L),
            expr("(share_tokens * 1000000) DIV src_tokens")))
          .withColumn("alloc_tokens", expr("(src_tokens * repeat_ppm) DIV 1000000"))
          .withColumn("shortfall",
            greatest(lit(0L), col("share_tokens") - col("alloc_tokens")))
          .select(col("source"), col("n_docs"), col("src_tokens"), col("share_tokens"),
            col("repeat_ppm"), col("alloc_tokens"), col("shortfall"))
          .orderBy(col("source"))
      },
      s"""WITH s AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(${oWords("text")})) AS BIGINT) AS src_tokens
         |  FROM documents GROUP BY source),
         |t AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
         |        COUNT(*) AS n_sources FROM s),
         |r AS (
         |  SELECT source, n_docs, src_tokens,
         |    (total_tokens * 4) // n_sources AS share_tokens,
         |    least(4000000, ((total_tokens * 4) // n_sources) * 1000000 // src_tokens)
         |      AS repeat_ppm
         |  FROM s CROSS JOIN t)
         |SELECT source, n_docs, src_tokens,
         |  CAST(share_tokens AS BIGINT) AS share_tokens,
         |  CAST(repeat_ppm AS BIGINT) AS repeat_ppm,
         |  CAST(src_tokens * repeat_ppm // 1000000 AS BIGINT) AS alloc_tokens,
         |  CAST(greatest(0, share_tokens - src_tokens * repeat_ppm // 1000000) AS BIGINT)
         |    AS shortfall
         |FROM r ORDER BY source""".stripMargin),

    // -- deterministic global shuffle + shard plan ---------------------
    // The training-order step after curation: every epoch reader wants
    // the corpus in a reproducible pseudo-random order, sharded into
    // fixed file groups. A true global sort by random key is the naive
    // plan (one total-order exchange of the corpus); the 100 TB form
    // here never builds a global order: shard = low 4 bits of
    // md5(doc_id) (uniform, content-addressed, stable across reruns
    // and engines), pos = rank of md5 WITHIN the shard (one window per
    // shard partition), and the interleaved global ordinal
    // global_ord = (pos-1)*16 + shard is pure arithmetic — a reader
    // streaming shards round-robin reproduces the exact global
    // permutation without any machine ever seeing a total order. One
    // shuffle (by shard); only (doc_id, hash) pairs ride it.
    QueryDef.sql("p09_shuffle_shards",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nShards = 16
        val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), shuffleHash(col("doc_id")).as("h"))
          .withColumn("shard", pmod(col("h"), lit(nShards)).cast("int"))
          .withColumn("pos", row_number().over(w))
          .withColumn("global_ord", (col("pos") - 1) * nShards + col("shard"))
          .select(col("doc_id"), col("shard"), col("pos"), col("global_ord"))
          .orderBy(col("global_ord"))
      },
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${OpUtils.oMd5Val("CAST(doc_id AS VARCHAR) || '#shuffle'", 15)} AS h
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, h, CAST(h % 16 AS INTEGER) AS shard FROM h),
         |p AS (
         |  SELECT doc_id, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
         |  FROM sh)
         |SELECT doc_id, shard, pos, (pos - 1) * 16 + shard AS global_ord
         |FROM p
         |ORDER BY global_ord""".stripMargin),

    // -- dataset card (the one-row summary a release ships) ------------
    // The headline numbers a dataset card publishes, computed exactly
    // in one pass: corpus size (docs / tokens / chars), source and
    // language breadth, the exact-duplicate rate, and the
    // short-document fraction. Rates are integer ppm (floor division);
    // mean tokens/doc is the one double, a ratio of exact integers.
    // 100 TB note: the three COUNT(DISTINCT)s expand the scan 3× —
    // the exactness cost, bounded by fixed-width expand rows (16-byte
    // hash is the widest); the approximate tier for the same numbers
    // is q34's HLL contract. Token counts reuse the whitespace
    // tokenizer every text operator shares.
    QueryDef.sql("p10_dataset_card",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("source"), col("lang"), col("n_chars"),
            size(words(col("text"))).as("n"),
            md5(trim(col("text"))).as("h"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("n")).cast("long").as("total_tokens"),
            sum(col("n_chars")).as("total_chars"),
            countDistinct(col("h")).as("n_distinct"),
            sum(when(col("n") < 50, 1L).otherwise(0L)).as("n_under50"))
          .select(col("n_docs"), col("n_sources"), col("n_langs"),
            col("total_tokens"), col("total_chars"),
            expr("(n_docs - n_distinct) * 1000000 DIV n_docs").as("exact_dup_ppm"),
            expr("n_under50 * 1000000 DIV n_docs").as("under50_ppm"),
            (col("total_tokens").cast("double") / col("n_docs")).as("mean_doc_tokens"))
      },
      s"""WITH b AS (
         |  SELECT source, lang, n_chars,
         |    len(${oWords("text")}) AS n, md5(trim(text)) AS h
         |  FROM documents),
         |a AS (
         |  SELECT COUNT(*) AS n_docs,
         |    COUNT(DISTINCT source) AS n_sources,
         |    COUNT(DISTINCT lang) AS n_langs,
         |    CAST(SUM(n) AS BIGINT) AS total_tokens,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |    COUNT(DISTINCT h) AS n_distinct,
         |    CAST(SUM(CASE WHEN n < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_under50
         |  FROM b)
         |SELECT n_docs, n_sources, n_langs, total_tokens, total_chars,
         |  (n_docs - n_distinct) * 1000000 // n_docs AS exact_dup_ppm,
         |  n_under50 * 1000000 // n_docs AS under50_ppm,
         |  CAST(total_tokens AS DOUBLE) / n_docs AS mean_doc_tokens
         |FROM a""".stripMargin),

    // -- quality-curriculum training order -----------------------------
    // The "clean data first" schedule: docs fall into three fixed-
    // threshold quality phases (0 = cleanest — in-band length AND
    // stopword evidence; 1 = mid; 2 = tail), computed MAP-SIDE from
    // integer signals (no quantile pass — fixed thresholds are what a
    // production curriculum pins anyway, so reruns and new shards are
    // stable). Within a phase the order is p09's shard trick: pos =
    // md5-rank inside (phase, shard), phase_ord = (pos-1)*16 + shard —
    // a round-robin reader per phase reproduces the exact permutation
    // with no global sort. ONE shuffle carrying (doc_id, h) longs.
    QueryDef.sql("p11_quality_curriculum",
      (s, d) => {
        val nShards = 16
        val h = md5Val(concat(col("doc_id").cast("string"), lit("#currm")), 15)
        val w = Window.partitionBy(col("phase"), col("shard"))
          .orderBy(col("h"), col("doc_id"))
        Tables.documents(s, d)
          .transform(wordStats(words(col("text"))))
          .withColumn("phase",
            when(col("n").between(20, 100000) && col("stop_hits") >= 4, 0)
              .when(col("stop_hits") >= 2, 1)
              .otherwise(2))
          .select(col("doc_id"), col("phase"), h.as("h"))
          .withColumn("shard", pmod(col("h"), lit(nShards)).cast("int"))
          .withColumn("pos", row_number().over(w))
          .withColumn("phase_ord", (col("pos") - 1) * nShards + col("shard"))
          .select(col("doc_id"), col("phase"), col("shard"), col("pos"),
            col("phase_ord"))
          .orderBy(col("phase"), col("phase_ord"))
      },
      s"""WITH w AS (
         |  SELECT doc_id, ${oWords("text")} AS ws,
         |    ${OpUtils.oMd5Val("CAST(doc_id AS VARCHAR) || '#currm'", 15)} AS h
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, h, len(ws) AS n,
         |    len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'to')))
         |      AS stop_hits
         |  FROM w),
         |ph AS (
         |  SELECT doc_id, h,
         |    CASE WHEN n BETWEEN 20 AND 100000 AND stop_hits >= 4 THEN 0
         |         WHEN stop_hits >= 2 THEN 1
         |         ELSE 2 END AS phase,
         |    CAST(h % 16 AS INTEGER) AS shard
         |  FROM m),
         |p AS (
         |  SELECT doc_id, phase, shard,
         |    row_number() OVER (PARTITION BY phase, shard ORDER BY h, doc_id)
         |      AS pos
         |  FROM ph)
         |SELECT doc_id, phase, shard, pos, (pos - 1) * 16 + shard AS phase_ord
         |FROM p
         |ORDER BY phase, phase_ord""".stripMargin),

    // -- Temporal train/val/test split with embargo --------------------
    // The time-series leakage guard p03 can't express (p03 fences
    // near-dup CLUSTERS; this fences TIME): 70/15/15 split at integer
    // positions of the [min_ts, max_ts] span, with a 1-hour EMBARGO
    // band after each boundary — events inside a band are EXCLUDED so
    // models can't read just-past-the-fence context (the standard
    // financial-ML purge). All integer micros: boundaries come from one
    // 1-row min/max agg (broadcast — the q42 scalar pattern), verdicts
    // are map-side comparisons, and the only row shuffle is the
    // (split, event_type) rollup's fixed-width partial-agg rows.
    QueryDef.sql("p12_temporal_split",
      (s, d) => {
        val gapUs = 3600000000L // 1 h embargo
        val bounds = Tables.events(s, d)
          .agg(min(unix_micros(col("ts"))).as("lo"),
            max(unix_micros(col("ts"))).as("hi"))
        Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .crossJoin(broadcast(bounds))
          .withColumn("t1", expr("lo + (hi - lo + 1) * 70 div 100"))
          .withColumn("t2", expr("lo + (hi - lo + 1) * 85 div 100"))
          .withColumn("split",
            when(col("us") < col("t1"), "train")
              .when(col("us") < col("t1") + gapUs, "embargo")
              .when(col("us") < col("t2"), "val")
              .when(col("us") < col("t2") + gapUs, "embargo")
              .otherwise("test"))
          .groupBy(col("split"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("us")).as("first_us"),
            max(col("us")).as("last_us"))
          .orderBy(col("split"), col("event_type"))
      },
      """WITH b AS (
        |  SELECT MIN(epoch_ns(ts) // 1000) AS lo,
        |    MAX(epoch_ns(ts) // 1000) AS hi FROM events),
        |v AS (
        |  SELECT event_type, user_id, epoch_ns(ts) // 1000 AS us,
        |    lo + (hi - lo + 1) * 70 // 100 AS t1,
        |    lo + (hi - lo + 1) * 85 // 100 AS t2
        |  FROM events, b),
        |s AS (
        |  SELECT event_type, user_id, us,
        |    CASE WHEN us < t1 THEN 'train'
        |         WHEN us < t1 + 3600000000 THEN 'embargo'
        |         WHEN us < t2 THEN 'val'
        |         WHEN us < t2 + 3600000000 THEN 'embargo'
        |         ELSE 'test' END AS split
        |  FROM v)
        |SELECT split, event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(MIN(us) AS BIGINT) AS first_us,
        |  CAST(MAX(us) AS BIGINT) AS last_us
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY split, event_type""".stripMargin),

    // -- Weighted sample: priority sampling per stratum -----------------
    // Duffield-Lund-Thorup priority sampling, the weighted-sample scheme
    // that actually distributes: each doc gets priority w/u with u a
    // fixed uniform from its own id, and the per-language sample is the
    // top-k by priority — equivalently the BOTTOM-k by u/w, which is the
    // form both engines compute identically (u = md5-derived integer
    // < 2^52, so u and the token-count weight are both exact in double
    // and the single division is one deterministic IEEE rounding — no
    // pow/ln, the transcendental-free determinism rule). 100 TB: weights
    // and keys are map-side projections; the only shuffle is the
    // language re-key, and the rank is WindowGroupLimit-bounded so each
    // partition retains k rows, not the corpus.
    QueryDef.sql("p13_priority_sample",
      (s, d) => {
        val k = 20
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("sample_key"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            greatest(size(words(col("text"))), lit(1)).cast("long")
              .as("n_tokens"),
            md5Val(concat(lit("psamp:"), col("doc_id").cast("string")), 13)
              .as("u"))
          .withColumn("sample_key",
            (col("u") + 1).cast("double") / col("n_tokens").cast("double"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select(col("lang"), col("rk").cast("long").as("rk"),
            col("doc_id"), col("n_tokens"), col("sample_key"))
          .orderBy(col("lang"), col("rk"))
      },
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    GREATEST(len(${OpUtils.oWords("text")}), 1) AS n_tokens,
         |    ${OpUtils.oMd5Val("'psamp:' || CAST(doc_id AS VARCHAR)", 13)} AS u
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id, n_tokens,
         |    CAST(u + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS sample_key,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY CAST(u + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE),
         |        doc_id) AS rk
         |  FROM b)
         |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_tokens, sample_key
         |FROM r WHERE rk <= 20
         |ORDER BY lang, rk""".stripMargin),

    // -- per-source token-budget allocation (mixture planning) ---------
    // The sheet that turns mixture intent into sampling quotas: a
    // global budget (half the corpus tokens here) is split across
    // sources in proportion to QUALITY mass (sum of t02 scores in
    // integer milli-units), capped at what each source actually has;
    // the surplus a capped source couldn't absorb is re-granted to the
    // uncapped sources in one deterministic redistribution pass —
    // integer arithmetic throughout, so both engines derive the exact
    // same quotas. 100 TB shape: the corpus is scanned ONCE into a
    // ≤|sources| row frame (transient-persisted — the totals pass and
    // the output both read it without a rescan); everything after is
    // arithmetic on that bounded frame via two 1-row broadcast aggs.
    QueryDef.sql("p14_token_budget",
      (s, d) => {
        val per = OpUtils.transient(s, s"p14:$d",
          Tables.documents(s, d)
            .transform(wordStats(words(col("text"))))
            .withColumn("quality", quality(col("n"), col("sum_len"), col("stop_hits")))
            .groupBy(col("source"))
            .agg(sum(col("n")).as("avail"),
              sum(qualityMilli(col("quality"))).as("w_m")))
        val tot = per.agg(sum(col("avail")).as("tot_avail"),
          sum(col("w_m")).as("q_tot"))
        // all products ride DECIMAL(38,0) (r8 ADVICE): budget×w_m and
        // alloc×1e6 overflow BIGINT once corpus tokens pass ~1e12; the
        // q_unc = 0 case (every source capped) is guarded explicitly —
        // Spark div would yield NULL where DuckDB // raises
        val pass1 = per.crossJoin(broadcast(tot)) // aggregate-bounded: 1 row
          .withColumn("budget", expr("tot_avail div 2"))
          .withColumn("alloc1",
            expr("CAST(CAST(budget AS DECIMAL(38,0)) * w_m DIV q_tot AS BIGINT)"))
          .withColumn("capped", col("alloc1") > col("avail"))
          .withColumn("grant1", least(col("alloc1"), col("avail")))
        val redo = pass1.agg(sum(col("grant1")).as("granted"),
          sum(when(!col("capped"), col("w_m")).otherwise(0L)).as("q_unc"))
        pass1.crossJoin(broadcast(redo)) // aggregate-bounded: 1 row
          .withColumn("alloc_final",
            least(col("grant1") + when(!col("capped") && col("q_unc") > 0,
              expr("CAST(CAST(budget - granted AS DECIMAL(38,0)) * w_m DIV q_unc AS BIGINT)"))
              .otherwise(lit(0L)),
              col("avail")))
          .select(col("source"), col("avail"), col("w_m"), col("capped"),
            col("alloc_final"),
            expr("CAST(CAST(alloc_final AS DECIMAL(38,0)) * 1000000 DIV avail AS BIGINT)")
              .as("fill_ppm"))
          .orderBy(col("source"))
      },
      s"""WITH q AS (
         |  SELECT source, ${oWords("text")} AS ws FROM documents),
         |m AS (
         |  SELECT source, len(ws) AS n,
         |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to')))
         |      AS stop_hits,
         |    list_reduce([0] || list_transform(ws, w -> length(w)),
         |      (a, b) -> a + b) AS sum_len
         |  FROM q),
         |sc AS (
         |  SELECT source, n,
         |    least(CAST(n AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(stop_hits AS DOUBLE) / n) * 0.3 +
         |      least((CAST(sum_len AS DOUBLE) / n) / 8.0, 1.0) * 0.2 AS quality
         |  FROM m),
         |per AS (
         |  SELECT source, CAST(SUM(n) AS BIGINT) AS avail,
         |    CAST(SUM(CAST(floor(quality * 1000.0) AS BIGINT)) AS BIGINT) AS w_m
         |  FROM sc GROUP BY source),
         |tot AS (
         |  SELECT CAST(SUM(avail) AS BIGINT) AS tot_avail,
         |    CAST(SUM(w_m) AS BIGINT) AS q_tot FROM per),
         |p1 AS (
         |  SELECT source, avail, w_m,
         |    tot_avail // 2 AS budget,
         |    CAST(CAST(tot_avail // 2 AS HUGEINT) * w_m // q_tot AS BIGINT) AS alloc1
         |  FROM per, tot),
         |p2 AS (
         |  SELECT *, alloc1 > avail AS capped,
         |    least(alloc1, avail) AS grant1 FROM p1),
         |re AS (
         |  SELECT CAST(SUM(grant1) AS BIGINT) AS granted,
         |    CAST(SUM(CASE WHEN NOT capped THEN w_m ELSE 0 END) AS BIGINT)
         |      AS q_unc
         |  FROM p2),
         |fin AS (
         |  SELECT source, avail, w_m, capped,
         |    CAST(least(grant1 + CASE WHEN NOT capped AND q_unc > 0
         |      THEN CAST(CAST(budget - granted AS HUGEINT) * w_m // q_unc AS BIGINT)
         |      ELSE 0 END, avail) AS BIGINT) AS alloc_final
         |  FROM p2, re)
         |SELECT source, avail, w_m, capped, alloc_final,
         |  CAST(CAST(alloc_final AS HUGEINT) * 1000000 // avail AS BIGINT) AS fill_ppm
         |FROM fin
         |ORDER BY source""".stripMargin),

    // -- packing-efficiency audit --------------------------------------
    // The sheet read after p02 decides HOW documents become training
    // blocks: per source — blocks minted, padding burned in the final
    // partial block, utilization ppm, and how many docs straddle a
    // block boundary (straddlers take truncated-attention hits, so a
    // high straddle rate argues for sorting-by-length or best-fit
    // packing instead). All quantities derive from p02's EXACT integer
    // arithmetic (cum token offsets, 2048-token blocks) — one
    // source-keyed shuffle of fixed-width partials feeds the per-source
    // window and rollup; PipelineCompositionSpec ties the counts back
    // to p02's per-doc frame.
    QueryDef.sql("p15_pack_efficiency",
      (s, d) => {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(words(col("text"))).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("first_seq", floor((col("cum") - col("n_tokens")) / 2048.0).cast("long"))
          .withColumn("last_seq",
            when(col("n_tokens") === 0, col("first_seq"))
              .otherwise(floor((col("cum") - 1) / 2048.0).cast("long")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(when(col("last_seq") > col("first_seq"), 1L).otherwise(0L))
              .as("n_straddlers"))
          .withColumn("n_blocks", expr("(total_tokens + 2047) div 2048"))
          .select(col("source"), col("n_docs"), col("total_tokens"),
            col("n_blocks"),
            (col("n_blocks") * 2048 - col("total_tokens")).as("pad_tokens"),
            expr("total_tokens * 1000000 div (n_blocks * 2048)").as("util_ppm"),
            col("n_straddlers"))
          .orderBy(col("source"))
      },
      s"""WITH t AS (
         |  SELECT doc_id, source, len(${oWords("text")}) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t),
         |x AS (
         |  SELECT source, n_tokens,
         |    CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS first_seq,
         |    CASE WHEN n_tokens = 0
         |      THEN CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT)
         |      ELSE CAST(floor((cum - 1) / 2048.0) AS BIGINT) END AS last_seq
         |  FROM c),
         |a AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |    SUM(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
         |      AS n_straddlers
         |  FROM x GROUP BY 1)
         |SELECT source, n_docs, total_tokens,
         |  CAST((total_tokens + 2047) // 2048 AS BIGINT) AS n_blocks,
         |  CAST(((total_tokens + 2047) // 2048) * 2048 - total_tokens
         |    AS BIGINT) AS pad_tokens,
         |  CAST(total_tokens * 1000000
         |    // (((total_tokens + 2047) // 2048) * 2048) AS BIGINT) AS util_ppm,
         |  CAST(n_straddlers AS BIGINT) AS n_straddlers
         |FROM a ORDER BY source""".stripMargin),

    // -- per-shard manifest with integrity checksum ---------------------
    // What a 1000-reader training job validates BEFORE an epoch: for
    // each of p09's 16 shards (same md5(doc_id) assignment, so this
    // manifest describes exactly the shards p09's readers consume) —
    // doc count, char and token mass, the doc_id range, and an
    // ORDER-INDEPENDENT content checksum: the BIGINT sum of 44-bit
    // md5(text) prefixes (the d17 fingerprint trick — 44 bits keeps
    // even a billion-doc shard under 2^63). Any dropped, duplicated,
    // or bit-flipped document changes the sum; no ordering contract is
    // needed to verify, so readers can check shards in parallel.
    // 100 TB shape: one pass, everything map-side to fixed-width
    // partials, a 16-row shuffle — the manifest costs one scan.
    QueryDef.sql("p16_shard_manifest",
      (s, d) => shardManifest(Tables.documents(s, d)).orderBy(col("shard")),
      s"""WITH m AS (
         |  SELECT doc_id, n_chars, len(${oWords("text")}) AS n_tokens,
         |    ${oMd5Val("trim(text)", 11)} AS cs,
         |    CAST(${oMd5Val("CAST(doc_id AS VARCHAR) || '#shuffle'", 15)} % 16
         |      AS INTEGER) AS shard
         |  FROM documents)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(cs) AS BIGINT) AS checksum,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM m GROUP BY 1 ORDER BY shard""".stripMargin),

    // -- shard load-skew audit -------------------------------------------
    // The straggler predictor: a 1000-reader epoch finishes when the
    // HEAVIEST shard finishes, so what matters is each shard's token
    // load against the mean (faiss's imbalance-factor idea applied to
    // data shards). Uses p09/p16's md5 shard assignment; per shard:
    // token mass, load vs mean in ppm (exact DECIMAL route), and a
    // straggler flag at the +10% line via a cross-multiplied integer
    // compare (tokens·16·10 > 11·total — no division). 100 TB shape:
    // one corpus pass map-side into 16-row partials; the global total
    // crosses back as a 1-row broadcast.
    QueryDef.sql("p17_shard_skew",
      (s, d) => {
        // the 16-row shard frame feeds both the total
        // and the output — without the barrier Catalyst inlines the
        // corpus pass into BOTH consumers (two full scans; the s21/t25
        // lesson, PlanSpec-pinned here)
        val per = OpUtils.transient(s, s"p17:$d",
          Tables.documents(s, d)
            .select(size(words(col("text"))).cast("long").as("n_tokens"),
              shard16(col("doc_id")).as("shard"))
            .groupBy(col("shard"))
            .agg(sum(col("n_tokens")).as("shard_tokens")))
        val tot = per.agg(sum(col("shard_tokens")).as("tot"))
        per.crossJoin(broadcast(tot)) // aggregate-bounded: 1 row
          .select(col("shard"), col("shard_tokens"),
            expr("CAST(CAST(shard_tokens AS DECIMAL(38,0)) * 16000000 DIV tot AS BIGINT)")
              .as("load_ppm"),
            (col("shard_tokens").cast("decimal(38,0)") * 160 >
              col("tot").cast("decimal(38,0)") * 11).as("straggler"))
          .orderBy(col("shard"))
      },
      s"""WITH sm AS (
         |  SELECT CAST(${oMd5Val("CAST(doc_id AS VARCHAR) || '#shuffle'", 15)} % 16
         |      AS INTEGER) AS shard,
         |    CAST(len(${oWords("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |ps AS (SELECT shard, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
         |  FROM sm GROUP BY 1),
         |tt AS (SELECT CAST(SUM(shard_tokens) AS BIGINT) AS tot FROM ps)
         |SELECT shard, shard_tokens,
         |  CAST(CAST(shard_tokens AS HUGEINT) * 16000000 // tot AS BIGINT)
         |    AS load_ppm,
         |  CAST(shard_tokens AS HUGEINT) * 160 > CAST(tot AS HUGEINT) * 11
         |    AS straggler
         |FROM ps, tt ORDER BY shard""".stripMargin),

    // -- shard mixture fidelity audit -------------------------------------
    // p17 asks "is any shard too HEAVY"; this asks "is any shard too
    // BIASED" — hash-sharding is only sound if every shard reproduces
    // the corpus's domain mixture (a biased shard makes per-shard loss
    // curves incomparable). Per shard: the worst-deviating source and
    // its |shard ppm − corpus ppm|, all integer-exact. 100 TB shape:
    // ONE (shard, source) count shuffle over the corpus — the audit
    // frame is shards × sources (bounded, 320 rows here) behind a
    // persist barrier feeding three rollups; the worst-source election
    // is a window over that bounded frame, never over docs; corpus
    // totals cross back as broadcasts.
    QueryDef.sql("p18_shard_mixture",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = OpUtils.transient(s, s"p18:$d",
          Tables.documents(s, d)
            .select(shard16(col("doc_id")).as("shard"), col("source"))
            .groupBy(col("shard"), col("source"))
            .agg(count(lit(1)).as("cnt")))
        val shardTot = counts.groupBy(col("shard")).agg(sum(col("cnt")).as("shard_n"))
        val srcTot = counts.groupBy(col("source")).agg(sum(col("cnt")).as("src_n"))
        val tot = counts.agg(sum(col("cnt")).as("tot"))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("dev_ppm").desc, col("source"))
        counts.join(shardTot, "shard")
          .join(srcTot, "source")
          .crossJoin(broadcast(tot)) // aggregate-bounded: 1 row
          .withColumn("dev_ppm", abs(
            expr("CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 DIV shard_n AS BIGINT)") -
            expr("CAST(CAST(src_n AS DECIMAL(38,0)) * 1000000 DIV tot AS BIGINT)")))
          .withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .select(col("shard"), col("shard_n").as("n_docs"),
            col("source").as("worst_source"), col("dev_ppm").as("max_dev_ppm"))
          .orderBy(col("shard"))
      },
      s"""WITH sm AS (
         |  SELECT CAST(${oMd5Val("CAST(doc_id AS VARCHAR) || '#shuffle'", 15)} % 16
         |      AS INTEGER) AS shard, source
         |  FROM documents),
         |c AS (SELECT shard, source, COUNT(*) AS cnt FROM sm GROUP BY 1, 2),
         |st AS (SELECT shard, SUM(cnt) AS shard_n FROM c GROUP BY 1),
         |so AS (SELECT source, SUM(cnt) AS src_n FROM c GROUP BY 1),
         |tt AS (SELECT SUM(cnt) AS tot FROM c),
         |dev AS (
         |  SELECT c.shard, st.shard_n, c.source,
         |    abs(CAST(CAST(c.cnt AS HUGEINT) * 1000000 // st.shard_n AS BIGINT)
         |      - CAST(CAST(so.src_n AS HUGEINT) * 1000000 // tt.tot AS BIGINT))
         |      AS dev_ppm
         |  FROM c JOIN st ON c.shard = st.shard
         |  JOIN so ON c.source = so.source CROSS JOIN tt),
         |r AS (
         |  SELECT shard, shard_n, source, dev_ppm,
         |    row_number() OVER (PARTITION BY shard
         |      ORDER BY dev_ppm DESC, source) AS r
         |  FROM dev)
         |SELECT shard, CAST(shard_n AS BIGINT) AS n_docs,
         |  source AS worst_source, dev_ppm AS max_dev_ppm
         |FROM r WHERE r = 1 ORDER BY shard""".stripMargin),

    // -- preemption resume manifest ---------------------------------------
    // A preempted epoch restarts at global step S; 1000 readers must
    // agree — with no coordinator round-trip — how much of EACH shard is
    // already consumed. p09's interleave makes that pure arithmetic:
    // shard s's documents occupy global ordinals s, s+16, s+32, …, so
    // the consumed count at step S is floor((S−1−s)/16)+1 clamped to
    // [0, n_s] — this sheet materializes it (S = 1000) per shard with
    // the remaining count and consumed ppm. 100 TB shape: ONE corpus
    // pass into 16 shard-count partials; everything after is per-row
    // integer arithmetic on the 16-row frame — no sort, no window over
    // docs, no join.
    QueryDef.sql("p19_resume_manifest",
      (s, d) => {
        val step = 1000L
        Tables.documents(s, d)
          .select(shard16(col("doc_id")).as("shard"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("consumed", least(col("n_docs"),
            greatest(lit(0L),
              floor((lit(step) - 1 - col("shard")) / 16).cast("long") + 1)))
          .select(col("shard"), col("n_docs"), col("consumed"),
            (col("n_docs") - col("consumed")).as("remaining"),
            expr("CAST(CAST(consumed AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
              .as("consumed_ppm"))
          .orderBy(col("shard"))
      },
      s"""WITH sm AS (
         |  SELECT CAST(${oMd5Val("CAST(doc_id AS VARCHAR) || '#shuffle'", 15)} % 16
         |      AS INTEGER) AS shard
         |  FROM documents),
         |c AS (SELECT shard, COUNT(*) AS n_docs FROM sm GROUP BY 1),
         |r AS (
         |  SELECT shard, n_docs,
         |    least(n_docs, greatest(0, (1000 - 1 - shard) // 16 + 1)) AS consumed
         |  FROM c)
         |SELECT shard, n_docs, CAST(consumed AS BIGINT) AS consumed,
         |  CAST(n_docs - consumed AS BIGINT) AS remaining,
         |  CAST(CAST(consumed AS HUGEINT) * 1000000 // n_docs AS BIGINT)
         |    AS consumed_ppm
         |FROM r ORDER BY shard""".stripMargin),

    // -- epoch decorrelation audit ----------------------------------------
    // Multi-epoch training reshuffles each epoch with a new seed (p09's
    // hash salt); the point is DECORRELATION — two docs sharing a shard
    // in epoch i should co-occur in epoch j at chance rate. This audits
    // exactly that: for each epoch pair, the ppm of documents that kept
    // the SAME shard number — chance is 1/16 ≈ 62,500 ppm; a pair far
    // above it means the salts don't decorrelate and epoch-level loss
    // curves share locality artifacts. Shape: all three epoch
    // assignments compute in ONE map pass over doc ids (no join between
    // epochs — same-row columns), the rollup is a 3-row literal-pair
    // fan-out of integer equality flags; no doc ever shuffles.
    QueryDef.sql("p20_epoch_decorrelation",
      (s, d) => {
        import s.implicits._
        def sh(epoch: Int) = pmod(
          md5Val(concat(col("doc_id").cast("string"), lit(s"#epoch$epoch")), 15),
          lit(16L)).cast("int")
        val pairs = Seq((0, 1), (0, 2), (1, 2)).toDF("epoch_a", "epoch_b")
        val flags = Tables.documents(s, d)
          .select(col("doc_id"), sh(0).as("s0"), sh(1).as("s1"), sh(2).as("s2"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("s0") === col("s1"), 1L).otherwise(0L)).as("same01"),
            sum(when(col("s0") === col("s2"), 1L).otherwise(0L)).as("same02"),
            sum(when(col("s1") === col("s2"), 1L).otherwise(0L)).as("same12"))
        pairs.crossJoin(broadcast(flags)) // aggregate-bounded: 1 row
          .select(col("epoch_a"), col("epoch_b"), col("n_docs"),
            when(col("epoch_a") === 0 && col("epoch_b") === 1, col("same01"))
              .when(col("epoch_a") === 0 && col("epoch_b") === 2, col("same02"))
              .otherwise(col("same12")).as("n_same_shard"))
          .select(col("epoch_a"), col("epoch_b"), col("n_docs"), col("n_same_shard"),
            expr("CAST(CAST(n_same_shard AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
              .as("same_shard_ppm"))
          .orderBy(col("epoch_a"), col("epoch_b"))
      }, {
      def osh(e: Int) =
        s"CAST(${oMd5Val(s"CAST(doc_id AS VARCHAR) || '#epoch$e'", 15)} % 16 AS INTEGER)"
      s"""WITH m AS (
         |  SELECT doc_id, ${osh(0)} AS s0, ${osh(1)} AS s1, ${osh(2)} AS s2
         |  FROM documents),
         |f AS (
         |  SELECT COUNT(*) AS n_docs,
         |    SUM(CASE WHEN s0 = s1 THEN 1 ELSE 0 END) AS same01,
         |    SUM(CASE WHEN s0 = s2 THEN 1 ELSE 0 END) AS same02,
         |    SUM(CASE WHEN s1 = s2 THEN 1 ELSE 0 END) AS same12
         |  FROM m),
         |p AS (SELECT * FROM (VALUES (0, 1), (0, 2), (1, 2)) AS t(epoch_a, epoch_b)),
         |r AS (
         |  SELECT p.epoch_a, p.epoch_b, f.n_docs,
         |    CASE WHEN p.epoch_a = 0 AND p.epoch_b = 1 THEN f.same01
         |         WHEN p.epoch_a = 0 AND p.epoch_b = 2 THEN f.same02
         |         ELSE f.same12 END AS n_same_shard
         |  FROM p CROSS JOIN f)
         |SELECT epoch_a, epoch_b, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_same_shard AS BIGINT) AS n_same_shard,
         |  CAST(CAST(n_same_shard AS HUGEINT) * 1000000 // n_docs AS BIGINT)
         |    AS same_shard_ppm
         |FROM r ORDER BY epoch_a, epoch_b""".stripMargin
      }),

    // -- per-source cross-modal pair coverage ------------------------------
    // The planning sheet a multimodal training run reads before choosing
    // its mixture: per source, what fraction of captions can actually
    // pair with their assets. Registries are the m-tier contracts —
    // image ref doc_id % 640 resolvable iff < 500 (m17/m20), USABLE iff
    // also not on the fault schedule (%31 bad magic, %23 truncated);
    // audio ref doc_id % 1300 resolvable iff < 1000 (m19's clip space).
    // All four flags are pure key arithmetic in ONE map-side projection
    // — no join, no bytes, no text — so the whole sheet is one corpus
    // key-scan into a |sources|-row rollup (m20/m21 carry the REAL
    // byte-validated joins; this is the aggregate dashboard over the
    // same contracts). ppm via the DECIMAL(38,0) house pattern.
    QueryDef.sql("p21_crossmodal_coverage",
      (s, d) => {
        val imgRef = col("doc_id") % 640
        val audRef = col("doc_id") % 1300
        val imgOk = imgRef < 500 && imgRef % 31 =!= 0 && imgRef % 23 =!= 0
        val audOk = audRef < 1000
        Tables.documents(s, d)
          .select(col("source"),
            when(imgOk, 1L).otherwise(0L).as("img"),
            when(audOk, 1L).otherwise(0L).as("aud"),
            when(imgOk && audOk, 1L).otherwise(0L).as("both"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("img")).as("n_img_usable"),
            sum(col("aud")).as("n_aud"), sum(col("both")).as("n_both"))
          .select(col("source"), col("n_docs"), col("n_img_usable"),
            col("n_aud"), col("n_both"),
            expr("CAST(CAST(n_img_usable AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
              .as("img_ppm"),
            expr("CAST(CAST(n_aud AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
              .as("aud_ppm"),
            expr("CAST(CAST(n_both AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
              .as("both_ppm"))
          .orderBy(col("source"))
      },
      """WITH f AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 640 < 500 AND (doc_id % 640) % 31 <> 0
        |      AND (doc_id % 640) % 23 <> 0 THEN 1 ELSE 0 END AS img,
        |    CASE WHEN doc_id % 1300 < 1000 THEN 1 ELSE 0 END AS aud
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(img) AS BIGINT) AS n_img_usable,
        |  CAST(SUM(aud) AS BIGINT) AS n_aud,
        |  CAST(SUM(img * aud) AS BIGINT) AS n_both,
        |  CAST(CAST(SUM(img) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS img_ppm,
        |  CAST(CAST(SUM(aud) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS aud_ppm,
        |  CAST(CAST(SUM(img * aud) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
        |    AS both_ppm
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin),

    // -- dedup-aware packing manifest (dedup × packing composition) ------
    // What p02's packer SHOULD consume: the exact-dedup keepers (d01's
    // min-doc-per-trimmed-text-hash rule), not the raw feed — packing
    // duplicates burns shard budget on bytes the loss never needs twice.
    // Per source: feed size, keeper count, raw vs kept token mass, the
    // 2048-token shard count the keeper stream packs into (contiguous
    // per-source packing ⇒ exactly ceil(kept/2048) shards — integer
    // arithmetic, no window needed for the manifest), and the ppm of
    // token mass dedup saved. 100 TB shape: one shuffle on the 16-byte
    // text hash marks keepers (text never shuffles; token counts fold
    // map-side), then a bounded per-source rollup — the manifest costs
    // two exchanges at any corpus size.
    QueryDef.sql("p23_dedup_aware_packing",
      (s, d) => {
        val marked = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            unhex(md5(trim(col("text")))).as("h"),
            size(words(col("text"))).cast("long").as("n_tokens"))
          .withColumn("keeper",
            row_number().over(Window.partitionBy(col("h"))
              .orderBy(col("doc_id"))) === 1)
        marked.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keeper"), 1L).otherwise(0L)).as("n_keepers"),
            sum(col("n_tokens")).as("raw_tokens"),
            sum(when(col("keeper"), col("n_tokens")).otherwise(0L))
              .as("kept_tokens"))
          .withColumn("n_shards", expr("(kept_tokens + 2047) DIV 2048"))
          .withColumn("saved_ppm",
            expr("CAST(CAST(raw_tokens - kept_tokens AS DECIMAL(38,0)) " +
              "* 1000000 DIV raw_tokens AS BIGINT)"))
          .orderBy(col("source"))
      },
      s"""WITH t AS (
         |  SELECT doc_id, source, unhex(md5(trim(text))) AS h,
         |    CAST(len(${oWords("text")}) AS BIGINT) AS n_tokens
         |  FROM documents),
         |k AS (
         |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
         |    AS keeper
         |  FROM t)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
         |  CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
         |  CAST(SUM(CASE WHEN keeper THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  CAST((SUM(CASE WHEN keeper THEN n_tokens ELSE 0 END) + 2047) // 2048
         |    AS BIGINT) AS n_shards,
         |  CAST(CAST(SUM(n_tokens) - SUM(CASE WHEN keeper THEN n_tokens ELSE 0 END)
         |      AS HUGEINT) * 1000000 // CAST(SUM(n_tokens) AS HUGEINT) AS BIGINT)
         |    AS saved_ppm
         |FROM k GROUP BY 1 ORDER BY source""".stripMargin),

    // -- post-dedup mixture shift ----------------------------------------
    // p04 tunes source weights on the RAW corpus; exact dedup (d01's
    // keep-first) then removes a DIFFERENT share of each source, so the
    // mixture the model actually trains on drifts from the one that was
    // tuned. Per source: raw vs deduped doc share (exact integer ppm)
    // and the signed drift — the number a curation pipeline re-balances
    // against after every dedup pass (or, at 100 TB, the reason mixture
    // weights must be fit on the DEDUPED corpus, not the crawl). One
    // keeper window on the 16-byte text hash (the p23 move: text never
    // shuffles), one partial-agg exchange on source, bounded output; the
    // two ppm denominators ride a 1-row aggregate-bounded broadcast.
    QueryDef.sql("p24_post_dedup_mixture",
      (s, d) => {
        val marked = OpUtils.transient(s, s"p24:$d",
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"),
              unhex(md5(trim(col("text")))).as("h"))
            .withColumn("keeper",
              row_number().over(Window.partitionBy(col("h"))
                .orderBy(col("doc_id"))) === 1)
            .groupBy(col("source"))
            .agg(count(lit(1)).as("raw_docs"),
              sum(when(col("keeper"), 1L).otherwise(0L)).as("dedup_docs")))
        val tot = marked.agg(sum(col("raw_docs")).as("raw_total"),
          sum(col("dedup_docs")).as("dedup_total"))
        marked.crossJoin(broadcast(tot)) // aggregate-bounded: 1 row
          .withColumn("raw_ppm",
            expr("CAST(CAST(raw_docs AS DECIMAL(38,0)) * 1000000 DIV raw_total AS BIGINT)"))
          .withColumn("dedup_ppm",
            expr("CAST(CAST(dedup_docs AS DECIMAL(38,0)) * 1000000 DIV dedup_total AS BIGINT)"))
          .withColumn("drift_ppm", col("dedup_ppm") - col("raw_ppm"))
          .select(col("source"), col("raw_docs"), col("dedup_docs"),
            col("raw_ppm"), col("dedup_ppm"), col("drift_ppm"))
          .orderBy(col("source"))
      },
      s"""WITH t AS (
         |  SELECT doc_id, source, unhex(md5(trim(text))) AS h FROM documents),
         |k AS (
         |  SELECT source, row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
         |    AS keeper
         |  FROM t),
         |g AS (
         |  SELECT source, COUNT(*) AS raw_docs,
         |    CAST(SUM(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT) AS dedup_docs
         |  FROM k GROUP BY 1),
         |tt AS (
         |  SELECT CAST(SUM(raw_docs) AS BIGINT) AS raw_total,
         |    CAST(SUM(dedup_docs) AS BIGINT) AS dedup_total
         |  FROM g)
         |SELECT source, raw_docs, dedup_docs,
         |  CAST(CAST(raw_docs AS HUGEINT) * 1000000 // raw_total AS BIGINT)
         |    AS raw_ppm,
         |  CAST(CAST(dedup_docs AS HUGEINT) * 1000000 // dedup_total AS BIGINT)
         |    AS dedup_ppm,
         |  CAST(CAST(dedup_docs AS HUGEINT) * 1000000 // dedup_total AS BIGINT)
         |    - CAST(CAST(raw_docs AS HUGEINT) * 1000000 // raw_total AS BIGINT)
         |    AS drift_ppm
         |FROM g, tt
         |ORDER BY source""".stripMargin),

    // -- near-dup leakage across shuffle shards ---------------------------
    // Cross-tier composition (dedup × packing): p09's shuffle-shard
    // assignment is content-BLIND, so a near-dup pair (d09's verified
    // simhash pairs) lands in one shard only by chance — 1/16 = 62,500
    // ppm. A same-shard share ABOVE chance means duplicate content
    // systematically co-locates (a shard-local dedup pass would be
    // enough); AT chance it doesn't (dedup must run corpus-wide BEFORE
    // sharding — the ordering this audit justifies). Per shard: the
    // same-shard near-dup pair count and its share of all near-dup
    // pairs, exact integer ppm against the chance line. 100 TB shape:
    // pairs come from the banded bucket-generate (output-proportional),
    // shard ids are pure arithmetic on the pair ids (no join back to
    // the corpus), and the rollup is a ≤16-row frame with a 1-row
    // aggregate-bounded total broadcast.
    QueryDef.sql("p25_shard_dedup_leakage",
      (s, d) => {
        val pairs = OpUtils.transient(s, s"p25:$d",
          graft.operators.DedupOps.simhashPairs(s, d)
            .select(shard16(col("a_id")).as("shard_a"),
              shard16(col("b_id")).as("shard_b")))
        val tot = pairs.agg(count(lit(1)).as("total_pairs"))
        // ALL 16 shard rows, zero-filled (r14): an audit sheet must
        // show "no leakage observed" per shard explicitly — with the
        // r14 collision fix the near-dup pair set is small enough at
        // the gate SFs that same-shard hits are legitimately rare, and
        // an empty frame reads as "didn't run", not "clean"
        val shards = s.range(16).select(col("id").cast("int").as("shard"))
        val sameCounts = pairs.filter(col("shard_a") === col("shard_b"))
          .groupBy(col("shard_a").as("shard"))
          .agg(count(lit(1)).as("n_same"))
        shards.join(broadcast(sameCounts), Seq("shard"), "left")
          .withColumn("n_same_pairs", coalesce(col("n_same"), lit(0L)))
          .crossJoin(broadcast(tot)) // aggregate-bounded: 1 row
          .withColumn("same_share_ppm",
            expr("CAST(CAST(n_same_pairs AS DECIMAL(38,0)) * 1000000 " +
              "DIV greatest(total_pairs, 1) AS BIGINT)"))
          .withColumn("chance_ppm", lit(62500L))
          .select(col("shard"), col("n_same_pairs"), col("total_pairs"),
            col("same_share_ppm"), col("chance_ppm"))
          .orderBy(col("shard"))
      },
      s"""WITH ${graft.operators.DedupOps.oSimhashPairCtes(
            OpUtils.oWords("text"))},
         |sp AS (
         |  SELECT
         |    CAST(${OpUtils.oMd5Val("CAST(a_id AS VARCHAR) || '#shuffle'", 15)}
         |      % 16 AS INTEGER) AS shard_a,
         |    CAST(${OpUtils.oMd5Val("CAST(b_id AS VARCHAR) || '#shuffle'", 15)}
         |      % 16 AS INTEGER) AS shard_b
         |  FROM spairs),
         |tt AS (SELECT COUNT(*) AS total_pairs FROM sp),
         |sc AS (
         |  SELECT shard_a AS shard, COUNT(*) AS n_same FROM sp
         |  WHERE shard_a = shard_b GROUP BY 1)
         |SELECT CAST(sh.shard AS INTEGER) AS shard,
         |  CAST(COALESCE(sc.n_same, 0) AS BIGINT) AS n_same_pairs,
         |  tt.total_pairs,
         |  CAST(CAST(COALESCE(sc.n_same, 0) AS HUGEINT) * 1000000
         |    // GREATEST(tt.total_pairs, 1) AS BIGINT) AS same_share_ppm,
         |  CAST(62500 AS BIGINT) AS chance_ppm
         |FROM (SELECT unnest(range(16)) AS shard) sh
         |LEFT JOIN sc ON sc.shard = sh.shard, tt
         |ORDER BY shard""".stripMargin),

    // -- stratified train/val/test split manifest ------------------------
    // The split every training run makes before anything else, done the
    // only way that survives re-runs and late-arriving data: assignment
    // is a PURE FUNCTION of the document id (md5(doc_id || '#split') mod
    // 100 → 98/1/1), never a random() draw — re-ingesting a shard can't
    // move a document across splits, and eval contamination can't enter
    // through re-shuffling. The manifest audits the result per
    // (source, lang) stratum: doc and token mass per split, and each
    // split's exact ppm share of its stratum, so a stratum whose val
    // slice landed empty (small strata DO miss 1% buckets) is visible
    // before training, not after. 100 TB shape: split assignment and
    // token counts compute map-side in the scan projection; ONE
    // (source, lang, split) rollup shuffles only the aggregated cells;
    // the stratum-share window runs over that bounded frame (sources ×
    // langs × 3 rows), never over documents. Integer ppm via the
    // DECIMAL(38,0) house pattern.
    QueryDef.sql("p26_stratified_split",
      (s, d) => {
        splitCounts(Tables.documents(s, d)).withColumn("stratum_docs",
            sum(col("n_docs")).over(
              Window.partitionBy(col("source"), col("lang"))))
          .withColumn("split_share_ppm",
            expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 " +
              "DIV stratum_docs AS BIGINT)"))
          .select(col("source"), col("lang"), col("split"), col("n_docs"),
            col("n_tokens"), col("split_share_ppm"))
          .orderBy(col("source"), col("lang"), col("split"))
      },
      s"""WITH a AS (
         |  SELECT source, lang,
         |    CASE
         |      WHEN ${oMd5Val("CAST(doc_id AS VARCHAR) || '#split'", 15)}
         |        % 100 < 98 THEN 'train'
         |      WHEN ${oMd5Val("CAST(doc_id AS VARCHAR) || '#split'", 15)}
         |        % 100 = 98 THEN 'val'
         |      ELSE 'test' END AS split,
         |    len(${oWords("text")}) AS n
         |  FROM documents),
         |g AS (
         |  SELECT source, lang, split, COUNT(*) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS n_tokens
         |  FROM a GROUP BY 1, 2, 3)
         |SELECT source, lang, split, n_docs, n_tokens,
         |  CAST(CAST(n_docs AS HUGEINT) * 1000000
         |    // SUM(n_docs) OVER (PARTITION BY source, lang) AS BIGINT)
         |    AS split_share_ppm
         |FROM g
         |ORDER BY source, lang, split""".stripMargin)
  )
}
