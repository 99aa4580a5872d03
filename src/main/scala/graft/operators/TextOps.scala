package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import OpUtils._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting, and
  * per-language top-word mining. All embarrassingly parallel per row
  * (no shuffle except the final small aggregations) — the shape that
  * scales linearly to 100 TB.
  */
object TextOps {

  /** t11's hashed-bigram feature frame (doc_id, bks), a session store
    * per dir — the session-local analogue of a persisted feature
    * store: the corpus-count pass, the target-count pass, and the
    * scoring pass all read ONE tokenize+hash pipeline instead of each
    * re-deriving it (the d08/d11 gram-store lesson; at 100 TB this
    * frame is a bucketed table written once per corpus snapshot). */
  private def bigramFrame(s: org.apache.spark.sql.SparkSession, d: String) =
    OpUtils.store(s, s"bigrams:$d") {
      Tables.documents(s, d)
        .withColumn("ws", words(col("text")))
        .select(col("doc_id"),
          // r14: native gram_hashes60(ws,2)[i] == md5Val(bigram_i, 15)
          // (GramHashes60Spec pins it) — the interpreted per-window
          // slice/concat_ws/md5 HOF was the store build's dominant
          // cost; the residual pmod transform is integer-only. Empty
          // (<2-word) docs: gram_hashes60 returns an empty array, the
          // same rows the when() arm produced.
          transform(graft.functions.GraftFunctions.gramHashes60(col("ws"), 2),
            h => pmod(h, lit(4096L))).as("bks"))
    }

  /** t16's UNBUCKETED bigram-instance frame: one row per bigram
    * occurrence, carrying the 60-bit hash of the bigram (`bh`) and of
    * its prefix word (`ph`). Distinct from [[bigramFrame]] (t11's
    * 4096-bucket feature vectors — collisions are the point there; the
    * LM counts here need real bigram identity). A session store like
    * the gram stores: the three aggregations t16 reads (per
    * (doc,bigram) multiplicity, corpus bigram counts, corpus prefix
    * counts) all scan THIS frame instead of re-tokenizing three times.
    * At 100 TB this is a bucketed table written once per snapshot. */
  private def bigramInstances(s: org.apache.spark.sql.SparkSession, d: String) =
    OpUtils.store(s, s"bigramInstances:$d") {
      Tables.documents(s, d)
        .withColumn("ws", words(col("text")))
        .filter(size(col("ws")) >= 2)
        // r14: both hash columns ride native one-pass gram_hashes60
        // (bh: width-2 windows; ph: width-1 windows, i.e. each word,
        // truncated to the n-1 prefix positions) instead of an
        // interpreted transform doing two md5-hex-conv chains per
        // window — bit-identical per GramHashes60Spec's md5Val pin.
        .select(col("doc_id"), explode(arrays_zip(
          graft.functions.GraftFunctions.gramHashes60(col("ws"), 2).as("bh"),
          slice(graft.functions.GraftFunctions.gramHashes60(col("ws"), 1),
            lit(1), size(col("ws")) - 1).as("ph"))).as("g"))
        .select(col("doc_id"), col("g.bh").as("bh"), col("g.ph").as("ph"))
    }

  /** Stopword profiles for the language-ID heuristic (public stopword
    * lists, truncated). Scores are hit counts of profile words. */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "y", "los", "de"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "了", "是"))

  /** t25's band frame: documents and tokens per 0.05-wide t02-score
    * band (≤ 20 rows). Input needs `text`; `qualityBandStream` runs it
    * on a live feed. */
  private[graft] def qualityBands(docs: DataFrame): DataFrame =
    docs.transform(wordStats(words(col("text"))))
      .withColumn("quality", quality(col("n"), col("sum_len"), col("stop_hits")))
      .withColumn("band", qualityBand(col("quality")))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))

  /** t26's per-source sheet: character count and digit / uppercase /
    * punctuation / space per-mille of the trimmed texts. Input needs
    * `source`, `text`; `charClassStream` runs it on a live feed. */
  private[graft] def charClasses(docs: DataFrame): DataFrame = {
    val t = trim(col("text"))
    def ccount(pat: String): Column =
      (length(t) - length(regexp_replace(t, pat, ""))).cast("long")
    docs
      .select(col("source"), length(t).cast("long").as("n"),
        ccount("[0-9]").as("dg"), ccount("[A-Z]").as("up"),
        ccount("[.,!?]").as("pu"), ccount(" ").as("sp"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_chars"), sum(col("dg")).as("dg"),
        sum(col("up")).as("up"), sum(col("pu")).as("pu"),
        sum(col("sp")).as("sp"))
      .select(col("source"), col("n_chars"),
        // n_chars = 0 (a source whose texts all trim empty) guarded
        // explicitly: Spark div yields NULL but DuckDB // raises —
        // the t27 zero-denominator contract (r8 ADVICE)
        expr("CASE WHEN n_chars > 0 THEN dg * 1000 div n_chars ELSE 0 END")
          .as("digit_pm"),
        expr("CASE WHEN n_chars > 0 THEN up * 1000 div n_chars ELSE 0 END")
          .as("upper_pm"),
        expr("CASE WHEN n_chars > 0 THEN pu * 1000 div n_chars ELSE 0 END")
          .as("punct_pm"),
        expr("CASE WHEN n_chars > 0 THEN sp * 1000 div n_chars ELSE 0 END")
          .as("space_pm"))
  }

  /** t31's per-(lang, source) fertility sheet: six counter sums and the
    * ratios derived from them. Input needs `lang`, `source`, `text`;
    * `tokenizerFertilityStream` runs it on a live feed. */
  private[graft] def fertilitySheet(docs: DataFrame): DataFrame = {
    val toks = regexp_extract_all(lower(trim(col("text"))),
      lit("([a-z]+|[0-9]|[^a-z0-9 ])"), lit(0))
    docs
      .select(col("lang"), col("source"),
        size(words(col("text"))).as("nw"),
        size(toks).as("nt"),
        length(concat_ws("", toks)).as("tok_chars"),
        size(filter(toks, t => t.rlike("^[a-z]+$"))).as("nt_word"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"),
        sum(col("tok_chars")).as("n_tok_chars"),
        sum(col("nt") - col("nt_word")).as("n_fallback"))
      .withColumn("fertility_milli",
        expr("n_tokens * 1000 DIV n_words"))
      .withColumn("chars_per_token_milli",
        expr("n_tok_chars * 1000 DIV n_tokens"))
      .withColumn("fallback_ppm",
        expr("CAST(CAST(n_fallback AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)"))
  }

  val all: Seq[QueryDef] = Seq(

    // -- corpus token statistics per language --------------------------
    QueryDef.sql("t01_token_stats",
      (s, d) => Tables.documents(s, d)
        .withColumn("n_tokens", size(words(col("text"))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("total_tokens"),
             (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
             sum(length(col("text"))).as("total_chars"),
             countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(${oWords("text")})) AS BIGINT) AS total_tokens,
         |  CAST(SUM(len(${oWords("text")})) AS DOUBLE) / COUNT(*) AS avg_tokens,
         |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
         |  COUNT(DISTINCT source) AS n_sources
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang""".stripMargin),

    // -- per-document quality score ------------------------------------
    // score = 0.5*min(tokens/100,1) + 0.3*stopword_ratio + 0.2*min(avg_len/8,1)
    // fixed double op order mirrored by the oracle.
    QueryDef.sql("t02_quality_score",
      (s, d) => Tables.documents(s, d)
        .transform(wordStats(words(col("text"))))
        .select(col("doc_id"),
          col("n").cast("int").as("n_tokens"),
          (col("stop_hits").cast("double") / col("n")).as("stop_ratio"),
          (col("sum_len").cast("double") / col("n")).as("avg_word_len"),
          quality(col("n"), col("sum_len"), col("stop_hits")).as("quality"))
        .orderBy(col("doc_id")),
      s"""WITH q AS (
         |  SELECT doc_id, ${oWords("text")} AS ws FROM documents),
         |m AS (
         |  SELECT doc_id, len(ws) AS n,
         |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS stop_hits,
         |    list_reduce([0] || list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_len
         |  FROM q)
         |SELECT doc_id, n AS n_tokens,
         |  CAST(stop_hits AS DOUBLE) / n AS stop_ratio,
         |  CAST(sum_len AS DOUBLE) / n AS avg_word_len,
         |  least(CAST(n AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |    (CAST(stop_hits AS DOUBLE) / n) * 0.3 +
         |    least((CAST(sum_len AS DOUBLE) / n) / 8.0, 1.0) * 0.2 AS quality
         |FROM m
         |ORDER BY doc_id""".stripMargin),

    // -- language-ID heuristic (stopword-profile n-gram scoring) -------
    // One explode pass with codegen'd isin indicators (r11): the old
    // per-doc `filter(ws, isin)` HOFs were interpreted AND re-split the
    // text once per language (CollapseProject inlines the words expr
    // into each of the 5 score columns) — 15 s at sf1. Words explode
    // once; each word scores 5 integer indicators inside whole-stage
    // codegen; the per-doc rollup is a partial agg on (doc_id, lang).
    QueryDef.sql("t03_language_id",
      (s, d) => {
        val aggs = profiles.map { case (lg, prof) =>
          sum(when(col("w").isin(prof: _*), 1).otherwise(0)).as(s"s_$lg")
        }
        // coalesce(text, '') (r11 advice): words('') is [''] in both
        // engines, so a NULL-text doc keeps one zero-score row and lands
        // under the alphabetically-first language instead of vanishing
        // from the explode (the oracle coalesces identically)
        val perDoc = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(words(coalesce(col("text"), lit("")))).as("w"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(aggs.head, aggs.tail: _*)
        val best = profiles.tail.foldLeft(
          struct(col(s"s_${profiles.head._1}").as("s"),
            lit(profiles.head._1).as("l"))) {
          case (acc, (lang, _)) =>
            // strictly-greater keeps the alphabetically-first lang on ties
            when(col(s"s_$lang") > acc.getField("s"),
              struct(col(s"s_$lang").as("s"), lit(lang).as("l")))
              .otherwise(acc)
        }
        perDoc
          .withColumn("pred", best.getField("l"))
          .withColumn("score", best.getField("s"))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"), sum(col("score")).as("total_hits"))
          .orderBy(col("lang"), col("pred"))
      }, {
        val oScores = profiles.map { case (lang, prof) =>
          val set = prof.map(w => s"'$w'").mkString(", ")
          lang -> s"len(list_filter(${oWords("coalesce(text, '')")}, w -> w IN ($set)))"
        }
        val pred = oScores.tail.foldLeft(
          s"{'s': ${oScores.head._2}, 'l': '${oScores.head._1}'}") {
          case (acc, (lang, sc)) =>
            s"CASE WHEN $sc > ($acc).s THEN {'s': $sc, 'l': '$lang'} ELSE $acc END"
        }
        s"""WITH p AS (
           |  SELECT lang, ($pred).l AS pred, ($pred).s AS score FROM documents)
           |SELECT lang, pred, COUNT(*) AS n, CAST(SUM(score) AS BIGINT) AS total_hits
           |FROM p
           |GROUP BY lang, pred
           |ORDER BY lang, pred""".stripMargin
      }),

    // -- document fingerprinting: polynomial rolling hash --------------
    // fp_full: poly hash of all chars; fp_min8: winnowing-style minimum
    // over all 8-char rolling windows. Native codegen'd expressions
    // (functions.PolyHash) — the interpreted HOF version did O(n)
    // substring allocations per doc and O(n*8) per-window refolds;
    // the rolling-update loop is O(n) and bitwise-identical to the
    // oracle's list_reduce folds (same mod ring homomorphism).
    QueryDef.sql("t04_fingerprint",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Tables.documents(s, d)
          .withColumn("t", trim(col("text")))
          .withColumn("fp_full", graft.functions.GraftFunctions.polyHash(col("t")))
          .withColumn("fp_min8", graft.functions.GraftFunctions.polyHashMin(col("t"), lit(8)))
          .select(col("doc_id"), col("fp_full"), col("fp_min8"))
          .orderBy(col("doc_id"))
      },
      """WITH t AS (SELECT doc_id, trim(text) AS t FROM documents)
        |SELECT doc_id,
        |  list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, length(t) + 1),
        |    i -> ascii(t[i:i])), (a, x) -> (a * 31 + x) % 1000000007) AS fp_full,
        |  list_min(list_transform(range(1, length(t) - 6), i ->
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 8),
        |      k -> ascii(t[i+k:i+k])), (a, x) -> (a * 31 + x) % 1000000007))) AS fp_min8
        |FROM t
        |ORDER BY doc_id""".stripMargin),

    // -- top words per language (explode + count + window top-k) -------
    QueryDef.sql("t05_top_words",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("word"))
        Tables.documents(s, d)
          .select(col("lang"), explode(words(col("text"))).as("word"))
          .groupBy(col("lang"), col("word"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("lang"), col("word"), col("n"), col("rnk"))
          .orderBy(col("lang"), col("rnk"))
      },
      s"""WITH w AS (
         |  SELECT lang, unnest(${oWords("text")}) AS word FROM documents),
         |c AS (
         |  SELECT lang, word, COUNT(*) AS n FROM w GROUP BY lang, word),
         |r AS (
         |  SELECT lang, word, n,
         |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rnk
         |  FROM c)
         |SELECT lang, word, n, rnk FROM r
         |WHERE rnk <= 5
         |ORDER BY lang, rnk""".stripMargin),

    // -- PII redaction: mask emails/phones, count matches --------------
    // A training-data pipeline must strip PII before emission. The
    // regexes stay inside the Java∩RE2 common subset so both engines
    // match identically; synthetic PII is appended deterministically
    // (the corpus has none) so the operator is exercised on every row.
    // Per-row map work — embarrassingly parallel at any scale.
    QueryDef.sql("t06_pii_redaction", {
      (s, d) =>
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+1-555-[0-9]{4}"
        Tables.documents(s, d).filter(col("doc_id") < 500)
          .withColumn("txt", concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or mail "), col("doc_id").cast("string"),
            lit("@mail.org; call +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .select(col("doc_id"),
            size(regexp_extract_all(col("txt"), lit(emailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0))).as("n_phones"),
            md5(regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_md5"))
          .orderBy(col("doc_id"))
      }, {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      s"""WITH p AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or mail ' || CAST(doc_id AS VARCHAR)
         |    || '@mail.org; call +1-555-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
         |  FROM documents WHERE doc_id < 500)
         |SELECT doc_id,
         |  len(regexp_extract_all(txt, '$emailRe')) AS n_emails,
         |  len(regexp_extract_all(txt, '$phoneRe')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
         |      '$phoneRe', '<PHONE>', 'g')) AS redacted_md5
         |FROM p
         |ORDER BY doc_id""".stripMargin
      }),

    // -- repetition ratio: duplicate-bigram fraction per document ------
    // The Gopher-style repetition quality signal: a document whose word
    // bigrams are mostly repeats of each other is boilerplate/spam.
    // Entirely per-row (map-side, no shuffle before the final sort) —
    // linear at 100 TB. Counts are exact set arithmetic, the fraction a
    // single deterministic IEEE division of two ints in both engines.
    // r11: bigrams leave the doc as native 60-bit hashes (gram_hashes60
    // width 2, one generated pass) — the string-bigram materialization
    // was the t27 trap again (7.3 s at sf1); distinct-count over hashed
    // bigrams is the contract on BOTH sides (the oracle hashes its
    // string bigrams with the same md5 rule, so any collision collides
    // identically in both engines).
    QueryDef.sql("t07_repetition_ratio",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Tables.documents(s, d)
          .withColumn("g2", graft.functions.GraftFunctions
            .gramHashes60(words(col("text")), 2))
          .select(col("doc_id"),
            size(col("g2")).as("n_bigrams"),
            (size(col("g2")) - size(array_distinct(col("g2")))).as("n_dup"),
            when(size(col("g2")) > 0,
              (size(col("g2")) - size(array_distinct(col("g2")))).cast("double")
                / size(col("g2")))
              .otherwise(lit(0.0)).as("dup_frac"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (SELECT doc_id, ${oWords("text")} AS ws FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(ws) < 2 THEN CAST([] AS BIGINT[])
         |         ELSE list_transform(range(1, len(ws)),
         |                bi -> ${oMd5Val("array_to_string(ws[bi:bi+1], ' ')", 15)}) END AS g2
         |  FROM w)
         |SELECT doc_id, len(g2) AS n_bigrams,
         |  len(g2) - len(list_distinct(g2)) AS n_dup,
         |  CASE WHEN len(g2) > 0
         |       THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
         |       ELSE 0.0 END AS dup_frac
         |FROM g
         |ORDER BY doc_id""".stripMargin),

    // -- BPE-ish tokenization: GPT-2-style pre-tokenizer regex ---------
    // The second tier of the token-counting mandate (whitespace counts
    // are t01): contractions, space-prefixed letter runs, digit runs,
    // and punctuation runs — the lookahead-free subset of the GPT-2
    // pattern so Java regex (Spark) and RE2 (DuckDB) match identically.
    // Punctuation/digits are appended deterministically since the corpus
    // is bare lowercase words. Per-row, zero shuffle.
    QueryDef.sql("t08_bpe_tokens", {
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
      (s, d) => Tables.documents(s, d)
        .withColumn("txt", concat(col("text"),
          lit(" it's v2.0, cost: $3.50 (no-refund)! id#"),
          col("doc_id").cast("string")))
        .select(col("doc_id"),
          size(split(trim(col("txt")), " +")).as("n_ws_tokens"),
          size(regexp_extract_all(col("txt"), lit(pat), lit(0))).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
      }, {
      // the contraction alternates start with an apostrophe — double it
      // for the SQL string literal
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
        .replace("'", "''")
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' it''s v2.0, cost: $$3.50 (no-refund)! id#'
         |      || CAST(doc_id AS VARCHAR) AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  len(string_split_regex(trim(txt), ' +')) AS n_ws_tokens,
         |  len(regexp_extract_all(txt, '$pat')) AS n_bpe_tokens
         |FROM p
         |ORDER BY doc_id""".stripMargin
      }),

    // -- corpus-frequency word rarity (LM-filter proxy) ----------------
    // The exact-arithmetic analogue of a CCNet-style LM quality filter:
    // score each document by how common its words are in THIS corpus
    // (rare-word-heavy docs are the ones a perplexity filter drops).
    // Words are reduced to 60-bit md5 values before the frequency count
    // so the wide shuffle carries (doc_id, wh) longs, never strings
    // (the d08 lesson), and both engines count the identical hashed
    // key. All arithmetic stays integral until the two final divisions,
    // so the oracle is bit-exact. 100 TB shape: repartition(wh) means
    // HashPartitioning(wh) feeds the frequency window with no second
    // exchange; the only other shuffle is the per-doc rollup.
    QueryDef.sql("t09_word_rarity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        graft.functions.GraftFunctions.register(s)
        val wh = Tables.documents(s, d)
          .select(col("doc_id"),
            // native gram_hashes60 width 1: per-word 60-bit md5 in one
            // generated pass (no per-word string hex round-trip)
            explode(graft.functions.GraftFunctions
              .gramHashes60(words(col("text")), 1)).as("wh"))
        val cnt = wh.repartition(col("wh"))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("wh"))))
        cnt.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
               sum(col("cnt")).as("sum_freq"),
               sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
          .select(col("doc_id"), col("n_tokens"),
            (col("sum_freq").cast("double") / col("n_tokens")).as("avg_freq"),
            (col("n_hapax").cast("double") / col("n_tokens")).as("hapax_frac"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (
         |  SELECT doc_id, unnest(list_transform(${oWords("text")},
         |    w -> ${oMd5Val("w", 15)})) AS wh
         |  FROM documents),
         |c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY wh) AS cnt FROM w),
         |a AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens, SUM(cnt) AS sum_freq,
         |    SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_hapax
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(sum_freq AS DOUBLE) / n_tokens AS avg_freq,
         |  CAST(n_hapax AS DOUBLE) / n_tokens AS hapax_frac
         |FROM a ORDER BY doc_id""".stripMargin),

    // -- per-source corpus profile (domain-level filtering input) ------
    // Web-scale pipelines filter by SOURCE before they filter by
    // document: a crawl domain with a high duplicate rate or degenerate
    // length profile is dropped wholesale (the C4/RefinedWeb move).
    // This emits the per-source health sheet those decisions read from:
    // doc count, exact-dup rate (16-byte md5 distinct), length profile,
    // language spread, and the fraction of docs under the 50-word
    // Gopher floor. 100 TB shape: ONE hash shuffle keyed by source with
    // full map-side partial aggregation — every metric here (count,
    // avg, distinct-within-group over compact keys, conditional sum)
    // folds into Spark's two-phase agg; text reduces to a 16-byte hash
    // and a word count map-side, so the shuffle carries fixed-width
    // rows regardless of document size. Sources are few (domains, not
    // docs), so the reduce side is trivially small.
    QueryDef.sql("t10_source_profile",
      (s, d) => Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars"),
          unhex(md5(trim(col("text")))).as("h"),
          size(words(col("text"))).as("n_words"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_unique"),
          countDistinct(col("lang")).as("n_langs"),
          avg(col("n_chars")).as("avg_chars"),
          avg(when(col("n_words") < 50, 1.0).otherwise(0.0)).as("short_frac"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          ((col("n_docs") - col("n_unique")).cast("double") / col("n_docs")).as("dup_rate"),
          col("n_langs"), col("avg_chars"), col("short_frac"))
        .orderBy(col("source")),
      s"""WITH m AS (
         |  SELECT source, lang, n_chars, unhex(md5(trim(text))) AS h,
         |    len(${oWords("text")}) AS n_words
         |  FROM documents),
         |a AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    COUNT(DISTINCT h) AS n_unique,
         |    COUNT(DISTINCT lang) AS n_langs,
         |    AVG(n_chars) AS avg_chars,
         |    AVG(CASE WHEN n_words < 50 THEN 1 ELSE 0 END) AS short_frac
         |  FROM m GROUP BY source)
         |SELECT source, n_docs, n_unique,
         |  CAST(n_docs - n_unique AS DOUBLE) / n_docs AS dup_rate,
         |  n_langs, avg_chars, short_frac
         |FROM a ORDER BY source""".stripMargin),

    // -- DSIR-style importance weighting (hashed n-gram features) ------
    // The data-selection move of "Data Selection for Language Models
    // via Importance Resampling" (DSIR): score every corpus document
    // by how much its hashed n-gram feature mass looks like a TARGET
    // distribution vs the raw corpus. Features are word bigrams hashed
    // into 4096 buckets; the target is a fixed-size doc subset
    // (doc_id % 25 = 1 under an absolute cap — the d11 "benchmark is
    // MBs while the corpus is TBs" shape). DSIR's log-ratio product
    // needs transcendental logs the two engines don't round
    // identically, so the score is the exact ratio-of-sums surrogate:
    // importance = Σ target_count(b_i) / Σ corpus_count(b_i) over the
    // doc's bigram instances — two BIGINT sums and ONE IEEE division,
    // bit-exact cross-engine. 100 TB shape: both feature tables are
    // bounded at 4096 rows no matter the corpus (the whole point of
    // feature hashing), so they fold into 1-row broadcast MAPS and the
    // scoring pass is entirely map-side — document rows NEVER shuffle;
    // the only exchanges are the two 4096-key count-aggregations.
    QueryDef.sql("t11_dsir_weights",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val bg = bigramFrame(s, d)
        // counts fold into a DENSE 4096-slot array (position = bucket):
        // element_at on an ARRAY is O(1) positional access, where a
        // MapType lookup is a linear scan of all 4096 entries per
        // bigram instance (measured 10× the whole query's cost). The
        // map→array densify runs once on the 1-row frame.
        def bucketCounts(df: org.apache.spark.sql.DataFrame) = df
          .select(explode(col("bks")).as("b"))
          .groupBy(col("b")).agg(count(lit(1)).as("c"))
          .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"))
          .select(transform(sequence(lit(0L), lit(4095L)),
            i => coalesce(element_at(col("m"), i), lit(0L))))
        val cmap = bucketCounts(bg).toDF("cm")
        val tmap = bucketCounts(bg.filter(col("doc_id") % 25 === 1 && col("doc_id") < 5000))
          .toDF("tm")
        // native bucket_mass2 (r12 verdict #3): both mass sums in ONE
        // generated pass over the bigram buckets — the two interpreted
        // aggregate() HOFs were the sweep's one dishonest cell (11.3 s
        // at sf1); bit-equal by BucketMassSpec
        bg.crossJoin(broadcast(cmap)).crossJoin(broadcast(tmap))
          .withColumn("mm", graft.functions.GraftFunctions
            .bucketMass2(col("bks"), col("tm"), col("cm")))
          .select(col("doc_id"), size(col("bks")).cast("long").as("n_bigrams"),
            element_at(col("mm"), 1).as("t_mass"),
            element_at(col("mm"), 2).as("c_mass"))
          .withColumn("importance",
            when(col("n_bigrams") > 0, col("t_mass").cast("double") / col("c_mass"))
              .otherwise(lit(0.0)))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (SELECT doc_id, ${oWords("text")} AS ws FROM documents),
         |bg AS (
         |  -- outer lambda var must NOT be `i`: oMd5Val's digit fold binds
         |  -- `i` internally and would capture the slice index (shadowing)
         |  SELECT doc_id, CASE WHEN len(ws) < 2 THEN []
         |    ELSE list_transform(range(1, len(ws)), bi ->
         |      ${oMd5Val("array_to_string(ws[bi:bi+1], ' ')", 15)} % 4096) END AS bks
         |  FROM w),
         |cb AS (SELECT doc_id, unnest(bks) AS b FROM bg),
         |cc AS (SELECT b, COUNT(*) AS c FROM cb GROUP BY b),
         |tc AS (SELECT b, COUNT(*) AS c FROM cb
         |       WHERE doc_id % 25 = 1 AND doc_id < 5000 GROUP BY b),
         |m AS (
         |  SELECT cb.doc_id, COUNT(*) AS n_bigrams,
         |    SUM(COALESCE(tc.c, 0)) AS t_mass, SUM(cc.c) AS c_mass
         |  FROM cb JOIN cc USING (b) LEFT JOIN tc USING (b)
         |  GROUP BY cb.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(m.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(COALESCE(m.t_mass, 0) AS BIGINT) AS t_mass,
         |  CAST(COALESCE(m.c_mass, 0) AS BIGINT) AS c_mass,
         |  CASE WHEN COALESCE(m.n_bigrams, 0) > 0
         |       THEN CAST(m.t_mass AS DOUBLE) / m.c_mass ELSE 0.0 END AS importance
         |FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // -- Gopher rule battery (hard document filters + failure mask) ----
    // The HARD-rule companion to t02's soft score — the published
    // Gopher/MassiveText filter battery, adapted to this corpus's
    // shape: (bit 0) 50 <= word count <= 100000, (bit 1) 3 <= mean
    // word length <= 10, (bit 2) at least 2 stopword hits, (bit 3)
    // symbol-bearing word fraction <= 0.1, (bit 4) duplicate-bigram
    // fraction <= 0.3 (t07's repetition signal as a hard gate). A doc
    // passes iff every rule passes; fail_mask says exactly WHICH rules
    // fired — the provenance a curation run audits. All signals are
    // integer counts with at most one final division each, so the mask
    // is bit-exact cross-engine. Entirely map-side (no shuffle before
    // the final sort) — linear at 100 TB like t02/t07.
    QueryDef.sql("t12_gopher_rules",
      (s, d) => {
        val ws = col("ws")
        Tables.documents(s, d)
          .withColumn("ws", words(col("text")))
          .transform(wordStats(ws))
          // r11: bigram dup test over native 60-bit hashes (the t07 move)
          .withColumn("g2", graft.functions.GraftFunctions
            .gramHashes60(ws, 2))
          .withColumn("fail_mask", gopherRules(col("g2")).zipWithIndex
            .map { case (fails, bit) => when(fails, lit(1 << bit)).otherwise(lit(0)) }
            .reduce(_ + _))
          .select(col("doc_id"), col("n").cast("int").as("n_words"),
            (col("sum_len").cast("double") / col("n")).as("mean_word_len"),
            col("stop_hits").cast("int").as("stop_hits"),
            col("n_sym").cast("int").as("n_sym"),
            col("fail_mask"), (col("fail_mask") === 0).as("pass"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (SELECT doc_id, ${oWords("text")} AS ws FROM documents),
         |m AS (
         |  SELECT doc_id, len(ws) AS n,
         |    list_reduce([0] || list_transform(ws, x -> length(x)), (a, b) -> a + b)
         |      AS sum_len,
         |    len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS stop_hits,
         |    len(list_filter(ws, x -> regexp_matches(x, '[^a-z0-9]'))) AS n_sym,
         |    CASE WHEN len(ws) < 2 THEN CAST([] AS BIGINT[])
         |         ELSE list_transform(range(1, len(ws)),
         |                bi -> ${oMd5Val("array_to_string(ws[bi:bi+1], ' ')", 15)}) END AS g2
         |  FROM w),
         |f AS (
         |  SELECT doc_id, n, sum_len, stop_hits, n_sym,
         |    len(g2) AS n_bg, len(g2) - len(list_distinct(g2)) AS n_dup_bg
         |  FROM m),
         |k AS (
         |  SELECT doc_id, n, sum_len, stop_hits, n_sym,
         |    (CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END) +
         |    (CASE WHEN sum_len < 3 * n OR sum_len > 10 * n THEN 2 ELSE 0 END) +
         |    (CASE WHEN stop_hits < 2 THEN 4 ELSE 0 END) +
         |    (CASE WHEN n_sym * 10 > n THEN 8 ELSE 0 END) +
         |    (CASE WHEN n_bg > 0 AND n_dup_bg * 10 > n_bg * 3 THEN 16 ELSE 0 END)
         |      AS fail_mask
         |  FROM f)
         |SELECT doc_id, CAST(n AS INTEGER) AS n_words,
         |  CAST(sum_len AS DOUBLE) / n AS mean_word_len,
         |  CAST(stop_hits AS INTEGER) AS stop_hits,
         |  CAST(n_sym AS INTEGER) AS n_sym,
         |  CAST(fail_mask AS INTEGER) AS fail_mask,
         |  fail_mask = 0 AS pass
         |FROM k ORDER BY doc_id""".stripMargin),

    // -- out-of-vocabulary rate vs the corpus top-1000 vocabulary ------
    // The vocabulary-closure metric a tokenizer design reads: fix the
    // vocab at the corpus's 1000 most frequent words (count DESC, hash
    // ASC — a total order, so the cut is deterministic in both
    // engines), then score every document by the fraction of its
    // tokens outside it. Words reduce to 60-bit md5 values before any
    // shuffle (the t09 move). 100 TB shape: the vocab is a bounded
    // aggregate (top-K of a vocab-sized count table) and BROADCASTS;
    // exploded tokens meet it in a map-side hash join and partial-agg
    // back down to one row per doc before the only row shuffle (the
    // per-doc rollup) — token volume never crosses the wire. oov_rate
    // is a ratio of integers, bit-exact cross-engine.
    QueryDef.sql("t13_oov_rate",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val wx = Tables.documents(s, d)
          .select(col("doc_id"),
            // native gram_hashes60 width 1 (see t09)
            explode(graft.functions.GraftFunctions
              .gramHashes60(words(col("text")), 1)).as("wh"))
        val vocab = wx.groupBy(col("wh")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("wh"))
          .limit(1000)
          .select(col("wh"), lit(1).as("in_vocab"))
        wx.join(broadcast(vocab), Seq("wh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      s"""WITH wx AS (
         |  SELECT doc_id, unnest(list_transform(${oWords("text")},
         |    w -> ${oMd5Val("w", 15)})) AS wh
         |  FROM documents),
         |vc AS (SELECT wh, COUNT(*) AS c FROM wx GROUP BY wh),
         |v AS (SELECT wh FROM vc ORDER BY c DESC, wh LIMIT 1000),
         |j AS (
         |  SELECT wx.doc_id, CASE WHEN v.wh IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM wx LEFT JOIN v USING (wh))
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
         |FROM j GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),

    // -- document-frequency table (the IDF input) ----------------------
    // The corpus statistic every TF-IDF / rare-word filter reads: for
    // each word, the number of DOCUMENTS containing it, plus an integer
    // log2 IDF bucket. The Zipf head ("the" is in every doc) is the
    // classic skewed-key aggregation; the plan neutralizes it in two
    // map-side steps before anything shuffles: (1) within-doc dedup via
    // array_distinct collapses a word's per-doc repetitions to ONE row
    // (the head word's millions of occurrences per shard become one row
    // per doc), and (2) two-phase partial aggregation folds those rows
    // to one (wh, partial_df) per word PER PARTITION — so the hot word
    // crosses the wire once per map partition, never once per document.
    // Doc-partitioned input is the natural salt: no reducer ever
    // receives the head word's full posting list. The idf bucket is
    // length(bin(n_docs DIV df)) = floor(log2)+1 — pure integer ops,
    // bit-exact cross-engine. Output bounded to the top-500 words by
    // (df DESC, wh ASC), a deterministic total-order cut.
    QueryDef.sql("t14_doc_freq",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.documents(s, d)
        val dw = docs.select(col("doc_id"),
          // native gram_hashes60 width 1 (see t09)
          explode(array_distinct(graft.functions.GraftFunctions
            .gramHashes60(words(col("text")), 1))).as("wh"))
        val dfw = dw.groupBy(col("wh")).agg(count(lit(1)).as("df"))
        val total = docs.agg(count(lit(1)).as("n_docs"))
        dfw.crossJoin(broadcast(total))
          .select(col("wh"), col("df"), col("n_docs"),
            length(bin(expr("n_docs DIV df"))).as("idf_bucket"))
          .orderBy(col("df").desc, col("wh"))
          .limit(500)
      },
      s"""WITH dw AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    ${oWords("text")}, w -> ${oMd5Val("w", 15)}))) AS wh
         |  FROM documents),
         |f AS (SELECT wh, COUNT(*) AS df FROM dw GROUP BY wh),
         |t AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT wh, df, n_docs,
         |  CAST(length(bin(n_docs // df)) AS INTEGER) AS idf_bucket
         |FROM f, t
         |ORDER BY df DESC, wh LIMIT 500""".stripMargin),

    // -- vocabulary growth curve (Heaps' law, tokenizer sizing input) --
    // How fast does the 3-gram vocabulary grow as the corpus is
    // ingested in doc_id order? Each type is attributed to the corpus
    // DECILE where it first appears (min doc_id — an order-independent
    // partial agg), then per-decile new-type counts and the cumulative
    // vocabulary size. Sub-linear growth (Heaps' law) is what justifies
    // a fixed tokenizer vocab; a linear curve flags an open-ended
    // id/noise vocabulary. Types are word 3-grams — the context-sized
    // unit BPE-merge sizing reads (this corpus's unigram vocab closes
    // at 31 words, so the unigram curve is a constant). 100 TB shape:
    // the t14 Zipf guard again — within-doc array_distinct then
    // two-phase partial MIN, so one fixed-width (wh, partial_min)
    // shuffle; the decile rollup is 10 rows and the cumulative window
    // runs over those 10. All integer, bit-exact.
    QueryDef.sql("t15_vocab_growth",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        graft.functions.GraftFunctions.register(s)
        // native gram_hashes60: hashes each window in one generated
        // pass — no gram strings materialize (r10 bench profile);
        // GramHashes60Spec pins it == the md5Val pipeline
        val first = docs.select(col("doc_id"),
            explode(array_distinct(graft.functions.GraftFunctions
              .gramHashes60(words(col("text")), 3))).as("wh"))
          .groupBy(col("wh")).agg(min(col("doc_id")).as("fd"))
        val total = docs.agg(count(lit(1)).as("n_docs"))
        first.crossJoin(broadcast(total))
          .select(least(lit(9L), expr("(fd * 10) DIV n_docs")).as("decile"))
          .groupBy(col("decile")).agg(count(lit(1)).as("new_words"))
          .withColumn("cum_vocab", sum(col("new_words")).over(
            Window.orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy(col("decile"))
      },
      s"""WITH dw AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    ${oGrams3(oWords("text"))}, g -> ${oMd5Val("g", 15)}))) AS wh
         |  FROM documents),
         |f AS (SELECT wh, MIN(doc_id) AS fd FROM dw GROUP BY wh),
         |t AS (SELECT COUNT(*) AS n_docs FROM documents),
         |b AS (SELECT least(9, (fd * 10) // n_docs) AS decile FROM f, t),
         |g AS (SELECT decile, COUNT(*) AS new_words FROM b GROUP BY decile)
         |SELECT decile, new_words,
         |  CAST(SUM(new_words) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
         |    AS BIGINT) AS cum_vocab
         |FROM g ORDER BY decile""".stripMargin),

    // -- bigram-LM fluency score (the CCNet perplexity-filter proxy) ---
    // t09 scores docs by UNIGRAM corpus frequency; the filter CCNet
    // actually runs is a language MODEL — word-in-context. This is its
    // exact-arithmetic bigram analogue: score each document by how
    // predictable its bigrams are under the corpus's own bigram MLE
    // P(w2|w1) = C(w1 w2)/C(w1·). Per-instance division would sum
    // doubles (order-dependent across partitionings), so the score is
    // the ratio-of-sums surrogate (the t11 move): Σ C2(b_i) / Σ C1(p_i)
    // over the doc's bigram instances — two BIGINT sums, ONE division,
    // bit-exact cross-engine. Boilerplate scores high, gibberish low.
    // 100 TB shape: all three inputs scan ONE persisted bigram-instance
    // frame (60-bit hash longs; text never leaves the tokenize
    // projection). The C2/C1 count tables build as two-phase hash aggs
    // — the Zipf head ("the"-prefixed bigrams) collapses to one row
    // per word PER MAP PARTITION before the wire, the t14 guard — and
    // instances pre-aggregate to (doc, bigram, multiplicity) before
    // joining, so join probes carry distinct-bigrams-per-doc, not token
    // volume. The joins are long-keyed shuffle joins; a head key that
    // still skews is exactly what AQE's skew-join split handles —
    // unlike a COUNT window over ph, which would pin every "the ..."
    // instance in the corpus onto one partition with no split
    // available (why this is a join-plan, not a window-plan like t09).
    QueryDef.sql("t16_bigram_lm",
      (s, d) => {
        val bi = bigramInstances(s, d)
        val db = bi.groupBy(col("doc_id"), col("bh"), col("ph"))
          .agg(count(lit(1)).as("k"))
        val c2 = bi.groupBy(col("bh")).agg(count(lit(1)).as("c2"))
        val c1 = bi.groupBy(col("ph")).agg(count(lit(1)).as("c1"))
        db.join(c2, Seq("bh")).join(c1, Seq("ph"))
          .groupBy(col("doc_id"))
          .agg(sum(col("k")).as("n_bigrams"),
            sum(col("k") * col("c2")).as("sum_bg"),
            sum(col("k") * col("c1")).as("sum_prefix"))
          .withColumn("lm_score",
            col("sum_bg").cast("double") / col("sum_prefix"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (SELECT doc_id, ${oWords("text")} AS ws FROM documents
         |           WHERE len(${oWords("text")}) >= 2),
         |e AS (SELECT doc_id, unnest(range(1, len(ws))) AS bi, ws FROM w),
         |x AS (
         |  SELECT doc_id,
         |    ${oMd5Val("array_to_string(ws[bi:bi+1], ' ')", 15)} AS bh,
         |    ${oMd5Val("ws[bi]", 15)} AS ph
         |  FROM e),
         |c AS (
         |  SELECT doc_id,
         |    COUNT(*) OVER (PARTITION BY bh) AS c2,
         |    COUNT(*) OVER (PARTITION BY ph) AS c1
         |  FROM x)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(c2) AS BIGINT) AS sum_bg,
         |  CAST(SUM(c1) AS BIGINT) AS sum_prefix,
         |  CAST(SUM(c2) AS DOUBLE) / SUM(c1) AS lm_score
         |FROM c GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),

    // -- lexical diversity (type-token ratio, uni- and bigram) ---------
    // The MassiveText/C4-adjacent diversity gate t12's hard rules don't
    // cover: per-doc unigram TTR (distinct words / words) and bigram
    // TTR. Low unigram TTR flags keyword stuffing; a high unigram TTR
    // with low bigram TTR flags template text (varied words, repeated
    // phrasing). Entirely map-side — distinct counting happens inside
    // the row via array_distinct, so there is NO shuffle at any scale
    // (PlanSpec-pinned); ratios are integer-over-integer divisions of
    // identical values in both engines, bit-exact.
    // r11: types count over native 60-bit word/bigram hashes — no string
    // arrays survive the projection (7.7 s → codegen at sf1); the
    // oracle hashes its strings with the same md5 rule, so distinctness
    // is the identical contract in both engines.
    QueryDef.sql("t17_lexical_diversity",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val docs = Tables.documents(s, d)
          .withColumn("wsh", graft.functions.GraftFunctions
            .gramHashes60(words(col("text")), 1))
          .withColumn("bg", graft.functions.GraftFunctions
            .gramHashes60(words(col("text")), 2))
        docs.select(col("doc_id"),
            size(col("wsh")).as("n_tokens"),
            size(array_distinct(col("wsh"))).as("n_types"),
            (size(array_distinct(col("wsh"))).cast("double") /
              size(col("wsh"))).as("ttr"),
            size(array_distinct(col("bg"))).as("n_bigram_types"),
            when(size(col("bg")) === 0, lit(0.0))
              .otherwise(size(array_distinct(col("bg"))).cast("double") /
                size(col("bg"))).as("bigram_ttr"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w0 AS (SELECT doc_id, ${oWords("text")} AS ws FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    list_transform(ws, w -> ${oMd5Val("w", 15)}) AS wsh,
         |    CASE WHEN len(ws) < 2 THEN CAST([] AS BIGINT[])
         |         ELSE list_transform(range(1, len(ws)),
         |                bi -> ${oMd5Val("array_to_string(ws[bi:bi+1], ' ')", 15)}) END AS bg
         |  FROM w0)
         |SELECT doc_id,
         |  len(wsh) AS n_tokens,
         |  len(list_distinct(wsh)) AS n_types,
         |  CAST(len(list_distinct(wsh)) AS DOUBLE) / len(wsh) AS ttr,
         |  len(list_distinct(bg)) AS n_bigram_types,
         |  CASE WHEN len(bg) = 0 THEN 0.0
         |       ELSE CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) END AS bigram_ttr
         |FROM g
         |ORDER BY doc_id""".stripMargin),

    // -- TF-IDF keyword extraction (top-3 terms per doc) ---------------
    // The topic-tagging / index-building staple composed from t14's df
    // machinery: score = tf × integer idf bucket, top-3 terms per doc
    // by (score DESC, wh ASC) — a deterministic total order. 100 TB
    // shape: tf is computed INSIDE the row (array_distinct + a counted
    // filter over the token array — no (doc, word) shuffle at all);
    // the df side is bounded to the top-10,000 words by (df DESC, wh)
    // and BROADCAST — words outside it take the df=1 default bucket
    // (absent from the head table ⇒ rare ⇒ max idf; exact here, where
    // the vocab closes under 10k, and the right-biased approximation
    // at open-vocab scale). The only row exchange is the per-doc
    // top-3 window, and Spark's WindowGroupLimit prunes each map
    // partition to 3 rows per doc BEFORE that exchange.
    QueryDef.sql("t18_keyword_tfidf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        graft.functions.GraftFunctions.register(s)
        val tf = docs
          // native gram_hashes60 width 1 (see t09); tf per distinct word
          // via the native one-pass hashmap (long_value_counts) — the
          // old transform+filter form rescanned the token array once
          // per distinct word, interpreted
          .withColumn("wsh", graft.functions.GraftFunctions
            .gramHashes60(words(col("text")), 1))
          .select(col("doc_id"),
            explode(call_function("long_value_counts", col("wsh"))).as("e"))
          .select(col("doc_id"), col("e.v").as("wh"), col("e.c").as("tf"))
        val dfw = docs.select(col("doc_id"),
            explode(array_distinct(graft.functions.GraftFunctions
              .gramHashes60(words(col("text")), 1))).as("wh"))
          .groupBy(col("wh")).agg(count(lit(1)).as("df"))
        val total = docs.agg(count(lit(1)).as("n_docs"))
        val head = dfw.crossJoin(broadcast(total))
          .select(col("wh"), length(bin(expr("n_docs DIV df"))).as("idf_bucket"))
          .orderBy(col("df").desc, col("wh")).limit(10000)
        val oov = total.select(length(bin(col("n_docs"))).as("oov_bucket"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("wh"))
        tf.join(broadcast(head), Seq("wh"), "left")
          .crossJoin(broadcast(oov))
          .withColumn("idf_bucket", coalesce(col("idf_bucket"), col("oov_bucket")))
          .withColumn("score", col("tf") * col("idf_bucket"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("wh"), col("tf"),
            col("idf_bucket"), col("score"))
          .orderBy(col("doc_id"), col("rnk"))
      },
      s"""WITH tf AS (
         |  SELECT doc_id, e[1] AS wh, e[2] AS tf FROM (
         |    SELECT doc_id, unnest(list_transform(list_distinct(wsh),
         |      w -> [w, len(list_filter(wsh, x -> x = w))])) AS e
         |    FROM (SELECT doc_id, list_transform(${oWords("text")},
         |            w -> ${oMd5Val("w", 15)}) AS wsh FROM documents))),
         |dw AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(${oWords("text")},
         |    w -> ${oMd5Val("w", 15)}))) AS wh
         |  FROM documents),
         |f AS (SELECT wh, COUNT(*) AS df FROM dw GROUP BY wh),
         |t AS (SELECT COUNT(*) AS n_docs FROM documents),
         |hd AS (
         |  SELECT wh, CAST(length(bin(n_docs // df)) AS INTEGER) AS idf_bucket
         |  FROM f, t ORDER BY df DESC, wh LIMIT 10000),
         |sc AS (
         |  SELECT tf.doc_id, tf.wh, tf.tf,
         |    COALESCE(hd.idf_bucket,
         |      (SELECT CAST(length(bin(n_docs)) AS INTEGER) FROM t)) AS idf_bucket
         |  FROM tf LEFT JOIN hd USING (wh)),
         |r AS (
         |  SELECT doc_id, wh, tf, idf_bucket, tf * idf_bucket AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf * idf_bucket DESC, wh) AS rnk
         |  FROM sc)
         |SELECT doc_id, rnk, wh, tf, idf_bucket, score
         |FROM r WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin),

    // -- per-doc gram novelty (memorization / contribution proxy) ------
    // What fraction of a doc's 8-gram mass does the doc INTRODUCE to
    // the corpus (doc_id order = ingestion order)? Low novelty = the
    // doc restates text already present — the per-doc complement of
    // d08's duplication profile, and the signal a dedup-aware sampler
    // weights by. Reads the SHARED 8-gram store: the min-doc window
    // runs inside the store's HashPartitioning(h) with zero further
    // exchanges (the d08 plan shape), then one doc_id rollup; only
    // 16-byte hashes and longs ever shuffle. Integer ppm — bit-exact.
    QueryDef.sql("t19_gram_novelty",
      (s, d) => {
        val w = Window.partitionBy(col("h"))
        DedupOps.gram8Agg(s, d)
          .withColumn("min_doc", min(col("doc_id")).over(w))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_grams"),
            sum(when(col("doc_id") === col("min_doc"), col("c"))
              .otherwise(lit(0L))).as("novel_grams"))
          .withColumn("novelty_ppm", expr("novel_grams * 1000000 div n_grams"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (SELECT doc_id, ${oWords("text")} AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len(ws) < 8 THEN []
         |         ELSE list_transform(range(1, len(ws) - 6),
         |                i -> unhex(md5(array_to_string(ws[i:i+7], ' ')))) END) AS h
         |  FROM w),
         |gh AS (SELECT doc_id, h, COUNT(*) AS c FROM g GROUP BY doc_id, h),
         |nv AS (
         |  SELECT doc_id, c, MIN(doc_id) OVER (PARTITION BY h) AS min_doc
         |  FROM gh),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN doc_id = min_doc THEN c ELSE 0 END) AS BIGINT)
         |      AS novel_grams
         |  FROM nv GROUP BY doc_id)
         |SELECT doc_id, n_grams, novel_grams,
         |  novel_grams * 1000000 // n_grams AS novelty_ppm
         |FROM agg
         |ORDER BY doc_id""".stripMargin),

    // -- word-length spectrum per language ------------------------------
    // Tokenizer-design input (vocab sizing / byte-fallback budget): per
    // (lang, word length), occurrence count and distinct-word count.
    // Explode is map-side; the only shuffle is the two-phase distinct
    // agg whose partial rows are bounded by |vocab| x |langs| per
    // partition, not corpus volume. Output is the bounded spectrum.
    QueryDef.sql("t20_word_length_profile",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("lang"), explode(words(col("text"))).as("wd"))
          .select(col("lang"), length(col("wd")).as("len"), col("wd"))
          .groupBy(col("lang"), col("len"))
          .agg(count(lit(1)).as("n_words"),
            countDistinct(col("wd")).as("n_distinct"))
          .orderBy(col("lang"), col("len"))
      },
      s"""WITH t AS (
         |  SELECT lang, unnest(${oWords("text")}) AS wd FROM documents)
         |SELECT lang, CAST(length(wd) AS INTEGER) AS len,
         |  COUNT(*) AS n_words,
         |  CAST(COUNT(DISTINCT wd) AS BIGINT) AS n_distinct
         |FROM t
         |GROUP BY lang, len
         |ORDER BY lang, len""".stripMargin),

    // -- head-coverage curve over 3-gram types -------------------------
    // The compression-potential read on a corpus (and the t15 vocab
    // curve's mass-weighted complement): what fraction of total 3-gram
    // MASS do the top-10/100/1000 types carry? High head coverage =
    // templated/boilerplate corpus; the unigram vocab here closes at
    // ~31 words, so 3-grams are the honest unit (t15's argument).
    // Grams reduce to 60-bit md5 longs map-side (the t09 rule: never
    // shuffle strings); counts are two-phase partial aggs; the head cut
    // is TakeOrdered(1000) — never a full sort — and the rank window
    // runs on that 1000-row frame. Totals are a 1-row aggregate
    // broadcast; integer ppm end-to-end.
    QueryDef.sql("t21_head_coverage",
      (s, d) => {
        // tot and the head cut both read the counted frame — without
        // the barrier Catalyst would inline (= run twice) the
        // explode+count pipeline, the dominant cost at corpus scale
        graft.functions.GraftFunctions.register(s)
        val gc = OpUtils.transient(s, s"t21:$d",
          Tables.documents(s, d)
            // native gram_hashes60 (one generated pass, no gram strings)
            .select(explode(graft.functions.GraftFunctions
              .gramHashes60(words(col("text")), 3)).as("gh"))
            .groupBy(col("gh")).agg(count(lit(1)).as("cnt")))
        val tot = gc.agg(sum(col("cnt")).as("n_grams"),
          count(lit(1)).as("n_types"))
        val wTop = Window.orderBy(col("cnt").desc, col("gh"))
        gc.orderBy(col("cnt").desc, col("gh")).limit(1000)
          .withColumn("rnk", row_number().over(wTop))
          .crossJoin(broadcast(tot))
          .groupBy(col("n_grams"), col("n_types"))
          .agg(sum(when(col("rnk") <= 10, col("cnt")).otherwise(0L)).as("m10"),
            sum(when(col("rnk") <= 100, col("cnt")).otherwise(0L)).as("m100"),
            sum(col("cnt")).as("m1000"))
          .select(col("n_grams"), col("n_types"),
            expr("m10 * 1000000 div n_grams").as("top10_ppm"),
            expr("m100 * 1000000 div n_grams").as("top100_ppm"),
            expr("m1000 * 1000000 div n_grams").as("top1000_ppm"))
      },
      s"""WITH w AS (SELECT ${oWords("text")} AS ws FROM documents),
         |g AS (SELECT unnest(${oGrams3("ws")}) AS g FROM w),
         |gc AS (
         |  SELECT gh, COUNT(*) AS cnt
         |  FROM (SELECT ${oMd5Val("g", 15)} AS gh FROM g)
         |  GROUP BY gh),
         |tot AS (
         |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_grams, COUNT(*) AS n_types
         |  FROM gc),
         |top AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, gh) AS rnk
         |  FROM gc QUALIFY rnk <= 1000)
         |SELECT n_grams, n_types,
         |  CAST(SUM(CASE WHEN rnk <= 10 THEN cnt ELSE 0 END) AS BIGINT)
         |    * 1000000 // n_grams AS top10_ppm,
         |  CAST(SUM(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) AS BIGINT)
         |    * 1000000 // n_grams AS top100_ppm,
         |  CAST(SUM(cnt) AS BIGINT) * 1000000 // n_grams AS top1000_ppm
         |FROM top, tot
         |GROUP BY n_grams, n_types""".stripMargin),

    // -- Readability battery -------------------------------------------
    // Per-doc readability signals, all integer (div) so both engines
    // agree bit-for-bit: chars-per-word (centi), complex-word fraction
    // (≥7 chars — the Gunning-fog term), and the Automated Readability
    // Index in centi-units. ARI needs a sentence count; this corpus has
    // ZERO sentence punctuation (verified), so the documented fallback
    // s = max(1, punct_count) applies — the cpw/complex columns carry
    // the real signal, ari_centi degrades gracefully to a length-dominated
    // score instead of dividing by zero. 100 TB shape: pure map-side
    // projection, zero shuffles at any scale (PlanSpec-pinned).
    QueryDef.sql("t22_readability",
      (s, d) => {
        Tables.documents(s, d)
          .transform(wordStats(words(col("text"))))
          .select(col("doc_id"),
            col("n").cast("int").as("n_words"),
            col("sum_len").cast("int").as("n_word_chars"),
            col("n_complex").cast("int").as("n_complex"),
            greatest(lit(1),
              length(col("text")) -
                length(regexp_replace(col("text"), "[.!?]", ""))).as("n_sentences"))
          .select(col("doc_id"), col("n_words"), col("n_complex"),
            expr("n_word_chars * 100 div n_words").as("cpw_centi"),
            expr("n_complex * 1000000 div n_words").as("complex_ppm"),
            expr("471 * n_word_chars div n_words + 50 * n_words div n_sentences - 2143")
              .as("ari_centi"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (
         |  SELECT doc_id, ${oWords("text")} AS ws,
         |    GREATEST(1, length(text) -
         |      length(regexp_replace(text, '[.!?]', '', 'g'))) AS n_sentences
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, len(ws) AS n_words,
         |    length(array_to_string(ws, '')) AS n_word_chars,
         |    len(list_filter(ws, x -> length(x) >= 7)) AS n_complex,
         |    n_sentences
         |  FROM w)
         |SELECT doc_id, n_words, n_complex,
         |  n_word_chars * 100 // n_words AS cpw_centi,
         |  n_complex * 1000000 // n_words AS complex_ppm,
         |  471 * n_word_chars // n_words + 50 * n_words // n_sentences - 2143
         |    AS ari_centi
         |FROM c
         |ORDER BY doc_id""".stripMargin),

    // -- Zipf doubling-ratio curve -------------------------------------
    // Does the corpus follow a power law, and with what slope? For rank
    // r ∈ {1,2,4,…,512}: freq(2r)/freq(r) in ppm — under perfect Zipf
    // (f ∝ 1/r) every cell reads ~500000; systematic deviation flags
    // boilerplate (flat head) or templated tails. 3-gram types are the
    // honest unit on this corpus (t15's argument; the unigram vocab
    // closes at ~31 words). 100 TB shape: grams reduce to 60-bit md5
    // longs map-side, two-phase count agg, ONE TakeOrdered(1024) head
    // cut — never a full sort; the rank window and the r→2r self-join
    // run on the bounded 1024-row head.
    QueryDef.sql("t23_zipf_curve",
      (s, d) => {
        val powers = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512)
        graft.functions.GraftFunctions.register(s)
        val gc = Tables.documents(s, d)
          // native gram_hashes60 (one generated pass, no gram strings)
          .select(explode(graft.functions.GraftFunctions
            .gramHashes60(words(col("text")), 3)).as("gh"))
          .groupBy(col("gh")).agg(count(lit(1)).as("cnt"))
        val wTop = Window.orderBy(col("cnt").desc, col("gh"))
        val ranked = OpUtils.transient(s, s"t23:$d",
          gc.orderBy(col("cnt").desc, col("gh")).limit(1024)
            .withColumn("rnk", row_number().over(wTop))
            .select(col("rnk"), col("cnt")))
        val a = ranked.filter(col("rnk").isin(powers: _*))
          .select(col("rnk").as("r"), col("cnt").as("freq_r"))
        val b = ranked.select(col("rnk").as("r2"), col("cnt").as("freq_2r"))
        a.join(b, col("r2") === col("r") * 2)
          .select(col("r"), col("freq_r"), col("freq_2r"),
            expr("freq_2r * 1000000 div freq_r").as("ratio_ppm"))
          .orderBy(col("r"))
      },
      s"""WITH w AS (SELECT ${oWords("text")} AS ws FROM documents),
         |g AS (SELECT unnest(${oGrams3("ws")}) AS g FROM w),
         |gc AS (
         |  SELECT gh, COUNT(*) AS cnt
         |  FROM (SELECT ${oMd5Val("g", 15)} AS gh FROM g)
         |  GROUP BY gh),
         |rk AS (
         |  SELECT CAST(cnt AS BIGINT) AS cnt,
         |    row_number() OVER (ORDER BY cnt DESC, gh) AS rnk
         |  FROM gc QUALIFY rnk <= 1024)
         |SELECT a.rnk AS r, a.cnt AS freq_r, b.cnt AS freq_2r,
         |  b.cnt * 1000000 // a.cnt AS ratio_ppm
         |FROM rk a JOIN rk b ON b.rnk = a.rnk * 2
         |WHERE a.rnk IN (1,2,4,8,16,32,64,128,256,512)
         |ORDER BY r""".stripMargin),

    // -- Heavy hitters via the native Count-Min sketch ------------------
    // The sketch path for word frequencies at a scale where the exact
    // (word, count) rollup's shuffle dominates: ONE CountMinAgg
    // (graft's native TypedImperativeAggregate) folds the corpus into a
    // fixed 4×4096-counter state per partition, partials merge by
    // elementwise add (order-free ⇒ the sketch — and so every estimate —
    // is bit-identical under ANY partitioning; CmsSpec pins this), and
    // only depth×width longs per partition ever shuffle. The exact
    // top-30 here is the audit frame the CMS contract is checked
    // against: est ≥ exact (structural CMS guarantee) and est ≤ corpus
    // total, both as oracle-pinned booleans — the q34/q43 sketch-
    // contract pattern, since no SQL engine can replay the sketch.
    QueryDef.sql("t24_heavy_hitters",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val wordsDf = Tables.documents(s, d)
          .select(explode(words(col("text"))).as("word"))
        val sk = wordsDf.agg(call_function("cms_agg", col("word")).as("sk"))
        wordsDf.groupBy(col("word")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word")).limit(30)
          .crossJoin(broadcast(sk))
          .select(col("word"), col("n"),
            (call_function("cms_estimate", col("sk"), col("word")) >= col("n"))
              .as("est_ge_exact"),
            (call_function("cms_estimate", col("sk"), col("word")) <=
              element_at(col("sk"), 4 * 4096 + 1)).as("est_le_total"))
          .orderBy(col("n").desc, col("word"))
      },
      s"""WITH w AS (
         |  SELECT unnest(${oWords("text")}) AS word FROM documents),
         |c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word
         |  ORDER BY n DESC, word LIMIT 30)
         |SELECT word, n, TRUE AS est_ge_exact, TRUE AS est_le_total
         |FROM c
         |ORDER BY n DESC, word""".stripMargin),

    // -- quality-score band sheet (cutoff selection) -------------------
    // The sheet read before choosing t02's keep-threshold: docs and
    // tokens per 0.05-wide score band, with the cumulative share kept
    // if the cut were placed just below each band. p01/p11 consume a
    // fixed threshold; this is how that number gets picked. 100 TB
    // shape: the banding is a map-side projection (same score chain as
    // t02, one exact double op order), the agg is ≤20 rows, and the
    // cumulative window runs over that bounded frame — the corpus is
    // touched exactly once, no joins. Shares are integer ppm.
    QueryDef.sql("t25_quality_bands",
      (s, d) => {
        // the ≤20-row band frame feeds both the total
        // and the output — without the barrier Catalyst inlines the
        // corpus scan into the total agg (= corpus read twice; the
        // PlanSpec guard caught exactly this)
        val g = OpUtils.transient(s, s"t25:$d", qualityBands(Tables.documents(s, d)))
        val tot = g.agg(sum(col("n_docs")).as("tot_docs"))
        val w = Window.orderBy(col("band").desc) // ≤20 rows: bounded frame
        g.crossJoin(broadcast(tot)) // aggregate-bounded: 1 row
          .withColumn("cum_docs", sum(col("n_docs")).over(w))
          .select(col("band"), col("n_docs"), col("n_tokens"), col("cum_docs"),
            // DECIMAL(38,0): cum_docs*1e6 overflows BIGINT once the
            // corpus passes ~9e12 docs-equivalent (r8 ADVICE, q41 pattern)
            expr("CAST(CAST(cum_docs AS DECIMAL(38,0)) * 1000000 DIV tot_docs AS BIGINT)")
              .as("cum_share_ppm"))
          .orderBy(col("band"))
      },
      s"""WITH q AS (
         |  SELECT ${oWords("text")} AS ws FROM documents),
         |m AS (
         |  SELECT len(ws) AS n,
         |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to')))
         |      AS stop_hits,
         |    list_reduce([0] || list_transform(ws, w -> length(w)),
         |      (a, b) -> a + b) AS sum_len
         |  FROM q),
         |sc AS (
         |  SELECT n,
         |    least(CAST(n AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(stop_hits AS DOUBLE) / n) * 0.3 +
         |      least((CAST(sum_len AS DOUBLE) / n) / 8.0, 1.0) * 0.2 AS quality
         |  FROM m),
         |g AS (
         |  SELECT LEAST(CAST(floor(quality * 20.0) AS INTEGER), 19) AS band,
         |    COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
         |  FROM sc GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs FROM g)
         |SELECT band, n_docs, n_tokens,
         |  CAST(SUM(n_docs) OVER (ORDER BY band DESC) AS BIGINT) AS cum_docs,
         |  CAST(CAST(SUM(n_docs) OVER (ORDER BY band DESC) AS HUGEINT) * 1000000
         |    // tot_docs AS BIGINT) AS cum_share_ppm
         |FROM g, t
         |ORDER BY band""".stripMargin),

    // -- character-class spectrum per source ---------------------------
    // The byte-level complement of t10's word-level health sheet, and
    // the input to tokenizer byte-fallback sizing: per source, what
    // fraction of characters are digits / uppercase / sentence
    // punctuation / spaces. A digit-heavy source is tables and logs, an
    // uppercase-heavy one is shouting boilerplate — both get different
    // treatment than prose. Counts are length-differences after
    // class-stripping regexp_replace (identical ASCII classes both
    // engines, so non-Latin text simply contributes zeros), computed
    // map-side per doc; ONE source-keyed shuffle of integer partials;
    // shares are integer per-mille.
    QueryDef.sql("t26_char_classes",
      (s, d) => charClasses(Tables.documents(s, d)).orderBy(col("source")),
      """WITH m AS (
        |  SELECT source, length(trim(text)) AS n,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[0-9]', '', 'g')) AS dg,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[A-Z]', '', 'g')) AS up,
        |    length(trim(text)) - length(regexp_replace(trim(text), '[.,!?]', '', 'g')) AS pu,
        |    length(trim(text)) - length(regexp_replace(trim(text), ' ', '', 'g')) AS sp
        |  FROM documents),
        |a AS (
        |  SELECT source, SUM(n) AS n_chars, SUM(dg) AS dg, SUM(up) AS up,
        |    SUM(pu) AS pu, SUM(sp) AS sp
        |  FROM m GROUP BY 1)
        |SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN n_chars > 0 THEN dg * 1000 // n_chars ELSE 0 END AS BIGINT) AS digit_pm,
        |  CAST(CASE WHEN n_chars > 0 THEN up * 1000 // n_chars ELSE 0 END AS BIGINT) AS upper_pm,
        |  CAST(CASE WHEN n_chars > 0 THEN pu * 1000 // n_chars ELSE 0 END AS BIGINT) AS punct_pm,
        |  CAST(CASE WHEN n_chars > 0 THEN sp * 1000 // n_chars ELSE 0 END AS BIGINT) AS space_pm
        |FROM a ORDER BY source""".stripMargin),

    // -- within-doc duplicate 3-gram profile (Gopher repetition tier 2) -
    // t07 measures duplicate BIGRAM fraction; MassiveText's repetition
    // battery also gates on duplicate n-gram CHARACTER mass — the
    // signal that catches boilerplate chant ("click here to subscribe
    // click here to ...") that token-level ratios understate. Per doc:
    // 3-gram occurrences that REPEAT an earlier identical 3-gram in
    // the same doc (keep-first, position order) and the character mass
    // those repeats carry, both as integer ppm. Everything computes
    // INSIDE the row — zero shuffles, zero joins at any corpus size
    // (PlanSpec-pinned). The whole profile is the native one-pass
    // [[graft.functions.DupGramProfile]] expression over the words
    // array (r10, two lessons deep: the declarative exists-over-slice
    // repeat scan was O(g²) — 7.7 s at sf0.1 —, and even with a native
    // repeat counter the cell stayed ~5 s because MATERIALIZING the
    // gram array (per-position slice + concat_ws) cost ~2.5 s/pass and
    // the CodegenFallback HOF consumers paid it repeatedly; building
    // each gram in the generated loop drops the cell to ~0.6 s).
    // DupGramProfileSpec pins native ≡ plain-Scala truth; the DuckDB
    // oracle keeps its independent quadratic list form.
    QueryDef.sql("t27_dup_gram_profile",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.GraftFunctions.dupGramProfile(words(col("text")))
              .as("m"))
          .select(col("doc_id"),
            element_at(col("m"), 1).as("n_grams"),
            element_at(col("m"), 2).as("n_repeat"),
            element_at(col("m"), 3).as("gram_chars"),
            element_at(col("m"), 4).as("rep_chars"))
          .select(col("doc_id"), col("n_grams"), col("n_repeat"),
            expr("CASE WHEN n_grams > 0 THEN n_repeat * 1000000 div n_grams " +
              "ELSE CAST(0 AS BIGINT) END").as("repeat_ppm"),
            expr("CASE WHEN gram_chars > 0 THEN rep_chars * 1000000 div gram_chars " +
              "ELSE CAST(0 AS BIGINT) END").as("char_repeat_ppm"))
          .orderBy(col("doc_id"))
      },
      s"""WITH w AS (SELECT doc_id, ${oWords("text")} AS ws FROM documents),
         |g AS (SELECT doc_id, ${oGrams3("ws")} AS gs FROM w),
         |r AS (
         |  SELECT doc_id, gs,
         |    CASE WHEN len(gs) < 2 THEN []
         |      ELSE list_filter(range(2, len(gs) + 1),
         |        i -> list_contains(gs[1:i-1], gs[i])) END AS rep_idx
         |  FROM g),
         |m AS (
         |  SELECT doc_id, len(gs) AS n_grams, len(rep_idx) AS n_repeat,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(gs,
         |      x -> CAST(length(x) AS BIGINT)), (a, b) -> a + b) AS gram_chars,
         |    list_reduce([CAST(0 AS BIGINT)] || list_transform(rep_idx,
         |      i -> CAST(length(gs[i]) AS BIGINT)), (a, b) -> a + b) AS rep_chars
         |  FROM r)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(n_repeat AS BIGINT) AS n_repeat,
         |  CAST(CASE WHEN n_grams > 0 THEN n_repeat * 1000000 // n_grams
         |    ELSE 0 END AS BIGINT) AS repeat_ppm,
         |  CAST(CASE WHEN gram_chars > 0 THEN rep_chars * 1000000 // gram_chars
         |    ELSE 0 END AS BIGINT) AS char_repeat_ppm
         |FROM m ORDER BY doc_id""".stripMargin),

    // -- footer boilerplate sheet per source ------------------------------
    // Syndicated sources stamp the same closing line on every page
    // ("subscribe to our newsletter...") — d23 catches shared PREFIXES,
    // this catches the shared TAIL: per source, how concentrated the
    // final word-8-gram is (the dominant footer and its share). A
    // share near 1e6 says one template closes the whole source — strip
    // it before tokenization. 100 TB shape: the footer hash computes
    // map-side per doc (15 hex digits / 60 bits → one long), ONE (source, h)
    // shuffle of counts, the per-source rollup reuses that partitioning
    // (source ⊂ (source, h)), and the winner is an arg_max over the
    // bounded per-source footer table (q40 padded key, ties to the
    // smaller hash) — no window over docs, no text on any exchange.
    QueryDef.sql("t28_footer_boilerplate",
      (s, d) => {
        val ws = words(trim(col("text")))
        val fb = Tables.documents(s, d)
          .select(col("source"), ws.as("ws"))
          .filter(size(col("ws")) >= 8)
          .select(col("source"),
            md5Val(concat_ws(" ", slice(col("ws"), size(col("ws")) - 7, lit(8))), 15)
              .as("h"))
        val perFooter = fb.groupBy(col("source"), col("h"))
          .agg(count(lit(1)).as("cnt"))
        perFooter
          .withColumn("key", concat(lpad(col("cnt").cast("string"), 12, "0"),
            lpad((lit(2000000000000000000L) - col("h")).cast("string"), 19, "0")))
          .groupBy(col("source"))
          .agg(sum(col("cnt")).as("n_docs"),
            count(lit(1)).as("n_footers"),
            max_by(col("cnt"), col("key")).as("top_count"))
          .select(col("source"), col("n_docs"), col("n_footers"), col("top_count"),
            expr("CAST(CAST(top_count AS DECIMAL(38,0)) * 1000000 DIV n_docs AS BIGINT)")
              .as("top_ppm"))
          .orderBy(col("source"))
      },
      s"""WITH fw AS (
         |  SELECT source, ${oWords("trim(text)")} AS ws FROM documents),
         |fh AS (
         |  SELECT source,
         |    ${oMd5Val("array_to_string(ws[-8:], ' ')", 15)} AS h
         |  FROM fw WHERE len(ws) >= 8),
         |pf AS (SELECT source, h, COUNT(*) AS cnt FROM fh GROUP BY 1, 2),
         |pk AS (
         |  SELECT source, cnt,
         |    lpad(CAST(cnt AS VARCHAR), 12, '0') ||
         |      lpad(CAST(2000000000000000000 - h AS VARCHAR), 19, '0') AS key
         |  FROM pf)
         |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
         |  COUNT(*) AS n_footers,
         |  CAST(arg_max(cnt, key) AS BIGINT) AS top_count,
         |  CAST(CAST(arg_max(cnt, key) AS HUGEINT) * 1000000 // SUM(cnt) AS BIGINT)
         |    AS top_ppm
         |FROM pk GROUP BY 1 ORDER BY source""".stripMargin),

    // -- per-source unique-gram mass (entropy-free diversity) ------------
    // The data-mixing question "how diverse is this source?" without
    // cross-engine log/exp (the oracle-determinism house rule): per
    // source, distinct-3-gram share and SINGLETON-3-gram share of all
    // gram occurrences, in ppm. A templated source scores low on both
    // (few grams, endlessly repeated); a diverse source's singleton
    // share approaches its distinct share. 100 TB shape: grams leave
    // the doc as 60-bit md5 longs (never text), ONE (source, h) count
    // shuffle, then the per-source rollup re-groups the already-counted
    // gram table — occurrences never shuffle twice; ppm is exact
    // integer via the DECIMAL(38,0) house pattern.
    QueryDef.sql("t29_unique_gram_mass",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val gx = Tables.documents(s, d)
          .select(col("source"),
            // native gram_hashes60 (one generated pass, no gram strings)
            explode(graft.functions.GraftFunctions
              .gramHashes60(words(col("text")), 3)).as("h"))
        gx.groupBy(col("source"), col("h"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("source"))
          .agg(sum(col("cnt")).as("n_grams"),
            count(lit(1)).as("n_distinct"),
            sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_singleton"))
          .select(col("source"), col("n_grams"), col("n_distinct"),
            col("n_singleton"),
            expr("CAST(CAST(n_distinct AS DECIMAL(38,0)) * 1000000 DIV n_grams AS BIGINT)")
              .as("distinct_ppm"),
            expr("CAST(CAST(n_singleton AS DECIMAL(38,0)) * 1000000 DIV n_grams AS BIGINT)")
              .as("singleton_ppm"))
          .orderBy(col("source"))
      },
      s"""WITH w AS (SELECT source, ${oWords("text")} AS ws FROM documents),
         |gx AS (
         |  SELECT source,
         |    unnest(list_transform(${oGrams3("ws")}, g -> ${oMd5Val("g", 15)})) AS h
         |  FROM w),
         |pg AS (SELECT source, h, COUNT(*) AS cnt FROM gx GROUP BY 1, 2)
         |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_grams,
         |  COUNT(*) AS n_distinct,
         |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
         |  CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 // SUM(cnt) AS BIGINT)
         |    AS distinct_ppm,
         |  CAST(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
         |    // SUM(cnt) AS BIGINT) AS singleton_ppm
         |FROM pg GROUP BY 1 ORDER BY source""".stripMargin),

    // -- what stripping the dominant footer would buy ---------------------
    // t28 FINDS the dominant footer per source; this answers the next
    // question a pipeline owner asks before shipping the strip rule:
    // how many tokens it removes (strip_token_ppm) and whether a SECOND
    // boilerplate layer hides underneath — post_top_ppm is the dominant
    // share of the tail distribution AFTER the strip, where an affected
    // doc's new tail is the 8-gram that ended 8 words earlier (both
    // hashes computed in the SAME map-side projection — text is read
    // once and never again). 100 TB shape: ONE corpus scan into a
    // persisted per-doc frame of (source, n_words, 2 longs); the
    // dominant-footer winner is t28's padded-key arg_max over the
    // bounded per-source footer table and joins back by BROADCAST
    // (|sources| rows — absolutely bounded); tails re-group on (source,
    // hash) counts, so no exchange ever carries text. Docs left with
    // <8 words after the strip leave the post distribution (post_docs
    // counts survivors).
    QueryDef.sql("t30_footer_strip_effect",
      (s, d) => {
        val ws = words(trim(col("text")))
        val tails = OpUtils.transient(s, s"t30:$d",
          Tables.documents(s, d)
            .select(col("source"), ws.as("ws"))
            .filter(size(col("ws")) >= 8)
            .select(col("source"), size(col("ws")).cast("long").as("nw"),
              md5Val(concat_ws(" ", slice(col("ws"), size(col("ws")) - 7, lit(8))), 15)
                .as("th"),
              when(size(col("ws")) >= 16,
                md5Val(concat_ws(" ", slice(col("ws"), size(col("ws")) - 15, lit(8))), 15))
                .as("ph")))
        // dominant footer per source: t28's padded arg_max key verbatim
        val winner = tails.groupBy(col("source"), col("th"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("key", concat(lpad(col("cnt").cast("string"), 12, "0"),
            lpad((lit(2000000000000000000L) - col("th")).cast("string"), 19, "0")))
          .groupBy(col("source"))
          .agg(max_by(col("th"), col("key")).as("fh"),
            max_by(col("cnt"), col("key")).as("top_count"))
        val post = tails.join(broadcast(winner), Seq("source"))
          .withColumn("nt", when(col("th") =!= col("fh"), col("th"))
            .otherwise(col("ph"))) // affected doc: pre-tail (null if nw<16)
        val postTop = post.filter(col("nt").isNotNull)
          .groupBy(col("source"), col("nt"))
          .agg(count(lit(1)).as("pcnt"))
          .withColumn("pkey", concat(lpad(col("pcnt").cast("string"), 12, "0"),
            lpad((lit(2000000000000000000L) - col("nt")).cast("string"), 19, "0")))
          .groupBy(col("source"))
          .agg(sum(col("pcnt")).as("post_docs"),
            max_by(col("pcnt"), col("pkey")).as("post_top_count"))
        val base = tails.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"))
        base.join(winner.select(col("source"), col("top_count")), Seq("source"))
          .join(postTop, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("top_count"),
            expr("CAST(CAST(top_count AS DECIMAL(38,0)) * 8000000 DIV n_tokens AS BIGINT)")
              .as("strip_token_ppm"),
            col("post_docs"), col("post_top_count"),
            expr("CAST(CAST(post_top_count AS DECIMAL(38,0)) * 1000000 DIV post_docs AS BIGINT)")
              .as("post_top_ppm"))
          .orderBy(col("source"))
      },
      s"""WITH fw AS (
         |  SELECT source, ${oWords("trim(text)")} AS ws FROM documents),
         |tl AS (
         |  SELECT source, CAST(len(ws) AS BIGINT) AS nw,
         |    ${oMd5Val("array_to_string(ws[-8:], ' ')", 15)} AS th,
         |    CASE WHEN len(ws) >= 16
         |      THEN ${oMd5Val("array_to_string(ws[-16:-9], ' ')", 15)} END AS ph
         |  FROM fw WHERE len(ws) >= 8),
         |pf AS (SELECT source, th, COUNT(*) AS cnt FROM tl GROUP BY 1, 2),
         |pk AS (
         |  SELECT source, th, cnt,
         |    lpad(CAST(cnt AS VARCHAR), 12, '0') ||
         |      lpad(CAST(2000000000000000000 - th AS VARCHAR), 19, '0') AS key
         |  FROM pf),
         |win AS (
         |  SELECT source, arg_max(th, key) AS fh, arg_max(cnt, key) AS top_count
         |  FROM pk GROUP BY 1),
         |post AS (
         |  SELECT tl.source,
         |    CASE WHEN tl.th <> win.fh THEN tl.th ELSE tl.ph END AS nt
         |  FROM tl JOIN win ON tl.source = win.source),
         |pt AS (
         |  SELECT source, nt, COUNT(*) AS pcnt FROM post
         |  WHERE nt IS NOT NULL GROUP BY 1, 2),
         |ptk AS (
         |  SELECT source, pcnt,
         |    lpad(CAST(pcnt AS VARCHAR), 12, '0') ||
         |      lpad(CAST(2000000000000000000 - nt AS VARCHAR), 19, '0') AS pkey
         |  FROM pt),
         |ptop AS (
         |  SELECT source, CAST(SUM(pcnt) AS BIGINT) AS post_docs,
         |    CAST(arg_max(pcnt, pkey) AS BIGINT) AS post_top_count
         |  FROM ptk GROUP BY 1),
         |base AS (
         |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_tokens
         |  FROM tl GROUP BY 1)
         |SELECT base.source, base.n_docs, base.n_tokens,
         |  CAST(win.top_count AS BIGINT) AS top_count,
         |  CAST(CAST(win.top_count AS HUGEINT) * 8000000 // base.n_tokens AS BIGINT)
         |    AS strip_token_ppm,
         |  ptop.post_docs, ptop.post_top_count,
         |  CAST(CAST(ptop.post_top_count AS HUGEINT) * 1000000 // ptop.post_docs
         |    AS BIGINT) AS post_top_ppm
         |FROM base
         |JOIN win ON base.source = win.source
         |JOIN ptop ON base.source = ptop.source
         |ORDER BY base.source""".stripMargin),

    // -- tokenizer fertility sheet per (lang, source) -------------------
    // The vocabulary-design read a training pipeline takes BEFORE
    // committing to a tokenizer: under a BPE-ish pre-tokenization
    // (letter runs | single digits | single symbols — the byte-fallback
    // classes), how many tokens does a word cost (fertility), how long
    // is a token, and what share of tokens are symbol/digit fallbacks?
    // A high-fertility (lang, source) cell is where a byte-level
    // tokenizer bloats sequence length and where vocab budget should
    // go. Exact integer ppm/milli throughout — no float drift. The
    // regex is a plain character-class alternation evaluated
    // identically by Java regex and DuckDB's RE2; text lowercases
    // first so the classes close. 100 TB shape: tokenization is
    // map-side (one regexp_extract_all per doc, no token strings ever
    // shuffle — only six per-(lang, source) counters), one partial-agg
    // exchange on the ≤|langs×sources| frame, bounded output.
    QueryDef.sql("t31_tokenizer_fertility",
      (s, d) => fertilitySheet(Tables.documents(s, d)).orderBy(col("lang"), col("source")),
      s"""WITH t AS (
         |  SELECT lang, source,
         |    len(${oWords("text")}) AS nw,
         |    regexp_extract_all(lower(trim(text)), '([a-z]+|[0-9]|[^a-z0-9 ])')
         |      AS toks
         |  FROM documents),
         |m AS (
         |  SELECT lang, source, nw, len(toks) AS nt,
         |    length(array_to_string(toks, '')) AS tok_chars,
         |    len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$$')))
         |      AS nt_word
         |  FROM t),
         |g AS (
         |  SELECT lang, source, COUNT(*) AS n_docs,
         |    CAST(SUM(nw) AS BIGINT) AS n_words,
         |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |    CAST(SUM(tok_chars) AS BIGINT) AS n_tok_chars,
         |    CAST(SUM(nt - nt_word) AS BIGINT) AS n_fallback
         |  FROM m GROUP BY 1, 2)
         |SELECT lang, source, n_docs, n_words, n_tokens, n_tok_chars,
         |  n_fallback,
         |  n_tokens * 1000 // n_words AS fertility_milli,
         |  n_tok_chars * 1000 // n_tokens AS chars_per_token_milli,
         |  CAST(CAST(n_fallback AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
         |    AS fallback_ppm
         |FROM g
         |ORDER BY lang, source""".stripMargin),

    // -- per-doc word-entropy proxy, banded per source -------------------
    // The gibberish/boilerplate detector the repetition ratio (t07) and
    // diversity measures (t17/t29) don't give: how CONCENTRATED is each
    // document's own word distribution? A templated page repeating ten
    // words scores near 0 bits/word; natural prose sits several bits
    // up. Entropy is computed in the integer-log2 domain (the
    // oracle-determinism house rule: no cross-engine log/exp):
    // bitlen(x) = length(bin(x)) = floor(log2 x)+1, and
    //   H_proxy·n = n·bitlen(n) − Σ_w c_w·bitlen(c_w)
    // — exact integers end to end; per-doc millibits-per-word uses one
    // integer division. The manifest bands docs per source at whole-bit
    // resolution with each band's doc count and exact mean millibits.
    // 100 TB shape: words leave the doc as 60-bit md5 longs (never
    // strings), ONE (doc, wh) count shuffle (map-side partials fold a
    // doc's repeats within a partition), the per-doc rollup re-groups
    // already-counted rows, and the band frame is sources × ~a dozen
    // bands. Zipf-head safe: keys are (doc_id, wh), so no reducer ever
    // sees one word's global posting list.
    QueryDef.sql("t32_word_entropy",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val wc = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(graft.functions.GraftFunctions
              .gramHashes60(words(col("text")), 1)).as("wh"))
          .groupBy(col("doc_id"), col("source"), col("wh"))
          .agg(count(lit(1)).as("c"))
        val perDoc = wc.groupBy(col("doc_id"), col("source"))
          .agg(sum(col("c")).as("n"),
            sum(col("c") * length(bin(col("c")))).as("cmass"))
          .withColumn("proxy_mb",
            expr("(n * length(bin(n)) - cmass) * 1000 DIV n"))
        perDoc.groupBy(col("source"),
            expr("proxy_mb DIV 1000").cast("int").as("band_bits"))
          .agg(count(lit(1)).as("n_docs"),
            expr("SUM(proxy_mb) DIV COUNT(*)").as("mean_millibits"))
          .orderBy(col("source"), col("band_bits"))
      },
      s"""WITH wx AS (
         |  SELECT doc_id, source,
         |    unnest(list_transform(${oWords("text")},
         |      w -> ${oMd5Val("w", 15)})) AS wh
         |  FROM documents),
         |wc AS (
         |  SELECT doc_id, source, wh, COUNT(*) AS c
         |  FROM wx GROUP BY 1, 2, 3),
         |pd AS (
         |  SELECT doc_id, source,
         |    CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(c * length(bin(c))) AS BIGINT) AS cmass
         |  FROM wc GROUP BY 1, 2),
         |px AS (
         |  SELECT source,
         |    (n * length(bin(n)) - cmass) * 1000 // n AS proxy_mb
         |  FROM pd)
         |SELECT source, CAST(proxy_mb // 1000 AS INTEGER) AS band_bits,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(proxy_mb) // COUNT(*) AS BIGINT) AS mean_millibits
         |FROM px
         |GROUP BY 1, 2
         |ORDER BY source, band_bits""".stripMargin)
  )
}
