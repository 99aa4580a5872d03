package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry, TempDirs}

/** The dedup pipeline's composition contract, pinned across operators:
  * d14 (materialized corpus) must agree row-for-row with d07's cluster
  * labels, d15's keep/drop decisions must follow from its own match
  * columns, and t10's per-source totals must tile the corpus. These are
  * invariants BETWEEN queries — the oracle gate checks each one alone.
  */
class PipelineCompositionSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession =
    GraftSession.builder("pipeline-composition", "4").getOrCreate()
  val sfDir = "/root/testdata/sf0.001"

  test("d24 weights: every cluster's soft mass sums back to ~1e6") {
    // the soft-dedup invariant that makes it d14's alternative: a
    // near-dup cluster contributes ONE document of training mass no
    // matter how many copies it holds (up to integer-div truncation,
    // < cluster_n ppm), and singletons carry exactly full weight
    val rows = SparkEntry.queries("d24_soft_dedup_weights")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.filter(_._3 == 1L).foreach { case (id, cl, _, w) =>
      assert(w == 1000000L, s"singleton $id (cluster $cl) weight $w")
    }
    val byCluster = rows.filter(_._3 > 1L).groupBy(_._2)
    assert(byCluster.nonEmpty, "no non-trivial clusters — vacuous corpus")
    byCluster.foreach { case (cl, ms) =>
      val n = ms.head._3
      assert(ms.length == n, s"cluster $cl: ${ms.length} rows vs cluster_n $n")
      val mass = ms.map(_._4).sum
      assert(mass <= 1000000L && mass > 1000000L - n,
        s"cluster $cl mass $mass outside (1e6 - $n, 1e6]")
    }
  }

  test("t19 novelty: the first doc introduces everything; repeats score less") {
    // doc_id order = ingestion order, so the FIRST doc can only carry
    // novel grams; the ratio must be internally consistent; and the
    // metric must discriminate on this corpus (d08 proves cross-doc
    // duplicated grams exist, so some later doc restates mass)
    val rows = SparkEntry.queries("t19_gram_novelty")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val firstDoc = rows.minBy(_._1)
    assert(firstDoc._4 == 1000000L, s"first doc novelty ${firstDoc._4}")
    rows.foreach { case (id, nGrams, novel, ppm) =>
      assert(novel >= 0 && novel <= nGrams, s"doc $id: $novel of $nGrams")
      assert(ppm == novel * 1000000L / nGrams, s"doc $id ppm drift")
    }
    assert(rows.exists(_._4 < 1000000L), "no doc restates any gram — vacuous")
  }

  test("d14 keeps exactly one doc per d07 cluster and every singleton") {
    val clusters = SparkEntry.queries("d07_neardup_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val kept = SparkEntry.queries("d14_dedup_materialize")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet

    val clustered = clusters.map(_._1).toSet
    val canonical = clusters.filter(_._3).map(_._1).toSet
    // every canonical member survives, every non-canonical is dropped
    assert(canonical.subsetOf(kept))
    assert((clustered -- canonical).intersect(kept).isEmpty)
    // exactly one survivor per cluster
    val survivorsPerCluster = clusters.filter(c => kept.contains(c._1))
      .groupBy(_._2).view.mapValues(_.length).toMap
    assert(survivorsPerCluster.values.forall(_ == 1),
      s"clusters with != 1 survivor: ${survivorsPerCluster.filter(_._2 != 1)}")
    // corpus = kept ∪ dropped (docs outside any cluster are all kept):
    // 2n corpus docs (originals + perturbed twins), n = documents rows
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(kept.size + (clustered -- canonical).size == 2 * n)
  }

  test("d15 decisions follow from its match columns and catch the perturbed twins") {
    val rows = SparkEntry.queries("d15_incremental_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == n, "one verdict row per new-batch doc")
    rows.foreach { case (id, exact, nMatches, bestJac, keep) =>
      assert(id >= 1000000L)
      assert(keep == (!exact && nMatches == 0), s"doc $id: inconsistent verdict")
      if (nMatches > 0) assert(bestJac >= 0.5, s"doc $id: match below threshold")
      else assert(bestJac == 0.0, s"doc $id: jaccard without a match")
    }
    // the new batch is near-dups of the corpus by construction (last
    // word dropped): the overwhelming majority must be flagged
    val dropped = rows.count(!_._5)
    assert(dropped > rows.length * 0.8,
      s"only $dropped/${rows.length} perturbed twins flagged as dups")
  }

  test("p01 verdict precedence: quality beats dup; one survivor per passing group") {
    import spark.implicits._
    // short no-stopword text fails the t02 score (~0.125); a 120-word
    // text passes on length alone (0.5 floor from the n/100 term)
    val short = (1 to 5).map(i => s"zz$i").mkString(" ")
    val long1 = (1 to 120).map(i => s"aa$i").mkString(" ")
    val long2 = (1 to 120).map(i => s"bb$i").mkString(" ")
    val dir = tempDir("p01spec").toString
    Seq((1L, "en", "s0", short), (2L, "en", "s0", short),
        (3L, "en", "s1", long1), (4L, "en", "s1", long1),
        (5L, "en", "s1", long2))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val stages = SparkEntry.queries("p01_curated_corpus")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    // the whole short group fails quality — the dup rank never fires
    assert(stages(1L) == "quality" && stages(2L) == "quality", stages.toString)
    // the surviving group keeps exactly its min-id copy
    assert(stages(3L) == "kept" && stages(4L) == "exact_dup", stages.toString)
    assert(stages(5L) == "kept", stages.toString)
  }

  test("p02 packing arithmetic: shard-local offsets reconstruct exactly") {
    val rows = SparkEntry.queries("p02_token_packing")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // recompute the packing in Scala per shard and compare every field
    rows.groupBy(_._2).foreach { case (src, docs) =>
      var cum = 0L
      docs.sortBy(_._1).foreach { case (id, _, n, start, first, last) =>
        assert(start == cum, s"$src/$id: offset $start, expected $cum")
        assert(first == start / 2048, s"$src/$id: first_seq")
        val expLast = if (n == 0) first else (cum + n - 1) / 2048
        assert(last == expLast, s"$src/$id: last_seq $last, expected $expLast")
        cum += n
      }
    }
    // sf0.001 shards never accumulate 2048 tokens, so force a straddle:
    // three 1500-token docs in one shard — doc 2 spans blocks 0 and 1,
    // doc 3 spans 1 and 2
    import spark.implicits._
    val dir = tempDir("p02spec").toString
    (1 to 3).map(i => (i.toLong, "en", "s0", (1 to 1500).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val packed = SparkEntry.queries("p02_token_packing")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(5))).toList
    assert(packed == List((1L, 0L, 0L), (2L, 0L, 1L), (3L, 1L, 2L)),
      s"straddle blocks wrong: $packed")
  }

  test("p03 split: near-dup cluster members never straddle train/val") {
    val split = SparkEntry.queries("p03_leakage_safe_split")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val clusters = SparkEntry.queries("d07_neardup_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = split.map(r => r._1 -> r._3).toMap
    // every clustered doc carries its cluster's split — no leakage
    clusters.groupBy(_._2).foreach { case (cl, members) =>
      val splits = members.map(m => byDoc(m._1)).distinct
      assert(splits.length == 1, s"cluster $cl straddles the split: $splits")
    }
    // both sides populated, val fraction near the 10% bucket rate
    val valFrac = split.count(_._3 == "val").toDouble / split.length
    assert(valFrac > 0.02 && valFrac < 0.25, s"val fraction $valFrac")
    // one verdict per corpus doc (originals + perturbed twins)
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(split.length == 2 * n)
  }

  test("d17 line dedup: a shared 10-word chunk is counted and kept exactly once") {
    import spark.implicits._
    // doc 1 and doc 2 share their first line (10 words) verbatim; doc 2's
    // second line is unique; doc 3 is 5 words (one short line, unique).
    // The corpus doubles docs with perturbed twins (last word dropped), so
    // assert on the ORIGINAL ids only and just the shared-line relation.
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val dir = tempDir("d17spec").toString
    Seq((1L, "en", "s0", shared),
        (2L, "en", "s0", shared + " " + (1 to 10).map(i => s"u$i").mkString(" ")),
        (3L, "en", "s0", "a b c d e"))
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("d17_line_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1's single line duplicates (doc 2 carries it too) and doc 1
    // keeps it (first occurrence by (doc_id, pos))
    assert(rows(1L) == ((1L, 1L, 1L)), s"doc 1: ${rows(1L)}")
    // doc 2: two lines, the shared one is a dup it does NOT keep, the
    // unique one it keeps
    assert(rows(2L) == ((2L, 1L, 1L)), s"doc 2: ${rows(2L)}")
    // doc 3: one short unique line, kept
    assert(rows(3L)._1 == 1L && rows(3L)._3 == 1L, s"doc 3: ${rows(3L)}")
  }

  test("p04 mixture: under-represented sources keep everything, rates hit the target") {
    val rows = SparkEntry.queries("p04_domain_mixture")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = rows.map(_._2).sum
    val nSources = rows.length.toLong
    rows.foreach { case (src, nDocs, keepPpm, nKept) =>
      val expected = math.min(1000000L, (total * 1000000L) / (nSources * nDocs))
      assert(keepPpm == expected, s"$src: keep_ppm $keepPpm != $expected")
      if (nDocs * nSources <= total) assert(keepPpm == 1000000L, s"$src not kept whole")
      assert(nKept <= nDocs)
      if (keepPpm == 1000000L) assert(nKept == nDocs, s"$src: full-keep source sampled")
    }
  }

  test("t11 importance: target docs carry positive target mass; masses bound each other") {
    val rows = SparkEntry.queries("t11_dsir_weights")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    rows.foreach { case (id, nBg, tMass, cMass, imp) =>
      // every bigram instance counts itself in the corpus table
      assert(cMass >= nBg, s"doc $id: corpus mass below own bigram count")
      assert(tMass <= cMass, s"doc $id: target mass exceeds corpus mass")
      if (id % 25 == 1 && id < 5000 && nBg > 0) {
        assert(tMass >= nBg, s"target doc $id: own bigrams missing from target mass")
        assert(imp > 0.0, s"target doc $id: zero importance")
      }
    }
  }

  test("d16 verdicts: the min-id vector of every cell is kept") {
    val rows = SparkEntry.queries("d16_semantic_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // keep == (n_dups == 0) by definition
    rows.foreach { case (id, _, n, keep) => assert(keep == (n == 0L), s"vec $id") }
    // a cell's smallest vec_id has no lower-id neighbor anywhere, so it
    // must always survive (the greedy representative)
    rows.groupBy(_._2).foreach { case (cell, vs) =>
      val minVec = vs.minBy(_._1)
      assert(minVec._4, s"cell $cell: min vector ${minVec._1} dropped")
    }
    assert(rows.map(_._2).distinct.length > 1, "assignment collapsed to one cell")
  }

  test("t10 per-source rows tile the documents table") {
    val prof = SparkEntry.queries("t10_source_profile")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(prof.map(_._2).sum == docs.count(), "source doc counts must tile the corpus")
    assert(prof.map(_._1).distinct.length == prof.length, "one row per source")
    prof.foreach { case (src, nDocs, nUniq, dupRate, nLangs) =>
      assert(nUniq >= 1 && nUniq <= nDocs, s"$src: n_unique out of range")
      assert(dupRate >= 0.0 && dupRate < 1.0, s"$src: dup_rate out of range")
      assert(nLangs >= 1 && nLangs <= 5, s"$src: n_langs out of range")
    }
  }

  test("p06 funnel: stages tile each source; counts agree with t12 and d11") {
    val funnel = SparkEntry.queries("p06_curation_funnel")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // the five stage columns partition every source's documents
    funnel.foreach { case (src, n, g, du, c, m, k) =>
      assert(g + du + c + m + k == n, s"$src: stages do not tile ($g+$du+$c+$m+$k != $n)")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(funnel.map(_._2).sum == docs.count(), "funnel must cover the corpus")
    // gopher fires first, so its funnel total IS t12's fail count
    val t12Fails = SparkEntry.queries("t12_gopher_rules")(spark, sfDir)
      .filter("NOT pass").count()
    assert(funnel.map(_._3).sum == t12Fails,
      s"funnel gopher ${funnel.map(_._3).sum} != t12 fails $t12Fails")
    // every doc d11 flags is attributed gopher, exact_dup, or
    // contaminated in the funnel — never mixture/kept (precedence)
    val d11Flagged = SparkEntry.queries("d11_decontaminate")(spark, sfDir).count()
    assert(funnel.map(_._5).sum <= d11Flagged,
      "funnel cannot attribute more contamination than d11 finds")
  }

  test("p07 chunks: stride-48/width-64 layout reconstructs exactly; every word covered") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" +")).toMap
    val rows = SparkEntry.queries("p07_doc_chunks")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet, "one chunk group per document")
    for ((id, ws) <- docs) {
      val n = ws.length.toLong
      val expChunks = if (n <= 64) 1L else ((n - 64 + 47) / 48) + 1
      val ch = byDoc(id).sortBy(_._2)
      assert(ch.length == expChunks, s"doc $id: ${ch.length} chunks, expected $expChunks")
      ch.foreach { case (_, ci, start, len) =>
        assert(start == ci * 48 + 1, s"doc $id chunk $ci: start $start")
        assert(len == math.min(64L, n - ci * 48), s"doc $id chunk $ci: len $len")
        assert(len >= math.min(n, 17L), s"doc $id chunk $ci: degenerate tail")
      }
      // last chunk ends exactly at the doc's last word; no gaps anywhere
      val (_, _, ls, ll) = ch.last
      assert(ls + ll - 1 == n, s"doc $id: last chunk ends at ${ls + ll - 1}, n=$n")
      val covered = ch.flatMap { case (_, _, s0, l0) => s0 until (s0 + l0) }.toSet
      assert(covered == (1L to n).toSet, s"doc $id: coverage gap")
    }
  }

  test("p08 epoch plan: integer arithmetic reconstructs; caps and shortfalls consistent") {
    val rows = SparkEntry.queries("p08_epoch_plan")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val bySrc = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("source", "size(split(trim(text), ' +')) AS n")
      .collect().map(r => (r.getString(0), r.getInt(1).toLong))
      .groupBy(_._1).view.mapValues(ts => (ts.length.toLong, ts.map(_._2).sum)).toMap
    assert(rows.map(_._1).toSet == bySrc.keySet, "one row per source")
    val totalTokens = bySrc.values.map(_._2).sum
    val nSources = bySrc.size.toLong
    rows.foreach { case (src, nDocs, srcTokens, share, ppm, alloc, shortfall) =>
      val (expDocs, expTokens) = bySrc(src)
      assert(nDocs == expDocs && srcTokens == expTokens, s"$src: counts drift")
      assert(share == totalTokens * 4 / nSources, s"$src: share $share")
      assert(ppm == math.min(4000000L, share * 1000000 / srcTokens), s"$src: ppm $ppm")
      assert(alloc == srcTokens * ppm / 1000000, s"$src: alloc $alloc")
      assert(shortfall == math.max(0L, share - alloc), s"$src: shortfall $shortfall")
      // beyond DIV-truncation slack (< src_tokens/1e6 + 1 tokens), a
      // shortfall only appears when the 4-epoch cap binds
      if (shortfall > srcTokens / 1000000 + 1)
        assert(ppm == 4000000L, s"$src: uncapped shortfall $shortfall")
    }
  }

  test("t16 LM score: high-scoring docs are common-bigram-heavy (and score bounds hold)") {
    val rows = SparkEntry.queries("t16_bigram_lm")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs, "every multi-word doc scores")
    rows.foreach { case (id, nBg, sumBg, sumPrefix, score) =>
      assert(nBg >= 1, s"doc $id: no bigrams")
      // each bigram's corpus count is >= 1 and <= its prefix's count
      assert(sumBg >= nBg && sumBg <= sumPrefix, s"doc $id: count bounds")
      assert(score > 0.0 && score <= 1.0, s"doc $id: score $score out of (0,1]")
      assert(score == sumBg.toDouble / sumPrefix, s"doc $id: score is not the ratio")
    }
  }

  test("d20 profile agrees with d07: sizes match, pairs stay inside their cluster") {
    val profile = SparkEntry.queries("d20_cluster_profile")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    val d07Sizes = SparkEntry.queries("d07_neardup_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.head._2).toMap
    assert(profile.nonEmpty)
    profile.foreach { case (cluster, size, nPairs, jMin, jMax) =>
      assert(d07Sizes(cluster) == size, s"cluster $cluster: size drift vs d07")
      // a connected cluster of k members has between k-1 and k(k-1)/2
      // verified pairs
      assert(nPairs >= size - 1 && nPairs <= size * (size - 1) / 2,
        s"cluster $cluster: $nPairs pairs for $size members")
      assert(jMin >= 0.5 && jMin <= jMax && jMax <= 1.0,
        s"cluster $cluster: jaccard range [$jMin, $jMax]")
    }
    // every d07 cluster of size >= 2 appears in the profile
    val profiled = profile.map(_._1).toSet
    d07Sizes.filter(_._2 >= 2).keys.foreach(c =>
      assert(profiled.contains(c), s"cluster $c missing from the profile"))
  }

  test("d21 eval-side report is consistent with d11's corpus-side contamination") {
    val report = SparkEntry.queries("d21_contamination_report")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(report.nonEmpty)
    report.foreach { case (eId, nGrams, nHit, ppm) =>
      assert(eId % 25 == 0 && eId < 5000)
      assert(nGrams >= 1 && nGrams <= 9, s"eval $eId: $nGrams grams")
      assert(nHit >= 0 && nHit <= nGrams, s"eval $eId: hits exceed grams")
      assert(ppm == nHit * 1000000 / nGrams, s"eval $eId: ppm drift")
    }
    // the eval snippets were CUT from corpus docs, and d11 flags those
    // corpus docs; if d11 found any contaminated corpus doc, some eval
    // item must show overlap too (the same gram matched both ways)
    val d11Hits = SparkEntry.queries("d11_decontaminate")(spark, sfDir).count()
    if (d11Hits > 0) assert(report.exists(_._3 > 0),
      "d11 found contaminated corpus docs but no eval item shows overlap")
  }

  test("m11 pair gate decomposes into m10's image verdict exactly") {
    val m10 = SparkEntry.queries("m10_image_size_filter")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(5))).toMap
    val m11 = SparkEntry.queries("m11_pair_gate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getString(3)))
    assert(m11.nonEmpty && m11.length == m10.size)
    m11.foreach { case (id, textFail, imageFail, verdict) =>
      assert(imageFail == !m10(id), s"doc $id: image verdict drifts from m10")
      val expect = if (textFail) "text_reject"
        else if (imageFail) "image_reject" else "kept"
      assert(verdict == expect, s"doc $id: precedence broken")
    }
    // all three verdicts are exercised on this corpus
    assert(m11.map(_._4).toSet == Set("text_reject", "image_reject", "kept"))
  }

  test("p26 split manifest reconstructs from the pure doc_id hash — re-run stable by construction") {
    // Pin the CONSTRUCTION, not just the counts: the operator's split
    // must be exactly md5(doc_id || '#split') mod 100 -> 98/1/1,
    // recomputed here by hand. That is the property that makes the
    // split immune to re-ingestion, retries, and arrival order — a
    // rand()-based split would pass any single-run count check.
    def splitOf(docId: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$docId#split".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 100
      if (b < 98) "train" else if (b == 98) "val" else "test"
    }
    val docs = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = docs.groupBy { case (id, src, lang) => (src, lang, splitOf(id)) }
      .view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("p26_stratified_split")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(got.nonEmpty && got === want)
    // subset-invariance follows from purity; demonstrate it anyway on
    // a 1/3 re-ingest slice: every common stratum cell re-derives
    val slice = docs.filter(_._1 % 3 == 0)
      .groupBy { case (id, src, lang) => (src, lang, splitOf(id)) }
      .view.mapValues(_.length.toLong).toMap
    slice.foreach { case (k, n) =>
      assert(n <= got.getOrElse(k, 0L), s"stratum $k grew under subset") }
  }

  test("q45 decay scores: bounds and exact reconstruction from raw events") {
    val rows = SparkEntry.queries("q45_trending_decay")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val ev = graft.Tables.events(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ref = ev.map(_._2).max
    val want = ev.groupBy(_._1).view.mapValues { es =>
      es.map { case (_, us) =>
        val k = math.min((ref - us) / 3600000000L, 30L).toInt
        1L << (30 - k)
      }.sum.toDouble / (1L << 30)
    }.toMap
    assert(rows.nonEmpty)
    rows.foreach { case (tpe, n, score) =>
      // each event contributes (0, 1]: score bounded by event count
      assert(score > 0.0 && score <= n, s"$tpe: score $score out of bounds")
      assert(score == want(tpe), s"$tpe: decay drifts from the by-hand fold")
    }
  }
}
