package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-engine deterministic building blocks shared by the LLM-pipeline
  * operators (dedup / similarity / text analysis).
  *
  * It is also the one home of the corpus rules the query tiers and the
  * streaming twins apply over and over, each defined once here:
  *   - [[wordStats]]: the native `word_profile` and its per-document
  *     fields (`n`, `sum_len`, `stop_hits`, `n_sym`, `n_complex`);
  *   - [[quality]]: t02's quality score, in its fixed double op order;
  *   - [[gopherRules]]: t12's five Gopher rules (p06, m11 and the
  *     curation stream fail a document when any of them fires);
  *   - [[shuffleHash]] / [[shard16]]: p09's `#shuffle` hash and the
  *     16-shard assignment p16–p19 and p25 audit.
  *
  * Everything here is designed so the SAME value is computed by Spark and
  * by the DuckDB oracle:
  *   - hashing goes through md5 (identical lowercase hex in both engines);
  *   - numeric hash values are decoded positionally from the hex digits;
  *   - floating-point reductions fold left-to-right from an explicit zero
  *     accumulator, so the IEEE rounding sequence is identical;
  *   - min-over-strings is lexicographic on ASCII hex, identical under
  *     both engines' binary collations.
  */
object OpUtils {

  /** The session frame registry: the persisted frames the operator
    * tiers share, keyed by session and a tag naming the frame and its
    * dir. A [[store]] lives as long as the session, or until
    * [[release]]; a [[transient]] is one frame per key, replaced by a
    * re-entry (each rep still recomputes) and dropped by
    * [[releaseTransients]]. Every frame is filled (persisted, then
    * counted on the caller's thread) before it is handed out: AQE
    * planning a consumer against a cache still filling reads a growing
    * size statistic, and picks a join's build side per run. */
  private val frames = new ConcurrentHashMap[(SparkSession, String), Frame]()

  /** One entry. The first caller of `result` builds and fills it, and
    * concurrent callers wait for that build and share its outcome. */
  private final class Frame(val transient: Boolean, build: () => DataFrame) {
    lazy val result: Either[Throwable, DataFrame] = try {
      val p = build().persist()
      try { p.count(); Right(p) } catch { case t: Throwable => p.unpersist(false); throw t }
    } catch { case t: Throwable => Left(t) }
    def unpersist(blocking: Boolean): Unit = result.foreach(_.unpersist(blocking))
  }

  /** The frame of `f`, or its failure thrown after dropping the entry. */
  private def handOut(k: (SparkSession, String), f: Frame): DataFrame =
    f.result.fold(t => { frames.remove(k, f); throw t }, identity)

  /** The store (`s`, `tag`), built by `build` on the first call; a build
    * may ask for another store. A failed build leaves no entry. */
  def store(s: SparkSession, tag: String)(build: => DataFrame): DataFrame =
    handOut((s, tag),
      frames.computeIfAbsent((s, tag), _ => new Frame(transient = false, () => build)))

  /** `df` as the transient frame (`s`, `tag`), replacing the previous one. */
  def transient(s: SparkSession, tag: String, df: DataFrame): DataFrame = {
    val f = new Frame(transient = true, () => df)
    Option(frames.put((s, tag), f)).foreach(_.unpersist(blocking = false))
    handOut((s, tag), f)
  }

  /** Drops the frames (`s`, `tags`) of either lifetime. */
  def release(s: SparkSession, tags: String*): Unit =
    tags.foreach(t => Option(frames.remove((s, t))).foreach(_.unpersist(blocking = true)))

  /** Drops every transient frame of `s`; its stores stay. */
  def releaseTransients(s: SparkSession): Unit =
    frames.asScala.foreach { case ((fs, t), f) => if ((fs eq s) && f.transient) release(s, t) }

  /** Whitespace-tokenized words of the trimmed text. */
  def words(text: Column): Column = split(trim(text), " +")

  /** Adds the native `word_profile` of the words column `ws` as `wp`, and
    * its BIGINT fields: `n` words, `stop_hits` house stopwords, `sum_len`
    * characters in the words, `n_sym` words holding a character outside
    * [a-z0-9], `n_complex` words of 7+ characters. Fields a caller does
    * not read are pruned from its plan. */
  def wordStats(ws: Column)(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("wp", graft.functions.GraftFunctions.wordProfile(ws))
      .withColumn("n", element_at(col("wp"), 1))
      .withColumn("stop_hits", element_at(col("wp"), 3))
      .withColumn("sum_len", element_at(col("wp"), 2))
      .withColumn("n_sym", element_at(col("wp"), 4))
      .withColumn("n_complex", element_at(col("wp"), 5))
  }

  /** t02's quality score
    * 0.5·min(n/100, 1) + 0.3·stop_hits/n + 0.2·min(sum_len/n/8, 1),
    * in the one double op order every oracle mirrors. */
  def quality(n: Column, sumLen: Column, stopHits: Column): Column =
    least(n.cast("double") / 100.0, lit(1.0)) * 0.5 +
      (stopHits.cast("double") / n) * 0.3 +
      least((sumLen.cast("double") / n) / 8.0, lit(1.0)) * 0.2

  /** A [[quality]] score's 0.05-wide band 0..19 (1.0 falls in 19), INT. */
  def qualityBand(q: Column): Column = least(floor(q * 20.0).cast("int"), lit(19))

  /** A [[quality]] score in whole thousandths, floored, BIGINT. */
  def qualityMilli(q: Column): Column = floor(q * 1000.0).cast("long")

  /** t12's Gopher rules over [[wordStats]]' fields and the document's
    * bigram hashes `g2`, in fail-mask bit order: (0) 50 <= words <=
    * 100000, (1) 3 <= mean word length <= 10, (2) at least 2 stopword
    * hits, (3) symbol-bearing word fraction <= 0.1, (4) duplicate-bigram
    * fraction <= 0.3. Each predicate is true when its rule FAILS. */
  def gopherRules(g2: Column): Seq[Column] = Seq(
    col("n") < 50 || col("n") > 100000,
    col("sum_len") < col("n") * 3 || col("sum_len") > col("n") * 10,
    col("stop_hits") < 2,
    col("n_sym") * 10 > col("n"),
    size(g2) > 0 && (size(g2) - size(array_distinct(g2))) * 10 > size(g2) * 3)

  /** p09's shuffle hash of an id: md5Val(id || '#shuffle', 15). */
  def shuffleHash(id: Column): Column =
    md5Val(concat(id.cast("string"), lit("#shuffle")), 15)

  /** The id's shuffle shard in 0..15 (p09's assignment). */
  def shard16(id: Column): Column = pmod(shuffleHash(id), lit(16L)).cast("int")

  /** Word 3-grams joined by single spaces (positions 1..n-2, 1-based). */
  def grams3(ws: Column): Column =
    when(size(ws) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", slice(ws, i, lit(3)))))

  /** MinHash hash family: ONE md5 per gram → 30-bit base value, then k
    * universal-hash derivations h_j(v) = (A_j*v + B_j) mod P (cheap
    * integer ops, 16× less hashing than salted-md5-per-j). A_j < 2^31
    * and v < 2^30 keep the product inside a long. */
  val MinhashP = 1073741789L // largest prime < 2^30
  val MinhashK = 16
  val minhashA: Seq[Long] = (1 to MinhashK).map(j => (2654435761L * j) % MinhashP)
  val minhashB: Seq[Long] = (1 to MinhashK).map(j => (40503L * j * j + 17) % MinhashP)

  /** 30-bit gram values: first 15 hex digits of md5, mod 2^30. */
  def gramVals(grams: Column): Column =
    transform(grams, g => pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"), lit(1L << 30)))

  /** k-element numeric MinHash signature from a gram-values COLUMN.
    * Pass a materialized column (cached/shuffled), not an expression:
    * Catalyst's projection collapse would otherwise inline — and
    * recompute — the md5 pipeline once per hash function. */
  def minhashSigFromGvs(gvs: Column): Column =
    array((0 until MinhashK).map(j =>
      array_min(transform(gvs, v => pmod(v * minhashA(j) + minhashB(j), lit(MinhashP))))): _*)

  /** Numeric value of the first `digits` hex chars of md5(expr) — a
    * deterministic cross-engine hash in [0, 16^digits). */
  def md5Val(c: Column, digits: Int): Column =
    conv(substring(md5(c), 1, digits), 16, 10).cast("long")

  /** Left fold of a double array from an explicit 0.0 accumulator —
    * fixed FP rounding order, mirrored by the oracle's list_reduce. */
  def sumFold(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two double arrays with deterministic fold order. */
  /** r14: native codegen'd left-fold dot (graft.functions.DotFold) —
    * bit-identical to sumFold(zip_with(a, b, _*_)), which evaluated
    * INTERPRETED (HOFs are CodegenFallback) on the similarity tier's
    * per-row norm and brute-force truth paths. DotFoldSpec pins the
    * equality; sessions register via GraftSession/operator builders. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dotFold(a, b)

  /** Cosine similarity via the native codegen'd Expression
    * ([[graft.functions.CosineSimilarity]]); per-accumulator FP op
    * order matches the fold the oracle mirrors (bitwise-identical).
    * Session must have GraftFunctions registered (GraftSession does;
    * operator builders call register defensively). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  // ----- DuckDB-side snippet builders (oracle SQL fragments) -----

  /** DuckDB: words of trimmed text. */
  def oWords(text: String): String = s"string_split_regex(trim($text), ' +')"

  /** DuckDB: word 3-grams of a words-list expression `ws`. */
  def oGrams3(ws: String): String =
    s"CASE WHEN len($ws) < 3 THEN [] ELSE list_transform(range(1, len($ws) - 1), " +
      s"i -> array_to_string(($ws)[i:i+2], ' ')) END"

  /** DuckDB: 30-bit gram values mirroring [[gramVals]]. */
  def oGramVals(grams: String): String =
    s"list_transform($grams, g -> ${oMd5Val("g", 15)} % ${1L << 30})"

  /** DuckDB: numeric MinHash signature from a gram-values column
    * (compute gvs in a prior CTE with [[oGramVals]]). */
  def oMinhashSigFromGvs(gvs: String): String = {
    val hashes = (0 until MinhashK).map(j =>
      s"list_min(list_transform($gvs, v -> (v * ${minhashA(j)} + ${minhashB(j)}) % $MinhashP))")
    s"[${hashes.mkString(", ")}]"
  }

  /** DuckDB: numeric value of first `digits` hex chars of md5(expr). */
  def oMd5Val(e: String, digits: Int): String =
    s"list_reduce([0] || list_transform(range(1, ${digits + 1}), " +
      s"i -> instr('0123456789abcdef', (md5($e))[i:i]) - 1), (a, b) -> a * 16 + b)"

  /** DuckDB: numeric value of hex chars `start .. start+digits-1`
    * (1-based) of md5(expr) — the offset twin of [[oMd5Val]], mirroring
    * [[graft.functions.GramHashes120]]'s lo half (start = 16). `digits`
    * ≤ 15 keeps the fold inside signed BIGINT. */
  def oMd5ValAt(e: String, start: Int, digits: Int): String =
    s"list_reduce([0] || list_transform(range($start, ${start + digits}), " +
      s"i -> instr('0123456789abcdef', (md5($e))[i:i]) - 1), (a, b) -> a * 16 + b)"

  /** DuckDB: left fold sum of a double-list expression from 0.0. */
  def oSumFold(arr: String): String =
    s"list_reduce([CAST(0.0 AS DOUBLE)] || ($arr), (a, b) -> a + b)"

  /** DuckDB: dot product of two double-list columns by index. */
  def oDot(a: String, b: String): String =
    oSumFold(s"list_transform(range(1, len($a) + 1), i -> ($a)[i] * ($b)[i])")

  /** DuckDB: cosine similarity mirroring [[cosine]]'s op order. */
  def oCosine(a: String, b: String): String =
    s"${oDot(a, b)} / (sqrt(${oDot(a, a)}) * sqrt(${oDot(b, b)}))"
}
