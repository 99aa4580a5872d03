package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays.
  *
  * Replaces the interpreted higher-order-function fold
  * (`aggregate(zip_with(...))`) on the similarity hot path — a custom
  * `Expression` with `doGenCode` stays inside whole-stage codegen
  * (SURVEY §2.5 preference order: composition → custom Expression).
  *
  * The accumulation order (index 0..n-1, dot/na/nb accumulated per
  * element) produces bitwise-identical results to the fold the DuckDB
  * oracle mirrors, so oracle parity is preserved.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two ARRAY<DOUBLE>, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object GraftFunctions {
  // Sessions already registered — re-registering is harmless but spams
  // "SimpleFunctionRegistry ... replaced" warnings into every bench/test
  // log. Weak keys: the set must not pin stopped sessions.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Every native function graft installs, by SQL name: the one table
    * [[register]] and [[graft.GraftExtensions]] both install from. */
  val builtins: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "poly_hash" -> (exprs => PolyHashFull(exprs(0))),
    "poly_hash_min" -> (exprs => PolyHashMin(exprs(0), exprs(1))),
    "int8_dot" -> (exprs => Int8Dot(exprs(0), exprs(1))),
    // Catalyst's Bloom-filter pair is runtime-filter-internal (not in
    // the public SQL registry); exposing it gives the ingest tier its
    // shuffle-free membership probe (d18). Aggregate builds the filter
    // over LONG keys; probe is an O(1) map-side test per row.
    "graft_bloom_agg" ->
      (exprs => BloomFilterAggregate(exprs(0), exprs(1), exprs(2), 0, 0)),
    "graft_bloom_might_contain" -> (exprs => BloomFilterMightContain(exprs(0), exprs(1))),
    "mips_buckets" -> (exprs => MipsBuckets(exprs(0))),
    "simhash60" -> (exprs => SimHash60(exprs(0))),
    "sign_mask60" -> (exprs => SignMask60(exprs(0))),
    "dup_gram_stats" -> (exprs => DupGramStats(exprs(0))),
    "dup_gram_profile" -> (exprs => DupGramProfile(exprs(0))),
    "gram_hashes60" -> (exprs => GramHashes60(exprs(0), exprs(1))),
    "gram_hashes120" -> (exprs => GramHashes120(exprs(0), exprs(1))),
    "simhash120" -> (exprs => SimHash120(exprs(0))),
    "bucket_mass2" -> (exprs => BucketMass2(exprs(0), exprs(1), exprs(2))),
    "cms_agg" -> (exprs => CountMinAgg(exprs(0))),
    "cms_estimate" -> (exprs => CountMinEstimate(exprs(0), exprs(1))),
    "cov_triangle_agg" -> (exprs => CovTriangleAgg(exprs(0))),
    "pq_encode" -> (exprs => PqEncode(exprs(0), exprs(1))),
    "long_value_counts" -> (exprs => LongValueCounts(exprs(0))),
    "word_profile" -> (exprs => WordProfile(exprs(0))),
    "pq_dist_table" -> (exprs => PqDistTable(exprs(0), exprs(1))),
    "hamming_pairs" -> (exprs => HammingPairs(exprs(0), exprs(1))),
    "value_pairs" -> (exprs => ValuePairs(exprs(0))),
    "hyperplane_bucket8" -> (exprs => HyperplaneBucket8(exprs(0))),
    "minhash_sig16" -> (exprs => MinhashSig16(exprs(0))),
    "argmin_dl" -> (exprs => ArgminDoubleLong(exprs(0), exprs(1))),
    "gram_md5" -> (exprs => GramMd5(exprs(0), exprs(1))),
    "dot_fold" -> (exprs => DotFold(exprs(0), exprs(1)))
  )

  /** Install graft's native expressions ([[builtins]]) into a session's
    * function registry (GraftSession does this automatically): `cosine_sim`
    * is then usable from SQL and via [[cosineSim]]. Idempotent and quiet:
    * a session is only registered once. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    builtins.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** Column API over the registered function. */
  def cosineSim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)

  def polyHash(s: Column): Column =
    org.apache.spark.sql.functions.call_function("poly_hash", s)

  def polyHashMin(s: Column, w: Column): Column =
    org.apache.spark.sql.functions.call_function("poly_hash_min", s, w)

  def int8Dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("int8_dot", a, b)

  def mipsBuckets(va: Column): Column =
    org.apache.spark.sql.functions.call_function("mips_buckets", va)

  def simHash60(hs: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash60", hs)

  def signMask60(v: Column): Column =
    org.apache.spark.sql.functions.call_function("sign_mask60", v)

  def dupGramStats(gs: Column): Column =
    org.apache.spark.sql.functions.call_function("dup_gram_stats", gs)

  def dupGramProfile(ws: Column): Column =
    org.apache.spark.sql.functions.call_function("dup_gram_profile", ws)

  def gramHashes60(ws: Column, width: Int): Column =
    org.apache.spark.sql.functions.call_function("gram_hashes60", ws,
      org.apache.spark.sql.functions.lit(width))

  /** Interleaved [hi, lo] 120-bit window hashes — see [[GramHashes120]]. */
  def gramHashes120(ws: Column, width: Int): Column =
    org.apache.spark.sql.functions.call_function("gram_hashes120", ws,
      org.apache.spark.sql.functions.lit(width))

  /** [sketch_hi, sketch_lo] 120-bit majority sketch — see [[SimHash120]]. */
  def simHash120(hs: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash120", hs)

  /** [t_mass, c_mass] DSIR bucket sums — see [[BucketMass2]]. */
  def bucketMass2(bks: Column, tm: Column, cm: Column): Column =
    org.apache.spark.sql.functions.call_function("bucket_mass2", bks, tm, cm)

  def bloomMightContain(bf: Column, k: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_bloom_might_contain", bf, k)

  /** [n, sum_len, stop_hits, n_sym, n_complex] — see [[WordProfile]]. */
  def wordProfile(ws: Column): Column =
    org.apache.spark.sql.functions.call_function("word_profile", ws)

  /** Generator over one LSH band bucket — see [[HammingPairs]]. */
  def hammingPairs(members: Column, maxHamming: Int): Column =
    org.apache.spark.sql.functions.call_function("hamming_pairs", members,
      org.apache.spark.sql.functions.lit(maxHamming))

  /** Ordered index-pair generator over a long array — see [[ValuePairs]]. */
  def valuePairs(values: Column): Column =
    org.apache.spark.sql.functions.call_function("value_pairs", values)

  /** 16-hash MinHash signature in one pass — see [[MinhashSig16]]. */
  def minhashSig16(gvs: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig16", gvs)

  /** Hash-aggregable lexicographic argmin — see [[ArgminDoubleLong]]. */
  def argminDL(ord: Column, sel: Column): Column =
    org.apache.spark.sql.functions.call_function("argmin_dl", ord, sel)

  /** 16-byte md5 of every width-word window in one pass — see [[GramMd5]]. */
  def gramMd5(ws: Column, width: Int): Column =
    org.apache.spark.sql.functions.call_function("gram_md5", ws,
      org.apache.spark.sql.functions.lit(width))

  /** Left-fold dot product of two double arrays — see [[DotFold]]. */
  def dotFold(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_fold", a, b)
}
