package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The relational layer. The reference implements no relational
  * operators (SURVEY §2.5) — in our Spark-first build the entire layer
  * is declarative DataFrame code optimized by Catalyst (predicate
  * pushdown, column pruning, join selection, AQE). Queries follow
  * TPC-H shapes over the driver TESTDATA star schema.
  *
  * Scale notes (100 TB thinking):
  *  - dimension tables (region/nation/supplier/customer-at-small-SF)
  *    are broadcast explicitly so fact-table joins never shuffle the
  *    big side;
  *  - aggregations are partial (map-side combine) by construction of
  *    groupBy.agg;
  *  - per-row DECIMAL(18,4) casts keep sums order-independent, which
  *    is also what makes results stable under any partitioning.
  */
object Relational {

  /** Exact per-row decimal cast: makes double sums order-independent.
    * TESTDATA money/rate columns carry exactly 2 decimal digits (verified
    * vs sf0.01), so these casts are unambiguous — no cross-engine
    * rounding-tie divergence. Products are computed decimal×decimal
    * (exact), never double-then-cast (tie-prone at the cast).
    */
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  private def dec6(c: Column): Column = c.cast(DecimalType(18, 6))
  private def mon(c: Column): Column = c.cast(DecimalType(12, 2))
  private def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  /** Money sums round to CENTS (exact decimal round, ties away from
    * zero in both engines) BEFORE the double cast. Why: once a sum's
    * unscaled value passes 2^53 (first hits at sf1: q01 sum_charge =
    * 2.8e10 at scale 6 = 17 digits), Spark's and DuckDB's
    * decimal→double casts can disagree by 1 ulp (their fast paths
    * double-round). Rounded to scale 2 the unscaled value stays ≤ 13
    * digits for any plausible SF, where the cast is a single exact
    * rounding in every engine — bitwise-identical doubles. */
  private def cents(c: Column): Column = round(c, 2).cast(DoubleType)
  /** Exact sum of a 2-decimal double column, re-exposed as double. */
  private def xsum(c: Column): Column = cents(sum(dec4(c)))
  /** Exact sum of an already-decimal expression, re-exposed as double. */
  private def dsum(c: Column): Column = cents(sum(c))
  /** price*(1-discount), exact decimal. */
  private def revenue: Column =
    mon(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))

  // -- r14 fixed-point fast path (guide §1.2 "per-task work": the q01
  // long-cents move, generalized). Spark widens a decimal sum's buffer
  // to precision+10 and routes EVERY ROW through Decimal allocation +
  // overflow checks — measured 10× on q01's scan-bound aggregate (sf1:
  // 11.2 s vs q06's 1.2 s for the same scan). The money/rate columns
  // carry exactly two decimal digits and are non-negative (the same
  // documented TESTDATA contract mon()/rate() rely on), so the
  // IDENTICAL exact values flow through 64-bit integers: scale per row
  // (exact — the scaled double lands within 1e-7 of its integer), sum
  // longs, then ONE half-up round to cents and a double cast at the
  // end — bit-for-bit the round(sum(decimal), 2).cast(double) contract
  // (cents stay < 2^53, where both engines' casts are exact). r15: the
  // SUMS no longer ride a single long — see sumFx below for the
  // overflow-safe hi/lo cascade (plain long sums wrapped at sf 30–6e3
  // for the few-group money aggregates). The decimal forms remain in
  // the oracles as the semantic spec; signed columns (c_acctbal) keep
  // the decimal path — '+0.5, cast' truncates toward zero, which
  // mis-rounds negatives.
  /** 2-decimal non-negative column → exact 1e-2-unit long. */
  private def fx2(c: Column): Column = (c * 100 + lit(0.5)).cast("long")
  /** 2-decimal non-negative column → exact 1e-4-unit long. */
  private def fx4(c: Column): Column = (c * 10000 + lit(0.5)).cast("long")
  /** revenue in exact 1e-4 units — bit-identical to
    * (revenue * 10000).cast(long): price and (1-discount) are both
    * exact 1e-2-unit longs, so their product is the exact 1e-4 value. */
  private def rev4: Column =
    fx2(col("l_extendedprice")) * (lit(100L) - fx2(col("l_discount")))
  /** Non-negative 1e-4-unit long sum → the cents(sum(decimal)) double:
    * half-up round to cents (integral div — exact, the sum is
    * non-negative), then one exact long→double cast + /100.0 (both
    * correctly rounded, same as the decimal→double cast). Accepts the
    * DECIMAL(38,0) output of [[sumFx]] unchanged — `div` is
    * IntegralDivide, which takes decimal input and returns BIGINT. */
  private def cents4(s4: Column): Column =
    call_function("div", s4 + lit(50L), lit(100L)) / lit(100.0)

  // -- r15 overflow-safe cascade (r14 verdict #1). A plain sum(long)
  // over fixed-point units wraps SILENTLY past 2^63: q01's 1e-6-unit
  // charge sum wraps near sf 30, money 1e-4 sums over few-group
  // aggregates near sf 6e3 — orders of magnitude under the 100 TB
  // brief (sf 1e5), and invisible to the sf ≤ 1 oracle gates. The
  // cascade keeps the cheap per-row long path and recombines EXACTLY:
  // per row x is split x = (x >> 20)·2^20 + (x & 0xFFFFF) (the
  // two's-complement identity — arithmetic shift floors, the mask is
  // the non-negative remainder, so it holds for SIGNED x too, which
  // q70's profit needs), both halves ride ordinary long sums with
  // map-side partials, and ONE per-GROUP recombination runs in
  // DECIMAL(38,0). Bounds: the largest unit in use is q01's 1e-6
  // charge, |x| ≤ ~1.1e11 ⇒ |hi| ≤ 1.05e5 and lo < 2^20, so both
  // half-sums stay under 2^63 through ~8.8e12 rows per group — for
  // lineitem (6e6 rows/sf, one group can hold every row) that is
  // sf ≈ 1.4e6 ≈ 1.4 PB, 14× past the brief. SumFxSpec feeds a
  // synthetic >2^63-sum group through it and checks the exact value.
  /** Exact overflow-safe sum of a long fixed-point column; returns the
    * true integer sum as DECIMAL(38,0). */
  private[operators] def sumFx(x: Column): Column =
    sum(shiftright(x, 20)).cast(DecimalType(38, 0)) * lit(1L << 20) +
      sum(x.bitwiseAND(lit((1L << 20) - 1)))
  /** Drop-in for xsum on non-negative 2-decimal columns (overflow-safe
    * for any group cardinality — see sumFx). */
  private def fxsum(c: Column): Column = cents4(sumFx(fx4(c)))
  /** Drop-in for dsum(revenue) (overflow-safe — see sumFx). */
  private def frevsum: Column = cents4(sumFx(rev4))
  private def ts(s: String): Column = to_timestamp(lit(s))

  // DuckDB-side equivalents of the helpers above.
  private def oxsum(e: String): String =
    s"CAST(ROUND(SUM(CAST($e AS DECIMAL(18,4))), 2) AS DOUBLE)"
  private val orev =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
  private def odsum(e: String): String = s"CAST(ROUND(SUM($e), 2) AS DOUBLE)"

  /** q72's per-slice partials: lines, exact revenue in 1e-4 units
    * (DECIMAL(38,0)), and quantity range per (returnflag, ship year).
    * The partials ride the [[sumFx]] cascade (~28 unbounded groups);
    * q72 merges them across its two date slices, `rollupMergeStream`
    * keeps them as streaming state across micro-batches. Input needs
    * the `l_` columns it reads. */
  private[graft] def rollupPartials(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), year(col("l_shipdate")).as("ship_year"))
      .agg(count(lit(1)).as("n_lines"), sumFx(rev4).as("rev_i"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------
    QueryDef.sql("q01_pricing_summary",
      (s, d) => {
        // r14 optimization (guide §1.2 "per-task work"): the r13 form
        // summed five DECIMAL columns — Spark's decimal sum widens the
        // buffer to precision+10 and routes every row through Decimal
        // object allocation + overflow checks, which made q01 ~10× the
        // cost of the same scan in q06 (sf1: 11.2 s vs 1.2 s, same
        // session). The money columns carry exactly 2 decimal digits
        // (the SAME documented data contract the mon()/rate() decimal
        // casts already rely on), so the identical exact values flow
        // through 64-bit integer arithmetic instead: per-row fixed-point
        // units of 1e-4 (and 1e-6 for the tax product), long sums, then
        // ONE half-up round to cents and a double cast at the end —
        // bit-for-bit the round(sum(decimal), 2).cast(double) contract
        // (cents stay < 2^53, where every engine's cast is exact; the
        // decimal form remains in the oracle as the semantic spec).
        // Rounding note: '+ half, integer-div' is HALF_UP for the
        // non-negative quantity/price/revenue sums here; '+ 0.5, cast'
        // per row is exact because the scaled inputs land within 1e-7
        // of their integer values.
        val li = Tables.lineitem(s, d)
        def u4(c: Column): Column = (c * 10000 + lit(0.5)).cast("long")
        def u2(c: Column): Column = (c * 100 + lit(0.5)).cast("long")
        val rev4 = u2(col("l_extendedprice")) * (lit(100L) - u2(col("l_discount")))
        val chg6 = rev4 * (lit(100L) + u2(col("l_tax")))
        // r15: price/revenue/charge sums ride the sumFx cascade (plain
        // long sums wrapped at sf ≈ 6e3 / 6e3 / 30 over these ~4
        // groups — r14 verdict #1); quantity (u4 ≤ 5e5/row → exact
        // through sf ≈ 3e6) and discount (u4 ≤ 1e3/row) keep the plain
        // single-buffer sum.
        li.filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(u4(col("l_quantity"))).as("q4"),
            sumFx(u4(col("l_extendedprice"))).as("p4"),
            sumFx(rev4).as("r4"),
            sumFx(chg6).as("c6"),
            sum(u4(col("l_discount"))).as("d4"),
            count(lit(1)).as("count_order"))
          .select(col("l_returnflag"), col("l_linestatus"),
            expr("((q4 + 50) div 100) / 100.0d").as("sum_qty"),
            expr("((p4 + 50) div 100) / 100.0d").as("sum_base_price"),
            expr("((r4 + 50) div 100) / 100.0d").as("sum_disc_price"),
            expr("((c6 + 5000) div 10000) / 100.0d").as("sum_charge"),
            expr("(((q4 + 50) div 100) / 100.0d) / count_order").as("avg_qty"),
            expr("(((p4 + 50) div 100) / 100.0d) / count_order").as("avg_price"),
            expr("(((d4 + 50) div 100) / 100.0d) / count_order").as("avg_disc"),
            col("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      s"""SELECT l_returnflag, l_linestatus,
         |  ${oxsum("l_quantity")} AS sum_qty,
         |  ${oxsum("l_extendedprice")} AS sum_base_price,
         |  ${odsum(orev)} AS sum_disc_price,
         |  ${odsum(s"$orev * (1 + CAST(l_tax AS DECIMAL(4,2)))")} AS sum_charge,
         |  ${oxsum("l_quantity")} / COUNT(*) AS avg_qty,
         |  ${oxsum("l_extendedprice")} / COUNT(*) AS avg_price,
         |  ${oxsum("l_discount")} / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q02_filter_project",
      (s, d) => Tables.part(s, d)
        .filter(col("p_size").between(10, 20) && col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        .orderBy(col("p_partkey")),
      """SELECT p_partkey, p_name, p_brand, p_size
        |FROM part
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'PROMO'
        |ORDER BY p_partkey""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q03_shipping_priority",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val l = Tables.lineitem(s, d).filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
        // customer is fact-scale (grows with SF) — no broadcast hint; AQE
        // may still pick broadcast at small SF, which is exactly right.
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(frevsum.as("revenue"))
          .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      s"""SELECT l_orderkey,
         |  ${odsum(orev)} AS revenue,
         |  o_orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q04_order_priority_semi",
      (s, d) => {
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q05_local_supplier_volume",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
                  col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val l = Tables.lineitem(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
        // Resolve the dim chain FIRST (region -> nation -> supplier),
        // then pre-filter BOTH fact-side inputs through broadcasts
        // before any shuffle: lineitem keeps only ASIA-supplier rows
        // (~1/5 of rows at uniform nation spread) and customer keeps
        // only ASIA-nation rows — so the two big exchanges (orderkey,
        // custkey) move a fifth of the bytes they would otherwise.
        // The supplier side is broadcast as a PROJECTED 3-column frame
        // (r13 ADVICE #3): supplier scales with SF (SF × 10k rows), so
        // the hint only stays honest if the broadcast payload is keys +
        // n_name, not the full supplier×nation×region width — ~24
        // bytes/row keeps even an SF-1000 slice in driver memory, and
        // if supplier ever outgrows that, drop THIS hint and let AQE
        // decide while keeping the region-slice pre-filtering.
        val nAsia = n.join(broadcast(r),
          col("n_regionkey") === col("r_regionkey"))
        val suAsia = Tables.supplier(s, d)
          .join(broadcast(nAsia), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val cAsia = c.join(
          broadcast(nAsia.select(col("n_nationkey").as("asia_nationkey"))),
          col("c_nationkey") === col("asia_nationkey"), "left_semi")
        l.join(broadcast(suAsia), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cAsia, col("o_custkey") === col("c_custkey") &&
                       col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(frevsum.as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      s"""SELECT n_name,
         |  ${odsum(orev)} AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q06_revenue_scan",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
                col("l_shipdate") < ts("1997-01-01 00:00:00") &&
                col("l_discount").between(0.05, 0.07) &&
                col("l_quantity") < 24)
        // r15: single-group sum over the whole slice — sumFx cascade
        // (a plain long sum of the ≤7e7-unit product wraps near sf 1e5)
        .agg(cents4(sumFx(fx2(col("l_extendedprice")) * fx2(col("l_discount")))).as("revenue"),
             count(lit(1)).as("cnt")),
      s"""SELECT ${odsum("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))")} AS revenue, COUNT(*) AS cnt
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q07_window_topn_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
          .orderBy(col("o_orderpriority"), col("rnk"))
      },
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q08_running_total",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .filter(col("o_custkey") < 100)
          .withColumn("running_spend",
            sum(dec4(col("o_totalprice"))).over(w).cast(DoubleType))
          .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q09_set_ops",
      (s, d) => {
        val building = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("key"))
        val open = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("key"))
        val negative = Tables.customer(s, d)
          .filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("key"))
        building.intersect(open).except(negative).orderBy(col("key"))
      },
      """SELECT key FROM (
        |  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'
        |) t
        |EXCEPT
        |SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0
        |ORDER BY key""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q10_anti_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1998-01-01 00:00:00"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q11_rollup",
      // r14 (guide §2.3 "aggregate before you shuffle"): ROLLUP plans
      // as Expand — every fact row duplicated once PER GROUPING SET
      // (3× here) before the partial aggregate. Pre-aggregating to the
      // (returnflag, linestatus) leaf first (map-side partials, ~6
      // groups) and rolling THAT up runs the Expand over ~6 rows
      // instead of every lineitem row. count(*) ≡ sum of leaf counts,
      // fx4-unit long sums re-aggregate exactly (q72's partial-merge
      // identity), cents4 applied once at the end — bit-identical.
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"), sum(fx4(col("l_quantity"))).as("pq"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"), cents4(sum(col("pq"))).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${oxsum("l_quantity")} AS qty
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q12_events_hourly",
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(dec6(col("value"))).cast(DoubleType).as("total_value"))
        .orderBy(col("hour"), col("event_type")),
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q13_events_json_extract",
      (s, d) => Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q14_top_supplier",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00"))
          .groupBy(col("l_suppkey"))
          .agg(frevsum.as("total"))
        val top = rev.agg(max(col("total")).as("mx"))
        Tables.supplier(s, d)
          .join(rev, col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(top), col("total") === col("mx"))
          .select(col("s_suppkey"), col("s_name"), col("total"))
          .orderBy(col("s_suppkey"))
      },
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${odsum(orev)} AS total
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total = (SELECT MAX(total) FROM rev)
         |ORDER BY s_suppkey""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q15_nation_balance_having",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"),
               (xsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
          .filter(col("n_cust") > 5)
          .orderBy(col("n_name"))
      },
      s"""SELECT n_name, COUNT(*) AS n_cust,
         |  ${oxsum("c_acctbal")} / COUNT(*) AS avg_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name
         |HAVING COUNT(*) > 5
         |ORDER BY n_name""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q16_order_count_distribution",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q22_string_functions",
      (s, d) => Tables.part(s, d)
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).as("nlen"),
          substring(col("p_brand"), 1, 5).as("brand5"),
          regexp_replace(col("p_type"), "[AEIOU]", "_").as("devowel"),
          concat_ws("/", col("p_brand"), col("p_type")).as("joined"),
          levenshtein(col("p_brand"), col("p_type")).as("lev"))
        .orderBy(col("p_partkey")),
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  length(p_name) AS nlen,
        |  substring(p_brand, 1, 5) AS brand5,
        |  regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devowel,
        |  concat_ws('/', p_brand, p_type) AS joined,
        |  levenshtein(p_brand, p_type) AS lev
        |FROM part
        |WHERE p_partkey <= 200
        |ORDER BY p_partkey""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q23_date_arithmetic",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_99"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y,
        |  month(o_orderdate) AS m,
        |  dayofmonth(o_orderdate) AS dom,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_99,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders
        |WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q24_conditional_null_handling",
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(bldg)")).as("seg"),
          when(col("c_acctbal") < 0, "overdrawn")
            .when(col("c_acctbal") < 1000, "low").otherwise("high").as("bal_class"),
          greatest(col("c_acctbal"), lit(0.0)).as("clamped"),
          (col("c_custkey") % 7 === 0).cast("int").as("is_sevenths"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS seg,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 1000 THEN 'low' ELSE 'high' END AS bal_class,
        |  greatest(c_acctbal, 0.0) AS clamped,
        |  CAST(c_custkey % 7 = 0 AS INT) AS is_sevenths
        |FROM customer
        |ORDER BY c_custkey""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q25_percentiles",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
             expr("percentile(o_totalprice, 0.9)").as("p90_price"),
             min(col("o_totalprice")).as("min_price"),
             max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderpriority")),
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q26_cube",
      // r14: same pre-aggregate-before-Expand move as q11 — CUBE
      // quadruples every row through Expand; the (status, priority)
      // leaf is ~15 groups, so cube THAT.
      // r15: the leaf price sum rides the sumFx cascade (o_totalprice
      // fx4 ≤ 6e9/row over an unbounded leaf group wraps near sf 1e4);
      // the cube's re-aggregation sums the ≤15 DECIMAL leaf partials —
      // per-group, not per-row.
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("pn"), sumFx(fx4(col("o_totalprice"))).as("pt"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("pn")).as("n"), cents4(sum(col("pt"))).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first),
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${oxsum("o_totalprice")} AS total
         |FROM orders
         |GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q27_array_functions",
      (s, d) => Tables.embeddings(s, d)
        .filter(col("vec_id") < 100)
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first"),
          element_at(col("embedding"), 64).cast("double").as("last"),
          size(filter(col("embedding").cast("array<double>"), x => x > 0)).as("n_pos"),
          array_max(col("embedding").cast("array<double>")).as("mx"),
          array_min(col("embedding").cast("array<double>")).as("mn"))
        .orderBy(col("vec_id")),
      """SELECT vec_id,
        |  len(embedding) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first,
        |  CAST(embedding[64] AS DOUBLE) AS last,
        |  len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS n_pos,
        |  list_max(CAST(embedding AS DOUBLE[])) AS mx,
        |  list_min(CAST(embedding AS DOUBLE[])) AS mn
        |FROM embeddings
        |WHERE vec_id < 100
        |ORDER BY vec_id""".stripMargin),

    // ---------------------------------------------------------------
    // TPC-H Q17 shape: rows compared against their group's average —
    // planned as one aggregation + an equi-join, not a correlated
    // per-row subquery (the 100 TB-safe shape).
    QueryDef.sql("q28_small_quantity_revenue",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val avgQ = li.groupBy(col("l_partkey").as("p_key"))
          .agg(((fxsum(col("l_quantity")) / count(lit(1))) * 0.5).as("half_avg"))
        // avgQ has |part| rows (SF-proportional) — never force-broadcast
        // a data-sized frame; AQE broadcasts it at small SF on its own.
        li.join(avgQ, col("l_partkey") === col("p_key"))
          .filter(col("l_quantity") < col("half_avg"))
          .agg((fxsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
               count(lit(1)).as("n"))
      },
      s"""WITH a AS (
         |  SELECT l_partkey AS p_key,
         |    (${oxsum("l_quantity")} / COUNT(*)) * 0.5 AS half_avg
         |  FROM lineitem GROUP BY l_partkey)
         |SELECT ${odsum("CAST(l_extendedprice AS DECIMAL(12,2))")} / 7.0 AS avg_yearly,
         |  COUNT(*) AS n
         |FROM lineitem JOIN a ON l_partkey = p_key
         |WHERE l_quantity < half_avg""".stripMargin),

    // ---------------------------------------------------------------
    QueryDef.sql("q17_distinct_counts",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
             countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ---------------------------------------------------------------
    // Deterministic stratified sampling — the data-mixing primitive of
    // a training pipeline: per-stratum keep rates applied via a
    // content hash, so the sample is reproducible on any cluster
    // layout and any engine (no RNG state, no per-partition seeds).
    // Map-side only: one scan, one small agg — no shuffle of kept rows.
    QueryDef.sql("q29_stratified_sample",
      (s, d) => {
        import graft.operators.OpUtils.md5Val
        val rate = when(col("lang") === "en", 800).otherwise(400)
        val bucket = pmod(
          md5Val(concat(col("lang"), lit(":"), col("doc_id").cast("string")), 12),
          lit(1000L))
        Tables.documents(s, d)
          .withColumn("keep", bucket < rate)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
          .orderBy(col("lang"))
      }, {
        val bucket = graft.operators.OpUtils.oMd5Val("lang || ':' || CAST(doc_id AS VARCHAR)", 12)
        s"""SELECT lang, COUNT(*) AS n_total,
           |  CAST(SUM(CASE WHEN ($bucket) % 1000 <
           |    (CASE WHEN lang = 'en' THEN 800 ELSE 400 END)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
           |FROM documents
           |GROUP BY lang
           |ORDER BY lang""".stripMargin
      }),

    // ---------------------------------------------------------------
    // Full outer join over two pre-aggregated frames with null
    // coalescing — the reconcile-two-ledgers shape. Both sides reduce
    // to per-day counts BEFORE the join (small inputs, partial aggs),
    // so the outer join never sees fact-table cardinality.
    QueryDef.sql("q30_full_outer_daily",
      (s, d) => {
        val o = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"))
        val e = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_purchases"))
        o.join(e, Seq("day"), "full_outer")
          .select(col("day"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
          .orderBy(col("day"))
      },
      """WITH o AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |e AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT COALESCE(o.day, e.day) AS day,
        |  COALESCE(o.n_orders, 0) AS n_orders,
        |  COALESCE(e.n_purchases, 0) AS n_purchases
        |FROM o FULL OUTER JOIN e ON o.day = e.day
        |ORDER BY day""".stripMargin),

    // ---------------------------------------------------------------
    // GROUPING SETS with non-hierarchical sets — {(returnflag),
    // (linestatus)} is expressible by neither ROLLUP (q11) nor CUBE
    // (q26). One shuffle; Spark expands the sets map-side so partial
    // aggregation still applies. grouping_id() disambiguates the null
    // produced by the expansion from a null group value.
    QueryDef.sql("q32_grouping_sets",
      // r14: pre-aggregate before the Expand (see q11) — the two
      // grouping sets each re-aggregate the ~6-row (flag, status)
      // leaf; grouping_id() is a function of the grouping-set shape,
      // unchanged by the pre-aggregation.
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"), sum(fx4(col("l_quantity"))).as("pq"))
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("pn")).as("n"),
          cents4(sum(col("pq"))).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |  COUNT(*) AS n,
         |  ${oxsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),

    // ---------------------------------------------------------------
    // RANGE-frame window: trailing 30-DAY (value range, not row count)
    // order activity per customer — the window feature rows-frames
    // can't express (ties and gaps in the order key change the frame).
    // One shuffle on o_custkey; the 30-day sum is an exact DECIMAL so
    // RANGE peers accumulate order-independently in both engines.
    QueryDef.sql("q35_trailing_window",
      (s, d) => {
        val dayI = datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_i"))
          .rangeBetween(-30, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("day_i", dayI)
          .withColumn("n_30d", count(lit(1)).over(w))
          // r14 fixed-point: the frame sum rides a long (exact 1e-4
          // units); long→double + /10000.0 is the same single rounding
          // as the decimal→double cast (per-customer 30-day sums sit
          // far below 2^53)
          .withColumn("sum_30d", sum(fx4(col("o_totalprice"))).over(w) / lit(10000.0))
          .select(col("o_orderkey"), col("o_custkey"), col("day_i"),
            col("n_30d"), col("sum_30d"))
          .orderBy(col("o_orderkey"))
      },
      """SELECT o_orderkey, o_custkey,
        |  datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day_i,
        |  COUNT(*) OVER w AS n_30d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_30d
        |FROM orders
        |WINDOW w AS (
        |  PARTITION BY o_custkey
        |  ORDER BY datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin),

    // ---------------------------------------------------------------
    // The TPC-H Q21 shape (sole-blame analysis) on available columns:
    // suppliers whose RETURNED line is the ONLY return in a
    // multi-supplier order. The oracle keeps the declarative
    // EXISTS/NOT-EXISTS form; the Spark plan computes the same set as
    // ONE aggregation cascade (r14 optimization, guide §2.4 "remove
    // shuffles outright"): per (order, supplier) fold the return flag,
    // then per order count suppliers and failed suppliers — EXISTS
    // (another supplier participated) ⇔ n_supp ≥ 2, NOT EXISTS (no
    // OTHER supplier's line returned) ⇔ n_failed = 1, and the
    // qualifying pair's supplier is max over the failed singleton.
    // The r13 form ran the same lineitem projection through two
    // DISTINCTs and a LeftSemi+LeftAnti self-join pair: 3 scans and 12
    // exchanges (sf1 sweep 10.8 s); this shape is 1 scan and 3
    // exchanges, only the first of which carries full (order, supplier)
    // cardinality — at 100 TB the two join shuffles of the whole
    // deduplicated fact simply do not exist.
    QueryDef.sql("q36_sole_blame",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
        val per = li.groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("failed"))
        val ord = per.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_supp"),
            sum(col("failed")).as("n_failed"),
            max(when(col("failed") === 1, col("l_suppkey"))).as("failed_supp"))
        ord.filter(col("n_supp") >= 2 && col("n_failed") === 1)
          .select(col("failed_supp").as("l_suppkey"))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("l_suppkey"))
          .limit(10)
      },
      """WITH f AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_returnflag = 'R'),
        |a AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |c AS (
        |  SELECT f.l_orderkey, f.l_suppkey FROM f
        |  WHERE EXISTS (SELECT 1 FROM a
        |                WHERE a.l_orderkey = f.l_orderkey
        |                  AND a.l_suppkey != f.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM f f2
        |                    WHERE f2.l_orderkey = f.l_orderkey
        |                      AND f2.l_suppkey != f.l_suppkey))
        |SELECT l_suppkey, COUNT(*) AS numwait
        |FROM c GROUP BY l_suppkey
        |ORDER BY numwait DESC, l_suppkey
        |LIMIT 10""".stripMargin),

    // ---------------------------------------------------------------
    // Robust statistics: median absolute deviation per group — the
    // outlier-resistant spread measure. Two aggregation phases (group
    // median, then median of |x − med|) with the group medians
    // broadcast back via an equi-join on the tiny aggregate; Spark
    // percentile == DuckDB quantile_cont bitwise (proven by q25).
    QueryDef.sql("q37_robust_stats",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"))
        val med = li.groupBy(col("l_returnflag"))
          .agg(percentile(col("l_quantity"), lit(0.5)).as("med"))
        li.join(med, "l_returnflag")
          .withColumn("dev", abs(col("l_quantity") - col("med")))
          .groupBy(col("l_returnflag"))
          .agg(min(col("med")).as("med"),
            percentile(col("dev"), lit(0.5)).as("mad"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      """WITH m AS (
        |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l.l_returnflag, m.med, abs(l.l_quantity - m.med) AS dev
        |  FROM lineitem l JOIN m USING (l_returnflag))
        |SELECT l_returnflag, MIN(med) AS med,
        |  quantile_cont(dev, 0.5) AS mad, COUNT(*) AS n
        |FROM d GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ---------------------------------------------------------------
    // TPC-H Q22 shape: win-back prospects — customers with
    // above-average positive balance and NO order in the current
    // period (since 2001-01-01; this testdata's every customer has
    // ordered at some point, so the classic never-ordered predicate is
    // vacuous). Composes the scalar subquery (global average, a 1-row
    // broadcast — no correlated re-scan), an anti join on the
    // date-filtered order slice (the filter pushes to the parquet
    // scan), and the dim rollup. The average comes from the exact
    // decimal sum re-exposed as a double, so the > comparison is
    // bitwise-identical cross-engine.
    QueryDef.sql("q42_prospect_customers",
      (s, d) => {
        val c = Tables.customer(s, d)
        val avgPos = c.filter(col("c_acctbal") > 0)
          .agg((xsum(col("c_acctbal")) / count(lit(1))).as("ab"))
        c.crossJoin(broadcast(avgPos))
          .filter(col("c_acctbal") > col("ab"))
          .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= ts("2001-01-01 00:00:00"))
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_prospects"),
            xsum(col("c_acctbal")).as("total_bal"))
          .orderBy(col("n_name"))
      },
      s"""WITH a AS (
         |  SELECT ${oxsum("c_acctbal")} / COUNT(*) AS ab
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT n_name, COUNT(*) AS n_prospects,
         |  ${oxsum("c_acctbal")} AS total_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |CROSS JOIN a
         |WHERE c_acctbal > ab
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin),

    // ---------------------------------------------------------------
    // Approximate quantiles with a driver-checkable error contract —
    // the q34 (HLL) move applied to the sketch every 100 TB percentile
    // dashboard actually runs. Engines' sketches are incomparable
    // (Spark GK vs anything else), so the sketch value itself is never
    // in the output; instead the EXACT median ships (percentile ==
    // quantile_cont bitwise, proven by q25/q37) alongside the sketch's
    // verified contract: the true rank of the approx answer, computed
    // by a second pass (count of values <= approx, vs the sketch's
    // promised n/1000 rank error, checked at 10x slack n/100 + 1).
    // The oracle emits the same booleans literally TRUE — a FALSE from
    // Spark fails the row hash, so the contract IS the test.
    QueryDef.sql("q43_approx_quantiles",
      (s, d) => {
        val e = Tables.events(s, d).select(col("event_type"), col("value"))
        val g = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            percentile(col("value"), lit(0.5)).as("exact_p50"),
            percentile_approx(col("value"), lit(0.5), lit(1000)).as("a"))
        e.join(broadcast(g), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(min(col("n")).as("n"),
            min(col("exact_p50")).as("exact_p50"),
            sum(when(col("value") <= col("a"), 1L).otherwise(0L)).as("rk"))
          .withColumn("rank_ok",
            abs(col("rk") * 2 - col("n")) <= (col("n") * 2) / 100 + 2)
          .select(col("event_type"), col("n"), col("exact_p50"), col("rank_ok"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_cont(value, 0.5) AS exact_p50,
        |  TRUE AS rank_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // -- exact value-based deciles WITHOUT a per-group global sort -----
    // Per-priority price deciles computed the 100 TB way: the orders
    // table contributes ONE map-side-partial groupBy to a bounded
    // (priority, price_cents) histogram; cumulative counts and decile
    // assignment are windows over the HISTOGRAM (distinct prices, not
    // rows), so no executor ever sorts a full priority partition. A
    // row's decile is value-based — least(9, cum_le*10 div n) — so
    // price ties share a decile deterministically (ntile would split
    // ties by physical order, which is neither deterministic nor
    // computable from a histogram). q43 is the one-pass sketch tier for
    // the same question; this is the exact tier that still scales.
    QueryDef.sql("q48_price_deciles",
      (s, d) => {
        val hist = Tables.orders(s, d)
          .withColumn("cents", fx2(col("o_totalprice")))
          .groupBy(col("o_orderpriority"), col("cents"))
          .agg(count(lit(1)).as("cnt"))
        val wCum = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("o_orderpriority"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        hist
          .withColumn("cum_le", sum(col("cnt")).over(wCum))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .withColumn("decile", least(lit(9L), expr("cum_le * 10 div n")))
          .groupBy(col("o_orderpriority"), col("decile"))
          .agg(sum(col("cnt")).as("n_orders"),
            (min(col("cents")).cast("double") / 100).as("min_price"),
            (max(col("cents")).cast("double") / 100).as("max_price"),
            (sum(col("cents") * col("cnt")).cast("double") / 100).as("revenue"))
          .orderBy(col("o_orderpriority"), col("decile"))
      },
      """WITH hist AS (
        |  SELECT o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |cum AS (
        |  SELECT o_orderpriority, cents, cnt,
        |    SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le,
        |    SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM hist)
        |SELECT o_orderpriority,
        |  CAST(least(9, cum_le * 10 // n) AS BIGINT) AS decile,
        |  CAST(SUM(cnt) AS BIGINT) AS n_orders,
        |  CAST(MIN(cents) AS DOUBLE) / 100 AS min_price,
        |  CAST(MAX(cents) AS DOUBLE) / 100 AS max_price,
        |  CAST(SUM(cents * cnt) AS DOUBLE) / 100 AS revenue
        |FROM cum
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // -- inter-order gap analytics (lead/lag battery) ------------------
    // Per-customer purchase cadence: consecutive-order day gaps via lag
    // over (date, key) — ONE shuffle on o_custkey, O(1) window state
    // per row, integer day arithmetic end-to-end (avg exposed as a
    // centi-day integer ratio, no FP). Customers with < 3 orders are
    // filtered AFTER the agg (the predicate needs the count), but the
    // shuffle carries only (custkey, date, key) — fixed-width rows.
    QueryDef.sql("q49_order_gaps",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
          .withColumn("gap_d",
            datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("gap_d")).as("span_days"),
            max(col("gap_d")).as("max_gap_days"),
            min(col("gap_d")).as("min_gap_days"))
          .filter(col("n_orders") >= 3)
          .withColumn("avg_gap_centidays",
            expr("span_days * 100 div (n_orders - 1)"))
          .orderBy(col("o_custkey"))
      },
      """WITH g AS (
        |  SELECT o_custkey,
        |    date_diff('day',
        |      lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey),
        |      CAST(o_orderdate AS DATE)) AS gap_d
        |  FROM orders),
        |a AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(gap_d) AS BIGINT) AS span_days,
        |    CAST(MAX(gap_d) AS INTEGER) AS max_gap_days,
        |    CAST(MIN(gap_d) AS INTEGER) AS min_gap_days
        |  FROM g GROUP BY o_custkey HAVING COUNT(*) >= 3)
        |SELECT o_custkey, n_orders, span_days, max_gap_days, min_gap_days,
        |  span_days * 100 // (n_orders - 1) AS avg_gap_centidays
        |FROM a
        |ORDER BY o_custkey""".stripMargin),

    // -- Market-basket part co-occurrence ------------------------------
    // Which parts ship together in the same order (the recommender /
    // affinity staple)? 100 TB shape: NO self-join of the fact table —
    // one groupBy(l_orderkey) collects the order's distinct part LIST
    // (bounded by the order's line count, ≤7 in TPC-H shapes — this is
    // the safe bounded use of a collected set, unlike an unbounded
    // collect_list), pairs are generated MAP-SIDE from the sorted array
    // (i<j index walk), then one (pk1, pk2) rollup with a support floor.
    // Two fixed-width shuffles total: (orderkey, partkey) longs in, pair
    // longs out; per-order fan-out is C(items, 2) — data-bounded, not
    // corpus-bounded.
    QueryDef.sql("q50_basket_pairs",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val ps = sort_array(collect_set(col("l_partkey")))
        // r12: the pair triangle is the native value_pairs generator —
        // the old nested-transform explode materialized the whole
        // triangle as an array-of-struct per order through an
        // interpreted HOF before exploding it
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(ps.as("ps"))
          .select(graft.functions.GraftFunctions.valuePairs(col("ps"))
            .as(Seq("pk1", "pk2")))
          // r15 (guide §2.4): pair keys are ~unique (most pairs occur
          // once), so a map-side partial count builds a pair-cardinality
          // hash table that reduces almost nothing and ships the same
          // bytes plus a count. Satisfying the distribution explicitly
          // plans ONE complete aggregate after the exchange instead —
          // the pair stage measured ~1.2× faster (OPTIMIZATION_r15.md
          // §6); same rows, same hash partitioning, same result.
          .repartition(col("pk1"), col("pk2"))
          .groupBy(col("pk1"), col("pk2"))
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 2)
          .orderBy(col("pk1"), col("pk2"))
      },
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS pk1, b.l_partkey AS pk2,
        |  COUNT(*) AS n_orders
        |FROM op a JOIN op b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY pk1, pk2""".stripMargin),

    // -- Month-over-month revenue growth -------------------------------
    // The time-series trend read every dashboard ships: revenue per
    // (priority tier, month) with the previous month's figure and an
    // integer growth rate. 100 TB shape: one narrow (priority, month)
    // agg with full map-side partials — the lag window then runs over
    // the BOUNDED agg result (tiers × months rows), so its extra
    // exchange moves a few hundred rows at any corpus size. Money stays
    // exact: cents as BIGINT end-to-end, growth_ppm integer-div, the
    // only doubles are final single-rounding casts.
    QueryDef.sql("q51_revenue_growth",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
        Tables.orders(s, d)
          .select(col("o_orderpriority"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month"),
            fx2(col("o_totalprice")).as("cents"))
          .groupBy(col("o_orderpriority"), col("month"))
          // (priority, month) groups grow with sf, but cents ≤ 6e7/row
          // keeps the plain long sum exact through ~sf 5e5 (r15
          // overflow audit) — past the 100 TB brief without the cascade
          .agg(sum(col("cents")).as("rev_cents"))
          .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
          .select(col("o_orderpriority"), col("month"),
            (col("rev_cents").cast("double") / 100).as("revenue"),
            (col("prev_cents").cast("double") / 100).as("prev_revenue"),
            expr("(rev_cents - prev_cents) * 1000000 div prev_cents")
              .as("growth_ppm"))
          .orderBy(col("o_orderpriority"), col("month"))
      },
      """WITH m AS (
        |  SELECT o_orderpriority,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1, 2),
        |l AS (
        |  SELECT *, lag(rev_cents) OVER (PARTITION BY o_orderpriority
        |    ORDER BY month) AS prev_cents FROM m)
        |SELECT o_orderpriority, month,
        |  CAST(rev_cents AS DOUBLE) / 100 AS revenue,
        |  CAST(prev_cents AS DOUBLE) / 100 AS prev_revenue,
        |  CAST((rev_cents - prev_cents) * 1000000 // prev_cents AS BIGINT)
        |    AS growth_ppm
        |FROM l
        |ORDER BY o_orderpriority, month""".stripMargin),

    // -- Co-located join over bucketed tables ---------------------------
    // THE 100 TB join pattern: write both fact tables bucketed (and
    // bucket-sorted) by the join key once per corpus snapshot, then every
    // downstream orders⋈lineitem joins with ZERO exchange on either side
    // — the scan itself advertises HashPartitioning(key, 8). The
    // repartition before each write aligns Spark's shuffle hash with the
    // bucket-id hash (both Murmur3 pmod n), so each bucket is exactly one
    // file and the on-disk sort order survives the read. Store contract
    // matches d08's gram store: built once per (session, dir), the timed
    // path is the recurring join. PlanSpec pins join-side exchanges at 0.
    QueryDef.sql("q52_bucketed_join",
      (s, d) => {
        val (ot, lt) = bucketedStore(s, d)
        val o = s.table(ot)
        val l = s.table(lt)
        l.hint("MERGE").join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(frevsum.as("revenue"), count(lit(1)).as("n_lines"))
          .orderBy(col("o_orderpriority"))
      },
      s"""SELECT o_orderpriority, ${odsum(orev)} AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1
         |ORDER BY o_orderpriority""".stripMargin),

    // -- Skew-salted large-large join -----------------------------------
    // The skew-mitigation pattern for a hot build key: the probe side
    // gets a per-ROW salt (xxhash64 of its own unique key, so one hot
    // customer's orders spread over S reducers) and the build side is
    // replicated S ways map-side (explode of a literal sequence — S×dim
    // rows, never S×fact). Joining on (key, salt) splits every hot key
    // into S independent SMJ groups; the salt routes rows but never
    // changes the join result, so the oracle is the PLAIN join. The
    // MERGE hint keeps the demo on the shuffle path at test SFs (at
    // 100 TB the build side exceeds broadcast anyway; AQE's skew split
    // handles post-hoc what the salt prevents up front).
    QueryDef.sql("q53_salted_join",
      (s, d) => {
        val S = 8
        val o = Tables.orders(s, d)
          .withColumn("fsalt", pmod(xxhash64(col("o_orderkey")), lit(S.toLong)))
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"),
            explode(sequence(lit(0L), lit(S - 1L))).as("dsalt"))
        o.hint("MERGE").join(c,
            o("o_custkey") === c("c_custkey") && o("fsalt") === c("dsalt"))
          .groupBy(col("c_mktsegment"))
          .agg(fxsum(col("o_totalprice")).as("sum_price"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("c_mktsegment"))
      },
      s"""SELECT c_mktsegment, ${oxsum("o_totalprice")} AS sum_price,
         |  COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1
         |ORDER BY c_mktsegment""".stripMargin),

    // -- Returned-item reporting (the TPC-H Q10 shape) ------------------
    // Which customers returned the most revenue in a quarter? lineitem
    // filtered to returns, orders to the quarter (both pushed to the
    // scans), customer keyed join, nation broadcast. The top-20 cut is
    // TakeOrderedAndProject — never a global sort of the customer agg.
    // Output ordering key is the exact cents BIGINT (not the rounded
    // double), so the cut is deterministic cross-engine.
    QueryDef.sql("q56_returned_items",
      (s, d) => {
        // revenue is DECIMAL scale 4 — fixed-point at 1e4 is exactly
        // integral (×100 would leave 2 fractional digits, and Spark's
        // decimal→long cast truncates where DuckDB's rounds)
        val rev_i = rev4 // exact 1e-4-unit long product (r14 fixed-point)
        val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1996-05-01 00:00:00"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          // per-CUSTOMER group: lines/customer is SF-constant (~dozens),
          // so the plain long sum stays ≤ ~1e13 at any sf — safe (r15
          // overflow audit; unbounded-group money sums ride sumFx)
          .agg(sum(rev_i).as("rev_i"), count(lit(1)).as("n_returns"))
          .orderBy(col("rev_i").desc, col("c_custkey"))
          .limit(20)
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            (col("rev_i").cast("double") / 10000).as("revenue"),
            col("n_returns"))
      },
      s"""SELECT c_custkey, c_name, n_name,
         |  CAST(SUM(CAST($orev * 10000 AS BIGINT)) AS DOUBLE) / 10000
         |    AS revenue,
         |  COUNT(*) AS n_returns
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-05-01 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY SUM(CAST($orev * 10000 AS BIGINT)) DESC, c_custkey
         |LIMIT 20""".stripMargin),

    // -- Cheapest supplier per part (the TPC-H Q2 argmin shape) ---------
    // No partsupp table in TESTDATA, so the price book is lineitem's
    // observed unit prices: per part, the single cheapest (supplier,
    // unit price) observation. The argmin is a row_number window —
    // WindowGroupLimit keeps only each part's best row PRE-exchange, so
    // the shuffle carries ~|parts| rows, not |lineitem|. Unit price is
    // one IEEE double division (identical in both engines); every tie
    // breaks on (suppkey, orderkey, linenumber).
    QueryDef.sql("q57_cheapest_supplier",
      (s, d) => {
        // r14 (guide §2.3 "aggregate before you shuffle"): the rank-1
        // window kept the exchange bounded (WindowGroupLimit) but still
        // paid a FULL map-side sort of lineitem on the 5-key ordering
        // tuple. Only (unit_price, suppkey) survive into the output —
        // the orderkey/linenumber tie-breaks can't change (p_partkey,
        // s_name, unit_price) because suppkey determines s_name — so
        // the same result set is the hash-aggregable lexicographic
        // argmin: min (price, then suppkey) per part. Plan: Sort+
        // Window → HashAggregate with map-side partials; sf1
        // 10.7 → see OPTIMIZATION_r14.md. Ties on the IEEE unit-price
        // double resolve to the min suppkey, exactly the window's
        // ORDER BY unit_price, l_suppkey; inputs are non-null by
        // construction (l_quantity ≥ 1). Oracle keeps the window form
        // as the semantic spec.
        graft.functions.GraftFunctions.register(s)
        Tables.lineitem(s, d)
          .select(col("l_partkey"),
            (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
            col("l_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(graft.functions.GraftFunctions
            .argminDL(col("unit_price"), col("l_suppkey")).as("m"))
          .join(Tables.supplier(s, d), col("m.sel") === col("s_suppkey"))
          .select(col("l_partkey").as("p_partkey"), col("s_name"),
            col("m.ord").as("unit_price"))
          .orderBy(col("p_partkey"))
      },
      """WITH u AS (
        |  SELECT l_partkey, l_suppkey,
        |    l_extendedprice / l_quantity AS unit_price,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY l_extendedprice / l_quantity, l_suppkey, l_orderkey,
        |        l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_partkey AS p_partkey, s_name, unit_price
        |FROM u JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1
        |ORDER BY p_partkey""".stripMargin),

    // -- National market share inside a region (the TPC-H Q8 shape) -----
    // Per order-year: NATION_2's share of all ASIA-supplier revenue.
    // Dims (supplier, nation, region) broadcast, so the fact side
    // shuffles once — orders⋈lineitem on the order key — and the share
    // arithmetic is exact cents with an integer-ppm division (no
    // cross-engine double-division drift on aggregates).
    QueryDef.sql("q58_market_share",
      (s, d) => {
        // same 1e4 fixed point as q56: revenue is DECIMAL scale 4
        val rev_i = rev4 // exact 1e-4-unit long product (r14 fixed-point)
        val asiaSup = Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .select(col("s_suppkey").as("sk"), col("n_name"))
        Tables.lineitem(s, d)
          .join(broadcast(asiaSup), col("l_suppkey") === col("sk"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          // r15: sumFx cascade — ~7 year groups over the whole ASIA
          // slice; a plain long rev_i sum wraps near sf 1e4
          .agg(sumFx(rev_i).as("total_i"),
            sumFx(when(col("n_name") === "NATION_2", rev_i)
              .otherwise(0L)).as("nation_i"))
          .select(col("o_year"),
            (col("total_i").cast("double") / 10000).as("asia_revenue"),
            (col("nation_i").cast("double") / 10000).as("nation_revenue"),
            // through DECIMAL(38,0): nation_i*1e6 overflows BIGINT once
            // the 1e4-fixed-point revenue sum passes ~9e11 (r8 ADVICE) —
            // the q41 pattern, floor semantics identical in both engines
            expr("CAST(CAST(nation_i AS DECIMAL(38,0)) * 1000000 DIV total_i AS BIGINT)")
              .as("share_ppm"))
          .orderBy(col("o_year"))
      },
      s"""WITH sup AS (
         |  SELECT s_suppkey AS sk, n_name
         |  FROM supplier
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA'),
         |a AS (
         |  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
         |    CAST(SUM(CAST($orev * 10000 AS BIGINT)) AS BIGINT) AS total_i,
         |    CAST(SUM(CASE WHEN n_name = 'NATION_2'
         |      THEN CAST($orev * 10000 AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS nation_i
         |  FROM lineitem
         |  JOIN sup ON l_suppkey = sk
         |  JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1)
         |SELECT o_year,
         |  CAST(total_i AS DOUBLE) / 10000 AS asia_revenue,
         |  CAST(nation_i AS DOUBLE) / 10000 AS nation_revenue,
         |  CAST(CAST(nation_i AS HUGEINT) * 1000000 // total_i AS BIGINT) AS share_ppm
         |FROM a
         |ORDER BY o_year""".stripMargin),

    // -- Shipping-priority mix per line status (the TPC-H Q12 shape) ----
    // Did late/open lines carry the urgent orders? The ship-year filter
    // is pushed to the lineitem scan, the one shuffle is the
    // orders⋈lineitem order key, and the priority split is a pair of
    // conditional counts that partial-aggregate map-side after the join
    // — integer-only output, nothing to drift.
    QueryDef.sql("q59_priority_shipping",
      (s, d) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1998-01-01 00:00:00"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY l_linestatus""".stripMargin),

    // -- Promotion revenue share per ship month (the TPC-H Q14 shape) ---
    // What fraction of each month's revenue moved promoted parts? The
    // part join keys on l_partkey with NO broadcast hint: part is
    // fact-proportional (at 100 TB it is a second fact table), so the
    // right plan is a shuffled equi-join AQE can re-plan — only the
    // 6-month lineitem slice (pushed to the scan) rides it. Shares are
    // exact cents + an integer-ppm division (the q58 pattern).
    QueryDef.sql("q60_promo_revenue",
      (s, d) => {
        val rev_i = rev4 // exact 1e-4-unit long product (r14 fixed-point)
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1997-07-01 00:00:00"))
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .as("ship_month"))
          // r15: sumFx cascade — ~6 month groups, unbounded rows each
          .agg(sumFx(when(col("p_type") === "PROMO", rev_i).otherwise(0L))
            .as("promo_i"), sumFx(rev_i).as("total_i"))
          .select(col("ship_month"),
            (col("promo_i").cast("double") / 10000).as("promo_revenue"),
            (col("total_i").cast("double") / 10000).as("total_revenue"),
            // DECIMAL(38,0) route: promo_i*1e6 overflows BIGINT at scale
            expr("CAST(CAST(promo_i AS DECIMAL(38,0)) * 1000000 DIV total_i AS BIGINT)")
              .as("promo_ppm"))
          .orderBy(col("ship_month"))
      },
      s"""WITH a AS (
         |  SELECT year(CAST(l_shipdate AS DATE)) * 100
         |      + month(CAST(l_shipdate AS DATE)) AS ship_month,
         |    SUM(CASE WHEN p_type = 'PROMO'
         |      THEN CAST($orev * 10000 AS BIGINT) ELSE 0 END) AS promo_i,
         |    SUM(CAST($orev * 10000 AS BIGINT)) AS total_i
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
         |  GROUP BY 1)
         |SELECT CAST(ship_month AS BIGINT) AS ship_month,
         |  CAST(promo_i AS DOUBLE) / 10000 AS promo_revenue,
         |  CAST(total_i AS DOUBLE) / 10000 AS total_revenue,
         |  CAST(CAST(promo_i AS HUGEINT) * 1000000 // total_i AS BIGINT) AS promo_ppm
         |FROM a ORDER BY ship_month""".stripMargin),

    // -- Large-volume orders (the TPC-H Q18 shape) ----------------------
    // Orders whose total line quantity tops 300. The heavy step is the
    // per-order quantity rollup — full map-side partial agg on the
    // natural lineitem grouping key; the >300 HAVING leaves a tiny
    // survivor set that AQE turns into the BUILD side of the orders and
    // customer joins (never the reverse). Quantities are integral
    // doubles — cast to BIGINT per row, summed exactly; the top-50 cut
    // is TakeOrdered on (sum_qty DESC, o_orderkey).
    QueryDef.sql("q61_large_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
          .filter(col("sum_qty") > 300L)
        big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate"), col("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey"))
          .limit(50)
      },
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 50""".stripMargin),

    // -- Bilateral trade volume (the TPC-H Q7 shape) --------------------
    // Revenue shipped between NATION_1 and NATION_2, both directions,
    // per ship year. Both nation filters are applied to the DIMENSION
    // sides before any fact join — the 2-nation supplier slice
    // broadcasts into lineitem (semi-reducing it immediately), and the
    // 2-nation customer slice joins orders on the customer key. Two
    // fact shuffles total (order key, customer key) — the Q7 floor;
    // revenue is the exact 1e4 fixed point.
    QueryDef.sql("q62_trade_volume",
      (s, d) => {
        val rev_i = rev4 // exact 1e-4-unit long product (r14 fixed-point)
        val nations = Seq("NATION_1", "NATION_2")
        val supN = Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .filter(col("n_name").isin(nations: _*))
          .select(col("s_suppkey").as("sk"), col("n_name").as("supp_nation"))
        val custN = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .filter(col("n_name").isin(nations: _*))
          .select(col("c_custkey").as("ck"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, d)
          .join(broadcast(supN), col("l_suppkey") === col("sk"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(custN, col("o_custkey") === col("ck"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("ship_year"))
          // r15: sumFx cascade — ~28 (nation², year) groups, unbounded
          .agg(sumFx(rev_i).as("rev_i"))
          .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
            (col("rev_i").cast("double") / 10000).as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      },
      s"""WITH supn AS (
         |  SELECT s_suppkey AS sk, n_name AS supp_nation
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name IN ('NATION_1', 'NATION_2')),
         |custn AS (
         |  SELECT c_custkey AS ck, n_name AS cust_nation
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey
         |  WHERE n_name IN ('NATION_1', 'NATION_2'))
         |SELECT supp_nation, cust_nation,
         |  year(CAST(l_shipdate AS DATE)) AS ship_year,
         |  CAST(SUM(CAST($orev * 10000 AS BIGINT)) AS DOUBLE) / 10000
         |    AS revenue
         |FROM lineitem
         |JOIN supn ON l_suppkey = sk
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN custn ON o_custkey = ck
         |WHERE supp_nation <> cust_nation
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin),

    // -- Order-priority check (the TPC-H Q4 shape) ----------------------
    // How many orders per priority class had at least one RETURNED line
    // in the quarter — the EXISTS subquery planned as a LEFT SEMI join.
    // Both inputs shrink before the join: the quarter slice pushes to
    // the orders scan, the returnflag filter to the lineitem scan, and
    // the semi join keeps the orders side's cardinality (never
    // multiplies by matching lines). Both sides are fact-proportional
    // at 100 TB, so the join shuffles on the order key and AQE owns the
    // strategy — no broadcast hint on purpose.
    QueryDef.sql("q63_order_priority",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1997-04-01 00:00:00") &&
            col("o_orderdate") < ts("1997-07-01 00:00:00"))
        val returned = Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"))
        ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-04-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- Customer order-count distribution (the TPC-H Q13 shape) --------
    // The histogram "how many customers placed k orders", zero-order
    // customers included — which is what forces the LEFT OUTER join
    // (an inner join silently drops the k=0 bucket, the bucket the
    // business question is usually about). The non-urgent filter lands
    // on the orders side BEFORE the join (= the ON-clause predicate).
    // Scale shape: one custkey shuffle feeds the join AND the
    // per-customer count (same key, no second exchange); the histogram
    // re-agg sees one row per customer, and its output is bounded by
    // the max order count — tiny at any corpus size.
    QueryDef.sql("q64_customer_distribution",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey"))
        Tables.customer(s, d).select(col("c_custkey"))
          .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      """WITH pc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM pc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // -- Small-quantity line revenue per brand (the TPC-H Q17 shape) ----
    // Revenue carried by lines whose quantity is under 20% of their
    // part's average — the correlated AVG subquery decorrelated into a
    // per-part aggregate joined back to the fact table. The 0.2·avg
    // comparison cross-multiplies to integers (5·qty·cnt < Σqty):
    // quantities are integral, so the predicate is exact in both
    // engines — no division, no FP threshold. Scale shape: lineitem is
    // scanned twice but shuffles on ONE key (partkey) for both the
    // stats build and the probe; part joins on the same key; survivors
    // (a small fraction) feed the 25-row brand rollup.
    QueryDef.sql("q65_small_qty_revenue",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val stats = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity").cast("long")).as("sq"),
            count(lit(1)).as("cnt"))
        li.join(stats, col("l_partkey") === col("pk"))
          .filter(col("l_quantity").cast("long") * lit(5L) * col("cnt") < col("sq"))
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(fxsum(col("l_extendedprice")).as("small_qty_revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("p_brand"))
      },
      s"""WITH st AS (
         |  SELECT l_partkey AS pk, SUM(CAST(l_quantity AS BIGINT)) AS sq,
         |    COUNT(*) AS cnt
         |  FROM lineitem GROUP BY 1)
         |SELECT p_brand,
         |  ${oxsum("l_extendedprice")} AS small_qty_revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN st ON l_partkey = pk
         |JOIN part ON l_partkey = p_partkey
         |WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sq
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- Part value concentration (the TPC-H Q11 shape) -----------------
    // Parts whose revenue share beats 1.05× the per-part mean — the
    // group-vs-global HAVING planned as a 1-row broadcast (the q41
    // move): the global total and part count cross the cluster ONCE,
    // and the share test cross-multiplies to integers
    // (val·n_parts·100 ≥ 105·total — no division, exact in both
    // engines, and the products ride DECIMAL(38,0)/HUGEINT so there is
    // no BIGINT headroom cliff at any SF).
    // A relative threshold (vs Q11's absolute fraction) keeps the
    // survivor set non-degenerate at every SF.
    QueryDef.sql("q66_part_value_share",
      (s, d) => {
        val rev_i = rev4 // exact 1e-4-unit long product (r14 fixed-point)
        val perPart = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"))
          // per-part group is ~30 lines at EVERY sf (lines/part is
          // SF-constant): plain long sum exact to ≤ 3e10 — safe
          .agg(sum(rev_i).as("val_i"))
        // r15: the GLOBAL total is one group over all parts — sumFx
        // cascade (a plain long sum wraps near sf 1.5e3)
        val total = perPart.agg(sumFx(col("val_i")).as("tot_i"),
          count(lit(1)).as("np"))
        perPart.crossJoin(broadcast(total))
          // cross-multiplied compare and the ppm both ride DECIMAL(38,0):
          // val_i*np*100 and val_i*1e6 overflow BIGINT at scale (r8 ADVICE)
          .filter(col("val_i").cast("decimal(38,0)") * col("np") * lit(100L) >=
            lit(105L) * col("tot_i").cast("decimal(38,0)"))
          .select(col("l_partkey"),
            (col("val_i").cast("double") / 10000).as("part_value"),
            expr("CAST(CAST(val_i AS DECIMAL(38,0)) * 1000000 DIV tot_i AS BIGINT)")
              .as("share_ppm"))
          .orderBy(col("part_value").desc, col("l_partkey"))
      },
      s"""WITH pp AS (
         |  SELECT l_partkey, SUM(CAST($orev * 10000 AS BIGINT)) AS val_i
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT SUM(val_i) AS tot_i, COUNT(*) AS np FROM pp)
         |SELECT l_partkey,
         |  CAST(val_i AS DOUBLE) / 10000 AS part_value,
         |  CAST(CAST(val_i AS HUGEINT) * 1000000 // tot_i AS BIGINT) AS share_ppm
         |FROM pp, t
         |WHERE CAST(val_i AS HUGEINT) * np * 100 >= 105 * CAST(tot_i AS HUGEINT)
         |ORDER BY part_value DESC, l_partkey""".stripMargin),

    // -- Disjunctive-predicate revenue (the TPC-H Q19 shape) ------------
    // Revenue under an OR-of-ANDs each arm pairing a part attribute
    // with a lineitem quantity band — the shape that breaks naive
    // pushdown because no single conjunct spans the whole disjunction.
    // The scale moves: the hoisted quantity envelope (1..30, implied by
    // the union of the arms but NOT inferred by Catalyst) is added
    // explicitly so it PUSHES to the lineitem scan and prunes before
    // the join (PlanSpec pins the pushed bounds); part carries only
    // (key, brand, size) to an AQE-owned equi-join; the residual OR
    // evaluates post-join in codegen. Money is exact decimal.
    QueryDef.sql("q67_disjunctive_revenue",
      (s, d) => {
        def arm(brand: String, szMax: Int, qLo: Int, qHi: Int) =
          col("p_brand") === brand && col("p_size") <= szMax &&
            col("l_quantity") >= qLo && col("l_quantity") <= qHi
        Tables.lineitem(s, d)
          .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
          // part is SF-proportional — no broadcast hint (the repo-wide
          // discipline): AQE broadcasts it while it fits and switches
          // to a shuffle join when it outgrows the threshold
          .join(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"), col("p_size")),
            col("l_partkey") === col("p_partkey"))
          .filter(arm("Brand#3", 10, 1, 11) || arm("Brand#15", 20, 10, 20) ||
            arm("Brand#24", 30, 20, 30))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_lines"), frevsum.as("revenue"))
          .orderBy(col("p_brand"))
      },
      s"""SELECT p_brand, COUNT(*) AS n_lines, ${odsum(orev)} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_quantity >= 1 AND l_quantity <= 30
         |  AND ((p_brand = 'Brand#3' AND p_size <= 10
         |          AND l_quantity >= 1 AND l_quantity <= 11)
         |    OR (p_brand = 'Brand#15' AND p_size <= 20
         |          AND l_quantity >= 10 AND l_quantity <= 20)
         |    OR (p_brand = 'Brand#24' AND p_size <= 30
         |          AND l_quantity >= 20 AND l_quantity <= 30))
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- Lapsed rich customers (the TPC-H Q22 shape) ---------------------
    // Per market segment: customers holding above-average positive
    // balances with NO order since 2000 — the lost-revenue sheet
    // (every custkey in this corpus has SOME order, so the recency
    // window is what makes the anti join non-degenerate at every SF).
    // The global average crosses the cluster once as a 1-row
    // broadcast, and the above-average test cross-multiplies exact
    // cents through DECIMAL(38,0) (bal·n_pos > total — no division, no
    // FP); the no-recent-orders test is a LEFT ANTI join whose build
    // side shrinks at the orders SCAN (the date slice pushes down). At
    // 100 TB the anti join shuffles on the customer key once;
    // everything else is bounded.
    QueryDef.sql("q68_idle_customers",
      (s, d) => {
        val bc = (mon(col("c_acctbal")) * 100).cast("long")
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            bc.as("bc"))
        val stats = cust.filter(col("bc") > 0)
          .agg(sum(col("bc")).as("tot_bc"), count(lit(1)).as("n_pos"))
        cust.crossJoin(broadcast(stats)) // aggregate-bounded: 1 row
          .filter(col("bc").cast("decimal(38,0)") * col("n_pos") > col("tot_bc"))
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= ts("2000-01-01 00:00:00"))
            .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            dsum(mon(col("c_acctbal"))).as("total_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      s"""WITH st AS (
         |  SELECT CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS tot_bc,
         |    COUNT(*) AS n_pos
         |  FROM customer WHERE c_acctbal > 0),
         |el AS (
         |  SELECT c_custkey, c_mktsegment, c_acctbal,
         |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bc
         |  FROM customer)
         |SELECT c_mktsegment, COUNT(*) AS n_customers,
         |  ${odsum("CAST(c_acctbal AS DECIMAL(12,2))")} AS total_acctbal
         |FROM el e, st
         |WHERE CAST(bc AS HUGEINT) * n_pos > tot_bc
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |    WHERE o_custkey = e.c_custkey
         |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- Top supplier by quarterly revenue (the TPC-H Q15 shape) --------
    // The revenue-view-then-max two-phase: per-supplier revenue over a
    // pushed 3-month ship slice (ONE suppkey shuffle with map-side
    // partials), the global max crossing back as a 1-row broadcast
    // (never a window over all suppliers), ties kept by the = compare
    // exactly as Q15 demands. The winner row joins the supplier dim by
    // broadcast. Fixed-point revenue: the max compare is integral.
    QueryDef.sql("q69_top_supplier",
      (s, d) => {
        val rev_i = rev4 // exact 1e-4-unit long product (r14 fixed-point)
        val perSup = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1997-04-01 00:00:00"))
          .groupBy(col("l_suppkey"))
          // per-SUPPLIER group: lines/supplier is SF-constant (~600 ×
          // quarter slice), plain long sum ≤ ~1e12 at any sf — safe
          // (r15 overflow audit); the max below is order-free
          .agg(sum(rev_i).as("rev_i"))
        val mx = perSup.agg(max(col("rev_i")).as("max_i"))
        perSup.crossJoin(broadcast(mx)) // aggregate-bounded: 1 row
          .filter(col("rev_i") === col("max_i"))
          .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey").as("suppkey"), col("s_name"),
            (col("rev_i").cast("double") / 10000).as("total_revenue"))
          .orderBy(col("suppkey"))
      },
      s"""WITH ps AS (
         |  SELECT l_suppkey, CAST(SUM(CAST($orev * 10000 AS BIGINT)) AS BIGINT)
         |    AS rev_i
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         |  GROUP BY 1),
         |mx AS (SELECT MAX(rev_i) AS max_i FROM ps)
         |SELECT s_suppkey AS suppkey, s_name,
         |  CAST(rev_i AS DOUBLE) / 10000 AS total_revenue
         |FROM ps
         |CROSS JOIN mx
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_i = max_i
         |ORDER BY suppkey""".stripMargin),

    // -- Product-line profit by supplier nation and year (the TPC-H Q9
    // shape) -------------------------------------------------------------
    // Profit on the PROMO product line = revenue − modeled unit cost
    // (60% of retail), summed per (supplier nation, order year). The
    // Q9 join tree re-expressed for this star: supplier⋈nation is a
    // broadcast build (true dims), part is filtered at ITS scan and
    // joins equi (AQE-owned — SF-proportional frames carry no hint),
    // so the fact side hash-shuffles at most once — orders⋈lineitem on
    // the order key. All money is exact decimal; profit lands in 1e6
    // fixed point
    // (cost carries scale 6: retail(2) × rate(2) × qty(2)), summed as
    // BIGINT — no FP until the final display division.
    QueryDef.sql("q70_product_profit",
      (s, d) => {
        // r14 fixed-point: both terms are exact 1e-6-unit longs
        // (retail·100 × 60 × qty·100 = retail·0.6·qty·1e6; rev4·100),
        // so the signed difference is the identical integer the decimal
        // form produced — long subtraction needs no rounding, so the
        // negative-profit rows that bar fx-rounding elsewhere are safe.
        val cost6 = fx2(col("p_retailprice")) * lit(60L) * fx2(col("l_quantity"))
        val profit_i = rev4 * lit(100L) - cost6
        val supN = Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey").as("sk"), col("n_name"))
        Tables.lineitem(s, d)
          // the PROMO slice of part is still SF-proportional — no
          // broadcast hint; the filter pushes to the scan and AQE
          // picks the strategy by the filtered size
          .join(Tables.part(s, d)
            .filter(col("p_type") === "PROMO")
            .select(col("p_partkey"), col("p_retailprice")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(supN), col("l_suppkey") === col("sk"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
          // r15: sumFx cascade — ~175 (nation, year) groups, unbounded
          // rows each, and |profit_i| ≤ ~1e11/row (1e-6 units) wrapped a
          // plain long sum near sf 50. profit_i is SIGNED: the shift/
          // mask split identity holds for signed longs (see sumFx).
          .agg(count(lit(1)).as("n_lines"), sumFx(profit_i).as("profit_i"))
          .select(col("nation"), col("o_year"), col("n_lines"),
            (col("profit_i").cast("double") / 1000000).as("profit"))
          .orderBy(col("nation"), col("o_year"))
      },
      s"""WITH supn AS (
         |  SELECT s_suppkey AS sk, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
         |SELECT n_name AS nation, year(CAST(o_orderdate AS DATE)) AS o_year,
         |  COUNT(*) AS n_lines,
         |  CAST(SUM(CAST(($orev
         |      - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(4,2))
         |        * CAST(l_quantity AS DECIMAL(12,2))) * 1000000 AS BIGINT))
         |    AS DOUBLE) / 1000000 AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         |JOIN supn ON l_suppkey = sk
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2
         |ORDER BY nation, o_year""".stripMargin),

    // -- Supplier variety per part segment (the TPC-H Q16 shape) --------
    // How many DISTINCT suppliers serve each (brand, type, size)
    // segment, excluding one brand, one type family, a size slice, and
    // a "complaint" supplier set (negative balance — this schema's
    // analogue of Q16's comment scan). This star has no partsupp table;
    // lineitem's observed (partkey, suppkey) pairs ARE the supplier-part
    // relation. 100 TB shape: the excluded supplier set is a tiny
    // broadcast anti-join at the fact scan; the pair-distinct shuffles
    // once on (partkey, suppkey); part's brand/type/size predicates
    // push to ITS scan and the dim joins equi (AQE-owned); the final
    // count-distinct re-groups the already-distinct pairs on the
    // 3-column segment key — no window, no second distinct pass.
    QueryDef.sql("q71_part_supplier_variety",
      (s, d) => {
        val complaints = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        // r14 (guide §2.3/§2.4): the old plan DISTINCT'd fact-scale
        // (partkey, suppkey) pairs for 100% of parts BEFORE the part
        // join — a full-cardinality exchange whose output the final
        // COUNT(DISTINCT) would have deduplicated anyway (count
        // distinct is idempotent under duplicate rows). Joining the
        // selective part dim FIRST (~15% of parts pass; AQE picks the
        // broadcast) means the only wide exchange carries map-side-
        // deduped (brand, type, size, suppkey) partials of matching
        // parts only. Same rows out; oracle SQL unchanged.
        Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(Tables.part(s, d)
            .filter(col("p_brand") =!= "Brand#15" &&
              !col("p_type").startsWith("PROMO") &&
              col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49))
            .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#15' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // -- Incremental rollup maintenance: partial-agg merge ----------------
    // The 100 TB pattern this proves: a pipeline does NOT rescan the
    // corpus to refresh a rollup — it aggregates each arriving date
    // slice into PARTIALS (count/sum/min/max are re-aggregable) and
    // MERGES them with the standing partials. Here the lineitem fact is
    // split at the 1998 ship boundary, each slice aggregates per
    // (returnflag, year) independently, and the union re-aggregates —
    // bit-equal to the direct whole-corpus rollup (the oracle computes
    // exactly that, so the gate IS the merge-correctness proof). Each
    // slice's agg is one shuffle with map-side partials; the merge
    // re-groups a slice-count-bounded partial table, never rows.
    QueryDef.sql("q72_partial_agg_merge",
      (s, d) => {
        def slice(pred: Column): DataFrame = rollupPartials(Tables.lineitem(s, d).filter(pred))
        val cut = ts("1998-01-01 00:00:00")
        slice(col("l_shipdate") < cut)
          .unionAll(slice(col("l_shipdate") >= cut))
          .groupBy(col("l_returnflag"), col("ship_year"))
          .agg(sum(col("n_lines")).as("n_lines"),
            (sum(col("rev_i")).cast("double") / 10000).as("revenue"),
            min(col("min_qty")).as("min_qty"), max(col("max_qty")).as("max_qty"))
          .orderBy(col("l_returnflag"), col("ship_year"))
      },
      s"""SELECT l_returnflag, year(CAST(l_shipdate AS DATE)) AS ship_year,
         |  COUNT(*) AS n_lines,
         |  CAST(SUM(CAST($orev * 10000 AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
         |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
         |FROM lineitem
         |GROUP BY 1, 2
         |ORDER BY l_returnflag, ship_year""".stripMargin),

    // -- Dominant suppliers per part (the TPC-H Q20 shape) ---------------
    // Q20 finds suppliers holding excess stock of shipped parts; this
    // star has no partsupp/availqty, so the same correlated-aggregate
    // shape asks: which suppliers shipped MORE THAN HALF of a part's
    // total 1997 volume (single-source risk)? The correlated subquery
    // decorrelates into two aggregation levels: per-(part, supplier)
    // quantity, then per-part totals — the second groupBy's key is a
    // PREFIX of the first's, so at scale the rollup re-groups the
    // already-reduced (part, supplier) frame, never lineitem rows; the
    // dominance join runs inside the partkey partitioning, and the
    // supplier dim crosses as a broadcast. Quantities are integral —
    // the share compare is a cross-multiplied BIGINT test, no division.
    QueryDef.sql("q73_dominant_suppliers",
      (s, d) => {
        val li97 = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1998-01-01 00:00:00"))
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("q"))
        // r14 (guide §2.4 "two operations keyed the same way share one
        // exchange"): repartition by part key up front —
        // HashPartitioning(l_partkey) satisfies BOTH the
        // (partkey, suppkey) aggregation's clustering and the per-part
        // dominance window, so the probe that was a persist barrier +
        // second aggregate + self-join (3 more exchanges and a
        // materialized store) is now a window over the very same
        // exchange. Map-side partials lose nothing here: the 1997 slice
        // has ~1 row per (partkey, suppkey), and the shuffled rows are
        // three longs. Same rows out: tq/n_suppliers computed over the
        // identical per-part groups.
        val wp = Window.partitionBy(col("l_partkey"))
        li97.repartition(col("l_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("q")).as("sq"))
          .withColumn("tq", sum(col("sq")).over(wp))
          .withColumn("n_suppliers", count(lit(1)).over(wp))
          .filter(col("sq") * 2 > col("tq") && col("n_suppliers") >= 2)
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_dominated"), sum(col("sq")).as("dominated_qty"))
          .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey").as("suppkey"), col("s_name"),
            col("n_dominated"), col("dominated_qty"))
          .orderBy(col("n_dominated").desc, col("suppkey"))
      },
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
        |ps AS (
        |  SELECT l_partkey, l_suppkey, SUM(q) AS sq FROM li GROUP BY 1, 2),
        |p AS (
        |  SELECT l_partkey, SUM(sq) AS tq, COUNT(*) AS n_suppliers
        |  FROM ps GROUP BY 1),
        |dom AS (
        |  SELECT ps.l_suppkey, ps.sq
        |  FROM ps JOIN p ON ps.l_partkey = p.l_partkey
        |  WHERE ps.sq * 2 > p.tq AND p.n_suppliers >= 2)
        |SELECT s_suppkey AS suppkey, s_name,
        |  COUNT(*) AS n_dominated, CAST(SUM(sq) AS BIGINT) AS dominated_qty
        |FROM dom JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2
        |ORDER BY n_dominated DESC, suppkey""".stripMargin)
  )

  /** Bucketed copies of orders/lineitem (8 buckets on the order key,
    * bucket-sorted, one file per bucket), written once per
    * (session, sfDir) into the session catalog. At 100 TB this is the
    * bucketed table a pipeline maintains next to the raw corpus; here
    * the store pattern matches DedupOps.gram8Agg. */
  private val bucketCache =
    scala.collection.concurrent.TrieMap[(Int, String), (String, String)]()

  /** r9 ADVICE: pid-scoped table tags mean a crashed JVM's bucketed
    * copies are never matched by the own-tag delete above — without a
    * sweep, the warehouse grows one full bucketed copy per dead JVM per
    * data dir. Delete sibling `graft_bkt_*_<dirTag>_<pid>` dirs whose
    * pid is no longer alive; live pids (including ours) are untouched,
    * so the r8 mid-query cross-JVM delete race stays fixed. */
  private[operators] def reclaimStaleBuckets(
      fs: org.apache.hadoop.fs.FileSystem,
      whPath: org.apache.hadoop.fs.Path,
      dirTag: String): Unit = {
    val stale = "graft_bkt_(?:orders|lineitem)_%s_(\\d+)".format(dirTag).r
    if (fs.exists(whPath)) fs.listStatus(whPath).foreach { st =>
      st.getPath.getName match {
        case stale(pidStr) =>
          // a digit run beyond Long range is not a pid we wrote — treat
          // the dir as foreign/kept instead of aborting the whole setup
          scala.util.Try(pidStr.toLong).foreach { pid =>
            if (pid != ProcessHandle.current().pid() &&
                !ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false))
              fs.delete(st.getPath, true)
          }
        case _ =>
      }
    }
  }

  private def bucketedStore(s: SparkSession, d: String): (String, String) =
    bucketCache.getOrElseUpdate((System.identityHashCode(s), d), {
      // tag = md5(dir) + pid: the dir hash (collision-safe unlike
      // hashCode) lets every session IN THIS JVM reuse one pair of
      // warehouse tables via the catalog-existence check below (r7
      // ADVICE); the pid component keeps two live JVMs over the same
      // dir from deleting each other's table files mid-query during the
      // reclaim step (r8 ADVICE) — pids are unique among live processes,
      // so the delete can only ever hit THIS process's own stale dirs.
      val md = java.security.MessageDigest.getInstance("MD5")
      val dirTag = md.digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val tag = s"${dirTag}_${ProcessHandle.current().pid()}"
      val ot = s"graft_bkt_orders_$tag"
      val lt = s"graft_bkt_lineitem_$tag"
      // existence check against the CATALOG, not the in-memory map: a
      // prior session in this catalog already wrote these exact tables
      // (the dir is immutable per round) — reuse, don't rebuild
      if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) {
        // a FRESH catalog (new JVM) may still see the previous JVM's
        // warehouse directories under the deterministic tag — managed
        // CREATE refuses an existing location, so reclaim them first
        val wh = s.conf.get("spark.sql.warehouse.dir")
        val whPath = new org.apache.hadoop.fs.Path(wh)
        val fs = whPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        Seq(ot, lt).foreach { t =>
          val p = new org.apache.hadoop.fs.Path(s"$wh/$t")
          if (fs.exists(p)) fs.delete(p, true)
        }
        reclaimStaleBuckets(fs, whPath, dirTag)
        Tables.orders(s, d).repartition(8, col("o_orderkey"))
          .write.format("parquet").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").mode("overwrite").saveAsTable(ot)
        Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
          .write.format("parquet").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").mode("overwrite").saveAsTable(lt)
      }
      (ot, lt)
    })
}
