package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DateType}
import graft.sources.Tables._

/** TPC-H-class SQL surface.
  *
  * The reference benchmarks its AVX2 parquet scanner on TPC-H Q6 /
  * Q12 / Q13 / Q14 (/root/reference/README.md:10-16); being an
  * Impala slice its implied surface is the full scan→join→agg→
  * window→sort pipeline. Here each query is declared with the
  * DataFrame API and Catalyst chooses the physical plan: filters
  * reach the parquet reader as PushedFilters (the Spark analog of
  * the reference's skip-bitset predicate evaluation,
  * simple-predicates.h:37-120), dimension tables get broadcast, and
  * aggregates run partial→final with map-side combine.
  *
  * Broadcast-hint policy (round-12 audit): a FORCED broadcast() hint
  * appears only on relations whose cardinality is bounded by a fixed
  * domain — nation (25 rows), region (5), and 1-row aggregates
  * (avgBal, maxRev, tot). SF-scaled dimensions (customer, supplier,
  * part and anything derived from them) are joined UNHINTED: at test
  * SFs Catalyst/AQE still broadcasts them from measured size, while
  * at 100 TB — where customer alone is billions of rows — the same
  * plan degrades to a shuffle join instead of OOMing the driver the
  * way a forced hint would.
  *
  * Queries are adapted to the driver schema (no
  * l_shipmode/l_commitdate/l_receiptdate, no o_comment — see
  * SURVEY.md §3); the adaptation is noted per query.
  *
  * Determinism/oracle notes: all money columns hold exact 2-decimal
  * values, so aggregation is done on DECIMAL (exact, association-
  * order independent) and results are cast back to DOUBLE, which is
  * bit-identical across Spark and DuckDB. The double → DECIMAL(18,2)
  * casts run on graft.functions.ExactDecimalCast, which
  * ExactDecimalCastRule puts in place of every double → DECIMAL(p ≤ 18)
  * cast: it returns the long r = rint(d·10^s) when |r| < min(10^p,
  * 2^53), r / 10^s == d and ulp(d)·10^s < 0.5 — the value Spark's cast
  * gives — and otherwise evaluates the original cast, so values, nulls
  * and errors are Spark's own. Timestamp outputs are cast to DATE.
  * Every query ends with a total ORDER BY.
  */
object Tpch {
  private val D = DecimalType(18, 2)

  private def dec(c: Column): Column = c.cast(D)
  /** exact revenue term: extprice * (1 - discount) on decimals */
  private def discPrice(price: Column, disc: Column): Column =
    dec(price) * (lit(BigDecimal(1)).cast(D) - dec(disc))

  private def ts(s: String): Column = lit(java.sql.Timestamp.valueOf(s + " 00:00:00"))

  /** Q1 pricing summary: selective scan + hash agg on lineitem. */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    // single-row-group input: the 4-decimal-sum partial aggregate
    // would run in ONE scan task; fan the rows across the machine
    // first (identity at scale — see Tables.parallelized). Column
    // pruning pushes below the repartition, so the exchange carries
    // only the 7 referenced columns.
    val li = graft.sources.Tables.parallelized(
      lineitem(spark, dir), col("l_orderkey"))
    li.filter(col("l_shipdate") <= ts("2001-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
        sum(discPrice(col("l_extendedprice"), col("l_discount")).cast(DecimalType(18, 6)) *
          (lit(BigDecimal(1)).cast(D) + dec(col("l_tax"))))
          // Exact-decimal sum, emitted as a fixed-scale STRING: a
          // double cast can differ by 1 ulp across engines at >15
          // significant digits, and rounding to a smaller scale hits
          // half-up-vs-half-even on exact .5 digits. Both engines
          // render DECIMAL(38,8) with all 8 fraction digits, so the
          // string boundary is bit-exact and order-free.
          .cast(DecimalType(38, 8)).cast("string").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Q3 shipping priority: BUILDING customers' highest-value open orders. */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = orders(spark, dir).filter(col("o_orderdate") < ts("1998-06-01"))
    val li = lineitem(spark, dir).filter(col("l_shipdate") > ts("1998-06-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast(DateType).as("o_orderdate"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q4 order priority: EXISTS rewritten as a left-semi join.
    * Adapted: the commit/receipt-date lag test becomes "some line
    * shipped ≥60 days after the order date". */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val li = lineitem(spark, dir)
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q5 local supplier volume: 6-way join, revenue by nation.
    * region/nation/supplier broadcast; customer⋈orders⋈lineitem
    * shuffle on their keys. */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val reg = region(spark, dir).filter(col("r_name") === "ASIA")
    val nat = nation(spark, dir)
    val sup = supplier(spark, dir)
    val cust = customer(spark, dir)
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
    val li = lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q6 forecast revenue — the reference's flagship scan benchmark
    * (README.md:10): date-range + discount BETWEEN + quantity
    * predicate, all pushed to the parquet scan, then a single agg. */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))).cast("double").as("revenue"))
  }

  /** Q10 returned items: customers who returned goods, by lost revenue. */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
    val nat = nation(spark, dir)
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1997-04-01"))
    val li = lineitem(spark, dir).filter(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q12 (adapted — no l_shipmode): per order-priority, count lines
    * shipped within vs beyond 90 days of the order date in 1997. */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val ord = orders(spark, dir)
    val li = lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
          .otherwise(0L)).as("on_time_count"),
        sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
          .otherwise(0L)).as("late_count"))
      .orderBy("o_orderpriority")
  }

  /** Q13 customer order-count distribution: left outer join + two
    * aggregations. Adapted: the o_comment NOT LIKE filter becomes
    * "exclude 5-LOW priority orders". */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
    val ord = orders(spark, dir).filter(col("o_orderpriority") =!= "5-LOW")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q14 promo effect: CASE-ratio aggregate over lineitem⋈part.
    * part is broadcast; the ratio is computed on exact decimal sums
    * cast to double so the division is bit-identical to the oracle. */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val pt = part(spark, dir)
    val li = lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-03-01") && col("l_shipdate") < ts("1997-04-01"))
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"),
            discPrice(col("l_extendedprice"), col("l_discount"))).otherwise(lit(BigDecimal(0)).cast(D)))
            .cast("double") /
          sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double"))
          .as("promo_revenue"))
  }

  /** Q18 large-volume customers: HAVING on a grouped fact, then join
    * back. The qualifying set is an aggregate OVER THE FACT TABLE, so
    * its size grows with the data — a forced broadcast would OOM the
    * driver at 100× scale, and (round 14) a forced shuffle_hash gives
    * up a measured ~10% at bench scale. The join is UNHINTED:
    * Catalyst's size estimate for the HAVING aggregate is an upper
    * bound derived from the column-pruned lineitem bytes, so a static
    * broadcast happens only when even that bound fits the threshold —
    * safe at 100 TB (the estimate scales with lineitem and the join
    * shuffles) and fast at bench scale (the ~20%-of-orders relation
    * broadcasts, eliminating the orders-side exchange). TpchSpec pins
    * that no hint forces the choice and that the licensing estimate
    * really is below the threshold at test SF. */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val big = li.groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).as("sum_qty_d"))
      .filter(col("sum_qty_d") > 150)
    val ord = orders(spark, dir)
    val cust = customer(spark, dir)
    // UNHINTED on purpose (round 14; was shuffle_hash): Catalyst's
    // size estimate for the HAVING aggregate is an upper bound
    // derived from the column-pruned lineitem bytes, so a static
    // broadcast happens only when even that bound fits the
    // threshold — at 100 TB the estimate scales with lineitem and
    // the join shuffles; at bench scale the ~20%-of-orders relation
    // broadcasts and the orders-side exchange disappears (measured
    // 0.96 → 0.87 s at sf0.1). TpchSpec pins that no hint forces
    // the choice.
    ord.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("o_orderdate"),
        col("o_totalprice"), col("sum_qty_d").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q19 (adapted — no container/shipinstruct): disjunction of
    * brand×size×quantity conjunctions, evaluated as one OR-of-ANDs
    * predicate over lineitem⋈part. */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val pt = part(spark, dir)
    val li = lineitem(spark, dir)
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30))
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
  }

  /** Q22 (adapted — no c_phone): customers above the positive-mean
    * account balance with no orders, by nation. NOT EXISTS → left
    * anti; the scalar mean is a broadcast cross join, not a
    * collect(). */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
    val ord = orders(spark, dir).filter(col("o_orderdate") >= ts("2000-01-01"))
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** Q7 volume shipping (adapted: synthetic nation names): revenue
    * between the NATION_1/NATION_2 supplier-customer pairs by ship
    * year, both directions. */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val n1 = nation(spark, dir).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = nation(spark, dir).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1998-01-01"))
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8 market share (adapted): NATION_3's share of AMERICA-customer
    * ECONOMY-part revenue by order year. */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val amNations = nation(spark, dir)
      .join(broadcast(region(spark, dir).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("am_nk"))
    val suppNation = nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    lineitem(spark, dir)
      .join(part(spark, dir).filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(orders(spark, dir)
          .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(amNations), col("c_nationkey") === col("am_nk"))
      .join(supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_3",
            discPrice(col("l_extendedprice"), col("l_discount")))
          .otherwise(lit(BigDecimal(0)).cast(D))).cast("double") /
         sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double"))
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** Q17 small-quantity-order revenue (correlated avg as a window):
    * parts of Brand#7 whose lineitems fall under 20% of the part's
    * average quantity. Quantities are small integers, so the double
    * average is an exact sum / count — engine-order-free. */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_partkey")
    lineitem(spark, dir)
      .join(part(spark, dir).filter(col("p_brand") === "Brand#7")
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"))
  }

  /** Q15 top supplier: the revenue-view + scalar-max shape. Adapted:
    * the driver's supplier table has no s_address/s_phone (SURVEY §3),
    * so the output carries (s_suppkey, s_name, total_revenue) only.
    * The scalar max is a 1-row aggregate broadcast back over the
    * per-supplier revenue view (the repo's single-row-crossJoin
    * pattern) instead of a whole-frame window — no single task ever
    * holds the supplier relation, and lineitem is still scanned once
    * (both consumers read the same revenue agg). Revenue stays exact
    * DECIMAL through the max-equality (cross-engine-safe; doubles
    * are not), and lands on DOUBLE only at the boundary. */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("total_rev"))
    val maxRev = rev.agg(max("total_rev").as("max_rev"))
    supplier(spark, dir)
      .join(rev.crossJoin(broadcast(maxRev)).filter(col("total_rev") === col("max_rev")),
        col("s_suppkey") === col("supplier_no"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q21 suppliers-who-kept-orders-waiting (adapted: no receiptdate —
    * "late" = shipped >60 days after order date; and expressed as one
    * aggregation instead of double EXISTS/NOT EXISTS, the scalable
    * form): orders with ≥2 suppliers where exactly one supplier
    * shipped late, counted per that supplier.
    *
    * Shape: lineitem⋈orders is reduced ONCE to per-(order, supplier)
    * grain; both the order-stats branch and the late-supplier branch
    * consume that same aggregate, so ReuseExchange computes the
    * expensive fact join a single time — and the two countDistincts
    * this replaces become a plain count/sum (no Expand
    * row-multiplication, which doubled every fact row in the previous
    * formulation). */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .join(orders(spark, dir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    val perSupp = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("is_late"), 1L).otherwise(0L)).as("late"))
    val ordStats = perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_sups"), sum("late").as("n_late_sups"))
    perSupp.filter(col("late") === 1L)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(ordStats.filter(col("n_sups") >= 2 && col("n_late_sups") === 1), "l_orderkey")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(50)
  }

  // ------------------------------------------------------------------
  // Derived partsupp: the driver schema ships no partsupp table, but
  // its CONTENT is recoverable from the data — the observed
  // (l_partkey, l_suppkey) pairs ARE the part-supplier relationships
  // (in real TPC-H, lineitem draws its pairs from partsupp, so the
  // distinct pairs are exactly the exercised subset). Quantities and
  // costs attach per pair via the repo's Hash60 convention —
  // deterministic, and the DuckDB oracles derive the IDENTICAL table
  // in a CTE, so the five previously schema-blocked Q2/Q9/Q11/Q16/Q20
  // shapes become fully value-checked. Costs are integer dollars
  // (100-999) and quantities integer units (1-9999) so every
  // downstream product stays in exact integer/decimal arithmetic.
  // ------------------------------------------------------------------
  // Staged once per (app, sf): five queries (Q2/Q9/Q11/Q16/Q20)
  // consume this table, and the derivation (a distinct over all of
  // lineitem plus two hash columns) dominates each one's runtime if
  // re-run per query — measured 1.3 s of q11's 1.8 s at sf0.1. A
  // deployment materializes partsupp once per snapshot exactly like
  // the ANN ground truths; values are unchanged (the oracles derive
  // the identical table in a CTE).
  private[graft] def partsupp(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Staging.staged(spark, dir, "tpch_partsupp")(
      lineitem(spark, dir)
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty", expr(
          graft.operators.Hash60.sql("concat('psq:', ps_partkey, ':', ps_suppkey)") +
            " % 9999 + 1"))
        .withColumn("ps_supplycost", expr(
          graft.operators.Hash60.sql("concat('psc:', ps_partkey, ':', ps_suppkey)") +
            " % 900 + 100")))

  /** Q2 minimum-cost supplier (adapted: p_size=11 ∧ p_type='ECONOMY',
    * region EUROPE): for each qualifying part, the cheapest EUROPE
    * supplier (ties → lowest suppkey, via one struct-min agg — no
    * correlated re-scan). Dimension side (region⋈nation⋈supplier,
    * filtered parts) broadcasts; partsupp shuffles once. */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val sup = supplier(spark, dir)
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)
        .filter(col("r_name") === "EUROPE")), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val p = part(spark, dir)
      .filter(col("p_size") === 11 && col("p_type") === "ECONOMY")
      .select("p_partkey")
    partsupp(spark, dir)
      .join(p, col("ps_partkey") === col("p_partkey"))
      .join(sup, col("ps_suppkey") === col("s_suppkey"))
      .groupBy("p_partkey")
      .agg(min(struct(col("ps_supplycost"), col("ps_suppkey"), col("s_name"),
        col("s_acctbal"), col("n_name"))).as("m"))
      .select(col("p_partkey"), col("m.ps_supplycost").as("min_cost"),
        col("m.ps_suppkey").as("s_suppkey"), col("m.s_name").as("s_name"),
        col("m.s_acctbal").as("s_acctbal"), col("m.n_name").as("n_name"))
      .orderBy(desc("s_acctbal"), col("p_partkey"))
  }

  /** Q9 product-type profit (adapted: parts whose name contains
    * 'red'): revenue minus supply cost per (nation, order year).
    * lineitem⋈partsupp on the composite (partkey, suppkey) key is
    * the one wide shuffle; parts and supplier⋈nation broadcast;
    * orders joins on l_orderkey for the year. Profit stays exact
    * DECIMAL until the final double cast. */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir).filter(col("p_name").contains("red"))
      .select("p_partkey")
    val sup = supplier(spark, dir)
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(partsupp(spark, dir),
        col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(orders(spark, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("amount",
        discPrice(col("l_extendedprice"), col("l_discount")) -
          (col("ps_supplycost") * col("l_quantity").cast("bigint")).cast(D))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum("amount").cast("double").as("sum_profit"))
      .orderBy(col("nation"), desc("o_year"))
  }

  /** Q11 important stock (adapted: suppliers of NATION_7, threshold
    * 1/5000 of the nation's total): per-part stock value filtered by
    * a cross-multiplied integer share test — no float division, and
    * the total is ONE broadcast row, never a correlated subquery
    * re-scan. The sup join is deliberately UNHINTED per the round-12
    * broadcast policy (supplier is SF-scaled) — AQE broadcasts the
    * ~1/25 NATION_7 slice from measured size at test SFs, and the
    * same plan degrades to a shuffle join instead of OOMing when
    * suppliers are billions of rows. The multi-consumer split point
    * is the PER-PART AGGREGATE, not the join output: the total is
    * the exact integer sum of the per-part sums, so checkpointing
    * the one-row-per-part relation serves both consumers — round 12
    * measured 1.85 s with the checkpoint on the join output (the
    * eager materialization ran the full partsupp⋈sup exchange before
    * AQE could convert it); this shape is 0.6-0.7 s. */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val sup = supplier(spark, dir)
      .join(broadcast(nation(spark, dir).filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = partsupp(spark, dir)
      .join(sup, col("ps_suppkey") === col("s_suppkey"))
      .withColumn("value", col("ps_supplycost") * col("ps_availqty"))
      .groupBy("ps_partkey").agg(sum("value").as("value"))
      .localCheckpoint() // consumers: the total + the share filter
    val tot = perPart.agg(sum("value").as("total"))
    perPart
      .crossJoin(broadcast(tot))
      .filter(col("value") * 5000 > col("total"))
      .select(col("ps_partkey"), col("value"))
      .orderBy(desc("value"), col("ps_partkey"))
  }

  /** Q16 parts/supplier relationship (adapted: brand ≠ 'Brand#1',
    * type ≠ 'ECONOMY', eight sizes; "complaint" suppliers — TPC-H
    * filters them by comment text the schema lacks — stand in as the
    * deterministic hash tenth of suppliers): distinct supplier count
    * per (brand, type, size), the assortment-breadth readout. */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "ECONOMY" &&
        col("p_size").isin(5, 11, 17, 23, 29, 35, 41, 47))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = supplier(spark, dir)
      .filter(expr(graft.operators.Hash60.sql("concat('cmpl:', s_suppkey)") + " % 10 = 0"))
      .select("s_suppkey")
    partsupp(spark, dir)
      .join(p, col("ps_partkey") === col("p_partkey"))
      .join(excluded, col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Q20 potential promotion (adapted: parts named 'red…', 1997
    * shipments, suppliers of the ASIA region): suppliers holding
    * MORE than half of what they shipped of a promo part in 1997 —
    * excess-stock candidates. The share test is the cross-multiplied
    * integer 2·availqty > Σqty; per-pair 1997 quantities are one
    * map-side-combined agg. */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val promo = part(spark, dir).filter(col("p_name").startsWith("red"))
      .select("p_partkey")
    val qty97 = lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1997)
      .join(promo, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("bigint")).as("qty97"))
    val sup = supplier(spark, dir)
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    partsupp(spark, dir)
      .join(qty97, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2 > col("qty97"))
      .select("ps_suppkey").distinct()
      .join(sup, col("ps_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_suppkey")
  }
}
