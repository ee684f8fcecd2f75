package graft.queries

import org.apache.spark.sql.{DataFrame, GraftFunctions, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables._

/** Window/analytic functions + events analytics (batch side).
  *
  * Impala ships analytic functions (OVER/PARTITION BY) as a core
  * operator; the reference's expr framework feeds them
  * (/root/reference/expr.h). Spark analog:
  * `org.apache.spark.sql.expressions.Window`.
  *
  * Determinism: every window ORDER BY ends in a unique key so
  * running aggregates are total-ordered; event timestamps are
  * reduced to epoch seconds (BIGINT). The raw `ts` column is parquet
  * TIMESTAMP(NANOS), surfaced in Spark as epoch-ns BIGINT (see
  * Tables.table) — seconds are derived with integer `div`, never via
  * double (1.7e18 ns exceeds double's 53-bit exact range). DuckDB
  * oracles mirror it with `epoch_ns(ts)//1000000000`.
  */
object Analytic {
  private val D = DecimalType(18, 2)

  /** epoch-ns BIGINT → epoch-seconds BIGINT, integer division. */
  private val tsSec: org.apache.spark.sql.Column = expr("ts div 1000000000")

  /** Top-3 parts by retail price per brand (row_number). */
  def rankTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    part(spark, dir)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select("p_brand", "p_partkey", "p_retailprice", "rn")
      .orderBy("p_brand", "rn")
  }

  /** Running revenue per supplier (rows unbounded preceding → current).
    * The ordering ends in l_extendedprice: the synthetic data has
    * duplicate (orderkey, linenumber) pairs at sf≥0.1, and rows tying
    * on every ordering column (incl. the summed value) produce the
    * same output multiset regardless of their relative order. */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lineitem(spark, dir)
      .withColumn("running_rev",
        sum(col("l_extendedprice").cast(D)).over(w).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_rev")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** Gap-based sessionization (30-min inactivity) via lag + running
    * sum of session-start flags — the batch analog of the streaming
    * sessionizer in graft.streaming. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    events(spark, dir)
      .withColumn("ts_sec", tsSec)
      .withColumn("prev_sec", lag("ts_sec", 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_sec").as("start_sec"),
        max("ts_sec").as("end_sec"),
        sum(col("value").cast(D)).cast("double").as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Tumbling 1-hour window aggregate over events — the batch analog
    * of the streaming windowed agg (same grouping keys). */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("hour_sec", expr("ts div 1000000000 div 3600 * 3600"))
      .groupBy("hour_sec", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .orderBy("hour_sec", "event_type")

  /** Conversion funnel: users reaching view → view-then-click →
    * view-click-then-purchase, each stage ordered after the previous
    * stage's first event (classic product-analytics shape; the min-
    * per-stage formulation is all hash aggs + small joins). */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("ts_sec", tsSec)
      .select("user_id", "event_type", "ts_sec")
    def firstAfter(typ: String, prev: DataFrame): DataFrame =
      ev.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col("first_sec").as("prev_sec")), "user_id")
        .filter(col("ts_sec") > col("prev_sec"))
        .groupBy("user_id").agg(min("ts_sec").as("first_sec"))
    val viewed = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_sec").as("first_sec"))
    val clicked = firstAfter("click", viewed)
    val purchased = firstAfter("purchase", clicked)
    viewed.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
      .unionAll(clicked.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
      .unionAll(purchased.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
      .select("stage", "n_users")
      .orderBy("stage")
  }

  /** lag / lead deltas + ntile quartiles over each customer's order
    * history (the remaining analytic-function surface). */
  def lagNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders(spark, dir)
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .withColumn("next_price", lead("o_totalprice", 1).over(w))
      .withColumn("delta_prev", col("o_totalprice") - col("prev_price"))
      .withColumn("quartile", ntile(4).over(w).cast("bigint"))
      .select("o_custkey", "o_orderkey", "o_totalprice",
        "prev_price", "next_price", "delta_prev", "quartile")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Weekly cohort retention: users grouped by first-activity week,
    * counted per week-offset 0..3 (the product-analytics retention
    * matrix; two hash aggs + one join, no windows). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weeks = events(spark, dir)
      .select(col("user_id"), expr("ts div 1000000000 div 604800").as("week"))
      .distinct()
    val cohorts = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
    weeks.join(cohorts, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .filter(col("week_offset") <= 3)
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** As-of join (attribution): each purchase matched to the same
    * user's latest click at-or-before it. Spark lacks a native as-of
    * join; the scalable composition is one pass — union the two
    * event streams, sort per user by (ts, type) ('click' sorts before
    * 'purchase' on ties so equal-time clicks count), and carry the
    * running max click time. No per-pair join ever materializes. */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy("ts_sec", "event_type", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("ts_sec"))
      .withColumn("last_click_sec",
        max(when(col("event_type") === "click", col("ts_sec"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_sec"),
        col("last_click_sec"),
        (col("ts_sec") - col("last_click_sec")).as("gap_sec"))
      .orderBy("event_id")
  }

  /** The native-operator form of as-of attribution: purchases join
    * their latest preceding click on graft's AsOfJoinExec
    * (plans/AsOfJoin.scala) — same exchanges+sorts as a sort-merge
    * join, then a single forward merge with one candidate row of
    * state, carrying the click PAYLOAD (click_id) wholesale where
    * the window form needs a value-carry column per field. Match
    * contract: c_sec ≤ ts_sec inclusive, ties on c_sec resolved to
    * the largest click_id; purchases with no prior click null-pad
    * (AsOfSpec pins all three against hand-built frames and the
    * window form ev_asof_attribution row-for-row). */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("ts_sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_sec").as("c_sec"))
    graft.plans.AsOf.join(purchases, clicks, Seq("user_id" -> "c_user"),
        "ts_sec", "c_sec", Seq("click_id"))
      .select(col("event_id"), col("user_id"), col("ts_sec"), col("click_id"),
        col("c_sec").as("last_click_sec"),
        (col("ts_sec") - col("c_sec")).as("gap_sec"))
      .orderBy("event_id")
  }

  /** [[asofNative]] with merge_asof's TOLERANCE bound: the latest
    * preceding click only counts within the trailing hour — the
    * attribution-window contract marketing pipelines actually run
    * (an unbounded as-of credits a week-old click). One extra
    * comparison at emission inside AsOfJoinExec; purchases whose
    * nearest click is older than the bound null-pad rather than
    * falling back to it. */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("ts_sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts_sec").as("c_sec"))
    graft.plans.AsOf.join(purchases, clicks, Seq("user_id" -> "c_user"),
        "ts_sec", "c_sec", Seq("click_id"), tolerance = Some(3600L))
      .select(col("event_id"), col("user_id"), col("ts_sec"), col("click_id"),
        col("c_sec").as("last_click_sec"),
        (col("ts_sec") - col("c_sec")).as("gap_sec"))
      .orderBy("event_id")
  }

  /** FORWARD as-of on the native operator ([[graft.plans.AsOf.joinForward]]):
    * per view event, the user's NEXT purchase within 24 h — the
    * time-to-convert readout funnels chart, and merge_asof's
    * direction='forward' completing the backward/tolerance surface.
    * Views with no purchase inside the day null-pad (LEFT OUTER);
    * ties at the same second resolve to the largest purchase id (the
    * forward merge's documented total order). */
  def asofNext(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("ts_sec"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts_sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_sec").as("p_sec"))
    graft.plans.AsOf.joinForward(views, purchases, Seq("user_id" -> "p_user"),
        "ts_sec", "p_sec", Seq("purchase_id"), tolerance = Some(86400L))
      .select(col("event_id"), col("user_id"), col("ts_sec"), col("purchase_id"),
        col("p_sec").as("next_purchase_sec"),
        (col("p_sec") - col("ts_sec")).as("wait_sec"))
      .orderBy("event_id")
  }

  /** Time-range join via bucketing: each purchase counts the same
    * user's clicks in the preceding hour. The naive formulation — an
    * inequality join on `c.ts BETWEEN p.ts-1h AND p.ts` — has no
    * equi-key, so Spark would plan a broadcast-nested-loop over the
    * fact table: O(clicks × purchases) per user and a scale killer.
    * The bucketed form recovers an equi-join: clicks land in their
    * hour bucket, purchases are exploded to the 2 buckets that can
    * cover a trailing 1h window, the join runs on
    * (user_id, bucket) through a normal shuffled hash join, and the
    * exact range predicate filters after. Each click is in exactly
    * one bucket, so no dedup is needed. RangeJoinSpec asserts the
    * plan is hash-joined, not BNLJ. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("sec").as("c_sec"),
        expr("sec div 3600").as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("sec").as("p_sec"))
      .withColumn("bucket",
        explode(array(expr("p_sec div 3600 - 1"), expr("p_sec div 3600"))))
    purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_sec") >= col("p_sec") - 3600 && col("c_sec") < col("p_sec"))
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_clicks_1h"),
        min("c_sec").as("first_click_sec"),
        max("c_sec").as("last_click_sec"))
      .orderBy("purchase_id")
  }

  /** The same trailing-hour correlation on the NATIVE band join
    * ([[graft.plans.Band.join]], whole-operator extension #3): one
    * sweep-merge pass whose state is only the clicks currently inside
    * a purchase's band — no bucket explode, no residual re-filter, no
    * key-group buffering. Same oracle as [[rangeJoin]]: the operator
    * is a physical strategy change, the answer is identical. The
    * half-open window [p−3600, p) maps to the inclusive band
    * [p−3600, p−1] on integer seconds. */
  def rangeNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("sec").as("c_sec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("sec").as("p_sec"))
    graft.plans.Band.join(purchases, clicks, Seq("user_id" -> "c_user"),
        "p_sec", "c_sec", lo = -3600L, hi = -1L)
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_clicks_1h"),
        min("c_sec").as("first_click_sec"),
        max("c_sec").as("last_click_sec"))
      .orderBy("purchase_id")
  }

  /** Multi-horizon trailing-window FEATURES per purchase — the
    * feature-engineering join a training pipeline runs before every
    * model refresh: click count in the last hour AND the last day,
    * plus the 24 h click-value sum. One native band join at the
    * WIDEST horizon ([[graft.plans.Band.join]], 24 h) and the
    * narrower horizon as a conditional aggregate inside the same
    * group-by — never one join per horizon (k horizons would scan
    * and shuffle the fact k times; the band state stays O(24 h
    * occupancy) and each extra horizon costs one CASE column).
    * Value sums ride DECIMAL(18,2) (data is exactly 2-decimal) and
    * surface as DOUBLE — the repo-wide oracle-parity rule. */
  def bandFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsSec.as("sec"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("sec").as("c_sec"),
        col("value").as("c_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("sec").as("p_sec"))
    graft.plans.Band.join(purchases, clicks, Seq("user_id" -> "c_user"),
        "p_sec", "c_sec", lo = -86400L, hi = -1L)
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_clicks_24h"),
        sum(when(col("c_sec") >= col("p_sec") - 3600, 1L).otherwise(0L))
          .as("n_clicks_1h"),
        sum(expr("CAST(c_value AS DECIMAL(18,2))")).cast("double")
          .as("click_value_24h"))
      .orderBy("purchase_id")
  }

  /** Linear multi-touch attribution — the credit model BETWEEN
    * last-touch ([[asofNative]]/[[asofTolerance]]) and the raw pair
    * counts ([[rangeJoin]]): every click in a purchase's trailing
    * hour receives an equal 1/n share of that conversion, summed per
    * click. Exact accounting: the share is the INTEGER division
    * 10⁹ div n (nano-credits) so per-click sums are order-free
    * BIGINT arithmetic, never a float sum of 1/n — both engines
    * agree to the last nano. Shape: the same bucketed equi-join as
    * rangeJoin (never an inequality BNLJ), one tiny per-purchase
    * count joined back, one per-click agg. */
  def multitouch(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("sec").as("c_sec"), expr("sec div 3600").as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("sec").as("p_sec"))
      .withColumn("bucket",
        explode(array(expr("p_sec div 3600 - 1"), expr("p_sec div 3600"))))
    val pairs = purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_sec") >= col("p_sec") - 3600 && col("c_sec") < col("p_sec"))
      .select("purchase_id", "click_id")
    val n = pairs.groupBy("purchase_id").agg(count(lit(1)).as("n_touch"))
    pairs.join(n, "purchase_id")
      .withColumn("credit_nanos", expr("CAST(1000000000 AS BIGINT) div n_touch"))
      .groupBy("click_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum("credit_nanos").as("credit_nanos"))
      .withColumn("credit", col("credit_nanos").cast("double") / lit(1e9))
      .orderBy("click_id")
  }

  /** GLOBAL empirical CDF of event values per type — the
    * distribution readout behind percentile dashboards and outlier
    * thresholds, in the SCALE-SAFE form: cume_dist() windowed by a
    * 5-value event_type would put a fifth of the corpus in one
    * task's sort, so the CDF is computed on the COMPRESSED value
    * domain instead (values are 2-decimal — the agg_weighted_median
    * discipline): per (type, value) counts, one running sum over the
    * domain-bounded relation, joined back to events. cume_dist's
    * exact integer ratio count(≤v)/n survives, engine-identical. */
  def valueCdf(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_id"), col("event_type"),
      col("value").cast(D).as("v"))
    val counts = ev.groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    val byV = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum("c").over(byV))
    val tot = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    ev.join(cum, Seq("event_type", "v"))
      .join(tot, "event_type")
      .select(col("event_id"), col("event_type"),
        col("v").cast("double").as("value"),
        (col("cum").cast("double") / col("n").cast("double")).as("cd"))
      .orderBy("event_id")
  }

  /** Relative-rank surface: percent_rank and cume_dist per customer.
    * The unique (totalprice, orderkey) order means no ties, so both
    * are exact small-integer ratios — engine-identical doubles. */
  def percentRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** first/last/nth_value frame surface: each order alongside its
    * customer's first, latest, and second order price (full-partition
    * frame). first/last need the explicit unbounded frame — the
    * default frame ends at CURRENT ROW, where last_value degenerates
    * to the current row's value. */
  def firstLast(spark: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      first(col("o_totalprice")).over(wAll).as("first_price"),
      last(col("o_totalprice")).over(wAll).as("latest_price"),
      nth_value(col("o_totalprice"), 2).over(wAll).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** RANGE-frame window: per-supplier trailing-30-day revenue. Unlike
    * the ROWS frames elsewhere, the frame is defined on the ORDER BY
    * *value* (epoch day), so gaps in the calendar are handled
    * correctly — a supplier with no shipments for a week still gets a
    * true 30-day trailing sum. Revenue accumulates as exact DECIMAL
    * inside the frame (order-free) and lands on DOUBLE only at the
    * boundary. The contract row reports a deterministic 10% supplier
    * slice (the filter pushes to the scan); the window itself is
    * per-supplier, so the slice changes output volume, not the
    * operator's shape. */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val daily = lineitem(spark, dir)
      .filter(col("l_suppkey") % 10 === 7)
      .withColumn("day", datediff(col("l_shipdate"), lit("1970-01-01")).cast("bigint"))
      .groupBy("l_suppkey", "day")
      .agg(sum(col("l_extendedprice").cast(D)).as("day_rev"))
    val w = Window.partitionBy("l_suppkey").orderBy("day").rangeBetween(-29, 0)
    daily
      .withColumn("trailing_30d", sum(col("day_rev")).over(w))
      .select(col("l_suppkey"), col("day"),
        col("day_rev").cast("double").as("day_rev"),
        col("trailing_30d").cast("double").as("trailing_30d"))
      .orderBy("l_suppkey", "day")
  }

  /** Per-user event profile (stateful-agg batch analog). */
  def userStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("ts_sec", tsSec)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        countDistinct(col("event_type")).as("n_event_types"),
        sum(col("value").cast(D)).cast("double").as("total_value"),
        min("ts_sec").as("first_sec"),
        max("ts_sec").as("last_sec"))
      .orderBy("user_id")

  /** 20-bucket equi-width value histogram — the distribution profile
    * behind outlier caps and bucket pruning decisions. All bucket
    * math is INTEGER: values become exact cents through DECIMAL(18,2)
    * (the data is 2-decimal), the width is an integer ceil-div, and
    * the bucket index an integer div — so bucket boundaries are
    * engine-exact (double-based width_bucket() would put boundary
    * values in different buckets per engine's rounding). The min/max
    * pre-pass is a 1-row broadcast; the histogram itself is one
    * map-side-combined hash agg on ≤20 groups. Scales: two linear
    * passes, no wide shuffle. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val nb = 20
    val ev = events(spark, dir)
      .withColumn("vc", (col("value").cast(D) * 100).cast("bigint"))
    val bounds = ev.agg(min("vc").as("min_c"), max("vc").as("max_c"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("width", expr(s"((max_c - min_c) div $nb) + 1"))
      .withColumn("bucket", expr("(vc - min_c) div width"))
      .groupBy("bucket", "min_c", "width")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      // CAST to DOUBLE before the division: a bare `/ 100.0` would be
      // DECIMAL division in Spark but DOUBLE division in DuckDB
      .withColumn("lo_value", expr("CAST(min_c + bucket * width AS DOUBLE) / CAST(100 AS DOUBLE)"))
      .withColumn("hi_value", expr("CAST(min_c + (bucket + 1) * width AS DOUBLE) / CAST(100 AS DOUBLE)"))
      .select("bucket", "lo_value", "hi_value", "n_events", "sum_value")
      .orderBy("bucket")
  }

  /** The top-N-per-key REWRITE demo: this is deliberately the plain
    * row_number window formulation — the code any Spark user already
    * has — run in a child session where
    * [[graft.plans.GraftOptimizations.install]] has injected the
    * `Rule[LogicalPlan]` that rewrites it onto the native bounded-heap
    * TopKPerKeyExec (no per-partition sort). TopKSpec asserts the
    * rewritten physical plan and that an uninstalled session still
    * plans the window; the oracle checks the semantics are exactly
    * row_number ≤ k. Keys here are the handful of order statuses —
    * inside the operator's bounded-keys contract. */
  def topkRewrite(spark0: SparkSession, dir: String): DataFrame = {
    val s = GraftFunctions.childSession(spark0)
    graft.plans.GraftOptimizations.install(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, dir)
      .select("o_orderstatus", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("bigint").as("rn"))
      .orderBy("o_orderstatus", "rn")
  }

  /** Per-type hourly volume anomalies — the monitoring query every
    * event pipeline runs (traffic spikes/drops vs the type's own
    * baseline). Flags hours where |n − mean| > 2σ, but the entire
    * test is INTEGER arithmetic so the oracle matches bitwise:
    * with H hours, total T and Σn², the condition
    * |n − T/H| > 2σ  ⇔  (n·H − T)² > 4·(H·Σn² − T²)
    * (both sides multiplied by H² — variance as the computational
    * formula over exact integer sums; no float mean, no float stddev,
    * no engine-specific Welford accumulation order).
    *
    * Shape: one hourly hash agg (map-side combined), a ~5-row stats
    * agg broadcast back, a codegen'd comparison — two linear passes,
    * no wide shuffle, no window. Scales to any hour count. */
  def hourlyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    // hourly feeds BOTH the stats derivation and the flag join —
    // staged once so events is scanned once (at (type, hour)
    // granularity the staged relation is tiny at any corpus size)
    val hourly = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 3600 * 3600").as("hour_sec"))
      .groupBy("event_type", "hour_sec").agg(count(lit(1)).as("n_events"))
      .localCheckpoint()
    val stats = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("n_events").as("total"),
        sum(col("n_events") * col("n_events")).as("sum_sq"))
    hourly.join(broadcast(stats), "event_type")
      .withColumn("dev", col("n_events") * col("n_hours") - col("total"))
      .withColumn("is_anomaly",
        col("dev") * col("dev") >
          lit(4L) * (col("n_hours") * col("sum_sq") - col("total") * col("total")))
      .select("event_type", "hour_sec", "n_events", "is_anomaly")
      .orderBy("event_type", "hour_sec")
  }

  /** Sliding 1-hour windows on a 30-minute slide — the overlapping
    * windowing mode (tumbling is the slide == width special case):
    * every event lands in exactly width/slide = 2 windows, which the
    * built-in `window()` generator expands BEFORE the aggregation, so
    * the whole thing is still one partial-agg-friendly hash agg over
    * 2× the rows — no self-join, no window function. The streaming
    * form is the identical expression under readStream. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("ts_sec", expr("timestamp_seconds(ts div 1000000000)"))
      .groupBy(window(col("ts_sec"), "1 hour", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Native session windows — the same 30-minute-gap sessionization
    * as win_sessionize, but through Spark's built-in session_window()
    * operator (SessionWindow + merging session aggregation) instead
    * of the lag+cumsum window formulation: sessions are built by a
    * partial-agg-friendly merging aggregate, no per-user window sort.
    * This is also the expression that runs unchanged under
    * readStream with a watermark at scale. Boundary semantics differ
    * from the lag form by one instant: session_window's end is
    * EXCLUSIVE (an event exactly gap seconds after the last one
    * starts a NEW session), so the oracle's island rule is `>= gap`
    * where win_sessionize's is `> gap`. Output end_sec is the
    * window's end = last event + gap. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("ts_ts", expr("timestamp_seconds(ts div 1000000000)"))
      .groupBy(col("user_id"), session_window(col("ts_ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("session_value"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("start_sec"),
        unix_timestamp(col("sw.end")).as("end_sec"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "start_sec")

  /** rank() vs dense_rank() over heavy ties — the two rank functions
    * the top-N family still lacked (row_number/percent_rank/cume_dist
    * are covered elsewhere). Quantities repeat constantly inside a
    * supplier's lineitems, so ranks jump (rank) or stay dense
    * (dense_rank); both are deterministic under ties because they
    * depend only on the ORDER BY key, not on row order within a tie.
    * Partitioned by l_suppkey — window partition count grows with the
    * data (a low-cardinality key like returnflag would serialize the
    * whole table through a handful of partitions at 100 TB). Output
    * keeps a unique total order for the hash compare. */
  def denseRank(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey").orderBy("l_quantity")
    lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      .withColumn("rnk", rank().over(w).cast("bigint"))
      .withColumn("dense_rnk", dense_rank().over(w).cast("bigint"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** Running COUNT(DISTINCT) over a window — a composition Spark (and
    * most engines) cannot express directly (DISTINCT is not allowed
    * inside window aggregates): "how many distinct event types has
    * this user touched so far" = the running sum of FIRST-OCCURRENCE
    * flags. The flag is a row_number()=1 over (user, type); the
    * running sum rides a ROWS frame over the user's (unique) event
    * order. Both windows partition by high-cardinality user keys, so
    * the shape scales like every other per-user window here — and the
    * rewrite is exactly what a 100 TB engine must do anyway, since a
    * per-row distinct-set state would be unbounded. */
  def distinctRunning(spark: SparkSession, dir: String): DataFrame = {
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("is_first",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("distinct_types_so_far", sum("is_first").over(wRun))
      .select("user_id", "event_id", "event_type", "is_first",
        "distinct_types_so_far")
      .orderBy("user_id", "event_id")
  }

  /** Event-type transition matrix (first-order Markov estimate): for
    * every user-adjacent event pair, count (prev_type → next_type) and
    * row-normalize to transition probabilities. The per-user ordering
    * is one lag window over high-cardinality user partitions (the same
    * shape as sessionize); the matrix itself is a hash agg to ≤
    * n_types² rows, and the normalizing window runs over that tiny
    * matrix, never the corpus. Probabilities are exact small-integer
    * ratios — engine-identical doubles. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    val wRow = Window.partitionBy("prev_type")
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("ts_sec"))
      .withColumn("prev_type", lag("event_type", 1).over(wSeq))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("row_total", sum("n_transitions").over(wRow))
      .withColumn("prob",
        col("n_transitions").cast("double") / col("row_total").cast("double"))
      .orderBy("prev_type", "next_type")
  }

  /** Top user-journey paths — the product-analytics "Sankey" query:
    * each user's FIRST five events (by time) concatenated into an
    * ordered path string, ranked by how many users share that exact
    * journey prefix, with each path's share of the user base. The
    * per-journey Markov matrix ([[markovTransitions]]) loses order
    * beyond one step; this is the full-prefix census product teams
    * read funnels out of. Scale shape: "first 5 per user" runs on
    * the native bounded-heap TopKPerKey — 5 rows of state per user
    * at ANY per-user event count (the whale-user bound the
    * pattern-match automaton also honors), never a full per-user
    * sort; path assembly sorts 5-element arrays; the census is one
    * map-side-combined hash agg on the path string; the user total
    * is a broadcast 1-row relation. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("ts_sec"))
    val first5 = graft.plans.TopK.perKey(ev, Seq("user_id"),
      Seq("ts_sec" -> true, "event_id" -> true), 5)
    val paths = first5.groupBy("user_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(rank, event_type))), s -> s.event_type)"),
        ">").as("path"))
    val total = paths.agg(count(lit(1)).as("n_total"))
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("path"), col("n_users"),
        (col("n_users").cast("double") / col("n_total").cast("double"))
          .as("user_share"))
      .orderBy(desc("n_users"), col("path"))
      .limit(20)
  }

  /** Cohort LTV triangle — the monetary companion to `retention`:
    * users cohorted by first-seen week (any event), purchase revenue
    * summed per (cohort_week, week_offset) cell, plus the running
    * cumulative LTV across offsets. Revenue is exact DECIMAL until the
    * final DOUBLE cast; the cumulative window runs over the tiny
    * triangle (n_cohorts × 4 rows), never the corpus. Scale shape:
    * two hash aggs keyed by user (high-cardinality) and one tiny
    * window — same skeleton as retention. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000000000 div 604800").as("week"))
    val cohorts = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    val wCum = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .filter(col("week_offset") <= 3)
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_buyers"),
        sum(col("value").cast(D)).as("revenue_d"))
      .withColumn("revenue", col("revenue_d").cast("double"))
      .withColumn("cum_ltv", sum("revenue_d").over(wCum).cast("double"))
      .select("cohort_week", "week_offset", "n_buyers", "revenue", "cum_ltv")
      .orderBy("cohort_week", "week_offset")
  }

  /** Exact global quintile band WITHOUT a global window — the
    * two-level range-shard decomposition (same pattern as
    * pipeline_token_budget's prefix sum, lifted to ranking): rows
    * shard by a MONOTONIC value-range function of the sort key (so
    * shard order IS sort order and ties never straddle shards), rank
    * locally inside bounded (shard) windows, add the broadcast
    * per-shard prefix counts, then derive the band from the exact
    * rank with the standard ntile fill rule (first n%k buckets get
    * one extra row) — bit-identical to `ntile(k) OVER (ORDER BY col,
    * user_id)` (AnalyticSpec asserts parity) while every window
    * partition is bounded: the per-shard windows by the value
    * distribution, the offset window by nShards rows. */
  /** Multi-column form of the two-level exact ntile (r15): every
    * banded column shares ONE stats pass (per-column min/max + the
    * common count, broadcast once) and one shard-assignment
    * projection, instead of the former per-column fold that chained a
    * full stats aggregate and its broadcast per pass (~34 scheduled
    * stages for 3 bands; now ~half). The per-column offsets
    * aggregates are independent subtrees AQE materializes
    * concurrently. Ranking math, tie-breaks, and band values are
    * bit-identical to the single-column form the spec pins against
    * the global-window ntile. */
  private def shardedNtile(df: DataFrame, colsOut: Seq[(String, String)],
      k: Int): DataFrame = {
    val nShards = 16
    val aggs = count(lit(1)).as("_n") +: colsOut.flatMap { case (c, _) => Seq(
      min(col(c).cast("double")).as(s"_mn_$c"),
      max(col(c).cast("double")).as(s"_mx_$c")) }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val sharded = colsOut.foldLeft(df.crossJoin(broadcast(stats))) {
      case (d, (c, _)) => d.withColumn(s"_shard_$c",
        when(col(s"_mx_$c") > col(s"_mn_$c"),
          least(lit(nShards - 1),
            floor((col(c).cast("double") - col(s"_mn_$c")) /
              (col(s"_mx_$c") - col(s"_mn_$c")) * nShards)))
        .otherwise(lit(0)).cast("int"))
    }
    val banded = colsOut.foldLeft(sharded) { case (d, (c, out)) =>
      val wLocal = Window.partitionBy(s"_shard_$c").orderBy(col(c), col("user_id"))
      val offsets = sharded.groupBy(s"_shard_$c").agg(count(lit(1)).as("_cnt"))
        // nShards rows — the unpartitioned cumsum is bounded by construction
        .withColumn("_off", coalesce(sum("_cnt").over(
          Window.orderBy(s"_shard_$c").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      d.join(broadcast(offsets.select(s"_shard_$c", "_off")), s"_shard_$c")
        .withColumn("_rank", col("_off") + row_number().over(wLocal))
        .withColumn(out, expr(
          s"""CASE WHEN _rank <= (_n % $k) * ((_n div $k) + 1)
             | THEN (_rank - 1) div ((_n div $k) + 1) + 1
             | ELSE (_n % $k) + (_rank - 1 - (_n % $k) * ((_n div $k) + 1)) div (_n div $k) + 1
             | END""".stripMargin).cast("bigint"))
        .drop("_off", "_rank")
    }
    val scratch = Seq("_n") ++ colsOut.flatMap { case (c, _) =>
      Seq(s"_mn_$c", s"_mx_$c", s"_shard_$c") }
    banded.drop(scratch: _*)
  }

  /** RFM segmentation — recency / frequency / monetary quintile bands
    * per purchasing user, the classic marketing-and-sampling segment
    * key. Metrics aggregate per user first (one high-cardinality hash
    * agg); each quintile band then comes from [[shardedNtile]] — the
    * two-level exact ranking, so NO single task ever sorts the whole
    * user relation (the former formulation's three unpartitioned
    * ntile windows were the repo's last global-window bottleneck).
    * Exact integer semantics, ties broken on user_id — output
    * bit-identical to the global-window form (spec-asserted) and to
    * the oracle's ntile(). */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("ts_sec", tsSec)
      .groupBy("user_id")
      .agg(max("ts_sec").as("last_purchase_sec"),
        count(lit(1)).as("n_purchases"),
        sum(col("value").cast(D)).cast("double").as("total_spend"))
      .localCheckpoint() // staged once: three ranking passes read it
    val banded = shardedNtile(per,
      Seq(("last_purchase_sec", "r_band"), ("n_purchases", "f_band"),
        ("total_spend", "m_band")), 5)
    banded
      .withColumn("segment",
        concat(col("r_band"), lit("-"), col("f_band"), lit("-"), col("m_band")))
      .select("user_id", "last_purchase_sec", "n_purchases", "total_spend",
        "r_band", "f_band", "m_band", "segment")
      .orderBy("user_id")
  }

  /** SCD2 (slowly-changing-dimension type 2) interval build — turn a
    * user's purchase-value change events into validity intervals
    * [valid_from, valid_to) with a version number and an is_current
    * flag: the standard warehouse historization every dimension table
    * ingest runs. One lead window over high-cardinality user
    * partitions; no self-join, no corpus shuffle beyond the window's
    * keyed exchange. The open interval of the latest version carries
    * a NULL valid_to. */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), tsSec.as("ts_sec"),
        col("value").cast(D).cast("double").as("value"))
      .withColumn("version", row_number().over(w).cast("bigint"))
      .withColumn("valid_from_sec", col("ts_sec"))
      .withColumn("valid_to_sec", lead("ts_sec", 1).over(w))
      .withColumn("is_current", col("valid_to_sec").isNull)
      .select("user_id", "version", "event_id", "value",
        "valid_from_sec", "valid_to_sec", "is_current")
      .orderBy("user_id", "version")
  }

  /** Time-series gap filling — the spine-join every monitoring /
    * feature-engineering pipeline needs before windowed models: a
    * complete hourly spine per event type (generated with sequence +
    * explode, distributed, never a driver loop), left-joined to the
    * observed hourly aggregate. Missing hours zero-fill and flag
    * `is_gap`; `carried_value` is the last observed hourly sum
    * carried forward (LOCF) via last_value(IGNORE NULLS). At 100 TB
    * the spine is ~rows_per_group × groups — trivially small next to
    * the event scan, and the join shuffles on the same (type, hour)
    * key the aggregate already produced. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 3600 * 3600").as("hour_sec"),
        col("value"))
      .groupBy("event_type", "hour_sec")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
    val spine = hourly.groupBy("event_type")
      .agg(min("hour_sec").as("mn"), max("hour_sec").as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), lit(3600L))).as("hour_sec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_sec")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(hourly, Seq("event_type", "hour_sec"), "left")
      .withColumn("is_gap", col("n_events").isNull)
      .withColumn("carried_value", last(col("sum_value"), ignoreNulls = true).over(w))
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("sum_value", coalesce(col("sum_value"), lit(0.0)))
      .select("event_type", "hour_sec", "n_events", "sum_value", "is_gap", "carried_value")
      .orderBy("event_type", "hour_sec")
  }

  /** IGNORE NULLS across the offset/navigation window family (Impala
    * supports IGNORE NULLS on its analytic fns; gap_fill uses only
    * the last_value form) — the sparse-signal shape: `value` is
    * meaningful only on purchase events, every other row is NULL, and
    * each event must see its user's surrounding purchases without a
    * self-join against the purchase subset. last_value gives LOCF,
    * lag/lead the previous/next purchase amount skipping arbitrary
    * null runs, nth_value the user's second purchase from a
    * full-partition frame. Partitioned by user_id (high-cardinality,
    * grows with the data); (ts, event_id) is a unique total order so
    * ties cannot reorder under Spark vs DuckDB. */
  def ignoreNullsWindow(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = events(spark, dir).withColumn("pval",
      when(col("event_type") === "purchase", col("value")))
    val w = W.partitionBy("user_id").orderBy("ts", "event_id")
    val locf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    val full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ev.select(col("user_id"), col("event_id"), col("event_type"),
        last(col("pval"), ignoreNulls = true).over(locf).as("last_purchase"),
        lag(col("pval"), 1, null, ignoreNulls = true).over(w).as("prev_purchase"),
        lead(col("pval"), 1, null, ignoreNulls = true).over(w).as("next_purchase"),
        nth_value(col("pval"), 2, ignoreNulls = true).over(full).as("second_purchase"))
      .orderBy("user_id", "event_id")
  }

  /** Incremental aggregate maintenance — the nightly-job shape that
    * makes 100 TB analytics affordable: yesterday's per-type totals
    * are a materialized PARTIAL aggregate (count + exact DECIMAL
    * sum, both algebraic), today's delta batch aggregates alone, and
    * the published table is the MERGE of the two — the full history
    * is never rescanned. The demo splits events into a snapshot
    * (event_id%10<8) and a delta, merges their partials, and the
    * oracle is the full-recompute aggregate: merge ≡ recompute is
    * exactly the algebraic-aggregate property the pattern rides
    * (same contract Spark's own partial/final agg phases rely on —
    * this op lifts it across JOB runs instead of stages). */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select("event_id", "event_type", "value")
    def partial(df: DataFrame): DataFrame = df.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_dec"))
    val snapshot = partial(ev.filter(col("event_id") % 10 < 7))
    val delta = partial(ev.filter(col("event_id") % 10 >= 7))
    snapshot.unionByName(delta)
      .groupBy("event_type")
      .agg(sum("n_events").as("n_events"),
        sum("sum_dec").cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Event-sequence pattern matching — the MATCH_RECOGNIZE / CEP
    * surface Spark SQL lacks, composed from relational primitives:
    * patterns over each user's (ts, event_id)-ordered event-type
    * sequence. Reported per user: adjacent view→click→purchase
    * conversions (the strict funnel 'vcp'), whether a gapped funnel
    * v…c…p exists at all, and the longest consecutive error run
    * (the reliability signal an alerting pipeline keys on).
    *
    * Scale shape — the AUTOMATON form, never a per-user string: a
    * collect_list concat would buffer a whale user's (bot, scraper)
    * entire history as one in-memory array in the agg hash map with
    * no spill path. Instead every pattern runs as streaming window
    * passes over the per-user order: strict funnels are a lead(1)/
    * lead(2) conjunction (3-row frame), the gapped funnel is three
    * chained running max/flag prefix frames (the v→vc→vcp automaton
    * states, O(1) state per row), and error runs are lag-detected
    * run starts + a running run-id sum, grouped per (user, run).
    * All frames share one partitionBy(user_id) sort whose buffers
    * SPILL (ExternalAppendOnlyUnsafeRowBuffer) — a 10⁵-event whale
    * degrades to disk, not OOM (AnalyticSpec plants one). The
    * streaming twin (StreamQueries.cepFunnels) holds the same
    * automaton as constant per-key state. All outputs are exact
    * integers; the per-user order (ts, event_id) is total, so both
    * engines fold the identical sequence. */
  def patternMatch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pre = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
      .withColumn("strict",
        (col("c") === "v" && lead("c", 1).over(w) === "c" &&
          lead("c", 2).over(w) === "p").cast("long"))
      .withColumn("is_e", (col("c") === "e").cast("long"))
      .withColumn("run_start", (col("is_e") === 1L &&
        coalesce(lag("is_e", 1).over(w), lit(0L)) === 0L).cast("long"))
      .withColumn("e_run_id", sum("run_start").over(pre))
      .withColumn("has_v", max((col("c") === "v").cast("int")).over(pre))
      .withColumn("vc", (col("c") === "c" && col("has_v") === 1).cast("int"))
      .withColumn("has_vc", max("vc").over(pre))
      .withColumn("vcp", (col("c") === "p" && col("has_vc") === 1).cast("int"))
      .localCheckpoint() // staged once: feeds both the per-user agg and the run agg
    val runs = base.filter(col("is_e") === 1L)
      .groupBy("user_id", "e_run_id").agg(count(lit(1)).as("run_len"))
      .groupBy("user_id").agg(max("run_len").as("max_error_run"))
    base.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("strict").as("n_strict_funnels"),
        max("vcp").cast("long").as("has_gap_funnel"))
      .join(runs, Seq("user_id"), "left")
      .na.fill(0L, Seq("max_error_run"))
      .select("user_id", "n_events", "n_strict_funnels",
        "has_gap_funnel", "max_error_run")
      .orderBy("user_id")
  }

  /** Point-in-time SCD2 lookup — the leakage-safe feature join ML
    * training pipelines require: every `view` event reads the
    * purchase-value version that was valid AT ITS OWN timestamp
    * (version 0 / null value before the user's first purchase), so a
    * feature computed from the result can never see the future. The
    * naive plan is an interval join of the fact against the SCD2
    * table ([[scd2Intervals]]) — inequality keys, so Spark would
    * BNLJ it. This is the scalable rewrite: changes and lookups
    * UNION into one relation, one per-user window carries the
    * running change count (= the SCD2 version number) and
    * last(value, ignoreNulls) forward, ties at the same second
    * resolved change-first so a lookup sees a same-instant change.
    * One shuffle on user_id, window partitions bounded by per-user
    * activity, never a join — the asof pattern lifted to whole
    * dimension versions. */
  def pitLookup(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val changes = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), tsSec.as("ts_sec"), col("event_id"),
        col("value").cast(D).cast("double").as("chg_value"), lit(0).as("kind"))
    val lookups = ev.filter(col("event_type") === "view")
      .select(col("user_id"), tsSec.as("ts_sec"), col("event_id"),
        lit(null).cast("double").as("chg_value"), lit(1).as("kind"))
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes.union(lookups)
      .withColumn("version",
        sum(when(col("kind") === 0, 1L).otherwise(0L)).over(w))
      .withColumn("pit_value", last(col("chg_value"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts_sec"),
        col("version"), col("pit_value"))
      .orderBy("event_id")
  }

  /** DAU/MAU stickiness — the engagement ratio every product
    * dashboard tracks: per active day, the count of distinct users
    * that day (DAU) and over the trailing 30 days (MAU), ratio
    * reported in exact integer permille. The scalable shape: the
    * corpus collapses ONCE to the distinct (user, day) relation, and
    * the trailing-30-day membership comes from a bounded 30× explode
    * of that compressed relation (each user-day contributes to
    * exactly 30 target days) followed by a second distinct — never a
    * running COUNT(DISTINCT) window, which has no bounded-state
    * distributed form ([[distinctRunning]] documents that trap).
    * Three hash shuffles over user-day-scale (not event-scale)
    * relations. */
  def dauMau(spark: SparkSession, dir: String): DataFrame = {
    // the compressed user-day relation feeds BOTH the DAU agg and the
    // 30x MAU expansion — staged once so the corpus-scale distinct
    // runs once (the tfidf/minhash staging pattern)
    val ud = events(spark, dir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .distinct()
      .localCheckpoint()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = ud
      .withColumn("i", explode(sequence(lit(0L), lit(29L))))
      .select(col("user_id"), (col("day") + col("i")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("mau"))
    dau.join(mau, "day")
      .withColumn("stickiness_permille", expr("dau * 1000 div mau"))
      .orderBy("day")
  }

  /** Trailing-7-day rolling DISTINCT users per active day — the
    * weekly-active readout between [[dauMau]]'s DAU and MAU — via
    * MERGEABLE BITMAP PARTIALS, the third rolling-distinct shape in
    * the repo and the one that wins when daily actives are huge:
    * each day collapses to 63-bit bucket masks (universe div 63
    * longs — the agg_bitmap_distinct partial), each day-cell fans
    * out to the ≤ 7 windows it covers, and the window's distinct
    * count is bit_count of the OR-merged masks. Compare: a running
    * COUNT(DISTINCT) window has no bounded-state distributed form
    * (win_distinct_running documents that trap), and [[dauMau]]'s
    * user-day explode ships |user-days|×w rows where this ships
    * |universe div 63|×w fixed-width longs — at 10⁹ DAU that is
    * ~63× less shuffle, and every step is map-side combinable
    * (bit_or partials). Bits stay in 0..62 (never the sign bit) so
    * the long arithmetic is engine-identical. */
  def rollingDistinct(spark: SparkSession, dir: String): DataFrame =
    rollingDistinctOn(
      events(spark, dir).select(col("user_id"),
        expr("ts div 1000000000 div 86400").as("day")),
      "user_id", "day", windowDays = 7)
      .withColumnRenamed("n_day", "dau")
      .withColumnRenamed("n_window", "users_7d")
      .orderBy("day")

  /** Generic core behind [[rollingDistinct]]: per active day, the
    * distinct `id` count that day (`n_day`) and over the trailing
    * `windowDays` days (`n_window`), for any non-negative integer id
    * relation. Output (day, n_day, n_window), one row per day with
    * ≥ 1 row in the input. */
  def rollingDistinctOn(rows: DataFrame, idCol: String, dayCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1 && windowDays <= 370,
      s"windowDays out of range: $windowDays")
    // day-level bitmap cells: the compressed mergeable distinct
    // partial, staged once for the DAU readout AND the window fan-out
    val cells = rows
      .select(col(dayCol).as("day"),
        expr(s"$idCol div 63").as("bucket"),
        expr(s"shiftleft(1L, CAST($idCol % 63 AS INT))").as("bit"))
      .groupBy("day", "bucket")
      .agg(expr("bit_or(bit)").as("mask"))
      .localCheckpoint()
    val dau = cells.groupBy("day")
      .agg(sum(expr("bit_count(mask)")).as("n_day"))
    // each day-cell is a member of the trailing windows ending on
    // day .. day+w-1: a bounded w× fan-out of the COMPRESSED relation
    val win = cells
      .withColumn("i", explode(sequence(lit(0L), lit(windowDays - 1L))))
      .select((col("day") + col("i")).as("day"), col("bucket"), col("mask"))
      .groupBy("day", "bucket")
      .agg(expr("bit_or(mask)").as("m"))
      .groupBy("day")
      .agg(sum(expr("bit_count(m)")).as("n_window"))
    // inner join against dau = report only days that themselves have
    // activity (window edges past the data's end carry no day row)
    dau.join(win, "day")
      .select(col("day"), col("n_day"), col("n_window"))
  }

  /** New-vs-returning daily split — the growth-accounting twin of
    * [[dauMau]]: a user counts as NEW on their first-ever active day
    * and RETURNING on every later one. One user-keyed min over the
    * compressed (user, day) relation, joined back and aggregated per
    * day; all shuffles at user/user-day scale. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    // staged once: ud feeds the first-day derivation AND the join back
    val ud = events(spark, dir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .distinct()
      .localCheckpoint()
    val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
    ud.join(first, "user_id")
      .groupBy("day")
      .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("returning_users"))
      .orderBy("day")
  }

  /** A/B conversion significance — the experimentation readout every
    * event platform ships: users hash-assigned to arms by the
    * repo-wide md5 surrogate (assignment must be a pure function of
    * the user, never of traffic order), per-arm user and converter
    * counts, and a pooled two-proportion z-test at 95% decided in
    * EXACT integer arithmetic: z² > 3.84 cross-multiplied to
    * 25·(c_a·n_b − c_b·n_a)²·N > 96·C·(N−C)·n_a·n_b — no division,
    * no sqrt, engine-bitwise (the [[hourlyAnomaly]] trick applied to
    * inference). Products ride DECIMAL(38,0), which holds the
    * cross-terms to ~1e9 users per arm.
    *
    * Shape: one user-keyed hash agg (map-side combined) then a 1-row
    * global agg — two linear passes, no window, no join. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = events(spark, dir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        expr(graft.operators.Hash60.sql("CAST(user_id AS STRING)") + " % 2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val s = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("c_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("c_b"))
    val diff = d(col("c_a")) * d(col("n_b")) - d(col("c_b")) * d(col("n_a"))
    val n = d(col("n_a")) + d(col("n_b"))
    val c = d(col("c_a")) + d(col("c_b"))
    s.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      (lit(25) * diff * diff * n >
        lit(96) * c * (n - c) * d(col("n_a")) * d(col("n_b")))
        .as("significant"))
  }

  /** EWMA smoothing of per-type hourly volumes — the time-series
    * denoising pass behind rate alerting and trend dashboards
    * (the reference's expr framework would run this as an analytic
    * fn; /root/reference/expr.h). The smoothing constant is α = 1/2,
    * deliberately DYADIC: every term count·2^−(j+1) is an exact
    * binary fraction, the 16-term truncated sum is exact in IEEE
    * doubles (numerator < 2^53), so Spark and the oracle agree
    * bitwise with NO float-accumulation-order caveat — the same
    * engine-exactness trick as the integer z-score in
    * [[hourlyAnomaly]]. Truncation at 16 lags drops < 2^−16 of the
    * weight mass.
    *
    * Shape: one hourly hash agg (map-side combined) collapses the
    * corpus to (type, hour) granularity, then ONE window pass emits
    * all 16 lag columns (codegen'd, no HOF) over partitions bounded
    * by hours-per-type — never by event count. A spike flag compares
    * the raw hour against 4× its own trailing smooth. */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 3600 * 3600").as("hour_sec"))
      .groupBy("event_type", "hour_sec").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("hour_sec")
    val ewma = (0 until 16).map { j =>
      coalesce(lag(col("n_events"), j).over(w), lit(0L)).cast("double") /
        lit((1L << (j + 1)).toDouble)
    }.reduce(_ + _)
    hourly
      .withColumn("ewma", ewma)
      .withColumn("is_spike", col("n_events").cast("double") > lit(4.0) * col("ewma"))
      .select("event_type", "hour_sec", "n_events", "ewma", "is_spike")
      .orderBy("event_type", "hour_sec")
  }

  /** Per-user union length of overlapping activity intervals — the
    * time-on-site / coverage metric: each event opens an interval
    * [ts, ts + dur) with a deterministic integer duration, and the
    * answer is the measure of the UNION (overlaps counted once), not
    * the sum. Classic island analysis: a running max over interval
    * ends detects gaps (an interval starting past every prior end
    * opens a new island), a running count of gap flags labels
    * islands, and the union length is Σ islands (max end − min
    * start). Two window passes + one agg, all partitioned by user —
    * state bounded by per-user activity, no self-join, no
    * interval-overlap BNLJ (the trap the naive SQL form plans). */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val iv = events(spark, dir)
      .select(col("user_id"), col("event_id"), tsSec.as("start_sec"),
        (tsSec + pmod(col("event_id"), lit(541L)) + lit(60L)).as("end_sec"))
    val w = Window.partitionBy("user_id").orderBy("start_sec", "event_id")
    val islands = iv
      .withColumn("prev_max_end",
        max(col("end_sec")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull ||
          col("start_sec") > col("prev_max_end"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy("user_id", "island")
      .agg(min("start_sec").as("s"), max("end_sec").as("e"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("union_sec"))
      .orderBy("user_id")
  }

  /** Power-user concentration — the activity-skew readout feeding
    * rate-limit and sampling policy: a power user is one with
    * STRICTLY more than the mean event count (n·U > total, the
    * cross-multiplied integer form — no float mean), and the row
    * reports how many users that is and what share of total events
    * they carry, both in exact integer permille. One user-keyed agg,
    * a 1-row totals broadcast, one filter+agg — no ranking, no
    * window, no sort anywhere. */
  def powerUsers(spark: SparkSession, dir: String): DataFrame = {
    val uc = events(spark, dir).groupBy("user_id")
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val totals = uc.agg(count(lit(1)).as("n_users"), sum("n").as("total_events"))
    uc.crossJoin(broadcast(totals))
      .filter(col("n") * col("n_users") > col("total_events"))
      .groupBy("n_users", "total_events")
      .agg(count(lit(1)).as("n_power_users"),
        sum("n").as("power_events"))
      .select(col("n_users"), col("total_events"), col("n_power_users"),
        col("power_events"),
        expr("n_power_users * 1000 div n_users").as("user_share_permille"),
        expr("power_events * 1000 div total_events").as("event_share_permille"))
  }

  /** View→purchase conversion latency by hour of day — the funnel
    * TIMING readout on top of [[asofAttribution]]'s shape: one
    * per-user window carries the latest preceding view's second to
    * each purchase (never a pair join), then latencies aggregate per
    * purchase hour-of-day (24 groups). count/min/max/sum are exact
    * integers; the mean is one double division of exact integers, so
    * both engines compute the identical IEEE double. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy("ts_sec", "event_type", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), tsSec.as("ts_sec"))
      .withColumn("last_view_sec",
        max(when(col("event_type") === "view", col("ts_sec"))).over(w))
      .filter(col("event_type") === "purchase" && col("last_view_sec").isNotNull)
      .withColumn("latency_sec", col("ts_sec") - col("last_view_sec"))
      .withColumn("hour_of_day", expr("ts_sec div 3600 % 24"))
      .groupBy("hour_of_day")
      .agg(count(lit(1)).as("n_conversions"),
        min("latency_sec").as("min_latency"),
        max("latency_sec").as("max_latency"),
        sum("latency_sec").as("sum_latency"))
      .withColumn("mean_latency",
        col("sum_latency").cast("double") / col("n_conversions").cast("double"))
      .orderBy("hour_of_day")
  }

  /** Robust hourly anomaly detection via MAD — the median-based twin
    * of [[hourlyAnomaly]]'s z-score: a handful of giant hours cannot
    * drag the center the way they drag a mean. Medians use the LOWER-
    * median convention (element at index (n−1)/2 of the sorted run) —
    * an exact integer with no half-point interpolation, identically
    * defined in both engines, and the outlier test |n−med| > 5·mad is
    * pure integer arithmetic. Both median passes run over the
    * (type, hour) hourly relation — tiny at any corpus size (the
    * corpus collapses in the first hash agg), so the per-type windows
    * are domain-bounded. */
  def hourlyAnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 3600 * 3600").as("hour_sec"))
      .groupBy("event_type", "hour_sec").agg(count(lit(1)).as("n_events"))
      .localCheckpoint()
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(valueCol)
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === expr("(cnt - 1) div 2 + 1"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = lowerMedian(hourly.select(col("event_type"), col("n_events")),
      "n_events", "med_hourly")
    val withDev = hourly.join(broadcast(med), "event_type")
      .withColumn("abs_dev", abs(col("n_events") - col("med_hourly")))
    val mad = lowerMedian(withDev.select(col("event_type"), col("abs_dev")),
      "abs_dev", "mad_hourly")
    withDev.join(broadcast(mad), "event_type")
      .groupBy("event_type", "med_hourly", "mad_hourly")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("abs_dev") > lit(5L) * col("mad_hourly"), 1L).otherwise(0L))
          .as("n_outlier_hours"))
      .select("event_type", "n_hours", "med_hourly", "mad_hourly", "n_outlier_hours")
      .orderBy("event_type")
  }

  /** Peak event rate per type — max events in any sliding 5-minute
    * window on a 1-minute slide (the load-planning / rate-limit
    * sizing readout): the built-in `window()` generator expands each
    * event into its 5 covering windows BEFORE the aggregation, so
    * the whole thing is one map-side-combined hash agg over 5× the
    * rows — no self-join, no per-type sort. The per-type argmax
    * rides a struct max (ties break to the EARLIEST window). */
  def peakRate(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("ts_t", expr("timestamp_seconds(ts div 1000000000)"))
      .groupBy(window(col("ts_t"), "5 minutes", "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), unix_timestamp(col("w.start")).as("win_start"), col("n"))
      .groupBy("event_type")
      .agg(max(struct(col("n").as("n"), (-col("win_start")).as("neg_start"))).as("s"))
      .select(col("event_type"), col("s.n").as("peak_n"),
        (-col("s.neg_start")).as("peak_win_start"))
      .orderBy("event_type")

  /** Event-type co-occurrence — the market-basket readout over
    * (user, hour) contexts: which event types happen together in the
    * same user-hour, counted over distinct contexts. The scalable
    * shape: the corpus collapses to the distinct (user, hour, type)
    * relation first, and the pair generator is a self-equi-join on
    * the (user, hour) context key with type_a < type_b — fan-out
    * bounded by (types-per-context)² ≤ 36, never a cross join. One
    * staged distinct + one equi-join + one tiny agg. */
  def typeCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ctx = events(spark, dir)
      .select(col("user_id"), expr("ts div 1000000000 div 3600").as("hour"),
        col("event_type"))
      .distinct()
      .localCheckpoint()
    val a = ctx.withColumnRenamed("event_type", "type_a")
    val b = ctx.withColumnRenamed("event_type", "type_b")
    a.join(b, Seq("user_id", "hour"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_cohours"))
      .orderBy("type_a", "type_b")
  }

  /** Daily-volume trend slope per event type — exact least-squares
    * over (epoch-day, count): the "is this stream growing or dying"
    * readout next to ev_autocorr's seasonality. Same discipline:
    * corpus collapses to the tiny (type, day) relation, slope
    * numerator/denominator are exact BIGINT power sums
    * (m·Σxy−Σx·Σy over m·Σxx−Σx²), the slope itself is ONE double
    * division — engine-bitwise. Slope sign is also exported as
    * integer so the directional readout is float-free. */
  def trendSlope(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("m"),
        sum("day").as("sx"), sum("n").as("sy"),
        sum(col("day") * col("day")).as("sxx"),
        sum(col("day") * col("n")).as("sxy"))
      .select(col("event_type"), col("m"),
        (col("m") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("m") * col("sxx") - col("sx") * col("sx")).as("den"))
      // den = 0 for a type active on a single day: null (the
      // oracle's division-by-zero semantics), not NaN/Inf
      .withColumn("slope_per_day",
        when(col("den") =!= 0,
          col("num").cast("double") / col("den").cast("double")))
      .withColumn("direction",
        when(col("num") > 0, 1L).when(col("num") < 0, -1L).otherwise(0L))
      .orderBy("event_type")

  /** User-lifetime histogram — the survival-curve input growth
    * accounting reads next to ev_new_vs_returning: per user the
    * first→last activity span, bucketed to weeks. One user-keyed
    * min/max/count agg (map-side combined) collapses the corpus,
    * then a tiny histogram agg over the user relation; exact integer
    * day/week arithmetic throughout. */
  def userLifetime(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), tsSec.as("sec"))
      .groupBy("user_id")
      .agg(min("sec").as("first_sec"), max("sec").as("last_sec"),
        count(lit(1)).as("n_events"))
      .select(col("n_events"),
        expr("(last_sec - first_sec) div 86400").as("lifetime_days"))
      .withColumn("week_bucket", expr("lifetime_days div 7"))
      .groupBy("week_bucket")
      .agg(count(lit(1)).as("n_users"),
        sum("n_events").as("total_events"),
        min("lifetime_days").as("min_days"),
        max("lifetime_days").as("max_days"))
      .orderBy("week_bucket")

  /** Lag-k autocorrelation of per-type hourly event volumes (k =
    * 1..3) — the periodicity detector behind capacity planning and
    * the seasonality check a forecasting layer runs before trusting
    * a trend. The corpus collapses once to the tiny (type, hour)
    * count relation (the ev_ewma_smooth shape); each lag pairs the
    * series with lead(k) over the observed-hour order and computes
    * Pearson r from exact BIGINT power sums — m·Σxy−Σx·Σy over the
    * two variance terms, one double division and sqrt at the end in
    * a fixed operation order, so the doubles are engine-bitwise
    * (the agg_corr_exact discipline; counts at this scale keep the
    * products far inside BIGINT — a 100 TB deployment swaps the sums
    * to DECIMAL(38,0) like ev_ab_test). ACF is over the
    * observed-hour series; dark hours are absent on both sides. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 3600").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val w = Window.partitionBy("event_type").orderBy("hr")
    val lags = (1 to 3).map { k =>
      hourly
        .withColumn("y", lead("n", k).over(w))
        .filter(col("y").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("m"),
          sum("n").as("sx"), sum("y").as("sy"),
          sum(col("n") * col("n")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("n") * col("y")).as("sxy"))
        .select(col("event_type"), lit(k.toLong).as("lag"), col("m"),
          (col("m") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("m") * col("sxx") - col("sx") * col("sx")).as("den_x"),
          (col("m") * col("syy") - col("sy") * col("sy")).as("den_y"))
    }
    lags.reduce(_.unionByName(_))
      // a constant series has zero variance on either side: null acf
      // (the oracle's division-by-zero semantics), not NaN
      .withColumn("acf",
        when(col("den_x") =!= 0 && col("den_y") =!= 0,
          col("num").cast("double") /
            sqrt(col("den_x").cast("double") * col("den_y").cast("double"))))
      .orderBy("event_type", "lag")
  }

  /** Trailing-7-row exact rolling median of revenue per supplier —
    * the robust moving-location estimate a monitoring surface plots
    * where a rolling MEAN would chase every spike (the windowed twin
    * of agg_percentile_exact, and the robust twin of
    * win_running_sum). ROWS-framed so each frame is exactly the
    * trailing 7 rows; the per-frame exact percentile is O(frame)
    * state — tiny constant — while the partition sort is the same
    * per-supplier window every §2.5 row already pays. Ordering ends
    * in l_extendedprice: full-duplicate rows tie on every ordering
    * column AND the aggregated value, so the output multiset is
    * order-invariant (the win_running_sum argument). Both engines
    * interpolate the even-frame median as lower + 0.5·(upper−lower)
    * over 2-decimal doubles — engine-exact. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
      .rowsBetween(-6, Window.currentRow)
    lineitem(spark, dir)
      .withColumn("med7", expr("percentile(l_extendedprice, 0.5)").over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "med7")
      // materialize ONCE before the global sort (r15): the range
      // exchange's sampling pass re-executes its child, and here the
      // child is the full percentile window — the query's entire cost
      // — so the final orderBy silently doubled it. The checkpoint
      // caches the windowed rows (partition-local, spillable); sample
      // and shuffle-map then both read the cache. Values unchanged.
      .localCheckpoint()
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** Offline CHANGEPOINT detection (max-CUSUM) — "when did this
    * stream's level shift": the classic single-changepoint estimator
    * argmax_t |Σ_{i≤t} n_i − t·μ| made INTEGER-exact by clearing the
    * mean's denominator — C_t = T·prefix_t − t·N (T days, N total)
    * is an exact BIGINT whose argmax is the same day, so both
    * engines elect the identical changepoint with no float anywhere;
    * ties break to the earliest day via one struct-max. The sign of
    * C at the argmax says which way the level moved (positive =
    * front-loaded = level DROPPED after day_hat). Scale: corpus
    * collapses to (type, day); the prefix rides per-type windows
    * over ≤ day-span rows. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("t_days"), sum("n").as("n_total"))
    daily
      .withColumn("rk", row_number().over(Window.partitionBy("event_type").orderBy("day")))
      .withColumn("prefix", sum("n").over(w))
      .join(broadcast(tot), "event_type")
      .withColumn("c", col("t_days") * col("prefix") - col("rk") * col("n_total"))
      .groupBy("event_type")
      .agg(max(struct(abs(col("c")).as("a"), (-col("day")).as("nd"),
        col("c").as("c"), col("prefix").as("p"))).as("m"),
        max("t_days").as("t_days"), max("n_total").as("n_total"))
      .select(col("event_type"), col("t_days"), col("n_total"),
        (-col("m.nd")).as("day_hat"), col("m.c").as("cusum"),
        col("m.a").as("cusum_abs"),
        when(col("m.c") > 0, lit("drop_after"))
          .when(col("m.c") < 0, lit("rise_after"))
          .otherwise(lit("flat")).as("shift"))
      .orderBy("event_type")
  }

  /** Heuristic BOT DETECTION — the traffic-hygiene gate an events
    * pipeline runs before any behavioral analytic trusts the data:
    * bots are FAST (high event rate over their active span) and
    * REGULAR (inter-arrival gaps with low coefficient of variation —
    * humans are bursty, schedulers are metronomes). Both flags are
    * exact cross-multiplied integer tests: rate = n·3600 > span·50
    * (over 50 events/hour), regularity = 4·(m·Σg² − (Σg)²) < (Σg)²
    * (cv < ½), with the Σg² products in DECIMAL(38,0) (a 10⁶-event
    * user's squared-gap sum overflows a long). Gap power sums ride
    * ONE per-user ordered window pass (lag), bounded by per-user
    * activity and spillable — the ev_pattern_match discipline.
    * Only users with ≥ 20 events are judged (below that the
    * statistics are noise). */
  def botDetect(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    events(spark, dir)
      .select(col("user_id"), col("event_id"), tsSec.as("ts_sec"))
      .withColumn("gap", col("ts_sec") - lag("ts_sec", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (max("ts_sec") - min("ts_sec")).as("span_sec"),
        min("gap").as("min_gap"),
        count(col("gap")).as("m"),
        sum("gap").as("sg"),
        sum(col("gap").cast(DecimalType(38, 0)) * col("gap")).as("sgg"))
      .filter(col("n_events") >= 20)
      .select(col("user_id"), col("n_events"), col("span_sec"), col("min_gap"),
        (col("n_events") * 3600 > col("span_sec") * 50).as("fast"),
        expr("""4 * (CAST(m AS DECIMAL(38,0)) * sgg - CAST(sg AS DECIMAL(38,0)) * sg)
          < CAST(sg AS DECIMAL(38,0)) * sg""".replace("\n", " ")).as("regular"))
      .withColumn("is_bot", col("fast") && col("regular"))
      .orderBy("user_id")
  }

  /** Period-over-period REVENUE BRIDGE (the SaaS waterfall): the
    * delta between two consecutive full weeks decomposed into the
    * four populations every growth review reads — NEW (no prior
    * revenue), CHURNED (no current), EXPANSION and CONTRACTION —
    * plus FLAT; the category deltas sum exactly to the total
    * week-over-week delta (the bridge identity, spec-pinned).
    * Exact integer cents throughout; the compared weeks derive from
    * the data (first two complete weeks after the minimum — a
    * broadcast 1-row bound, deterministic at any sf). Scale: one
    * map-side-combined (user, week) rollup, one user-keyed
    * full-outer join between two filtered slices, then a 5-row agg. */
  def revenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val rev = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 1000000000 div 86400 div 7").as("wk"),
        (col("value").cast(D) * 100).cast("bigint").as("cents"))
      .groupBy("user_id", "wk").agg(sum("cents").as("rev"))
      .localCheckpoint() // consumers: the bound + two week slices
    val w0 = rev.agg(min("wk").as("w0"))
    val sliced = rev.crossJoin(broadcast(w0))
    val a = sliced.filter(col("wk") === col("w0") + 1)
      .select(col("user_id"), col("rev").as("rev_a"))
    val b = sliced.filter(col("wk") === col("w0") + 2)
      .select(col("user_id").as("user_b"), col("rev").as("rev_b"))
    a.join(b, col("user_id") === col("user_b"), "full_outer")
      .select(
        when(col("rev_a").isNull, "new")
          .when(col("rev_b").isNull, "churned")
          .when(col("rev_b") > col("rev_a"), "expansion")
          .when(col("rev_b") < col("rev_a"), "contraction")
          .otherwise("flat").as("category"),
        coalesce(col("rev_a"), lit(0L)).as("ra"),
        coalesce(col("rev_b"), lit(0L)).as("rb"))
      .groupBy("category")
      .agg(count(lit(1)).as("n_users"),
        sum("ra").as("rev_prev_cents"),
        sum("rb").as("rev_curr_cents"),
        sum(col("rb") - col("ra")).as("delta_cents"))
      .orderBy("category")
  }

  /** Stationary distribution of the user-journey Markov chain —
    * "where does the journey converge": 3 unrolled power-iteration
    * rounds v′ = vP from the uniform start over
    * [[markovTransitions]]'s count matrix (the [[graft.operators.Graph.pageRankOn]]
    * discipline applied to behavior flow). Exactness: probabilities
    * never materialize as floats — each contribution is the integer
    * floor v·n_ij div n_i at ppm scale, so every round is an exact
    * integer relation both engines replay bitwise (floor leakage is
    * part of the contract, like PageRank's). Scale: the corpus
    * collapses ONCE to the |types|² transition matrix; every
    * iteration is a join+agg over that tiny relation — cost is
    * independent of the event mass. States with no incoming
    * transitions report mass 0 (left join), never vanish. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    val trans = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsSec.as("ts_sec"))
      .withColumn("prev_type", lag("event_type", 1).over(wSeq))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = trans.groupBy("prev_type").agg(sum("n").as("n_from"))
    val p = trans.join(rowTot, "prev_type").localCheckpoint() // 3 iterations + state list
    val states = p.select(col("prev_type").as("state"))
      .unionAll(p.select(col("next_type").as("state")))
      .distinct().localCheckpoint() // consumers: v0, the final left join
    var v = states.crossJoin(broadcast(states.agg(count(lit(1)).as("k"))))
      .select(col("state"), expr("1000000 div k").as("v"))
    for (_ <- 1 to 3) {
      v = v.join(p, col("state") === col("prev_type"))
        .select(col("next_type").as("state"), expr("v * n div n_from").as("c"))
        .groupBy("state").agg(sum("c").as("v"))
    }
    states.join(v, Seq("state"), "left")
      .select(col("state"), coalesce(col("v"), lit(0L)).as("v_ppm"))
      .orderBy("state")
  }

  /** MARKOV REMOVAL-EFFECT attribution (the Anderl et al. /
    * marketing-science standard behind "data-driven attribution"):
    * model journeys as a first-order chain over event types with
    * START and two absorbing ends (first purchase = conversion,
    * journey end without purchase = null), and credit each channel
    * by its REMOVAL EFFECT — how much the START→conversion
    * probability drops when every transition into that channel is
    * severed (the severed mass fails, it does not re-route). Unlike
    * last-touch/linear/position rules ([[multitouch]]), the removal
    * effect prices a channel's position in the whole graph.
    *
    * The 100 TB trick: ALL counterfactuals run in ONE pipeline — the
    * transition matrix is DOMAIN-bounded (|event types|² + ends), so
    * it collapses to one row and every scenario's bounded value
    * iteration (8 rounds of p(s) ← Σ_t n(s,t)·p(t) div n_from, the
    * 8-step conversion probability in integer micro units) runs
    * inside a single aggregate()/transform() projection — the KM-fold
    * discipline; the severed channel is one predicate in the lambda.
    * The corpus itself is touched exactly twice (journey truncation +
    * transition counts, both map-side combinable). Oracle unrolls the
    * identical 8 rounds CTE by CTE. */
  def attributionRemoval(spark: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsSec.as("ts_sec"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wSeq))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts_sec").as("fts"),
        col("event_id").as("feid"))
    // truncate each journey at its FIRST purchase (inclusive)
    val j = ev.join(firstP, Seq("user_id"), "left")
      .filter(col("fts").isNull ||
        struct(col("ts_sec"), col("event_id")) <=
          struct(col("fts"), col("feid")))
      .localCheckpoint() // consumers: transitions + terminal rows
    val t1 = j.withColumn("prev", lag("event_type", 1).over(wSeq))
      .select(coalesce(col("prev"), lit("_start")).as("s"),
        col("event_type").as("t"))
    // non-converting journeys end in the absorbing null state
    val endT = j.filter(col("fts").isNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(desc("ts_sec"), desc("event_id"))))
      .filter(col("rn") === 1)
      .select(col("event_type").as("s"), lit("_null").as("t"))
    val trans = t1.unionAll(endT).groupBy("s", "t").agg(count(lit(1)).as("n"))
    val nFrom = trans.groupBy("s").agg(sum("n").as("n_from"))
    // The transition matrix is DOMAIN-bounded (|types|² + ends), so
    // like the KM fold the whole value iteration — every scenario's 8
    // rounds — runs inside ONE projection over the collapsed one-row
    // matrix instead of 8 checkpointed join rounds (~16 jobs of pure
    // scheduling at this relation size).
    val start = trans.join(nFrom, "s")
      .agg(
        array_sort(collect_list(struct(col("s"), col("t"), col("n"),
          col("n_from")))).as("trip"),
        array_sort(collect_set(col("s"))).as("sts"),
        expr("""array_sort(filter(collect_set(
          CASE WHEN t <> 'purchase' AND t <> '_null' THEN t END),
          x -> x IS NOT NULL))""").as("chs"))
      .select(explode(expr(
        """transform(concat(chs, array('_none')), c -> struct(
          |  c AS scenario,
          |  aggregate(sequence(1, 8),
          |    transform(sts, x -> CAST(0 AS BIGINT)),
          |    (p, it) -> transform(sts, (x, xi) ->
          |      aggregate(trip, CAST(0 AS BIGINT), (a, e) ->
          |        a + CASE WHEN e.s = x AND e.t <> c THEN
          |          e.n * (CASE WHEN e.t = 'purchase' THEN CAST(1000000 AS BIGINT)
          |                      WHEN array_position(sts, e.t) > 0 THEN
          |                        element_at(p, CAST(array_position(sts, e.t) AS INT))
          |                      ELSE CAST(0 AS BIGINT) END)
          |          ELSE CAST(0 AS BIGINT) END)
          |      div aggregate(trip, CAST(1 AS BIGINT), (a, e) ->
          |            CASE WHEN e.s = x THEN e.n_from ELSE a END)),
          |    p -> element_at(p, CAST(array_position(sts, '_start') AS INT)))
          |    AS p))""".stripMargin)).as("r"))
      .select(col("r.scenario").as("scenario"), col("r.p").as("p"))
      .localCheckpoint() // two consumers: base row + channel rows
    val base = broadcast(start.filter(col("scenario") === "_none")
      .select(col("p").as("p_base_micro")))
    start.filter(col("scenario") =!= "_none").crossJoin(base)
      .select(col("scenario").as("channel"), col("p_base_micro"),
        col("p").as("p_removed_micro"),
        expr("(p_base_micro - p) * 1000000 div p_base_micro")
          .as("removal_ppm"))
      .orderBy("channel")
  }

  /** Multi-window SLO BURN-RATE alerting (the Google SRE workbook's
    * paging rule): page only when BOTH the fast window (one 5-min
    * bucket) and the slow window (trailing 1 h = 12 buckets) burn
    * error budget above threshold — fast-only is noise, slow-only is
    * stale. Error budget here: error share above 30% (the data's
    * base error rate is ~20%, so the gate demonstrably distinguishes
    * buckets). All comparisons are cross-multiplied integers — no
    * rate division anywhere. Scale discipline: the corpus collapses
    * to per-bucket counts (map-side combined); the trailing sums are
    * the bounded 12× EXPLODE of that compressed relation re-grouped
    * on the target bucket (the ev_dau_mau pattern) — calendar-true
    * (a missing bucket contributes zero; a ROWS window would
    * silently reach past gaps) and never a global window. */
  def burnRate(spark: SparkSession, dir: String): DataFrame = {
    val bk = events(spark, dir)
      .select(expr("ts div 1000000000 div 300").as("b"),
        (col("event_type") === "error").cast("long").as("e"))
      .groupBy("b").agg(count(lit(1)).as("n_total"), sum("e").as("n_err"))
      .localCheckpoint() // consumers: the contribution explode + the join
    val slow = bk
      .select(col("b"), col("n_total").as("t"), col("n_err").as("er"),
        explode(expr("sequence(0L, 11L)")).as("i"))
      .select((col("b") + col("i")).as("b"), col("t"), col("er"))
      .groupBy("b").agg(sum("t").as("slow_total"), sum("er").as("slow_err"))
    bk.join(slow, Seq("b"))
      .select(col("b"), col("n_total"), col("n_err"),
        col("slow_total"), col("slow_err"),
        (col("n_err") * 10 > col("n_total") * 3).as("fast_alert"),
        (col("slow_err") * 10 > col("slow_total") * 3).as("slow_alert"))
      .withColumn("page", col("fast_alert") && col("slow_alert"))
      .orderBy("b")
  }

  /** Peak session CONCURRENCY per day — the capacity number an
    * operator sizes for (simultaneous active sessions, not event
    * rate — [[peakRate]]'s complement): sessions are the
    * [[sessionize]] 30-min-gap intervals, concurrency is the classic
    * sweep (+1 at session start, −1 after end) accumulated in minute
    * order. Scale discipline: the corpus collapses to per-MINUTE
    * delta sums (map-side combined; concurrency is piecewise
    * constant, so delta minutes carry every extremum), and the
    * running sum is TWO-LEVEL — an unpartitioned scan only over the
    * tiny per-day totals (|days| rows, the decile-spine class of
    * bounded window), carried into per-day partitioned scans — never
    * one global window over all minutes. Output days are the days
    * with concurrency CHANGES (a change-free day is its previous
    * carry by definition); ties at the peak elect the earliest
    * minute via one struct-max agg. */
  def concurrency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    val sess = events(spark, dir)
      .withColumn("ts_sec", tsSec)
      .withColumn("prev_sec", lag("ts_sec", 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("is_new")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(expr("ts_sec div 60")).as("m_start"),
        max(expr("ts_sec div 60")).as("m_end"))
      .localCheckpoint() // consumers: the delta union (twice) + day starts
    val deltas = sess.select(col("m_start").as("m"), lit(1L).as("d"))
      .unionAll(sess.select((col("m_end") + 1).as("m"), lit(-1L).as("d")))
      .groupBy("m").agg(sum("d").as("delta"))
      .withColumn("day", expr("m div 1440"))
      .localCheckpoint() // consumers: day totals + the within-day scan
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    val carry = deltas.groupBy("day").agg(sum("delta").as("day_delta"))
      .withColumn("carry", coalesce(sum("day_delta").over(wDays), lit(0L)))
      .select("day", "carry")
    val wInDay = Window.partitionBy("day").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, 0)
    val starts = sess.groupBy(expr("m_start div 1440").as("day"))
      .agg(count(lit(1)).as("n_starts"))
    deltas.join(broadcast(carry), "day")
      .withColumn("conc", col("carry") + sum("delta").over(wInDay))
      .groupBy("day")
      .agg(max(struct(col("conc"), (-col("m")).as("negm"))).as("pk"))
      .join(broadcast(starts), Seq("day"), "left")
      .select(col("day"), coalesce(col("n_starts"), lit(0L)).as("n_starts"),
        col("pk.conc").as("peak_conc"), (-col("pk.negm")).as("peak_minute"))
      .orderBy("day")
  }

  /** LINEAR interpolation of missing days — the upgrade of
    * [[gapFill]]'s step-function carry-forward (LOCF) to the
    * straight-line estimate a reporting/feature pipeline wants for
    * additive quantities: each absent day of a type's daily revenue
    * series takes v_prev + (v_next−v_prev)·(d−d_prev)/(d_next−d_prev).
    * Exactness discipline: daily totals are integer CENTS (the 2-
    * decimal data is exact in DECIMAL(18,2)·100), the interpolation
    * survives as the exact integer pair (num, den) = (v_prev·(d_next−d)
    * + v_next·(d−d_prev), d_next−d_prev) with observed rows at
    * (cents, 1), and the double value is two fixed-order float
    * divisions at the end (num/den, then the cents scale) — mirrored
    * verbatim in the oracle, so engine-bitwise. Scale: the corpus collapses once to (type, day);
    * the spine, the two directional fill windows, and the join all
    * live on that domain-bounded relation (≤ day-span rows per type).
    * Gaps outside the observed span cannot exist (spine = [min, max]
    * of observed days), so num/den are never null. The series is the
    * HIGH-VALUE slice (value > 200) — the sparse-by-nature signal
    * (large transactions) where day gaps actually occur and the
    * estimator earns its keep; the dense all-events series has no
    * gaps and is [[gapFill]]'s territory. */
  def interpolateLinear(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .filter(col("value") > 200)
      .select(col("event_type"), expr("ts div 1000000000 div 86400").as("day"),
        col("value"))
      .groupBy("event_type", "day")
      .agg(sum((col("value").cast(D) * 100).cast("bigint")).as("cents"))
    val spine = daily.groupBy("event_type")
      .agg(min("day").as("mn"), max("day").as("mx"))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("day"))
    val wPrev = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(0, Window.unboundedFollowing)
    spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("is_gap", col("cents").isNull)
      .withColumn("obs_day", when(col("cents").isNotNull, col("day")))
      .withColumn("pd", last("obs_day", ignoreNulls = true).over(wPrev))
      .withColumn("pv", last("cents", ignoreNulls = true).over(wPrev))
      .withColumn("nd", first("obs_day", ignoreNulls = true).over(wNext))
      .withColumn("nv", first("cents", ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("day"), col("is_gap"), col("cents"),
        when(col("is_gap"),
          col("pv") * (col("nd") - col("day")) + col("nv") * (col("day") - col("pd")))
          .otherwise(col("cents")).as("interp_num"),
        when(col("is_gap"), col("nd") - col("pd")).otherwise(lit(1L)).as("interp_den"))
      .withColumn("value_interp",
        col("interp_num").cast("double") / col("interp_den").cast("double") / 100.0)
      .orderBy("event_type", "day")
  }

  /** Seasonal-naive forecast BACKTEST per event type — the
    * capacity-planning sanity check next to [[trendSlope]] and
    * [[seasonalDow]]: score yesterday's count (naive-1) and
    * last-week's count (naive-7) as forecasts of each day's volume,
    * and report which baseline wins. A weekly-seasonal stream has
    * mae7 < mae1; that single boolean is the "do we forecast with
    * weekly lags" decision. All exact integers: the corpus collapses
    * once to the (type, day) relation; each lag is a calendar
    * EQUI-JOIN on (type, day−k) — gap-proof where a row-offset
    * lag() would silently compare across missing days — and only
    * days whose lag day exists are scored (absent day = zero events
    * is not assumed). The winner comparison is cross-multiplied, so
    * no division rounding; MAE exports as truncated micro-units. */
  def forecastNaive(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .localCheckpoint() // consumers: base + two lag self-joins
    def scored(k: Int) = d.as("a")
      .join(d.as("b"), col("a.event_type") === col("b.event_type") &&
        col("b.day") === col("a.day") - k)
      .groupBy(col("a.event_type").as("event_type"))
      .agg(count(lit(1)).as(s"n_scored_$k"),
        sum(abs(col("a.n") - col("b.n"))).as(s"abs_err_$k"))
    d.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("n").as("n_events"))
      .join(scored(1), Seq("event_type"), "left")
      .join(scored(7), Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"), col("n_events"),
        col("n_scored_1"), col("abs_err_1"), col("n_scored_7"), col("abs_err_7"),
        expr("abs_err_1 * 1000000 div n_scored_1").as("mae1_micro"),
        expr("abs_err_7 * 1000000 div n_scored_7").as("mae7_micro"),
        (col("abs_err_7") * col("n_scored_1") <
          col("abs_err_1") * col("n_scored_7")).as("weekly_better"))
      .orderBy("event_type")
  }

  /** Holt DOUBLE-exponential forecast (level + trend) per event
    * type — the smoothing upgrade of [[forecastNaive]]'s lag
    * baselines and the trend-aware counterpart of [[ewmaSmooth]]:
    * α = β = 1/2 DYADIC, so every level/trend iterate is an exact
    * binary rational (series magnitude ~10⁴ at ≤2⁻ⁿ granularity over
    * ≤31 observed days stays far inside the 53-bit mantissa — every
    * fold op is EXACT, no rounding anywhere) and both engines agree
    * bitwise regardless of expression shape. Recursion
    * l_t = (y_t + l_{t−1} + b_{t−1})/2,
    * b_t = (l_t − l_{t−1})/2 + b_{t−1}/2 from l₁ = y₁, b₁ = 0, over
    * observed days in day order, as ONE aggregate() lambda over the
    * collapsed per-type series array (the KM-fold discipline — a
    * single projection, never per-step jobs). The backtest metric is
    * the one-step-ahead ABSOLUTE error sum — still exact at 2⁻ⁿ
    * granularity, where SQUARED errors would leave the mantissa
    * (the reason this row ships MAE, not MSE). Output: final
    * level/trend, the h=7 projection l + 7·b, and the error sum.
    * Scale: the corpus collapses once to (type, day). */
  def forecastHolt(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("sp"))
      .select(col("event_type"),
        expr("CAST(size(sp) AS BIGINT)").as("n_days"),
        expr("""aggregate(sp,
          named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
            'sae', CAST(0.0 AS DOUBLE), 'started', false),
          (acc, x) -> IF(NOT acc.started,
            named_struct('l', CAST(x.n AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
              'sae', CAST(0.0 AS DOUBLE), 'started', true),
            named_struct(
              'l', (CAST(x.n AS DOUBLE) + acc.l + acc.b) / 2.0D,
              'b', ((CAST(x.n AS DOUBLE) + acc.l + acc.b) / 2.0D - acc.l) / 2.0D
                   + acc.b / 2.0D,
              'sae', acc.sae + abs(CAST(x.n AS DOUBLE) - (acc.l + acc.b)),
              'started', true)))""").as("h"))
      .select(col("event_type"), col("n_days"),
        col("h.l").as("level"), col("h.b").as("trend"),
        (col("h.l") + lit(7.0) * col("h.b")).as("forecast_h7"),
        col("h.sae").as("sum_abs_err"))
      .orderBy("event_type")

  /** Day-of-week seasonality profile per event type — the weekly
    * periodicity readout next to [[autocorr]]'s lag scan and
    * [[hourlyAnomaly]]'s intra-day profile: traffic-shape drift
    * between weekday-heavy (work tools) and weekend-heavy
    * (entertainment) streams is a leading signal for capacity and
    * sampling decisions. Same discipline as every profile query: the
    * corpus collapses to the (type, dow) domain in ONE map-side-
    * combined agg; deviation from the flat-week expectation is an
    * exact integer ppm (7·n−total over total, truncating div in both
    * engines); the peak day is a row_number over the ≤7-row
    * collapsed partitions. Day-of-week from epoch DAYS (integer,
    * timezone-free): 1970-01-01 was a Thursday, so +3 mod 7 puts
    * Monday at 0. */
  def seasonalDow(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir)
      .select(col("event_type"),
        expr("((ts div 1000000000 div 86400) + 3) % 7").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n_events"))
    val tot = d.groupBy("event_type").agg(sum("n_events").as("total"))
    val w = Window.partitionBy("event_type").orderBy(desc("n_events"), asc("dow"))
    d.join(broadcast(tot), "event_type")
      .withColumn("rn", row_number().over(w))
      .select(col("event_type"), col("dow"), col("n_events"),
        expr("(7 * n_events - total) * 1000000 div total").as("dev_ppm"),
        (col("rn") === 1).as("is_peak"))
      .orderBy("event_type", "dow")
  }

  /** Additive SEASONAL ADJUSTMENT of the daily series — the
    * deseasonalized view every ops dashboard plots next to the raw
    * one ([[seasonalDow]] gives the seasonal PROFILE; this applies
    * it): adjusted(day) = n(day) − mean(same weekday) + mean(all
    * days), per event type. A Monday spike that is just "Mondays are
    * busy" flattens out; one that survives adjustment is a real
    * anomaly. Exactness: the adjustment is one rational expression,
    * cross-multiplied to a single integer numerator over c_dow·c_all
    * and emitted in millis with the sign-split truncation both
    * engines share (adjusted can dip negative on a quiet day of a
    * busy weekday). Scale: the corpus collapses once to (type, day)
    * counts; both mean relations are tiny broadcast aggs; BIGINT
    * products at this scale, DECIMAL(38,0) at 100 TB (the ev_ab_test
    * note). */
  def seasonalAdjust(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(col("event_type"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("(day + 3) % 7"))
      .localCheckpoint() // three consumers: dow means, type means, output
    val byDow = daily.groupBy("event_type", "dow")
      .agg(sum("n").as("s_dow"), count(lit(1)).as("c_dow"))
    val byType = daily.groupBy("event_type")
      .agg(sum("n").as("s_all"), count(lit(1)).as("c_all"))
    daily.join(broadcast(byDow), Seq("event_type", "dow"))
      .join(broadcast(byType), Seq("event_type"))
      .withColumn("num",
        expr("n * c_dow * c_all - s_dow * c_all + s_all * c_dow"))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        expr("""CASE WHEN num >= 0 THEN num * 1000 div (c_dow * c_all)
               |ELSE -((-num) * 1000 div (c_dow * c_all)) END""".stripMargin)
          .as("adjusted_milli"))
      .orderBy("event_type", "day")
  }

  /** EXCLUDE CURRENT ROW frame exclusion — the SQL:2011 window
    * clause Spark does not implement (peer pricing: each line item
    * against the average of its ±3 NEIGHBORING items, itself
    * excluded — the self-exclusion every leave-one-out feature
    * needs). Translation: full-frame sum/count minus the current
    * row's own contribution — one extra subtraction, zero extra
    * shuffles or frames; the empty-exclusion case (single-row
    * partition) maps to NULL exactly as the native clause yields
    * NULL over an empty frame. Ordering ends in l_extendedprice, so
    * full-duplicate ties make the output multiset order-invariant
    * (the win_rolling_median argument). Oracle runs the native
    * EXCLUDE CURRENT ROW syntax. */
  def winExcludeCurrent(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
      .rowsBetween(-3, 3)
    lineitem(spark, dir)
      .withColumn("p", col("l_extendedprice").cast(D))
      .withColumn("peer_n", count(lit(1)).over(w) - 1)
      .withColumn("peer_sum",
        when(col("peer_n") > 0,
          (sum("p").over(w) - col("p")).cast("double")))
      .withColumn("peer_avg", col("peer_sum") / col("peer_n").cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice",
        "peer_n", "peer_sum", "peer_avg")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** EXCLUDE GROUP / EXCLUDE TIES frame exclusions — the two
    * remaining SQL:2011 exclusion modes after
    * [[winExcludeCurrent]] (leave-one-GROUP-out pricing: each line
    * against every OTHER ship-date cohort of its supplier; TIES
    * keeps the row itself but drops its cohort peers). Spark lacks
    * the clause entirely; over a full-partition frame both modes
    * decompose into three map-side-combined aggregates — partition
    * totals, peer-group totals, the row — joined back: GROUP =
    * partition − peers, TIES = partition − peers + self. NO window
    * anywhere (the groupBy + broadcast-join-back shape), so the
    * corpus never rides a partition sort. Null contract: a
    * single-cohort partition leaves GROUP's frame empty — the
    * native clause yields NULL for sum and 0 for count, replayed by
    * the n_grp > 0 guard. All sums exact DECIMAL until the final
    * double. Oracle runs the native EXCLUDE GROUP / EXCLUDE TIES
    * syntax.
    *
    * Join sizing (round 12): neither aggregate gets a broadcast
    * HINT — peers is one row per (l_suppkey, l_shipdate) and part
    * one per l_suppkey, both domains that GROW with the fact table
    * (suppliers × dates), unlike the |statuses|×|dates| relation
    * [[winGroupsFrame]] rightly pins. A forced hint would bypass
    * AQE's size check and OOM the driver at 100 TB; unhinted, AQE
    * broadcasts them when they measure small and falls back to a
    * co-partitioned shuffle join when they don't (the groupBy output
    * is already hash-partitioned on the join keys, so the fallback
    * re-shuffles only the fact side). */
  def winExcludeGroup(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .withColumn("p", col("l_extendedprice").cast(D))
    val part = li.groupBy("l_suppkey")
      .agg(count(lit(1)).as("part_n"), sum("p").as("part_sum"))
    val peers = li.groupBy("l_suppkey", "l_shipdate")
      .agg(count(lit(1)).as("peer_n"), sum("p").as("peer_sum"))
    li.join(peers, Seq("l_suppkey", "l_shipdate"))
      .join(part, Seq("l_suppkey"))
      .withColumn("n_grp", col("part_n") - col("peer_n"))
      .withColumn("sum_grp",
        when(col("n_grp") > 0,
          (col("part_sum") - col("peer_sum")).cast("double")))
      .withColumn("n_ties", col("part_n") - col("peer_n") + 1)
      .withColumn("sum_ties",
        (col("part_sum") - col("peer_sum") + col("p")).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice",
        "n_grp", "sum_grp", "n_ties", "sum_ties")
      // materialize ONCE before the global sort (r15, same reasoning
      // as win_rolling_median): with the two aggregates broadcast the
      // fact side reaches the final range exchange with no shuffle
      // below, so the sampling pass re-ran both join-backs over the
      // whole corpus. Values unchanged.
      .localCheckpoint()
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** GROUPS window frame — the third SQL:2011 frame mode (peer-group
    * steps instead of row counts or value ranges), which Spark does
    * NOT implement (only ROWS/RANGE): per order, the revenue and row
    * count over all orders of the same status whose order DATE is
    * within one distinct-date step. This row is the translation
    * recipe: collapse to the (status, date) value domain (one
    * map-side-combined agg), run a plain ROWS ±1 frame over the
    * collapsed relation — one row per peer group makes ROWS-on-domain
    * ≡ GROUPS-on-corpus — and broadcast-join the framed sums back.
    * Scale: the corpus never rides a window; the windowed relation is
    * bounded by |statuses|×|dates| (domain-bounded, the
    * [[Pipeline.quantileNormOn]] discipline), and the join back is a
    * broadcast of that same bounded relation. Oracle mirrors via
    * dense_rank + RANGE ±1 (DuckDB lacks GROUPS too). */
  def winGroupsFrame(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderdate").cast("date").as("d"),
      col("o_totalprice").cast(D).as("tp"))
    val grp = o.groupBy("o_orderstatus", "d")
      .agg(sum("tp").as("gs"), count(lit(1)).as("gn"))
    val w = Window.partitionBy("o_orderstatus").orderBy("d")
      .rowsBetween(-1, 1)
    val framed = grp.select(col("o_orderstatus"), col("d"),
      sum("gs").over(w).as("frame_sum_d"), sum("gn").over(w).as("frame_n"))
    o.join(broadcast(framed), Seq("o_orderstatus", "d"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("d"),
        col("frame_sum_d").cast("double").as("frame_sum"), col("frame_n"))
      .orderBy("o_orderkey")
  }

  /** Kaplan–Meier survival curve of user lifetime — the churn
    * analysis a subscription/engagement team actually runs, with the
    * piece naive retention curves get WRONG: right-censoring. A user
    * last seen inside the final 7 observation days has not churned,
    * they are lost to follow-up, and counting them as churn biases
    * survival down exactly where the business reads it (the KM
    * estimator removes censored users from the risk set without
    * charging a death). Per tenure day k: the risk set nₖ (users
    * whose lifetime reaches k), observed churn dₖ, censored exits
    * cₖ, and Ŝ(k) = Π_{j≤k} (nⱼ−dⱼ)/nⱼ.
    *
    * Engine-exactness: the product recurrence runs in INTEGER
    * fixed-point (micro units, s ← s·(n−d) div n — the integer-
    * PageRank discipline), so both engines fold the identical BIGINT
    * recursion step by step; every output column is a BIGINT. Scale
    * shape: the corpus collapses once to per-user (first, last) days
    * (map-side combined); the horizon is a broadcast 1-row max;
    * everything after lives on the tenure spine, bounded by the
    * OBSERVATION WINDOW in days (here ≤ 31, never by users or
    * events). On that bounded spine the sequential fold runs as ONE
    * `aggregate()` lambda over the collapsed one-row spine array — a
    * single projection, where a RECURSIVE CTE (the oracle's replay
    * form, and Spark's UnionLoop alternative) would schedule one
    * distributed job per tenure day for 31 rows (measured 12 s → this
    * form 0.3 s; sql_recursive_cte keeps the UnionLoop surface
    * covered). */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val perUser = events(spark, dir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("user_id")
      .agg(min("day").as("first_day"), max("day").as("last_day"))
    val horizon = perUser.agg(max("last_day").as("max_day"))
    val users = perUser.crossJoin(broadcast(horizon))
      .select((col("last_day") - col("first_day")).as("tenure"),
        when(col("last_day") >= col("max_day") - 6, 1L).otherwise(0L)
          .as("censored"))
    val byTenure = users.groupBy("tenure")
      .agg(count(lit(1)).as("n_end"),
        sum(when(col("censored") === 0L, 1L).otherwise(0L)).as("n_churn"),
        sum("censored").as("n_censored"))
    // dense spine 0..max(tenure): gap days still advance the
    // recursion (factor 1); ≤ observation-window rows by construction
    val spine = users.agg(max("tenure").as("mt"))
      .select(explode(expr("sequence(0L, mt)")).as("tenure"))
    val dense = spine.join(byTenure, Seq("tenure"), "left")
      .na.fill(0L, Seq("n_end", "n_churn", "n_censored"))
    // risk set = suffix sum of lifetime-end counts over the bounded
    // spine (unpartitioned window over ≤ 31 rows — domain-bounded)
    val wDesc = Window.orderBy(desc("tenure"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dense.withColumn("n_risk", sum("n_end").over(wDesc))
      .select("tenure", "n_risk", "n_churn", "n_censored")
      // collapse the ≤31-row spine to ONE array row and run the whole
      // KM fold as a single projection: S(k) folds factors 1..k+1
      // with the identical integer step the oracle's recursion takes
      .agg(array_sort(collect_list(struct(col("tenure"), col("n_risk"),
        col("n_churn"), col("n_censored")))).as("sp"))
      .select(explode(expr(
        """transform(sp, (x, i) -> struct(
          |  x.tenure AS tenure_days, x.n_risk AS n_risk,
          |  x.n_churn AS n_churn, x.n_censored AS n_censored,
          |  aggregate(slice(sp, 1, i + 1), CAST(1000000 AS BIGINT),
          |    (acc, y) -> acc * (y.n_risk - y.n_churn) DIV y.n_risk)
          |    AS s_micro))""".stripMargin)).as("r"))
      .select("r.*")
      .orderBy("tenure_days")
  }
}
