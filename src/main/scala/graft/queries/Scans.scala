package graft.queries

import org.apache.spark.sql.{DataFrame, GraftFunctions, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables._

/** Scan-level capability surface: predicate pushdown + projection
  * pruning, the core of the reference scanner.
  *
  * The reference evaluates Eq/Lt/Le/Gt/Ge/In/Between predicates
  * directly on encoded parquet data, composed with And/Or, producing
  * row skip-bitsets (/root/reference/simple-predicates.h:37-180,
  * hdfs-parquet-scanner.cc). In Spark the same predicates, stated on
  * base columns, become `PushedFilters` on the vectorized parquet
  * scan — row-group/page statistics skipping plus dictionary-filter
  * evaluation — and the projection list becomes a pruned
  * `ReadSchema`. `ScanSpec` asserts both appear in the physical plan.
  */
object Scans {
  private val D = DecimalType(18, 2)

  /** `=` predicate on a dictionary-encoded string column (EqOperate). */
  def predEq(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** Range + BETWEEN predicates (Lt/Ge/BetweenOperate). */
  def predRange(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_quantity").between(10, 20) && col("l_extendedprice") < 10000)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** IN-list predicate (InOperate). */
  def predIn(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_orderstatus").isin("F", "O"))
      .select("o_orderkey", "o_orderpriority", "o_orderstatus")
      .orderBy("o_orderkey")

  /** AND/OR/NOT tree (And/OrOperate + compound-predicates.h). */
  def predCompound(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(
        (col("l_returnflag") === "R" && col("l_quantity") < 10) ||
          (!(col("l_linestatus") === "F") && col("l_discount") > 0.05))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      .orderBy("l_orderkey", "l_linenumber")

  /** Projection pruning: 2 of 11 lineitem columns read (ReadSchema). */
  def pruneProjection(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice")
      .orderBy("l_orderkey", "l_extendedprice")

  /** Selectivity-sweep shape from the reference README: a modulus
    * predicate + aggregate; the four points (1%/10%/50%/100%) mirror
    * the reference's 1%→100% selectivity table. */
  private def sweepAt(spark: SparkSession, dir: String, modulus: Int): DataFrame = {
    val li = lineitem(spark, dir)
    (if (modulus <= 1) li else li.filter(col("l_partkey") % modulus === 0))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast(D)).cast("double").as("sum_price"))
  }

  def selectivitySweep(spark: SparkSession, dir: String): DataFrame = sweepAt(spark, dir, 10)
  def sweep1(spark: SparkSession, dir: String): DataFrame = sweepAt(spark, dir, 100)
  def sweep50(spark: SparkSession, dir: String): DataFrame = sweepAt(spark, dir, 2)
  def sweep100(spark: SparkSession, dir: String): DataFrame = sweepAt(spark, dir, 1)

  /** The 20/30/80% points (reference README.md:15-22 publishes a
    * 1/10/20/30/50/80/100% grid) come from a decile predicate
    * (`l_partkey % 10 < k` keeps k deciles) — same scan + agg shape
    * as the modulus points, completing the point-for-point table. */
  private def sweepDeciles(spark: SparkSession, dir: String, k: Int): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_partkey") % 10 < k)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast(D)).cast("double").as("sum_price"))

  def sweep20(spark: SparkSession, dir: String): DataFrame = sweepDeciles(spark, dir, 2)
  def sweep30(spark: SparkSession, dir: String): DataFrame = sweepDeciles(spark, dir, 3)
  def sweep80(spark: SparkSession, dir: String): DataFrame = sweepDeciles(spark, dir, 8)

  /** Dynamic partition pruning: a nationkey-partitioned copy of
    * customer joined to a region-filtered nation dim. The dim filter
    * is only known at runtime (it sits behind a join), so static
    * pushdown can't prune — Spark inserts a dynamicpruning subquery
    * on the partition column and the scan skips 20 of 25 partitions.
    * This is the Spark analog of the reference's runtime skip
    * bitsets (/root/reference/simple-predicates.h:37-80): predicates
    * discovered during execution cutting scan work, not just
    * statically-known ones. ScanSpec asserts `dynamicpruning#`
    * appears in the scan's PartitionFilters. */
  def dppPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = SourcesSinks.tmp(spark, dir, "customer_by_nation")
    customer(spark, dir).write.mode("overwrite")
      .partitionBy("c_nationkey").parquet(path)
    val dim = broadcast(
      nation(spark, dir).join(
        region(spark, dir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey")))
    spark.read.parquet(path)
      .join(dim, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast(D)).cast("double").as("sum_acctbal"))
      .orderBy("n_name")
  }

  /** Runtime bloom-filter join pruning on a fact⋈fact join: the
    * selective predicate lives on the orders side, so Spark builds a
    * bloom filter over the qualifying orderkeys at runtime and
    * applies `might_contain` on the lineitem side BEFORE the shuffle
    * — rows for non-urgent orders never leave the scan stage. At
    * 100 TB this is the difference between shuffling the whole fact
    * table and shuffling the ~20% that can match.
    *
    * Runs in its own child session: the demo lowers the
    * application-side size threshold (the data here is far below the
    * 10 GB production default) and pins a shuffle join, and those
    * knobs must not leak into other queries' planning. */
  def bloomFilteredJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftFunctions.childSession(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "256MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val urgent = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    lineitem(s, dir)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum((col("l_extendedprice").cast(D)) *
          (lit(BigDecimal(1)).cast(D) - col("l_discount").cast(D)))
          .cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Scan-level AGGREGATE pushdown — Spark's native form of what
    * [[SourcesSinks.statsOnly]] hand-rolls from footers: with
    * `spark.sql.parquet.aggregatePushdown` on (DSv2 parquet path),
    * a global COUNT/MIN/MAX is absorbed INTO the scan operator
    * (`PushedAggregation` in the plan, spec-asserted) and answered
    * from row-group statistics without materializing data pages —
    * the reference scanner's stats machinery
    * (hdfs-parquet-scanner.cc) promoted from skipping to answering.
    * Runs on a child session so the DSv2/pushdown confs never leak
    * into sibling queries. */
  def aggPushdown(spark0: SparkSession, dir: String): DataFrame = {
    val spark = GraftFunctions.childSession(spark0,
      "spark.sql.parquet.aggregatePushdown" -> "true",
      // aggregate pushdown exists only on the DSv2 read path
      "spark.sql.sources.useV1SourceList" -> "")
    spark.read.parquet(s"$dir/orders.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min("o_orderkey").as("min_okey"), max("o_orderkey").as("max_okey"),
        min("o_custkey").as("min_ckey"), max("o_custkey").as("max_ckey"))
  }
}
