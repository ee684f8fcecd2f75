package graft.dev
// scratch alternating-A/B main — not part of the library surface.
// The host shows bimodal noisy-neighbor contention, so absolute
// timings across sessions are unusable for keep/revert decisions;
// this probe interleaves two variants of one query A,B,A,B,... in a
// single session and reports per-pair ratios, which cancels ambient
// drift to first order. Variants are declared inline (copies of the
// production shape with exactly one structural difference).
import org.apache.spark.sql.{DataFrame, GraftFunctions, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object AbProbe {
  private val normTextExpr = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
  private def h60(inner: String): String =
    s"cast(conv(substring(md5($inner), 1, 15), 16, 10) as bigint)"
  private val D = "decimal(18,2)"

  /** repeatedSpans WITHOUT the scan fan-out (the r15-reverted shape). */
  private def spansPlain(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.documents
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val words = documents(spark, dir)
      .select(col("doc_id"), posexplode(split(expr(normTextExpr), " ")).as(Seq("pos", "w")))
    val nWords = documents(spark, dir)
      .select(col("doc_id"),
        size(split(expr(normTextExpr), " ")).cast("bigint").as("n_words"))
    val sh = words
      .withColumn("w1", lead("w", 1).over(byDoc))
      .withColumn("w2", lead("w", 2).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("pos"), expr(h60("concat_ws(' ', w, w1, w2)")).as("h"))
      .localCheckpoint()
    val recurring = sh.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1).select("h")
    val flagged = sh
      .join(recurring, Seq("h"), "left_semi")
      .select("doc_id", "pos")
      .localCheckpoint()
    val spanStats = flagged
      .withColumn("isl", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("first_pos"), max("pos").as("last_pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        max(col("last_pos") - col("first_pos") + lit(3)).cast("bigint").as("max_span_words"))
    val coverage = flagged
      .select(col("doc_id"),
        explode(array(col("pos"), col("pos") + 1, col("pos") + 2)).as("wp"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered_words"))
    nWords.filter(col("n_words") >= 3)
      .join(spanStats, Seq("doc_id"), "left")
      .join(coverage, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "max_span_words", "covered_words"))
      .withColumn("covered_frac",
        col("covered_words").cast("double") / col("n_words").cast("double"))
      .select("doc_id", "n_words", "n_spans", "max_span_words",
        "covered_words", "covered_frac")
      .orderBy("doc_id")
  }

  /** multiDistinct as per-clause split aggregations joined back
    * (the Expand-free shape). */
  private def mdistSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.lineitem
    val li = lineitem(spark, dir)
    val a = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("ndv_supp"),
        count(lit(1)).as("n_rows"))
    val b = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("ndv_part"))
    val c = li.groupBy("l_returnflag")
      .agg(countDistinct(year(col("l_shipdate"))).as("ndv_shipyear"))
    a.join(b, "l_returnflag").join(c, "l_returnflag")
      .select("l_returnflag", "ndv_supp", "ndv_part", "ndv_shipyear", "n_rows")
      .orderBy("l_returnflag")
  }

  /** multiDistinct keeping the one-pass Expand but with the
    * single-split scan fanned out (identity at scale). */
  private def mdistFanout(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.lineitem
    graft.sources.Tables.parallelized(lineitem(spark, dir), col("l_orderkey"))
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("ndv_supp"),
        countDistinct(col("l_partkey")).as("ndv_part"),
        countDistinct(year(col("l_shipdate"))).as("ndv_shipyear"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** hllPrecisionSweep with the 4-branch union + localCheckpoint
    * replaced by one explode projection (same two corpus passes). */
  private def hllExplode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.events
    val ev = events(spark, dir)
    val exact = ev.select("user_id").distinct()
      .agg(count(lit(1)).as("exact_ndv"))
    val est = ev.agg(
      approx_count_distinct(col("user_id"), 0.26).as("e_260"),
      approx_count_distinct(col("user_id"), 0.08).as("e_80"),
      approx_count_distinct(col("user_id"), 0.023).as("e_23"),
      approx_count_distinct(col("user_id"), 0.01).as("e_10"))
    val j = est.crossJoin(broadcast(exact))
    def f(permille: Int, c: String) =
      struct(lit(permille.toLong).as("rsd_permille"), col("exact_ndv"),
        (abs(col(c) - col("exact_ndv")).cast("double") /
          col("exact_ndv").cast("double") <= permille / 1000.0 * 5)
          .as("within_5rsd"))
    j.select(explode(array(f(10, "e_10"), f(23, "e_23"),
        f(80, "e_80"), f(260, "e_260"))).as("r"))
      .select("r.*").orderBy("rsd_permille")
  }

  /** hllPrecisionSweep in ONE corpus pass: exact countDistinct rides
    * the same aggregate as the 4 sketches (Spark plans the mixed
    * distinct/non-distinct agg as an Expand x2). */
  private def hllOnePass(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.events
    val ev = events(spark, dir)
    val j = ev.agg(
      countDistinct(col("user_id")).as("exact_ndv"),
      approx_count_distinct(col("user_id"), 0.26).as("e_260"),
      approx_count_distinct(col("user_id"), 0.08).as("e_80"),
      approx_count_distinct(col("user_id"), 0.023).as("e_23"),
      approx_count_distinct(col("user_id"), 0.01).as("e_10"))
    def f(permille: Int, c: String) =
      struct(lit(permille.toLong).as("rsd_permille"), col("exact_ndv"),
        (abs(col(c) - col("exact_ndv")).cast("double") /
          col("exact_ndv").cast("double") <= permille / 1000.0 * 5)
          .as("within_5rsd"))
    j.select(explode(array(f(10, "e_10"), f(23, "e_23"),
        f(80, "e_80"), f(260, "e_260"))).as("r"))
      .select("r.*").orderBy("rsd_permille")
  }

  /** rollingMedian WITHOUT the pre-sort localCheckpoint. */
  private def rollmedNoCkpt(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.lineitem
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
      .rowsBetween(-6, Window.currentRow)
    lineitem(spark, dir)
      .withColumn("med7", expr("percentile(l_extendedprice, 0.5)").over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "med7")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** winExcludeGroup WITHOUT the pre-sort localCheckpoint. */
  private def exgrpNoCkpt(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.lineitem
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
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    type Q = (SparkSession, String) => DataFrame
    // each variant builds on its own session carrying its partition
    // count, which replaySession reads from the parent session's conf
    def withParts(n: String, q: Q): Q = (s, d) =>
      q(GraftFunctions.childSession(s, "graft.replay.partitions" -> n), d)
    def parts84(name: String): (Q, Q) = {
      val q = graft.SparkEntry.queries(name)
      (withParts("8", q), withParts("4", q))
    }
    val pairs: Map[String, (Q, Q)] = Map(
      // A = the shape in production now; B = the alternative
      "spans"   -> ((graft.SparkEntry.queries("dedup_repeated_spans"), spansPlain _)),
      "mdist"   -> ((graft.SparkEntry.queries("agg_multi_distinct"), mdistSplit _)),
      "mdist2"  -> ((mdistFanout _, mdistSplit _)),
      "hll1"    -> ((graft.SparkEntry.queries("agg_hll_precision_sweep"), hllExplode _)),
      "hll2"    -> ((hllExplode _, hllOnePass _)),
      "codedet" -> ((graft.SparkEntry.queries("text_code_detect"),
        (s: SparkSession, d: String) => graft.operators.TextAnalysis
          .codeDetectOn(graft.sources.Tables.documents(s, d)).orderBy("doc_id"))),
      "codedet2" -> ((
        (s: SparkSession, d: String) => graft.operators.TextAnalysis
          .codeDetectOn(graft.sources.Tables.parallelized(
            graft.sources.Tables.documents(s, d), col("doc_id")))
          .localCheckpoint().orderBy("doc_id"),
        (s: SparkSession, d: String) => graft.operators.TextAnalysis
          .codeDetectOn(graft.sources.Tables.documents(s, d))
          .localCheckpoint().orderBy("doc_id"))),
      "codedet3" -> ((
        (s: SparkSession, d: String) => graft.operators.TextAnalysis
          .codeDetectOn(graft.sources.Tables.documents(s, d))
          .localCheckpoint().orderBy("doc_id"),
        (s: SparkSession, d: String) => graft.operators.TextAnalysis
          .codeDetectOn(graft.sources.Tables.documents(s, d)).orderBy("doc_id"))),
      "winnow" -> ((graft.SparkEntry.queries("dedup_winnowing"),
        (s: SparkSession, d: String) => graft.operators.Dedup
          .winnowingOn(graft.sources.Tables.documents(s, d)).orderBy("doc_id"))),
      "ahash" -> ((graft.SparkEntry.queries("mm_image_ahash"),
        (s: SparkSession, d: String) => graft.operators.Multimodal
          .imageAHashOn(graft.sources.Tables.documents(s, d)))),
      "p_tumb"  -> parts84("stream_tumbling_agg"),
      "p_sess"  -> parts84("stream_session_agg"),
      "p_dedup" -> parts84("stream_dedup_agg"),
      "p_ijoin" -> parts84("stream_interval_join"),
      "p_ojoin" -> parts84("stream_outer_join"),
      "rollmed" -> ((graft.SparkEntry.queries("win_rolling_median"), rollmedNoCkpt _)),
      "exgrp"   -> ((graft.SparkEntry.queries("win_exclude_group"), exgrpNoCkpt _)))
    def once(fn: Q): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val reps = sys.env.getOrElse("GRAFT_AB_REPS", "4").toInt
    args.foreach { name =>
      val (a, b) = pairs(name)
      once(a); once(b) // warm both (codegen, staging)
      val ratios = (1 to reps).map { i =>
        val ta = once(a); val tb = once(b)
        println(f"[ab] $name pair$i A=$ta%.2f B=$tb%.2f B/A=${tb / ta}%.2f")
        tb / ta
      }
      val sortedR = ratios.sorted
      val med = sortedR(sortedR.size / 2)
      println(f"[ab] $name MEDIAN B/A = $med%.2f  (A = production, B = alternative)")
    }
    spark.stop()
  }
}
