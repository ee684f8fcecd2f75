package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.GraftFunctions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStoreProviderId
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.Ev

/** Real readStream→watermark→window/state→memory-sink coverage for
  * the §2.6 streaming pipelines, checked against their batch analogs
  * on the same events. */
class StreamingSpec extends SparkSpec {

  private def loadEvents(): Seq[Ev] = {
    import spark.implicits._
    graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("timestamp_seconds(ts div 1000000000)").as("ts"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq
  }

  private def sentinel(offsetHours: Int): Ev =
    Ev(-1L, -1L, java.sql.Timestamp.valueOf(s"2030-01-01 0${offsetHours}:00:00"), "x", 0.0)

  test("stateful agg recovers from a checkpoint restart: no loss, no double count") {
    val base = queries.SourcesSinks.tmp(spark, sf, "stream_ckpt")
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("timestamp_seconds(ts div 1000000000)").as("ts"))
    evs.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val batch1Files = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("hour_sec"),
        col("event_type"), col("n_events"))
    def start(qn: String) = agg(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    val q1 = start("ckpt_run1")
    q1.processAllAvailable(); q1.stop()
    // the second half arrives while the query is DOWN, and the
    // already-committed batch-1 files are deleted — after restart the
    // only way to produce correct totals is the recovered state store
    // (a fresh query would silently miss every batch-1 event)
    evs.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(srcDir)
    batch1Files.foreach(f => assert(f.delete(), s"could not delete $f"))
    val q2 = start("ckpt_run2")
    try {
      q2.processAllAvailable()
      val got = spark.table("ckpt_run2").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = queries.Analytic.tumblingWindow(spark, sf)
        .select("hour_sec", "event_type", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(want.nonEmpty)
      assert(got == want,
        s"missing=${(want.toSet -- got.toSet).take(5)} extra=${(got.toSet -- want.toSet).take(5)}")
    } finally q2.stop()
  }

  test("foreachBatch lands the stream in parquet with no lost or duplicated events") {
    val base = queries.SourcesSinks.tmp(spark, sf, "stream_feb")
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val evs = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("timestamp_seconds(ts div 1000000000)").as("ts"))
    evs.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // maxFilesPerTrigger=1 forces multiple micro-batches, so the sink
    // must be exactly-once ACROSS batches, not just within one
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir): Unit
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(outDir)
    assert(landed.select("batch_id").distinct().count() > 1, "only one micro-batch ran")
    val got = landed.select("event_id").collect().map(_.getLong(0)).sorted
    val want = evs.select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.length == want.length, s"${got.length} != ${want.length}")
    assert(got.sameElements(want))
  }

  test("transformWithState user profiles match the batch user stats") {
    // arbitrary-state v2 requires the RocksDB state store; run on a
    // child session so the provider conf cannot leak into other tests
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val events = loadEvents()
    val input = MemoryStream[Ev](s)
    val q = EventStream.userTotals(input.toDS())
      .writeStream.format("memory").queryName("tws_out").outputMode("update").start()
    try {
      // two batches force the state to survive a micro-batch boundary
      val (b1, b2) = events.splitAt(events.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val got = s.table("tws_out")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_purchases"),
          size(col("types")).as("n_types"), col("total_cents"),
          col("first_sec"), col("last_sec"))).as("s"))
        .select(col("user_id"), col("s.*")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3),
          r.getLong(4) / 100.0, r.getLong(5), r.getLong(6)))).toMap
      val want = queries.Analytic.userStats(spark, sf).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3).toInt,
          r.getDouble(4), r.getLong(5), r.getLong(6)))).toMap
      assert(want.nonEmpty)
      assert(got == want,
        s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming CEP funnels match the batch pattern-match op") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    // in-order per-key delivery is the processor's documented
    // contract: feed time-sorted halves (batch-internal order is
    // free — the processor re-sorts each batch)
    val events = loadEvents().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[EventStream.Ev](s)
    val q = EventStream.funnels(input.toDS())
      .writeStream.format("memory").queryName("funnel_out").outputMode("update").start()
    try {
      val (b1, b2) = events.splitAt(events.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      // latest emission per user = the one with max n_events
      val got = s.table("funnel_out")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_strict_funnels"),
          col("has_gap_funnel"), col("max_error_run"))).as("s"))
        .select(col("user_id"), col("s.*")).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val want = queries.Analytic.patternMatch(spark, sf).collect()
        .map(r => r.getLong(0) -> ((r.getAs[Long]("n_events"),
          r.getAs[Long]("n_strict_funnels"), r.getAs[Long]("has_gap_funnel"),
          r.getAs[Long]("max_error_run")))).toMap
      assert(want.nonEmpty)
      assert(got == want,
        s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
    } finally q.stop()
  }

  test("transformWithState event-time timers close sessions like the batch analog") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val input = MemoryStream[EventStream.Ev](s)
    val q = EventStream.sessionizeV2(input.toDS())
      .writeStream.format("memory").queryName("sessv2_out")
      .outputMode("append").start()
    try {
      input.addData(loadEvents())
      q.processAllAvailable()
      // sentinels advance the watermark past every open session's
      // timer deadline, forcing timer-driven closes
      input.addData(Seq(sentinel(1))); q.processAllAvailable()
      input.addData(Seq(sentinel(2))); q.processAllAvailable()
      val got = s.table("sessv2_out").filter(col("user_id") >= 0)
        .select("user_id", "session_id", "n_events", "start_sec", "end_sec")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val want = queries.Analytic.sessionize(spark, sf)
        .select("user_id", "session_id", "n_events", "start_sec", "end_sec")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(want.nonEmpty)
      assert(got == want,
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("transformWithState MapState type counts match the batch group-by") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val events = loadEvents()
    val input = MemoryStream[EventStream.Ev](s)
    val q = EventStream.typeCounts(input.toDS())
      .writeStream.format("memory").queryName("mapstate_out")
      .outputMode("update").start()
    try {
      // three batches so most (user, type) sub-keys get updated across
      // micro-batch boundaries — the point-lookup path MapState exists for
      val third = events.length / 3
      events.grouped(third + 1).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      // Update mode re-emits a row per touch; the final count per
      // (user, type) is the max emission
      val got = s.table("mapstate_out")
        .groupBy("user_id", "event_type").agg(max("n").as("n")).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = graft.sources.Tables.events(spark, sf)
        .groupBy("user_id", "event_type").count().collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(want.nonEmpty)
      assert(got == want,
        s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
    } finally q.stop()
  }

  test("transformWithState ListState keeps exactly the last 3 purchases per user") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val events = loadEvents()
    val input = MemoryStream[EventStream.Ev](s)
    val q = EventStream.recentPurchases(input.toDS())
      .writeStream.format("memory").queryName("liststate_out")
      .outputMode("update").start()
    try {
      val third = events.length / 3
      events.grouped(third + 1).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      // the FINAL emission per user carries the greatest n_seen (the
      // processor's strictly-increasing lifetime counter)
      val finalRows = s.table("liststate_out")
        .groupBy("user_id")
        .agg(max(struct(col("n_seen"), col("recent_values"))).as("m"))
      val got = finalRows.collect().map { r =>
        val m = r.getStruct(1)
        r.getLong(0) -> m.getSeq[Double](1).toList
      }.toMap
      val want = graft.sources.Tables.events(spark, sf)
        .filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "value", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3) / 1000000000L))
        .groupBy(_._1)
        .map { case (u, es) =>
          u -> es.sortBy(e => (e._4, e._2)).takeRight(3).map(_._3).toList
        }
      assert(want.nonEmpty)
      want.foreach { case (u, vs) =>
        assert(got.get(u).contains(vs), s"user $u: got=${got.get(u)} want=$vs")
      }
    } finally q.stop()
  }

  test("streaming cents rounding equals the batch DECIMAL(18,2) cast, negatives included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial doubles: exact half-cents on both signs, values whose
    // shortest decimal repr differs from their binary expansion
    val vals = Seq(-0.005, -1.115, -2.675, -0.015, 0.005, 1.005, 2.675, 0.285, -0.285)
    val batch = vals.toDF("v")
      .select((col("v").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .collect().map(_.getLong(0)).toSeq
    // the exact arithmetic UserStatsProcessor runs per event
    val stream = vals.map(v => java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact())
    assert(stream == batch, s"stream=$stream batch=$batch")
    // and math.round would have broken exactly the negative half-cents
    assert(vals.exists(v => math.round(v * 100) !=
      java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()))
  }

  // ---- the oracle-gated bounded-replay queries (StreamQueries) ----
  // Each runs a REAL file-source readStream to completion via
  // AvailableNow; here they are pinned row-for-row to their batch
  // twins (the driver additionally value-checks them against DuckDB).

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("bounded-replay streaming tumbling agg equals the batch twin row-for-row") {
    val got = rowSet(graft.streaming.StreamQueries.tumblingAgg(spark, sf))
    val want = rowSet(queries.Analytic.tumblingWindow(spark, sf))
    assert(want.nonEmpty && got == want)
  }

  test("bounded-replay streaming session windows equal the batch session_window") {
    val got = rowSet(graft.streaming.StreamQueries.sessionAgg(spark, sf))
    val want = rowSet(queries.Analytic.sessionWindowAgg(spark, sf))
    assert(want.nonEmpty && got == want)
  }

  test("streaming dedup of a double-delivered stream equals the single-copy aggregate") {
    import org.apache.spark.sql.functions._
    val got = rowSet(graft.streaming.StreamQueries.dedupAgg(spark, sf))
    val want = rowSet(graft.sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type"))
    assert(want.nonEmpty && got == want)
  }

  test("bounded-replay stream-stream interval join equals the batch range join") {
    val got = rowSet(graft.streaming.StreamQueries.intervalJoin(spark, sf))
    val want = rowSet(queries.Analytic.rangeJoin(spark, sf))
    assert(want.nonEmpty && got == want)
  }

  test("bounded-replay streaming sliding windows equal the batch sliding window") {
    val got = rowSet(graft.streaming.StreamQueries.slidingAgg(spark, sf))
    val want = rowSet(queries.Analytic.slidingWindow(spark, sf))
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("bounded-replay stream-static enrichment equals the tier join in batch") {
    import org.apache.spark.sql.functions._
    // the activity tiers from the whole table, relative to the mean
    // per-user count, joined to every event and rolled up in batch
    val ev = graft.sources.Tables.events(spark, sf)
    val perUser = ev.groupBy("user_id").agg(count(lit(1)).as("n_life"))
    val (total, users) = perUser.agg(sum("n_life"), count(lit(1))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    val tiers = perUser.select(col("user_id"),
      when(col("n_life") * users * 20 >= lit(total) * 21, "heavy")
        .when(col("n_life") * users >= total, "mid").otherwise("light").as("tier"))
    val want = rowSet(ev.join(tiers, "user_id").groupBy("tier", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")))
    val got = rowSet(graft.streaming.StreamQueries.staticEnrich(spark, sf))
    assert(want.map(_.split('|')(0)).size == 3, "the corpus does not fill all three tiers")
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("chaos replay counts every on-time event once and no redelivered copy") {
    import org.apache.spark.sql.functions._
    // batch 1 carries the on-time slice; batch 2 redelivers 10% of the
    // events, which dedup must drop, and batches 3-4 bring late first
    // deliveries of which the watermark drops some. So the total lies
    // between the on-time slice and the event count; counting the
    // redelivered copies would take it to the event count or past it
    val got = graft.streaming.StreamQueries.chaosReplay(spark, sf)
      .agg(sum("n_events")).collect()(0).getLong(0)
    val ev = graft.sources.Tables.events(spark, sf)
    val onTime = ev.filter(col("event_id") % 20 > 1).count()
    val all = ev.count()
    assert(got >= onTime, s"$got below the on-time slice $onTime")
    assert(got < all, s"$got of $all events: redelivered copies were counted")
  }

  test("late-redelivered rows beyond the watermark are dropped, not merged") {
    import org.apache.spark.sql.functions._
    // the late replay must lose exactly the stale slice: its totals
    // are strictly below the full aggregation, and equal it after
    // adding back only late-slice rows from watermark-closed windows
    val got = graft.streaming.StreamQueries.lateDrop(spark, sf)
      .agg(sum("n_events")).collect()(0).getLong(0)
    val full = graft.sources.Tables.events(spark, sf).count()
    assert(got < full, s"no rows were dropped: $got of $full")
    // everything on-time (19/20 of the corpus) must survive
    val onTime = graft.sources.Tables.events(spark, sf)
      .filter(col("event_id") % 20 =!= 0).count()
    assert(got >= onTime)
  }

  test("append-mode tumbling replay emits exactly the watermark-closed window prefix") {
    import org.apache.spark.sql.functions._
    // the production eviction contract: append = complete minus every
    // window whose end the final watermark (max event ms - 2h) never
    // passed. Exact-prefix equality, and the held-back tail must be
    // non-empty (otherwise the mode distinction measured nothing).
    val append = rowSet(graft.streaming.StreamQueries.tumblingAppend(spark, sf))
    val completeDf = graft.streaming.StreamQueries.tumblingAgg(spark, sf)
    val complete = rowSet(completeDf)
    val maxUs = graft.sources.Tables.events(spark, sf)
      .agg(max(expr("ts div 1000")).as("us")).collect()(0).getAs[Long]("us")
    val wmMs = maxUs / 1000 - 2 * 3600 * 1000
    val want = rowSet(completeDf.filter((col("hour_sec") + 3600) * 1000 <= wmMs))
    assert(append == want, s"append=${append.size} closed-prefix=${want.size}")
    assert(append.nonEmpty && append.size < complete.size,
      s"no held-back tail: append=${append.size} complete=${complete.size}")
  }

  test("upsert sink: versioned foreachBatch merge equals the batch profile") {
    import org.apache.spark.sql.functions._
    val got = rowSet(graft.streaming.StreamQueries.upsertSink(spark, sf))
    val ev = graft.sources.Tables.events(spark, sf)
    val want = rowSet(ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("l"))
      .select(col("user_id"), col("n_events"),
        expr("l.ts div 1000000000").as("last_sec"),
        col("l.event_id").as("last_event_id"),
        col("l.event_type").as("last_type"))
      .orderBy("user_id"))
    assert(want.nonEmpty && got == want)
    // the merge must be genuinely incremental: most users span at
    // least two of the three event_id % 3 slices, so their profile
    // rows were UPDATED across micro-batches, not just inserted
    val spanning = ev.groupBy("user_id")
      .agg(countDistinct(expr("event_id % 3")).as("slices"))
      .filter(col("slices") >= 2).count()
    assert(spanning > ev.select("user_id").distinct().count() / 2,
      s"only $spanning users span 2+ micro-batches")
  }

  test("graph maintenance: streamed micro-batch inserts land the batch index state") {
    import org.apache.spark.sql.functions._
    val got = rowSet(graft.streaming.StreamQueries.graphMaintain(spark, sf))
    // the streamed link table must be IDENTICAL to the one-shot
    // batch insert — the batch-partition-invariance contract the
    // oracle reuse rests on
    val want = rowSet(graft.operators.Similarity.graphInsert(spark, sf))
    assert(want.nonEmpty && got == want)
    // a SECOND invocation in the same JVM must work and agree: the
    // staging is marker-guarded, so run 2 exercises the fresh replay
    // session WITHOUT the staging side effects (round-15 regression:
    // kernel registration rode the staging path and run 2 failed
    // analysis on graft_dot)
    assert(rowSet(graft.streaming.StreamQueries.graphMaintain(spark, sf)) == want)
    // the replay was genuinely micro-batched: the arrival slice
    // spans all three staged thirds, so links accumulated across
    // at least two MERGE versions rather than one bulk write
    val arrivals = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 53 === 0)
    val slices = arrivals.select(expr("(vec_id DIV 53) % 3").as("s"))
      .distinct().count()
    assert(slices >= 2, s"arrival slice spans only $slices thirds")
  }

  test("outer-join null rows emit exactly at the watermark eviction boundary") {
    import org.apache.spark.sql.functions._
    // Planted boundary purchases around W = min(max click, max
    // purchase) - 2h = 92800s: null rows must appear for p_sec <= W
    // (NON-strict — the boundary the oracle HAVING clause encodes)
    // and the tail purchase above W must be withheld.
    val T = 100000L
    val rows = Seq(
      (1L, 49000L, 10L, "click", 1.0, "{}"),
      (2L, 50000L, 10L, "purchase", 2.0, "{}"), // matched: 1 click
      (3L, 92799L, 20L, "purchase", 1.0, "{}"), // W-1: emitted
      (4L, 92800L, 21L, "purchase", 1.0, "{}"), // W exactly: emitted
      (5L, 92801L, 22L, "purchase", 1.0, "{}"), // W+1: withheld
      (6L, T, 30L, "click", 1.0, "{}"),         // click watermark anchor
      (7L, T, 31L, "purchase", 1.0, "{}"))      // purchase anchor: withheld
    import spark.implicits._
    val df = rows.toDF("event_id", "sec", "user_id", "event_type", "value", "props")
      .select(col("event_id"), expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val dir = java.nio.file.Files.createTempDirectory("ojspec").toString
    val tmp = s"$dir/__w"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val got = graft.streaming.StreamQueries.outerJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    val want = Set(
      (2L, 1L, Some(49000L: Any), Some(49000L: Any)),
      (3L, 0L, None: Option[Any], None: Option[Any]),
      (4L, 0L, None: Option[Any], None: Option[Any]))
    assert(got == want, s"got $got")
  }

  test("outer join on the sf dir: supersets the inner join with only-null extras") {
    // every inner row appears unchanged, every extra row is an
    // unmatched purchase (0 clicks), and at least one extra exists
    val inner = rowSet(graft.streaming.StreamQueries.intervalJoin(spark, sf))
    val outerDf = graft.streaming.StreamQueries.outerJoin(spark, sf)
    val outer = rowSet(outerDf)
    assert(inner.subsetOf(outer), "inner rows must survive unchanged")
    val extras = outerDf.filter(org.apache.spark.sql.functions.col("n_clicks_1h") > 0)
    assert(rowSet(extras) == inner, "matched outer rows must equal the inner join")
    assert(outer.size > inner.size, "no unmatched purchase below the watermark")
  }

  test("append-mode sliding replay emits exactly the watermark-closed window set") {
    import org.apache.spark.sql.functions._
    val append = rowSet(graft.streaming.StreamQueries.slidingAppend(spark, sf))
    val completeDf = graft.streaming.StreamQueries.slidingAgg(spark, sf)
    val complete = rowSet(completeDf)
    val maxUs = graft.sources.Tables.events(spark, sf)
      .agg(max(expr("ts div 1000")).as("us")).collect()(0).getAs[Long]("us")
    val wmMs = maxUs / 1000 - 2 * 3600 * 1000
    val want = rowSet(completeDf.filter((col("win_start") + 3600) * 1000 <= wmMs))
    assert(append == want, s"append=${append.size} closed=${want.size}")
    assert(append.nonEmpty && append.size < complete.size,
      s"no held-back tail: ${append.size} of ${complete.size}")
  }

  test("native text-signature kernel is bit-identical to the batch aggregate path") {
    import org.apache.spark.sql.functions._
    org.apache.spark.sql.GraftFunctions.register(spark)
    // per-row kernel over raw text vs the explode + native-aggregate
    // batch pipeline: same docs, identical 128-lane signatures
    val docs = graft.sources.Tables.documents(spark, sf)
    val perRow = docs
      .select(col("doc_id"), expr("graft_minhash_text(text)").as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Long](1).toList).toMap
    val viaAgg = graft.operators.Dedup.minhashSigs(
        graft.operators.Dedup.shinglePostings(spark, sf))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Long](r.fieldIndex("sig")).toList).toMap
    assert(perRow.keySet == viaAgg.keySet)
    perRow.foreach { case (id, sig) =>
      assert(sig == viaAgg(id), s"doc $id signature diverges")
    }
  }

  test("streaming lsh dedup: collisions reference even docs only, multiplicity bounded") {
    val rows = graft.streaming.StreamQueries.lshDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("ref_id") % 2 == 0)
      assert(r.getAs[Long]("doc_id") != r.getAs[Long]("ref_id"))
      val b = r.getAs[Long]("band"); assert(b >= 0 && b < 16)
    }
    // a pair collides at most once per band
    val pairBands = rows.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("ref_id"), r.getAs[Long]("band")))
    assert(pairBands.distinct.length == pairBands.length)
  }

  test("a failed bounded replay names its checkpoint dir and still deletes it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_fail").toFile
    try {
      spark.range(3).write.mode("overwrite").parquet(s"$dir/in")
      val failing = spark.readStream.schema("id long").parquet(s"$dir/in")
        .select(expr("if(id >= 0, raise_error('planted replay failure'), id)").as("x"))
      val e = intercept[IllegalStateException](
        graft.streaming.StreamQueries.runBounded(spark, failing, "append"))
      val ckpt = "[^\\s,]*graft_ckpt_[^\\s,]*".r.findFirstIn(e.getMessage)
      assert(ckpt.isDefined, e.getMessage)
      assert(!new java.io.File(ckpt.get).exists, s"${ckpt.get} left behind")
      assert(e.getMessage.contains("last progress"), e.getMessage)
    } finally queries.SourcesSinks.deleteRecursively(dir)
  }

  test("a failed versioned replay names its checkpoint and state dirs and deletes both") {
    val dir = java.nio.file.Files.createTempDirectory("graft_versioned_fail").toFile
    try {
      spark.range(3).write.mode("overwrite").parquet(s"$dir/in")
      val stream = spark.readStream.schema("id long").parquet(s"$dir/in")
      val e = intercept[IllegalStateException](
        graft.streaming.StreamQueries.replayVersioned(stream, "graft_fail_state")(
          (_, _) => throw new RuntimeException("planted batch failure"))(_(spark)))
      for (tag <- Seq("graft_ckpt_", "graft_fail_state")) {
        val p = s"[^\\s,]*$tag[^\\s,]*".r.findFirstIn(e.getMessage)
        assert(p.isDefined, e.getMessage)
        assert(!new java.io.File(p.get).exists, s"${p.get} left behind")
      }
      assert(e.getMessage.contains("last progress"), e.getMessage)
    } finally queries.SourcesSinks.deleteRecursively(dir)
  }

  test("the late replay's landing dir holds its three slices at fixed mtimes, staged once") {
    graft.streaming.StreamQueries.lateDrop(spark, sf).collect()
    val d = new java.io.File(queries.SourcesSinks.tmp(spark, sf, "events_stream_late"))
    def listing: Map[String, Long] = d.listFiles().map(f => f.getName -> f.lastModified).toMap
    val first = listing
    val t0 = 1600000000000L
    // the file source orders the backlog by mtime: on-time, tick, late
    assert(first - "_STAGED" == Map("a_ontime.parquet" -> t0,
      "c_tick.parquet" -> (t0 + 60000), "d_late.parquet" -> (t0 + 120000)), first)
    assert(first.contains("_STAGED"), first)
    val strays = d.getParentFile.listFiles().map(_.getName)
      .filter(n => n.startsWith(d.getName) && n != d.getName)
    assert(strays.isEmpty, strays.mkString(", "))
    graft.streaming.StreamQueries.lateDrop(spark, sf).collect()
    assert(listing == first)
  }

  test("lsh dedup core: planted duplicate collides in all bands, unrelated doc in none") {
    import spark.implicits._
    val base = ("alpha beta gamma " * 20).trim
    val ref = Seq((100L, base), (102L, "totally different reference page " * 10))
      .toDF("doc_id", "text")
    val probe = Seq(
      (1L, base),                        // exact dup of ref 100
      (2L, "unrelated probe text " * 15) // no shared shingles
    ).toDF("doc_id", "text")
    val rows = graft.streaming.StreamQueries.lshDedupOn(probe, ref).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    // identical text -> identical signature -> all 16 bands collide
    assert(byDoc(1L).length == 16, s"got ${byDoc.get(1L).map(_.length)}")
    assert(byDoc(1L).forall(_.getAs[Long]("ref_id") == 100L))
    assert(!byDoc.contains(2L), "unrelated doc must not collide")
  }

  test("a replay session's micro-batch plan casts through the exact decimal kernel") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_cast").toFile
    val s = graft.streaming.StreamQueries.replaySession(spark, finalWatermarkFlush = false)
    val name = "graft_replay_cast_out"
    try {
      spark.range(100).select((col("id") % 7).as("k"), (col("id") / 4.0).as("value"))
        .write.parquet(s"$dir/in")
      val q = s.readStream.schema("k long, value double").parquet(s"$dir/in")
        .groupBy("k").agg(sum(col("value").cast("decimal(18,2)")).as("s"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$dir/ckpt").outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
      assert(plan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.ExactDecimalCast]))), plan.toString)
      assert(s.table(name).agg(sum("s")).head().getDecimal(0) ==
        new java.math.BigDecimal("1237.50"))
    } finally {
      s.catalog.dropTempView(name)
      queries.SourcesSinks.deleteRecursively(dir)
    }
  }

  // a schema job as perfbench tells one apart: a job whose call site is
  // `parquet at …`, here reached through a frame that `fromSite` accepts;
  // counts those the recorder saw start while `build` ran and its rows
  // were collected
  private def schemaJobs(fromSite: String => Boolean)(
      build: => org.apache.spark.sql.DataFrame): (Set[String], Int) = {
    val (rows, rec) = operators.QueryProfile.record(spark)(build)(rowSet)
    (rows, rec.jobs.count(j => j.name.startsWith("parquet at ") && fromSite(j.site)))
  }

  test("a second build of the docs-stream row starts no Parquet schema job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_stream").toFile
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.toPath.resolve("documents.parquet"))
    val fromDocsStream = (site: String) => site.contains("StreamQueries$.docsStream(")
    try {
      val (first, cold) =
        schemaJobs(fromDocsStream)(graft.streaming.StreamQueries.lshDedup(spark, dir.toString))
      assert(cold >= 1, "the cold build infers the staged docs schema")
      val (second, warm) =
        schemaJobs(fromDocsStream)(graft.streaming.StreamQueries.lshDedup(spark, dir.toString))
      assert(warm == 0)
      assert(second == first)
    } finally queries.SourcesSinks.deleteRecursively(dir)
  }

  test("a second build of the graph-maintain row starts no Parquet schema job") {
    // each state version is read through the schema it was written
    // with; the final read is the one a call site names (StreamExecution
    // names every micro-batch job after the stream's `start` call). The
    // staged arrivals are written once per app, and their schema is
    // cached under the replay session's parquet conf, which every child
    // session gets when it is opened: the warm build below infers it
    // (or an earlier case did), and the measured one reads the cache
    graft.streaming.StreamQueries.graphMaintain(spark, sf).collect()
    assert(schemaJobs(_.contains("StreamQueries$.graphMaintain("))(
      graft.streaming.StreamQueries.graphMaintain(spark, sf))._2 == 0)
  }

  test("a second build of the upsert-sink row starts no Parquet schema job") {
    graft.streaming.StreamQueries.upsertSink(spark, sf).collect()
    assert(schemaJobs(_.contains("StreamQueries$.upsertSink("))(
      graft.streaming.StreamQueries.upsertSink(spark, sf))._2 == 0)
  }

  test("a second stream_tumbling_agg replay compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // one count per Janino compile, driver and local executor alike
    def compiled[T](body: => T): (T, Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    val replay = SparkEntry.queries("stream_tumbling_agg")
    val warm = replay(spark, sf).collect()
    val (again, n) = compiled(replay(spark, sf).collect())
    assert(n == 0, s"the second replay compiled $n classes")
    assert(again.toSeq == warm.toSeq)
  }

  // the state-store providers a build of `row` leaves loaded, and the
  // most state-store instances one of its micro-batches reports
  private def replayLeftovers(row: String): (Set[StateStoreProviderId], Long) = {
    val before = GraftFunctions.loadedStateStores().toSet
    val instances = new java.util.concurrent.atomic.AtomicLong
    val progress = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent =>
          instances.accumulateAndGet(
            p.progress.stateOperators.map(_.numStateStoreInstances).sum, math.max(_, _))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(progress)
    // the recorder returns once the listener bus has delivered every
    // event posted before its marker job, the replay's progress included
    try operators.QueryProfile.record(spark)(SparkEntry.queries(row)(spark, sf))(_.collect())
    finally spark.sparkContext.removeSparkListener(progress)
    (GraftFunctions.loadedStateStores().toSet -- before, instances.get)
  }

  // HDFS-backed maps, RocksDB instances, and a join's four store names
  // (both sides' keyToNumValues and keyWithIndexToValue), 8 partitions each
  for ((row, stores) <- Seq("stream_tumbling_agg" -> 8L, "stream_cep_funnels" -> 8L,
      "stream_interval_join" -> 32L))
    test(s"a finished $row replay leaves none of its $stores state stores loaded") {
      val (left, seen) = replayLeftovers(row)
      assert(seen == stores)
      assert(left.isEmpty, left.mkString(", "))
    }

  test("three replays in a row leave the state-store registry as it was") {
    val before = GraftFunctions.loadedStateStores().toSet
    for (row <- Seq("stream_tumbling_agg", "stream_cep_funnels", "stream_interval_join"))
      SparkEntry.queries(row)(spark, sf).collect()
    // Spark's maintenance sweep may unload older providers meanwhile,
    // so the registry can shrink; it must not grow
    val after = GraftFunctions.loadedStateStores().toSet
    assert(after.subsetOf(before), (after -- before).mkString(", "))
  }

  test("a failed stateful replay leaves none of its state stores loaded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_state_fail").toFile
    // one partition: the one stateful task loads its store, then fails
    val s = GraftFunctions.childSession(spark, "spark.sql.shuffle.partitions" -> "1")
    try {
      s.range(3).write.parquet(s"$dir/in")
      val failing = s.readStream.schema("id long").parquet(s"$dir/in")
        .groupBy().count()
        .select(expr("if(count >= 0, raise_error('planted stateful failure'), count)").as("x"))
      val before = GraftFunctions.loadedStateStores().toSet
      val e = intercept[IllegalStateException](
        graft.streaming.StreamQueries.runBounded(s, failing, "complete"))
      assert(e.getMessage.contains("bounded replay"), e.getMessage)
      val left = GraftFunctions.loadedStateStores().toSet -- before
      assert(left.isEmpty, left.mkString(", "))
    } finally queries.SourcesSinks.deleteRecursively(dir)
  }
}
