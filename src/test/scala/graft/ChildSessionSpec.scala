package graft

import org.apache.spark.sql.{AnalysisException, GraftFunctions}
import org.apache.spark.sql.functions._

/** `GraftFunctions.childSession`: graft's session confs and then the
  * caller's land on the child and not on the parent, graft's functions
  * resolve in the child, and a stream's per-start clone of a replay
  * session keeps artifact isolation off. Also graft's registrations on
  * a session's planner hooks, which hold one lock per session. */
class ChildSessionSpec extends SparkSpec {
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  test("a child session carries the caller's confs and leaves the parent's alone") {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "graft.replay.partitions", Isolation)
    val parentBefore = keys.map(spark.conf.getOption)
    val s = GraftFunctions.childSession(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", "graft.replay.partitions" -> "3")
    assert(s ne spark)
    assert(keys.map(s.conf.get) == Seq("-1", "3", "false"))
    assert(keys.map(spark.conf.getOption) == parentBefore)
    // a caller's conf has the last word, isolation included
    assert(GraftFunctions.childSession(spark, Isolation -> "true").conf.get(Isolation) == "true")
  }

  test("a child session starts with graft's session confs, before the caller's") {
    val s = GraftFunctions.childSession(spark.newSession(), "spark.sql.session.timeZone" -> "Asia/Tokyo")
    val want = graft.sources.Tables.sessionConf.toMap + ("spark.sql.session.timeZone" -> "Asia/Tokyo")
    assert(want.keys.map(k => k -> s.conf.get(k)).toMap == want)
  }

  test("graft_dot resolves in a child session and not in a bare new session") {
    val q = "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))"
    assert(GraftFunctions.childSession(spark).sql(q).head().getDouble(0) == 11.0)
    intercept[AnalysisException](spark.newSession().sql(q))
  }

  test("a replay's micro-batch session reads artifact isolation off") {
    val dir = java.nio.file.Files.createTempDirectory("graft_child_session").toFile
    val s = graft.streaming.StreamQueries.replaySession(spark)
    val name = "graft_child_session_out"
    try {
      spark.range(10).select(col("id").as("k")).write.parquet(s"$dir/in")
      val q = s.readStream.schema("k long").parquet(s"$dir/in")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val batch = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper].streamingQuery.lastExecution.sparkSession
      assert(batch ne s, "the micro-batch session is the stream's clone")
      assert(batch.conf.get(Isolation) == "false")
      assert(s.table(name).count() == 10)
    } finally {
      s.catalog.dropTempView(name)
      queries.SourcesSinks.deleteRecursively(dir)
    }
  }

  test("concurrent registrations on one session keep each strategy and rule exactly once") {
    import graft.plans._
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    for (_ <- 1 to 50) {
      val s = spark.newSession()
      val l = s.range(1).select(col("id").as("k"), col("id").as("t"))
      val r = s.range(1).select(col("id").as("rk"), col("id").as("rt"))
      val registrations = Seq[() => Any](
        () => GraftFunctions.register(s),
        () => GraftOptimizations.install(s),
        () => TopK.perKey(l, Seq("k"), Seq("t" -> true), 1),
        () => AsOf.join(l, r, Seq("k" -> "rk"), "t", "rt", Nil),
        () => Band.join(l, r, Seq("k" -> "rk"), "t", "rt", -1L, 0L))
      val go = new java.util.concurrent.CountDownLatch(1)
      // each thread registers everything, starting at its own entry
      val threads = (0 until 4).map { i =>
        new Thread(() =>
          try {
            go.await()
            (registrations.drop(i) ++ registrations.take(i)).foreach(_())
          } catch { case t: Throwable => failures.add(t) })
      }
      threads.foreach(_.start())
      go.countDown()
      threads.foreach(_.join())
      val m = s.experimental
      for (strategy <- Seq(TopKStrategy, AsOfStrategy, BandJoinStrategy))
        assert(m.extraStrategies.count(_ == strategy) == 1, m.extraStrategies)
      assert(m.extraOptimizations.count(_ == graft.functions.ExactDecimalCastRule) == 1,
        m.extraOptimizations)
      assert(m.extraOptimizations.count(_.isInstanceOf[TopKRewrite]) == 1, m.extraOptimizations)
    }
    assert(failures.isEmpty, failures)
  }
}
