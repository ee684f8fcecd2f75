package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.util.control.NonFatal

/** Oracle-checked Structured Streaming queries — the streaming rows
  * of §2.6 driven through the SAME correctness gate as every batch
  * operator, not just through StreamingSpec.
  *
  * Each entry is a REAL readStream file-source pipeline (schema-pinned
  * parquet stream → event-time transforms → stateful operator) run to
  * completion with Trigger.AvailableNow against the bounded sf
  * directory, so its result is deterministic and the driver's DuckDB
  * oracle can value-check it exactly like a batch query. This is the
  * bounded-replay discipline streaming deployments use for backfill
  * and parity testing: the identical query graph runs unbounded in
  * production (see EventStream for the open-ended twins; reference
  * analog: the scan pipeline of hdfs-parquet-scanner.h:1 feeding
  * incremental consumers).
  *
  * Scale notes: in the update/append pipelines the watermark bounds
  * the stateful stores exactly as in the unbounded deployment (dedup
  * state evicts 2h behind the max event time; the interval join holds
  * each side ≤ horizon+1h; [[tumblingAppend]] evicts closed windows).
  * The complete-mode window replays retain every window by the MODE's
  * definition — there it is the bounded replay INPUT, not the
  * watermark, that bounds state; the append row is the one carrying
  * the production eviction contract. The memory sink is the parity-check
  * harness sink only — its contents are localCheckpoint'd off the
  * driver and the temp view dropped immediately, and a production run
  * would land on a file/Kafka sink (StreamingSpec's foreachBatch row
  * covers that path).
  */
object StreamQueries {
  import graft.sources.Tables

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Scratch-dir root for the bounded replay's checkpoint/state
    * artifacts (offsets WAL, commit log, state-store deltas, the
    * foreachBatch version files): RAM-backed when the host offers it
    * (r15, guide §6 — these are per-run scratch, created fresh and
    * deleted on completion, so disk durability buys nothing and every
    * micro-batch pays its fsync/write latency; an unbounded
    * production deployment points checkpointLocation at durable
    * storage precisely because its checkpoints must OUTLIVE the job —
    * a replay's must not). Falls back to java.io.tmpdir when no
    * tmpfs is mounted. */
  private[streaming] def scratchDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    val root =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(root, prefix).toString
  }

  /** Child session sized for the bounded replay. The state-store
    * instance count of every stateful operator equals
    * spark.sql.shuffle.partitions AT STREAM START — it is the
    * stream's state layout, fixed per deployment, not a planner
    * choice. The batch surface keeps the session's 32; a replay over
    * one bounded file is right-sized at 8 (measured: the interval
    * join's per-batch store commit overhead drops 6.0→2.5 s steady
    * at sf0.1, values identical). A 100 TB deployment sets this to
    * its own state parallelism; nothing else here changes.
    *
    * `finalWatermarkFlush = false` additionally disables the no-data
    * micro-batch (r16, guide §1/§5: the zero-row batch costs ~0.9 s
    * of state-store scan+commit per run). The no-data batch exists to
    * advance the watermark PAST the last data and flush/evict — its
    * emissions matter ONLY to operators whose final output rows are
    * produced by watermark passage: append-mode window aggregates and
    * the outer join's null-padded rows keep it; complete/update-mode
    * aggregates, pass-through dedup, inner joins and stateless
    * pipelines emit their full result on data batches, so for them
    * the no-data batch re-reads and commits every state store to emit
    * nothing — pure fixed cost, identical results (the oracle gate
    * and the replay specs hold either way, and an unbounded
    * deployment keeps the default — there the no-data batch is what
    * caps emit latency on an idle feed). */
  private[graft] def replaySession(spark0: SparkSession,
      finalWatermarkFlush: Boolean = true): SparkSession = {
    val s = spark0.newSession()
    // a new session has an empty function registry and no extra
    // optimizer rules; the stream clones this one per micro-batch
    org.apache.spark.sql.GraftFunctions.register(s)
    // parameterized (the parent session's `graft.replay.partitions`
    // conf, else the env var, local default 8): the deployment's state
    // parallelism is a per-installation choice, never a constant tuned
    // to one box. Read from the PARENT session, not a JVM-global
    // property, so two replays built concurrently never see each
    // other's setting.
    s.conf.set("spark.sql.shuffle.partitions",
      spark0.conf.getOption("graft.replay.partitions")
        .orElse(sys.env.get("GRAFT_REPLAY_PARTITIONS")).getOrElse("8"))
    if (!finalWatermarkFlush)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s
  }

  /** The events stream: schema pinned from the batch footer (schema
    * inference is unavailable — and over 100 TB undesirable — for
    * streams), ts normalized to the repo-wide epoch-ns contract by
    * the SAME physical-type dispatch the batch Tables boundary uses,
    * plus a micro-precision event-time column for watermarks. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = stageStreamDir(spark, dir)
    val phys = Tables.parquetSchema(spark, path)
    spark.readStream.schema(phys).parquet(path)
      .withColumn("ts", Tables.epochNsOf(phys, "ts"))
      .withColumn("ts_ts", expr("timestamp_micros(ts div 1000)"))
  }

  /** The file stream source requires a DIRECTORY to monitor (its
    * listing loop is how new files arrive); the test data ships one
    * parquet FILE per table. Stage a per-app scratch directory holding
    * a symlink to the file — zero-copy, and exactly the landing-dir
    * layout an unbounded deployment would watch. Idempotent per
    * (app, sf dir) so repeated bench runs reuse the staging. */
  private def stageStreamDir(spark: SparkSession, dir: String): String =
    synchronized {
      val d = graft.queries.SourcesSinks.tmp(spark, dir, "events_stream_src")
      val link = java.nio.file.Paths.get(d, "events.parquet")
      if (!java.nio.file.Files.exists(link)) {
        java.nio.file.Files.createDirectories(link.getParent)
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$dir/events.parquet"))
      }
      d
    }

  /** The documents stream: same symlink staging as [[eventsStream]]. */
  private def docsStream(spark: SparkSession, dir: String): DataFrame =
    synchronized {
      val d = graft.queries.SourcesSinks.tmp(spark, dir, "docs_stream_src")
      val link = java.nio.file.Paths.get(d, "documents.parquet")
      if (!java.nio.file.Files.exists(link)) {
        java.nio.file.Files.createDirectories(link.getParent)
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$dir/documents.parquet"))
      }
      spark.readStream.schema(Tables.parquetSchema(spark, d)).parquet(d)
    }

  /** Per-ROW MinHash signatures — the whole text → normalize →
    * shingle → 128-lane chain as ONE stateless projection on the
    * NATIVE graft_minhash_text kernel (functions/MinHashText; no
    * aggregation, so it runs identically over a stream batch and a
    * batch relation, and both sides of [[lshDedup]] share this
    * single definition). The interpreted-HOF form of the same chain
    * measured 93 s at sf0.1 — the documented lambda cliff; the
    * kernel runs it in ~2 s. Formula and constants are byte-identical
    * to the batch MinHash pipeline and its oracle replay. */
  private def sigsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr("graft_minhash_text(text)").as("sig"))
      .filter(col("sig").isNotNull)

  /** The 16 band keys of a (doc_id, sig) relation. The CALLER must
    * put a barrier between [[sigsOf]] and this (localCheckpoint in
    * batch, a repartition Exchange in streaming): the 16 band slices
    * each reference `sig`, and without a barrier the optimizer
    * collapses the projections and re-derives the whole shingle→md5→
    * signature chain PER BAND (measured 18 s vs 3 s at sf0.1). */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 15), b -> struct(CAST(b AS BIGINT) AS band,
          |  md5(array_join(transform(slice(sig, b*8+1, 8),
          |    x -> CAST(x AS STRING)), ',')) AS key))""".stripMargin)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** STREAMING near-dup detection against a static reference index —
    * the continuous-crawl production shape: yesterday's corpus (the
    * even doc_ids) is banded ONCE into a static LSH index, and every
    * incoming document streams through the identical per-row
    * signature chain and stream-static joins against it, emitting one
    * (doc, ref, band) collision row per matching band. COMPLETELY
    * STATELESS streaming — no watermark, no state store: the
    * signature is a projection of the document's own text and the
    * reference side is a broadcast — so state neither grows nor
    * evicts and the unbounded deployment runs this exact graph
    * forever. Band multiplicity is part of the contract (a pair
    * colliding in k bands emits k rows — the candidate-strength
    * signal a verify stage prioritizes by); the oracle replays the
    * batch band join bit-for-bit. */
  def lshDedup(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    val joined = lshDedupOn(docsStream(spark, dir),
      Tables.parquet(spark, s"$dir/documents.parquet")
        .filter(col("doc_id") % 2 === 0))
    runBounded(spark, joined, "append")
      .orderBy("doc_id", "ref_id", "band")
  }

  /** Generic core of [[lshDedup]]: band-collision rows of any
    * (doc_id, text) relation — streaming OR batch — against a static
    * (doc_id, text) reference corpus. Returns the unexecuted
    * dataflow so a streaming caller attaches its sink and a batch
    * caller (or a spec with planted frames) just collects. The
    * reference side is banded once and broadcast; the probe side is
    * a stateless per-row projection. */
  def lshDedupOn(probe: DataFrame, refDocs: DataFrame): DataFrame = {
    org.apache.spark.sql.GraftFunctions.register(probe.sparkSession)
    val ref = broadcast(
      bandsOf(sigsOf(refDocs).localCheckpoint())
        .select(col("doc_id").as("ref_id"), col("band"), col("key"))
        .localCheckpoint())
    // the Exchange doubles as the collapse barrier (see bandsOf)
    bandsOf(sigsOf(probe).repartition(col("doc_id")))
      .join(ref, Seq("band", "key"))
      .filter(col("doc_id") =!= col("ref_id"))
      .select("doc_id", "ref_id", "band")
  }

  /** Run a bounded streaming query to completion and hand back its
    * result as a plain DataFrame: AvailableNow drains the backlog and
    * self-terminates; the memory-sink rows are localCheckpoint'd so
    * the temp view can be dropped at once (repeated bench runs must
    * not accumulate sink tables on the driver). */
  private[graft] def runBounded(spark: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_out_${seq.incrementAndGet()}"
    val ckpt = scratchDir("graft_ckpt_")
    // the scratch checkpoint must not outlive the replay even when the
    // query throws — it lives on RAM-backed tmpfs, so a leak costs
    // memory, not just inodes (r16, per-ADVICE). What a failure leaves
    // for diagnosis is the message: the checkpoint path and the last
    // completed batch's progress.
    var started: Option[StreamingQuery] = None
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      started = Some(q)
      q.awaitTermination()
    } catch {
      case NonFatal(e) =>
        val last = started.flatMap(q => Option(q.lastProgress))
          .map(_.json).getOrElse("none")
        throw new IllegalStateException(
          s"bounded replay $name failed (checkpoint $ckpt, deleted); " +
            s"last progress: $last", e)
    } finally {
      graft.queries.SourcesSinks.deleteRecursively(new java.io.File(ckpt))
    }
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  private val D = "decimal(18,2)"

  /** Streaming tumbling-window aggregate — the readStream twin of
    * Analytic.tumblingWindow, sharing its oracle. Watermarked 2h so
    * the unbounded deployment evicts closed windows; complete output
    * because a bounded replay must emit ALL windows including the
    * ones the final watermark never passes (append would hold back
    * the stream's tail hour — the classic parity trap). */
  def tumblingAgg(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts_ts", "2 hours")
      .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
    runBounded(spark, agg, "complete")
      .select(unix_timestamp(col("w.start")).as("hour_sec"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("hour_sec", "event_type")
  }

  /** Append-mode tumbling replay — the PRODUCTION output contract an
    * unbounded deployment runs, driven through the oracle gate. In
    * append mode a window row is emitted exactly once, when the
    * watermark passes its end, and the state store EVICTS it — state
    * stays bounded by the watermark horizon forever, where the
    * complete-mode replays above retain every window (fine for a
    * bounded replay, fatal unbounded). The flip side is the held-back
    * tail: windows the final watermark (max event time − 2h) never
    * passes are withheld, so this result is tumblingAgg MINUS the
    * last ≥2h of windows — the oracle replays exactly that eviction
    * contract (window_end_ms ≤ floor(max_event_us/1000) − 7 200 000,
    * matching Spark's millisecond watermark arithmetic). The final
    * emit itself relies on the no-data micro-batch AvailableNow runs
    * after the backlog drains, purely to advance the watermark and
    * flush closed windows — the same mechanism that caps emit
    * latency in an idle production stream. */
  def tumblingAppend(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts_ts", "2 hours")
      .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
    runBounded(spark, agg, "append")
      .select(unix_timestamp(col("w.start")).as("hour_sec"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("hour_sec", "event_type")
  }

  /** Streaming sliding windows — the readStream twin of
    * Analytic.slidingWindow (1h windows on a 30m slide), sharing its
    * oracle: window() expands each event into its 2 covering windows
    * before the stateful agg, exactly as in batch; complete output
    * for the bounded-replay parity (see tumblingAgg). */
  def slidingAgg(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts_ts", "2 hours")
      .groupBy(window(col("ts_ts"), "1 hour", "30 minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
    runBounded(spark, agg, "complete")
      .select(unix_timestamp(col("win.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** Append-mode sliding replay — [[tumblingAppend]]'s eviction
    * contract for OVERLAPPING windows, completing the append family
    * across all three window kinds: each of an event's 2 covering
    * windows emits independently when the watermark passes ITS end,
    * so at end-of-stream the half-open tail (the last ≥2h of window
    * ends) is withheld per window, not per event. Same oracle
    * boundary as tumblingAppend: window_end_ms ≤ floored-ms watermark. */
  def slidingAppend(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts_ts", "2 hours")
      .groupBy(window(col("ts_ts"), "1 hour", "30 minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
    runBounded(spark, agg, "append")
      .select(unix_timestamp(col("win.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** Streaming session windows — the readStream twin of
    * Analytic.sessionWindowAgg (native session_window, 30 min gap),
    * sharing its oracle. */
  def sessionAgg(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts_ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts_ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("session_value"))
    runBounded(spark, agg, "complete")
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("start_sec"),
        unix_timestamp(col("sw.end")).as("end_sec"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "start_sec")
  }

  /** Append-mode session replay — the production eviction contract
    * for SESSION windows, completing [[tumblingAppend]]'s story for
    * the merging-window case: a session emits once when the watermark
    * passes its end (last event + 30 min gap) and its state evicts;
    * sessions still extendable at end-of-stream (the last ≥2h of
    * activity) are withheld. The oracle replays the same boundary at
    * Spark's precision: session_end_µs ≤ (max event ms − 2h)·1000,
    * on top of the batch lag/island sessionization. */
  def sessionAppend(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0)
    val agg = eventsStream(spark, dir)
      .withWatermark("ts_ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts_ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("session_value"))
    runBounded(spark, agg, "append")
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("start_sec"),
        unix_timestamp(col("sw.end")).as("end_sec"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "start_sec")
  }

  /** Three-file staging for the LATE-DATA replay: a 5% slice of
    * events (event_id % 20 == 0) is withheld from the first file and
    * delivered LAST, after a small "tick" slice (% 20 == 1) — the
    * at-least-once redelivery / out-of-order upstream a real feed
    * produces. Three files because of Spark's two-watermark batch
    * contract (late-events filtering uses the PREVIOUS batch's
    * watermark, state eviction the current one): the tick batch is
    * what activates the on-time batch's watermark for late-event
    * filtering, so the third batch's stale rows are genuinely
    * dropped. The file source orders its backlog by mtime, so with
    * maxFilesPerTrigger=1 the batch order is deterministic. */
  private def stageLateDir(spark: SparkSession, dir: String): String =
    synchronized {
      val d = graft.queries.SourcesSinks.tmp(spark, dir, "events_stream_late")
      val marker = java.nio.file.Paths.get(d, "_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        val ev = spark.read.parquet(s"$dir/events.parquet")
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
            mtime: Long): Unit = {
          val tmpDir = s"$d/__tmp_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
          val part = new java.io.File(tmpDir).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(d, s"$name.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(mtime): Unit
          graft.queries.SourcesSinks.deleteRecursively(new java.io.File(tmpDir))
        }
        val t0 = 1600000000000L // fixed epoch-ms: replay-stable ordering
        writeOne(ev.filter(col("event_id") % 20 > 1), "a_ontime", t0)
        writeOne(ev.filter(col("event_id") % 20 === 1), "c_tick", t0 + 60000)
        writeOne(ev.filter(col("event_id") % 20 === 0), "d_late", t0 + 120000)
        java.nio.file.Files.createFile(marker)
      }
      d
    }

  /** Four-file staging for the CHAOS replay — the message-bus
    * stand-in (no broker ships in this sandbox): one feed exhibiting
    * ALL THREE at-least-once pathologies at once, each batch
    * md5-shuffled so even within a file arrival order ≠ event time.
    *   a_bulk (batch 1): 90% of events — establishes the watermark.
    *   b_dup  (batch 2): exact REDELIVERIES of the %20∈{2,3} slice —
    *     recent copies meet live dedup state, stale copies meet the
    *     late filter; exactly-once must hold through BOTH paths.
    *   c_new  (batch 3): first deliveries arriving OUT OF ORDER —
    *     only those still inside the lateness SLA survive.
    *   d_strag(batch 4): the straggler slice, mostly beyond SLA. */
  private def stageChaosDir(spark: SparkSession, dir: String): String =
    synchronized {
      val d = graft.queries.SourcesSinks.tmp(spark, dir, "events_stream_chaos")
      val marker = java.nio.file.Paths.get(d, "_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        val ev = spark.read.parquet(s"$dir/events.parquet")
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
            mtime: Long): Unit = {
          val tmpDir = s"$d/__tmp_$name"
          df.orderBy(md5(col("event_id").cast("string")))
            .coalesce(1).write.mode("overwrite").parquet(tmpDir)
          val part = new java.io.File(tmpDir).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(d, s"$name.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(mtime): Unit
          graft.queries.SourcesSinks.deleteRecursively(new java.io.File(tmpDir))
        }
        val t0 = 1600000000000L
        writeOne(ev.filter(col("event_id") % 20 > 1), "a_bulk", t0)
        writeOne(ev.filter(col("event_id") % 20 === 2 ||
          col("event_id") % 20 === 3), "b_dup", t0 + 60000)
        writeOne(ev.filter(col("event_id") % 20 === 1), "c_new", t0 + 120000)
        writeOne(ev.filter(col("event_id") % 20 === 0), "d_strag", t0 + 180000)
        java.nio.file.Files.createFile(marker)
      }
      d
    }

  /** The chaos landing-dir implementation of the broker seam
    * ([[EventFeed]]): staged multi-batch files arriving as one
    * micro-batch each in mtime order (maxFilesPerTrigger=1) — the
    * at-least-once, out-of-order transport every downstream consumer
    * is proven against. A deployment swaps THIS class for a broker
    * reader; the consumers never change. */
  private[streaming] final class ChaosFileFeed(dir: String) extends EventFeed {
    def stream(spark: SparkSession): DataFrame = {
      val path = stageChaosDir(spark, dir)
      val phys = Tables.parquetSchema(spark, s"$dir/events.parquet")
      spark.readStream.schema(phys)
        .option("maxFilesPerTrigger", "1").parquet(path)
        .withColumn("ts", Tables.epochNsOf(phys, "ts"))
        .withColumn("ts_ts", expr("timestamp_micros(ts div 1000)"))
    }
  }

  /** CHAOS replay — out-of-order arrival AND duplicate redelivery in
    * ONE feed through watermarked exactly-once dedup: the
    * watermark-semantics torture test a file-source single-file
    * replay can never produce, standing in for a real message bus.
    * Batch 2's redelivered copies must ALL be suppressed — the
    * recent ones by live dedup state (their first copy's state
    * expires at event time + 2 h, which is provably after batch 1's
    * watermark), the stale ones by the late filter (their event time
    * is behind it); the two mechanisms tile the time axis with no
    * gap, which is WHY dropDuplicatesWithinWatermark can guarantee
    * exactly-once with bounded state. Batches 3 and 4 carry first
    * deliveries arriving late: only rows inside the lateness SLA
    * (event time strictly past the PREVIOUS batch's ms-floored
    * watermark — Spark's two-watermark contract, same as
    * [[lateDrop]]) survive to the sink; the rest are the data a
    * deployment silently loses. The oracle replays the surviving
    * population exactly from the batch boundaries. */
  def chaosReplay(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    val deduped = new ChaosFileFeed(dir).stream(spark)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_ts"))
      .withWatermark("ts_ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
    runBounded(spark, deduped, "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** LATE-DATA DROP accounting — the out-of-order contract an
    * unbounded deployment lives with, which the single-file replays
    * above never exercise: once the watermark from the first two
    * batches is active for late-event filtering, rows of the
    * final (late-redelivered) batch whose window closed are DROPPED
    * by the stateful aggregation — exactly the data a production
    * pipeline silently loses when an upstream redelivers beyond the
    * lateness SLA (numRowsDroppedByWatermark is the metric that
    * counts them; the probe measured all 50 planted late rows
    * landing there). Update output (complete mode never drops —
    * the mode keeps all state, so nothing is "too late"); the
    * newest per-window emission wins in the parity fold (counts are
    * monotone). The oracle replays the drop rule exactly: a late
    * row survives iff its window END is beyond the late-filter
    * watermark (max on-time∪tick event ms − 2 h), per Spark's
    * previous-batch watermark contract. */
  def lateDrop(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    val path = stageLateDir(spark, dir)
    val phys = Tables.parquetSchema(spark, s"$dir/events.parquet")
    val stream = spark.readStream.schema(phys)
      .option("maxFilesPerTrigger", "1").parquet(path)
      .withColumn("ts", Tables.epochNsOf(phys, "ts"))
      .withColumn("ts_ts", expr("timestamp_micros(ts div 1000)"))
    val agg = stream
      .withWatermark("ts_ts", "2 hours")
      .groupBy(window(col("ts_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
    runBounded(spark, agg, "update")
      .groupBy(unix_timestamp(col("w.start")).as("hour_sec"), col("event_type"))
      .agg(max(struct(col("n_events"), col("sum_value"))).as("s"))
      .select(col("hour_sec"), col("event_type"),
        col("s.n_events").as("n_events"), col("s.sum_value").as("sum_value"))
      .orderBy("hour_sec", "event_type")
  }

  /** Streaming exact dedup under duplicate delivery: the same file
    * read by TWO independent stream sources and unioned — every event
    * arrives exactly twice, the at-least-once redelivery a real feed
    * produces — then watermarked dropDuplicatesWithinWatermark
    * restores exactly-once. The oracle is the plain per-type batch
    * aggregate of the ORIGINAL table: the check passes only if dedup
    * removed every planted duplicate and nothing else. Aggregation
    * happens in batch over the sunk rows (chaining a second stateful
    * operator behind dedup is append-only territory; the parity
    * replay needs the complete result). */
  def dedupAgg(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    def side(): DataFrame = eventsStream(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_ts"))
    val deduped = side().unionAll(side())
      .withWatermark("ts_ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
    runBounded(spark, deduped, "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Streaming CEP through the oracle gate — the transformWithState
    * FunnelProcessor (EventStream.scala: constant-size automata per
    * user, O(active users) state) replayed bounded and value-checked
    * against the batch MATCH_RECOGNIZE oracle (ev_pattern_match).
    * Update mode emits one running-totals row per (micro-batch,
    * touched user); the newest per user — n_events is strictly
    * increasing across emissions, the documented tiebreaker — must
    * equal the batch regex scan exactly. Intra-batch fold order is
    * (event time at the stream's MICROSECOND precision — Spark's
    * TimestampType ceiling; ts_ts is `ts div 1000` — then getNanos,
    * then event_id). The batch oracle orders by full-precision ts:
    * the two agree unless one user has two events in the same
    * microsecond whose event_id order disagrees with their ns order
    * — not constructible from a TimestampType stream at all, and not
    * present in any data generation (the parity spec would catch a
    * generation that plants one). */
  def cepFunnels(spark0: SparkSession, dir: String): DataFrame = {
    // arbitrary-state v2 requires the RocksDB state store; run on a
    // child session so the provider choice never leaks into the
    // caller's other streaming queries
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    val evs = eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ts").as("ts"),
        col("event_type"), col("value"))
      .as[EventStream.Ev]
    val out = EventStream.funnels(evs).toDF()
    runBounded(spark, out, "update")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_strict_funnels"),
        col("has_gap_funnel"), col("max_error_run"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.n_strict_funnels").as("n_strict_funnels"),
        col("s.has_gap_funnel").as("has_gap_funnel"),
        col("s.max_error_run").as("max_error_run"))
      .orderBy("user_id")
  }

  /** Stream-stream interval join, purchases ⋈ preceding-hour clicks —
    * the readStream twin of Analytic.rangeJoin, sharing its oracle.
    * Both sides are unbounded streams; the watermarks + two-sided
    * time bound let the join evict state older than horizon + 1h, so
    * store size tracks the time window, not stream length. Inner
    * joins emit eagerly per micro-batch, so a bounded replay loses no
    * tail rows in append mode; the per-purchase rollup runs in batch
    * over the sunk pairs. */
  def intervalJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    // event time truncated to SECONDS so the join bound is the exact
    // integer-second predicate the batch twin and the oracle use —
    // sub-second precision in the bound would flip boundary pairs
    val (purchases, clicks) = joinSides(spark, dir)
    val pairs = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
    runBounded(spark, pairs, "append")
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_clicks_1h"),
        min("c_sec").as("first_click_sec"),
        max("c_sec").as("last_click_sec"))
      .orderBy("purchase_id")
  }

  /** The two watermarked sides of the purchase⋈click interval joins
    * (see [[intervalJoin]] for the second-truncation rationale). */
  private def joinSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        expr("timestamp_seconds(ts div 1000000000)").as("c_ts"),
        expr("ts div 1000000000").as("c_sec"))
      .withWatermark("c_ts", "2 hours")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        expr("timestamp_seconds(ts div 1000000000)").as("p_ts"),
        expr("ts div 1000000000").as("p_sec"))
      .withWatermark("p_ts", "2 hours")
    (purchases, clicks)
  }

  /** Three-file staging for the multi-batch UPSERT replay: events
    * split by event_id % 3 with strictly increasing mtimes, so
    * maxFilesPerTrigger=1 yields three deterministic micro-batches —
    * each containing a fresh slice of most users' histories, forcing
    * genuine cross-batch updates (not first-batch inserts only). */
  private def stageUpsertDir(spark: SparkSession, dir: String): String =
    synchronized {
      val d = graft.queries.SourcesSinks.tmp(spark, dir, "events_stream_upsert")
      val marker = java.nio.file.Paths.get(d, "_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        val ev = spark.read.parquet(s"$dir/events.parquet")
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
            mtime: Long): Unit = {
          val tmpDir = s"$d/__tmp_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
          val part = new java.io.File(tmpDir).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(d, s"$name.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(mtime): Unit
          graft.queries.SourcesSinks.deleteRecursively(new java.io.File(tmpDir))
        }
        val t0 = 1600000000000L
        writeOne(ev.filter(col("event_id") % 3 === 0), "a_first", t0)
        writeOne(ev.filter(col("event_id") % 3 === 1), "b_second", t0 + 60000)
        writeOne(ev.filter(col("event_id") % 3 === 2), "c_third", t0 + 120000)
        java.nio.file.Files.createFile(marker)
      }
      d
    }

  /** foreachBatch MERGE upsert — the dominant PRODUCTION sink shape
    * (Structured Streaming → per-micro-batch MERGE INTO a keyed
    * table) driven through the oracle gate. Each micro-batch folds to
    * per-user partials (count + argmax-by-(ts, event_id) last event —
    * both MERGEABLE, so the per-batch shuffle carries users touched
    * this batch, not history), then reconciles into the profile table
    * by one FULL OUTER key join (the sink_merge_upsert combine). The
    * exactly-once contract is IDEMPOTENT WRITES KEYED BY batchId:
    * batch b reads profile version v_b and overwrites v_{b+1}, so a
    * replayed batch rewrites the same version with the same bytes
    * instead of double-counting — the checkpoint/sink handshake every
    * foreachBatch deployment relies on (a Delta MERGE gets this from
    * txn versioning; plain parquet needs the version-per-batchId
    * discipline shown here). Three real micro-batches
    * (maxFilesPerTrigger=1 over mtime-ordered thirds) make the MERGE
    * genuinely incremental: most users exist in all three slices, so
    * their counts accumulate and their last-event payloads are
    * REPLACED twice before the final read. No watermark: this
    * pipeline is stateless inside Spark — all state lives in the
    * versioned profile table, which is why the pattern scales to
    * unbounded key domains that a state store cannot hold. */
  def upsertSink(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0)
    val path = stageUpsertDir(spark, dir)
    val phys = Tables.parquetSchema(spark, s"$dir/events.parquet")
    val stream = spark.readStream.schema(phys)
      .option("maxFilesPerTrigger", "1").parquet(path)
      .withColumn("ns", Tables.epochNsOf(phys, "ts"))
      .select(col("user_id"), col("ns"), col("event_id"), col("event_type"))
    val base = scratchDir("graft_upsert_state")
    val ckpt = scratchDir("graft_ckpt_")
    val lastVersion = new java.util.concurrent.atomic.AtomicLong(0L)

    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val agg = batch.groupBy("user_id")
          .agg(count(lit(1)).as("b_n"),
            max(struct(col("ns"), col("event_id"), col("event_type")))
              .as("b_last"))
        val prev = s"$base/v$id"
        val merged =
          if (!new java.io.File(prev).exists()) {
            agg.select(col("user_id"), col("b_n").as("n_events"),
              col("b_last").as("last"))
          } else {
            val state = s.read.parquet(prev)
            state.join(agg, Seq("user_id"), "full_outer")
              .select(col("user_id"),
                (coalesce(col("n_events"), lit(0L)) +
                  coalesce(col("b_n"), lit(0L))).as("n_events"),
                when(col("last").isNull, col("b_last"))
                  .when(col("b_last").isNull, col("last"))
                  .when(col("b_last") > col("last"), col("b_last"))
                  .otherwise(col("last")).as("last"))
          }
        // idempotence: the write is keyed by batchId — a replay of
        // batch `id` overwrites v_{id+1} with identical bytes
        merged.write.mode("overwrite").parquet(s"$base/v${id + 1}")
        lastVersion.set(math.max(lastVersion.get(), id + 1))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val out = spark.read.parquet(s"$base/v${lastVersion.get()}")
        .select(col("user_id"), col("n_events"),
          expr("last.ns div 1000000000").as("last_sec"),
          col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_type"))
        .orderBy("user_id")
        .localCheckpoint(true)
      out
    } finally {
      // both scratch trees live on RAM-backed tmpfs — delete on every
      // path so repeated bench runs cannot accumulate (r16, per-ADVICE)
      graft.queries.SourcesSinks.deleteRecursively(new java.io.File(ckpt))
      graft.queries.SourcesSinks.deleteRecursively(new java.io.File(base))
    }
  }

  /** Three-file staging of the graph-ANN ARRIVAL slice (vec_id ≡ 0
    * mod 53 — the ingest batch the base graph was built without),
    * split by (vec_id / 53) % 3 with strictly increasing mtimes so
    * maxFilesPerTrigger=1 replays three deterministic micro-batches
    * of new vectors. */
  private def stageGraphArrivalsDir(spark: SparkSession, dir: String): String =
    synchronized {
      val d = graft.queries.SourcesSinks.tmp(spark, dir, "emb_stream_arrivals")
      val marker = java.nio.file.Paths.get(d, "_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        val emb = Tables.embeddings(spark, dir).filter(col("vec_id") % 53 === 0)
        def writeOne(df: org.apache.spark.sql.DataFrame, name: String,
            mtime: Long): Unit = {
          val tmpDir = s"$d/__tmp_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
          val part = new java.io.File(tmpDir).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dst = new java.io.File(d, s"$name.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(mtime): Unit
          graft.queries.SourcesSinks.deleteRecursively(new java.io.File(tmpDir))
        }
        val t0 = 1600000000000L
        writeOne(emb.filter(expr("(vec_id DIV 53) % 3 = 0")), "a_first", t0)
        writeOne(emb.filter(expr("(vec_id DIV 53) % 3 = 1")), "b_second", t0 + 60000)
        writeOne(emb.filter(expr("(vec_id DIV 53) % 3 = 2")), "c_third", t0 + 120000)
        java.nio.file.Files.createFile(marker)
      }
      d
    }

  /** STREAMING graph-ANN index maintenance — the index lifecycle
    * made continuous: each micro-batch of arriving vectors runs
    * [[graft.operators.Similarity]]'s search-then-link insertion
    * (the HNSW insert primitive ann_graph_insert grades in batch)
    * and MERGEs its links into the persistent index state under
    * [[upsertSink]]'s exactly-once contract — idempotent writes
    * keyed by batchId, so a replayed batch rewrites the same version
    * with the same bytes instead of duplicating links. Arrivals
    * search the BASE index (per-probe state only, arrivals never
    * interact), so the final link table is batch-partition-invariant
    * and IDENTICAL to the one-shot batch insert — the property that
    * lets the DuckDB oracle replay the whole streamed lifecycle as
    * the batch chain, and the contract a deployment would verify
    * before switching ingest from nightly rebuilds to continuous
    * maintenance. Output: the batch insert audit (per-arrival links
    * vs exact top-M over the base corpus) served from the STREAMED
    * index state. At 100 TB each micro-batch costs
    * O(batch·rounds·beam·M) scores against the persistent graph —
    * never a rebuild, never corpus×corpus. */
  def graphMaintain(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0)
    val path = stageGraphArrivalsDir(spark, dir)
    // schema from the STAGED files (canonical Tables.embeddings
    // types), not the raw table — the staging wrote canonicalized
    // columns and the stream must read what was staged
    val phys = spark.read.parquet(s"$path/a_first.parquet").schema
    val stream = spark.readStream.schema(phys)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(path)
    val base = scratchDir("graft_graph_state")
    val ckpt = scratchDir("graft_ckpt_")
    val lastVersion = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        // the micro-batch session is the stream's own clone; make the
        // kernel registration explicit rather than inherited
        org.apache.spark.sql.GraftFunctions.register(s)
        val arrivals = graft.operators.Vectors.asDouble(
            batch.select(col("vec_id").cast("long"), col("embedding")))
          .select(col("vec_id").as("probe_id"), col("vd").as("pv"),
            graft.operators.Vectors.norm(col("vd")).as("pnrm"))
        val links = graft.operators.Similarity
          .insertLinksFor(s, dir, arrivals)
        val prev = s"$base/v$id"
        val merged =
          if (!new java.io.File(prev).exists()) links
          else s.read.parquet(prev).unionByName(links)
        // idempotence: keyed by batchId — a replay of batch `id`
        // overwrites v_{id+1} with identical bytes
        merged.write.mode("overwrite").parquet(s"$base/v${id + 1}")
        lastVersion.set(math.max(lastVersion.get(), id + 1))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      // grade on the BATCH session (32 shuffle partitions): the audit
      // is the batch-surface brute-force pass, not part of the replay
      val streamedLinks = spark0.read.parquet(s"$base/v${lastVersion.get()}")
      graft.operators.Similarity
        .gradeInsertLinks(spark0, dir, streamedLinks, auditSampleMod = 1L)
        .localCheckpoint(true)
    } finally {
      // both scratch trees live on RAM-backed tmpfs — delete on every
      // path so repeated bench runs cannot accumulate (r16, per-ADVICE)
      graft.queries.SourcesSinks.deleteRecursively(new java.io.File(ckpt))
      graft.queries.SourcesSinks.deleteRecursively(new java.io.File(base))
    }
  }

  /** Stream-static enrichment — the OTHER ubiquitous production join:
    * each micro-batch joins against a STATIC dimension snapshot (here
    * a batch-computed per-user activity tier). No state store at all —
    * the static side is re-planned per micro-batch (broadcast when
    * small, the usual dimension case), so this scales to any stream
    * length with zero streaming state; the tradeoff vs [[upsertSink]]
    * is snapshot semantics (the dimension is frozen at plan time,
    * updates need a restart or a Delta-style reload). The rollup runs
    * in batch over the sunk enriched rows; the oracle is the same
    * join expressed fully in batch. */
  def staticEnrich(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0, finalWatermarkFlush = false)
    // the dimension snapshot: per-user lifetime event tier, computed
    // batch-side from the same landing data a real dim table would
    // be. Tiers are RELATIVE to the corpus mean (cross-multiplied, so
    // the comparison is exact integer): ≥5% above mean = heavy,
    // ≥ mean = mid — absolute thresholds would collapse to one tier
    // as the per-user volume scales with sf
    val perUser = Tables.parquet(spark, stageStreamDir(spark, dir) + "/events.parquet")
      .groupBy("user_id").agg(count(lit(1)).as("n_life"))
    val totals = perUser.agg(sum("n_life").as("total"),
      count(lit(1)).as("n_users"))
    val tiers = perUser.crossJoin(broadcast(totals))
      .select(col("user_id"),
        when(col("n_life") * col("n_users") * 20 >= col("total") * 21, "heavy")
          .when(col("n_life") * col("n_users") >= col("total"), "mid")
          .otherwise("light").as("tier"))
    val enriched = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .join(tiers, Seq("user_id"))
    runBounded(spark, enriched, "append")
      .groupBy("tier", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .orderBy("tier", "event_type")
  }

  /** LEFT OUTER stream-stream interval join — the production contract
    * [[intervalJoin]] cannot express: purchases with NO preceding-hour
    * click must still be reported (n_clicks_1h = 0), and in a
    * stream-stream join that null-padded row can only be emitted once
    * the watermark PROVES no matching click can still arrive. Matched
    * pairs emit eagerly per micro-batch exactly as in the inner join;
    * an unmatched purchase's null row emits when its state evicts —
    * Spark solves the join condition for the left side's state value
    * watermark (c_ts < p_ts ⇒ a future click with c_ts ≥ W can only
    * match purchases with p_ts > W), so purchases at or below the
    * final watermark finalize and the stream's last ≤2h of unmatched
    * purchases are withheld — the same held-back-tail contract as
    * [[tumblingAppend]], here on the JOIN state rather than a window
    * store. The final no-data micro-batch AvailableNow schedules after
    * the backlog is what advances the watermark and flushes them. The
    * oracle replays the batch left join plus exactly that eviction
    * rule (matched purchases always; unmatched only with
    * p_sec·1000 < min-side watermark ms − 7 200 000 − the boundary
    * StreamOuterSpec pins against planted boundary purchases). State
    * stays bounded by horizon + 1h per side, as in the inner join. */
  def outerJoin(spark0: SparkSession, dir: String): DataFrame = {
    val spark = replaySession(spark0)
    val (purchases, clicks) = joinSides(spark, dir)
    val pairs = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"), "left_outer")
    runBounded(spark, pairs, "append")
      .groupBy("purchase_id")
      .agg(count(col("c_sec")).as("n_clicks_1h"),
        min("c_sec").as("first_click_sec"),
        max("c_sec").as("last_click_sec"))
      .orderBy("purchase_id")
  }
}
