package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("brute-force topk: 10 ranked neighbors per probe, cosine-descending") {
    val rows = operators.Similarity.bruteForceTopK(spark, sf).collect()
    val byProbe = rows.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size == 5)
    byProbe.foreach { case (pid, rs) =>
      assert(rs.length == 10)
      assert(rs.forall(_.getAs[Long]("vec_id") != pid))
      val ordered = rs.sortBy(_.getAs[Long]("rank"))
      val cos = ordered.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivf topk: k results per probe, all drawn from probed cells") {
    val rows = operators.Similarity.ivfTopK(spark, sf).collect()
    val byProbe = rows.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size == 5)
    byProbe.foreach { case (_, rs) =>
      assert(rs.length == 10)
      // ≤ NProbe distinct cells contributed
      assert(rs.map(_.getAs[Long]("cell")).distinct.length <= operators.Similarity.NProbe)
    }
  }

  test("ivf plan is window-free: assignment folds through a hash agg, not a sort") {
    // the per-vector nearest-centroid pick and the probe-cell pick
    // must not plan a WindowExec (per-partition sort); assignment is
    // a per-row greatest() projection, probe cells ride TopKPerKey
    val plan = operators.Similarity.ivfTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(3000))
    assert(plan.contains("TopKPerKey"), plan.take(3000))
  }

  test("ivf assignment is shuffle-free: zero exchanges before the probe-cell join") {
    // the nearest-centroid pick depends only on the row itself, so the
    // streamed (corpus) side of the probe-cell join must carry NO
    // shuffle exchange at all — the only exchanges allowed anywhere in
    // the assignment plan live under broadcast subtrees (the one-row
    // centroid build side)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def streamedShuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => streamedShuffles(a.executedPlan)
      case _: BroadcastExchangeLike => 0
      case s: ShuffleExchangeLike => 1 + s.children.map(streamedShuffles).sum
      case other => other.children.map(streamedShuffles).sum
    }
    val df = operators.Similarity.assignedVectors(spark, sf)
    val plan = df.queryExecution.executedPlan
    assert(streamedShuffles(plan) == 0, plan.toString.take(3000))
    // and the assignment output is exactly one row per corpus vector
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(df.count() == n)
    val cells = df.select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < operators.Similarity.NumCells))
  }

  test("ivf indexed: staged-index query matches the in-memory trained plan and prunes cells") {
    // the persistent index ships the TrainIters-Lloyd-trained
    // quantizer, so its ground truth is the trained in-memory search
    // (ivfTopK keeps the 0-iteration quantizer for the one-shot path)
    val direct = operators.Similarity.ivfTopKTrained(spark, sf)
      .collect().map(_.toSeq).toSeq
    val indexed = operators.Similarity.ivfIndexed(spark, sf)
    assert(indexed.collect().map(_.toSeq).toSeq == direct)
    // the probe-cell join key IS the on-disk partition column, so the
    // scan over the staged inverted lists must carry a runtime
    // partition filter (dynamic partition pruning) — only probed
    // cells' files are read at query time
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(4000))
    // the manifest records the data-derived sizing: ncells = ⌊√N⌋
    // (occupancy-targeted), the N it derives from, and the training
    // depth — the validation record a reader checks before serving
    val idx = graft.queries.SourcesSinks.tmp(spark, sf, "ivf_index")
    val m = spark.read.parquet(s"$idx/manifest").collect()
    assert(m.length == 1)
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(m(0).getAs[Long]("n_vectors") == n)
    assert(m(0).getAs[Long]("ncells") == math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong))
    assert(m(0).getAs[Int]("train_iters") == operators.Similarity.TrainIters)
  }

  test("ivf recall@10 vs brute force meets the floor") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val bf = pairs(operators.Similarity.bruteForceTopK(spark, sf))
    val ivf = pairs(operators.Similarity.ivfTopK(spark, sf))
    val recall = (bf intersect ivf).size.toDouble / bf.size
    info(f"ivf recall@10 = $recall%.2f")
    // The corpus is random vectors (no planted cluster structure), the
    // worst case for IVF: neighbors spread across cells and probing
    // 4/16 cells bounds expected recall near 4/16. The floor asserts
    // the probe-side pruning logic recovers at least a conservative
    // share of the true top-10 without making the test flaky.
    assert(recall >= 0.15, f"ivf recall@10 $recall%.2f below floor 0.15")
  }

  test("graph ANN: beam search recall meets the floor, ranks complete, plan is window-free") {
    val rows = operators.Similarity.graphTopK(spark, sf)
    val collected = rows.collect()
    // 10 complete ranks per probe, scores non-increasing in rank
    val byProbe = collected.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size == 5)
    byProbe.foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 10L), s"probe $p ranks")
      val scores = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("score_micro"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"probe $p order")
      assert(rs.forall(_.getAs[Long]("vec_id") != p), "self must not be returned")
    }
    // recall floor vs exact: the beam visits ~rounds·beam·M vectors,
    // far under N, yet must recover most of the true top-10 — the
    // property that makes the graph family the serving index. The
    // measured values are 0.8-1.0 at both driver SFs; 0.5 keeps the
    // assertion robust to corpus regeneration.
    val rec = operators.Similarity.graphRecall(spark, sf).collect()
    val mean = rec.map(_.getAs[Double]("recall")).sum / rec.length
    info(f"graph ANN mean recall@10 = $mean%.2f")
    assert(mean >= 0.5, f"graph ANN recall $mean%.2f below floor")
    // no WindowExec anywhere: beams and the final ranks ride the
    // native bounded-heap TopKPerKey
    val plan = rows.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("beam sweep: each width's visited set equals that width's search alone") {
    import operators.Similarity.{GraphBeam, GraphTuningBeams}
    def visited(df: DataFrame): Set[(Long, Long, Long)] =
      df.select("probe_id", "vec_id", "score_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sweep = operators.Similarity.beamSweepVisited(spark, sf, GraphTuningBeams)
    // the widest width, which the sweep ranks at, and the narrowest,
    // which only its rank cut separates from the widest
    for (w <- Seq(GraphBeam, GraphTuningBeams.min)) {
      val alone = visited(operators.Similarity.beamSearchVisited(spark, sf, w))
      assert(alone.nonEmpty)
      assert(visited(sweep.filter(col("beam") === w)) == alone, s"width $w")
    }
  }

  test("flattened beam: served scores equal cosines recomputed from raw vectors") {
    // r16 internals change: the beam loop scores expansions from the
    // DESTINATION PAYLOAD staged on the adjacency (not a per-round
    // corpus join) and deduplicates re-reached vertices by aggregate
    // (not an anti-join). Two invariants pin the rewrite: (a) every
    // (probe, vec) appears once per rank — no duplicate survived the
    // dedup; (b) each served score_micro equals floor(cosine·1e6)
    // recomputed directly from the raw embedding table with the same
    // fold — the payload-path score is bit-identical to the
    // corpus-path score it replaced.
    val topk = operators.Similarity.graphTopK(spark, sf)
    val pairs = topk.select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, "duplicate (probe, vec) served")
    val v = operators.Vectors.asDouble(sources.Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("vd"),
        operators.Vectors.norm(col("vd")).as("nrm"))
    val recomputed = topk
      .join(v.select(col("vec_id").as("probe_id"), col("vd").as("pv"),
        col("nrm").as("pnrm")), "probe_id")
      .join(v.select(col("vec_id"), col("vd"), col("nrm").as("vnrm")), "vec_id")
      .select(col("probe_id"), col("vec_id"), col("score_micro"),
        floor(operators.Vectors.cosinePre(col("pv"), col("vd"),
          col("pnrm"), col("vnrm")) * lit(1e6)).cast("long").as("expect"))
      .collect()
    recomputed.foreach { r =>
      assert(r.getAs[Long]("score_micro") == r.getAs[Long]("expect"),
        s"probe ${r.getLong(0)} vec ${r.getLong(1)}")
    }
  }

  test("trained quantizer recall meets a floor above the untrained bound") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val bf = pairs(operators.Similarity.bruteForceTopK(spark, sf))
    val trained = pairs(operators.Similarity.ivfTopKTrained(spark, sf))
    val recall = (bf intersect trained).size.toDouble / bf.size
    info(f"trained ivf recall@10 = $recall%.2f")
    // measured 0.52 at sf0.001 on the round-11 data-derived sizing
    // (⌊√500⌋ = 22 cells, NProbe 4 → 18% probe share). With cells
    // now scaling ≈√N, recall on this random (clusterless) corpus
    // tracks the probe share NProbe/⌊√N⌋ — at sf0.1 (44 cells) it
    // measures 0.32; a deployment scales NProbe with √ncells to
    // hold recall, which is exactly why NProbe is a QUERY knob.
    assert(recall >= 0.35, f"trained recall@10 $recall%.2f below floor 0.35")
  }

  test("recall@k audit equals the set intersection of the two searches") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val bf = pairs(operators.Similarity.bruteForceTopK(spark, sf))
    val ivf = pairs(operators.Similarity.ivfTopK(spark, sf))
    val rows = operators.Similarity.recallAtK(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val pid = r.getAs[Long]("probe_id")
      val wantHits = (bf intersect ivf).count(_._1 == pid)
      assert(r.getAs[Long]("n_exact") == operators.Similarity.K)
      assert(r.getAs[Long]("n_hits") == wantHits, s"probe $pid")
      assert(r.getAs[Double]("recall") ==
        wantHits.toDouble / operators.Similarity.K)
    }
  }

  test("filtered topk only returns non-en documents and k per probe") {
    import org.apache.spark.sql.functions._
    val rows = operators.Similarity.filteredTopK(spark, sf).collect()
    val nonEn = graft.sources.Tables.documents(spark, sf)
      .filter(col("lang") =!= "en").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.nonEmpty)
    assert(rows.forall(r => nonEn.contains(r.getAs[Long]("vec_id"))))
    val perProbe = rows.groupBy(_.getAs[Long]("probe_id")).values.map(_.length).toSet
    assert(perProbe == Set(10))
  }

  test("label stats: counts match, cosine bounds ordered, centroid join broadcasts") {
    val df = operators.Similarity.labelStats(spark, sf)
    val rows = df.collect()
    val want = graft.sources.Tables.embeddings(spark, sf)
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getAs[Int]("label")).toSet == want.keySet)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == want(r.getAs[Int]("label")))
      val (mn, mean, mx) = (r.getAs[Double]("min_cos"),
        r.getAs[Double]("mean_cos"), r.getAs[Double]("max_cos"))
      // quantization shifts the mean by <1e-9 — keep the bound honest
      assert(mn - 1e-9 <= mean && mean <= mx + 1e-9, s"$mn / $mean / $mx")
      assert(mx <= 1.0000001 && mn >= -1.0000001)
    }
    // the per-vector cosine pass is map-side: centroids broadcast,
    // no window, no shuffle of the vectors before the final tiny agg
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("pq encode is shuffle-free and codes are in the codebook domain") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    def streamedShuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => streamedShuffles(a.executedPlan)
      case _: BroadcastExchangeLike => 0
      case s: ShuffleExchangeLike => 1 + s.children.map(streamedShuffles).sum
      case other => other.children.map(streamedShuffles).sum
    }
    val enc = operators.Similarity.pqEncode(spark, sf)
    assert(streamedShuffles(enc.queryExecution.executedPlan) == 0,
      enc.queryExecution.executedPlan.toString.take(3000))
    val rows = enc.collect()
    assert(rows.length == graft.sources.Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      for (s <- 0 until operators.Similarity.SubSpaces) {
        val c = r.getAs[Long](s"code_$s")
        assert(c >= 0 && c < operators.Similarity.NumCodes)
      }
      assert(r.getAs[Double]("vnrm_pq") > 0.0)
    }
  }

  test("pq topk: k per probe, recall positive, estimate within PQ error of truth") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val rows = operators.Similarity.pqTopK(spark, sf).collect()
    assert(rows.length == 5 * operators.Similarity.K)
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 10L))
      val est = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_est"))
      assert(est.zip(est.drop(1)).forall { case (a, b) => a >= b })
    }
    val bf = pairs(operators.Similarity.bruteForceTopK(spark, sf))
    val pq = pairs(operators.Similarity.pqTopK(spark, sf))
    val recall = (bf intersect pq).size.toDouble / bf.size
    info(f"pq recall@10 = $recall%.2f")
    // random vectors are PQ's worst case (no cluster structure for the
    // codebook to exploit) — assert the audit is non-degenerate rather
    // than a tuned floor
    assert(recall > 0.0, "PQ recall collapsed to zero")
  }

  test("ivfpq: candidates only from probed cells, ranks complete, recall sane") {
    val rows = operators.Similarity.ivfpqTopK(spark, sf).collect()
    assert(rows.length == 5 * operators.Similarity.K)
    // the exact-scored IVF search saw the same candidate pool, so the
    // hybrid's cells per probe must be a subset of the cells IVF could
    // draw from: at most NProbe distinct cells, all in the cell domain
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 10L))
      val cells = rs.map(_.getAs[Long]("cell")).toSet
      assert(cells.size <= operators.Similarity.NProbe)
      assert(cells.forall(c => c >= 0 && c < operators.Similarity.NumCells))
    }
    val bf = operators.Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val hy = rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    info(f"ivfpq recall@10 = ${(bf intersect hy).size.toDouble / bf.size}%.2f")
    assert((bf intersect hy).nonEmpty, "IVFPQ recall collapsed to zero")
  }

  test("graft_dot matches a manual dot product") {
    import spark.implicits._
    graft.sources.Tables.events(spark, sf) // registers graft_dot
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(call_function("graft_dot", col("a"), col("b"))).collect()(0).getDouble(0)
    assert(got == 32.0)
  }

  test("kmeans step: members partition the corpus, cosines bounded, drift near 1") {
    val rows = graft.operators.Similarity.kmeansStep(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 16)
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == total,
      "every vector must be assigned to exactly one cell")
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_cos_old") <= 1.0 + 1e-9)
      val drift = r.getAs[Double]("drift_cos")
      // one refinement from a sane init must not flip a centroid
      assert(drift > 0.5 && drift <= 1.0 + 1e-9,
        s"cell=${r.getAs[Long]("cell")} drift=$drift")
      // the new centroid (mean of members) should sit at least as
      // close to the members as it does to the old centroid direction:
      // tightness is bounded by the drift the move produced
      assert(r.getAs[Long]("n_members") > 0)
    }
  }

  test("pq train step: members partition the corpus per subspace, drift and error sane") {
    val rows = operators.Similarity.pqTrainStep(spark, sf).collect()
    assert(rows.length ==
      operators.Similarity.SubSpaces * operators.Similarity.NumCodes)
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    // every vector is assigned exactly one code per subspace
    (0 until operators.Similarity.SubSpaces).foreach { s =>
      val members = rows.filter(_.getAs[Long]("s") == s)
        .map(_.getAs[Long]("n_members")).sum
      assert(members == n, s"subspace $s members $members != corpus $n")
    }
    rows.filter(_.getAs[Long]("n_members") > 0).foreach { r =>
      assert(r.getAs[Double]("mean_l2_old") >= 0.0)
      val drift = r.getAs[Double]("drift_cos")
      assert(drift <= 1.0 + 1e-9 && drift >= -1.0 - 1e-9)
    }
  }

  test("int8 quantization audit: grid saturated, error bounded by half a step") {
    val df = graft.operators.Similarity.quantizeInt8(spark, sf).collect()
    assert(df.length == 64)
    df.foreach { r =>
      val (mn, mx) = (r.getAs[Double]("mn"), r.getAs[Double]("mx"))
      assert(r.getAs[Long]("q_min") >= 0L && r.getAs[Long]("q_max") <= 255L)
      if (mx > mn) {
        // the extremes must land exactly on the grid ends
        assert(r.getAs[Long]("q_min") == 0L && r.getAs[Long]("q_max") == 255L)
        // |err| <= half a quantization step (+1 grid ulp for the floor)
        val halfStepQ = ((mx - mn) / 255.0 / 2.0) * 1e12 + 1
        assert(r.getAs[Long]("max_err_q") <= halfStepQ,
          s"d=${r.getAs[Long]("d")} max_err_q=${r.getAs[Long]("max_err_q")} bound=$halfStepQ")
        assert(r.getAs[Double]("mean_err") <= (mx - mn) / 255.0 / 2.0 + 1e-12)
      }
    }
  }

  test("registered graft_* functions reject wrong arities at analysis, not silently") {
    import spark.implicits._
    graft.sources.Tables.events(spark, sf) // registers the functions
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // graft_dot(a) and graft_dot(a, b, a) must fail loudly
    for (cols <- Seq(Seq(col("a")), Seq(col("a"), col("b"), col("a")))) {
      val e = intercept[Exception] {
        df.select(call_function("graft_dot", cols: _*)).collect()
      }
      assert(messages(e).mkString("\n").contains("graft_dot expects exactly 2"),
        messages(e).mkString("\n").take(500))
    }
    // graft_minhash_sig(a, b) previously dropped the extra argument silently
    val e = intercept[Exception] {
      Seq((1L, 2L)).toDF("h", "x")
        .agg(call_function("graft_minhash_sig", col("h"), col("x"))).collect()
    }
    assert(messages(e).mkString("\n").contains("graft_minhash_sig expects exactly 1"),
      messages(e).mkString("\n").take(500))
  }

  test("refine: int8-recall + exact-rerank tracks brute force closely") {
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val exact = hits(operators.Similarity.bruteForceTopK(spark, sf))
    val refined = operators.Similarity.refineTopK(spark, sf)
    val refSet = hits(refined)
    val recall = (exact intersect refSet).size.toDouble / exact.size
    info(f"refine recall@10 vs brute force: $recall%.3f")
    // the quantized integer-dot stage with C=4K candidates must keep
    // most true neighbors; rerank makes every kept hit exact-scored
    assert(recall >= 0.7, f"recall $recall%.3f")
    // within the refined list, exact cosines must be in rank order and
    // every hit must carry its stage-1 provenance within the pool
    refined.collect().groupBy(_.getAs[Long]("probe_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("cosine") >= b.getAs[Double]("cosine"))
        case _ =>
      }
      rs.foreach(r => assert(r.getAs[Long]("stage1_rank") >= 1L &&
        r.getAs[Long]("stage1_rank") <= operators.Similarity.RefineC))
    }
  }

  test("knn classify: hand-built majority vote and smallest-label tiebreak") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    org.apache.spark.sql.GraftFunctions.register(spark)
    val vectors = Seq(
      (10L, Array(0.99, 0.10)), (11L, Array(0.98, 0.05)),
      (12L, Array(0.90, 0.30)), (13L, Array(0.0, 1.0)))
      .toDF("vec_id", "vd")
      .withColumn("vnrm", operators.Vectors.norm(col("vd")))
    val probeSet = Seq((1L, Array(1.0, 0.0))).toDF("probe_id", "pv")
      .withColumn("pnrm", operators.Vectors.norm(col("pv")))
    val labels = Seq((1L, 2), (10L, 1), (11L, 1), (12L, 2), (13L, 3))
      .toDF("vec_id", "label")
    // k=3 → neighbors 10,11,12 → votes {1:2, 2:1} → pred 1 ≠ true 2
    val r = operators.Similarity
      .knnClassifyOn(vectors, probeSet, labels, 3).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Int]("pred_label") == 1)
    assert(r.head.getAs[Int]("true_label") == 2)
    assert(r.head.getAs[Long]("votes") == 2L)
    assert(!r.head.getAs[Boolean]("correct"))
    // relabel 10→4: k=2 neighbors are 11 (label 1) and 10 (label 4),
    // a genuine 1-1 tie → the smaller label wins with 1 vote
    val labels2 = Seq((1L, 2), (10L, 4), (11L, 1), (12L, 2), (13L, 3))
      .toDF("vec_id", "label")
    val tie = operators.Similarity
      .knnClassifyOn(vectors, probeSet, labels2, 2).collect()
    assert(tie.head.getAs[Int]("pred_label") == 1)
    assert(tie.head.getAs[Long]("votes") == 1L)
  }

  test("range search: every hit clears tau; top-k hits above tau all appear") {
    val hits = operators.Similarity.rangeSearch(spark, sf).collect()
    hits.foreach { r =>
      assert(r.getAs[Double]("cosine") >= 0.25)
      assert(r.getAs[Long]("vec_id") != r.getAs[Long]("probe_id"))
    }
    // recall contract vs the exact top-k: any top-10 neighbor scoring
    // ≥ tau must be in the range result (range search never misses)
    val key = hits.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    operators.Similarity.bruteForceTopK(spark, sf).collect()
      .filter(_.getAs[Double]("cosine") >= 0.25)
      .foreach { r =>
        assert(key((r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))))
      }
  }

  test("pca power iteration finds a planted anisotropic direction exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100 vectors: ±0.9 alternating on dim 7 (zero mean, dominant
    // variance), tiny deterministic jitter elsewhere — the top
    // principal direction is e7 by construction
    val rows = (0 until 100).map { i =>
      val v = Array.tabulate(64) { d =>
        if (d == 7) (if (i % 2 == 0) 0.9 else -0.9)
        else ((i * 64 + d) % 13 - 6) / 1000.0
      }
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "vd")
      .select(col("vec_id"), col("vd").cast("array<double>").as("vd"))
    val out = operators.Similarity.pcaPowerOn(df).collect()
    assert(out.length == 64)
    val ppm = out.map(r => (r.getAs[Long]("d"), r.getAs[Long]("dir_ppm"))).toMap
    val top = ppm.maxBy { case (_, p) => math.abs(p) }
    assert(top._1 == 7L, s"dominant dim ${top._1}, ppm map $ppm")
    // the planted axis must dominate every other component decisively
    val rest = ppm.filter(_._1 != 7L).values.map(p => math.abs(p)).max
    assert(math.abs(ppm(7L)) >= 10 * math.max(rest, 1L),
      s"axis 7 ppm ${ppm(7L)} vs max other $rest")
    // exact-integer contract: the result is a pure function of the
    // row set — any repartitioning produces identical bytes
    val out2 = operators.Similarity.pcaPowerOn(df.repartition(7)).collect()
    assert(out.map(_.toString).sorted.sameElements(out2.map(_.toString).sorted))
  }

  test("knn classify on the corpus: one row per probe, leave-one-out votes") {
    val rows = operators.Similarity.knnClassify(spark, sf).collect()
    val nProbes = graft.sources.Tables.embeddings(spark, sf)
      .filter("vec_id % 47 = 0").count()
    assert(rows.length == nProbes)
    rows.foreach { r =>
      val v = r.getAs[Long]("votes")
      assert(v >= 1L && v <= operators.Similarity.K)
      assert(r.getAs[Boolean]("correct") ==
        (r.getAs[Int]("pred_label") == r.getAs[Int]("true_label")))
    }
  }

  test("silhouette: labels partition the corpus; margins bound their aggregates") {
    val rows = operators.Similarity.silhouette(spark, sf).collect()
    val emb = graft.sources.Tables.embeddings(spark, sf)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == emb.count())
    assert(rows.length == emb.select("label").distinct().count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vecs")
      val confused = r.getAs[Long]("n_confused")
      assert(confused >= 0 && confused <= n)
      // the min margin cannot exceed the mean
      assert(r.getAs[Long]("min_margin_q") <=
        math.ceil(r.getAs[Double]("mean_margin") * 1e9).toLong)
      // margins live in [-2, 2] cosine space
      assert(math.abs(r.getAs[Long]("min_margin_q")) <= 2000000000L)
    }
  }

  test("mahalanobis outliers: planted corrupt vector flagged, moment identity holds") {
    import spark.implicits._
    // 19 well-behaved vectors jittered around (1, 0, 0, 0) plus one
    // wrong-scale vector — the classic corrupt-encoder row. A lone
    // outlier's z² tops out at n−1 (it inflates its own σ), so n = 20
    // puts it at ≈ 19, well past the |z| > 3 per-dim flag.
    val clean = (1 to 19).map(i =>
      (i.toLong, Seq(1.0 + i * 0.01, i * 0.005, -i * 0.004, 0.002 * i)))
    val vecs = (clean :+ (20L, Seq(-3.0, 8.0, 5.0, -6.0)))
      .toDF("vec_id", "vd")
    val rows = operators.Similarity.outlierMahalOn(vecs).collect()
    assert(rows.length == 20)
    val byId = rows.map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(byId(20L).getAs[Boolean]("is_outlier"), byId(20L).toString)
    assert(byId(20L).getAs[Long]("n_dims_flagged") >= 2)
    assert(clean.forall { case (id, _) => !byId(id).getAs[Boolean]("is_outlier") })
    // biased-variance identity: Σ_vectors z²_d = n per dim, so the
    // total score mass ≈ n_dims · n · 1e6 (floor slack ≤ one unit/term)
    val total = rows.map(_.getAs[Long]("score_micro")).sum
    assert(math.abs(total - 4L * 20L * 1000000L) <= 4L * 20L, s"total $total")
  }

  test("mmr rerank: 5 distinct picks from the pool, first is the pure-relevance argmax") {
    val rows = operators.Similarity.mmrRerank(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 5)
    // rank 1 is pure relevance: it must equal brute force's top hit
    // for probe 0 (same cosine basis, same tie-break)
    val bf = operators.Similarity.bruteForceTopK(spark, sf).collect()
      .filter(r => r.getAs[Long]("probe_id") == 0L && r.getAs[Long]("rank") == 1L)
    assert(rows.head.getAs[Long]("vec_id") == bf.head.getAs[Long]("vec_id"))
    assert(rows.head.getAs[Long]("score") == 7L * rows.head.getAs[Long]("rel_q"))
    // later picks carry the diversity term: score = 7·rel − 3·max-sim
    // with max-sim a quantized cosine in [−1, 1] (NEGATIVE similarity
    // to the selected set is a bonus, so score may exceed 7·rel)
    rows.tail.foreach { r =>
      val dev = r.getAs[Long]("score") - 7L * r.getAs[Long]("rel_q")
      assert(math.abs(dev) <= 3000000000L, r.toString)
    }
  }

  private def corpusOf(sfDir: String) = {
    import org.apache.spark.sql.functions.col
    operators.Vectors.asDouble(sources.Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("vd"),
        operators.Vectors.norm(col("vd")).as("vnrm"))
  }

  test("blocked graph build: no corpus-as-probe broadcast, local top-M exchange-free") {
    // assert on the stage-0 blocked kNN (the relation the descent
    // loop checkpoints): the checkpointed edges plan shows only a
    // Scan of the materialized RDD, hiding the build shape
    val stage0 = operators.Similarity.blockedKnnFrom(
      operators.Similarity.blockedScored(corpusOf(sf)))
    val plan = stage0.queryExecution.executedPlan.toString
    // the round-11 brute-force build broadcast the ENTIRE corpus as
    // the probe side of a non-equi INNER join (a conditioned
    // BroadcastNestedLoopJoin on vec_id ≠ probe_id) — the 10⁹-vector
    // driver killer. The blocked build's only nested-loop joins are
    // unconditioned Cross joins against broadcast 1-ROW relations
    // (ncells, the centroid array).
    assert(!plan.contains("BroadcastNestedLoopJoin BuildRight, Inner") &&
      !plan.contains("BroadcastNestedLoopJoin BuildLeft, Inner"),
      plan.take(3000))
    // per-(cell, src) top-M runs directly on the cell-partitioned
    // shuffle-hash join output: no Exchange between the deepest
    // TopKPerKey and the join (hash(cell) clusters (cell, src))
    val localTopK = plan.lastIndexOf("TopKPerKey")
    val join = plan.indexOf("ShuffledHashJoin", localTopK)
    assert(localTopK >= 0 && join > localTopK, plan.take(3000))
    val between = plan.substring(localTopK, join)
    assert(!between.contains("Exchange"),
      s"unexpected exchange between local top-M and the blocking join:\n$between")
  }

  test("blocked graph build: whale hub's degree is capped, graph stays total") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 1 vector duplicated 1000× (the hot-key near-dup pile a crawl
    // corpus always contains) + 200 distinct vectors: uncapped
    // symmetrized kNN gives the duplicate pile's attractor unbounded
    // IN-degree, and every beam that routes through it explodes.
    val dims = 8
    def vec(seed: Long): Seq[Double] =
      (0 until dims).map(d => ((seed * 31L + d * 17L) % 97L + 1L).toDouble / 97.0)
    val rows =
      (0 until 1000).map(i => (i.toLong, vec(7L))) ++ // the whale pile
      (0 until 200).map(i => ((1000 + i).toLong, vec(100L + i)))
    val corpus = rows.toDF("vec_id", "vd")
      .select(col("vec_id"), col("vd"),
        operators.Vectors.norm(col("vd")).as("vnrm"))
    val deg = operators.Similarity.blockedGraphEdges(corpus)
      .groupBy("src").count().collect()
    val maxDeg = deg.map(_.getAs[Long]("count")).max
    info(s"whale corpus: ${deg.length} nodes, max out-degree $maxDeg")
    assert(maxDeg <= operators.Similarity.GraphDegreeCap,
      s"degree cap violated: $maxDeg")
    // every vector keeps links — the cap prunes, never isolates
    assert(deg.length == 1200, s"nodes with edges: ${deg.length}")
  }

  test("graph build skew: hot cell splits into bounded subcells, pair mass linear") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    org.apache.spark.sql.GraftFunctions.register(spark)
    // a DENSE CLUSTER at adversarial shape: 1000 copies of one
    // vector — after Lloyd every copy lands in the SAME (c1, c2)
    // cells, so without the hot-cell split the within-cell self-join
    // scores ~2·1000² pairs (quadratic in the cluster, the mass one
    // crawl whale injects at any corpus size)
    val dims = 8
    def vec(seed: Long): Seq[Double] =
      (0 until dims).map(d => ((seed * 31L + d * 17L) % 97L + 1L).toDouble / 97.0)
    val n = 1200
    val rows =
      (0 until 1000).map(i => (i.toLong, vec(7L))) ++
      (0 until 200).map(i => ((1000 + i).toLong, vec(100L + i)))
    val corpus = rows.toDF("vec_id", "vd")
      .select(col("vec_id"), col("vd"),
        operators.Vectors.norm(col("vd")).as("vnrm"))
    val cap = operators.Similarity.GraphCellCapFactor *
      math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong) // 16·34 = 544
    val assigned = operators.Similarity.subAssignments(corpus)
    val groups = assigned.groupBy("cell", "sub").count().collect()
    val maxGroup = groups.map(_.getAs[Long]("count")).max
    info(s"cap=$cap, ${groups.length} (cell,sub) groups, max group $maxGroup")
    // the invariant that bounds Σ group² at cnt·cap per cell: no
    // (cell, sub) group exceeds the cap ...
    assert(maxGroup <= cap, s"subcell of $maxGroup rows exceeds cap $cap")
    // ... and the hot cell actually split (≥2 subcells somewhere)
    assert(groups.groupBy(_.getAs[Long]("cell")).values
      .exists(_.length >= 2), "expected the 1000-copy cell to split")
    // end to end: scored pair mass ≤ 2N·cap (linear in N) — the
    // uncapped build's ≳2·10⁶ hot-cell pairs cannot appear
    val mass = operators.Similarity.blockedScored(corpus).count()
    assert(mass <= 2L * n * cap, s"pair mass $mass exceeds 2N·cap ${2L * n * cap}")
  }

  test("graph build skew: descent 2-hop expansion is bounded under a planted hub") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a popularity hub: node 0 is in EVERY node's kNN list (the
    // zero/boilerplate embedding all vectors rank near). Uncapped,
    // the symmetrized graph gives node 0 an adjacency of n−1 and the
    // 2-hop join routes (n−1)² ≈ 10⁶ pairs through it in one round;
    // the GraphAdjCap'd adjacency bounds the round at N·adjCap² + N·M.
    val n = 1000
    val knnRows = (1 until n).flatMap { i =>
      // every node points at the hub (cosine 0.99) and its ring
      // neighbor (cosine 0.5) — out-degree ≤ M, hub in-degree n−1
      Seq((i.toLong, 0L, 0.99), (i.toLong, ((i % (n - 1)) + 1).toLong, 0.5))
    }.filter { case (s, d, _) => s != d }
    val knn = knnRows.toDF("src", "dst", "cosine")
    val adjCap = operators.Similarity.GraphAdjCap
    val cands = operators.Similarity.descentCandidates(knn)
    val nc = cands.count()
    val bound = n.toLong * (adjCap.toLong * adjCap + operators.Similarity.GraphM)
    info(s"hub corpus: $nc candidate pairs (uncapped would exceed ${(n - 1).toLong * (n - 1)})")
    assert(nc <= bound, s"descent candidates $nc exceed N·(adjCap²+M) = $bound")
    // the hub keeps a full (capped) adjacency — bounded, not isolated
    assert(cands.filter(col("src") === 0L).count() >= adjCap,
      "hub lost its neighborhood entirely")
  }

  test("ivf tuning curve: scored mass strictly grows with nprobe, recall never falls") {
    val rows = operators.Similarity.ivfTuning(spark, sf).collect()
      .sortBy(_.getAs[Long]("nprobe"))
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq ==
      operators.Similarity.IvfTuningProbes.map(_.toLong))
    val scored = rows.map(_.getAs[Long]("n_scored"))
    assert(scored.zip(scored.tail).forall { case (a, b) => a < b },
      s"n_scored must strictly grow with nprobe: ${scored.toSeq}")
    // a wider probe set is a superset of candidates, so the exact
    // top-10 over it can only gain true hits
    val recall = rows.map(_.getAs[Long]("recall_ppm"))
    assert(recall.zip(recall.tail).forall { case (a, b) => a <= b },
      s"recall must be non-decreasing in nprobe: ${recall.toSeq}")
    rows.foreach(r => assert(r.getAs[Long]("n_exact") == 50L, r.toString))
  }

  test("audit sample cap: sampled graph-insert grading is the full audit's subset") {
    val full = operators.Similarity.graphInsert(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("n_links"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("link_recall_ppm"))).toMap
    val sampled = operators.Similarity.graphInsertOn(spark, sf, 2L).collect()
    assert(sampled.nonEmpty)
    sampled.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(id % 2 == 0, s"unsampled id $id graded")
      assert(full(id) == (r.getAs[Long]("n_links"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("link_recall_ppm")), s"row for $id diverged under sampling")
    }
    assert(sampled.length == full.keys.count(_ % 2 == 0))
  }

  test("audit sample cap: sampled build-tuning counts bounded by the full audit") {
    def byConfig(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("config") -> r).toMap
    val full = byConfig(operators.Similarity.graphBuildTuning(spark, sf))
    val s = byConfig(operators.Similarity.graphBuildTuningOn(spark, sf, 3L))
    for (cfg <- Seq("blocked_ivf", "brute_exact"); colName <-
        Seq("n_candidates", "n_edges", "n_hits")) {
      assert(s(cfg).getAs[Long](colName) <= full(cfg).getAs[Long](colName),
        s"$cfg.$colName grew under sampling")
    }
    assert(s("blocked_ivf").getAs[Long]("n_edges") > 0)
  }

  test("blocked build tuning: candidate mass strictly under brute, recall consistent") {
    val rows = operators.Similarity.graphBuildTuning(spark, sf).collect()
      .map(r => r.getAs[String]("config") -> r).toMap
    val bl = rows("blocked_ivf"); val br = rows("brute_exact")
    assert(bl.getAs[Long]("n_candidates") < br.getAs[Long]("n_candidates"),
      "blocking must enumerate strictly fewer candidates than brute force")
    assert(br.getAs[Long]("edge_recall_ppm") == 1000000L)
    assert(bl.getAs[Long]("n_hits") <= bl.getAs[Long]("n_edges"))
    assert(bl.getAs[Long]("n_edges") == br.getAs[Long]("n_edges"),
      "blocked kNN must emit the same per-src edge count as exact")
  }

  test("graft_argmax_cell assigns exactly the cell the aggregate() fold it replaced picks") {
    org.apache.spark.sql.GraftFunctions.register(spark)
    // the fold: strict > over the cell-ascending centroid array
    val fold = """aggregate(
      transform(cents, c -> named_struct(
        'sim', graft_dot(vd, c.cv) / (vnrm * c.cnrm), 'cell', c.cell)),
      named_struct('sim', CAST(-2.0 AS DOUBLE), 'cell', CAST(-1 AS BIGINT)),
      (acc, s) -> IF(s.sim > acc.sim, s, acc)).cell"""
    // (vec_id, native cell, fold cell) of `vectors` against `cells`
    def both(vectors: DataFrame, cells: DataFrame): DataFrame = {
      val centsRow = cells.agg(
        array_sort(collect_list(struct(col("cell"), col("cv"), col("cnrm")))).as("cents"))
      operators.Similarity.assignTo(vectors, cells)
        .select(col("vec_id"), col("cell").as("native"))
        .join(vectors.crossJoin(broadcast(centsRow))
          .select(col("vec_id"), expr(fold).as("fold")), "vec_id")
    }
    def mismatches(df: DataFrame): Long = df.filter(!(col("native") <=> col("fold"))).count()
    val corpus = operators.Vectors.asDouble(sources.Tables.embeddings(spark, sf))
      .select(col("vec_id"), col("vd"), operators.Vectors.norm(col("vd")).as("vnrm"))
    val trained = both(corpus, operators.Similarity.trainedCellsOf(corpus, 2))
    assert(trained.count() == corpus.count())
    assert(mismatches(trained) == 0L)
    // a planted exact-cosine tie: cells 5 and 2 hold the same centroid,
    // so the lowest cell wins in both
    import spark.implicits._
    val planted = Seq((5L, Seq(2.0, 4.0)), (2L, Seq(2.0, 4.0)), (1L, Seq(0.0, 1.0)),
        (9L, Seq(-1.0, 0.0))).toDF("cell", "cv")
      .withColumn("cnrm", operators.Vectors.norm(col("cv")))
    val probe = Seq((0L, Seq(1.0, 2.0))).toDF("vec_id", "vd")
      .withColumn("vnrm", operators.Vectors.norm(col("vd")))
    val tie = both(probe, planted).collect()
    assert(tie.map(r => (r.getAs[Long]("native"), r.getAs[Long]("fold"))).toSeq == Seq((2L, 2L)))
  }
}
