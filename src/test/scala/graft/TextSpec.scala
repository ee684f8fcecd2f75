package graft

class TextSpec extends SparkSpec {

  test("langid covers every doc and predictions come from the lang set") {
    val rows = operators.TextAnalysis.langId(spark, sf).collect()
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
    val langs = Set("de", "en", "es", "fr", "zh")
    rows.foreach { r =>
      assert(langs(r.getAs[String]("predicted_lang")))
      assert(r.getAs[Boolean]("correct") ==
        (r.getAs[String]("predicted_lang") == r.getAs[String]("lang")))
    }
  }

  test("lang confusion matrix rows sum to 1 and diagonal matches langId") {
    val cells = operators.TextAnalysis.langConfusion(spark, sf).collect()
    val docs = operators.TextAnalysis.langId(spark, sf).collect()
    assert(cells.map(_.getAs[Long]("n_docs")).sum == docs.length)
    cells.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val total = rs.head.getAs[Long]("lang_total")
      assert(rs.map(_.getAs[Long]("n_docs")).sum == total)
      assert(math.abs(rs.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
      val diag = rs.find(_.getAs[String]("predicted_lang") == lang)
        .map(_.getAs[Long]("n_docs")).getOrElse(0L)
      val correct = docs.count(r => r.getAs[String]("lang") == lang &&
        r.getAs[Boolean]("correct"))
      assert(diag == correct, s"$lang: diag=$diag correct=$correct")
    }
  }

  test("readability score recomputes from its own integer counts") {
    val rows = operators.TextAnalysis.readability(spark, sf).collect()
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (w, s, y) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_sentences"),
        r.getAs[Long]("n_syllables"))
      assert(w >= 1 && s >= 1 && y >= 1)
      val wps = w.toDouble / s.toDouble
      val spw = y.toDouble / w.toDouble
      assert(r.getAs[Double]("words_per_sentence") == wps)
      assert(r.getAs[Double]("syllables_per_word") == spw)
      assert(r.getAs[Double]("flesch") == 206.835 - 1.015 * wps - 84.6 * spw)
    }
  }

  test("oov rate is bounded and a top-df word is never out-of-vocabulary") {
    val rows = operators.TextAnalysis.oovRate(spark, sf).collect()
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (n, oov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"))
      assert(oov >= 0 && oov <= n)
      assert(r.getAs[Double]("oov_rate") == oov.toDouble / n.toDouble)
    }
    // the corpus-wide OOV mass must be below the in-vocab mass: the
    // vocab holds the 1000 highest-df words of a ~small vocabulary
    val totOov = rows.map(_.getAs[Long]("n_oov")).sum.toDouble
    val totTok = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    assert(totOov / totTok < 0.5, s"OOV mass ${totOov / totTok}")
  }

  test("quality ratios are in [0,1] and the score is bounded") {
    val rows = operators.TextAnalysis.quality(spark, sf).collect()
    rows.foreach { r =>
      for (c <- Seq("stop_ratio", "digit_ratio", "punct_ratio")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v")
      }
      val q = r.getAs[Double]("quality_score")
      assert(q >= 0.0 && q <= 1.0, s"quality=$q")
    }
  }

  test("token counts: bpe tokens >= whitespace tokens on word text") {
    val rows = operators.TextAnalysis.tokens(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("ws_tokens") >= 1)
      // every >4-char word splits into multiple BPE-ish chunks
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens"))
    }
  }

  test("gopher rules compute consistent ratios and exercise both keep branches") {
    val rows = operators.TextAnalysis.gopherRules(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nw = r.getAs[Long]("n_words"); val nd = r.getAs[Long]("n_distinct_words")
      assert(nd <= nw && nd > 0)
      val mwl = r.getAs[Double]("mean_word_len")
      assert(mwl > 0 && mwl < 50)
      val fd = r.getAs[Double]("frac_distinct")
      assert(math.abs(fd - nd.toDouble / nw) < 1e-12)
    }
    val keeps = rows.map(_.getAs[Boolean]("keep")).toSet
    assert(keeps == Set(true, false), s"filter is vacuous: $keeps")
  }

  test("bm25: scores decompose per term and saturate with tf") {
    import org.apache.spark.sql.functions._
    val rows = operators.TextAnalysis.bm25(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s0, s1, s2) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(math.abs(r.getDouble(4) - (s0 + s1 + s2)) == 0.0)
      assert(s0 >= 0 && s1 >= 0 && s2 >= 0)
    }
    // a doc with the term scores strictly above a doc without it
    val withSpark = rows.filter(_.getDouble(1) > 0)
    assert(withSpark.nonEmpty, "no doc contains 'spark' — query terms don't match corpus")
  }

  test("contamination: flagged docs actually contain a blocklisted trigram") {
    import org.apache.spark.sql.functions._
    val flagged = operators.TextAnalysis.contamination(spark, sf).collect()
    assert(flagged.nonEmpty)
    flagged.foreach { r =>
      assert(r.getAs[Long]("n_hits") >= r.getAs[Long]("n_distinct_hits"))
      assert(r.getAs[Long]("n_distinct_hits") >= 1)
    }
    // the most frequent trigram must flag at least one document
    val top = operators.TextAnalysis.ngramFreq(spark, sf).collect().head.getString(0)
    val docsWithTop = graft.sources.Tables.documents(spark, sf)
      .filter(expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))").contains(top))
      .count()
    assert(docsWithTop > 0 && flagged.length.toLong >= docsWithTop.min(flagged.length.toLong))
  }

  test("stratified sample is deterministic and rarer languages keep a higher rate") {
    val a = operators.TextAnalysis.stratifiedSample(spark, sf).collect()
    val b = operators.TextAnalysis.stratifiedSample(spark, sf).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq) // reproducible
    val byLang = a.groupBy(_.getAs[String]("lang"))
    val total = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en sampled at ~5%, others at ~20%: compare realized rates
    val enRate = byLang.get("en").map(_.length.toDouble).getOrElse(0.0) / total("en")
    val otherSampled = a.count(_.getAs[String]("lang") != "en").toDouble
    val otherTotal = total.filterNot(_._1 == "en").values.sum.toDouble
    assert(enRate < otherSampled / otherTotal,
      s"en rate $enRate should be below non-en rate ${otherSampled / otherTotal}")
  }

  test("dup-ngram fractions are internally consistent and both keep branches fire") {
    val rows = operators.TextAnalysis.dupNgram(spark, sf).collect()
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val nb = r.getAs[Long]("n_bigrams")
      val dup = r.getAs[Double]("dup_bigram_frac")
      val top = r.getAs[Double]("top_bigram_frac")
      assert(nb >= 1)
      assert(dup >= 0.0 && dup < 1.0)
      // the most common bigram contributes at least one occurrence and
      // at most (all duplicates + its first occurrence)
      assert(top >= 1.0 / nb && top <= dup + 1.0 / nb + 1e-12)
      val dupTri = r.getAs[Double]("dup_trigram_frac")
      assert(dupTri >= 0.0 && dupTri < 1.0)
      assert(r.getAs[Boolean]("keep") == (dup <= 0.1 && dupTri <= 0.05))
    }
    assert(rows.map(_.getAs[Boolean]("keep")).toSet == Set(true, false),
      "repetition gate is vacuous on this corpus")
  }

  test("dup-ngram keeps short docs: a 2-word doc reaches the verdict with a zero trigram axis") {
    import org.apache.spark.sql.functions._
    // synthetic corpus in the documents.parquet layout: one 2-word doc
    // (bigram but NO trigram — an inner tri-join drops it), one normal
    val dir = queries.SourcesSinks.tmp(spark, sf, "docs_short")
    import spark.implicits._
    Seq(
      (1L, "alpha beta", "en", "unit", 10L),
      (2L, "one two three four five six seven", "en", "unit", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = operators.TextAnalysis.dupNgram(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L), s"short doc dropped: ${rows.keySet}")
    val short = rows(1L)
    assert(short.getAs[Long]("n_trigrams") == 0L)
    assert(short.getAs[Double]("dup_trigram_frac") == 0.0)
    assert(short.getAs[Boolean]("keep"), "unique-bigram short doc must pass the gate")
  }

  test("tf-idf df join degrades to a shuffle join when broadcast is unavailable") {
    // the df join must carry NO hard broadcast hint: with the
    // threshold off, the planner has to be free to pick a shuffle
    // join (at 100 TB the vocabulary can outgrow executor memory)
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = operators.TextAnalysis.tfidfTopTerms(s, sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    // the only broadcast left is the 1-row n_docs scalar (NestedLoop);
    // no BroadcastHashJoin may survive a disabled threshold
    assert(!plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("pii redact finds every planted email/phone and leaves no match behind") {
    import org.apache.spark.sql.functions._
    val df = operators.TextAnalysis.piiRedact(spark, sf)
    val rows = df.collect()
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") >= 1L, "planted email not counted")
      assert(r.getAs[Long]("n_phones") >= 1L, "planted phone not counted")
    }
    // the operator is a pure projection: the plan must REQUIRE no
    // shuffle before the sort (no ENSURE_REQUIREMENTS hash exchange).
    // Pinned on the projection itself, not on piiRedact's output: its
    // localCheckpoint hides the regex kernel, so a pin there checks
    // nothing upstream of the checkpoint.
    val projected = operators.TextAnalysis
      .piiRedactOn(graft.sources.Tables.documents(spark, sf)).orderBy("doc_id")
    val plan = projected.queryExecution.executedPlan.toString
    assert(plan.contains("regexp_replace"), plan.take(2000))
    val required = "Exchange hashpartitioning[^\\n]*ENSURE_REQUIREMENTS".r
    assert(required.findFirstIn(plan).isEmpty, plan.take(2000))
    // ...and no hash exchange of any other origin either: the scan
    // fan-out is gone, so the only exchange is the output sort's range
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("chunking tiles every document with 48-stride 64-word windows") {
    import org.apache.spark.sql.functions._
    val chunks = operators.TextAnalysis.chunkOverlap(spark, sf).collect()
    val nWords = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc.keySet == nWords.keySet)
    byDoc.foreach { case (doc, rs) =>
      val n = nWords(doc)
      assert(rs.length == (n + 47) / 48) // ceil(n / stride) windows
      rs.sortBy(_.getAs[Long]("chunk_idx")).zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("chunk_idx") == i)
        assert(r.getAs[Long]("chunk_start") == 48L * i)
        assert(r.getAs[Long]("n_chunk_words") == math.min(64L, n - 48L * i))
      }
    }
    // md5 digests are content-bearing, not constant
    assert(chunks.map(_.getAs[String]("chunk_md5")).distinct.length > chunks.length / 2)
  }

  test("tf-idf top terms: exactly ranked, df-consistent, rare terms outrank common ones") {
    val rows = operators.TextAnalysis.tfidfTopTerms(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.size == graft.sources.Tables.documents(spark, sf).count())
    byDoc.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      assert(sorted.length <= 3)
      // scores weakly decrease down the ranking
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("score") >= b.getAs[Double]("score"))
        case _ =>
      }
    }
    // df is global: the same term reports the same df everywhere
    rows.groupBy(_.getAs[String]("term")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("df")).distinct.length == 1)
    }
  }

  test("fingerprint is deterministic and within the modulus") {
    val a = operators.TextAnalysis.fingerprint(spark, sf).collect()
    val b = operators.TextAnalysis.fingerprint(spark, sf).collect()
    assert(a.map(_.getLong(1)).sameElements(b.map(_.getLong(1))))
    a.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) < 1000000007L))
    // distinct texts ⇒ (near-certainly) many distinct fingerprints
    assert(a.map(_.getLong(1)).distinct.length > a.length / 2)
  }

  test("pair-freq counts adjacent char pairs exactly (one BPE merge-round table)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pairfreq").toFile
    dir.deleteOnExit()
    import spark.implicits._
    // "abab abc" → abab: ab,ba,ab ; abc: ab,bc → ab:3 ba:1 bc:1
    // "xy" → xy:1 ; single-char word "z" contributes nothing
    Seq((0L, "abab abc", "en", "srcA", 8L), (1L, "xy z", "en", "srcA", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
    val got = operators.TextAnalysis.pairFreq(spark, dir.getAbsolutePath).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n"))
    assert(got.toSeq == Seq("ab" -> 3L, "ba" -> 1L, "bc" -> 1L, "xy" -> 1L))
    // corpus run: a total order (n desc, pair asc) with positive counts
    val corpus = operators.TextAnalysis.pairFreq(spark, sf).collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[String]("pair")))
    assert(corpus.length == 40)
    assert(corpus.forall(_._1 > 0))
    assert(corpus.sliding(2).forall {
      case Array((n1, p1), (n2, p2)) => n1 > n2 || (n1 == n2 && p1 < p2)
      case _ => true
    })
  }

  test("model filter: score matches an independent per-doc fold, keep gate consistent") {
    val rows = operators.TextAnalysis.modelFilter(spark, sf).collect()
    assert(rows.length == sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("score_sum") > 0L))
      assert(math.abs(r.getAs[Double]("mean_score") -
        r.getAs[Long]("score_sum").toDouble / r.getAs[Long]("n_tokens")) < 1e-12)
      assert(math.abs(r.getAs[Double]("mean_score")) <= 1000.0)
    }
    // independent formulation: per-doc HOF fold over the token array
    // (never the hot path — interpreted; fine as a test oracle)
    val indep = sources.Tables.documents(spark, sf)
      .selectExpr("doc_id",
        """aggregate(
          |  transform(split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' '),
          |    w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 2001L - 1000L),
          |  0L, (a, x) -> a + x) AS s""".stripMargin)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("s")).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("score_sum") == indep(r.getAs[Long]("doc_id"))))
    // the hash weights are symmetric around 0 => the gate actually
    // separates the corpus rather than passing/failing everything
    assert(rows.exists(_.getAs[Boolean]("keep")) && rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("bm25 indexed: serves the exact bm25 answer via partition-pruned postings") {
    val direct = operators.TextAnalysis.bm25(spark, sf).collect().map(_.toSeq).toSeq
    val indexed = operators.TextAnalysis.bm25Indexed(spark, sf)
    assert(indexed.collect().map(_.toSeq).toSeq == direct)
    // the probe terms' hash buckets are literal partition predicates,
    // so the postings/vocab scans must carry static PartitionFilters
    // on tb — only ~|terms|/64 of the index is read per query
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(4000))
    assert(plan.split("PartitionFilters").exists(_.take(200).contains("tb")),
      plan.take(4000))
  }

  test("per-lang trigram top-5 rides the native TopKPerKey, exactly ranked") {
    val df = operators.TextAnalysis.ngramTopkLang(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("rank"))
      assert(ordered.length <= 5)
      assert(ordered.map(_.getAs[Long]("rank")).sameElements(1L to ordered.length))
      val counts = ordered.map(_.getAs[Long]("n_occurrences"))
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
      // ties broken lexically: equal counts must be trigram-ascending
      ordered.sliding(2).foreach {
        case Array(a, b) if a.getAs[Long]("n_occurrences") == b.getAs[Long]("n_occurrences") =>
          assert(a.getAs[String]("trigram") < b.getAs[String]("trigram"))
        case _ =>
      }
    }
  }

  test("dup curve replays from driver-side shingling; wider shingles never more duplicated") {
    val texts = graft.sources.Tables.documents(spark, sf)
      .selectExpr("trim(regexp_replace(lower(text), '\\\\s+', ' ')) as t").collect()
      .map(_.getString(0))
    val rows = operators.TextAnalysis.dupCurve(spark, sf).collect()
      .sortBy(_.getAs[Long]("n"))
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(3L, 5L, 7L))
    rows.foreach { r =>
      val n = r.getAs[Long]("n").toInt
      val shingles = texts.flatMap(_.split(" ").sliding(n).filter(_.length == n)
        .map(_.mkString(" ")))
      assert(r.getAs[Long]("total_shingles") == shingles.length.toLong)
      assert(r.getAs[Long]("distinct_shingles") == shingles.distinct.length.toLong)
      assert(r.getAs[Double]("dup_fraction") ==
        (shingles.length - shingles.distinct.length).toDouble / shingles.length)
    }
    val fracs = rows.map(_.getAs[Double]("dup_fraction"))
    assert(fracs.zip(fracs.tail).forall { case (a, b) => a >= b },
      s"dup fraction not non-increasing: ${fracs.toSeq}")
  }

  test("bpe merges: hand-derivable merge sequence on a planted vocab") {
    import spark.implicits._
    // "abc"×3 + "bcd"×2: round 1 pairs (a b)=3 (b c)=5 (c d)=2 →
    // merge "b c"; round 2 (a bc)=3 (bc d)=2 → "a bc"; round 3 the
    // remaining (bc d)=2. Round 3 only works if the round-2 merge
    // left the fused "abc" symbol intact — the boundary-safety case.
    val vocab = Seq(("abc", 3L), ("bcd", 2L)).toDF("w", "n")
    val m = operators.TextAnalysis.bpeMergesOn(vocab, 3).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("cnt")))
    assert(m.toSeq == Seq((1L, "b c", "bc", 5L), (2L, "a bc", "abc", 3L),
      (3L, "bc d", "bcd", 2L)))
  }

  test("bpe merges: greedy left-to-right on runs — aaaa fuses to aa aa") {
    import spark.implicits._
    // (a a) counts overlapping occurrences (3 per "aaaa", 2 per
    // "aaa"); the merge is non-overlapping left-to-right, so "aaaa"
    // becomes "aa aa" (never "a aa a") and "aaa" becomes "aa a".
    val vocab = Seq(("aaaa", 5L), ("aaa", 2L)).toDF("w", "n")
    val m = operators.TextAnalysis.bpeMergesOn(vocab, 3).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("cnt")))
    assert(m.toSeq == Seq((1L, "a a", "aa", 19L), (2L, "aa aa", "aaaa", 5L),
      (3L, "aa a", "aaa", 2L)))
  }

  test("bpe merges on the corpus: counts non-increasing, merged = fused pair") {
    val rows = operators.TextAnalysis.bpeMerges(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("round")).toSeq == Seq(1L, 2L, 3L))
    val cnts = rows.map(_.getAs[Long]("cnt"))
    // merging can only destroy occurrences of existing pairs and new
    // pairs inherit at most the merged pair's count, so the argmax
    // sequence is non-increasing
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      s"merge counts increased: ${cnts.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[String]("merged") ==
        r.getAs[String]("pair").replace(" ", ""))
      assert(r.getAs[String]("pair").split(" ").length == 2)
    }
  }

  test("rake keywords: hand-derivable phrase scores on planted docs") {
    import spark.implicits._
    // doc 1: stopwords the/and delimit "quick brown fox" and
    // "lazy dog"; doc 2 repeats "brown fox". Word stats (corpus):
    //   quick f1 d3, brown f2 d5, fox f2 d5, lazy f1 d2, dog f1 d2
    // scores (micro): quick 3e6, brown 2.5e6, fox 2.5e6, lazy 2e6,
    // dog 2e6 → "quick brown fox" 8e6, "brown fox" 5e6, "lazy dog" 4e6
    val docs = Seq(
      (1L, "the quick brown fox and lazy dog"),
      (2L, "the brown fox")).toDF("doc_id", "text")
    val rows = operators.TextAnalysis.keywordRakeOn(docs, 10).collect()
      .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("n_words"),
        r.getAs[Long]("score_micro")))
    assert(rows.toSeq == Seq(
      ("quick brown fox", 3L, 8000000L),
      ("brown fox", 2L, 5000000L),
      ("lazy dog", 2L, 4000000L)))
  }

  test("rake keywords on the corpus: total order, positive integer scores") {
    val rows = operators.TextAnalysis.keywordRake(spark, sf).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getAs[Long]("score_micro"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Long]("score_micro") >= 1000000L * r.getAs[Long]("n_words"))
      assert(r.getAs[String]("phrase").split(" ").length ==
        r.getAs[Long]("n_words"))
    }
  }

  test("bpe apply: symbol accounting telescopes from chars to merges") {
    import org.apache.spark.sql.functions._
    val r = operators.TextAnalysis.bpeApply(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val words = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    assert(row.getAs[Long]("n_words") == words.count())
    // before-symbols = one per character, regardless of merges
    val chars = words.agg(sum(length(col("w")))).collect()(0).getLong(0)
    assert(row.getAs[Long]("symbols_before") == chars)
    val after = row.getAs[Long]("symbols_after")
    assert(after <= chars && after >= row.getAs[Long]("n_words"))
    assert(row.getAs[Long]("symbols_saved") == chars - after)
    assert(row.getAs[Double]("compression") ==
      after.toDouble / chars.toDouble)
    // three merges must actually have fused something
    assert(after < chars)
  }

  test("stopword discovery: df recomputed independently, cut respected") {
    import org.apache.spark.sql.functions._
    val rows = operators.TextAnalysis.stopwordDiscovery(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
    val nDocs = docs.count()
    assert(rows.nonEmpty)
    val perms = rows.map(_.getAs[Long]("df_permille"))
    assert(perms.zip(perms.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_freq") * 4 >= nDocs)
      assert(r.getAs[Long]("df_permille") ==
        r.getAs[Long]("doc_freq") * 1000 / nDocs)
      assert(r.getAs[Long]("corpus_freq") >= r.getAs[Long]("doc_freq"))
    }
    // spot-check the top word's doc frequency directly
    val top = rows.head
    val direct = docs
      .select(col("doc_id"), explode(split(expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))"), " ")).as("w"))
      .filter(col("w") === top.getAs[String]("w"))
      .select("doc_id").distinct().count()
    assert(direct == top.getAs[Long]("doc_freq"))
  }

  test("vocab growth: cumulative curve ends at the direct corpus totals") {
    import org.apache.spark.sql.functions._
    val rows = operators.TextAnalysis.vocabGrowth(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (0L to 9L))
    val words = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val last = rows.last
    assert(last.getAs[Long]("n_tokens") == words.count())
    assert(last.getAs[Long]("vocab_size") ==
      words.select("w").distinct().count())
    assert(last.getAs[Long]("n_docs") ==
      graft.sources.Tables.documents(spark, sf).count())
    // cumulative columns never decrease; new_types telescopes to vocab
    Seq("n_docs", "n_tokens", "vocab_size").foreach { c =>
      val xs = rows.map(_.getAs[Long](c))
      assert(xs.zip(xs.tail).forall { case (a, b) => a <= b }, s"$c decreased")
    }
    assert(rows.map(_.getAs[Long]("new_types")).sum ==
      last.getAs[Long]("vocab_size"))
  }

  test("lm familiarity: fluent reuse scores high, scrambled word salad scores low") {
    import spark.implicits._
    // 8 "fluent" docs repeat the same transitions; the salad doc uses
    // the SAME vocabulary in unseen orders — unigram OOV can't tell
    // them apart, the bigram model can
    val fluent = (1L to 8L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog " * 5))
    val salad = (9L, "dog the fox brown lazy jumps quick over the " +
      "brown dog quick the over fox lazy the jumps")
    // 1100 count-2 filler bigrams push the model past its 1000-entry
    // cutoff, so the count-1 salad transitions fall OUT of the model
    // (a sub-cutoff corpus admits every bigram and scores everything 1)
    val filler = (1 to 1100).map(i =>
      (100L + i, f"u$i%04da u$i%04db u$i%04da u$i%04db"))
    val out = operators.TextAnalysis.lmFamiliarityOn(
        (fluent ++ filler :+ salad).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("familiar_ppm"))
      .toMap
    (1L to 8L).foreach(i => assert(out(i) == 1000000L, s"doc $i: ${out(i)}"))
    assert(out(9L) < 500000L, s"salad scored ${out(9L)}")
  }

  test("uncertainty sample: the batch is exactly the smallest-|score| docs") {
    val rows = operators.TextAnalysis.uncertaintySample(spark, sf).collect()
    val scores = operators.TextAnalysis.modelFilter(spark, sf)
      .select("doc_id", "score_sum").collect()
      .map(r => (math.abs(r.getAs[Long]("score_sum")), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_sum")))
    val exp = scores.sortBy(t => (t._1, t._2)).take(math.min(100, scores.length))
    assert(rows.length == exp.length)
    rows.zip(exp).zipWithIndex.foreach { case ((r, (ab, id, s)), i) =>
      assert(r.getAs[Long]("doc_id") == id && r.getAs[Long]("score_sum") == s &&
        r.getAs[Long]("abs_score") == ab && r.getAs[Int]("rank") == i + 1)
    }
  }

  test("code detect: planted source code gates codey, prose does not") {
    import spark.implicits._
    val code = (1L, "def main(x): { if (x > 0) return x * 2; } " +
      "var y = [1, 2, 3]; for (i = 0; i < 10; i++) { y += i; } class Foo:")
    val prose = (2L, "the quiet brown fox wandered through the autumn " +
      "forest and distant bells rang across the valley at dusk")
    val rows = operators.TextAnalysis.codeDetectOn(Seq(code, prose).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("sym_ppm"), r.getAs[Long]("n_keywords"),
          r.getAs[Boolean]("is_codey"))).toMap
    assert(rows(1L)._3, s"code doc scored ${rows(1L)}")
    assert(!rows(2L)._3, s"prose doc scored ${rows(2L)}")
    assert(rows(1L)._2 >= 5 && rows(2L)._2 == 0)
    assert(rows(1L)._1 > rows(2L)._1)
  }

  test("source drift: exact TV ppm on a planted two-source token relation") {
    import spark.implicits._
    // A = {x,x,y}, B = {y,z}; corpus p = {x:.4, y:.4, z:.2}
    // TV(A) = ½(|2/3−.4| + |1/3−.4| + |0−.2|) = 4/15 → 266666 ppm
    // TV(B) = ½(|0−.4| + |1/2−.4| + |1/2−.2|) = 2/5  → 400000 ppm
    val tok = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("B", "y"), ("B", "z"))
      .toDF("source", "w")
    val got = operators.TextAnalysis.sourceDriftOn(tok)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_terms"),
          r.getAs[Long]("tv_ppm"))).toMap
    assert(got == Map("A" -> (3L, 2L, 266666L), "B" -> (2L, 2L, 400000L)))
    // single-source degenerate case: zero drift
    val one = operators.TextAnalysis.sourceDriftOn(
      Seq(("S", "a"), ("S", "b")).toDF("source", "w")).collect()
    assert(one.length == 1 && one.head.getAs[Long]("tv_ppm") == 0L)
  }

  test("zipf octaves: planted counts land in the closed-form buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // counts a:8 b:4 c:2 d,e,f,g:1 → ranks 1..7
    // octave 0 = rank 1 (8 occ), octave 1 = ranks 2-3 (6), octave 2 = ranks 4-7 (4)
    val tok = Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++
      Seq("d", "e", "f", "g")
    val got = operators.TextAnalysis.zipfCurveOn(tok.toDF("w")).collect()
      .map(r => r.getAs[Long]("octave") ->
        (r.getAs[Long]("rank_lo"), r.getAs[Long]("n_terms"),
          r.getAs[Long]("n_occ"))).toMap
    assert(got == Map(0L -> (1L, 1L, 8L), 1L -> (2L, 2L, 6L),
      2L -> (4L, 4L, 4L)), s"got $got")
    val ratios = operators.TextAnalysis.zipfCurveOn(tok.toDF("w")).collect()
      .sortBy(_.getAs[Long]("octave"))
      .map(r => Option(r.getAs[java.lang.Long]("occ_ratio_ppm")))
    assert(ratios(0).isEmpty) // first octave has no predecessor
    assert(ratios(1).contains(java.lang.Long.valueOf(750000L))) // 6e6 div 8
    assert(ratios(2).contains(java.lang.Long.valueOf(666666L))) // 4e6 div 6
    // accounting identities on the corpus itself
    val corp = operators.TextAnalysis.zipfCurve(spark, sf).collect()
    assert(corp.map(_.getAs[Long]("n_occ")).sum ==
      graft.sources.Tables.documents(spark, sf)
        .select(explode(split(
          expr("trim(regexp_replace(lower(text), '\\\\s+', ' '))"), " ")))
        .count())
  }

  test("burstiness: planted counts give the closed-form ppm readouts") {
    import spark.implicits._
    // "the" in 10 docs once each (cf=10, df=10, flat); "spam" 5x in
    // each of 10 docs (cf=50, df=10, bursty)
    val tok = (1 to 10).flatMap(d =>
      ("the" +: Seq.fill(5)("spam")).map(w => (d.toLong, w)))
    val got = operators.TextAnalysis.burstinessOn(tok.toDF("doc_id", "w"))
      .collect().map(r => r.getAs[String]("w") ->
        (r.getAs[Long]("cf"), r.getAs[Long]("df"),
          r.getAs[Long]("burstiness_ppm"), r.getAs[Long]("doc_share_ppm"))).toMap
    assert(got("the") == (10L, 10L, 1000000L, 1000000L), got.toString)
    assert(got("spam") == (50L, 10L, 5000000L, 1000000L), got.toString)
  }

  test("html extract: boilerplate stripped, entity roundtrip exact on a planted page") {
    import spark.implicits._
    // payload exercises BOTH escapes (& and <) plus a literal '&lt;'
    // (which must survive as the four chars, not decode to '<')
    val docs = Seq((7L, "alpha & beta <tag> raw&lt;x gamma"))
      .toDF("doc_id", "text")
    val r = operators.TextAnalysis.htmlExtractOn(docs).collect()(0)
    val expected = "Doc 7 Doc 7 alpha & beta <tag> raw&lt;x gamma"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("text_md5") == md5,
      s"extraction diverged from '$expected'")
    assert(r.getAs[Long]("n_text") == expected.length.toLong)
    assert(r.getAs[Long]("n_text") < r.getAs[Long]("n_html"))
    // corpus sanity: content density is a proper fraction everywhere
    val rows = operators.TextAnalysis.htmlExtract(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { x =>
      assert(x.getAs[Long]("n_text") < x.getAs[Long]("n_html"))
      val ppm = x.getAs[Long]("text_share_ppm")
      assert(ppm > 0 && ppm < 1000000)
    }
  }
}
