package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables._

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * All counting is done with codegen'd built-ins (split / length /
  * regexp) — ratios divide late so Spark and DuckDB compute the same
  * doubles from the same integers. The synthetic corpus carries no
  * real language signal (its `lang` labels are assigned independently
  * of the word distribution), so language-ID accuracy is ~chance by
  * construction; the operator demonstrates the marker-word scoring
  * mechanism and reports predicted vs actual honestly.
  */
object TextAnalysis {

  private val normTextExpr = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"

  /** marker stopwords per language (tiny on-purpose lists — at scale
    * these would be broadcast dictionaries). */
  val Markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))
  private val Langs = Markers.keys.toSeq.sorted // de, en, es, fr, zh

  /** n-gram/stopword-heuristic language ID vs the labeled lang col.
    * Ties break by the fixed de<en<es<fr<zh priority chain — the same
    * CASE chain the oracle runs. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(split(expr(normTextExpr), " ")).as("w"))
    val hitCols = Langs.map(l =>
      sum(when(col("w").isin(Markers(l): _*), 1L).otherwise(0L)).as(s"hits_$l"))
    val counted = words.groupBy("doc_id", "lang")
      .agg(hitCols.head, hitCols.tail: _*)
    val predicted = Langs.init.foldRight(lit(Langs.last): Column) { (l, rest) =>
      val beatsAll = Langs.filter(_ != l)
        .map(o => col(s"hits_$l") >= col(s"hits_$o"))
        .reduce(_ && _)
      when(beatsAll, lit(l)).otherwise(rest)
    }
    counted
      .withColumn("predicted_lang", predicted)
      .withColumn("correct", col("predicted_lang") === col("lang"))
      .select(Seq("doc_id", "lang", "predicted_lang", "correct").map(col) ++
        Langs.map(l => col(s"hits_$l")): _*)
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix — the evaluation artifact behind
    * the langId heuristic: per (true lang, predicted lang) cell the
    * doc count and the row-share (recall on the diagonal, the
    * dominant confusion off it) — what decides whether the classifier
    * is good enough to gate a 100 TB corpus or which language pair
    * needs better markers. Shape: the per-doc classification is the
    * langId pipeline unchanged; the matrix is one hash agg to ≤
    * n_langs² rows, and the row-share window runs over that tiny
    * matrix, never the corpus. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    langId(spark, dir)
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_total", sum("n_docs").over(w))
      .withColumn("share",
        col("n_docs").cast("double") / col("lang_total").cast("double"))
      .orderBy("lang", "predicted_lang")
  }

  /** Flesch-style readability score per document — the classic
    * complexity filter a pre-training curriculum keys on. All three
    * inputs are exact integer counts from codegen'd regexps: words =
    * whitespace-split tokens, sentences = maximal [.!?] runs,
    * syllables ≈ maximal vowel-group runs (the standard cheap proxy).
    * Run counting avoids explode entirely: collapsing each run to one
    * char and comparing lengths against full removal yields the run
    * count as a length difference — a pure per-row projection, no
    * shuffle at any scale. The score's double arithmetic mirrors the
    * oracle term-for-term so engines agree bitwise. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm", expr(normTextExpr))
      .withColumn("n_words", expr("size(split(norm, ' '))").cast("bigint"))
      .withColumn("n_sentences", greatest(lit(1L),
        (length(regexp_replace(col("norm"), "[.!?]+", "S")) -
          length(regexp_replace(col("norm"), "[.!?]+", ""))).cast("bigint")))
      .withColumn("n_syllables", greatest(lit(1L),
        (length(regexp_replace(col("norm"), "[aeiouy]+", "V")) -
          length(regexp_replace(col("norm"), "[aeiouy]+", ""))).cast("bigint")))
      .withColumn("words_per_sentence",
        col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("syllables_per_word",
        col("n_syllables").cast("double") / col("n_words").cast("double"))
      .withColumn("flesch",
        lit(206.835) - lit(1.015) * col("words_per_sentence")
          - lit(84.6) * col("syllables_per_word"))
      .select("doc_id", "n_words", "n_sentences", "n_syllables",
        "words_per_sentence", "syllables_per_word", "flesch")
      .orderBy("doc_id")

  /** length / punctuation / stopword / digit ratios + a weighted
    * quality score — the classic pre-training quality filter shape. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityOn(documents(spark, dir))

  /** generic core: quality scoring over any (doc_id, text) relation —
    * the library entry point; the (spark, dir) form binds it to the
    * test table. */
  def qualityOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", expr(normTextExpr))
      .withColumn("n_char", length(col("norm")).cast("bigint"))
      .withColumn("n_words", size(split(col("norm"), " ")).cast("bigint"))
      .withColumn("n_digit",
        (length(col("norm")) - length(regexp_replace(col("norm"), "[0-9]", ""))).cast("bigint"))
      .withColumn("n_punct",
        (length(col("norm")) - length(regexp_replace(col("norm"), "[^a-z0-9 ]", ""))).cast("bigint"))
      .withColumn("n_stop",
        size(expr("filter(split(norm, ' '), w -> w IN ('the','and','is','of','to','in','that','it'))")).cast("bigint"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words"))
      .withColumn("digit_ratio", col("n_digit").cast("double") / col("n_char"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_char"))
      .withColumn("quality_score",
        lit(0.4) * col("stop_ratio") + lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.2) * least(lit(1.0), col("n_words").cast("double") / 100.0) +
          lit(0.1) * (lit(1.0) - col("digit_ratio")))
      .select("doc_id", "n_char", "n_words", "n_stop", "n_digit", "n_punct",
        "stop_ratio", "digit_ratio", "punct_ratio", "quality_score")
      .orderBy("doc_id")

  /** whitespace tokens + BPE-ish subword tokens (greedy ≤4-char
    * alpha chunks, digits, single punctuation marks). */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm", expr(normTextExpr))
      .withColumn("ws_tokens", size(split(col("norm"), " ")).cast("bigint"))
      .withColumn("bpe_tokens",
        size(expr("regexp_extract_all(norm, '[a-z]{1,4}|[0-9]|[^a-z0-9 ]', 0)")).cast("bigint"))
      .withColumn("chars_per_token",
        length(col("norm")).cast("double") / col("bpe_tokens"))
      .select("doc_id", "ws_tokens", "bpe_tokens", "chars_per_token")
      .orderBy("doc_id")

  /** Lexical diversity / repetition per doc — the quality signal
    * that catches low-diversity spam (keyword stuffing, template
    * loops) that length/punct ratios miss: type-token ratio, the
    * Gini–Simpson diversity 1 − Σp² (the probability two random
    * tokens differ — deliberately NOT Shannon entropy, whose ln()
    * differs across engine libm builds; Simpson is pure integer
    * arithmetic: (n² − Σc²)/n², engine-exact), and the top token's
    * share. One explode → per-(doc, token) hash agg → per-doc agg;
    * all partitions bounded by doc vocabulary. */
  def diversity(spark: SparkSession, dir: String): DataFrame =
    diversityOn(documents(spark, dir))

  /** generic core: lexical diversity over any (doc_id, text)
    * relation — the library entry point. */
  def diversityOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sumsq"),
        max("c").as("max_c"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        ((col("n_tokens") * col("n_tokens") - col("sumsq")).cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson_diversity"),
        (col("max_c").cast("double") / col("n_tokens").cast("double")).as("top_token_share"))
      .orderBy("doc_id")

  /** one shared shingling pipeline for the occurrence-count family:
    * (doc_id, lang, trigram) via posexplode + 2x lead — a single
    * definition so a normalization/shingle change cannot silently
    * diverge [[ngramFreq]] from [[ngramTopkLang]]. */
  private def docTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        posexplode(split(expr(normTextExpr), " ")).as(Seq("pos", "w")))
      .withColumn("w1", lead("w", 1).over(byDoc))
      .withColumn("w2", lead("w", 2).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", col("w"), col("w1"), col("w2")).as("trigram"))
  }

  /** corpus-wide top-40 word trigrams by raw occurrence count (the
    * n-gram frequency table a tokenizer/contamination check starts
    * from). Same explode + lead() shingling as Dedup, without the
    * per-doc distinct; one codegen'd hash agg + TakeOrdered. */
  def ngramFreq(spark: SparkSession, dir: String): DataFrame =
    docTrigrams(spark, dir)
      .groupBy("trigram").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("trigram"))
      .limit(40)

  /** Per-language top-5 trigrams on the NATIVE TopKPerKey operator —
    * the per-group flavor of [[ngramFreq]]'s global table (the n-gram
    * profile a per-language tokenizer/contamination pass starts
    * from). The language key domain is bounded (≤ corpus languages),
    * exactly the contract TopKPerKeyExec's per-key heaps require, so
    * the ranking costs k rows of state per language instead of a
    * per-language window sort over the full trigram census. */
  def ngramTopkLang(spark: SparkSession, dir: String): DataFrame = {
    val tri = docTrigrams(spark, dir)
      .groupBy("lang", "trigram").agg(count(lit(1)).as("n_occurrences"))
    graft.plans.TopK.perKey(tri, Seq("lang"),
      Seq(("n_occurrences", false), ("trigram", true)), 5)
      .orderBy("lang", "rank")
  }

  /** Out-of-vocabulary rate against a corpus-derived top-1000 vocab —
    * the tokenizer-coverage metric that decides whether a vocabulary
    * (or tokenizer merge table) fits a corpus before a 100 TB
    * tokenization run. Vocab = the 1000 highest-document-frequency
    * words (ties broken lexically); per doc, the fraction of token
    * OCCURRENCES outside it. Shape: one explode→hash-agg for df, a
    * vocab-relation sort bounded by |vocabulary| (Heaps-law growth,
    * not corpus growth), then a broadcast semi-join back onto the
    * token stream and a per-doc hash agg — the corpus is never
    * shuffled, only its distinct-word projection. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w"))
    val vocab = words.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(1000)
      .select(col("w"), lit(1L).as("in_vocab"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** Gopher/C4-class document filter rules — the per-document
    * pre-training gate (word-count window, mean word length window,
    * stopword presence, distinct-word fraction against boilerplate
    * repetition). Every rule is a codegen'd expression over one
    * normalized pass; the `keep` conjunction is what a 100 TB corpus
    * pipeline would filter on before tokenization. Thresholds follow
    * the published Gopher ranges, tightened to the synthetic corpus
    * so both branches are exercised. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm", expr(normTextExpr))
      .withColumn("words", split(col("norm"), " "))
      .withColumn("n_words", size(col("words")).cast("bigint"))
      .withColumn("n_distinct_words", size(array_distinct(col("words"))).cast("bigint"))
      // norm is single-spaced, so word chars = length - (n_words - 1)
      .withColumn("mean_word_len",
        (length(col("norm")) - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("stop_hits",
        size(expr("filter(words, w -> w IN ('the','and','is','of','to','in','that','it'))")).cast("bigint"))
      .withColumn("frac_distinct", col("n_distinct_words").cast("double") / col("n_words"))
      .withColumn("keep",
        col("n_words") >= 20 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
          col("stop_hits") >= 1 && col("frac_distinct") >= 0.2)
      .select("doc_id", "n_words", "n_distinct_words", "mean_word_len",
        "stop_hits", "frac_distinct", "keep")
      .orderBy("doc_id")

  /** Deterministic stratified sampling — downsample the dominant
    * language, keep more of the rare ones (the corpus-balancing move
    * every multilingual training mix needs). The sample decision is a
    * pure function of doc_id (60-bit integer from md5, mod 100 — the
    * same engine-exact hash rule as the corpus digests), so the
    * sample is reproducible on any engine and any cluster layout, and
    * re-running over grown data keeps previously-sampled docs stable.
    * No shuffle at all: the filter runs map-side in the scan stage. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("bucket",
        expr(Hash60.sql("CAST(doc_id AS STRING)") + " % 100"))
      .withColumn("rate", when(col("lang") === "en", lit(5L)).otherwise(lit(20L)))
      .filter(col("bucket") < col("rate"))
      .select("doc_id", "lang", "bucket", "rate")
      .orderBy("doc_id")

  /** BM25 retrieval scoring of the corpus against a fixed term query
    * — the ranking half of retrieval-based curation (near-match
    * lookup, quality-weighted sampling, RAG indexing). Classic BM25
    * with k1=1.2, b=0.75, except the idf uses the LOG-FREE ratio
    * (N-df+0.5)/(df+0.5): ln() implementations differ across engines
    * by ulps, which would break the exact oracle, and for a fixed
    * query the log is a monotone transform per term — ranking-
    * equivalent per term and deterministic everywhere. Doc-length
    * stats come from one corpus pass; term frequencies only for the
    * query terms (the filter prunes before the aggregation, so the
    * cost is O(matching postings), not O(corpus vocabulary)). The
    * final score fixes the term addition order (t1+t2+t3 as columns,
    * not a float sum over rows). */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w"))
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = words.filter(col("w").isin(Bm25Terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    bm25Score(tf, dfreq, dl, corpus)
  }

  /** the fixed retrieval query shared by [[bm25]] and [[bm25Indexed]] */
  private val Bm25Terms = Seq("spark", "table", "scan")

  /** shared BM25 scoring tail: takes (doc_id, w, tf) postings, (w, df)
    * doc frequencies, (doc_id, dl) lengths and the 1-row corpus stats
    * — identical arithmetic (and so identical oracle) whether the
    * inputs come from a fresh corpus pass or the persistent index. */
  private def bm25Score(tf: DataFrame, dfreq: DataFrame, dl: DataFrame,
      corpus: DataFrame): DataFrame = {
    val scored = tf
      .join(broadcast(dfreq), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("term_score",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
    val perTerm = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, col("term_score")).otherwise(lit(0.0))).as(s"s$i")
    }
    scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score", col("s0") + col("s1") + col("s2"))
      .select("doc_id", "s0", "s1", "s2", "score")
      .orderBy("doc_id")
  }

  /** Build phase of the persistent inverted index: ONE corpus pass
    * derives the (doc, term, tf) postings (staged once — doc lengths
    * are Σtf per doc, so nothing else rescans the text), written
    * cell-partitioned by a 64-way term-hash bucket exactly like the
    * IVF index partitions by cell (Similarity.ivfBuildIndex) — the
    * retrieval twin of that build/serve split. Vocabulary (term→df),
    * doc lengths and the 1-row corpus stats land beside it. */
  def bm25BuildIndex(spark: SparkSession, dir: String, indexDir: String): Unit = {
    val tf = documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64(col("w")), lit(64L)).cast("int"))
      .localCheckpoint()
    tf.write.mode("overwrite").partitionBy("tb").parquet(s"$indexDir/postings")
    tf.groupBy("tb", "w").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$indexDir/vocab")
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl")).localCheckpoint()
    dl.write.mode("overwrite").parquet(s"$indexDir/doclen")
    dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** Query phase against the persistent index: the probe terms' hash
    * buckets are computed up front (3 scalars), so the postings and
    * vocab reads carry `tb IN (...)` PARTITION filters — a query
    * touches ~|terms|/64 of the index on disk instead of re-scanning
    * the corpus, the text-retrieval analog of
    * Similarity.ivfTopKIndexed's probed-cell pruning. Output (and
    * oracle) identical to [[bm25]]: the index is a layout change,
    * never a semantics change. Rebuild trigger: any corpus mutation —
    * postings are exact, not sketched, so there is no drift margin. */
  def bm25QueryIndexed(spark: SparkSession, dir: String, indexDir: String): DataFrame = {
    val bRow = spark.range(1).select(Bm25Terms.zipWithIndex.map { case (t, i) =>
      pmod(xxhash64(lit(t)), lit(64L)).cast("int").as(s"b$i") }: _*).collect()(0)
    val buckets = Bm25Terms.indices.map(bRow.getInt(_)).distinct
    val postings = spark.read.parquet(s"$indexDir/postings")
      .filter(col("tb").isin(buckets: _*) && col("w").isin(Bm25Terms: _*))
      .select("doc_id", "w", "tf")
    val vocab = spark.read.parquet(s"$indexDir/vocab")
      .filter(col("tb").isin(buckets: _*) && col("w").isin(Bm25Terms: _*))
      .select("w", "df")
    val dl = spark.read.parquet(s"$indexDir/doclen")
    val corpus = spark.read.parquet(s"$indexDir/stats")
    bm25Score(postings, vocab, dl, corpus)
  }

  /** queries() wiring, the ivfIndexed pattern: build once per
    * (app, sf dir), serve every subsequent call from the index — the
    * measured steady state is the query cost, as deployed. */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = graft.queries.SourcesSinks.tmp(spark, dir, "bm25_index")
    // sentinel = the LAST-written artifact, so a build that died
    // midway (postings committed, stats not) self-heals by rebuilding
    // — the ivfIndexed pattern
    if (!new java.io.File(s"$indexDir/stats/_SUCCESS").isFile)
      bm25BuildIndex(spark, dir, indexDir)
    bm25QueryIndexed(spark, dir, indexDir)
  }

  /** Per-document top-3 tf-idf terms — the keyword/topic extraction
    * pass feeding corpus exploration and topic-balanced sampling. The
    * idf is the same LOG-FREE ratio as bm25 ((N−df+0.5)/(df+0.5) —
    * monotone in df, so ranking-identical to log idf and engine-exact
    * for the oracle); ties break on the term string so the top-3 is a
    * total order.
    *
    * Shape: tf = (doc, term) hash agg over one exploded pass; df is a
    * term-keyed agg of that same relation joined back UNHINTED —
    * Catalyst broadcasts it while the vocabulary fits (millions of
    * rows against billions of docs) and falls back to a shuffle join
    * past the threshold, a choice a hard broadcast() would foreclose.
    * The per-doc top-3 is a window row_number over doc partitions —
    * the documented fallback shape for unbounded key domains, where
    * TopKPerKeyExec's per-key heaps would violate the bounded-keys
    * contract (plans/TopKPerKey.scala). */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    // tf feeds BOTH the df derivation and the scored join; staged once
    // (the contamination/minhash pattern — the two consumers otherwise
    // each re-run the explode + (doc,term) aggregation from a fresh
    // scan, and (doc,term) is corpus-scale work)
    val tf = documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    // no broadcast hint on dfreq: a hard hint would FORCE a broadcast
    // even when the vocabulary outgrows executor memory, foreclosing
    // the shuffle-join fallback 100 TB needs. Unhinted, Catalyst/AQE
    // broadcasts while dfreq is below the threshold and degrades to a
    // shuffle join past it — both plans are correct.
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf").cast("double") *
          (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Benchmark-contamination check: which documents contain any
    * trigram from a blocklist. The blocklist here is derived from the
    * corpus itself (top-5 trigrams — deterministic, so the oracle
    * replays it); in production it is the benchmark suite's n-grams.
    * Shape: explode doc trigrams once, broadcast-join the (small)
    * blocklist, count hits per doc — the decontamination semi-join
    * every training-data pipeline runs before a release. A blocklist
    * too big to broadcast becomes the same plan minus the hint.
    *
    * `tri` feeds BOTH the blocklist derivation and the hit join, and
    * the limit(5) on the blocklist side breaks exchange-subtree
    * identity, so ReuseExchange can't collapse the two shingle
    * pipelines — stage the trigram relation once with an eager
    * localCheckpoint (the minhash postings pattern, Dedup.scala). At
    * 100 TB the same shape stages trigrams to a temp table, then
    * fans out. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val tri = documents(spark, dir)
      .select(col("doc_id"), posexplode(split(expr(normTextExpr), " ")).as(Seq("pos", "w")))
      .withColumn("w1", lead("w", 1).over(byDoc))
      .withColumn("w2", lead("w", 2).over(byDoc))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w1"), col("w2")).as("trigram"))
      .localCheckpoint()
    val block = tri.groupBy("trigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram")).limit(5)
      .select("trigram")
    tri.join(broadcast(block), "trigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("trigram")).as("n_distinct_hits"))
      .orderBy("doc_id")
  }

  /** Within-document repetition signals — the Gopher repetition-
    * removal family (duplicate n-gram fractions, n = 2 and 3, plus
    * the share held by the single most common bigram). Boilerplate
    * and template spam show up as a high duplicate-gram fraction long
    * before any cross-document dedup runs, so this gate is the
    * cheapest filter in the pipeline: it needs no join at all, only
    * per-document aggregation.
    *
    * Shape: ONE shingle pass (the same explode + lead() pipeline as
    * ngramFreq — see §4 of SURVEY.md for why HOF shingling is >100×
    * slower) staged with an eager localCheckpoint because it feeds
    * both the bigram and the trigram branch (the contamination
    * pattern); each branch is a two-level hash agg keyed by
    * (doc_id, gram) then doc_id — partial-agg friendly, and the
    * (doc_id, gram) key space is per-document so no key is ever hot.
    * At 100 TB this is embarrassingly parallel: every stage is keyed
    * by doc_id. */
  def dupNgram(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val grams = documents(spark, dir)
      .select(col("doc_id"), posexplode(split(expr(normTextExpr), " ")).as(Seq("pos", "w")))
      .withColumn("w1", lead("w", 1).over(byDoc))
      .withColumn("w2", lead("w", 2).over(byDoc))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("w"), col("w1")).as("bigram"),
        when(col("w2").isNotNull,
          concat_ws(" ", col("w"), col("w1"), col("w2"))).as("trigram"))
      .localCheckpoint()
    val bi = grams.groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"), count(lit(1)).as("nd_bi"), max("n").as("mx_bi"))
    val tri = grams.filter(col("trigram").isNotNull)
      .groupBy("doc_id", "trigram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_trigrams"), count(lit(1)).as("nd_tri"))
    // LEFT join: a 2-word doc has bigrams but no trigram, and must
    // still reach the gate verdict (an inner join silently dropped it
    // from the output). No trigrams ⇒ no repeated trigrams ⇒ the
    // trigram axis contributes 0 and the verdict rests on bigrams.
    bi.join(tri, Seq("doc_id"), "left")
      .withColumn("n_trigrams", coalesce(col("n_trigrams"), lit(0L)))
      .withColumn("dup_bigram_frac",
        (col("n_bigrams") - col("nd_bi")).cast("double") / col("n_bigrams"))
      .withColumn("top_bigram_frac", col("mx_bi").cast("double") / col("n_bigrams"))
      .withColumn("dup_trigram_frac",
        when(col("n_trigrams") > 0,
          (col("n_trigrams") - col("nd_tri")).cast("double") / col("n_trigrams"))
          .otherwise(lit(0.0)))
      // thresholds tuned to the synthetic corpus so both branches are
      // exercised (9 of 500 docs at sf0.01 exceed the bigram gate)
      .withColumn("keep",
        col("dup_bigram_frac") <= 0.1 && col("dup_trigram_frac") <= 0.05)
      .select("doc_id", "n_bigrams", "dup_bigram_frac", "top_bigram_frac",
        "n_trigrams", "dup_trigram_frac", "keep")
      .orderBy("doc_id")
  }

  /** PII scrubbing — the redaction pass every training-data release
    * runs before anything ships: emails and phone numbers are
    * replaced with typed placeholder tokens and the hit counts are
    * kept for audit (a spike in PII density flags a bad source). The
    * synthetic corpus contains no real PII, so a deterministic
    * email + phone derived from doc_id is appended first and the
    * scrubber must find and remove exactly what was planted — the
    * oracle replays both halves.
    *
    * Shape: a pure per-row projection over one scan (regexp_count +
    * regexp_replace, all codegen'd) — no shuffle before the output
    * sort, embarrassingly parallel at any scale. The regexes stay in
    * the portable character-class dialect both engines (and RE2-class
    * matchers generally) agree on. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    // r16: the r15 scan fan-out is dropped and the projection is
    // materialized once before the global sort instead (see
    // codeDetect — same interleaved A/B verdict, 0.76 median): the
    // range exchange's sampling pass re-ran the regex kernel, which
    // is what the fan-out was amortizing. The checkpointed relation
    // is narrow (counts + md5).
    piiRedactOn(documents(spark, dir)).localCheckpoint().orderBy("doc_id")

  /** Generic core of [[piiRedact]] over any (doc_id, text) relation:
    * the unexecuted projection, so a plan pin sees the regex kernel
    * rather than the checkpoint that hides it. */
  def piiRedactOn(docs: DataFrame): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val salted = docs.select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
    val redacted = regexp_replace(
      regexp_replace(col("text"), lit(emailRe), lit("<EMAIL>")),
      lit(phoneRe), lit("<PHONE>"))
    salted.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("bigint").as("n_emails"),
      regexp_count(col("text"), lit(phoneRe)).cast("bigint").as("n_phones"),
      length(redacted).as("redacted_len"),
      md5(redacted).as("redacted_md5"))
  }

  /** Strided word-window chunking — the document → context-window
    * step between cleaning and tokenization: 64-word chunks on a
    * 48-word stride (16 words of overlap so no boundary context is
    * lost), each chunk carrying its md5 so downstream chunk-level
    * dedup / indexing can run without re-reading text. Chunk starts
    * come from `sequence()` + explode (codegen'd, no HOF lambda on
    * the hot path); the slice/digest arithmetic is integer-only so
    * the oracle replays it bitwise. Scales: chunking is per-document
    * map-side work — the explode multiplies rows by ~n_words/48, and
    * there is no shuffle at all before the output sort. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunks(spark, dir).orderBy("doc_id", "chunk_idx")

  /** the unsorted chunk relation — callers add their own final sort
    * (a global orderBy here would cost downstream consumers like
    * Dedup.chunkDedup a range exchange + sort that their own shuffle
    * immediately destroys; EliminateSorts does not see through a
    * Window). */
  private[operators] def chunks(spark: SparkSession, dir: String): DataFrame = {
    val chunkLen = 64
    val stride = 48
    documents(spark, dir)
      .withColumn("words", split(expr(normTextExpr), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("chunk_start",
        explode(sequence(lit(0), col("n_words") - 1, lit(stride))))
      .select(col("doc_id"),
        (col("chunk_start") / stride).cast("bigint").as("chunk_idx"),
        col("chunk_start").cast("bigint").as("chunk_start"),
        least(lit(chunkLen), col("n_words") - col("chunk_start"))
          .cast("bigint").as("n_chunk_words"),
        md5(concat_ws(" ", slice(col("words"), col("chunk_start") + 1, lit(chunkLen))))
          .as("chunk_md5"))
  }

  /** polynomial rolling-hash fingerprint of the normalized text
    * (acc·31 + codepoint mod 1e9+7 — the per-doc linear fold the
    * reference's scan hashes rows with, hash-util.h analog). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("norm", expr(normTextExpr))
      .withColumn("fingerprint",
        expr("aggregate(split(norm, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"))
      .withColumn("n_chars_norm", length(col("norm")).cast("bigint"))
      .select("doc_id", "fingerprint", "n_chars_norm")
      .orderBy("doc_id")

  /** Corpus-wide adjacent-symbol pair frequencies — the inner
    * counting step of one BPE merge round (tokenizer training starts
    * at the character alphabet and repeatedly merges the most
    * frequent adjacent pair; this IS that argmax table, top 40 with
    * a total order). Shape at 100 TB: the per-word pair explosion is
    * pure map-side codegen (transform over a sequence of substring
    * starts), and the count is one map-side-combined hash agg over a
    * small key space (≤ alphabet² pairs), so the shuffle is tiny no
    * matter the corpus size — the same reduction every BPE trainer
    * distributes. Counts are exact integers → oracle parity exact. */
  def pairFreq(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(split(expr(normTextExpr), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(40)

  /** Corpus-wide bigram collocation mining — the top-40 adjacent
    * word pairs by LIFT (observed/expected co-occurrence over the
    * bigram event space: n12·N / (c1·c2), the exp(PMI) a phrase
    * extractor ranks by; Mikolov et al.'s word2phrase score is this
    * table with a discount). All counting is exact integers; the
    * lift is one double expression computed identically by the
    * oracle (every cast is < 2^53 so the doubles are exact inputs
    * and IEEE division agrees bit-for-bit). Shape at 100 TB: the
    * bigram explosion is a per-doc lead() window (bounded by doc
    * length), counts are map-side-combined hash aggs keyed by
    * vocabulary (≪ corpus), the minCount gate shrinks the pair
    * table BEFORE the two margin joins, and N is a broadcast 1-row
    * relation — no unbounded window, no skewed-key window buffer.
    * Reference analog: the aggregation cascade of
    * aggregation-node.cc (partial count → merge → final expr). */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsOn(documents(spark, dir), minCount = 5)

  /** generic core: collocation lift over any (doc_id, text)
    * relation; `minCount` drops rare pairs before the margin joins
    * (rare-pair lift is noise and the filter bounds the join). */
  def collocationsOn(docs: DataFrame, minCount: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val big = docs
      .select(col("doc_id"), posexplode(split(expr(normTextExpr), " ")).as(Seq("pos", "w")))
      .withColumn("wn", lead("w", 1).over(byDoc))
      .filter(col("wn").isNotNull)
      .groupBy(col("w").as("w1"), col("wn").as("w2"))
      .agg(count(lit(1)).as("n12"))
      // two consumers below (margins + total) — pin the pair census
      .localCheckpoint()
    val leftC  = big.groupBy("w1").agg(sum("n12").as("c1"))
    val rightC = big.groupBy("w2").agg(sum("n12").as("c2"))
    val total  = big.agg(sum("n12").as("n_total"))
    big.filter(col("n12") >= minCount)
      .join(leftC, Seq("w1")).join(rightC, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n12"), col("c1"), col("c2"),
        (col("n12").cast("double") * col("n_total").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))).as("lift"))
      .orderBy(desc("lift"), col("w1"), col("w2"))
      .limit(40)
  }

  /** Deterministic k-per-group sampling — "give me exactly 5 docs
    * per language, reproducibly" (per-lang eval subsets, per-source
    * spot-check pulls): rank every doc inside its group by an
    * md5-derived key and keep rank ≤ k. Hash-ranking makes the
    * sample uniform over the group, stable across runs/partitions,
    * and side-effect-free to extend (k+1 extends the k-sample —
    * consistent sampling). The ranking rides the native bounded-heap
    * TopKPerKey operator, so no group is ever fully sorted — the
    * per-key state is k rows at any group size, which is what makes
    * exact-k sampling viable where reservoir sampling would need
    * order-dependent state. */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val ranked = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(Hash60.sql("concat('smp_', CAST(doc_id AS STRING))")).as("skey"))
    graft.plans.TopK.perKey(ranked, Seq("lang"),
        Seq("skey" -> true, "doc_id" -> true), k)
      .select("lang", "doc_id", "skey", "rank")
      .orderBy("lang", "rank")
  }

  /** Model-based quality filter — the fastText/DCLM-style learned
    * classifier step of a modern curation pipeline, run as pure
    * relational algebra: a linear model over HASHED bag-of-words
    * features (score = Σ w[bucket(token)] / n_tokens). A deployed
    * model broadcasts its bucket→weight table and this plan is
    * unchanged; here the stand-in weight for bucket b is
    * (b mod 2001) − 1000 ∈ [−1000, 1000] per-mille units, derived
    * from the md5-based bucket id itself so the classifier is
    * deterministic and the oracle replays it exactly (the fixture
    * for the PLUMBING — feature hashing, per-doc fold, threshold
    * gate — which is what the engine owns; the weights are the
    * model's business). Shape at 100 TB: explode → map-side-combined
    * hash agg per doc, no join, no window — the cheapest possible
    * per-doc scan, which is why classifier filtering is the first
    * gate after langid in real pipelines. Integer score sums are
    * engine-exact; the mean is one double division at the end. */
  def modelFilter(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w"))
      .withColumn("wgt", expr(s"${Hash60.sql("w")} % 2001L - 1000L"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("wgt").as("score_sum"))
      .withColumn("mean_score",
        col("score_sum").cast("double") / col("n_tokens").cast("double"))
      .withColumn("keep", col("score_sum") > 0)
      .select("doc_id", "n_tokens", "score_sum", "mean_score", "keep")
      .orderBy("doc_id")

  /** Iterative BPE merge training (the loop vocab_pair_freq is one
    * counting step of): R merge rounds, each picking the
    * highest-frequency adjacent symbol pair over the corpus and
    * fusing it everywhere, exactly the Sennrich et al. (2016)
    * byte-pair-encoding procedure (reference scope: the tokenizer a
    * training-data pipeline must train before it can count tokens).
    *
    * Shape at 100 TB: the corpus is exploded and counted ONCE into
    * the compressed (word, freq) vocabulary — Heaps-law bounded, a
    * few million rows for any corpus — and every merge round runs on
    * that compressed relation only (a pair hash-agg + a 1-row
    * broadcast argmax + a projection). The per-doc HOFs that are
    * banned on corpus-scale hot paths (see §4) are fine here because
    * the relation is the vocabulary, not the corpus. Round state is
    * localCheckpointed like dedup_components' label iterations.
    *
    * Merging is greedy left-to-right (the BPE contract) and
    * boundary-safe via the doubled-delimiter trick: with every
    * symbol gap widened to two spaces, the needle
    * ` x  y ` can only match whole symbols (a symbol's interior
    * never contains the required surrounding spaces), while plain
    * non-overlapping replace() reproduces the greedy merge order —
    * "a a a a" → "aa aa", never "a aa a". Ties break by pair text,
    * same ORDER BY in the oracle's unrolled three-round replay. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOn(
      documents(spark, dir)
        .select(explode(split(expr(normTextExpr), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("n")),
      rounds = 3)

  /** Generic core: run `rounds` BPE merge rounds over a pre-counted
    * vocabulary relation (w: STRING token type, n: BIGINT corpus
    * frequency) — the library entry point for a user's own corpus
    * (and the seam the spec drives with planted vocabularies whose
    * merge sequence is hand-derivable). Returns one row per round:
    * (round, pair, merged, cnt). */
  def bpeMergesOn(vocab: DataFrame, rounds: Int): DataFrame = {
    var words = vocab
      .select(expr("trim(regexp_replace(w, '(.)', '$1 '))").as("s"), col("n"))
      .localCheckpoint()
    val merges = (1 to rounds).map { r =>
      val top = words
        .withColumn("a", split(col("s"), " "))
        .filter(size(col("a")) >= 2)
        .select(col("n"), explode(
          expr("transform(sequence(1, size(a) - 1), i -> concat(a[i-1], ' ', a[i]))")).as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("cnt"))
        .orderBy(desc("cnt"), asc("pair")).limit(1)
        .localCheckpoint()
      words = words.crossJoin(broadcast(top))
        .select(expr(
          """trim(regexp_replace(
            |  replace(replace(concat(' ', s, ' '), ' ', '  '),
            |          concat(' ', replace(pair, ' ', '  '), ' '),
            |          concat(' ', replace(pair, ' ', ''), ' ')),
            |  ' +', ' '))""".stripMargin).as("s"), col("n"))
        .localCheckpoint()
      top.select(lit(r.toLong).as("round"), col("pair"),
        expr("replace(pair, ' ', '')").as("merged"), col("cnt"))
    }
    merges.reduce(_.unionByName(_)).orderBy("round")
  }

  /** Data-driven stopword discovery — derive the stopword list the
    * RAKE / Gopher / langid gates consume from the corpus itself
    * instead of a shipped dictionary (the Luhn cut: words in a large
    * share of documents carry no topical signal). Per token type:
    * document frequency, corpus frequency, and the df share; the
    * candidate list is every type present in ≥ 25% of documents,
    * ranked by df share under a total order. One distinct + two hash
    * aggs over the exploded tokens — df is a count over the
    * (w, doc_id)-distinct relation, never a per-doc window. The
    * permille df share is exact integer math (1000·df div n_docs);
    * ranking floats never enter. */
  def stopwordDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val stats = toks.groupBy("w").agg(count(lit(1)).as("corpus_freq"))
    val dfreq = toks.select("w", "doc_id").distinct()
      .groupBy("w").agg(count(lit(1)).as("doc_freq"))
    stats.join(dfreq, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("df_permille", expr("doc_freq * 1000 div n_docs"))
      .filter(col("doc_freq") * 4 >= col("n_docs"))
      .select("w", "doc_freq", "corpus_freq", "df_permille")
      .orderBy(desc("df_permille"), desc("corpus_freq"), asc("w"))
  }

  /** RAKE-style keyword extraction (Rose et al. 2010), corpus-level:
    * candidate phrases are maximal runs of non-stopword tokens
    * (islands between stopword delimiters — one bounded per-doc
    * running-count window, the win_sessionize shape), each word
    * scores degree/frequency over ALL candidate phrase memberships,
    * and a phrase scores the sum of its words. The top-10 phrases
    * under a total order are the corpus keyword headline.
    *
    * Float discipline: the word score is floored to integer
    * micro-units (floor(deg/freq·1e6) — one exact-rounded division
    * and multiply, identical IEEE in both engines), so the phrase
    * score is an order-free integer sum. Phrase text assembles via
    * sort_array(collect_list(struct(pos, w))) — per-phrase cold
    * path, bounded by phrase length. Shape at 100 TB: explode → two
    * bounded windows → hash aggs + one vocabulary-keyed join; no
    * pair joins, no global sort before the final top-10. */
  def keywordRake(spark: SparkSession, dir: String): DataFrame =
    keywordRakeOn(documents(spark, dir), topN = 10)

  /** Generic core: RAKE over any (doc_id, text) relation — the
    * library entry point, and the seam the spec drives with planted
    * documents whose phrase scores are hand-derivable. */
  def keywordRakeOn(docs: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopArr = array(Markers("en").map(lit): _*)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val byPhrase = Window.partitionBy("doc_id", "isl")
    val mem = docs
      .select(col("doc_id"), posexplode(split(expr(normTextExpr), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .withColumn("is_stop", array_contains(stopArr, col("w")))
      .withColumn("isl", sum(when(col("is_stop"), 1L).otherwise(0L)).over(byDoc))
      .filter(!col("is_stop"))
      .withColumn("plen", count(lit(1)).over(byPhrase))
    val wscore = mem.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("w"), floor(col("deg").cast("double") /
        col("freq").cast("double") * lit(1000000.0)).as("wscore"))
    mem.join(wscore, "w")
      .groupBy("doc_id", "isl")
      .agg(count(lit(1)).as("n_words"), sum("wscore").as("score_micro"),
        sort_array(collect_list(struct(col("pos"), col("w")))).as("pw"))
      .select(col("doc_id"), col("isl").as("phrase_seq"),
        expr("array_join(transform(pw, x -> x.w), ' ')").as("phrase"),
        col("n_words"), col("score_micro"))
      .orderBy(desc("score_micro"), asc("phrase"), asc("doc_id"),
        asc("phrase_seq"))
      .limit(topN)
  }

  /** Apply the learned BPE merge table — the other half of the
    * tokenizer loop vocab_bpe_merges trains: re-derive the 3-round
    * merge table, broadcast it as one row, and replay the SAME
    * boundary-safe doubled-delimiter merges over the compressed
    * vocabulary in training order. Output is the corpus compression
    * card: word mass, symbols before (= characters — the initial
    * one-symbol-per-char state) vs after, symbols saved, and the
    * ratio — exactly what a tokenizer-training run logs per merge
    * epoch. Corpus-scale cost: the vocabulary projection applies 3
    * string replaces; everything else is the one explode the vocab
    * build already pays. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val vocab = documents(spark, dir)
      .select(explode(split(expr(normTextExpr), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
    val mrow = bpeMergesOn(vocab, rounds = 3).agg(
      max(when(col("round") === 1, col("pair"))).as("p1"),
      max(when(col("round") === 2, col("pair"))).as("p2"),
      max(when(col("round") === 3, col("pair"))).as("p3"))
    def merge(sCol: String, pCol: String): String =
      s"""trim(regexp_replace(
         |  replace(replace(concat(' ', $sCol, ' '), ' ', '  '),
         |          concat(' ', replace($pCol, ' ', '  '), ' '),
         |          concat(' ', replace($pCol, ' ', ''), ' ')),
         |  ' +', ' '))""".stripMargin
    vocab
      .select(expr("trim(regexp_replace(w, '(.)', '$1 '))").as("s"), col("n"))
      .crossJoin(broadcast(mrow))
      .withColumn("s1", expr(merge("s", "p1")))
      .withColumn("s2", expr(merge("s1", "p2")))
      .withColumn("s3", expr(merge("s2", "p3")))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * expr("length(replace(s3, ' ', ''))")).as("symbols_before"),
        sum(col("n") * size(split(col("s3"), " "))).as("symbols_after"))
      .withColumn("symbols_saved", col("symbols_before") - col("symbols_after"))
      .withColumn("compression",
        col("symbols_after").cast("double") / col("symbols_before").cast("double"))
  }

  /** Heaps-law vocabulary growth curve — "how fast does the type
    * inventory grow as the corpus grows", the diagnostic behind vocab
    * sizing and dedup health (a corpus whose curve flattens too early
    * is recrawling itself). Each token type is attributed to the
    * decile of the corpus (by doc_id order) where it FIRST appears —
    * one min() hash-agg over the exploded tokens, never a running
    * distinct — and the 10-row decile relation carries cumulative
    * docs/tokens/vocabulary plus the type-token ratio. The only
    * window runs over the 10-row spine. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, dir)
    val mx = docs.agg(max("doc_id").as("mx"))
    val words = docs
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val tokB = words.crossJoin(broadcast(mx))
      .select(expr("doc_id * 10 div (mx + 1)").as("b"))
      .groupBy("b").agg(count(lit(1)).as("toks"))
    val newB = words.groupBy("w").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(mx))
      .select(expr("fd * 10 div (mx + 1)").as("b"))
      .groupBy("b").agg(count(lit(1)).as("news"))
    val docB = docs.crossJoin(broadcast(mx))
      .select(expr("doc_id * 10 div (mx + 1)").as("b"))
      .groupBy("b").agg(count(lit(1)).as("docs"))
    val cum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.range(10).select(col("id").as("b"))
      .join(docB, Seq("b"), "left")
      .join(tokB, Seq("b"), "left")
      .join(newB, Seq("b"), "left")
      .select(col("b").as("decile"),
        sum(coalesce(col("docs"), lit(0L))).over(cum).as("n_docs"),
        sum(coalesce(col("toks"), lit(0L))).over(cum).as("n_tokens"),
        sum(coalesce(col("news"), lit(0L))).over(cum).as("vocab_size"),
        coalesce(col("news"), lit(0L)).as("new_types"))
      .withColumn("type_token_ratio",
        col("vocab_size").cast("double") / col("n_tokens").cast("double"))
      .orderBy("decile")
  }

  /** Duplication-vs-shingle-width curve — the curation diagnostic
    * behind choosing a dedup shingle size: the duplicate mass
    * (1 − distinct/total occurrences) for 3-, 5- and 7-gram shingles
    * from ONE window pass (six lead columns; shingle_n is a prefix of
    * shingle_7, so all three derive from the same exploded relation).
    * The three COUNT(DISTINCT)s share one aggregate (the documented
    * Expand ×3 shape of agg_multi_distinct — right while the answer
    * is 3 numbers from one pass); the dup fraction is one double
    * division of exact integers. */
  def dupCurve(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val words = documents(spark, dir)
      .select(col("doc_id"), posexplode(split(expr(normTextExpr), " ")).as(Seq("pos", "w")))
    val withLeads = (1 to 6).foldLeft(words) { (df, i) =>
      df.withColumn(s"w$i", lead("w", i).over(byDoc))
    }
    val shingled = withLeads.select(
      when(col("w2").isNotNull,
        concat_ws(" ", col("w"), col("w1"), col("w2"))).as("s3"),
      when(col("w4").isNotNull,
        concat_ws(" ", col("w"), col("w1"), col("w2"), col("w3"), col("w4"))).as("s5"),
      when(col("w6").isNotNull, concat_ws(" ", col("w"), col("w1"), col("w2"),
        col("w3"), col("w4"), col("w5"), col("w6"))).as("s7"))
    val agg = shingled.agg(
      count(col("s3")).as("t3"), countDistinct(col("s3")).as("d3"),
      count(col("s5")).as("t5"), countDistinct(col("s5")).as("d5"),
      count(col("s7")).as("t7"), countDistinct(col("s7")).as("d7"))
      .localCheckpoint()
    def row(n: Int): DataFrame = agg.select(lit(n.toLong).as("n"),
      col(s"t$n").as("total_shingles"), col(s"d$n").as("distinct_shingles"),
      ((col(s"t$n") - col(s"d$n")).cast("double") / col(s"t$n").cast("double"))
        .as("dup_fraction"))
    row(3).unionByName(row(5)).unionByName(row(7)).orderBy("n")
  }

  /** Bigram language-model familiarity — the KenLM-shaped quality
    * gate reduced to its exact-arithmetic core: train a corpus bigram
    * "model" (the global top-1000 bigrams by frequency), then score
    * each document by the fraction of its bigram OCCURRENCES the
    * model covers. Fluent prose reuses the corpus's high-frequency
    * transitions (high familiarity); gibberish, boilerplate-free
    * tails, and wrong-language text don't — the same signal a real
    * LM perplexity filter thresholds, but as a pure integer ratio
    * (hits·10⁶ div total) both engines reproduce bit-exactly, where
    * log-prob scoring would drift in float summation order.
    * Complements [[oovRate]] (unigram vocabulary coverage): a doc of
    * real words in scrambled ORDER passes OOV but fails here.
    *
    * Scale shape: the bigram relation is long-layout (one row per
    * occurrence); training is one map-side-combined count then the
    * top-1000 via per-partition heaps (TakeOrdered — k rows per
    * partition to the driver, never the tail); scoring joins the
    * occurrences against the BROADCAST 1000-row model. Ties at the
    * top-1000 boundary break by (count desc, bigram asc) so the
    * model is a pure function of the corpus. */
  def lmFamiliarity(spark: SparkSession, dir: String): DataFrame =
    lmFamiliarityOn(documents(spark, dir))

  /** Generic core of [[lmFamiliarity]] over any (doc_id, text)
    * relation — train the top-1000 bigram model on the SAME corpus
    * being scored (the self-scoring curation shape; score a fixed
    * release against a frozen model by passing that corpus here). */
  def lmFamiliarityOn(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), split(expr(normTextExpr), " ").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(words)-2), i -> concat(words[i], ' ', words[i+1]))"))
        .as("bg"))
    val top = bg.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bg")).limit(1000)
      .select(col("bg"), lit(1L).as("hit"))
    bg.join(broadcast(top), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_familiar"))
      .select(col("doc_id"), col("n_bigrams"), col("n_familiar"),
        expr("n_familiar * 1000000L div n_bigrams").as("familiar_ppm"))
      .orderBy("doc_id")
  }

  /** UNCERTAINTY SAMPLING — the active-learning batch selector: the
    * docs the model-based filter is LEAST sure about (smallest
    * |score|, i.e. nearest the keep/drop boundary) are the ones
    * worth human annotation budget; batch size 100, rank total via
    * the (|score|, doc_id) tie-break. Scale: the global top-k by
    * smallest |score| is a TakeOrdered (per-partition heaps + one
    * k-row merge — never a full sort), and the rank window runs over
    * the 100-row RESULT, not the corpus. */
  def uncertaintySample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("abs_score", "doc_id") // 100-row bounded relation
    modelFilter(spark, dir)
      .select(col("doc_id"), col("score_sum"), abs(col("score_sum")).as("abs_score"))
      .orderBy("abs_score", "doc_id").limit(100)
      .withColumn("rank", row_number().over(w))
      .orderBy("rank")
  }

  /** Code-vs-prose detection — the curation gate that routes source
    * code OUT of a prose corpus (or into a code corpus): code is
    * symbol-dense (braces, operators, semicolons), keyword-bearing
    * and digit-heavy in ways prose is not, so the classic heuristic
    * stack (the one behind every "code filter" in public corpus
    * pipelines) scores exactly those three signals. All features are
    * exact integer ppm over the doc's normalized text — counts via
    * length-difference after class deletion and a keyword
    * regexp_extract_all, both engine-mirrored — and the gate is a
    * pure integer predicate, so the oracle comparison is bitwise.
    * Map-only: one projection pass, no shuffle before the per-doc
    * output. */
  def codeDetect(spark: SparkSession, dir: String): DataFrame =
    // materialize the regex projection ONCE before the global sort
    // (r16; the win_rolling_median pattern): the range exchange's
    // sampling pass re-executed the whole regex kernel, so the sort
    // silently doubled the row's cost. The checkpointed relation is
    // narrow (doc_id + 4 ints + bool). The r15 scan fan-out is
    // dropped — re-adjudicated on interleaved same-session A/Bs:
    // plain+ckpt beat fanout+ckpt 1.8× median (the fan-out exchange
    // was paying for itself only while the kernel ran twice).
    codeDetectOn(documents(spark, dir)).localCheckpoint().orderBy("doc_id")

  /** Generic core of [[codeDetect]] over any (doc_id, text) relation. */
  def codeDetectOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", expr(normTextExpr))
      .filter(length(col("norm")) > 0)
      .select(col("doc_id"),
        length(col("norm")).cast("bigint").as("n_chars"),
        (length(col("norm")) -
          length(regexp_replace(col("norm"), "[^a-z0-9 ]", "")))
          .cast("bigint").as("n_sym"),
        (length(col("norm")) -
          length(regexp_replace(col("norm"), "[0-9]", "")))
          .cast("bigint").as("n_digit"),
        expr("""CAST(size(regexp_extract_all(norm,
          '\\b(def|class|return|import|function|var|val|if|else|for|while)\\b', 0)) AS BIGINT)""")
          .as("n_keywords"))
      .select(col("doc_id"), col("n_chars"),
        expr("n_sym * 1000000 div n_chars").as("sym_ppm"),
        expr("n_digit * 1000000 div n_chars").as("digit_ppm"),
        col("n_keywords"),
        (expr("n_sym * 1000000 div n_chars") > 30000 &&
          col("n_keywords") >= 3).as("is_codey"))

  /** Per-source unigram DISTRIBUTION DRIFT against the whole corpus —
    * the mixture-monitoring readout a training pipeline watches when
    * a crawl slice or vendor feed starts looking unlike the rest of
    * the mix (the alarm before quality regressions, next to
    * [[Pipeline.sourceStats]]'s volume accounting). The statistic is
    * the exact TOTAL-VARIATION distance ½·Σ_w |p_s(w) − p(w)| —
    * deliberately not KL/JSD, whose ln() makes the result
    * libm-dependent; TV is a pure rational of term counts, exported
    * as an exact truncated ppm both engines compute bitwise. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    sourceDriftOn(documents(spark, dir).select(col("source"),
      explode(split(expr(normTextExpr), " ")).as("w")))
      .orderBy("source")

  /** Generic core of [[sourceDrift]] over any (source, w) token
    * relation. Scale shape: the corpus collapses ONCE to the
    * (source, term) count relation (map-side combined); global term
    * counts derive from that relation, not a second corpus pass; the
    * only wide join is counts⋈counts on the term key. The
    * absent-term mass — terms the source never uses contribute
    * Σ_{w∉s} n_w·N_s — is closed-form from the per-source covered
    * mass, so no outer join materializes the (source × vocab)
    * cross grid. Cross-multiplied DECIMAL(38,0) numerators keep the
    * ppm exact at 100 TB token counts (n·N ~ 10²⁶). */
  def sourceDriftOn(tok: DataFrame): DataFrame = {
    val sw = tok.groupBy("source", "w").agg(count(lit(1)).as("n_sw"))
      .localCheckpoint() // three consumers: global counts, totals, join
    val wAll = sw.groupBy("w").agg(sum("n_sw").as("n_w"))
    val ns = sw.groupBy("source").agg(sum("n_sw").as("n_s"))
    val tot = ns.agg(sum("n_s").as("n_total"))
    sw.join(wAll, "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        sum(abs(col("n_sw").cast(DecimalType(38, 0)) * col("n_total") -
          col("n_w").cast(DecimalType(38, 0)) * col("n_s"))).as("s_present"),
        sum("n_w").as("covered"),
        max("n_s").as("n_tokens"),
        max("n_total").as("n_total"))
      .select(col("source"), col("n_tokens"), col("n_terms"),
        expr("""CAST(((s_present +
          CAST(n_tokens AS DECIMAL(38,0)) * (n_total - covered)) * 1000000)
          div (2 * CAST(n_tokens AS DECIMAL(38,0)) * n_total) AS BIGINT)""")
          .as("tv_ppm"))
  }

  /** Term BURSTINESS / dispersion table (Church & Gale's cf-vs-df
    * observation) — the signal that separates TOPICAL terms from
    * FUNCTION words at equal corpus frequency: a function word
    * spreads thinly over many documents (cf ≈ df), a topical or
    * boilerplate term concentrates its occurrences in few documents
    * (cf ≫ df, "bursty"). Per term over the df ≥ 10 vocabulary:
    * collection frequency, document frequency, burstiness =
    * cf·10⁶ div df (mean occurrences per CONTAINING doc, ppm), the
    * single-doc concentration max, and the doc-mass share. Stopword
    * discovery reads the low-burstiness end; boilerplate/template
    * detection reads the high end.
    *
    * Scale: one explode → (doc, term) count agg (map-side combined)
    * → one term-level agg; integer outputs throughout (the ppm
    * cross-multiplication discipline — no float division anywhere). */
  def burstiness(spark: SparkSession, dir: String): DataFrame =
    burstinessOn(documents(spark, dir)
      .select(col("doc_id"), explode(split(expr(normTextExpr), " ")).as("w")))

  /** Generic core of [[burstiness]] over any (doc_id, w) token
    * relation; emits terms with df ≥ 10. */
  def burstinessOn(tok: DataFrame): DataFrame = {
    val dt = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val nDocs = broadcast(dt.agg(countDistinct("doc_id").as("n_docs")))
    dt.groupBy("w")
      .agg(sum("c").as("cf"), count(lit(1)).as("df"), max("c").as("max_in_doc"))
      .filter(col("df") >= 10)
      .crossJoin(nDocs)
      .select(col("w"), col("cf"), col("df"), col("max_in_doc"),
        expr("cf * 1000000 div df").as("burstiness_ppm"),
        expr("df * 1000000 div n_docs").as("doc_share_ppm"))
      .orderBy("w")
  }

  /** Zipf rank-frequency OCTAVE profile — the corpus-health fit a
    * tokenizer/mixture decision reads: bucket the frequency-ranked
    * vocabulary into rank octaves [2ᵒ, 2ᵒ⁺¹) and report each
    * octave's term count and occurrence mass. Under an ideal Zipf
    * law (exponent 1) every octave carries the SAME occurrence mass
    * (Σ 1/k over an octave ≈ ln 2), so the octave-over-octave mass
    * ratio (ppm) reads directly as Zipf conformance: flat ≈ 10⁶ is
    * Zipfian, a rising tail is boilerplate/spam mass, a collapsing
    * tail is vocabulary exhaustion.
    *
    * Engine-exactness AND scale in one trick: no per-term global
    * rank is ever materialized. Terms sharing a count c occupy
    * CONSECUTIVE ranks, so the octave aggregate is closed-form from
    * the count HISTOGRAM (c, n_terms_at_c, ranks_before): each
    * (count class × octave) cell contributes
    * max(0, min(hi, cb+n) − max(lo, cb+1) + 1) terms — pure BIGINT
    * interval intersection, no libm log anywhere (octave boundaries
    * are bit shifts). The corpus collapses once to term counts (one
    * map-side-combined shuffle); the histogram lives on the
    * COMPRESSED count domain (distinct count values — the weighted-
    * median discipline), where an unpartitioned running sum and the
    * ≤40-row octave spine are free. */
  def zipfCurve(spark: SparkSession, dir: String): DataFrame =
    zipfCurveOn(documents(spark, dir)
      .select(explode(split(expr(normTextExpr), " ")).as("w")))

  /** Generic core of [[zipfCurve]] over any single-column token
    * relation. */
  def zipfCurveOn(tok: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val hist = counts.groupBy("c").agg(count(lit(1)).as("n_c"))
    val wDesc = Window.orderBy(desc("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist.withColumn("cb",
      coalesce(sum("n_c").over(wDesc), lit(0L)))
    val cells = ranked
      .select(col("c"), col("n_c"), col("cb"),
        explode(expr("sequence(0, 39)")).as("o"))
      .withColumn("lo", expr("shiftleft(CAST(1 AS BIGINT), o)"))
      .withColumn("hi", expr("shiftleft(CAST(1 AS BIGINT), o + 1) - 1"))
      .withColumn("n_in", greatest(lit(0L),
        least(col("cb") + col("n_c"), col("hi")) -
          greatest(col("cb") + lit(1L), col("lo")) + lit(1L)))
      .filter(col("n_in") > 0)
    val oct = cells.groupBy("o")
      .agg(sum("n_in").as("n_terms"),
        sum(col("c") * col("n_in")).as("n_occ"),
        max("c").as("max_count"), min("c").as("min_count"))
    oct // the ratio window rides the ≤40-row octave spine
      .withColumn("occ_ratio_ppm",
        expr("n_occ * 1000000 div lag(n_occ, 1) over (order by o)"))
      .select(col("o").cast("bigint").as("octave"),
        expr("shiftleft(CAST(1 AS BIGINT), o)").as("rank_lo"),
        col("n_terms"), col("n_occ"), col("max_count"), col("min_count"),
        col("occ_ratio_ppm"))
      .orderBy("octave")
  }

  /** HTML boilerplate extraction — the FIRST operator of every crawl
    * pipeline (trafilatura/jusText territory): strip script/style
    * blocks, drop nav/footer chrome, flatten the remaining tags,
    * decode entities, collapse whitespace — and account for what the
    * page carried vs what survived (text_share_ppm is the
    * content-density gate crawl curation filters on). The corpus
    * ships plain text, so each doc is first wrapped in a
    * DETERMINISTIC page frame (title/nav/script/article/footer, the
    * text entity-escaped on the way in) — the operator then has real
    * markup to remove and the oracle rebuilds the identical page
    * from the same columns; the extraction chain itself is exactly
    * what runs on real crawl HTML. All codegen'd regexp/replace
    * built-ins (non-greedy block patterns never cross into the
    * payload: the frame regions contain no user text), one corpus
    * pass, no UDFs. TextSpec pins exact extraction on a planted page
    * and boilerplate absence on the corpus. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    htmlExtractOn(documents(spark, dir)).orderBy("doc_id")

  /** generic core over any (doc_id, text) relation. */
  private[graft] def htmlExtractOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("page", concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>body{margin:0}</style></head><body>"),
        lit("<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>"),
        lit("<script>var x = 1 < 2 && 3 > 2;</script>"),
        lit("<article><h1>Doc "), col("doc_id"), lit("</h1><p>"),
        expr("replace(replace(text, '&', '&amp;'), '<', '&lt;')"),
        lit("</p></article>"),
        lit("<footer>&copy; 2026 Example Corp &mdash; legal</footer></body></html>")))
      .withColumn("s1", regexp_replace(col("page"), "<script>.*?</script>", " "))
      .withColumn("s2", regexp_replace(col("s1"), "<style>.*?</style>", " "))
      .withColumn("s3", regexp_replace(col("s2"), "<nav>.*?</nav>", " "))
      .withColumn("s4", regexp_replace(col("s3"), "<footer>.*?</footer>", " "))
      .withColumn("s5", regexp_replace(col("s4"), "<[^>]+>", " "))
      // decode order matters: &lt; before &amp; (an escaped literal
      // '&lt;' arrives as '&amp;lt;', which the &lt; rule cannot
      // touch — no '&' directly precedes its 'lt;')
      .withColumn("s6",
        expr("replace(replace(s5, '&lt;', '<'), '&amp;', '&')"))
      .withColumn("extracted",
        // explicit class, not \s: Java's \s includes \x0B (vertical
        // tab) where RE2's (the oracle engine's) does not — a \x0B in
        // the corpus would silently split the engines
        trim(regexp_replace(col("s6"), "[ \\t\\n\\r\\f\\x0B]+", " ")))
      .select(col("doc_id"),
        expr("CAST(octet_length(page) AS BIGINT)").as("n_html"),
        expr("CAST(length(extracted) AS BIGINT)").as("n_text"),
        expr("1000000 * CAST(length(extracted) AS BIGINT) DIV CAST(octet_length(page) AS BIGINT)")
          .as("text_share_ppm"),
        md5(col("extracted")).as("text_md5"))
}
