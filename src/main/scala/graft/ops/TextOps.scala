package graft.ops

import graft.Tables._
import graft.api.GraftAPI
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY.md §2.12 L5–L8 plus the
  * training-data-pipeline extensions: quality scoring, language-ID
  * heuristic, token counting, fingerprinting).
  *
  * All token work is built-in higher-order functions (`split`/`filter`/
  * `transform`) over the text column — no UDFs, fully codegen'd, and the
  * per-document work is embarrassingly parallel (no shuffle until the
  * term-level aggregations, which shuffle only (term, count) partials).
  */
object TextOps {

  /** Stopword list shared by tokenize/quality/lang-id (fixed, tiny → burned
    * into the plan as a literal array; at 100 TB a large list would be a
    * broadcast join against an exploded token table instead). */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  private def stopArr: Column = array(Stopwords.map(lit): _*)

  /** Tokens of `text`: lowercase, whitespace-split. */
  def tokens(c: Column): Column = split(lower(c), " ")

  /** L5: tokenize + stopword filter. Arrays emitted as joined strings so
    * the oracle compares scalars. */
  def textTokenize(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        array_join(filter(tokens(col("text")), t => !array_contains(stopArr, t)), " ")
          .as("toks"),
        size(filter(tokens(col("text")), t => !array_contains(stopArr, t)))
          .cast("long").as("n_toks"))
      .orderBy("doc_id")

  /** L6: corpus-level term frequency — explode is map-side; only (term,
    * partial count) rows shuffle. */
  def textTermfreq(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy("word")

  /** L7: TF-IDF. Per-doc TF and corpus DF in one pass each; `df` is
    * term-cardinality-sized so it broadcasts back onto the TF table. The
    * doc count is a scalar cross-joined literal (computed once, not per
    * row). */
  def textTfidf(s: SparkSession, dir: String): DataFrame =
    tfidfFrame(s, dir).orderBy("doc_id", "word")

  /** Unordered TF-IDF frame shared by [[textTfidf]] and [[docKeyterms]]
    * (no trailing sort, so downstream operators plan their own shape). */
  private def tfidfFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"),
        round(col("tf") * log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))), 6)
          .as("tfidf"))
  }

  /** L7c: key-term extraction — the 3 highest-TF-IDF terms per document
    * (cheap extractive keywording for corpus browsing / weak labels).
    * Composition story: the TF-IDF frame feeds the rank-filter idiom with
    * the rank dropped, so the optimizer plans the native bounded-buffer
    * top-k — the per-doc term lists never fully sort or shuffle, each map
    * task forwards ≤ 3 terms per doc. 6-dp-snapped scores tie-break by
    * word so both engines pick the same terms. */
  def docKeyterms(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("word").asc)
    tfidfFrame(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("word"), col("tfidf"))
      .orderBy("doc_id", "word")
  }

  /** L8: per-(lang, source) slice metrics. */
  def docLangStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        davg(col("n_chars")).as("avg_chars"))
      .orderBy("lang", "source")

  /** Quality scoring: token counts, stopword ratio, average word length,
    * composite score — the cheap per-document filters a pretraining
    * pipeline runs before anything expensive. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => array_contains(stopArr, t))).cast("double")
    documents(s, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).cast("long").as("n_stop"),
        r6(nStop / nullif(nTok, lit(0.0))).as("stop_ratio"),
        r6((length(col("text")).cast("double") - (nTok - lit(1.0))) /
          nullif(nTok, lit(0.0))).as("avg_word_len"),
        r6(least(lit(1.0), nTok / lit(100.0)) *
          (lit(1.0) - nStop / nullif(nTok, lit(0.0)))).as("score"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: marker-token overlap score per language,
    * argmax with a fixed preference order. (The synthetic corpus shares one
    * vocabulary across langs, so this exercises the mechanism — scores,
    * deterministic argmax — rather than linguistic accuracy.) Binds
    * [[GraftAPI.langId]]'s scoring step, keeping the `s_<lang>` scores. */
  def langIdNgram(s: SparkSession, dir: String): DataFrame =
    GraftAPI.langScores(
        documents(s, dir).select(col("doc_id"), col("lang").as("actual_lang"), col("text")),
        "text", GraftAPI.LangMarkers, "s_")
      .select(col("doc_id"), col("actual_lang"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"),
        col("lang_pred").as("pred_lang"))
      .orderBy("doc_id")

  /** Token counting ([[GraftAPI.tokenCounts]]): whitespace tokens + a
    * BPE-ish regex token estimate. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    GraftAPI.tokenCounts(documents(s, dir).select("doc_id", "text"), "text")
      .select("doc_id", "ws_tokens", "re_tokens")
      .orderBy("doc_id")

  /** T16: lexical diversity ([[GraftAPI.lexicalDiversity]]) — per-doc
    * type-token ratio and hapax share over the lowercase [[tokens]], the
    * quality signals that catch template spam and boilerplate where
    * length/punct heuristics ([[textQuality]]) pass it. */
  def textLexicalDiversity(s: SparkSession, dir: String): DataFrame =
    GraftAPI.lexicalDiversity(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  /** T17: per-doc unigram Shannon entropy (nats) + normalized entropy
    * ([[GraftAPI.tokenEntropy]]) — separates "few distinct words repeated
    * many times" (entropy → 0: template spam, keyword stuffing) from
    * healthy prose, the skew [[textLexicalDiversity]]'s type-token ratio
    * misses. norm_entropy = H / ln(n_types) ∈ [0,1] is the
    * length-comparable form pipelines threshold on (0 when n_types = 1). */
  def textTokenEntropy(s: SparkSession, dir: String): DataFrame =
    GraftAPI.tokenEntropy(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Document fingerprinting: content-addressed id (md5 — stable across
    * engines) + prefix shard key, the pattern used to bucket a 100 TB
    * corpus into balanced dedup units. */
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        md5(col("text")).as("fp"),
        substring(md5(col("text")), 1, 2).as("shard"))
      .orderBy("doc_id")

  /** PII-style scrubbing — email/URL redaction plus whitespace collapse,
    * the cheap normalization pass before anything expensive in a
    * pretraining pipeline. Conservative regexes chosen to behave
    * identically under Java regex and RE2. */
  def textScrub(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"),
              "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
            "https?://[^ ]+", "<URL>"),
          "  +", " ").as("clean"),
        (length(col("text")) - length(
          regexp_replace(col("text"), "https?://[^ ]+", ""))).cast("long")
          .as("url_chars_removed"))
      .orderBy("doc_id")

  /** Unigram log-probability scoring — the oracle-checkable stand-in for
    * perplexity filtering: score each document by its mean token
    * log-probability under the corpus's own unigram model (low = rare/
    * garbled tokens, the signal LM-based quality filters threshold on).
    *
    * Scale shape: the unigram vocab is Zipf-small relative to the corpus
    * → BROADCAST to the token stream, which therefore never shuffles for
    * scoring; the only corpus-scale shuffle is the per-doc aggregation of
    * fixed-width (doc_id, logp) rows. Per-token logp is 6-dp-snapped
    * before the decimal sum so the per-doc mean is partition-order
    * independent (the [[graft.Tables.dsum]] determinism rule). */
  def textLogprob(s: SparkSession, dir: String): DataFrame = {
    val tok = documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    val totals = vocab.agg(sum("cnt").as("tot"))
    tok.join(broadcast(vocab), "w")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), r6(log(col("cnt").cast("double") / col("tot"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        r6(dsum(col("lp")) / count(lit(1))).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** L7b: BM25 term scoring (k1=1.2, b=0.75) — the retrieval-grade upgrade
    * of [[textTfidf]]: term saturation (tf stops mattering past ~k1
    * occurrences) and document-length normalization, the scoring used to
    * mine training positives/hard negatives from a corpus. Same dataflow
    * shape as TF-IDF: per-doc TF, corpus DF (term-cardinality-sized →
    * broadcast), plus two corpus scalars (N, avg doc length) cross-joined
    * as a 1-row broadcast literal. avgdl routes through a decimal sum so
    * re-runs are bit-identical; constants are written as plain literals on
    * both sides so the arithmetic trees match the oracle's exactly. */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("double").as("dl"))
    val dfT = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(size(tokens(col("text"))).cast("decimal(25,6)")).cast("double") /
        count(lit(1))).as("avgdl"))
    tf.join(dl, "doc_id")
      .join(broadcast(dfT), "word")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("word"), col("tf"),
        r6(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("bm25"))
      .orderBy("doc_id", "word")
  }

  /** L17b: bigram conditional log-prob — mean ln P(wᵢ | wᵢ₋₁) per doc
    * under the corpus's own bigram model, the next-quality-rung above
    * [[textLogprob]]'s unigram (repetitive docs score HIGH here, fluent
    * ones near the corpus average — a perplexity-filter axis unigram
    * can't see). Bigrams stream out of posexplode + a per-doc `lead`
    * window (codegen; no HOFs). The bigram count table is
    * corpus-bigram-cardinality-sized → co-partitioned shuffle join on the
    * bigram key; the context (first-token) counts are vocab-sized →
    * broadcast. Per-position log-probs 6-dp-snapped before the decimal
    * mean, so the per-doc score is partition-order independent. */
  def textBigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val tok = documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "w")
    // bigram identity is the token PAIR, never a joined string (review
    // r10): a '|' separator collided distinct bigrams on tokens that
    // contain the separator ('a|b c' vs 'a b|c'), corrupting P(wn|w)
    val big = tok.withColumn("wn", lead("w", 1).over(w))
      .filter(col("wn").isNotNull)
      .select(col("doc_id"), col("w"), col("wn"))
    val bc = big.groupBy("w", "wn").agg(count(lit(1)).as("bc"))
    val cx = big.groupBy("w").agg(count(lit(1)).as("cxc"))
    big.join(bc, Seq("w", "wn")).join(broadcast(cx), "w")
      .select(col("doc_id"),
        r6(log(col("bc").cast("double") / col("cxc"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        r6(dsum(col("lp")) / count(lit(1))).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** A16: count-min-sketch heavy hitters — CMS term counts (ε=0.001,
    * δ=0.01, fixed seed) reported against the exact top-20. The sketch is
    * the mergeable fixed-width alternative to an exact term count when the
    * term space won't fit (billions of n-grams): partial sketches combine
    * associatively map-side, exactly like the HLL rollup. Calibration-
    * audit form (VERDICT r5 #4): the output carries the exact top-20
    * counts plus a `cms_ok` bit asserting the CMS guarantee
    * (true ≤ est ≤ true + ε·N, ε=0.001) per term; the oracle
    * hash-verifies the exact counts and `true`. The sketch build is
    * already a driver-side action (`stat.countMinSketch` collects the
    * merged sketch), so the one extra count() for N adds no new
    * driver-side pattern. */
  def aggCmsTopk(s: SparkSession, dir: String): DataFrame = {
    val tok = documents(s, dir).select(explode(tokens(col("text"))).as("w"))
    val cms = tok.stat.countMinSketch("w", 0.001, 0.99, 42)
    val n = tok.count()
    val topExact = tok.groupBy("w").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("w").asc).limit(20)
    // Sanctioned UDF (VERDICT r5 #7, evaluated r6): Spark 4.1 DOES expose
    // the `count_min_sketch` SQL aggregate (binary sketch out), but no
    // SQL-level estimate/point-lookup over that binary — querying still
    // requires deserializing the sketch and probing it host-side, which
    // is precisely what stat.countMinSketch + this closure do. Swap only
    // becomes possible if a `count_min_sketch_estimate` function lands.
    val est = udf((w: String) => cms.estimateCount(w))
    topExact
      .select(col("w"), col("exact_n"),
        (est(col("w")) >= col("exact_n") &&
          est(col("w")) <= col("exact_n") + lit(math.ceil(0.001 * n).toLong))
          .as("cms_ok"))
      .orderBy(col("exact_n").desc, col("w").asc)
  }

  /** L12b: intra-doc repetition scoring — the Gopher "repetition" family's
    * thresholdable core: what fraction of a document's bigrams is its single
    * most frequent bigram (templated/boilerplate/looping text scores high,
    * natural prose low). Bigrams via the same posexplode + per-doc `lead`
    * codegen shape as [[textBigramLogprob]]; both aggs are per-doc (the
    * heavy one partial-aggregates map-side), nothing global. Docs with
    * fewer than 2 tokens have no bigrams and drop out, mirrored by the
    * oracle's inner joins. */
  def docsRepetition(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val tok = documents(s, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "w")
    // token-pair identity, not a '|'-joined string (review r10 — same
    // separator-collision fix as textBigramLogprob)
    tok.withColumn("wn", lead("w", 1).over(w))
      .filter(col("wn").isNotNull)
      .groupBy("doc_id", "w", "wn").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_n"),
        r6(col("top_n").cast("double") / col("n_bigrams")).as("rep_ratio"))
      .withColumn("is_repetitive", col("rep_ratio") > 0.1)
      .orderBy("doc_id")
  }

  /** L21: fixed-size chunking with overlap — the context-window splitter
    * every training/RAG pipeline runs before tokenization: 64-token
    * chunks on a 48-token stride (16-token overlap keeps boundary
    * context in both neighbours). Chunk starts come from `sequence` +
    * posexplode — pure map-side column algebra, zero shuffles: a 100 TB
    * corpus chunks at scan speed and the output is already partitioned
    * like its input. Short docs (≤ 64 tokens) emit exactly one chunk. */
  def docsChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val C = 64; val S = 48
    documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n_toks") <= C, lit(1L))
          .otherwise(expr(s"((n_toks - $C + ${S - 1}) div $S) + 1")))
      .select(col("doc_id"), col("toks"), col("n_toks"),
        posexplode(expr(s"sequence(0L, (n_chunks - 1) * $S, $S)")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"), col("n_toks"),
        array_join(slice(col("toks"), (col("col") + 1).cast("int"), lit(C)), " ")
          .as("chunk_text"),
        size(slice(col("toks"), (col("col") + 1).cast("int"), lit(C)))
          .cast("long").as("chunk_len"))
      .orderBy("doc_id", "chunk_id")
  }

  /** L22: BPE merge candidates — the first iteration of byte-pair-encoding
    * vocabulary induction: count adjacent character pairs, weighted by
    * word frequency, and rank the top merges. Runs on the DISTINCT word
    * vocabulary (Zipf-small), not the token stream — the corpus collapses
    * to (word, count) in one hash-agg and the quadratic-ish pair explode
    * touches only vocab-scale rows, which is what makes repeated BPE
    * iterations affordable at 100 TB. Ties break lexicographically so the
    * ranking is engine-reproducible. */
  def textBpeMerges(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
      .select(col("n"), explode(expr("sequence(1, length(word) - 1)")).as("i"),
        col("word"))
      .select(expr("substring(word, i, 2)").as("pair"), col("n"))
      .groupBy("pair").agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  /** L8b: per-source language entropy — the corpus-mix diagnostic (a
    * source feeding 5 languages at H≈1.6 nats vs a monolingual crawl at
    * H=0) that drives mixing/rebalancing decisions. Two output-scale
    * hash-aggs; the per-source totals are source-cardinality-sized and
    * broadcast back. Each −p·ln p term is 6-dp-snapped before the DECIMAL
    * sum ([[graft.Tables.dsum]] rule) so the entropy is partition-order
    * independent and oracle-stable. */
  def docSourceEntropy(s: SparkSession, dir: String): DataFrame = {
    val c = documents(s, dir).groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val t = c.groupBy("source").agg(sum(col("n")).as("tot"))
    c.join(broadcast(t), "source")
      .groupBy("source")
      .agg(max(col("tot")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        r6(-dsum(r6((col("n").cast("double") / col("tot"))
          * log(col("n").cast("double") / col("tot"))))).as("lang_entropy"))
      .orderBy("source")
  }

  /** L21: array higher-order functions over the token list — filter /
    * transform / aggregate / slice composed in ONE codegen'd projection
    * (Spark's `filter`/`transform`/`aggregate` lambda expressions; no UDF,
    * no explode). The "compute per-doc token features without leaving the
    * row" primitive: zero shuffle, zero intermediate explode-join — at
    * 100 TB this is a pure map stage that fuses into the scan. */
  def arrayHof(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    documents(s, dir)
      .select(col("doc_id"),
        size(filter(toks, t => length(t) > 4)).cast("long").as("n_long"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
          .as("total_len"),
        array_join(transform(slice(toks, 1, 3), t => upper(t)), " ")
          .as("head3"))
      .orderBy("doc_id")
  }

  /** L22: quality-quartile bucketing — score docs by mean token length
    * (a cheap fluency proxy), quartile them, then report per-bucket
    * population stats. The "stratify the corpus by quality and inspect
    * the strata" step before mixing/sampling decisions.
    *
    * VERDICT r6 #4: the quartile is NO LONGER a partition-less
    * `ntile(4)` window over one row per doc — it is the two-pass
    * prefix-sum global position ([[graft.ops.Relational.withGlobalPos]],
    * bucketed by `floor(score·10)`, which is monotone in score) plus the
    * closed-form ntile ([[graft.ops.Relational.quartileOf]]) — the exact
    * decomposition `orders_rfm` already uses, so no corpus-scale rows
    * ever funnel through a single window task. The oracle stays the
    * naive global `ntile(4)`, proving the decomposition exact. */
  def docsQualityBuckets(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = documents(s, dir)
      .select(col("doc_id"),
        r6(col("n_chars").cast("double") / size(toks)).as("score"))
    val pos = graft.ops.Relational.withGlobalPos(
      scored, col("score"), floor(col("score") * 10).cast("long"),
      col("doc_id"), "pos")
    pos.crossJoin(broadcast(scored.agg(count(lit(1)).as("n_docs_tot"))))
      .select(col("score"),
        graft.ops.Relational.quartileOf(col("pos"), col("n_docs_tot"))
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy("bucket")
  }

  private val VocabK = 20

  /** L16: out-of-vocabulary rate against a frequency-ranked top-K vocab —
    * the tokenizer-coverage audit run before committing a vocab/tokenizer
    * to a corpus (high OOV → the tokenizer fragments that slice of data).
    * Vocab = top-[[VocabK]] tokens by corpus frequency, ties broken
    * lexicographically so the cut is deterministic at every SF.
    *
    * Scale shape: token explode is map-side; the frequency groupBy
    * shuffles (token, partial-count) rows; the rank-and-cut runs on the
    * TERM-CARDINALITY aggregate (vocab-sized, not corpus-sized — the
    * single-partition window is over ~|vocab| rows, an output-scale
    * global rank, not a corpus-scale one); the
    * tiny vocab then broadcasts back onto the token stream, so the only
    * corpus-scale shuffle is the final per-doc count. */
  def textOovRate(s: SparkSession, dir: String): DataFrame = {
    val tok = documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val rk = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("w").asc)
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= VocabK)
      .select(col("w"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        r6(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** L25: Zipf-fit corpus audit — log-log OLS of term frequency against
    * rank over the top-100 vocabulary; the slope (≈ −1 for natural text)
    * is the distribution-health gate before tokenizer/vocab decisions.
    * The full vocabulary never sees a global window: the top-100 cut is
    * a `TakeOrderedAndProject` (freq desc, term asc — total order) and
    * ranking + fitting run on those 100 rows. ln terms are 6-dp-snapped
    * BEFORE the DECIMAL moment sums (1-ulp libm drift never reaches the
    * sums; same discipline as [[docSourceEntropy]]), and the raw slope is
    * reused unrounded inside the intercept so both snap identically
    * (same as `Relational.aggLinregress`). */
  def textZipf(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("word").asc)
    val pts = documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(100)
      .withColumn("r", row_number().over(w))
      .select(r6(log(col("r"))).as("x"), r6(log(col("n"))).as("y"))
    val slope = (col("k") * col("sxy") - col("sx") * col("sy")) /
      (col("k") * col("sxx") - col("sx") * col("sx"))
    pts.agg(count(lit(1)).as("k"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"), dsum(col("x") * col("y")).as("sxy"))
      .select(col("k").as("n_terms"), r6(slope).as("slope"),
        r6((col("sy") - slope * col("sx")) / col("k")).as("intercept"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_zipf"           -> textZipf _,
    "text_oov_rate"       -> textOovRate _,
    "array_hof"           -> arrayHof _,
    "docs_quality_buckets" -> docsQualityBuckets _,
    "docs_chunk_overlap"  -> docsChunkOverlap _,
    "text_bpe_merges"     -> textBpeMerges _,
    "doc_source_entropy"  -> docSourceEntropy _,
    "docs_repetition"     -> docsRepetition _,
    "text_bigram_logprob" -> textBigramLogprob _,
    "agg_cms_topk"    -> aggCmsTopk _,
    "doc_keyterms"    -> docKeyterms _,
    "text_bm25"       -> textBm25 _,
    "text_scrub"      -> textScrub _,
    "text_logprob"    -> textLogprob _,
    "text_tokenize"   -> textTokenize _,
    "text_termfreq"   -> textTermfreq _,
    "text_tfidf"      -> textTfidf _,
    "doc_lang_stats"  -> docLangStats _,
    "text_quality"    -> textQuality _,
    "lang_id_ngram"   -> langIdNgram _,
    "token_count"     -> tokenCount _,
    "doc_fingerprint" -> docFingerprint _,
    "text_lexical_diversity" -> textLexicalDiversity _,
    "text_token_entropy"  -> textTokenEntropy _,
  )

  private val stopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val oracleSql: Map[String, String] = Map(
    "text_zipf" ->
      """WITH tf AS (
        |  SELECT word, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents)
        |  GROUP BY word ORDER BY n DESC, word LIMIT 100),
        |pts AS (
        |  SELECT
        |    floor(ln(row_number() OVER (ORDER BY n DESC, word))
        |      * 1000000 + 0.5) / 1000000 AS x,
        |    floor(ln(n) * 1000000 + 0.5) / 1000000 AS y
        |  FROM tf),
        |m AS (
        |  SELECT COUNT(*) AS k,
        |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(x * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy
        |  FROM pts)
        |SELECT CAST(k AS BIGINT) AS n_terms,
        |  floor((k * sxy - sx * sy) / (k * sxx - sx * sx)
        |    * 1000000 + 0.5) / 1000000 AS slope,
        |  floor((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k
        |    * 1000000 + 0.5) / 1000000 AS intercept
        |FROM m""".stripMargin,
    "text_oov_rate" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |             FROM documents),
        |vc AS (SELECT w FROM (SELECT w, row_number()
        |           OVER (ORDER BY count(*) DESC, w) AS rk
        |         FROM tok GROUP BY w) WHERE rk <= 20)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  count(*) FILTER (WHERE v.w IS NULL) AS n_oov,
        |  floor(count(*) FILTER (WHERE v.w IS NULL)::DOUBLE / count(*)
        |        * 1000000 + 0.5) / 1000000 AS oov_rate
        |FROM tok t LEFT JOIN vc v USING (w)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "array_hof" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    x -> length(x) > 4)) AS BIGINT) AS n_long,
        |  CAST(list_sum(list_transform(string_split(lower(text), ' '),
        |    x -> length(x))) AS BIGINT) AS total_len,
        |  array_to_string(list_transform(string_split(lower(text), ' ')[1:3],
        |    x -> upper(x)), ' ') AS head3
        |FROM documents ORDER BY doc_id""".stripMargin,
    "docs_quality_buckets" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    floor((CAST(n_chars AS DOUBLE)
        |      / len(string_split(text, ' '))) * 1e6 + 0.5) / 1e6 AS score
        |  FROM documents),
        |b AS (SELECT doc_id, score,
        |    CAST(ntile(4) OVER (ORDER BY score, doc_id) AS BIGINT) AS bucket
        |  FROM scored)
        |SELECT bucket, count(*) AS n_docs,
        |  min(score) AS min_score, max(score) AS max_score
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "docs_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |x AS (SELECT doc_id, toks, n_toks,
        |    CASE WHEN n_toks <= 64 THEN 1
        |      ELSE ((n_toks - 64 + 47) // 48) + 1 END AS n_chunks
        |  FROM t),
        |c0 AS (SELECT doc_id, toks, n_toks,
        |    CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_id
        |  FROM x),
        |c AS (SELECT doc_id, toks, n_toks, chunk_id, chunk_id * 48 AS st
        |  FROM c0)
        |SELECT doc_id, chunk_id, n_toks,
        |  array_to_string(list_slice(toks, st + 1, st + 64), ' ') AS chunk_text,
        |  CAST(len(list_slice(toks, st + 1, st + 64)) AS BIGINT) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_bpe_merges" ->
      """WITH w AS (
        |  SELECT word, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents)
        |  GROUP BY word HAVING length(word) >= 2),
        |p0 AS (SELECT word, n, unnest(range(1, length(word))) AS i FROM w),
        |p AS (SELECT substring(word, CAST(i AS INT), 2) AS pair, n FROM p0)
        |SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "doc_source_entropy" ->
      """WITH c AS (
        |  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.source, MAX(t.tot) AS n_docs,
        |  CAST(COUNT(DISTINCT c.lang) AS BIGINT) AS n_langs,
        |  floor((-CAST(SUM(CAST(
        |      floor((c.n::DOUBLE / t.tot) * ln(c.n::DOUBLE / t.tot)
        |        * 1000000 + 0.5) / 1000000
        |    AS DECIMAL(25,6))) AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |    AS lang_entropy
        |FROM c JOIN t USING (source) GROUP BY c.source ORDER BY c.source""".stripMargin,
    "docs_repetition" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)),
        |      i -> {'w': t[i], 'wn': t[i+1]}) ELSE [] END, recursive := true)
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)),
        |c AS (SELECT doc_id, w, wn, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |    MAX(c) AS top_n FROM c GROUP BY 1),
        |r AS (SELECT *, floor((top_n::DOUBLE / n_bigrams) * 1000000 + 0.5)
        |    / 1000000 AS rep_ratio FROM a)
        |SELECT doc_id, n_bigrams, top_n, rep_ratio, rep_ratio > 0.1 AS is_repetitive
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_bigram_logprob" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)),
        |      i -> {'w': t[i], 'wn': t[i+1]}) ELSE [] END, recursive := true)
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)),
        |bc AS (SELECT w, wn, COUNT(*) AS bc FROM bg GROUP BY 1, 2),
        |cx AS (SELECT w, COUNT(*) AS cxc FROM bg GROUP BY 1),
        |sc AS (
        |  SELECT bg.doc_id,
        |    floor(ln(bc.bc::DOUBLE / cx.cxc) * 1000000 + 0.5) / 1000000 AS lp
        |  FROM bg JOIN bc USING (w, wn)
        |    JOIN cx USING (w))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  floor((CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))
        |    * 1000000 + 0.5) / 1000000 AS avg_logprob
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_keyterms" ->
      """WITH tf AS (
        |  SELECT doc_id, word, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents) q GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.word,
        |    round(tf.tf * ln((1.0 + n.n_docs) / (1.0 + df.df)), 6) AS tfidf
        |  FROM tf JOIN df USING (word) CROSS JOIN n)
        |SELECT doc_id, word, tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, word) AS rn FROM sc) q
        |WHERE rn <= 3 ORDER BY doc_id, word""".stripMargin,
    "text_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id, word, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents) q GROUP BY doc_id, word),
        |dl AS (SELECT doc_id,
        |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
        |  FROM documents),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |st AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(CAST(len(string_split(lower(text), ' ')) AS DECIMAL(25,6))) AS DOUBLE)
        |      / COUNT(*) AS avgdl
        |  FROM documents)
        |SELECT tf.doc_id, tf.word, tf.tf,
        |  floor((ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
        |    (tf.tf * 2.2) /
        |    (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) * 1000000 + 0.5)
        |    / 1000000 AS bm25
        |FROM tf JOIN dl USING (doc_id) JOIN df USING (word) CROSS JOIN st
        |ORDER BY tf.doc_id, tf.word""".stripMargin,
    "text_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |v AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
        |t AS (SELECT sum(cnt) AS tot FROM v),
        |sc AS (
        |  SELECT doc_id,
        |    floor(ln(cnt::DOUBLE / tot) * 1000000 + 0.5) / 1000000 AS lp
        |  FROM tok JOIN v USING (w) CROSS JOIN t)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor((CAST(SUM(CAST(lp AS DECIMAL(25,6))) AS DOUBLE) / count(*))
        |    * 1000000 + 0.5) / 1000000 AS avg_logprob
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '  +', ' ', 'g') AS clean,
        |  CAST(length(text) - length(regexp_replace(text, 'https?://[^ ]+', '', 'g')) AS BIGINT)
        |    AS url_chars_removed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokenize" ->
      s"""SELECT doc_id,
         |  array_to_string(list_filter(string_split(lower(text), ' '),
         |    t -> NOT list_contains($stopList, t)), ' ') AS toks,
         |  CAST(len(list_filter(string_split(lower(text), ' '),
         |    t -> NOT list_contains($stopList, t))) AS BIGINT) AS n_toks
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_termfreq" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) q
        |GROUP BY word ORDER BY word""".stripMargin,
    // Calibration-audit oracle (VERDICT r5 #4): exact top-20 counts are
    // deterministic; the CMS guarantee bit is asserted `true`.
    "agg_cms_topk" ->
      """SELECT w, exact_n, true AS cms_ok FROM (
        |  SELECT w, COUNT(*) AS exact_n FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) q
        |  GROUP BY w ORDER BY exact_n DESC, w LIMIT 20) t
        |ORDER BY exact_n DESC, w""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, word, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents) q GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.word, tf.tf,
        |  round(tf.tf * ln((1.0 + n.n_docs) / (1.0 + df.df)), 6) AS tfidf
        |FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
        |ORDER BY tf.doc_id, tf.word""".stripMargin,
    "doc_lang_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) / COUNT(n_chars) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    string_split(lower(text), ' ') AS toks,
         |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_tok,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      t -> list_contains($stopList, t))) AS DOUBLE) AS n_stop
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(n_tok AS BIGINT) AS n_tokens,
         |  CAST(n_stop AS BIGINT) AS n_stop,
         |  floor((n_stop / nullif(n_tok, 0.0)) * 1000000 + 0.5) / 1000000 AS stop_ratio,
         |  floor(((CAST(length(text) AS DOUBLE) - (n_tok - 1.0)) / nullif(n_tok, 0.0))
         |    * 1000000 + 0.5) / 1000000 AS avg_word_len,
         |  floor((least(1.0, n_tok / 100.0) * (1.0 - n_stop / nullif(n_tok, 0.0)))
         |    * 1000000 + 0.5) / 1000000 AS score
         |FROM t ORDER BY doc_id""".stripMargin,
    "lang_id_ngram" ->
      """WITH t AS (SELECT doc_id, lang AS actual_lang,
        |    string_split(lower(text), ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, actual_lang,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','and'], x))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, x -> list_contains(['der','die','und'], x))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, x -> list_contains(['el','la','los'], x))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, x -> list_contains(['le','les','des'], x))) AS BIGINT) AS s_fr
        |  FROM t)
        |SELECT doc_id, actual_lang, s_en, s_de, s_es, s_fr,
        |  CASE
        |    WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |    WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |    WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |    WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |    ELSE 'und' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp, substring(md5(text), 1, 2) AS shard
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_token_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id, w, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) t
        |  GROUP BY doc_id, w),
        |pd AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS n_types
        |  FROM tf GROUP BY doc_id),
        |terms AS (
        |  SELECT tf.doc_id, n_tokens, n_types,
        |    floor((c::DOUBLE / n_tokens * ln(n_tokens::DOUBLE / c))
        |      * 1000000 + 0.5) / 1000000 AS term
        |  FROM tf JOIN pd USING (doc_id)),
        |h AS (
        |  SELECT doc_id, n_tokens, n_types,
        |    CAST(SUM(CAST(term AS DECIMAL(25,6))) AS DOUBLE) AS hs
        |  FROM terms GROUP BY doc_id, n_tokens, n_types)
        |SELECT doc_id, n_tokens, n_types,
        |  floor(hs * 1000000 + 0.5) / 1000000 AS entropy,
        |  CASE WHEN n_types = 1 THEN 0.0
        |    ELSE least(1.0, floor((hs / ln(n_types::DOUBLE)) * 1000000 + 0.5) / 1000000)
        |  END AS norm_entropy
        |FROM h ORDER BY doc_id""".stripMargin,
    "text_lexical_diversity" ->
      """WITH tf AS (
        |  SELECT doc_id, w, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) t
        |  GROUP BY doc_id, w),
        |a AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS n_types,
        |    CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types,
        |  floor((CAST(n_types AS DOUBLE) / n_tokens) * 1000000 + 0.5)
        |    / 1000000 AS ttr,
        |  floor((CAST(n_hapax AS DOUBLE) / n_types) * 1000000 + 0.5)
        |    / 1000000 AS hapax_ratio
        |FROM a ORDER BY doc_id""".stripMargin,
  )
}
