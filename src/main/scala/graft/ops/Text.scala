package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All are
  * per-row narrow transformations (no shuffle) built from codegen'd
  * built-ins — at 100 TB these run at scan speed behind whatever
  * filter uses them.
  */
object Text {

  /** Unicode NFC canonicalization (codegen'd custom expression) — run
    * before any content hashing so decomposed and precomposed forms of
    * the same text dedup together.
    */
  def normalizeNfc(text: Column): Column =
    graft.functions.nfc_normalize(text)

  /** Whitespace tokenization (the BPE-ish regex split).
    *
    * Dialect contract: Java's `\s` includes U+000B (vertical tab);
    * RE2-based engines' (DuckDB oracle) `\s` does not. The fixture
    * corpus contains neither VT nor other exotic whitespace, and any
    * richer input should be normalized first ([[normalizeNfc]] +
    * control-char scrub) before token counts are compared across
    * engines.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** DuckDB list of the whitespace tokens of the SQL expression
    * `expr` — the oracle-side twin of [[tokens]].
    */
  def tokensSql(expr: String): String =
    s"""list_filter(string_split_regex($expr, '\\s+'), x -> len(x) > 0)"""

  /** DuckDB text of `expr` without its first token, re-joined by
    * single spaces — the oracle-side twin of the planted near-copy
    * `concat_ws(" ", slice(tokens(text), 2, ...))`.
    */
  def dropFirstTokenSql(expr: String): String =
    s"""array_to_string(string_split_regex(trim($expr), '\\s+')[2:], ' ')"""

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens that appear in a fixed vocabulary. */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(vocab)))

  /** PII scrubbing: emails -> <EMAIL>, then 7+-digit runs -> <NUM>.
    * Both patterns are RE2-safe (no backreferences/lookaround), so a
    * SQL oracle replays them verbatim. Order matters: the email pass
    * runs first so a numeric local-part is consumed as part of the
    * address, not left for the digit pass to shred.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe = "[0-9]{7,}"
  def maskPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      LongNumRe, "<NUM>")

  // Tiny per-language stopword profiles for the n-gram/stopword
  // language-ID heuristic. Deterministic preference order en > de > es
  // on ties.
  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val DeStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein")
  val EsStop: Seq[String] = Seq("el", "la", "de", "y", "es", "un")

  /** Stopword-profile language ID: argmax hit-count with fixed
    * preference order. A real deployment would use char-n-gram
    * profiles; the scoring plumbing (vocab hit counting over the
    * token array, scan-speed, no shuffle) is the same.
    */
  def langId(text: Column): Column = {
    val t = tokens(lower(text))
    val en = vocabHits(t, EnStop)
    val de = vocabHits(t, DeStop)
    val es = vocabHits(t, EsStop)
    when(en >= de && en >= es, "en").when(de >= es, "de").otherwise("es")
  }

  /** Heuristic quality score in [0,1]: blends stopword ratio, mean
    * word length sanity, and punctuation ratio (the reference-style
    * length/punct/stopword quality gates for pretraining data).
    */
  def qualityScore(text: Column): Column = {
    // ONE tokenization serves both the count and the stopword ratio
    // (lowercasing can't change where whitespace splits)
    val t = tokens(lower(text))
    val nTok = size(t).cast("double")
    val nChars = length(text).cast("double")
    val stopRatio =
      vocabHits(t, EnStop).cast("double") / greatest(nTok, lit(1.0))
    val punct = length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double")
    val punctRatio = punct / greatest(nChars, lit(1.0))
    val avgWordLen = (nChars - nTok + lit(1.0)) / greatest(nTok, lit(1.0))
    val lenScore = when(avgWordLen >= 3 && avgWordLen <= 10, lit(1.0)).otherwise(lit(0.5))
    least(lit(1.0),
      lit(0.5) * least(stopRatio * lit(5.0), lit(1.0)) +
        lit(0.3) * lenScore +
        lit(0.2) * (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, Appendix A
    * — public paper; the rule family most pretraining pipelines start
    * from), as a struct of per-rule booleans plus the overall pass:
    *
    *   word_count        50 <= |words| <= 100000
    *   mean_word_len     3 <= mean word length <= 10
    *   symbol_ratio      (# of '#' chars + '...' runs) / words <= 0.1
    *   bullet_lines      lines starting with - or * <= 90%
    *   ellipsis_lines    lines ending with ... <= 30%
    *   alpha_words       words containing a letter >= 80%
    *   stop_hits         >= 2 DISTINCT common English stopwords
    *
    * Every threshold is evaluated as an EXACT cross-multiplied integer
    * comparison (10*symbols <= words, 5*alpha >= 4*words, ...) — no
    * float division — so the flags hash-match a SQL oracle replay
    * bit-for-bit. Pure codegen'd built-ins: scan-speed, no shuffle.
    */
  val GopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  def gopherFlags(text: Column): Column = {
    val toks = tokens(text)
    val nw = size(toks).cast("long")
    val sumLen = coalesce(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)), lit(0L))
    val hashes =
      (length(text) - length(regexp_replace(text, "#", ""))).cast("long")
    val ellipses =
      ((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3)
        .cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l => {
      val first = substring(ltrim(l), 1, 1)
      first === "-" || first === "*"
    })).cast("long")
    val ellipsisLines =
      size(filter(lines, l => endswith(rtrim(l), lit("...")))).cast("long")
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(array_intersect(
      transform(toks, t => lower(t)),
      lit(GopherStop.toArray))).cast("long")
    val rWords = nw >= 50L && nw <= 100000L
    val rLen = sumLen >= nw * 3L && sumLen <= nw * 10L
    val rSym = (hashes + ellipses) * 10L <= nw
    val rBullet = bulletLines * 10L <= nLines * 9L
    val rEllipsis = ellipsisLines * 10L <= nLines * 3L
    val rAlpha = alphaWords * 5L >= nw * 4L
    val rStop = stopHits >= 2L
    struct(
      nw.as("n_words"),
      rWords.as("pass_word_count"),
      rLen.as("pass_mean_len"),
      rSym.as("pass_symbol_ratio"),
      rBullet.as("pass_bullet_lines"),
      rEllipsis.as("pass_ellipsis_lines"),
      rAlpha.as("pass_alpha_words"),
      rStop.as("pass_stop_words"),
      (rWords && rLen && rSym && rBullet && rEllipsis && rAlpha && rStop)
        .as("pass"))
  }

  /** Document fingerprint: minimum word-hash (a 1-perm MinHash /
    * rolling-hash stand-in) — identical documents get identical
    * fingerprints, near-identical ones collide with prob ~ Jaccard.
    */
  def fingerprint(text: Column): Column =
    array_min(transform(tokens(text), t => md5(t)))

  /** Word n-gram shingles (default 3): the MinHash input. Empty when
    * the document has fewer than n tokens. Computed by the codegen'd
    * [[graft.functions.Shingles]] kernel — value-identical to the
    * `transform(sequence(...), i => concat_ws(" ", element_at(...)))`
    * formulation it replaces (KernelEquivalenceSpec), whose
    * interpreted lambda re-evaluated the upstream tokenization tree
    * for every element_at of every shingle (~100x this kernel on the
    * document corpus).
    */
  def shingles(toks: Column, n: Int = 3): Column =
    graft.functions.shingles(toks, n)

  /** Exact set-Jaccard between two string arrays — one hash-set pass
    * via the codegen'd [[graft.functions.JaccardSim]] kernel; value
    * identical to size(array_intersect)/size(array_union) but without
    * materializing either array (the near-dup verify stage evaluates
    * this once per candidate pair, which is the dominant cost on a
    * high-overlap corpus).
    *
    * Null contract: a NULL array yields 0.0 — the original
    * `when(uni > 0, ...).otherwise(0.0)` formulation's behavior
    * (a null union size fails the `> 0` test), preserved here by
    * coalescing the kernel's null-propagating result.
    */
  def jaccard(a: Column, b: Column): Column =
    coalesce(graft.functions.jaccard_sim(a, b), lit(0.0))

  /** BM25's term-frequency saturation and length normalization, and
    * the query-likelihood Dirichlet prior. The oracle SQL of
    * `llm_bm25_topk` and `llm_ql_topk` writes the same numbers.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val QlMu = 300.0

  /** Vocabulary size of [[vocabOov]]; its oracle SQL cuts at 32 too. */
  val VocabSize = 32

  /** (doc_id, doc_len, tc) from (doc_id, text) rows: each document's
    * whitespace tokens counted per term inside its own row by the
    * codegen'd [[graft.functions.term_counts]] kernel, `tc` an
    * `array<struct<term, tf>>`, and the document length the size of
    * the same token array. No shuffle: doc_id is the corpus key, so a
    * document's terms never need to meet across rows. A null text has
    * a null `tc` and a null doc_len (-1 with ANSI off); an empty one
    * an empty `tc` and doc_len 0.
    */
  private def histograms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("doc_len"),
        graft.functions.term_counts(col("toks")).as("tc"))

  /** (doc_id, term, tf, doc_len): the per-document histograms
    * flattened, one row per (document, distinct term), a narrow
    * generate. inline_outer, not inline: for an inline of a column
    * Spark infers a size(tc) > 0 filter and pushes it below the
    * projection, which put 4 text splits into the uncut tf-idf and
    * inverted-index plans instead of 1. The null term rows it emits
    * for token-less docs are dropped instead.
    */
  private def termRows(hist: DataFrame): DataFrame =
    hist.select(col("doc_id"), col("doc_len"), inline_outer(col("tc")))
      .filter(col("term").isNotNull)
      .select(col("doc_id"), col("term"), col("tf"), col("doc_len"))

  /** The [[postings]] table and the corpus statistics observed on its
    * cut's pass: `nDocs`, the documents with at least one token (the
    * documents the table holds; Lucene counts indexed docs the same
    * way), and `nTokens`, their token total.
    */
  final case class Postings(table: DataFrame, nDocs: Long, nTokens: Long)

  /** The corpus postings table (doc_id, term, tf, doc_len) that the
    * retrieval operators read their corpus through, with its
    * [[Postings]] statistics.
    *
    * The table is materialized behind one [[graft.Lineage.cut]]
    * because each operator reads it from two consumers (df or cf per
    * term, and the scoring stream) that prune it to different columns,
    * so Spark could not reuse one consumer's scan for the other: uncut,
    * the corpus was tokenized once per consumer (3x per bm25 call, the
    * 24.7 s `llm_hybrid_rrf` of the r15 8-core record). Building it is
    * one job with no shuffle. The statistics are observed on that
    * job's pass, one row per document before the histograms are
    * flattened, so they cost no job of their own. ExplainSpec pins one
    * corpus tokenization per call.
    */
  def postings(docs: DataFrame): Postings = {
    val corpus = Observation("graft.postings")
    val hasTokens = col("doc_len") > 0
    val table = graft.Lineage.cut(termRows(histograms(docs)
      .observe(corpus, count_if(hasTokens).as("n_docs"),
        coalesce(sum(when(hasTokens, col("doc_len"))), lit(0L)).as("n_tokens"))))
    Postings(table, corpus.get("n_docs").asInstanceOf[Long],
      corpus.get("n_tokens").asInstanceOf[Long])
  }

  /** Corpus-trained bigram language-model scoring — the relational
    * form of CCNet-style LM quality filtering (Wenzek et al. 2020
    * score documents with an LM and filter on perplexity; here the LM
    * is an add-1-smoothed bigram model trained on the corpus itself,
    * so the whole thing stays inside the engine):
    *
    *   P(w2 | w1) = (C(w1 w2) + 1) / (C(w1) + V)
    *   doc score  = sum over the doc's bigrams of ln P
    *
    * Each bigram's ln P is quantized to integer MICROS before the
    * per-doc sum — integer addition is order-free, so the score is
    * bit-identical regardless of partial-aggregation order (a raw
    * double sum would wobble in the last ulps run-to-run and across
    * engines; this is the same exact-integer-moments discipline the
    * repetition detector uses).
    *
    * Scale shape: the corpus is tokenized once, behind one
    * [[graft.Lineage.cut]] of (doc_id, toks) rows that both the
    * vocabulary size V and the bigram stream read. C(w1) is the sum
    * of C(w1 w2) over w2 (every bigram counted under w1 has some w2),
    * so it aggregates the bigram table, not the corpus. Bigram
    * counting and the count joins are hash shuffles with map-side
    * combine on the (bounded) vocabulary and bigram tables; V is
    * dictionary-sized. Nothing is quadratic in corpus size.
    *
    * @return (doc_id, n_bigrams, logprob_micros) — docs with fewer
    *         than 2 tokens have no bigrams and are absent
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val toks = graft.Lineage.cut(
      docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    val bigrams = toks
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i - 1] as w1, toks[i] as w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val vocab = toks
      .select(explode(col("toks")).as("w")).agg(countDistinct(col("w")).as("v"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp_micros",
        round(log((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp_micros")).as("logprob_micros"))
  }

  /** CCNet-style perplexity partitioning (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): rank documents by per-bigram LM
    * log-probability ([[bigramLogProb]], corpus-trained, integer
    * micros) and split the corpus into head / middle / tail terciles
    * — the standard way a crawl is stratified by LM quality before
    * sampling. Ordering is (avg log-prob DESC, doc_id): the average
    * is ONE double division of two exact integers, bit-identical in
    * any IEEE engine, so the total order — and therefore every ntile
    * bucket — replays exactly cross-engine.
    *
    * Scale note: the declared query uses an exact global ntile, which
    * Spark executes as a single-partition window — correct and cheap
    * at the per-doc-summary row count of the bench scales (the window
    * input is one row per scored doc, already aggregated), but at
    * 100 TB with ~10^10 docs the production path computes the two
    * tercile thresholds from a deterministic hash-sample (broadcast)
    * and buckets by comparison in one scan; same output up to
    * sampling error, no global sort.
    *
    * @return (doc_id, bucket head|middle|tail, n_bigrams) — docs with
    *         < 2 tokens have no LM score and are absent, as in
    *         [[bigramLogProb]]
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = bigramLogProb(docs)
      .withColumn("_avg_lp",
        col("logprob_micros").cast("double") / col("n_bigrams").cast("double"))
    val w = Window.orderBy(col("_avg_lp").desc, col("doc_id"))
    scored.withColumn("_t", ntile(3).over(w))
      .select(col("doc_id"),
        when(col("_t") === 1, "head")
          .when(col("_t") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_bigrams"))
  }

  /** TF-IDF with top-k terms per document — the relational form of
    * the classic weighting (smoothed idf: ln((N+1)/(df+1)) + 1, tf
    * normalized by document length), keeping each document's k
    * highest-scoring terms. The whole computation is declarative:
    *   1. (doc, term) counts and document length — each document's
    *      term histogram, flattened with no shuffle (one reader, so
    *      uncut),
    *   2. document frequency — count(1) over (partition by term) on
    *      the same rows: one shuffle on term, no aggregate joined back
    *      (at 100 TB the term partitions are the term dictionary; no
    *      row ever fans out),
    *   3. corpus size as a broadcast 1-row aggregate over the raw
    *      documents (no tokenization),
    *   4. per-doc top-k via row_number <= k, which Catalyst executes
    *      as WindowGroupLimit (partial top-k before the shuffle).
    * Ties break on the term string so ranks are engine-independent,
    * and the smoothed idf quantizes to integer micros at the ln so
    * both the emitted score and the ranking are libm-independent
    * (TextSpec pins the rounding margin per fixture).
    *
    * @return (doc_id, rank, term, tfidf_micros), rank 1..k
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rankW = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    termRows(histograms(docs))
      .withColumn("df_count", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(total))
      // idf quantizes to integer micros at the ln (the bm25TopK
      // discipline): the smoothed idf is the only transcendental in
      // the score, and rounding it once at a grain with pinned margin
      // (TextSpec) makes both the emitted value and the RANKING
      // libm-independent — round(score, 6) here was the same latent
      // cross-libm half-point flip that bit BM25 in round 11
      .withColumn("idf_micros",
        round((log((col("n_docs") + 1) / (col("df_count") + 1)) + 1)
          * 1e6))
      .withColumn("score",
        (col("tf").cast("double") / col("doc_len"))
          * col("idf_micros"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("score")).cast("long").as("tfidf_micros"))
  }

  /** Tokenizer-vocabulary training + per-document OOV stats: build
    * the top-[[VocabSize]] word vocabulary by corpus frequency (ties
    * broken by the term string, so the cut is engine-independent) and
    * report every document's out-of-vocabulary token count and rate —
    * the standard pre-tokenizer health check before committing a
    * vocab to a training run.
    *
    * Scale shape: the per-document term histograms are cut once (one
    * job, no shuffle). The vocabulary pass flattens them and sums tf
    * per term (a map-side-combined aggregate, dictionary-sized output)
    * and collects the top [[VocabSize]] terms through an ordered limit
    * (a partial top-V per partition before the single-partition
    * merge). At most VocabSize strings are collected, whatever the
    * corpus size, and they return as a literal set. The per-document
    * pass is then a narrow scan of the cut: n_tokens is the doc
    * length, n_oov the tf sum of the histogram entries outside the
    * set, with no join and no shuffle. Documents without tokens are
    * absent.
    *
    * @return (doc_id, n_tokens, n_oov, oov_rate) — oov_rate rounded
    *         to 6 decimals (one exact-integer division)
    */
  def vocabOov(docs: DataFrame): DataFrame = {
    val hist = graft.Lineage.cut(histograms(docs))
    val vocab = termRows(hist).groupBy(col("term")).agg(sum(col("tf")).as("c"))
      .orderBy(col("c").desc, col("term")).limit(VocabSize)
      .collect().map(_.getString(0)).toSeq
    hist.filter(col("doc_len") > 0)
      .select(col("doc_id"), col("doc_len").as("n_tokens"),
        aggregate(col("tc"), lit(0L), (acc, t) =>
          acc + when(t("term").isInCollection(vocab), lit(0L)).otherwise(t("tf")))
          .as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** BM25 top-k retrieval — score a (small) query set against the
    * corpus with Okapi BM25 and keep each query's k best documents:
    * the lexical-retrieval half of every RAG / hard-negative-mining /
    * dedup-by-retrieval pipeline, and the standard companion to
    * [[tfIdfTopTerms]] / [[invertedIndex]].
    *
    *   score(q,d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))   (Lucene's variant,
    *                non-negative for df ≤ N)
    *
    * with k1 = [[Bm25K1]] and b = [[Bm25B]].
    *
    * Scale shape (nothing grows with corpus × queries):
    *   1. the [[postings]] table (doc, term, tf, doc_len), one job
    *      and no shuffle;
    *   2. N and avgdl: observed on that job's pass, two literals in
    *      the plan;
    *   3. the query-term table joined with per-term df is tiny by
    *      contract and BROADCAST into the postings stream — the
    *      corpus-side table never shuffles for the match;
    *   4. per-(query, doc) sum, then top-k per query via
    *      row_number ≤ k (WindowGroupLimit: partial top-k before the
    *      final shuffle).
    *
    * Exactness: idf quantizes to integer micros immediately after
    * the ln (the only transcendental — so a 1-ulp cross-libm ln()
    * difference cannot reach the final rounding), and each term's
    * contribution rounds to integer micro-units BEFORE the
    * per-document sum, so partial-aggregation order can't flip a
    * rank; ranks tie-break on doc_id. score_micros is thus
    * idf-quantized BM25 in micro-units (off by at most ~2 micros
    * from the unquantized score — far inside any retrieval-quality
    * tolerance, and exactly reproducible by any IEEE-754 engine).
    *
    * @param queries (query_id, query_text) — distinct terms per query
    *        are matched (standard bag-of-distinct-terms BM25)
    * @return (query_id, rank, doc_id, score_micros), rank 1..k
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val p = postings(docs)
    val dfreq = p.table.groupBy("term").agg(count(lit(1)).as("df_count"))
    // N and avgdl over the documents the postings hold (docs with no
    // tokens can match no query term, so excluding them is the
    // retrieval-index convention — Lucene counts indexed docs).
    // Exact: integer sum then ONE division — avg(double) would
    // accumulate in partial-agg order and could differ cross-engine
    val nDocs = p.nDocs.toDouble
    val avgdl = p.nTokens.toDouble / nDocs
    val qterms = queries
      .select(col("query_id"), explode(tokens(col("query_text"))).as("term"))
      .distinct()
    // tiny-side assembly: query terms pick up their df and idf BEFORE
    // touching the postings stream
    // idf is the ONLY transcendental in the score; quantize it to
    // integer micros IMMEDIATELY after the ln so every arithmetic
    // step after the libm call is IEEE-deterministic: a cross-libm
    // ln() may differ by an ulp (~1e-9 absolute in micro units
    // here), which once flipped a round() half-point in the driver's
    // DuckDB build when the full product was rounded at the end
    // (round-11's one red row). One early rounding against a 1e-6
    // grain leaves ~1e5x margin (pinned per-fixture in TextSpec);
    // everything downstream — the tf fraction and the final per-term
    // rounding — is *,/,+ on bit-identical doubles, exact-rounded the
    // same in any IEEE-754 engine.
    val qside = qterms.join(dfreq, Seq("term"))
      .select(col("term"), col("query_id"),
        round(log(lit(1) + (lit(nDocs) - col("df_count") + 0.5)
          / (col("df_count") + 0.5)) * 1e6).as("idf_micros"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("score_micros").desc, col("doc_id"))
    p.table
      .join(broadcast(qside), Seq("term"))
      .withColumn("term_micros",
        round(col("idf_micros") * (col("tf") * (Bm25K1 + 1))
          / (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B)
            + lit(Bm25B) * col("doc_len") / lit(avgdl)))).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_micros")).as("score_micros"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_micros"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    * "A study of smoothing methods for language models applied to ad
    * hoc information retrieval") — the language-modeling member of
    * the lexical trio next to [[bm25TopK]] and [[tfIdfTopTerms]]:
    * rank documents by P(q|d) under a Dirichlet-smoothed document LM.
    * Implemented in the rank-preserving matched-terms decomposition
    *
    *   score(q,d) = Σ_{t ∈ q∩d} ln(1 + tf·|C| / (μ·cf(t)))
    *              + |q| · ln(μ / (|d| + μ))
    *
    * with μ = [[QlMu]], so it needs exactly the [[postings]] table
    * BM25 already needs (no per-(query,doc) zero-tf rows), and shares
    * its scale shape: the table built in one job with no shuffle, |C|
    * observed on that job's pass (a literal in the plan), cf one
    * aggregate over the table, the (query term × cf) side broadcast,
    * WindowGroupLimit top-k.
    *
    * Exactness: both ln() terms quantize to integer micros at the
    * transcendental (the [[bm25TopK]] discipline — the argument of
    * each ln is an exact rational of longs, and TextSpec pins the
    * rounding margin over every reachable fixture value), so the
    * per-document sum and the |q|-scaled length term are pure long
    * arithmetic any engine reproduces. Ranks tie-break on doc_id.
    *
    * @return (query_id, rank, doc_id, score_micros) — score_micros is
    *         the quantized log-likelihood (negative; higher = better)
    */
  def queryLikelihoodTopK(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val p = postings(docs)
    val cf = p.table.groupBy("term").agg(sum(col("tf")).as("cf"))
    val qterms = queries
      .select(col("query_id"), explode(tokens(col("query_text"))).as("term"))
      .distinct()
    val nq = qterms.groupBy("query_id").agg(count(lit(1)).as("n_qterms"))
    val qside = qterms.join(cf, Seq("term"))
      .select(col("term"), col("query_id"), col("cf"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("score_micros").desc, col("doc_id"))
    p.table
      .join(broadcast(qside), Seq("term"))
      // exact rational argument: (tf·|C|) stays a long product, one
      // double division, one ln, ONE rounding to the micro grain
      .withColumn("term_micros",
        round(log(lit(1) + (col("tf") * lit(p.nTokens))
          / (lit(QlMu) * col("cf"))) * 1e6).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_micros")).as("match_micros"),
        max(col("doc_len")).as("doc_len"))
      .join(broadcast(nq), Seq("query_id"))
      .withColumn("score_micros",
        col("match_micros") + col("n_qterms") *
          round(log(lit(QlMu) / (col("doc_len") + lit(QlMu))) * 1e6).cast("long"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_micros"))
  }

  /** Inverted-index term summary: per term its document frequency,
    * total occurrence count, and posting range. At scale the full
    * postings TABLE (term, doc_id, tf) is the index — term-partitioned
    * parquet, read back by an equi-join on term; this summary is the
    * term-dictionary side of it. Shape: each document's term
    * histogram flattened (narrow), then one map-side-combined hash
    * aggregate on term, the only shuffle; no window, no join. It has
    * one consumer of the term counts, so it reads them uncut.
    */
  def invertedIndex(docs: DataFrame, minDf: Int = 1): DataFrame =
    termRows(histograms(docs))
      .groupBy("term")
      .agg(count(lit(1)).as("df_count"),
        sum(col("tf")).as("tf_total"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("df_count") >= minDf)

  /** Crawl-URL canonicalization — the normalization pass before exact
    * URL dedup of a web corpus: lowercase, strip scheme and leading
    * `www.`, drop query string + fragment, trim trailing slashes.
    * Every pattern is anchored or suffix-greedy and RE2-safe, so a
    * SQL oracle replays the chain verbatim and first-match semantics
    * equal global-match semantics.
    */
  def normalizeUrl(url: Column): Column = {
    val lowered = lower(url)
    val noScheme = regexp_replace(lowered, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noQuery = regexp_replace(noWww, "[?#].*", "")
    regexp_replace(noQuery, "/+$", "")
  }
}
