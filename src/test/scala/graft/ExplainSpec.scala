package graft

/** Pins the headline PLAN SHAPES the PERF.md audits argue from, so a
  * silent regression (a new shuffle, a lost broadcast, an RDD scan
  * barrier) fails a spec instead of rotting unnoticed:
  *
  *  - q_dhdt_pipeline: the whole trim -> h_range -> delta -> 5-output
  *    regression chain runs over ONE hash shuffle;
  *  - llm_corpus_pipeline: ONE data shuffle end-to-end (dedup), the
  *    doc/stats join resolved as a broadcast;
  *  - llm_decontaminate: the corpus side is NEVER shuffled — eval
  *    shingles broadcast into it, one partial-agg shuffle on the
  *    (tiny) matched keys only;
  *  - llm_ann_lsh_topk: banded equi-joins only (no cartesian/nested-
  *    loop fallback), top-k via the rank-window path;
  *  - llm_ann_ivf_topk: the k-means cell is computed inline on the
  *    corpus scan and the probe join is an equi-join on it;
  *  - none of them fall off the Catalyst plan into an RDD scan.
  *
  * Queries execute at sf0.001 so AQE finalizes, then the FINAL
  * adaptive plan is asserted — the claims here are about what
  * actually ran, not the pre-AQE static plan.
  */
class ExplainSpec extends SparkSpec {

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    // the adaptive plan's toString appends an "== Initial Plan =="
    // section that would double-count every node — keep the final half
    val cut = p.indexOf("== Initial Plan ==")
    if (cut >= 0) p.substring(0, cut) else p
  }

  /** Shuffle exchanges only (BroadcastExchange excluded). */
  private def shuffles(plan: String): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(plan).size

  test("q_dhdt_pipeline: one shuffle, no RDD barrier") {
    val p = finalPlan("q_dhdt_pipeline")
    assert(shuffles(p) == 1, s"expected exactly 1 Exchange:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_corpus_pipeline: one data shuffle + presentation sort, canon join broadcast") {
    val p = finalPlan("llm_corpus_pipeline")
    // exactly TWO exchanges, each named: the md5-hash dedup groupBy
    // (the pipeline's ONE data shuffle) and the rangepartitioning of
    // the oracle's deterministic orderBy (presentation, not dataflow).
    // A third exchange means the canon join fell off broadcast or a
    // new shuffle crept into the chain.
    assert(shuffles(p) == 2, s"expected dedup shuffle + orderBy range only:\n$p")
    assert("Exchange hashpartitioning\\(_groupingexpression".r
      .findAllIn(p).size == 1, s"md5 dedup shuffle missing/duplicated:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"orderBy presentation exchange missing/duplicated:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"canon join no longer broadcast:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_decontaminate: corpus never shuffled, eval side broadcast") {
    val p = finalPlan("llm_decontaminate")
    // three exchanges are allowed, ALL on eval-side or matched-only
    // keys: eval-shingle distinct (sh), matched-pair distinct
    // (doc_id, sh), and the final per-doc agg (doc_id). The corpus
    // scan -> shingle explode -> containment join path must stay
    // shuffle-free: the eval set broadcasts into it. A fourth
    // exchange means the full corpus started shuffling.
    assert(shuffles(p) == 3, s"corpus-side shuffle crept in:\n$p")
    assert("BroadcastHashJoin \\[sh".r.findAllIn(p).nonEmpty,
      s"eval shingles no longer broadcast into the corpus scan:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_ann_lsh_topk: equi-join banding, windowed top-k, no cartesian") {
    val p = finalPlan("llm_ann_lsh_topk")
    assert(!p.contains("CartesianProduct"), s"cartesian product crept in:\n$p")
    assert(p.contains("Window"), s"top-k no longer via the window path:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
    // the multi-table dedupe must run as a map-side-combined aggregate
    // over (qid, id, cos) — if a dim-length vector column crosses a
    // shuffle exchange after the candidate join, the operator's
    // dominant byte volume regressed ~40x
    val dedup = "HashAggregate\\(keys=\\[qid[^\\]]*vec_id".r
    assert(dedup.findFirstIn(p).nonEmpty,
      s"candidate dedupe no longer an aggregate on (qid, vec_id):\n$p")
    val shuffledVecs = "Exchange hashpartitioning\\([^\\n]*(embedding|qvec)"
      .r.findFirstIn(p)
    assert(shuffledVecs.isEmpty,
      s"a vector column crosses a shuffle exchange:\n$shuffledVecs\n$p")
  }

  test("llm_chunk_windows: zero shuffles — pure per-row generation") {
    val p = finalPlan("llm_chunk_windows")
    assert(shuffles(p) == 0, s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"window explode gone:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_tfidf_topterms: top-k via WindowGroupLimit, corpus count broadcast, no cartesian data join") {
    val p = finalPlan("llm_tfidf_topterms")
    assert(p.contains("WindowGroupLimit"),
      s"top-k no longer partial before the rank shuffle:\n$p")
    // the ONLY nested-loop join allowed is the 1-row corpus-count
    // broadcast; the term-dictionary join must stay a real join
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("llm_bm25_topk: query side broadcast into postings, top-k via WindowGroupLimit") {
    val p = finalPlan("llm_bm25_topk")
    // the (query term × idf × stats) table must reach the postings
    // stream as a broadcast — a shuffle here would put an Exchange on
    // the corpus-sized postings table for a handful of query terms
    assert(p.contains("BroadcastHashJoin"),
      s"query-side join no longer broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k no longer partial before the rank shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("llm_hard_negatives: broadcast anti-join of dense positives, top-k via WindowGroupLimit") {
    val p = finalPlan("llm_hard_negatives")
    // the dense-positive subtraction must reach the BM25 candidate
    // stream as a BROADCAST anti-join — the positives are m rows per
    // query by contract, so a shuffle here would be pure overhead
    val anti = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(anti.nonEmpty && anti.forall(_.contains("BroadcastHashJoin")),
      s"dense-positive subtraction not a broadcast anti-join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"BM25 top-k no longer partial before the rank shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query-side join no longer broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // r16: BM25's postings cut rides along (see llm_bm25_topk pin)
    assert(p.contains("ExistingRDD"), s"postings cut disappeared:\n$p")
  }

  test("llm_heavy_hitters: map-side-combined sketch aggregate, broadcast candidate join") {
    val p = finalPlan("llm_heavy_hitters")
    // the sketch must be a REAL partial aggregate (O(k) state per
    // map task, one 1-row final) — a sort-based or repartition-first
    // shape would move the whole token stream for a 64-counter sketch
    assert(p.contains("ObjectHashAggregate"),
      s"MG sketch no longer an object-hash partial aggregate:\n$p")
    // single-pass shape (round-12 advice): the 1-row (sketch, total)
    // aggregate is broadcast ONCE as a nested-loop cross and probed
    // via element_at — the sketch subtree must not be planned twice
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"1-row sketch no longer broadcast into the exact side:\n$p")
    val sketchPasses = "partial_misragriesagg".r
      .findAllIn(p.toLowerCase).size
    assert(sketchPasses == 1,
      s"MG sketch planned $sketchPasses times (want exactly 1):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_ql_topk: query side broadcast into postings, top-k via WindowGroupLimit") {
    val p = finalPlan("llm_ql_topk")
    // the language-model scorer must ride the SAME plan discipline as
    // BM25: the (query term x collection stats) table broadcast into
    // the postings stream, top-k partial before the rank shuffle
    assert(p.contains("BroadcastHashJoin"),
      s"query-side join no longer broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k no longer partial before the rank shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("llm_mmr_diversify: broadcast vector fetch, k-row group shuffle only") {
    val p = finalPlan("llm_mmr_diversify")
    // the candidate list (k rows/query) must reach the corpus scan as
    // a BROADCAST hash join — the corpus never shuffles for the
    // vector fetch; the only data exchanges are the retrieval window
    // and the k-row-per-query group shuffle feeding the greedy loop
    assert(p.contains("BroadcastHashJoin"),
      s"vector fetch no longer broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"candidate top-k no longer partial before the rank shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(shuffles(p) <= 3, s"extra exchange crept into mmr:\n$p")
  }

  test("llm_dsir_select: ratio table broadcast into the gram stream, no cartesian data join") {
    val p = finalPlan("llm_dsir_select")
    // the B-row log-ratio table must join the exploded gram stream as
    // a broadcast — a shuffle here puts an Exchange on the corpus-
    // sized gram stream for a 64-row build side
    assert("BroadcastHashJoin \\[_b".r.findAllIn(p).nonEmpty,
      s"bucket-ratio join no longer broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // r16: the bucketed gram stream is a DELIBERATE materialization
    // barrier (Lineage.cut, narrow (doc_id, bucket) projection) —
    // src distribution and per-doc weights read ONE table instead of
    // re-running tokenize + explode + per-gram md5 each
    assert(p.contains("ExistingRDD"), s"gram-stream cut disappeared:\n$p")
  }

  test("llm_vocab_oov: reads the cut, no Exchange, vocabulary a bounded literal") {
    val p = finalPlan("llm_vocab_oov")
    // the per-document pass reads the cut term histograms and tests
    // each entry against the collected vocabulary, a literal set of at
    // most VocabSize terms: no join, no shuffle, no second tokenization
    assert(p.contains("ExistingRDD"), s"per-document pass no longer reads the cut:\n$p")
    assert(shuffles(p) == 0, s"exchange crept into the per-document pass:\n$p")
    assert(!p.contains("Join"), s"vocabulary no longer a literal:\n$p")
    assert(!p.contains("split(text"), s"corpus tokenized again:\n$p")
    val vocab = "INSET (.*?) THEN".r.findFirstMatchIn(p).map(_.group(1).split(", ").length)
    assert(vocab.exists(n => n > 0 && n <= graft.ops.Text.VocabSize),
      s"vocabulary literal missing or over ${graft.ops.Text.VocabSize} terms:\n$p")
  }

  test("llm_span_dedup: no cartesian, no token-level anti-join tail") {
    val p = finalPlan("llm_span_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the reassembly contract: the corpus joins the removed-set table
    // ONCE (left outer); a LeftAnti means the token-explode tail came
    // back
    assert(!p.contains("LeftAnti"), s"token-level anti-join tail returned:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("q2_bucketed_join: the join itself is shuffle-free — one Exchange total (the group-by)") {
    val p = finalPlan("q2_bucketed_join")
    // both sides are bucketed on the join key, so the only shuffle in
    // the whole query is the final small aggregation — the join reads
    // bucket-aligned splits (or broadcasts the smaller side; either
    // way, NO Exchange sits under the join)
    assert(shuffles(p) == 1, s"bucketed join started shuffling:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("a17_grouped_quantiles: counts shuffle + group window, final agg reuses the partitioning") {
    val p = finalPlan("a17_grouped_quantiles")
    // Exchange 1: groupBy(flag, value) counts; Exchange 2: the window
    // repartition by flag. The final groupBy(flag) must REUSE the
    // window's hash partitioning — a third exchange means it stopped
    // doing so and the all-quantiles-in-one-pass claim regressed.
    assert(shuffles(p) == 2, s"expected exactly 2 Exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("llm_inverted_index: two hash aggregates, no joins, no window") {
    val p = finalPlan("llm_inverted_index")
    // the (doc, term) counts are a narrow generate over each
    // document's histogram; the term aggregate is the one shuffle
    assert(shuffles(p) == 1, s"expected the (term) shuffle only:\n$p")
    assert(!p.toLowerCase.contains("join"), s"index build should not join:\n$p")
  }

  test("llm_url_dedup: one shuffle — the canonical-url aggregate; regex chain stays narrow") {
    val p = finalPlan("llm_url_dedup")
    assert(shuffles(p) == 1, s"expected 1 Exchange:\n$p")
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
  }

  test("llm_kmeans_assign: final assignment is a narrow scan over the cached quantized input") {
    val p = finalPlan("llm_kmeans_assign")
    // iterations run in interior jobs; the RETURNED frame must be a
    // pure per-row argmin over the persisted quantized vectors — any
    // Exchange/join here means assignment stopped being scan-speed
    assert(shuffles(p) == 0, s"assignment should be narrow:\n$p")
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
  }

  test("llm_pq_codes: final code assignment is a narrow scan, no join") {
    val p = finalPlan("llm_pq_codes")
    // training shuffles run in interior jobs; the RETURNED frame is m
    // per-row argmins over the persisted quantized vectors
    assert(shuffles(p) == 0, s"code assignment should be narrow:\n$p")
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
  }

  test("llm_pq_adc_topk: table-lookup scan + TakeOrdered top-k, no join, no global sort") {
    val p = finalPlan("llm_pq_adc_topk")
    // ADC = m element_at lookups over the codes — never a join against
    // a centroid table, never a full sort of the corpus
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell to a global sort:\n$p")
  }

  test("a10_salted_agg: exactly two Exchanges — salted partial + bounded merge") {
    val p = finalPlan("a10_salted_agg")
    // (key, salt) pre-agg shuffle, then the per-key merge shuffle
    // whose input is <= salts rows per key; a third exchange or a join
    // means the skew shape regressed
    assert(shuffles(p) == 2, s"expected salted partial + merge only:\n$p")
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
  }

  test("llm_ivfpq_topk: one narrow scan (cell assign + probe filter + ADC), no join") {
    val p = finalPlan("llm_ivfpq_topk")
    // coarse cell and PQ codes are both literal-centroid expressions:
    // the search never joins a centroid table and never full-sorts
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell to a global sort:\n$p")
    assert(shuffles(p) == 0, s"probe+rank should be scan-local:\n$p")
  }

  test("llm_ann_ivf_topk: cell assigned inline on the corpus scan, probe equi-join on cell") {
    val p = finalPlan("llm_ann_ivf_topk")
    // the probe join keys on the cell id alone — never a cross join
    // with a distance filter
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell#\\d+\\], \\[cell#\\d+\\]"
      .r.findFirstIn(p).isDefined, s"probe join is not an equi-join on cell:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join crept in:\n$p")
    // the corpus cell is the centroid argmin projected straight over
    // the corpus scan: no exchange or stage boundary below it
    val lines = p.linesIterator.toIndexedSeq
    val cellAt = lines.indexWhere(l => l.contains("Project [") &&
      l.contains("centroid_dist(") && l.contains(" AS cell#"))
    assert(cellAt >= 0, s"no inline cell projection:\n$p")
    val below = lines.drop(cellAt + 1).takeWhile(!_.contains("FileScan"))
    assert(below.forall(l => !l.contains("Exchange") && !l.contains("QueryStage")),
      s"cell assignment is not on the corpus scan:\n$p")
    // ...and computed in that one node: a nullable cell would let the
    // join infer isnotnull(cell) and evaluate the whole cell
    // expression again in a Filter (and the scan's DataFilters) below
    val cellNodes = lines.filter(l => l.contains("centroid_dist(") && !l.contains("posexplode"))
    assert(cellNodes.size == 1,
      s"corpus cell computed in ${cellNodes.size} nodes, want 1:\n$p")
  }

  test("q3_shipping_priority: selective joins broadcast, top-k via TakeOrdered, no cartesian") {
    val p = finalPlan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), s"pruned dims should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // limit 10 of an orderBy must run as a distributed partial top-k,
    // never a full global sort
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell to a global sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed to the scan:\n$p")
  }

  test("q6_revenue_change: every predicate pushed to the scan, single partial-agg exchange") {
    val p = finalPlan("q6_revenue_change")
    // the toString truncates the PushedFilters list; the prefix plus
    // the 4-column pruned ReadSchema pin pushdown + pruning together
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"WHERE clause did not reach the parquet scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate"),
      s"scan reads more than the 4 referenced columns:\n$p")
    assert(shuffles(p) == 1, s"expected only the final-agg exchange:\n$p")
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
  }

  test("llm_kmv_distinct: distinct + distributed top-k, no global sort of the corpus") {
    val p = finalPlan("llm_kmv_distinct")
    // the k-min survives as TakeOrderedAndProject over the distinct's
    // output; a Sort node over the full hash stream means the sketch
    // stopped being a bounded-state top-k
    assert(p.contains("TakeOrderedAndProject"), s"k-min fell to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("llm_cms_counts: map-side-combined counter grid, broadcast probe join, top-k not a sort") {
    val p = finalPlan("llm_cms_counts")
    // the counter grid must be a REAL partial aggregate: each map task
    // collapses its token stream into <= d*w cells before the exchange,
    // so the shuffle moves kilobytes regardless of corpus size
    assert(p.contains("HashAggregate"),
      s"CMS grid no longer a hash partial aggregate:\n$p")
    // ONE corpus scan: the sketch and the probe set both hang off the
    // word-count aggregate, and the second branch must reuse the
    // first's exchange (9.1 -> 1.5 s at sf1 when this holds)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage")
      || "Scan parquet".r.findAllIn(p).size <= 1,
      s"word-count exchange no longer reused — corpus scanned twice:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"probe top-k fell to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe-cells-to-sketch join no longer broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"bounded-size sketch join became a sort-merge shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_bpe_tokenize: the merge fold never leaves the vocab grain") {
    val df = SparkEntry.queries("llm_bpe_tokenize")(spark, sf001)
    df.collect()
    // regression pin for the InferFiltersFromGenerate blow-up: a
    // non-outer posexplode infers size(pieces) > 0, alias substitution
    // expands it to the full interpreted fold, and pushdown sinks it
    // below the word-distinct — re-running the fold per TOKEN
    // OCCURRENCE (78s at sf1). The fold (lambdafunction in the plan)
    // must appear ONLY in aggregate-output position, never inside a
    // Filter below the distinct.
    val opt = df.queryExecution.optimizedPlan
    val badFilters = opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("lambdafunction") => f
    }
    assert(badFilters.isEmpty,
      s"merge fold leaked into a pushed-down filter:\n${badFilters.mkString}")
  }

  test("llm_bpe_corpus_tokens: pieces broadcast back onto an unshuffled corpus stream") {
    val df = SparkEntry.queries("llm_bpe_corpus_tokens")(spark, sf001)
    df.collect()
    val raw = df.queryExecution.executedPlan.toString
    val cut = raw.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) raw.substring(0, cut) else raw
    // the production tokenizer-apply layout: at THIS vocab scale the
    // optimizer must pick a broadcast of the pieces table onto the
    // positional token stream, keeping the corpus side unshuffled.
    // Deliberately NOT a forced broadcast() in tokenizeCorpus: pieces
    // sits behind the vocab-distinct shuffle so its size estimate is
    // accurate, and at 100-TB vocab scale (hundreds of millions of
    // distinct words) the plan must be free to degrade to a shuffle
    // join instead of dying on the 8 GiB broadcast cap — this test
    // pins only the small-vocab behavior the estimate should produce.
    assert(p.contains("BroadcastHashJoin"),
      s"optimizer stopped broadcasting a tiny pieces table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus token stream fell into a shuffle join at tiny vocab:\n$p")
    // the ONLY shuffle is the vocab distinct on the build side
    assert(shuffles(p) == 1,
      s"expected exactly the vocab-distinct Exchange:\n$p")
    // same InferFiltersFromGenerate trap as llm_bpe_tokenize: the
    // merge fold must never leak into a pushed-down filter
    val opt = df.queryExecution.optimizedPlan
    val badFilters = opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("lambdafunction") => f
    }
    assert(badFilters.isEmpty,
      s"merge fold leaked into a pushed-down filter:\n${badFilters.mkString}")
  }

  test("llm_hll_distinct: one aggregation, no join, no sort") {
    val p = finalPlan("llm_hll_distinct")
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
    assert(!p.contains("Sort "), s"unexpected sort:\n$p")
    // exact countDistinct forces an Expand+two-phase agg; the HLL
    // sketches ride the same pass — anything beyond those exchanges
    // means the three aggregates stopped sharing one scan
    assert(shuffles(p) <= 2, s"expected at most the distinct-agg exchanges:\n$p")
  }

  test("mm_phash_dedup: one data shuffle — the phash groupBy; codec stages stay narrow") {
    val p = finalPlan("mm_phash_dedup")
    assert(shuffles(p) == 1, s"expected only the phash-group exchange:\n$p")
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
  }

  test("mm_audio_energy: zero shuffles — decode + framing is pure per-row generation") {
    val p = finalPlan("mm_audio_energy")
    assert(shuffles(p) == 0, s"expected no Exchange:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  /** The DBSCAN/lake pipelines end in eager localCheckpoints, so their
    * interesting plans execute in INTERIOR actions — capture every
    * executed plan via a QueryExecutionListener instead of reading the
    * (trivial) final frame's plan.
    */
  private def capturePlans(name: String): Seq[String] = {
    // store the (cheap) QueryExecution refs in the listener and
    // stringify AFTER the drain wait — an executedPlan.toString of a
    // deeply-cached interior plan can run to tens of MB and take
    // seconds, and doing that inside onSuccess would hold up the
    // listener bus for every later event
    val ques = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        ques.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(name)(spark, sf001).collect()
      Profile.drain(spark) // the listener bus delivers async
    } finally spark.listenerManager.unregister(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(ques).asScala.toSeq
      .map(_.executedPlan.toString)
  }

  /** Matching lines with 2 lines of context — a full multi-plan dump
    * in an assertion message is unreadable and overflows scrollback.
    */
  private def around(all: String, needle: String): String = {
    val lines = all.linesIterator.toIndexedSeq
    lines.zipWithIndex.filter(_._1.contains(needle)).take(5)
      .map { case (_, i) =>
        lines.slice(math.max(0, i - 2), math.min(lines.size, i + 3)).mkString("\n")
      }.mkString("\n...\n")
  }

  test("lexical text operators tokenize the corpus once per call") {
    // every plan one call executes, the cut's own materialization
    // included: each lexical operator reads the corpus through one
    // tokenization (Text.postings, or bigramLogProb's token cut), and
    // DSIR splits the corpus once for its gram cut and the target
    // sample once, so another split means a consumer went back to the
    // raw text. The near-dup rows read the planted corpus, whose
    // planted half is itself built from a split of the text, so one
    // tokenization renders as 2 splits: SimHash's cut feature table
    // shows once; MinHash's persisted one shows in the banding plan and
    // in both sides of the verify join
    val expected = Seq("llm_tfidf_topterms", "llm_bm25_topk", "llm_ql_topk",
      "llm_vocab_oov", "llm_lm_score", "llm_ppl_buckets", "llm_inverted_index")
      .map(_ -> 1) ++ Seq("llm_dsir_select" -> 2, "llm_minhash_neardup" -> 6,
        "llm_simhash_neardup" -> 2, "llm_simhash_neardup_tight" -> 2,
        "llm_dedup_clusters" -> 6)
    val splits = expected.map { case (q, _) => q -> capturePlans(q)
      .map(p => "split\\(text".r.findAllIn(p.split("== Initial Plan ==")(0)).size).sum }
    assert(splits == expected, s"text splits per call: $splits")
  }

  test("near-dup banding joins never broadcast a corpus-scaling side") {
    // round-14 sf10 regression pin, tightened round 15 to the
    // one-window shape: the banded side reads signatures through a
    // row-multiplying Generate with no shuffle boundary, so its size
    // estimate is stuck at the source size at EVERY corpus scale — at
    // 500k docs AQE broadcast it (84M rows > the 8 GiB hard cap) and
    // the query died; at 5.1M docs the replacement shuffled-hash
    // bucket join OOM'd on its non-spillable build side. Since round
    // 15 there is NO bucket join to mis-plan: bucket sizes come from
    // ONE window pass (a single Exchange of the banded stream, sort
    // spills safely), and the only join on the band keys is the
    // sort-merge self-join of the checkpointed collision rows. The
    // VERIFY join is deliberately NOT pinned — its shingle-table
    // estimate is scan-derived and sane, so the optimizer's
    // broadcast-at-small / shuffle-at-large choice is correct at
    // every scale (a forced shuffle measured 2-3x slower on the sf1
    // near-dup family).
    for (name <- Seq("llm_simhash_neardup", "llm_minhash_neardup")) {
      val plans = capturePlans(name)
      assert(plans.nonEmpty, s"$name: listener captured no interior actions")
      val banding = plans.filter(p =>
        p.contains("band_sig"))
      assert(banding.nonEmpty, s"$name: no banding plan captured")
      val all = banding.mkString("\n== next action ==\n")
      assert(!all.contains("BroadcastHashJoin"),
        s"$name: a banding join planned as broadcast:\n${around(all, "BroadcastHashJoin")}")
      assert(!plans.exists(_.contains("CartesianProduct")),
        s"$name: cartesian crept in")
      // the bucket-count action: a Window with exactly one Exchange
      // of the banded stream and no join of any kind
      val windowPlans = banding.filter(p =>
        p.contains("Window") && !p.contains("Join"))
      assert(windowPlans.nonEmpty,
        s"$name: no join-free window bucket-count plan captured")
      // AQE's toString renders the same exchange in both the Final
      // and Initial Plan sections — count only the executed one
      val w = windowPlans.maxBy(
        "Exchange hashpartitioning".r.findAllIn(_).size)
        .split("== Initial Plan ==")(0)
      assert("Exchange hashpartitioning".r.findAllIn(w).size == 1,
        s"$name: bucket-count pass should shuffle the banded stream " +
          s"exactly once:\n${around(w, "Exchange")}")
      // the pair join: sort-merge on the collision rows, nothing else
      assert(banding.exists(_.contains("SortMergeJoin")),
        s"$name: band-key self-join is not sort-merge")
      assert(!all.contains("ShuffledHashJoin"),
        s"$name: a hash join reappeared in the banding path — its " +
          s"build side cannot spill:\n${around(all, "ShuffledHashJoin")}")
    }
  }

  test("m1_dbscan interior plans: no cartesian, nested-loop only for tiny Cross builds, residual label join broadcast") {
    val plans = capturePlans("m1_dbscan")
    assert(plans.nonEmpty, "listener captured no interior actions")
    val all = plans.mkString("\n== next action ==\n")
    assert(!all.contains("CartesianProduct"),
      s"cartesian crept in:\n${around(all, "CartesianProduct")}")
    // the ONLY nested-loop joins allowed are the deliberate tiny Cross
    // builds (3^d offsets table, 1-row stats); a conditioned join
    // falling off the equi-join path would render as a non-Cross BNLJ
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(all).toSeq
    assert(bnlj.forall(_.contains("Cross")),
      s"a conditioned join fell to nested-loop:\n${bnlj.mkString("\n")}")
    // the residual-CC label join (tiny labels table on 'rep') must stay
    // broadcast — a shuffle here would put an Exchange on the full
    // core-point table for a kilobyte build side
    assert("BroadcastHashJoin \\[rep".r.findAllIn(all).nonEmpty,
      s"residual label join no longer broadcast; joins seen:\n${around(all, "Join")}")
    // the eps-grid pair join runs as a shuffled hash join when AQE's
    // measured partitions allow, and is never broadcast: a broadcast
    // home side breaks the cell co-location the pass-1 forest
    // contraction relies on
    val pair = DbscanSpec.pairJoins(plans)
    assert(pair.nonEmpty && pair.forall(_ == "ShuffledHashJoin"),
      s"pair join not executed as ShuffledHashJoin: $pair")
  }

  test("lake_finder: ring kernel rides the broadcast basin join, member anti-join broadcast, no cartesian") {
    val plans = capturePlans("lake_finder_pipeline")
    // The EXECUTED ring stage shape (LakeFinder.scala §7, round-8
    // audit): Catalyst pushes the bbox + PIP + dist_to_ring predicate
    // below the member anti-join into the broadcast basin join's
    // condition. Pinned claims: (a) the ring kernel is evaluated
    // inside a BroadcastHashJoin — the candidates side is NEVER
    // shuffled for it; (b) the member anti-join resolves as a
    // broadcast hash join too (the lake-member table is small by
    // contract); (c) no cartesian anywhere. A cache barrier forcing
    // the anti-join-first source order was A/B'd at no win and
    // rejected — if this pin breaks because the shapes flipped,
    // re-measure before chasing either order.
    val ringPlans = plans.filter(p =>
      p.contains("dist_to_ring") && p.contains("LeftAnti"))
    assert(ringPlans.nonEmpty,
      "no captured plan contains both the ring kernel and the member anti-join")
    ringPlans.foreach { p =>
      val ringJoin = p.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") && l.contains("dist_to_ring"))
      assert(ringJoin.nonEmpty,
        "ring kernel no longer rides the broadcast basin join:\n" +
          around(p, "dist_to_ring"))
      // exists, not forall: the adaptive plan's toString embeds the
      // pre-AQE "Initial Plan" (SortMergeJoin) alongside the final
      // broadcast join — only the final shape matters
      val anti = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
      assert(anti.exists(_.contains("BroadcastHashJoin")),
        s"member anti-join fell off broadcast:\n${anti.mkString("\n")}")
    }
    val all = plans.mkString("\n")
    assert(!all.contains("CartesianProduct"),
      s"cartesian crept in:\n${around(all, "CartesianProduct")}")
    // the lake DBSCAN's pair join: shuffled hash, never broadcast (see
    // the m1_dbscan pin)
    val pair = DbscanSpec.pairJoins(plans)
    assert(pair.nonEmpty && pair.forall(_ == "ShuffledHashJoin"),
      s"pair join not executed as ShuffledHashJoin: $pair")
  }

  test("llm_decontam_bloom: corpus never shuffled, bloom probe inside the scan codegen span") {
    val p = finalPlan("llm_decontam_bloom")
    // same exchange budget as the exact path — the bloom prefilter
    // must not ADD dataflow, only subtract rows before the join
    assert(shuffles(p) == 3, s"corpus-side shuffle crept in:\n$p")
    assert(p.contains("bloom_contains"),
      s"bloom probe missing from the corpus scan path:\n$p")
    assert("BroadcastHashJoin \\[sh".r.findAllIn(p).nonEmpty,
      s"exact verify no longer broadcast:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_es_weighted_sample: TakeOrderedAndProject, no global sort exchange") {
    val p = finalPlan("llm_es_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted top-k no longer per-partition + driver merge:\n$p")
    // no rangepartitioning exchange = no global sort of the corpus
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort crept into the weighted sample:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("llm_pps_sample: one hash shuffle on the group key, windows stacked on it") {
    val p = finalPlan("llm_pps_sample")
    // cumulative-weight and total-weight windows must share the ONE
    // source-hash exchange; a second data exchange means the stacked
    // windows stopped reusing the partitioning
    assert(shuffles(p) == 1, s"expected exactly the source hash exchange:\n$p")
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).size == 1,
      s"source partitioning missing/duplicated:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }

  test("a18_tdigest_rank_bound: sketch is one partial agg; verify join broadcast") {
    val p = finalPlan("a18_tdigest_rank_bound")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the k-row estimate side must broadcast into the verification
    // re-scan, never the reverse
    assert(p.contains("BroadcastHashJoin"),
      s"estimate join no longer broadcast:\n$p")
    assert(!p.contains("ExistingRDD"), s"RDD scan barrier crept in:\n$p")
  }
}
