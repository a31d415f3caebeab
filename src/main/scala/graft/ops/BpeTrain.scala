package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lineage.CutSyntax

/** Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units"): learn the
  * first K merge rules of a byte-pair-encoding vocabulary from a
  * corpus.
  *
  * Scale shape (100 TB): classic BPE training never iterates over the
  * corpus — it iterates over the WORD-FREQUENCY table. The one
  * corpus-sized step is building that table (a map-side-combined
  * word count: the canonical Spark aggregation, shuffling only the
  * distinct vocabulary), after which every merge iteration runs on
  * the vocab — orders of magnitude smaller than the corpus (a 100-TB
  * crawl has a few hundred million distinct words, a comfortably
  * distributed DataFrame). Per iteration: one pair-count aggregation
  * over the vocab (groups bounded by distinct adjacent pairs), one
  * 1-row argmax collect (the same driver-side model step as the
  * k-means centroids in ops/Embeddings — O(K) rows total), and one
  * narrow rewrite projection. Nothing corpus-sized moves after the
  * first aggregation.
  *
  * Lineage discipline: the rewrite projections CHAIN — without a cut,
  * iteration t's pair-count would re-evaluate all t-1 interpreted
  * higher-order folds over the vocab (O(K^2) total fold work) and the
  * final plan would nest K aggregate() calls (linear analysis blow-up).
  * So [[train]] cuts lineage with an eager localCheckpoint every
  * `checkpointEvery` merges — the same one-job-per-round discipline as
  * ops/ConnectedComponents — bounding every pair-count to at most
  * `checkpointEvery` stacked folds and keeping per-iteration wall flat
  * in the step index (measured: see PERF.md round 14, train(64) at
  * sf0.1).
  *
  * The merge REWRITE is a higher-order `aggregate()` fold — pure
  * codegen'd Catalyst, no UDF: greedy left-to-right semantics fall
  * out of a (pending-symbol, emitted-list) accumulator. Within one
  * iteration only the fixed winning pair (L, R) merges; the merged
  * token L||R can never re-match as L in the same pass (R is
  * non-empty) and the fold's input symbols are the original list, so
  * the fold is exactly the sequential greedy scan — BpeTrainSpec
  * proves it against a reference implementation on randomized
  * sequences, and the DuckDB oracle replays the same scan as a
  * per-word recursive CTE.
  *
  * Determinism: counts are exact integers; the winning pair is the
  * (count DESC, left ASC, right ASC) minimum — total order, so the
  * whole merge table is hash-exact cross-engine.
  */
object BpeTrain {

  /** One learned merge rule. */
  final case class Merge(step: Int, lhs: String, rhs: String,
      merged: String, pair_count: Long)

  /** Character-array column for a word (1-based substr; char-exact in
    * both engines).
    */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** Adjacent symbol pairs of `syms` as structs (l, r) — slice+zip, so
    * a single-symbol word yields an empty array (no `sequence(1, 0)`
    * descending-step trap).
    */
  private def adjacentPairs(syms: Column): Column =
    arrays_zip(
      slice(syms, lit(1), size(syms) - 1).as("l"),
      slice(syms, lit(2), size(syms) - 1).as("r"))

  /** Greedy left-to-right merge of the fixed pair (l, r) in a symbol
    * array, as a codegen fold: accumulator = (prev pending symbol,
    * emitted list). '' marks "no pending symbol" — a real symbol is
    * never empty (substr of a non-empty word).
    */
  private[graft] def mergeFold(syms: Column, l: String, r: String): Column = {
    val zero = struct(lit("").as("prev"), array().cast("array<string>").as("out"))
    def flush(acc: Column): Column =
      when(acc("prev") === "", acc("out"))
        .otherwise(concat(acc("out"), array(acc("prev"))))
    aggregate(
      syms,
      zero,
      (acc, x) =>
        when(acc("prev") === lit(l) && x === lit(r),
          struct(lit("").as("prev"),
            concat(acc("out"), array(lit(l + r))).as("out")))
          .otherwise(struct(x.as("prev"), flush(acc).as("out"))),
      acc => flush(acc))
  }

  /** Word-frequency table of the whitespace token stream — THE
    * corpus-sized step, one map-side-combined aggregation.
    */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Full pair-count aggregate over a (word, freq, syms) vocab — the
    * classic per-iteration count; [[train]] pays it ONCE (step 1 seed)
    * and maintains it incrementally afterwards.
    */
  private def pairCountsOf(words: DataFrame): DataFrame =
    words.select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))

  /** Learn the first `steps` merge rules. Returns the merge table
    * (step, lhs, rhs, merged, pair_count) — K rows, hash-exact.
    *
    * INCREMENTAL pair counts (the Sennrich cache, round 15): a merge
    * of (L, R) only changes the adjacent-pair multiset of words that
    * CONTAIN (L, R) — a shrinking fraction of the vocab as training
    * proceeds (the winning count decays toward 1). So instead of a
    * full explode+aggregate over the vocab per step (the r14 shape,
    * whose measured per-step CPU crept 0.25 → 0.8 s by step 64 at
    * sf0.1), the running (lhs, rhs, cnt) table is updated with a
    * per-affected-word delta: −(old pairs) +(rewritten pairs), one
    * filtered scan per step. Results are bit-identical — a pair not
    * in an affected word keeps its count; an affected word is fully
    * recounted pre/post — so the argmax ordering, the DuckDB oracle
    * (which replays the full recount), and BpeTrainSpec's reference
    * properties all hold unchanged. At the 100-TB design point the
    * full recount is a few-hundred-million-row explode+shuffle per
    * step × K steps; the delta touches only the affected words.
    *
    * The pair table is cut with an eager localCheckpoint EVERY step
    * (it is pair-vocab-sized — small — and chaining the union-agg
    * deltas would re-derive every delta since the last cut);
    * `checkpointEvery` bounds the vocab REWRITE lineage as before,
    * so per-iteration work is O(checkpointEvery) folds regardless of
    * the step index. Old checkpoint blocks are dereferenced each cut
    * and reclaimed by the ContextCleaner.
    */
  def train(docs: DataFrame, textCol: String, steps: Int,
      checkpointEvery: Int = 8): DataFrame = {
    require(steps >= 1 && steps <= 4096,
      s"steps in [1,4096] required, got $steps")
    require(checkpointEvery >= 1,
      s"checkpointEvery >= 1 required, got $checkpointEvery")
    val spark = docs.sparkSession
    // the vocab is orders smaller than the corpus; persist it so the
    // K iterations never rescan the corpus
    val vocab0 = wordFreqs(docs, textCol)
      .select(col("word"), col("freq"), charSyms(col("word")).as("syms"))
      .persist()
    try {
      var words = vocab0
      var pairs = pairCountsOf(words).lineageCut()
      val merges = Seq.newBuilder[Merge]
      for (t <- 1 to steps) {
        val best = pairs
          .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
          .limit(1)
          .collect() // 1 row — the model step, like k-means centroids
        require(best.nonEmpty, s"no pairs left to merge at step $t")
        val (l, r, c) = (best(0).getAs[String]("lhs"),
          best(0).getAs[String]("rhs"), best(0).getAs[Long]("cnt"))
        merges += Merge(t, l, r, l + r, c)
        // a word is affected iff it contains the winning pair — the
        // only words whose adjacent-pair multiset the rewrite changes.
        // `_hit` is STAGED as its own aliased column: inlining the
        // exists() into the when() below would reference the previous
        // step's syms EXPRESSION three times per step (condition, fold
        // arg, otherwise), and the tree triples per un-checkpointed
        // step — 3^8 between cuts hung train(8) outright. As a
        // multiply-referenced non-cheap alias, CollapseProject keeps
        // the projection boundary and each step's syms is evaluated
        // once per row (the round-14 two-step banding-key lesson).
        val hit = exists(adjacentPairs(col("syms")),
          p => p.getField("l") === lit(l) && p.getField("r") === lit(r))
        val staged = words.select(
          col("word"), col("freq"), col("syms"), hit.as("_hit"))
        words = staged.select(col("word"), col("freq"),
          when(col("_hit"), mergeFold(col("syms"), l, r))
            .otherwise(col("syms")).as("syms"))
        // vocab-rewrite lineage cut (unchanged cadence). Skip after
        // the final merge — the rewritten vocab is not consumed again
        // by train itself.
        if (t % checkpointEvery == 0 && t < steps)
          words = words.lineageCut()
        if (t < steps) {
          // delta rows from the AFFECTED words only: −old +new pairs.
          // The affectedness gate is a when() INSIDE the projection,
          // NOT a filter: a Filter(_hit) above the staged projection
          // gets predicate-pushed below it by SUBSTITUTING the alias,
          // then below every stacked projection in the rewrite chain —
          // each substitution re-expands the ~6-reference fold tree,
          // so the pushed condition grows ~6^depth (measured: train(7)
          // 45 s, train(8) 376 s — the filter-form twin of the r13
          // InferFiltersFromGenerate trap). explode() of an empty
          // array emits nothing, so gating the array is semantically
          // the filter; explode_OUTER + isNotNull on the generated
          // column keeps InferFiltersFromGenerate from synthesizing
          // size(arr) > 0 — the same pushable predicate by another
          // door (the llm_bpe_tokenize lesson).
          val emptyDelta = array()
            .cast("array<struct<lhs:string,rhs:string,cnt:bigint>>")
          val delta = staged
            .select(explode_outer(when(col("_hit"), concat(
              transform(adjacentPairs(col("syms")), p => struct(
                p.getField("l").as("lhs"), p.getField("r").as("rhs"),
                (-col("freq")).as("cnt"))),
              transform(adjacentPairs(mergeFold(col("syms"), l, r)),
                p => struct(
                  p.getField("l").as("lhs"), p.getField("r").as("rhs"),
                  col("freq").as("cnt")))))
              .otherwise(emptyDelta)).as("x"))
            .filter(col("x").isNotNull)
            .select(col("x.lhs"), col("x.rhs"), col("x.cnt"))
          // cnt > 0: a vanished pair leaves a zero row the full
          // recount would not contain; negatives are impossible (an
          // unaffected word's count is untouched, an affected word is
          // recounted whole)
          pairs = pairs.unionByName(delta)
            .groupBy(col("lhs"), col("rhs"))
            .agg(sum(col("cnt")).as("cnt"))
            .filter(col("cnt") > 0)
            .lineageCut()
        }
      }
      spark.createDataFrame(merges.result())
        .select(col("step"), col("lhs"), col("rhs"), col("merged"),
          col("pair_count"))
    } finally vocab0.unpersist()
  }

  /** Tokenize the corpus VOCABULARY with a learned merge table:
    * replays the merges in order over each distinct word's characters
    * and returns (word, pieces). The fold runs once per distinct word
    * — not per token occurrence — because higher-order functions
    * evaluate interpreted (no codegen), so folding 100 TB of
    * occurrences would pay the interpreter per token while the vocab
    * is orders smaller and the per-occurrence answer is a broadcast
    * join of these pieces back onto the token stream
    * ([[tokenizeCorpus]]). Measured: folding per occurrence cost 13 s
    * at sf0.1 vs sub-second per distinct word.
    */
  def applyMerges(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val syms = merges.foldLeft(charSyms(col("word"))) {
      case (acc, (l, r)) => mergeFold(acc, l, r)
    }
    docs.select(explode(Text.tokens(col(textCol))).as("word")).distinct()
      .withColumn("pieces", syms)
  }

  /** The production tokenizer-apply layout: fold each DISTINCT word
    * once ([[applyMerges]]), then join the (word, pieces) table back
    * onto the positional token stream. The corpus side is ONE scan —
    * posexplode of the whitespace tokens, no shuffle, no fold per
    * occurrence.
    *
    * The join strategy is deliberately LEFT TO THE OPTIMIZER: pieces
    * sits behind the vocab-distinct's shuffle, so AQE's runtime size
    * estimate for it is accurate (unlike the cache→Generate paths in
    * NearDup that needed pins), and at typical vocab sizes it
    * broadcasts. A natural-language vocabulary grows ~heap-like
    * (Heaps' law) and at the 100-TB design point can reach hundreds of
    * millions of distinct words — a FORCED broadcast there is the same
    * 8-GiB-cap / driver-OOM failure the banding joins hit, so the plan
    * must be allowed to degrade to a shuffle join (and true 100-TB
    * deployments should pre-bucket the vocab table on `word` so the
    * degraded join co-locates without re-shuffling the stream).
    * Output: (idCol, tok_pos, word, piece_pos, piece), one row per
    * emitted piece, positions 0-based.
    */
  def tokenizeCorpus(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val pieces = applyMerges(docs, textCol, merges)
    val stream = docs.select(col(idCol),
      posexplode(Text.tokens(col(textCol))).as(Seq("tok_pos", "word")))
    // posexplode_outer on pieces for the same reason as the tokenize
    // query: InferFiltersFromGenerate would infer size(pieces) > 0
    // from a non-outer generator, and pieces is never empty (words
    // are non-empty), so _outer is semantically identical and keeps
    // the inferred-filter/alias-substitution machinery out of the
    // plan entirely.
    stream.join(pieces, Seq("word"))
      .select(col(idCol), col("tok_pos"), col("word"),
        posexplode_outer(col("pieces")).as(Seq("piece_pos", "piece")))
  }

  // ---------------------------------------------------------------
  // DuckDB oracles. All three compose STRUCTURALLY from one CTE-chain
  // builder (word counts -> w0 -> `steps` unrolled iterations of
  // pair-count/argmax/recursive-CTE rewrite) plus a tail renderer —
  // no string surgery on rendered SQL, so a reformat of one tail
  // cannot silently break another oracle.
  // ---------------------------------------------------------------

  /** The shared training CTE chain: `WITH RECURSIVE t0, v, w0,
    * (p/pc/best/rw/w) x steps` — ends after `w$steps` with NO final
    * SELECT; tails append `,<extra ctes>` and/or a final SELECT.
    */
  private def trainCtes(table: String, textCol: String, steps: Int): String = {
    val blocks = (1 to steps).map { t =>
      val prev = s"w${t - 1}"
      s"""p$t AS (
         |  SELECT freq, unnest(range(1, len(syms))) AS i, syms FROM $prev),
         |pc$t AS MATERIALIZED (
         |  SELECT syms[i] AS lhs, syms[i+1] AS rhs,
         |         CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM p$t GROUP BY syms[i], syms[i+1]),
         |best$t AS MATERIALIZED (
         |  SELECT lhs, rhs, cnt FROM pc$t
         |  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
         |rw$t AS (
         |  SELECT word, freq, syms, 1 AS pos, []::VARCHAR[] AS out
         |  FROM $prev
         |  UNION ALL
         |  SELECT rw.word, rw.freq, rw.syms,
         |         CASE WHEN rw.pos < len(rw.syms)
         |                   AND rw.syms[rw.pos] = b.lhs
         |                   AND rw.syms[rw.pos+1] = b.rhs
         |              THEN rw.pos + 2 ELSE rw.pos + 1 END,
         |         CASE WHEN rw.pos < len(rw.syms)
         |                   AND rw.syms[rw.pos] = b.lhs
         |                   AND rw.syms[rw.pos+1] = b.rhs
         |              THEN list_append(rw.out, b.lhs || b.rhs)
         |              ELSE list_append(rw.out, rw.syms[rw.pos]) END
         |  FROM rw$t rw, best$t b WHERE rw.pos <= len(rw.syms)),
         |w$t AS MATERIALIZED (
         |  SELECT word, freq, out AS syms FROM rw$t
         |  WHERE pos = len(syms) + 1)""".stripMargin
    }
    s"""WITH RECURSIVE t0 AS (
       |  SELECT unnest(${Text.tokensSql(textCol)}) AS word
       |  FROM $table),
       |v AS MATERIALIZED (SELECT word, count(*) AS freq FROM t0 GROUP BY word),
       |w0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         list_transform(range(1, len(word) + 1),
       |           i -> substring(word, i, 1)) AS syms
       |  FROM v),
       |${blocks.mkString(",\n")}""".stripMargin
  }

  /** DuckDB oracle replaying [[train]]: the CTE chain's per-step
    * argmax rows, unioned into the merge table.
    */
  def oracleSql(table: String, textCol: String, steps: Int): String = {
    val out = (1 to steps).map(t =>
      s"SELECT $t AS step, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM best$t")
      .mkString("\nUNION ALL\n")
    trainCtes(table, textCol, steps) + "\n" + out
  }

  /** DuckDB oracle for the vocabulary-apply side: the training CTE
    * chain's final vocab state w{steps} IS the tokenized vocabulary —
    * explode it to scalar (word, pos, piece) rows (0-based pos,
    * matching Spark's posexplode).
    */
  def tokenizeOracleSql(table: String, textCol: String, steps: Int): String =
    trainCtes(table, textCol, steps) + "\n" +
      s"""SELECT word, CAST(i - 1 AS INTEGER) AS pos, syms[i] AS piece
         |FROM (SELECT word, syms, unnest(range(1, len(syms) + 1)) AS i
         |      FROM w$steps)""".stripMargin

  /** DuckDB oracle for [[tokenizeCorpus]]: the positional token
    * stream (idCol, tok_pos, word) joined to the exploded w{steps}
    * pieces — same join-back the Spark side broadcasts.
    */
  def corpusTokensOracleSql(table: String, textCol: String, idCol: String,
      steps: Int): String =
    trainCtes(table, textCol, steps) + ",\n" +
      s"""tok AS (
         |  SELECT $idCol, i, toks[i] AS word
         |  FROM (SELECT $idCol, toks, unnest(range(1, len(toks) + 1)) AS i
         |        FROM (SELECT $idCol, ${Text.tokensSql(textCol)} AS toks
         |              FROM $table)))
         |SELECT tok.$idCol, CAST(tok.i - 1 AS INTEGER) AS tok_pos, tok.word,
         |       CAST(w.j - 1 AS INTEGER) AS piece_pos, w.syms[w.j] AS piece
         |FROM tok
         |JOIN (SELECT word, syms, unnest(range(1, len(syms) + 1)) AS j
         |      FROM w$steps) w
         |  ON tok.word = w.word""".stripMargin
}
