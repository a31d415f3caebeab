package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables
import graft.ops.{Contamination, Embeddings, ImportanceResampling, NearDup, SpanDedup, Text, WeightedSample}

/** Training-data pipeline operators over the `documents` and
  * `embeddings` tables: dedup (exact + MinHash/SimHash near-dup),
  * text analysis (tokens/quality/langid/fingerprint/Jaccard), and
  * similarity search (brute-force + LSH ANN).
  */
object LlmQueries extends QueryPack {

  /** documents ∪ ten planted near-duplicates (first token dropped,
    * doc_id + 100000): makes candidate generation exercise a known,
    * deterministic set of true pairs at any SF.
    */
  private[graft] def docsWithPlanted(s: SparkSession, dir: String) = {
    val d = Tables(s, dir, "documents")
    val planted = d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(100000L))
      .withColumn("text",
        concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)))
    d.unionByName(planted)
  }

  /** Planted decontamination fixture shared by llm_decontaminate and
    * llm_decontam_bloom: benchmark = docs with doc_id % 100 = 17;
    * every corpus doc with doc_id % 50 = 3 gets the first 8 tokens of
    * a benchmark doc appended (4 pure-benchmark 5-grams each), spread
    * across bench ids 17,117,...,417 keyed off (doc_id div 50) — a
    * %-based key would be the constant 317 since doc_id % 50 = 3
    * fixes doc_id % 5. Returns (corpus, bench), both (doc_id, text).
    */
  private def decontamInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables(s, dir, "documents")
    val bench = d.filter(col("doc_id") % 100 === 17)
      .select(col("doc_id").as("bench_id"), col("text").as("btext"))
    val frags = bench.select(col("bench_id"),
      concat_ws(" ", slice(Text.tokens(col("btext")), 1, 8)).as("frag"))
    val corpus = d.filter(col("doc_id") % 100 =!= 17)
      .join(broadcast(frags),
        (expr("doc_id div 50") % 5) * 100 + 17 === col("bench_id") &&
          col("doc_id") % 50 === 3,
        "left")
      .select(col("doc_id"),
        when(col("frag").isNotNull,
          concat(col("text"), lit(" "), col("frag")))
          .otherwise(col("text")).as("text"))
    (corpus,
      bench.select(col("bench_id").as("doc_id"), col("btext").as("text")))
  }

  private val decontamOracle: String = s"""
        WITH bench AS (
          SELECT doc_id AS bench_id,
                 ${Text.tokensSql("text")} AS btoks
          FROM documents WHERE doc_id % 100 = 17),
        frag AS (
          SELECT bench_id, array_to_string(btoks[1:8], ' ') AS frag
          FROM bench),
        corpus AS (
          SELECT d.doc_id,
                 CASE WHEN f.frag IS NOT NULL
                   THEN d.text || ' ' || f.frag ELSE d.text END AS text
          FROM documents d LEFT JOIN frag f
            ON ((d.doc_id // 50) % 5) * 100 + 17 = f.bench_id
               AND d.doc_id % 50 = 3
          WHERE d.doc_id % 100 <> 17),
        bsh AS (
          SELECT DISTINCT unnest(CASE WHEN len(btoks) >= 5
            THEN list_transform(generate_series(1, len(btoks) - 4),
              i -> btoks[i] || ' ' || btoks[i+1] || ' ' || btoks[i+2]
                || ' ' || btoks[i+3] || ' ' || btoks[i+4])
            ELSE [] END) AS sh
          FROM bench),
        ct AS (
          SELECT doc_id,
                 ${Text.tokensSql("text")} AS toks
          FROM corpus),
        csh AS (
          SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
            THEN list_transform(generate_series(1, len(toks) - 4),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                || ' ' || toks[i+3] || ' ' || toks[i+4])
            ELSE [] END) AS sh
          FROM ct)
        SELECT c.doc_id,
               CAST(count(DISTINCT c.sh) AS INTEGER) AS n_hit_shingles
        FROM csh c JOIN bsh b ON c.sh = b.sh
        GROUP BY 1
      """.trim

  /** The oracle side of [[docsWithPlanted]]: documents ∪ planted
    * near-copies, as (doc_id, text) rows.
    */
  private val plantedDocsSql: String = s"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, ${Text.dropFirstTokenSql("text")}
      FROM documents WHERE doc_id % 50 = 0"""

  /** `t(doc_id, toks)` and `sh(doc_id, sh)`, the 3-gram shingle list of
    * each row of `docs` (the [[Text.shingles]] contract, n = 3).
    */
  private def shingleCtes(docs: String, text: String = "text"): String = s"""
    t AS (
      SELECT doc_id, ${Text.tokensSql(text)} AS toks
      FROM $docs),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
               THEN list_transform(generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [] END AS sh
      FROM t)"""

  /** Exact 3-gram Jaccard of the shingle lists `a.sh` and `b.sh`. */
  private val jaccardSql: String = """
             CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
               THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.sh, b.sh)))
               ELSE 0.0 END"""

  /** `all_docs` (the planted corpus), its shingles, and every
    * id1 < id2 pair with its Jaccard `j`.
    */
  private[graft] val plantedPairCtes: String = s"""
    all_docs AS ($plantedDocsSql),
    ${shingleCtes("all_docs")},
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, $jaccardSql AS j
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)"""

  /** Transitive closure of the undirected pairs `pairs(id1, id2)`:
    * `comp(<id>, label)`, label = the smallest id of the component.
    * Needs `WITH RECURSIVE`. `ud`, and the pair CTE it reads, are
    * MATERIALIZED: otherwise DuckDB re-derives them, all-pairs Jaccard
    * included, inside the recursion (`llm_dedup_clusters` 89.6 s ->
    * 16.9 s at sf0.001, identical rows).
    */
  private def closureCtes(pairs: String, id: String): String = s"""
    ud AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM $pairs
           UNION SELECT id2, id1 FROM $pairs),
    reach(a, b) AS (
      SELECT a, b FROM ud
      UNION
      SELECT r.a, u.b FROM reach r JOIN ud u ON r.b = u.a),
    comp AS (
      SELECT a AS $id, least(a, min(b)) AS label
      FROM reach GROUP BY a)"""

  /** The planted corpus's j >= 0.5 near-dup clusters, the oracle of
    * the NearDup clustering family: `canon(doc_id, canonical_id)` and
    * `sizes(canonical_id, group_size)`. Needs `WITH RECURSIVE`.
    */
  private val plantedClusterCtes: String = s"""$plantedPairCtes,
    dup AS MATERIALIZED (SELECT id1, id2 FROM pairs WHERE j >= 0.5),
    ${closureCtes("dup", "doc_id")},
    canon AS (
      SELECT d.doc_id, coalesce(c.label, d.doc_id) AS canonical_id
      FROM all_docs d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    sizes AS (
      SELECT canonical_id, count(*) AS group_size
      FROM canon GROUP BY 1)"""

  /** Brute-force all-pairs 3-gram Jaccard >= threshold over the
    * planted corpus — the truth set both near-dup oracles compare
    * against (see llm_minhash_neardup / llm_simhash_neardup).
    */
  private def bruteForceJaccardSql(threshold: Double): String = s"""
    WITH $plantedPairCtes
    SELECT id1, id2, round(j, 6) AS jaccard
    FROM pairs WHERE j >= $threshold
  """.trim

  /** The fixed query texts of the retrieval rows. */
  private val retrievalTexts = Seq("spark window agg", "hash join merge batch",
    "fast scan filter value", "customer order line")

  /** Query ids 0..3: query i's dense probe is the vector with vec_id i
    * (the fixture's embeddings pair with documents row for row).
    */
  private val probeIds = Seq(0L, 1L, 2L, 3L)

  /** The query ids llm_bm25_topk reports. */
  private val namedIds = Seq("q1", "q2", "q3", "q4")

  /** The retrieval query set as (query_id, query_text), `ids` in text
    * order: a bigint id column for Long ids, a string one for String
    * ids, nullable as a product encoder makes them. Built from rows
    * under an explicit schema, so no encoder is derived by runtime
    * reflection on each call.
    */
  private[graft] def retrievalQueries(s: SparkSession, ids: Seq[Any]): DataFrame = {
    val idType = if (ids.forall(_.isInstanceOf[String])) StringType else LongType
    val schema = StructType(Seq(
      StructField("query_id", idType, nullable = idType == StringType),
      StructField("query_text", StringType)))
    s.createDataFrame(
      ids.zip(retrievalTexts).map { case (id, text) => Row(id, text) }.asJava, schema)
  }

  /** Oracle CTEs shared by the lexical scorers: the query set
    * `q(query_id, query_text)`, the corpus postings `tf(doc_id, term,
    * tf)` and `dl(.., doc_len)`, and the distinct query terms
    * `qt(query_id, term)`.
    */
  private def lexicalCtes(ids: Seq[Any]): String = {
    val rows = ids.zip(retrievalTexts).map {
      case (id: String, text) => s"('$id', '$text')"
      case (id, text) => s"($id, '$text')"
    }
    s"""
    q(query_id, query_text) AS (VALUES
      ${rows.mkString(",\n      ")}),
    t AS (
      SELECT doc_id, unnest(${Text.tokensSql("text")}) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM t GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id, term, tf,
             sum(tf) OVER (PARTITION BY doc_id) AS doc_len
      FROM tf),
    qt AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT query_id, unnest(${Text.tokensSql("query_text")}) AS term
        FROM q))"""
  }

  /** The oracle of [[Text.bm25TopK]], op for op, over the retrieval
    * query set: CTEs ending in `lex(query_id, doc_id, score_micros,
    * rank)`, the top `k` documents per query.
    */
  private def bm25Ctes(ids: Seq[Any], k: Int): String = s"""${lexicalCtes(ids)},
    df AS (SELECT term, count(*) AS df_count FROM tf GROUP BY term),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(doc_len) AS DOUBLE) / count(*) AS avgdl
      FROM (SELECT DISTINCT doc_id, doc_len FROM dl)),
    qs AS (
      SELECT term, query_id,
             round(ln(1 + (n_docs - df_count + 0.5) / (df_count + 0.5))
               * 1e6) AS idf_micros,
             avgdl
      FROM qt JOIN df USING (term), stats),
    bm AS (
      SELECT query_id, dl.doc_id,
             sum(CAST(round(idf_micros * (tf * (1.2 + 1))
               / (tf + 1.2 * ((1 - 0.75) + 0.75 * doc_len / avgdl)))
               AS BIGINT)) AS score_micros
      FROM dl JOIN qs USING (term)
      GROUP BY query_id, dl.doc_id),
    lex AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score_micros DESC, doc_id) AS rank
        FROM bm) WHERE rank <= $k)"""

  /** Probe vectors: the embeddings with vec_id < n, as (qid, qvec). */
  private def probes(e: DataFrame, n: Int): DataFrame =
    e.filter(col("vec_id") < n)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Exact cosine top-k of the `n` probes over `e`: (qid, rank,
    * vec_id, cos).
    */
  private def denseTopK(e: DataFrame, n: Int, k: Int): DataFrame =
    Embeddings.bruteForceTopK(e, probes(e, n), "vec_id", "embedding", "qid", "qvec", k)

  /** The oracle of [[denseTopK]]: the probes `qe(qid, qv)`, the corpus
    * `c(vec_id, v)`, and `dense(qid, vec_id, cos, rank)`, the top `k`
    * vectors per probe.
    */
  private def denseCtes(n: Int, k: Int): String = s"""
    qe AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < $n),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT qe.qid, c.vec_id, ${Embeddings.cosineSql("qe.qv", "c.v")} AS cos
      FROM c, qe WHERE c.vec_id <> qe.qid),
    dense AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY cos DESC, vec_id) AS rank
        FROM scored) WHERE rank <= $k)"""

  /** [[denseCtes]] as a (qid, rank, vec_id, cos) result. */
  private def cosineTopKSql(n: Int, k: Int): String = s"""
    WITH ${denseCtes(n, k)}
    SELECT qid, rank, vec_id, round(cos, 6) AS cos FROM dense
  """.trim

  override def queries: Seq[Q] = Seq(

    // Exact content dedup: hash-groupBy on md5(text) — one shuffle on
    // the hash, keeps the smallest doc_id as canonical.
    Q("llm_exact_dedup",
      (s, dir) => {
        val d = docsWithPlanted(s, dir)
        d.groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("n_copies"))
      },
      Some(s"""
        WITH all_docs AS ($plantedDocsSql)
        SELECT md5(text) AS content_hash,
               min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM all_docs
        GROUP BY 1
      """.trim)),

    // Token counting + language ID + quality scoring — scan-speed
    // narrow ops; every expression is mirrored in the oracle.
    Q("llm_text_stats",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        d.select(
          col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_calc"),
          Text.langId(col("text")).as("lang_pred"),
          Text.fingerprint(col("text")).as("fingerprint"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, text,
                 ${Text.tokensSql("text")} AS toks
          FROM documents),
        sc AS (
          SELECT doc_id, text, toks,
                 len(list_filter(toks, x ->
                   list_contains(['the','a','of','and','to','in','is'], lower(x)))) AS s_en,
                 len(list_filter(toks, x ->
                   list_contains(['der','die','das','und','ist','ein'], lower(x)))) AS s_de,
                 len(list_filter(toks, x ->
                   list_contains(['el','la','de','y','es','un'], lower(x)))) AS s_es
          FROM t)
        SELECT doc_id,
               len(toks) AS n_tokens,
               length(text) AS n_chars_calc,
               CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_es THEN 'de'
                    ELSE 'es' END AS lang_pred,
               list_aggregate(list_transform(toks, x -> md5(x)), 'min') AS fingerprint
        FROM sc
      """.trim)),

    // Quality score: stopword/punct/word-length blend. All arithmetic
    // is double ops on identical integer inputs -> engine-exact.
    Q("llm_quality_score",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        d.select(col("doc_id"),
          round(Text.qualityScore(col("text")), 6).as("quality"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, text,
                 CAST(len(${Text.tokensSql("text")}) AS DOUBLE) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(list_filter(${Text.tokensSql("lower(text)")}, x ->
                   list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) AS n_stop,
                 CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct
          FROM documents)
        SELECT doc_id,
               round(least(1.0,
                 0.5 * least(n_stop / greatest(n_tok, 1.0) * 5.0, 1.0) +
                 0.3 * (CASE WHEN (n_chars - n_tok + 1.0) / greatest(n_tok, 1.0) >= 3
                              AND (n_chars - n_tok + 1.0) / greatest(n_tok, 1.0) <= 10
                             THEN 1.0 ELSE 0.5 END) +
                 0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0))), 6)
                 AS quality
        FROM t
      """.trim)),

    // Gopher rule-set quality filter (Rae et al. 2021 App. A): seven
    // per-rule boolean gates, every threshold an exact cross-multiplied
    // integer comparison so DuckDB replays the flags bit-for-bit.
    Q("llm_gopher_filter",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        d.select(col("doc_id"), Text.gopherFlags(col("text")).as("g"))
          .select(col("doc_id"), col("g.*"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, text,
                 ${Text.tokensSql("text")} AS toks,
                 string_split(text, chr(10)) AS lines
          FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS nw,
                 CAST(coalesce(list_aggregate(list_transform(toks, x -> len(x)), 'sum'), 0) AS BIGINT) AS sum_len,
                 CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
                 CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ellipses,
                 CAST(len(lines) AS BIGINT) AS n_lines,
                 CAST(len(list_filter(lines, x -> substr(ltrim(x), 1, 1) IN ('-', '*'))) AS BIGINT) AS bullet_lines,
                 CAST(len(list_filter(lines, x -> right(rtrim(x), 3) = '...')) AS BIGINT) AS ellipsis_lines,
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
                 CAST(len(list_distinct(list_filter(list_transform(toks, x -> lower(x)),
                   x -> list_contains(['the','be','to','of','and','that','have','with'], x)))) AS BIGINT) AS stop_hits
          FROM t)
        SELECT doc_id, nw AS n_words,
               nw >= 50 AND nw <= 100000 AS pass_word_count,
               sum_len >= nw * 3 AND sum_len <= nw * 10 AS pass_mean_len,
               (hashes + ellipses) * 10 <= nw AS pass_symbol_ratio,
               bullet_lines * 10 <= n_lines * 9 AS pass_bullet_lines,
               ellipsis_lines * 10 <= n_lines * 3 AS pass_ellipsis_lines,
               alpha_words * 5 >= nw * 4 AS pass_alpha_words,
               stop_hits >= 2 AS pass_stop_words,
               (nw >= 50 AND nw <= 100000) AND
               (sum_len >= nw * 3 AND sum_len <= nw * 10) AND
               ((hashes + ellipses) * 10 <= nw) AND
               (bullet_lines * 10 <= n_lines * 9) AND
               (ellipsis_lines * 10 <= n_lines * 3) AND
               (alpha_words * 5 >= nw * 4) AND
               (stop_hits >= 2) AS pass
        FROM m
      """.trim)),

    // Exact n-gram Jaccard between consecutive doc ids — the verify
    // kernel of near-dup detection, oracle-checked.
    Q("llm_ngram_jaccard",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"),
            Text.shingles(Text.tokens(col("text")), 3).as("sh"))
        d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("doc_id"),
            round(graft.ops.Text.jaccard(col("a.sh"), col("b.sh")), 6).as("jaccard3"))
      },
      Some(s"""
        WITH ${shingleCtes("documents")}
        SELECT a.doc_id AS doc_id, round($jaccardSql, 6) AS jaccard3
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      """.trim)),

    // MinHash banded-LSH near-dup detection over documents + planted
    // dups: candidates from band buckets only, verified with exact
    // Jaccard. The hash family (xxhash64) is not SQL-expressible, but
    // the END-TO-END output is: the oracle recomputes the brute-force
    // all-pairs Jaccard truth set, so the hash gate asserts the banded
    // LSH achieves RECALL 1.0 on this corpus (every true pair >= 0.5
    // is high-Jaccard here, where the b=8/r=4 S-curve is ~1) — the
    // strongest correctness signal a probabilistic candidate generator
    // can have. A future hash/banding regression that drops recall
    // below 1.0 fails the gate, by design. (Precision is 1.0 by
    // construction: candidates are verified with exact Jaccard.)
    Q("llm_minhash_neardup",
      (s, dir) => {
        NearDup.nearDuplicates(docsWithPlanted(s, dir), "doc_id", "text",
          threshold = 0.5)
          .orderBy(col("id1"))
      },
      Some(bruteForceJaccardSql(0.5))),

    // SimHash near-dup, restructured round 4 from raw hamming pairs to
    // what a dedup pipeline actually consumes: banded simhash
    // candidates verified with exact Jaccard >= 0.8. Raw hamming
    // distances are hash-dependent (unoracleable); the verified output
    // is brute-force-checkable exactly like llm_minhash_neardup — the
    // oracle additionally pins simhash banding recall 1.0 over the
    // j >= 0.8 truth set AT THE GATE SCALE. Round 6: candidate
    // generation moved from 8x8-bit single-block bands (random-pair
    // collision 8/256) to 3 rotated tables x C(8,2) 16-bit block-pair
    // keys (84/65536 — 24x less random candidate mass); this oracle
    // is the recall gate that proves the cheaper banding still
    // surfaces every true pair. FIXTURE DEPENDENCE (round 7,
    // measured): the hash gate is only luck-free because every
    // j >= 0.5 truth pair on this corpus sits at hamming <=
    // blocks-2 = 6, where banding recall is a pigeonhole GUARANTEE;
    // the 7..12 band is probabilistic (368/369 at sf0.1).
    // ADAPTIVE-WIDTH SCOPE (round 13): the query rides the adaptive
    // key width, which keeps the r=2 geometry — and therefore
    // the recall-1.0 oracle contract — for any corpus under 37,449
    // docs (gate corpora: 510 at sf0.01, 5,100 at sf0.1). Past that
    // boundary the key widens and the brute-force oracle would
    // OVER-COUNT BY DESIGN (measured at sf1: 57 of 3684 truth pairs
    // escape, the documented sub-quadratic trade in NearDup.scala /
    // PERF.md) — the driver's correctness gate never runs there, and
    // NearDupSpec's two guards fail loudly first: "sf0.01 oracle
    // truth set sits inside the deterministic simhash band" (fixture
    // hamming drift) and its corpus-size assert (fixture crossing the
    // r=2 boundary).
    Q("llm_simhash_neardup",
      (s, dir) => {
        NearDup.simhashNearDuplicates(docsWithPlanted(s, dir), "doc_id", "text",
          threshold = 0.8, maxDist = 12)
          .orderBy(col("id1"), col("id2"))
      },
      Some(bruteForceJaccardSql(0.8))),

    // The PRODUCTION near-dup setting, oracle-gated (round 15): for
    // docs long enough that the 64-bit simhash has CONCENTRATED
    // (>= 32 tokens), a j >= 0.8 pair lands within hamming <=
    // blocks-2 = 6 with overwhelming probability, so production runs
    // keep maxDist at the deterministic band and skip the
    // probabilistic 7..12 band — cutting the exact-verify input (the
    // graft.simhash_verify `verify_pairs` metric, the dominant cost
    // at sf10: 154M candidate verifies) an order of magnitude while
    // keeping the pigeonhole recall guarantee for the hamming <= 6
    // mass. Below the token floor the cut is statistically
    // meaningless — the sf0.001 gate corpus has THREE j >= 0.86
    // pairs of 15-24-token docs at hamming 7+ (found r15, when this
    // row first ran at that SF) — so short docs bypass the cut and
    // face the exact verify directly (distCutMinTokens = 32; the
    // bypass can only ADD verified-true pairs). With the floor, the
    // gate truth sets sit inside (deterministic band ∪ short-doc
    // bypass) at BOTH gate SFs — pinned by NearDupSpec's fixture
    // guard — so the SAME brute-force oracle holds: the lever loses
    // nothing at gate scale where the signature is meaningful, and
    // degrades to exact verify where it is not.
    Q("llm_simhash_neardup_tight",
      (s, dir) => {
        NearDup.simhashNearDuplicates(docsWithPlanted(s, dir), "doc_id", "text",
          threshold = 0.8, maxDist = 6, distCutMinTokens = 32)
          .orderBy(col("id1"), col("id2"))
      },
      Some(bruteForceJaccardSql(0.8))),

    // Near-dup CLUSTERING — pair detection is only half of dedup; this
    // is the half that decides what to KEEP: verified minhash pairs ->
    // connected components (duplicate groups, transitivity included)
    // -> canonical doc (min id) per group. The oracle rebuilds the
    // truth pairs brute-force and closes them transitively with a
    // recursive CTE, so the hash gate pins pair recall AND the
    // component labeling end-to-end.
    Q("llm_dedup_clusters",
      (s, dir) => {
        NearDup.dedupClusters(docsWithPlanted(s, dir), "doc_id", "text",
          threshold = 0.5)
      },
      Some(s"""
        WITH RECURSIVE $plantedClusterCtes
        SELECT k.doc_id, k.canonical_id,
               (k.doc_id = k.canonical_id) AS keep, s.group_size
        FROM canon k JOIN sizes s ON k.canonical_id = s.canonical_id
      """.trim)),

    // Survivor selection on top of the clusters: keep the LONGEST
    // member per near-dup group (token count, id tiebreak — an
    // integer-exact policy). The oracle extends the transitive-closure
    // replay with the same ranked pick.
    Q("llm_dedup_keep_best",
      (s, dir) => {
        NearDup.dedupKeepBest(docsWithPlanted(s, dir), "doc_id", "text",
          threshold = 0.5)
      },
      Some(s"""
        WITH RECURSIVE $plantedClusterCtes,
        tok AS (
          SELECT doc_id,
                 CAST(len(${Text.tokensSql("text")}) AS INTEGER) AS n_tokens
          FROM all_docs),
        ranked AS (
          SELECT k.canonical_id, k.doc_id, t.n_tokens, s.group_size,
                 row_number() OVER (PARTITION BY k.canonical_id
                   ORDER BY t.n_tokens DESC, k.doc_id ASC) AS rk
          FROM canon k
          JOIN tok t ON k.doc_id = t.doc_id
          JOIN sizes s ON k.canonical_id = s.canonical_id)
        SELECT canonical_id, doc_id, n_tokens, group_size
        FROM ranked WHERE rk = 1
      """.trim)),

    // Leakage-safe splitting — the step AFTER clustering that a
    // training pipeline needs: every near-dup cluster lands wholly in
    // train, val, or test (deterministic Knuth hash of the canonical
    // id), so no eval document has a near-copy in train. The oracle
    // replays the transitive closure AND the split arithmetic exactly.
    Q("llm_cluster_safe_split",
      (s, dir) => {
        NearDup.clusterSafeSplit(docsWithPlanted(s, dir), "doc_id", "text",
          threshold = 0.5, trainPct = 90, valPct = 5)
      },
      Some(s"""
        WITH RECURSIVE $plantedClusterCtes
        SELECT k.doc_id, k.canonical_id, s.group_size,
               CASE
                 WHEN ((k.canonical_id % 1000000007) * 2654435761) % 100 < 90
                   THEN 'train'
                 WHEN ((k.canonical_id % 1000000007) * 2654435761) % 100 < 95
                   THEN 'val'
                 ELSE 'test'
               END AS split
        FROM canon k JOIN sizes s ON k.canonical_id = s.canonical_id
      """.trim)),

    // Incremental dedup: a NEW batch (planted near-copies of every
    // 50th corpus doc + genuinely-new 'x'-suffixed content, the latter
    // planted in near-dup PAIRS) deduped against the existing corpus
    // without ever pairing the corpus with itself. Expected verdicts:
    // +100000 docs are dup_of_corpus, +200000 keep (canonical of their
    // pair), +300000 dup_in_batch. The oracle brute-forces Jaccard
    // over corpus ∪ batch and replays the decision policy exactly,
    // including the transitive batch clustering.
    Q("llm_incremental_neardup",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val toksX = transform(Text.tokens(col("text")),
          t => concat(t, lit("x")))
        val nearCorpus = d.filter(col("doc_id") % 50 === 0)
          .withColumn("doc_id", col("doc_id") + lit(100000L))
          .withColumn("text",
            concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)))
        val fresh = d.filter(col("doc_id") % 50 === 1)
          .withColumn("doc_id", col("doc_id") + lit(200000L))
          .withColumn("text", concat_ws(" ", toksX))
        val freshDup = d.filter(col("doc_id") % 50 === 1)
          .withColumn("doc_id", col("doc_id") + lit(300000L))
          .withColumn("text", concat_ws(" ", slice(toksX, 2, 100000)))
        val batch = nearCorpus.unionByName(fresh).unionByName(freshDup)
          .select("doc_id", "text")
        NearDup.incrementalNearDup(d.select("doc_id", "text"), batch,
          "doc_id", "text", threshold = 0.5)
      },
      Some(s"""
        WITH RECURSIVE
        batch AS (
          SELECT doc_id + 100000 AS doc_id,
                 ${Text.dropFirstTokenSql("text")} AS text
          FROM documents WHERE doc_id % 50 = 0
          UNION ALL
          SELECT doc_id + 200000,
                 array_to_string(list_transform(
                   ${Text.tokensSql("text")},
                   x -> x || 'x'), ' ')
          FROM documents WHERE doc_id % 50 = 1
          UNION ALL
          SELECT doc_id + 300000,
                 array_to_string(list_transform(
                   ${Text.tokensSql("text")},
                   x -> x || 'x')[2:], ' ')
          FROM documents WHERE doc_id % 50 = 1),
        all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id, text FROM batch),
        ${shingleCtes("all_docs")},
        pairs AS MATERIALIZED (
          SELECT a.doc_id AS id1, b.doc_id AS id2, $jaccardSql AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE b.doc_id >= 100000),
        hits AS (
          SELECT id2 AS doc_id, min(id1) AS dup_of
          FROM pairs WHERE j >= 0.5 AND id1 < 100000 GROUP BY 1),
        bb AS MATERIALIZED (
          SELECT id1, id2 FROM pairs
          WHERE j >= 0.5 AND id1 >= 100000
            AND id1 NOT IN (SELECT doc_id FROM hits)
            AND id2 NOT IN (SELECT doc_id FROM hits)),
        ${closureCtes("bb", "doc_id")}
        SELECT b.doc_id,
               CASE WHEN h.doc_id IS NOT NULL THEN 'dup_of_corpus'
                    WHEN c.label IS NOT NULL AND c.label <> b.doc_id
                      THEN 'dup_in_batch'
                    ELSE 'keep' END AS status,
               coalesce(h.dup_of, c.label, b.doc_id) AS dup_of
        FROM batch b
        LEFT JOIN hits h ON b.doc_id = h.doc_id
        LEFT JOIN comp c ON b.doc_id = c.doc_id
      """.trim)),

    // Brute-force exact cosine top-10 for 5 query vectors — the ANN
    // baseline. Oracle via Embeddings.cosineSql (list_dot_product
    // accumulates left to right, like vec_dot).
    Q("llm_cosine_topk",
      (s, dir) => denseTopK(Tables(s, dir, "embeddings"), n = 5, k = 10)
        .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cos")),
      Some(cosineTopKSql(n = 5, k = 10))),

    // Embedding-cosine near-dup dedup (the vector-space member of the
    // dedup family): planted x2-scaled copies (exact in floating
    // point, cosine exactly 1) must pair with their originals at
    // cos >= 0.9 while the corpus's natural within-block maximum is
    // ~0.51 — a wide, engine-stable margin. Candidate generation
    // blocks on the `label` column (an equi-join key, one shuffle, no
    // cross join) standing in for the LSH bucket key so the oracle
    // stays SQL-exact; the LSH bucketing itself is oracle-checked via
    // its structural twin guarantee in llm_ann_lsh_topk and
    // recall-gated at approximate parameters in EmbeddingsSpec.
    // Symmetric int8 embedding quantization — the 4x storage cut
    // before any vector search at 100 TB. floor(x + 0.5) (not round)
    // keeps every step a single IEEE op, so the codes are
    // bit-reproducible in DuckDB and the hash gate pins the exact
    // quantized values via integer digests + the per-vector scale.
    Q("llm_embed_quantize",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val q = Embeddings.quantizeInt8(col("embedding"))
        e.select(col("vec_id"), q.as("q"))
          .select(col("vec_id"),
            col("q.scale").as("scale"),
            size(col("q.codes")).as("n_dims"),
            aggregate(col("q.codes"), lit(0L), (a, c) => a + c).as("sum_codes"),
            aggregate(col("q.codes"), lit(0L), (a, c) => a + abs(c))
              .as("sum_abs_codes"),
            array_max(col("q.codes")).as("max_code"))
      },
      Some("""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        m AS (
          SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) AS maxabs
          FROM v),
        codes AS (
          SELECT vec_id, maxabs,
                 list_transform(e, x -> CASE WHEN maxabs > 0
                   THEN CAST(floor(x * 127.0 / maxabs + 0.5) AS INTEGER)
                   ELSE 0 END) AS c
          FROM m)
        SELECT vec_id,
               CAST(maxabs / 127.0 AS DOUBLE) AS scale,
               CAST(len(c) AS INTEGER) AS n_dims,
               CAST(list_sum(c) AS BIGINT) AS sum_codes,
               CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT)
                 AS sum_abs_codes,
               list_max(c) AS max_code
        FROM codes
      """.trim)),

    Q("llm_embed_neardup",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val planted = e.filter(col("vec_id") % 97 === 0)
          .withColumn("vec_id", col("vec_id") + lit(1000000L))
          .withColumn("embedding", transform(col("embedding"), x => x * lit(2.0f)))
        // norms are computed ONCE per vector before the pair join (the
        // array fold is a non-codegen higher-order function — paying
        // it 3x per pair instead of 1x per row tripled the runtime)
        val all = e.unionByName(planted)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", Embeddings.norm(col("v")))
        all.as("a").join(all.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos", Embeddings.cosineOfNorms(
            col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
          .filter(col("cos") >= 0.9)
          .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
            round(col("cos"), 6).as("cos"))
      },
      Some(s"""
        WITH base AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000, label,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
          FROM embeddings WHERE vec_id % 97 = 0),
        pairs AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
                 ${Embeddings.cosineSql("a.v", "b.v")} AS cos
          FROM base a JOIN base b
            ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT id1, id2, round(cos, 6) AS cos
        FROM pairs WHERE cos >= 0.9
      """.trim)),

    // SemDeDup cluster-then-prune semantic dedup: planted 2x-scaled
    // copies (cos exactly 1.0 — scaling by 2 is an IEEE exponent
    // bump, exact in float and double alike, so both engines see the
    // same doubles after the cast) must collapse onto their min-id
    // originals; everything else survives. The coarse quantizer here
    // is the SQL-replayable argmax cell (production passes the
    // trained k-means KMeans.cell); closure is replayed with the same
    // recursive-CTE pattern as llm_dedup_clusters.
    Q("llm_semdedup",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val planted = e.filter(col("vec_id") % 89 === 0)
          .withColumn("vec_id", col("vec_id") + lit(1000000L))
          .withColumn("embedding",
            transform(col("embedding"), x => x * lit(2.0f)))
        Embeddings.semDedup(e.unionByName(planted), "vec_id", "embedding",
          Embeddings.argmaxCell(col("embedding")), tau = 0.99)
      },
      Some(s"""
        WITH RECURSIVE base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
          FROM embeddings WHERE vec_id % 89 = 0),
        am AS (
          SELECT vec_id, v, list_transform(v, x -> abs(x)) AS a FROM base),
        wc AS (
          SELECT vec_id, v,
                 CAST(CASE WHEN len(v) = 0 THEN -1
                   ELSE list_position(a, list_max(a)) * 2 +
                     CASE WHEN v[list_position(a, list_max(a))] >= 0
                       THEN 1 ELSE 0 END
                   END AS BIGINT) AS cell
          FROM am),
        pairs AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2
          FROM wc a JOIN wc b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE ${Embeddings.cosineSql("a.v", "b.v")} >= 0.99),
        ${closureCtes("pairs", "vec_id")},
        canon AS (
          SELECT w.vec_id, w.cell, coalesce(c.label, w.vec_id) AS canonical
          FROM wc w LEFT JOIN comp c ON w.vec_id = c.vec_id),
        sizes AS (
          SELECT canonical, count(*) AS n_group FROM canon GROUP BY 1)
        SELECT k.vec_id, k.cell, s.n_group
        FROM canon k JOIN sizes s ON k.canonical = s.canonical
        WHERE k.vec_id = k.canonical
      """.trim)),

    // The composed training-data curation pipeline — the LLM analogue
    // of the lake-finder composition: language gate -> quality gate ->
    // exact dedup (keep the smallest doc_id per content hash) -> final
    // per-doc stats. One dataflow: two scan-speed filters, one hash
    // shuffle for the dedup, no driver loops. Every stage is mirrored
    // in the oracle, so the hash gate pins the whole composition.
    Q("llm_corpus_pipeline",
      (s, dir) => {
        // near-dup planted docs (+100000) AND exact copies (+200000):
        // the exact copies MUST vanish at the dedup stage (their
        // originals are the smaller ids), the quality gate drops the
        // low-quality tail (~25% on this corpus), and the language
        // gate is the structural filter a multilingual corpus needs
        val base = docsWithPlanted(s, dir)
        val d = base.unionByName(
          Tables(s, dir, "documents").filter(col("doc_id") % 73 === 0)
            .withColumn("doc_id", col("doc_id") + lit(200000L)))
        // observe(): stage row counters at zero job cost — the corpus
        // pipeline is ONE dataflow (no barrier to time), so volume
        // metrics are what makes a bench-host timing spread
        // diagnosable (equal volumes => host variance, not data)
        val scored = d
          .observe("graft.corpus_in", count(lit(1)).as("docs_in"))
          .withColumn("lang", Text.langId(col("text")))
          .withColumn("quality", Text.qualityScore(col("text")))
          .filter(col("lang") === "en")
          .filter(col("quality") >= 0.6)
        // exact dedup: canonical doc = min doc_id per content hash;
        // window-free formulation (one shuffle on the hash)
        val canon = scored
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        scored.join(canon, "doc_id")
          .select(col("doc_id"),
            Text.tokenCount(col("text")).as("n_tokens"),
            round(col("quality"), 6).as("quality"))
          .orderBy(col("doc_id"))
          .observe("graft.corpus_out", count(lit(1)).as("docs_out"))
      },
      Some(s"""
        WITH all_docs AS ($plantedDocsSql
          UNION ALL
          SELECT doc_id + 200000, text
          FROM documents WHERE doc_id % 73 = 0),
        t AS (
          SELECT doc_id, text,
                 ${Text.tokensSql("text")} AS toks,
                 ${Text.tokensSql("lower(text)")} AS ltoks
          FROM all_docs),
        scored AS (
          SELECT doc_id, text, len(toks) AS n_tokens,
                 CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                      WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS lang,
                 least(1.0,
                   0.5 * least(s_en / greatest(CAST(len(toks) AS DOUBLE), 1.0) * 5.0, 1.0) +
                   0.3 * (CASE WHEN (n_chars - len(toks) + 1.0) /
                                    greatest(CAST(len(toks) AS DOUBLE), 1.0) >= 3
                               AND (n_chars - len(toks) + 1.0) /
                                   greatest(CAST(len(toks) AS DOUBLE), 1.0) <= 10
                          THEN 1.0 ELSE 0.5 END) +
                   0.2 * (1.0 - least(n_punct / greatest(n_chars, 1.0) * 10.0, 1.0)))
                   AS quality
          FROM (
            SELECT doc_id, text, toks,
                   CAST(len(list_filter(ltoks, x -> list_contains(
                     ['the','a','of','and','to','in','is'], x))) AS DOUBLE) AS s_en,
                   CAST(len(list_filter(ltoks, x -> list_contains(
                     ['der','die','das','und','ist','ein'], x))) AS DOUBLE) AS s_de,
                   CAST(len(list_filter(ltoks, x -> list_contains(
                     ['el','la','de','y','es','un'], x))) AS DOUBLE) AS s_es,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                     AS DOUBLE) AS n_punct
            FROM t)),
        kept AS (
          SELECT * FROM scored WHERE lang = 'en' AND quality >= 0.6),
        canon AS (
          SELECT md5(text) AS h, min(doc_id) AS doc_id FROM kept GROUP BY 1)
        SELECT k.doc_id, k.n_tokens, round(k.quality, 6) AS quality
        FROM kept k JOIN canon c ON k.doc_id = c.doc_id
        ORDER BY k.doc_id
      """.trim)),

    // Repetition detection (the Gopher/C4-style quality signal): the
    // fraction of DUPLICATE 3-gram shingles per document. Output is
    // exact integer moments (counts + an integer-compare flag), never
    // a rounded ratio — a ratio with a power-of-two-friendly shingle
    // count can land exactly on a 6dp half, where Spark's HALF_UP and
    // DuckDB's HALF_EVEN diverge.
    Q("llm_repetition",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          // plant heavy repetition for every 40th doc: append the
          // doc's own first 3 tokens repeated 30x so the duplicate-
          // shingle mass is large and deterministic in both engines
          .withColumn("text2",
            when(col("doc_id") % 40 === 0,
              concat(col("text"),
                repeat(concat(lit(" "),
                  concat_ws(" ", slice(Text.tokens(col("text")), 1, 3))), 30)))
              .otherwise(col("text")))
        d.select(col("doc_id"),
            Text.shingles(Text.tokens(col("text2")), 3).as("sh"))
          .select(col("doc_id"),
            size(col("sh")).as("n_shingles"),
            size(array_distinct(col("sh"))).as("n_distinct"))
          .withColumn("is_repetitive",
            col("n_distinct") * 10 < col("n_shingles") * 9)
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 40 = 0
                   THEN text || repeat(' ' || array_to_string(
                     ${Text.tokensSql("text")}[1:3], ' '), 30)
                   ELSE text END AS text2
          FROM documents),
        ${shingleCtes("d", "text2")}
        SELECT doc_id,
               CAST(len(sh) AS INTEGER) AS n_shingles,
               CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct,
               (len(list_distinct(sh)) * 10 < len(sh) * 9) AS is_repetitive
        FROM sh
      """.trim)),

    // PII scrubbing — emails then 7+-digit runs, masked at scan speed.
    // Planted contact lines (every 10th doc) make the masking
    // observable; patterns are RE2-safe so DuckDB replays them
    // verbatim ('g' flag: DuckDB replaces first-match-only by
    // default, Spark replaces all).
    Q("llm_pii_mask",
      (s, dir) => {
        Tables(s, dir, "documents")
          .withColumn("text2",
            when(col("doc_id") % 10 === 0,
              concat(col("text"), lit(" contact user"),
                col("doc_id").cast("string"),
                lit("@example.com or call 5551234567")))
              .otherwise(col("text")))
          .select(col("doc_id"), Text.maskPii(col("text2")).as("masked"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 10 = 0
                   THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or call 5551234567'
                   ELSE text END AS text2
          FROM documents)
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(text2,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '[0-9]{7,}', '<NUM>', 'g') AS masked
        FROM d
      """.trim)),

    // Stratified corpus rebalancing — deterministic per-language
    // sampling (the reproducible form of df.stat.sampleBy): the
    // dominant language is downsampled to 30%, the rest kept at 80%.
    // Membership is a pure function of (doc_id, lang) via the same
    // Knuth-hash modulo as p11, so every engine/run selects the same
    // subset — the property a resumable 100 TB curation run needs
    // (a re-run after failure must not re-roll the sample).
    Q("llm_stratified_sample",
      (s, dir) => {
        Tables(s, dir, "documents")
          .filter(((col("doc_id") % lit(1000000007L)) * lit(2654435761L)) % lit(100) <
            when(col("lang") === "en", lit(30)).otherwise(lit(80)))
          .select(col("doc_id"), col("lang"), col("n_chars"))
      },
      Some("""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE ((doc_id % 1000000007) * 2654435761) % 100 <
              CASE lang WHEN 'en' THEN 30 ELSE 80 END
      """.trim)),

    // Systematic PPS subsample: per source, keep the doc under each
    // of 50 equally-spaced integer thresholds along the id-ordered
    // cumulative n_chars axis — inclusion probability proportional to
    // length, ALL-INTEGER selection arithmetic so the oracle is exact
    // by construction. One hash shuffle on source; window spans are
    // per-source, the same contract the engine's other windows carry.
    Q("llm_pps_sample",
      (s, dir) => {
        WeightedSample.ppsSystematic(Tables(s, dir, "documents"),
          Seq("source"), "doc_id", "n_chars", k = 50)
      },
      Some("""
        WITH t AS (
          SELECT source, doc_id, n_chars
          FROM documents WHERE n_chars >= 1),
        c AS (
          SELECT source, doc_id, n_chars,
                 sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(n_chars) OVER (PARTITION BY source) AS tot
          FROM t)
        SELECT source, doc_id, n_chars
        FROM c
        WHERE (cum * 50) // tot > ((cum - n_chars) * 50) // tot
      """.trim)),

    // Efraimidis-Spirakis weighted top-k: the k docs winning the
    // exponential race with rate n_chars, u derived from doc_id by
    // the engine's bounded Knuth hash (deterministic, replayed in
    // SQL). Plans as TakeOrderedAndProject — per-partition top-k and
    // a k-row driver merge, NO global sort at any corpus size. Key
    // gaps on the 1e-6-grained u are >= 10 orders above double ulp
    // (WeightedSampleSpec pins the fixture margin), so the ln-based
    // ranking is engine-stable.
    Q("llm_es_weighted_sample",
      (s, dir) => {
        WeightedSample.esTopK(Tables(s, dir, "documents"),
          "doc_id", "n_chars", k = 200)
      },
      Some("""
        SELECT doc_id, n_chars FROM (
          SELECT doc_id, n_chars,
                 round(ln((((doc_id % 1000000007) * 2654435761) % 1000000
                    + 0.5) / 1000000.0) * 1e6)
                   / CAST(n_chars AS DOUBLE) AS key
          FROM documents WHERE n_chars >= 1)
        ORDER BY key DESC, doc_id
        LIMIT 200
      """.trim)),

    // Unicode-normalized dedup: every 60th doc gets a PRECOMPOSED
    // suffix (U+00E9) and a planted copy (+300000) the same suffix in
    // DECOMPOSED form (e + U+0301) — byte-different, canonically
    // identical. Hashing nfc_normalize(text) (the codegen'd custom
    // expression; DuckDB's built-in nfc_normalize on the oracle side)
    // must collapse each pair; raw-byte dedup would not. Only groups
    // with >= 2 copies emit, so the output IS the planted pairing.
    Q("llm_nfc_dedup",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val rest = d.filter(col("doc_id") % 60 =!= 7)
          .select(col("doc_id"), col("text"))
        val pre = d.filter(col("doc_id") % 60 === 7)
          .select(col("doc_id"),
            concat(col("text"), lit(" caf\u00e9")).as("text"))
        val dec = d.filter(col("doc_id") % 60 === 7)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" cafe\u0301")).as("text"))
        rest.unionByName(pre).unionByName(dec)
          .groupBy(md5(Text.normalizeNfc(col("text"))).as("h"))
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("n_copies"))
          .filter(col("n_copies") >= 2)
      },
      Some("""
        WITH all_docs AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 60 <> 7
          UNION ALL
          SELECT doc_id, text || ' caf' || chr(233)
          FROM documents WHERE doc_id % 60 = 7
          UNION ALL
          SELECT doc_id + 300000, text || ' cafe' || chr(769)
          FROM documents WHERE doc_id % 60 = 7)
        SELECT md5(nfc_normalize(text)) AS h,
               min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM all_docs
        GROUP BY 1
        HAVING count(*) >= 2
      """.trim)),

    // Sequence packing (concat-and-chunk) — the step that turns a
    // curated corpus into fixed-length training sequences: docs get a
    // DETERMINISTIC shuffle order (md5 of the id — reproducible epoch
    // order, the property a resumable run needs), a shard (so packing
    // parallelism scales with the cluster: thousands of shards at
    // 100 TB, 8 here), then a running token count per shard places
    // each doc at (seq_id, offset) in the packed stream. One shuffle
    // (the shard window); all arithmetic exact integers.
    Q("llm_pack_sequences",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"),
            Text.tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.ops.Packing.packSequences(d, "doc_id", "n_tokens",
            nShards = 8, seqLen = 1024L)
          .select(col("doc_id"), col("shard"), col("n_tokens"),
            col("seq_id"), col("offset"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens,
                 md5(CAST(doc_id AS VARCHAR)) AS ord,
                 ((doc_id % 1000000007) * 2654435761) % 8 AS shard
          FROM documents),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS cum_before
          FROM t)
        SELECT doc_id, shard, n_tokens,
               cum_before // 1024 AS seq_id,
               cum_before % 1024 AS offset
        FROM c
      """.trim)),

    // CCNet-style LM quality scoring (Text.bigramLogProb): add-1
    // bigram model trained on the corpus itself, per-doc log-prob
    // with each bigram's ln P quantized to integer micros BEFORE the
    // sum (order-free integer addition — the score is bit-identical
    // at any partial-aggregation order, so the oracle can hash it).
    Q("llm_lm_score",
      (s, dir) => Text.bigramLogProb(Tables(s, dir, "documents")),
      Some(s"""
        WITH d AS (
          SELECT doc_id, ${Text.tokensSql("text")} AS toks
          FROM documents),
        bg AS (
          SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
          FROM d, LATERAL unnest(generate_series(1, len(toks) - 1)) t(i)
          WHERE len(toks) >= 2),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(toks) AS w FROM d)),
        sc AS (
          SELECT bg.doc_id,
                 CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE) /
                   CAST(c1.c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
          FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v)
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(lp) AS BIGINT) AS logprob_micros
        FROM sc GROUP BY doc_id
      """.trim)),

    // CCNet head/middle/tail perplexity terciles over the bigram LM
    // scores: the ordering key is one double division of two exact
    // integers (bit-identical cross-engine), doc_id breaks ties, and
    // ntile(3) has the same earlier-buckets-get-extras definition in
    // both engines — so the bucket assignment replays exactly.
    Q("llm_ppl_buckets",
      (s, dir) => Text.pplBuckets(Tables(s, dir, "documents")),
      Some(s"""
        WITH d AS (
          SELECT doc_id, ${Text.tokensSql("text")} AS toks
          FROM documents),
        bg AS (
          SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
          FROM d, LATERAL unnest(generate_series(1, len(toks) - 1)) t(i)
          WHERE len(toks) >= 2),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(toks) AS w FROM d)),
        sc AS (
          SELECT bg.doc_id,
                 CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE) /
                   CAST(c1.c1 + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
          FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v),
        agg AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 CAST(sum(lp) AS BIGINT) AS lp_micros
          FROM sc GROUP BY doc_id),
        ranked AS (
          SELECT doc_id, n_bigrams,
                 ntile(3) OVER (ORDER BY
                   CAST(lp_micros AS DOUBLE) / CAST(n_bigrams AS DOUBLE) DESC,
                   doc_id) AS t
          FROM agg)
        SELECT doc_id,
               CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket,
               n_bigrams
        FROM ranked
      """.trim)),

    // Tokenizer-vocab training + OOV stats (Text.vocabOov): top-32
    // corpus vocabulary by (count DESC, term), per-doc OOV counts.
    // Both engines make the identical vocab cut (string tie-break),
    // so the per-doc integers replay exactly.
    Q("llm_vocab_oov",
      (s, dir) => Text.vocabOov(Tables(s, dir, "documents")),
      Some(s"""
        WITH w AS (
          SELECT doc_id, unnest(${Text.tokensSql("text")}) AS w
          FROM documents),
        vocab AS (
          SELECT w FROM (
            SELECT w, row_number() OVER
              (ORDER BY count(*) DESC, w) AS r
            FROM w GROUP BY w)
          WHERE r <= 32)
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov,
               round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
        FROM w t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
      """.trim)),

    // DSIR importance resampling (ImportanceResampling.dsirSelect):
    // select the 100 raw docs whose hashed unigram+bigram profile
    // looks most like the src0 target domain, Gumbel-top-k with the
    // deterministic md5 coin. Weights and noise are integer micros,
    // so the ordering — and the oracle hash — replays exactly.
    Q("llm_dsir_select",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        ImportanceResampling.dsirSelect(
          d, d.filter(col("source") === "src0"), k = 100)
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, source, ${Text.tokensSql("text")} AS toks
          FROM documents),
        uni AS (SELECT doc_id, source, unnest(toks) AS g FROM d),
        bi AS (
          SELECT doc_id, source, concat(toks[i], ' ', toks[i + 1]) AS g
          FROM d, LATERAL unnest(generate_series(1, len(toks) - 1)) t(i)
          WHERE len(toks) >= 2),
        grams AS (
          SELECT doc_id, source,
                 CAST(concat('0x', substring(md5(g), 1, 8)) AS BIGINT) % 64 AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        src AS (SELECT b, count(*) AS cs FROM grams GROUP BY b),
        tgt AS (SELECT b, count(*) AS ct FROM grams
                WHERE source = 'src0' GROUP BY b),
        tot AS (SELECT (SELECT sum(cs) FROM src) AS total_s,
                       (SELECT sum(ct) FROM tgt) AS total_t),
        allb AS (SELECT CAST(i AS BIGINT) AS b FROM range(64) t(i)),
        ratios AS (
          SELECT allb.b,
                 CAST(round(ln(
                   (CAST(coalesce(ct, 0) + 1 AS DOUBLE) *
                     CAST(total_s + 64 AS DOUBLE)) /
                   (CAST(coalesce(cs, 0) + 1 AS DOUBLE) *
                     CAST(total_t + 64 AS DOUBLE))) * 1e6) AS BIGINT) AS lr
          FROM allb LEFT JOIN src USING (b) LEFT JOIN tgt USING (b), tot),
        wts AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                 CAST(sum(lr) AS BIGINT) AS w_micros
          FROM grams JOIN ratios USING (b)
          GROUP BY doc_id),
        scored AS (
          SELECT doc_id, n_grams, w_micros,
                 w_micros + CAST(round(-ln(-ln(
                   CAST(CAST(concat('0x', substring(md5(concat(
                     CAST(doc_id AS VARCHAR), '#dsir')), 1, 13)) AS BIGINT)
                     AS DOUBLE) / 4503599627370496.0)) * 1e6) AS BIGINT)
                   AS score_micros
          FROM wts)
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, n_grams, w_micros,
               score_micros
        FROM (SELECT *, row_number() OVER
                (ORDER BY score_micros DESC, doc_id) AS rank
              FROM scored)
        WHERE rank <= 100
      """.trim)),

    // TF-IDF top terms per document (Text.tfIdfTopTerms): smoothed
    // ln((N+1)/(df+1)) + 1 idf, length-normalized tf, top-5 by score
    // with the term string as the deterministic tie-break. The oracle
    // replays the same relational plan in DuckDB; scores round to 6
    // decimals (ln differs across libm implementations below that).
    Q("llm_tfidf_topterms",
      (s, dir) => Text.tfIdfTopTerms(Tables(s, dir, "documents"), k = 5),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 unnest(${Text.tokensSql("text")}) AS term
          FROM documents),
        tf AS (
          SELECT doc_id, term, count(*) AS tf_count
          FROM t GROUP BY doc_id, term),
        dl AS (
          SELECT doc_id, term, tf_count,
                 sum(tf_count) OVER (PARTITION BY doc_id) AS doc_len
          FROM tf),
        df AS (SELECT term, count(*) AS df_count FROM tf GROUP BY term),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        s AS (
          SELECT dl.doc_id, dl.term,
                 (CAST(tf_count AS DOUBLE) / doc_len) *
                   round((ln((n_docs + 1) / (df_count + 1)) + 1) * 1e6)
                   AS score
          FROM dl JOIN df USING (term), n),
        r AS (
          SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, term) AS rank
          FROM s)
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
               CAST(round(score) AS BIGINT) AS tfidf_micros
        FROM r WHERE rank <= 5
      """.trim)),

    // BM25 top-k retrieval (Text.bm25TopK): four fixed queries scored
    // against the corpus with Okapi BM25 (k1=1.2, b=0.75, Lucene's
    // non-negative idf), top-10 docs per query. Per-term contributions
    // round to integer micro-units BEFORE the per-doc sum, so ranks
    // are summation-order-independent and the oracle can replay the
    // whole computation op-for-op (constants written as the same
    // arithmetic, e.g. (1.2 + 1), so both engines fold identical
    // doubles). The query side is broadcast; the corpus never shuffles
    // for the match.
    Q("llm_bm25_topk",
      (s, dir) => Text.bm25TopK(Tables(s, dir, "documents"),
        retrievalQueries(s, namedIds), k = 10),
      Some(s"""
        WITH ${bm25Ctes(namedIds, k = 10)}
        SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id,
               CAST(score_micros AS BIGINT) AS score_micros
        FROM lex
      """.trim)),

    // Hybrid retrieval — reciprocal rank fusion of the lexical (BM25)
    // and dense (cosine) rankings, the standard two-tower fusion of a
    // production RAG stack: rrf(d) = Σ_lists 1/(60 + rank_list(d)).
    // Both input rankings are the engine's own oracle-gated operators
    // (llm_bm25_topk, llm_cosine_topk) at k=20; fusion is a full-outer
    // join of two k-row-per-query lists — tiny regardless of corpus
    // size, so the whole fusion stage is post-retrieval driver-scale
    // work done declaratively. Scores in exact integer micro-units
    // (1e6/(60+r) never lands on .5 for r <= 20: 2^7 | 2e6 requires
    // 60+r >= 128), ranks tie-break on doc_id. Probe embeddings are
    // the vectors whose vec_id equals the query_id — the fixture's
    // embeddings pair with documents row-for-row.
    Q("llm_hybrid_rrf",
      (s, dir) => {
        val lex = Text.bm25TopK(Tables(s, dir, "documents"),
            retrievalQueries(s, probeIds), k = 20)
          .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
        val dense = denseTopK(Tables(s, dir, "embeddings"), n = 4, k = 20)
          .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
            col("rank").as("dense_rank"))
        def rrf(rank: org.apache.spark.sql.Column) =
          coalesce(round(lit(1e6) / (lit(60) + rank)).cast("long"), lit(0L))
        val rankW = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("rrf_micros").desc, col("doc_id"))
        lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf_micros",
            rrf(col("lex_rank")) + rrf(col("dense_rank")))
          .withColumn("rank", row_number().over(rankW))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("rrf_micros"))
      },
      Some(s"""
        WITH ${bm25Ctes(probeIds, k = 20)}, ${denseCtes(n = 4, k = 20)},
        fused AS (
          SELECT query_id, doc_id,
                 COALESCE(CAST(round(1e6 / (60 + lex_rank)) AS BIGINT), 0) +
                 COALESCE(CAST(round(1e6 / (60 + dense_rank)) AS BIGINT), 0)
                   AS rrf_micros
          FROM (SELECT query_id, doc_id, rank AS lex_rank FROM lex)
          FULL OUTER JOIN (SELECT qid AS query_id, vec_id AS doc_id,
                                  rank AS dense_rank FROM dense)
          USING (query_id, doc_id))
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS INTEGER) AS rank, doc_id, rrf_micros
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rrf_micros DESC, doc_id) AS rank
              FROM fused)
        WHERE rank <= 10
      """.trim)),

    // Hard-negative mining — the standard contrastive-training data
    // step downstream of a two-tower retrieval stack: per query, the
    // top-k LEXICAL (BM25) candidates that the DENSE ranker does NOT
    // place in its top-m positives are the hard negatives — lexically
    // plausible yet semantically non-matching, exactly the examples a
    // reranker/embedding model trains against. Composed entirely from
    // the two oracle-green retrieval operators: bm25TopK's
    // WindowGroupLimit candidate list anti-joined against
    // bruteForceTopK's positives (BROADCAST left_anti — the dense
    // list is m rows per query by contract, so the corpus-scale side
    // never shuffles for the subtraction), then re-ranked 1..n by the
    // surviving BM25 order. At 100 TB the BM25 side is the already-
    // pinned postings plan and the anti-join stays map-side.
    Q("llm_hard_negatives",
      (s, dir) => {
        val lex = Text.bm25TopK(Tables(s, dir, "documents"),
          retrievalQueries(s, probeIds), k = 30)
        val dense = denseTopK(Tables(s, dir, "embeddings"), n = 4, k = 10)
          .select(col("qid").as("query_id"), col("vec_id").as("doc_id"))
        val rankW = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("score_micros").desc, col("doc_id"))
        lex.join(broadcast(dense), Seq("query_id", "doc_id"), "left_anti")
          .withColumn("neg_rank", row_number().over(rankW))
          .select(col("query_id"), col("neg_rank"), col("doc_id"),
            col("score_micros"))
      },
      Some(s"""
        WITH ${bm25Ctes(probeIds, k = 30)}, ${denseCtes(n = 4, k = 10)},
        neg AS (
          SELECT l.query_id, l.doc_id, l.score_micros
          FROM lex l
          WHERE NOT EXISTS (
            SELECT 1 FROM dense d
            WHERE d.qid = l.query_id AND d.vec_id = l.doc_id))
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY score_micros DESC, doc_id) AS INTEGER) AS neg_rank,
               doc_id, CAST(score_micros AS BIGINT) AS score_micros
        FROM neg
      """.trim)),

    // Misra-Gries heavy hitters over the token stream — the mergeable
    // frequency summary of the sketch family (KMV = distinct counts,
    // t-digest = quantiles, MG = frequent items): k=64 counters, one
    // map-side-combined aggregate, deterministic guarantee
    // count - n/k <= est <= count under ANY merge tree (Agarwal et
    // al., Mergeable Summaries). Gated like a18: the emitted set is
    // the EXACT heavy hitters (count*k > n) and the hashed columns
    // are exact counts plus booleans proving the sketch kept each one
    // within its bound — partitioning-independent output over a
    // partitioning-dependent sketch.
    Q("llm_heavy_hitters",
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(explode(graft.ops.Text.tokens(col("text"))).as("term"))
        graft.ops.HeavyHitters.heavyHittersGated(toks, "term", k = 64)
      },
      Some(s"""
        WITH t AS (
          SELECT unnest(${Text.tokensSql("text")}) AS term
          FROM documents),
        c AS (SELECT term, count(*) AS n_exact FROM t GROUP BY term),
        n AS (SELECT count(*) AS total FROM t)
        SELECT term, n_exact,
               TRUE AS ok_present, TRUE AS ok_bounds
        FROM c, n WHERE n_exact * 64 > total
      """.trim)),

    // Context packing under a token budget — the step between
    // retrieval and generation in a RAG pipeline: walk each query's
    // ranking in order and keep candidates while the RUNNING token
    // total stays within the context budget (skip-none prefix
    // semantics: the pack stops at the first overflow, because
    // downstream prompt assembly needs a rank-contiguous context, not
    // a best-fit knapsack). Pure integer arithmetic over the pinned
    // BM25 ranking + whitespace token counts — one window cumsum, no
    // extra shuffle beyond the ranking's own.
    Q("llm_context_pack",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val lex = Text.bm25TopK(docs, retrievalQueries(s, probeIds), k = 20)
        val toks = docs.select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy("rank")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        // candidate list broadcast into the corpus token scan — the
        // corpus never shuffles for the length fetch
        toks.join(broadcast(lex), Seq("doc_id"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          // prefix semantics: a doc is kept only if EVERY rank up to
          // it fits — cum <= budget is exactly that under rank order
          .filter(col("cum_tokens") <= 600L)
          .select(col("query_id"), col("rank"), col("doc_id"),
            col("n_tokens"), col("cum_tokens"))
      },
      Some(s"""
        WITH ${bm25Ctes(probeIds, k = 20)},
        toks AS (
          SELECT doc_id,
                 CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens
          FROM documents),
        packed AS (
          SELECT l.query_id, l.rank, l.doc_id, tk.n_tokens,
                 sum(tk.n_tokens) OVER (PARTITION BY l.query_id
                   ORDER BY l.rank
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
          FROM lex l JOIN toks tk USING (doc_id))
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS INTEGER) AS rank, doc_id, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM packed WHERE cum_tokens <= 600
      """.trim)),

    // Dirichlet query-likelihood retrieval — the language-modeling
    // member of the lexical trio (BM25 / TF-IDF / QL), in the
    // rank-preserving matched-terms decomposition so it rides the
    // exact same postings plan as BM25 (per-document histograms,
    // broadcast query side, WindowGroupLimit top-k). Both ln() terms
    // quantize to integer micros at the transcendental (the BM25 idf
    // discipline; margins pinned over every reachable fixture value in
    // TextSpec), so score_micros is pure long arithmetic cross-engine.
    Q("llm_ql_topk",
      (s, dir) => Text.queryLikelihoodTopK(Tables(s, dir, "documents"),
        retrievalQueries(s, probeIds), k = 10),
      Some(s"""
        WITH ${lexicalCtes(probeIds)},
        cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
        ct AS (SELECT sum(tf) AS c_total FROM tf),
        nq AS (SELECT query_id, count(*) AS n_qterms FROM qt
               GROUP BY query_id),
        qs AS (
          SELECT term, query_id, cf, c_total
          FROM qt JOIN cf USING (term), ct),
        matched AS (
          SELECT query_id, dl.doc_id,
                 sum(CAST(round(ln(1 + (tf * c_total) / (300.0 * cf))
                   * 1e6) AS BIGINT)) AS match_micros,
                 max(doc_len) AS doc_len
          FROM dl JOIN qs USING (term)
          GROUP BY query_id, dl.doc_id),
        sc AS (
          SELECT m.query_id, m.doc_id,
                 m.match_micros + n.n_qterms *
                   CAST(round(ln(300.0 / (m.doc_len + 300.0)) * 1e6)
                     AS BIGINT) AS score_micros
          FROM matched m JOIN nq n USING (query_id)),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY score_micros DESC, doc_id) AS rank
          FROM sc)
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rank AS INTEGER) AS rank, doc_id,
               CAST(score_micros AS BIGINT) AS score_micros
        FROM r WHERE rank <= 10
      """.trim)),

    // MMR diversification — greedy maximal-marginal-relevance
    // re-ranking of the dense top-20 (lambda = 0.7): the standard
    // last mile of a RAG retriever (don't hand the generator five
    // near-identical passages). ALL scoring is exact integer
    // arithmetic (micro-quantized cosines via floor(x*1e6+0.5), pure
    // long objective), so the DuckDB oracle replays the greedy loop
    // step-for-step with a recursive CTE — the same bit-exact
    // recursive-oracle discipline as m2_surface_interp. Candidates
    // are k-per-query by contract, so the op's one shuffle is k-row
    // groups; the corpus-side vector fetch is a broadcast join.
    Q("llm_mmr_diversify",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val cands = denseTopK(e, n = 4, k = 20)
          .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
            floor(col("cos") * 1e6 + lit(0.5)).cast("long").as("rel_micros"))
        val withVec = e.select(col("vec_id").as("doc_id"),
            col("embedding").cast("array<double>").as("vec"))
          .join(broadcast(cands), Seq("doc_id"))
        Embeddings.mmrDiversify(withVec, k = 10, lambdaMicros = 700000L)
      },
      Some(s"""
        WITH RECURSIVE ${denseCtes(n = 4, k = 20)},
        cand AS (
          SELECT d.qid AS query_id, d.vec_id AS doc_id,
                 CAST(floor(d.cos * 1e6 + 0.5) AS BIGINT) AS rel_micros,
                 e2.v
          FROM dense d JOIN c e2 ON e2.vec_id = d.vec_id),
        sims AS (
          SELECT a.query_id, a.doc_id AS d1, b.doc_id AS d2,
                 CAST(floor(${Embeddings.cosineSql("a.v", "b.v")} * 1e6 + 0.5)
                   AS BIGINT) AS sim_micros
          FROM cand a JOIN cand b
            ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
        sel AS (
          SELECT query_id, 1 AS mmr_rank, -(best.d) AS doc_id,
                 best.s AS score_units,
                 [-(best.d)] AS picked
          FROM (
            SELECT query_id,
                   max(struct_pack(s := 700000 * rel_micros, d := -doc_id)) AS best
            FROM cand GROUP BY query_id)
          UNION ALL
          SELECT query_id, mmr_rank, -(best.d) AS doc_id, best.s AS score_units,
                 list_append(picked, -(best.d)) AS picked
          FROM (
            SELECT query_id, mmr_rank, picked,
                   max(struct_pack(s := su, d := -doc_id)) AS best
            FROM (
              SELECT s.query_id, s.mmr_rank + 1 AS mmr_rank, s.picked, cnd.doc_id,
                     700000 * any_value(cnd.rel_micros)
                       - 300000 * max(sm.sim_micros) AS su
              FROM sel s
              JOIN cand cnd ON cnd.query_id = s.query_id
                           AND NOT list_contains(s.picked, cnd.doc_id)
              JOIN sims sm ON sm.query_id = s.query_id AND sm.d1 = cnd.doc_id
                          AND list_contains(s.picked, sm.d2)
              WHERE s.mmr_rank < 10
              GROUP BY s.query_id, s.mmr_rank, s.picked, cnd.doc_id) z
            GROUP BY query_id, mmr_rank, picked) y
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(mmr_rank AS INTEGER) AS mmr_rank,
               doc_id, score_units
        FROM sel
      """.trim)),

    // Retrieval evaluation (recall / MRR / DCG@10) — the measurement
    // harness of the retrieval stack: score the LEXICAL (BM25) top-10
    // against a semantic truth set (the dense top-3 per query — the
    // "how well does cheap lexical retrieval recover the expensive
    // dense neighbors" question every hybrid deployment asks before
    // tuning its fusion weights). Per query: hits in the top-10, the
    // first relevant rank, reciprocal-rank and DCG in exact integer
    // micro-units. The DCG weight 1e6/log2(rank+1) rounds a
    // transcendental, but rank's domain is {1..10} — TextSpec pins
    // every reachable value >= 0.05 from a rounding half-point
    // against a <=1e-8 cross-libm discrepancy. Truth set joined as a
    // BROADCAST (3 rows/query by contract); the eval is one k-row
    // aggregate per query on top of the pinned BM25 plan.
    Q("llm_retrieval_eval",
      (s, dir) => {
        val lex = Text.bm25TopK(Tables(s, dir, "documents"),
          retrievalQueries(s, probeIds), k = 10)
        val rel = denseTopK(Tables(s, dir, "embeddings"), n = 4, k = 3)
          .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
            lit(1L).as("_rel"))
        lex.join(broadcast(rel), Seq("query_id", "doc_id"), "left")
          .groupBy(col("query_id"))
          .agg(
            sum(coalesce(col("_rel"), lit(0L))).as("hits_at_10"),
            min(when(col("_rel") === 1L, col("rank"))).as("_first"),
            sum(when(col("_rel") === 1L,
              round(lit(1e6) / log2(col("rank") + lit(1))))
              .otherwise(lit(0.0))).cast("long").as("dcg_micros"))
          .select(col("query_id"), col("hits_at_10"),
            coalesce(col("_first"), lit(0)).as("first_rel_rank"),
            coalesce(round(lit(1e6) / col("_first")), lit(0.0))
              .cast("long").as("rr_micros"),
            col("dcg_micros"))
      },
      Some(s"""
        WITH ${bm25Ctes(probeIds, k = 10)}, ${denseCtes(n = 4, k = 3)},
        rel AS (SELECT qid AS query_id, vec_id AS doc_id, 1 AS _rel FROM dense),
        j AS (
          SELECT l.query_id, l.rank, r._rel
          FROM lex l LEFT JOIN rel r
            ON l.query_id = r.query_id AND l.doc_id = r.doc_id)
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(sum(COALESCE(_rel, 0)) AS BIGINT) AS hits_at_10,
               CAST(COALESCE(min(CASE WHEN _rel = 1 THEN rank END), 0)
                 AS INTEGER) AS first_rel_rank,
               CAST(COALESCE(round(1e6 /
                 min(CASE WHEN _rel = 1 THEN rank END)), 0) AS BIGINT)
                 AS rr_micros,
               CAST(sum(CASE WHEN _rel = 1
                 THEN round(1e6 / log2(rank + 1)) ELSE 0 END) AS BIGINT)
                 AS dcg_micros
        FROM j
        GROUP BY query_id
      """.trim)),

    // Sliding-window chunking — the long-document treatment upstream
    // of packing: 32-token windows every 24 tokens (8-token overlap),
    // last chunk short. Zero shuffles (per-row transform+sequence);
    // the oracle replays the window arithmetic with list slicing.
    Q("llm_chunk_windows",
      (s, dir) => graft.ops.Packing.chunkWindows(
        Tables(s, dir, "documents"), window = 32, stride = 24),
      Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents),
        c AS (
          SELECT doc_id, toks, n,
                 CASE WHEN n <= 32 THEN 1
                      ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
          FROM d)
        SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
               CAST(least(n, k * 24 + 32) - k * 24 AS BIGINT) AS n_tokens,
               array_to_string(toks[1 + k * 24 : least(n, k * 24 + 32)], ' ')
                 AS chunk_text
        FROM c, LATERAL unnest(generate_series(0, n_chunks - 1)) g(k)
      """.trim)),

    // Per-source token budget cap — domain quota enforcement (cap any
    // one source's contribution to the mix): docs take the same
    // deterministic md5 order within their source; a doc is kept while
    // the RUNNING token total before it is under the budget. The kept
    // set is stable under re-runs and additions that sort later — the
    // resumability contract again. One shuffle (source window).
    Q("llm_source_cap",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Text.tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.ops.Packing.capPerSource(d, "doc_id", "source", "n_tokens",
            budget = 800L)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("cum_before"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens,
                 md5(CAST(doc_id AS VARCHAR)) AS ord
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS cum_before
          FROM t)
        SELECT doc_id, source, n_tokens, cum_before
        FROM c WHERE cum_before < 800
      """.trim)),

    // Temperature-flattened source mixing (Packing.temperatureSample,
    // alpha = 0.5): the largest source keeps half its docs, smaller
    // sources proportionally more (rate = 0.5 * sqrt(m_max/m_s),
    // capped at 1). The md5-prefix coin and the sqrt/division rate
    // are both exactly reproducible in DuckDB, so membership — not
    // just counts — is hash-gated.
    Q("llm_temperature_sample",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Text.tokenCount(col("text")).cast("long").as("n_tokens"))
        graft.ops.Packing.temperatureSample(d, "doc_id", "source", "n_tokens")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens
          FROM documents),
        m AS (SELECT source, sum(n_tokens) AS mass FROM t GROUP BY source),
        mm AS (SELECT max(mass) AS max_mass FROM m),
        r AS (
          SELECT source,
                 least(1.0, 0.5 * sqrt(CAST(max_mass AS DOUBLE) /
                   CAST(mass AS DOUBLE))) AS rate
          FROM m, mm)
        SELECT t.source, t.doc_id, t.n_tokens, round(r.rate, 6) AS keep_rate
        FROM t JOIN r USING (source)
        WHERE CAST(CAST(concat('0x', substring(md5(concat(
                CAST(t.doc_id AS VARCHAR), '#mix')), 1, 13)) AS BIGINT)
              AS DOUBLE) / 4503599627370496.0 < r.rate
      """.trim)),

    // Benchmark decontamination — the pre-training n-gram-overlap
    // gate: corpus docs sharing any 5-gram with the held-out benchmark
    // set (docs with doc_id % 100 = 17). Contamination is PLANTED so
    // the output is deterministic at any SF: every corpus doc with
    // doc_id % 50 = 3 gets the first 8 tokens of a benchmark doc
    // appended (4 pure-benchmark 5-grams each); natural collisions, if
    // any, count identically in both engines. The benchmark side is
    // broadcast — the corpus is never shuffled (see Contamination).
    Q("llm_decontaminate",
      (s, dir) => {
        val (corpus, bench) = decontamInputs(s, dir)
        Contamination.contaminated(corpus, bench, "doc_id", "text", n = 5)
      },
      Some(decontamOracle)),

    // Same planted decontamination through the Bloom-prefiltered
    // path: the eval shingle set is distilled to a 128 KiB bitset
    // probed inside the corpus scan's codegen span, and the exact
    // broadcast join only sees surviving shingles. False positives
    // can only enlarge the verify set, so the answer — and the
    // oracle — are identical to llm_decontaminate; selectivity is
    // observable via the graft.bloom metrics.
    Q("llm_decontam_bloom",
      (s, dir) => {
        val (corpus, bench) = decontamInputs(s, dir)
        Contamination.contaminatedBloom(corpus, bench, "doc_id", "text",
          n = 5)
      },
      Some(decontamOracle)),

    // LSH-bucketed ANN top-k, made oracle-checkable (round 6; was
    // rows-only) through the one guarantee hyperplane LSH is
    // STRUCTURAL about: an identical vector hashes identically in
    // every table, so a planted twin query ALWAYS finds its original
    // as a candidate and the exact rerank puts it at rank 1 with
    // cosine exactly 1 (deterministic double arithmetic; the corpus's
    // natural cross-vector cosines top out far below 1). Recall at
    // approximate parameters is probabilistic in the hyperplane draws
    // (measured 0.65-0.99 across SFs/configs) — a measured constant
    // pinned in an oracle would break on any legitimate hash change,
    // so that gate stays in EmbeddingsSpec vs Spark's own brute force.
    Q("llm_ann_lsh_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        // the twin probe set is BOUNDED (vec_id < 2000): ANN serves a
        // fixed query workload against a growing corpus, so per-query
        // cost scales with bucket size (linear), not |Q| x |corpus|
        // (the sf1 sweep measured the unbounded form at ~25x for 10x
        // data - quadratic by construction, not an engine property)
        val twins = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
          .select((col("vec_id") + lit(100000L)).as("qid"),
            col("embedding").as("qvec"))
        // FIXTURE INVARIANT the oracle leans on: no corpus vector may
        // tie the planted twin's original at cos == 1 with a SMALLER
        // vec_id (an exact-duplicate or colinear embedding would take
        // rank 1 and break the hash gate silently). The driver's
        // embeddings are random floats, where an exact cosine tie is
        // measure-zero; if a future fixture plants duplicates, prefer
        // restricting the rerank tie-break to the probed original id.
        Embeddings.annTopK(e, twins, "vec_id", "embedding", "qid", "qvec",
            k = 1, bits = 4, tables = 8)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("cos"), 6).as("cos"))
      },
      Some("""
        SELECT vec_id + 100000 AS qid, CAST(1 AS INTEGER) AS rank,
               vec_id, 1.0 AS cos
        FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000
      """.trim)),

    // IVF ANN top-k, made oracle-checkable (round 6; was rows-only)
    // through the standard vector-index identity: probing ALL nlist
    // cells makes IVF exact regardless of what k-means learned (the
    // cell partition covers the corpus), so the output equals
    // brute-force top-k and the llm_cosine_topk oracle applies
    // verbatim. This pins the whole IVF plumbing — cell assignment
    // partitions without loss or duplication, the probe equi-join,
    // the exact rerank. The quantizer is the integer-exact KMeans, so
    // the cells themselves are partition-invariant too; the
    // approximate path (nprobe < nlist) is gated in EmbeddingsSpec:
    // recall beats cell-chance, candidates shrink ~nprobe/nlist, and
    // the rows do not change with the input partitioning.
    Q("llm_ann_ivf_topk",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        // trainIters = 1: with nprobe = nlist (full probe) the output
        // is provably centroid-independent, so one centroid update
        // exercises the whole training path (seed + assign +
        // per-(cell,dim) integer sums) without paying 4 more
        // full-corpus training jobs that cannot change the answer
        // (A/B'd: 3.8 -> ~2 s warm at sf0.1). Approximate configs keep
        // the default.
        Embeddings.ivfTopK(e, probes(e, 20), "vec_id", "embedding", "qid", "qvec",
            k = 10, nlist = 16, nprobe = 16, trainIters = 1)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("cos"), 6).as("cos"))
      },
      Some(cosineTopKSql(n = 20, k = 10))),

    // C4-style duplicate-SPAN removal (ops/SpanDedup): keep one
    // occurrence of every repeated 5-token span corpus-wide, remove
    // the tokens covered by every other occurrence, reassemble the
    // documents. Complements doc-level dedup (exact/minhash/simhash):
    // this is the intra-document boilerplate scrub C4 §2.2 applies.
    // The oracle replays the exact semantics — same packed
    // (doc_id, pos) canonical key, same overlap-union removal.
    Q("llm_span_dedup",
      (s, dir) => SpanDedup(Tables(s, dir, "documents"), n = 5),
      Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (
          SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS span
          FROM d, LATERAL unnest(generate_series(1, len(toks) - 4)) t(i)
          WHERE len(toks) >= 5),
        f AS (
          SELECT span, min(doc_id * 1048576 + pos) AS first_key
          FROM g GROUP BY span),
        dup AS (
          SELECT g.doc_id, g.pos FROM g JOIN f USING (span)
          WHERE g.doc_id * 1048576 + g.pos <> f.first_key),
        removed AS (
          SELECT DISTINCT doc_id, pos + j AS tpos
          FROM dup, LATERAL unnest(generate_series(0, 4)) s(j)),
        tok AS (
          SELECT doc_id, i AS tpos, toks[i] AS tok
          FROM d, LATERAL unnest(generate_series(1, len(toks))) t(i))
        SELECT t.doc_id, count(*) AS n_kept,
               string_agg(t.tok, ' ' ORDER BY t.tpos) AS text_dedup
        FROM tok t
        WHERE NOT EXISTS (SELECT 1 FROM removed r
                          WHERE r.doc_id = t.doc_id AND r.tpos = t.tpos)
        GROUP BY t.doc_id
      """.trim)),

    // Inverted-index term dictionary: df/tf/posting-range per term,
    // minDf=3 prunes the singleton tail. Two hash aggregates, zero
    // joins — the posting TABLE itself is the term-partitioned
    // (term, doc_id, tf) intermediate, which at 100 TB is written
    // term-bucketed and probed by equi-join.
    Q("llm_inverted_index",
      (s, dir) => graft.ops.Text.invertedIndex(
        Tables(s, dir, "documents"), minDf = 3),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 unnest(${Text.tokensSql("text")}) AS term
          FROM documents),
        tf AS (
          SELECT doc_id, term, count(*) AS tf
          FROM t GROUP BY doc_id, term)
        SELECT term, count(*) AS df_count,
               CAST(sum(tf) AS BIGINT) AS tf_total,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM tf GROUP BY term HAVING count(*) >= 3
      """.trim)),

    // Crawl-URL canonicalization + exact dedup: normalize scheme /
    // www. / query / fragment / trailing-slash variants to one key,
    // keep the min-doc_id representative per canonical URL. URLs are
    // planted deterministically from table fields (the documents
    // fixture has no real URL column); both engines replay the same
    // construction, so the dedup factor is data-driven, not assumed.
    // One regexp chain (narrow, codegen'd) + one hash aggregate.
    Q("llm_url_dedup",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val raw = concat(
          when(col("doc_id") % 2 === 0, lit("https://WWW."))
            .otherwise(lit("http://")),
          col("source"), lit(".Example.com/docs/"),
          (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 3 === 0, lit("?utm_source=feed#frag"))
            .when(col("doc_id") % 3 === 1, lit("/"))
            .otherwise(lit("")))
        d.select(col("doc_id"), raw.as("url"))
          .withColumn("canon", graft.ops.Text.normalizeUrl(col("url")))
          .groupBy(col("canon"))
          .agg(min(col("doc_id")).as("keep_doc"),
            count(lit(1)).as("n_variants"))
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.'
                       ELSE 'http://' END)
                 || source || '.Example.com/docs/'
                 || CAST(doc_id % 40 AS VARCHAR)
                 || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed#frag'
                          WHEN doc_id % 3 = 1 THEN '/'
                          ELSE '' END) AS url
          FROM documents),
        c AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(url), '^https?://', ''),
                       '^www\.', ''),
                     '[?#].*', ''),
                   '/+$', '') AS canon
          FROM u)
        SELECT canon, min(doc_id) AS keep_doc, count(*) AS n_variants
        FROM c GROUP BY canon
      """.trim)),

    // Distributed Lloyd k-means assignment, ORACLE-EXACT via the
    // integer-centroid discipline (ops/KMeans.scala): cluster
    // membership itself is hash-gated, not just a model artifact.
    // k=8 seeds = the 8 smallest vec_ids, 3 iterations; the oracle is
    // BUILT from the same parameters so query and oracle cannot drift.
    Q("llm_kmeans_assign",
      (s, dir) => graft.ops.KMeans.assignClusters(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3),
      Some(graft.ops.KMeans.oracleSql(
        "embeddings", "vec_id", "embedding",
        k = 8, iters = 3, dim = 64, scaleUnits = graft.ops.KMeans.ScaleUnits))),

    // Product quantization codes (ops/ProductQuantizer.scala): the
    // FAISS-style 4x->m-byte vector compression completing the ANN
    // triad (LSH / IVF / PQ). m=4 subspaces of 16 dims, ksub=8
    // codebook entries each, 2 Lloyd iterations under the same
    // integer-centroid discipline as llm_kmeans_assign — the CODES
    // are hash-gated, and the oracle is built from the same
    // parameters so query and oracle cannot drift.
    Q("llm_pq_codes",
      (s, dir) => graft.ops.ProductQuantizer.pqCodes(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, ksub = 8, iters = 2),
      Some(graft.ops.ProductQuantizer.oracleSql(
        "embeddings", "vec_id", "embedding",
        m = 4, ksub = 8, iters = 2, dim = 64, scaleUnits = graft.ops.KMeans.ScaleUnits))),

    // PQ ADC top-k search: the query vector is never quantized —
    // per-subspace distance TABLES are built once driver-side and each
    // database vector costs m lookups + m-1 adds over its codes. The
    // emitted distance is floor()'d to integer units (identical bits
    // in both engines -> identical integer), so rank AND distance are
    // hash-gated. Query = vec_id 0's embedding, k = 10.
    Q("llm_pq_adc_topk",
      (s, dir) => graft.ops.ProductQuantizer.adcTopK(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, ksub = 8, iters = 2, queryId = 0L, k = 10),
      Some(graft.ops.ProductQuantizer.adcOracleSql(
        "embeddings", "vec_id", "embedding",
        m = 4, ksub = 8, iters = 2, dim = 64, scaleUnits = graft.ops.KMeans.ScaleUnits,
        queryId = 0L, k = 10))),

    // IVF-PQ search — the textbook billion-vector layout, fully
    // hash-gated: integer-exact coarse quantizer narrows to nprobe=3
    // of 8 cells, ADC over PQ codes ranks only those candidates. The
    // whole search is ONE narrow scan (cell assign -> probe filter ->
    // m table lookups) into a distributed top-k; at 100 TB with the
    // corpus laid out by cell the probe filter becomes partition
    // pruning. The oracle composes the coarse-kmeans and PQ CTE
    // chains and replays probe selection bit-for-bit.
    Q("llm_ivfpq_topk",
      (s, dir) => graft.ops.ProductQuantizer.ivfAdcTopK(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        coarseK = 8, coarseIters = 2, nprobe = 3,
        m = 4, ksub = 8, iters = 2, queryId = 0L, k = 10),
      Some(graft.ops.ProductQuantizer.ivfAdcOracleSql(
        "embeddings", "vec_id", "embedding",
        coarseK = 8, coarseIters = 2, nprobe = 3,
        m = 4, ksub = 8, iters = 2, dim = 64, scaleUnits = graft.ops.KMeans.ScaleUnits,
        queryId = 0L, k = 10))),

    // KMV distinct-count sketch (ops/Sketches.scala): the sketch
    // family member chosen to be DETERMINISTIC given the hash — so
    // unlike HLL the state AND the estimate hash-match the oracle.
    // k=256 smallest 52-bit md5 values of the distinct texts;
    // estimate = (k-1)*2^52 div u_(k) in exact integer arithmetic;
    // the true distinct count rides along so accuracy is a gated
    // number (SketchesSpec pins the error bound).
    Q("llm_kmv_distinct",
      (s, dir) => graft.ops.Sketches.kmvDistinct(
        Tables(s, dir, "documents"), "text", k = 256),
      Some(graft.ops.Sketches.kmvOracleSql("documents", "text", k = 256))),

    // Count-Min frequency sketch over the token stream
    // (ops/CountMin.scala) — the over-estimate counterpart of
    // Misra-Gries, and the only frequency sketch whose STATE is
    // partitioning-independent (counters are pure sums), so the whole
    // probe output hash-matches a sequential DuckDB replay: exact
    // top-20 terms, their exact counts, the d=4 x w=1024 CMS estimate
    // in exact integers, and the est >= exact theorem as a gate
    // column. Sketch build = one map-side-combined aggregate bounded
    // at d*w rows regardless of corpus size.
    Q("llm_cms_counts",
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(explode(graft.ops.Text.tokens(col("text"))).as("term"))
        graft.ops.CountMin.topKWithEstimates(toks, "term",
          d = 4, w = 1024, k = 20)
      },
      Some(graft.ops.CountMin.oracleSql(
        "documents", "text", d = 4, w = 1024, k = 20))),

    // HyperLogLog++ distinct count — the state-size/accuracy
    // trade-off point of the distinct-count axis next to KMV
    // (ops/Sketches.scala chose KMV for hash-exactness; HLL's
    // register estimate is implementation-defined, so this row uses
    // the a18/heavy-hitters GATE pattern instead): the hashed output
    // is the exact distinct count plus booleans proving Spark's HLL++
    // landed within a conservative 4x-rsd envelope at BOTH sketch
    // sizes (rsd 0.05 ~ 2^9 registers, rsd 0.015 ~ 2^13). Spark's
    // HLL++ is a deterministic pure function of the value set
    // (xxhash64 + register max-merge, order- and partition-free), so
    // the booleans are stable per fixture; SketchesSpec pins the
    // observed relative errors at every SF.
    Q("llm_hll_distinct",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        docs.agg(
          countDistinct(col("text")).as("exact_distinct"),
          approx_count_distinct(col("text"), 0.05).as("est_coarse"),
          approx_count_distinct(col("text"), 0.015).as("est_fine"))
          .select(
            col("exact_distinct"),
            (abs(col("est_coarse") - col("exact_distinct"))
              <= lit(4 * 0.05) * col("exact_distinct")).as("ok_rsd_coarse"),
            (abs(col("est_fine") - col("exact_distinct"))
              <= lit(4 * 0.015) * col("exact_distinct")).as("ok_rsd_fine"))
      },
      Some("""
        SELECT count(DISTINCT text) AS exact_distinct,
               TRUE AS ok_rsd_coarse, TRUE AS ok_rsd_fine
        FROM documents
      """.trim)),

    // Distributed BPE tokenizer training (ops/BpeTrain.scala): learn
    // the first 4 merge rules from the corpus. The corpus-sized step
    // is the word-frequency aggregation; the merge loop runs on the
    // vocab with a codegen aggregate() fold rewrite (no UDF) and a
    // 1-row argmax collect per step (the k-means-centroid model
    // pattern). The oracle replays every merge with per-word
    // recursive-CTE greedy scans — the merge table is hash-exact.
    Q("llm_bpe_train",
      (s, dir) => graft.ops.BpeTrain.train(
        Tables(s, dir, "documents"), "text", steps = 4),
      Some(graft.ops.BpeTrain.oracleSql("documents", "text", steps = 4))),

    // The apply side of BPE: tokenize the corpus vocabulary with the
    // learned merge table. Spark folds each word's characters through
    // the 4 merges (same codegen aggregate() fold as training — a
    // narrow projection that runs at scan speed over a 100-TB corpus);
    // the oracle simply reads w4, the vocab state the training CTE
    // chain already computed, exploded to scalar (word, pos, piece)
    // rows because the driver hash compares scalars.
    Q("llm_bpe_tokenize",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = graft.ops.BpeTrain.train(docs, "text", steps = 4)
          .orderBy("step").collect()
          .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
        // posexplode_OUTER, deliberately: InferFiltersFromGenerate
        // infers `size(pieces) > 0` from a non-outer generator, alias
        // substitution expands that to the full interpreted fold, and
        // predicate pushdown sinks it below the distinct — re-running
        // the fold per TOKEN OCCURRENCE (70s at sf1) instead of per
        // word (1s). The rule skips outer generators, and pieces is
        // never empty (words are non-empty), so _outer is semantically
        // identical and keeps the fold vocab-sized.
        graft.ops.BpeTrain.applyMerges(docs, "text", merges)
          .select(col("word"),
            posexplode_outer(col("pieces")).as(Seq("pos", "piece")))
      },
      Some(graft.ops.BpeTrain.tokenizeOracleSql("documents", "text", steps = 4))),

    // The PRODUCTION tokenizer-apply layout (ops/BpeTrain.tokenizeCorpus):
    // fold each DISTINCT word once, then broadcast the vocab-sized
    // (word, pieces) table back onto the positional token stream — the
    // corpus side is one unshuffled scan + broadcast hash join, one
    // output row per emitted piece with (doc_id, tok_pos, piece_pos)
    // positions preserved. This is the join-back the applyMerges doc
    // promises; at 100 TB the fold cost stays vocab-sized while the
    // corpus pays only scan + probe. Plan pinned in ExplainSpec:
    // pieces side broadcast, no exchange on the corpus scan.
    Q("llm_bpe_corpus_tokens",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = graft.ops.BpeTrain.train(docs, "text", steps = 4)
          .orderBy("step").collect()
          .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
        graft.ops.BpeTrain.tokenizeCorpus(docs, "text", "doc_id", merges)
      },
      Some(graft.ops.BpeTrain.corpusTokensOracleSql(
        "documents", "text", "doc_id", steps = 4)))
  )
}
