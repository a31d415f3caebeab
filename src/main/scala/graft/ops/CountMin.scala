package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min frequency sketch, fully declarative and ORACLE-EXACT.
  *
  * The CMS completes the sketch family's frequency axis next to
  * Misra-Gries (`ops/HeavyHitters.scala`): MG keeps O(k) exact-ish
  * counters with a deterministic under-estimate bound; CMS keeps a
  * fixed d x w counter grid with a deterministic OVER-estimate
  * (est >= exact always — every counter is a pure sum, so hashing a
  * term only ever adds collision mass, never removes it). Unlike the
  * MG sketch, whose internal counters depend on merge order, every
  * CMS counter is a plain SUM over the token stream — associative,
  * commutative, duplicate-order-free — so the whole sketch state and
  * every estimate derived from it are PARTITIONING-INDEPENDENT and
  * hash-match a sequential DuckDB replay bit-for-bit. That is why
  * this query carries a full value oracle where `llm_heavy_hitters`
  * needs gate booleans.
  *
  * Scale shape (100 TB): building the sketch is ONE aggregation whose
  * group count is bounded by d*w (4096 cells here) regardless of
  * corpus size — partial aggregation collapses each map task's token
  * stream into <= d*w rows before the shuffle, so the exchange moves
  * kilobytes per task no matter how many petabytes the scan read.
  * Probing joins a k-row candidate list against the <= d*w-row sketch:
  * both sides broadcast-sized by construction. The exact top-k probe
  * set used by the declared query is itself a map-side-combined
  * word-count + distributed top-k; a production pipeline would feed
  * whatever candidate list it has (the sketch answers ANY term).
  *
  * Hash functions: h_i(t) = slice i of md5(t || '#cms') mod w — ONE
  * digest per value, d disjoint hex slices (the corpus-sized step
  * pays one md5 instead of d; subexpression elimination shares it
  * across the d slice expressions). Same cross-engine md5 idiom as
  * the KMV sketch (`ops/Sketches.scala`), available verbatim in
  * DuckDB, which keeps the oracle a replay, not a re-derivation.
  *
  * Reference context: the reference pipeline counts token/label
  * frequencies exactly (pandas value_counts over in-memory frames,
  * e.g. deepicedrain's groupby size summaries); at corpus scale an
  * exact count of a heavy-tailed vocabulary is itself a shuffle of
  * every distinct term, which the CMS avoids with bounded state
  * (Cormode & Muthukrishnan 2005).
  */
object CountMin {

  /** Hex characters of the shared md5 consumed per hash row: the d
    * rows take DISJOINT slices of ONE md5(term#cms), so the
    * corpus-sized step computes one digest per value instead of d
    * (subexpression elimination shares the md5 across the d slice
    * expressions inside the same codegen stage — measured 4x less
    * hash work at d=4). Capped at 13 (52 bits) so conv->long stays
    * exact in both engines (the KMV discipline).
    */
  private[graft] def sliceLen(d: Int): Int = math.min(32 / d, 13)

  /** The i-th row's bucket for a term: slice i of md5(term#cms), mod
    * w. Slices are disjoint, so the d hashes are independent in the
    * same sense d independent digests would be.
    */
  def bucket(term: Column, i: Int, d: Int, w: Int): Column = {
    val len = sliceLen(d)
    conv(substring(md5(concat(term, lit("#cms"))), i * len + 1, len), 16, 10)
      .cast("long") % w
  }

  /** CMS counter grid over `termCol` of `items`: rows (i, bucket, cnt),
    * at most d*w of them. One explode-by-d (constant factor) into one
    * map-side-combined aggregate.
    */
  def sketch(items: DataFrame, termCol: String, d: Int, w: Int): DataFrame = {
    require(d >= 1 && d <= 8, s"d in [1,8] required, got $d")
    require(w >= 2, s"w >= 2 required, got $w")
    // modulo bias: keep w at most a quarter of the slice space
    require(w.toLong <= (1L << (4 * sliceLen(d) - 2)),
      s"w=$w too wide for ${sliceLen(d)}-hex-char slices at d=$d")
    val rows = array((0 until d).map(i =>
      struct(lit(i).as("i"), bucket(col(termCol), i, d, w).as("bucket"))): _*)
    items
      // md5(null) is null: a null term would otherwise land as a
      // meaningless (i, NULL) counter row. Nulls carry no frequency
      // mass, so dropping them is the only sound reading (mirrors the
      // KMV null discipline in ops/Sketches).
      .filter(col(termCol).isNotNull)
      .select(explode(rows).as("cell"))
      .groupBy(col("cell.i").as("i"), col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Counter grid from a (term, freq) table: identical counters to
    * [[sketch]] over the expanded stream (a counter is a sum of
    * occurrence counts = a sum of per-term freqs), one weighted
    * aggregate instead of a corpus scan. The shape a pipeline that
    * ALREADY paid for word counts should use.
    */
  def sketchFromFreqs(freqs: DataFrame, termCol: String, freqCol: String,
      d: Int, w: Int): DataFrame = {
    require(d >= 1 && d <= 8, s"d in [1,8] required, got $d")
    require(w >= 2, s"w >= 2 required, got $w")
    require(w.toLong <= (1L << (4 * sliceLen(d) - 2)),
      s"w=$w too wide for ${sliceLen(d)}-hex-char slices at d=$d")
    val rows = array((0 until d).map(i =>
      struct(lit(i).as("i"), bucket(col(termCol), i, d, w).as("bucket"))): _*)
    freqs
      .filter(col(termCol).isNotNull) // same null discipline as sketch()
      .select(col(freqCol).as("f"), explode(rows).as("cell"))
      .groupBy(col("cell.i").as("i"), col("cell.bucket").as("bucket"))
      .agg(sum(col("f")).as("cnt"))
  }

  /** Probe the sketch for the corpus's exact top-k terms and emit
    * (term, n_exact, cms_est, ok_lower): the exact count, the CMS
    * estimate (min over the d rows' counters), and the always-true
    * over-estimate theorem est >= exact as a hashed gate column. Both
    * the probe set (count desc, term asc tie-break) and every emitted
    * value are deterministic, so the full row set is oracle-hashable.
    */
  def topKWithEstimates(items: DataFrame, termCol: String,
      d: Int, w: Int, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1 required, got $k")
    // both the sketch and the probe set derive from ONE word-count
    // aggregate: the two branches contain structurally identical
    // scan->partial-agg->exchange subtrees, so exchange reuse executes
    // the corpus scan and the vocab shuffle once (plan-pinned in
    // ExplainSpec); the counters are identical to the direct stream
    // build because a counter is a sum of freqs.
    // Null terms are dropped HERE, upstream of both branches: the
    // sketch already drops them (md5(null) is null), but a null term
    // ranking in the top-k would probe null buckets, never join, and
    // silently shrink the output to k-1 rows — one shared filter keeps
    // the probe set and the sketch under the same null discipline.
    val freqs = items
      .filter(col(termCol).isNotNull)
      .groupBy(col(termCol).as("term"))
      .agg(count(lit(1)).as("n_exact"))
    val sk = sketchFromFreqs(freqs, "term", "n_exact", d, w)
    val probes = freqs
      .orderBy(col("n_exact").desc, col("term").asc)
      .limit(k)
    // k*d probe cells joined to the <= d*w-cell sketch: both sides are
    // broadcast-sized by construction; broadcast the smaller (probes)
    val probeCells = probes.select(
      col("term"), col("n_exact"),
      explode(array((0 until d).map(i =>
        struct(lit(i).as("i"), bucket(col("term"), i, d, w).as("bucket"))): _*))
        .as("cell"))
      .select(col("term"), col("n_exact"),
        col("cell.i").as("i"), col("cell.bucket").as("bucket"))
    sk.join(broadcast(probeCells), Seq("i", "bucket"))
      .groupBy(col("term"), col("n_exact"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("term"), col("n_exact"), col("cms_est"),
        (col("cms_est") >= col("n_exact")).as("ok_lower"))
  }

  /** DuckDB oracle replaying [[topKWithEstimates]] over the whitespace
    * token stream of `table.textCol` — same md5 buckets, same counter
    * sums, same min-over-rows, same top-k tie-break.
    */
  def oracleSql(table: String, textCol: String,
      d: Int, w: Int, k: Int): String = {
    val len = sliceLen(d)
    s"""WITH t AS (
       |  SELECT unnest(${Text.tokensSql(textCol)}) AS term
       |  FROM $table),
       |h AS (SELECT term, md5(term || '#cms') AS hx FROM t),
       |cells AS (
       |  SELECT i, CAST(concat('0x', substring(hx, i * $len + 1, $len))
       |           AS BIGINT) % $w AS bucket, term
       |  FROM h, (SELECT unnest(range($d)) AS i)),
       |sk AS (
       |  SELECT i, bucket, count(*) AS cnt FROM cells GROUP BY i, bucket),
       |probes AS (
       |  SELECT term, count(*) AS n_exact FROM t GROUP BY term
       |  ORDER BY n_exact DESC, term ASC LIMIT $k),
       |pc AS (
       |  SELECT p.term, p.n_exact, i.i,
       |         CAST(concat('0x', substring(md5(p.term || '#cms'),
       |           i.i * $len + 1, $len)) AS BIGINT) % $w AS bucket
       |  FROM probes p, (SELECT unnest(range($d)) AS i) i)
       |SELECT pc.term, pc.n_exact, min(sk.cnt) AS cms_est,
       |       min(sk.cnt) >= pc.n_exact AS ok_lower
       |FROM pc JOIN sk ON sk.i = pc.i AND sk.bucket = pc.bucket
       |GROUP BY pc.term, pc.n_exact""".stripMargin
  }
}
