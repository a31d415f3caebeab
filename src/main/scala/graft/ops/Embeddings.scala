package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Three paths, mirroring what a 100 TB training-data pipeline needs:
  *   - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small)
  *     query set against the full corpus; one scan, no shuffle of the
  *     corpus, a partial top-k per partition then a tiny final sort.
  *   - [[lshTableBuckets]] / [[annTopK]]: random-hyperplane LSH — corpus
  *     bucketed once by signature; queries probe only their bucket, so
  *     the candidate set (and the shuffle) shrinks by ~2^bits. The
  *     scale path when the query set is itself large.
  *   - [[ivfTopK]]: inverted-file index — the integer-exact [[KMeans]]
  *     coarse quantizer partitions the corpus into nlist cells; queries
  *     probe only the nprobe nearest cells. Unlike data-oblivious LSH
  *     planes, the quantizer ADAPTS to the corpus distribution, which
  *     is what production vector indexes (FAISS IVF) use at billion
  *     scale.
  *
  * The paths differ only in how they generate candidates: all three
  * score and rank them through one exact rerank (norms once per
  * vector, the [[cosine]] pair expression, a dimension check per pair,
  * one row_number top-k window), so their cosines agree bit-for-bit.
  */
object Embeddings {

  /** Exact dot product: codegen'd left-to-right double accumulation
    * (graft.functions.VecDot) — bit-identical to the
    * aggregate/zip_with fold it replaces, but inside whole-stage
    * codegen instead of the interpreted lambda evaluator (~5x on the
    * pair-join hot path). NULL on length mismatch, like the fold.
    */
  def dot(a: Column, b: Column): Column = graft.functions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = cosineOfNorms(a, b, norm(a), norm(b))

  /** [[cosine]] from norms computed beforehand — the one pair
    * expression every scorer uses, so `sqrt(dot(v, v))` runs once per
    * vector instead of once per pair, with the identical double op
    * chain (same sqrt, same product, same division: bit-identical cos).
    */
  private[graft] def cosineOfNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val n = na * nb
    when(n > 0, dot(a, b) / n).otherwise(lit(0.0))
  }

  /** DuckDB twin of [[cosine]] over two `DOUBLE[]` SQL expressions:
    * `list_dot_product` accumulates left to right like `vec_dot`.
    */
  def cosineSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a)) *
       |          sqrt(list_dot_product($b, $b)) > 0
       |  THEN list_dot_product($a, $b) /
       |       (sqrt(list_dot_product($a, $a)) *
       |        sqrt(list_dot_product($b, $b)))
       |  ELSE 0.0 END""".stripMargin

  /** Symmetric per-vector int8 quantization — the 4x storage cut a
    * 100-TB embedding store takes before anything else: q_i =
    * floor(v_i * 127 / max|v| + 0.5) in [-127, 127] plus one float
    * scale (max|v| / 127) per vector; dequantized value = q_i * scale.
    * floor(x + 0.5), NOT round(): every arithmetic step is a single
    * IEEE op on identical inputs in any engine, so the quantized
    * codes are bit-reproducible cross-engine, while round()'s
    * half-case tie-break (HALF_UP vs HALF_EVEN) is not. All-zero
    * vectors quantize to all-zero codes with scale 0.
    */
  def quantizeInt8(vec: Column): Column =
    graft.functions.quantize_int8(vec.cast("array<double>"))

  /** The replaced HOF formulation, spec-only — pinned field-identical
    * to the [[graft.functions.QuantizeInt8]] kernel in
    * KernelEquivalenceSpec.
    */
  private[graft] def quantizeInt8Hof(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    struct(
      transform(v, x =>
        when(maxAbs > 0,
          floor(x * lit(127.0) / maxAbs + lit(0.5)).cast("int"))
          .otherwise(lit(0))).as("codes"),
      (maxAbs / lit(127.0)).cast("double").as("scale"))
  }

  /** Corpus candidates `(idCol, vecCol, _nrm)` paired with query rows
    * `(qIdCol, qVecCol, _qnrm)`, scored: the exact rerank every top-k
    * path shares — each path only generates its own candidates (the
    * EDBT 2020 incremental top-k / REPOSE split). Self pairs drop out;
    * a dimension mismatch fails loudly, because vec_dot would return
    * null and a null cos would silently take ranks instead of
    * surfacing the corrupt row. assert_true yields NULL on pass;
    * keeping it inside a Filter (not a projected-then-dropped column)
    * means pruning can't remove it.
    */
  private def scorePairs(cand: DataFrame, idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String): DataFrame =
    cand.filter(col(idCol) =!= col(qIdCol))
      .filter(assert_true(size(col(vecCol)) === size(col(qVecCol)),
        lit("embedding dimension mismatch between corpus and query")).isNull)
      .withColumn("cos", cosineOfNorms(col(vecCol).cast("array<double>"),
        col(qVecCol).cast("array<double>"), col("_nrm"), col("_qnrm")))

  /** The top `k` scored pairs per query by (cos desc, id): (qIdCol,
    * rank, idCol, cos).
    */
  private def topK(scored: DataFrame, idCol: String, qIdCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qIdCol), col("rank"), col(idCol), col("cos"))
  }

  /** `df` plus column `as`, the norm of `vecCol`: computed once per
    * vector, before any candidate join.
    */
  private def withNorm(df: DataFrame, vecCol: String, as: String): DataFrame =
    df.withColumn(as, norm(col(vecCol).cast("array<double>")))

  /** Exact cosine top-k of `corpus` rows for each query row.
    * `queries` must be small (it is broadcast); corpus streams.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val cand = withNorm(corpus, vecCol, "_nrm")
      .crossJoin(broadcast(withNorm(queries, qVecCol, "_qnrm")))
    topK(scorePairs(cand, idCol, vecCol, qIdCol, qVecCol), idCol, qIdCol, k)
  }

  /** Seed of LSH table 0's hyperplanes; table t draws from LshSeed + t. */
  private val LshSeed = 7L

  /** Deterministic random hyperplanes of LSH table `table`: `bits`
    * planes in `dim` dimensions from a fixed-seed Gaussian — identical
    * on every executor and every run.
    */
  def hyperplanes(dim: Int, bits: Int, table: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(LshSeed + table)
    Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit LSH bucket id of a vector under the given planes. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val d = dot(vec.cast("array<double>"), lit(p))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** (table, bucket) pairs under `tables` independent plane sets —
    * multi-table LSH: a pair is a candidate if it collides in ANY
    * table, recall 1-(1-p^bits)^tables for per-bit agreement p.
    */
  def lshTableBuckets(vec: Column, dim: Int, bits: Int, tables: Int): Column = {
    val all = (0 until tables).map { t =>
      struct(lit(t).as("tbl"), lshBucket(vec, hyperplanes(dim, bits, t)).as("bucket"))
    }
    array(all: _*)
  }

  /** Approximate top-k via multi-table LSH: corpus exploded into
    * (table, bucket) keys once, queries probe their buckets — an equi
    * join on (table, bucket), never a cross join. `tables`×`bits`
    * trades recall against candidate volume: for strongly-clustered
    * corpora few tables suffice; for weakly-correlated vectors raise
    * tables. No broadcast hint on either side: AQE broadcasts a small
    * query set at runtime on its own, and a large one (the case this
    * path exists for) must shuffle-join rather than OOM the driver.
    *
    * `dim` must equal the actual embedding length — on mismatch
    * zip_with would null-pad, dot() would return null, and every
    * vector would hash to bucket 0 in every table, silently
    * degenerating candidate generation to all-pairs. The guard below
    * raises instead.
    */
  def annTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String,
      k: Int, bits: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame = {
    val tb = (v: Column) => explode(lshTableBuckets(v, dim, bits, tables)).as("tb")
    val dimGuard = (v: Column) => assert_true(size(v) === dim,
      lit(s"embedding length != declared dim=$dim")).isNull
    // norms before the explode: once per vector, not once per table
    val c = withNorm(corpus.filter(dimGuard(col(vecCol))), vecCol, "_nrm")
      .select(col(idCol), col(vecCol), col("_nrm"), tb(col(vecCol)))
    val q = withNorm(queries.filter(dimGuard(col(qVecCol))), qVecCol, "_qnrm")
      .select(col(qIdCol), col(qVecCol), col("_qnrm"), tb(col(qVecCol)))
    // Score BEFORE the multi-table dedupe: cos is a pure function of
    // the pair, so every duplicate collision yields the identical
    // value and the dedupe becomes a map-side-combined aggregate over
    // (qid, id, cos) — one double crosses the exchange per candidate
    // instead of both dim-length vectors (a ~2*dim*8-byte row shrunk
    // to 24 bytes; at corpus scale the dedupe shuffle IS the
    // operator's dominant byte volume). The recomputed cosine per
    // extra collision is a codegen'd dim-length fold — noise next to
    // the bytes saved.
    val scored = scorePairs(c.join(q, "tb"), idCol, vecCol, qIdCol, qVecCol)
      .groupBy(col(qIdCol), col(idCol))
      .agg(max(col("cos")).as("cos"))
    topK(scored, idCol, qIdCol, k)
  }

  /** Approximate top-k via an IVF index: the coarse quantizer is
    * [[KMeans]] trained on `corpus` (seeds = the nlist smallest ids,
    * `trainIters` centroid updates), the corpus is assigned to its cell
    * inline on the scan with [[KMeans.cell]], and queries probe their
    * `nprobe` nearest cells — an equi-join on the cell id, never a
    * cross join. Recall/cost is tuned by nlist (cell granularity) and
    * nprobe (cells searched); candidates shrink ~nprobe/nlist versus
    * brute force. Integer centroids make the cells — and so the output
    * at any nprobe — independent of the shuffle-partition count. The
    * rerank cosine reads the raw vectors, never the quantized ones.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      qIdCol: String, qVecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      trainIters: Int = 5): DataFrame = {
    // KMeans counts assignment passes: trainIters updates + the last pass
    val model = KMeans.train(corpus, idCol, vecCol, nlist, trainIters + 1)._1
    // cell -1 (a null vector's) matches no probe; non-null by
    // construction, so the join infers no isnotnull(cell) filter that
    // would evaluate the whole cell expression a second time below it
    val c = withNorm(corpus.select(col(idCol), col(vecCol),
      coalesce(KMeans.cell(col(vecCol), model), lit(-1)).as("cell")), vecCol, "_nrm")
    // query probes: rank the nlist distances per query, keep nprobe
    val qd = withNorm(queries.filter(KMeans.dimGuard(col(qVecCol), model(0).s.length)),
        qVecCol, "_qnrm")
      .select(col(qIdCol), col(qVecCol), col("_qnrm"),
        posexplode(KMeans.distances(KMeans.quantize(col(qVecCol)), model))
          .as(Seq("cell", "dist")))
    val pw = Window.partitionBy(col(qIdCol)).orderBy(col("dist"), col("cell"))
    val probes = qd.withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col(qIdCol), col(qVecCol), col("_qnrm"), col("cell"))
    topK(scorePairs(c.join(probes, "cell"), idCol, vecCol, qIdCol, qVecCol),
      idCol, qIdCol, k)
  }

  /** Deterministic coarse cell for [[semDedup]]'s oracle path:
    * 2*argmax_i|v_i| + sign bit of that component. A fixed,
    * SQL-replayable quantizer (array_position / list_position both
    * take the FIRST max on ties, and |.|/>= on the same doubles
    * compare identically in any IEEE engine) standing in for a
    * trained k-means assignment where a bit-exact cross-engine replay
    * is needed. Empty/null-normed vectors land in cell -1.
    */
  def argmaxCell(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val a = transform(v, x => abs(x))
    val idx = array_position(a, array_max(a)) // 1-based long
    when(size(v) === 0, lit(-1L)).otherwise(
      idx * lit(2L) +
        when(element_at(v, idx.cast("int")) >= 0, lit(1L)).otherwise(lit(0L)))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540 — cluster-then-prune): pairwise cosine is
    * computed ONLY within a coarse-quantizer cell, near-dup groups
    * (cos >= tau, transitively closed within the cell) keep their
    * min-id member. The reference pipeline dedups content only; this
    * is the embedding-level op a training-data pipeline layers on top.
    *
    * `cell` is the pluggable quantizer expression: production passes
    * the trained k-means assignment ([[KMeans.cell]] under a
    * [[KMeans.train]] model); oracle-gated tests pass [[argmaxCell]]
    * (SQL-replayable). Scale shape: the
    * pair join is an equi-join on the cell id, so candidate mass is
    * sum(cellSize^2)/2 — bounded by quantizer balance (nlist tunes
    * it), never the N^2/2 of brute force; components are solved on
    * the sparse verified-pair graph by the shared CC engine, exactly
    * like the MinHash dedup family. No persist: `e` is consumed by
    * both join sides and the id spine, but it is a narrow
    * scan+transform — caching it would cost more block-manager
    * traffic than the recompute (same finding as the DBSCAN halo A/B).
    *
    * @return survivors: (idCol, cell, n_group) where n_group counts
    *         the semantic group the survivor represents (incl. itself)
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      cell: Column, tau: Double): DataFrame = {
    val e = corpus
      .select(col(idCol).cast("long").as("_id"), cell.as("_cell"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_nrm", norm(col("_v")))
    val pairs = e.as("a").join(e.as("b"),
        col("a._cell") === col("b._cell") && col("a._id") < col("b._id"))
      .withColumn("_cos",
        cosineOfNorms(col("a._v"), col("b._v"), col("a._nrm"), col("b._nrm")))
      .filter(col("_cos") >= tau)
      .select(col("a._id").as("src"), col("b._id").as("dst"))
    // labels cover only paired ids (sparse); canonical = min id of the
    // group, self where unpaired
    val labels = ConnectedComponents.label(pairs, "src", "dst")
    val canon = e.select(col("_id"), col("_cell"))
      .join(labels.withColumnRenamed("id", "_id"), Seq("_id"), "left")
      .select(col("_id"), col("_cell"),
        coalesce(col("label"), col("_id")).as("_canon"))
    val sizes = canon.groupBy(col("_canon")).agg(count(lit(1)).as("n_group"))
    canon.filter(col("_id") === col("_canon"))
      .join(sizes, Seq("_canon"))
      .select(col("_id").as(idCol), col("_cell").as("cell"), col("n_group"))
  }

  /** Maximal-Marginal-Relevance diversification — the greedy
    * re-ranking step after retrieval (Carbonell & Goldstein 1998):
    * pick, k times, the candidate maximizing
    * `lambda * relevance - (1 - lambda) * max similarity to anything
    * already picked`, trading relevance against redundancy. The
    * standard last mile of a RAG retriever (don't hand the generator
    * five near-identical passages).
    *
    * Exactness contract (what makes this oracle-replayable): all
    * scoring is INTEGER arithmetic. Inputs carry `rel_micros`
    * (integer micro-relevance); pairwise similarity quantizes as
    * `floor(cos * 1e6 + 0.5)` — cos is dot/(norm*norm) over
    * `array<double>` vectors accumulated in INDEX ORDER, every step a
    * single IEEE op, so any engine reproduces the exact long. The
    * greedy objective `lambdaMicros*rel - (1e6-lambdaMicros)*maxSim`
    * stays in exact longs (|score| <= 1e6 * 1e6 << 2^63); ties break
    * on smaller doc_id.
    *
    * Scale shape: candidates are k-per-query BY CONTRACT (the output
    * of a top-k retrieval), so each group is a few dozen rows —
    * `flatMapGroups` here is the documented legitimate tier (same as
    * the per-key spline), NOT a corpus-sized escape hatch: the one
    * shuffle is (query_id) over k-row groups, and the O(k^2) pairwise
    * sims per group happen in memory where they are free compared to
    * any join formulation.
    *
    * Input columns (by contract): query_id long, doc_id long,
    * rel_micros long, vec array<double>.
    * Output: (query_id, mmr_rank 1..k, doc_id, score_units) where
    * score_units = lambdaMicros*rel - (1e6-lambdaMicros)*maxSimMicros
    * (step 1: maxSim term = 0).
    */
  def mmrDiversify(cands: DataFrame, k: Int,
      lambdaMicros: Long = 700000L): DataFrame = {
    require(k >= 1, s"k >= 1 required, got $k")
    require(lambdaMicros >= 0 && lambdaMicros <= 1000000L,
      s"lambdaMicros in [0, 1e6] required, got $lambdaMicros")
    val spark = cands.sparkSession
    import spark.implicits._
    val ds = cands.select(col("query_id"), col("doc_id"),
        col("rel_micros"), col("vec").cast("array<double>"))
      .as[(Long, Long, Long, Seq[Double])]
    val out = ds.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // deterministic working order regardless of arrival order
      val rows = it.toArray.sortBy(_._2)
      val n = rows.length
      val vecs = rows.map(_._4.toArray)
      def simMicros(i: Int, j: Int): Long = {
        val a = vecs(i); val b = vecs(j)
        var d = 0.0; var na = 0.0; var nb = 0.0
        var x = 0
        while (x < a.length) {
          d += a(x) * b(x); na += a(x) * a(x); nb += b(x) * b(x); x += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        val cos = if (den > 0) d / den else 0.0
        math.floor(cos * 1e6 + 0.5).toLong
      }
      val picked = new Array[Boolean](n) // O(1) membership (round-12 advice)
      var nPicked = 0
      val maxSim = Array.fill(n)(Long.MinValue) // vs picked set; unset = step 1
      val outRows = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Long)]()
      var step = 1
      while (step <= math.min(k, n)) {
        var bestI = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val simTerm = if (nPicked == 0) 0L else maxSim(i)
            val score = lambdaMicros * rows(i)._3 -
              (1000000L - lambdaMicros) * simTerm
            if (score > bestScore ||
                (score == bestScore && rows(i)._2 < rows(bestI)._2)) {
              bestScore = score; bestI = i
            }
          }
          i += 1
        }
        outRows += ((qid, step, rows(bestI)._2, bestScore))
        picked(bestI) = true
        nPicked += 1
        // fold the new pick into every survivor's max-sim-to-picked
        var j = 0
        while (j < n) {
          if (!picked(j)) {
            val s = simMicros(j, bestI)
            if (s > maxSim(j)) maxSim(j) = s
          }
          j += 1
        }
        step += 1
      }
      outRows.iterator
    }
    out.toDF("query_id", "mmr_rank", "doc_id", "score_units")
  }
}
