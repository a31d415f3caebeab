package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.functions.Vec

/** Product quantization (PQ) — the FAISS-style compression stage that
  * turns a d-dim float vector into m small integer codes, one per
  * contiguous subspace, each code indexing a per-subspace k-means
  * codebook. Together with the hyperplane-LSH and IVF families in
  * [[Embeddings]] this completes the standard ANN index triad
  * (LSH / IVF / PQ): at 100 TB the PQ codes are what actually sits in
  * memory (m bytes per vector instead of 4·d), and IVF-PQ = coarse
  * IVF cell + PQ residual codes is the textbook billion-vector layout.
  *
  * Training and code assignment are [[KMeans]]'s Lloyd over m
  * contiguous subspaces, so the CODES THEMSELVES are an oracle-gated
  * query result under its integer discipline (exact-rational
  * centroids, left-to-right distance fold, first-match argmin, empty
  * clusters keep their centroid) — ONE map-side-combined shuffle per
  * iteration covers all m subspaces. What is PQ's own lives here: the
  * ADC distance tables, the IVF-PQ composition, and the oracle
  * builders that replay both.
  */
object ProductQuantizer {

  import KMeans.Centroid

  /** (id, code_0 … code_{m-1}) after `iters` Lloyd iterations per
    * subspace. Scalar code columns (not an array) so the driver's
    * engine-independent hash compare sees plain integers.
    */
  def pqCodes(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): DataFrame =
    KMeans.withQuantized(emb, idCol, vecCol)(q =>
        KMeans.lloyd(q, KMeans.seeds(q, ksub)._1, iters, m))._2
      .drop("_v").withColumnRenamed("_id", idCol)

  /** ADC (asymmetric distance computation) top-k search — the reason
    * PQ exists: the query vector is NOT quantized; per subspace a
    * ksub-entry distance table from the query slice to every codebook
    * centroid is computed ONCE driver-side, and each database vector's
    * distance is m table lookups + (m-1) adds over its CODES — no
    * float vector is touched at scan time. At 100 TB this is the
    * in-memory rerank path: 4 bytes/vector of codes instead of 256
    * bytes of floats, scan-speed, embarrassingly parallel.
    *
    * Exactness: the distance table replays the centroid fold
    * ([[graft.functions.Vec.centroidDist]], one product + one division
    * per dim, folded left-to-right) driver-side — the same IEEE op
    * sequence DuckDB's list_reduce performs in [[adcOracleSql]] — and
    * the final sum is a left-associated (m-1)-add chain in both
    * engines, so the ordering (and the emitted micro-unit distance) is
    * bit-identical. Ties break on vec_id.
    */
  def adcTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int,
      queryId: Long, k: Int): DataFrame = {
    // the query vector is read from the training cache, in the seed job
    val (cents, codes, qv) = KMeans.withQuantized(emb, idCol, vecCol) { q =>
      val (s, Seq(v)) = KMeans.seeds(q, ksub, Seq(queryId))
      val (c, a) = KMeans.lloyd(q, s, iters, m)
      (c, a.drop("_v"), v)
    }
    topK(codes, adcSum(distTables(qv, cents)), idCol, k)
  }

  /** Per-subspace distance tables: dtab(j)(c) = exact fold of the
    * quantized query's j-th slice against codebook entry c — the
    * assignment kernel itself, called driver-side.
    */
  private def distTables(qv: Array[Long],
      cents: Array[Array[Centroid]]): Array[Array[Double]] = {
    val subLen = cents(0)(0).s.length
    val dim = subLen * cents.length
    require(qv.length == dim, s"query vector length ${qv.length} != seed dim=$dim")
    val v = ArrayData.toArrayData(qv)
    Array.tabulate(cents.length)(j =>
      cents(j).map(c => Vec.centroidDist(v, j * subLen, c.cnt, c.s).doubleValue))
  }

  /** The left-associated sum of the m table lookups over the codes. */
  private def adcSum(dtab: Array[Array[Double]]): Column =
    dtab.indices.map(j =>
        element_at(typedLit(dtab(j).toSeq), col(s"code_$j") + 1))
      .reduceLeft(_ + _)

  /** (rank, id, adc_units) top-k of `codes` by `adc`, ties on id.
    * orderBy+limit plans as TakeOrderedAndProject — per-partition
    * top-k heaps, no global sort; the rank window then runs over the k
    * surviving rows only.
    */
  private def topK(codes: DataFrame, adc: Column, idCol: String, k: Int): DataFrame =
    codes
      .withColumn("adc", adc)
      .orderBy(col("adc").asc, col("_id").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("adc").asc, col("_id").asc)))
      .select(col("rank"), col("_id").as(idCol),
        // floor-then-cast: identical bits in, identical integer out
        // (DuckDB's bare double->bigint cast ROUNDS; floor() doesn't)
        floor(col("adc")).cast("long").as("adc_units"))

  /** IVF-PQ search — the textbook billion-vector layout: an IVF
    * coarse quantizer (integer-exact [[KMeans]]) narrows the search to
    * the `nprobe` cells nearest the query, and ADC over PQ codes ranks
    * ONLY those candidates. Both the cell id and the m codes are
    * literal-centroid expressions, so the whole search is ONE narrow
    * scan (assign coarse cell -> probe filter -> m table lookups) into
    * a distributed top-k — zero joins, zero full-corpus distance
    * computations. At 100 TB with the corpus laid out
    * partition-per-cell-range, the probe filter becomes partition
    * pruning and the scan touches nprobe/nlist of the data.
    *
    * Exactness: coarse training, probe selection, PQ training, and the
    * ADC sum all run the repo's integer-centroid fold discipline, so a
    * SQL engine replays every step bit-for-bit ([[ivfAdcOracleSql]]).
    * Probe ties break toward the smaller cell id; result ties toward
    * the smaller vector id.
    */
  def ivfAdcTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      coarseK: Int, coarseIters: Int, nprobe: Int,
      m: Int, ksub: Int, iters: Int,
      queryId: Long, k: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarseK)
    // ONE quantized cache shared by the coarse and PQ training loops
    // and the query-vector fetch — the index build scans the corpus
    // once, not once per model
    val (coarse, pq, qv) = KMeans.withQuantized(emb, idCol, vecCol) { q =>
      // one seed job serves both models and the query vector
      val (s, Seq(v)) = KMeans.seeds(q, math.max(coarseK, ksub), Seq(queryId))
      (KMeans.lloyd(q, s.take(coarseK), coarseIters, 1)._1(0),
        KMeans.lloyd(q, s.take(ksub), iters, m)._1, v)
    }
    val probeCells: Seq[Int] = distTables(qv, Array(coarse))(0).zipWithIndex
      .sorted.take(nprobe).map(_._2).toIndexedSeq
    val cand = emb
      .select(col(idCol).as("_id"), KMeans.quantize(col(vecCol)).as("_v"))
      .withColumn("cell", KMeans.nearest(col("_v"), coarse))
      .filter(col("cell").isin(probeCells.map(Integer.valueOf): _*))
      .select(col("_id") +: KMeans.codes(col("_v"), pq): _*)
    topK(cand, adcSum(distTables(qv, pq)), idCol, k)
  }

  /** DuckDB oracle replaying [[pqCodes]] verbatim: one [[KMeans]]-style
    * chained CTE block per subspace over the sliced vector, joined on
    * id at the end. Built here so query and oracle cannot drift.
    */
  def oracleSql(
      table: String, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, dim: Int, scaleUnits: Long): String =
    chains(table, idCol, vecCol, m, ksub, iters, dim, scaleUnits) + {
      val selects = (0 until m).map(j => s"a${iters}_$j.cl AS code_$j")
        .mkString(",\n       ")
      val joins = (1 until m).map(j => s"JOIN a${iters}_$j USING (id)")
        .mkString("\n")
      s"""
         |SELECT id AS $idCol,
         |       $selects
         |FROM a${iters}_0
         |$joins""".stripMargin
    }

  /** DuckDB oracle replaying [[adcTopK]]: the per-subspace training
    * chains, then a distance table dt_j(cl, dist) from the quantized
    * query slice to the FINAL codebook c{iters}, then the left-
    * associated m-way sum over each vector's codes, ORDER BY + LIMIT.
    */
  def adcOracleSql(
      table: String, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, dim: Int, scaleUnits: Long,
      queryId: Long, k: Int): String = {
    val subLen = dim / m
    val sb = new StringBuilder
    sb.append(chains(table, idCol, vecCol, m, ksub, iters, dim, scaleUnits))
    sb.append(s""",
      |qv AS (SELECT v FROM q0 WHERE id = $queryId)""".stripMargin)
    for (j <- 0 until m) {
      val lo = j * subLen + 1
      val hi = (j + 1) * subLen
      sb.append(
        s""",
           |dt_$j AS (
           |  SELECT c.cl,
           |         list_reduce(list_transform(
           |             list_zip(list_slice(qv.v, $lo, $hi), c.s),
           |             p -> (CAST(c.cnt * p[1] - p[2] AS DOUBLE)
           |                   * CAST(c.cnt * p[1] - p[2] AS DOUBLE))
           |                  / CAST(c.cnt * c.cnt AS DOUBLE)),
           |           (acc, d) -> acc + d) AS dist
           |  FROM c${iters}_$j c, qv)""".stripMargin)
    }
    val joins = (0 until m).map(j =>
      s"JOIN dt_$j ON dt_$j.cl = a${iters}_$j.cl").mkString("\n  ")
    val codeJoins = (1 until m).map(j => s"JOIN a${iters}_$j USING (id)")
      .mkString("\n  ")
    val sum = (0 until m).map(j => s"dt_$j.dist").reduceLeft((a, b) => s"($a + $b)")
    sb.append(
      s""",
         |adc AS (
         |  SELECT id, $sum AS adc
         |  FROM a${iters}_0
         |  $codeJoins
         |  $joins)
         |SELECT CAST(row_number() OVER (ORDER BY adc ASC, id ASC) AS INTEGER)
         |         AS rank,
         |       id AS $idCol,
         |       CAST(floor(adc) AS BIGINT) AS adc_units
         |FROM adc
         |ORDER BY adc ASC, id ASC
         |LIMIT $k""".stripMargin)
    sb.toString
  }

  /** DuckDB oracle replaying [[ivfAdcTopK]]: the coarse [[KMeans]]
    * chain, the PQ chains, exact probe selection (distance of the
    * quantized query to each final coarse centroid, ORDER BY dist, cl
    * LIMIT nprobe), the candidate semi-join on the coarse assignment,
    * then the ADC distance tables and the left-associated sum over
    * codes, top-k with id tie-break.
    */
  def ivfAdcOracleSql(
      table: String, idCol: String, vecCol: String,
      coarseK: Int, coarseIters: Int, nprobe: Int,
      m: Int, ksub: Int, iters: Int, dim: Int, scaleUnits: Long,
      queryId: Long, k: Int): String = {
    val subLen = dim / m
    val sb = new StringBuilder
    // coarse chain: q, c1 … a{coarseIters}
    sb.append(KMeans.chainsSql(table, idCol, vecCol,
      coarseK, coarseIters, dim, scaleUnits))
    // PQ chains: q0, q_j, c1_j … a{iters}_j (suffixes avoid collision)
    sb.append(",\n")
    sb.append(chains(table, idCol, vecCol, m, ksub, iters, dim,
      scaleUnits, lead = ""))
    sb.append(
      s""",
         |qv AS (SELECT v FROM q WHERE id = $queryId),
         |dtq AS (
         |  SELECT c.cl,
         |         list_reduce(list_transform(list_zip(qv.v, c.s),
         |             p -> (CAST(c.cnt * p[1] - p[2] AS DOUBLE)
         |                   * CAST(c.cnt * p[1] - p[2] AS DOUBLE))
         |                  / CAST(c.cnt * c.cnt AS DOUBLE)),
         |           (acc, d) -> acc + d) AS dist
         |  FROM c$coarseIters c, qv),
         |probes AS (SELECT cl FROM dtq ORDER BY dist ASC, cl ASC LIMIT $nprobe),
         |cand AS (
         |  SELECT a.id FROM a$coarseIters a JOIN probes p ON a.cl = p.cl)""".stripMargin)
    for (j <- 0 until m) {
      val lo = j * subLen + 1
      val hi = (j + 1) * subLen
      sb.append(
        s""",
           |dt_$j AS (
           |  SELECT c.cl,
           |         list_reduce(list_transform(
           |             list_zip(list_slice(qv.v, $lo, $hi), c.s),
           |             p -> (CAST(c.cnt * p[1] - p[2] AS DOUBLE)
           |                   * CAST(c.cnt * p[1] - p[2] AS DOUBLE))
           |                  / CAST(c.cnt * c.cnt AS DOUBLE)),
           |           (acc, d) -> acc + d) AS dist
           |  FROM c${iters}_$j c, qv)""".stripMargin)
    }
    val codeJoins = (1 until m).map(j => s"JOIN a${iters}_$j USING (id)")
      .mkString("\n  ")
    val dtJoins = (0 until m).map(j =>
      s"JOIN dt_$j ON dt_$j.cl = a${iters}_$j.cl").mkString("\n  ")
    val sum = (0 until m).map(j => s"dt_$j.dist").reduceLeft((a, b) => s"($a + $b)")
    sb.append(
      s""",
         |adc AS (
         |  SELECT id, $sum AS adc
         |  FROM a${iters}_0
         |  $codeJoins
         |  $dtJoins
         |  JOIN cand USING (id))
         |SELECT CAST(row_number() OVER (ORDER BY adc ASC, id ASC) AS INTEGER)
         |         AS rank,
         |       id AS $idCol,
         |       CAST(floor(adc) AS BIGINT) AS adc_units
         |FROM adc
         |ORDER BY adc ASC, id ASC
         |LIMIT $k""".stripMargin)
    sb.toString
  }

  /** Shared CTE prefix: quantize, slice, and run the per-subspace
    * Lloyd chains (q0, q_j, c1_j, a{i}_j, e/u/c{i+1}_j …).
    * `lead` lets a composing oracle splice this chain after its own
    * WITH clause ("" -> no WITH keyword).
    */
  private def chains(
      table: String, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, dim: Int, scaleUnits: Long,
      lead: String = "WITH "): String = {
    require(dim % m == 0)
    val subLen = dim / m
    val sb = new StringBuilder
    sb.append(
      s"""${lead}q0 AS (
         |  SELECT $idCol AS id,
         |         list_transform(CAST($vecCol AS DOUBLE[]),
         |           x -> CAST(round(x * $scaleUnits) AS BIGINT)) AS v
         |  FROM $table)""".stripMargin)
    for (j <- 0 until m) {
      val lo = j * subLen + 1
      val hi = (j + 1) * subLen
      sb.append(
        s""",
           |q_$j AS (SELECT id, list_slice(v, $lo, $hi) AS v FROM q0),
           |c1_$j AS (
           |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cl,
           |         v AS s, CAST(1 AS BIGINT) AS cnt
           |  FROM (SELECT id, v FROM q_$j ORDER BY id LIMIT $ksub))""".stripMargin)
      for (i <- 1 to iters) {
        sb.append(
          s""",
             |a${i}_$j AS (
             |  SELECT id, cl FROM (
             |    SELECT q.id, c.cl,
             |           row_number() OVER (PARTITION BY q.id ORDER BY
             |             list_reduce(list_transform(list_zip(q.v, c.s),
             |               p -> (CAST(c.cnt * p[1] - p[2] AS DOUBLE)
             |                     * CAST(c.cnt * p[1] - p[2] AS DOUBLE))
             |                    / CAST(c.cnt * c.cnt AS DOUBLE)),
             |               (acc, d) -> acc + d) ASC, c.cl ASC) AS rn
             |    FROM q_$j q CROSS JOIN c${i}_$j c) WHERE rn = 1)""".stripMargin)
        if (i < iters) {
          val nx = i + 1
          sb.append(
            s""",
               |e${i}_$j AS (
               |  SELECT a.cl, t.i AS d, CAST(sum(q.v[t.i]) AS BIGINT) AS s,
               |         count(*) AS cnt
               |  FROM a${i}_$j a JOIN q_$j q USING (id),
               |       LATERAL unnest(generate_series(1, $subLen)) t(i)
               |  GROUP BY a.cl, t.i),
               |u${i}_$j AS (
               |  SELECT cl, list(s ORDER BY d) AS s, min(cnt) AS cnt
               |  FROM e${i}_$j GROUP BY cl),
               |c${nx}_$j AS (
               |  SELECT c.cl, COALESCE(u.s, c.s) AS s,
               |         COALESCE(u.cnt, c.cnt) AS cnt
               |  FROM c${i}_$j c LEFT JOIN u${i}_$j u USING (cl))""".stripMargin)
        }
      }
    }
    sb.toString
  }
}
