package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over an embedding column — the one
  * trainer behind the vector family: plain k-means ([[assignClusters]]),
  * the per-subspace codebooks of [[ProductQuantizer]] and the IVF
  * coarse quantizer of [[Embeddings.ivfTopK]] all train and assign
  * here. It is ORACLE-EXACT: a SQL engine replaying the same
  * fixed-point arithmetic reproduces the assignment bit-for-bit, so
  * cluster membership itself is a gated query result, not just an
  * implementation detail.
  *
  * Exactness design (the repo-wide integer discipline):
  *   - vectors quantize once to integer units `round(x * ScaleUnits)` —
  *     deterministic in both engines (double->long round);
  *   - a centroid is the exact rational (sum: array<long>, count):
  *     integer aggregation is order-independent, so the shuffle's
  *     nondeterministic merge order cannot perturb it, and the result
  *     does not change with the shuffle-partition count;
  *   - the point-to-centroid distance avoids dividing the centroid:
  *     D_j = sum_d (dbl(cnt_j*x_d - s_jd))^2 / dbl(cnt_j^2), each term
  *     one product + one division in double, folded LEFT-TO-RIGHT over
  *     dimensions (`aggregate` here, `list_reduce` in the oracle) —
  *     identical IEEE op sequence, identical bits. cnt*x fits a long
  *     for counts <= ~1e10 rows at unit scale 1e6; the square is taken
  *     in double (exact cast below 2^53, then one rounded multiply).
  *   - argmin = array_position(arr, array_min(arr)): linear expression
  *     tree (a when()-fold accumulator is exponential), first match on
  *     ties = smallest cluster id;
  *   - empty clusters keep their previous centroid in both engines.
  *
  * Subspaces: [[lloyd]] trains m contiguous subspaces of the vector at
  * once, one independent codebook per slice (product quantization);
  * plain k-means is the case m = 1.
  *
  * Scale shape: assignment is a narrow codegen'd expression over the
  * scan (k folds of dim/m terms per subspace per row); the
  * per-iteration centroid update is ONE map-side-combined shuffle
  * keyed by (subspace, cluster, dim) — k*dim groups — collected
  * driver-side as the O(k*dim) model. The quantized input is cached
  * across iterations (MEMORY_AND_DISK; at petabyte scale substitute a
  * checkpoint). Init centroids are the k smallest-id vectors, an
  * ordered limit-k, not a sample ([[seeds]]); `dim` is read off them.
  */
object KMeans {

  /** One centroid as exact integers. */
  final case class Centroid(cnt: Long, s: Array[Long])

  /** Fixed-point units per input unit: x quantizes to round(x * 1e6). */
  val ScaleUnits: Long = 1000000L

  private[ops] def quantize(vec: Column): Column =
    transform(vec.cast("array<double>"),
      x => round(x * ScaleUnits.toDouble).cast("long"))

  /** Runs `f` over the quantized `(_id, _v)` frame, cached for the
    * duration — composite index builds (IVF-PQ) share ONE cache across
    * their training loops and the query-vector fetch instead of
    * scanning the corpus once per model. Null/absent vectors are
    * EXCLUDED from the index: at corpus scale a broken row must not
    * poison training or rank first in a search (null codes -> null
    * distance sorts ahead under asc).
    */
  private[ops] def withQuantized[T](emb: DataFrame, idCol: String, vecCol: String)(
      f: DataFrame => T): T = {
    val q = emb.select(col(idCol).as("_id"), quantize(col(vecCol)).as("_v"))
      .filter(col("_v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(q) finally q.unpersist()
  }

  /** Filter predicate failing the query on a vector whose length is not
    * `dim` — a short vector would otherwise score null against every
    * centroid and a long one would be ranked on its prefix only.
    * assert_true yields NULL on pass; inside a Filter (not a projected-
    * then-dropped column) pruning cannot remove it.
    */
  private[ops] def dimGuard(v: Column, dim: Int): Column =
    assert_true(v.isNull || size(v) === dim,
      lit(s"embedding length != seed dim=$dim")).isNull

  /** The replaced HOF formulation over `slice(v, start, len)` (start
    * 1-based, matching Spark's slice()), spec-only.
    */
  private[graft] def distHof(v: Column, start: Int, len: Int, c: Centroid): Column = {
    require(c.s.length == len)
    val cnt = lit(c.cnt)
    val cc = lit((c.cnt * c.cnt).toDouble)
    aggregate(
      zip_with(slice(v, start, len), typedLit(c.s.toSeq), (x, s) => {
        val t = (cnt * x - s).cast("double")
        t * t / cc
      }),
      lit(0.0), (acc, d) => acc + d)
  }

  /** The exact-fold distances of the slice of quantized `v` at 0-based
    * `off` to each centroid, as one array in centroid order — the
    * codegen'd [[graft.functions.CentroidDist]] kernel, addressing the
    * slice directly (no per-row slice() copy). The interpreted
    * `aggregate(zip_with(...))` twin is kept as [[distHof]] and pinned
    * bit-identical in KernelEquivalenceSpec.
    */
  private[ops] def distances(v: Column, cents: Array[Centroid], off: Int = 0): Column =
    array(cents.toIndexedSeq.map(c =>
      graft.functions.centroid_dist(v, off, c.cnt, c.s)): _*)

  /** Nearest centroid of the slice of quantized `v` at `off`. */
  private[ops] def nearest(v: Column, cents: Array[Centroid], off: Int = 0): Column = {
    val arr = distances(v, cents, off)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  /** `code_0 … code_{m-1}`: the per-subspace nearest centroid of the
    * quantized vector `v` under codebooks `cents(j)`, subspace j being
    * the j-th contiguous slice of length dim/m.
    */
  private[ops] def codes(v: Column, cents: Array[Array[Centroid]]): Seq[Column] =
    cents.toIndexedSeq.zipWithIndex.map { case (cb, j) =>
      nearest(v, cb, j * cb(0).s.length).as(s"code_$j")
    }

  /** Cell of a raw (unquantized) vector column under a trained model:
    * the IVF coarse-quantizer assignment and the production cell for
    * [[Embeddings.semDedup]]. Evaluated inline in whatever scan uses it.
    */
  def cell(vec: Column, model: Array[Centroid]): Column =
    nearest(quantize(vec), model)

  /** (id, cluster) assignment after `iters` Lloyd iterations with
    * k deterministic seed centroids.
    */
  def assignClusters(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3): DataFrame =
    train(emb, idCol, vecCol, k, iters)._2
      .select(col("_id").as(idCol), col("cluster"))

  /** Trained model + assignment: (final centroids, DataFrame of
    * (_id, _v quantized, cluster)). `iters` counts assignment passes:
    * the returned centroids are the ones the final assignment used
    * (the last iteration assigns without updating), so iters = t + 1
    * runs t updates.
    */
  def train(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 3): (Array[Centroid], DataFrame) = {
    val (cents, assigned) =
      withQuantized(emb, idCol, vecCol)(q => lloyd(q, seeds(q, k)._1, iters, 1))
    (cents(0), assigned.withColumnRenamed("code_0", "cluster"))
  }

  /** The seed rule: the quantized vectors of the k smallest ids in
    * the cached `(_id, _v)` frame `q`. The vectors of the `fetch` ids
    * ride along in the same ordered-limit job (they sort first, the
    * rest by id), so a search reads its query vector without a job of
    * its own. Returns (seeds, the vectors of `fetch` in order).
    */
  private[ops] def seeds(q: DataFrame, k: Int, fetch: Seq[Long] = Nil)
      : (Array[Array[Long]], Seq[Array[Long]]) = {
    val fetched = col("_id").isin(fetch: _*)
    val rows = q.orderBy(when(fetched, 0).otherwise(1), col("_id"))
      .limit(k + fetch.size).select(col("_id"), col("_v"), fetched).collect()
    val (got, rest) = rows.partition(r => !r.isNullAt(2) && r.getBoolean(2))
    val seedRows =
      if (got.isEmpty) rest.take(k)
      else (got ++ rest).sortBy(r =>
        if (r.isNullAt(0)) (0, 0L) else (1, r.getAs[Number](0).longValue)).take(k)
    require(seedRows.length == k, s"input smaller than k=$k")
    val byId = got.map(r => r.getAs[Number](0).longValue -> r).toMap
    def vec(r: Row) = r.getSeq[Long](1).toArray
    (seedRows.map(vec), fetch.map(id =>
      vec(byId.getOrElse(id, throw new NoSuchElementException(s"no vector for id $id")))))
  }

  /** Lloyd over the quantized, cached `(_id, _v)` frame `q`, m
    * contiguous subspaces at once, from the [[seeds]] vectors:
    * (codebooks[m][k], DataFrame of (_id, _v, code_0 … code_{m-1})).
    * Every vector must have the seeds' length, divisible by m.
    */
  private[ops] def lloyd(q: DataFrame, seeds: Array[Array[Long]], iters: Int,
      m: Int): (Array[Array[Centroid]], DataFrame) = {
    require(iters > 0 && m > 0)
    val dim = seeds(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subLen = dim / m
    val guarded = q.filter(dimGuard(col("_v"), dim))
    var cents: Array[Array[Centroid]] = Array.tabulate(m) { j =>
      seeds.map(v => Centroid(1L, v.slice(j * subLen, (j + 1) * subLen)))
    }
    var assigned: DataFrame = null
    for (i <- 1 to iters) {
      assigned = guarded.select(col("_id") +: col("_v") +: codes(col("_v"), cents): _*)
      if (i < iters) {
        // ONE shuffle for all m subspaces: (sub, cluster, dim) integer
        // sums; the member count rides on each group (constant per
        // (sub, cluster))
        val stats = assigned
          .select(
            posexplode(col("_v")).as(Seq("d", "x")),
            array((0 until m).map(j => col(s"code_$j")): _*).as("codes"))
          .withColumn("sub", (col("d") / subLen).cast("int"))
          .withColumn("cl", element_at(col("codes"), col("sub") + 1))
          .groupBy(col("sub"), col("cl"), col("d"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.map(c => Centroid(c.cnt, c.s.clone())))
        stats.groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("cl")))
          .foreach { case ((sub, cl), rows) =>
            val s = new Array[Long](subLen)
            rows.foreach(r =>
              s(r.getAs[Int]("d") - sub * subLen) = r.getAs[Long]("s"))
            next(sub)(cl) = Centroid(rows.head.getAs[Long]("n"), s)
          }
        // (sub, cluster) pairs absent from stats keep their previous
        // centroid — matches the oracle's COALESCE
        cents = next
      }
    }
    (cents, assigned)
  }

  /** DuckDB oracle replaying [[assignClusters]] verbatim: chained CTEs
    * per iteration (quantize -> assign -> integer-sum update), built
    * here so query and oracle can never drift structurally.
    */
  def oracleSql(
      table: String, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int, scaleUnits: Long): String =
    chainsSql(table, idCol, vecCol, k, iters, dim, scaleUnits) +
      s"""
         |SELECT id AS $idCol, cl AS cluster FROM a$iters""".stripMargin

  /** The CTE chain only (q, c1, a1, e1, u1, c2 … a{iters}) with no
    * final SELECT — composable into larger oracles (IVF-PQ).
    */
  private[ops] def chainsSql(
      table: String, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int, scaleUnits: Long): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (
         |  SELECT $idCol AS id,
         |         list_transform(CAST($vecCol AS DOUBLE[]),
         |           x -> CAST(round(x * $scaleUnits) AS BIGINT)) AS v
         |  FROM $table),
         |c1 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cl,
         |         v AS s, CAST(1 AS BIGINT) AS cnt
         |  FROM (SELECT id, v FROM q ORDER BY id LIMIT $k))""".stripMargin)
    for (i <- 1 to iters) {
      // assignment against centroids c{i}
      sb.append(
        s""",
           |a$i AS (
           |  SELECT id, cl, v FROM (
           |    SELECT q.id, c.cl, q.v,
           |           row_number() OVER (PARTITION BY q.id ORDER BY
           |             list_reduce(list_transform(list_zip(q.v, c.s),
           |               p -> (CAST(c.cnt * p[1] - p[2] AS DOUBLE)
           |                     * CAST(c.cnt * p[1] - p[2] AS DOUBLE))
           |                    / CAST(c.cnt * c.cnt AS DOUBLE)),
           |               (acc, d) -> acc + d) ASC, c.cl ASC) AS rn
           |    FROM q CROSS JOIN c$i c) WHERE rn = 1)""".stripMargin)
      if (i < iters) {
        val j = i + 1
        sb.append(
          s""",
             |e$i AS (
             |  SELECT cl, t.i AS d, CAST(sum(v[t.i]) AS BIGINT) AS s,
             |         count(*) AS cnt
             |  FROM a$i, LATERAL unnest(generate_series(1, $dim)) t(i)
             |  GROUP BY cl, t.i),
             |u$i AS (
             |  SELECT cl, list(s ORDER BY d) AS s, min(cnt) AS cnt
             |  FROM e$i GROUP BY cl),
             |c$j AS (
             |  SELECT c.cl, COALESCE(u.s, c.s) AS s, COALESCE(u.cnt, c.cnt) AS cnt
             |  FROM c$i c LEFT JOIN u$i u USING (cl))""".stripMargin)
      }
    }
    sb.toString
  }
}
