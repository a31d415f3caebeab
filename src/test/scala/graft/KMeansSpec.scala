package graft

import org.apache.spark.sql.functions._

import graft.ops.KMeans

/** k-means assignment must (1) recover planted well-separated
  * clusters, (2) be invariant to physical partitioning — the integer
  * centroid discipline means shuffle merge order cannot perturb the
  * result — and (3) keep previous centroids for clusters that go
  * empty instead of crashing or renumbering.
  */
class KMeansSpec extends SparkSpec {

  private def planted(n: Int, centers: Seq[Seq[Double]]) = {
    val sess = spark
    import sess.implicits._
    // deterministic small jitter around each center, id encodes truth
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until n
    } yield {
      val jit = c.indices.map(d => c(d) + 0.001 * (((i * 7 + d * 3) % 5) - 2))
      ((ci * n + i).toLong, jit.map(_.toFloat).toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("recovers planted well-separated clusters (k seeds from distinct clusters)") {
    // seeds are the k smallest ids; interleave ids across clusters so
    // the first k ids hit k DIFFERENT true clusters
    val sess = spark
    import sess.implicits._
    val centers = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    val rows = for {
      i <- 0 until 30
    } yield {
      val ci = i % 3
      val c = centers(ci)
      val jit = c.indices.map(d => c(d) + 0.001 * (((i * 7 + d * 3) % 5) - 2))
      (i.toLong, jit.map(_.toFloat).toArray, ci)
    }
    val df = rows.toDF("vec_id", "embedding", "truth")
    val out = KMeans.assignClusters(df, "vec_id", "embedding", k = 3, iters = 3)
      .join(df.select(col("vec_id"), col("truth")), "vec_id")
      .collect()
    // assignment must be a bijection onto the planted structure:
    // every member of one truth group lands in one cluster, distinct
    // truth groups in distinct clusters
    val byTruth = out.groupBy(_.getAs[Int]("truth"))
      .map { case (t, rs) => t -> rs.map(_.getAs[Int]("cluster")).toSet }
    assert(byTruth.values.forall(_.size == 1), s"split cluster: $byTruth")
    assert(byTruth.values.map(_.head).toSet.size == 3)
  }

  test("assignment is invariant to repartitioning") {
    val df = planted(20, Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)))
    val a = KMeans.assignClusters(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = KMeans.assignClusters(df.repartition(7), "vec_id", "embedding",
        k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("a cluster that captures no points keeps its previous centroid") {
    val sess = spark
    import sess.implicits._
    // ids 0,1 both sit at the SAME location -> after iteration 1 all
    // points assign to cluster 0 (tie -> smallest id), cluster 1 goes
    // empty and must survive the update without crashing; every point
    // stays on cluster 0
    val df = Seq(
      (0L, Array(1.0f, 1.0f)),
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(1.01f, 0.99f)),
      (3L, Array(0.99f, 1.01f))).toDF("vec_id", "embedding")
    val out = KMeans.assignClusters(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(_.getInt(1))
    assert(out.forall(_ == 0))
  }

  test("a vector whose length differs from the seeds' fails, naming the dim") {
    val sess = spark
    import sess.implicits._
    // seeds (ids 0, 1) are 3-dim; id 2 is one element short — the
    // kernel alone would score it null against every centroid
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      KMeans.assignClusters(df, "vec_id", "embedding", k = 2, iters = 2).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.toString).toSeq
    assert(msgs.exists(_.contains("dim=3")), msgs.mkString("\n"))
  }

  test("oracle builder embeds the requested k/iters/dim") {
    val sql = KMeans.oracleSql("embeddings", "vec_id", "embedding",
      k = 8, iters = 3, dim = 64, scaleUnits = 1000000L)
    // seed rule mirrors the engine: k smallest ids via ordered LIMIT,
    // cluster id = rank (works for ANY id distribution, not just
    // dense 0..n-1)
    assert(sql.contains("ORDER BY id LIMIT 8"))
    assert(sql.contains("row_number() OVER (ORDER BY id) - 1"))
    assert(sql.contains("a3"))          // final assignment CTE
    assert(!sql.contains("a4"))         // and no extra iteration
    assert(sql.contains("generate_series(1, 64)"))
    assert(sql.contains("round(x * 1000000)"))
  }
}
