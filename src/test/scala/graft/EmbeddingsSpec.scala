package graft

import org.apache.spark.sql.functions._

import graft.ops.{Embeddings, KMeans}

class EmbeddingsSpec extends SparkSpec {

  private def emb = Tables(spark, sf001, "embeddings")

  test("cosine: self-similarity is 1, symmetry holds") {
    val e = emb.limit(5).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val self = e.select(Embeddings.cosine(col("v"), col("v")).as("c")).collect()
    assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("brute-force top-k: k rows per query, descending cosine, excludes self") {
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Embeddings.bruteForceTopK(emb, q, "vec_id", "embedding", "qid", "qvec", 10)
      .collect()
    assert(top.length == 50)
    val byQ = top.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1) - 1e-15))
      assert(!rows.exists(_.getLong(2) == qid), "self in top-k")
    }
  }

  test("ANN LSH: same-bucket candidates only, recall above bucket-chance") {
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Embeddings.bruteForceTopK(emb, q, "vec_id", "embedding", "qid", "qvec", 10)
      .select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Embeddings.annTopK(emb, q, "vec_id", "embedding", "qid", "qvec",
        k = 10, bits = 4, tables = 8)
      .select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    // this corpus's true top-10 neighbors sit at cos ~0.24-0.43 (weak
    // structure), where per-bit agreement p ~ 0.6: 8 tables x 4 bits
    // predicts recall 1-(1-p^4)^8 ~ 0.6-0.7 while touching ~40% of the
    // corpus — must clearly beat a random candidate set of that size
    assert(recall >= 0.45, s"ANN recall $recall below 0.45")
  }

  test("ANN LSH: large query sets are NOT force-broadcast") {
    // the scale path's whole point: a query set too big to broadcast
    // must plan as a shuffle join, not OOM the driver. Disable auto
    // broadcasting and verify no broadcast join remains in the plan.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val plan = Embeddings.annTopK(emb, q, "vec_id", "embedding", "qid", "qvec", k = 5)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ANN LSH: declared dim must match the vectors — fail fast") {
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ex = intercept[Exception] {
      Embeddings.annTopK(emb, q, "vec_id", "embedding", "qid", "qvec",
        k = 5, dim = 32).collect()
    }
    assert(ex.toString.toLowerCase.contains("dim")
      || Option(ex.getCause).exists(_.toString.toLowerCase.contains("dim")), ex.toString)
  }

  test("dimension mismatch fails fast in every top-k operator") {
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // 32-long query vectors against the 64-long corpus
    val q32 = q.withColumn("qvec", slice(col("qvec"), 1, 32))
    val runs = Seq[(String, () => Unit)](
      "bruteForceTopK" -> (() => Embeddings.bruteForceTopK(emb, q32,
        "vec_id", "embedding", "qid", "qvec", k = 5).collect()),
      "annTopK" -> (() => Embeddings.annTopK(emb, q32,
        "vec_id", "embedding", "qid", "qvec", k = 5).collect()),
      "ivfTopK" -> (() => Embeddings.ivfTopK(emb, q32,
        "vec_id", "embedding", "qid", "qvec", k = 5, trainIters = 1).collect()))
    runs.foreach { case (name, run) =>
      val ex = intercept[Exception](run())
      assert(ex.toString.toLowerCase.contains("dim")
        || Option(ex.getCause).exists(_.toString.toLowerCase.contains("dim")),
        s"$name: $ex")
    }
  }

  test("shared rerank: full-probe IVF is brute force, ANN cosines are brute force's") {
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "vec_id", "cos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = rows(Embeddings.bruteForceTopK(emb, q, "vec_id", "embedding", "qid", "qvec", 10))
    // probing every cell makes IVF exact: the same rows, bit-identical cos
    val ivf = rows(Embeddings.ivfTopK(emb, q, "vec_id", "embedding", "qid", "qvec",
      k = 10, nlist = 16, nprobe = 16, trainIters = 1))
    assert(ivf == brute)
    // every pair LSH returns carries brute force's cos for that pair
    val n = emb.count().toInt
    val all = Embeddings.bruteForceTopK(emb, q, "vec_id", "embedding", "qid", "qvec", n)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ann = rows(Embeddings.annTopK(emb, q, "vec_id", "embedding", "qid", "qvec",
      k = 10, bits = 4, tables = 8))
    assert(ann.nonEmpty)
    ann.foreach { case (qid, _, id, cos) =>
      assert(java.lang.Double.doubleToLongBits(cos) ==
        java.lang.Double.doubleToLongBits(all((qid, id))), s"($qid, $id): $cos vs ${all((qid, id))}")
    }
  }

  test("ANN IVF: k-means cells partition the corpus; probes shrink candidates; recall beats cell-chance") {
    val e = emb
    val n = e.count()
    // ivfTopK's default quantizer: 5 centroid updates = 6 assignment passes
    val (model, _) = KMeans.train(e, "vec_id", "embedding", k = 16, iters = 6)
    // every vector lands in exactly one cell, all cells valid ids
    val cells = e.select(col("vec_id"), KMeans.cell(col("embedding"), model).as("cell"))
      .groupBy("cell").count().collect()
    assert(cells.map(_.getLong(1)).sum == n)
    assert(cells.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 16))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def ivfRows(corpus: org.apache.spark.sql.DataFrame) =
      Embeddings.ivfTopK(corpus, q, "vec_id", "embedding", "qid", "qvec",
          k = 5, nlist = 16, nprobe = 4)
        .select("qid", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val rows = ivfRows(e.repartition(1))
    // integer centroids: the approximate (nprobe < nlist) answer does
    // not depend on how the corpus is partitioned
    assert(ivfRows(e.repartition(7)) == rows, "IVF rows changed with partitioning")
    val ivf = rows.map(r => (r._1, r._3))
    val brute = Embeddings.bruteForceTopK(e, q, "vec_id", "embedding", "qid", "qvec", 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(s"IVF recall at nprobe=4/16: $recall")
    // probing 4/16 cells touches ~25% of the corpus; data-adaptive
    // cells must do clearly better than the 25% random-subset baseline
    assert(recall >= 0.4, s"IVF recall $recall below 0.4")
    // candidate shrinkage: probed cells hold well under the whole corpus
    val probedShare = cells.filter(_.getLong(1) > 0).map(_.getLong(1)).sorted.reverse.take(4).sum.toDouble / n
    assert(probedShare < 0.9, s"top-4 cells hold $probedShare of corpus - quantizer degenerate")
  }

  test("semDedup: planted scaled copies collapse onto min-id originals; others survive") {
    val e = emb
    val n = e.count()
    val planted = e.filter(col("vec_id") % 89 === 0)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
      .withColumn("embedding", transform(col("embedding"), x => x * lit(2.0f)))
    val nPlanted = planted.count()
    val out = Embeddings.semDedup(e.unionByName(planted), "vec_id", "embedding",
      Embeddings.argmaxCell(col("embedding")), tau = 0.99)
    val rows = out.collect()
    val survivors = rows.map(_.getLong(0)).toSet
    // every planted copy must be pruned (its original has the smaller id)
    assert(!survivors.exists(_ >= 1000000L), "a planted copy survived")
    // originals of planted copies represent a group of >= 2
    val bySize = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    e.filter(col("vec_id") % 89 === 0).collect().map(_.getLong(0)).foreach { id =>
      assert(survivors.contains(id), s"original $id missing")
      assert(bySize(id) >= 2L, s"original $id group size ${bySize(id)}")
    }
    // conservation: group sizes sum to the full corpus
    assert(rows.map(_.getLong(2)).sum == n + nPlanted)
    // same-cell invariant: a survivor's group members share its cell —
    // checked implicitly by construction (pairs are cell-equi-joined);
    // here assert the quantizer itself is total (no null cells)
    assert(rows.forall(!_.isNullAt(1)))
  }

  test("semDedup pair join is an equi-join on the cell, not a cross join") {
    val e = emb.limit(200)
    val out = Embeddings.semDedup(e, "vec_id", "embedding",
      Embeddings.argmaxCell(col("embedding")), tau = 0.99)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in semDedup plan:\n$plan")
  }
}