package graft

import org.apache.spark.sql.functions._

import graft.ops.ProductQuantizer

/** PQ contracts: (1) codes are valid codebook indices and identical
  * vectors always get identical codes; (2) the ADC search's rank-1 hit
  * is the query vector itself whenever it is in the database — its
  * codes are the per-subspace argmins, so no other code tuple can have
  * a smaller table-lookup sum (ties break toward the smaller id, and
  * the query id is the corpus minimum here); (3) assignment is
  * invariant to physical partitioning — the integer-centroid
  * discipline means shuffle merge order cannot perturb codes.
  */
class ProductQuantizerSpec extends SparkSpec {

  private val dim = 8
  private val m = 2
  private val ksub = 4

  private def corpus(n: Int) = {
    val sess = spark
    import sess.implicits._
    val rows = (0 until n).map { i =>
      val v = Array.tabulate(dim)(d =>
        (math.sin(i * 13 + d * 7) * 10.0 + ((i % 4) * 25.0)).toFloat)
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("codes are in [0, ksub) and identical vectors share codes") {
    val sess = spark
    import sess.implicits._
    val base = corpus(40)
    // plant exact copies of vectors 3 and 17 under new ids
    val copies = base.filter(col("vec_id").isin(3L, 17L))
      .withColumn("vec_id", col("vec_id") + 1000L)
    val emb = base.unionByName(copies)
    val codes = ProductQuantizer.pqCodes(
      emb, "vec_id", "embedding", m = m, ksub = ksub, iters = 2)
    val rows = codes.collect().map(r =>
      r.getLong(0) -> (0 until m).map(j => r.getInt(j + 1))).toMap
    assert(rows.size == 42)
    rows.values.foreach(cs => cs.foreach(c => assert(c >= 0 && c < ksub)))
    assert(rows(3L) == rows(1003L))
    assert(rows(17L) == rows(1017L))
  }

  test("ADC rank-1 is the query vector itself; ranks are 1..k") {
    val top = ProductQuantizer.adcTopK(
      corpus(40), "vec_id", "embedding",
      m = m, ksub = ksub, iters = 2, queryId = 0L, k = 5)
      .collect()
    assert(top.length == 5)
    assert(top.map(_.getInt(0)).toSeq == (1 to 5))
    assert(top.head.getLong(1) == 0L)
    // distances are non-decreasing in rank
    val ds = top.map(_.getLong(2))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
  }

  test("IVF-PQ: rank-1 is the query; results agree with full-scan ADC on shared ids") {
    val emb = corpus(60)
    val full = ProductQuantizer.adcTopK(
        emb, "vec_id", "embedding",
        m = m, ksub = ksub, iters = 2, queryId = 0L, k = 60)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val probed = ProductQuantizer.ivfAdcTopK(
        emb, "vec_id", "embedding",
        coarseK = 4, coarseIters = 2, nprobe = 2,
        m = m, ksub = ksub, iters = 2, queryId = 0L, k = 10)
      .collect()
    assert(probed.length == 10)
    assert(probed.head.getLong(1) == 0L, "query's own cell is always probed")
    // probing restricts the candidate set but never changes a
    // candidate's ADC distance
    probed.foreach { r =>
      assert(full(r.getLong(1)) == r.getLong(2),
        s"adc mismatch for id ${r.getLong(1)}")
    }
  }

  test("null vectors are excluded from the index, never rank in a search") {
    val sess = spark
    import sess.implicits._
    val base = corpus(40)
    val withNull = base.unionByName(
      Seq((999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val codes = ProductQuantizer.pqCodes(
      withNull, "vec_id", "embedding", m = m, ksub = ksub, iters = 2)
    assert(codes.count() == 40, "null row must not receive codes")
    val top = ProductQuantizer.adcTopK(
      withNull, "vec_id", "embedding",
      m = m, ksub = ksub, iters = 2, queryId = 0L, k = 5)
      .collect()
    assert(!top.exists(_.getLong(1) == 999L),
      "null vector must never appear in search results")
    assert(top.head.getLong(1) == 0L)
  }

  test("a vector whose length differs from the seeds' fails, naming the dim") {
    val sess = spark
    import sess.implicits._
    val bad = corpus(40).unionByName(
      Seq((999L, Array.fill(dim + 2)(1.0f))).toDF("vec_id", "embedding"))
    val ex = intercept[Exception] {
      ProductQuantizer.pqCodes(bad, "vec_id", "embedding",
        m = m, ksub = ksub, iters = 2).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.toString).toSeq
    assert(msgs.exists(_.contains(s"dim=$dim")), msgs.mkString("\n"))
  }

  test("codes are invariant to input partitioning") {
    val emb = corpus(60)
    def run(parts: Int) = ProductQuantizer.pqCodes(
        emb.repartition(parts), "vec_id", "embedding",
        m = m, ksub = ksub, iters = 3)
      .collect().map(r => r.getLong(0) ->
        (0 until m).map(j => r.getInt(j + 1))).toMap
    assert(run(1) == run(7))
  }
}
