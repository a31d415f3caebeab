package graft

import org.apache.spark.sql.Row

/** Assertions for the composed lake-finder pipeline, run through the
  * declared query on sf0.001 — including a GOLDEN exact-output gate,
  * the analogue of the reference's exact 16/31 cluster-count BDD gate
  * (deepicedrain/features/subglacial_lakes.feature:13-15): any drift
  * in ANY stage of the composition (noise floor, clip, basin guard,
  * per-sign DBSCAN, size guard, hull, ring stats, MAD gate) changes
  * this table and fails the spec.
  */
class LakeFinderSpec extends SparkSpec {

  private lazy val rows: Array[Row] =
    SparkEntry.queries("lake_finder_pipeline")(spark, sf001).collect()

  test("lake finder: 3 draining + 2 filling lakes, ring stats populated") {
    assert(rows.length == 5, s"expected 5 lakes, got ${rows.length}")
    val bySign = rows.groupBy(_.getAs[Int]("sign"))
    assert(bySign(-1).length == 3, "3 draining lakes")
    assert(bySign(1).length == 2, "2 filling lakes")
    // draining labels are negative, filling positive
    assert(rows.forall(r =>
      math.signum(r.getAs[Long]("lake_label").toDouble) == r.getAs[Int]("sign")))
    // every lake has background ring points and a populated outer median
    assert(rows.forall(_.getAs[Long]("n_ring") > 0), "donut ring must catch background")
    assert(rows.forall(!_.isNullAt(rows.head.fieldIndex("outer_med"))))
    // inner medians match flow direction
    assert(rows.forall(r => r.getAs[Double]("inner_med") * r.getAs[Int]("sign") > 0))
    // refgtracks is a sorted |-joined set
    assert(rows.forall(_.getAs[String]("refgtracks").contains("|")))
    // the inner vs outer contrast is strong on this construction
    assert(rows.forall(_.getAs[Boolean]("is_active")))
  }

  test("lake finder: golden 5-row table at sf0.001 (exact 16/31-style gate)") {
    // every lake's tracks cover all 40 planted track ids
    val allTracks = (0 until 40).map(i => f"$i%04d_pt1").mkString("|")
    // (lake_label, basin, sign, n_points, inner_med, outer_med, n_ring)
    // lake_label = sign * min core sid; sid = (px*1e7 + py) * 2 + (sign<0 ? 0 : 1)
    val expected = Seq(
      (-2000000080334L, 0, -1, 1020L, -0.44, 0.111, 9L),
      (-1000000040002L, 1, -1, 1034L, -0.44, 0.112, 14L),
      (-136L, 0, -1, 957L, -0.45, 0.111, 15L),
      (3000020120113L, 1, 1, 1017L, 0.45, 0.111, 9L),
      (4000020160043L, 0, 1, 1020L, 0.45, 0.112, 10L))
    val got = rows.sortBy(_.getAs[Long]("lake_label")).map { r =>
      (r.getAs[Long]("lake_label"), r.getAs[Int]("basin"), r.getAs[Int]("sign"),
        r.getAs[Long]("n_points"), r.getAs[Double]("inner_med"),
        r.getAs[Double]("outer_med"), r.getAs[Long]("n_ring"))
    }.toSeq
    assert(got == expected, s"golden table drift:\n got      $got\n expected $expected")
    assert(rows.forall(_.getAs[String]("refgtracks") == allTracks))
    assert(rows.forall(_.getAs[Boolean]("is_active")))
  }

  test("input prep materializations carry the eps_estimate and m1_input_prep tags") {
    import graft.queries.LakeQueries
    // eps_estimate / m1_input_prep tag the EAGER input checkpoint that
    // observes the eps sizing count and that dbscan reads
    val profile = new Profile.Listener
    spark.sparkContext.addSparkListener(profile)
    def window(): Map[String, String] = {
      Profile.drain(spark)
      try profile.snapshot().toMap finally profile.reset()
    }
    try {
      window()
      LakeQueries.lakePipeline(spark, sf001).collect()
      assert(window().contains("eps_estimate"),
        "lake pipeline must tag its input-prep materialization")
      LakeQueries.m1Dbscan(spark, sf001).collect()
      assert(window().contains("m1_input_prep"),
        "m1 must tag its input-prep materialization")
    } finally spark.sparkContext.removeSparkListener(profile)
  }
}
