package graft

/** Pins the r16 lineage-cut mode switch (spark.graft.lineage.cut):
  * `reliable` (eager checkpoint to reliable storage — the cluster
  * deployment mode, survives executor loss) must produce results
  * identical to the default `local` (eager localCheckpoint) on
  * queries that exercise cuts in every operator family that has them
  * (Text postings, NearDup banding, Dbscan assemble, LakeFinder); and
  * that `reliable` mode fails fast without a checkpoint dir on a
  * cluster.
  */
class LineageSpec extends SparkSpec {

  private def runAll(names: Seq[String]): Map[String, Seq[String]] =
    names.map { n =>
      n -> SparkEntry.queries(n)(spark, sf001)
        .collect().map(_.toString).sorted.toSeq
    }.toMap

  test("reliable checkpoint mode: identical results to the local default") {
    val names = Seq("llm_bm25_topk", "llm_hybrid_rrf", "m1_dbscan",
      "llm_simhash_neardup_tight")
    val local = runAll(names)
    spark.conf.set("spark.graft.lineage.cut", "reliable")
    try {
      val reliable = runAll(names)
      for (n <- names)
        assert(local(n) == reliable(n), s"$n diverged across cut modes")
    } finally spark.conf.unset("spark.graft.lineage.cut")
  }

  test("reliable mode: a non-local master without a checkpoint dir fails") {
    val e = intercept[IllegalArgumentException] {
      Lineage.checkpointDir(None, isLocal = false)
    }
    assert(e.getMessage.contains("spark.graft.checkpoint.dir"))
    assert(Lineage.checkpointDir(Some("hdfs://nn/ckpt"), isLocal = false) == "hdfs://nn/ckpt")
    val local = Lineage.checkpointDir(None, isLocal = true)
    assert(new java.io.File(local).isDirectory, local)
    new java.io.File(local).delete()
  }

  test("unknown mode is rejected loudly") {
    spark.conf.set("spark.graft.lineage.cut", "bogus")
    try {
      val e = intercept[Exception] {
        SparkEntry.queries("llm_bm25_topk")(spark, sf001).collect()
      }
      assert(e.getMessage.contains("spark.graft.lineage.cut"))
    } finally spark.conf.unset("spark.graft.lineage.cut")
  }
}
