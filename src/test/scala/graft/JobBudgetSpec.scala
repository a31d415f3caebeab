package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Jobs per call as a pinned budget. The lexical operators are bound by
  * Spark's per-job cost at the bench scales, not by their data, so a
  * new aggregate-then-broadcast statistic or an extra shuffle shows up
  * here first. Each query runs once to warm up, then once more inside
  * its own job group into the `noop` sink (as the benchmark harness
  * runs it); every job that carries the group counts, the eager
  * lineage cuts and broadcast builds included.
  */
class JobBudgetSpec extends SparkSpec {

  private def jobsOfWarmCall(name: String): Int = {
    val sc = spark.sparkContext
    def run(): Unit = SparkEntry.queries(name)(spark, sf001)
      .write.format("noop").mode("overwrite").save()
    run()
    val group = s"job-budget-$name"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try run() finally sc.clearJobGroup()
      Profile.drain(spark)
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  for ((name, budget) <- Seq("llm_tfidf_topterms" -> 5, "llm_vocab_oov" -> 4,
      "llm_bm25_topk" -> 8, "llm_inverted_index" -> 2, "llm_ql_topk" -> 10))
    test(s"$name: a warm call runs at most $budget jobs") {
      val n = jobsOfWarmCall(name)
      info(s"$n jobs")
      assert(n <= budget, s"$name ran $n jobs, budget $budget")
    }
}
