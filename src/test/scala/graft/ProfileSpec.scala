package graft

import org.apache.spark.sql.functions._

/** Contracts of the bench record's query profile ([[Profile]]): what
  * the listener bills to a window and to a stage tag, and that one
  * [[Profile.drain]] makes the record complete with no wait loop.
  */
class ProfileSpec extends SparkSpec {

  /** Rows of one profile window around `body`. */
  private def profiled(body: => Unit): Map[String, String] = {
    val p = new Profile.Listener
    spark.sparkContext.addSparkListener(p)
    try {
      Profile.drain(spark)
      p.reset()
      body
      Profile.drain(spark)
      p.snapshot().toMap
    } finally spark.sparkContext.removeSparkListener(p)
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("task counters: a real job bills tasks + task cpu") {
    val m = profiled {
      spark.range(0, 1000000, 1, 8).selectExpr("sum(id * 3) as s").collect()
    }
    assert(m("jobs").toInt >= 1, m.toString)
    assert(m("tk_tasks").toLong >= 8, s"8-partition job must bill >= 8 tasks: $m")
    assert(m("tk_cpu").toDouble >= 0.0)
    // no caching in this job: zero storage churn
    assert(m("tk_drop") == "0" && m("tk_evict") == "0", m.toString)
  }

  test("explicit unpersist is invisible to tk_drop/tk_evict (no false evictions)") {
    // removeRdd goes through the RemoveRdd RPC, which posts no
    // per-block SparkListenerBlockUpdated events — only
    // block-manager-initiated status changes (storage-pressure
    // evictions, disk demotions) do. So a nonzero tk_evict is a REAL
    // eviction, not the operator's own cache hygiene; the
    // unpersisted-rdd-id exclusion is a second guard on top.
    val m = profiled {
      val df = spark.range(0, 100000, 1, 4).selectExpr("id", "id * 2 as y").persist()
      df.count()
      df.unpersist(true)
    }
    assert(m("tk_drop") == "0", s"explicit unpersist must not surface as dropped blocks: $m")
    assert(m("tk_evict") == "0", s"an EXPLICIT unpersist must never read as an eviction: $m")
    // the cached blocks DID exist: the job billed tasks
    assert(m("tk_tasks").toLong >= 4, m.toString)
  }

  test("a tagged stage bills its broadcast join's jobs and task cpu to the tag") {
    val m = profiled {
      Profile.stage("bj") {
        val big = spark.range(0, 1000000, 1, 8).selectExpr("id", "id % 100 as k")
        val small = spark.range(0, 100, 1, 2).selectExpr("id as k", "id * 2 as v")
        noop(big.join(broadcast(small), "k"))
      }
      // after the stage the tag is gone: this one-job scan is billed
      // to no tag
      spark.range(0, 10, 1, 1).collect()
    }
    val Array(wall, cpu, jobs) = m("bj").stripPrefix("[").stripSuffix("]").split(",")
    // the broadcast build runs on a broadcast-exchange thread; it is a
    // job of its own and still carries the tag
    assert(jobs.toInt >= 2, s"join + broadcast build: $m")
    assert(jobs.toInt == m("jobs").toInt - 1, s"every job but the untagged count: $m")
    assert(cpu.toDouble > 0.0, m.toString)
    assert(wall.toDouble > 0.0, m.toString)
  }

  test("an observe() metric is in the record right after drain") {
    val m = profiled {
      noop(spark.range(0, 1000, 1, 4).toDF()
        .observe("graft.profile_spec", count(lit(1)).as("obs_rows"), sum(col("id")).as("obs_sum")))
    }
    assert(m.get("obs_rows").contains("1000"), m.toString)
    assert(m.get("obs_sum").contains("499500"), m.toString)
  }

  test("an AvailableNow streaming run reports its micro-batches and state commits") {
    val m = profiled {
      SparkEntry.queries("stream_window_counts")(spark, sf001).collect()
    }
    assert(m.get("sq_batches").exists(_.toLong >= 1), m.toString)
    assert(m.contains("sq_state_commit"), m.toString)
  }
}
