package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-enforced ingest (SURVEY.md §1.3): every catalog table is
  * read with a DECLARED StructType, the engine analogue of the
  * reference's hand-picked HDF5 datasets/dtypes
  * (atl06_to_atl11.py:170-196) — a mis-typed input must be rejected,
  * not silently coerced by whatever the file's footer claims.
  */
class TablesSpec extends SparkSpec {

  test("declared schemas are enforced, not inferred from footers") {
    for (n <- Tables.names) {
      val df = Tables(spark, sf001, n)
      assert(df.schema == Tables.schemas(n), s"schema drift on $n")
    }
    // events.ts must surface as raw ns longs despite TIMESTAMP(NANOS)
    assert(Tables(spark, sf001, "events").schema("ts").dataType == LongType)
  }

  test("events: TIMESTAMP(MICROS) ts widens to raw ns, UTC-adjusted or not") {
    val dir = Files.createTempDirectory("graft_events_micros").toString
    val micros = Seq(1514764800000000L, 1700000000123456L)
    val base = spark.createDataFrame(spark.sparkContext.parallelize(
        micros.zipWithIndex.map { case (us, i) =>
          org.apache.spark.sql.Row(i.toLong, us, 7L, "click", 1.5, "{}") }, 1),
        Tables.schemas("events"))
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      for ((sub, tsType) <- Seq("utc" -> "timestamp", "ntz" -> "timestamp_ntz")) {
        base.withColumn("ts", timestamp_micros(col("ts")).cast(tsType))
          .write.mode("overwrite").parquet(s"$dir/$sub/events.parquet")
        val df = Tables(spark, s"$dir/$sub", "events")
        assert(df.schema == Tables.schemas("events"), s"$sub: ${df.schema}")
        assert(df.orderBy("event_id").collect().map(_.getLong(1)).toSeq ==
          micros.map(_ * 1000L), sub)
      }
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("events: reading the table runs no Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Tables(spark, sf001, "events") // warm
    Profile.drain(spark)
    sc.addSparkListener(l)
    try {
      Tables(spark, sf001, "events")
      Profile.drain(spark)
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 0, s"reading events ran ${jobs.get} jobs")
  }

  test("a mis-typed parquet file is rejected at read, not coerced") {
    val dir = Files.createTempDirectory("graft_badschema").toString
    // "lineitem" with l_quantity as STRING — plausible producer bug
    spark.range(10)
      .select(col("id").as("l_orderkey"),
        format_string("%d", col("id")).as("l_quantity"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val ex = intercept[Exception] {
      Tables(spark, dir, "lineitem").select("l_quantity").collect()
    }
    val msg = ex.toString + Option(ex.getCause).map(_.toString).getOrElse("")
    assert(msg.toLowerCase.contains("parquet") || msg.toLowerCase.contains("schema")
      || msg.toLowerCase.contains("convert"), s"unexpected error: $msg")
  }

  test("declared schema prunes to the requested columns at scan") {
    val plan = Tables(spark, sf001, "lineitem")
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_comment"))
  }
}
