package graft

import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.Text
import graft.queries.LlmQueries

/** Pins the effect of [[GraftSession.PageSizeBytes]]: a string-keyed
  * broadcast hash relation takes whole Tungsten pages, so its footprint
  * follows the page size, not its row count. `Text.bm25TopK` broadcasts
  * its query-term table (a few rows per query) keyed by term. With the
  * page size Spark derives from the heap (32 MiB on the 7g `local[8]`
  * test JVM) such a relation measured 33,555,440 bytes: one whole page.
  */
class BroadcastFootprintSpec extends SparkSpec {

  test("the query-term broadcast of bm25TopK holds at most 2 MiB") {
    val df = Text.bm25TopK(Tables(spark, sf001, "documents"),
      LlmQueries.retrievalQueries(spark, Seq("q1", "q2", "q3", "q4")), k = 10)
    df.collect()
    val sizes = Bridge.broadcastRelationSizes(df.queryExecution.executedPlan)
    val keyed = sizes.collect { case ("UnsafeHashedRelation", b) => b }
    assert(keyed.nonEmpty, s"expected a string-keyed broadcast: $sizes")
    assert(keyed.forall(_ <= (2L << 20)),
      s"a term-keyed relation holds over 2 MiB: $sizes")
  }
}
