package graft

import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.Text

/** Pins the effect of [[GraftSession.PageSizeBytes]]: a string-keyed
  * broadcast hash relation takes whole Tungsten pages, so its footprint
  * follows the page size, not its row count. `Text.vocabOov` broadcasts
  * a [[Text.VocabSize]]-row vocabulary keyed by term. With the page
  * size Spark derives from the heap (32 MiB on the 7g `local[8]` test
  * JVM) this relation measured 33,555,440 bytes: one whole page.
  */
class BroadcastFootprintSpec extends SparkSpec {

  test("the vocabulary broadcast of vocabOov holds at most 2 MiB") {
    val df = Text.vocabOov(Tables(spark, sf001, "documents"))
    df.collect()
    val sizes = Bridge.broadcastRelationSizes(df.queryExecution.executedPlan)
    val vocab = sizes.collect { case ("UnsafeHashedRelation", b) => b }
    assert(vocab.size == 1, s"expected one string-keyed broadcast: $sizes")
    assert(vocab.head <= (2L << 20),
      s"vocabulary relation holds ${vocab.head} bytes: $sizes")
  }
}
