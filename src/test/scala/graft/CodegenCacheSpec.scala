package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics

import graft.ops.Text

/** Pins the effect of [[GraftSession]]'s compiled-class cache size, not
  * only its key: Spark's codegen cache must hold the text family's
  * working set, so repeating the same calls in one session soon
  * compiles no class. At Spark's default of 100 entries these three
  * calls (105 classes in a fresh JVM) evict each other, and every
  * round recompiles about 60 of them.
  *
  * A repeat can still compile a few classes. A class's source carries
  * its whole-stage codegen id, and AQE numbers new stages in the order
  * their inputs finish, so when two stages race, a later round can
  * number a few stages differently (measured in a fresh JVM, classes
  * per round: 105, 4, 4, 0, 0, ...). Each variant compiles once, so
  * a cache that holds the set reaches a round that compiles nothing;
  * one that cannot hold it never does.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Classes compiled so far in this JVM: one per cache miss. */
  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by one round of tf-idf, vocab-OOV and BM25. */
  private def round(): Long = {
    import spark.implicits._
    val docs = Tables(spark, sf001, "documents")
    val queries = Seq(("q1", "spark window agg"), ("q2", "hash join merge batch"))
      .toDF("query_id", "query_text")
    val c0 = compiled()
    Text.tfIdfTopTerms(docs, k = 5).collect()
    Text.vocabOov(docs).collect()
    Text.bm25TopK(docs, queries, k = 10).collect()
    compiled() - c0
  }

  test("repeating the text calls reaches a round that compiles no class") {
    val counts = ArrayBuffer(round())
    while (counts.last != 0 && counts.size < 6) counts += round()
    assert(counts.last == 0, s"classes compiled per round: $counts")
  }
}
