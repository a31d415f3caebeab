package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling", arXiv:2302.03169): score every raw document by how
  * much its hashed-n-gram profile looks like a TARGET domain rather
  * than the raw corpus, then draw a k-document sample with the
  * Gumbel-top-k trick. The reference repo has no counterpart — this
  * is one of the training-data curation ops the engine adds beyond
  * it.
  *
  * Method (paper §3, made engine-exact):
  *   - features: unigrams + word bigrams hashed into B buckets
  *     (first 8 md5 hex digits mod B — replayable in any engine
  *     with an md5 function),
  *   - bucket distributions: add-1-smoothed counts over the raw
  *     corpus (p_src) and over the target sample (p_tgt),
  *   - per-bucket log importance ratio ln(p_tgt/p_src), rounded to
  *     integer MICROS — the same exactness discipline as the bigram
  *     LM: all downstream sums are exact integer arithmetic, so the
  *     hash gate replays bit-identically cross-engine,
  *   - per-doc weight w = Σ over the doc's n-gram occurrences of the
  *     occurrence's bucket ratio (exact long),
  *   - sampling: Gumbel-top-k — g_i = -ln(-ln(u_i)) with u_i the
  *     52-bit md5 coin of the doc id (deterministic), also in
  *     micros; select the k largest (w + g), ties broken by doc_id.
  *
  * Scale shape: n-gram bucketing is a scan-speed projection; both
  * distributions are B-row aggregates with map-side combine; the
  * ratio table (B rows) broadcasts; the per-doc weight is ONE hash
  * aggregate. The global top-k window runs over one row per doc —
  * at 10^10 docs the production path replaces it with a threshold
  * from a deterministic hash-sample (the [[Text.pplBuckets]] stance)
  * or a WindowGroupLimit per shard + driver merge; same output, no
  * global sort of raw data.
  */
object ImportanceResampling {

  /** Hashed feature dimension B (the oracle SQL hard-codes it too). */
  val Buckets = 64

  /** Hashed n-gram bucket: first 8 md5 hex digits (32 bits) mod B. */
  private def bucketOf(ngram: Column): Column =
    (conv(substring(md5(ngram), 1, 8), 16, 10).cast("long") % Buckets)
      .cast("int")

  /** (keep..., _b): the bucket of every unigram and word-bigram
    * occurrence in the `text` column, from one tokenization: both gram
    * kinds come out of one explode_outer plus a null filter. A plain
    * explode (or a size filter on the token column) makes Spark infer
    * a size filter on the tokens and push it below the projection,
    * which splits the text again (see `Text.termRows`).
    */
  private def gramBuckets(df: DataFrame, keep: Column*): DataFrame =
    df.select(keep :+ Text.tokens(col("text")).as("_t"): _*)
      .select(keep :+ explode_outer(expr(
        "concat(_t, if(size(_t) >= 2, transform(sequence(1, size(_t) - 1), " +
          "i -> concat(_t[i - 1], ' ', _t[i])), array()))")).as("_g"): _*)
      .filter(col("_g").isNotNull)
      .select(keep :+ bucketOf(col("_g")).as("_b"): _*)

  /** @param docs   raw corpus (the DSIR "source" distribution), with
    *               `doc_id` and `text` columns
    * @param target target-domain sample, same text column
    * @param k      documents to select
    * @return (doc_id, rank, n_grams, w_micros, score_micros) — the k
    *         selected docs, rank 1..k by (score DESC, doc_id)
    */
  def dsirSelect(docs: DataFrame, target: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    val spark = docs.sparkSession

    // ONE materialization of the bucketed gram stream (r16, the
    // bm25TopK postings-cut pattern): the source distribution and the
    // per-doc weights both consume it, and without the cut the corpus
    // tokenize + explode + per-gram md5 executed twice. Cut
    // AFTER the bucket projection so only (doc_id, bucket) — 12
    // bytes/gram, not the gram strings — is stored.
    val docGrams = graft.Lineage.cut(gramBuckets(docs, col("doc_id")))
    val srcDist = docGrams.groupBy(col("_b")).agg(count(lit(1)).as("_cs"))
    val tgtDist = gramBuckets(target)
      .groupBy(col("_b")).agg(count(lit(1)).as("_ct"))

    // complete bucket table: empty buckets still carry smoothing mass.
    // The corpus and target totals are sums over it, so each
    // distribution is aggregated once. Operand order of the double
    // products/division is fixed so the IEEE result — and therefore
    // the micro rounding — replays bit-identically in the oracle.
    val allB = spark.range(Buckets).select(col("id").cast("int").as("_b"))
    val ratios = allB
      .join(srcDist, Seq("_b"), "left")
      .join(tgtDist, Seq("_b"), "left")
      .select(col("_b"),
        round(log(
          ((coalesce(col("_ct"), lit(0L)) + 1).cast("double") *
            (sum(col("_cs")).over() + Buckets).cast("double")) /
            ((coalesce(col("_cs"), lit(0L)) + 1).cast("double") *
              (sum(col("_ct")).over() + Buckets).cast("double"))) * 1e6)
          .cast("long").as("_lr_micros"))

    val weights = docGrams
      .join(broadcast(ratios), Seq("_b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("_lr_micros")).as("w_micros"))

    // deterministic Gumbel noise from the 52-bit md5 coin
    val u = expr("cast(conv(substring(md5(concat(cast(doc_id as string), " +
      "'#dsir')), 1, 13), 16, 10) as long)").cast("double") /
      lit(4503599627370496.0)
    val scored = weights
      .withColumn("score_micros",
        col("w_micros") + round(-log(-log(u)) * 1e6).cast("long"))
    val w = Window.orderBy(col("score_micros").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("n_grams"),
        col("w_micros"), col("score_micros"))
  }
}
