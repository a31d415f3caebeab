package graft

import org.apache.spark.sql.functions._

import graft.ops.Text
import graft.queries.LlmQueries

class TextSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    spark.range(1).select(c).head()

  test("tokens: splits on runs of whitespace, drops empties") {
    val r = one(Text.tokens(lit("  a  b\tc \n d ")))
    assert(r.getSeq[String](0) == Seq("a", "b", "c", "d"))
  }

  test("shingles: word 3-grams; short docs yield empty") {
    assert(one(Text.shingles(lit(Array("a", "b", "c", "d")), 3))
      .getSeq[String](0) == Seq("a b c", "b c d"))
    assert(one(Text.shingles(lit(Array("a", "b")), 3)).getSeq[String](0).isEmpty)
  }

  test("jaccard: identical = 1, disjoint = 0, half overlap") {
    assert(one(Text.jaccard(lit(Array("x", "y")), lit(Array("x", "y")))).getDouble(0) == 1.0)
    assert(one(Text.jaccard(lit(Array("x")), lit(Array("y")))).getDouble(0) == 0.0)
    val j = one(Text.jaccard(lit(Array("a", "b", "c")), lit(Array("b", "c", "d")))).getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("langId: stopword profiles pick the dominant language") {
    assert(one(Text.langId(lit("the cat and the dog in a house"))).getString(0) == "en")
    assert(one(Text.langId(lit("der hund und die katze ist ein tier"))).getString(0) == "de")
    assert(one(Text.langId(lit("el perro y la casa es un lugar"))).getString(0) == "es")
  }

  test("fingerprint: equal for equal text, order-insensitive over tokens") {
    val a = one(Text.fingerprint(lit("alpha beta gamma"))).getString(0)
    val b = one(Text.fingerprint(lit("gamma alpha beta"))).getString(0)
    assert(a == b) // min word-hash ignores order
    val c = one(Text.fingerprint(lit("alpha beta delta"))).getString(0)
    assert(a != c || a == c) // differing sets may or may not share min; just type-check
  }

  test("qualityScore in [0,1] and favors stopword-rich prose") {
    val good = one(Text.qualityScore(lit("the quick brown fox is in the barn and the dog"))).getDouble(0)
    val bad = one(Text.qualityScore(lit("@@@ ### !!! %%% &&&"))).getDouble(0)
    assert(good > bad)
    assert(good <= 1.0 && bad >= 0.0)
  }

  test("gopherFlags: each rule trips on its crafted counterexample") {
    def flags(text: String): Map[String, Any] = {
      val r = one(Text.gopherFlags(lit(text)))
      val st = r.getStruct(0)
      st.schema.fieldNames.zip(st.toSeq).toMap
    }
    // a healthy document: 60 prose words with stopwords, no symbols
    val good = (("the data that we have to work with and the results " +
      "of the study show that models trained with care perform well ") * 3).trim
    val g = flags(good)
    assert(g("pass") == true, s"healthy doc failed: $g")
    // too short
    assert(flags("the of and that have with be to")("pass_word_count") == false)
    // symbol spam: '#' ratio over 10%
    val hashy = good.split(" ").map(w => s"# $w").mkString(" ")
    assert(flags(hashy)("pass_symbol_ratio") == false)
    // bullet spam: every line starts with '-'
    val bullets = (1 to 20).map(i => s"- item $i").mkString("\n")
    assert(flags(bullets)("pass_bullet_lines") == false)
    // ellipsis endings over 30% of lines
    val dots = (1 to 10).map(i => s"line number $i goes on...").mkString("\n")
    assert(flags(dots)("pass_ellipsis_lines") == false)
    // numeric soup: under 80% alphabetic words
    val nums = good + " " + (1 to 60).map(_.toString).mkString(" ")
    assert(flags(nums)("pass_alpha_words") == false)
    // stopword-free text
    val noStop = (1 to 60).map(i => s"word$i").mkString(" ")
    assert(flags(noStop)("pass_stop_words") == false)
    // mean word length out of range (all 1-char words)
    val tiny = Seq.fill(60)("a").mkString(" ")
    assert(flags(tiny)("pass_mean_len") == false)
  }

  test("pplBuckets: balanced terciles, head outranks tail, deterministic") {
    val docs = Tables(spark, sf001, "documents")
    val out = Text.pplBuckets(docs).collect()
    val byBucket = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // ntile(3): bucket sizes differ by at most 1
    assert(byBucket.values.max - byBucket.values.min <= 1, byBucket.toString)
    // the ordering actually stratifies: every head doc's avg log-prob
    // >= every tail doc's (equality only possible at the boundary)
    val scored = Text.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2).toDouble / r.getLong(1)).toMap
    val headMin = out.filter(_.getString(1) == "head").map(r => scored(r.getLong(0))).min
    val tailMax = out.filter(_.getString(1) == "tail").map(r => scored(r.getLong(0))).max
    assert(headMin >= tailMax, s"head min $headMin < tail max $tailMax")
    // deterministic across runs
    val again = Text.pplBuckets(docs).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .sameElements(again.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)))
  }

  test("normalizeUrl: scheme/www/query/fragment/trailing-slash variants collapse") {
    val sess = spark
    import sess.implicits._
    val urls = Seq(
      "https://WWW.Example.com/a/b",
      "http://example.com/a/b/",
      "https://example.com/a/b?utm=x#frag",
      "example.com/a/b///",
      "https://www.example.com/a/b#only-frag").toDF("url")
    val canon = urls.select(Text.normalizeUrl(col("url"))).collect().map(_.getString(0))
    assert(canon.forall(_ == "example.com/a/b"), canon.mkString(", "))
    // a DIFFERENT path must not collapse
    val other = Seq("https://example.com/a/c").toDF("url")
      .select(Text.normalizeUrl(col("url"))).head.getString(0)
    assert(other == "example.com/a/c")
  }

  test("invertedIndex: df/tf/posting-range on a crafted corpus; minDf prunes") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana banana date")).toDF("doc_id", "text")
    val idx = Text.invertedIndex(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(idx("apple") == ((1L, 2L, 1L, 1L)))   // 1 doc, tf 2
    assert(idx("banana") == ((3L, 4L, 1L, 3L)))  // every doc, tf 1+1+2
    assert(idx("cherry") == ((1L, 1L, 2L, 2L)))
    val pruned = Text.invertedIndex(docs, minDf = 2).collect().map(_.getString(0))
    assert(pruned.toSet == Set("banana"))
  }

  test("bm25TopK: hand-computed scores and ranks on a crafted corpus") {
    val sess = spark
    import sess.implicits._
    // doc 1: apple x2 (len 3); doc 2: apple x1 (len 2); doc 3: no apple
    val docs = Seq(
      (1L, "apple apple pie"),
      (2L, "apple tart"),
      (3L, "cherry tart date")).toDF("doc_id", "text")
    val queries = Seq(("q", "apple")).toDF("query_id", "query_text")
    val got = Text.bm25TopK(docs, queries, k = 10).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // N=3, avgdl=8/3, df(apple)=2 -> idf = ln(1 + 1.5/2.5), quantized
    // to integer micros BEFORE the tf fraction (libm-independence of
    // the score — see bm25TopK's Exactness note)
    val idfMicros = math.rint(math.log(1 + (3 - 2 + 0.5) / (2 + 0.5)) * 1e6)
    def s(tf: Long, dl: Long) = math.round(
      idfMicros * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (8.0 / 3))))
    assert(got.toSeq == Seq((1, 1L, s(2, 3)), (2, 2L, s(1, 2))),
      got.mkString(", "))
  }

  test("queryLikelihoodTopK: hand-computed scores on a crafted corpus") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      (1L, "apple apple pie"),
      (2L, "apple tart"),
      (3L, "cherry tart date")).toDF("doc_id", "text")
    val queries = Seq((0L, "apple pie")).toDF("query_id", "query_text")
    val got = Text.queryLikelihoodTopK(docs, queries, k = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // |C| = 8 tokens; cf(apple)=3, cf(pie)=1; |q|=2
    val cTotal = 8L
    def termM(tfv: Long, cfv: Long) =
      math.round(math.log(1 + (tfv * cTotal) / (300.0 * cfv)) * 1e6)
    def dlM(dl: Long) = math.round(math.log(300.0 / (dl + 300.0)) * 1e6)
    val s1 = termM(2, 3) + termM(1, 1) + 2 * dlM(3) // doc 1: both terms
    val s2 = termM(1, 3) + 2 * dlM(2)               // doc 2: apple only
    assert(got.toSeq == Seq((1, 1L, s1), (2, 2L, s2)), got.mkString(", "))
  }

  test("bm25TopK and queryLikelihoodTopK: same rows under both lineage-cut modes") {
    val docs = Tables(spark, sf001, "documents")
    val queries = LlmQueries.retrievalQueries(spark, Seq(0L, 1L, 2L, 3L))
    def run(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      Text.bm25TopK(docs, queries, k = 10),
      Text.queryLikelihoodTopK(docs, queries, k = 10))
      .map(_.collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(1))))
    val local = run()
    spark.conf.set("spark.graft.lineage.cut", "reliable")
    val reliable = try run() finally spark.conf.unset("spark.graft.lineage.cut")
    assert(local.forall(_.nonEmpty))
    assert(local == reliable, "lexical rows diverged across cut modes")
  }

  test("postings statistics: null and empty text stay out of N, avgdl and |C|, ANSI on or off") {
    val sess = spark
    import sess.implicits._
    val clean = Seq((1L, "apple apple pie"), (2L, "apple tart"), (3L, "cherry tart date"))
    val docs = (clean ++ Seq((4L, null), (5L, "  "))).toDF("doc_id", "text")
    val queries = Seq(("q", "apple pie")).toDF("query_id", "query_text")
    def rows(d: org.apache.spark.sql.DataFrame) = Seq(
      Text.bm25TopK(d, queries), Text.queryLikelihoodTopK(d, queries))
      .map(_.collect().toSeq.sortBy(_.getInt(1)))
    val expected = rows(clean.toDF("doc_id", "text"))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    for (mode <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", mode)
      try {
        // with ANSI off size(null) is -1, the doc_len of a null text
        val nullSize = spark.sql("SELECT size(CAST(NULL AS array<string>))").head()
        assert(if (mode == "false") nullSize.getInt(0) == -1 else nullSize.isNullAt(0))
        val p = Text.postings(docs)
        assert((p.nDocs, p.nTokens) == ((3L, 8L)), s"ansi=$mode")
        assert(rows(docs) == expected, s"ansi=$mode")
      } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    }
  }

  test("ql quantization margin: every reachable sf0.01 ln argument is far from a half-point") {
    // Both QL transcendentals quantize to micros; their arguments are
    // exact rationals of fixture longs, so enumerate the REACHABLE
    // sets for the declared query terms: (tf, cf, |C|) triples for the
    // matched-term ln and distinct doc_len for the length ln. Require
    // >= 1e-4 distance from a rounding half-point (cross-libm ln
    // discrepancy at this scale is <= ~1e-8).
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val tf = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val cTotal = tf.agg(sum(col("tf"))).collect()(0).getLong(0)
    val qterms = Seq("spark", "window", "agg", "hash", "join", "merge",
      "batch", "fast", "scan", "filter", "value", "customer", "order",
      "line")
    val cf = tf.filter(col("term").isin(qterms: _*))
      .groupBy("term").agg(sum(col("tf")).as("cf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairs = tf.filter(col("term").isin(qterms: _*))
      .select(col("term"), col("tf")).distinct()
      .collect().map(r => (r.getLong(1), cf(r.getString(0))))
    val dls = docs.select(col("doc_id"),
        size(Text.tokens(col("text"))).as("dl"))
      .select(col("dl")).distinct().collect().map(_.getInt(0))
    def dist(v: Double) = math.abs(v - math.floor(v) - 0.5)
    val worstTerm = pairs.map { case (t, c) =>
      dist(math.log(1 + (t * cTotal) / (300.0 * c)) * 1e6)
    }.min
    val worstDl = dls.map(d =>
      dist(math.log(300.0 / (d + 300.0)) * 1e6)).min
    assert(worstTerm > 1e-4, s"QL matched-term margin $worstTerm")
    assert(worstDl > 1e-4, s"QL length-term margin $worstDl")
  }

  test("retrieval-eval DCG/RR quantization margin over the whole rank domain") {
    // llm_retrieval_eval rounds 1e6/log2(rank+1) and 1e6/rank; rank's
    // domain is {1..10}, so enumerate it: every value must sit far
    // from a rounding half-point relative to a generous 1e-8 absolute
    // cross-libm discrepancy (log2 may be computed as ln(x)/ln(2) on
    // one side and a native log2 on the other — a few ulps at 1e6
    // scale is ~1e-9). Worst measured: 0.058 at rank 4 (DCG).
    (1 to 10).foreach { r =>
      val dcg = 1e6 / (math.log(r + 1.0) / math.log(2.0))
      val rr = 1e6 / r
      Seq("dcg" -> dcg, "rr" -> rr).foreach { case (nm, v) =>
        val d = math.abs(v - math.floor(v) - 0.5)
        assert(d > 1e-2, s"$nm(rank=$r) = $v sits $d from a half-point")
      }
    }
  }

  test("bm25 idf quantization margin: every sf0.01 idf*1e6 is far from a rounding half-point") {
    // The one transcendental in the BM25 score is idf = ln(...);
    // round(idf*1e6) is libm-independent as long as no reachable idf
    // lands within a cross-libm ln() discrepancy (~2 ulps, <= 4.44e-16
    // relative => <= ~1e-8 absolute in micro units here) of a rounding
    // half-point. The reachable idf set is one value per distinct
    // document-frequency, so pin the margin for the driver's fixture:
    // require >= 1e-4 distance — four orders of magnitude of slack.
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val tf = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = tf.select(col("doc_id")).distinct().count().toDouble
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df_count"))
      .select(col("df_count")).distinct()
      .collect().map(_.getLong(0))
    val worst = dfs.map { df =>
      val v = math.log(1 + (nDocs - df + 0.5) / (df + 0.5)) * 1e6
      math.abs(v - math.floor(v) - 0.5)
    }.min
    assert(worst > 1e-4,
      s"idf micro-quantization margin $worst too small at sf0.01")
    // same pin for tfIdfTopTerms' smoothed idf (ln((N+1)/(df+1)) + 1),
    // quantized at the same micro grain since round 12
    val worstTfidf = dfs.map { df =>
      val v = (math.log((nDocs + 1) / (df + 1.0)) + 1) * 1e6
      math.abs(v - math.floor(v) - 0.5)
    }.min
    assert(worstTfidf > 1e-4,
      s"tfidf idf micro-quantization margin $worstTfidf too small at sf0.01")
  }
}
