package graft

import org.apache.spark.sql.functions._

import graft.functions.{jaccard_sim, minhash_sig, simhash64, term_counts, vec_dot}

/** The codegen'd kernels (VecDot, MinHashSig, SimHash64, JaccardSim)
  * replaced interpreted higher-order-function formulations for speed,
  * and TermCounts a (doc, term) aggregate.
  * This spec pins BIT-IDENTICAL equivalence against those original
  * formulations, evaluated side by side on real table data — if a
  * kernel ever drifts from the declarative semantics (hash family,
  * accumulation order, null/dedupe contract), these fail.
  */
class KernelEquivalenceSpec extends SparkSpec {

  test("vec_dot == aggregate(zip_with(...)) fold, including length-mismatch null") {
    val e = Tables(spark, sf001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val hof = aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diff = e.select((vec_dot(col("v"), col("v")) =!= hof).as("ne")).filter(col("ne"))
    assert(diff.count() == 0, "vec_dot diverged from the HOF fold")
    // length mismatch -> null (the HOF's null-padding contract)
    val bad = e.limit(3).select(vec_dot(col("v"), slice(col("v"), 1, 10)).as("d"))
    assert(bad.collect().forall(_.isNullAt(0)))
  }

  test("centroid_dist == aggregate(zip_with(...)) fold, full vector and PQ slice") {
    import graft.ops.KMeans
    val e = Tables(spark, sf001, "embeddings")
    val (cents, _) = KMeans.train(e, "vec_id", "embedding", k = 4, iters = 2)
    val dim = cents(0).s.length
    val q = e.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => round(x * 1e6).cast("long")).as("v"))
    cents.foreach { c =>
      val ne = q.select(
        (graft.functions.centroid_dist(col("v"), 0, c.cnt, c.s) =!=
          KMeans.distHof(col("v"), 1, dim, c)).as("ne"))
        .filter(col("ne"))
      assert(ne.count() == 0, "full-vector kernel diverged from the HOF fold")
    }
    // PQ slice form: offset addressing must equal slice()+fold
    val sub = graft.ops.KMeans.Centroid(cents(0).cnt, cents(0).s.slice(16, 32))
    val ne2 = q.select(
      (graft.functions.centroid_dist(col("v"), 16, sub.cnt, sub.s) =!=
        KMeans.distHof(col("v"), 17, 16, sub)).as("ne"))
      .filter(col("ne"))
    assert(ne2.count() == 0, "sliced kernel diverged from the HOF fold")
    // null vector -> null distance (standard null-safe wrapper)
    val nul = spark.sql("select cast(null as array<bigint>) as v")
      .select(graft.functions.centroid_dist(
        col("v"), 0, cents(0).cnt, cents(0).s).as("d")).head
    assert(nul.isNullAt(0))
    // null ELEMENT -> null distance, matching the HOF twin's
    // poisoning (null * y nulls the fold) — never a silent 0-read
    val nelArr = (0 until dim)
      .map(i => if (i == 3) "cast(null as bigint)" else s"${i}L")
      .mkString("array(", ", ", ")")
    val nel = spark.sql(s"select $nelArr as v")
      .select(
        graft.functions.centroid_dist(col("v"), 0, cents(0).cnt, cents(0).s).as("d"),
        KMeans.distHof(col("v"), 1, dim, cents(0)).as("h")).head
    assert(nel.isNullAt(0), "kernel must poison on a null element")
    assert(nel.isNullAt(1), "HOF reference should also be null")
    // vector shorter than the slice -> null (the HOF twin's zip_with
    // null padding), never a read past the array's end: full vector
    // one element short, and a PQ slice running off the end
    val short = spark.sql(
        s"select transform(sequence(1, ${dim - 1}), i -> cast(i as bigint)) as v")
      .select(
        graft.functions.centroid_dist(col("v"), 0, cents(0).cnt, cents(0).s).as("d"),
        KMeans.distHof(col("v"), 1, dim, cents(0)).as("h"),
        graft.functions.centroid_dist(col("v"), dim - 16, sub.cnt, sub.s).as("ds"),
        KMeans.distHof(col("v"), dim - 15, 16, sub).as("hs")).head
    assert((0 until 4).forall(short.isNullAt), s"short vector must yield null: $short")
  }

  test("quantize_int8 == array_max/transform/floor HOF formulation, field-wise") {
    val e = Tables(spark, sf001, "embeddings")
    val ne = e.select(
      graft.functions.quantize_int8(col("embedding").cast("array<double>")).as("k"),
      graft.ops.Embeddings.quantizeInt8Hof(col("embedding")).as("h"))
      .filter(!(col("k.codes") <=> col("h.codes")) ||
        !(col("k.scale") <=> col("h.scale")))
    assert(ne.count() == 0, "kernel diverged from the HOF twin on real data")
    // edge vectors: null element (skipped by array_max, null code),
    // all-null (otherwise(0) codes, null scale), all-zero (codes 0,
    // scale 0), NaN (NaN-largest: passes the > 0 guard, codes 0 via
    // the long-floor cast)
    val edges = spark.sql("""
      select v from values
        (array(1.0D, cast(null as double), -2.0D)),
        (array(cast(null as double), cast(null as double))),
        (array(0.0D, 0.0D)),
        (array(double('NaN'), 1.0D)) as t(v)""")
    val ne2 = edges.select(
      graft.functions.quantize_int8(col("v")).as("k"),
      graft.ops.Embeddings.quantizeInt8Hof(col("v")).as("h"))
      .filter(!(col("k.codes") <=> col("h.codes")) ||
        !(col("k.scale") <=> col("h.scale")))
    assert(ne2.count() == 0, "kernel diverged on edge vectors")
  }

  test("minhash_sig == array_min(transform(xxhash64(s, j))) per permutation") {
    val numPerms = 8
    val d = Tables(spark, sf001, "documents")
      .select(col("doc_id"),
        graft.ops.Text.shingles(graft.ops.Text.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val hof = transform(sequence(lit(0), lit(numPerms - 1)),
      j => array_min(transform(col("sh"), s => xxhash64(s, j))))
    val diff = d.select((minhash_sig(col("sh"), numPerms) =!= hof).as("ne"))
      .filter(col("ne"))
    assert(diff.count() == 0, "minhash_sig diverged from the HOF formulation")
  }

  test("simhash64 == per-bit vote fold over xxhash64(token)") {
    val d = Tables(spark, sf001, "documents")
      .select(graft.ops.Text.tokens(col("text")).as("t"))
      .limit(100)
    val votes = aggregate(col("t"), array_repeat(lit(0L), 64),
      (acc, tok) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, i) => a + when(
          call_function("shiftright", xxhash64(tok), i.cast("int")) % 2 =!= 0, lit(1L))
          .otherwise(lit(-1L))))
    val hof = aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v >= 0,
          call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
    val diff = d.select((simhash64(col("t")) =!= hof).as("ne")).filter(col("ne"))
    assert(diff.count() == 0, "simhash64 diverged from the HOF formulation")
  }

  test("jaccard_sim == size(array_intersect)/size(array_union) with empty-union zero") {
    val d = Tables(spark, sf001, "documents")
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("t"))
    val pairs = d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 7)
    val inter = size(array_intersect(col("a.t"), col("b.t"))).cast("double")
    val uni = size(array_union(col("a.t"), col("b.t"))).cast("double")
    val hof = when(uni > 0, inter / uni).otherwise(lit(0.0))
    val diff = pairs
      .select((jaccard_sim(col("a.t"), col("b.t")) =!= hof).as("ne")).filter(col("ne"))
    assert(diff.count() == 0, "jaccard_sim diverged from intersect/union")
    // empty arrays -> 0.0
    val z = spark.sql("SELECT CAST(array() AS ARRAY<STRING>) AS e")
      .select(jaccard_sim(col("e"), col("e")).as("j")).collect()
    assert(z.head.getDouble(0) == 0.0)
  }

  test("shingles kernel == transform/sequence/concat_ws formulation") {
    val n = 3
    val d = Tables(spark, sf001, "documents")
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
    val idx = sequence(lit(0), size(col("toks")) - lit(n))
    val hof = when(size(col("toks")) >= n,
      transform(idx, i =>
        concat_ws(" ", (0 until n).map(o => element_at(col("toks"), i + lit(o) + 1)): _*)))
      .otherwise(array().cast("array<string>"))
    val diff = d
      .select((graft.functions.shingles(col("toks"), n) =!= hof).as("ne"))
      .filter(col("ne"))
    assert(diff.count() == 0, "shingles kernel diverged from the HOF formulation")
    // short docs -> empty array; n = 1 -> the tokens themselves
    val edge = spark.sql("SELECT array('a', 'b') AS t")
      .select(graft.functions.shingles(col("t"), 3).as("s3"),
        graft.functions.shingles(col("t"), 1).as("s1")).collect().head
    assert(edge.getSeq[String](0).isEmpty)
    assert(edge.getSeq[String](1) == Seq("a", "b"))
    // null tokens: concat_ws SKIPS nulls ("a b"), never double-separates
    // ("a  b") — unreachable via Text.tokens but part of the contract
    val nul = spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b') AS t")
      .select(graft.functions.shingles(col("t"), 2).as("k"),
        array(concat_ws(" ", element_at(col("t"), 1), element_at(col("t"), 2)),
          concat_ws(" ", element_at(col("t"), 2), element_at(col("t"), 3))).as("hof"))
      .collect().head
    assert(nul.getSeq[String](0) == nul.getSeq[String](1),
      "shingles must skip null tokens like concat_ws")
    assert(nul.getSeq[String](0) == Seq("a", "b"))
  }

  test("term_counts == groupBy(doc_id, term) counts: repeated, empty, null, non-ASCII tokens") {
    val sess = spark
    import sess.implicits._
    val extra = Seq[(Long, String)](
      (900001L, "a a b a  b c a"),
      (900002L, ""),
      (900003L, null),
      // precomposed vs decomposed é, CJK, sharp s vs its uppercase
      // fold: grouping compares bytes, so each is its own term
      (900004L, "caf\u00e9 cafe\u0301 caf\u00e9 na\u00efve \u65e5\u672c \u65e5\u672c \u00df SS ss \u00df"))
      .toDF("doc_id", "text")
    val toks = Tables(spark, sf001, "documents").select("doc_id", "text")
      .unionByName(extra)
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("toks"))
    val kernel = toks.select(col("doc_id"), inline(term_counts(col("toks"))))
    val grouped = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(kernel.exceptAll(grouped).isEmpty && grouped.exceptAll(kernel).isEmpty,
      "term_counts diverged from the (doc_id, term) aggregate")
    assert(kernel.filter(col("doc_id") === 900004L).count() == 7)
    // row contracts: first-occurrence order, null tokens skipped, an
    // empty array gives an empty histogram and a null array null
    val r = spark.sql("SELECT array('b', 'a', CAST(NULL AS STRING), 'b') AS t, " +
        "CAST(array() AS array<string>) AS e, CAST(NULL AS array<string>) AS n")
      .select(term_counts(col("t")), term_counts(col("e")), term_counts(col("n")))
      .head()
    assert(r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("b", 2L), ("a", 1L)))
    assert(r.getSeq[org.apache.spark.sql.Row](1).isEmpty)
    assert(r.isNullAt(2))
  }

  test("vec_dot declares input types: array<float> is cast, not misread") {
    // the catalog embedding column IS array<float>; without
    // ExpectsInputTypes, getDouble read 8-byte doubles from 4-byte
    // float slots -> silent garbage. Now the analyzer inserts the cast.
    val e = Tables(spark, sf001, "embeddings").limit(50)
    val diff = e.select(
        vec_dot(col("embedding"), col("embedding")).as("raw"),
        vec_dot(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("cast"))
      .filter(col("raw") =!= col("cast"))
    assert(diff.count() == 0, "uncast float input diverged from explicit cast")
    // non-castable element type -> analysis error, not garbage
    val bad = spark.sql("SELECT array(named_struct('a', 1)) AS v")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(vec_dot(col("v"), col("v"))).collect()
    }
  }

  test("vec_dot null contract: null element poisons the sum like the fold") {
    val df = spark.sql(
      "SELECT array(1.0d, CAST(NULL AS DOUBLE), 3.0d) AS a, array(1.0d, 2.0d, 3.0d) AS b")
    val r = df.select(vec_dot(col("a"), col("b")).as("d"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof")).collect().head
    assert(r.isNullAt(0), "vec_dot must be null on a null element")
    assert(r.isNullAt(1), "fold reference should also be null")
  }

  test("hash kernels: null elements are skipped; null arrays keep contracts") {
    val df = spark.sql(
      "SELECT array('a', NULL, 'b') AS withNull, array('a', 'b') AS noNull")
    val r = df.select(
      minhash_sig(col("withNull"), 8) === minhash_sig(col("noNull"), 8),
      simhash64(col("withNull")) === simhash64(col("noNull")),
      jaccard_sim(col("withNull"), col("noNull"))).collect().head
    assert(r.getBoolean(0), "minhash_sig must skip null elements")
    assert(r.getBoolean(1), "simhash64 must skip null elements")
    assert(r.getDouble(2) == 1.0, "jaccard_sim must ignore null elements")
    // null ARRAY: kernel propagates null; Text.jaccard preserves the
    // original declarative contract of 0.0
    val n = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS a, array('x') AS b")
      .select(jaccard_sim(col("a"), col("b")).as("k"),
        graft.ops.Text.jaccard(col("a"), col("b")).as("t")).collect().head
    assert(n.isNullAt(0), "jaccard_sim kernel propagates null arrays")
    assert(n.getDouble(1) == 0.0, "Text.jaccard coalesces null arrays to 0.0")
  }
}
