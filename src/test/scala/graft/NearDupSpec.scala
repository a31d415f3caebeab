package graft

import org.apache.spark.sql.functions._

import graft.ops.{NearDup, Text}

/** MinHash-LSH and SimHash near-dup detection verified against
  * brute-force all-pairs Jaccard on the sf0.001 corpus (small enough
  * that the quadratic truth set is cheap).
  */
class NearDupSpec extends SparkSpec {

  private def docs = {
    val d = Tables(spark, sf001, "documents")
    val planted = d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(100000L))
      .withColumn("text", concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)))
    d.unionByName(planted).select("doc_id", "text")
  }

  private def bruteTruth(threshold: Double): Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id"),
      Text.shingles(Text.tokens(col("text")), 3).as("sh"))
    sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", Text.jaccard(col("a.sh"), col("b.sh")))
      .filter(col("j") >= threshold)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash near-dup: full recall of planted pairs, high recall overall, exact precision") {
    val truth = bruteTruth(0.5)
    assert(truth.nonEmpty, "corpus should contain near-dup pairs")
    val found = NearDup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is 1.0 by construction (candidates are verified with
    // exact Jaccard) — check it anyway
    assert(found.subsetOf(truth), s"false positives: ${found.diff(truth)}")
    // planted pairs have Jaccard ~0.97 — banding must catch them all
    val planted = truth.filter(_._2 >= 100000)
    assert(planted.forall(found.contains), "planted near-dups missed")
    // overall recall of the banded LSH at j>=0.5 (b=8, r=4 S-curve)
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.7, s"recall $recall below 0.7 (found ${found.size}/${truth.size})")
  }

  test("simhash banded: deterministic band is a guarantee, 7..12 is corpus-pinned") {
    // ground truth: exact hamming distance of every planted pair
    val sig = docs.withColumn("_sim", graft.functions.simhash64(Text.tokens(col("text"))))
      .select("doc_id", "_sim")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val withinDist = sig.keys.filter(_ >= 100000L)
      .map(id2 => (id2 - 100000L, id2))
      .filter { case (a, b) => java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 12 }
      .toSet
    val pairs = NearDup.simhashPairs(docs, "doc_id", "text", maxDist = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withinDist.nonEmpty, "expected some planted pairs within hamming 12")
    // THE CONTRACT: hamming <= blocks-2 = 6 is guaranteed by
    // pigeonhole (>= 2 clean 8-bit blocks -> their pair key matches in
    // table 0). This half must NEVER fail, on any corpus.
    val detMissed = withinDist
      .filter { case (a, b) => java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 6 }
      .diff(pairs)
    assert(detMissed.isEmpty,
      s"DETERMINISTIC guarantee broken (hamming <= 6 missed): $detMissed")
    // CORPUS PIN, not contract: on this fixed sf0.001 corpus the
    // rotated tables happen to catch every 7..12 pair too (one planted
    // pair sits at hamming 9). Banding is deterministic for a fixed
    // corpus, so this is stable — but at sf0.1 the measured tail is
    // 368/369 (one 11-bit pattern stains 7 of 8 blocks in every
    // phase); if a regenerated fixture trips this assert, weaken it to
    // a recall bound rather than chasing full recall (NearDup.scala
    // doc has the measured per-distance recall).
    val missed = withinDist.diff(pairs)
    assert(missed.isEmpty, s"corpus-pinned 7..12 recall changed: $missed")
    // the same call with maxDist at the pigeonhole radius 8 - r (6 on
    // this fixture) emits exactly the guaranteed subset, nothing from
    // the probabilistic 7..12 band
    val detDist = 8 - NearDup.simhashKeyBlocks(docs.count())
    assert(detDist == 6, s"fixture left the r=2 regime: radius $detDist")
    val detPairs = NearDup.simhashPairs(docs, "doc_id", "text", maxDist = detDist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedDet = withinDist
      .filter { case (a, b) => java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 6 }
    assert(expectedDet.diff(detPairs).isEmpty,
      "the pigeonhole radius must still surface every hamming <= blocks-2 pair")
    assert(detPairs.forall { case (a, b) =>
      java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 6 },
      "the pigeonhole radius must emit nothing from the probabilistic band")
    assert(detPairs.subsetOf(pairs), "deterministic pairs must be a subset")
  }

  test("simhashKeyBlocks is step-wise: a 2x-off corpus count keeps the key width") {
    // this corpus sits mid-decade (r=2 holds to n=37449), so doubling
    // its count lands on the SAME key width — asserted strictly, not
    // as a bounded step, so a 2x sizing error at this scale provably
    // cannot change bands or recall
    val n = docs.count()
    assert(NearDup.simhashKeyBlocks(n) == NearDup.simhashKeyBlocks(2 * n),
      s"2x count error moved the key width at n=$n")
  }

  test("simhashKeyBlocks: key width grows with corpus count, capped at blocks-2") {
    // exact boundaries of the linear-budget rule at blocks=8/tables=3:
    // C(8,r)*n/2/2^(8r) <= 8  =>  r=2 up to n=37449, r=3 to ~4.79M,
    // r=4 to ~981M, r=5 to ~314B, then the blocks-2 cap
    assert(NearDup.simhashKeyBlocks(0) == 2)
    assert(NearDup.simhashKeyBlocks(1150) == 2)   // sf0.01 corpus: oracle geometry unchanged
    assert(NearDup.simhashKeyBlocks(12000) == 2)  // sf0.1 corpus
    assert(NearDup.simhashKeyBlocks(37449) == 2)
    assert(NearDup.simhashKeyBlocks(37500) == 3)
    assert(NearDup.simhashKeyBlocks(115000) == 3) // sf1 corpus: quadratic term collapses
    assert(NearDup.simhashKeyBlocks(5000000L) == 4)
    assert(NearDup.simhashKeyBlocks(1000000000L) == 5)
    assert(NearDup.simhashKeyBlocks(400000000000L) == 6)
    assert(NearDup.simhashKeyBlocks(Long.MaxValue / 4) == 6) // blocks-2 cap holds
    // monotone in n (a bigger corpus never gets a NARROWER key)
    val ns = Seq(1L, 100L, 40000L, 1000000L, 100000000L, 10000000000L)
    val rs = ns.map(NearDup.simhashKeyBlocks(_))
    assert(rs == rs.sorted, s"key width not monotone in n: $rs")
  }

  test("adaptive width keeps random-signature candidate pairs LINEAR in n") {
    // The corpus-pathology-free version of the sub-quadratic claim:
    // uniform-random 64-bit signatures have NO true near-pairs, so
    // every emitted pair is pure band-key collision — exactly the
    // term that made fixed 16-bit keys quadratic. Two corpus sizes
    // straddling the r=2 -> r=3 boundary (4k -> 40k docs, 100x the
    // pair universe): under the adaptive width, collisions per doc
    // must stay bounded; under a pinned r=2 they must grow
    // ~10x per doc (the quadratic signature this feature removes).
    // maxDist=64 disables the hamming cut so the raw collision mass
    // is what's counted; seeds are fixed -> fully deterministic.
    import spark.implicits._
    def randomSigs(n: Int) = {
      val rng = new scala.util.Random(42)
      (0 until n).map(i => (i.toLong, rng.nextLong())).toDF("id", "s")
    }
    def collisions(n: Int, r: Int): Long =
      NearDup.simhashPairsFromSignatures(randomSigs(n), "id", "s",
        maxDist = 64, r = r).count()
    val smallAdaptive = collisions(4000, NearDup.simhashKeyBlocks(4000))  // r=2
    val bigAdaptive = collisions(40000, NearDup.simhashKeyBlocks(40000))  // r=3
    val bigFixed = collisions(40000, 2)
    // expectations (84 or 168 bands over 2^16 / 2^24 keys):
    //   small r=2: ~84 * C(4k,2)/2^16  ~ 10.2k -> ~2.6 per doc
    //   big   r=3: ~168 * C(40k,2)/2^24 ~ 8.0k -> ~0.2 per doc
    //   big   r=2: ~84 * C(40k,2)/2^16  ~ 1.02M -> ~26 per doc
    val perDocSmall = smallAdaptive.toDouble / 4000
    val perDocBig = bigAdaptive.toDouble / 40000
    val perDocBigFixed = bigFixed.toDouble / 40000
    assert(perDocBig <= perDocSmall,
      s"adaptive collisions per doc grew with n: $perDocSmall -> $perDocBig")
    assert(perDocBigFixed > 5 * perDocSmall,
      s"fixed-width control did not show the quadratic term " +
        s"($perDocSmall -> $perDocBigFixed per doc) — test lost its teeth")
    assert(bigAdaptive * 20 < bigFixed,
      s"adaptive width should cut random collisions >= 20x at 40k docs " +
        s"(got $bigAdaptive vs fixed $bigFixed)")
  }

  test("simhash keyBlocks=3: pigeonhole guarantee holds at hamming <= blocks-3") {
    // the wide-corpus geometry (24-bit triple keys) on the small
    // fixture: every pair at hamming <= 5 has >= 3 clean blocks, so
    // some triple key matches in table 0 — a guarantee, not a corpus
    // pin. Also: a triple key match implies a match on each of its
    // block pairs in the same table, so with no bucket capped the r=3
    // candidate pairs are a subset of the r=2 ones. (Raw key-match
    // counts carry no such bound: a pair clean on m >= 6 blocks
    // matches C(m,3) > C(m,2) keys.)
    val sig = docs.withColumn("_sim", graft.functions.simhash64(Text.tokens(col("text"))))
      .select("doc_id", "_sim")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val det = sig.keys.filter(_ >= 100000L)
      .map(id2 => (id2 - 100000L, id2))
      .filter { case (a, b) => java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 5 }
      .toSet
    assert(det.nonEmpty, "expected planted pairs within hamming 5")
    def pairsAt(r: Int) = NearDup.simhashPairsFromSignatures(
        docs.withColumn("_sim", graft.functions.simhash64(Text.tokens(col("text")))),
        "doc_id", "_sim", maxDist = 12, r = r)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val pairs = pairsAt(3)
    val missed = det.diff(pairs)
    assert(missed.isEmpty,
      s"r=3 DETERMINISTIC guarantee broken (hamming <= 5 missed): $missed")
    val pairs2 = pairsAt(2)
    assert(pairs.subsetOf(pairs2),
      s"r=3 candidates outside the r=2 set: ${pairs.diff(pairs2).take(10)}")
  }

  test("sf0.01 oracle truth set sits inside the deterministic simhash band") {
    // The llm_simhash_neardup hash gate is only luck-free because its
    // truth pairs (Jaccard >= 0.5 on the sf0.01 planted corpus) ALL
    // sit at hamming <= blocks-2, where recall is guaranteed by
    // pigeonhole (measured round 7: 36 pairs, max hamming 6). A future
    // fixture change that pushes a truth pair into the probabilistic
    // 7..12 band should fail HERE with a clear message, not surface as
    // a mysterious oracle hash mismatch.
    val d01 = Tables(spark, sf01, "documents")
    val planted01 = d01.select(col("doc_id"), col("text"))
      .unionByName(d01.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text")))
    val withSig = planted01
      .withColumn("_sim", graft.functions.simhash64(Text.tokens(col("text"))))
      .withColumn("_sh", Text.shingles(Text.tokens(col("text")), 3))
    // the brute-force oracle also depends on the gate corpus staying
    // in the r=2 adaptive-width regime (recall 1.0 is only a contract
    // there — past the boundary the key widens and the oracle would
    // over-count by design); fail HERE if a regenerated fixture ever
    // crosses it
    val nGate = planted01.count()
    assert(NearDup.simhashKeyBlocks(nGate) == 2,
      s"sf0.01 gate corpus ($nGate docs) left the r=2 adaptive-width " +
        "regime: the llm_simhash_neardup brute-force oracle no longer " +
        "matches the adaptive banding — re-plant a smaller fixture")
    val maxH = withSig.as("a").join(withSig.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .filter(Text.jaccard(col("a._sh"), col("b._sh")) >= 0.5)
      .select(bit_count(col("a._sim").bitwiseXOR(col("b._sim"))).as("h"))
      .agg(max(col("h")), count(lit(1))).collect()(0)
    assert(maxH.getLong(1) > 0, "oracle corpus lost its truth pairs")
    assert(maxH.getInt(0) <= 6,
      s"an sf0.01 oracle truth pair drifted to hamming ${maxH.getInt(0)} > 6: " +
        "the llm_simhash_neardup hash gate now depends on probabilistic " +
        "recall — raise tables for the gate corpus or re-plant the fixture")
  }

  test("tight gate truth sets sit inside (hamming <= 6) OR short-doc bypass") {
    // llm_simhash_neardup_tight (maxDist = 6, distCutMinTokens = 32)
    // is luck-free at a gate SF only when every j >= 0.8 truth pair
    // either sits in the deterministic band (h <= 6) or has a side
    // below the token floor (the bypass sends it to exact verify).
    // sf0.001 is where the short-doc tail actually bites — three
    // j >= 0.86 pairs of 15-24-token docs at hamming 7+ (found r15,
    // the first time the row ran at that SF) — so this guard covers
    // BOTH gate SFs, unlike the h <= 6-only pin above.
    for (sf <- Seq(sf001, sf01)) {
      val d = Tables(spark, sf, "documents")
      val planted = d.select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + lit(100000L)).as("doc_id"),
            concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)).as("text")))
      val withSig = planted
        .withColumn("_sim", graft.functions.simhash64(Text.tokens(col("text"))))
        .withColumn("_sh", Text.shingles(Text.tokens(col("text")), 3))
        .withColumn("_nt", size(Text.tokens(col("text"))))
      val escapes = withSig.as("a").join(withSig.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .filter(Text.jaccard(col("a._sh"), col("b._sh")) >= 0.8)
        .filter(bit_count(col("a._sim").bitwiseXOR(col("b._sim"))) > 6 &&
          col("a._nt") >= 32 && col("b._nt") >= 32)
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect()
      assert(escapes.isEmpty,
        s"$sf: j >= 0.8 truth pairs at hamming > 6 with BOTH sides " +
          s">= 32 tokens escape llm_simhash_neardup_tight's cut+bypass: " +
          s"${escapes.mkString(", ")} — raise distCutMinTokens in the " +
          "query or re-plant the fixture")
      // r16 (ADVICE r15): the bypass only sends a short-doc pair to
      // the exact verify if it COLLIDES IN A BAND first — a pair
      // whose error bits stain >= 7 of 8 blocks escapes every
      // C(8,2)-key in every rotation. The h <= 6 pin above says
      // nothing about these h > 6 bypass pairs, so "luck-free" also
      // needs banding candidate recall 1.0 ON THE BYPASS SET at both
      // gate SFs: every short-side truth pair at h > 6 must actually
      // appear in simhashPairs output under the tight settings.
      val bypassTruth = withSig.as("a").join(withSig.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .filter(Text.jaccard(col("a._sh"), col("b._sh")) >= 0.8)
        .filter(bit_count(col("a._sim").bitwiseXOR(col("b._sim"))) > 6 &&
          (col("a._nt") < 32 || col("b._nt") < 32))
        .select(col("a.doc_id").as("t1"), col("b.doc_id").as("t2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      if (bypassTruth.nonEmpty) {
        val emitted = NearDup.simhashPairs(planted, "doc_id", "text",
            maxDist = 6, distCutMinTokens = 32)
          .select(col("id1"), col("id2"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val missed = bypassTruth -- emitted
        assert(missed.isEmpty,
          s"$sf: short-doc truth pairs at hamming > 6 rely on banding " +
            s"collisions that did NOT happen: ${missed.mkString(", ")} — " +
            "the tight row's oracle recall depends on fixture luck; " +
            "raise tables or re-plant the fixture")
      }
    }
  }

  test("minhash signature: deterministic and length numPerms") {
    val sig = docs.limit(3)
      .select(NearDup.minhashSignature(
        Text.shingles(Text.tokens(col("text")), 3), 32).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sig.forall(_.length == 32))
    val sig2 = docs.limit(3)
      .select(NearDup.minhashSignature(
        Text.shingles(Text.tokens(col("text")), 3), 32).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sig.toSeq == sig2.toSeq)
  }

  /** `n` identical boilerplate docs (one bucket in EVERY band) plus
    * one genuinely near-dup pair of distinct docs.
    */
  private def boilerplate(n: Int) = {
    val sess = spark
    import sess.implicits._
    val boiler = (1L to n.toLong).map(i =>
      (i, "the same legal footer text appears verbatim on every page"))
    val pair = Seq(
      (100001L, "a quick brown fox jumps over the lazy dog near the river bank today"),
      (100002L, "a quick brown fox jumps over the lazy dog near the river bank now"))
    (boiler ++ pair).toDF("doc_id", "text")
  }

  test("hot-bucket cap: a degenerate boilerplate bucket is excluded, not expanded") {
    val cap = NearDup.MinhashMaxBucket.toInt
    // one doc over the cap: the boilerplate bucket's quadratic
    // expansion is skipped; the distinct near-dup pair lives in small
    // buckets and must survive
    val capped = NearDup.nearDuplicates(boilerplate(cap + 1), "doc_id", "text",
        threshold = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100001L, 100002L)), s"got $capped")
    // at the cap the boilerplate pairs are expanded
    val atCap = NearDup.nearDuplicates(boilerplate(cap), "doc_id", "text",
        threshold = 0.5)
      .count()
    assert(atCap == cap.toLong * (cap - 1) / 2 + 1, s"got $atCap")
  }

  test("hot-bucket cap is observable: dropped-bucket metrics fire") {
    // mixed corpus: hot boilerplate buckets PLUS genuine docs in small
    // buckets. If EVERY bucket were dropped, AQE's empty-relation
    // propagation would elide the CollectMetrics node with the rest of
    // the join subtree and no metric would be delivered (documented
    // caveat on NearDup.collisionRows) — the realistic mixed case is
    // what the metric exists for.
    val n = NearDup.MinhashMaxBucket + 1
    @volatile var seen: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("graft.minhash_lsh").foreach(r => seen = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      NearDup.minhashCandidates(boilerplate(n.toInt), "doc_id", "text").count()
      Profile.drain(spark) // listener delivery is async
      assert(seen.isDefined, "observe metric never delivered")
      val r = seen.get
      // all 8 bands collapse the identical docs into one hot bucket
      assert(r.getAs[Long]("dropped_buckets") == 8L, s"got $r")
      assert(r.getAs[Long]("dropped_docs") == 8L * n, s"got $r")
    } finally spark.listenerManager.unregister(listener)
  }

  test("every entry point handles an empty corpus and docs too short to shingle") {
    val sess = spark
    import sess.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // fewer than 3 tokens: no shingles, so nothing can be a near-dup —
    // not even the two identical docs
    val short = Seq((1L, ""), (2L, "one"), (3L, "two words"), (4L, "two words"))
      .toDF("doc_id", "text")
    val ids = Seq(1L, 2L, 3L, 4L)
    def pairs(d: org.apache.spark.sql.DataFrame) = Seq(
      NearDup.nearDuplicates(d, "doc_id", "text", threshold = 0.5),
      NearDup.simhashNearDuplicates(d, "doc_id", "text", threshold = 0.5),
      NearDup.simhashNearDuplicates(d, "doc_id", "text", threshold = 0.5,
        maxDist = 6, distCutMinTokens = 32))
    for (d <- Seq(empty, short); p <- pairs(d))
      assert(p.count() == 0, s"got ${p.collect().toSeq}")
    for (q <- Seq(NearDup.dedupClusters(empty, "doc_id", "text", threshold = 0.5),
        NearDup.dedupKeepBest(empty, "doc_id", "text", threshold = 0.5),
        NearDup.clusterSafeSplit(empty, "doc_id", "text", threshold = 0.5),
        NearDup.incrementalNearDup(empty, empty, "doc_id", "text", threshold = 0.5)))
      assert(q.count() == 0, s"got ${q.collect().toSeq}")
    val clusters = NearDup.dedupClusters(short, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3))).toSet
    assert(clusters == ids.map(i => (i, i, true, 1L)).toSet, s"got $clusters")
    val best = NearDup.dedupKeepBest(short, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(best == Set((1L, 1L, 0, 1L), (2L, 2L, 1, 1L), (3L, 3L, 2, 1L), (4L, 4L, 2, 1L)),
      s"got $best")
    val split = NearDup.clusterSafeSplit(short, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(split == ids.map(i => (i, i, 1L)).toSet, s"got $split")
    val batch = short.filter(col("doc_id") > 2)
    for (corpus <- Seq(empty, short.filter(col("doc_id") <= 2))) {
      val inc = NearDup.incrementalNearDup(corpus, batch, "doc_id", "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(inc == Set((3L, "keep", 3L), (4L, "keep", 4L)), s"got $inc")
    }
  }

  test("dedupClusters: transitivity merges A~B~C into one group even when A!~C") {
    val sess = spark
    import sess.implicits._
    // 20-token base; B drops the first token, C the first two:
    // jaccard(A,B) = 17/18 ≈ 0.944, jaccard(B,C) = 16/17 ≈ 0.941,
    // jaccard(A,C) = 16/18 ≈ 0.889 — at threshold 0.9 the A-C PAIR
    // fails, but the component {A,B,C} must still form via B
    val toks = (1 to 20).map(i => s"tok$i")
    val corpus = Seq(
      (1L, toks.mkString(" ")),
      (2L, toks.drop(1).mkString(" ")),
      (3L, toks.drop(2).mkString(" ")),
      (100L, (1 to 20).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = NearDup.dedupClusters(corpus, "doc_id", "text", threshold = 0.9)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      1L -> ((1L, true, 3L)),
      2L -> ((1L, false, 3L)),
      3L -> ((1L, false, 3L)),
      100L -> ((100L, true, 1L))), s"got $out")
  }

  test("incrementalNearDup: corpus hits, batch clustering, keepers — corpus never self-paired") {
    val sess = spark
    import sess.implicits._
    val toks = (1 to 20).map(i => s"c$i")
    val corpus = Seq(
      (1L, toks.mkString(" ")),
      (2L, (1 to 20).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val newToks = (1 to 20).map(i => s"n$i")
    val batch = Seq(
      // near-copy of corpus doc 1 → dup_of_corpus
      (10L, toks.drop(1).mkString(" ")),
      // a planted pair of genuinely-new docs → keep + dup_in_batch
      (11L, newToks.mkString(" ")),
      (12L, newToks.drop(1).mkString(" ")),
      // unique new content → keep
      (13L, (1 to 20).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val out = NearDup.incrementalNearDup(corpus, batch, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out == Map(
      10L -> (("dup_of_corpus", 1L)),
      11L -> (("keep", 11L)),
      12L -> (("dup_in_batch", 11L)),
      13L -> (("keep", 13L))), s"got $out")
  }

  test("clusterSafeSplit: a whole near-dup cluster shares one split, and the hash replays") {
    val sess = spark
    import sess.implicits._
    val toks = (1 to 20).map(i => s"tok$i")
    // one 3-doc cluster + 60 unrelated singletons spread over ids so
    // every split class is populated
    val cluster = Seq(
      (1L, toks.mkString(" ")),
      (2L, toks.drop(1).mkString(" ")),
      (3L, toks.drop(2).mkString(" ")))
    val singles = (0 until 60).map(i =>
      (1000L + i * 7, (1 to 20).map(j => s"u${i}w$j").mkString(" ")))
    val corpus = (cluster ++ singles).toDF("doc_id", "text")
    val out = NearDup.clusterSafeSplit(corpus, "doc_id", "text",
        threshold = 0.9, trainPct = 60, valPct = 20)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3))))
      .toMap
    // the cluster travels together under canonical id 1
    val clusterSplits = Seq(1L, 2L, 3L).map(out(_)).toSet
    assert(clusterSplits.size == 1 && clusterSplits.head._1 == 1L,
      s"cluster must share canonical id and split: $clusterSplits")
    // split is exactly the documented hash of the canonical id
    def expected(cid: Long): String = {
      val b = ((cid % 1000000007L) * 2654435761L) % 100
      if (b < 60) "train" else if (b < 80) "val" else "test"
    }
    out.foreach { case (id, (cid, split)) =>
      assert(split == expected(cid), s"doc $id: $split != ${expected(cid)}")
    }
    // all three classes occur across the 61 clusters
    val classes = out.values.map(_._2).toSet
    assert(classes == Set("train", "val", "test"), s"got $classes")
  }
}
