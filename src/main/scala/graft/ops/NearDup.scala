package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Lineage.CutSyntax
import graft.Profile

/** Near-duplicate detection for document corpora: MinHash + banded
  * LSH and SimHash. The contract at 100 TB: candidate generation is
  * ALWAYS banded/bucketed — per-band shuffle keys and within-bucket
  * pair expansion — never an all-pairs cross join. With b bands of r
  * rows, a pair with Jaccard j collides w.p. 1-(1-j^r)^b: the usual
  * S-curve (b=8, r=4 puts the knee near j~0.5).
  *
  * Every entry point runs the same candidate-and-verify core, one
  * `graft.stage` tag per step:
  *  1. features ([[features]]): one row per doc — id, word 3-gram
  *     shingles `_sh`, and for SimHash the signature `_sim` and the
  *     short-doc exemption `_ex` — tokenized once and materialized
  *     once, feeding both the banding and the verify. SimHash cuts it
  *     (`neardup_features`) and reads the corpus count that sizes its
  *     key width off that pass; MinHash persists it and lets the
  *     banding pass fill the cache.
  *  2. band (`neardup_band`): the family's band keys `(band,
  *     band_sig)` per doc, bucket sizes and the hot-bucket cap in one
  *     window pass ([[collisionRows]]), then a sort-merge self-join of
  *     the collision rows into distinct candidate pairs.
  *  3. verify (`neardup_verify`, [[verify]]): exact shingle-set
  *     Jaccard over candidate ids only.
  */
object NearDup {

  /** MinHash geometry: 32 permutations in 8 bands of 4 rows, over
    * word 3-gram shingles (the oracle SQL of every near-dup query
    * shingles the same way).
    */
  private[graft] val NumPerms = 32
  private val Bands = 8
  private[graft] val ShingleN = 3
  /** Largest MinHash bucket whose pairs are expanded: C(448, 2) is
    * about 100k pairs per bucket.
    */
  private[graft] val MinhashMaxBucket = 448L
  /** SimHash geometry: 8 blocks of 8 bits, 3 rotated tables. */
  private val Blocks = 8
  private val Tables = 3
  private val SimhashMaxBucket = 100000L

  /** MinHash signature (numPerms hashes) over a string-array column.
    * Permutation family: xxhash64(shingle, permIndex) — min over the
    * shingle set per perm. Null/empty shingle sets get null
    * signatures (callers drop them). Computed by the codegen'd
    * [[graft.functions.MinHashSig]] kernel (each shingle hashed once,
    * then numPerms integer mixes) — bit-identical to the HOF
    * `array_min(transform(...))` fold it replaces, minus the 32x
    * re-hash of every shingle string through the lambda interpreter.
    */
  def minhashSignature(shingleCol: Column, numPerms: Int): Column =
    when(size(shingleCol) > 0,
      graft.functions.minhash_sig(shingleCol, numPerms))

  /** The MinHash band keys of a signature, as a generator: one
    * `(band, band_sig)` row per band, `band_sig` = xxhash64 of the
    * band's 4 signature values seeded with the band index. Batch,
    * incremental and the streaming gate
    * ([[graft.streaming.CorpusStreams]]) bucket on exactly these keys.
    */
  private[graft] def minhashBands(sig: Column): Column = {
    val r = NumPerms / Bands
    posexplode(transform(sequence(lit(0), lit(Bands - 1)),
      b => xxhash64(slice(sig, b * r + 1, lit(r)), b))).as(Seq("band", "band_sig"))
  }

  /** The feature table of one call: `idCol`, the `carry` columns,
    * `_sh`, and whatever `fromTokens` derives from the token array.
    * The text is split once: a token array read by several derived
    * columns keeps its own projection.
    */
  private def features(docs: DataFrame, idCol: String, textCol: String,
      carry: String*)(fromTokens: Column => Seq[Column]): DataFrame = {
    val keep = (idCol +: carry).map(col)
    docs.select(keep :+ Text.tokens(col(textCol)).as("_toks"): _*)
      .select((keep :+ Text.shingles(col("_toks"), ShingleN).as("_sh")) ++
        fromTokens(col("_toks")): _*)
  }

  /** Runs `body` over the persisted MinHash feature table of `docs`,
    * then frees it. The banding pass materializes the table and the
    * verify re-reads it; every body ends in a lineage cut, so the
    * table has no reader left. (A cut here would cost MinHash a job:
    * unlike SimHash it has no count to fold the materialization into.)
    */
  private def withMinhashFeatures(docs: DataFrame, idCol: String, textCol: String,
      carry: String*)(body: DataFrame => DataFrame): DataFrame = {
    val f = features(docs, idCol, textCol, carry: _*)(_ => Nil).persist()
    try body(f) finally f.unpersist(false)
  }

  /** Candidate rows of a banded stream `(idCol, ..., band, band_sig)`:
    * the rows whose bucket holds 2..`cap` members, eagerly cut.
    *
    * BUCKET COUNTS VIA WINDOW, not groupBy+join: one window over
    * (band, band_sig) is a single shuffle+sort of the banded rows and
    * puts each row's bucket size ON the row; the groupBy+bucket-list
    * join it replaced shuffled them twice (the partial aggregate barely
    * shrinks: at a properly-sized key the buckets are overwhelmingly
    * singletons), and its non-spillable hash build OOM'd the sf100
    * probe. A singleton bucket can never pair, so the size filter cuts
    * the stream to the collision rows — the candidate-mass scale —
    * before anything else touches it, and no bucket join exists to
    * mis-plan (the r14 AQE-broadcast trap). The window sort spills
    * safely at any n.
    *
    * `cap` guards the quadratic within-bucket expansion against HOT
    * buckets: at web scale a boilerplate document (empty pages, legal
    * footers) puts millions of docs into one bucket, whose pair
    * expansion alone would dwarf the whole job. Buckets above the cap
    * are dropped — the standard dedup trade (identical boilerplate is
    * the exact-dedup pass's job; a near-dup pair this hot is caught in
    * one of its other bands with overwhelming probability); a dropped
    * bucket weakens recall for ITS members only.
    *
    * Dropped buckets are NOT silent: `observe(metric, ...)` reports
    * `dropped_buckets` and `dropped_docs` (plus `extra`, e.g.
    * [[pairMass]]) at zero job cost; row_number picks one row per
    * bucket so the metrics keep bucket grain. The eager cut fires them
    * exactly once (the self-join reads the rows twice), plans the
    * self-join against the SMALL table and releases the banded stream.
    * Caveat: when EVERY bucket is dropped, AQE's empty-relation
    * propagation elides the metric node with the rest of the empty
    * subtree — delivery is guaranteed only when a bucket survives.
    */
  private def collisionRows(banded: DataFrame, idCol: String, cap: Long,
      metric: String, extra: Column*): DataFrame = {
    val bucket = Window.partitionBy(col("band"), col("band_sig")).orderBy(col(idCol))
    val hot = col("_rn") === 1 && col("_cnt") > cap
    banded
      .withColumn("_cnt", count(lit(1)).over(
        bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("_rn", row_number().over(bucket))
      .observe(metric,
        sum(when(hot, lit(1L)).otherwise(lit(0L))).as("dropped_buckets"),
        sum(when(hot, col("_cnt")).otherwise(lit(0L))).as("dropped_docs") +: extra: _*)
      .filter(col("_cnt") >= 2 && col("_cnt") <= cap)
      .drop("_cnt", "_rn")
      .lineageCut()
  }

  /** `candidate_pairs`: the within-bucket expansion mass a cap of `cap`
    * lets through, for [[collisionRows]]' observe().
    */
  private def pairMass(cap: Long): Column =
    sum(when(col("_rn") === 1 && col("_cnt") <= cap,
      (col("_cnt") * (col("_cnt") - 1) / 2).cast("long")).otherwise(lit(0L)))
      .as("candidate_pairs")

  /** Self-join condition of two collision-row sides aliased a and b. */
  private val sameBucket =
    col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig")

  /** Exact shingle-set Jaccard over candidate pairs `(id1, id2, ...)`:
    * each side's shingles come from the feature table, pairs below
    * `threshold` go, `out` is selected and cut (verified pairs are
    * tiny). The join strategy is left to the OPTIMIZER, deliberately
    * (round 14): unlike the banding joins, the shingle side's size is
    * sane — measured from the cache and growing with the data — so
    * Catalyst broadcasts it at bench scale (2-3x faster than a forced
    * shuffle on the sf1 near-dup family) and falls back to a shuffle
    * join once the corpus outgrows the threshold.
    */
  private def verify(cand: DataFrame, f: DataFrame, idCol: String,
      threshold: Double, out: Column*): DataFrame =
    Profile.stage("neardup_verify") {
      def side(i: Int) = f.select(col(idCol).as(s"id$i"), col("_sh").as(s"_sh$i"))
      cand.join(side(1), "id1").join(side(2), "id2")
        .withColumn("jaccard", Text.jaccard(col("_sh1"), col("_sh2")))
        .filter(col("jaccard") >= threshold)
        .select(out: _*)
        .lineageCut()
    }

  /** The verified-pair output of the batch entry points. */
  private val verifiedCols = Seq(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))

  /** `idCol`, `carry` and the band keys of every doc with shingles.
    * The filter reads the shingle count, not `_sig IS NOT NULL`: a
    * Filter carrying the signature expression cost ~25 s per query of
    * driver-side constraint inference at sf0.1.
    */
  private def minhashBanded(f: DataFrame, idCol: String, carry: String*): DataFrame =
    f.filter(size(col("_sh")) > 0)
      .withColumn("_sig", minhashSignature(col("_sh"), NumPerms))
      .select((idCol +: carry).map(col) :+ minhashBands(col("_sig")): _*)

  /** Distinct MinHash candidate pairs `(id1, id2)`, id1 < id2, of a
    * feature table. The self-join stays pinned sort-merge: the
    * collision rows scale with the corpus, so they may spill but must
    * never broadcast.
    */
  private def minhashPairs(f: DataFrame, idCol: String): DataFrame =
    Profile.stage("neardup_band") {
      val capped = collisionRows(minhashBanded(f, idCol), idCol, MinhashMaxBucket,
        "graft.minhash_lsh", pairMass(MinhashMaxBucket))
      capped.as("a").hint("merge").join(capped.as("b"),
          sameBucket && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
        .distinct()
        .lineageCut()
    }

  /** Candidate near-dup pairs via MinHash banded LSH, unverified. */
  private[graft] def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    withMinhashFeatures(docs, idCol, textCol)(minhashPairs(_, idCol))

  /** MinHash candidates verified with exact shingle-set Jaccard; keeps
    * pairs >= threshold as `(id1, id2, jaccard)`.
    */
  def nearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    withMinhashFeatures(docs, idCol, textCol) { f =>
      verify(minhashPairs(f, idCol), f, idCol, threshold, verifiedCols: _*)
    }

  /** Near-duplicate CLUSTERING — the step a dedup pipeline runs after
    * pair detection: verified near-dup pairs form a graph whose
    * connected components are duplicate groups; each group keeps one
    * canonical document (the min doc id) and drops the rest. Pair
    * transitivity matters: A~B and B~C puts A,B,C in ONE group even
    * when A~C itself scored below threshold — pairwise filtering alone
    * would keep both B and C.
    *
    * Scale shape: the verified-pair graph is SPARSE by construction
    * (true near-dup mass only — candidates were banded, then Jaccard-
    * verified), so [[ConnectedComponents.label]] solves it in one
    * union-find task at any corpus size where dup groups are bounded;
    * the frontier fallback covers adversarial chain topologies. The
    * group join back to the corpus is a broadcast-able hash join on
    * doc id (labels cover only docs that appear in some pair).
    *
    * @return one row per input doc: (idCol, canonical_id, keep,
    *         group_size) — keep = (doc == canonical), group_size = #
    *         docs in the duplicate group (1 for non-duplicated docs).
    */
  def dedupClusters(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val pairs = nearDuplicates(docs, idCol, textCol, threshold)
    val labels = ConnectedComponents.label(pairs, "id1", "id2")
      .select(col("id").as(idCol), col("label"))
    // Group sizes come from the LABEL table alone (it covers every
    // paired doc, component minima included), never from a second
    // pass over the corpus: docs absent from any pair are singletons
    // (size 1) by definition. One corpus scan, two joins against the
    // materialized dup-mass tables — AQE sees their runtime sizes
    // (localCheckpoint) and picks broadcast when they are small.
    val sizes = labels.groupBy(col("label").as("canonical_id"))
      .agg(count(lit(1)).as("group_size"))
    docs.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("canonical_id"))
      .join(sizes, Seq("canonical_id"), "left")
      .select(col(idCol), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("keep"),
        coalesce(col("group_size"), lit(1L)).as("group_size"))
  }

  /** Survivor selection after clustering: ONE document kept per
    * near-dup cluster — the policy a curation pipeline applies on top
    * of [[dedupClusters]] (retain the best copy, drop the rest).
    * "Best" is the LONGEST document (token count), lowest id on ties
    * — a deliberately integer-exact policy: an argmax over a float
    * quality score could flip on a last-ulp difference between
    * engines, while token counts cannot.
    *
    * Cost shape: dedupClusters + one top-1-per-group window. Spark
    * plans the rank as WindowGroupLimit (partial top-1 before the
    * rank shuffle), and the shuffle key is canonical_id — the same
    * key class as the clustering itself, so it scales with the corpus
    * like the clustering does.
    *
    * @return one row per SURVIVING doc: (canonical_id, idCol,
    *         n_tokens, group_size)
    */
  def dedupKeepBest(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val clustered = dedupClusters(docs, idCol, textCol, threshold)
    val withTok = clustered.join(
      docs.select(col(idCol), Text.tokenCount(col(textCol)).as("n_tokens")),
      Seq(idCol))
    val w = Window
      .partitionBy(col("canonical_id"))
      .orderBy(col("n_tokens").desc, col(idCol).asc)
    withTok.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("canonical_id"), col(idCol), col("n_tokens"),
        col("group_size"))
  }

  /** Leakage-safe train/val/test split: assign every near-dup CLUSTER
    * — not every document — to exactly one split, so a document and
    * its near-duplicates can never straddle the train/eval boundary
    * (the classic eval-contamination path: a test document whose
    * near-copy sits in train). Split choice is a deterministic Knuth
    * multiplicative hash of the cluster's canonical id (the same
    * bounded-key arithmetic as the engine's deterministic sampler, so
    * an oracle can replay it exactly): bucket \in [0,100) →
    * [0,trainPct) train, [trainPct,trainPct+valPct) val, rest test.
    *
    * Scale shape: [[dedupClusters]] plus one scan-level expression —
    * the split adds NO shuffle, no extra pass, and no driver state;
    * re-running on a grown corpus keeps every existing singleton's
    * assignment stable (the hash depends only on canonical id), which
    * is what lets a 100-TB pipeline split incrementally.
    *
    * @return one row per input doc: (idCol, canonical_id, group_size,
    *         split)
    */
  def clusterSafeSplit(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "trainPct/valPct must be non-negative and sum to <= 100")
    val clustered = dedupClusters(docs, idCol, textCol, threshold)
    // key bounded BEFORE the multiply so huge ids can't overflow the
    // 64-bit product (same contract as p11's deterministic sampler)
    val bucket =
      ((col("canonical_id") % lit(1000000007L)) * lit(2654435761L)) % lit(100)
    clustered.withColumn("split",
        when(bucket < lit(trainPct), lit("train"))
          .when(bucket < lit(trainPct + valPct), lit("val"))
          .otherwise(lit("test")))
      .select(col(idCol), col("canonical_id"), col("group_size"),
        col("split"))
  }

  /** Incremental near-dup: dedup a NEW batch of documents against an
    * EXISTING corpus — the production shape of dedup for a
    * continuously-ingesting pipeline, where re-running [[dedupClusters]]
    * over corpus+batch would re-pay the whole corpus every day.
    *
    * The scale contract is the asymmetry: the corpus side is banded
    * (one signature scan — in production the (id, band, band_sig)
    * table is computed once and stored, so the steady-state cost is a
    * scan of the SMALL batch plus an equi-join against the stored
    * bands) and the bucket join only ever emits corpus x batch and
    * batch x batch pairs — corpus x corpus pairs are excluded by the
    * join predicate, so the quadratic term is batch-sized no matter
    * how big the corpus grows. The hot-bucket cap is computed over the
    * combined bucket membership (a boilerplate bucket is hot because
    * of its corpus mass; pairing the batch against it would still be
    * corpus-sized work), observed as `graft.incremental_lsh`.
    *
    * Decision policy (deterministic, oracle-replayable): a batch doc
    * with any verified corpus match (exact Jaccard >= threshold) is
    * `dup_of_corpus` (dup_of = smallest matching corpus id); the
    * remaining batch docs form connected components over their
    * verified batch-batch pairs and each component keeps its smallest
    * id (`keep`), labeling the rest `dup_in_batch` (dup_of = the
    * component's canonical id). Corpus-matched docs are removed BEFORE
    * the batch clustering — their batch-side near-copies still cluster
    * among themselves rather than riding the corpus hit transitively.
    *
    * Caller contract: corpus and batch ids are disjoint (any ingest
    * pipeline with monotone ids satisfies this for free).
    *
    * @return one row per batch doc: (idCol, status, dup_of) with
    *         status in {dup_of_corpus, dup_in_batch, keep}; dup_of is
    *         the doc's own id when status = keep.
    */
  def incrementalNearDup(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    def side(df: DataFrame, isNew: Boolean) =
      df.select(col(idCol), col(textCol), lit(isNew).as("_new"))
    val verifiedPairs = withMinhashFeatures(side(corpus, isNew = false)
        .unionByName(side(batch, isNew = true)), idCol, textCol, "_new") { f =>
      val cand = Profile.stage("neardup_band") {
        val capped = collisionRows(minhashBanded(f, idCol, "_new"), idCol,
          MinhashMaxBucket, "graft.incremental_lsh")
        // right side is the BATCH only: corpus rows never pair with each
        // other, which is the whole point of the incremental formulation
        capped.as("a").join(capped.filter(col("_new")).as("b"),
            sameBucket &&
              (!col("a._new") && col(s"a.$idCol") =!= col(s"b.$idCol") ||
                col("a._new") && col(s"a.$idCol") < col(s"b.$idCol")))
          .select(col(s"a.$idCol").as("id1"), col("a._new").as("new1"),
            col(s"b.$idCol").as("id2"))
          .distinct()
          .lineageCut()
      }
      verify(cand, f, idCol, threshold, col("id1"), col("new1"), col("id2"))
    }
    val hits = verifiedPairs.filter(!col("new1"))
      .groupBy(col("id2").as(idCol))
      .agg(min(col("id1")).as("_dup_of_corpus"))
    val survivorPairs = verifiedPairs.filter(col("new1")).select("id1", "id2")
      .join(hits.select(col(idCol).as("id1")), Seq("id1"), "left_anti")
      .join(hits.select(col(idCol).as("id2")), Seq("id2"), "left_anti")
    val labels = ConnectedComponents.label(survivorPairs, "id1", "id2")
      .select(col("id").as(idCol), col("label"))
    batch.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_dup_of_corpus").isNotNull, lit("dup_of_corpus"))
          .when(col("label").isNotNull && col("label") =!= col(idCol),
            lit("dup_in_batch"))
          .otherwise(lit("keep")).as("status"),
        coalesce(col("_dup_of_corpus"), col("label"), col(idCol)).as("dup_of"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Blocks-per-band-key for a SimHash corpus of `n` docs: the
    * smallest r in [2, Blocks-2] whose EXPECTED random-collision
    * candidate mass per table — `C(Blocks, r)` band keys, each
    * colliding a random pair w.p. `2^-(r*width)` — stays within a
    * linear budget of `Blocks` candidates per doc per table. The rule
    * is deliberately table-count-invariant: total mass and total
    * budget both scale linearly with the table count, so it cancels
    * out of the inequality. This is what makes banded SimHash
    * sub-quadratic at corpus scale: the key gains one block (width
    * bits) roughly every 2^width-fold corpus growth, so
    * candidates-per-doc stays O(tables*blocks) at every n instead of
    * O(n / 2^(r*width)). Small corpora keep r=2 (16-bit keys: every
    * gate-scale oracle), n > ~37k moves to r=3, n > ~5M to r=4, and a
    * 10^11-doc corpus lands at r=5..6. Pure integer math, unit-tested
    * by enumeration in NearDupSpec.
    */
  def simhashKeyBlocks(n: Long): Int = {
    val width = 64 / Blocks
    def comb(m: Int, k: Int): Long = {
      var r = 1L; var i = 0
      while (i < k) { r = r * (m - i) / (i + 1); i += 1 }
      r
    }
    var r = 2
    while (r < Blocks - 2 &&
        comb(Blocks, r).toDouble * n.toDouble / 2.0 /
          math.pow(2.0, (r * width).toDouble) > Blocks.toDouble) {
      r += 1
    }
    r
  }

  /** The SimHash feature table of `docs`, cut, and the key width for
    * its corpus count. The count is observed on the cut's own pass, so
    * sizing the key costs no job of its own. Columns: `_sh`, the
    * 64-bit signature `_sim` and the distance-cut exemption `_ex` (see
    * [[simhashNearDuplicates]]'s `distCutMinTokens`). `coalesce`:
    * size(null tokens) is null, and a null flag would ride through the
    * distance cut's OR as null and silently FILTER null-text docs
    * instead of exempting them; true is the honest default and can
    * only ADD candidates that still face the exact verify.
    */
  private def simhashFeatures(docs: DataFrame, idCol: String, textCol: String,
      distCutMinTokens: Int): (DataFrame, Int) = Profile.stage("neardup_features") {
    val corpus = Observation("graft.neardup_features")
    val f = features(docs, idCol, textCol) { toks =>
        Seq(graft.functions.simhash64(toks).as("_sim"),
          (if (distCutMinTokens > 0) coalesce(size(toks) < distCutMinTokens, lit(true))
           else lit(false)).as("_ex"))
      }
      .observe(corpus, count(lit(1)).as("corpus_docs"))
      .lineageCut()
    (f, simhashKeyBlocks(corpus.get("corpus_docs").asInstanceOf[Long]))
  }

  /** SimHash near-dup pairs `(id1, id2, hamming)` of a corpus, with
    * the key width sized from its count.
    */
  private[graft] def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 12, distCutMinTokens: Int = 0): DataFrame = {
    val (f, r) = simhashFeatures(docs, idCol, textCol, distCutMinTokens)
    simhashPairsFromSignatures(f, idCol, "_sim", maxDist, r, col("_ex"))
  }

  /** SimHash near-dup pairs via MULTI-TABLE block-combination buckets,
    * over precomputed 64-bit signatures.
    *
    * The signature splits into 8 bit-blocks of 8 bits; a bucket key is
    * a combination of `r` blocks, and 3 rotated copies of the
    * signature each contribute their own C(8, r) keys. A pair is a
    * candidate when any table has any key matching exactly;
    * candidates then keep hamming <= maxDist, or either side's
    * `exempt` flag. The only shuffle is the (band, key) equi-key —
    * never all-pairs. r comes from [[simhashKeyBlocks]] for the
    * corpus count.
    *
    * Why combinations instead of single blocks: an 8-bit key collides
    * two RANDOM docs w.p. 1/256, so single-block banding emits
    * ~blocks/256 of ALL pairs (measured ~3% at sf0.1); a 16-bit pair
    * key collides at 1/65536, 84 keys (3 tables x 28 pairs) ~0.13% of
    * pairs — 24x less on uniform-random signatures — while true
    * near-dups still collide because their signatures agree on almost
    * every block. On the template-generated sf0.1 corpus 6.3% of ALL
    * doc pairs sit within hamming 12, so there the mass is floor-bound
    * by true near-pair density instead. A FIXED key width is still
    * quadratic in corpus size (6.66M pairs at sf0.1); the adaptive
    * width keeps the random mass linear (sf1, 51k docs, r=3 vs r=2:
    * 62.9M -> 12.4M candidates, 3627 of 3684 verified j >= 0.8 pairs
    * kept — the 57 escapes sit at hamming exactly blocks-r+1 = 6 with
    * error bits spread one-per-block, a pattern no rotation rescues).
    *
    * Recall contract: hamming <= 8-r GUARANTEES a candidate
    * (pigeonhole: the clean blocks' key matches in table 0; verified
    * by 13M-pair brute force at sf0.1). Larger distances are
    * probabilistic ONLY; measured per-distance recall at r=2 on the
    * sf0.1 corpus: h=7 99.95%, h=8 99.4%, h=9 97.1%, h=10 92%, h=11
    * 84%, h=12 74%. Extra tables barely help (a 4th lifted 7..12 from
    * 84% to 89% for +6% mass, and recovered 4 of the 57 r=3 escapes
    * for +33%; recorded in PERF.md): the levers are r and maxDist.
    * The verified near-dup surface stays safe because true j >= 0.5
    * pairs concentrate in the deterministic band (NearDupSpec pins the
    * sf0.01 gate corpus there). Observed as `graft.simhash_lsh`:
    * `candidate_pairs` (the expansion mass emitted), the drop counters
    * and `key_blocks` (r).
    */
  private[graft] def simhashPairsFromSignatures(
      signatures: DataFrame, idCol: String, sigCol: String,
      maxDist: Int, r: Int, exempt: Column = lit(false)): DataFrame =
    Profile.stage("neardup_band") {
      require(r >= 2 && r <= Blocks - 2,
        s"key blocks in [2, ${Blocks - 2}] required (got $r): r=1 is the " +
          "single-block quadratic bomb, a wider key leaves no pigeonhole band")
      val width = 64 / Blocks
      val mask = (1L << width) - 1L
      // evenly spread rotation phases over the width-cycle (rotating by
      // a multiple of `width` permutes whole blocks — same key space —
      // so only phases mod width are distinct re-slicings)
      val phases = (0 until Tables).map(t => (t * width + Tables - 1) / Tables)
      def rot(c: Column, p: Int): Column =
        if (p == 0) c
        else shiftleft(c, p).bitwiseOR(call_function("shiftrightunsigned", c, lit(64 - p)))
      def block(c: Column, k: Int): Column =
        call_function("shiftrightunsigned", c, lit(k * width)).bitwiseAND(lit(mask))
      val combs = (0 until Blocks).combinations(r).toArray // lexicographic, deterministic
      // TWO-STEP key construction, codegen-sized (round 14): building
      // every key directly from _sim inlines the rot+block chain into
      // each of the tables x C(blocks, r) struct entries — over
      // janino's method limit, so the banding stage fell back to the
      // interpreter. Step 1 materializes the rotated block values as
      // plain long columns; step 2's inline() builds each key from r
      // column references + shifts. Bit-exact same keys.
      val blockCols = for {
        (p, t) <- phases.zipWithIndex
        k <- 0 until Blocks
      } yield block(rot(col("_sim"), p), k).as(s"_b_${t}_$k")
      val keys = for {
        t <- phases.indices
        (cmb, ci) <- combs.zipWithIndex
      } yield struct(
        lit(t * combs.length + ci).as("band"),
        cmb.map(i => col(s"_b_${t}_$i"))
          .reduceLeft((acc, b) => shiftleft(acc, width).bitwiseOR(b)).as("band_sig"))
      val banded = signatures
        .select(col(idCol), col(sigCol).cast("long").as("_sim"), exempt.cast("boolean").as("_ex"))
        .select(Seq(col(idCol), col("_sim"), col("_ex")) ++ blockCols: _*)
        .select(col(idCol), col("_sim"), col("_ex"), inline(array(keys: _*)))
      val capped = collisionRows(banded, idCol, SimhashMaxBucket, "graft.simhash_lsh",
        pairMass(SimhashMaxBucket), max(lit(r.toLong)).as("key_blocks"))
      // hamming filter BEFORE distinct: the codegen'd bit_count cut
      // shrinks the distinct's shuffle to the true near-dup mass. (A
      // row-local "minimal matching band" rule was tried to drop the
      // distinct shuffle entirely; its decode expression gets pushed
      // into the sort-merge-join condition where the ~500-node tree is
      // evaluated per candidate pair, 15-30x slower than just paying
      // the distinct.) An exempt side bypasses the distance cut; the
      // pair still faces the caller's exact verify. Self-join pinned
      // sort-merge, as in MinHash.
      capped.as("a").hint("merge").join(capped.as("b"),
          sameBucket && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
          hamming64(col("a._sim"), col("b._sim")).as("hamming"),
          (col("a._ex") || col("b._ex")).as("_ex"))
        .filter(col("hamming") <= maxDist || col("_ex"))
        .select("id1", "id2", "hamming")
        .distinct()
        .lineageCut()
    }

  /** SimHash-candidate near-dup detection, verified with exact
    * shingle-set Jaccard — the simhash counterpart of
    * [[nearDuplicates]]: bit-banded candidates (one 64-bit signature
    * per doc vs 32 minhash perms), then the same verify. The output
    * (pairs with true Jaccard >= threshold that banding surfaced) is
    * oracle-checkable against brute-force Jaccard whenever banding
    * recall is 1.0 on the corpus.
    *
    * `verify_pairs` (observed as `graft.simhash_verify`) is the verify
    * input mass after the hamming cut. THIS is what `maxDist` cuts:
    * banding candidates are the same at any maxDist, but every pair
    * kept here pays a shingle-set Jaccard — at j >= 0.8 settings,
    * maxDist = 6 (the r=2 deterministic band) cuts it an order of
    * magnitude vs 12 (sf10: the 154M-pair verify dominated the 444 s
    * wall).
    *
    * @param distCutMinTokens when > 0, docs with fewer tokens than
    *        this bypass the hamming-distance cut (their candidates go
    *        straight to the exact verify). A 64-bit simhash over a
    *        handful of tokens has not concentrated — at 15-25 tokens a
    *        j >= 0.9 pair can land at hamming 7+ (three such pairs on
    *        the sf0.001 gate corpus, found r15) — so a distance cut
    *        below a feature-count floor silently drops true pairs. The
    *        bypass only ever ADDS pairs that pass the exact verify, and
    *        at scale the extra verify mass is the short-doc slice of
    *        banding collisions. 0 = off.
    */
  def simhashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      maxDist: Int = 12,
      distCutMinTokens: Int = 0): DataFrame = {
    val (f, r) = simhashFeatures(docs, idCol, textCol, distCutMinTokens)
    val cand = simhashPairsFromSignatures(f, idCol, "_sim", maxDist, r, col("_ex"))
      .select("id1", "id2")
      .observe("graft.simhash_verify", count(lit(1)).as("verify_pairs"))
    verify(cand, f, idCol, threshold, verifiedCols: _*)
  }
}
