package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Lineage.CutSyntax

/** Near-duplicate detection for document corpora: MinHash + banded
  * LSH and SimHash. The contract at 100 TB: candidate generation is
  * ALWAYS banded/bucketed — per-band shuffle keys and within-bucket
  * pair expansion — never an all-pairs cross join. With b bands of r
  * rows, a pair with Jaccard j collides w.p. 1-(1-j^r)^b: the usual
  * S-curve (b=8, r=4 puts the knee near j~0.5).
  */
object NearDup {

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

  /** Candidate near-dup pairs via banded LSH.
    *
    * Plan shape: docs -> signature (narrow) -> explode bands (xB) ->
    * shuffle on (band, bandSig) -> within-bucket pair expansion with
    * id1 < id2 -> distinct pairs. The only all-to-all movement is the
    * band shuffle, whose keys are ~uniform for genuine documents.
    *
    * `maxBucketSize` guards the quadratic within-bucket expansion
    * against HOT buckets: at web scale a boilerplate shingle-set
    * (empty pages, legal footers) puts millions of docs into one
    * bucket, whose pair expansion alone would dwarf the whole job.
    * Buckets above the cap are dropped from candidate generation —
    * the standard MinHash-dedup trade (identical boilerplate is the
    * exact-dedup pass's job; a near-dup pair this hot is caught in
    * one of its other bands with overwhelming probability). The
    * default cap (100k pairs per bucket) never triggers on the test
    * corpora, so declared outputs are unchanged.
    *
    * Dropped buckets are NOT silent: the bucket-count aggregation
    * carries an `observe("graft.minhash_lsh", ...)` with
    * `dropped_buckets` / `dropped_docs` metrics — readable per query
    * via `QueryExecutionListener` (`qe.observedMetrics`) at zero extra
    * job cost, so a production run sees exactly how much recall mass
    * the cap discarded (NearDupSpec asserts the metric fires). Caveat:
    * in the degenerate case where EVERY bucket is dropped, AQE's
    * empty-relation propagation elides the metric node along with the
    * rest of the (empty) join subtree — delivery is guaranteed only
    * when at least one bucket survives, which any real corpus has.
    */
  def minhashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 32, bands: Int = 8, shingleN: Int = 3,
      maxBucketSize: Long = 448): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    // Drop sub-shingle docs with a CHEAP predicate on the token count
    // instead of `_sig IS NOT NULL`: the signature is null exactly
    // when tokens < shingleN, and a Filter carrying the full
    // signature expression tree cost ~25s/query of driver-side
    // optimizer work (measured at sf0.1 — the pushed-down predicate's
    // giant tree blows up constraint inference), vs milliseconds for
    // the token-count predicate.
    val sig = docs
      .filter(size(Text.tokens(col(textCol))) >= shingleN)
      .withColumn("_shingles", Text.shingles(Text.tokens(col(textCol)), shingleN))
      .withColumn("_sig", minhashSignature(col("_shingles"), numPerms))
    val banded = sig.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("_sig"), b * r + 1, lit(r)), b))).as(Seq("band", "band_sig")))
    // BUCKET COUNTS VIA WINDOW, not groupBy+join (round 15, mirroring
    // simhashPairsFromSignatures — full rationale there): one window
    // over (band, band_sig) is a single shuffle+sort of the banded
    // rows (the old groupBy+bucket-list-join shape shuffled them
    // twice, and the join's non-spillable hash build OOM'd the sf100
    // probe); the 2..maxBucketSize filter then cuts the stream to the
    // collision rows before the self-join. A singleton bucket can
    // never satisfy the pair join, and at a properly-sized band key
    // singletons dominate — that is the design goal. No bucket join
    // exists to mis-plan (the r14 AQE-broadcast trap). row_number
    // keeps the observe() metrics at bucket grain; the eager
    // checkpoint fires them exactly once, plans the self-join against
    // the SMALL table, and replaces the banded cache (single consumer
    // now — the window pass — so the signature expression is still
    // computed once, which is what the cache was for).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_sig")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wRn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_sig")).orderBy(col(idCol))
    val capped = banded
      .withColumn("_cnt", count(lit(1)).over(w))
      .withColumn("_rn", row_number().over(wRn))
      .observe("graft.minhash_lsh",
        sum(when(col("_rn") === 1 && col("_cnt") > maxBucketSize,
          lit(1L)).otherwise(lit(0L))).as("dropped_buckets"),
        sum(when(col("_rn") === 1 && col("_cnt") > maxBucketSize,
          col("_cnt")).otherwise(lit(0L))).as("dropped_docs"),
        sum(when(col("_rn") === 1 && col("_cnt") <= maxBucketSize,
          (col("_cnt") * (col("_cnt") - 1) / 2).cast("long"))
          .otherwise(lit(0L))).as("candidate_pairs"))
      .filter(col("_cnt") >= 2 && col("_cnt") <= maxBucketSize)
      .select(col(idCol), col("band"), col("band_sig"))
      .lineageCut()
    // self-join stays pinned sort-merge: capped is corpus-scaling
    // (collision mass), so it may spill but must never broadcast
    val out = capped.as("a").hint("merge").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
      .lineageCut()
    out
  }

  /** Candidates verified with exact shingle-set Jaccard; keep pairs
    * >= threshold. The verify join only touches candidate ids (a tiny
    * fraction of the corpus), re-reading shingles via two broadcast-
    * able semi-joins at test scale; at production scale the shingle
    * table is bucketed by id so both joins co-locate.
    */
  def nearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      numPerms: Int = 32, bands: Int = 8, shingleN: Int = 3,
      maxBucketSize: Long = 448): DataFrame = {
    val cand = minhashCandidates(docs, idCol, textCol, numPerms, bands, shingleN,
      maxBucketSize)
    val sh = docs.select(col(idCol),
      Text.shingles(Text.tokens(col(textCol)), shingleN).as("_sh")).persist()
    // verify-join strategy is left to the OPTIMIZER, deliberately
    // (round 14): unlike the banding joins, sh's size estimate is
    // SANE — it derives from the parquet scan and grows with the
    // data — so Catalyst broadcasts it at bench scale (measured 2-3x
    // faster than a forced shuffle on the sf1 near-dup family) and
    // falls back to a shuffle join on its own once the corpus
    // outgrows the threshold. A forced hint here costs real time at
    // every small scale to guard a failure mode that cannot happen.
    val out = cand
      .join(sh.withColumnRenamed(idCol, "id1").withColumnRenamed("_sh", "_sh1"), "id1")
      .join(sh.withColumnRenamed(idCol, "id2").withColumnRenamed("_sh", "_sh2"), "id2")
      .withColumn("jaccard", Text.jaccard(col("_sh1"), col("_sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .lineageCut() // verified pairs are tiny; free sh now
    sh.unpersist(false)
    out
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
      threshold: Double,
      numPerms: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    val pairs = nearDuplicates(docs, idCol, textCol, threshold,
      numPerms, bands, shingleN)
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
      threshold: Double,
      numPerms: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    val clustered = dedupClusters(docs, idCol, textCol, threshold,
      numPerms, bands, shingleN)
    val withTok = clustered.join(
      docs.select(col(idCol), Text.tokenCount(col(textCol)).as("n_tokens")),
      Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
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
      trainPct: Int = 90, valPct: Int = 5,
      numPerms: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "trainPct/valPct must be non-negative and sum to <= 100")
    val clustered = dedupClusters(docs, idCol, textCol, threshold,
      numPerms, bands, shingleN)
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
    * corpus-sized work) with the same observe() drop metrics as
    * [[minhashCandidates]].
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
      threshold: Double,
      numPerms: Int = 32, bands: Int = 8, shingleN: Int = 3,
      maxBucketSize: Long = 448): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    def bandSide(df: DataFrame, isNew: Boolean) = df
      .filter(size(Text.tokens(col(textCol))) >= shingleN)
      .withColumn("_shingles",
        Text.shingles(Text.tokens(col(textCol)), shingleN))
      .withColumn("_sig", minhashSignature(col("_shingles"), numPerms))
      .select(col(idCol), lit(isNew).as("_new"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("_sig"), b * r + 1, lit(r)), b)))
          .as(Seq("band", "band_sig")))
    val banded = bandSide(corpus, isNew = false)
      .unionByName(bandSide(batch, isNew = true))
    // bucket counts via window — one shuffle, collision rows only,
    // singleton buckets pruned (see minhashCandidates for rationale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_sig")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wRn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_sig")).orderBy(col(idCol))
    val capped = banded
      .withColumn("_cnt", count(lit(1)).over(w))
      .withColumn("_rn", row_number().over(wRn))
      .observe("graft.incremental_lsh",
        sum(when(col("_rn") === 1 && col("_cnt") > maxBucketSize,
          lit(1L)).otherwise(lit(0L))).as("dropped_buckets"),
        sum(when(col("_rn") === 1 && col("_cnt") > maxBucketSize,
          col("_cnt")).otherwise(lit(0L))).as("dropped_docs"))
      .filter(col("_cnt") >= 2 && col("_cnt") <= maxBucketSize)
      .select(col(idCol), col("_new"), col("band"), col("band_sig"))
      .lineageCut()
    // right side is the BATCH only: corpus rows never pair with each
    // other, which is the whole point of the incremental formulation
    val cand = capped.as("a")
      .join(capped.filter(col("_new")).as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          (!col("a._new") && col(s"a.$idCol") =!= col(s"b.$idCol") ||
            col("a._new") && col(s"a.$idCol") < col(s"b.$idCol")))
      .select(col(s"a.$idCol").as("id1"), col("a._new").as("new1"),
        col(s"b.$idCol").as("id2"))
      .distinct()
      .lineageCut()
    // exact-Jaccard verify over candidate ids only (same contract as
    // nearDuplicates: at production scale the shingle table is
    // bucketed by id so both joins co-locate)
    val sh = corpus.select(col(idCol),
        Text.shingles(Text.tokens(col(textCol)), shingleN).as("_sh"))
      .unionByName(batch.select(col(idCol),
        Text.shingles(Text.tokens(col(textCol)), shingleN).as("_sh")))
      .persist()
    val verified = cand
      .join(sh.withColumnRenamed(idCol, "id1").withColumnRenamed("_sh", "_sh1"), "id1")
      .join(sh.withColumnRenamed(idCol, "id2").withColumnRenamed("_sh", "_sh2"), "id2")
      .filter(Text.jaccard(col("_sh1"), col("_sh2")) >= threshold)
      .select(col("id1"), col("new1"), col("id2"))
      .lineageCut()
    sh.unpersist(false)
    val hits = verified.filter(!col("new1"))
      .groupBy(col("id2").as(idCol))
      .agg(min(col("id1")).as("_dup_of_corpus"))
    val survivorPairs = verified.filter(col("new1")).select("id1", "id2")
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

  /** 64-bit SimHash of the token multiset: per bit, the sign of the
    * sum of ±1 votes from each token's xxhash64 bit. Computed by the
    * codegen'd [[graft.functions.SimHash64]] kernel (each token
    * hashed once, 64 votes per token in a compiled loop) — same hash
    * family and vote/pack semantics as the HOF fold it replaces,
    * which re-hashed every token once per bit through the lambda
    * interpreter.
    */
  def simhash64(toks: Column): Column = graft.functions.simhash64(toks)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Blocks-per-band-key for a SimHash corpus of `n` docs: the
    * smallest r in [2, blocks-2] whose EXPECTED random-collision
    * candidate mass per table — `C(blocks, r)` band keys, each
    * colliding a random pair w.p. `2^-(r*width)` — stays within a
    * linear budget of `blocks` candidates per doc per table. The rule
    * is deliberately table-count-invariant: total mass and total
    * budget both scale linearly with the table count, so tables
    * cancels out of the inequality and does not appear here. This is
    * what makes banded SimHash sub-quadratic at corpus scale: the key
    * gains one block (width bits) roughly every 2^width-fold corpus
    * growth, so candidates-per-doc stays O(tables*blocks) at every n
    * instead of O(n / 2^(r*width)). Pure integer math, unit-tested by
    * enumeration in NearDupSpec.
    */
  def simhashKeyBlocks(n: Long, blocks: Int = 8): Int = {
    val width = 64 / blocks
    def comb(m: Int, k: Int): Long = {
      var r = 1L; var i = 0
      while (i < k) { r = r * (m - i) / (i + 1); i += 1 }
      r
    }
    var r = 2
    while (r < blocks - 2 &&
        comb(blocks, r).toDouble * n.toDouble / 2.0 /
          math.pow(2.0, (r * width).toDouble) > blocks.toDouble) {
      r += 1
    }
    r
  }

  /** SimHash near-dup pairs via MULTI-TABLE block-pair buckets.
    *
    * The 64-bit signature splits into `blocks` equal bit-blocks (8 x
    * 8-bit by default); a bucket key is a PAIR of blocks — 16 bits of
    * key material — and `tables` rotated copies of the signature each
    * contribute their own C(blocks, 2) pair keys. A pair of docs is a
    * candidate when any table has any block-pair matching exactly;
    * candidates then filter on exact hamming <= maxDist. The only
    * shuffle is the (band, bits) equi-key — never all-pairs.
    *
    * Why pairs-of-blocks instead of single blocks (the round-5
    * design): an 8-bit band key collides two RANDOM docs w.p. 1/256,
    * so single-block banding emits ~blocks/256 of ALL pairs — a
    * quadratic candidate-mass bomb at corpus scale (measured ~3% of
    * all pairs at sf0.1). A 16-bit pair key collides at 1/65536;
    * with 3 tables x 28 pairs the random mass is 84/65536 ~ 0.13% of
    * pairs — 24x less (verified: 407k -> 16.7k bucket-pair mass on
    * 5100 uniform-random signatures) — while true near-dups still
    * collide because their signatures agree on almost every block.
    * Caveat measured on the synthetic sf0.1 corpus: template-generated
    * text puts 6.3% of ALL doc pairs within hamming 12, so total
    * emission mass there is floor-bound by true near-pair density
    * (7.11M -> 6.66M); the 24x factor applies to the diverse-corpus
    * random term that dominates at web scale, not to a corpus whose
    * output itself is quadratic.
    *
    * Recall contract (honest, round-7 measured): hamming <= blocks-2
    * GUARANTEES a candidate (pigeonhole: <= blocks-2 error bits leave
    * >= 2 clean blocks, whose pair key matches in table 0; verified
    * by 13M-pair brute force at sf0.1 — zero misses at hamming <= 6).
    * Distances in (blocks-2, maxDist] are probabilistic ONLY: the
    * rotated phases ceil(t*width/tables) re-slice the bit-blocks, but
    * an error pattern staining >= blocks-1 blocks in every phase
    * escapes. Measured per-distance recall on the template-generated
    * sf0.1 corpus (977k truth pairs <= 12): h=7 99.95%, h=8 99.4%,
    * h=9 97.1%, h=10 92%, h=11 84%, h=12 74% — and a 4th table only
    * lifts the 7..12 band from 84% to 89% aggregate for +6% candidate
    * mass (rejected; recorded in PERF.md). What makes the VERIFIED
    * near-dup surface safe anyway: true Jaccard>=0.5 pairs concentrate
    * in the deterministic band (sf0.01 gate corpus: all 36 truth pairs
    * at hamming <= 6 — NearDupSpec pins this; sf0.1: 352/369 at <= 6,
    * 368/369 surfaced, the one escape an 11-bit pattern staining 7 of
    * 8 blocks in every phase). Production guidance: dedup at j >= 0.8
    * concentrates below hamming ~6 where recall is deterministic; the
    * probabilistic tail only thins the far edge of the distance
    * filter.
    *
    * `maxBucketSize` mirrors [[minhashCandidates]]'s hot-bucket cap;
    * a dropped bucket weakens the guarantee for ITS members only (a
    * close pair inside a dropped bucket can still surface via its
    * other tables/pairs). The default never triggers on the test
    * corpora. The observe() also reports `candidate_pairs` — the
    * within-bucket expansion mass actually emitted — so a production
    * run can watch the quadratic term directly.
    *
    * `deterministicOnly = true` makes the recall contract explicit at
    * the call site: it caps the distance filter at blocks-keyBlocks
    * (the pigeonhole-guaranteed band), so every emitted pair is
    * CERTAIN to have been a candidate and no probabilistic tail rides
    * along. A caller keeping maxDist in the probabilistic band has, by
    * passing false (the default), explicitly accepted the measured
    * per-distance recall above rather than silently inheriting it.
    *
    * ADAPTIVE KEY WIDTH (round 13 — the 100-TB fix): a FIXED 16-bit
    * pair key collides two random docs at a constant 1/65536, so the
    * random candidate mass is ~0.13% of C(n,2) — quadratic in corpus
    * size no matter how good the constant is (6.66M pairs at sf0.1
    * already dominated that query). `keyBlocks = 0` (the default)
    * derives the number of blocks per key from the CORPUS COUNT via
    * [[simhashKeyBlocks]]: the smallest r whose expected random mass
    * `tables * C(blocks,r) * C(n,2) / 2^(r*width)` stays within a
    * linear budget (`tables * blocks` candidates per doc). Small
    * corpora keep r=2 (16-bit keys, the round-6 behavior — so every
    * sf0.01 oracle and spec pin is unchanged); n > ~37k moves to
    * r=3 (24-bit keys), n > ~5M to r=4, and a 10^11-doc 100-TB corpus
    * lands at r=5..6 — candidates per doc stay O(tables*blocks) at
    * every scale instead of growing linearly with n. The honest
    * recall trade, MEASURED at sf1 (51k docs, r=3 vs fixed r=2):
    * candidate mass 62.9M -> 12.4M (5.1x) while the verified j >= 0.8
    * output kept 3627 of 3684 pairs (98.5%) — the 57 escapes all sit
    * at hamming exactly blocks-r+1 = 6 with error bits spread
    * one-per-block, the pattern no rotation can rescue (see the phase
    * note below). The pigeonhole guarantee is hamming <= blocks - r,
    * so at r=3 the deterministic band is h <= 5; j >= 0.8 truth mass
    * concentrates there. Callers who need the full h <= 6 determinism
    * pass keyBlocks = 2 explicitly and pay the quadratic random mass.
    *
    * `deterministicOnly` composes with the adaptive width as "no
    * probabilistic tail AT THIS CORPUS SIZE": the cap is
    * blocks - r(n), so it tightens (h <= 6 -> h <= 5 -> ...) as the
    * corpus crosses each width boundary. That is the flag's meaning —
    * every emitted pair was a guaranteed candidate — not a fixed
    * distance contract; a caller who needs a FIXED band pins
    * keyBlocks explicitly (the chosen width is observable as
    * `key_blocks` in the graft.simhash_lsh metrics either way).
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 12, blocks: Int = 8, tables: Int = 3,
      maxBucketSize: Long = 100000,
      deterministicOnly: Boolean = false,
      keyBlocks: Int = 0,
      distCutMinTokens: Int = 0): DataFrame = {
    val base = docs
      .withColumn("_toks", Text.tokens(col(textCol)))
      .withColumn("_sim", simhash64(col("_toks")))
    if (distCutMinTokens <= 0)
      simhashPairsFromSignatures(base.drop("_toks"),
        idCol, "_sim", maxDist, blocks, tables, maxBucketSize,
        deterministicOnly, keyBlocks)
    else
      simhashPairsFromSignatures(
        // coalesce: size(null tokens) is null, and a null exemption
        // flag would ride through the distance cut's OR as null and
        // silently FILTER null-text docs instead of exempting them
        // (r15 ADVICE). true is the honest default — a doc with no
        // tokens certainly has an unconcentrated signature — and can
        // only ADD candidates that still face the exact verify (where
        // null-token docs cannot pass), so declared outputs are
        // unchanged.
        base.withColumn("_ncut",
          coalesce(size(col("_toks")) < distCutMinTokens, lit(true)))
          .drop("_toks"),
        idCol, "_sim", maxDist, blocks, tables, maxBucketSize,
        deterministicOnly, keyBlocks,
        distCutExemptCol = Some("_ncut"))
  }

  /** The banding core of [[simhashPairs]] over PRECOMPUTED 64-bit
    * signatures — exposed so callers with their own fingerprints
    * (perceptual hashes, non-text token streams) and the spec's
    * corpus-pathology-free candidate-mass pins (uniform-random
    * signatures) can drive the identical multi-table combination-key
    * machinery. Same contract, observations, and adaptive key width
    * as [[simhashPairs]].
    */
  def simhashPairsFromSignatures(
      signatures: DataFrame, idCol: String, sigCol: String,
      maxDist: Int = 12, blocks: Int = 8, tables: Int = 3,
      maxBucketSize: Long = 100000,
      deterministicOnly: Boolean = false,
      keyBlocks: Int = 0,
      distCutExemptCol: Option[String] = None): DataFrame = {
    require(64 % blocks == 0, "blocks must divide 64")
    require(blocks >= 4 && blocks <= 16,
      "need 4..16 blocks: keys are combinations of >= 2 blocks and the " +
        "pigeonhole band needs blocks-2 >= 2; beyond 16 blocks the " +
        "8-bit keys collide like the single-block design this replaces")
    require(tables >= 1, "need at least one table")
    val width = 64 / blocks
    val mask = (1L << width) - 1L
    // persist ONLY when the sizing count below will run: since the
    // window refactor the banding stream reads the signatures exactly
    // once, so with pinned keyBlocks a cache write would be pure
    // overhead; otherwise the cache keeps the 64-bit fold from
    // running twice (count + banding).
    val needCount = keyBlocks <= 0
    // optional per-doc distance-cut exemption (see [[simhashNearDuplicates]]'s
    // distCutMinTokens): the flag rides the banded rows so the final
    // hamming filter can keep a candidate when EITHER side is exempt
    val exCols = distCutExemptCol.toSeq.map(c => col(c).cast("boolean").as("_ex"))
    val sigBase = signatures
      .select(Seq(col(idCol), col(sigCol).cast("long").as("_sim")) ++ exCols: _*)
    val sig = if (needCount) sigBase.persist() else sigBase
    // band-key sizing needs only the corpus CARDINALITY; the chosen
    // width is observable as `key_blocks`
    val r =
      if (keyBlocks > 0) keyBlocks
      else simhashKeyBlocks(sig.count(), blocks)
    require(r >= 2 && r <= blocks - 2,
      s"keyBlocks in [2, blocks-2] required (got $r): r=1 is the " +
        "single-block quadratic bomb, r > blocks-2 leaves no pigeonhole " +
        "band at all")
    val effMaxDist = if (deterministicOnly) math.min(maxDist, blocks - r) else maxDist
    // evenly spread rotation phases over the width-cycle (rotating by
    // a multiple of `width` permutes whole blocks — same key space —
    // so only phases mod width are distinct re-slicings). NOTE, from
    // the round-13 sf1 A/B: extra tables do NOT meaningfully thin the
    // r=3 escape band — the escapes are hamming-(blocks-r+1) pairs
    // whose error bits are SPREAD one-per-block, and a spread pattern
    // stains the same number of blocks in every rotation (a 4th table
    // recovered 4 of 57 escapes for +33% mass; rejected). The honest
    // levers are r itself (deterministic radius blocks-r) and the
    // exact-verify threshold, not the phase count.
    val effPhases = (0 until tables).map(t => (t * width + tables - 1) / tables)
    // one rotated signature per table, then C(blocks, r) combination
    // keys per rotation: band id = (table, combination index) packed;
    // bits = block_{c1} || ... || block_{cr}
    def rot(c: Column, p: Int): Column =
      if (p == 0) c
      else shiftleft(c, p).bitwiseOR(call_function("shiftrightunsigned", c, lit(64 - p)))
    def block(c: Column, k: Int): Column =
      call_function("shiftrightunsigned", c, lit(k * width)).bitwiseAND(lit(mask))
    val combs = (0 until blocks).combinations(r).toArray // lexicographic, deterministic
    // TWO-STEP key construction, codegen-sized (round 14): building
    // every key directly from _sim inlines the rot+block chain into
    // each of the tables x C(blocks, r) struct entries — ~16k
    // generated lines at the defaults, over janino's method limit, so
    // the whole banding stage fell back to the interpreter. Step 1
    // materializes the tables x blocks rotated block values as plain
    // long columns (each a 4-op expression); step 2's inline() then
    // builds each key from 2-4 column references + shifts — two
    // orders of magnitude less generated code, compiles, stays in
    // whole-stage codegen. Same math, bit-exact same keys.
    val blockCols = for {
      (p, t) <- effPhases.zipWithIndex
      k <- 0 until blocks
    } yield block(rot(col("_sim"), p), k).as(s"_b_${t}_$k")
    val exPass = distCutExemptCol.toSeq.map(_ => col("_ex"))
    val withBlocks = sig.select(
      Seq(col(idCol), col("_sim")) ++ exPass ++ blockCols: _*)
    val keys = for {
      (_, t) <- effPhases.zipWithIndex
      (cmb, ci) <- combs.zipWithIndex
    } yield struct(
      lit(t * combs.length + ci).as("band"),
      cmb.map(i => col(s"_b_${t}_$i"))
        .reduceLeft((acc, b) => shiftleft(acc, width).bitwiseOR(b)).as("band_bits"))
    val banded = withBlocks.select(
      Seq(col(idCol), col("_sim")) ++ exPass :+ inline(array(keys: _*)): _*)
    // BUCKET COUNTS VIA WINDOW, not groupBy+join (round 15): the old
    // shape shuffled the banded table TWICE at corpus scale — once
    // into the bucket-count aggregate (whose partial agg barely
    // shrinks: at a properly-sized r the buckets are overwhelmingly
    // singletons) and once into the bucket-list join. One window over
    // (band, band_bits) does a single shuffle+sort of the banded rows,
    // puts each row's bucket size ON the row, and the 2..maxBucketSize
    // filter then reduces the stream to the collision rows — the
    // candidate-mass scale — before anything else touches it. No
    // bucket join exists to mis-plan (the r14 AQE-broadcast trap and
    // the r15 hash-build OOM both lived in that join), and the window
    // sort spills safely at any n. row_number picks one representative
    // row per bucket so the observe() metrics keep bucket grain.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_bits")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wRn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_bits")).orderBy(col(idCol))
    val counted = banded
      .withColumn("_cnt", count(lit(1)).over(w))
      .withColumn("_rn", row_number().over(wRn))
    // capped = collision rows only, eagerly materialized: the
    // checkpoint (a) fires the observed metrics exactly once (the
    // self-join below reads capped twice — racing an unmaterialized
    // cache could double-count), (b) cuts the window lineage so the
    // self-join plans against the SMALL table, (c) frees the sig
    // cache's only consumer.
    val capped = counted
      .observe("graft.simhash_lsh",
        sum(when(col("_rn") === 1 && col("_cnt") > maxBucketSize,
          lit(1L)).otherwise(lit(0L))).as("dropped_buckets"),
        sum(when(col("_rn") === 1 && col("_cnt") > maxBucketSize,
          col("_cnt")).otherwise(lit(0L))).as("dropped_docs"),
        sum(when(col("_rn") === 1 && col("_cnt") <= maxBucketSize,
          (col("_cnt") * (col("_cnt") - 1) / 2).cast("long"))
          .otherwise(lit(0L))).as("candidate_pairs"),
        max(lit(r.toLong)).as("key_blocks"))
      .filter(col("_cnt") >= 2 && col("_cnt") <= maxBucketSize)
      .select(Seq(col(idCol), col("_sim"), col("band"), col("band_bits"))
        ++ exPass: _*)
      .lineageCut()
    if (needCount) sig.unpersist(false)
    // hamming filter BEFORE distinct: the codegen'd bit_count cut
    // shrinks the distinct's shuffle to the true near-dup mass. (A
    // row-local "minimal matching band" rule was tried to drop the
    // distinct shuffle entirely; its decode expression gets pushed
    // into the sort-merge-join condition where the ~500-node tree is
    // evaluated per candidate pair, 15-30x slower than just paying
    // the distinct. The distinct's input is linear in join emissions
    // — the same scale class as the join itself.) Self-join stays
    // pinned sort-merge: capped is corpus-scaling (collision mass),
    // so it may spill but must never broadcast.
    val distKeep =
      if (distCutExemptCol.isEmpty) col("hamming") <= effMaxDist
      // an exempt side (too few features for the signature to have
      // concentrated) bypasses the distance cut — the pair still faces
      // the caller's exact verify, so this only ever ADDS true pairs
      else col("hamming") <= effMaxDist || col("_ex1") || col("_ex2")
    val exSel = distCutExemptCol.toSeq.flatMap(_ =>
      Seq(col("a._ex").as("_ex1"), col("b._ex").as("_ex2")))
    val out = capped.as("a").hint("merge").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_bits") === col("b.band_bits") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(Seq(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        hamming64(col("a._sim"), col("b._sim")).as("hamming")) ++ exSel: _*)
      .filter(distKeep)
      .select("id1", "id2", "hamming")
      .distinct()
      .lineageCut()
    out
  }

  /** SimHash-candidate near-dup detection, verified with exact
    * shingle-set Jaccard — the simhash counterpart of
    * [[nearDuplicates]]: bit-banded candidate generation (cheap, one
    * 64-bit signature per doc vs 32 minhash perms), then the same
    * exact verify join over candidate ids only. The end-to-end output
    * (pairs with true Jaccard >= threshold that simhash banding
    * surfaced) is what a dedup pipeline consumes, and — unlike the raw
    * hamming pairs — is oracle-checkable against brute-force Jaccard
    * whenever banding recall is 1.0 on the corpus.
    */
  /** @param distCutMinTokens when > 0, docs with fewer tokens than
    *        this bypass the hamming-distance cut (their candidates go
    *        straight to the exact verify). A 64-bit simhash over a
    *        handful of tokens has not concentrated — at 15-25 tokens a
    *        j >= 0.9 pair can land at hamming 7+ (three such pairs on
    *        the sf0.001 gate corpus, found r15) — so a distance cut
    *        below a feature-count floor silently drops true pairs. The
    *        bypass only ever ADDS pairs that pass the exact verify
    *        (true pairs), and at scale the extra verify mass is the
    *        short-doc slice of banding collisions — the cut's savings
    *        live in the long-doc mass, which dominates. 0 = off (the
    *        pre-r15 behavior).
    */
  def simhashNearDuplicates(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      maxDist: Int = 12, blocks: Int = 8, tables: Int = 3, shingleN: Int = 3,
      maxBucketSize: Long = 100000, keyBlocks: Int = 0,
      distCutMinTokens: Int = 0): DataFrame = {
    val cand = simhashPairs(docs, idCol, textCol, maxDist, blocks, tables,
      maxBucketSize, deterministicOnly = false, keyBlocks = keyBlocks,
      distCutMinTokens = distCutMinTokens)
      .select("id1", "id2")
      // verify_pairs = exact-verify input mass (post-hamming-filter,
      // post-distinct). THIS is what the maxDist production lever
      // cuts: banding candidate_pairs are identical at any maxDist,
      // but every pair surviving here pays a shingle-set Jaccard —
      // at j >= 0.8 settings, maxDist = blocks-2 = 6 (the
      // deterministic band) cuts this an order of magnitude vs 12
      // (measured at sf10: the 154M-candidate exact-verify dominated
      // the 444 s wall). Observable per query at zero extra jobs.
      .observe("graft.simhash_verify", count(lit(1)).as("verify_pairs"))
    val sh = docs.select(col(idCol),
      Text.shingles(Text.tokens(col(textCol)), shingleN).as("_sh")).persist()
    // same contract as nearDuplicates' verify join: strategy left to
    // the optimizer — sh's estimate is scan-derived and sane, so
    // broadcast-at-small / shuffle-at-large happens by itself
    val out = cand
      .join(sh.withColumnRenamed(idCol, "id1").withColumnRenamed("_sh", "_sh1"), "id1")
      .join(sh.withColumnRenamed(idCol, "id2").withColumnRenamed("_sh", "_sh2"), "id2")
      .withColumn("jaccard", Text.jaccard(col("_sh1"), col("_sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .lineageCut() // verified pairs are tiny; free sh now
    sh.unpersist(false)
    out
  }
}
