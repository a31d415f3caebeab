package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Lineage.CutSyntax

/** Distributed DBSCAN — the Spark re-expression of the reference's
  * cuML DBSCAN lake clustering
  * (/root/reference/deepicedrain/lake_algorithms.py:13-73, defaults
  * eps=3000 min_samples=250; pipeline eps=3000 min_samples=300 over
  * features (x, y, dhdt_slope), /root/reference/atlxi_lake.py:192-227).
  *
  * Algorithm (exact DBSCAN semantics, any dimension):
  *   1. cell = floor(coord/eps) per dim; the HALO side replicates each
  *      point to its 3^d neighbor cells (broadcast of a tiny offsets
  *      table), the HOME side stays single — every point pair within
  *      eps meets in exactly one (home, halo) cell join.
  *   2. neighbor pairs: equi-join home x halo on the cell key with
  *      squared-distance <= eps^2 — the only quadratic work is within
  *      3^d-cell neighborhoods (cells are eps-sized, so occupancy is
  *      bounded by density, the DBSCAN working assumption).
  *   3. core points: |neighbors| + 1 (self) >= minPts.
  *   4. cluster = connected components of the core-core neighbor
  *      graph, solved in TWO LEVELS:
  *      (a) LOCAL: edges whose endpoints share a spatial BLOCK
  *         (blockCells x blockCells eps-cells) are contracted by an
  *         in-task union-find (mapPartitions over block-partitioned
  *         intra-block edges) — one linear pass replaces most of the
  *         iterative work, because with density-adaptive eps a block
  *         holds O(blockCells^2 * k) points REGARDLESS of data scale
  *         (k = target neighbors/point), so per-task state is bounded
  *         and the block count (= parallelism) grows with the data.
  *      (b) GLOBAL: only edges CROSSING blocks survive, mapped to
  *         their local roots and deduped — a graph ~two orders of
  *         magnitude smaller (boundary components only). Frontier
  *         min-label propagation with pointer-jumping (label :=
  *         label(label)) converges in O(log diameter) rounds over this
  *         residual graph; lineage cut by one localCheckpoint per
  *         round.
  *      Exactness: a local root is reached via same-component edges,
  *      so contraction preserves components; the global min id of a
  *      component has no smaller neighbor anywhere, is its own local
  *      root, and survives to the residual graph (or never leaves its
  *      block, in which case it already labels its component) — so
  *      min-root labels ARE the original min-id labels.
  *   5. border points join the min-labeled core neighbor; the rest is
  *      noise (null cluster, matching the reference's NaN noise).
  *
  * Determinism: min-id labels are order-independent, so cluster ids
  * and counts are reproducible run-to-run (the reference's exact
  * 16/31 cluster-count gates rely on this).
  */
object Dbscan {

  /** @param blockCells side length of the local-contraction block in
    *        eps-cells. Per-task union-find state is O(blockCells^2 x
    *        neighborhood occupancy) — scale-free under density-adaptive
    *        eps; raise it only to shrink the residual graph further.
    * @param residualUnionFindMax largest residual graph solved by ONE
    *        union-find task. 1M edges ≈ 16 MB of long pairs plus the
    *        open-addressed map — trivially in-memory, yet still ~3
    *        orders above measured residual sizes (1.5k at sf0.1);
    *        beyond it the frontier loop takes over.
    * @param includeNoise when true (default), every input id appears
    *        in the output with cluster = null for noise — the classic
    *        DBSCAN contract. When false, only CLUSTERED points (core +
    *        border) are returned: callers that immediately drop noise
    *        (the lake pipeline, cluster-count summaries) skip the
    *        final left-join over the full id set and the
    *        materialization of O(points) noise rows — at scale that is
    *        one whole shuffle join less.
    * @return (idCol, cluster) — cluster is the min point-id of the
    *         cluster's core points; null = noise. `idCol` must be an
    *         integral (long-compatible) column.
    */
  def dbscan(
      points: DataFrame, idCol: String, coords: Seq[String],
      eps: Double, minPts: Int, blockCells: Int = 16,
      residualUnionFindMax: Long = 1000000L,
      includeNoise: Boolean = true): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val d = coords.length
    require(d >= 1, "need at least one coordinate")

    // 1. home cells — persisted: four consumers (halo build, pair
    // join, core left side, final assemble) would otherwise re-derive
    // the caller's upstream plan (for the lake pipeline that chain
    // includes joins) once each; the table is narrow (id + d coords +
    // d cells)
    val cellCols = coords.zipWithIndex.map { case (c, i) =>
      floor(col(c) / eps).cast("long").as(s"_c$i")
    }
    val home = points.select((col(idCol) +: coords.map(col)) ++ cellCols: _*)
      .persist()

    // offsets: 3^d rows, broadcast. (A one-sided 5-offset halo with a
    // swapped-union to recover both pair directions was benchmarked
    // and measured SLOWER at sf0.1 — the halved join output doesn't
    // pay for the extra cache materialization and doubled downstream
    // cache scans, because the codegen'd distance filter is cheap.)
    val offsets = (0 until d).foldLeft(Seq(Seq.empty[Int])) { (acc, _) =>
      acc.flatMap(o => Seq(-1, 0, 1).map(o :+ _))
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.map(o =>
        org.apache.spark.sql.Row.fromSeq(o)), 1),
      org.apache.spark.sql.types.StructType((0 until d).map(i =>
        org.apache.spark.sql.types.StructField(s"_o$i",
          org.apache.spark.sql.types.IntegerType))))

    // 2. halo replication + pair join. Pairs carry the SRC block index
    // (cell div blockCells, one flat long per dim — primitive columns
    // cache far better than structs) plus a precomputed intra-block
    // flag, so step 4a can split local from boundary edges without
    // re-joining coordinates. floor() handles negative cells.
    val halo = home.crossJoin(broadcast(offDf))
      .select((col(idCol).as("_bid") +:
        coords.zipWithIndex.map { case (c, i) => col(c).as(s"_b$i") }) ++
        (0 until d).map(i => (col(s"_c$i") + col(s"_o$i")).as(s"_bc$i")): _*)

    val joinCond = (0 until d).map(i => col(s"_c$i") === col(s"_bc$i")).reduce(_ && _)
    val dist2 = coords.zipWithIndex.map { case (c, i) =>
      (col(c) - col(s"_b$i")) * (col(c) - col(s"_b$i"))
    }.reduce(_ + _)
    def blockIdx(c: org.apache.spark.sql.Column) =
      floor(c.cast("double") / blockCells).cast("long")
    // one flat block key instead of d block columns: hash collisions
    // merely merge two blocks into one contraction task (harmless —
    // no edge crosses blocks, so merged groups still contract each
    // component exactly once) and the pair cache stays narrower
    val srcBlk = hash((0 until d).map(i => blockIdx(col(s"_c$i"))): _*)
      .cast("long").as("_sbk")
    val sameBlk = (0 until d).map(i =>
      blockIdx(col(s"_c$i")) === blockIdx(floor(col(s"_b$i") / eps).cast("long")))
      .reduce(_ && _)
    // The pair join's strategy comes from sizes Spark measured. It
    // runs with broadcast off and the shuffled-hash local-map
    // threshold at the session's advisory partition size, so AQE's
    // DynamicJoinSelection turns the sort-merge join into a shuffled
    // hash join only when every measured home-side shuffle partition
    // fits under it. A hash build cannot spill, and a hot cell is one
    // join key in one partition that skew splitting cannot divide, so
    // a hot cell keeps the spillable sort-merge join. Broadcast is off
    // because a small home side would otherwise be broadcast, which
    // breaks the cell co-location that the pass-1 forestPartition
    // pre-contraction relies on (the offsets broadcast is a hint and is
    // unaffected). The scope opens before `pairs` is persisted because
    // CacheManager plans the cached query at persist() time, in a copy
    // of the session conf.
    val (pairs, degrees, nonCorePaired) = graft.GraftSession.withConf(spark,
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
          spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val pairs = home.join(halo, joinCond)
        .filter(col(idCol) =!= col("_bid"))
        .filter(dist2 <= lit(eps * eps))
        .select(col(idCol).as("src"), col("_bid").as("dst"),
          sameBlk.as("_intra"), srcBlk)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

      // 3. core points. For minPts > 1 every core point has >= 1
      // neighbor and therefore appears in `pairs`, so the core split
      // is derivable from the degree table ALONE — no join back to the
      // full id set. The interesting set is the NON-core-but-paired
      // one: under the density-adaptive eps contract (interior points
      // carry ~target neighbors >> minPts) it is a thin boundary
      // population, and every core-core filter below is a pair of
      // anti-joins against it over the cached pair table (for
      // minPts <= 1 it is empty and they keep every edge). The count
      // materializes it, home, pairs and degrees, so Spark plans those
      // joins from their measured sizes: a thin set broadcasts.
      val degrees = pairs.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
      val nonCorePaired = degrees.filter(col("deg") + 1 < minPts)
        .select(col("src")).persist()
      graft.Profile.stage("dbscan_pairs") { nonCorePaired.count() }
      (pairs, degrees, nonCorePaired)
    }
    val coreIds =
      if (minPts <= 1) home.select(col(idCol).as("cid"))
      else degrees.filter(col("deg") + 1 >= minPts).select(col("src").as("cid"))
    def coreCore(df: DataFrame) = df
      .join(nonCorePaired, Seq("src"), "left_anti")
      .join(nonCorePaired.select(col("src").as("dst")), Seq("dst"), "left_anti")

    // 4a. LOCAL contraction: union-find per block over intra-block
    // edges, in TWO passes. Pass 1 (zero shuffle) pre-contracts each
    // join-output partition into its spanning forest — the pair join
    // already co-locates a cell's edges, so a node's edges land in at
    // most 3^d partitions and the forest is ~|nodes| rows instead of
    // ~|edges| (at sf0.1: ~24M intra pairs -> ~3M forest rows). Pass 2
    // shuffles only the forest by block key and union-finds per block;
    // a node's block is a pure function of its coordinates, so each
    // node is emitted exactly once, mapped to the min id of its local
    // component. Spanning forests preserve connectivity exactly, so
    // the labels are identical to contracting the raw edges — pinned
    // by DbscanSpec's geometry-invariance property.
    // The pair cache holds BOTH orientations of every neighbor pair
    // (degrees and the border join need them); the CONNECTIVITY flows
    // below don't — an undirected edge in one orientation carries the
    // same union. src < dst keeps each edge exactly once, halving the
    // union-find work here and the root-mapping joins + distinct on
    // the residual path. Exactness: the kept orientation lives in ONE
    // join-output partition, whose spanning forest preserves the
    // link; the per-block union-find then sees it via the forest rows
    // (pinned by DbscanSpec's invariance properties).
    // Persisted, not materialized here: its first consumer is the
    // residual-graph build inside the dbscan_contract stage below.
    val localRep = coreCore(pairs.filter(col("_intra")))
      .filter(col("src") < col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("_sbk").cast("long"))
      .as[(Long, Long, Long)]
      .mapPartitions(ConnectedComponents.forestPartition)
      .toDF("_n", "_r", "_sbk")
      .repartition(col("_sbk"))
      .select(col("_n").cast("long"), col("_r").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(ConnectedComponents.unionFindPartition)
      .toDF(idCol, "_lrep")
      .persist()

    // 4b. GLOBAL residual graph: cross-block edges mapped to local
    // roots, deduped — only boundary components survive, shrinking the
    // iterated graph ~two orders of magnitude.
    val cross = coreCore(pairs.filter(!col("_intra")))
      .filter(col("src") < col("dst")) // one orientation; label() symmetrizes
      .select("src", "dst")
    val reduced = cross
      .join(localRep.select(col(idCol).as("src"), col("_lrep").as("_rs")),
        Seq("src"), "left")
      .join(localRep.select(col(idCol).as("dst"), col("_lrep").as("_rd")),
        Seq("dst"), "left")
      .select(coalesce(col("_rs"), col("src")).as("src"),
        coalesce(col("_rd"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist()

    // Solve the residual graph with the shared CC engine
    // ([[ConnectedComponents.label]]). It is boundary-only and root-
    // contracted, so it is ~two orders of magnitude smaller than the
    // core graph (measured at sf0.1: 22M core edges -> 1.5k residual
    // edges); one union-find task finishes it in milliseconds, with
    // the frontier/pointer-jumping loop as the fallback for a residual
    // graph too large for one task (chain-of-blocks topologies at
    // extreme scale).
    // label()'s edge count is the second eager barrier: it pulls the
    // local union-find contraction (localRep's first materialization)
    // and the residual-graph distinct
    val labels = graft.Profile.stage("dbscan_contract") {
      ConnectedComponents.label(reduced, "src", "dst",
        singleTaskMax = residualUnionFindMax)
    }

    // map roots back to core points: rep = local root (self if the
    // node had no intra-block edges), label = global label of the rep
    // (rep itself if the rep never reached the residual graph).
    // persisted SERIALIZED (compact long pairs, low GC pressure): it
    // is consumed twice — the border-label join and the final union —
    // and each re-derivation costs a full shuffle join of coreIds
    // against localRep
    val coreLabeled = coreIds
      .join(localRep.select(col(idCol).as("cid"), col("_lrep")), Seq("cid"), "left")
      .select(col("cid"), coalesce(col("_lrep"), col("cid")).as("rep"))
      .join(labels.select(col("id").as("rep"), col("label")), Seq("rep"), "left")
      .select(col("cid").as(idCol),
        coalesce(col("label"), col("rep")).as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    // 5. assemble: core labels, border = min-labeled core neighbor.
    // Border candidates are exactly the non-core-but-paired ids
    // (zero-pair points cannot have a core neighbor), so the same
    // materialized set drives the border join. The border PAIR subset is
    // materialized FIRST — it is thin by the same density contract —
    // so the full pair cache can be dropped before the assemble joins
    // run: after this point no stage holds the O(pairs) table, which
    // is the bulk of the operator's peak live-set (the round-7 driver
    // record showed the cached-pair dataflow's heap footprint, not its
    // plan, as the wall-time liability).
    val borderPairs = pairs
      .join(nonCorePaired, Seq("src"))
      .select(col("src"), col("dst"))
      .persist()
    // materialize, then free the 24M-pair cache
    graft.Profile.stage("dbscan_border") { borderPairs.count() }
    pairs.unpersist(false)
    val borderLabels = borderPairs
      .join(coreLabeled.select(col(idCol).as("dst"), col("cluster").as("label")), "dst")
      .groupBy(col("src").as(idCol))
      .agg(min(col("label")).as("cluster"))

    // Materialize the (small) result eagerly so the intermediates can
    // be freed NOW instead of leaking for the session's lifetime —
    // repeated dbscan calls in a long-lived session would otherwise
    // accumulate cached pair joins unboundedly. Downstream consumers
    // read the checkpointed blocks.
    val out = graft.Profile.stage("dbscan_assemble") {
      val labeledAll = coreLabeled.unionByName(borderLabels)
      val res =
        if (includeNoise)
          home.select(col(idCol))
            .join(labeledAll, Seq(idCol), "left")
            .select(col(idCol), col("cluster"))
        else labeledAll.select(col(idCol), col("cluster"))
      res.lineageCut()
    }
    home.unpersist(false)
    degrees.unpersist(false)
    nonCorePaired.unpersist(false)
    localRep.unpersist(false)
    reduced.unpersist(false)
    borderPairs.unpersist(false)
    coreLabeled.unpersist(false)
    out
  }
}
