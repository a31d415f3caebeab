package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Lineage.CutSyntax

/** Min-id connected-component labeling over an undirected edge list —
  * the shared CC engine behind [[Dbscan]]'s residual graph and the
  * dedup family's duplicate-group contraction ([[NearDup.dedupClusters]]).
  *
  * Two solver paths, chosen by edge count:
  *   - `<= singleTaskMax` edges: ONE in-task union-find (open-addressed
  *     primitive long->long parent table). 1M edges is ~16 MB of long
  *     pairs — trivially in-memory — yet orders of magnitude above the
  *     residual/duplicate graphs real pipelines produce, because both
  *     callers contract their graphs first (DBSCAN per-block, dedup by
  *     verified-pair sparsity). A join-per-round loop would pay
  *     multi-second fixed job latency PER ROUND on a tiny table.
  *   - beyond the cap: frontier-based min-label propagation with
  *     pointer jumping (label := label(label)), O(log diameter)
  *     rounds, lineage cut by one localCheckpoint per round. A node's
  *     label can only improve via a neighbor whose label improved
  *     since it last offered it, so each round's edge join touches
  *     only the CHANGED labels.
  *
  * Label choice (min id in the component) is order-independent, so
  * labels are reproducible run-to-run on any engine — the property
  * the oracle hash gates rely on.
  */
object ConnectedComponents {

  /** Open-addressed primitive long->long map (linear probing, power-
    * of-two capacity) — the union-find parent table. A boxed
    * java.util.HashMap[Long, Long] measured ~2x slower on the 20M-edge
    * contraction pass purely from boxing/unboxing.
    */
  private final class LongLongMap(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCap) - 1) << 1
    private var mask = cap - 1
    private var ks = new Array[Long](cap)
    private var vs = new Array[Long](cap)
    private var occ = new Array[Boolean](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      // 64-bit finalizer mix, masked to capacity
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      var i = (h & mask).toInt
      while (occ(i) && ks(i) != k) i = (i + 1) & mask
      i
    }
    def getOrDefault(k: Long, dflt: Long): Long = {
      val i = slot(k)
      if (occ(i)) vs(i) else dflt
    }
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!occ(i)) {
        occ(i) = true; ks(i) = k; n += 1
        if (n * 2 > cap) grow()
      }
      vs(slot(k)) = v
    }
    private def grow(): Unit = {
      val ok = ks; val ov = vs; val oo = occ
      cap <<= 1; mask = cap - 1; n = 0
      ks = new Array[Long](cap); vs = new Array[Long](cap); occ = new Array[Boolean](cap)
      var i = 0
      while (i < ok.length) { if (oo(i)) put(ok(i), ov(i)); i += 1 }
    }
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < ks.length) { if (occ(i)) f(ks(i)); i += 1 }
    }
    def size: Int = n
  }

  /** Per-partition PRE-contraction over (src, dst, groupKey) edge
    * tuples: union-finds whatever edge subset landed in this task and
    * emits the spanning forest (node, partialRoot, groupKey) — a
    * strict volume reduction from edges to distinct-nodes-seen that
    * preserves connectivity exactly (a spanning forest of any edge
    * subset connects the same nodes). Every input edge must have both
    * endpoints in the same group (the caller's invariant), so a
    * node's group is any of its edges' groups; partial components
    * never span groups and each emitted row carries the one group the
    * node belongs to. Feeding the emitted forest, repartitioned by
    * groupKey, into [[unionFindPartition]] yields the same per-group
    * labels as shuffling the raw edges — at a fraction of the shuffle
    * volume (the win that keeps DBSCAN's heaviest shuffle from being
    * O(neighbor pairs)).
    */
  private[graft] def forestPartition(
      it: Iterator[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
    val parent = new LongLongMap(1 << 12)
    val group = new LongLongMap(1 << 12)
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      var c = x
      while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    while (it.hasNext) {
      val (a, b, g) = it.next()
      group.put(a, g); group.put(b, g)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) { parent.put(rb, ra); parent.put(ra, ra) }
      else if (rb < ra) { parent.put(ra, rb); parent.put(rb, rb) }
      else parent.put(ra, ra)
    }
    val out = Array.newBuilder[(Long, Long, Long)]
    out.sizeHint(group.size)
    group.foreachKey(k => out += ((k, find(k), group.getOrDefault(k, 0L))))
    out.result().iterator
  }

  /** Per-partition union-find over (src, dst) edge tuples: contracts
    * every edge in the partition and emits (node, root) with root =
    * the minimum id of the node's local component (union-by-min keeps
    * the smallest id at the root; path compression keeps finds
    * amortized ~O(1)). When the caller partitions edges so ALL of a
    * node's edges land in one task, each node is emitted by exactly
    * one task and the local roots ARE the component labels.
    */
  private[graft] def unionFindPartition(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new LongLongMap(1 << 12)
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      // path compression
      var c = x
      while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    while (it.hasNext) {
      val (a, b) = it.next()
      val ra = find(a)
      val rb = find(b)
      // the losing root gets re-parented; the WINNING root also gets a
      // self-entry so component minima are emitted too — without it the
      // min node (never a loser) never enters the map and the single-
      // task path would omit exactly the canonical ids. Writing
      // (ra, ra) is safe: ra is a root here, so its entry is ra anyway.
      if (ra < rb) { parent.put(rb, ra); parent.put(ra, ra) }
      else if (rb < ra) { parent.put(ra, rb); parent.put(rb, rb) }
      // ra == rb: usually both nodes are already in the map from the
      // union that joined them — EXCEPT a pure self-loop (a == b)
      // whose node has no other edges. Register it so the single-task
      // path keeps the contract (every node appearing in edges is
      // emitted), matching the frontier path.
      else parent.put(ra, ra)
    }
    val out = Array.newBuilder[(Long, Long)]
    out.sizeHint(parent.size)
    parent.foreachKey(k => out += ((k, find(k))))
    out.result().iterator
  }

  /** @param edges undirected edge list; integral (long-compatible)
    *        endpoint columns. Edges should be materialized (persisted
    *        or checkpointed) by the caller — `label` counts them once
    *        to pick the solver and the frontier path re-reads them
    *        per round.
    * @param singleTaskMax largest graph solved by ONE union-find task
    *        (see class doc for the memory budget).
    * @return (id, label) for every node appearing in `edges` —
    *         component minima included, labeled with themselves; label
    *         = min node id of the component. Nodes absent from `edges`
    *         never appear (callers coalesce missing labels to the
    *         node's own id).
    */
  def label(edges: DataFrame, srcCol: String, dstCol: String,
      singleTaskMax: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nEdges = e.count()
    if (nEdges <= singleTaskMax) {
      // single-task-solvable graph => the label table is bounded by
      // 2 x singleTaskMax nodes, i.e. broadcastable by construction.
      // The hint matters: the mapPartitions output has no stats, so
      // without it a caller joining ~1M core ids against ~1.5k labels
      // plans a full shuffle join of the big side.
      broadcast(
        e.coalesce(1)
          .as[(Long, Long)]
          .mapPartitions(unionFindPartition)
          .toDF("id", "label")
          .lineageCut())
    } else {
      // Frontier-based min-label propagation: a node's label can only
      // improve via a neighbor whose label improved since it last
      // offered it, so the edge join only needs the labels that
      // CHANGED last round. Pointer jumping (label := label(label))
      // bounds rounds by O(log diameter); any label changed by the
      // jump re-enters the frontier, preserving the offer invariant.
      // The join propagates src -> dst only, so symmetrize here: a
      // caller may pass one-directional pairs (id1 < id2). Duplicate
      // edges (already-symmetric input) are harmless under min().
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      var ls = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct()
        .select(col("id"), col("id").as("label"))
        .lineageCut()
      var frontier = ls
      var active = true
      var iter = 0
      while (active && iter < 64) {
        val nbrMin = und
          .join(frontier.withColumnRenamed("id", "src").withColumnRenamed("label", "_fl"),
            "src")
          .groupBy(col("dst").as("id"))
          .agg(min(col("_fl")).as("_nl"))
        val prop = ls.withColumnRenamed("label", "_ol")
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"), least(col("_ol"), coalesce(col("_nl"), col("_ol"))).as("label"),
            col("_ol"))
        // pointer jumping: label := label(label)
        val jump = prop.as("a")
          .join(prop.select(col("id").as("_jid"), col("label").as("_jl")),
            col("a.label") === col("_jid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.label"), coalesce(col("_jl"), col("a.label"))).as("label"),
            col("a._ol").as("_ol"))
          .lineageCut() // the round's ONE job
        frontier = jump.filter(col("label") =!= col("_ol")).select("id", "label")
        ls = jump.select("id", "label") // projection of the checkpointed DF
        active = frontier.limit(1).count() > 0
        iter += 1
      }
      ls
    }
  }
}
