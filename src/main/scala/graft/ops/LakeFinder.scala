package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Lineage.CutSyntax

import graft.functions.{dist_to_ring, point_in_polygon}

/** The composed subglacial-lake finder — reference atlxi_lake.py
  * §3.2 re-expressed as ONE dataflow with no driver loops: the
  * reference's per-basin and per-cluster Python loops become groupBy
  * stages; only DBSCAN itself iterates (internally, O(log n) rounds).
  *
  * Stages (citations into /root/reference/atlxi_lake.py):
  *   1. |dhdt| > noise floor filter            (:106-110)
  *   2. clip to mean±3σ                        (:115-120)
  *   3. per-basin candidate-count guard        (:205)
  *   4. DBSCAN per flow direction (sign of dhdt), draining labels
  *      negative, filling positive             (:208-226)
  *   5. cluster size > minPoints guard         (:235-240)
  *   6. convex hull + per-lake attrs (refgtracks string-agg,
  *      max |dhdt|, inner median)              (:242-295)
  *   7. 5 km donut-ring outer stats + the |inner−outer| < 3·MAD
  *      false-positive gate                    (:251-274)
  */
object LakeFinder {

  /** @param points columns: id, x, y, dhdt, basin, track
    * @return one row per surviving lake with geometry + stats
    */
  def findLakes(
      points: DataFrame,
      noiseFloor: Double = 0.105,
      eps: Double = 100.0,
      minPts: Int = 5,
      minBasinPoints: Long = 100,
      minLakePoints: Long = 20,
      bufferDist: Double = 300.0): DataFrame = {

    // 1-2: noise filter + global 3σ clip
    val stats = points.agg(avg(col("dhdt")).as("mu"),
      stddev_samp(col("dhdt")).as("sigma"))
    val candidates = points
      .filter(abs(col("dhdt")) > noiseFloor)
      .crossJoin(broadcast(stats))
      .withColumn("dhdt_c",
        greatest(least(col("dhdt"), col("mu") + lit(3) * col("sigma")),
          col("mu") - lit(3) * col("sigma")))
      .drop("mu", "sigma")
      // EAGER localCheckpoint, not persist: candidates hangs under
      // EVERY downstream action of the pipeline (~20 interior jobs
      // across dbscan + hulls + rings), and a persist leaves the full
      // upstream logical tree (distinct + stats crossJoin + filters)
      // in each of those plans — the single-threaded driver re-analyzes
      // and re-optimizes it per action (cache substitution only happens
      // at physical planning). Truncating the lineage here cut the
      // post-pairs stage walls ~2-3x at sf0.1 (r15, wall >> cpu/32
      // driver-latency signature); the checkpoint job itself is the
      // same one full computation the persist's first consumer paid.
      .lineageCut()

    // 3: basin candidate-count guard (HAVING semi-join)
    val bigBasins = candidates.groupBy(col("basin")).count()
      .filter(col("count") >= minBasinPoints).select("basin")
    val inBasins = candidates.join(broadcast(bigBasins), "basin")
      .withColumn("sign", when(col("dhdt_c") < 0, -1).otherwise(1))

    // 4: DBSCAN per flow direction — one run over sign-salted ids so
    // draining/filling never merge (the reference runs two passes;
    // salting the id-space gives the same separation in one)
    val salted = inBasins.withColumn("sid",
      col("id") * 2 + when(col("sign") < 0, 0).otherwise(1))
    // includeNoise = false: the pipeline drops noise immediately, so
    // dbscan skips the full-id left join and never materializes
    // O(points) noise rows
    val clustered = Dbscan.dbscan(
      salted.withColumn("y_salt",
        col("y") + when(col("sign") < 0, lit(0.0)).otherwise(lit(1e9))),
      "sid", Seq("x", "y_salt"), eps, minPts, includeNoise = false)
    // The label join stays on the optimizer's choice: a shuffle_hash
    // pin here was A/B'd in r15 (warm 12.69 s vs 12.6 s — neutral; the
    // sorts it removes are label-table-sized, not corpus-sized) and
    // dropped per the r14 rule that join pins live only where they pay
    // or where the size estimate is structurally broken.
    val labeled = salted.join(clustered, "sid")
      .withColumn("lake_label", col("cluster") * col("sign"))
      .persist() // consumed by the size guard and the per-lake aggs

    // 5: cluster size guard
    val bigLakes = labeled.groupBy(col("lake_label")).count()
      .filter(col("count") >= minLakePoints).select(col("lake_label"))
    val lakePts = labeled.join(broadcast(bigLakes), "lake_label")

    // 6: per-lake hull + attributes
    val lakes = lakePts.groupBy(col("lake_label"))
      .agg(
        min(col("basin")).as("basin"),
        min(col("sign")).as("sign"),
        count(lit(1)).as("n_points"),
        ConvexHull.convex_hull(col("x"), col("y")).as("hull"),
        concat_ws("|", sort_array(collect_set(col("track")))).as("refgtracks"),
        max(abs(col("dhdt_c"))).as("maxabsdhdt"),
        median(col("dhdt_c")).as("inner_med"))
      .withColumn("xs", transform(col("hull"), p => p.getField("x")))
      .withColumn("ys", transform(col("hull"), p => p.getField("y")))
      .persist() // broadcast into the ring join and re-joined at the end

    // 7: donut ring outer stats — broadcast the (small) lake table
    // against the FILTERED candidate set, not raw points: the
    // reference computes outer median/MAD over X_local, i.e. the
    // noise-floored, 3σ-clipped, basin-restricted points
    // (atlxi_lake.py:253-262). Raw points would bias outer_med toward
    // 0 and shrink outer_mad, letting the 3·MAD gate admit false
    // positives. Basin restriction is an equi broadcast join key;
    // ring = within bufferDist outside the hull.
    // A lake's own member points are excluded explicitly: on gridded
    // data many members lie exactly ON the hull boundary, where the
    // strict even-odd containment test calls them "outside" at
    // distance 0 — without the anti-join they'd leak lake-interior
    // dhdt into the background stats and inflate outer_mad.
    // Hull-bbox prefilter: four codegen'd comparisons reject nearly
    // every (candidate, lake) pair before the O(hull-vertices)
    // dist_to_ring kernel runs — the same bbox-injection idea as the
    // PIP optimizer rule, applied by hand to the buffered-ring
    // predicate. At cluster scale this turns the ring stage from
    // |candidates| x |lakes| x |vertices| segment math into a cheap
    // scan with a rare expensive tail.
    // Member exclusion is a hash ANTI-JOIN on (lake_label, id) — it
    // only ever REMOVES rows, so its placement is semantics-free. The
    // source order puts it before the ring filter, but the EXECUTED
    // plan has Catalyst pushing the ring predicate below the anti-join
    // into the basin join's condition (filters push through LeftAnti's
    // streamed side), so the kernel does price member points before
    // they are discarded. Forcing the source order back with a cache
    // barrier was A/B'd at sf0.1 (round 8): ring stage 6.2±0.3 s vs
    // 6.3±0.3 s — no measurable win, and the barrier adds an
    // O(in-bbox candidates × hull-array) cache — so the pushed-down
    // shape is kept and pinned in ExplainSpec.
    val bboxed = lakes.select(col("lake_label"), col("basin"), col("xs"), col("ys"),
      (array_min(col("xs")) - bufferDist).as("_bx0"),
      (array_max(col("xs")) + bufferDist).as("_bx1"),
      (array_min(col("ys")) - bufferDist).as("_by0"),
      (array_max(col("ys")) + bufferDist).as("_by1"))
    val ringPts = candidates.join(broadcast(bboxed), "basin")
      .filter(col("x") >= col("_bx0") && col("x") <= col("_bx1") &&
        col("y") >= col("_by0") && col("y") <= col("_by1"))
      .join(lakePts.select(col("lake_label"), col("id")),
        Seq("lake_label", "id"), "left_anti")
      .filter(SpatioTemporal.inBufferRing(col("xs"), col("ys"),
        col("x"), col("y"), bufferDist))
      .select(col("lake_label"), col("dhdt_c").as("dhdt"))
    // r16: outer median + outer MAD fused into ONE dataflow
    // (ExactMedian.medianAndMadByValue) — the two sequential builtin
    // medians (second one re-reading ringPts through a broadcast
    // join) were two extra jobs per pipeline run; the fused form is
    // one (lake, dhdt)-count aggregate + two windows, bit-identical
    // (the by-value counting median replays Percentile's exact
    // interpolation chain; ExactMedianSpec pins it on non-decimal
    // doubles). ringPts is consumed once now, so its persist (and
    // the explicit count barrier) is gone with it.
    val ringStats = graft.ops.ExactMedian.medianAndMadByValue(
      ringPts, Seq("lake_label"), "dhdt", "outer_med", "outer_mad", "n_ring")

    // everything after clustering (size guards, hulls, ring stats,
    // activity gate) executes inside this eager checkpoint
    val out = graft.Profile.stage("hulls_rings_gate") {
      lakes
        .join(ringStats, Seq("lake_label"), "left")
        .withColumn("is_active",
          col("outer_med").isNull ||
            abs(col("inner_med") - col("outer_med")) >= lit(3) * col("outer_mad"))
        .select(col("lake_label"), col("basin"), col("sign"), col("n_points"),
          size(col("xs")).as("n_hull_vertices"), col("refgtracks"),
          col("maxabsdhdt"), col("inner_med"), col("outer_med"), col("outer_mad"),
          coalesce(col("n_ring"), lit(0L)).as("n_ring"), col("is_active"))
        // the lake table is tiny by contract: materialize it eagerly
        // so every multiply-consumed intermediate can be freed
        // immediately instead of staying cached for the session's
        // lifetime
        .lineageCut()
    }
    // candidates is an eager localCheckpoint; its blocks are reclaimed
    // by the ContextCleaner once the RDD reference is collected (the
    // same lifecycle as every other checkpointed intermediate here)
    labeled.unpersist(false)
    lakes.unpersist(false)
    out
  }
}
