package graft.queries

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.Lineage.CutSyntax
import graft.Tables
import graft.ops.{ConvexHull, Dbscan, LakeFinder, Surface}
import graft.ops.Surface.GridCell

/** Lake-finder operator family (reference atlxi_lake.py, SURVEY.md
  * §2.9 M1, §2.4 A13): distributed DBSCAN and the convex-hull
  * aggregate, declared over deterministic blob geometry derived from
  * lineitem — 5 dense separated blobs plus isolated noise points, so
  * the expected clustering is analytic and DuckDB can oracle the
  * (cluster, size) output structurally.
  */
object LakeQueries extends QueryPack {

  /** 5 blobs at separated centers + isolated noise; integer coords,
    * one point per distinct (px, py), id = px*10000000 + py.
    */
  private def blobPoints(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = Tables(s, dir, "lineitem")
    // noise px caps the orderkey at %1000000 BEFORE the spread: the
    // raw key would overflow `id = px * 1e7` once orderkeys reach
    // ~1e12 (found by the sf1 growth sweep — ANSI long overflow);
    // collided residues just merge into one distinct noise point,
    // still 1000 apart, still isolated
    li.withColumn("is_noise", col("l_orderkey") % 101 === 0)
      .withColumn("px",
        when(col("is_noise"),
          lit(10000000L) + (col("l_orderkey") % 1000000L) * 1000L)
          .otherwise((col("l_suppkey") % 5) * 50000L + col("l_orderkey") % 997))
      .withColumn("py",
        when(col("is_noise"), lit(0L))
          .otherwise((col("l_suppkey") % 5) * 20000L + col("l_partkey") % 997))
      .select(col("px"), col("py")).distinct()
      .withColumn("id", col("px") * 10000000L + col("py"))
      .withColumn("x", col("px").cast("double"))
      .withColumn("y", col("py").cast("double"))
  }

  /** m1_dbscan dataflow. */
  private[graft] def m1Dbscan(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // eager localCheckpoint, not persist: the distinct input-prep
    // lineage otherwise hangs under every interior dbscan action and
    // the single-threaded driver re-analyzes it per job (see
    // LakeFinder's candidates checkpoint — same r15 measurement).
    // The checkpoint IS the input-prep materialization, so it owns
    // the m1_input_prep stage tag, and it observes the blob-point
    // count that sizes eps below on its own pass: no job of its own.
    val sizing = Observation("graft.m1_input_prep")
    val pts = graft.Profile.stage("m1_input_prep") {
      blobPoints(s, dir)
        .observe(sizing, count_if(col("px") < lit(10000000L)).as("blob_points"))
        .lineageCut()
    }
    // density-adaptive eps: target ~25 expected neighbors per
    // point regardless of SF, so the neighbor-pair join stays
    // LINEAR in point count (fixed eps at 100x density would
    // enumerate ~100x more pairs per point — the classic DBSCAN
    // scale trap). 25, not the earlier 40 (the pair table is the
    // operator's peak live-set; 37% less of it is real wall time):
    // the structural oracle counts cluster MEMBERS, and a
    // sub-minPts point with any neighbor still joins its blob as
    // a border point — the only oracle-breaking event is an
    // ISOLATED blob point, P(deg=0) = e^-25 ~ 1.4e-11 per point,
    // vanishing at every SF. Noise points stay >= 1000 apart,
    // far above eps at every SF (eps(sf0.001) ~ 282).
    val n = sizing.get("blob_points").asInstanceOf[Long]
    val rho = (n / 5.0) / (997.0 * 997.0)
    val eps = math.sqrt(25.0 / (math.Pi * rho))
    // includeNoise = false: the count drops noise anyway, so the
    // full-id left join inside dbscan is skipped entirely.
    // pts is a localCheckpoint; the ContextCleaner reclaims its
    // blocks once the RDD reference is collected.
    val labeled = Dbscan.dbscan(pts, "id", Seq("x", "y"), eps = eps,
      minPts = 5, includeNoise = false)
    labeled.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))
  }

  /** §3.2 lake pipeline dataflow. */
  private[graft] def lakePipeline(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val li = Tables(s, dir, "lineitem")
    // Three planted populations per blob, mirroring the reference's
    // X_local semantics (ring stats come from the noise-floored,
    // clipped, basin-restricted candidate set, atlxi_lake.py:107-262):
    //  - cluster points: dense, |dhdt| in [0.2, 0.7), sign by blob
    //  - sub-floor background (|dhdt|=0.05 < 0.105): must vanish
    //    from BOTH the clustering and the donut-ring stats
    //  - ring points: |dhdt| just above the floor, planted on a
    //    FIXED 4x4 cell grid in a strip eps-separated from the
    //    blob — at most 16 distinct points per blob at ANY scale
    //    factor, so (16 < minLakePoints) they can never form an
    //    output lake themselves — they are what the donut ring
    //    measures
    val base = li
      .withColumn("blob", (col("l_suppkey") % 5).cast("int"))
      .withColumn("is_bg", col("l_orderkey") % 7 === 0)
      .withColumn("is_ring",
        !col("is_bg") && col("l_orderkey") % 53 === 1)
      .withColumn("px",
        when(col("is_bg"),
          (col("blob") * 50000L) + 1100L + col("l_orderkey") % 300)
          .when(col("is_ring"),
            (col("blob") * 50000L) + 1500L + (col("l_orderkey") % 4) * 60L)
          .otherwise(col("blob") * 50000L + col("l_orderkey") % 997))
      .withColumn("py",
        when(col("is_ring"),
          col("blob") * 20000L + (col("l_partkey") % 4) * 250L)
          .otherwise(col("blob") * 20000L + col("l_partkey") % 997))
      .select(col("px"), col("py"), col("blob"), col("is_bg"), col("is_ring"))
      .distinct()
    val pts = base
      .withColumn("id", col("px") * 10000000L + col("py"))
      .withColumn("x", col("px").cast("double"))
      .withColumn("y", col("py").cast("double"))
      .withColumn("dhdt",
        when(col("is_bg"), lit(0.05))
          .when(col("is_ring"),
            lit(0.108) + (col("py") % 7).cast("double") / 1000.0)
          .otherwise((when(col("blob") < 3, -1.0).otherwise(1.0)) *
            (lit(0.2) + (col("px") % 50).cast("double") / 100.0)))
      .withColumn("basin", (col("blob") % 2).cast("int"))
      // track id derived from the point itself -> deterministic
      .withColumn("track",
        concat(lpad((col("py") % 40).cast("string"), 4, "0"), lit("_pt1")))
      .select("id", "x", "y", "dhdt", "basin", "track")
    // eager localCheckpoint (same r15 lineage-cut as m1 above): the
    // distinct + projection prep otherwise re-enters driver analysis
    // under every findLakes interior action. Owns the eps_estimate
    // tag, and observes the above-floor count that sizes eps below on
    // its own pass: no job of its own
    val sizing = Observation("graft.eps_estimate")
    val ptsP = graft.Profile.stage("eps_estimate") {
      pts.observe(sizing, count_if(abs(col("dhdt")) > 0.105).as("n_clustered"))
        .lineageCut()
    }
    // density-adaptive eps (see m1_dbscan): ~25 expected
    // neighbors/point keeps the DBSCAN pair join linear at any SF.
    // 25, not the earlier 40: the pair table is the operator's
    // peak live-set and its cache scans dominate the pipeline's
    // heavy stages, so the 37% cut is real wall time — while the
    // structural-oracle margin stays vanishing: n_points counts
    // cluster MEMBERS, a sub-minPts point with any neighbor joins
    // its blob as border, so only an ISOLATED blob point breaks
    // the oracle — P(deg=0) = e^-25 ~ 1.4e-11 per point
    val nClustered = sizing.get("n_clustered").asInstanceOf[Long]
    val rho = (nClustered / 5.0) / (997.0 * 997.0)
    val eps = math.sqrt(25.0 / (math.Pi * rho))
    // bufferDist covers the planted ring strip (hull edge ~997 to
    // strip end ~1800 → distances ~500-800), while staying far
    // smaller than the 50k blob spacing
    val lakes = LakeFinder.findLakes(ptsP,
      noiseFloor = 0.105, eps = eps, minPts = 5,
      minBasinPoints = 100, minLakePoints = 20, bufferDist = 1000.0)
    // ptsP is a localCheckpoint; blocks reclaimed by the ContextCleaner
    lakes
      .select(col("lake_label"), col("basin"), col("sign"), col("n_points"),
        col("refgtracks"), round(col("inner_med"), 6).as("inner_med"),
        round(col("outer_med"), 6).as("outer_med"), col("n_ring"),
        col("is_active"))
      .orderBy(col("lake_label"))
  }

  override def queries: Seq[Q] = Seq(

    // M1 distributed DBSCAN: 5 separated dense blobs must come out as
    // exactly 5 clusters labeled by their min point id (deterministic),
    // isolated points as noise. The oracle reconstructs the expected
    // (cluster, n) table from the blob construction itself.
    Q("m1_dbscan",
      m1Dbscan,
      Some("""
        WITH pts AS (
          SELECT DISTINCT
            CASE WHEN l_orderkey % 101 = 0
              THEN 10000000 + (l_orderkey % 1000000) * 1000
              ELSE (l_suppkey % 5) * 50000 + l_orderkey % 997 END AS px,
            CASE WHEN l_orderkey % 101 = 0
              THEN 0
              ELSE (l_suppkey % 5) * 20000 + l_partkey % 997 END AS py,
            (l_orderkey % 101 = 0) AS is_noise,
            CASE WHEN l_orderkey % 101 = 0 THEN -1
                 ELSE CAST(l_suppkey % 5 AS INTEGER) END AS blob
          FROM lineitem)
        SELECT min(px * 10000000 + py) AS cluster, count(*) AS n
        FROM pts
        WHERE NOT is_noise
        GROUP BY blob
      """.trim)),

    // A13 convex hull per cluster (memory-bounded pruning Aggregator):
    // hull vertex count + bbox per blob. Not SQL-expressible as a
    // hull; the bbox corners of each blob's hull ARE its coordinate
    // extremes, which DuckDB can check structurally.
    Q("a13_convex_hull",
      (s, dir) => {
        val pts = blobPoints(s, dir)
          .filter(col("px") < lit(10000000L))
          .withColumn("blob", (col("px") / 50000L).cast("int"))
        // NOT pruned via ConvexHull.pruneInterior: the same-session
        // warm A/B at sf0.1 measured 1.64 s direct vs 2.69 s pruned —
        // the memory-bounded aggregator is already cheaper here than
        // the octagon prefilter's extra pass (see pruneInterior doc)
        pts.groupBy(col("blob"))
          .agg(ConvexHull.convex_hull(col("x"), col("y")).as("hull"))
          .select(col("blob"),
            aggregate(transform(col("hull"), p => p.getField("x")),
              lit(Double.MaxValue), (a, v) => least(a, v)).as("xmin"),
            aggregate(transform(col("hull"), p => p.getField("x")),
              lit(Double.MinValue), (a, v) => greatest(a, v)).as("xmax"),
            aggregate(transform(col("hull"), p => p.getField("y")),
              lit(Double.MaxValue), (a, v) => least(a, v)).as("ymin"),
            aggregate(transform(col("hull"), p => p.getField("y")),
              lit(Double.MinValue), (a, v) => greatest(a, v)).as("ymax"))
      },
      Some("""
        WITH pts AS (
          SELECT DISTINCT
            (l_suppkey % 5) * 50000 + l_orderkey % 997 AS px,
            (l_suppkey % 5) * 20000 + l_partkey % 997 AS py,
            CAST(l_suppkey % 5 AS INTEGER) AS blob
          FROM lineitem
          WHERE l_orderkey % 101 <> 0)
        SELECT blob,
               CAST(min(px) AS DOUBLE) AS xmin, CAST(max(px) AS DOUBLE) AS xmax,
               CAST(min(py) AS DOUBLE) AS ymin, CAST(max(py) AS DOUBLE) AS ymax
        FROM pts
        GROUP BY blob
      """.trim)),

    // §3.2 composed lake finder: noise filter -> 3σ clip -> basin
    // guard -> per-sign DBSCAN -> size guard -> hull + attrs -> donut
    // ring stats + MAD gate, all one dataflow (no driver loops).
    // Expected on this construction: 5 lakes (3 draining, 2 filling),
    // each with ring background.
    //
    // STRUCTURAL ORACLE (the m1_dbscan trick, extended to the whole
    // pipeline): on this planted construction every pipeline stage has
    // an analytically-known outcome, so DuckDB can reconstruct the full
    // 5-row lake table without running DBSCAN:
    //  - blob == cluster (blobs are 50k apart, eps ~40; ring strips are
    //    eps-separated and 16 points < minLakePoints);
    //  - every cluster point is core (~40 expected neighbors >> minPts),
    //    so lake_label = (2*min(id) + signBit) * sign and n_points =
    //    full blob count;
    //  - the 3σ clip NEVER binds (max|dhdt| = 0.69 < mu+3σ ≈ 1.28,
    //    measured), so dhdt_c == dhdt bit-exactly and the oracle can
    //    skip the engine-divergent stddev;
    //  - all 16 planted ring points land inside the hull+1000 donut
    //    (hull edge ~996 -> strip 1500..1680, dist 504..684) and all
    //    sub-floor background vanishes at the noise filter.
    // Any stage drifting (a missed cluster point, a leaked bg point, a
    // dropped ring point) breaks a count or a median and fails the
    // hash gate — this is the driver-checked analogue of the
    // reference's exact 16/31 cluster-count BDD gate
    // (features/subglacial_lakes.feature:13-15).
    // Medians are rounded at 6dp, not 4: outer_med is a multiple of
    // 0.00025 (avg of two 4-decimal ring dhdt values), which a 4dp
    // round would land exactly on a decimal half — the classic
    // cross-engine round() divergence.
    Q("lake_finder_pipeline",
      lakePipeline,
      Some("""
        WITH base AS (
          SELECT DISTINCT
            CAST(l_suppkey % 5 AS INTEGER) AS blob,
            (l_orderkey % 7 = 0) AS is_bg,
            (l_orderkey % 7 <> 0 AND l_orderkey % 53 = 1) AS is_ring,
            CASE WHEN l_orderkey % 7 = 0
                   THEN (l_suppkey % 5) * 50000 + 1100 + l_orderkey % 300
                 WHEN l_orderkey % 53 = 1
                   THEN (l_suppkey % 5) * 50000 + 1500 + (l_orderkey % 4) * 60
                 ELSE (l_suppkey % 5) * 50000 + l_orderkey % 997 END AS px,
            CASE WHEN l_orderkey % 7 <> 0 AND l_orderkey % 53 = 1
                   THEN (l_suppkey % 5) * 20000 + (l_partkey % 4) * 250
                 ELSE (l_suppkey % 5) * 20000 + l_partkey % 997 END AS py
          FROM lineitem),
        pts AS (
          SELECT blob, is_bg, is_ring, px, py,
                 px * 10000000 + py AS id,
                 CASE WHEN is_bg THEN 0.05
                      WHEN is_ring THEN 0.108 + CAST(py % 7 AS DOUBLE) / 1000.0
                      ELSE (CASE WHEN blob < 3 THEN -1.0 ELSE 1.0 END) *
                           (0.2 + CAST(px % 50 AS DOUBLE) / 100.0) END AS dhdt
          FROM base),
        -- candidates = |dhdt| > 0.105: drops ALL bg (0.05), keeps all
        -- cluster (>= 0.2) and ring (>= 0.108) points; the 3-sigma clip
        -- provably never binds on this construction so dhdt_c = dhdt
        cluster_pts AS (SELECT * FROM pts WHERE NOT is_bg AND NOT is_ring),
        ring_pts AS (SELECT * FROM pts WHERE is_ring),
        lakes AS (
          SELECT blob,
                 CAST(blob % 2 AS INTEGER) AS basin,
                 CAST(CASE WHEN blob < 3 THEN -1 ELSE 1 END AS INTEGER) AS sign,
                 (min(id) * 2 + CASE WHEN blob < 3 THEN 0 ELSE 1 END) *
                   (CASE WHEN blob < 3 THEN -1 ELSE 1 END) AS lake_label,
                 CAST(count(*) AS BIGINT) AS n_points,
                 median(dhdt) AS inner_raw
          FROM cluster_pts GROUP BY blob),
        tracks AS (
          SELECT blob, string_agg(t, '|' ORDER BY t) AS refgtracks
          FROM (SELECT DISTINCT blob,
                  lpad(CAST(py % 40 AS VARCHAR), 4, '0') || '_pt1' AS t
                FROM cluster_pts)
          GROUP BY blob),
        rings AS (
          SELECT blob, median(dhdt) AS outer_raw,
                 CAST(count(*) AS BIGINT) AS n_ring
          FROM ring_pts GROUP BY blob),
        mads AS (
          SELECT p.blob, median(abs(p.dhdt - r.outer_raw)) AS outer_mad
          FROM ring_pts p JOIN rings r ON p.blob = r.blob
          GROUP BY p.blob)
        SELECT l.lake_label, l.basin, l.sign, l.n_points, t.refgtracks,
               round(l.inner_raw, 6) AS inner_med,
               round(r.outer_raw, 6) AS outer_med,
               coalesce(r.n_ring, 0) AS n_ring,
               (r.outer_raw IS NULL OR
                abs(l.inner_raw - r.outer_raw) >= 3 * m.outer_mad) AS is_active
        FROM lakes l
        JOIN tracks t ON l.blob = t.blob
        LEFT JOIN rings r ON l.blob = r.blob
        LEFT JOIN mads m ON l.blob = m.blob
        ORDER BY l.lake_label
      """.trim)),

    // M2 surface interpolation: blockmedian-style sparse grid cells
    // relaxed onto the full grid per key (deterministic per-group
    // damped-Jacobi solve, distributed across keys) at GMT's
    // reference tension 0.35 (round 6; the tension-free Laplace limit
    // stays available as tension=1 and is pinned by SurfaceSpec).
    // ORACLE-CHECKED: the DuckDB recursive CTE replays the exact
    // per-iteration IEEE ops — pinned cells are exact integer-cent
    // values, empty cells seed at 0.0, and every update is the same
    // 13-point blend num/den with +0.0 for missing neighbors, weights
    // written in the identical literal op order (8*(1-0.35)+0.35
    // etc.), damped as 0.5*z + 0.5*(num/den) — so after the same 200
    // iterations both engines hold bit-identical doubles. Arbitrary
    // doubles are never exact 7th-decimal halves, so round(z, 6)
    // cannot straddle a rounding-mode difference.
    Q("m2_surface_interp",
      (s, dir) => {
        val sess = s
        import sess.implicits._
        val li = Tables(s, dir, "lineitem")
        val cells = li
          .withColumn("key", concat(lit("g"), (col("l_suppkey") % 3).cast("string")))
          .withColumn("xb", (col("l_orderkey") % 24).cast("int"))
          .withColumn("yb", (col("l_partkey") % 24).cast("int"))
          .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
          .groupBy(col("key"), col("xb"), col("yb"))
          // exact 4-decimal cell value from integer cents (floor
          // division) — cross-engine identical, unlike avg(double)
          .agg((expr("sum(cents) * 100 div count(1)").cast("double") / 10000.0).as("z"))
          // sparsify: keep ~half the cells so relaxation has holes
          .filter((col("xb") + col("yb")) % 2 === 0)
          .as[GridCell]
        Surface.interpolate(cells, iters = 200, tension = 0.35)
          .toDF()
          .select(col("key"), col("xb"), col("yb"), round(col("z"), 6).as("z"))
      },
      Some("""
        WITH RECURSIVE cells AS (
          SELECT * FROM (
            SELECT concat('g', CAST(l_suppkey % 3 AS VARCHAR)) AS key,
                   CAST(l_orderkey % 24 AS INTEGER) AS xb,
                   CAST(l_partkey % 24 AS INTEGER) AS yb,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100
                        // count(*) AS DOUBLE) / 10000.0 AS z
            FROM lineitem
            GROUP BY 1, 2, 3)
          WHERE (xb + yb) % 2 = 0),
        bounds AS (
          SELECT key, min(xb) AS xmin, max(xb) AS xmax,
                 min(yb) AS ymin, max(yb) AS ymax
          FROM cells GROUP BY key),
        xs AS (
          SELECT key, unnest(generate_series(xmin, xmax)) AS xb, ymin, ymax
          FROM bounds),
        grid0 AS (
          SELECT key, xb, unnest(generate_series(ymin, ymax)) AS yb
          FROM xs),
        rel AS (
          SELECT 0 AS it, g.key, g.xb, g.yb,
                 coalesce(c.z, 0.0) AS z, c.z IS NOT NULL AS pinned
          FROM grid0 g LEFT JOIN cells c
            ON g.key = c.key AND g.xb = c.xb AND g.yb = c.yb
          UNION ALL
          SELECT it + 1, key, xb, yb,
                 CASE WHEN max(CASE WHEN ord = 0 THEN CAST(pinned AS INT) END) = 1
                   THEN max(CASE WHEN ord = 0 THEN z END)
                   WHEN count(CASE WHEN ord BETWEEN 1 AND 4 THEN 1 END) = 4
                    AND count(CASE WHEN ord BETWEEN 5 AND 8 THEN 1 END) = 4
                    AND count(CASE WHEN ord BETWEEN 9 AND 12 THEN 1 END) = 4
                   THEN 0.5 * max(CASE WHEN ord = 0 THEN z END) + 0.5 * (
                     (((8*(1 - 0.35) + 0.35) *
                        (((coalesce(max(CASE WHEN ord = 1 THEN z END), 0.0) +
                           coalesce(max(CASE WHEN ord = 2 THEN z END), 0.0)) +
                          coalesce(max(CASE WHEN ord = 3 THEN z END), 0.0)) +
                         coalesce(max(CASE WHEN ord = 4 THEN z END), 0.0)))
                      - ((2*(1 - 0.35)) *
                        (((coalesce(max(CASE WHEN ord = 5 THEN z END), 0.0) +
                           coalesce(max(CASE WHEN ord = 6 THEN z END), 0.0)) +
                          coalesce(max(CASE WHEN ord = 7 THEN z END), 0.0)) +
                         coalesce(max(CASE WHEN ord = 8 THEN z END), 0.0)))
                      - ((1 - 0.35) *
                        (((coalesce(max(CASE WHEN ord = 9 THEN z END), 0.0) +
                           coalesce(max(CASE WHEN ord = 10 THEN z END), 0.0)) +
                          coalesce(max(CASE WHEN ord = 11 THEN z END), 0.0)) +
                         coalesce(max(CASE WHEN ord = 12 THEN z END), 0.0))))
                     /
                     ((((8*(1 - 0.35) + 0.35) * 4)
                       - ((2*(1 - 0.35)) * 4))
                       - ((1 - 0.35) * 4))
                   )
                   ELSE 0.5 * max(CASE WHEN ord = 0 THEN z END) + 0.5 * (
                     ((((coalesce(max(CASE WHEN ord = 1 THEN z END), 0.0) +
                         coalesce(max(CASE WHEN ord = 2 THEN z END), 0.0)) +
                        coalesce(max(CASE WHEN ord = 3 THEN z END), 0.0)) +
                       coalesce(max(CASE WHEN ord = 4 THEN z END), 0.0)) /
                      count(CASE WHEN ord BETWEEN 1 AND 4 THEN 1 END))
                   ) END,
                 max(CASE WHEN ord = 0 THEN CAST(pinned AS INT) END) = 1
          FROM (
            SELECT r.it AS it, r.key AS key,
                   r.xb + o.dx AS xb, r.yb + o.dy AS yb,
                   o.ord AS ord, r.z AS z, r.pinned AS pinned
            FROM rel r CROSS JOIN (VALUES
              (0, 0, 0), (1, 0, 1), (-1, 0, 2), (0, 1, 3), (0, -1, 4),
              (1, 1, 5), (-1, 1, 6), (1, -1, 7), (-1, -1, 8),
              (2, 0, 9), (-2, 0, 10), (0, 2, 11), (0, -2, 12)) o(dx, dy, ord)
            WHERE r.it < 200
          ) contrib
          GROUP BY it, key, xb, yb
          HAVING max(CASE WHEN ord = 0 THEN 1 END) = 1),
        final AS (SELECT * FROM rel WHERE it = 200)
        -- generate_series yields BIGINT; cast back to the declared int
        SELECT f.key, CAST(f.xb AS INTEGER) AS xb, CAST(f.yb AS INTEGER) AS yb,
               round(f.z, 6) AS z
        FROM final f
        WHERE EXISTS (
          SELECT 1 FROM cells c
          WHERE c.key = f.key
            AND greatest(abs(c.xb - f.xb), abs(c.yb - f.yb)) <= 3)
      """.trim)),

    // M3 grdtrack: sample a datashade-style grid at track points with
    // median fill — fully oracle-checked (join + median in SQL).
    Q("m3_grdtrack",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        // cell mean via exact integer cents (floor at 4dp scale):
        // round(avg(double), 4) can land on a 5th-decimal half and
        // round differently across engines
        val grid = li
          .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
          .groupBy((col("l_partkey") % 40).cast("long").as("x_bin"),
            (col("l_suppkey") % 40).cast("long").as("y_bin"))
          .agg((expr("sum(cents) * 100 div count(1)").cast("double") / 10000.0).as("z"))
          .filter(col("x_bin") < 30) // leave holes for median fill
        val track = Tables(s, dir, "orders")
          .select(col("o_orderkey"),
            (col("o_orderkey") % 47).cast("long").as("x_bin"),
            (col("o_custkey") % 40).cast("long").as("y_bin"))
        // no final rounding: hits carry the already-rounded grid z and
        // the median fill is the median of identical doubles in both
        // engines — re-rounding a .xxxx5 midpoint would NOT be portable
        Surface.grdtrack(track, grid)
          .select(col("o_orderkey"), col("x_bin"), col("y_bin"), col("z"))
      },
      Some("""
        WITH grid AS (
          SELECT l_partkey % 40 AS x_bin, l_suppkey % 40 AS y_bin,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100
                      // count(*) AS DOUBLE) / 10000.0 AS z
          FROM lineitem
          GROUP BY 1, 2
          HAVING l_partkey % 40 < 30),
        med AS (SELECT median(z) AS zmed FROM grid),
        track AS (
          SELECT o_orderkey, o_orderkey % 47 AS x_bin, o_custkey % 40 AS y_bin
          FROM orders)
        SELECT t.o_orderkey, t.x_bin, t.y_bin,
               coalesce(g.z, med.zmed) AS z
        FROM track t
        LEFT JOIN grid g ON t.x_bin = g.x_bin AND t.y_bin = g.y_bin
        CROSS JOIN med
      """.trim))
  )
}
