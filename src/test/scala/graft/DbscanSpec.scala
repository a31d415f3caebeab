package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{ConvexHull, Dbscan}

class DbscanSpec extends SparkSpec {

  /** Advisory partition size for the hot-cell test's lowered run. Its
    * largest home-side shuffle partition measured 11-12 KiB with the
    * hot cell and 5-6 KiB without it (8 partitions, lz4 shuffle
    * compression), so 8 KiB sits between the two.
    */
  private val HotCellAdvisoryBytes = 8192L

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("x", DoubleType), StructField("y", DoubleType)))

  private def df(rows: Seq[(Long, Double, Double)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 8), schema)

  /** Three dense blobs + isolated noise, deterministic layout. */
  private def blobs: Seq[(Long, Double, Double)] = {
    def blob(base: Long, cx: Double, cy: Double, n: Int): Seq[(Long, Double, Double)] =
      (0 until n).map { i =>
        // deterministic spiral fill within radius ~400
        val r = 400.0 * i / n
        val a = 2.399963 * i // golden angle
        (base + i, cx + r * math.cos(a), cy + r * math.sin(a))
      }
    blob(0, 0, 0, 120) ++ blob(1000, 10000, 0, 80) ++ blob(2000, 5000, 8000, 60) ++
      Seq((9001L, 50000.0, 50000.0), (9002L, 60000.0, 60000.0), (9003L, 70000.0, 70000.0))
  }

  test("three separated blobs -> exactly 3 clusters, isolated points are noise") {
    val out = Dbscan.dbscan(df(blobs), "id", Seq("x", "y"), eps = 1000.0, minPts = 5)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val clusters = out.values.flatten.toSet
    assert(clusters.size == 3, s"expected 3 clusters, got $clusters")
    // blob membership: all ids of a blob share one label
    def labelOf(ids: Seq[Long]) = {
      val ls = ids.map(out(_)).toSet
      assert(ls.size == 1 && ls.head.isDefined, s"split blob: $ls")
      ls.head.get
    }
    val l1 = labelOf((0L until 120L).toSeq)
    val l2 = labelOf((1000L until 1080L).toSeq)
    val l3 = labelOf((2000L until 2060L).toSeq)
    assert(Set(l1, l2, l3).size == 3)
    // min-id labeling is deterministic
    assert(l1 == 0L && l2 == 1000L && l3 == 2000L)
    // noise
    assert(Seq(9001L, 9002L, 9003L).forall(out(_).isEmpty))
  }

  test("two blobs bridged by a dense chain merge into one cluster") {
    val chain = (0 until 20).map(i => (5000L + i, 500.0 * i, 0.0))
    val a = (0 until 30).map(i => (0L + i, (i % 6) * 100.0, (i / 6) * 100.0))
    val b = (0 until 30).map(i => (100L + i, 9500.0 + (i % 6) * 100.0, (i / 6) * 100.0))
    val out = Dbscan.dbscan(df(a ++ b ++ chain), "id", Seq("x", "y"),
        eps = 600.0, minPts = 3)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val labels = out.values.flatten.toSet
    assert(labels.size == 1, s"bridge should merge all into one cluster: $labels")
  }

  test("two-level CC: labels invariant to block geometry and residual solver") {
    // a chain spanning many blocks, ids DESCENDING so the component
    // minimum sits at the far end and must propagate across every
    // block boundary; run with tiny blocks (every edge cross-block),
    // huge blocks (every edge intra-block), and with the single-task
    // residual solver disabled (frontier-loop fallback) — all three
    // paths must produce the identical min-id labeling
    val chain = (0 until 40).map(i => (9000L - i, 100.0 * i, 0.0))
    def run(bc: Int, ruf: Long) =
      Dbscan.dbscan(df(chain), "id", Seq("x", "y"), eps = 150.0, minPts = 2,
          blockCells = bc, residualUnionFindMax = ruf)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
    val expected = chain.map(_._1 -> Some(8961L)).toMap
    assert(run(16, 10000000L) == expected, "default geometry")
    assert(run(1, 10000000L) == expected, "all edges cross-block")
    assert(run(1024, 10000000L) == expected, "all edges intra-block")
    assert(run(4, 0L) == expected, "frontier-loop fallback")
  }

  test("scaled field: labeling is invariant to repartitioning and to blockCells ±1") {
    // A denser, messier field than the unit tests: 8 blobs of varied
    // density and size on a grid, plus a scatter of isolated noise —
    // ~1.8k points. The EXACT labeling (labels are component-min ids,
    // so equality is well-defined) must not depend on physical
    // execution geometry: input partitioning (shuffle order) or the
    // local-contraction block size. The exactness argument says these
    // are pure implementation parameters; this pins it as a property.
    val field: Seq[(Long, Double, Double)] = {
      val blobs = for {
        b <- 0 until 8
        n = 120 + 40 * (b % 3) // 120/160/200 points
        i <- 0 until n
      } yield {
        val cx = (b % 4) * 20000.0
        val cy = (b / 4) * 20000.0
        val r = (300.0 + 50 * (b % 3)) * i / n
        val a = 2.399963 * i
        (b * 10000L + i, cx + r * math.cos(a), cy + r * math.sin(a))
      }
      val noise = (0 until 50).map(i =>
        (900000L + i, 100000.0 + i * 3777.0, 200000.0 + (i * 7919.0) % 90000))
      blobs ++ noise
    }
    def run(parts: Int, bc: Int): Map[Long, Option[Long]] = {
      val d = spark.createDataFrame(
        spark.sparkContext.parallelize(field.map(r => Row(r._1, r._2, r._3)), parts),
        schema)
      Dbscan.dbscan(d, "id", Seq("x", "y"), eps = 500.0, minPts = 5, blockCells = bc)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
    }
    val base = run(8, 16)
    assert(base.values.flatten.toSet.size == 8, "expected the 8 planted blobs")
    assert(run(1, 16) == base, "single-partition input changed the labeling")
    assert(run(64, 16) == base, "64-partition input changed the labeling")
    assert(run(8, 15) == base, "blockCells 15 changed the labeling")
    assert(run(8, 17) == base, "blockCells 17 changed the labeling")
  }

  test("SHJ skew guard: hotspot fixture flips the pair join to sort-merge, labels unchanged") {
    // A shuffled hash join builds the home side per partition in memory
    // and cannot spill, and a HOT CELL is one join key in one partition
    // that AQE skew splitting cannot divide. Dbscan lets AQE pick the
    // shuffled hash join only when every measured home-side shuffle
    // partition fits under the session's advisory partition size.
    // Fixture: one eps-cell holding 400 of the 1600 points. With the
    // default advisory size the executed pair join must be
    // ShuffledHashJoin; with it lowered below the hot cell's partition
    // bytes it must be the spillable SortMergeJoin, and the same
    // setting without the hot cell must stay ShuffledHashJoin. The
    // labeling must be identical in every run, also under 1 and 8
    // shuffle partitions.
    val hot = (0 until 400).map { i =>
      val r = 45.0 * i / 400 // spiral inside the one 100-unit cell [100, 200)^2
      val a = 2.399963 * i
      (i.toLong, 150.0 + r * math.cos(a), 150.0 + r * math.sin(a))
    }
    val rest = for (b <- 0 until 12; i <- 0 until 100) yield {
      val cx = 5000.0 + (b % 4) * 3000.0
      val cy = 5000.0 + (b / 4) * 3000.0
      val r = 150.0 * i / 100 // dense: ~26-unit spacing << eps
      val a = 2.399963 * i
      (10000L + b * 1000L + i, cx + r * math.cos(a), cy + r * math.sin(a))
    }
    val joins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          duration: Long): Unit = joins.add(qe.executedPlan.toString)
      override def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def run(pts: Seq[(Long, Double, Double)], settings: (String, String)*)
        : (Map[Long, Option[Long]], Seq[String]) = {
      val prev = settings.map { case (k, _) => k -> spark.conf.getAll.get(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        joins.clear()
        spark.listenerManager.register(listener)
        val out = Dbscan.dbscan(df(pts), "id", Seq("x", "y"), eps = 100.0, minPts = 5)
          .collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        // the QueryExecutionListener bus delivers async: drain it so
        // this run's plans are all in, and none can leak into the NEXT
        // run's window
        Profile.drain(spark)
        spark.listenerManager.unregister(listener)
        import scala.jdk.CollectionConverters._
        (out, DbscanSpec.pairJoins(joins.asScala.toSeq))
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val lowered = "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> HotCellAdvisoryBytes.toString
    val (labels, defaultJoins) = run(hot ++ rest)
    val (hotLabels, hotJoins) = run(hot ++ rest, lowered)
    val (_, coolJoins) = run(rest, lowered)
    assert(defaultJoins.nonEmpty && defaultJoins.forall(_ == "ShuffledHashJoin"),
      s"default run's pair join is not a ShuffledHashJoin: $defaultJoins")
    assert(hotJoins.nonEmpty && hotJoins.forall(_ == "SortMergeJoin"),
      s"hot-cell partition did not keep the pair join sort-merge: $hotJoins")
    assert(coolJoins.nonEmpty && coolJoins.forall(_ == "ShuffledHashJoin"),
      s"lowered advisory size flipped the pair join without a hot cell: $coolJoins")
    assert(hotLabels == labels, "join strategy changed the labeling")
    for (n <- Seq(1, 8))
      assert(run(hot ++ rest, "spark.sql.shuffle.partitions" -> n.toString)._1 == labels,
        s"$n shuffle partitions changed the labeling")
    assert(labels.values.flatten.toSet.size == 13,
      "expected the 12 blobs + hot cell as clusters")
  }

  test("includeNoise=false returns exactly the non-null subset of the default output") {
    val full = Dbscan.dbscan(df(blobs), "id", Seq("x", "y"), eps = 1000.0, minPts = 5)
      .collect()
      .collect { case r if !r.isNullAt(1) => r.getLong(0) -> r.getLong(1) }
      .toMap
    val clusteredOnly = Dbscan.dbscan(df(blobs), "id", Seq("x", "y"),
        eps = 1000.0, minPts = 5, includeNoise = false)
      .collect()
    // no null clusters ever appear in this mode
    assert(clusteredOnly.forall(!_.isNullAt(1)))
    assert(clusteredOnly.map(r => r.getLong(0) -> r.getLong(1)).toMap == full,
      "clustered-only output must equal the labeled subset of the full output")
  }

  test("minPts gate: sparse pairs are noise, not clusters") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 10.0, 0.0), (3L, 5000.0, 0.0), (4L, 5010.0, 0.0))
    val out = Dbscan.dbscan(df(pts), "id", Seq("x", "y"), eps = 100.0, minPts = 3)
      .collect()
    assert(out.forall(_.isNullAt(1)), "pairs below minPts must be noise")
  }

  test("3-D clustering (x, y, dhdt-style feature) separates by the third axis") {
    // same xy, far apart in z: two clusters with eps below z-gap
    val a = (0 until 20).map(i => (i.toLong, (i % 5) * 10.0, (i / 5) * 10.0, 0.0))
    val b = (0 until 20).map(i => (100L + i, (i % 5) * 10.0, (i / 5) * 10.0, 500.0))
    val schema3 = StructType(schema.fields :+ StructField("z", DoubleType))
    val d3 = spark.createDataFrame(
      spark.sparkContext.parallelize((a ++ b).map(r => Row(r._1, r._2, r._3, r._4)), 4),
      schema3)
    val out = Dbscan.dbscan(d3, "id", Seq("x", "y", "z"), eps = 100.0, minPts = 4)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out.values.flatten.toSet.size == 2)
  }

  test("convex hull aggregator: square with interior points -> 4 corners") {
    val pts = Seq(
      (1L, 0.0, 0.0), (1L, 4.0, 0.0), (1L, 4.0, 4.0), (1L, 0.0, 4.0),
      (1L, 2.0, 2.0), (1L, 1.0, 3.0), (1L, 2.0, 0.0)) // interior + edge point
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(pts.map(r => Row(r._1, r._2, r._3)), 4),
      StructType(Seq(StructField("g", LongType),
        StructField("x", DoubleType), StructField("y", DoubleType))))
    val hull = d.groupBy("g")
      .agg(ConvexHull.convex_hull(col("x"), col("y")).as("hull"))
      .head().getSeq[Row](1).map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(hull == Set((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)))
  }

  test("hull function: collinear and tiny inputs") {
    assert(ConvexHull.hull(Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0))).size == 2)
    assert(ConvexHull.hull(Seq((1.0, 1.0))) == Seq((1.0, 1.0)))
    assert(ConvexHull.hull(Seq((1.0, 1.0), (1.0, 1.0))) == Seq((1.0, 1.0)))
  }
}

object DbscanSpec {

  /** Strategies of the executed DBSCAN pair join in `plans` (executed
    * plan strings): the join on the home cell keys (`_c0`...) in a plan
    * carrying the pair cache's block-key column, read from the
    * final-plan section only (AQE's toString appends the initial
    * sort-merge plan after it).
    */
  def pairJoins(plans: Seq[String]): Seq[String] =
    plans.filter(_.contains("_sbk"))
      .flatMap(p => "\\w+Join(?= \\[_c0#)".r.findAllIn(p.split("== Initial Plan ==")(0)))
}
