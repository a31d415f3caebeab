package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops._
import graft.sources.GeoJson
import graft.sources.hdf5.Hdf5Sink
import graft.sources.netcdf.NetCdf
import graft.sources.zarr.ZarrSink

/** Direct calls into the `ops`, `functions` and `sources` layers on the
  * seeded tables, each timed from outside through its public API. The
  * inputs are built and cached before the clock starts, so each number
  * is the layer's own work. Every probe records one span.
  */
final class Probes(spark: SparkSession, dir: String, tmp: String, spans: Spans) {
  val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Times one call. Its Spark jobs carry the span id as job group, so
    * the job spans hang from the probe span.
    */
  private def timed(layer: String, metric: String)(body: => Unit): Double = {
    val id = s"probe:$metric#${spans.rows.size}"
    spark.sparkContext.setJobGroup(id, metric, interruptOnCancel = false)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    val secs = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    spans.add(id, "probes", layer, metric, s0, System.currentTimeMillis())
    secs
  }

  private def cached(df: DataFrame): DataFrame = {
    val c = df.persist()
    c.count()
    c
  }

  /** The lake construction: five separated dense blobs with a
    * sign-by-blob surface-change rate, as the lake queries plant it.
    */
  private def lakePoints(): DataFrame = cached(
    Tables(spark, dir, "lineitem")
      .withColumn("blob", (col("l_suppkey") % 5).cast("int"))
      .withColumn("px", col("blob") * 50000L + col("l_orderkey") % 997)
      .withColumn("py", col("blob") * 20000L + col("l_partkey") % 997)
      .select("blob", "px", "py").distinct()
      .withColumn("id", col("px") * 10000000L + col("py"))
      .withColumn("x", col("px").cast("double"))
      .withColumn("y", col("py").cast("double"))
      .withColumn("dhdt", when(col("blob") < 3, -1.0).otherwise(1.0) *
        (lit(0.2) + (col("px") % 50).cast("double") / 100.0))
      .withColumn("basin", (col("blob") % 2).cast("int"))
      .withColumn("track",
        concat(lpad((col("py") % 40).cast("string"), 4, "0"), lit("_pt1")))
      .select("id", "x", "y", "dhdt", "basin", "track"))

  private def trackPoints(): DataFrame = cached(
    Tables(spark, dir, "lineitem")
      .withColumn("track", (col("l_suppkey") % 10).cast("int"))
      .withColumn("px", (col("l_orderkey") % 9973).cast("double"))
      .groupBy(col("track"), col("px"))
      .agg(max(col("l_extendedprice")).as("h"),
        max(unix_timestamp(col("l_shipdate")).cast("double")).as("t"))
      .withColumn("y", ((col("track") * 7) % 13) * lit(0.3) * col("px") +
        ((col("track") * 11) % 17) * lit(200.0)))

  /** Documents plus one planted near-copy of every 50th document. */
  private def corpus(): DataFrame = {
    val d = Tables(spark, dir, "documents").select("doc_id", "text")
    val planted = d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + lit(100000L))
      .withColumn("text", concat_ws(" ", slice(Text.tokens(col("text")), 2, 100000)))
    cached(d.unionByName(planted))
  }

  def runOps(): Unit = {
    val pts = lakePoints()
    val n = pts.count()
    // ~25 expected neighbours per point, as the lake queries size eps
    val eps = math.sqrt(25.0 / (math.Pi * ((n / 5.0) / (997.0 * 997.0))))
    metrics("ops.find_lakes_s") = timed("ops", "ops.find_lakes_s") {
      sink(LakeFinder.findLakes(pts, noiseFloor = 0.105, eps = eps, minPts = 5,
        minBasinPoints = 100, minLakePoints = 20, bufferDist = 1000.0))
    }
    metrics("ops.dbscan_s") = timed("ops", "ops.dbscan_s") {
      sink(Dbscan.dbscan(pts, "id", Seq("x", "y"), eps = eps, minPts = 5,
        includeNoise = false))
    }
    val li = cached(Tables(spark, dir, "lineitem"))
    metrics("ops.cc_label_s") = timed("ops", "ops.cc_label_s") {
      sink(ConnectedComponents.label(
        li.select(col("l_orderkey").as("src"),
          (col("l_partkey") + lit(1000000000L)).as("dst")), "src", "dst"))
    }
    metrics("ops.exact_median_s") = timed("ops", "ops.exact_median_s") {
      sink(ExactMedian.medianAndMadByUnits(li, Seq("l_suppkey"),
        "l_extendedprice", "med", "mad"))
    }
    metrics("ops.convex_hull_s") = timed("ops", "ops.convex_hull_s") {
      sink(pts.groupBy(col("basin"))
        .agg(ConvexHull.convex_hull(col("x"), col("y")).as("hull")))
    }
    val tracks = trackPoints()
    metrics("ops.crossovers_s") = timed("ops", "ops.crossovers_s") {
      sink(Crossover.crossovers(tracks, trackCol = "track", orderCol = "px",
        x = "px", y = "y", h = "h", t = "t", cellSize = 100.0, maxGap = 100.0))
    }
    Seq(pts, li, tracks).foreach(_.unpersist())

    val docs = corpus()
    import spark.implicits._
    val queries = Seq(
      ("q1", "spark window agg"),
      ("q2", "hash join merge batch"),
      ("q3", "fast scan filter value"),
      ("q4", "customer order line")).toDF("query_id", "query_text")
    metrics("ops.simhash_neardup_s") = timed("ops", "ops.simhash_neardup_s") {
      sink(NearDup.simhashNearDuplicates(docs, "doc_id", "text",
        threshold = 0.8, maxDist = 12))
    }
    metrics("ops.minhash_neardup_s") = timed("ops", "ops.minhash_neardup_s") {
      sink(NearDup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5))
    }
    metrics("ops.dedup_clusters_s") = timed("ops", "ops.dedup_clusters_s") {
      sink(NearDup.dedupClusters(docs, "doc_id", "text", threshold = 0.5))
    }
    metrics("ops.bm25_topk_s") = timed("ops", "ops.bm25_topk_s") {
      sink(Text.bm25TopK(docs, queries, k = 10))
    }
    metrics("ops.tfidf_topterms_s") = timed("ops", "ops.tfidf_topterms_s") {
      sink(Text.tfIdfTopTerms(docs, k = 5))
    }
    metrics("ops.query_likelihood_s") = timed("ops", "ops.query_likelihood_s") {
      sink(Text.queryLikelihoodTopK(docs, queries, k = 10))
    }
    metrics("ops.vocab_oov_s") = timed("ops", "ops.vocab_oov_s") {
      sink(Text.vocabOov(docs))
    }
    docs.unpersist()
  }

  /** Rows per second of one codegen kernel projected over a cached
    * input; the median of three calls.
    */
  private def kernelRate(metric: String, input: DataFrame,
      proj: Seq[org.apache.spark.sql.Column]): Unit = {
    val rows = input.count().toDouble
    val secs = (1 to 3).map(_ => timed("functions", metric)(sink(input.select(proj: _*)))).sorted
    metrics(metric) = rows / secs(1)
  }

  def runFunctions(): Unit = {
    import graft.{functions => gf}
    val pts = cached(spark.range(0, 1000000).select(
      (col("id") % 3600 / 10.0 - 180.0).as("lon"),
      (lit(-60.0) - col("id") % 300 / 10.0).as("lat"),
      (col("id") % 2000 - 1000.0).as("px"),
      (col("id") / 1000 % 2000 - 1000.0).as("py"),
      (col("id") % 97 / 10.0 - 4.8).as("t"),
      (col("id") % 30 + 1.0).as("df")))
    kernelRate("functions.ps3031_rows_per_s", pts,
      Seq(gf.ps3031_x(col("lon"), col("lat")), gf.ps3031_y(col("lon"), col("lat"))))
    val ring = Seq(-800.0, 0.0, 800.0, 600.0, 0.0, -600.0)
    val ringY = Seq(0.0, 700.0, 100.0, -500.0, -800.0, -400.0)
    kernelRate("functions.point_in_polygon_rows_per_s", pts,
      Seq(gf.point_in_polygon(typedLit(ring), typedLit(ringY), col("px"), col("py"))))
    kernelRate("functions.t_pvalue_rows_per_s", pts,
      Seq(gf.t_pvalue(col("t"), col("df"))))
    pts.unpersist()

    val toks = cached(Tables(spark, dir, "documents")
      .crossJoin(spark.range(0, 20).select(col("id").as("copy")))
      .select(Text.tokens(col("text")).as("toks"))
      .withColumn("sh", Text.shingles(col("toks"), 3)))
    kernelRate("functions.simhash64_rows_per_s", toks, Seq(gf.simhash64(col("toks"))))
    kernelRate("functions.minhash_sig_rows_per_s", toks,
      Seq(NearDup.minhashSignature(col("sh"), 32)))
    toks.unpersist()
  }

  /** One stateful streaming query, so the `streaming` layer is measured
    * in every traced run; its batches reach the streaming listener.
    */
  def runStreaming(): Unit = {
    val q = "stream_window_counts"
    metrics("streaming.query_s") = timed("streaming", "streaming.query_s") {
      sink(graft.SparkEntry.queries(q)(spark, dir))
    }
  }

  private def bytesUnder(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  private def clean(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  def runSources(): Unit = {
    val cols = Seq("suppkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val li = cached(Tables(spark, dir, "lineitem")
      .select(col("l_suppkey").cast("int").as("suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .repartition(4))
    val rows = li.count().toDouble
    def format(name: String, write: String => Unit, read: String => DataFrame): Unit = {
      val base = s"$tmp/probe_$name"
      clean(base)
      metrics(s"sources.${name}_write_s") = timed("sources", s"sources.${name}_write_s")(write(base))
      metrics(s"sources.${name}_bytes_per_row") = bytesUnder(base) / rows
      metrics(s"sources.${name}_read_s") =
        timed("sources", s"sources.${name}_read_s")(sink(read(base).select(cols.map(col): _*)))
      clean(base)
    }
    format("hdf5", Hdf5Sink.write(li, _, group = "lineitem"),
      base => spark.read.format("hdf5").option("groups", "lineitem")
        .option("datasets", cols.mkString(",")).load(s"$base/part-*.h5"))
    format("zarr", ZarrSink.write(li, _, chunkRows = 8192),
      base => spark.read.format("zarr").load(base))
    format("zarr_blosc", ZarrSink.write(li, _, chunkRows = 8192, level = 5, codec = "blosc"),
      base => spark.read.format("zarr").load(base))
    format("netcdf", NetCdf.write(li, _), base => NetCdf.read(spark, base))
    li.unpersist()

    val polys = Tables(spark, dir, "nation").select(col("n_name").as("name"),
      array((col("n_nationkey") * 1000 - 100).cast("double"),
        (col("n_nationkey") * 1000).cast("double"),
        (col("n_nationkey") * 1000 + 100).cast("double")).as("xs"),
      array(lit(0.0), (col("n_regionkey") * 500 + 100).cast("double"), lit(0.0)).as("ys"))
    val path = s"$tmp/probe_geojson.json"
    metrics("sources.geojson_roundtrip_s") = timed("sources", "sources.geojson_roundtrip_s") {
      GeoJson.writePolygons(polys, path)
      sink(GeoJson.readPolygons(spark, path))
    }
  }
}
