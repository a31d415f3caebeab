package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GeoJson

/** Real-data fixture gate: the reference's PUBLISHED pipeline outputs
  * (/root/reference/antarctic_subglacial_lakes_3031.geojson and its
  * _4326 reprojection twin, written by atlxi_lake.py:304-310) are the
  * only production artifacts available in the sandbox — this spec
  * parses them with the engine's own GeoJSON source, pins the
  * property contract the lake pipeline emits (A10's `|`-joined
  * refgtracks, basin names, inner/outer dhdt stats), and checks that
  * [[GeoJson.withLonLatRings]] (our codegen EPSG:3031 inverse)
  * reproduces the reference's published 4326 coordinates.
  */
class GeoJsonRealDataSpec extends SparkSpec {

  private val lakeProps = Seq("basin_name", "refgtracks", "num_points",
    "maxabsdhdt", "inner_dhdt", "mean_dhdt", "outer_dhdt", "outer_std",
    "outer_mad")
  private val path3031 = "/root/reference/antarctic_subglacial_lakes_3031.geojson"
  private val path4326 = "/root/reference/antarctic_subglacial_lakes_4326.geojson"

  private lazy val lakes3031 =
    GeoJson.readPolygons(spark, path3031, lakeProps).cache()

  /** Cancels (not fails) the calling test while a fixture file is
    * absent, like SubglacialLakeBddSpec's DVC fixture guard.
    */
  private def assumeFixtures(paths: String*): Unit =
    paths.foreach(p => assume(new java.io.File(p).exists(),
      s"published lake fixture $p not present"))

  test("parses all 193 published lakes with the expected property schema") {
    assumeFixtures(path3031)
    val df = lakes3031
    assert(df.count() == 193)
    val s = df.schema
    assert(s("basin_name").dataType == StringType)
    assert(s("refgtracks").dataType == StringType)
    assert(s("num_points").dataType == LongType)
    for (c <- Seq("maxabsdhdt", "inner_dhdt", "mean_dhdt", "outer_dhdt",
        "outer_std", "outer_mad"))
      assert(s(c).dataType == DoubleType, s"$c: ${s(c).dataType}")
    assert(s("xs").dataType == ArrayType(DoubleType))
    // every property populated; refgtracks in the A10 '|'-join format
    assert(df.filter(lakeProps.map(col(_).isNull).reduce(_ || _)).count() == 0)
    assert(df.filter(!col("refgtracks").rlike("^\\d+(\\|\\d+)*$")).count() == 0)
    assert(df.filter(col("num_points") <= 0).count() == 0)
    // the outer ring arrives closed in the file; the source drops the
    // closing vertex, so first != last and length >= 3
    assert(df.filter(size(col("xs")) < 3).count() == 0)
    assert(df.filter(element_at(col("xs"), 1) === element_at(col("xs"), -1) &&
      element_at(col("ys"), 1) === element_at(col("ys"), -1)).count() == 0)
  }

  test("withLonLatRings reproduces the published 4326 twin within 1e-6 deg") {
    // feature POSITION is the join key: the twin files share feature
    // order, and no property tuple is unique (maxabsdhdt repeats 7
    // times across the 193 published lakes — a real-data lesson)
    assumeFixtures(path3031, path4326)
    val ours = GeoJson.withLonLatRings(
        GeoJson.readPolygons(spark, path3031, lakeProps, withIndex = true))
      .select(col("_fid"), col("lons"), col("lats"))
    val published = GeoJson.readPolygons(spark, path4326, Nil, withIndex = true)
      .select(col("_fid"), col("xs").as("ref_lons"), col("ys").as("ref_lats"))
    val joined = ours.join(published, Seq("_fid"))
    assert(joined.count() == 193, "3031/4326 twins failed to pair up")
    val maxErr = joined.select(greatest(
        array_max(zip_with(col("lons"), col("ref_lons"), (a, b) => abs(a - b))),
        array_max(zip_with(col("lats"), col("ref_lats"), (a, b) => abs(a - b))))
        .as("e"))
      .agg(max(col("e"))).head.getDouble(0)
    // 1e-6 deg is ~10 cm on the ground — pyproj's iterative EPSG:9829
    // inverse vs our closed-form series agree far below that
    assert(maxErr < 1e-6, s"max reprojection deviation $maxErr deg")
  }

  test("real lake polygons survive the engine's own sink round-trip exactly") {
    assumeFixtures(path3031)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_lakes_rt.json"
    val named = GeoJson.readPolygons(spark, path3031, Seq("basin_name"),
        withIndex = true)
      .select(concat_ws("#", col("basin_name"), col("_fid")).as("name"),
        col("xs"), col("ys"))
    GeoJson.writePolygons(named, path)
    val back = GeoJson.readPolygons(spark, path)
    assert(back.count() == 193)
    // exact double round-trip through the text sink on production
    // coordinates (fmt emits full precision)
    val mismatched = named.as("a")
      .join(back.as("b"), col("a.name") === col("b.name"))
      .filter(col("a.xs") =!= col("b.xs") || col("a.ys") =!= col("b.ys"))
    assert(back.select(countDistinct(col("name"))).head.getLong(0) == 193)
    assert(mismatched.count() == 0)
  }
}
