package graft.sources.hdf5

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ATL11 granule -> long-table assembly over the [[Hdf5DataSource]]
  * scan — the S2 ingest pipeline the reference runs with
  * xarray/h5netcdf (/root/reference/atl06_to_atl11.py:170-196: open
  * each /pt1 /pt2 /pt3 beam-pair group, mask_and_scale fill values,
  * then concatenate into one frame per reference ground track;
  * filename pattern ATL11_{rgt:04d}{orbitalsegment}_..._.h5 from
  * atl06_to_atl11.py:115, rgt recovery as in atl06_play.py's
  * glob-slice and atlxi_dhdt.py:67's format string).
  *
  * Spark-first shape: the (ref_pt × cycle) matrices arrive from the
  * scan as one `array<double>` per reference point; `posexplode` on
  * the first matrix plus `element_at` on the rest yields the long
  * table in a single codegen'd projection — no per-file driver loop.
  * The tiny per-(file, pair) `cycle_number` coordinate is its own
  * scan joined by position; Catalyst broadcasts it (files × pairs ×
  * cycles rows). Fill-value masking reads each dataset's
  * `_FillValue` attribute once, driver-side, at plan time — the
  * reference's mask_and_scale, as a `when(col === fill, null)`
  * projection.
  */
object Atl11 {

  val PointDatasets: Seq[String] =
    Seq("ref_pt", "longitude", "latitude", "delta_time", "h_corr",
      "quality_summary")

  /** Read granules matching `glob` into the long ATL11 table:
    * (referencegroundtrack, pair, ref_pt, cycle_number, longitude,
    * latitude, delta_time, h_corr, quality_summary).
    */
  def read(
      spark: SparkSession, glob: String,
      pairs: Seq[String] = Seq("pt1", "pt2", "pt3")): DataFrame = {

    // plan-time metadata peek: _FillValue per maskable dataset
    val fills: Map[String, Double] = {
      val files = Hdf5DataSource.resolveFiles(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", glob)))
      val r = new Hdf5Reader(files.head, graft.sources.ArrayScan.hadoopConf())
      try {
        r.groupChildren(pairs.head).flatMap { case (n, a) =>
          r.dataset(n, a).attrs.get("_FillValue").map(n -> _)
        }.toMap
      } finally r.close()
    }
    def masked(name: String, c: Column): Column =
      fills.get(name).fold(c)(f => when(c === lit(f), lit(null)).otherwise(c))

    val points = spark.read.format("hdf5")
      .option("groups", pairs.mkString(","))
      .option("datasets", PointDatasets.mkString(","))
      .load(glob)

    val cycles = spark.read.format("hdf5")
      .option("groups", pairs.mkString(","))
      .option("datasets", "cycle_number")
      .load(glob)
      .select(col(Hdf5DataSource.FilenameCol), col(Hdf5DataSource.GroupCol),
        col(Hdf5DataSource.IndexCol).as("cyc_idx"), col("cycle_number"))

    val long = points.select(
        col(Hdf5DataSource.FilenameCol), col(Hdf5DataSource.GroupCol),
        col("ref_pt"), col("longitude"), col("latitude"),
        col("delta_time"), col("quality_summary"),
        posexplode(col("h_corr")).as(Seq("cyc_idx", "h_corr_v")))
      .select(
        col(Hdf5DataSource.FilenameCol), col(Hdf5DataSource.GroupCol),
        col("cyc_idx"), col("ref_pt"), col("longitude"), col("latitude"),
        masked("h_corr", col("h_corr_v")).as("h_corr"),
        masked("delta_time",
          element_at(col("delta_time"), col("cyc_idx") + 1)).as("delta_time"),
        element_at(col("quality_summary"), col("cyc_idx") + 1)
          .as("quality_summary"))

    long
      .join(broadcast(cycles),
        Seq(Hdf5DataSource.FilenameCol, Hdf5DataSource.GroupCol, "cyc_idx"))
      .select(
        regexp_extract(
          regexp_extract(col(Hdf5DataSource.FilenameCol), "([^/]+)$", 1),
          "^ATL11_(\\d{4})", 1).cast("int").as("referencegroundtrack"),
        col(Hdf5DataSource.GroupCol).as("pair"),
        col("ref_pt"), col("cycle_number"),
        masked("longitude", col("longitude")).as("longitude"),
        masked("latitude", col("latitude")).as("latitude"),
        col("delta_time"), col("h_corr"), col("quality_summary"))
  }
}
