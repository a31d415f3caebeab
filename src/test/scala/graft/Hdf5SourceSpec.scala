package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ColumnarToRowExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.hdf5.{Atl11, Hdf5Sink, Hdf5Writer}
import graft.sources.hdf5.Hdf5Writer.{Dset, Group}
import graft.sources.netcdf.NetCdf
import graft.sources.zarr.ZarrSink

/** DSv2 surface of the S2 ingest (README §"HDF5 ingest"): the scan
  * must plan one split per (granule, beam-pair), push column pruning
  * down to the dataset byte ranges, and the ATL11 assembly must
  * reproduce the reference's xarray semantics (fill -> null, rgt from
  * filename, positional cycle join;
  * reference atl06_to_atl11.py:170-196). Column pruning and the
  * vectorized read are pinned for every format on the shared array
  * scan: HDF5, Zarr and NetCDF.
  */
class Hdf5SourceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_hdf5src").toString
    for (rgt <- Seq(7, 21)) {
      val groups = (1 to 3).map { p =>
        val n = 6
        val h = for (k <- 0 until n; c <- 1 to 2)
          yield if (k == 2 && c == 1) 9.9e30 else rgt * 100.0 + p * 10.0 + k + c * 0.5
        Group(s"pt$p", Seq(
          Dset("ref_pt", "i64", Seq(n), Hdf5Writer.i64Bytes(Array.tabulate(n)(_.toLong * 10))),
          Dset("longitude", "f64", Seq(n), Hdf5Writer.f64Bytes(Array.tabulate(n)(_ * 1.5))),
          Dset("latitude", "f64", Seq(n), Hdf5Writer.f64Bytes(Array.tabulate(n)(-70.0 - _))),
          Dset("delta_time", "f64", Seq(n, 2),
            Hdf5Writer.f64Bytes((for (k <- 0 until n; c <- 1 to 2) yield k + c * 100.0).toArray)),
          Dset("h_corr", "f64", Seq(n, 2), Hdf5Writer.f64Bytes(h.toArray),
            chunkDims = Some(Seq(4, 2)), deflate = Some(6),
            attrs = Seq("_FillValue" -> 9.9e30)),
          Dset("quality_summary", "i8", Seq(n, 2),
            Hdf5Writer.i8Bytes((for (k <- 0 until n; c <- 1 to 2) yield ((k + c) % 2).toByte).toArray)),
          Dset("cycle_number", "i64", Seq(2), Hdf5Writer.i64Bytes(Array(1L, 2L)))))
      }
      Hdf5Writer.write(f"$d/ATL11_$rgt%04d10_0310_005_03.h5", groups)
    }
    d
  }

  test("schema inference: metadata columns + 1-D scalars + 2-D arrays") {
    val df = spark.read.format("hdf5")
      .option("groups", "pt1")
      .option("datasets", "ref_pt,h_corr,quality_summary")
      .load(s"$dir/ATL11_*.h5")
    assert(df.schema == StructType(Seq(
      StructField("_filename", StringType, nullable = false),
      StructField("_group", StringType, nullable = false),
      StructField("_index", LongType, nullable = false),
      StructField("ref_pt", LongType),
      StructField("h_corr", ArrayType(DoubleType)),
      StructField("quality_summary", ArrayType(ByteType)))))
  }

  test("one input partition per (granule, beam-pair)") {
    val df = spark.read.format("hdf5")
      .option("groups", "pt1,pt2,pt3")
      .option("datasets", "ref_pt")
      .load(s"$dir/ATL11_*.h5")
    assert(df.rdd.getNumPartitions == 2 * 3) // 2 files x 3 pairs
    assert(df.count() == 2 * 3 * 6)
  }

  test("_group / _filename equality prunes (granule, group) partitions") {
    val all = spark.read.format("hdf5")
      .option("groups", "pt1,pt2,pt3")
      .option("datasets", "ref_pt")
      .load(s"$dir/ATL11_*.h5")
    def scanParts(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect()
      q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions
      }.sum
    }
    assert(scanParts(all.select("ref_pt")) == 6) // 2 files x 3 groups
    val g = all.filter(col("_group") === "pt2")
    assert(scanParts(g.select("_group", "ref_pt")) == 2,
      "group filter should plan one partition per file")
    assert(g.count() == 2 * 6)
    val f = all.select("_filename").distinct().collect()
      .map(_.getString(0)).sorted.head
    val one = all.filter(col("_filename") === f && col("_group") === "pt1")
    assert(scanParts(one.select("_filename", "_group", "ref_pt")) == 1)
    assert(one.count() == 6)
  }

  /** The same 12-row frame (`ref_pt` int, `h_corr` array<double>) in
    * each array format, read back through the shared columnar scan.
    */
  private lazy val arrayFormats: Seq[(String, () => DataFrame)] = {
    val sess = spark
    import sess.implicits._
    val d = Files.createTempDirectory("graft_arrayscan").toString
    val df = (0 until 12).map(k => (k * 10, Seq(k + 0.5, k + 1.5)))
      .toDF("ref_pt", "h_corr").repartition(2)
    Hdf5Sink.write(df, s"$d/hdf5", group = "data")
    ZarrSink.write(df, s"$d/zarr", chunkRows = 4)
    NetCdf.write(df, s"$d/netcdf")
    Seq(
      "hdf5" -> (() => spark.read.format("hdf5").option("groups", "data")
        .load(s"$d/hdf5/part-*.h5")),
      "zarr" -> (() => spark.read.format("zarr").load(s"$d/zarr")),
      "netcdf" -> (() => NetCdf.read(spark, s"$d/netcdf")))
  }

  test("column pruning is pushed into the scan") {
    for ((format, read) <- arrayFormats) {
      val df = read().select("ref_pt")
      val scans = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }
      assert(scans.nonEmpty, format)
      // only the requested column survives in the scan output — the
      // reader then never fetches the other columns' bytes
      assert(scans.head.output.map(_.name) == Seq("ref_pt"), format)
      assert(df.distinct().count() == 12, format)
      // and an empty projection still counts every row
      assert(read().count() == 12, format)
    }
  }

  test("the scan is vectorized: ColumnarToRow above the BatchScan") {
    for ((format, read) <- arrayFormats) {
      val df = read().select("ref_pt", "h_corr")
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case c: ColumnarToRowExec => c }
          .exists(_.exists(_.isInstanceOf[BatchScanExec])),
        s"$format scan is not read as ColumnarBatches:\n$plan")
      val rows = df.collect().sortBy(_.getInt(0))
      assert(rows.map(_.getInt(0)).toSeq == (0 until 12).map(_ * 10), format)
      assert(rows.map(_.getSeq[Double](1)).toSeq ==
        (0 until 12).map(k => Seq(k + 0.5, k + 1.5)), format)
    }
  }

  test("ATL11 long assembly: fill masking, rgt parse, positional cycle join") {
    val long = Atl11.read(spark, s"$dir/ATL11_*.h5").cache()
    try {
      assert(long.count() == 2 * 3 * 6 * 2)
      assert(long.select("referencegroundtrack").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq == Seq(7, 21))
      // planted fill at (k=2, c=1) -> null h_corr in every file/pair
      assert(long.filter(col("h_corr").isNull).count() == 2 * 3)
      assert(long.filter(col("ref_pt") === 20 && col("cycle_number") === 1)
        .filter(col("h_corr").isNull).count() == 6)
      // spot value: rgt=7, pt3, k=4, c=2
      val v = long.filter(col("referencegroundtrack") === 7 &&
          col("pair") === "pt3" && col("ref_pt") === 40 &&
          col("cycle_number") === 2)
        .select("h_corr", "delta_time", "quality_summary").collect()
      assert(v.length == 1)
      assert(v(0).getDouble(0) == 7 * 100.0 + 3 * 10.0 + 4 + 2 * 0.5)
      assert(v(0).getDouble(1) == 4 + 2 * 100.0)
      assert(v(0).getByte(2) == ((4 + 2) % 2).toByte)
    } finally long.unpersist()
  }
}
