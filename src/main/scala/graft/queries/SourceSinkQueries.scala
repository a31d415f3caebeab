package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{Profile, Tables}
import graft.sources.hdf5.{Atl11, Hdf5Sink, Hdf5Writer}
import graft.sources.hdf5.Hdf5Writer.{Dset, Group}
import graft.sources.netcdf.NetCdf
import graft.sources.zarr.ZarrSink

/** Source/sink surface (SURVEY.md §2.1 S1/S4/S8/S11, §2.7 F8): each
  * declared as a write -> read-back round-trip whose oracle
  * reconstructs the expected table analytically, so either side of
  * the round-trip breaking fails the hash.
  */
object SourceSinkQueries extends QueryPack {

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$name"

  /** `tmp(name)`, deleted first: stale granules or chunks of an earlier
    * (wider) write would otherwise leak into the read-back.
    */
  private def freshTmp(name: String): String = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val base = tmp(name)
    rm(new java.io.File(base))
    base
  }

  /** Two deterministic ATL11-shaped granules derived from `nation`
    * (ref_pt = n_nationkey), mirroring the real product layout
    * (/root/reference/atl06_to_atl11.py:115 filename format,
    * :170-196 beam-pair groups): per pt1-pt3 group, 1-D ref_pt/
    * longitude/latitude, 2-D (point × cycle) delta_time/h_corr/
    * quality_summary, and the cycle_number coordinate. h_corr carries
    * a _FillValue attribute with planted fills; the 2-D doubles are
    * chunked+shuffle+deflate, and the second granule uses a v2
    * superblock — so the s2 oracle gate exercises every format path
    * the [[graft.sources.hdf5.Hdf5Reader]] supports. All values are
    * exact binary doubles (k/4, k/8, k/16 scales) so the DuckDB
    * replay hash-matches without rounding.
    */
  private def writeAtl11Fixtures(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val base = tmp("atl11")
    new java.io.File(base).mkdirs()
    val keys = Tables(s, dir, "nation").select("n_nationkey")
      .collect().map(_.getInt(0)).sorted // 25 rows, contractually tiny
    val cycles = Array(1L, 2L, 3L)
    val fill = 3.0e38
    for (((rgt, sbv), _) <- Seq((142, 0), (1387, 2)).zipWithIndex) {
      val groups = (1 to 3).map { p =>
        val n = keys.length
        val dt = for (k <- keys; c <- cycles)
          yield c * 8.0 + k * 0.5 + p * 0.0625
        val h = for (k <- keys; c <- cycles)
          yield if ((k + c) % 7 == 0) fill
            else rgt * 1000.0 + p * 100.0 + k * 1.0 + c * 0.25
        val q = for (k <- keys; c <- cycles) yield ((k + c) % 2).toByte
        Group(s"pt$p", Seq(
          Dset("ref_pt", "i64", Seq(n), Hdf5Writer.i64Bytes(keys.map(_.toLong))),
          Dset("longitude", "f64", Seq(n),
            Hdf5Writer.f64Bytes(keys.map(k => -60.0 + k * 0.25 + rgt * 0.5))),
          Dset("latitude", "f64", Seq(n),
            Hdf5Writer.f64Bytes(keys.map(k => -70.0 - k * 0.125))),
          Dset("delta_time", "f64", Seq(n, cycles.length),
            Hdf5Writer.f64Bytes(dt), chunkDims = Some(Seq(10, cycles.length)),
            deflate = Some(6)),
          Dset("h_corr", "f64", Seq(n, cycles.length),
            Hdf5Writer.f64Bytes(h), chunkDims = Some(Seq(10, cycles.length)),
            deflate = Some(6), attrs = Seq("_FillValue" -> fill)),
          Dset("quality_summary", "i8", Seq(n, cycles.length),
            Hdf5Writer.i8Bytes(q)),
          Dset("cycle_number", "i64", Seq(cycles.length),
            Hdf5Writer.i64Bytes(cycles))))
      }
      Hdf5Writer.write(f"$base/ATL11_$rgt%04d10_0310_005_03.h5", groups,
        sbVersion = sbv)
    }
    base
  }

  override def queries: Seq[Q] = Seq(

    // S1 multi-file scan + F8 filename-pattern extraction: write one
    // parquet directory per region key, scan them with a glob, and
    // recover the key from input_file_name() — the reference's
    // ATL11_xxxx_.zarr -> referencegroundtrack preprocessing
    // (atlxi_dhdt.py:64-70).
    Q("s1_multifile_filename",
      (s, dir) => {
        val base = tmp("multifile")
        val n = Tables(s, dir, "nation")
        for (rk <- 0 until 5) {
          n.filter(col("n_regionkey") === rk)
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$base/region_$rk.parquet")
        }
        s.read.parquet(s"$base/region_*.parquet")
          .withColumn("region_from_file",
            regexp_extract(input_file_name(), "region_(\\d+)\\.parquet", 1).cast("int"))
          .select(col("n_nationkey"), col("n_name"), col("region_from_file"))
      },
      Some("""
        SELECT n_nationkey, n_name, n_regionkey AS region_from_file
        FROM nation
      """.trim)),

    // S4+S8 sink round-trips: aggregate -> TSV (tab-separated, the
    // reference's volume time-series sink, lake_algorithms.py:208-225)
    // -> read back with an explicit schema.
    Q("s8_tsv_roundtrip",
      (s, dir) => {
        val base = tmp("tsv_sink")
        val agg = Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            (expr("sum(cast(round(value * 100) as bigint)) * 100 div count(1)")
              .cast("double") / 10000.0).as("avg_value"))
        agg.coalesce(1).write.mode("overwrite")
          .option("sep", "\t").option("header", "true")
          .csv(base)
        s.read.option("sep", "\t").option("header", "true")
          .schema("event_type STRING, n BIGINT, avg_value DOUBLE")
          .csv(base)
      },
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) * 100
                    // count(*) AS DOUBLE) / 10000.0 AS avg_value
        FROM events
        GROUP BY event_type
      """.trim)),

    // S2 HDF5 ingest, byte decode included: write ATL11-shaped
    // granules with the from-scratch HDF5 writer, scan them through
    // the hdf5 DataSource V2 (one split per granule × beam-pair), and
    // assemble the long table exactly as the reference's
    // xarray/h5netcdf path does (atl06_to_atl11.py:170-196) —
    // fill-masked h_corr, positional cycle_number join, rgt from the
    // filename. The oracle replays the generator formulas in DuckDB.
    Q("s2_hdf5_atl11",
      (s, dir) => {
        val base = Profile.stage("sink_write") { writeAtl11Fixtures(s, dir) }
        Atl11.read(s, s"$base/ATL11_*.h5")
      },
      Some("""
        SELECT CAST(rgt AS INTEGER) AS referencegroundtrack,
               'pt' || p AS pair,
               CAST(n.n_nationkey AS BIGINT) AS ref_pt,
               CAST(c AS BIGINT) AS cycle_number,
               -60.0 + n.n_nationkey * 0.25 + rgt * 0.5 AS longitude,
               -70.0 - n.n_nationkey * 0.125 AS latitude,
               c * 8.0 + n.n_nationkey * 0.5 + p * 0.0625 AS delta_time,
               CASE WHEN (n.n_nationkey + c) % 7 = 0 THEN NULL
                    ELSE rgt * 1000.0 + p * 100.0 + n.n_nationkey * 1.0
                         + c * 0.25 END AS h_corr,
               CAST((n.n_nationkey + c) % 2 AS TINYINT) AS quality_summary
        FROM nation n
        CROSS JOIN (VALUES (142), (1387)) r(rgt)
        CROSS JOIN (VALUES (1), (2), (3)) pp(p)
        CROSS JOIN (VALUES (1), (2), (3)) cc(c)
      """.trim)),

    // S2's OTHER reference shape: ATL06 six-laser granules with
    // NESTED groups /{laser}/land_ice_segments (atl06_play.py:308-339
    // opens all six and tags each frame with its laser id). One
    // granule, six nested group scans, laser recovered from the
    // _group path — the DSv2 source treats "gt1l/land_ice_segments"
    // as one split. All values exact binary; oracle replays the
    // generator in DuckDB.
    Q("s2_hdf5_atl06_lasers",
      (s, dir) => {
        val base = tmp("atl06")
        new java.io.File(base).mkdirs()
        val lasers = Seq("gt1l", "gt1r", "gt2l", "gt2r", "gt3l", "gt3r")
        Profile.stage("sink_write") {
          val keys = Tables(s, dir, "nation").select("n_nationkey")
            .collect().map(_.getInt(0)).sorted
          val groups = lasers.zipWithIndex.map { case (laser, li) =>
            Hdf5Writer.Group(laser, Nil, Seq(Hdf5Writer.Group("land_ice_segments", Seq(
              Dset("segment_id", "i64", Seq(keys.length),
                Hdf5Writer.i64Bytes(keys.map(_.toLong + 1000L))),
              Dset("longitude", "f64", Seq(keys.length),
                Hdf5Writer.f64Bytes(keys.map(k => 40.0 + k * 0.25 + li * 0.5))),
              Dset("latitude", "f64", Seq(keys.length),
                Hdf5Writer.f64Bytes(keys.map(k => -70.0 - k * 0.125 - li * 0.0625))),
              Dset("h_li", "f64", Seq(keys.length),
                Hdf5Writer.f64Bytes(keys.map(k =>
                  1000.0 + li * 100.0 + k * 1.0 + (k % 5) * 0.25)),
                chunkDims = Some(Seq(10)), deflate = Some(6)),
              Dset("atl06_quality_summary", "i8", Seq(keys.length),
                Hdf5Writer.i8Bytes(keys.map(k => ((k + li) % 2).toByte)))))))
          }
          Hdf5Writer.write(s"$base/ATL06_1287_granule.h5", groups)
        }
        s.read.format("hdf5")
          .option("groups", lasers.map(l => s"$l/land_ice_segments").mkString(","))
          .option("datasets",
            "segment_id,longitude,latitude,h_li,atl06_quality_summary")
          .load(s"$base/ATL06_*.h5")
          .select(
            element_at(split(col("_group"), "/"), 1).as("laser"),
            col("segment_id"), col("longitude"), col("latitude"),
            col("h_li"), col("atl06_quality_summary"))
      },
      Some("""
        SELECT l.laser,
               CAST(n.n_nationkey + 1000 AS BIGINT) AS segment_id,
               40.0 + n.n_nationkey * 0.25 + l.li * 0.5 AS longitude,
               -70.0 - n.n_nationkey * 0.125 - l.li * 0.0625 AS latitude,
               1000.0 + l.li * 100.0 + n.n_nationkey * 1.0
                 + (n.n_nationkey % 5) * 0.25 AS h_li,
               CAST((n.n_nationkey + l.li) % 2 AS TINYINT)
                 AS atl06_quality_summary
        FROM nation n
        CROSS JOIN (VALUES ('gt1l', 0), ('gt1r', 1), ('gt2l', 2),
                           ('gt2r', 3), ('gt3l', 4), ('gt3r', 5)) l(laser, li)
      """.trim)),

    // Distributed HDF5 SINK round-trip: lineitem numerics -> one
    // granule file per partition (Hdf5Sink, chunked+deflate) -> back
    // through the DSv2 hdf5 source. The row SET is partition-
    // assignment-independent, so the DuckDB replay of the projection
    // hash-matches regardless of which file each row landed in. This
    // closes the S2 loop write-side: the engine can both produce and
    // consume granule archives without any external HDF5 tooling.
    Q("s5_hdf5_sink_roundtrip",
      (s, dir) => {
        val base = freshTmp("hdf5_sink")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .repartition(4, col("l_orderkey"))
        Profile.stage("sink_write") { Hdf5Sink.write(li, base, group = "lineitem") }
        s.read.format("hdf5")
          .option("groups", "lineitem")
          .option("datasets", "l_orderkey,l_linenumber,l_quantity,l_extendedprice")
          .load(s"$base/part-*.h5")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      },
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
      """.trim)),

    // S5 rank-2 HDF5: array<double> columns as (record × width) 2-D
    // datasets — the per-cycle ATL11 shape (h_corr is ref_pt × cycle,
    // atl06_to_atl11.py:170-196) in the format the real archives use.
    // With this row all three sinks the reference writes (Zarr,
    // NetCDF, HDF5) round-trip the 2-D data model. Exploded to scalar
    // (pos, val) rows for the driver's hash compare, same as the
    // rank-2 Zarr/NetCDF rows.
    Q("s5_hdf5_rank2_roundtrip",
      (s, dir) => {
        val base = freshTmp("hdf5_rank2_sink")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            array(col("l_quantity"), col("l_discount"), col("l_tax"))
              .as("h_corr"))
          .repartition(4, col("l_orderkey"))
        Profile.stage("sink_write") { Hdf5Sink.write(li, base, group = "lineitem") }
        s.read.format("hdf5")
          .option("groups", "lineitem")
          .option("datasets", "l_orderkey,l_linenumber,h_corr")
          .load(s"$base/part-*.h5")
          .select(col("l_orderkey"), col("l_linenumber"),
            posexplode(col("h_corr")).as(Seq("pos", "val")))
      },
      Some("""
        SELECT l_orderkey, l_linenumber, p.pos,
               CASE p.pos WHEN 0 THEN l_quantity
                          WHEN 1 THEN l_discount
                          ELSE l_tax END AS val
        FROM lineitem, (VALUES (0), (1), (2)) AS p(pos)
      """.trim)),

    // S5 literal Zarr v2: distributed sink (global-chunk-grid aligned
    // write, one shuffle) -> DSv2 `.format("zarr")` scan (chunk-range
    // splits, pruned arrays never opened) — the exact store format the
    // reference materializes its ATL11 campaign data into and reads
    // through xarray/dask (atl06_to_atl11.py:206-217). The oracle
    // reads the SAME source rows relationally, so a chunk written to
    // the wrong grid slot, a mis-decoded byte order, or a lost edge
    // row all fail the hash.
    Q("s5_zarr_roundtrip",
      (s, dir) => {
        val base = freshTmp("zarr_store")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"),
            col("l_quantity"), col("l_discount"))
          .repartition(4, col("l_partkey"))
        // 8k-row chunks: sf0.01's ~60k rows span multiple chunks, so
        // the grid-alignment shuffle and edge-chunk fill actually run
        Profile.stage("sink_write") { ZarrSink.write(li, base, chunkRows = 8192) }
        s.read.format("zarr").load(base)
          .select("l_orderkey", "l_partkey", "l_quantity", "l_discount")
      },
      Some("""
        SELECT l_orderkey, l_partkey, l_quantity, l_discount
        FROM lineitem
      """.trim)),

    // S5 blosc variant: the compressor the reference's stores ACTUALLY
    // carry — zarr-python's default is numcodecs Blosc(lz4, shuffle),
    // and atl06_to_atl11.py:300-301 writes with default compression —
    // round-tripped through the pure-JVM blosc1 codec (ZarrSink
    // codec="blosc" write, ZarrDataSource chunk-split read). The
    // relational oracle hash-gates every decoded value.
    Q("s5_zarr_blosc_roundtrip",
      (s, dir) => {
        val base = freshTmp("zarr_blosc_store")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_tax"))
          .repartition(4, col("l_suppkey"))
        Profile.stage("sink_write") {
          ZarrSink.write(li, base, chunkRows = 8192, level = 5, codec = "blosc")
        }
        s.read.format("zarr").load(base)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_tax")
      },
      Some("""
        SELECT l_orderkey, l_suppkey, l_extendedprice, l_tax
        FROM lineitem
      """.trim)),

    // S5 rank-2 variant: array<double> columns as 2-D Zarr arrays —
    // the per-cycle shape (ref_pt x cycle) the reference's ATL11
    // stores carry for h_corr/delta_time (atl06_to_atl11.py:170-196,
    // to_zarr with 2-D variables). Written blosc, read back through
    // the chunk-aligned scan. The decoded array column is exploded to
    // scalar (pos, val) rows so the driver's pandas row-sort/hash
    // harness can compare it — same fidelity (every element, with its
    // index, is hash-gated), hashable output.
    Q("s5_zarr_rank2_roundtrip",
      (s, dir) => {
        val base = freshTmp("zarr_rank2_store")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            array(col("l_quantity"), col("l_discount"), col("l_tax"))
              .as("h_corr"))
          .repartition(4, col("l_orderkey"))
        Profile.stage("sink_write") {
          ZarrSink.write(li, base, chunkRows = 8192, level = 5, codec = "blosc")
        }
        s.read.format("zarr").load(base)
          .select(col("l_orderkey"), col("l_linenumber"),
            posexplode(col("h_corr")).as(Seq("pos", "val")))
      },
      Some("""
        SELECT l_orderkey, l_linenumber, p.pos,
               CASE p.pos WHEN 0 THEN l_quantity
                          WHEN 1 THEN l_discount
                          ELSE l_tax END AS val
        FROM lineitem, (VALUES (0), (1), (2)) AS p(pos)
      """.trim)),

    // S5 literal NetCDF classic (CDF-1): the reference's xarray
    // to_netcdf path (atl06_to_atl11.py:306-321). One granule per
    // partition through graft's from-scratch big-endian CDF-1
    // writer, read back by its parser, hash-compared against the
    // source rows relationally — byte layout independently pinned in
    // NetCdfSpec against the public format spec. With Zarr and HDF5
    // this closes all three array formats the reference writes.
    Q("s5_netcdf_roundtrip",
      (s, dir) => {
        val base = freshTmp("netcdf_store")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_suppkey").cast("int").as("suppkey"),
            col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .repartition(4)
        Profile.stage("sink_write") { NetCdf.write(li, base) }
        NetCdf.read(s, base)
      },
      Some("""
        SELECT CAST(l_suppkey AS INTEGER) AS suppkey, l_linenumber,
               l_quantity, l_extendedprice
        FROM lineitem
      """.trim)),

    // S5 rank-2 NetCDF, written CDF-2 (64-bit offset): array<double>
    // columns as (row × width) 2-D variables — the per-cycle shape of
    // the reference's ATL11 h_corr (atl06_to_atl11.py:170-196) in its
    // to_netcdf output. Exploded to scalar (pos, val) rows for the
    // driver's hash compare, same as the rank-2 Zarr row.
    Q("s5_netcdf_rank2_roundtrip",
      (s, dir) => {
        val base = freshTmp("netcdf_rank2_store")
        val li = Tables(s, dir, "lineitem")
          // classic CDF has no int64 type (that's CDF-5), and orderkey
          // outgrows NC_INT past sf~0.5 (sf1 keys reach ~3e9) — ride it
          // as NC_DOUBLE, exact for any key below 2^53
          .select(col("l_orderkey").cast("double").as("orderkey"),
            col("l_linenumber"),
            array(col("l_quantity"), col("l_discount"), col("l_tax"))
              .as("h_corr"))
          .repartition(4)
        Profile.stage("sink_write") { NetCdf.write(li, base, version = 2) }
        NetCdf.read(s, base)
          .select(col("orderkey"), col("l_linenumber"),
            posexplode(col("h_corr")).as(Seq("pos", "val")))
      },
      Some("""
        SELECT CAST(l_orderkey AS DOUBLE) AS orderkey, l_linenumber, p.pos,
               CASE p.pos WHEN 0 THEN l_quantity
                          WHEN 1 THEN l_discount
                          ELSE l_tax END AS val
        FROM lineitem, (VALUES (0), (1), (2)) AS p(pos)
      """.trim)),

    // S10 HTTP download + local cache: the reference's catalog
    // declares simplecache:: urlpaths and every granule open goes
    // through the on-disk cache (atlas_catalog.yaml:9-18,
    // atl06_play.py:128-137). Same shape here: catalog-style URLs →
    // CachedFetch (download-on-miss, hit = local open) → DataFrames.
    // The oracle reads the SAME tables directly, so a cache that
    // corrupted, truncated, or cross-wired its entries fails the
    // hash. Second bench/verify run exercises the hit path.
    Q("s10_cached_fetch",
      (s, dir) => {
        val cache = tmp("url_cache")
        val urls = Seq("nation", "region")
          .map(t => s"simplecache::file://$dir/$t.parquet")
        val paths = graft.sources.CachedFetch
          .resolveAll(urls, cache).map(_.toString)
        val n = s.read.parquet(paths(0))
        val r = s.read.parquet(paths(1))
        n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
      },
      Some("""
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
      """.trim)),

    // S11 REST-style JSON source: a records payload with a nested
    // array (the OpenAltimetry shape, atl06_play.py:498-531) written
    // driver-side, read with spark.read.json, exploded and normalized.
    Q("s11_json_records",
      (s, dir) => {
        val regions = Tables(s, dir, "region").collect()
          .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
        val payload = regions.map { case (k, name) =>
          val series = (1 to 3).map(i => s"""{"t":$i,"v":${k * 10 + i}}""").mkString(",")
          s"""{"region":$k,"name":"$name","data":[$series]}"""
        }.mkString("\n")
        val path = tmp("json_records") + ".json"
        Files.write(Paths.get(path), payload.getBytes(StandardCharsets.UTF_8))
        s.read.json(path)
          .select(col("region"), col("name"), explode(col("data")).as("d"))
          .select(col("region"), col("name"), col("d.t").as("t"), col("d.v").as("v"))
      },
      Some("""
        SELECT r.r_regionkey AS region, r.r_name AS name, u.i AS t,
               r.r_regionkey * 10 + u.i AS v
        FROM region r, LATERAL unnest(generate_series(1, 3)) u(i)
      """.trim)),

    // S12 JSONL corpus round trip: gzip-compressed JSON Lines is the
    // lingua-franca interchange format of LLM training corpora — the
    // documents table writes out as .json.gz shards and reads back
    // under the declared schema (schema-on-read, no inference pass
    // over 100 TB). All columns are exact types (longs + strings), so
    // the hash gate pins JSON escaping/encoding round-trip fidelity.
    Q("s12_jsonl_roundtrip",
      (s, dir) => {
        val base = tmp("jsonl")
        Tables(s, dir, "documents")
          .write.mode("overwrite").option("compression", "gzip").json(base)
        s.read.schema(graft.Tables.schemas("documents")).json(base)
          .select("doc_id", "text", "lang", "source", "n_chars")
      },
      Some("""
        SELECT doc_id, text, lang, source, n_chars FROM documents
      """.trim))
  )
}
