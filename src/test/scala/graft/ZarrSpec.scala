package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.{Deflater, GZIPOutputStream}

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.zarr.{ZarrMeta, ZarrSink, ZarrStore}

/** Zarr v2 source/sink (SURVEY §2.1 S5, closed literally): the
  * sink→source round trip is oracle-gated in s5_zarr_roundtrip; this
  * spec covers the FOREIGN-store surface a round trip cannot see —
  * hand-authored stores with rank-2 arrays, big-endian dtypes, gzip
  * chunks, missing chunk files (fill semantics), non-aligned edge
  * chunks — plus the scan-planning contracts (chunk-range splits,
  * array pruning, `_index` positions).
  */
class ZarrSpec extends SparkSpec {

  private def writeChunk(dir: String, name: String, bytes: Array[Byte],
      comp: String): Unit = {
    val out = comp match {
      case "zlib" =>
        val d = new Deflater(6); d.setInput(bytes); d.finish()
        val buf = new Array[Byte](bytes.length + 64)
        val bo = new ByteArrayOutputStream()
        while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
        d.end(); bo.toByteArray
      case "gzip" =>
        val bo = new ByteArrayOutputStream()
        val gz = new GZIPOutputStream(bo)
        gz.write(bytes); gz.close(); bo.toByteArray
      case _ => bytes
    }
    val f = new FileOutputStream(s"$dir/$name")
    try f.write(out) finally f.close()
  }

  private def newStore(): String =
    Files.createTempDirectory("graft_zarr").toString

  test("sink→source round trip preserves values, order and types") {
    val dir = s"${newStore()}/store"
    import spark.implicits._
    val df = spark.range(0, 1000).select(
      col("id").as("k"),
      (col("id") * 2).cast("int").as("i"),
      (col("id").cast("double") / 8.0).as("x"),
      (col("id") % 100).cast("short").as("s"))
    ZarrSink.write(df, dir, chunkRows = 128)
    val back = spark.read.format("zarr").load(dir)
    assert(back.schema.fieldNames.toSeq ===
      Seq("_store", "_index", "i", "k", "s", "x")) // arrays sorted
    assert(back.count() === 1000)
    // _index equals k by construction (single ordered input partition
    // ordering is not guaranteed after repartition, so compare as sets
    // keyed by k)
    val got = back.select("k", "i", "x", "s").as[(Long, Int, Double, Short)]
      .collect().sortBy(_._1)
    assert(got.length === 1000)
    got.zipWithIndex.foreach { case ((k, i, x, s), idx) =>
      assert(k === idx.toLong)
      assert(i === idx * 2)
      assert(x === idx / 8.0)
      assert(s === (idx % 100).toShort)
    }
  }

  test("blosc round trip: the numcodecs-default compressor the " +
    "reference's stores carry") {
    val dir = s"${newStore()}/store"
    import spark.implicits._
    val df = spark.range(0, 20000).select(
      col("id").as("k"),
      (col("id").cast("double") * 1.5 + 0.25).as("x"),
      (col("id") % 7).cast("int").as("i"))
    ZarrSink.write(df, dir, chunkRows = 4096, level = 5, codec = "blosc")
    // .zarray declares the numcodecs-style blosc object
    val meta = ZarrStore.readMeta(dir, "x", spark.sessionState.newHadoopConf())
    val c = meta.compressor.get
    assert(c.id === "blosc" && c.cname === "lz4" && c.shuffle === 1)
    // chunks on disk really are compressed blosc frames, not raw
    val chunk0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "x", "0"))
    assert(chunk0.length < 4096 * 8, "blosc-lz4 should beat raw")
    assert((chunk0(2) & 0x1) != 0, "byte-shuffle flag set in the frame")
    val back = spark.read.format("zarr").load(dir)
      .select("k", "x", "i").as[(Long, Double, Int)]
      .collect().sortBy(_._1)
    assert(back.length === 20000)
    back.zipWithIndex.foreach { case ((k, x, i), idx) =>
      assert(k === idx.toLong && x === idx * 1.5 + 0.25 && i === idx % 7)
    }
  }

  test("consolidated store: .zmetadata alone resolves arrays " +
    "(per-array .zarray files deleted)") {
    val dir = s"${newStore()}/store"
    val df = spark.range(0, 500).select(
      col("id").as("k"), (col("id").cast("double") / 4.0).as("v"))
    ZarrSink.write(df, dir, chunkRows = 128)
    // the sink wrote consolidated metadata, like to_zarr(consolidated=True)
    val zmeta = java.nio.file.Paths.get(dir, ".zmetadata")
    assert(java.nio.file.Files.exists(zmeta))
    val conf = spark.sessionState.newHadoopConf()
    val all = ZarrStore.consolidated(dir, conf).get
    assert(all.keySet === Set("k", "v"))
    // xarray interop: every array carries _ARRAY_DIMENSIONS, both as a
    // .zattrs file and inside the consolidated metadata
    val attrs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "v", ".zattrs")), "UTF-8")
    assert(attrs.contains("_ARRAY_DIMENSIONS") && attrs.contains("index"))
    val zm = new String(java.nio.file.Files.readAllBytes(zmeta), "UTF-8")
    assert(zm.contains("v/.zattrs"))
    // remove every per-array .zarray: a reader that ignored
    // .zmetadata can no longer see the store — this one must
    Seq("k", "v").foreach { a =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, a, ".zarray"))
    }
    assert(ZarrStore.listArrays(dir, conf) === Seq("k", "v"))
    val back = spark.read.format("zarr").load(dir)
    assert(back.count() === 500)
    assert(back.agg(sum("v")).first().getDouble(0) ===
      (0 until 500).map(_ / 4.0).sum)
  }

  test("rank-2 write: array<numeric> columns round-trip as 2-D arrays " +
    "(the reference's per-cycle h_corr shape)") {
    val dir = s"${newStore()}/store"
    import spark.implicits._
    val df = spark.range(0, 1000).select(
      col("id").as("k"),
      array((0 until 3).map(j =>
        (col("id") * 10 + j).cast("double")): _*).as("h_corr"),
      array((0 until 3).map(j =>
        (col("id") % 11 + j).cast("int")): _*).as("q"))
    ZarrSink.write(df, dir, chunkRows = 128, level = 5, codec = "blosc")
    val conf = spark.sessionState.newHadoopConf()
    val meta = ZarrStore.readMeta(dir, "h_corr", conf)
    assert(meta.shape === Seq(1000L, 3L) && meta.chunks === Seq(128, 3))
    val back = spark.read.format("zarr").load(dir)
      .select("k", "h_corr", "q").as[(Long, Seq[Double], Seq[Int])]
      .collect().sortBy(_._1)
    assert(back.length === 1000)
    back.foreach { case (k, h, q) =>
      assert(h === (0 until 3).map(j => k * 10.0 + j))
      assert(q === (0 until 3).map(j => (k % 11 + j).toInt))
    }
    // per-array trailing dim names (r10 advisor): two rank-2 arrays
    // must not declare conflicting sizes under one shared dim name or
    // xarray refuses the whole store
    val hAttrs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "h_corr", ".zattrs")), "UTF-8")
    val qAttrs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "q", ".zattrs")), "UTF-8")
    assert(hAttrs.contains("h_corr_dim1") && qAttrs.contains("q_dim1"))
    // null array rows keep fill; null elements too
    val dir2 = s"${newStore()}/store2"
    val df2 = spark.range(0, 10).select(col("id").as("k"),
      when(col("id") % 2 === 0,
        array(col("id").cast("double"), lit(null).cast("double")))
        .as("v"))
    ZarrSink.write(df2, dir2, chunkRows = 4)
    val b2 = spark.read.format("zarr").load(dir2)
      .select("k", "v").as[(Long, Seq[Double])].collect().sortBy(_._1)
    b2.foreach { case (k, v) =>
      if (k % 2 == 0) assert(v === Seq(k.toDouble, 0.0))
      else assert(v === Seq(0.0, 0.0)) // whole-row fill
    }
    // a trailing dim of 1 is still rank 2: one-element array<T> rows
    val dir3 = s"${newStore()}/store3"
    ZarrSink.write(spark.range(0, 10).select(col("id").as("k"),
      array(col("id").cast("double")).as("v")), dir3, chunkRows = 4)
    val b3 = spark.read.format("zarr").load(dir3)
      .select("k", "v").as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(b3.toSeq === (0L until 10L).map(k => (k, Seq(k.toDouble))))
    // ragged widths must fail with a clear error, not corrupt the grid
    val ragged = spark.range(0, 10).select(
      when(col("id") % 2 === 0, array(lit(1.0)))
        .otherwise(array(lit(1.0), lit(2.0))).as("v"))
    val e = intercept[Exception] {
      ZarrSink.write(ragged, s"${newStore()}/bad", chunkRows = 4)
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("edge chunk: non-multiple total keeps exact trailing rows") {
    val dir = s"${newStore()}/store"
    val df = spark.range(0, 777).select(col("id").cast("double").as("v"))
    ZarrSink.write(df, dir, chunkRows = 100)
    val meta = ZarrStore.readMeta(dir, "v",
      spark.sessionState.newHadoopConf())
    assert(meta.shape === Seq(777L))
    assert(meta.grid === Seq(8L))
    val back = spark.read.format("zarr").load(dir)
    assert(back.count() === 777)
    assert(back.agg(sum("v")).first().getDouble(0) === (0 until 777).sum.toDouble)
  }

  test("nested-group store: directory walk and .zmetadata agree on names") {
    val store = newStore()
    // top-level array `top` + array `grp/inner` one group down — the
    // shape xarray writes for grouped datasets. The two listing paths
    // (consolidated vs directory fallback) must surface the SAME
    // slash-path names, or a store would change schema depending on
    // whether .zmetadata exists (r10 advisor finding).
    val metaOf = ZarrMeta.ArrayMeta(
      shape = Seq(4), chunks = Seq(4), dtype = "<i8",
      compressor = None, fillValue = 0.0, order = "C", dimSeparator = ".")
    for (rel <- Seq("top", "grp/inner")) {
      val ad = s"$store/$rel"
      Files.createDirectories(Paths.get(ad))
      Files.writeString(Paths.get(s"$ad/.zarray"), ZarrMeta.emit(metaOf))
      val bb = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 4).foreach(i => bb.putLong(if (rel == "top") i else i * 100L))
      Files.write(Paths.get(s"$ad/0"), bb.array())
    }
    val conf = spark.sessionState.newHadoopConf()
    // 1. no .zmetadata: recursive walk finds the nested array
    val walked = ZarrStore.listArrays(store, conf)
    assert(walked === Seq("grp/inner", "top"))
    // 2. consolidated: same names, same order
    Files.writeString(Paths.get(s"$store/.zmetadata"),
      ZarrMeta.emitConsolidated(Seq(
        "grp/inner" -> metaOf, "top" -> metaOf)))
    assert(ZarrStore.listArrays(store, conf) === walked)
    // 3. the scan surfaces the slash path as a (backtick-quotable)
    // column and decodes the nested chunk bytes
    val back = spark.read.format("zarr").load(store)
      .select(col("_index"), col("`grp/inner`"), col("top"))
      .collect().sortBy(_.getLong(0))
    assert(back.map(_.getLong(1)).toSeq === Seq(0L, 100L, 200L, 300L))
    assert(back.map(_.getLong(2)).toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("foreign store: rank-2 big-endian gzip + missing chunk = fill") {
    val store = newStore()
    // 5x3 >f4 matrix, chunks 2x2 -> grid 3x2; chunk (2,1) omitted
    val ad = s"$store/m"
    Files.createDirectories(Paths.get(ad))
    val meta = ZarrMeta.ArrayMeta(
      shape = Seq(5, 3), chunks = Seq(2, 2), dtype = ">f4",
      compressor = Some(ZarrMeta.Compressor("gzip", 6)),
      fillValue = -1.0, order = "C", dimSeparator = ".")
    Files.writeString(Paths.get(s"$ad/.zarray"), ZarrMeta.emit(meta))
    def chunk(ci: Int, cj: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(2 * 2 * 4).order(ByteOrder.BIG_ENDIAN)
      for (r <- 0 until 2; c <- 0 until 2) {
        val gr = ci * 2 + r; val gc = cj * 2 + c
        bb.putFloat((r * 2 + c) * 4,
          if (gr < 5 && gc < 3) (gr * 10 + gc).toFloat else 99f)
      }
      bb.array()
    }
    for ((ci, cj) <- Seq((0, 0), (0, 1), (1, 0), (1, 1), (2, 0)))
      writeChunk(ad, s"$ci.$cj", chunk(ci, cj), "gzip")
    val back = spark.read.format("zarr").load(store)
      .select("_index", "m").collect().sortBy(_.getLong(0))
    assert(back.length === 5)
    val rows = back.map(_.getSeq[Float](1).toSeq)
    assert(rows(0) === Seq(0f, 1f, 2f))
    assert(rows(3) === Seq(30f, 31f, 32f))
    // row 4 col 2 lives in omitted chunk (2,1) -> fill; cols 0-1 from
    // chunk (2,0) are real
    assert(rows(4) === Seq(40f, 41f, -1f))
  }

  test("foreign store: uint zero-extends and fill_value NaN parses") {
    val store = newStore()
    val ad = s"$store/u"
    Files.createDirectories(Paths.get(ad))
    val meta = ZarrMeta.ArrayMeta(
      shape = Seq(4), chunks = Seq(4), dtype = "<u2",
      compressor = None, fillValue = Double.NaN, order = "C",
      dimSeparator = ".")
    // NaN fill survives the emit→parse loop
    val reparsed = ZarrMeta.parse(ZarrMeta.emit(meta))
    assert(reparsed.fillValue.isNaN)
    Files.writeString(Paths.get(s"$ad/.zarray"), ZarrMeta.emit(meta))
    val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(0, 1, 40000, 65535).zipWithIndex.foreach { case (v, i) =>
      bb.putShort(i * 2, v.toShort)
    }
    writeChunk(ad, "0", bb.array(), "raw")
    val got = spark.read.format("zarr").load(store)
      .select("_index", "u").collect().sortBy(_.getLong(0))
      .map(_.getInt(1))
    assert(got.toSeq === Seq(0, 1, 40000, 65535)) // no sign wrap
  }

  test("scan plans chunk-range splits and prunes unread arrays") {
    val dir = s"${newStore()}/store"
    val df = spark.range(0, 1000).select(
      col("id").cast("double").as("a"), col("id").as("b"))
    ZarrSink.write(df, dir, chunkRows = 100)
    // projection-only plan keeps the scan at top level (an aggregate
    // would wrap it in AdaptiveSparkPlanExec and hide it from collect)
    val q = spark.read.format("zarr").load(dir).select("a")
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty)
    // pruned schema: only `a` (+ no metadata cols requested)
    val readCols = scans.head.scan.readSchema().fieldNames.toSeq
    assert(readCols === Seq("a"))
    // 10 chunks at 100 rows -> one chunk-aligned split block (65536
    // minimum) for this tiny store; the split math itself is covered
    // by splitRows below
    assert(q.agg(sum(col("a"))).first().getDouble(0) ===
      (0L until 1000L).sum.toDouble)
    import graft.sources.zarr.ZarrDataSource
    assert(ZarrDataSource.splitRows(Seq(100)) === 65500L) // 100*655
    assert(ZarrDataSource.splitRows(Seq(100, 128)) % 100 === 0L)
    assert(ZarrDataSource.splitRows(Seq(100, 128)) % 128 === 0L)
    // chunk files for `b` were written but never opened — can't assert
    // open() calls directly; the pruned readSchema above is the
    // contract that the decode reads only projected arrays
  }

  test("_index range pushdown prunes chunk splits at planning time") {
    // splits floor at 64k rows, so the store needs several 64k chunks
    // for pruning to be visible in the partition count
    val dir = s"${newStore()}/store"
    val df = spark.range(0, 262144).select(col("id").cast("double").as("v"))
    ZarrSink.write(df, dir, chunkRows = 65536, level = 1) // 4 chunks
    val all = spark.read.format("zarr").load(dir)
    def scanParts(q: org.apache.spark.sql.DataFrame): Int = {
      q.collect() // finalize AQE
      val scans = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.inputRDD.getNumPartitions
      }
      scans.sum
    }
    val full = scanParts(all.select("v"))
    assert(full === 4, s"expected 4 chunk splits, got $full")
    val pruned = all.filter(col("_index") >= 65536L && col("_index") < 131072L)
    val prunedParts = scanParts(pruned.select("_index", "v"))
    assert(prunedParts === 1,
      s"range filter should plan 1 split, got $prunedParts")
    // semantics preserved: residual filter still applies row-exactly
    val got = pruned.agg(sum("v"), count(lit(1))).first()
    assert(got.getLong(1) === 65536L)
    assert(got.getDouble(0) === (65536L until 131072L).sum.toDouble)

    // _store equality prunes whole stores (the multi-granule analogue
    // of partition pruning)
    val parent = newStore()
    val dfa = spark.range(0, 100).select(col("id").cast("double").as("v"))
    ZarrSink.write(dfa, s"$parent/g1.zarr", chunkRows = 64)
    ZarrSink.write(dfa.select((col("v") + 1000.0).as("v")),
      s"$parent/g2.zarr", chunkRows = 64)
    val multi = spark.read.format("zarr").load(s"$parent/*.zarr")
    val bothParts = scanParts(multi.select("v"))
    val one = multi.filter(col("_store").endsWith("g2.zarr") === false)
    // endsWith doesn't push; use equality on the observed value
    val storeVal = multi.select("_store").distinct().collect()
      .map(_.getString(0)).sorted.head
    val onlyA = multi.filter(col("_store") === storeVal)
    val aParts = scanParts(onlyA.select("v"))
    assert(aParts < bothParts,
      s"store filter should plan fewer splits ($aParts vs $bothParts)")
    assert(onlyA.count() === 100L)
    assert(onlyA.agg(max("v")).first().getDouble(0) === 99.0)
    one.collect() // non-pushable filter still answers correctly
  }

  test("sink null cells land as fill_value zero") {
    val dir = s"${newStore()}/store"
    val df = spark.range(0, 10).select(
      when(col("id") % 2 === 0, col("id").cast("double")).as("v"))
    ZarrSink.write(df, dir, chunkRows = 4)
    val back = spark.read.format("zarr").load(dir)
      .select("_index", "v").collect().sortBy(_.getLong(0))
    back.foreach { r =>
      val idx = r.getLong(0)
      val v = r.getDouble(1)
      assert(v === (if (idx % 2 == 0) idx.toDouble else 0.0))
    }
  }

  test("corrupted .zarray metadata fails cleanly, never sizes an allocation") {
    import graft.sources.zarr.ZarrMeta
    // an attacker-sized chunk extent must be rejected at parse time —
    // chunkElems * elemSize feeds new Array[Byte] in the chunk reader
    intercept[IllegalArgumentException] {
      ZarrMeta.parse("""{"zarr_format":2,"shape":[1000],
        "chunks":[1073741824],"dtype":"<f8","compressor":null,
        "fill_value":0,"order":"C"}""")
    }
    intercept[IllegalArgumentException] {
      ZarrMeta.parse("""{"zarr_format":2,"shape":[-5],
        "chunks":[10],"dtype":"<f8","compressor":null,
        "fill_value":0,"order":"C"}""")
    }
    intercept[IllegalArgumentException] {
      ZarrMeta.parse("""{"zarr_format":2,"shape":[10],
        "chunks":[0],"dtype":"<f8","compressor":null,
        "fill_value":0,"order":"C"}""")
    }
  }
}
