package graft.sources.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Deflater

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import ZarrMeta.{ArrayMeta, Compressor}

/** Distributed Zarr v2 sink: each numeric column becomes one rank-1
  * C-order array (zlib or blosc-lz4 chunks), the whole DataFrame one
  * store — the
  * write-side of S5, literally this time (the reference materializes
  * its campaign data as ATL11 Zarr stores,
  * /root/reference/atl06_to_atl11.py:206-217).
  *
  * Zarr's chunk grid is GLOBAL, so a row's chunk is a function of its
  * global position — which Spark partitions don't know. The write is
  * therefore two passes, both over the cluster:
  *   1. per-partition row counts (count-only job over the persisted
  *      input, no data moved) give each partition its global offset;
  *   2. rows are tagged with their global index, hash-repartitioned
  *      by chunk and sorted within partitions on (chunk, index) — one
  *      Tungsten UnsafeRow exchange + radix sort, the same rechunk
  *      dask's to_zarr pays — then each task STREAMS its sorted run,
  *      encoding and writing a chunk file the moment its last row
  *      arrives (peak task state = one chunk per column, never the
  *      whole task input). Every chunk is written exactly once,
  *      through the Hadoop FS with temp+rename promote, so the shape
  *      holds for a 10^9-row store on S3A exactly as it does locally —
  *      no driver collect anywhere.
  *
  * Row order in the store = the DataFrame's partition-major row order
  * (what a coalesce(1) write would produce). Null cells keep the
  * array's fill_value (0) — Zarr has no null mask.
  */
object ZarrSink {

  private def dtypeOf(t: DataType): Option[String] = t match {
    case DoubleType  => Some("<f8")
    case FloatType   => Some("<f4")
    case LongType    => Some("<i8")
    case IntegerType => Some("<i4")
    case ShortType   => Some("<i2")
    case ByteType    => Some("|i1")
    case _           => None
  }

  /** Element type: the column itself for scalars, the element for an
    * `array<numeric>` column (written as a rank-2 array — the shape
    * the reference's ATL11 stores carry for per-cycle variables like
    * h_corr, /root/reference/atl06_to_atl11.py:170-196).
    */
  private def elemTypeOf(t: DataType): DataType = t match {
    case ArrayType(e, _) => e
    case other => other
  }

  /** `codec`: "zlib" (any zarr reader), "blosc" (blosc-lz4 +
    * byte-shuffle — byte-compatible with what the reference's
    * `to_zarr` default writes), or "none". `level` is the zlib level
    * or blosc clevel.
    */
  def write(df: DataFrame, dir: String, chunkRows: Int = 65536,
      level: Int = 6, codec: String = "zlib"): Unit = {
    require(codec == "zlib" || codec == "blosc" || codec == "none",
      s"codec '$codec' unsupported (zlib/blosc/none)")
    val schema = df.schema
    schema.fields.foreach { f =>
      require(dtypeOf(elemTypeOf(f.dataType)).nonEmpty,
        s"${f.name}: ${f.dataType} unsupported " +
          "(numeric scalars or array<numeric> only)")
    }
    val names = schema.fields.map(_.name)
    val types = schema.fields.map(_.dataType)
    val isArr = types.map { case _: ArrayType => true; case _ => false }
    val spark = df.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val sessionConf = new SerializableConfiguration(hadoopConf)

    // persisted across the two passes: pass 2 must see the exact rows
    // and order pass 1 counted, even over a nondeterministic upstream.
    // The DATAFRAME is cached (compressed columnar batches, spill not
    // eviction) and both passes run over the one materialized layout
    // as DataFrame jobs — no Row conversion, no Java-serialized RDD
    // shuffle anywhere in the sink
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import org.apache.spark.sql.functions.{col => fcol, _}
      // pass 1 (one aggregate over the cache): per-partition row
      // counts for the global offsets, and each array column's
      // width — Zarr's trailing dim is part of the .zarray shape, so
      // ragged arrays must fail here with a clear error, not corrupt
      // the chunk grid
      val arrIdx = isArr.zipWithIndex.collect { case (true, i) => i }
      val aggs = Seq(count(lit(1)).as("_n")) ++ arrIdx.flatMap(c => Seq(
        min(size(fcol(names(c)))).as(s"_wmin$c"),
        max(size(fcol(names(c)))).as(s"_wmax$c")))
      val statRows = cached
        .groupBy(spark_partition_id().as("_pid"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().sortBy(_.getInt(0))
      val widths: Map[Int, Int] = arrIdx.map { c =>
        val mins = statRows.flatMap(r =>
          Option(r.getAs[Any](s"_wmin$c")).map(_.asInstanceOf[Int]))
        val maxs = statRows.flatMap(r =>
          Option(r.getAs[Any](s"_wmax$c")).map(_.asInstanceOf[Int]))
        require(maxs.nonEmpty,
          s"${names(c)}: all-null array column, rank-2 width unknowable")
        require(mins.min == maxs.max,
          s"${names(c)}: ragged array widths [${mins.min}, ${maxs.max}] — " +
            "a Zarr rank-2 array needs one fixed trailing dim")
        c -> maxs.max
      }.toMap
      // counts indexed by partition id; zero-row partitions emit no
      // group and contribute 0
      val maxPid = statRows.lastOption.map(_.getInt(0)).getOrElse(-1)
      val counts = Array.fill(maxPid + 1)(0L)
      statRows.foreach(r => counts(r.getInt(0)) = r.getAs[Long]("_n"))
      val offsets = counts.scanLeft(0L)(_ + _)
      val totalRows = offsets.last

      // driver writes the store skeleton: .zgroup + .zarray per column
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(hadoopConf)
      fs.mkdirs(dirPath)
      writeText(fs, new Path(dirPath, ".zgroup"), ZarrMeta.ZGroup)
      val metas = names.zip(types).zipWithIndex.map { case ((n, t), c) =>
        val meta = ArrayMeta(
          shape = widths.get(c).fold(Seq(totalRows))(w => Seq(totalRows, w)),
          chunks = widths.get(c).fold(Seq(chunkRows))(w => Seq(chunkRows, w)),
          dtype = dtypeOf(elemTypeOf(t)).get,
          compressor = codec match {
            case "blosc" => Some(Compressor("blosc", level, "lz4", 1))
            case "zlib" if level > 0 => Some(Compressor("zlib", level))
            case _ => None
          },
          fillValue = 0.0, order = "C", dimSeparator = ".")
        val ap = new Path(dirPath, n)
        fs.mkdirs(ap)
        writeText(fs, new Path(ap, ".zarray"), ZarrMeta.emit(meta))
        // xarray needs _ARRAY_DIMENSIONS to open the array at all
        writeText(fs, new Path(ap, ".zattrs"), ZarrMeta.zattrs(n, meta.rank))
        n -> meta
      }
      // consolidated metadata, like the reference's
      // to_zarr(consolidated=True): readers resolve every array from
      // one file open instead of a listing per array
      writeText(fs, new Path(dirPath, ".zmetadata"),
        ZarrMeta.emitConsolidated(metas.toSeq))
      if (totalRows == 0) return

      val nChunks = ((totalRows + chunkRows - 1) / chunkRows).toInt
      val parts = math.min(nChunks,
        spark.sessionState.conf.numShufflePartitions)
      // pass 2, DataFrame-native: the global row index derives from
      // monotonically_increasing_id(), which over the cached layout
      // encodes (partitionId << 33 | row-in-partition) — the exact
      // coordinates pass 1 counted. MEMORY_AND_DISK spills rather
      // than evicts, so under normal operation the layout is pinned;
      // the one hole is executor loss between passes, where lost
      // partitions recompute from lineage and a NONDETERMINISTIC
      // upstream could shift coordinates. The writer below therefore
      // asserts each chunk receives exactly its contiguous gid run
      // and fails the job instead of silently misplacing rows. The
      // grid-alignment shuffle and the per-partition (chunk, gid)
      // sort run as Tungsten exchange + radix sort over UnsafeRows.
      val mid = monotonically_increasing_id()
      val gidCol = element_at(typedLit(offsets.toSeq),
        (shiftrightunsigned(mid, 33) + 1).cast("int")) +
        mid.bitwiseAND(lit((1L << 33) - 1))
      val gi = schema.length     // appended column positions
      val ci = schema.length + 1
      cached
        .withColumn("_gid", gidCol)
        .withColumn("_chunk", expr(s"_gid div $chunkRows").cast("int"))
        .repartition(parts, fcol("_chunk"))
        .sortWithinPartitions(fcol("_chunk"), fcol("_gid"))
        .foreachPartition { (it: Iterator[Row]) =>
          val conf = sessionConf.value
          var chunk = -1
          var buf: Array[ByteBuffer] = null
          // gid-contiguity guard: each chunk must see exactly the run
          // [chunk*chunkRows, min((chunk+1)*chunkRows, totalRows)) in
          // sorted order — any recompute-after-executor-loss drift in
          // the cached layout fails here instead of writing rows into
          // wrong chunk slots
          var expectGid = -1L
          val rowBytes = types.indices.map(c =>
            elemTypeOf(types(c)).defaultSize * widths.getOrElse(c, 1))
          def flush(): Unit = if (chunk >= 0) {
            val chunkEnd =
              math.min((chunk + 1L) * chunkRows, totalRows)
            require(expectGid == chunkEnd,
              s"chunk $chunk ended at gid $expectGid, want $chunkEnd — " +
                "cached layout changed between passes (executor loss over " +
                "a nondeterministic upstream?); aborting instead of " +
                "writing misplaced rows")
            names.indices.foreach { c =>
              val raw = buf(c).array()
              val bytes = codec match {
                case "blosc" =>
                  Blosc.compress(raw, elemTypeOf(types(c)).defaultSize,
                    "lz4", level, shuffle = true)
                case "zlib" if level > 0 => deflate(raw, level)
                case _ => raw
              }
              // rank-2 chunk files are named "ci.cj"; the trailing
              // grid index is always 0 (chunks span the full width)
              val fname =
                if (widths.contains(c)) s"$chunk.0" else chunk.toString
              writeAtomic(conf, new Path(new Path(dir, names(c)), fname), bytes)
            }
            chunk = -1
          }
          // rank-2 chunk files span the FULL trailing dim (Zarr chunks
          // are never split along it here: chunks = (chunkRows, w))
          it.foreach { row =>
            val ch = row.getInt(ci)
            val gid = row.getLong(gi)
            if (ch != chunk) {
              flush()
              chunk = ch
              expectGid = ch.toLong * chunkRows
              buf = types.indices.map(c => ByteBuffer
                .allocate(chunkRows * rowBytes(c))
                .order(ByteOrder.LITTLE_ENDIAN)).toArray
            }
            require(gid == expectGid,
              s"chunk $ch: got gid $gid, want $expectGid — cached layout " +
                "changed between passes; aborting instead of writing " +
                "misplaced rows")
            expectGid += 1
            val inChunk = (gid - ch.toLong * chunkRows).toInt
            var c = 0
            while (c < types.length) {
              if (!row.isNullAt(c)) types(c) match {
                case ArrayType(et, _) =>
                  putArrayCell(buf(c), et, inChunk * rowBytes(c),
                    widths(c), row.getSeq[Any](c), names(c))
                case t => putCell(buf(c), t, inChunk, row, c)
              }
              c += 1
            }
          }
          flush()
        } // foreachPartition is the write action
    } finally cached.unpersist(false)
  }

  /** One array cell = one rank-2 row: `w` elements at `base`; null
    * elements keep the fill (0), like null scalar cells.
    */
  private def putArrayCell(bb: ByteBuffer, et: DataType, base: Int,
      w: Int, vals: Seq[Any], name: String): Unit = {
    require(vals.length == w,
      s"$name: array length ${vals.length} != declared width $w")
    val es = et.defaultSize
    var j = 0
    while (j < w) {
      val v = vals(j)
      if (v != null) et match {
        case DoubleType  => bb.putDouble(base + j * es, v.asInstanceOf[Double])
        case FloatType   => bb.putFloat(base + j * es, v.asInstanceOf[Float])
        case LongType    => bb.putLong(base + j * es, v.asInstanceOf[Long])
        case IntegerType => bb.putInt(base + j * es, v.asInstanceOf[Int])
        case ShortType   => bb.putShort(base + j * es, v.asInstanceOf[Short])
        case ByteType    => bb.put(base + j * es, v.asInstanceOf[Byte])
        case other => throw new IllegalArgumentException(s"$other")
      }
      j += 1
    }
  }

  private def putCell(bb: ByteBuffer, t: DataType, inChunk: Int,
      row: Row, c: Int): Unit = {
    val pos = inChunk * t.defaultSize
    t match {
      case DoubleType  => bb.putDouble(pos, row.getDouble(c))
      case FloatType   => bb.putFloat(pos, row.getFloat(c))
      case LongType    => bb.putLong(pos, row.getLong(c))
      case IntegerType => bb.putInt(pos, row.getInt(c))
      case ShortType   => bb.putShort(pos, row.getShort(c))
      case ByteType    => bb.put(pos, row.getByte(c))
      case other => throw new IllegalArgumentException(s"$other")
    }
  }

  private def writeAtomic(conf: org.apache.hadoop.conf.Configuration,
      target: Path, bytes: Array[Byte]): Unit = {
    val fs = target.getFileSystem(conf)
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.part")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"cannot promote $tmp to $target")
    }
  }

  private def deflate(raw: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](math.max(1024, raw.length / 2))
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }

  private def writeText(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }
}
