package graft.sources.zarr

import java.nio.ByteOrder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.Deflater

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sources.ArraySink
import ZarrMeta.{ArrayMeta, Compressor}

/** Zarr v2 on the shared [[graft.sources.ArraySink]]: the whole
  * DataFrame is one store, each numeric column one C-order array,
  * rank 1 for scalars and rank 2 for `array<numeric>` columns (the
  * shape the reference's ATL11 stores carry for per-cycle variables
  * like h_corr, atl06_to_atl11.py:170-196, 206-217). Zarr has no null
  * mask: null cells and elements keep the fill_value, 0.
  *
  * Zarr's chunk grid is GLOBAL, so a row's chunk is a function of its
  * global position, which Spark partitions don't know. The write is
  * therefore two passes over the persisted input:
  *   1. one aggregate gives per-partition row counts (each
  *      partition's global offset) and each array column's width range
  *      (the trailing dim is part of the .zarray shape, so ragged
  *      arrays fail here);
  *   2. rows are tagged with their global index, hash-repartitioned by
  *      chunk and sorted within partitions on (chunk, index), one
  *      Tungsten exchange + radix sort, the rechunk dask's to_zarr
  *      pays. Each task then streams its sorted run and writes a chunk
  *      the moment its last row arrives, so peak task state is one
  *      chunk per column.
  *
  * Row order in the store = the DataFrame's partition-major row order
  * (what a coalesce(1) write would produce).
  */
object ZarrSink {

  private val Types: Map[DataType, String] = Map(DoubleType -> "<f8",
    FloatType -> "<f4", LongType -> "<i8", IntegerType -> "<i4",
    ShortType -> "<i2", ByteType -> "|i1")

  /** `codec`: "zlib" (any zarr reader), "blosc" (blosc-lz4 +
    * byte-shuffle — byte-compatible with what the reference's
    * `to_zarr` default writes), or "none". `level` is the zlib level
    * or blosc clevel.
    */
  def write(df: DataFrame, dir: String, chunkRows: Int = 65536,
      level: Int = 6, codec: String = "zlib"): Unit = {
    require(codec == "zlib" || codec == "blosc" || codec == "none",
      s"codec '$codec' unsupported (zlib/blosc/none)")
    val sink = ArraySink(df, dir, "Zarr", Types, zeroNulls = true)
    val schema = df.schema
    val names = schema.fieldNames
    val spark = df.sparkSession

    // persisted across the two passes: pass 2 must see the exact rows
    // and order pass 1 counted, even over a nondeterministic upstream.
    // MEMORY_AND_DISK spills rather than evicts
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import org.apache.spark.sql.functions.{col => fcol, _}
      val arrIdx = schema.fields.indices.filter(c =>
        schema(c).dataType.isInstanceOf[ArrayType])
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

      // the driver writes the store skeleton: .zgroup, and .zarray +
      // .zattrs per column
      def text(p: Path, s: String): Unit = sink.promote(p, s.getBytes(UTF_8))
      text(new Path(dir, ".zgroup"), ZarrMeta.ZGroup)
      val metas = names.indices.map { c =>
        val meta = ArrayMeta(
          shape = widths.get(c).fold(Seq(totalRows))(w => Seq(totalRows, w)),
          chunks = widths.get(c).fold(Seq(chunkRows))(w => Seq(chunkRows, w)),
          dtype = sink.codes(c),
          compressor = codec match {
            case "blosc" => Some(Compressor("blosc", level, "lz4", 1))
            case "zlib" if level > 0 => Some(Compressor("zlib", level))
            case _ => None
          },
          fillValue = 0.0, order = "C", dimSeparator = ".")
        val ap = new Path(dir, names(c))
        text(new Path(ap, ".zarray"), ZarrMeta.emit(meta))
        // xarray needs _ARRAY_DIMENSIONS to open the array at all
        text(new Path(ap, ".zattrs"), ZarrMeta.zattrs(names(c), meta.rank))
        names(c) -> meta
      }
      // consolidated metadata, like the reference's
      // to_zarr(consolidated=True): readers resolve every array from
      // one file open instead of a listing per array
      text(new Path(dir, ".zmetadata"), ZarrMeta.emitConsolidated(metas))
      if (totalRows == 0) return

      val nChunks = ((totalRows + chunkRows - 1) / chunkRows).toInt
      val parts = math.min(nChunks,
        spark.sessionState.conf.numShufflePartitions)
      // pass 2: the global row index derives from
      // monotonically_increasing_id(), which over the cached layout
      // encodes (partitionId << 33 | row-in-partition), the exact
      // coordinates pass 1 counted. The one hole is executor loss
      // between passes, where lost partitions recompute from lineage
      // and a NONDETERMINISTIC upstream could shift coordinates; the
      // writer below therefore checks each chunk receives exactly its
      // contiguous gid run and fails the job instead of silently
      // misplacing rows.
      val mid = monotonically_increasing_id()
      val gidCol = element_at(typedLit(offsets.toSeq),
        (shiftrightunsigned(mid, 33) + 1).cast("int")) +
        mid.bitwiseAND(lit((1L << 33) - 1))
      val gi = schema.length     // appended column positions
      val ci = schema.length + 1
      val fixed = Array.tabulate(names.length)(c => widths.getOrElse(c, -1))
      val sorted = cached
        .withColumn("_gid", gidCol)
        .withColumn("_chunk", expr(s"_gid div $chunkRows").cast("int"))
        .repartition(parts, fcol("_chunk"))
        .sortWithinPartitions(fcol("_chunk"), fcol("_gid"))
      sink.foreachPartition(sorted) { it =>
        var chunk = -1
        var cells: ArraySink.Collector = null
        // gid-contiguity guard: chunk k must see exactly the run
        // [k*chunkRows, min((k+1)*chunkRows, totalRows)) in sorted order
        var expectGid = -1L
        def flush(): Unit = if (chunk >= 0) {
          val chunkEnd = math.min((chunk + 1L) * chunkRows, totalRows)
          require(expectGid == chunkEnd,
            s"chunk $chunk ended at gid $expectGid, want $chunkEnd — " +
              "cached layout changed between passes (executor loss over " +
              "a nondeterministic upstream?); aborting instead of " +
              "writing misplaced rows")
          val data = cells.result()
          names.indices.foreach { c =>
            val (values, width) = ArraySink.column(data.cols(c))
            // an edge chunk is padded to the full chunk shape
            val raw = ArraySink.bytes(values, ByteOrder.LITTLE_ENDIAN,
              chunkRows * width.getOrElse(1))
            val bytes = codec match {
              case "blosc" =>
                Blosc.compress(raw, ArraySink.elemSize(values), "lz4", level, shuffle = true)
              case "zlib" if level > 0 => deflate(raw, level)
              case _ => raw
            }
            // rank-2 chunks span the full trailing dim, so their grid
            // index there is always 0
            val fname = if (width.isDefined) s"$chunk.0" else chunk.toString
            sink.promote(new Path(new Path(dir, names(c)), fname), bytes)
          }
          chunk = -1
        }
        it.foreach { row =>
          val ch = row.getInt(ci)
          val gid = row.getLong(gi)
          if (ch != chunk) {
            flush()
            chunk = ch
            expectGid = ch.toLong * chunkRows
            cells = sink.collector(fixed, chunkRows)
          }
          require(gid == expectGid,
            s"chunk $ch: got gid $gid, want $expectGid — cached layout " +
              "changed between passes; aborting instead of writing " +
              "misplaced rows")
          expectGid += 1
          cells.add(row)
        }
        flush()
      }
    } finally cached.unpersist(false)
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
}
