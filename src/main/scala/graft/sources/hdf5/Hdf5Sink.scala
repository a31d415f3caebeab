package graft.sources.hdf5

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Distributed HDF5 sink: one granule FILE per partition, numeric
  * columns as 1-D datasets — and array<numeric> columns as 2-D
  * (record × width) datasets — in a single group: the write-side
  * shape of real ICESat-2 archives (one .h5 per granule; HDF5 files
  * cannot be appended in parallel, so file-per-task is the correct
  * distributed layout, mirroring how the reference's own campaign
  * data arrives as thousands of independent granules). The 2-D shape
  * is the reference's per-cycle layout — ATL11's `h_corr` is
  * (ref_pt × cycle_number) (/root/reference/atl06_to_atl11.py:170-196)
  * — which [[Hdf5DataSource]] already reads back as an array column.
  *
  * Together with [[Hdf5DataSource]] this closes the loop: a frame
  * written here scans back through `.format("hdf5")` with one split
  * per (file, group) — the s5_hdf5_sink_roundtrip oracle hash-matches
  * that round trip. Granules are written through the Hadoop
  * FileSystem API to a hidden `.part` path and renamed into place on
  * success, so (a) on a real cluster the files land on the shared
  * filesystem (HDFS/S3A), not executor-local disk, and (b) a retried
  * or speculative task never exposes a half-written granule to a
  * concurrent reader — the loser of the rename race deletes and
  * re-promotes deterministically identical bytes.
  *
  * Supported column types: double/float/long/int/short/byte scalars
  * (the numeric-telemetry shape of granule groups) and arrays
  * thereof. Array columns must be rectangular (every row the same
  * width, no null cells) — HDF5 dataspaces are dense rectangles, so
  * ragged input is rejected at write time like the NetCDF sink does.
  * Empty partitions write no file.
  */
object Hdf5Sink {

  def write(df: DataFrame, dir: String, group: String = "data",
      deflate: Option[Int] = Some(6), chunkRows: Int = 65536,
      filePrefix: String = "part"): Unit = {
    val schema = df.schema
    schema.fields.foreach { f =>
      require(dtypeOf(f.dataType).nonEmpty,
        s"${f.name}: ${f.dataType} unsupported (numeric scalars/arrays only)")
    }
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    dirPath.getFileSystem(hadoopConf).mkdirs(dirPath)
    // ship the SESSION Hadoop conf to executors — a bare
    // `new Configuration()` there drops session-configured filesystem
    // settings (fs.s3a credentials/endpoints), so executor writes
    // could resolve a different filesystem than the driver's mkdirs
    val conf = new SerializableConfiguration(hadoopConf)
    val names = schema.fields.map(_.name)
    val types = schema.fields.map(f => dtypeOf(f.dataType).get)
    // -1 = scalar column; array columns learn their width from the
    // first row of each partition and enforce it on every later row
    val isArray = schema.fields.map(_.dataType.isInstanceOf[ArrayType])
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val bufs = types.map {
          case "f64" => new scala.collection.mutable.ArrayBuilder.ofDouble
          case "f32" => new scala.collection.mutable.ArrayBuilder.ofFloat
          case "i64" => new scala.collection.mutable.ArrayBuilder.ofLong
          case "i32" => new scala.collection.mutable.ArrayBuilder.ofInt
          case "i16" => new scala.collection.mutable.ArrayBuilder.ofShort
          case _     => new scala.collection.mutable.ArrayBuilder.ofByte
        }
        val widths = Array.fill(types.length)(-1)
        var n = 0
        rows.foreach { r =>
          var c = 0
          while (c < types.length) {
            if (isArray(c)) {
              val vs = r.getSeq[Any](c)
              require(vs != null, s"${names(c)}: null array at record $n")
              if (widths(c) < 0) widths(c) = vs.length
              require(vs.length == widths(c),
                s"${names(c)}: ragged array — record $n has ${vs.length} " +
                  s"elements, expected ${widths(c)} (HDF5 dataspaces are " +
                  "rectangular)")
              vs.foreach { v =>
                require(v != null, s"${names(c)}: null element at record $n")
                appendVal(bufs(c), v)
              }
            } else appendVal(bufs(c), r.get(c))
            c += 1
          }
          n += 1
        }
        val dsets = names.indices.map { c =>
          val (dtype, bytes) = (bufs(c), types(c)) match {
            case (b: scala.collection.mutable.ArrayBuilder.ofDouble, t) => t -> Hdf5Writer.f64Bytes(b.result())
            case (b: scala.collection.mutable.ArrayBuilder.ofFloat, t)  => t -> Hdf5Writer.f32Bytes(b.result())
            case (b: scala.collection.mutable.ArrayBuilder.ofLong, t)   => t -> Hdf5Writer.i64Bytes(b.result())
            case (b: scala.collection.mutable.ArrayBuilder.ofInt, t)    => t -> Hdf5Writer.i32Bytes(b.result())
            case (b: scala.collection.mutable.ArrayBuilder.ofShort, t) =>
              val a = b.result()
              val bb = java.nio.ByteBuffer.allocate(a.length * 2)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              a.foreach(bb.putShort); t -> bb.array()
            case (b: scala.collection.mutable.ArrayBuilder.ofByte, t)   => t -> b.result()
          }
          val dims = if (isArray(c)) Seq(n, widths(c)) else Seq(n)
          // chunk the record dimension only; the trailing width is
          // small by contract (cycles, features), so a chunk is a
          // contiguous run of whole records — the read access pattern
          Hdf5Writer.Dset(names(c), dtype, dims, bytes,
            chunkDims = deflate.map(_ => Seq(math.min(chunkRows, n)) ++
              (if (isArray(c)) Seq(widths(c)) else Nil)),
            deflate = deflate)
        }
        val bytes = Hdf5Writer.fileBytes(Seq(Hdf5Writer.Group(group, dsets)))
        // temp + rename through the Hadoop FS (same atomic-promote
        // shape as CachedFetch): a concurrent reader only ever sees
        // complete granules, and a task retry re-promotes identical
        // bytes instead of truncating a file mid-scan
        val target = new org.apache.hadoop.fs.Path(f"$dir/$filePrefix-$pid%05d.h5")
        val fs = target.getFileSystem(conf.value)
        val tmp = new org.apache.hadoop.fs.Path(target.getParent,
          s".${target.getName}.${java.util.UUID.randomUUID()}.part")
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        if (!fs.rename(tmp, target)) {
          // dest exists from a prior attempt of this deterministic
          // partition: replace it
          fs.delete(target, false)
          if (!fs.rename(tmp, target))
            throw new java.io.IOException(s"Hdf5Sink: cannot promote $tmp to $target")
        }
      }
    }
  }

  private def appendVal(buf: scala.collection.mutable.ArrayBuilder[_], v: Any): Unit = {
    // explicit: asInstanceOf on null unboxes to 0 silently, and a
    // silently-zeroed cell is the worst possible failure mode
    require(v != null, "null value (nulls unsupported; mask upstream)")
    buf match {
      case b: scala.collection.mutable.ArrayBuilder.ofDouble => b += v.asInstanceOf[Double]
      case b: scala.collection.mutable.ArrayBuilder.ofFloat  => b += v.asInstanceOf[Float]
      case b: scala.collection.mutable.ArrayBuilder.ofLong   => b += v.asInstanceOf[Long]
      case b: scala.collection.mutable.ArrayBuilder.ofInt    => b += v.asInstanceOf[Int]
      case b: scala.collection.mutable.ArrayBuilder.ofShort  => b += v.asInstanceOf[Short]
      case b: scala.collection.mutable.ArrayBuilder.ofByte   => b += v.asInstanceOf[Byte]
    }
  }

  private def dtypeOf(t: DataType): Option[String] = t match {
    case DoubleType  => Some("f64")
    case FloatType   => Some("f32")
    case LongType    => Some("i64")
    case IntegerType => Some("i32")
    case ShortType   => Some("i16")
    case ByteType    => Some("i8")
    // array<numeric> → 2-D (record × width) dataset, the reference's
    // per-cycle ATL11 shape; element nulls rejected at write time
    case ArrayType(e, _) if !e.isInstanceOf[ArrayType] => dtypeOf(e)
    case _           => None
  }
}
