package graft.sources.netcdf

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{ArrayScan, ArraySource}
import graft.sources.ArrayScan._

/** Literal NetCDF classic (CDF-1 / CDF-2) sink + source, from the
  * public file format: magic "CDF\x01" / "CDF\x02", big-endian header
  * with dim/gatt/var lists (tags NC_DIMENSION=0x0A, NC_ATTRIBUTE=0x0C,
  * NC_VARIABLE=0x0B), 4-byte-aligned names and data, fixed-size
  * variables laid out sequentially at their `begin` offsets (`begin`
  * is int32 in CDF-1, int64 in CDF-2 — the only layout difference).
  * This closes S5's last literal format: the reference pipeline's
  * array outputs are NetCDF/Zarr/HDF5, and graft writes and reads all
  * three.
  *
  * Scope (same contract as the HDF5/Zarr sinks): numeric scalar
  * columns as 1-D variables over one "row" dimension, array<numeric>
  * columns as 2-D (row × fixed-width) variables — the per-cycle shape
  * the reference's ATL11 files carry for h_corr/delta_time
  * (atl06_to_atl11.py:170-196) — one granule file per partition, the
  * distributed layout a 100-TB export needs (writers never
  * coordinate; readers get one split per granule). Files are plain
  * classic CDF and open in any netCDF tool. Record dimension,
  * attributes, and char/short types are parsed past on read but not
  * written.
  *
  * Ref: reference pipeline writes NetCDF via xarray
  * (atl06_to_atl11.py:306-321, atlxi_dhdt.py:87).
  */
object NetCdf {

  private val NcDimension = 10
  private val NcVariable = 11
  private val NcAttribute = 12

  private def ncType(dt: DataType): Option[(Int, Int)] = dt match {
    case IntegerType => Some((4, 4)) // NC_INT
    case FloatType => Some((5, 4)) // NC_FLOAT
    case DoubleType => Some((6, 8)) // NC_DOUBLE
    case _ => None
  }

  /** Element type: the column itself for scalars, the element for an
    * `array<numeric>` column (written as a 2-D variable).
    */
  private def elemTypeOf(t: DataType): DataType = t match {
    case ArrayType(e, _) => e
    case other => other
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  private def putName(out: ByteArrayOutputStream, name: String): Unit = {
    val b = name.getBytes("UTF-8")
    out.write(ByteBuffer.allocate(4).putInt(b.length).array())
    out.write(b)
    var p = b.length
    while (p % 4 != 0) { out.write(0); p += 1 }
  }

  /** Serialize one granule: all rows of a partition as fixed
    * variables over a single "row" dimension. `widths(c)` = 0 for a
    * 1-D (scalar) variable, else the trailing-dim width of a 2-D
    * variable (its elements arrive as collection.Seq[Any] — Spark hands
    * mutable.ArraySeq, which scala.Seq (= immutable.Seq on 2.13)
    * does NOT match; null elements write
    * 0, the same no-null-mask contract as the Zarr sink).
    * `version` = 1 (CDF-1, int32 begins) or 2 (CDF-2, int64 begins).
    */
  private[graft] def granuleBytes(
      names: Array[String], types: Array[(Int, Int)], widths: Array[Int],
      cols: Array[Array[Any]], n: Int, version: Int = 1): Array[Byte] = {
    require(version == 1 || version == 2, s"CDF-$version unsupported")
    val head = new ByteArrayOutputStream()
    head.write(Array[Byte]('C', 'D', 'F', version.toByte))
    def i4(v: Int): Unit = head.write(ByteBuffer.allocate(4).putInt(v).array())
    def begin8(v: Long): Unit =
      if (version == 2) head.write(ByteBuffer.allocate(8).putLong(v).array())
      else i4(v.toInt)
    i4(0) // numrecs
    // dim 0 = shared "row"; one extra trailing dim per 2-D column,
    // named per-array (never shared — two arrays of different widths
    // must not fight over one dim name)
    val arrCols = widths.zipWithIndex.collect { case (w, c) if w > 0 => c }
    val dimIdOf = arrCols.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    i4(NcDimension); i4(1 + arrCols.length)
    putName(head, "row"); i4(n)
    arrCols.foreach { c => putName(head, s"${names(c)}_dim"); i4(widths(c)) }
    i4(0); i4(0) // gatt_list ABSENT
    i4(NcVariable); i4(names.length)
    // compute header size first with a dry pass
    def varEntrySize(c: Int): Int =
      4 + pad4(names(c).getBytes("UTF-8").length) + // name
        4 + 4 * (if (widths(c) > 0) 2 else 1) + // ndims + dimids
        4 + 4 + // vatt ABSENT
        4 + 4 + (if (version == 2) 8 else 4) // nc_type + vsize + begin
    val fixedPrefix = head.size()
    val headerSize = fixedPrefix + names.indices.map(varEntrySize).sum
    def rowElems(c: Int): Int = math.max(widths(c), 1)
    var begin = headerSize.toLong
    val begins = types.indices.map { c =>
      val b = begin
      begin += pad4(n * rowElems(c) * types(c)._2)
      b
    }
    require(version == 2 || begin <= Int.MaxValue,
      s"${begin}B granule needs CDF-2 (pass version = 2)")
    names.indices.foreach { c =>
      putName(head, names(c))
      if (widths(c) > 0) { i4(2); i4(0); i4(dimIdOf(c)) } // row × name_dim
      else { i4(1); i4(0) } // ndims, dimid 0 ("row")
      i4(0); i4(0) // vatt_list ABSENT
      i4(types(c)._1)
      i4(pad4(n * rowElems(c) * types(c)._2))
      begin8(begins(c))
    }
    val out = ByteBuffer.allocate(begin.toInt)
    out.put(head.toByteArray)
    names.indices.foreach { c =>
      val (t, sz) = types(c)
      val col = cols(c)
      def putElem(v: Any): Unit = t match {
        case 4 => out.putInt(if (v == null) 0 else v.asInstanceOf[Int])
        case 5 => out.putFloat(if (v == null) 0f else v.asInstanceOf[Float])
        case 6 => out.putDouble(if (v == null) 0d else v.asInstanceOf[Double])
      }
      var r = 0
      while (r < n) {
        if (widths(c) > 0) {
          val cell = col(r)
          if (cell == null) (0 until widths(c)).foreach(_ => putElem(null))
          else {
            val vals = cell.asInstanceOf[scala.collection.Seq[Any]]
            require(vals.length == widths(c),
              s"${names(c)}: array length ${vals.length} != width ${widths(c)}")
            vals.foreach(putElem)
          }
        } else putElem(col(r))
        r += 1
      }
      var p = n * rowElems(c) * sz
      while (p % 4 != 0) { out.put(0: Byte); p += 1 }
    }
    out.array()
  }

  /** One .nc granule per non-empty partition under `dir`.
    * `version` = 1 writes CDF-1 (int32 offsets, <2 GiB granules);
    * 2 writes CDF-2 (64-bit offsets, the NETCDF3_64BIT flavour).
    * array<numeric> columns become 2-D variables; their width is
    * taken from the partition's first non-null cell and every cell
    * must match (a classic-CDF dim is fixed — ragged input must fail
    * loudly, not corrupt the layout).
    */
  def write(df: DataFrame, dir: String, filePrefix: String = "part",
      version: Int = 1): Unit = {
    require(version == 1 || version == 2,
      s"CDF-$version unsupported (1 = classic, 2 = 64-bit offset)")
    val schema = df.schema
    schema.fields.foreach(f => require(ncType(elemTypeOf(f.dataType)).nonEmpty,
      s"${f.name}: ${f.dataType} unsupported " +
        "(int/float/double scalars or arrays only)"))
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    dirPath.getFileSystem(hadoopConf).mkdirs(dirPath)
    val conf = new SerializableConfiguration(hadoopConf)
    val names = schema.fields.map(_.name)
    val types = schema.fields.map(f => ncType(elemTypeOf(f.dataType)).get)
    val isArr = schema.fields.map(_.dataType match {
      case _: ArrayType => true; case _ => false
    })
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        rows.foreach(buf += _)
        val n = buf.length
        val cols = Array.tabulate[Array[Any]](names.length) { c =>
          Array.tabulate[Any](n)(r => buf(r).get(c))
        }
        val widths = Array.tabulate(names.length) { c =>
          if (!isArr(c)) 0
          else cols(c).collectFirst { case s: scala.collection.Seq[_] => s.length }.getOrElse(
            throw new IllegalArgumentException(
              s"${names(c)}: all-null array column in partition $pid, " +
                "2-D width unknowable"))
        }
        val bytes = granuleBytes(names, types, widths, cols, n, version)
        val p = new org.apache.hadoop.fs.Path(dir, f"$filePrefix-$pid%05d.nc")
        val fs = p.getFileSystem(conf.value)
        val os = fs.create(p, true)
        try os.write(bytes) finally os.close()
      }
    }
  }

  /** Parsed granule header: (names, ncTypes, begins, widths, n) where
    * widths(v) = 0 for a 1-D variable, else the 2-D trailing width.
    * Reads CDF-1 AND CDF-2 (the 64-bit-offset variant xarray's
    * NETCDF3_64BIT writes — identical layout except `begin` is int64).
    */
  private[graft] def parseHeader(bytes: Array[Byte])
      : (Array[String], Array[Int], Array[Int], Array[Int], Int) = {
    val in = ByteBuffer.wrap(bytes)
    require(in.get() == 'C' && in.get() == 'D' && in.get() == 'F',
      "not a NetCDF classic file")
    val version = in.get()
    require(version == 1 || version == 2,
      s"CDF-$version unsupported (classic CDF-1/2 only)")
    in.getInt() // numrecs (no record vars written/read)
    // every length field is attacker-controlled on a corrupt granule:
    // validate against the remaining buffer BEFORE allocating or
    // seeking, so a flipped byte raises a clean error instead of an
    // OOM-sized allocation or a runaway position
    def checked(len: Long, what: String): Int = {
      require(len >= 0 && len <= in.remaining(),
        s"$what length $len exceeds remaining ${in.remaining()} bytes")
      len.toInt
    }
    def readName(): String = {
      val len = checked(in.getInt().toLong, "name")
      val b = new Array[Byte](len)
      in.get(b)
      var p = len
      while (p % 4 != 0) { checked(1, "name pad"); in.get(); p += 1 }
      new String(b, "UTF-8")
    }
    def skipAttrs(): Unit = {
      val tag = in.getInt(); val k = in.getInt()
      require(tag == NcAttribute || (tag == 0 && k == 0), s"bad attr list tag $tag")
      require(k >= 0 && k <= in.remaining(), s"attr count $k implausible")
      for (_ <- 0 until k) {
        readName()
        val t = in.getInt(); val ne = in.getInt().toLong
        require(ne >= 0, s"negative attr nelems $ne")
        val sz = t match {
          case 1 | 2 => ne
          case 3 => 2 * ne
          case 4 | 5 => 4 * ne
          case 6 => 8 * ne
          case other => throw new IllegalArgumentException(s"bad attr type $other")
        }
        val padded = sz + ((4 - sz % 4) % 4)
        in.position(in.position() + checked(padded, "attr value"))
      }
    }
    // dims
    val dtag = in.getInt(); val ndims = in.getInt()
    require(dtag == NcDimension || (dtag == 0 && ndims == 0), s"bad dim list tag $dtag")
    require(ndims >= 0 && ndims <= in.remaining(), s"dim count $ndims implausible")
    val dimLens = (0 until ndims).map { _ => readName(); in.getInt() }.toArray
    skipAttrs() // gatts
    val vtag = in.getInt(); val nvars = in.getInt()
    require(vtag == NcVariable || (vtag == 0 && nvars == 0), s"bad var list tag $vtag")
    require(nvars >= 0 && nvars <= in.remaining(), s"var count $nvars implausible")
    val names = new Array[String](nvars)
    val ntypes = new Array[Int](nvars)
    val begins = new Array[Int](nvars)
    val widths = new Array[Int](nvars)
    var n = -1
    for (v <- 0 until nvars) {
      names(v) = readName()
      val nd = in.getInt()
      require(nd == 1 || nd == 2,
        s"${names(v)}: only 1-D/2-D variables supported, got $nd")
      val dimIds = (0 until nd).map { _ =>
        val d = in.getInt()
        require(d >= 0 && d < dimLens.length, s"bad dimid $d")
        d
      }
      val len = dimLens(dimIds.head)
      require(n < 0 || n == len, "all variables must share the row dimension")
      n = len
      widths(v) = if (nd == 2) {
        val w = dimLens(dimIds(1))
        require(w > 0, s"${names(v)}: non-positive trailing dim $w")
        w
      } else 0
      skipAttrs()
      ntypes(v) = in.getInt()
      in.getInt() // vsize (int32 in both CDF-1 and CDF-2)
      val begin = if (version == 2) in.getLong() else in.getInt().toLong
      require(begin <= Int.MaxValue,
        s"${names(v)}: begin offset $begin exceeds the supported 2 GiB granule")
      begins(v) = begin.toInt
    }
    // the data region is untrusted too: every variable's
    // begin + elems*elemSize must land inside the buffer, else a clean
    // error now beats a corrupt read (or AIOOBE) at decode time
    val rows = math.max(n, 0)
    for (v <- 0 until nvars) {
      val elemSize = ntypes(v) match {
        case 1 | 2 => 1L
        case 3 => 2L
        case 4 | 5 => 4L
        case 6 => 8L
        case other => throw new IllegalArgumentException(
          s"${names(v)}: nc_type $other unsupported")
      }
      val end = begins(v).toLong +
        elemSize * rows * math.max(widths(v), 1)
      require(begins(v) >= 0 && end <= bytes.length,
        s"${names(v)}: data region [${begins(v)}, $end) outside ${bytes.length}B file")
    }
    (names, ntypes, begins, widths, rows)
  }

  /** Whole-file read with an explicit size gate: classic CDF
    * granules this engine reads are header-decoded from one buffer,
    * so a >=2 GiB foreign file must fail with a clear message, not a
    * silent `.toInt` truncation feeding a negative allocation.
    */
  private[netcdf] def readFully(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue,
      s"$p: ${len}B granule exceeds the supported 2 GiB classic-CDF read")
    val b = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, b) finally in.close()
    b
  }

  /** Read every granule under `dir` back as a DataFrame through
    * [[NetCdfDataSource]]: one split per granule (the split unit the
    * sink produced).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format(classOf[NetCdfDataSource].getName).load(dir)
}

/** NetCDF classic granules on the shared [[graft.sources.ArrayScan]]:
  * one split per `.nc` granule under the load directory, in name
  * order, each decoded column by column from its big-endian data
  * region. 2-D variables surface as array<type> columns; every granule
  * must agree with the first on names, types AND widths (one schema
  * per directory, like a parquet dataset). No short name is
  * registered: [[NetCdf.read]] is the entry point.
  */
class NetCdfDataSource extends ArraySource("netcdf", NetCdfDataSource)

object NetCdfDataSource extends ArrayScan.Format {

  /** One granule, and the variables (name, nc_type, width) of the
    * first granule it must match.
    */
  final case class Split(file: String, first: String, vars: Seq[(String, Int, Int)])
      extends InputPartition

  private def granules(options: CaseInsensitiveStringMap): Seq[String] = {
    val dir = options.get("path")
    require(dir != null, "netcdf source requires a path")
    val dirPath = new Path(dir)
    val files = dirPath.getFileSystem(ArrayScan.hadoopConf()).listStatus(dirPath)
      .map(_.getPath).filter(_.getName.endsWith(".nc")).map(_.toString).sorted
    require(files.nonEmpty, s"no .nc granules under $dir")
    files.toSeq
  }

  /** A granule's bytes, its parsed header, and its variables
    * (name, nc_type, width).
    */
  private def open(file: String, conf: Configuration) = {
    val p = new Path(file)
    val bytes = NetCdf.readFully(p.getFileSystem(conf), p)
    val header @ (names, types, _, widths, _) = NetCdf.parseHeader(bytes)
    (bytes, header, names.indices.map(v => (names(v), types(v), widths(v))))
  }

  private def vars(file: String): Seq[(String, Int, Int)] =
    open(file, ArrayScan.hadoopConf())._3

  override def infer(options: CaseInsensitiveStringMap): StructType =
    StructType(vars(granules(options).head).map { case (name, t, width) =>
      val st = t match {
        case 4 => IntegerType
        case 5 => FloatType
        case 6 => DoubleType
        case other => throw new IllegalArgumentException(s"$name: nc_type $other unsupported")
      }
      StructField(name, if (width > 0) ArrayType(st) else st)
    })

  override def splits(schema: StructType, options: CaseInsensitiveStringMap,
      filters: Seq[Filter]): Seq[InputPartition] = {
    val files = granules(options)
    val first = vars(files.head)
    files.map(Split(_, files.head, first))
  }

  override def decode(split: InputPartition, schema: StructType,
      conf: Configuration): Decoded = {
    val Split(file, first, expected) = split
    val (bytes, (names, types, begins, widths, n), found) = open(file, conf)
    require(found == expected, s"$file: granule schema differs from $first")
    Decoded(n, schema.fields.map[Col] { f =>
      val v = names.indexOf(f.name)
      val len = n * math.max(widths(v), 1)
      val values: AnyRef = types(v) match {
        case 4 =>
          val a = new Array[Int](len)
          ByteBuffer.wrap(bytes, begins(v), 4 * len).asIntBuffer().get(a); a
        case 5 =>
          val a = new Array[Float](len)
          ByteBuffer.wrap(bytes, begins(v), 4 * len).asFloatBuffer().get(a); a
        case 6 =>
          val a = new Array[Double](len)
          ByteBuffer.wrap(bytes, begins(v), 8 * len).asDoubleBuffer().get(a); a
      }
      if (widths(v) > 0) Arr(values, widths(v)) else Prim(values)
    })
  }
}
