package graft.sources.netcdf

import java.io.ByteArrayOutputStream
import java.nio.{BufferUnderflowException, ByteBuffer}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{ArrayScan, ArraySink, ArraySource}
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
  * The sink runs on the shared [[graft.sources.ArraySink]], one
  * granule `part-NNNNN.nc` per partition: scalar columns become 1-D
  * variables over one "row" dimension, array<numeric> columns 2-D
  * (row × width) variables, the per-cycle shape the reference's ATL11
  * files carry for h_corr/delta_time (atl06_to_atl11.py:170-196).
  * Files are plain classic CDF and open in any netCDF tool. Only
  * int/float/double are written; the record dimension, attributes,
  * and char/short types are parsed past on read.
  *
  * Ref: reference pipeline writes NetCDF via xarray
  * (atl06_to_atl11.py:306-321, atlxi_dhdt.py:87).
  */
object NetCdf {

  private val NcDimension = 10
  private val NcVariable = 11
  private val NcAttribute = 12

  private val Types: Map[DataType, Int] =
    Map(IntegerType -> 4, FloatType -> 5, DoubleType -> 6) // NC_INT, NC_FLOAT, NC_DOUBLE

  private def elemSize(ncType: Int, name: String): Long = ncType match {
    case 1 | 2 => 1L
    case 3 => 2L
    case 4 | 5 => 4L
    case 6 => 8L
    case other => throw new IllegalArgumentException(s"$name: nc_type $other unsupported")
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  private def putName(out: ByteArrayOutputStream, name: String): Unit = {
    val b = name.getBytes("UTF-8")
    out.write(ByteBuffer.allocate(4).putInt(b.length).array())
    out.write(b)
    var p = b.length
    while (p % 4 != 0) { out.write(0); p += 1 }
  }

  /** Serialize one granule: the collected columns of a partition as
    * fixed variables over a single "row" dimension, `types` their
    * nc_types. An `Arr` column becomes a 2-D (row × width) variable.
    * `version` = 1 (CDF-1, int32 begins) or 2 (CDF-2, int64 begins).
    */
  private[graft] def granuleBytes(names: Seq[String], types: Seq[Int],
      data: Decoded, version: Int = 1): Array[Byte] = {
    require(version == 1 || version == 2, s"CDF-$version unsupported")
    val n = data.rows
    val cols = data.cols.map(ArraySink.column)
    val widths = cols.map(_._2.getOrElse(0))
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
    val arrCols = widths.indices.filter(widths(_) > 0)
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
    def vsize(c: Int): Int =
      pad4(n * math.max(widths(c), 1) * elemSize(types(c), names(c)).toInt)
    var begin = headerSize.toLong
    val begins = types.indices.map { c =>
      val b = begin
      begin += vsize(c)
      b
    }
    require(version == 2 || begin <= Int.MaxValue,
      s"${begin}B granule needs CDF-2 (pass version = 2)")
    names.indices.foreach { c =>
      putName(head, names(c))
      if (widths(c) > 0) { i4(2); i4(0); i4(dimIdOf(c)) } // row × name_dim
      else { i4(1); i4(0) } // ndims, dimid 0 ("row")
      i4(0); i4(0) // vatt_list ABSENT
      i4(types(c))
      i4(vsize(c))
      begin8(begins(c))
    }
    val out = ByteBuffer.allocate(begin.toInt)
    out.put(head.toByteArray)
    names.indices.foreach { c =>
      ArraySink.put(out, cols(c)._1) // big-endian, ByteBuffer's default
      out.position(begins(c).toInt + vsize(c))
    }
    out.array()
  }

  /** One .nc granule per non-empty partition under `dir`.
    * `version` = 1 writes CDF-1 (int32 offsets, <2 GiB granules);
    * 2 writes CDF-2 (64-bit offsets, the NETCDF3_64BIT flavour).
    * An array column's width is taken from the partition's first
    * non-null cell (a classic-CDF dim is fixed). Classic CDF has no
    * null mask: null cells and elements are written as 0.
    */
  def write(df: DataFrame, dir: String, version: Int = 1): Unit = {
    require(version == 1 || version == 2,
      s"CDF-$version unsupported (1 = classic, 2 = 64-bit offset)")
    val sink = ArraySink(df, dir, "NetCDF", Types, zeroNulls = true)
    val names = df.schema.fieldNames.toSeq
    sink.granules(df, ".nc")(granuleBytes(names, sink.codes, _, version))
  }

  /** Parsed granule header: (names, ncTypes, begins, widths, n) where
    * widths(v) = 0 for a 1-D variable, else the 2-D trailing width.
    * Reads CDF-1 AND CDF-2 (the 64-bit-offset variant xarray's
    * NETCDF3_64BIT writes — identical layout except `begin` is int64).
    */
  private[graft] def parseHeader(bytes: Array[Byte])
      : (Array[String], Array[Int], Array[Int], Array[Int], Int) =
    parseHeader(bytes, bytes.length.toLong)

  /** [[parseHeader]] of a granule `fileLen` bytes long from `bytes`,
    * a prefix of it that holds at least the header: the data regions
    * are bounded by the file, not by the prefix.
    */
  private[graft] def parseHeader(bytes: Array[Byte], fileLen: Long)
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
    // begin + elems*elemSize must land inside the file, else a clean
    // error now beats a corrupt read (or AIOOBE) at decode time
    val rows = math.max(n, 0)
    for (v <- 0 until nvars) {
      val end = begins(v).toLong +
        elemSize(ntypes(v), names(v)) * rows * math.max(widths(v), 1)
      require(begins(v) >= 0 && end <= fileLen,
        s"${names(v)}: data region [${begins(v)}, $end) outside ${fileLen}B file")
    }
    (names, ntypes, begins, widths, rows)
  }

  /** The first `len` bytes of `p`, with an explicit size gate: classic
    * CDF granules this engine reads are decoded from one buffer, so a
    * >=2 GiB foreign file must fail with a clear message, not a silent
    * `.toInt` truncation feeding a negative allocation.
    */
  private[netcdf] def readFully(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, len: Long): Array[Byte] = {
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

  /** Bytes read to find a granule's header when planning a scan. */
  private val HeaderProbe = 65536L

  /** A granule's bytes (the whole file, or with `header` only a prefix
    * that holds its header), its parsed header, and its variables
    * (name, nc_type, width).
    */
  private def open(file: String, conf: Configuration, header: Boolean = false) = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val prefix = NetCdf.readFully(fs, p, if (header) math.min(len, HeaderProbe) else len)
    val (bytes, parsed @ (names, types, _, widths, _)) =
      try (prefix, NetCdf.parseHeader(prefix, len))
      catch {
        // the header runs past the probe: read on
        case _: IllegalArgumentException | _: BufferUnderflowException if prefix.length < len =>
          val all = NetCdf.readFully(fs, p, len)
          (all, NetCdf.parseHeader(all, len))
      }
    (bytes, parsed, names.indices.map(v => (names(v), types(v), widths(v))))
  }

  private def vars(file: String): Seq[(String, Int, Int)] =
    open(file, ArrayScan.hadoopConf(), header = true)._3

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
