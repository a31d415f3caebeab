package graft.sources.hdf5

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{ArrayScan, ArraySource}
import graft.sources.ArrayScan._

/** HDF5 on the shared [[graft.sources.ArrayScan]], decoded through
  * [[Hdf5Reader]] — the scan shape the README's S2 design note
  * promised (per the reference atl06_to_atl11.py's per-beam-pair
  * reads): **one Spark split per (granule file, group)**, so a
  * 1000-granule × 3-beam-pair campaign scans as ~3000 independent
  * partitions with no driver-side data movement.
  *
  * Usage:
  * {{{
  *   spark.read.format("hdf5")
  *     .option("groups", "pt1,pt2,pt3")       // default: root datasets
  *     .option("datasets", "ref_pt,h_corr")    // default: all in group
  *     .load("/data/ATL11_*.h5")
  * }}}
  *
  * Schema: `_filename`, `_group`, `_index` metadata columns, then one
  * column per dataset — 1-D datasets surface as scalars, 2-D as
  * `array<T>` per leading-dim row (ATL11's (ref_pt × cycle) matrices
  * become one array per reference point; see [[graft.ops.Atl11]] for
  * the posexplode to the long table). All requested datasets in a
  * group must share the leading dimension; coordinate-sized datasets
  * (e.g. `cycle_number`) are read as their own tiny load instead.
  *
  * Column pruning reaches the bytes: an unrequested dataset is never
  * fetched (datasets are independent byte ranges in HDF5, and
  * [[Hdf5Input]] reads strictly positionally), the HDF5 analogue of
  * parquet column pruning. `_filename`/`_group` equality and IN
  * filters drop whole (granule, group) splits at planning. The
  * decoded arrays reach Spark as ColumnarBatches through the shared
  * columnar split reader, as Zarr's and NetCDF's do.
  */
class Hdf5DataSource extends ArraySource("hdf5", Hdf5DataSource) with DataSourceRegister

object Hdf5DataSource extends ArrayScan.Format {
  val FilenameCol = "_filename"
  val GroupCol = "_group"
  val IndexCol = "_index"

  final case class Split(file: String, group: String) extends InputPartition

  private[hdf5] def resolveFiles(options: CaseInsensitiveStringMap): Seq[String] =
    ArrayScan.resolve(options, "hdf5", "files")(_.isFile)

  private def groupList(options: CaseInsensitiveStringMap): Seq[String] =
    ArrayScan.listOption(options, "groups").getOrElse(Seq(""))

  private[hdf5] def sparkType(dt: Hdf5Reader.Dtype): DataType =
    (dt.clazz, dt.size, dt.signed) match {
      case (1, 8, _) => DoubleType
      case (1, 4, _) => FloatType
      case (0, 8, true) => LongType
      case (0, 4, true) => IntegerType
      case (0, 2, true) => ShortType
      case (0, 1, true) => ByteType
      // unsigned widens one JVM type up (Hdf5Reader.readLongs
      // zero-extends); uint64 is rejected at parse time
      case (0, 4, false) => LongType
      case (0, 2, false) => IntegerType
      case (0, 1, false) => ShortType
      case (3, _, _) => StringType // fixed-length, NUL-trimmed
      case _ => throw new IllegalArgumentException(s"unsupported dtype $dt")
    }

  /** Schema from the first (file, group): metadata columns + datasets. */
  override def infer(options: CaseInsensitiveStringMap): StructType = {
    val file = resolveFiles(options).head
    val group = groupList(options).head
    val r = new Hdf5Reader(file, ArrayScan.hadoopConf())
    try {
      val all = r.groupChildren(group)
        .map { case (n, a) => r.dataset(n, a) }
      val wanted = ArrayScan.listOption(options, "datasets")
        .getOrElse(all.map(_.name).sorted)
      val byName = all.map(d => d.name -> d).toMap
      val fields = wanted.map { n =>
        val d = byName.getOrElse(n,
          throw new NoSuchElementException(s"$file group '$group' has no dataset '$n'"))
        val base = sparkType(d.dtype)
        d.rank match {
          case 1 => StructField(n, base)
          case 2 => StructField(n, ArrayType(base))
          case r => throw new IllegalArgumentException(s"$n: rank $r > 2 unsupported")
        }
      }
      StructType(
        StructField(FilenameCol, StringType, nullable = false) ::
        StructField(GroupCol, StringType, nullable = false) ::
        StructField(IndexCol, LongType, nullable = false) :: fields.toList)
    } finally r.close()
  }

  /** `_filename` / `_group` equality prunes (granule, group) splits —
    * the reference reads SPECIFIC beam groups out of many-granule
    * campaigns, and a pruned split's HDF5 metadata and chunks are
    * never opened.
    */
  override def prunes(filter: Filter): Boolean = pinned(filter).nonEmpty

  private def pinned(filter: Filter): Option[(String, Set[String])] = filter match {
    case EqualTo(c @ (FilenameCol | GroupCol), s: String) => Some(c -> Set(s))
    case In(c @ (FilenameCol | GroupCol), vs) if vs.forall(_.isInstanceOf[String]) =>
      Some(c -> vs.map(_.asInstanceOf[String]).toSet)
    case _ => None
  }

  override def splits(schema: StructType, options: CaseInsensitiveStringMap,
      filters: Seq[Filter]): Seq[InputPartition] = {
    val pins = filters.flatMap(pinned)
    def allowed(c: String, v: String) = pins.forall { case (pc, vs) => pc != c || vs(v) }
    for {
      f <- resolveFiles(options) if allowed(FilenameCol, f)
      g <- groupList(options) if allowed(GroupCol, g)
    } yield Split(f, g)
  }

  override def decode(split: InputPartition, schema: StructType,
      conf: Configuration): Decoded = {
    val Split(file, group) = split
    val reader = new Hdf5Reader(file, conf)
    try {
      val metas = reader.groupChildren(group).toMap
      var leading = -1
      val cols = schema.fields.map[Col] { f =>
        f.name match {
          case FilenameCol => ConstStr(file.getBytes("UTF-8"))
          case GroupCol    => ConstStr(group.getBytes("UTF-8"))
          case IndexCol    => Index(0L)
          case n =>
            val meta = reader.dataset(n,
              metas.getOrElse(n, throw new NoSuchElementException(
                s"$file group '$group' has no dataset '$n'")))
            val lead = meta.dims.head.toInt
            if (leading < 0) leading = lead
            else require(lead == leading,
              s"$file '$group': dataset '$n' leading dim $lead != $leading " +
                "(coordinate-sized datasets must be loaded separately)")
            if (meta.dtype.clazz == 3) {
              require(meta.rank == 1, s"$n: string datasets must be rank 1")
              Strs(reader.readStrings(meta).map(_.getBytes("UTF-8")))
            } else {
              val flat: AnyRef = sparkType(meta.dtype) match {
                case DoubleType => reader.readDoubles(meta)
                case FloatType =>
                  val d = reader.readRaw(meta)
                  val bb = java.nio.ByteBuffer.wrap(d).order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  Array.tabulate(meta.elemCount.toInt)(i => bb.getFloat(i * 4))
                case LongType  => reader.readLongs(meta)
                case IntegerType => reader.readLongs(meta).map(_.toInt)
                case ShortType => reader.readLongs(meta).map(_.toShort)
                case ByteType  => reader.readLongs(meta).map(_.toByte)
                case t => throw new IllegalArgumentException(s"$t")
              }
              if (meta.rank == 2) Arr(flat, meta.dims(1).toInt) else Prim(flat)
            }
        }
      }
      // a metadata-only projection (e.g. count(*) over _filename) still
      // needs the row count: probe the first dataset in the group
      if (leading < 0)
        leading = metas.headOption
          .map { case (n, a) => reader.dataset(n, a).dims.head.toInt }
          .getOrElse(0)
      Decoded(leading, cols)
    } finally reader.close()
  }
}
