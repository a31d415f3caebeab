package graft.sources.zarr

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{ArrayScan, ArraySource}
import graft.sources.ArrayScan._

import ZarrMeta.ArrayMeta

/** Zarr on the shared [[graft.sources.ArrayScan]], decoded through
  * [[ZarrStore]] — S5 closed literally: the reference's campaign data
  * lives as ATL11 Zarr stores read through xarray/dask
  * (reference atl06_to_atl11.py:206-217), and this source scans
  * the same on-disk format as Spark splits.
  *
  * Usage:
  * {{{
  *   spark.read.format("zarr")
  *     .option("arrays", "h_corr,ref_pt")   // default: all in store
  *     .load("/data/ATL11_*.zarr")
  * }}}
  *
  * Split planning mirrors dask's chunk-grid alignment: one Spark
  * split per leading-dimension chunk block (a multiple of every
  * selected array's chunks[0], sized >= 64k rows), so a 10^9-row
  * store scans as thousands of independent chunk-aligned range reads
  * with no split ever re-decompressing another split's chunk files.
  * Column pruning reaches the chunk files — an unselected array's
  * are never opened (each array is its own directory of chunks, the
  * columnar-storage property Zarr shares with parquet). `_index`
  * range and `_store` equality filters drop whole splits at planning.
  *
  * Schema: `_store` (string), `_index` (long row position), then one
  * column per array — rank-1 as scalars, rank-2 as `array<T>` per
  * leading-dim row (ATL11's (ref_pt x cycle) matrices). All selected
  * arrays must share their leading dimension.
  */
class ZarrDataSource extends ArraySource("zarr", ZarrDataSource) with DataSourceRegister

object ZarrDataSource extends ArrayScan.Format {
  val StoreCol = "_store"
  val IndexCol = "_index"

  final case class Split(store: String, row0: Long, row1: Long) extends InputPartition

  /** Stores are DIRECTORIES, unlike hdf5's files. */
  private def resolveStores(options: CaseInsensitiveStringMap): Seq[String] =
    ArrayScan.resolve(options, "zarr", "stores")(_.isDirectory)

  private def arrayList(
      options: CaseInsensitiveStringMap, store: String,
      conf: Configuration): Seq[String] =
    ArrayScan.listOption(options, "arrays")
      .getOrElse(ZarrStore.listArrays(store, conf))

  private def sparkType(m: ArrayMeta): DataType =
    ZarrStore.jvmKind(m) match {
      case 'd' => DoubleType
      case 'f' => FloatType
      case 'l' => LongType
      case 'i' => IntegerType
      case 's' => ShortType
      case 'b' => ByteType
    }

  override def infer(options: CaseInsensitiveStringMap): StructType = {
    val conf = ArrayScan.hadoopConf()
    val store = resolveStores(options).head
    val arrays = arrayList(options, store, conf)
    require(arrays.nonEmpty, s"$store: no arrays")
    // consolidated stores resolve every .zarray from ONE file open
    val all = ZarrStore.consolidated(store, conf).getOrElse(Map.empty)
    val fields = arrays.map { a =>
      val m = all.getOrElse(a, ZarrStore.readMeta(store, a, conf))
      val base = sparkType(m)
      m.rank match {
        case 1 => StructField(a, base)
        case 2 => StructField(a, ArrayType(base))
        case r => throw new IllegalArgumentException(s"$a: rank $r > 2 unsupported")
      }
    }
    StructType(
      StructField(StoreCol, StringType, nullable = false) ::
      StructField(IndexCol, LongType, nullable = false) :: fields.toList)
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Chunk-aligned split rows: a multiple of every array's chunks[0]
    * (lcm, capped at 4M rows), scaled to >= 64k rows per split.
    */
  private[graft] def splitRows(c0s: Seq[Int]): Long = {
    val lcm = c0s.map(_.toLong).foldLeft(1L) { (l, c) =>
      val g = l / gcd(l, c) * c
      if (g > (1L << 22) || g <= 0) math.max(l, c) else g
    }
    lcm * math.max(1L, 65536L / lcm)
  }

  private def indexLit(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** `_index` bounds `[lo, hi]` a filter pins, if any. */
  private def indexBounds(filter: Filter): Option[(Long, Long)] = filter match {
    case EqualTo(IndexCol, v) => indexLit(v).map(l => (l, l))
    case GreaterThan(IndexCol, v) => indexLit(v).map(l => (l + 1, Long.MaxValue))
    case GreaterThanOrEqual(IndexCol, v) => indexLit(v).map(l => (l, Long.MaxValue))
    case LessThan(IndexCol, v) => indexLit(v).map(l => (Long.MinValue, l - 1))
    case LessThanOrEqual(IndexCol, v) => indexLit(v).map(l => (Long.MinValue, l))
    case _ => None
  }

  private def storeSet(filter: Filter): Option[Set[String]] = filter match {
    case EqualTo(StoreCol, s: String) => Some(Set(s))
    case In(StoreCol, vs) if vs.forall(_.isInstanceOf[String]) =>
      Some(vs.map(_.asInstanceOf[String]).toSet)
    case _ => None
  }

  /** `_index` range predicates prune chunk splits — the Zarr analogue
    * of parquet row-group pruning (a range read of a 10^9-row store
    * touches only the overlapping chunk blocks); `_store` equality
    * prunes whole stores, the multi-granule analogue of Hive
    * partition pruning.
    */
  override def prunes(filter: Filter): Boolean =
    indexBounds(filter).nonEmpty || storeSet(filter).nonEmpty

  override def splits(schema: StructType, options: CaseInsensitiveStringMap,
      filters: Seq[Filter]): Seq[InputPartition] = {
    val conf = ArrayScan.hadoopConf()
    val bounds = filters.flatMap(indexBounds)
    val lo = bounds.map(_._1).foldLeft(Long.MinValue)(math.max)
    val hi = bounds.map(_._2).foldLeft(Long.MaxValue)(math.min)
    val stores = filters.flatMap(storeSet)
    resolveStores(options).filter(s => stores.forall(_(s))).flatMap { store =>
      // split planning needs every DATA column's meta; the leading dim
      // comes from any array when only metadata columns are projected
      val projected = schema.fieldNames.toSeq
        .filter(n => n != StoreCol && n != IndexCol)
      val arrays =
        if (projected.nonEmpty) projected
        else arrayList(options, store, conf).take(1)
      if (arrays.isEmpty) Seq(Split(store, 0L, 0L))
      else {
        val all = ZarrStore.consolidated(store, conf).getOrElse(Map.empty)
        val metas = arrays.map(a =>
          all.getOrElse(a, ZarrStore.readMeta(store, a, conf)))
        val rows = metas.head.shape.head
        metas.zip(arrays).foreach { case (m, a) =>
          require(m.shape.head == rows,
            s"$store '$a': leading dim ${m.shape.head} != $rows")
        }
        val step = splitRows(metas.map(_.chunks.head))
        (0L until rows by step)
          .map(r0 => Split(store, r0, math.min(r0 + step, rows)))
          // a split entirely outside [lo, hi] is never planned, so its
          // chunk files are never opened
          .filter(p => p.row1 > lo && p.row0 <= hi)
      }
    }
  }

  override def decode(split: InputPartition, schema: StructType,
      conf: Configuration): Decoded = {
    val Split(store, row0, row1) = split
    // one .zmetadata open per TASK covers all projected columns on a
    // consolidated store — no per-column .zarray round trips
    lazy val all = ZarrStore.consolidated(store, conf).getOrElse(Map.empty)
    Decoded((row1 - row0).toInt, schema.fields.map[Col] { f =>
      f.name match {
        case StoreCol => ConstStr(store.getBytes("UTF-8"))
        case IndexCol => Index(row0)
        case a =>
          val m = all.getOrElse(a, ZarrStore.readMeta(store, a, conf))
          val rd = ZarrStore.readRange(store, a, m, row0, row1, conf)
          if (m.rank == 2) Arr(rd.values, rd.width) else Prim(rd.values)
      }
    })
  }
}
