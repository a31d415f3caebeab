package graft.sources

import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import ArrayScan.{Arr, Col, Decoded, Prim}

/** The write side of graft's array formats (HDF5, NetCDF, Zarr), the
  * twin of [[ArrayScan]]. A format declares only what is its own: the
  * Spark element types it writes, each mapped to its own type code,
  * whether a null cell is written as 0 or rejected, and how a
  * collected [[ArrayScan.Decoded]] becomes file bytes.
  *
  * The sink owns the rest. It accepts numeric scalar columns and
  * `array<numeric>` columns of the declared element types, checked
  * once before any job runs. Each partition's cells are read once,
  * from Spark's internal rows, straight into primitive arrays (`Prim`,
  * and row-major `Arr` for arrays). An array column is rectangular:
  * its width is fixed by the caller or by the first non-null cell,
  * and a row of any other width fails the task. The session Hadoop
  * conf ships to the executors, so executor writes resolve the same
  * filesystem (fs.s3a/hdfs settings included) as the caller.
  *
  * Every file is published by [[promote]]: written to a hidden `.part`
  * temp beside its target and renamed into place. A concurrent reader
  * never sees a half-written file, and a retried or speculative task
  * re-promotes the identical bytes of its deterministic partition.
  */
final class ArraySink[T] private (
    schema: StructType,
    /** Each column's element type as the format's own code. */
    val codes: IndexedSeq[T],
    dir: String,
    format: String,
    zeroNulls: Boolean,
    conf: SerializableConfiguration) extends Serializable {

  /** A collector over the leading `schema.length` columns of the rows
    * it is fed. `widths(c)` fixes array column c's width; -1 learns it
    * from the first non-null cell. `capacity` rows are allocated up
    * front.
    */
  def collector(widths: Array[Int] = Array.fill(schema.length)(-1),
      capacity: Int = 1024): ArraySink.Collector =
    new ArraySink.Collector(schema, format, zeroNulls, widths.clone(), capacity)

  /** Runs `f` over each partition of `df`'s rows, on the executors, as
    * one SQL execution.
    */
  def foreachPartition(df: DataFrame)(f: Iterator[InternalRow] => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.toRdd.foreachPartition(f)
    }
  }

  /** One granule `dir/part-NNNNN<ext>` per non-empty partition of
    * `df`, encoded from its collected columns.
    */
  def granules(df: DataFrame, ext: String)(encode: Decoded => Array[Byte]): Unit =
    foreachPartition(df) { rows =>
      if (rows.hasNext) {
        val cells = collector()
        rows.foreach(cells.add)
        val pid = TaskContext.getPartitionId()
        promote(new Path(dir, f"part-$pid%05d$ext"), encode(cells.result()))
      }
    }

  /** Publish `bytes` at `target` through a hidden temp file and one
    * rename.
    */
  def promote(target: Path, bytes: Array[Byte]): Unit = {
    val fs = target.getFileSystem(conf.value)
    val tmp = new Path(target.getParent, s".${target.getName}.${UUID.randomUUID()}.part")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, target)) {
      // an earlier attempt of this partition already published the
      // same bytes: replace them
      fs.delete(target, false)
      if (!fs.rename(tmp, target))
        throw new IOException(s"$format sink: cannot promote $tmp to $target")
    }
  }
}

object ArraySink {

  /** Checks `df`'s schema against the element `types` a format
    * writes, creates `dir`, and captures the session Hadoop conf.
    * `zeroNulls` is the format's null rule: write null cells and
    * elements as 0, or reject them.
    */
  def apply[T](df: DataFrame, dir: String, format: String,
      types: Map[DataType, T], zeroNulls: Boolean): ArraySink[T] = {
    val codes = df.schema.fields.toIndexedSeq.map { f =>
      val elem = f.dataType match {
        case ArrayType(e, _) => e
        case t => t
      }
      types.getOrElse(elem, throw new IllegalArgumentException(
        s"${f.name}: ${f.dataType} unsupported by the $format sink (scalars or " +
          s"arrays of ${types.keys.map(_.simpleString).toSeq.sorted.mkString("/")} only)"))
    }
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val path = new Path(dir)
    path.getFileSystem(conf).mkdirs(path)
    new ArraySink(df.schema, codes, dir, format, zeroNulls, new SerializableConfiguration(conf))
  }

  /** A collected column's values, and its width if it is an array. */
  def column(col: Col): (AnyRef, Option[Int]) = col match {
    case Prim(values) => (values, None)
    case Arr(values, width) => (values, Some(width))
    case other => throw new IllegalArgumentException(s"$other is not a collected column")
  }

  /** Bytes per element of a primitive array. */
  def elemSize(values: AnyRef): Int = values match {
    case _: Array[Double] | _: Array[Long] => 8
    case _: Array[Float] | _: Array[Int] => 4
    case _: Array[Short] => 2
    case _: Array[Byte] => 1
  }

  private def length(values: AnyRef): Int = java.lang.reflect.Array.getLength(values)

  /** Appends `values` to `out` in `out`'s byte order. */
  def put(out: ByteBuffer, values: AnyRef): Unit = {
    val at = out.position()
    values match {
      case a: Array[Double] => out.asDoubleBuffer().put(a)
      case a: Array[Float] => out.asFloatBuffer().put(a)
      case a: Array[Long] => out.asLongBuffer().put(a)
      case a: Array[Int] => out.asIntBuffer().put(a)
      case a: Array[Short] => out.asShortBuffer().put(a)
      case a: Array[Byte] => out.put(a)
    }
    out.position(at + length(values) * elemSize(values))
  }

  /** `values` as `order`ed bytes, zero-padded to `padTo` elements. */
  def bytes(values: AnyRef, order: ByteOrder, padTo: Int = 0): Array[Byte] = {
    val out = ByteBuffer.allocate(math.max(padTo, length(values)) * elemSize(values))
      .order(order)
    put(out, values)
    out.array()
  }

  /** Reads rows' cells into one primitive array per column. */
  final class Collector private[ArraySink] (schema: StructType, format: String,
      zeroNulls: Boolean, widths: Array[Int], capacity: Int) {
    private val names = schema.fieldNames
    private val isArr = schema.fields.map(_.dataType.isInstanceOf[ArrayType])
    private val elem = schema.fields.map(_.dataType match {
      case ArrayType(e, _) => e
      case t => t
    })
    private val values = new Array[AnyRef](names.length)
    private var n = 0

    def rows: Int = n

    def add(row: InternalRow): Unit = {
      var c = 0
      while (c < names.length) {
        if (row.isNullAt(c)) rejectNull(c, "null cell")
        else if (!isArr(c)) put(c, n, n + 1, row, c)
        else {
          val a = row.getArray(c)
          val w = a.numElements()
          if (widths(c) < 0) widths(c) = w
          require(w == widths(c),
            s"${names(c)}: ragged array, record $n has $w elements, expected " +
              s"${widths(c)} ($format arrays are rectangular)")
          // element by element: a bulk copy would read a null slot as 0
          var j = 0
          while (j < w) {
            if (a.isNullAt(j)) rejectNull(c, "null element")
            else put(c, n * w + j, (n + 1) * w, a, j)
            j += 1
          }
        }
        c += 1
      }
      n += 1
    }

    def result(): Decoded = Decoded(n, Array.tabulate[Col](names.length) { c =>
      if (!isArr(c)) Prim(fit(c, n))
      else {
        require(widths(c) >= 0,
          s"${names(c)}: every cell is null, so the $format array width is unknown")
        Arr(fit(c, n * widths(c)), widths(c))
      }
    })

    private def rejectNull(c: Int, what: String): Unit =
      require(zeroNulls, s"${names(c)}: $what at record $n ($format has no null " +
        "mask here; fill or filter upstream)")

    /** Column `c`'s values, exactly `len` long (a null-only tail is 0). */
    private def fit(c: Int, len: Int): AnyRef = {
      val v = values(c)
      if (v != null && length(v) == len) v
      else {
        val out = alloc(c, len)
        if (v != null) System.arraycopy(v, 0, out, 0, math.min(length(v), len))
        out
      }
    }

    private def alloc(c: Int, len: Int): AnyRef = elem(c) match {
      case DoubleType => new Array[Double](len)
      case FloatType => new Array[Float](len)
      case LongType => new Array[Long](len)
      case IntegerType => new Array[Int](len)
      case ShortType => new Array[Short](len)
      case ByteType => new Array[Byte](len)
    }

    /** Sets element `at` of column `c` from `src`'s ordinal `i`,
      * growing the column to hold at least `need` elements.
      */
    private def put(c: Int, at: Int, need: Int, src: SpecializedGetters, i: Int): Unit = {
      if (values(c) == null)
        values(c) = alloc(c, math.max(need, capacity * math.max(widths(c), 1)))
      else if (length(values(c)) < need)
        values(c) = fit(c, math.max(need, 2 * length(values(c))))
      values(c) match {
        case a: Array[Double] => a(at) = src.getDouble(i)
        case a: Array[Float] => a(at) = src.getFloat(i)
        case a: Array[Long] => a(at) = src.getLong(i)
        case a: Array[Int] => a(at) = src.getInt(i)
        case a: Array[Short] => a(at) = src.getShort(i)
        case a: Array[Byte] => a(at) = src.getByte(i)
      }
    }
  }
}
