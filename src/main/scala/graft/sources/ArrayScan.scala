package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.util.SerializableConfiguration

/** The one DataSource V2 scan behind graft's array formats (HDF5,
  * Zarr, NetCDF). A format decodes each split into whole primitive
  * arrays anyway, so the scan is columnar only: one split reader
  * copies the decoded arrays into OnHeapColumnVectors, 4096 rows per
  * batch, and Spark wires a codegen'd ColumnarToRow above it.
  *
  * A format supplies only what is its own, through [[ArrayScan.Format]]:
  * its schema, which pushed filters prune its splits, how it splits,
  * and how it decodes one split. Column pruning is common: a format
  * decodes only the projected columns. Every filter stays residual
  * (Spark re-applies it after the scan), so pruning drops I/O, never
  * rows. The session Hadoop conf ships to the readers as Spark's
  * `SerializableConfiguration`: an executor-side `new Configuration()`
  * would drop fs.s3a/hdfs settings, so a granule that reads locally
  * would fail (or mis-authenticate) on object storage.
  */
object ArrayScan {

  /** One decoded column of a split, `rows` long. */
  sealed trait Col
  /** The same string in every row (`_filename`, `_group`, `_store`). */
  final case class ConstStr(bytes: Array[Byte]) extends Col
  /** One UTF-8 byte array per row. */
  final case class Strs(rows: Array[Array[Byte]]) extends Col
  /** The row position, counted from `base`. */
  final case class Index(base: Long) extends Col
  /** A scalar column: an Array[Double|Float|Long|Int|Short|Byte]. */
  final case class Prim(values: AnyRef) extends Col
  /** An `array<T>` column, row-major: row i is elements
    * [i * width, (i + 1) * width) of `values`.
    */
  final case class Arr(values: AnyRef, width: Int) extends Col

  /** A decoded split: `cols` follow the scan schema's field order. */
  final case class Decoded(rows: Int, cols: Array[Col])

  /** What one array format supplies to the scan. Implementations are
    * objects: the reader factory ships them to the executors.
    */
  trait Format extends Serializable {
    /** Full schema of the source at `options`. */
    def infer(options: CaseInsensitiveStringMap): StructType

    /** Whether `splits` uses `filter` to drop whole splits. */
    def prunes(filter: Filter): Boolean = false

    /** The splits to scan for the projected `schema`; `filters` are
      * the pushed filters [[prunes]] accepted.
      */
    def splits(schema: StructType, options: CaseInsensitiveStringMap,
        filters: Seq[Filter]): Seq[InputPartition]

    /** Decode one split's `schema` columns. Runs on the executor. */
    def decode(split: InputPartition, schema: StructType, conf: Configuration): Decoded
  }

  def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Expand the `path`/`paths` options through Hadoop glob resolution
    * to the sorted matches that `keep` accepts.
    */
  def resolve(options: CaseInsensitiveStringMap, source: String, noun: String)(
      keep: FileStatus => Boolean): Seq[String] = {
    val raw: Seq[String] =
      if (options.containsKey("paths"))
        // DataFrameReader encodes multiple load() args as a JSON array
        "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(options.get("paths"))
          .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
      else Option(options.get("path")).toSeq
    require(raw.nonEmpty, s"$source source requires a path")
    val conf = hadoopConf()
    val found = raw.flatMap { pat =>
      val p = new Path(pat)
      Option(p.getFileSystem(conf).globStatus(p)).map(_.toSeq).getOrElse(Nil)
        .filter(keep).map(_.getPath.toString)
    }.sorted
    require(found.nonEmpty, s"$source source matched no $noun: ${raw.mkString(",")}")
    found
  }

  /** Comma-separated option values, trimmed, empties dropped. */
  def listOption(options: CaseInsensitiveStringMap, key: String): Option[Seq[String]] =
    Option(options.get(key)).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
}

/** TableProvider over one [[ArrayScan.Format]]; `name` names the
  * table in plans.
  */
abstract class ArraySource(name: String, format: ArrayScan.Format) extends TableProvider {
  def shortName(): String = name
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.infer(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ArrayTable(name, format, schema, new CaseInsensitiveStringMap(properties))
}

final class ArrayTable(name: String, format: ArrayScan.Format, schema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"$name(${options.get("path")})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
      private var required = schema
      private var pruning = Array.empty[Filter]
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pruning = filters.filter(format.prunes)
        filters
      }
      override def pushedFilters(): Array[Filter] = pruning
      override def build(): Scan = new ArrayBatchScan(name, format, required, options, pruning.toSeq)
    }
}

final class ArrayBatchScan(name: String, format: ArrayScan.Format, schema: StructType,
    options: CaseInsensitiveStringMap, filters: Seq[Filter]) extends Scan with Batch {
  private lazy val parts = format.splits(schema, options, filters).toArray
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"$name ${parts.length} split(s)"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory =
    ArrayReaderFactory(format, schema, new SerializableConfiguration(ArrayScan.hadoopConf()))
}

final case class ArrayReaderFactory(format: ArrayScan.Format, schema: StructType,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  // the scan declares columnar support SUPPORTED, so Spark never asks
  // for the row path
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("array scans are columnar only")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new ArraySplitReader(format.decode(partition, schema, conf.value), schema)
}

/** Serves a decoded split as ColumnarBatches, reusing one set of
  * vectors across batches.
  */
final class ArraySplitReader(data: ArrayScan.Decoded, schema: StructType)
    extends PartitionReader[ColumnarBatch] {
  import ArrayScan._

  private val BatchRows = 4096
  private val vectors = OnHeapColumnVector.allocateColumns(BatchRows, schema)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private var start = 0

  override def next(): Boolean = start < data.rows && {
    val n = math.min(BatchRows, data.rows - start)
    var c = 0
    while (c < vectors.length) {
      vectors(c).reset()
      fill(vectors(c), data.cols(c), start, n)
      c += 1
    }
    batch.setNumRows(n)
    start += n
    true
  }

  private def fill(v: OnHeapColumnVector, col: Col, from: Int, n: Int): Unit = col match {
    case ConstStr(bytes) =>
      var i = 0
      while (i < n) { v.putByteArray(i, bytes); i += 1 }
    case Strs(rows) =>
      var i = 0
      while (i < n) { v.putByteArray(i, rows(from + i)); i += 1 }
    case Index(base) =>
      var i = 0
      while (i < n) { v.putLong(i, base + from + i); i += 1 }
    case Prim(values) => putRange(v, values, from, n)
    case Arr(values, width) =>
      val child = v.getChild(0).asInstanceOf[OnHeapColumnVector]
      child.reserve(n * width)
      putRange(child, values, from * width, n * width)
      var i = 0
      while (i < n) { v.putArray(i, i * width, width); i += 1 }
  }

  private def putRange(v: OnHeapColumnVector, values: AnyRef, from: Int, n: Int): Unit =
    values match {
      case a: Array[Double] => v.putDoubles(0, n, a, from)
      case a: Array[Float]  => v.putFloats(0, n, a, from)
      case a: Array[Long]   => v.putLongs(0, n, a, from)
      case a: Array[Int]    => v.putInts(0, n, a, from)
      case a: Array[Short]  => v.putShorts(0, n, a, from)
      case a: Array[Byte]   => v.putBytes(0, n, a, from)
    }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}
