package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Named-table registry over the driver-generated parquet directory.
  *
  * Mirrors the reference's intake catalog idea (named parameterized
  * sources, /root/reference/deepicedrain/atlas_catalog.yaml:4-326) as a
  * plain function: the catalog's `placename`/`cycle` template params
  * become the `dir` argument here.
  *
  * Every table is read with a DECLARED StructType instead of trusting
  * parquet footers — the engine analogue of the reference's
  * schema-enforced HDF5 ingest (atl06_to_atl11.py:170-196 hand-picks
  * datasets and dtypes; SURVEY.md §1.3): a mis-typed input file fails
  * at read planning, not deep inside a query. `ts` on `events` is
  * declared BIGINT nanoseconds (the file carries TIMESTAMP(NANOS),
  * which Spark 4 only reads via the nanosAsLong legacy flag — set in
  * the session builders); the engine's ns-precision discipline keeps
  * the raw ns column for arithmetic and derives a µs TimestampType
  * view only for display/windowing (see [[eventsWithTime]]).
  */
object Tables {

  /** Single ordered registry — `schemas` and `names` both derive from
    * it, so a table can't exist in one and silently miss the other.
    */
  val registry: Seq[(String, StructType)] = Seq(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType), // TIMESTAMP(NANOS) read as raw ns
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  val schemas: Map[String, StructType] = registry.toMap
  val names: Seq[String] = registry.map(_._1)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** `events` with `ts` normalized to raw BIGINT NANOSECONDS no matter
    * which physical unit the file carries — the engine contract every
    * downstream query (and its `epoch_ns`-based DuckDB oracle) is
    * written against. Generated data has shipped both ways across
    * rounds: TIMESTAMP(NANOS) (reads as raw ns longs under the
    * nanosAsLong legacy flag) and TIMESTAMP(MICROS) (reads as a real
    * µs TimestampType). One footer read in this process picks the
    * branch (parquet-hadoop's reader, so no Spark job: schema
    * inference through `spark.read` runs one); the µs→ns widening is a
    * projection on top of the scan, so column pruning and predicate
    * pushdown on the other columns are untouched. ×1000 cannot
    * overflow: µs-since-epoch ×1000 stays under Long.MaxValue until
    * the year 2262.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val footerTs = footerType(spark, path, "ts")
    footerTs match {
      case LongType => // TIMESTAMP(NANOS) via nanosAsLong: already raw ns
        spark.read.schema(schemas("events")).parquet(path)
      case _ =>
        val declared = StructType(schemas("events").fields.map {
          case f if f.name == "ts" => StructField("ts", footerTs)
          case f => f
        }.toSeq)
        // session tz is pinned UTC in every builder, so an NTZ→TS cast
        // is numerically the identity and unix_micros is exact
        spark.read.schema(declared).parquet(path)
          .withColumn("ts",
            org.apache.spark.sql.functions.unix_micros(
              org.apache.spark.sql.functions.col("ts").cast(TimestampType)) *
              org.apache.spark.sql.functions.lit(1000L))
    }
  }

  /** The Spark type a parquet read gives `column` of `path`, from the
    * footer of its first data file (the file itself, or the first in
    * name order of a dataset directory), read in this process.
    */
  private def footerType(spark: SparkSession, path: String, column: String): DataType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(root).isDirectory) root
      else fs.listStatus(root).map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .sortBy(_.getName).headOption
        .getOrElse(throw new IllegalArgumentException(s"$path: no data files"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    Bridge.parquetReadSchema(spark, footer).find(_.name == column).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no `$column` column in footer"))
  }

  /** `events` with a µs `ts_utc` TimestampType derived from the ns
    * `ts` column. `div` truncates toward zero, which equals DuckDB's
    * flooring CAST(ts AS TIMESTAMP) only for ts >= 0 — the events
    * contract (epochs start 2018+); pre-1970 ns timestamps would
    * diverge by 1 µs and need a true floordiv.
    */
  def eventsWithTime(spark: SparkSession, dir: String): DataFrame = {
    val df = apply(spark, dir, "events")
    df.withColumn("ts_utc",
      org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
  }

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
