package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.hdf5.Hdf5Sink
import graft.sources.netcdf.NetCdf
import graft.sources.zarr.ZarrSink

/** The array-sink contract ([[graft.sources.ArraySink]]), run for each
  * format that writes through it: the columns each accepts, its null
  * rule, granule layout, and how it publishes files.
  */
class ArraySinkSpec extends SparkSpec {

  /** One format's sink, how to read back what it wrote, the extension
    * of its per-partition granules (None: one store per write), the
    * numeric types it refuses, and whether null cells are written as 0.
    */
  private case class Sink(name: String, write: (DataFrame, String) => Unit,
      read: String => DataFrame, granule: Option[String], refuses: Seq[DataType],
      zeroNulls: Boolean)

  private lazy val sinks = Seq(
    Sink("hdf5", Hdf5Sink.write(_, _, group = "g"),
      dir => spark.read.format("hdf5").option("groups", "g").load(s"$dir/part-*.h5"),
      Some(".h5"), Nil, zeroNulls = false),
    Sink("netcdf", NetCdf.write(_, _), NetCdf.read(spark, _),
      Some(".nc"), Seq(LongType, ShortType, ByteType), zeroNulls = true),
    Sink("zarr", ZarrSink.write(_, _, chunkRows = 4),
      spark.read.format("zarr").load(_), None, Nil, zeroNulls = true))

  private def newDir(sink: Sink): String =
    Files.createTempDirectory(s"graft_sink_${sink.name}").toString

  /** `df` read back from `dir` through `sink`, in `df`'s columns. */
  private def back(sink: Sink, dir: String, df: DataFrame): DataFrame =
    sink.read(dir).select(df.columns.toSeq.map(col): _*)

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** Every file under `dir`, by relative path. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("ragged array widths are rejected at write time") {
    val sess = spark
    import sess.implicits._
    val ragged = Seq((1, Seq(1.0, 2.0)), (2, Seq(1.0))).toDF("k", "arr").coalesce(1)
    for (sink <- sinks) {
      val e = intercept[Exception](sink.write(ragged, newDir(sink)))
      assert(messages(e).contains("ragged"), sink.name)
    }
  }

  test("unsupported column types are rejected at write time") {
    val one = spark.range(1).select(col("id").cast("int").as("k"))
    for (sink <- sinks) {
      val bad = Seq(lit("x"), array(array(lit(1.0)))) ++
        sink.refuses.flatMap(t => Seq(lit(1).cast(t), array(lit(1).cast(t))))
      for (c <- bad) {
        val df = one.select(col("k"), c.as("v"))
        val e = intercept[IllegalArgumentException](sink.write(df, newDir(sink)))
        assert(e.getMessage.contains("unsupported"), s"${sink.name}: ${df.schema}")
      }
    }
  }

  test("an empty partition writes no granule") {
    // partitions [0, 3), [3, 6), [6, 9): the middle one is empty
    val df = spark.range(0, 9, 1, 3).where(col("id") < 3 || col("id") >= 6)
      .select(col("id").cast("int").as("k"))
    for (sink <- sinks; ext <- sink.granule) {
      val dir = newDir(sink)
      sink.write(df, dir)
      assert(new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq ==
        Seq(s"part-00000$ext", s"part-00002$ext"), sink.name)
      assert(back(sink, dir, df).collect().map(_.getInt(0)).sorted.toSeq ==
        Seq(0, 1, 2, 6, 7, 8), sink.name)
    }
  }

  test("null cells follow each format's rule: HDF5 rejects them, never " +
    "silently zeroed; NetCDF and Zarr write 0") {
    val id = col("id")
    // v: null at odd k; a: null at k % 3 == 0, its second element null at even k
    val df = spark.range(0, 12).select(id.cast("int").as("k"),
      when(id % 2 === 0, id.cast("double")).as("v"),
      when(id % 3 =!= 0, array(id.cast("double"), when(id % 2 =!= 0, lit(1.0))))
        .as("a"))
      .coalesce(1)
    val zeroed = (0 until 12).map { k =>
      (k, if (k % 2 == 0) k.toDouble else 0.0,
        if (k % 3 == 0) Seq(0.0, 0.0) else Seq(k.toDouble, if (k % 2 != 0) 1.0 else 0.0))
    }
    for (sink <- sinks) {
      if (sink.zeroNulls) {
        val dir = newDir(sink)
        sink.write(df, dir)
        val got = back(sink, dir, df).collect()
          .map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2))).sortBy(_._1)
        assert(got.toSeq == zeroed, sink.name)
      } else {
        val nullScalar = df.select("k", "v")
        val nullArray = df.where(col("k") % 2 =!= 0).select("k", "a")
        val nullElement = df.where(col("k") % 3 =!= 0).select("k", "a")
        for (bad <- Seq(nullScalar, nullArray, nullElement)) {
          val e = intercept[Exception](sink.write(bad, newDir(sink)))
          assert(messages(e).contains("null"), s"${sink.name}: ${bad.columns.toSeq}")
        }
      }
    }
  }

  test("short and byte scalars and arrays round trip") {
    val id = col("id")
    val df = spark.range(0, 20).select(id.cast("int").as("k"),
      (id - 10).cast("short").as("s"), (id - 10).cast("byte").as("b"),
      array((id * 100).cast("short"), lit(-1).cast("short")).as("sa"),
      array((id - 10).cast("byte"), lit(127).cast("byte")).as("ba"))
      .repartition(2, id)
    def elems(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(e)
      case other => other
    }
    for (sink <- sinks if !sink.refuses.contains(ShortType)) {
      val dir = newDir(sink)
      sink.write(df, dir)
      val got = back(sink, dir, df)
      assert(got.schema.map(f => elems(f.dataType)) == df.schema.map(f => elems(f.dataType)),
        sink.name)
      assert(got.orderBy("k").collect().map(_.toSeq).toSeq ==
        df.orderBy("k").collect().map(_.toSeq).toSeq, sink.name)
    }
  }

  test("files are published only through the temp+rename promote: no temp " +
    "file is left, and rewriting the same frame leaves identical bytes") {
    val id = col("id")
    val df = spark.range(0, 30).select(id.cast("int").as("k"),
      array(id.cast("double"), lit(0.5)).as("a"))
      .repartition(3, id)
    for (sink <- sinks) {
      val dir = newDir(sink)
      val created = RecordingFs.creates(spark.conf)(sink.write(df, dir))
      assert(created.nonEmpty && created.forall(n => n.startsWith(".") && n.endsWith(".part")),
        s"${sink.name} created files outside the promote: $created")
      val first = files(dir)
      assert(!first.keys.exists(_.endsWith(".part")), sink.name)
      sink.write(df, dir)
      val second = files(dir)
      assert(second.keySet == first.keySet, sink.name)
      first.foreach { case (f, bytes) =>
        assert(second(f) == bytes, s"${sink.name}: $f changed on rewrite")
      }
    }
  }
}

/** The local filesystem, recording the name of every file created
  * through it.
  */
class RecordingFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    RecordingFs.created.add(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RecordingFs {
  private val created = new ConcurrentLinkedQueue[String]()

  /** Names of the files `body` created through the session's Hadoop
    * conf, which serves `file:` paths with [[RecordingFs]] meanwhile.
    */
  def creates(conf: org.apache.spark.sql.RuntimeConfig)(body: => Unit): Seq[String] = {
    created.clear()
    conf.set("fs.file.impl", classOf[RecordingFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    created.asScala.toSeq
  }
}
