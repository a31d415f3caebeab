package graft

import java.nio.ByteBuffer

import org.apache.spark.sql.functions._

import graft.sources.ArrayScan.{Arr, Col, Decoded, Prim}
import graft.sources.netcdf.NetCdf

/** NetCDF classic (CDF-1) format contracts: (1) the exact on-disk
  * byte layout of a minimal granule, pinned against the PUBLIC spec
  * by hand (magic, big-endian tags, 4-byte name padding, begin
  * offsets) — independent of our own parser, so writer and reader
  * cannot co-drift; (2) a distributed multi-granule round trip.
  */
class NetCdfSpec extends SparkSpec {

  test("granule bytes match the hand-assembled CDF-1 layout") {
    val bytes = NetCdf.granuleBytes(
      Seq("a"), Seq(4), Decoded(2, Array(Prim(Array(7, 9)))))
    val exp = ByteBuffer.allocate(256)
    exp.put(Array[Byte]('C', 'D', 'F', 1))
    exp.putInt(0) // numrecs
    exp.putInt(10); exp.putInt(1) // NC_DIMENSION, 1 dim
    exp.putInt(3); exp.put("row".getBytes); exp.put(0: Byte) // name + pad
    exp.putInt(2) // dim length
    exp.putInt(0); exp.putInt(0) // gatt_list ABSENT
    exp.putInt(11); exp.putInt(1) // NC_VARIABLE, 1 var
    exp.putInt(1); exp.put('a'.toByte)
    exp.put(0: Byte); exp.put(0: Byte); exp.put(0: Byte) // name pad to 4
    exp.putInt(1); exp.putInt(0) // ndims, dimid 0
    exp.putInt(0); exp.putInt(0) // vatt_list ABSENT
    exp.putInt(4) // NC_INT
    exp.putInt(8) // vsize = 2 * 4
    val begin = exp.position() + 4 // header ends right after this int
    exp.putInt(begin)
    exp.putInt(7); exp.putInt(9) // data, big-endian
    val expected = java.util.Arrays.copyOf(exp.array(), exp.position())
    assert(bytes.sameElements(expected),
      s"layout drifted:\n got ${bytes.map("%02x".format(_)).mkString}" +
        s"\n exp ${expected.map("%02x".format(_)).mkString}")
    // and the parser agrees with the hand layout
    val (names, types, begins, widths, n) = NetCdf.parseHeader(expected)
    assert(names.toSeq == Seq("a") && types.toSeq == Seq(4))
    assert(begins.toSeq == Seq(begin) && widths.toSeq == Seq(0) && n == 2)
  }

  test("CDF-2 (64-bit offset) headers parse: begin read as int64") {
    // hand-assemble the same minimal granule in CDF-2 form
    val exp = ByteBuffer.allocate(256)
    exp.put(Array[Byte]('C', 'D', 'F', 2))
    exp.putInt(0)
    exp.putInt(10); exp.putInt(1)
    exp.putInt(3); exp.put("row".getBytes); exp.put(0: Byte); exp.putInt(2)
    exp.putInt(0); exp.putInt(0)
    exp.putInt(11); exp.putInt(1)
    exp.putInt(1); exp.put('a'.toByte)
    exp.put(0: Byte); exp.put(0: Byte); exp.put(0: Byte)
    exp.putInt(1); exp.putInt(0)
    exp.putInt(0); exp.putInt(0)
    exp.putInt(4); exp.putInt(8)
    val begin = exp.position() + 8 // begin is INT64 in CDF-2
    exp.putLong(begin)
    exp.putInt(7); exp.putInt(9)
    val bytes = java.util.Arrays.copyOf(exp.array(), exp.position())
    val (names, types, begins, widths, n) = NetCdf.parseHeader(bytes)
    assert(names.toSeq == Seq("a") && types.toSeq == Seq(4))
    assert(begins.toSeq == Seq(begin) && widths.toSeq == Seq(0) && n == 2)
    // and the writer emits byte-identical CDF-2 when asked
    val written = NetCdf.granuleBytes(
      Seq("a"), Seq(4), Decoded(2, Array(Prim(Array(7, 9)))), version = 2)
    assert(written.sameElements(bytes),
      s"CDF-2 layout drifted:\n got ${written.map("%02x".format(_)).mkString}" +
        s"\n exp ${bytes.map("%02x".format(_)).mkString}")
  }

  test("a header parses from a prefix of its granule; a header past the 64 KiB probe reads on") {
    // ~114 KiB of variable entries: longer than the 64 KiB prefix that
    // scan planning reads first
    val names = (0 until 1500).map(i => f"v$i%04d_" + "x" * 36)
    val bytes = NetCdf.granuleBytes(names, names.map(_ => 4),
      Decoded(2, Array.tabulate[Col](names.length)(i => Prim(Array(i, -i)))))
    val full = NetCdf.parseHeader(bytes)
    val header = java.util.Arrays.copyOf(bytes, full._3.min)
    // the prefix ends where the data starts: the data regions are
    // bounded by the file length, not by the prefix
    val fromPrefix = NetCdf.parseHeader(header, bytes.length.toLong)
    assert(fromPrefix._1.toSeq == full._1.toSeq && fromPrefix._3.toSeq == full._3.toSeq)
    intercept[IllegalArgumentException](NetCdf.parseHeader(header))
    val dir = java.nio.file.Files.createTempDirectory("nclonghead")
    java.nio.file.Files.write(dir.resolve("part-00000.nc"), bytes)
    val back = NetCdf.read(spark, dir.toString)
    assert(back.schema.length == names.length)
    assert(back.select(names.last).collect().map(_.getInt(0)).toSeq == Seq(1499, -1499))
  }

  test("distributed multi-granule round trip preserves rows and types") {
    val sess = spark
    import sess.implicits._
    val df = (0 until 500)
      .map(i => (i, i * 0.5f, i * 1.25))
      .toDF("k", "f", "d")
    val dir = java.nio.file.Files.createTempDirectory("netcdf").toString
    NetCdf.write(df.repartition(3), dir)
    val back = NetCdf.read(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = df.orderBy("k").collect().map(_.toSeq)
    val b = back.orderBy("k").collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    // granule files: one per non-empty partition, all .nc
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".nc"))
    assert(files.length == 3)
  }

  test("rank-2 (array column) round trip, CDF-1 and CDF-2") {
    val sess = spark
    import sess.implicits._
    val df = (0 until 300)
      .map(i => (i, Seq(i * 0.5, i * 1.5, i * 2.5), i.toFloat))
      .toDF("k", "arr", "f")
    for (version <- Seq(1, 2)) {
      val dir = java.nio.file.Files.createTempDirectory(s"nc2d_v$version").toString
      NetCdf.write(df.repartition(3), dir, version = version)
      // version byte on disk is what was asked for
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".nc")).head
      val head = java.nio.file.Files.readAllBytes(f.toPath).take(4)
      assert(head.sameElements(Array[Byte]('C', 'D', 'F', version.toByte)))
      val back = NetCdf.read(spark, dir)
      assert(back.schema("arr").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
      val a = df.orderBy("k").collect().map(_.toSeq)
      val b = back.orderBy("k").collect().map(_.toSeq)
      assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
    }
  }

  test("granules that disagree with the first one's schema fail the read") {
    val dir = java.nio.file.Files.createTempDirectory("ncmixed")
    java.nio.file.Files.write(dir.resolve("part-00000.nc"), NetCdf.granuleBytes(
      Seq("a"), Seq(4), Decoded(2, Array(Prim(Array(7, 9))))))
    java.nio.file.Files.write(dir.resolve("part-00001.nc"), NetCdf.granuleBytes(
      Seq("a"), Seq(6), Decoded(2, Array(Prim(Array(7.0, 9.0))))))
    val e = intercept[org.apache.spark.SparkException] {
      NetCdf.read(spark, dir.toString).collect()
    }
    assert(e.getMessage.contains("granule schema differs"))
  }

  test("ragged array widths are rejected at write time") {
    val sess = spark
    import sess.implicits._
    val bad = Seq((1, Seq(1.0, 2.0)), (2, Seq(1.0))).toDF("k", "arr")
    val e = intercept[org.apache.spark.SparkException] {
      NetCdf.write(bad.coalesce(1),
        java.nio.file.Files.createTempDirectory("ncragged").toString)
    }
    assert(e.getMessage != null)
  }

  test("fuzz: corrupted granules fail cleanly — no hangs, no OOM-size allocations") {
    val good = NetCdf.granuleBytes(Seq("a", "b"), Seq(4, 6),
      Decoded(3, Array(Prim(Array(1, 2, 3)),
        Arr(Array(0.5, 1.5, 2.5, 3.5, 4.5, 5.5), 2))))
    val rnd = new scala.util.Random(11)
    var parsedOk = 0
    for (trial <- 0 until 2000) {
      val bytes = good.clone()
      // flip 1-4 random bytes, or truncate
      if (trial % 5 == 0) {
        val cut = rnd.nextInt(bytes.length)
        val t = java.util.Arrays.copyOf(bytes, cut)
        try { NetCdf.parseHeader(t); parsedOk += 1 }
        catch {
          case _: IllegalArgumentException | _: java.nio.BufferUnderflowException |
               _: IndexOutOfBoundsException | _: scala.MatchError => ()
        }
      } else {
        for (_ <- 0 to rnd.nextInt(4))
          bytes(rnd.nextInt(bytes.length)) = rnd.nextInt(256).toByte
        try { NetCdf.parseHeader(bytes); parsedOk += 1 }
        catch {
          case _: IllegalArgumentException | _: java.nio.BufferUnderflowException |
               _: IndexOutOfBoundsException | _: scala.MatchError => ()
        }
      }
    }
    // many corruptions land in data bytes and still parse — the point
    // is that NOTHING escaped the allowed clean-failure set above
    assert(parsedOk > 0)
  }
}
