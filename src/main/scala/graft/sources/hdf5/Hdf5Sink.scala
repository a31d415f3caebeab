package graft.sources.hdf5

import java.nio.ByteOrder

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sources.ArraySink

/** HDF5 on the shared [[graft.sources.ArraySink]]: one granule file
  * `part-NNNNN.h5` per non-empty partition, the shape of real
  * ICESat-2 archives (HDF5 files cannot be appended in parallel).
  * Every column is a dataset in the one group `group`: scalars 1-D,
  * `array<numeric>` columns 2-D (record × width), the reference's
  * per-cycle ATL11 layout (`h_corr` is ref_pt × cycle,
  * atl06_to_atl11.py:170-196). Datasets are chunked along the record
  * dimension only, so a chunk is a run of whole records, and stored
  * with shuffle + deflate. HDF5 datasets carry no null mask here, so
  * null cells and elements are rejected, never written as 0.
  * [[Hdf5DataSource]] reads the granules back.
  */
object Hdf5Sink {

  private val Types: Map[DataType, String] = Map(DoubleType -> "f64",
    FloatType -> "f32", LongType -> "i64", IntegerType -> "i32",
    ShortType -> "i16", ByteType -> "i8")
  private val ChunkRows = 65536
  private val Deflate = 6

  def write(df: DataFrame, dir: String, group: String = "data"): Unit = {
    val sink = ArraySink(df, dir, "HDF5", Types, zeroNulls = false)
    val names = df.schema.fieldNames
    sink.granules(df, ".h5") { data =>
      val dsets = names.indices.map { c =>
        val (values, width) = ArraySink.column(data.cols(c))
        Hdf5Writer.Dset(names(c), sink.codes(c), data.rows +: width.toSeq,
          ArraySink.bytes(values, ByteOrder.LITTLE_ENDIAN),
          chunkDims = Some(math.min(ChunkRows, data.rows) +: width.toSeq),
          deflate = Some(Deflate))
      }
      Hdf5Writer.fileBytes(Seq(Hdf5Writer.Group(group, dsets)))
    }
  }
}
