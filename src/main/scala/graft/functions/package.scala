package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge

/** Column-facing entry points for the engine's custom expressions —
  * the graft analogue of `org.apache.spark.sql.functions`.
  */
package object functions {

  private[graft] def col(e: Expression): Column = Bridge.column(e)
  private[graft] def expr(c: Column): Expression = Bridge.expression(c)

  /** Two-sided Student-t p-value P(|T_df| >= |t|) (scipy linregress tail). */
  def t_pvalue(t: Column, df: Column): Column =
    col(TPValue(expr(t.cast("double")), expr(df.cast("double"))))

  /** Student-t CDF with `df` degrees of freedom. */
  def t_cdf(t: Column, df: Column): Column =
    col(TCdf(expr(t.cast("double")), expr(df.cast("double"))))

  /** EPSG:3031 polar-stereographic forward easting from lon/lat degrees. */
  def ps3031_x(lon: Column, lat: Column): Column =
    col(PsX(expr(lon.cast("double")), expr(lat.cast("double"))))

  /** EPSG:3031 polar-stereographic forward northing from lon/lat degrees. */
  def ps3031_y(lon: Column, lat: Column): Column =
    col(PsY(expr(lon.cast("double")), expr(lat.cast("double"))))

  /** EPSG:3031 inverse: longitude degrees from projected x/y metres. */
  def ps3031_lon(x: Column, y: Column): Column =
    col(PsLon(expr(x.cast("double")), expr(y.cast("double"))))

  /** EPSG:3031 inverse: latitude degrees from projected x/y metres. */
  def ps3031_lat(x: Column, y: Column): Column =
    col(PsLat(expr(x.cast("double")), expr(y.cast("double"))))

  /** Even-odd ray-casting containment of (px,py) in the unclosed ring
    * given as parallel coordinate arrays.
    */
  def point_in_polygon(xs: Column, ys: Column, px: Column, py: Column): Column =
    col(PointInPolygon(expr(xs), expr(ys),
      expr(px.cast("double")), expr(py.cast("double"))))

  /** Euclidean distance from (px,py) to the ring boundary. */
  def dist_to_ring(xs: Column, ys: Column, px: Column, py: Column): Column =
    col(DistToRing(expr(xs), expr(ys),
      expr(px.cast("double")), expr(py.cast("double"))))

  /** Morton/Z-order interleave of two non-negative cell indices — the
    * spatial write-layout key (sort/range-partition by it so parquet
    * min/max stats on the raw x/y columns prune bbox scans).
    */
  def zorder_key(xcell: Column, ycell: Column): Column =
    col(ZOrderKey(expr(xcell.cast("long")), expr(ycell.cast("long"))))

  /** Codegen'd integer-centroid squared distance over the quantized
    * vector's slice starting at 0-based `offset` — the k-means / PQ
    * assignment kernel (see [[CentroidDist]]).
    */
  def centroid_dist(v: Column, offset: Int, cnt: Long, s: Array[Long]): Column =
    col(CentroidDist(expr(v), offset, cnt, s))

  /** Codegen'd left-to-right dot product of two array<double> columns
    * (NULL on length mismatch) — replaces the interpreted
    * aggregate/zip_with fold in the embedding hot path.
    */
  def vec_dot(a: Column, b: Column): Column =
    col(VecDot(expr(a), expr(b)))

  /** Codegen'd MinHash signature (numPerms mins of xxhash64(s, j)). */
  def minhash_sig(shingles: Column, numPerms: Int): Column =
    col(MinHashSig(expr(shingles), numPerms))

  /** Codegen'd 64-bit SimHash of a token array. */
  def simhash64(toks: Column): Column =
    col(SimHash64(expr(toks)))

  /** Codegen'd exact set-Jaccard of two string arrays. */
  def jaccard_sim(a: Column, b: Column): Column =
    col(JaccardSim(expr(a), expr(b)))

  /** Codegen'd word n-gram shingles of a token array. */
  def shingles(toks: Column, n: Int): Column =
    col(Shingles(expr(toks), n))

  /** Codegen'd term histogram of a token array:
    * `array<struct<term: string, tf: bigint>>`.
    */
  def term_counts(toks: Column): Column =
    col(TermCounts(expr(toks)))

  /** Codegen'd Unicode NFC normalization of a string column. */
  def nfc_normalize(s: Column): Column =
    col(NfcNormalize(expr(s.cast("string"))))

  /** Codegen'd PCM16 frame stats (energy, peak) of a binary column. */
  def pcm16_frame_stats(bin: Column, frameSamples: Int): Column =
    col(Pcm16FrameStats(expr(bin), frameSamples))

  /** Codegen'd symmetric int8 quantization: struct(codes, scale). */
  def quantize_int8(v: Column): Column =
    col(QuantizeInt8(expr(v)))

  /** Codegen'd Bloom membership probe over xxhash64 pair columns. */
  def bloom_contains(h1: Column, h2: Column, bits: Array[Long], k: Int): Column =
    col(BloomContains(expr(h1.cast("long")), expr(h2.cast("long")), bits, k))

  /** Codegen'd Bloom build-side probe positions (array of k longs). */
  def bloom_probes(h1: Column, h2: Column, k: Int, numBits: Int): Column =
    col(BloomProbes(expr(h1.cast("long")), expr(h2.cast("long")), k, numBits))
}
