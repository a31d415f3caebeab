package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Multimodal

/** Multimodal binary-column plumbing + the M4 ice-volume time series.
  * documents.text stands in for media bytes (cast to binary) in the
  * byte-level operators; mm_decode_features runs a REAL codec loop —
  * deterministic PNGs encoded and decoded through javax.imageio, with
  * the DuckDB oracle replaying the closed-form pixel spec.
  */
object MediaQueries extends QueryPack {

  /** The perceptual-hash image set of mm_phash_dedup and
    * mm_phash_neardup: one synthetic PNG per document (seeded by
    * doc_id, 4-8 x 3-6 pixels) plus a planted copy of every 7th with
    * red of pixel (0,0) raised by one (a real re-encode), doc_id
    * offset by 100000.
    */
  private def phashImages(s: SparkSession, dir: String): DataFrame = {
    val spec = Tables(s, dir, "documents")
      .select(col("doc_id"), col("doc_id").as("seed"),
        (col("doc_id") % 5 + 4).cast("int").as("w"),
        (col("doc_id") % 4 + 3).cast("int").as("h"),
        lit(0).cast("int").as("delta"))
    val planted = spec.filter(col("seed") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("delta", lit(1).cast("int"))
    Multimodal.encodeSyntheticPngDelta(
      spec.unionByName(planted), "seed", "w", "h", "delta")
  }

  /** [[phashImages]] and their 64-bit aHash replayed in SQL as the CTE
    * chain `spec0, spec, cells, lum, tot, ph(doc_id, phash)`: encode,
    * perturbation, 8x8 nearest-neighbour resample, luma and bit
    * packing, without decoding an image.
    */
  private val phashCtes: String = """WITH spec0 AS (
          SELECT doc_id, doc_id AS seed,
                 doc_id % 5 + 4 AS w, doc_id % 4 + 3 AS h, 0 AS delta
          FROM documents),
        spec AS (
          SELECT * FROM spec0
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, seed, w, h, 1 AS delta
          FROM spec0 WHERE seed % 7 = 0),
        cells AS (
          SELECT doc_id, seed, delta,
                 gy.g * 8 + gx.g AS p,
                 (gx.g * w) // 8 AS sx, (gy.g * h) // 8 AS sy
          FROM spec,
               LATERAL unnest(generate_series(0, 7)) gx(g),
               LATERAL unnest(generate_series(0, 7)) gy(g)),
        lum AS (
          SELECT doc_id, p,
                 299 * ((seed * 7 + sx * 13 + sy * 31
                         + CASE WHEN sx = 0 AND sy = 0 THEN delta ELSE 0 END) % 256)
               + 587 * ((seed * 11 + sx * 17 + sy * 29) % 256)
               + 114 * ((seed * 13 + sx * 19 + sy * 23) % 256) AS luma
          FROM cells),
        tot AS (
          SELECT doc_id, p, luma,
                 sum(luma) OVER (PARTITION BY doc_id) AS total
          FROM lum),
        ph AS (
          -- bit 63 is the sign bit: 1<<63 overflows DuckDB's checked
          -- BIGINT shift, so it is spelled as long-min; sum() runs in
          -- HUGEINT, and the final cast recovers the signed 64-bit
          -- hash exactly as Spark's wrapping 1L<<63 produces it
          SELECT doc_id,
                 CAST(sum(CASE
                   WHEN 64 * luma <= total THEN 0
                   WHEN p = 63 THEN -9223372036854775807 - 1
                   ELSE CAST(1 AS BIGINT) << p END) AS BIGINT) AS phash
          FROM tot GROUP BY doc_id)"""

  override def queries: Seq[Q] = Seq(

    // Binary features: size/hash/head — oracle-checked byte-exact
    // (ascii text -> UTF8 bytes match DuckDB's encode()).
    Q("mm_binary_features",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .withColumn("media", col("text").cast("binary"))
        Multimodal.byteFeatures(d, "media")
          .select(col("doc_id"), col("n_bytes"), col("content_md5"), col("head_hex"))
      },
      Some("""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS content_md5,
               upper(hex(encode(substring(text, 1, 8)))) AS head_hex
        FROM documents
      """.trim)),

    // Frame sampling over the byte stream: 4-byte "frames" every 32
    // bytes, first 5 — pure columnar slicing, oracle-mirrored.
    Q("mm_frame_sample",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .withColumn("media", col("text").cast("binary"))
        d.select(col("doc_id"),
          Multimodal.sampleFrames(col("media"), frameSize = 4, stride = 32,
            maxFrames = 5).as("frames"))
          .select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_no", "frame_hex")))
      },
      Some("""
        SELECT doc_id, u.i - 1 AS frame_no,
               upper(hex(encode(substring(text, (u.i - 1) * 32 + 1, 4)))) AS frame_hex
        FROM documents,
             LATERAL unnest(generate_series(1,
               CASE WHEN octet_length(encode(text)) < 4 THEN 0
                    ELSE greatest(least((octet_length(encode(text)) - 4) // 32 + 1, 5), 1)
               END)) u(i)
      """.trim)),

    // REAL codec round trip: per doc, build a deterministic RGB image
    // from a closed-form pixel spec, encode it as an actual PNG
    // (javax.imageio, in-JDK), decode it back with the same codec, and
    // emit width/height + exact per-channel pixel sums. The DuckDB
    // oracle replays the pixel spec in SQL — it never decodes an image
    // — so a hash match proves the encode->decode loop reproduced
    // every pixel. Both mapPartitions stages keep the
    // per-partition-codec-init shape a real media pipeline needs.
    Q("mm_decode_features",
      (s, dir) => {
        val spec = Tables(s, dir, "documents")
          .select(col("doc_id"),
            (col("doc_id") % 5 + 4).cast("int").as("w"),
            (col("doc_id") % 4 + 3).cast("int").as("h"))
        val withPng = Multimodal.encodeSyntheticPng(spec, "doc_id", "w", "h")
        Multimodal.decodeImageFeatures(withPng, "media")
          .select(col("doc_id"), col("width"), col("height"),
            col("sum_r"), col("sum_g"), col("sum_b"))
      },
      Some("""
        WITH spec AS (
          SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 4 + 3 AS h
          FROM documents),
        px AS (
          SELECT doc_id, w, h, xs.x AS x, ys.y AS y
          FROM spec,
               LATERAL unnest(generate_series(0, w - 1)) xs(x),
               LATERAL unnest(generate_series(0, h - 1)) ys(y))
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256) AS BIGINT) AS sum_r,
               CAST(SUM((doc_id * 11 + x * 17 + y * 29) % 256) AS BIGINT) AS sum_g,
               CAST(SUM((doc_id * 13 + x * 19 + y * 23) % 256) AS BIGINT) AS sum_b
        FROM px GROUP BY doc_id, w, h
      """.trim)),

    // REAL resize loop: encode -> decode -> nearest-neighbor
    // downsample (factor 2, out = ceil(in/2), sample (2x, 2y)) ->
    // re-encode, features computed from the RESIZED image. The oracle
    // replays the sampling spec over the closed-form pixels — a hash
    // match proves the codec round trip and the exact resample
    // geometry together.
    Q("mm_resize_features",
      (s, dir) => {
        val spec = Tables(s, dir, "documents")
          .select(col("doc_id"),
            (col("doc_id") % 5 + 4).cast("int").as("w"),
            (col("doc_id") % 4 + 3).cast("int").as("h"))
        val withPng = Multimodal.encodeSyntheticPng(spec, "doc_id", "w", "h")
        Multimodal.resizeImageFeatures(withPng, "media", factor = 2)
          .select(col("doc_id"), col("out_width"), col("out_height"),
            col("sum_r"), col("sum_g"), col("sum_b"))
      },
      Some("""
        WITH spec AS (
          SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 4 + 3 AS h
          FROM documents),
        px AS (
          SELECT doc_id, (w + 1) // 2 AS ow, (h + 1) // 2 AS oh,
                 2 * xs.x AS x, 2 * ys.y AS y
          FROM spec,
               LATERAL unnest(generate_series(0, (w + 1) // 2 - 1)) xs(x),
               LATERAL unnest(generate_series(0, (h + 1) // 2 - 1)) ys(y))
        SELECT doc_id,
               CAST(ow AS INTEGER) AS out_width,
               CAST(oh AS INTEGER) AS out_height,
               CAST(SUM((doc_id * 7 + x * 13 + y * 31) % 256) AS BIGINT) AS sum_r,
               CAST(SUM((doc_id * 11 + x * 17 + y * 29) % 256) AS BIGINT) AS sum_g,
               CAST(SUM((doc_id * 13 + x * 19 + y * 23) % 256) AS BIGINT) AS sum_b
        FROM px GROUP BY doc_id, ow, oh
      """.trim)),

    // Perceptual-hash (aHash) image dedup: encode -> REAL decode ->
    // 8x8 nearest-neighbor luma grid -> 64-bit average hash ->
    // exact-hash groupBy (the production fast tier; hamming-tolerant
    // banding composes with the SimHash pair machinery unchanged —
    // both are 64-bit signatures). Planted one-pixel-perturbed copies
    // (delta=+1 on red of pixel (0,0), a real re-encode) must collide
    // with their originals wherever the bit pattern survives — and
    // the closed-form oracle replays encode, perturbation, resample,
    // luma, and bit packing entirely in SQL, so the whole loop is
    // hash-gated without the oracle decoding an image.
    Q("mm_phash_dedup",
      (s, dir) => {
        Multimodal.perceptualHash(phashImages(s, dir), "media")
          .groupBy(col("phash"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("keep_doc"),
            max(col("doc_id")).as("max_doc"))
          .filter(col("n_docs") >= 2)
      },
      Some(s"""
        $phashCtes
        SELECT phash, count(*) AS n_docs,
               min(doc_id) AS keep_doc, max(doc_id) AS max_doc
        FROM ph GROUP BY phash HAVING count(*) >= 2
      """.trim)),

    // Hamming-tolerant image near-dup PAIRS: the perceptual hashes
    // band into 4 x 16-bit blocks with C(4,2)=6 pair keys — by
    // pigeonhole, <= 2 differing bits leave >= 2 clean blocks whose
    // pair key matches, so banding recall at hamming <= 2 is
    // DETERMINISTIC and the banded equi-join provably equals the
    // oracle's brute-force pair scan. Same planted one-pixel
    // perturbations as mm_phash_dedup; at corpus scale candidates are
    // bucket-local, never all-pairs.
    Q("mm_phash_neardup",
      (s, dir) => {
        val sig = Multimodal.perceptualHash(phashImages(s, dir), "media")
          .select(col("doc_id"), col("phash"))
          .persist()
        // Factor the pair search by HASH CLASS: real image corpora
        // carry heavy exact-duplicate classes (here every seed%256
        // collision), and pairing docs directly makes the banded join
        // do |class|^2 hamming evaluations x 6 bands per class. The
        // hamming decision only depends on the hash VALUES, so band
        // and verify DISTINCT hashes (linear in distinct values), then
        // expand verified hash pairs back to doc pairs — the
        // unavoidable quadratic part is pure output emission, one row
        // per reported pair, with no kernel work attached.
        def block(k: Int) =
          call_function("shiftrightunsigned", col("phash"), lit(k * 16))
            .bitwiseAND(lit(0xFFFFL))
        val keys = for { i <- 0 until 4; j <- (i + 1) until 4 } yield struct(
          lit(i * 4 + j).as("band"),
          shiftleft(block(i), 16).bitwiseOR(block(j)).as("bits"))
        val classes = sig.select(col("phash")).distinct()
        val bandedC = classes.select(col("phash"), inline(array(keys: _*)))
        val classPairs = bandedC.as("a").join(bandedC.as("b"),
            col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
              col("a.phash") < col("b.phash"))
          .select(col("a.phash").as("pa"), col("b.phash").as("pb"),
            graft.ops.NearDup.hamming64(col("a.phash"), col("b.phash"))
              .as("hamming"))
          .filter(col("hamming") <= 2)
          .distinct()
        val cross = sig.select(col("phash").as("pa"), col("doc_id").as("ida"))
          .join(classPairs, "pa")
          .join(sig.select(col("phash").as("pb"), col("doc_id").as("idb")), "pb")
          .select(least(col("ida"), col("idb")).as("id1"),
            greatest(col("ida"), col("idb")).as("id2"), col("hamming"))
        val within = sig.as("a").join(sig.as("b"),
            col("a.phash") === col("b.phash") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
            graft.ops.NearDup.hamming64(col("a.phash"), col("b.phash"))
              .as("hamming"))
        cross.unionByName(within)
      },
      Some(s"""
        $phashCtes
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 2
      """.trim)),

    // M4 ice-volume time series (lake_algorithms.py:76-227): rolling
    // 7-day mean height anomaly x lake area -> dvol with uncertainty.
    // Exact integer-cents moments keep both engines hash-identical.
    Q("m4_ice_volume",
      (s, dir) => {
        val area = 2.5
        val ev = Tables(s, dir, "events")
          .withColumn("ts_us", expr("ts div 1000"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        val wFirst = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val anom = ev.withColumn("anom_c",
          col("cents") - first(col("cents")).over(wFirst))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"))
          .rangeBetween(-7L * 86400L * 1000000L, 0L)
        val n = count(col("anom_c")).over(w)
        val s1 = sum(col("anom_c")).over(w)
        val s2 = sum(col("anom_c") * col("anom_c")).over(w)
        // mirrored double moments — see w1_rolling_range: the all-long
        // form overflows where DuckDB's HUGEINT doesn't
        val m = n.cast("double") * s2.cast("double") -
          s1.cast("double") * s1.cast("double")
        anom.select(col("event_id"), col("user_id"),
          (call_function("div", s1 * lit(100L), n).cast("double") / lit(10000.0) * lit(area))
            .as("dvol"),
          round(when(n > 1,
            sqrt(greatest(m, lit(0.0)) / (n * (n - lit(1))).cast("double")) / lit(100.0) * lit(area))
            .otherwise(lit(0.0)), 4).as("dvol_std"))
      },
      Some("""
        WITH c AS (
          SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        a AS (
          SELECT event_id, user_id, ts_us,
                 cents - first_value(cents) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id) AS anom_c
          FROM c),
        wsum AS (
          SELECT event_id, user_id,
                 count(anom_c) OVER w AS n,
                 sum(anom_c) OVER w AS s1,
                 sum(anom_c * anom_c) OVER w AS s2
          FROM a
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                       RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id,
               CAST((s1 * 100) // n AS DOUBLE) / 10000.0 * 2.5 AS dvol,
               round(CASE WHEN n > 1
                 THEN sqrt(greatest(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0)
                           / CAST(n * (n - 1) AS DOUBLE)) / 100.0 * 2.5
                 ELSE 0.0 END, 4) AS dvol_std
        FROM wsum
      """.trim)),

    // REAL audio decode: the binary column read as raw little-endian
    // PCM16 (WAV's sample encoding), framed into 16-sample windows;
    // per-frame energy (exact integer sum of squares) and peak
    // amplitude. All codegen'd built-ins (substr/conv/fold) — scan
    // speed, no UDF. The oracle replays byte-pair assembly via
    // ascii() on the ASCII fixture text; sign handling is pinned on
    // crafted negative samples in MultimodalSpec.
    Q("mm_audio_energy",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .withColumn("media", col("text").cast("binary"))
        d.select(col("doc_id"),
          posexplode(graft.ops.Multimodal.pcm16FrameEnergy(
            col("media"), frameSamples = 16)).as(Seq("frame_no", "f")))
          .select(col("doc_id"), col("frame_no"),
            col("f.energy").as("energy"), col("f.peak").as("peak"))
      },
      Some("""
        WITH f AS (
          SELECT doc_id, text,
                 CAST(octet_length(encode(text)) // 32 AS BIGINT) AS nf
          FROM documents),
        fr AS (
          SELECT doc_id, CAST(t.f AS INTEGER) AS frame_no, text
          FROM f, LATERAL unnest(generate_series(0, nf - 1)) t(f)
          WHERE nf > 0),
        v AS (
          SELECT doc_id, frame_no,
                 (SELECT CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
                  FROM (SELECT ascii(substring(text, frame_no*32 + 2*u.i + 1, 1))
                             + 256 * ascii(substring(text, frame_no*32 + 2*u.i + 2, 1)) AS raw)) AS s
          FROM fr, LATERAL unnest(generate_series(0, 15)) u(i))
        SELECT doc_id, frame_no,
               CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
               max(abs(s)) AS peak
        FROM v GROUP BY doc_id, frame_no
      """.trim))
  )
}
