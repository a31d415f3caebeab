package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Tables
import graft.streaming.EventStreams

/** Oracle-checked Structured Streaming (SURVEY.md §2.10 extension):
  * each query drives a REAL stream — file source -> stateful
  * transform -> memory sink — to completion with Trigger.AvailableNow
  * inside the query function, then returns the sink table. What's
  * under test is the micro-batch engine's stateful execution
  * (event-time state, session merge, watermark bookkeeping); the
  * DuckDB oracle recomputes the same result relationally, so the hash
  * gate pins streaming semantics against batch SQL.
  *
  * At production scale the same pipelines run unchanged against a
  * real unbounded source (Kafka/file-arrival): AvailableNow is the
  * bounded-replay trigger Spark itself recommends for backfill, so
  * the query shape here IS the deployment shape.
  */
object StreamingQueries extends QueryPack {

  private val streamSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts_utc", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Stage a bounded event set as ONE parquet file under a fresh temp
    * dir (single file -> the file source delivers it in one batch).
    */
  private def stage(df: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def runToCompletion(out: DataFrame, name: String,
      mode: String, statePartitions: Int = 8): Unit = {
    // Stateful streaming creates one state store per shuffle partition
    // per stateful operator, and EVERY micro-batch commits every
    // store. A real deployment sizes the state partition count to
    // state VOLUME, independently of the batch shuffle width — do the
    // same here: the windowed aggregates keep watermark-bounded KBs
    // of state (8 partitions; more stores would be pure commit
    // overhead), while the row-sized-state operators — stream-stream
    // join, full-row dedup, per-key near-dup state — put every batch
    // row through a state-store write, so THEIR critical path is
    // state_update CPU divided by the partition count (measured via
    // the sq_* attribution: stream_stream_join carried 42 s of
    // summed state-update time across 8 partitions on 32 cores).
    // Those pass statePartitions = cores. Results are partition-
    // count-invariant (exact aggregation/join semantics), which the
    // relational oracles re-verify every run.
    graft.GraftSession.withConf(out.sparkSession,
        "spark.sql.shuffle.partitions" -> statePartitions.toString) {
      // micro-batch attribution (sq_* rows of the bench record) comes
      // from the query's progress events — see [[graft.Profile]]
      out.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
  }

  override def queries: Seq[Q] = Seq(

    // Gap-based sessionization through flatMapGroupsWithState, driven
    // as a real stream and hash-checked against the relational
    // gaps-and-islands decomposition. A per-user SENTINEL event far
    // past every real gap closes each user's final session IN-BATCH,
    // so the emitted set is the complete decomposition regardless of
    // whether AvailableNow schedules a trailing timeout batch —
    // event-time timeouts still govern the unbounded deployment, and
    // StreamingSpec exercises them across multi-batch feeds.
    Q("stream_sessionize",
      (s, dir) => {
        val gapMs = 6L * 3600 * 1000
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val maxTs = ev.agg(max(col("ts_utc"))).first().getTimestamp(0)
        val sentinelMs = maxTs.getTime + 10 * gapMs
        val sentinels = ev.select(col("user_id")).distinct()
          .withColumn("ts_utc", timestamp_millis(lit(sentinelMs)))
          .withColumn("event_type", lit("_sentinel"))
          .withColumn("value", lit(0.0))
        val staged = stage(ev.unionByName(sentinels))
        val stream = s.readStream.schema(streamSchema).parquet(staged)
        runToCompletion(
          EventStreams.sessionize(stream, gapMs = gapMs).toDF(),
          "graft_stream_sessions", "append")
        // sentinel sessions never emit (their timeout outlives the final
        // watermark); the guard keeps that invariant explicit
        s.table("graft_stream_sessions")
          .filter(col("start_ms") < lit(sentinelMs))
      },
      Some("""
        WITH e AS (
          SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
          FROM events),
        d AS (
          SELECT user_id, ms,
                 CASE WHEN lag(ms) OVER w IS NULL
                        OR ms - lag(ms) OVER w > 21600000
                      THEN 1 ELSE 0 END AS brk
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        s AS (
          SELECT user_id, ms,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ms
                                ROWS UNBOUNDED PRECEDING) AS sess
          FROM d)
        SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
               CAST(count(*) AS INTEGER) AS n_events
        FROM s GROUP BY user_id, sess
      """.trim)),

    // Streaming exact dedup: the events are doubled (planted full-row
    // duplicates) and dropDuplicatesWithinWatermark must emit each
    // distinct row exactly once. Dedup keys are the FULL row, so the
    // kept representative is value-identical regardless of which
    // physical copy state saw first — that is what makes an
    // order-dependent operator hash-checkable.
    Q("stream_dedup",
      (s, dir) => {
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val staged = stage(ev.unionAll(ev))
        val stream = s.readStream.schema(streamSchema).parquet(staged)
        runToCompletion(
          EventStreams.dedupWithinWatermark(stream,
            Seq("user_id", "ts_utc", "event_type", "value")),
          "graft_stream_dedup", "append",
          statePartitions = s.sparkContext.defaultParallelism)
        s.table("graft_stream_dedup")
      },
      Some("""
        SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts_utc,
               event_type, value
        FROM events
      """.trim)),

    // Sliding event-time windows (2-day window, 1-day slide) as a
    // stream, Complete mode — each event lands in exactly two panes;
    // the oracle rebuilds the panes relationally (event x {0,1} day
    // shifts, epoch-aligned like Spark's window()). The aggregate is
    // the EXACT INTEGER-MOMENT form (n, sum of cents): the value
    // column is 2-decimal, so sum(value*100) is integer-valued and
    // round() recovers it identically in both engines — a
    // round(avg, 4) here DID land a pane mean exactly on a 4dp half
    // (22.86125), where Spark's HALF_UP and DuckDB's HALF_EVEN split.
    Q("stream_sliding_means",
      (s, dir) => {
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val staged = stage(ev)
        val stream = s.readStream.schema(streamSchema).parquet(staged)
        val panes = stream
          .withWatermark("ts_utc", "1 hour")
          .groupBy(window(col("ts_utc"), "2 days", "1 day"), col("user_id"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value") * 100)).cast("long").as("sum_cents"))
          .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
            col("user_id"), col("n"), col("sum_cents"))
        runToCompletion(panes, "graft_stream_sliding", "complete")
        s.table("graft_stream_sliding")
      },
      Some("""
        WITH panes AS (
          SELECT user_id, value,
                 date_trunc('day', CAST(ts AS TIMESTAMP))
                   - o * INTERVAL 1 DAY AS w_start
          FROM events
          CROSS JOIN (SELECT unnest([0, 1]) AS o) shifts)
        SELECT CAST(w_start AS TIMESTAMP) AS w_start,
               CAST(w_start + INTERVAL 2 DAY AS TIMESTAMP) AS w_end,
               user_id,
               count(*) AS n,
               CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents
        FROM panes
        GROUP BY w_start, user_id
      """.trim)),

    // Stream-static join: the event stream broadcast-joined per
    // micro-batch to the static `customer` dimension (user_id ->
    // c_custkey; user 0 has no dimension row and drops, mirrored in
    // the oracle), then a tumbling per-(day, segment, type) aggregate
    // in exact integer moments. Complete mode -> the final table is
    // the full history under any batch split.
    Q("stream_static_join",
      (s, dir) => {
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val dim = Tables(s, dir, "customer")
        val staged = stage(ev)
        val stream = s.readStream.schema(streamSchema).parquet(staged)
        runToCompletion(
          EventStreams.enrichedStats(stream, dim, "user_id", "c_custkey",
            "c_mktsegment"),
          "graft_stream_enriched", "complete")
        s.table("graft_stream_enriched")
      },
      Some("""
        SELECT CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS TIMESTAMP)
                 AS w_start,
               c.c_mktsegment, e.event_type,
               count(*) AS n,
               CAST(round(sum(e.value * 100)) AS BIGINT) AS sum_cents
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2, 3
      """.trim)),

    // Stream-stream interval join: two live streams (views and
    // purchases filtered from the same staged source) joined per user
    // within a 6-hour attribution window. Inner join + append mode:
    // with the bounded replay every qualifying pair is emitted exactly
    // once, so the oracle is the equivalent batch interval join. The
    // lag is an exact integer (epoch-ms difference), values are copied
    // parquet doubles — nothing order-sensitive.
    Q("stream_stream_join",
      (s, dir) => {
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val staged = stage(ev)
        def src = s.readStream.schema(streamSchema).parquet(staged)
        val views = src.filter(col("event_type") === "view")
        val purchases = src.filter(col("event_type") === "purchase")
        runToCompletion(
          EventStreams.intervalJoin(views, purchases, "user_id")
            .select(col("l_key").as("user_id"),
              col("l_ts").as("view_ts"),
              col("r_ts").as("purchase_ts"),
              (unix_millis(col("r_ts")) - unix_millis(col("l_ts"))).as("lag_ms"),
              col("l_value").as("view_value"),
              col("r_value").as("purchase_value")),
          "graft_stream_joined", "append",
          statePartitions = s.sparkContext.defaultParallelism)
        s.table("graft_stream_joined")
      },
      Some("""
        SELECT v.user_id,
               CAST(v.ts AS TIMESTAMP) AS view_ts,
               CAST(p.ts AS TIMESTAMP) AS purchase_ts,
               epoch_ms(CAST(p.ts AS TIMESTAMP))
                 - epoch_ms(CAST(v.ts AS TIMESTAMP)) AS lag_ms,
               v.value AS view_value,
               p.value AS purchase_value
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 6 HOUR
      """.trim)),

    // Streaming near-duplicate GATE (CorpusStreams.nearDupGate): the
    // documents-with-planted-dups corpus arrives as a stream (event
    // time = doc_id seconds, so planted copies arrive after their
    // originals) and every doc is checked against stream history via
    // stateful MinHash buckets + exact-Jaccard verify. Kept = docs
    // with no earlier verified near-dup. The oracle replays the
    // batch truth set (all-pairs 3-gram Jaccard >= 0.5, dropped =
    // every id2 of a truth pair) — valid for the same measured
    // reason as llm_minhash_neardup: banding recall is 1.0 over the
    // j >= 0.5 truth set on this corpus, so bucket-sharing never
    // misses a truth pair.
    Q("stream_neardup_gate",
      (s, dir) => {
        val all = LlmQueries.docsWithPlanted(s, dir)
          .select(col("doc_id"),
            timestamp_millis(lit(1577836800000L) + col("doc_id") * 1000)
              .as("ts_utc"),
            col("text"))
        val staged = stage(all)
        val docSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("ts_utc", TimestampType),
          StructField("text", StringType)))
        val stream = s.readStream.schema(docSchema).parquet(staged)
        runToCompletion(graft.streaming.CorpusStreams.nearDupGate(stream),
          "graft_stream_neardup", "append",
          statePartitions = s.sparkContext.defaultParallelism)
        s.table("graft_stream_neardup")
          .groupBy(col("doc_id"))
          .agg(max(when(col("dup"), 1).otherwise(0)).as("_d"))
          .filter(col("_d") === 0)
          .select(col("doc_id"))
      },
      Some(s"""
        WITH ${LlmQueries.plantedPairCtes},
        dropped AS (SELECT DISTINCT id2 AS doc_id FROM pairs WHERE j >= 0.5)
        SELECT d.doc_id
        FROM all_docs d LEFT JOIN dropped x ON d.doc_id = x.doc_id
        WHERE x.doc_id IS NULL
      """.trim)),

    // Daily unique-user ESTIMATE as a stream: the KMV sketch
    // (ops/Sketches.KmvAgg, k=64) as a typed Aggregator inside a
    // tumbling-window streaming aggregation. State per window is the
    // sorted <=k smallest distinct hashes — O(k), merged
    // order-independently across micro-batches, evicted with the
    // window — so the estimate is bit-identical to the batch sketch
    // and the relational oracle replays it exactly. This is the
    // streaming cardinality shape a 100-TB ingest dashboard runs
    // (approximate uniques per window, bounded state, mergeable).
    Q("stream_kmv_users",
      (s, dir) => {
        val k = 64
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val staged = stage(ev)
        val stream = s.readStream.schema(streamSchema).parquet(staged)
        val kmv = udaf(new graft.ops.Sketches.KmvAgg(k))
        val u = expr("cast(conv(substring(md5(concat(cast(user_id as string), " +
          "'#kmv')), 1, 13), 16, 10) as long)")
        val out = stream
          .withWatermark("ts_utc", "1 hour")
          .select(window(col("ts_utc"), "1 day").as("w"), u.as("u"))
          // a null user_id hashes to a null u; the typed Aggregator's
          // primitive Long input would decode it as 0L and occupy the
          // sketch's smallest slot — filter it exactly like the batch
          // kmvDistinct does
          .filter(col("u").isNotNull)
          .groupBy(col("w"))
          .agg(kmv(col("u")).as("s"))
          .select(col("w.start").as("w_start"),
            col("s.k_actual"), col("s.kth_min_u"), col("s.est_distinct"))
        runToCompletion(out, "graft_stream_kmv", "complete")
        s.table("graft_stream_kmv")
      },
      Some("""
        WITH u AS (
          SELECT DISTINCT
                 CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS w_start,
                 CAST(concat('0x', substring(md5(concat(
                   CAST(user_id AS VARCHAR), '#kmv')), 1, 13)) AS BIGINT) AS u
          FROM events),
        r AS (
          SELECT w_start, u,
                 row_number() OVER (PARTITION BY w_start ORDER BY u) AS rn
          FROM u),
        t AS (SELECT w_start, u FROM r WHERE rn <= 64)
        SELECT w_start, count(*) AS k_actual, max(u) AS kth_min_u,
               CASE WHEN count(*) < 64 THEN count(*)
                    ELSE 283726776524341248 // max(u) END AS est_distinct
        FROM t GROUP BY w_start
      """.trim)),

    // Tumbling event-time window aggregation as a stream, Complete
    // output mode (every window re-emitted each batch -> the final
    // table is the full history, deterministic under any batch split).
    Q("stream_window_counts",
      (s, dir) => {
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val staged = stage(ev)
        val stream = s.readStream.schema(streamSchema).parquet(staged)
        runToCompletion(EventStreams.tumblingStats(stream),
          "graft_stream_windows", "complete")
        s.table("graft_stream_windows")
      },
      Some("""
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                 AS w_start,
               event_type,
               count(*) AS n,
               CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents
        FROM events
        GROUP BY 1, 2
      """.trim)),

    // Streaming Count-Min grid (ops/CountMin.scala): the per-window
    // frequency sketch BUILT BY THE STREAM — every counter is a pure
    // sum, so the micro-batch engine's merge order cannot perturb the
    // state (the same property that makes the batch CMS oracle-exact
    // makes the streaming one micro-batch-split-proof). The stream
    // materializes the d=2 x w=64 grid per 1-day window (bounded
    // state: days x d x w cells); the probe is then a BATCH broadcast
    // join of each window's exact top-3 users against the streamed
    // grid — the lambda-architecture read path, except both halves
    // come out of one engine and the est >= exact theorem is a hashed
    // gate column. At 100 TB the grid is the only state the stream
    // keeps, and the probe never rescans the stream.
    Q("stream_cms_counts",
      (s, dir) => {
        val d = 2; val w = 64
        val ev = Tables.eventsWithTime(s, dir)
          .select(col("user_id"), col("ts_utc"), col("event_type"), col("value"))
        val staged = stage(ev)
        val stream = s.readStream.schema(streamSchema).parquet(staged)
        def cells(user: org.apache.spark.sql.Column) =
          explode(array((0 until d).map(i => struct(lit(i).as("i"),
            graft.ops.CountMin.bucket(user.cast("string"), i, d, w)
              .as("bucket"))): _*))
        val grid = stream
          .withWatermark("ts_utc", "1 hour")
          // null user_id: excluded exactly like the KMV row — its md5
          // would be null and a null bucket is not a counter
          .filter(col("user_id").isNotNull)
          .select(window(col("ts_utc"), "1 day").as("wnd"),
            cells(col("user_id")).as("cell"))
          .groupBy(col("wnd"), col("cell.i").as("i"),
            col("cell.bucket").as("bucket"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("wnd.start").as("w_start"), col("i"), col("bucket"),
            col("cnt"))
        runToCompletion(grid, "graft_stream_cms", "complete")
        val sk = s.table("graft_stream_cms")
        // batch probe over the same bounded event set: exact top-3
        // users per day (deterministic count-desc/user-asc tie-break)
        val byDay = org.apache.spark.sql.expressions.Window
          .partitionBy("w_start")
          .orderBy(col("n_exact").desc, col("user_id").asc)
        val probes = ev.filter(col("user_id").isNotNull)
          .groupBy(date_trunc("DAY", col("ts_utc")).as("w_start"),
            col("user_id"))
          .agg(count(lit(1)).as("n_exact"))
          .withColumn("rn", row_number().over(byDay))
          .filter(col("rn") <= 3).drop("rn")
        val probeCells = probes.select(col("w_start"), col("user_id"),
          col("n_exact"), cells(col("user_id")).as("cell"))
          .select(col("w_start"), col("user_id"), col("n_exact"),
            col("cell.i").as("i"), col("cell.bucket").as("bucket"))
        sk.join(broadcast(probeCells), Seq("w_start", "i", "bucket"))
          .groupBy(col("w_start"), col("user_id"), col("n_exact"))
          .agg(min(col("cnt")).as("cms_est"))
          .select(col("w_start"), col("user_id"), col("n_exact"),
            col("cms_est"), (col("cms_est") >= col("n_exact")).as("ok_lower"))
      },
      Some("""
        WITH e AS (
          SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS w_start,
                 user_id, CAST(user_id AS VARCHAR) AS term
          FROM events WHERE user_id IS NOT NULL),
        cells AS (
          SELECT w_start, i.i,
                 CAST(concat('0x', substring(md5(term || '#cms'),
                   i.i * 13 + 1, 13)) AS BIGINT) % 64 AS bucket
          FROM e, (SELECT unnest(range(2)) AS i) i),
        sk AS (
          SELECT w_start, i, bucket, count(*) AS cnt
          FROM cells GROUP BY w_start, i, bucket),
        x AS (
          SELECT w_start, user_id, term, count(*) AS n_exact
          FROM e GROUP BY w_start, user_id, term),
        p AS (
          SELECT w_start, user_id, term, n_exact, row_number() OVER (
                   PARTITION BY w_start
                   ORDER BY n_exact DESC, user_id ASC) AS rn
          FROM x),
        pc AS (
          SELECT p.w_start, p.user_id, p.n_exact, i.i,
                 CAST(concat('0x', substring(md5(p.term || '#cms'),
                   i.i * 13 + 1, 13)) AS BIGINT) % 64 AS bucket
          FROM p, (SELECT unnest(range(2)) AS i) i
          WHERE p.rn <= 3)
        SELECT pc.w_start, pc.user_id, pc.n_exact, min(sk.cnt) AS cms_est,
               min(sk.cnt) >= pc.n_exact AS ok_lower
        FROM pc JOIN sk ON sk.w_start = pc.w_start AND sk.i = pc.i
                       AND sk.bucket = pc.bucket
        GROUP BY pc.w_start, pc.user_id, pc.n_exact
      """.trim))
  )
}
