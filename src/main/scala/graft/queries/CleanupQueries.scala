package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Filter / cleanup / scalar-function family (SURVEY.md §2.2
  * P4-P13, §2.4 A2/A3/A9/A10/A12, §2.6 U1, §2.7 F4/F5/F7/F9/F11/F13).
  *
  * All are single-pass declarative plans: filters push into the scan,
  * aggregates are partial+final, the only join is a broadcast of a
  * 1-row global-stats table (clip/MAD), so every query here survives a
  * 100x scale-up unchanged.
  */
object CleanupQueries extends QueryPack {

  override def queries: Seq[Q] = Seq(

    // P4 absolute-threshold filter (atlxi_lake.py:106-110 noise floor)
    // + band filter lo < |v| < hi (vizplots.py:78-81).
    Q("p4_abs_threshold",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .filter(abs(col("l_discount") - lit(0.05)) > lit(0.03))
          .filter(col("l_extendedprice") > lit(1000.0) &&
            col("l_extendedprice") < lit(50000.0))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        WHERE abs(l_discount - 0.05) > 0.03
          AND l_extendedprice > 1000.0 AND l_extendedprice < 50000.0
        GROUP BY l_returnflag
      """.trim)),

    // P5 string-expression filter (pandas .query analogue,
    // atlxi_dhdt.py:426,435,451): Spark SQL expression string.
    Q("p5_expr_filter",
      (s, dir) => {
        Tables(s, dir, "orders")
          .filter(expr(
            "abs(o_totalprice) > 50000 AND o_orderstatus = 'F' AND o_custkey % 7 = 0"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE abs(o_totalprice) > 50000 AND o_orderstatus = 'F'
          AND o_custkey % 7 = 0
      """.trim)),

    // P6/P8 conditional masking to null + null-dropping
    // (atl11_play.py:128, extraload.py:200): mask error-event values,
    // then na.drop the masked rows.
    Q("p6_p8_mask_dropna",
      (s, dir) => {
        Tables(s, dir, "events")
          .withColumn("value_ok",
            when(col("event_type") =!= lit("error"), col("value")))
          .na.drop(Seq("value_ok"))
          // integer-cents truncating mean: round(avg(double), 4) can
          // land on a 4dp half where the engines' rounding modes
          // split. Sign safety (here and at every `div`-mean in the
          // query packs): Spark `div` truncates toward zero and so
          // does DuckDB's INTEGER `//` (checked: SELECT -7 // 2 = -3;
          // only DOUBLE `//` floors there) — the two sides agree for
          // any sign of the sum, not just the nonnegative fixtures.
          .withColumn("cents", round(col("value_ok") * 100).cast("long"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            (expr("sum(cents) * 100 div count(1)").cast("double") / 10000.0)
              .as("avg_value"))
      },
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    * 100 // count(*) AS DOUBLE) / 10000.0 AS avg_value
        FROM events
        WHERE event_type <> 'error'
        GROUP BY event_type
      """.trim)),

    // P9 quality-equality filter (atl06_play.py:396).
    Q("p9_quality_filter",
      (s, dir) => {
        Tables(s, dir, "events")
          .filter(col("event_type") === lit("purchase"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum(col("value")), 2).as("total_value"))
      },
      Some("""
        SELECT user_id, count(*) AS n_purchases,
               round(sum(value), 2) AS total_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
      """.trim)),

    // P10 clip to mean±3σ (atlxi_lake.py:115-120): two-phase — global
    // stats (1 row) broadcast-joined back, then greatest/least clamp.
    Q("p10_clip_3sigma",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val stats = li.agg(
          avg(col("l_extendedprice")).as("mu"),
          stddev_samp(col("l_extendedprice")).as("sigma"))
        li.crossJoin(broadcast(stats))
          .withColumn("clipped",
            greatest(least(col("l_extendedprice"), col("mu") + lit(3) * col("sigma")),
              col("mu") - lit(3) * col("sigma")))
          .groupBy(col("l_returnflag"))
          .agg(round(avg(col("clipped")), 4).as("avg_clipped"),
            round(max(col("clipped")), 4).as("max_clipped"),
            count(lit(1)).as("n"))
      },
      Some("""
        WITH stats AS (
          SELECT avg(l_extendedprice) AS mu, stddev_samp(l_extendedprice) AS sigma
          FROM lineitem)
        SELECT l_returnflag,
               round(avg(greatest(least(l_extendedprice, mu + 3 * sigma),
                                  mu - 3 * sigma)), 4) AS avg_clipped,
               round(max(greatest(least(l_extendedprice, mu + 3 * sigma),
                                  mu - 3 * sigma)), 4) AS max_clipped,
               count(*) AS n
        FROM lineitem, stats
        GROUP BY l_returnflag
      """.trim)),

    // P11 deterministic row sampling: key-hash modulo — the
    // distributed-reproducible form of sample(random_state=42)
    // (atl06_play.py:400); same subset on every engine/run.
    Q("p11_sample_deterministic",
      (s, dir) => {
        Tables(s, dir, "orders")
          // key bounded BEFORE the Knuth multiply: |key % 1e9+7| * 2.65e9
          // stays under Long.Max, so huge keys can't overflow (ANSI
          // throw on Spark, Out of Range on DuckDB) — same subset for
          // every key below 1e9+7, incl. all fixture keys
          .filter(((col("o_orderkey") % lit(1000000007L)) * lit(2654435761L)) % lit(100) < lit(5))
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      Some("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE ((o_orderkey % 1000000007) * 2654435761) % 100 < 5
      """.trim)),

    // P12 distinct rows (atlxi_xover.py:242).
    Q("p12_distinct",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"))
          .distinct()
      },
      Some("""
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      """.trim)),

    // A3 MAD: median(|x − median(x)|) per group, exact two-stage
    // (atlxi_lake.py:260-274, spatiotemporal.py:404-411). The per-key
    // median table is small → broadcast back; two shuffles total on
    // the same key (AQE coalesces).
    Q("a3_mad",
      (s, dir) => {
        // r16: ONE-scan fused median+MAD (ExactMedian.medianAndMad)
        // replaces the two BUILTIN-median passes. The round-7 A/B that
        // kept the builtin compared it against TWO separate counting
        // chains (each with its own scan + shuffle + window) and
        // correctly lost; the fused form scans lineitem once and
        // derives both medians from one per-group (flag, value) rank
        // table (windows over one group exchange — guide §2.4).
        // Bit-identical to the builtin pair on any double
        // (ExactMedianSpec pins it); oracle unchanged.
        val li = Tables(s, dir, "lineitem")
        graft.ops.ExactMedian.medianAndMad(
            li, Seq("l_returnflag"), "l_extendedprice", "med", "mad", "n")
          .select(col("l_returnflag"),
            round(col("med"), 4).as("median_price"),
            round(col("mad"), 4).as("mad_price"))
      },
      Some("""
        WITH med AS (
          SELECT l_returnflag AS rf, median(l_extendedprice) AS med
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag,
               round(max(med), 4) AS median_price,
               round(median(abs(l_extendedprice - med)), 4) AS mad_price
        FROM lineitem JOIN med ON l_returnflag = rf
        GROUP BY l_returnflag
      """.trim)),

    // A9 distinct counts (atlxi_lake.py:230,298; atlxi_xover.py:160-165).
    Q("a9_count_distinct",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_orderkey")).as("n_orders"),
            countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"))
      },
      Some("""
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n_orders,
               count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
        FROM lineitem
        GROUP BY l_returnflag
      """.trim)),

    // A10 distinct-set string aggregation (atlxi_lake.py:281-283
    // refgtracks "|"-join of sorted unique ids).
    Q("a10_string_agg_set",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(concat_ws("|",
            sort_array(collect_set(col("event_type")))).as("types"))
      },
      Some("""
        SELECT user_id,
               string_agg(DISTINCT event_type, '|' ORDER BY event_type) AS types
        FROM events
        GROUP BY user_id
      """.trim)),

    // A10 again, but through the hot-key-safe two-phase shape
    // (ops/Skew.saltedSetAgg): (key, value-hash salt) partial sets,
    // then a salts-bounded merge — the skew cure for set-building
    // aggregation where one key holds a large fraction of a 100-TB
    // table. Output is EXACTLY the unsalted aggregation (sets are
    // order-free), so the same oracle gates both plans; ExplainSpec
    // pins the two-Exchange shape.
    Q("a10_salted_agg",
      (s, dir) => {
        graft.ops.Skew.saltedSetAgg(
            Tables(s, dir, "events"), "user_id", "event_type", "set", salts = 16)
          .select(col("user_id"), concat_ws("|", col("set")).as("types"))
      },
      Some("""
        SELECT user_id,
               string_agg(DISTINCT event_type, '|' ORDER BY event_type) AS types
        FROM events
        GROUP BY user_id
      """.trim)),

    // A12 signed-label counting (atlxi_lake.py:297-302
    // draining/filling split).
    Q("a12_signed_count",
      (s, dir) => {
        Tables(s, dir, "events")
          .withColumn("signed", col("value") - lit(100.0))
          .agg(
            sum(when(col("signed") < 0, 1).otherwise(0)).as("n_neg"),
            sum(when(col("signed") > 0, 1).otherwise(0)).as("n_pos"),
            sum(when(col("signed") === 0, 1).otherwise(0)).as("n_zero"))
      },
      Some("""
        SELECT CAST(sum(CASE WHEN value - 100.0 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
               CAST(sum(CASE WHEN value - 100.0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN value - 100.0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        FROM events
      """.trim)),

    // F4/F5 timestamp ± interval and date_format
    // (vizplots.py:385-391; atlxi_lake.py:469).
    Q("f4_f5_time_arith",
      (s, dir) => {
        Tables(s, dir, "orders")
          .withColumn("due", col("o_orderdate") + expr("INTERVAL 91 DAYS"))
          .groupBy(date_format(col("due"), "yyyy-MM").as("due_month"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("month_total"))
      },
      Some("""
        SELECT strftime(o_orderdate + INTERVAL 91 DAY, '%Y-%m') AS due_month,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS month_total
        FROM orders
        GROUP BY 1
      """.trim)),

    // F7 track-id format/split (extraload.py:170, atlxi_xover.py:126):
    // "0042_pt2"-style ids built then parsed back.
    Q("f7_track_id_format",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .withColumn("track_id", concat(
            lpad(col("l_suppkey").cast("string"), 4, "0"),
            lit("_pt"), (col("l_linenumber") % 3 + 1).cast("string")))
          .withColumn("rgt_back",
            substring(col("track_id"), 1, 4).cast("int"))
          .withColumn("pair_back", split(col("track_id"), "_").getItem(1))
          .groupBy(col("pair_back"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("rgt_back")).as("n_rgt"),
            min(col("track_id")).as("first_track"))
      },
      Some("""
        WITH t AS (
          SELECT lpad(CAST(l_suppkey AS VARCHAR), 4, '0')
                   || '_pt' || CAST(l_linenumber % 3 + 1 AS VARCHAR) AS track_id
          FROM lineitem)
        SELECT string_split(track_id, '_')[2] AS pair_back,
               count(*) AS n,
               count(DISTINCT CAST(track_id[1:4] AS INTEGER)) AS n_rgt,
               min(track_id) AS first_track
        FROM t
        GROUP BY 1
      """.trim)),

    // F9 fixed-edge binning (extraload.py:162-166 y_atc -> pt1/pt2/pt3)
    // + F13 replace/mask of a label value (atlxi_lake.py:239).
    Q("f9_f13_bin_mask",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .withColumn("bin",
            when(col("l_quantity") < 17, "pt1")
              .when(col("l_quantity") <= 34, "pt2")
              .otherwise("pt3"))
          .withColumn("flag_masked",
            when(col("l_returnflag") === lit("N"), lit(null).cast("string"))
              .otherwise(col("l_returnflag")))
          .groupBy(col("bin"), col("flag_masked"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        SELECT CASE WHEN l_quantity < 17 THEN 'pt1'
                    WHEN l_quantity <= 34 THEN 'pt2'
                    ELSE 'pt3' END AS bin,
               CASE WHEN l_returnflag = 'N' THEN NULL
                    ELSE l_returnflag END AS flag_masked,
               count(*) AS n
        FROM lineitem
        GROUP BY 1, 2
      """.trim)),

    // F11 round bounds to spacing (spatiotemporal.py:75-84): grid-snap
    // the min/max of a column outward to a 250-unit grid.
    Q("f11_round_bounds",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .agg(
            (floor(min(col("l_extendedprice")) / 250.0) * 250.0).as("xmin_snap"),
            (ceil(max(col("l_extendedprice")) / 250.0) * 250.0).as("xmax_snap"),
            count(lit(1)).as("n"))
      },
      Some("""
        SELECT floor(min(l_extendedprice) / 250.0) * 250.0 AS xmin_snap,
               ceil(max(l_extendedprice) / 250.0) * 250.0 AS xmax_snap,
               count(*) AS n
        FROM lineitem
      """.trim)),

    // U1 row union with provenance key (atlxi_xover.py:150-158 concat
    // with names= adds the source key; atlxi_lake.py:225).
    Q("u1_union_provenance",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val big = ev.filter(col("value") > 150).withColumn("src", lit("big"))
        val err = ev.filter(col("event_type") === "error")
          .withColumn("src", lit("err"))
        big.unionByName(err)
          .groupBy(col("src"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      },
      Some("""
        SELECT src, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM (
          SELECT 'big' AS src, value FROM events WHERE value > 150
          UNION ALL
          SELECT 'err' AS src, value FROM events WHERE event_type = 'error')
        GROUP BY src
      """.trim)),

    // A1 describe()-style summary (atlxi_dhdt.py:201): count/mean/
    // std/min/max + exact median per column of interest.
    // Exactness: mean is an integer-cents floor-mean and std comes
    // from exact integer moments pushed through OP-FOR-OP mirrored
    // double arithmetic — avg/stddev over raw doubles are summation-
    // order-dependent, and round() of the result is engine-divergent
    // on decimal halves. min/max/median select source doubles: exact
    // on any data.
    Q("a1_summary_stats",
      (s, dir) => {
        val main = Tables(s, dir, "lineitem")
          .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
          .agg(
            count(col("cents")).as("cnt"),
            (expr("sum(cents) * 100 div count(1)").cast("double") / 10000.0)
              .as("mean"),
            // s2 sums cents^2 (~1e14 each) through DECIMAL: a long sum
            // overflows at ~84k rows of 1e5-scale prices; the decimal
            // sum is exact and decimal->double rounds to nearest, the
            // same op as DuckDB's HUGEINT->DOUBLE cast
            round(
              sqrt(greatest(
                count(lit(1)).cast("double") *
                  sum((col("cents") * col("cents")).cast("decimal(38,0)")).cast("double")
                  - sum(col("cents")).cast("double") * sum(col("cents")).cast("double"),
                lit(0.0)) /
                (count(lit(1)) * (count(lit(1)) - lit(1))).cast("double")) / 100.0,
              4).as("std"),
            min(col("l_extendedprice")).as("min"),
            max(col("l_extendedprice")).as("max"))
        // exact median via the value-counting rank table (bit-identical
        // to the builtin aggregate on any double; ExactMedianSpec)
        val med = graft.ops.ExactMedian
          .median(Tables(s, dir, "lineitem"), Nil, "l_extendedprice", "median")
        main.crossJoin(broadcast(med)) // 1 row x 1 row
      },
      Some("""
        WITH c AS (
          SELECT l_extendedprice,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem)
        SELECT count(cents) AS cnt,
               CAST(CAST(sum(cents) AS BIGINT) * 100 // count(*) AS DOUBLE)
                 / 10000.0 AS mean,
               round(sqrt(greatest(
                 CAST(count(*) AS DOUBLE) * CAST(sum(cents * cents) AS DOUBLE)
                   - CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
                     * CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE),
                 0.0) / CAST(count(*) * (count(*) - 1) AS DOUBLE)) / 100.0, 4) AS std,
               min(l_extendedprice) AS min,
               median(l_extendedprice) AS median,
               max(l_extendedprice) AS max
        FROM c
      """.trim)),

    // J5 coordinate-aligned outer merge (atl06_to_atl11.py:254):
    // variable sets from two sources full-outer-joined on the key.
    Q("j5_outer_merge",
      (s, dir) => {
        val a = Tables(s, dir, "orders")
          .groupBy(col("o_custkey").as("custkey"))
          .agg(round(sum(col("o_totalprice")), 2).as("total_orders"))
        val b = Tables(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_acctbal"))
        a.join(b, Seq("custkey"), "outer")
          .select(col("custkey"), col("total_orders"),
            round(col("c_acctbal"), 2).as("acctbal"))
      },
      Some("""
        WITH a AS (
          SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS total_orders
          FROM orders GROUP BY 1)
        SELECT coalesce(a.custkey, c.c_custkey) AS custkey,
               a.total_orders,
               round(c.c_acctbal, 2) AS acctbal
        FROM a FULL OUTER JOIN customer c ON a.custkey = c.c_custkey
      """.trim)),

    // F12 JSON normalize (atl06_play.py:520, atlxi_lake.py:364-369):
    // extract a typed field from the props JSON column.
    Q("f12_json_extract",
      (s, dir) => {
        Tables(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .groupBy((col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"),
            (expr("sum(cents) * 100 div count(1)").cast("double") / 10000.0)
              .as("avg_value"))
      },
      Some("""
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
               count(*) AS n,
               CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    * 100 // count(*) AS DOUBLE) / 10000.0 AS avg_value
        FROM events
        GROUP BY 1
      """.trim)),

    // J8 semi-join by id list (atlxi_lake.py:363-375).
    Q("j8_isin_subset",
      (s, dir) => {
        Tables(s, dir, "nation")
          .filter(col("n_nationkey").isin(1, 3, 5, 7, 11, 13))
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      },
      Some("""
        SELECT n_nationkey, n_name, n_regionkey
        FROM nation
        WHERE n_nationkey IN (1, 3, 5, 7, 11, 13)
      """.trim)),

    // A17 exact grouped discrete quantiles — the per-group percentile
    // table (p25/p50/p75/p95) a quality dashboard reads off a corpus.
    // Counting reformulation (ExactMedian.quantiles): one
    // map-side-combined shuffle over (group, value), then a window
    // over DISTINCT values only; all four quantiles come out of ONE
    // aggregation pass. Discrete selection returns whole source
    // elements, so results are exact on any double data — DuckDB's
    // quantile_disc rank rule max(1, ceil(q*n)) is replayed bit-for-bit.
    Q("a17_grouped_quantiles",
      (s, dir) => {
        graft.ops.ExactMedian.quantiles(
          Tables(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
      },
      Some("""
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, 0.25) AS p25,
               quantile_disc(l_extendedprice, 0.50) AS p50,
               quantile_disc(l_extendedprice, 0.75) AS p75,
               quantile_disc(l_extendedprice, 0.95) AS p95
        FROM lineitem
        GROUP BY l_returnflag
      """.trim)),

    // A18 mergeable t-digest quantile sketch with an ORACLE-PINNED
    // error bound — the 100-TB counterpart to a17's exact counting
    // reformulation: the exact path shuffles one row per distinct
    // value, the digest's partial state is a fixed few KB per group
    // at any input size. The query re-joins each estimate against the
    // data and emits whether its exact rank interval intersects
    // [q-0.02, q+0.02]; the oracle asserts every gate is true, so an
    // estimator regression flips the row red rather than drifting
    // silently (same honesty pattern as the KMV sketch's
    // exact_distinct column).
    Q("a18_tdigest_rank_bound",
      (s, dir) => {
        graft.ops.TDigest.groupedQuantileBounds(
          Tables(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_extendedprice",
          Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               true AS ok_p50, true AS ok_p95, true AS ok_p99
        FROM lineitem
        GROUP BY l_returnflag
      """.trim))
  )
}
