package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact median over FIXED-DECIMAL doubles, reformulated as integer
  * counting — the scale path for what the reference computes with
  * np.median / df.describe() (SURVEY §2.4 A1-A3).
  *
  * Spark's built-in `median`/`percentile` aggregate accumulates an
  * OpenHashMap of value counts per partition and merges the maps —
  * on a near-unique double column that is a multi-hundred-thousand
  * entry map per partition and a serial merge (measured 3.5 s on
  * 600k rows at sf0.1). This formulation stays fully codegen'd and
  * shuffle-parallel instead:
  *
  *   1. quantize to integer units (`round(v * scale)` — EXACT when
  *      the data contract is scale-decimal, e.g. cents for 2dp
  *      prices; callers must own that contract);
  *   2. `groupBy(units).count` — one map-side-combined shuffle;
  *   3. cumulative counts over the unit order (window);
  *   4. the two middle ranks select the median pair, reconstructed
  *      with the SAME interpolation ulp chain as Spark's percentile
  *      (`lower + (higher - lower) * 0.5`), so results are
  *      bit-identical to the built-in on conforming data (pinned by
  *      ExactMedianSpec).
  *
  * The per-group window sorts distinct units within one task; groups
  * are the parallelism unit. For a GLOBAL median the single window
  * task still only sees DISTINCT units (583k for 600k sf0.1 prices,
  * and sublinear growth for fixed-decimal domains), not the rows.
  */
object ExactMedian {

  /** Append a `(groupCols..., out)` median table; `scale` is the
    * fixed-decimal quantization (100 = cents). Empty `groupCols`
    * yields one global row.
    */
  def medianByUnits(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      out: String, scale: Int = 100): DataFrame = {
    val gs = groupCols.map(col)
    val units = round(col(valueCol) * scale).cast("long").as("_u")
    // aggregate semantics: NULL values don't count toward n (Spark's
    // Percentile and DuckDB's median both ignore them); an unfiltered
    // null would form a nulls-first _u group that shifts every rank
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(gs :+ (units: Column): _*)
      .agg(count(lit(1)).as("_n"))
    val wOrd = Window.partitionBy(groupCols.map(col): _*).orderBy(col("_u"))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val ranked = counts
      .withColumn("_cum", sum(col("_n")).over(wOrd))
      .withColumn("_tot", sum(col("_n")).over(wAll))
    // 1-based ranks of the two middle elements (equal when _tot odd):
    // percentile(0.5) picks 0-based pos (n-1)/2 -> lower rank
    // (n+1) div 2, upper rank (n+2) div 2
    val k1 = expr("(_tot + 1) div 2")
    val k2 = expr("(_tot + 2) div 2")
    val lo = min(when(col("_cum") >= k1, col("_u"))).cast("double") / scale.toDouble
    val hi = min(when(col("_cum") >= k2, col("_u"))).cast("double") / scale.toDouble
    ranked.groupBy(gs: _*)
      // Spark's Percentile interpolates lower + (higher-lower)*frac;
      // replicate the exact double op order so even-count medians are
      // bit-identical to the built-in aggregate
      .agg((lo + (hi - lo) * 0.5).as(out))
  }

  /** Grouped exact median + exact MAD (median(|x − median(x)|)) in
    * ONE scan of `df` (r16, guide §2.4 "share the exchange"): the
    * classic two-pass MAD re-reads the source and runs two full
    * aggregations (each shuffling per-task value-count maps); here
    * BOTH medians derive from the SAME per-group unit-count table —
    * the median from cumulative counts over the unit order, the MAD
    * by re-ranking the SAME counts by |u/scale − median| (deviations
    * of equal values are equal, so the deviation multiset is exactly
    * the row-wise one). Two Window operators share one group
    * exchange; the source is scanned once.
    *
    * Exactness (same contract as [[medianByUnits]], pinned against
    * the builtin median-of-median two-pass in ExactMedianSpec):
    * u/scale reconstructs the source doubles bit-identically on
    * conforming fixed-decimal data; the deviation |u/scale − med| is
    * the identical double op chain the row-wise abs(x − med)
    * performs; deviation TIES (values symmetric around the median)
    * share one cumulative rank (RANGE window frame), which selects
    * the same deviation value either way; and both interpolations
    * replicate Spark Percentile's `lower + (higher − lower) * 0.5`.
    *
    * @return (groupCols..., medOut, madOut) — unrounded doubles
    */
  def medianAndMadByUnits(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      medOut: String, madOut: String, scale: Int = 100): DataFrame = {
    val gs = groupCols.map(col)
    val units = round(col(valueCol) * scale).cast("long").as("_u")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(gs :+ (units: Column): _*)
      .agg(count(lit(1)).as("_n"))
    val wOrd = Window.partitionBy(gs: _*).orderBy(col("_u"))
    val wAll = Window.partitionBy(gs: _*)
    val k1 = expr("(_tot + 1) div 2")
    val k2 = expr("(_tot + 2) div 2")
    val ranked = counts
      .withColumn("_cum", sum(col("_n")).over(wOrd))
      .withColumn("_tot", sum(col("_n")).over(wAll))
      .withColumn("_lo", min(when(col("_cum") >= k1, col("_u"))).over(wAll)
        .cast("double") / scale.toDouble)
      .withColumn("_hi", min(when(col("_cum") >= k2, col("_u"))).over(wAll)
        .cast("double") / scale.toDouble)
      .withColumn("_med", col("_lo") + (col("_hi") - col("_lo")) * 0.5)
      .withColumn("_dev",
        abs(col("_u").cast("double") / scale.toDouble - col("_med")))
    // deviation re-rank over the SAME partitioning (no new exchange);
    // RANGE frame: tied deviations share the combined cumulative count
    val wDev = Window.partitionBy(gs: _*).orderBy(col("_dev"))
    val lod = min(when(col("_dcum") >= k1, col("_dev")))
    val hid = min(when(col("_dcum") >= k2, col("_dev")))
    ranked
      .withColumn("_dcum", sum(col("_n")).over(wDev))
      .groupBy(gs: _*)
      .agg(max(col("_med")).as(medOut),
        (lod + (hid - lod) * 0.5).as(madOut))
  }

  /** [[medianAndMadByUnits]] for ARBITRARY doubles — groups by the
    * exact double VALUE instead of a fixed-decimal unit, so no data
    * contract is needed: the selected elements ARE source doubles and
    * the interpolation/deviation chains are the identical IEEE ops
    * the builtin median pair performs (pinned in ExactMedianSpec on
    * non-decimal data). One scan + one (group, value)-count exchange
    * replaces two full aggregations and a join; the win is largest
    * when values repeat, and when they don't it still merges the two
    * sequential median jobs into one dataflow.
    *
    * Caveats inherited from double-valued group keys: Spark
    * normalizes -0.0 to 0.0 and NaNs to one NaN in grouping — callers
    * whose value column can carry -0.0/NaN (ours cannot: deviations
    * are abs(), lake dhdt is noise-floored) would see those collapse.
    *
    * @return (groupCols..., medOut, madOut, nOut) — nOut counts the
    *         group's NON-NULL values only (null values are dropped
    *         before counting, as the median and MAD ignore them), so
    *         the lake pipeline's `n_ring` is the number of ring points
    *         with a non-null dhdt, not the ring's row count.
    */
  def medianAndMadByValue(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      medOut: String, madOut: String, nOut: String): DataFrame = {
    val gs = groupCols.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(gs :+ col(valueCol).as("_v"): _*)
      .agg(count(lit(1)).as("_n"))
    val wOrd = Window.partitionBy(gs: _*).orderBy(col("_v"))
    val wAll = Window.partitionBy(gs: _*)
    val k1 = expr("(_tot + 1) div 2")
    val k2 = expr("(_tot + 2) div 2")
    val ranked = counts
      .withColumn("_cum", sum(col("_n")).over(wOrd))
      .withColumn("_tot", sum(col("_n")).over(wAll))
      .withColumn("_lo", min(when(col("_cum") >= k1, col("_v"))).over(wAll))
      .withColumn("_hi", min(when(col("_cum") >= k2, col("_v"))).over(wAll))
      .withColumn("_med", col("_lo") + (col("_hi") - col("_lo")) * 0.5)
      .withColumn("_dev", abs(col("_v") - col("_med")))
    val wDev = Window.partitionBy(gs: _*).orderBy(col("_dev"))
    val lod = min(when(col("_dcum") >= k1, col("_dev")))
    val hid = min(when(col("_dcum") >= k2, col("_dev")))
    ranked
      .withColumn("_dcum", sum(col("_n")).over(wDev))
      .groupBy(gs: _*)
      .agg(max(col("_med")).as(medOut),
        (lod + (hid - lod) * 0.5).as(madOut),
        max(col("_tot")).as(nOut))
  }

  /** Exact DISCRETE quantiles (no interpolation) — the grouped
    * percentile table a data-quality dashboard reads off a 100-TB
    * corpus (p50/p95 of doc length, score, price...). Same counting
    * engine as [[medianByUnits]] but selecting whole elements, which
    * drops the fixed-decimal interpolation caveat: the selected unit
    * maps back to exactly the source double.
    *
    * Rank semantics match DuckDB's `quantile_disc`: the 1-based rank
    * of quantile q over n rows is max(1, ceil(q*n)) — verified
    * empirically across n∈{2,4,5,10} and pinned in ExactMedianSpec.
    * One shuffle (groupBy counts) + one per-group window over
    * DISTINCT units; each quantile is a conditional-min over the
    * same cumulative ranks, so k quantiles cost one aggregation, not
    * k passes.
    */
  def quantilesByUnits(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      qs: Seq[(String, Double)], scale: Int = 100): DataFrame = {
    val gs = groupCols.map(col)
    val units = round(col(valueCol) * scale).cast("long").as("_u")
    // DuckDB's quantile_disc ignores NULLs; a null _u group would
    // inflate _tot (and sort first), shifting k = ceil(q*_tot)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(gs :+ (units: Column): _*)
      .agg(count(lit(1)).as("_n"))
    val wOrd = Window.partitionBy(groupCols.map(col): _*).orderBy(col("_u"))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val ranked = counts
      .withColumn("_cum", sum(col("_n")).over(wOrd))
      .withColumn("_tot", sum(col("_n")).over(wAll))
    val aggs = qs.map { case (name, q) =>
      val k = greatest(lit(1L), ceil(lit(q) * col("_tot")).cast("long"))
      (min(when(col("_cum") >= k, col("_u"))).cast("double") /
        scale.toDouble).as(name)
    }
    ranked.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
  }
}
