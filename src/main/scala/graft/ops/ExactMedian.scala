package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact grouped order statistics (median, MAD, discrete quantiles)
  * as value counting — the scale path for what the reference computes
  * with np.median / df.describe() (SURVEY §2.4 A1-A3) and for the lake
  * finder's `|inner − outer| < 3·MAD` gate.
  *
  * Spark's built-in `median`/`percentile` aggregate accumulates an
  * OpenHashMap of value counts per partition and merges the maps — on
  * a near-unique double column that is a multi-hundred-thousand entry
  * map per partition and a serial merge (measured 3.5 s on 600k rows
  * at sf0.1). Every selection here reads ONE rank table instead,
  * fully codegen'd and shuffle-parallel:
  *
  *   1. drop null values (Spark's Percentile and DuckDB's median and
  *      quantile_disc ignore them; a null group would shift every rank);
  *   2. `groupBy(groups, value).count` — one map-side-combined shuffle
  *      keyed by the EXACT double value, so no data contract is needed:
  *      every selected element IS a source double;
  *   3. `_cum`, the cumulative count over the value order, and `_tot`,
  *      the group's non-null count — two windows over one exchange.
  *
  * The median's two middle ranks are `(n+1) div 2` and `(n+2) div 2`,
  * reconstructed with the SAME interpolation op chain as Spark's
  * Percentile (`lower + (higher − lower) * 0.5`), so results are
  * bit-identical to the builtin (pinned by ExactMedianSpec on 2dp and
  * non-decimal doubles). Each window task sorts only DISTINCT values
  * of its group, not the rows.
  *
  * Caveat of double-valued group keys, for every caller: Spark
  * normalizes -0.0 to 0.0 and all NaNs to one NaN when grouping, so a
  * value column carrying -0.0 or NaN sees those collapse (graft's
  * cannot: prices are positive, deviations are abs(), lake dhdt is
  * noise-floored).
  */
object ExactMedian {

  /** The rank table `(groups…, _v, _n, _cum, _tot)`; `_v` is the value
    * read as a double, as Spark's Percentile reads it.
    */
  private def ranked(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val gs = groupCols.map(col)
    val wAll = Window.partitionBy(gs: _*)
    df.filter(col(valueCol).isNotNull)
      .groupBy(gs :+ col(valueCol).cast("double").as("_v"): _*)
      .agg(count(lit(1)).as("_n"))
      .withColumn("_cum", sum(col("_n")).over(wAll.orderBy(col("_v"))))
      .withColumn("_tot", sum(col("_n")).over(wAll))
  }

  // 1-based ranks of the two middle elements (equal when _tot is odd):
  // percentile(0.5) picks 0-based pos (n-1)/2 -> lower rank (n+1) div 2,
  // upper rank (n+2) div 2
  private val k1 = expr("(_tot + 1) div 2")
  private val k2 = expr("(_tot + 2) div 2")

  /** The smallest `v` whose cumulative count `cum` reaches rank `k`. */
  private def pick(cum: String, k: Column, v: Column): Column =
    min(when(col(cum) >= k, v))

  /** Spark Percentile's interpolation, op for op. */
  private def interp(lo: Column, hi: Column): Column = lo + (hi - lo) * 0.5

  /** Append a `(groupCols..., out)` median table. Empty `groupCols`
    * yields one global row.
    */
  def median(df: DataFrame, groupCols: Seq[String], valueCol: String,
      out: String): DataFrame =
    ranked(df, groupCols, valueCol).groupBy(groupCols.map(col): _*)
      .agg(interp(pick("_cum", k1, col("_v")), pick("_cum", k2, col("_v"))).as(out))

  /** Grouped exact median + exact MAD (median(|x − median(x)|)) in ONE
    * scan of `df` (guide §2.4 "share the exchange"): both medians come
    * from the same rank table. The MAD re-ranks the same counts by
    * `|v − median|` — deviations of equal values are equal, so the
    * deviation multiset is exactly the row-wise one, computed by the
    * identical double op the row-wise `abs(x − med)` performs. Tied
    * deviations (values symmetric around the median) share one
    * cumulative rank (RANGE frame), which selects the same deviation
    * either way. Three windows share one group exchange.
    *
    * @return (groupCols..., medOut, madOut, nOut) — unrounded doubles;
    *         nOut counts the group's NON-NULL values only, so the lake
    *         pipeline's `n_ring` is the number of ring points with a
    *         non-null dhdt, not the ring's row count.
    */
  def medianAndMad(df: DataFrame, groupCols: Seq[String], valueCol: String,
      medOut: String, madOut: String, nOut: String): DataFrame = {
    val gs = groupCols.map(col)
    val wAll = Window.partitionBy(gs: _*)
    ranked(df, groupCols, valueCol)
      .withColumn("_lo", pick("_cum", k1, col("_v")).over(wAll))
      .withColumn("_hi", pick("_cum", k2, col("_v")).over(wAll))
      .withColumn("_dev", abs(col("_v") - interp(col("_lo"), col("_hi"))))
      .withColumn("_dcum", sum(col("_n")).over(wAll.orderBy(col("_dev"))))
      .groupBy(gs: _*)
      .agg(interp(max(col("_lo")), max(col("_hi"))).as(medOut),
        interp(pick("_dcum", k1, col("_dev")), pick("_dcum", k2, col("_dev"))).as(madOut),
        max(col("_tot")).as(nOut))
  }

  /** [[medianAndMad]] without the count column. Kept only because the
    * benchmark harness (`perfbench/.../Probes.scala`, the
    * `ops.exact_median_s` probe) calls it by this name; drop it with
    * the next change to the benchmark.
    */
  def medianAndMadByUnits(df: DataFrame, groupCols: Seq[String], valueCol: String,
      medOut: String, madOut: String): DataFrame =
    medianAndMad(df, groupCols, valueCol, medOut, madOut, "_count").drop("_count")

  /** Exact DISCRETE quantiles (no interpolation) — the grouped
    * percentile table a data-quality dashboard reads off a corpus
    * (p50/p95 of doc length, score, price...). `qs` names each output
    * column and its quantile in [0, 1].
    *
    * Rank semantics match DuckDB's `quantile_disc`: the 1-based rank
    * of quantile q over n values is max(1, ceil(q*n)) — verified
    * against DuckDB across n∈{2,4,5,10} and pinned in ExactMedianSpec.
    * Each quantile is a conditional min over the same cumulative
    * ranks, so k quantiles cost one aggregation, not k passes.
    */
  def quantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty, "ExactMedian.quantiles: no quantiles requested (qs is empty)")
    for ((name, q) <- qs)
      require(q >= 0.0 && q <= 1.0,
        s"ExactMedian.quantiles: quantile $name = $q is outside [0, 1]")
    val aggs = qs.map { case (name, q) =>
      pick("_cum", greatest(lit(1L), ceil(lit(q) * col("_tot")).cast("long")),
        col("_v")).as(name)
    }
    ranked(df, groupCols, valueCol).groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
