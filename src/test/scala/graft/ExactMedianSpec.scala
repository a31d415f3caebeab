package graft

import org.apache.spark.sql.functions._

import graft.ops.ExactMedian

/** The counting median must be BIT-identical to Spark's built-in
  * `median` aggregate on any double data — including the even-count
  * interpolation ulp chain — or the DuckDB oracle hashes would
  * silently diverge between the two formulations.
  */
class ExactMedianSpec extends SparkSpec {

  test("global median matches the built-in bit-for-bit (even and odd counts)") {
    val li = Tables(spark, sf001, "lineitem").select(col("l_extendedprice"))
    for (n <- Seq(1000, 1001, 6000)) {
      val d = li.limit(n).cache()
      val builtin = d.agg(median(col("l_extendedprice"))).head.getDouble(0)
      val counted = ExactMedian.median(d, Nil, "l_extendedprice", "m")
        .head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(builtin) ==
        java.lang.Double.doubleToLongBits(counted),
        s"n=$n: builtin $builtin != counted $counted")
      d.unpersist()
    }
  }

  test("grouped median matches the built-in per group") {
    val li = Tables(spark, sf001, "lineitem")
    val builtin = li.groupBy(col("l_returnflag"))
      .agg(median(col("l_extendedprice")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val counted = ExactMedian
      .median(li, Seq("l_returnflag"), "l_extendedprice", "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(builtin.keySet == counted.keySet)
    for ((k, v) <- builtin)
      assert(java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(counted(k)), s"group $k")
  }

  test("half-unit scale handles derived deviation columns") {
    val sess = spark
    import sess.implicits._
    // deviations |x - median| of 2dp values are half-cent multiples,
    // off any cents grid: the by-value rank table counts them exactly
    val xs = Seq(1.00, 2.50, 3.75, 9.25, 4.50).toDF("v")
    val med = xs.agg(median(col("v"))).head.getDouble(0)
    val dev = xs.select(abs(col("v") - lit(med)).as("d"))
    val builtin = dev.agg(median(col("d"))).head.getDouble(0)
    val counted = ExactMedian.median(dev, Nil, "d", "m")
      .head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(builtin) ==
      java.lang.Double.doubleToLongBits(counted))
  }

  test("fused median+MAD matches the builtin two-pass bit-for-bit per group") {
    // the a3_mad contract (r16): one-scan medianAndMad must
    // reproduce median(x) AND median(|x - median(x)|) exactly as the
    // two sequential builtin-median aggregations computed them —
    // including even-count interpolation and deviation ties
    val li = Tables(spark, sf001, "lineitem")
    val med = li.groupBy(col("l_returnflag").as("rf"))
      .agg(median(col("l_extendedprice")).as("med"))
    val builtin = li
      .join(broadcast(med), col("l_returnflag") === col("rf"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("med")).as("med"),
        median(abs(col("l_extendedprice") - col("med"))).as("mad"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val fused = ExactMedian.medianAndMad(
        li, Seq("l_returnflag"), "l_extendedprice", "med", "mad", "n")
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(builtin.keySet == fused.keySet)
    for ((k, (m, d)) <- builtin) {
      assert(java.lang.Double.doubleToLongBits(m) ==
        java.lang.Double.doubleToLongBits(fused(k)._1), s"median group $k")
      assert(java.lang.Double.doubleToLongBits(d) ==
        java.lang.Double.doubleToLongBits(fused(k)._2), s"mad group $k")
    }
  }

  test("fused median+MAD: even/odd counts and symmetric-deviation ties") {
    val sess = spark
    import sess.implicits._
    // 4.00 and 6.00 tie at deviation 1.00 around median 5.00; even
    // subset exercises both interpolations
    for (data <- Seq(
        Seq(4.00, 5.00, 6.00, 5.50, 1.25),        // odd, tied devs
        Seq(4.00, 5.00, 6.00, 5.50),              // even
        Seq(2.50, 2.50, 2.50),                    // all equal (mad 0)
        Seq(-3.75, 1.00, 2.25, 9.00, -3.75, 1.00))) {
      val df = data.toDF("v").withColumn("g", lit("a"))
      val m0 = df.agg(median(col("v"))).head.getDouble(0)
      val d0 = df.agg(median(abs(col("v") - lit(m0)))).head.getDouble(0)
      val r = ExactMedian.medianAndMad(df, Seq("g"), "v", "m", "d", "n")
        .head
      assert(java.lang.Double.doubleToLongBits(m0) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"median of $data")
      assert(java.lang.Double.doubleToLongBits(d0) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"mad of $data")
    }
  }

  test("by-value fused median+MAD matches the builtin two-pass on NON-decimal doubles") {
    // the LakeFinder ring-stats contract (r16): medianAndMad
    // groups by the exact double, so it needs NO fixed-decimal
    // contract — pin it on arbitrary doubles (prices divided by 7)
    // against the sequential builtin median pair, per group
    val li = Tables(spark, sf001, "lineitem")
      .select(col("l_returnflag"), (col("l_extendedprice") / 7.0).as("v"))
    val med = li.groupBy(col("l_returnflag").as("rf"))
      .agg(median(col("v")).as("med"))
    val builtin = li
      .join(broadcast(med), col("l_returnflag") === col("rf"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("med")).as("med"),
        median(abs(col("v") - col("med"))).as("mad"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    val fused = ExactMedian.medianAndMad(
        li, Seq("l_returnflag"), "v", "med", "mad", "n")
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(builtin.keySet == fused.keySet)
    for ((k, (m, d, n)) <- builtin) {
      assert(java.lang.Double.doubleToLongBits(m) ==
        java.lang.Double.doubleToLongBits(fused(k)._1), s"median group $k")
      assert(java.lang.Double.doubleToLongBits(d) ==
        java.lang.Double.doubleToLongBits(fused(k)._2), s"mad group $k")
      assert(n == fused(k)._3, s"count group $k")
    }
  }

  test("discrete quantiles replay quantile_disc's rank rule max(1, ceil(q*n))") {
    val sess = spark
    import sess.implicits._
    // reference vectors probed directly against DuckDB quantile_disc:
    //   n=10 [1..10] q=.25/.5/.75/.95 -> 3,5,8,10
    //   n=4  [1..4]                    -> 1,2,3,4
    //   n=2  [10,20] q=0/.5/1          -> 10,10,20
    //   n=5  [1..5]  q=.5              -> 3
    def qs(data: Seq[Int], quantiles: Seq[Double]): Seq[Double] = {
      val df = data.map(_.toDouble).toDF("v")
      val named = quantiles.zipWithIndex.map { case (q, i) => s"q$i" -> q }
      val r = ExactMedian.quantiles(df, Nil, "v", named).head
      quantiles.indices.map(i => r.getDouble(r.fieldIndex(s"q$i")))
    }
    assert(qs(1 to 10, Seq(0.25, 0.5, 0.75, 0.95)) == Seq(3d, 5d, 8d, 10d))
    assert(qs(1 to 4, Seq(0.25, 0.5, 0.75, 0.95)) == Seq(1d, 2d, 3d, 4d))
    assert(qs(Seq(10, 20), Seq(0.0, 0.5, 1.0)) == Seq(10d, 10d, 20d))
    assert(qs(1 to 5, Seq(0.5)) == Seq(3d))
  }

  test("grouped quantiles: p50 equals the discrete median per group") {
    val li = Tables(spark, sf001, "lineitem")
    val q = ExactMedian.quantiles(li, Seq("l_returnflag"),
      "l_extendedprice", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // discrete p50 = lower middle element; cross-check via sort
    val truth = li.select(col("l_returnflag"), col("l_extendedprice"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rows) =>
        val v = rows.map(_.getDouble(1)).sorted
        k -> v((v.length + 1) / 2 - 1)
      }
    assert(q == truth)
  }

  test("every selection is exact on NON-decimal doubles: no cent rounding") {
    val sess = spark
    import sess.implicits._
    // prices / 7 and a hand vector of values a cents grid cannot hold
    // (0.125 and 0.135 sit on half cents, 1/3 and 2/7 on none); the
    // hand group has an even count, so both interpolations run
    val hand = Seq(0.125, 0.135, 1.0 / 3, 0.1 + 0.2, 2.0 / 7, 1e-3 / 3)
    val df = Tables(spark, sf001, "lineitem")
      .select(col("l_returnflag").as("g"), (col("l_extendedprice") / 7.0).as("v"))
      .unionByName(hand.map(v => ("h", v)).toDF("g", "v"))
      .cache()
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val med = df.groupBy(col("g").as("g0")).agg(median(col("v")).as("med"))
    val builtin = df.join(broadcast(med), col("g") === col("g0"))
      .groupBy(col("g"))
      .agg(max(col("med")).as("med"),
        median(abs(col("v") - col("med"))).as("mad"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val medOnly = ExactMedian.median(df, Seq("g"), "v", "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val fused = ExactMedian.medianAndMad(df, Seq("g"), "v", "med", "mad", "n")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(builtin.keySet == Set("A", "N", "R", "h"))
    assert(medOnly.keySet == builtin.keySet && fused.keySet == builtin.keySet)
    for ((k, (m, d)) <- builtin) {
      assert(bits(m) == bits(medOnly(k)), s"median group $k: $m vs ${medOnly(k)}")
      assert(bits(m) == bits(fused(k)._1), s"fused median group $k: $m vs ${fused(k)._1}")
      assert(bits(d) == bits(fused(k)._2), s"mad group $k: $d vs ${fused(k)._2}")
    }
    val global = ExactMedian.median(df, Nil, "v", "m").head.getDouble(0)
    val globalBuiltin = df.agg(median(col("v"))).head.getDouble(0)
    assert(bits(global) == bits(globalBuiltin), s"global: $globalBuiltin vs $global")
    // discrete quantiles against the sorted truth: rank max(1, ceil(q*n))
    val ps = Seq("p0" -> 0.0, "p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95, "p100" -> 1.0)
    val got = ExactMedian.quantiles(df, Seq("g"), "v", ps).collect()
      .map(r => r.getString(0) -> ps.map { case (n, _) => r.getDouble(r.fieldIndex(n)) })
      .toMap
    val truth = df.collect().groupBy(_.getString(0)).map { case (k, rows) =>
      val v = rows.map(_.getDouble(1)).sorted
      k -> ps.map { case (_, q) => v(math.max(1, math.ceil(q * v.length).toInt) - 1) }
    }
    assert(got.keySet == truth.keySet)
    for ((k, want) <- truth)
      assert(want.map(bits) == got(k).map(bits), s"quantiles group $k: $want vs ${got(k)}")
    df.unpersist()
  }

  test("quantiles reject an empty request and a q outside [0, 1], naming the bad value") {
    val sess = spark
    import sess.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("v")
    val empty = intercept[IllegalArgumentException](
      ExactMedian.quantiles(df, Nil, "v", Nil))
    assert(empty.getMessage.contains("qs is empty"), empty.getMessage)
    for (q <- Seq(1.5, -0.25, Double.NaN)) {
      val e = intercept[IllegalArgumentException](
        ExactMedian.quantiles(df, Nil, "v", Seq("p50" -> 0.5, "bad" -> q)))
      assert(e.getMessage.contains(s"bad = $q"), e.getMessage)
    }
  }
}
