package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trend / serial-structure statistics over daily event series — the
  * monitoring family's time-axis members, beside [[Timeseries.cusumDaily]]
  * (level shifts), [[Drift]] (distribution shift) and [[Robust]]
  * (outliers, Benford). All three operators follow the qC2/qJ5
  * bounded-frame convention: ONE grouped aggregation reduces the event
  * stream to |days| rows (scan-speed, partial-aggregated), and every
  * window/self-join after that runs on the daily frame — bounded by the
  * calendar, never by the corpus, so the shapes are identical at 100 TB.
  *
  * Determinism discipline (GraftQuery header): daily means are one
  * division of integer-cent sums; serial products are snapped to
  * integer 1e-4-unit deviations so cross-products sum as BIGINTs in
  * any order; every reported double is one final division (or one
  * IEEE sqrt) of integer-derived terms, then stable-floor rounded.
  */
object Trend {

  private def dailyCents(df: DataFrame, tsCol: String, value: Column)
      : DataFrame =
    df.select(to_date(col(tsCol)).as("day"),
        floor(value.cast("double") * 100 + 0.5).cast("long").as("c"))
      .filter(col("c").isNotNull)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum("c").as("sc"))

  /** Sample autocorrelation of the daily mean at lags 1..`maxLag`:
    * r_k = Σ_t d_t·d_{t−k} / Σ_t d_t², with deviations d_t from the
    * series mean SNAPPED to integer 1e-4 units so both numerator and
    * denominator are exact BIGINT sums (a raw double Σ of products is
    * not reproducible across partial-aggregation orders). The series
    * mean itself is exact: Σ(integer cents)/n, one division; the snap
    * then floors d·10⁴+0.5 — both engines see identical doubles in,
    * identical longs out.
    *
    * Shape: events → |days| rows (one aggregate), lag self-join on the
    * day-rank key over the daily frame (|days|·maxLag pairs), one
    * bounded re-aggregation. Output: lag, n_pairs, acf (6 dp).
    */
  def acfDaily(df: DataFrame, tsCol: String, value: Column,
      maxLag: Int): DataFrame = {
    require(maxLag > 0, "maxLag must be positive")
    // |days|-bounded daily aggregate, read by the mean fold AND the
    // deviation frame — fence it once (guide §2.4; the round-19 audit
    // had qK7 at 34 exchanges, its daily aggregate re-run per leg)
    val daily = graft.plans.Fence.bounded(
      dailyCents(df, tsCol, value)
        .withColumn("x", col("sc") / col("n") / 100.0))
    // grand mean of the DAILY series (unweighted, standard ACF input);
    // Σx is |days| doubles — fold it in day order via the bounded
    // sorted-array aggregate so the sum order is pinned on both engines.
    val meanRow = daily.agg(
      sort_array(collect_list(struct(col("day"), col("x")))).as("xs"))
      .select(aggregate(col("xs"), lit(0.0),
        (acc, s) => acc + s.getField("x")).as("sx"),
        size(col("xs")).as("nd"))
    // deviation frame read by the denominator and BOTH lag-join legs —
    // fence it once (|days|-bounded)
    val withMean = graft.plans.Fence.bounded(
      daily.crossJoin(broadcast(meanRow))
        .withColumn("d",
          floor((col("x") - col("sx") / col("nd")) * 10000.0 + 0.5)
            .cast("long"))
        .withColumn("rk", row_number().over(Window.orderBy("day")))
        .select("rk", "d"))
    val den = withMean.agg(sum(col("d") * col("d")).as("ss"))
    // lag join on the day-rank key: for each lag in 1..maxLag, pair
    // (rk, rk+lag). The lag list is exploded per LEFT row (|days|·maxLag
    // rows) so the pairing stays one equi-join — no cartesian.
    val pairs = withMean.as("a")
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("rk_b", col("rk") + col("lag"))
      .join(withMean.as("b").withColumnRenamed("rk", "rk_b")
          .withColumnRenamed("d", "d_b"),
        Seq("rk_b"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.d") * col("d_b")).as("num"))
    pairs.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        // a constant series has zero deviation mass — ACF is undefined
        // (null), not a division error (ANSI mode raises on 0/0)
        when(col("ss") === 0, lit(null).cast("double"))
          .otherwise(
            floor(col("num").cast("double") / col("ss") * 1000000.0 + 0.5)
              / 1000000.0).as("acf"))
  }

  /** EWMA control chart over the daily mean: the textbook recurrence
    * e_t = e_{t−1} + λ·(x_t − e_{t−1}) with e_0 = x_1 (first day),
    * alarm when |x_t − e_{t−1}| > k·σ̂ where σ̂ is the global daily
    * stddev (integer-cent moments, exact). The recurrence is
    * SEQUENTIAL by definition — it runs as a left fold over the
    * sorted |days|-sized array (the qJ5 bounded-frame license), with
    * the SAME expression tree `e + λ·(x − e)` on both engines so every
    * intermediate double is bit-identical; the oracle replays it with
    * a recursive CTE in day-rank order.
    *
    * Output per day: day, x (4 dp), ewma_prev (4 dp — the forecast the
    * day was judged against; null on day 1), ewma (4 dp), alarm.
    */
  def ewmaDaily(df: DataFrame, tsCol: String, value: Column,
      lambda: Double, kSigma: Double): DataFrame = {
    require(lambda > 0 && lambda <= 1, "lambda in (0,1]")
    val daily = dailyCents(df, tsCol, value)
      .withColumn("x", col("sc") / col("n") / 100.0)
    // Global σ̂ of the daily mean (cents). Σ of |days| doubles — order
    // matters; pin it with the same sorted fold used everywhere else.
    val momPinned = daily
      .agg(sort_array(collect_list(
        struct(col("day"), (col("sc") / col("n")).as("m")))).as("xs"))
      .select(size(col("xs")).as("nd"),
        aggregate(col("xs"), lit(0.0), (a, s) => a + s.getField("m"))
          .as("s1"),
        aggregate(col("xs"), lit(0.0),
          (a, s) => a + s.getField("m") * s.getField("m")).as("s2"))
      .select(col("nd"),
        sqrt((col("s2") - col("s1") * col("s1") / col("nd")) /
          (col("nd") - 1)).as("sig_c"))
    val folded = daily
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("xs"))
      .select(col("xs"), aggregate(
        col("xs"),
        array().cast("array<struct<day:date,x:double,ep:double,e:double>>"),
        (acc, s) => {
          val prev = element_at(acc, -1)
          val ep = when(size(acc) === 0, lit(null).cast("double"))
            .otherwise(prev.getField("e"))
          val e = when(size(acc) === 0, s.getField("x"))
            .otherwise(prev.getField("e") +
              lit(lambda) * (s.getField("x") - prev.getField("e")))
          concat(acc, array(struct(
            s.getField("day").as("day"), s.getField("x").as("x"),
            ep.as("ep"), e.as("e"))))
        }).as("rows"))
      .select(explode(col("rows")).as("r"))
      .select(col("r.day").as("day"), col("r.x").as("x"),
        col("r.ep").as("ep"), col("r.e").as("e"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    folded.crossJoin(broadcast(momPinned))
      .select(col("day"), r4(col("x")).as("x"),
        r4(col("ep")).as("ewma_prev"), r4(col("e")).as("ewma"),
        (col("ep").isNotNull &&
          abs(col("x") - col("ep")) * 100.0 >
            lit(kSigma) * col("sig_c")).as("alarm"))
  }

  /** Day-of-week seasonality profile: per ISO weekday (1 = Monday),
    * the event volume, mean value, and the seasonal index
    * mean_dow/grand_mean — the weekly-cycle diagnostic next to the
    * serial measures ([[acfDaily]] sees the cycle as a lag-7 peak;
    * this names which days carry it). All sums are integer cents until
    * the two final divisions; Spark's `weekday()+1` equals DuckDB/
    * Postgres `isodow` so the bucketing is engine-portable.
    * Output per dow: dow, n_events, n_days, mean_value (4 dp),
    * seasonal_idx (4 dp).
    */
  def weekdayProfile(df: DataFrame, tsCol: String, value: Column)
      : DataFrame = {
    val base = df
      .select(to_date(col(tsCol)).as("day"),
        floor(value.cast("double") * 100 + 0.5).cast("long").as("c"))
      .filter(col("c").isNotNull)
      .withColumn("dow", (weekday(col("day")) + 1).cast("long"))
    val byDow = base.groupBy("dow")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("day").as("n_days"),
        sum("c").as("sc"))
    val tot = byDow.agg(sum("n_events").as("tn"), sum("sc").as("tsc"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    byDow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_events"), col("n_days"),
        r4(col("sc").cast("double") / col("n_events") / 100.0)
          .as("mean_value"),
        r4((col("sc").cast("double") / col("n_events")) /
          (col("tsc").cast("double") / col("tn"))).as("seasonal_idx"))
  }

  /** Seasonal-naive forecast error: predict each day's mean with the
    * value 7 days earlier (the weekly-naive baseline every real
    * forecast must beat) and report per-day absolute/percent errors
    * plus the summary MAE/MAPE. Forecastability floor for capacity
    * planning on the event stream; reads beside [[weekdayProfile]]
    * (which names the cycle this baseline exploits).
    *
    * Determinism: daily means are integer cents; the error is an
    * integer-cent difference (exact), MAE is one division of an exact
    * BIGINT sum; MAPE folds the bounded per-day ratio list in day
    * order. The lag join is a calendar equi-join (day = day+7), not a
    * row-offset window, so gaps produce null forecasts (excluded from
    * the summary) instead of misaligned pairs.
    * Output: one row — n_forecast, mae (4 dp, units), mape (4 dp, %).
    */
  def seasonalNaiveError(df: DataFrame, tsCol: String, value: Column)
      : DataFrame = {
    val daily = dailyCents(df, tsCol, value)
      .select(col("day"), col("n"), col("sc"))
    val lag = daily.select(date_add(col("day"), 7).as("day"),
      col("n").as("n_l"), col("sc").as("sc_l"))
    val joined = daily.join(lag, Seq("day"))
      // integer-cent scaled error: |sc/n - sc_l/n_l| exact to one
      // double subtraction of two exact divisions; snapped to 1e-4
      // cent units so the MAE sum is an exact BIGINT
      .withColumn("err4",
        abs(floor((col("sc").cast("double") / col("n") -
          col("sc_l").cast("double") / col("n_l")) * 10000.0 + 0.5)
          .cast("long")))
      .withColumn("act4",
        floor(col("sc").cast("double") / col("n") * 10000.0 + 0.5)
          .cast("long"))
      // zero-mean days have no defined percent error — excluded from
      // BOTH metrics (keeps the fold null-free and ANSI-division-safe)
      .filter(col("act4") =!= 0)
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    joined
      .agg(count(lit(1)).as("n_forecast"),
        sum("err4").as("se4"),
        sort_array(collect_list(struct(col("day"),
          (col("err4").cast("double") / col("act4")).as("r")))).as("rs"))
      .select(col("n_forecast"),
        r4(col("se4").cast("double") / col("n_forecast") / 1000000.0)
          .as("mae"),
        r4(aggregate(col("rs"), lit(0.0),
          (a, s) => a + s.getField("r")) / col("n_forecast") * 100.0)
          .as("mape"))
  }

  /** Mann-Kendall trend test + Theil-Sen slope over the daily mean:
    * S = Σ_{i<j} sign(x_j − x_i) (ties contribute 0), variance with
    * the tie correction Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18,
    * z = (S∓1)/√Var (continuity-corrected, 0 when S=0), and the
    * Theil-Sen slope = median over pairs of (x_j−x_i)/(day_j−day_i)
    * in units per day. The O(|days|²) pair self-join is bounded by the
    * calendar (the qE9-style license: quadratic in a frame that a
    * prior aggregate bounded, never in the corpus).
    *
    * Determinism: x is integer cents (comparisons and sign are exact);
    * each pair slope is ONE division of integer-derived terms; the
    * median of an even pair count averages two slopes — one addition,
    * one division. Output: one row — n_days, s_stat, var_s, z (4 dp),
    * slope_per_day (6 dp).
    */
  def mannKendallDaily(df: DataFrame, tsCol: String, value: Column)
      : DataFrame = {
    val daily = dailyCents(df, tsCol, value)
      .select(col("day"), (col("sc").cast("double") / col("n")).as("xc"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("b.day") > col("a.day"))
      .select(
        signum(col("b.xc") - col("a.xc")).cast("long").as("sg"),
        ((col("b.xc") - col("a.xc")) / 100.0 /
          datediff(col("b.day"), col("a.day"))).as("slope"))
    val sAndSlopes = pairs.agg(
      sum("sg").as("s_stat"), count(lit(1)).as("np"),
      sort_array(collect_list(col("slope"))).as("slopes"))
    val ties = daily.groupBy("xc").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("tie_term"), sum(col("t")).as("nd"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    sAndSlopes.crossJoin(broadcast(ties))
      .withColumn("var_s",
        (col("nd") * (col("nd") - 1) * (col("nd") * 2 + 5) -
          col("tie_term")).cast("double") / 18.0)
      .withColumn("med",
        when(col("np") % 2 === 1,
          element_at(col("slopes"), ((col("np") + 1) / 2).cast("int")))
          .otherwise((element_at(col("slopes"),
              (col("np") / 2).cast("int")) +
            element_at(col("slopes"),
              (col("np") / 2 + 1).cast("int"))) / 2.0))
      .select(col("nd").as("n_days"), col("s_stat"), col("var_s"),
        r4(when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0))).as("z"),
        r6(col("med")).as("slope_per_day"))
  }
}
