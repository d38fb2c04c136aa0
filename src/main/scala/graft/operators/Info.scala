package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Information-theoretic column diagnostics — the feature-selection /
  * dataset-composition members of the monitoring family: how much does
  * one categorical column tell you about another (mutual information),
  * and how concentrated is a categorical mix (entropy / Simpson
  * diversity). Complements [[Robust.chi2Independence]] (significance)
  * with effect-size-style measures, and the doc-level PMI pair scorer
  * ([[Itemsets]]) with column-level aggregates.
  *
  * Scale shape: everything reduces through ONE hash aggregate to the
  * |R×C| contingency frame (or |levels| mix frame); the entropy sums
  * are bounded-frame folds. Determinism: Σ of log-bearing doubles over
  * the bounded frame is pinned by the sorted-array fold (the qK6/qJ1
  * convention — DuckDB mirrors with `list(expr ORDER BY ...)` +
  * `list_sum`); outputs are stable-floor rounded.
  */
object Info {

  /** Mutual information (nats) between two categorical columns, with
    * the marginal/joint entropies and the min-normalized NMI.
    *
    * MI = (1/n)·Σ_cells o·ln(o·n/(rm·cm));
    * H(A) = ln(n) − (1/n)·Σ_rows rm·ln(rm) (same for B, joint).
    * All counts are exact BIGINTs; each Σ folds in sorted level order.
    *
    * Output: one row — n, h_a, h_b, h_ab, mi (all 6 dp), nmi (6 dp,
    * null when min(h_a,h_b) = 0, i.e. a constant column).
    */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    // |levels_a × levels_b|-bounded contingency table read by four
    // legs (row/col margins, total, joint fold) — fence it once (the
    // round-19 chi2Independence treatment; guide §2.4)
    val cells = graft.plans.Fence.bounded(
      df.select(a.cast("string").as("av"),
          b.cast("string").as("bv"))
        .filter(col("av").isNotNull && col("bv").isNotNull)
        .groupBy("av", "bv").agg(count(lit(1)).as("o")))
    val rowM = cells.groupBy("av").agg(sum("o").as("rm"))
    val colM = cells.groupBy("bv").agg(sum("o").as("cm"))
    val tot = cells.agg(sum("o").as("n"))

    def foldSum(frame: DataFrame, sortKeys: Seq[String], term: Column,
        as: String): DataFrame =
      frame
        .agg(sort_array(collect_list(
          struct(sortKeys.map(col) :+ term.as("t"): _*))).as("xs"))
        .select(aggregate(col("xs"), lit(0.0),
          (acc, s) => acc + s.getField("t")).as(as))

    val sJoint = foldSum(cells, Seq("av", "bv"),
      col("o") * log(col("o").cast("double")), "s_ab")
    val sA = foldSum(rowM, Seq("av"),
      col("rm") * log(col("rm").cast("double")), "s_a")
    val sB = foldSum(colM, Seq("bv"),
      col("cm") * log(col("cm").cast("double")), "s_b")
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    tot.crossJoin(broadcast(sA)).crossJoin(broadcast(sB))
      .crossJoin(broadcast(sJoint))
      .withColumn("ha", log(col("n").cast("double")) - col("s_a") / col("n"))
      .withColumn("hb", log(col("n").cast("double")) - col("s_b") / col("n"))
      .withColumn("hab",
        log(col("n").cast("double")) - col("s_ab") / col("n"))
      .withColumn("mi_raw", col("ha") + col("hb") - col("hab"))
      .select(col("n"), r6(col("ha")).as("h_a"), r6(col("hb")).as("h_b"),
        r6(col("hab")).as("h_ab"), r6(col("mi_raw")).as("mi"),
        when(least(col("ha"), col("hb")) <= 0,
          lit(null).cast("double"))
          .otherwise(r6(col("mi_raw") / least(col("ha"), col("hb"))))
          .as("nmi"))
  }

  /** Gini coefficient of a non-negative value column — the
    * inequality/concentration number for token-mass, byte-volume, or
    * spend distributions (0 = uniform, →1 = concentrated). Exact, via
    * integer-cent value counts and the rank-sum identity
    * G = (2·Σ_i i·x_(i) − (n+1)·Σx) / (n·Σx): ties at value v with
    * count c and C values below contribute v·(c·C + c(c+1)/2) to the
    * rank sum — all BIGINT arithmetic, one final division.
    *
    * Scale shape: one hash aggregate to the |distinct| value-count
    * frame, cumulative-below counts via the two-phase block prefix sum
    * (the qH3/ksReduce shape — no one-task global window), bounded
    * final fold. Output: one row — n, total (4 dp, units), gini (6 dp;
    * null when total = 0).
    */
  def giniCoefficient(df: DataFrame, value: Column,
      nBlocks: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBlocks > 0, "nBlocks must be > 0")
    // fence the bounded value counts once: bounds / offsets / ranked
    // legs otherwise re-run the count aggregation per leg (guide §2.4)
    val counts = graft.plans.Fence.bounded(df
      .select(floor(value.cast("double") * 100 + 0.5).cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("c")))
    val bounds = counts.agg(min("v").as("lo"), max("v").as("hi"))
    val blocked = counts.crossJoin(broadcast(bounds))
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("v") - col("lo")).cast("double") /
              (col("hi") - col("lo")) * nBlocks).cast("long"))))
    val wBlocks = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("block").agg(sum("c").as("bc"))
      .select(col("block"),
        coalesce(sum("bc").over(wBlocks), lit(0L)).as("off"))
    val wIn = Window.partitionBy("block").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = blocked.join(broadcast(offsets), "block")
      .withColumn("cbelow",
        col("off") + coalesce(sum("c").over(wIn), lit(0L)))
    val sums = ranked.agg(
      sum(col("c")).as("n"),
      sum(col("v") * col("c")).as("t"),
      // c(c+1)/2 via shiftright keeps the whole rank sum in BIGINTs
      // (long `/` is double division in Spark and would float the sum)
      sum(col("v") * (col("c") * col("cbelow") +
        shiftright(col("c") * (col("c") + 1), 1))).as("s"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    sums.select(col("n"),
      r4(col("t").cast("double") / 100.0).as("total"),
      when(col("t") === 0, lit(null).cast("double"))
        .otherwise(r6(
          (col("s").cast("double") * 2 - (col("n") + 1).cast("double") *
            col("t")) / (col("n").cast("double") * col("t"))))
        .as("gini"))
  }

  /** Categorical-mix diversity of one column: Shannon entropy (nats),
    * Simpson index Σp², Gini-Simpson 1−Σp², effective number of
    * levels 1/Σp² — the dataset-composition dashboard row (source mix,
    * language mix). Same bounded-fold discipline as
    * [[mutualInformation]].
    * Output: one row — n, levels, shannon (6 dp), simpson (6 dp),
    * gini_simpson (6 dp), effective_levels (4 dp).
    */
  def diversityIndices(df: DataFrame, a: Column): DataFrame = {
    val levels = df.select(a.cast("string").as("av"))
      .filter(col("av").isNotNull)
      .groupBy("av").agg(count(lit(1)).as("c"))
    // ONE aggregate over the level table for all four partials (n,
    // levels, and the two ordered folds): the totals and the folds as
    // separate aggregates cross-joined together evaluated the level
    // aggregation — and the corpus scan under it — twice (round 19;
    // guide §2.4 duplicated subtrees). The folds stay collect_list +
    // sort_array + HOF fold, NOT sum(c·ln c): the oracle sums in av
    // order and double addition is order-sensitive, so the ordered
    // fold is what keeps the comparison bit-exact.
    val folds = levels
      .agg(sum("c").as("n"), count(lit(1)).as("levels"),
        sort_array(collect_list(struct(col("av"), col("c")))).as("xs"))
      .select(col("n"), col("levels"),
        aggregate(col("xs"), lit(0.0),
          (acc, s) => acc + s.getField("c") * log(s.getField("c")
            .cast("double"))).as("s_clnc"),
        aggregate(col("xs"), lit(0.0),
          (acc, s) => acc + s.getField("c").cast("double") *
            s.getField("c")).as("s_c2"))
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    folds
      .withColumn("shannon_raw",
        log(col("n").cast("double")) - col("s_clnc") / col("n"))
      .withColumn("simpson_raw",
        col("s_c2") / col("n") / col("n"))
      .select(col("n"), col("levels"),
        r6(col("shannon_raw")).as("shannon"),
        r6(col("simpson_raw")).as("simpson"),
        r6(lit(1.0) - col("simpson_raw")).as("gini_simpson"),
        r4(lit(1.0) / col("simpson_raw")).as("effective_levels"))
  }
}
