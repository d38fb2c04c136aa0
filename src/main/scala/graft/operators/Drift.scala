package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.plans.Fence

/** Distribution-drift measurement between two binned count tables —
  * the reusable core of the qB2 drift gate, shaped for the streaming
  * screen: both inputs are already-aggregated histograms (|bins| rows,
  * broadcast-sized), so the math is a full-outer join of two tiny
  * frames no matter how large the corpora that produced them were.
  * Laplace +1 smoothing keeps one-sided bins finite; contributions are
  * exact expressions over integer counts.
  *
  * The quantile and KS reductions read their (v, cnt)-style count
  * table several times (bounds, block offsets, the in-block cumulative
  * leg), so each stages it once through [[graft.plans.Fence.tiered]]:
  * without a fence every leg re-evaluates the count aggregation AND
  * the corpus scan under it (the round-19 qM9 plan audit showed 16
  * scans of the events table for one query). The stage's size picks
  * the tier: a driver-bounded table is collected once and one rank
  * walk over its sorted values gives the exact answer in the driver
  * (no prefix-sum jobs at all); a larger one runs the block prefix-sum
  * plan over the stage. Both tiers return the same columns, types and
  * values.
  */
object Drift {

  /** Per-bin PSI contributions. Inputs: (bin, n) tables. Output:
    * bin, n_a, n_b, psi.
    */
  def psiContributions(a: DataFrame, b: DataFrame): DataFrame = {
    val counts = a.select(col("bin"), col("n").as("n_a"))
      .join(b.select(col("bin"), col("n").as("n_b")), Seq("bin"),
        "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
    val tot = counts.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"),
      count(lit(1)).as("nbins"))
    val pa = (col("n_a") + 1).cast("double") /
      (col("t_a") + col("nbins")).cast("double")
    val pb = (col("n_b") + 1).cast("double") /
      (col("t_b") + col("nbins")).cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        ((pa - pb) * log(pa / pb)).as("psi"))
  }

  /** Headline PSI: the summed contributions (driver-side over the tiny
    * bin frame). Common reading: < 0.1 stable, 0.1–0.25 moderate
    * shift, > 0.25 action.
    */
  def psiTotal(a: DataFrame, b: DataFrame): Double =
    // coalesce: sum over zero rows is null (both histograms empty) —
    // an empty-vs-empty comparison has zero drift, not an NPE
    psiContributions(a, b).agg(coalesce(sum("psi"), lit(0.0)))
      .collect()(0).getDouble(0)

  /** Exact two-sample Kolmogorov-Smirnov statistic over RAW values —
    * PSI's bin-free sibling: D = max_x |F_a(x) − F_b(x)|, evaluated at
    * every distinct value of the union (where the max of a step-function
    * difference must occur). PSI needs a binning choice and misses
    * within-bin shape changes; KS is parameter-free and detects any CDF
    * separation — the pairing a drift gate wants (PSI for the dashboard
    * trend, KS for the alarm).
    *
    * Scale shape (the [[Eval.binaryAuc]] discipline): one tagged-union
    * aggregate collapses both corpora to per-distinct-value counts, the
    * inclusive cumulative counts come from the two-phase block prefix
    * sum (range blocks from the broadcast min/max, per-block offsets
    * over a ≤nBlocks-row frame, block-local windows), and the max is a
    * final aggregate. No global sort; nothing downstream of the first
    * groupBy scales with the corpora.
    *
    * Determinism: cumulative counts are exact integers; each CDF value
    * is one division and D compares those doubles — identical in any
    * IEEE engine, safe to hash-compare rounded.
    *
    * Output: one row (n_a, n_b, ks) with ks at 6 dp.
    */
  def ksStatistic(a: DataFrame, b: DataFrame, value: Column,
      nBlocks: Int = 256): DataFrame =
    // single-pass tagged union (ONE aggregate over both corpora), not
    // valueCounts-per-side + merge: same result, two fewer exchanges —
    // the pre-aggregated path exists for callers that already hold
    // mergeable partials ([[ksFromCounts]], the streaming screen)
    ksReduce(
      a.select(value.cast("double").as("v"),
          lit(1L).as("ta"), lit(0L).as("tb"))
        .unionAll(b.select(value.cast("double").as("v"),
          lit(0L).as("ta"), lit(1L).as("tb")))
        .filter(col("v").isNotNull)
        .groupBy("v").agg(sum("ta").as("ca"), sum("tb").as("cb")),
      nBlocks)

  /** Per-distinct-value counts (v, cnt) — KS's mergeable partial form,
    * same discipline as [[Eval.scorePartials]]: micro-batches or shard
    * partials sum-merge losslessly ([[mergeValueCounts]]) and
    * [[ksFromCounts]] yields the exact statistic of the union.
    * Quantize `value` first if its raw cardinality is unbounded.
    */
  def valueCounts(df: DataFrame, value: Column): DataFrame =
    df.select(value.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))

  /** Sum-merge two (v, cnt) tables (same quantization). */
  def mergeValueCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("v").agg(sum("cnt").as("cnt"))

  /** Exact KS from two (v, cnt) partial tables — [[ksStatistic]]'s
    * reduction stage.
    */
  def ksFromCounts(aCounts: DataFrame, bCounts: DataFrame,
      nBlocks: Int = 256): DataFrame =
    ksReduce(
      aCounts
        .select(col("v"), col("cnt").as("ta"), lit(0L).as("tb"))
        .unionAll(bCounts
          .select(col("v"), lit(0L).as("ta"), col("cnt").as("tb")))
        .groupBy("v").agg(sum("ta").as("ca"), sum("tb").as("cb")),
      nBlocks)

  /** Exact quantiles from a mergeable (v, cnt) table — the
    * lower-rank ("type 1") quantile: the smallest v whose inclusive
    * cumulative count reaches ceil(q·n). Because the input is the
    * same sum-mergeable per-value count state the KS screen keeps
    * ([[valueCounts]]/[[mergeValueCounts]]), this gives EXACT medians
    * and tail percentiles at 100 TB whenever the value domain is
    * bounded (quantize first otherwise) — the exact complement to
    * [[HistSketch]]'s approximate path, at O(|distinct|) state.
    *
    * Shape: the cumulative count reuses the two-phase block prefix sum
    * (per-block offsets from a bounded |blocks| window, in-block
    * inclusive window partitioned by block — no one-task global
    * window); the quantile targets are a broadcast |qs|-row frame.
    * Rank arithmetic is integer-only. Output: q, target_rank, v.
    */
  def quantilesFromCounts(counts0: DataFrame, qs: Seq[Double],
      nBlocks: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must lie in (0, 1]")
    require(nBlocks > 0, "nBlocks must be > 0")
    val targets = qs.distinct.sorted
    Fence.tiered(counts0.select("v", "cnt"), "quantile_counts")(
      quantilesInDriver(counts0.sparkSession, _, targets, grouped = false))(
      quantilesPlan(_, targets, nBlocks))
  }

  /** [[quantilesFromCounts]]' corpus tier over the staged (v, cnt)
    * table. */
  private def quantilesPlan(counts: DataFrame, targets: Seq[Double],
      nBlocks: Int): DataFrame = {
    val bounds = counts.agg(min("v").as("lo"), max("v").as("hi"),
      sum("cnt").as("n"))
    val blocked = counts.crossJoin(broadcast(bounds))
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("v") - col("lo")) / (col("hi") - col("lo")) * nBlocks)
            .cast("long"))))
    val wBlocks = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("block")
      .agg(sum("cnt").as("bc"))
      .select(col("block"),
        coalesce(sum("bc").over(wBlocks), lit(0L)).as("off"))
    val wIn = Window.partitionBy("block").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = blocked.join(broadcast(offsets), "block")
      .withColumn("cc", col("off") + sum("cnt").over(wIn))
    cum.crossJoin(broadcast(targetFrame(counts.sparkSession, targets)))
      // ceil(q·n) in exact integer arithmetic would need rational q;
      // q is a literal double, ceil on the double product matches the
      // oracle's identical expression.
      .withColumn("target_rank", ceil(col("q") * col("n")).cast("long"))
      .filter(col("cc") >= col("target_rank"))
      .groupBy("q", "target_rank")
      .agg(min("v").as("v"))
      .select(col("q"), col("target_rank"), col("v"))
  }

  /** The |qs|-row frame of quantile targets (q). The .distinct() puts an
    * aggregate under the broadcast side so the plan sweep can see the
    * frame is bounded. */
  private def targetFrame(spark: SparkSession, targets: Seq[Double])
      : DataFrame =
    spark.sql(targets.map(q => s"SELECT CAST($q AS DOUBLE) AS q")
      .mkString(" UNION ALL ")).distinct()

  /** GROUPED [[quantilesFromCounts]]: exact lower-rank quantiles per
    * group from one (g, v, cnt) table in ONE pass — for callers that
    * need quantiles of SEVERAL distributions (RFM's three metric
    * dimensions, per-slice monitoring): N separate
    * [[quantilesFromCounts]] mini-queries are N scans of the same
    * upstream plus N driver round-trips, where one tagged union is a
    * single scan (round-18; qO1 ran ~50 micro jobs, 3 quantile
    * pipelines of them). Same block prefix-sum shape with every
    * window/aggregate additionally keyed by `g` — per-group frames stay
    * |blocks|- and |qs|-bounded, so broadcasts stay bounded at
    * |groups|·|blocks|. Output: g, q, target_rank, v.
    */
  def quantilesFromCountsBy(counts0: DataFrame, qs: Seq[Double],
      nBlocks: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must lie in (0, 1]")
    require(nBlocks > 0, "nBlocks must be > 0")
    val targets = qs.distinct.sorted
    Fence.tiered(counts0.select("g", "v", "cnt"), "quantile_counts_by")(
      quantilesInDriver(counts0.sparkSession, _, targets, grouped = true))(
      quantilesByPlan(_, targets, nBlocks))
  }

  /** [[quantilesFromCountsBy]]' corpus tier over the staged (g, v, cnt)
    * table. */
  private def quantilesByPlan(counts: DataFrame, targets: Seq[Double],
      nBlocks: Int): DataFrame = {
    val bounds = counts.groupBy("g").agg(min("v").as("lo"),
      max("v").as("hi"), sum("cnt").as("n"))
    val blocked = counts.join(broadcast(bounds), "g")
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("v") - col("lo")) / (col("hi") - col("lo")) * nBlocks)
            .cast("long"))))
    val wBlocks = Window.partitionBy("g").orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("g", "block")
      .agg(sum("cnt").as("bc"))
      .select(col("g"), col("block"),
        coalesce(sum("bc").over(wBlocks), lit(0L)).as("off"))
    val wIn = Window.partitionBy("g", "block").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = blocked.join(broadcast(offsets), Seq("g", "block"))
      .withColumn("cc", col("off") + sum("cnt").over(wIn))
    cum.crossJoin(broadcast(targetFrame(counts.sparkSession, targets)))
      .withColumn("target_rank", ceil(col("q") * col("n")).cast("long"))
      .filter(col("cc") >= col("target_rank"))
      .groupBy("g", "q", "target_rank")
      .agg(min("v").as("v"))
      .select(col("g"), col("q"), col("target_rank"), col("v"))
  }

  /** The driver tier of [[quantilesFromCounts]] (`grouped` false:
    * (v, cnt) columns) and [[quantilesFromCountsBy]] ((g, v, cnt)):
    * per group, the rank walk finds each target's lower-rank quantile,
    * the first value in ascending order whose inclusive cumulative count
    * reaches ceil(q·n), with the ceiling taken on the same double
    * product as the plan's. That is the plan's min(v) over the rows
    * whose cumulative count reaches the target: the block number is
    * monotone in v, so the plan's (block, v) order is v order. Declines
    * (the corpus tier answers instead) a null anywhere, which the plan's
    * joins drop and its windows order first, and column types the walk
    * does not read (a g other than a string: every caller tags groups
    * with strings). */
  private def quantilesInDriver(spark: SparkSession, c: Fence.Columns,
      targets: Seq[Double], grouped: Boolean): Option[DataFrame] = {
    val at = if (grouped) 1 else 0
    val types = c.schema.fields.map(_.dataType)
    if (c.hasNull || types(at) != DoubleType || types(at + 1) != LongType ||
        grouped && types(0) != StringType) None
    else {
      val v = c.doubles(at)
      val cnt = c.longs(at + 1)
      val groups: Iterable[(Any, Seq[Int])] =
        if (!grouped) Seq(((), v.indices))
        else v.indices.groupBy(c.values(0)(_))
      val rows = Seq.newBuilder[Row]
      for ((key, idx) <- groups) {
        val n = idx.foldLeft(0L)(_ + cnt(_))
        val ranks = targets.map(q => math.ceil(q * n).toLong)
        val found = Array.fill(targets.length)(false)
        rankWalk(v, idx, cnt) { (i, cum) =>
          for (k <- targets.indices if !found(k) && cum(0) >= ranks(k)) {
            found(k) = true
            val row = Seq[Any](targets(k), ranks(k), v(i))
            rows += Row.fromSeq(if (grouped) key +: row else row)
          }
        }
      }
      val fields = Seq(StructField("q", DoubleType, nullable = false),
        StructField("target_rank", LongType), StructField("v", DoubleType))
      Some(local(spark, rows.result(),
        if (grouped) c.schema.fields(0) +: fields else fields))
    }
  }

  /** The driver tier's one rank walk: visits the rows `idx` in
    * ascending `v` (Spark's double order: NaN last), handing each row
    * the inclusive cumulative sums of `counts` up to and including it. */
  private def rankWalk(v: Array[Double], idx: Seq[Int],
      counts: Array[Long]*)(visit: (Int, Array[Long]) => Unit): Unit = {
    val cum = new Array[Long](counts.length)
    for (i <- idx.sortBy(v(_))(Ordering.Double.TotalOrdering)) {
      for (k <- counts.indices) cum(k) += counts(k)(i)
      visit(i, cum)
    }
  }

  /** The driver tier's local result frame. */
  private def local(spark: SparkSession, rows: Seq[Row],
      fields: Seq[StructField]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields))

  /** Mergeable CATEGORY counts — the categorical sibling of
    * [[valueCounts]] (same sum-merge lifecycle, string keys).
    */
  def catCounts(df: DataFrame, category: Column): DataFrame =
    df.select(category.cast("string").as("k"))
      .filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("cnt"))

  /** Sum-merge two (k, cnt) category tables. */
  def mergeCatCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("k").agg(sum("cnt").as("cnt"))

  /** Pearson χ² two-sample test from two category-count tables — the
    * categorical drift statistic beside [[ksFromCounts]] (continuous):
    * a 2×C independence test of (sample tag × category) computed
    * directly from the merged margins. Absent categories complete with
    * zero observed; per-cell contributions snap to integer 1e-6 units
    * (the [[Robust.chi2Independence]] discipline) so the statistic is
    * exact. Output: one row — n_a, n_b, c_levels, df, chi2 (4 dp).
    */
  def chi2FromCounts(aCounts: DataFrame, bCounts: DataFrame): DataFrame = {
    val byK = aCounts
      .select(col("k"), col("cnt").as("ca"), lit(0L).as("cb"))
      .unionAll(bCounts
        .select(col("k"), lit(0L).as("ca"), col("cnt").as("cb")))
      .groupBy("k").agg(sum("ca").as("oa"), sum("cb").as("ob"))
    val tot = byK.agg(sum("oa").as("na"), sum("ob").as("nb"),
      count(lit(1)).as("c_levels"))
    val cells = byK.crossJoin(broadcast(tot))
      .withColumn("colm", col("oa") + col("ob"))
      .withColumn("n", col("na") + col("nb"))
      // expected under independence: rowTotal·colTotal/n for each of
      // the two sample rows
      .withColumn("ea", col("na").cast("double") * col("colm") / col("n"))
      .withColumn("eb", col("nb").cast("double") * col("colm") / col("n"))
      .withColumn("contrib6",
        floor((col("oa") - col("ea")) * (col("oa") - col("ea")) /
          col("ea") * 1000000.0 + 0.5).cast("long") +
        floor((col("ob") - col("eb")) * (col("ob") - col("eb")) /
          col("eb") * 1000000.0 + 0.5).cast("long"))
    cells.agg(first("na").as("n_a"), first("nb").as("n_b"),
        first("c_levels").as("c_levels"), sum("contrib6").as("s6"))
      .select(col("n_a"), col("n_b"), col("c_levels"),
        (col("c_levels") - 1).as("df"),
        (floor(col("s6").cast("double") / 1000000.0 * 10000.0 + 0.5) /
          10000.0).as("chi2"))
  }

  /** Quantile-quantile drift table: matched exact quantiles of two
    * (v, cnt) count tables at the given probabilities, with the
    * per-quantile gap — the where-does-it-drift complement to the
    * single-number KS statistic (and the data behind a QQ plot).
    * Composes [[quantilesFromCounts]] on each side (same block
    * prefix-sum shape) and joins the two |qs|-row results.
    * Output: q, v_a, v_b, gap (= v_b − v_a).
    */
  def qqTable(aCounts: DataFrame, bCounts: DataFrame,
      qs: Seq[Double], nBlocks: Int = 256): DataFrame =
    // one side-tagged grouped pass instead of two independent quantile
    // pipelines (round-18, the qO1 consolidation): identical per-side
    // results — the grouped reduction is the same algorithm keyed by
    // the tag — at half the scans and half the shuffle stages
    qqTableTagged(
      aCounts.select(lit("a").as("g"), col("v"), col("cnt"))
        .unionAll(bCounts.select(lit("b").as("g"), col("v"),
          col("cnt"))),
      qs, nBlocks)

  /** [[qqTable]] from ONE side-tagged (g ∈ {'a','b'}, v, cnt) count
    * table — for callers whose two sides partition a single source by
    * a row predicate: tagging at scan time collapses the two per-side
    * count scans into one (round-19; qM9's events table was scanned
    * once per side per reduction leg before this).
    */
  def qqTableTagged(tagged: DataFrame, qs: Seq[Double],
      nBlocks: Int = 256): DataFrame = {
    val both = quantilesFromCountsBy(tagged, qs, nBlocks)
    // pivot by tag in ONE aggregate (a filter-per-side self-join would
    // re-evaluate the pipeline per leg — the duplicated-subtree trap
    // this rewrite removes); the null filter reproduces the original
    // inner join's behavior when one side is empty
    both.groupBy("q")
      .agg(min(when(col("g") === "a", col("v"))).as("v_a"),
        min(when(col("g") === "b", col("v"))).as("v_b"))
      .filter(col("v_a").isNotNull && col("v_b").isNotNull)
      .select(col("q"), col("v_a"), col("v_b"),
        (col("v_b") - col("v_a")).as("gap"))
  }

  /** Shared KS reduction over the (v, ca, cb) table. */
  private def ksReduce(byV: DataFrame, nBlocks: Int): DataFrame = {
    require(nBlocks > 0, "nBlocks must be > 0")
    Fence.tiered(byV, "ks_counts")(ksInDriver(byV.sparkSession, _))(
      ksPlan(_, nBlocks))
  }

  /** [[ksReduce]]'s corpus tier over the staged (v, ca, cb) table. */
  private def ksPlan(byV: DataFrame, nBlocks: Int): DataFrame = {
    val bounds = byV.agg(min("v").as("lo"), max("v").as("hi"),
      sum("ca").as("na"), sum("cb").as("nb"))
    val blocked = byV.crossJoin(broadcast(bounds))
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("v") - col("lo")) / (col("hi") - col("lo")) * nBlocks)
            .cast("long"))))
    val wBlocks = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("block")
      .agg(sum("ca").as("ba"), sum("cb").as("bb"))
      .select(col("block"),
        coalesce(sum("ba").over(wBlocks), lit(0L)).as("aoff"),
        coalesce(sum("bb").over(wBlocks), lit(0L)).as("boff"))
    val wIn = Window.partitionBy("block").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0) // inclusive: F(x) at x
    blocked.join(broadcast(offsets), "block")
      .withColumn("cca", col("aoff") + sum("ca").over(wIn))
      .withColumn("ccb", col("boff") + sum("cb").over(wIn))
      .agg(max(abs(col("cca") / col("na") - col("ccb") / col("nb")))
        .as("d"), first("na").as("na"), first("nb").as("nb"))
      .select(col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        (floor(col("d") * 1e6 + 0.5) / 1e6).as("ks"))
  }

  /** [[ksReduce]]'s driver tier: the rank walk's cumulative counts give
    * D = max |cca/na − ccb/nb| in the plan's double arithmetic and
    * rounding. Declines (the corpus tier answers instead) a null, column
    * types the walk does not read, and an empty side, where the plan's
    * division by zero raises under ANSI and is null otherwise. */
  private def ksInDriver(spark: SparkSession, c: Fence.Columns)
      : Option[DataFrame] =
    if (c.hasNull ||
        !c.schema.fields.map(_.dataType).sameElements(
          Seq(DoubleType, LongType, LongType))) None
    else {
      val (v, ca, cb) = (c.doubles(0), c.longs(1), c.longs(2))
      val (na, nb) = (ca.sum, cb.sum)
      if (na == 0 || nb == 0) None
      else {
        var d = 0.0
        rankWalk(v, v.indices, ca, cb) { (_, cum) =>
          d = math.max(d, math.abs(cum(0).toDouble / na - cum(1).toDouble / nb))
        }
        Some(local(spark, Seq(Row(na, nb, math.floor(d * 1e6 + 0.5).toLong / 1e6)),
          Seq(StructField("n_a", LongType), StructField("n_b", LongType),
            StructField("ks", DoubleType))))
      }
    }
}
