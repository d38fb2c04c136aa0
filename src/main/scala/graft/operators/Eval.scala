package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation operators for the quality-gate stage of a
  * curation pipeline: once a quality model scores every document
  * (TextAnalysis.qualityScore / the linear gate), these measure whether
  * the scores are any good — exact ROC AUC and a reliability
  * (calibration) table — as distributed aggregations, not a driver-side
  * sklearn call over a collect().
  *
  * Scale shape: both operators aggregate per DISTINCT SCORE first, so
  * everything after the first groupBy is bounded by the score
  * cardinality, not the corpus. The AUC prefix sum over score groups
  * uses the same two-phase block trick as [[Order.globalIndex]] /
  * [[Pack]]: min/max-derived range blocks (monotonic in score), a
  * per-block count frame (|blocks| rows, the only single-partition
  * window), then block-local cumulative sums in parallel — no global
  * one-task sort at any point.
  */
object Eval {

  /** Exact ROC AUC via the Mann-Whitney rank-sum identity with
    * average ranks for ties:
    *
    *   AUC = (R_pos − nPos·(nPos+1)/2) / (nPos·nNeg)
    *
    * where R_pos is the sum over positives of their average rank under
    * ascending score order. Ties get the average rank of their run —
    * the identity AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻),
    * which is what a trapezoidal ROC integration yields.
    *
    * Determinism: every per-score term is an integer multiple of 0.5
    * (counts and count-halves), so the double sums are exact regardless
    * of partial-aggregation order; the single final division is one
    * IEEE op — reproducible across engines, safe to hash-compare.
    *
    * Output: one row (n_pos, n_neg, auc) with `auc` rounded to 6 dp
    * (stable floor form).
    */
  def binaryAuc(df: DataFrame, score: Column, label: Column,
      nBlocks: Int = 256): DataFrame =
    aucFromPartials(scorePartials(df, score, label), nBlocks)

  /** Per-distinct-score partials (s, cnt, pos) — [[binaryAuc]]'s first
    * aggregate, exposed because the table is MERGEABLE (sum-merge on
    * `s`): micro-batches of a stream, per-shard partials of a
    * federated corpus, or daily increments all combine losslessly via
    * [[mergePartials]], and [[aucFromPartials]] yields the exact AUC of
    * the union — the sketch-table discipline (HLL/Count-Min) applied to
    * a ranking statistic. Quantize the score before calling if its raw
    * cardinality is unbounded; the statistic is then exact for the
    * quantized score. Label is coerced to {0,1} (fails closed: null
    * labels count as negative).
    */
  def scorePartials(df: DataFrame, score: Column, label: Column)
      : DataFrame =
    df.select(score.cast("double").as("s"),
      when(label, 1L).otherwise(0L).as("y"))
      .filter(col("s").isNotNull)
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))

  /** Sum-merge two partials tables (same schema, same quantization). */
  def mergePartials(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("s")
      .agg(sum("cnt").as("cnt"), sum("pos").as("pos"))

  /** One pooled block of an isotonic (PAV) fit: scores in
    * [lo, hi] share the fitted rate p = pos/cnt.
    */
  final case class IsoBlock(lo: Double, hi: Double, cnt: Long,
      pos: Long) {
    def p: Double = pos.toDouble / cnt
  }

  /** Isotonic-regression calibration via pool-adjacent-violators over
    * the MERGEABLE [[scorePartials]] table — the monotone
    * score→probability map a quality/ranking classifier is calibrated
    * with when the sigmoid shape of [[calibrationBins]] is wrong.
    *
    * Shape: the distributed work is the one [[scorePartials]]
    * aggregate (quantize unbounded scores first — same contract as
    * the AUC path); PAV itself runs on the DRIVER over the bounded
    * distinct-score frame (the codebook/vocab bounded-artifact
    * license: O(|scores|) stack algorithm), and the result is a
    * bounded block list that rides back into plans as literals
    * ([[isotonicApplyExpr]]) — calibrating 100 TB of scores is then a
    * pure projection.
    *
    * Determinism: PAV pools exact integer (cnt, pos) sums; each
    * fitted rate is one division. The fit satisfies the minimax
    * identity p(s_i) = max_{j≤i} min_{k≥i} avg(pos)/avg(cnt) over
    * score runs j..k, which is how the oracle checks it in SQL.
    */
  def isotonicBlocks(df: DataFrame, score: Column, label: Column)
      : Seq[IsoBlock] =
    isotonicBlocksFromPartials(scorePartials(df, score, label))

  /** PAV over an existing (s, cnt, pos) partials table — the
    * streaming/merged-state entry point (partials sum-merge, then one
    * driver fit). The quantize-first contract is enforced: the partials
    * frame is counted before the driver collect, so an unquantized
    * caller fails fast instead of pulling an unbounded distinct-score
    * frame onto the driver.
    */
  def isotonicBlocksFromPartials(partials: DataFrame,
      maxDistinctScores: Long = 100000L): Seq[IsoBlock] =
    fitBlocks(graft.plans.Fence.bounded(partials), maxDistinctScores)

  /** PAV over an ALREADY-MATERIALIZED partials frame — the internal
    * entry [[isotonicFit]] uses so its fenced frame isn't checkpointed
    * a second time (the guard count and the collect both read it).
    */
  private def fitBlocks(bounded: DataFrame,
      maxDistinctScores: Long): Seq[IsoBlock] = {
    // guard and collect in ONE job: pulling cap+1 rows bounds the
    // driver transfer exactly like the separate count() did (the limit
    // stops the scan), minus one job per fit (round 19, guide §1 —
    // these fits are micro-job-bound locally)
    val capped = math.min(maxDistinctScores, Int.MaxValue - 1L).toInt
    val rows = bounded.orderBy("s").limit(capped + 1).collect()
    require(rows.length <= maxDistinctScores,
      s"isotonic: more than $maxDistinctScores distinct scores — " +
        "quantize scores first (the PAV-path contract) or raise " +
        "maxDistinctScores")
    val stack = scala.collection.mutable.ArrayBuffer.empty[IsoBlock]
    rows.foreach { r =>
      var b = IsoBlock(r.getDouble(0), r.getDouble(0),
        r.getLong(1), r.getLong(2))
      while (stack.nonEmpty &&
          stack.last.pos.toDouble * b.cnt >= b.pos.toDouble * stack.last.cnt) {
        // previous rate >= incoming rate — pool (integer cross-compare,
        // no division until output)
        val t = stack.remove(stack.length - 1)
        b = IsoBlock(t.lo, b.hi, t.cnt + b.cnt, t.pos + b.pos)
      }
      stack += b
    }
    stack.toSeq
  }

  /** Per-distinct-score fitted table of [[isotonicBlocks]]:
    * (s, cnt, pos, p_fit 6 dp), ascending in s with p_fit
    * nondecreasing. The expansion joins the bounded block list back to
    * the partials on a range predicate — both frames are
    * |distinct scores|-sized.
    */
  def isotonicFit(df: DataFrame, score: Column, label: Column)
      : DataFrame = {
    // fence the partials once: the driver fit and the expansion read
    // the same bounded frame, not two corpus scans
    val parts = graft.plans.Fence.bounded(scorePartials(df, score, label))
    val blocks = fitBlocks(parts, 100000L)
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    // expansion is the step-function CASE chain — a pure projection
    // over the bounded frame, no join for the plan sweep to question
    parts.select(col("s"), col("cnt"), col("pos"),
      r6(isotonicApplyExpr(blocks, col("s"))).as("p_fit"))
  }

  /** Decile lift/gains table — the campaign-targeting view of a
    * classifier: rank the population into `buckets` score bands via
    * EXACT quantile cut points (broadcast driver artifact, the RFM
    * discipline — no corpus-wide ntile window; ties make bands
    * uneven, the quantile-cut convention), then per-band response
    * rates and cumulative lift from the top band down. All counts
    * integer; ratios single divisions; the cumulative pass runs over
    * the bounded |buckets|-row frame.
    * Output per band: band (1 = highest scores), n, n_pos, resp_rate
    * (4 dp), cum_n, cum_pos, cum_lift (4 dp).
    */
  def liftTable(df: DataFrame, score: Column, label: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "need at least 2 bands")
    import org.apache.spark.sql.expressions.Window
    // per-row (s, y) frame — corpus-sized, read by the cuts pass AND
    // the banded aggregate -> durable stage fence
    val base = graft.plans.Fence.corpus(
      df.select(score.cast("double").as("s"),
          when(label, 1L).otherwise(0L).as("y"))
        .filter(col("s").isNotNull),
      "lift_base")
    val counts = base.groupBy("s").agg(count(lit(1)).as("cnt"))
      .withColumnRenamed("s", "v") // quantilesFromCounts' (v, cnt) shape
    val qs = (1 until buckets).map(_.toDouble / buckets)
    // |qs| rows, ordered in the driver (a distributed ORDER BY of them
    // is a sampling job plus a shuffle job)
    val cuts = graft.operators.Drift.quantilesFromCounts(counts, qs)
      .collect().sortBy(_.getAs[Double]("q")).map(_.getAs[Double]("v")).toSeq
    val band = lit(buckets) -
      cuts.map(c => when(col("s") > lit(c), 1).otherwise(0))
        .reduce(_ + _)
    val byBand = base.withColumn("band", band)
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val w = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = byBand.agg(sum("n").as("tn"), sum("n_pos").as("tp"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    byBand.crossJoin(broadcast(tot))
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("n_pos").over(w))
      .select(col("band"), col("n"), col("n_pos"),
        r4(col("n_pos").cast("double") / col("n")).as("resp_rate"),
        col("cum_n"), col("cum_pos"),
        r4((col("cum_pos").cast("double") / col("cum_n")) /
          (col("tp").cast("double") / col("tn"))).as("cum_lift"))
  }

  /** Brier score of a probability column against a binary outcome:
    * mean (p − y)². Probabilities are SNAPPED to integer 1e-4 units so
    * the squared-error sum is an exact BIGINT in any aggregation
    * order; one final division. Output: one row — n, brier (6 dp).
    */
  def brierScore(df: DataFrame, prob: Column, label: Column): DataFrame = {
    val p4 = floor(prob.cast("double") * 10000.0 + 0.5).cast("long")
    val y4 = when(label, 10000L).otherwise(0L)
    df.select(p4.as("p"), y4.as("y"))
      .filter(col("p").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum((col("p") - col("y")) * (col("p") - col("y"))).as("s"))
      .select(col("n"),
        (floor(col("s").cast("double") / col("n") / 100000000.0
          * 1000000.0 + 0.5) / 1000000.0).as("brier"))
  }

  /** Cohen's kappa between two boolean raters: chance-corrected
    * agreement (po − pe)/(1 − pe) from the 2×2 confusion counts —
    * all-integer margins, fixed expression tree, null when pe = 1
    * (degenerate constant raters). One conditional-sum aggregate.
    * Output: one row — n, n11, n10, n01, n00, po (4 dp), pe (4 dp),
    * kappa (4 dp).
    */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column)
      : DataFrame = {
    val a = coalesce(raterA, lit(false))
    val b = coalesce(raterB, lit(false))
    val counts = df.agg(
      count(lit(1)).as("n"),
      sum(when(a && b, 1L).otherwise(0L)).as("n11"),
      sum(when(a && !b, 1L).otherwise(0L)).as("n10"),
      sum(when(!a && b, 1L).otherwise(0L)).as("n01"),
      sum(when(!a && !b, 1L).otherwise(0L)).as("n00"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    counts
      .withColumn("po",
        (col("n11") + col("n00")).cast("double") / col("n"))
      .withColumn("pe",
        ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
          (col("n01") + col("n00")) * (col("n10") + col("n00")))
          .cast("double") / col("n") / col("n"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        r4(col("po")).as("po"), r4(col("pe")).as("pe"),
        when(col("pe") === 1.0, lit(null).cast("double"))
          .otherwise(r4((col("po") - col("pe")) / (lit(1.0) - col("pe"))))
          .as("kappa"))
  }

  /** AUC with DeLong standard error and 95% CI — the
    * is-this-ranking-actually-better rigor layer over [[binaryAuc]]:
    * per-positive placements (fraction of negatives ranked below,
    * ties half) have variance V10, per-negative placements V01, and
    * SE² = V10/n1 + V01/n0 (DeLong, DeLong & Clarke-Pearson 1988).
    *
    * Distributed shape: everything derives from the same mergeable
    * [[scorePartials]] frame (quantize unbounded scores first — the
    * AUC-path contract); cumulative negative/positive counts come from
    * one ordered pass over that bounded frame, and the variance sums
    * fold in score order on both engines (sorted-array fold vs
    * list(ORDER BY) + list_sum). Placements are exact one-division
    * rationals; the CI uses the snapped literal 1.96.
    *
    * Guards: the quantize-first contract is ENFORCED, not just
    * documented — the distinct-score partials frame is counted before
    * the single-row fold, and an unquantized caller (more than
    * `maxDistinctScores` distinct scores) fails fast instead of
    * building a single-task O(n) array. Degenerate label mixes follow
    * [[binaryAucBy]]'s convention for the POINT estimate (auc is null
    * only when a class is EMPTY — one positive against many negatives
    * still has a well-defined AUC); the DeLong variance additionally
    * needs two members per class, so se/ci are null whenever either
    * class has fewer than 2.
    *
    * Output: one row — n_pos, n_neg, auc (6 dp), se (6 dp),
    * ci95_lo (6 dp), ci95_hi (6 dp).
    */
  def aucDelong(df: DataFrame, score: Column, label: Column,
      maxDistinctScores: Long = 100000L): DataFrame = {
    // counted by the guard, then folded once
    val parts = graft.plans.Fence.bounded(scorePartials(df, score, label)
      .withColumn("neg", col("cnt") - col("pos")))
    val nDistinct = parts.count()
    require(nDistinct <= maxDistinctScores,
      s"aucDelong: $nDistinct distinct scores exceed the " +
        s"$maxDistinctScores single-row fold cap — quantize scores " +
        "first (the AUC-path contract) or raise maxDistinctScores")
    val folded = parts
      .agg(sort_array(collect_list(
        struct(col("s"), col("pos"), col("neg")))).as("xs"))
      .select(col("xs"),
        aggregate(col("xs"), lit(0L), (a, x) => a + x.getField("pos"))
          .as("n1"),
        aggregate(col("xs"), lit(0L), (a, x) => a + x.getField("neg"))
          .as("n0"))
    // One ordered pass: running negatives/positives BELOW the current
    // score drive both placement families.
    val sums = folded.select(col("n1"), col("n0"),
      aggregate(col("xs"),
        struct(lit(0L).as("cnb"), lit(0L).as("cpb"),
          lit(0.0).as("sp1"), lit(0.0).as("sp2"),
          lit(0.0).as("sq1"), lit(0.0).as("sq2")),
        (acc, x) => {
          // divisors clamped to 1 so an empty class can't trip ANSI
          // divide-by-zero mid-fold — the degenerate-mix guard below
          // nulls every statistic built from these placements anyway
          val d0 = greatest(col("n0"), lit(1L))
          val d1 = greatest(col("n1"), lit(1L))
          // placement of positives at s: negatives below + half ties
          val pPos = (acc.getField("cnb") + x.getField("neg") * 0.5) / d0
          // placement of negatives at s: positives ABOVE + half ties
          val pNeg = (col("n1") - acc.getField("cpb") -
            x.getField("pos") * 0.5) / d1
          struct(
            (acc.getField("cnb") + x.getField("neg")).as("cnb"),
            (acc.getField("cpb") + x.getField("pos")).as("cpb"),
            (acc.getField("sp1") + x.getField("pos") * pPos).as("sp1"),
            (acc.getField("sp2") + x.getField("pos") * pPos * pPos)
              .as("sp2"),
            (acc.getField("sq1") + x.getField("neg") * pNeg).as("sq1"),
            (acc.getField("sq2") + x.getField("neg") * pNeg * pNeg)
              .as("sq2"))
        }).as("f"))
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    // the AUC point estimate needs one member per class (binaryAucBy's
    // convention); the variance divisors n1-1/n0-1 need two — null each
    // tier instead of emitting NaN/Infinity
    val aucDefined = col("n1") > 0 && col("n0") > 0
    val seDefined = col("n1") > 1 && col("n0") > 1
    def guardAuc(c: Column) =
      when(aucDefined, c).otherwise(lit(null).cast("double"))
    def guard(c: Column) =
      when(seDefined, c).otherwise(lit(null).cast("double"))
    // same ANSI-safe clamp as in the fold: every consumer of these
    // divisions is guard()-nulled when a class has < 2 members
    def c1(c: Column) = greatest(c, lit(1L))
    sums.select(col("n1"), col("n0"),
        (col("f.sp1") / c1(col("n1"))).as("auc_raw"),
        ((col("f.sp2") - col("f.sp1") * col("f.sp1") / c1(col("n1"))) /
          c1(col("n1") - 1)).as("v10"),
        ((col("f.sq2") - col("f.sq1") * col("f.sq1") / c1(col("n0"))) /
          c1(col("n0") - 1)).as("v01"))
      .withColumn("se_raw",
        sqrt(col("v10") / c1(col("n1")) + col("v01") / c1(col("n0"))))
      .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
        guardAuc(r6(col("auc_raw"))).as("auc"),
        guard(r6(col("se_raw"))).as("se"),
        guard(r6(col("auc_raw") - lit(1.96) * col("se_raw")))
          .as("ci95_lo"),
        guard(r6(col("auc_raw") + lit(1.96) * col("se_raw")))
          .as("ci95_hi"))
  }

  /** Split-conformal prediction interval (Vovk et al.; the
    * distribution-free coverage guarantee): fit a point predictor on
    * the CALIBRATION split (here the per-group mean — any predictor
    * slots in), take the ceil((n+1)(1−α))-th smallest absolute
    * residual as the interval half-width q̂, and report the empirical
    * coverage of prediction ± q̂ on the TEST split — which the
    * exchangeability theorem guarantees ≥ 1−α in expectation.
    *
    * Scale shape: two grouped aggregates (means, test coverage — both
    * scan-speed with the |groups|-row mean frame broadcast back), and
    * the residual-rank quantile via the same value-count + block
    * prefix-sum machinery as [[graft.operators.Drift]] (residuals
    * snapped to integer 1e-2-cent units so ranks are exact).
    *
    * Output: one row — n_cal, n_test, qhat (4 dp, units),
    * coverage (4 dp).
    */
  def splitConformal(df: DataFrame, group: Column, value: Column,
      isCalib: Column, alpha: Double, nBlocks: Int = 256): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    // per-row frame read by means + residuals + the test pass ->
    // corpus-sized -> durable stage fence, not executor-pinned blocks
    val base = graft.plans.Fence.corpus(
      df.select(group.cast("string").as("g"),
          floor(value.cast("double") * 100 + 0.5).cast("long").as("c"),
          isCalib.as("cal"))
        .filter(col("c").isNotNull && col("g").isNotNull),
      "conformal_base")
    val means = base.filter(col("cal"))
      .groupBy("g").agg(count(lit(1)).as("n_g"), sum("c").as("s_g"))
      .select(col("g"), (col("s_g").cast("double") / col("n_g")).as("m"))
    val resid = base.filter(col("cal"))
      .join(broadcast(means), Seq("g"))
      // residual in 1e-2-cent integer units: exact rank arithmetic
      .select(floor(abs(col("c") - col("m")) * 100 + 0.5)
        .cast("long").as("r"))
    // fence the bounded residual counts: the bounds / offset / qhat
    // legs otherwise re-run the means join + residual aggregation from
    // the staged base per leg (round-19 audit: qN0 at 48 exchanges)
    val counts = graft.plans.Fence.bounded(
      resid.groupBy("r").agg(count(lit(1)).as("cnt")))
    val bounds = counts.agg(min("r").as("lo"), max("r").as("hi"),
      sum("cnt").as("n"))
    val blocked = counts.crossJoin(broadcast(bounds))
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("r") - col("lo")).cast("double") /
              (col("hi") - col("lo")) * nBlocks).cast("long"))))
    val wB = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = blocked.groupBy("block").agg(sum("cnt").as("bc"))
      .select(col("block"),
        coalesce(sum("bc").over(wB), lit(0L)).as("off"))
    val wIn = Window.partitionBy("block").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, 0)
    val qhat = blocked.join(broadcast(offs), "block")
      .withColumn("cc", col("off") + sum("cnt").over(wIn))
      .withColumn("k",
        ceil((col("n") + 1).cast("double") * lit(1.0 - alpha))
          .cast("long"))
      .filter(col("cc") >= least(col("k"), col("n")))
      .agg(min("r").as("qr"), first("n").as("n_cal"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    val test = base.filter(!col("cal"))
      .join(broadcast(means), Seq("g"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        first("n_cal").as("n_cal"), first("qr").as("qr"),
        sum(when(floor(abs(col("c") - col("m")) * 100 + 0.5)
          .cast("long") <= col("qr"), 1L).otherwise(0L)).as("covered"))
    test.select(col("n_cal"), col("n_test"),
      r4(col("qr").cast("double") / 10000.0).as("qhat"),
      r4(col("covered").cast("double") / col("n_test")).as("coverage"))
  }

  /** Per-group split-conformal intervals — [[splitConformal]] with
    * group-local residual ranks (a per-type interval is what
    * production monitoring wants: tails differ by segment, and the
    * coverage guarantee is then PER GROUP). The residual rank runs as
    * a group-PARTITIONED window over the (group, residual) count frame
    * — partitioned, never a global window, the standard grouped shape.
    * Output per group: g, n_cal, n_test, qhat (4 dp), coverage (4 dp;
    * n_test = 0 and coverage null for groups with calibration rows but
    * no test rows). Groups with test rows but NO calibration rows are
    * omitted: no predictor or residual quantile exists for them, so
    * there is no interval to report coverage of.
    */
  def splitConformalBy(df: DataFrame, group: Column, value: Column,
      isCalib: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val base = graft.plans.Fence.corpus(
      df.select(group.cast("string").as("g"),
          floor(value.cast("double") * 100 + 0.5).cast("long").as("c"),
          isCalib.as("cal"))
        .filter(col("c").isNotNull && col("g").isNotNull),
      "conformal_by_base")
    // means is |groups|-bounded and read by four legs (residuals, the
    // qhat rank, the test pass, the anchor join) — fence it once
    val means = graft.plans.Fence.bounded(base.filter(col("cal"))
      .groupBy("g").agg(count(lit(1)).as("n_cal"), sum("c").as("s_g"))
      .select(col("g"), col("n_cal"),
        (col("s_g").cast("double") / col("n_cal")).as("m")))
    val residCounts = base.filter(col("cal"))
      .join(broadcast(means), Seq("g"))
      .select(col("g"),
        floor(abs(col("c") - col("m")) * 100 + 0.5).cast("long").as("r"))
      .groupBy("g", "r").agg(count(lit(1)).as("cnt"))
    val wG = Window.partitionBy("g").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, 0)
    // qhat is |groups|-bounded and read twice (test pass + anchor)
    val qhat = graft.plans.Fence.bounded(residCounts
      .withColumn("cc", sum("cnt").over(wG))
      .join(broadcast(means.select(col("g"), col("n_cal"))), Seq("g"))
      .withColumn("k",
        ceil((col("n_cal") + 1).cast("double") * lit(1.0 - alpha))
          .cast("long"))
      .filter(col("cc") >= least(col("k"), col("n_cal")))
      .groupBy("g").agg(min("r").as("qr")))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    val testAgg = base.filter(!col("cal"))
      .join(broadcast(means), Seq("g"))
      .join(broadcast(qhat), Seq("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_test"),
        sum(when(floor(abs(col("c") - col("m")) * 100 + 0.5)
          .cast("long") <= col("qr"), 1L).otherwise(0L)).as("covered"))
    // Anchor on the per-group (means × qhat) frame so groups whose
    // test split is empty still report their interval (n_test = 0,
    // coverage null) instead of vanishing.
    means.join(qhat, Seq("g"))
      .join(testAgg, Seq("g"), "left")
      .select(col("g"), col("n_cal"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        r4(col("qr").cast("double") / 10000.0).as("qhat"),
        when(col("n_test").isNull, lit(null).cast("double"))
          .otherwise(r4(col("covered").cast("double") / col("n_test")))
          .as("coverage"))
  }

  /** Step-function application of a PAV fit as a pure projection: the
    * bounded block list becomes a CASE chain of literals — no join, no
    * shuffle, scan speed on the full corpus. Scores below the first
    * block clamp to its rate; above the last, to the last rate.
    */
  def isotonicApplyExpr(blocks: Seq[IsoBlock], score: Column): Column = {
    require(blocks.nonEmpty, "empty isotonic fit")
    val init: Column = lit(blocks.last.p)
    blocks.init.reverse.foldLeft(init) { (acc, b) =>
      when(score <= b.hi, lit(b.p)).otherwise(acc)
    }
  }

  /** Exact AUC from a (s, cnt, pos) partials table — [[binaryAuc]]'s
    * reduction stage.
    */
  def aucFromPartials(byScore0: DataFrame, nBlocks: Int = 256)
      : DataFrame = {
    require(nBlocks > 0, "nBlocks must be > 0")
    // fence the (quantize-first-bounded) partials once: the bounds,
    // block-offset and ranked legs each re-evaluated the partial
    // aggregation and the corpus scan under it (round-19 plan audit:
    // qH3 scanned events 14x; guide §2.4)
    val byScore = graft.plans.Fence.bounded(byScore0)
    // Two-phase prefix sum over ascending score: range blocks derived
    // from the (tiny, broadcast) min/max, monotonic in s, so block-local
    // cumulative counts + per-block start offsets equal the global
    // cumulative count.
    val bounds = byScore.agg(min("s").as("lo"), max("s").as("hi"))
    val blocked = byScore.crossJoin(broadcast(bounds))
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("s") - col("lo")) / (col("hi") - col("lo")) * nBlocks)
            .cast("long"))))
    val wBlocks = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("block")
      .agg(sum("cnt").as("bn"))
      .select(col("block"),
        coalesce(sum("bn").over(wBlocks), lit(0L)).as("boff"))
    val wIn = Window.partitionBy("block").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = blocked.join(broadcast(offsets), "block")
      .withColumn("before",
        col("boff") + coalesce(sum("cnt").over(wIn), lit(0L)))
      // average rank of this score's run = before + (cnt+1)/2
      .withColumn("rpos_term",
        col("pos") * (col("before") + (col("cnt") + 1L) / 2.0))

    ranked.agg(
      sum("pos").as("np"),
      (sum("cnt") - sum("pos")).as("nn"),
      sum("rpos_term").as("rpos"))
      .select(col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        (floor((col("rpos") - col("np") * (col("np") + 1L) / 2.0) /
          (col("np") * col("nn")) * 1e6 + 0.5) / 1e6).as("auc"))
  }

  /** Per-group (sliced) ROC AUC — the monitoring form of [[binaryAuc]]:
    * one AUC per value of `group` (a date for drift dashboards, a
    * source/domain for slice analysis). Same identity, same reduction
    * discipline, with every window partitioned by the group so no slice
    * serializes another:
    *   - (group, score) partials bound everything downstream by
    *     per-group score cardinality;
    *   - per-group min/max bounds ride a plain equi-join (AQE
    *     broadcasts when the group table is small, shuffles on the
    *     group key when it is not — both correct at scale);
    *   - the offset frame is ≤ groups×nBlocks rows, its window
    *     partitioned by group.
    *
    * Groups with no positives or no negatives get a null AUC (the
    * statistic is undefined), not a crash — monitoring slices hit this
    * on quiet days.
    *
    * Output: group, n_pos, n_neg, auc (6 dp, null when undefined).
    */
  def binaryAucBy(df: DataFrame, group: Column, score: Column,
      label: Column, nBlocks: Int = 64): DataFrame = {
    require(nBlocks > 0, "nBlocks must be > 0")
    // same once-fenced partials as [[aucFromPartials]] (guide §2.4)
    val byScore = graft.plans.Fence.bounded(df
      .select(group.as("g"), score.cast("double").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .filter(col("s").isNotNull)
      .groupBy("g", "s")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos")))

    val bounds = byScore.groupBy("g")
      .agg(min("s").as("lo"), max("s").as("hi"))
    val blocked = byScore.join(bounds, "g")
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("s") - col("lo")) / (col("hi") - col("lo")) * nBlocks)
            .cast("long"))))
    val wBlocks = Window.partitionBy("g").orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("g", "block")
      .agg(sum("cnt").as("bn"))
      .select(col("g"), col("block"),
        coalesce(sum("bn").over(wBlocks), lit(0L)).as("boff"))
    val wIn = Window.partitionBy("g", "block").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    blocked.join(offsets, Seq("g", "block"))
      .withColumn("before",
        col("boff") + coalesce(sum("cnt").over(wIn), lit(0L)))
      .withColumn("rpos_term",
        col("pos") * (col("before") + (col("cnt") + 1L) / 2.0))
      .groupBy("g")
      .agg(sum("pos").as("np"), (sum("cnt") - sum("pos")).as("nn"),
        sum("rpos_term").as("rpos"))
      .select(col("g").as("group"),
        col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          floor((col("rpos") - col("np") * (col("np") + 1L) / 2.0) /
            (col("np") * col("nn")) * 1e6 + 0.5) / 1e6).as("auc"))
  }

  /** Precision/recall curve over quantized thresholds: one row per
    * distinct value of `threshold` (pass the score pre-quantized —
    * `floor(score)`, a decile, etc. — to bound the output), reporting
    * the confusion counts and P/R/F1 of the rule "predict positive when
    * score ≥ t".
    *
    * Same scale shape as [[binaryAuc]]: group to distinct thresholds
    * first, then the ≥-t cumulative counts come from the ascending
    * two-phase block prefix sum and the (broadcast, 1-row) totals:
    * tp(t) = totalPos − posBelow(t), predicted(t) = total − cntBelow(t).
    * No global sort, no per-threshold rescans.
    *
    * Determinism: all counts are exact integers; precision/recall/f1
    * are each ONE integer-ratio division (f1 = 2tp/(2tp+fp+fn), not a
    * composition of rounded p and r), floor-rounded to 6 dp.
    *
    * Output: threshold, n_ge, tp, fp, fn, precision, recall, f1.
    */
  def prCurve(df: DataFrame, threshold: Column, label: Column,
      nBlocks: Int = 256): DataFrame = {
    require(nBlocks > 0, "nBlocks must be > 0")
    // same once-fenced partials as [[aucFromPartials]] (guide §2.4)
    val byT = graft.plans.Fence.bounded(df
      .select(threshold.cast("double").as("t"),
        when(label, 1L).otherwise(0L).as("y"))
      .filter(col("t").isNotNull)
      .groupBy("t")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos")))

    val bounds = byT.agg(min("t").as("lo"), max("t").as("hi"),
      sum("cnt").as("n"), sum("pos").as("np"))
    val blocked = byT.crossJoin(broadcast(bounds))
      .withColumn("block",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(lit(nBlocks - 1L), floor(
            (col("t") - col("lo")) / (col("hi") - col("lo")) * nBlocks)
            .cast("long"))))
    val wBlocks = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked.groupBy("block")
      .agg(sum("cnt").as("bn"), sum("pos").as("bp"))
      .select(col("block"),
        coalesce(sum("bn").over(wBlocks), lit(0L)).as("coff"),
        coalesce(sum("bp").over(wBlocks), lit(0L)).as("poff"))
    val wIn = Window.partitionBy("block").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6
    blocked.join(broadcast(offsets), "block")
      .withColumn("cnt_below",
        col("coff") + coalesce(sum("cnt").over(wIn), lit(0L)))
      .withColumn("pos_below",
        col("poff") + coalesce(sum("pos").over(wIn), lit(0L)))
      .select(col("t").as("threshold"),
        (col("n") - col("cnt_below")).as("n_ge"),
        (col("np") - col("pos_below")).as("tp"),
        (col("n") - col("cnt_below") - col("np") + col("pos_below"))
          .as("fp"),
        col("pos_below").as("fn"),
        col("np"))
      .select(col("threshold"), col("n_ge"), col("tp"), col("fp"),
        col("fn"),
        r6(col("tp") / col("n_ge")).as("precision"),
        r6(col("tp") / col("np")).as("recall"),
        r6(col("tp") * 2 /
          (col("tp") * 2 + col("fp") + col("fn"))).as("f1"))
  }

  /** Expected calibration error over equal-width probability bins —
    * the one-number summary of [[calibrationBins]]:
    *
    *   ECE = Σ_b (n_b/N) · |acc_b − conf_b|
    *
    * computed EXACTLY in integers until a single final division:
    * with probabilities snapped to 1e-4 units (s4), each bin's
    * n_b·|acc_b − conf_b| = |10⁴·pos_b − Σs4_b| / 10⁴, so
    * ECE = Σ_b |10⁴·pos_b − Σs4_b| / (10⁴·N) — partial-aggregation
    * order cannot perturb it.
    *
    * Output: one row (n, bins_used, ece) with ece at 6 dp.
    */
  def ece(df: DataFrame, prob: Column, label: Column, bins: Int)
      : DataFrame = {
    require(bins > 0, "bins must be > 0")
    val p = prob.cast("double")
    df.select(p.as("p"), when(label, 1L).otherwise(0L).as("y"))
      .filter(col("p").isNotNull && col("p") >= 0.0 && col("p") <= 1.0)
      .withColumn("bin",
        least(lit(bins - 1L), floor(col("p") * bins).cast("long")))
      .withColumn("s4", floor(col("p") * 10000.0 + 0.5).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum("y").as("pos_b"),
        sum("s4").as("s4_b"))
      .agg(sum("n_b").as("n"), count(lit(1)).as("bins_used"),
        sum(abs(col("pos_b") * 10000L - col("s4_b"))).as("dev"))
      .select(col("n"), col("bins_used"),
        (floor(col("dev") / (col("n") * 10000.0) * 1e6 + 0.5) / 1e6)
          .as("ece"))
  }

  /** nDCG@k of a retrieval/ANN run against an ideal ranking — the
    * graded complement to recall@k (qA7): recall says WHETHER the true
    * neighbors were found, nDCG says whether they were found IN THE
    * RIGHT ORDER. Relevance is derived from the ideal run (linear gain
    * k+1−idealRank, 0 for misses), DCG discounts by 1/log2(rank+1),
    * and the result is normalized by the ideal DCG.
    *
    * Both runs must carry (q_id, cand_id, rank) with rank in [1, k] —
    * the shape every Similarity top-k operator emits.
    *
    * Determinism: per-query DCG folds over the test hits SORTED by test
    * rank (array_sort + aggregate — a sequential left fold), and IDCG
    * folds ascending over [1, k]; both engines then execute the same
    * IEEE op sequence, so the 4-dp rounded quotient hash-matches (the
    * log-bearing convention q14/qB2 established). A plain SUM of the
    * per-hit terms would be partial-aggregation-order dependent.
    *
    * Output: q_id, n_hits, ndcg (4 dp).
    */
  def ndcgAtK(ideal: DataFrame, test: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ln2 = log(lit(2.0))
    val rel = ideal.select(col("q_id"), col("cand_id"),
      (lit(k + 1L) - col("rank")).as("rel"))
    val hits = test.select(col("q_id"), col("cand_id"),
        col("rank").cast("long").as("trank"))
      .join(rel, Seq("q_id", "cand_id"), "left")
      .na.fill(0L, Seq("rel"))
    val idcg = aggregate(sequence(lit(1L), lit(k.toLong)), lit(0.0),
      (acc, d) => acc +
        (lit(k + 1L) - d).cast("double") * ln2 /
          log((d + 1L).cast("double")))
    hits.groupBy("q_id")
      .agg(sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hits"),
        array_sort(collect_list(struct(col("trank"), col("rel"))))
          .as("byRank"))
      .select(col("q_id"), col("n_hits"),
        (floor(aggregate(col("byRank"), lit(0.0), (acc, e) =>
          acc + e.getField("rel").cast("double") * ln2 /
            log((e.getField("trank") + 1L).cast("double"))) / idcg
          * 10000.0 + 0.5) / 10000.0).as("ndcg"))
  }

  /** Rank-biased overlap (Webber et al. 2010), truncated at depth k —
    * compares two RANKINGS directly, no relevance labels needed (nDCG's
    * label-free sibling): RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·|A_d∩B_d|/d,
    * top-weighted by the persistence parameter p.
    *
    * Distributed form: a shared doc with ranks (ra, rb) enters every
    * overlap at depth ≥ m = max(ra, rb), so its total contribution is
    * W(m) = Σ_{d=m..k} p^{d−1}/d — k constants precomputed on the
    * driver with ITERATIVE power products (no Math.pow: libm pow is not
    * bit-identical across engines, a left-fold of multiplications is).
    * Per query: counts per m (≤ k rows), then a rank-sorted
    * deterministic fold — the same two-engine double discipline as
    * [[ndcgAtK]].
    *
    * Queries with zero shared docs are absent (their RBO is 0; the
    * inner join keeps the eval frame-sized).
    *
    * Output: q_id, n_shared, rbo (4 dp).
    */
  def rbo(runA: DataFrame, runB: DataFrame, k: Int, p: Double)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(p > 0 && p < 1, "p must be in (0, 1)")
    val pw = new Array[Double](k + 1) // pw(d) = p^(d-1), left-fold
    pw(1) = 1.0
    for (d <- 2 to k) pw(d) = pw(d - 1) * p
    val w = new Array[Double](k + 1) // W(m) = sum_{d=m..k} pw(d)/d
    for (m <- 1 to k) {
      var acc = 0.0
      var d = m
      while (d <= k) { acc += pw(d) / d; d += 1 }
      w(m) = acc
    }
    val wLit = typedLit(w.toSeq) // element_at(wLit, m+1) = W(m)
    runA.select(col("q_id"), col("cand_id"),
        col("rank").cast("long").as("ra"))
      .join(runB.select(col("q_id"), col("cand_id"),
        col("rank").cast("long").as("rb")), Seq("q_id", "cand_id"))
      .select(col("q_id"), greatest(col("ra"), col("rb")).as("m"))
      .groupBy("q_id", "m").agg(count(lit(1)).as("cnt"))
      .groupBy("q_id")
      .agg(sum("cnt").as("n_shared"),
        array_sort(collect_list(struct(col("m"), col("cnt")))).as("byM"))
      .select(col("q_id"), col("n_shared"),
        (floor(aggregate(col("byM"), lit(0.0), (acc, e) =>
          acc + e.getField("cnt").cast("double") *
            element_at(wLit, (e.getField("m") + 1L).cast("int")))
          * lit(1 - p) * 10000.0 + 0.5) / 10000.0).as("rbo"))
  }

  /** Reliability (calibration) table: equal-width score bins over
    * [lo, hi], each bin reporting volume, mean score, and the observed
    * positive rate. The standard post-gate diagnostic — a well-ranked
    * (high-AUC) quality score can still be badly calibrated, which
    * matters when the gate threshold is chosen on the raw score.
    *
    * Mean score sums exactly: scores are snapped to integer "cents"
    * (4 dp) before summing, so partial-aggregation order cannot perturb
    * the result — the same integer-sums convention the bench queries use
    * for money columns. One aggregation pass; output is ≤ `bins` rows.
    *
    * Output: bin, lo_edge (4 dp), n, mean_score (4 dp), frac_pos (6 dp).
    */
  def calibrationBins(df: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0, "bins must be > 0")
    require(hi > lo, "hi must exceed lo")
    val width = (hi - lo) / bins
    val s = score.cast("double")
    df.select(s.as("s"), when(label, 1L).otherwise(0L).as("y"))
      .filter(col("s").isNotNull && col("s") >= lo && col("s") <= hi)
      .withColumn("bin",
        least(lit(bins - 1L),
          floor((col("s") - lo) / width).cast("long")))
      .withColumn("s4", floor(col("s") * 10000.0 + 0.5).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("s4").as("ssum"),
        sum("y").as("npos"))
      .select(col("bin"),
        (floor((lit(lo) + col("bin") * width) * 10000.0 + 0.5) /
          10000.0).as("lo_edge"),
        col("n"),
        (floor(col("ssum") / col("n").cast("double") / 10000.0 *
          10000.0 + 0.5) / 10000.0).as("mean_score"),
        (floor(col("npos") / col("n").cast("double") * 1e6 + 0.5) /
          1e6).as("frac_pos"))
  }
}
