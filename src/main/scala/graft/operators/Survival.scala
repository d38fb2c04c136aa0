package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Survival analysis over right-censored durations — time-to-event for
  * the event stream (days until first purchase, time to churn, job
  * time-to-failure): the Kaplan-Meier survival estimator
  * S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) and the Nelson-Aalen cumulative
  * hazard H(t) = Σ_{t_i ≤ t} d_i/n_i, with the standard convention
  * that subjects censored at t are still at risk AT t.
  *
  * Scale shape: subjects reduce to the |distinct durations| frame in
  * one aggregate (day-granularity durations are calendar-bounded;
  * quantize finer clocks first — the value-count contract); at-risk
  * counts come from one cumulative pass and the product/sum fold runs
  * over the bounded sorted array. Determinism: d and n are exact
  * integers, each factor (1 − d/n) is one division, and the fold
  * multiplies/adds in duration order on both engines (the oracle
  * replays it with a recursive CTE — identical expression tree).
  */
object Survival {

  /** `df` carries one row per SUBJECT: `duration` (non-negative
    * integer time units) and `event` (true = event observed, false =
    * right-censored at that duration).
    * Output per distinct duration: t, n_risk, n_event, n_censored,
    * survival (6 dp), cum_hazard (6 dp).
    */
  def kaplanMeier(df: DataFrame, duration: Column, event: Column)
      : DataFrame = {
    val subjects = df.select(duration.cast("long").as("t"),
        when(event, 1L).otherwise(0L).as("e"))
      .filter(col("t").isNotNull && col("t") >= 0)
    val byT = subjects.groupBy("t")
      .agg(sum("e").as("d"), sum(lit(1L) - col("e")).as("c"))
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    byT
      .agg(sort_array(collect_list(
        struct(col("t"), col("d"), col("c")))).as("xs"),
        sum(col("d") + col("c")).as("n_total"))
      .select(explode(aggregate(
        col("xs"),
        struct(col("n_total").as("at_risk"),
          lit(1.0).as("s"), lit(0.0).as("h"),
          array().cast(
            "array<struct<t:bigint,n_risk:bigint,n_event:bigint," +
              "n_censored:bigint,s:double,h:double>>").as("rows")),
        (acc, x) => {
          val s = acc.getField("s") *
            (lit(1.0) - x.getField("d").cast("double") /
              acc.getField("at_risk"))
          val h = acc.getField("h") +
            x.getField("d").cast("double") / acc.getField("at_risk")
          struct(
            (acc.getField("at_risk") - x.getField("d") -
              x.getField("c")).as("at_risk"),
            s.as("s"), h.as("h"),
            concat(acc.getField("rows"), array(struct(
              x.getField("t").as("t"),
              acc.getField("at_risk").as("n_risk"),
              x.getField("d").as("n_event"),
              x.getField("c").as("n_censored"),
              s.as("s"), h.as("h")))).as("rows"))
        },
        acc => acc.getField("rows"))).as("r"))
      .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
        col("r.n_event").as("n_event"),
        col("r.n_censored").as("n_censored"),
        r6(col("r.s")).as("survival"),
        r6(col("r.h")).as("cum_hazard"))
  }

  /** Restricted mean survival time: ∫₀^τ S(t)dt — the area under the
    * Kaplan-Meier step curve up to horizon τ, the single-number
    * "expected event-free time within τ" that compares cohorts without
    * a proportional-hazards assumption. Same bounded fold as
    * [[kaplanMeier]], accumulating the step integral (durations > τ
    * stay in the at-risk denominator but contribute no step).
    * Output: one row — tau, n_subjects, rmst (6 dp).
    */
  def rmst(df: DataFrame, duration: Column, event: Column,
      tau: Long): DataFrame = {
    require(tau > 0, "tau must be positive")
    val subjects = df.select(duration.cast("long").as("t"),
        when(event, 1L).otherwise(0L).as("e"))
      .filter(col("t").isNotNull && col("t") >= 0)
    // total and the filtered fold read it once
    val byT = graft.plans.Fence.bounded(subjects.groupBy("t")
      .agg(sum("e").as("d"), sum(lit(1L) - col("e")).as("c")))
    val tot = byT.agg(sum(col("d") + col("c")).as("n_total"))
    val folded = byT.filter(col("t") <= tau)
      .agg(sort_array(collect_list(
        struct(col("t"), col("d"), col("c")))).as("xs"))
    def r6(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0
    folded.crossJoin(broadcast(tot))
      .select(lit(tau).as("tau"), col("n_total").as("n_subjects"),
        r6(aggregate(
          col("xs"),
          struct(col("n_total").as("at_risk"), lit(1.0).as("s"),
            lit(0L).as("tprev"), lit(0.0).as("integ")),
          (acc, x) => {
            val integ = acc.getField("integ") + acc.getField("s") *
              (x.getField("t") - acc.getField("tprev"))
            val s = acc.getField("s") *
              (lit(1.0) - x.getField("d").cast("double") /
                acc.getField("at_risk"))
            struct(
              (acc.getField("at_risk") - x.getField("d") -
                x.getField("c")).as("at_risk"),
              s.as("s"), x.getField("t").as("tprev"),
              integ.as("integ"))
          },
          acc => acc.getField("integ") + acc.getField("s") *
            (lit(tau) - acc.getField("tprev")))).as("rmst"))
  }

  /** Two-group log-rank test (Mantel-Haenszel): does group A's
    * survival curve differ from group B's? Z = Σ_t (d_{A,t} − e_{A,t})
    * with e_{A,t} = d_t·n_{A,t}/n_t, Var = Σ_t d_t·(n_A/n)·(1−n_A/n)·
    * (n−d)/(n−1), χ² = Z²/Var (df 1). `groupA` tags each subject.
    *
    * Everything reduces to the per-duration (d_A, c_A, d_B, c_B)
    * frame; at-risk counts come from one ordered pass and the Z/Var
    * sums fold in duration order on both engines. Output: one row —
    * n_a, n_b, obs_a, exp_a (4 dp), z (4 dp... the raw sum, not a
    * normal score), var_s (4 dp), chi2 (4 dp).
    */
  def logRank(df: DataFrame, duration: Column, event: Column,
      groupA: Column): DataFrame = {
    val subjects = df.select(duration.cast("long").as("t"),
        when(event, 1L).otherwise(0L).as("e"),
        when(groupA, 1L).otherwise(0L).as("a"))
      .filter(col("t").isNotNull && col("t") >= 0)
    val byT = subjects.groupBy("t").agg(
      sum(col("e") * col("a")).as("da"),
      sum((lit(1L) - col("e")) * col("a")).as("ca"),
      sum(col("e") * (lit(1L) - col("a"))).as("db"),
      sum((lit(1L) - col("e")) * (lit(1L) - col("a"))).as("cb"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    byT
      .agg(sort_array(collect_list(struct(col("t"), col("da"),
          col("ca"), col("db"), col("cb")))).as("xs"),
        sum(col("da") + col("ca")).as("n_a"),
        sum(col("db") + col("cb")).as("n_b"))
      .select(col("n_a"), col("n_b"), aggregate(
        col("xs"),
        struct(col("n_a").as("ra"), col("n_b").as("rb"),
          lit(0L).as("oa"), lit(0.0).as("ea"),
          lit(0.0).as("z"), lit(0.0).as("v")),
        (acc, x) => {
          val n = acc.getField("ra") + acc.getField("rb")
          val d = x.getField("da") + x.getField("db")
          val eA = d.cast("double") * acc.getField("ra") / n
          val frac = acc.getField("ra").cast("double") / n
          // hypergeometric variance term; 0 when n = 1 (guarded)
          val vT = when(n <= 1, lit(0.0)).otherwise(
            d.cast("double") * frac * (lit(1.0) - frac) *
              (n - d).cast("double") / (n - 1))
          struct(
            (acc.getField("ra") - x.getField("da") - x.getField("ca"))
              .as("ra"),
            (acc.getField("rb") - x.getField("db") - x.getField("cb"))
              .as("rb"),
            (acc.getField("oa") + x.getField("da")).as("oa"),
            (acc.getField("ea") + eA).as("ea"),
            (acc.getField("z") + (x.getField("da").cast("double") - eA))
              .as("z"),
            (acc.getField("v") + vT).as("v"))
        }).as("f"))
      .select(col("n_a"), col("n_b"), col("f.oa").as("obs_a"),
        r4(col("f.ea")).as("exp_a"), r4(col("f.z")).as("z"),
        r4(col("f.v")).as("var_s"),
        when(col("f.v") <= 0, lit(null).cast("double"))
          .otherwise(r4(col("f.z") * col("f.z") / col("f.v")))
          .as("chi2"))
  }
}
