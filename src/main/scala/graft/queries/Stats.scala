package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.operators.{Drift, Linkage, LogReg, Robust, Similarity, TextAnalysis, Trend}

/** Round-7 batch: serial/trend statistics over the event stream (ACF,
  * EWMA control chart, Mann-Kendall + Theil-Sen), categorical
  * independence (χ²), exact mergeable quantiles from value-count
  * state, in-engine logistic-regression training (oracle on the exact
  * first gradient step), Fellegi-Sunter record-linkage scoring over
  * the blocking chain, hard-negative mining for contrastive training,
  * and lexical-diversity / Zipf-fit corpus diagnostics.
  *
  * Same oracle-parity conventions as every other module: integer
  * snapping wherever a Σ of doubles would be partial-aggregation-order
  * dependent, sorted-array folds (vs DuckDB `list(x ORDER BY ...)` +
  * `list_sum`) where a bounded double Σ is unavoidable, identical
  * expression trees and aliases on both sides, unique-key ORDER BY.
  */
object Stats {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // Shared daily integer-cent aggregate of the event stream (the
  // qJ5/qC2 bounded daily frame).
  private val duckDaily =
    """dly AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |    sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS sc
      |  FROM events WHERE value IS NOT NULL
      |  GROUP BY 1)""".stripMargin

  private val duckVecNorm =
    """v AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM v)""".stripMargin

  // q31's hashed shingle-set CTE (the ngramJaccardPairs oracle base),
  // shared by the graph queries below.
  private val duckShingleSets =
    """sets AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(string_split(text,' ')) - 1),
      |        i -> string_split(text,' ')[i] || ' ' ||
      |             string_split(text,' ')[i+1] || ' ' ||
      |             string_split(text,' ')[i+2]),
      |      g -> ('0x' || substr(md5(g),1,8))::BIGINT)) AS sh
      |  FROM documents
      |  WHERE len(string_split(text,' ')) >= 3),
      |pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.sh, b.sh)) AS common,
      |    len(a.sh) AS sa, len(b.sh) AS sb
      |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id),
      |und AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pr
      |  WHERE CAST(common AS DOUBLE)/(sa+sb-common) >= 0.5)""".stripMargin

  // Fellegi-Sunter fields for the document-linkage query — declared
  // once so the Spark plan and the generated oracle SQL share the
  // SAME 6-dp-snapped weight literals.
  private def fsFields: Seq[Linkage.Field] = Seq(
    Linkage.Field("lang", col("lang_a") === col("lang_b"), m = 0.9, u = 0.3),
    Linkage.Field("source", col("source_a") === col("source_b"),
      m = 0.8, u = 0.2),
    Linkage.Field("len",
      abs(col("nc_a") - col("nc_b")) * 10 <= greatest(col("nc_a"), col("nc_b")),
      m = 0.7, u = 0.25))

  val all: Seq[GraftQuery] = Seq(

    // Lexical diversity: per-row array math only (no shuffle) — TTR
    // and hapax share, the vocabulary-richness quality signals.
    GraftQuery(
      "qK5_lexical_diversity",
      "Per-document type-token ratio and hapax share from pure " +
        "per-row array math (no explode, no shuffle).",
      (s, d) => TextAnalysis.lexicalDiversity(
        t(s, d, "documents"), "doc_id", "text").orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
             |  floor(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             |    * 10000.0 + 0.5) / 10000.0 AS ttr,
             |  floor(CAST(len(list_filter(list_distinct(toks),
             |      u -> len(list_filter(toks, x -> x = u)) = 1)) AS DOUBLE)
             |    / len(toks) * 10000.0 + 0.5) / 10000.0 AS hapax_ratio
             |FROM t ORDER BY doc_id""".stripMargin)),

    // Zipf rank-frequency fit over the top-100 vocabulary: the top-k
    // is TakeOrderedAndProject over the vocab aggregate; the OLS sums
    // fold in rank order on both engines (sorted-array fold vs
    // list(ORDER BY) + list_sum).
    GraftQuery(
      "qK6_zipf_slope",
      "OLS slope/intercept of ln(count) on ln(rank) over the top-100 " +
        "corpus vocabulary — the Zipf diagnostic.",
      (s, d) => TextAnalysis.zipfSlope(
        TextAnalysis.tokenFreq(t(s, d, "documents"), "text"), 100),
      Some("""WITH g AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |f AS (SELECT tok, count(*) AS cnt FROM g
             |  WHERE tok <> '' GROUP BY tok),
             |top AS (SELECT tok, cnt,
             |    row_number() OVER (ORDER BY cnt DESC, tok) AS rank
             |  FROM f ORDER BY cnt DESC, tok LIMIT 100),
             |l AS (SELECT rank, ln(CAST(rank AS DOUBLE)) AS x,
             |    ln(CAST(cnt AS DOUBLE)) AS y FROM top),
             |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             |    list_sum(list(x ORDER BY rank)) AS sx,
             |    list_sum(list(y ORDER BY rank)) AS sy,
             |    list_sum(list(x*x ORDER BY rank)) AS sxx,
             |    list_sum(list(x*y ORDER BY rank)) AS sxy
             |  FROM l)
             |SELECT CAST(n AS BIGINT) AS k,
             |  floor((n*sxy - sx*sy) / (n*sxx - sx*sx)
             |    * 10000.0 + 0.5) / 10000.0 AS slope,
             |  floor((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n
             |    * 10000.0 + 0.5) / 10000.0 AS intercept
             |FROM a""".stripMargin)),

    // ACF at lags 1..7 of the daily mean: deviations snapped to
    // integer 1e-4 units so numerator and denominator are exact
    // BIGINT sums in any aggregation order.
    GraftQuery(
      "qK7_acf",
      "Sample autocorrelation (lags 1-7) of the daily mean event " +
        "value — integer-snapped deviations, exact BIGINT cross sums, " +
        "lag equi-join on the day rank.",
      (s, d) => Trend.acfDaily(t(s, d, "events"), "ts", col("value"), 7)
        .select(col("lag").cast("long").as("lag"), col("n_pairs"),
          col("acf"))
        .orderBy("lag"),
      Some(s"""WITH $duckDaily,
              |x AS (SELECT day, CAST(sc AS DOUBLE)/n/100.0 AS x FROM dly),
              |m AS (SELECT list_sum(list(x ORDER BY day)) AS sx,
              |    count(*) AS nd FROM x),
              |dv AS (SELECT row_number() OVER (ORDER BY day) AS rk,
              |    CAST(floor((x - (SELECT sx FROM m)/(SELECT nd FROM m))
              |      * 10000.0 + 0.5) AS BIGINT) AS d
              |  FROM x),
              |den AS (SELECT sum(d*d) AS ss FROM dv),
              |p AS (SELECT l.lag AS lag, count(*) AS n_pairs,
              |    sum(a.d*b.d) AS num
              |  FROM range(1, 8) l(lag)
              |  JOIN dv a ON true
              |  JOIN dv b ON b.rk = a.rk + l.lag
              |  GROUP BY 1)
              |SELECT CAST(lag AS BIGINT) AS lag,
              |  CAST(n_pairs AS BIGINT) AS n_pairs,
              |  floor(CAST(num AS DOUBLE) / (SELECT ss FROM den)
              |    * 1000000.0 + 0.5) / 1000000.0 AS acf
              |FROM p ORDER BY lag""".stripMargin)),

    // EWMA control chart (λ=0.2, 3σ): the sequential recurrence runs
    // as a sorted-array left fold on the Spark side and a recursive
    // CTE on the oracle side — the SAME expression tree e + λ(x−e) in
    // day order, so every intermediate double is bit-identical.
    GraftQuery(
      "qK8_ewma",
      "EWMA control chart (lambda 0.2) over the daily mean with 3-" +
        "sigma alarms against the global daily stddev.",
      (s, d) => Trend.ewmaDaily(t(s, d, "events"), "ts", col("value"),
        lambda = 0.2, kSigma = 3.0).orderBy("day"),
      Some(s"""WITH RECURSIVE $duckDaily,
              |x AS (SELECT row_number() OVER (ORDER BY day) AS rk, day,
              |    CAST(sc AS DOUBLE)/n/100.0 AS x,
              |    CAST(sc AS DOUBLE)/n AS m
              |  FROM dly),
              |sig AS (SELECT count(*) AS nd,
              |    list_sum(list(m ORDER BY day)) AS s1,
              |    list_sum(list(m*m ORDER BY day)) AS s2
              |  FROM x),
              |sg AS (SELECT sqrt((s2 - s1*s1/nd)/(nd - 1)) AS sig_c
              |  FROM sig),
              |rec AS (
              |  SELECT rk, day, x, CAST(NULL AS DOUBLE) AS ep, x AS e
              |  FROM x WHERE rk = 1
              |  UNION ALL
              |  SELECT x.rk, x.day, x.x, rec.e AS ep,
              |    rec.e + 0.2*(x.x - rec.e) AS e
              |  FROM rec JOIN x ON x.rk = rec.rk + 1)
              |SELECT day,
              |  floor(x * 10000.0 + 0.5) / 10000.0 AS x,
              |  floor(ep * 10000.0 + 0.5) / 10000.0 AS ewma_prev,
              |  floor(e * 10000.0 + 0.5) / 10000.0 AS ewma,
              |  ep IS NOT NULL AND abs(x - ep) * 100.0 >
              |    3.0 * (SELECT sig_c FROM sg) AS alarm
              |FROM rec ORDER BY day""".stripMargin)),

    // Mann-Kendall S/z + Theil-Sen slope: the O(|days|^2) pair join is
    // bounded by the calendar; sign comparisons run on exact
    // integer-cent means; the pair-slope median averages two exact
    // doubles at most once.
    GraftQuery(
      "qK9_mann_kendall",
      "Mann-Kendall trend test (tie-corrected variance, continuity-" +
        "corrected z) + Theil-Sen slope of the daily mean event value.",
      (s, d) => Trend.mannKendallDaily(t(s, d, "events"), "ts",
        col("value")),
      Some(s"""WITH $duckDaily,
              |xc AS (SELECT day, CAST(sc AS DOUBLE)/n AS xc FROM dly),
              |p AS (SELECT CAST(sign(b.xc - a.xc) AS BIGINT) AS sg,
              |    (b.xc - a.xc)/100.0/date_diff('day', a.day, b.day)
              |      AS slope
              |  FROM xc a JOIN xc b ON b.day > a.day),
              |sa AS (SELECT CAST(sum(sg) AS BIGINT) AS s_stat,
              |    count(*) AS np, list_sort(list(slope)) AS slopes
              |  FROM p),
              |ti AS (SELECT CAST(sum(t*(t-1)*(2*t+5)) AS BIGINT)
              |      AS tie_term,
              |    CAST(sum(t) AS BIGINT) AS nd
              |  FROM (SELECT count(*) AS t FROM xc GROUP BY xc)),
              |j AS (SELECT *,
              |    CAST(nd*(nd-1)*(2*nd+5) - tie_term AS DOUBLE)/18.0
              |      AS var_s,
              |    CASE WHEN np % 2 = 1
              |      THEN slopes[CAST((np+1)/2 AS INT)]
              |      ELSE (slopes[CAST(np/2 AS INT)] +
              |            slopes[CAST(np/2 + 1 AS INT)]) / 2.0 END AS med
              |  FROM sa, ti)
              |SELECT nd AS n_days, s_stat, var_s,
              |  floor(CASE WHEN s_stat > 0
              |      THEN CAST(s_stat - 1 AS DOUBLE)/sqrt(var_s)
              |    WHEN s_stat < 0
              |      THEN CAST(s_stat + 1 AS DOUBLE)/sqrt(var_s)
              |    ELSE 0.0 END * 10000.0 + 0.5) / 10000.0 AS z,
              |  floor(med * 1000000.0 + 0.5) / 1000000.0 AS slope_per_day
              |FROM j""".stripMargin)),

    // Chi-square independence: contingency cells completed from the
    // margins' bounded cross join; per-cell contributions snapped to
    // integer 1e-6 units so the total is an exact BIGINT sum.
    GraftQuery(
      "qL0_chi2_independence",
      "Pearson chi-square test of independence between event_type and " +
        "the user-id residue class (mod 5) — margins-completed grid, " +
        "integer-snapped contributions.",
      (s, d) => Robust.chi2Independence(t(s, d, "events"),
        col("event_type"), col("user_id") % 5),
      Some("""WITH cells AS (
             |  SELECT CAST(event_type AS VARCHAR) AS av,
             |    CAST(user_id % 5 AS VARCHAR) AS bv, count(*) AS o
             |  FROM events
             |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             |  GROUP BY 1, 2),
             |rm AS (SELECT av, CAST(sum(o) AS BIGINT) AS rm
             |  FROM cells GROUP BY av),
             |cm AS (SELECT bv, CAST(sum(o) AS BIGINT) AS cm
             |  FROM cells GROUP BY bv),
             |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |grid AS (SELECT rm.av, cm.bv, rm.rm, cm.cm, tot.n,
             |    coalesce(cells.o, 0) AS obs,
             |    CAST(rm.rm AS DOUBLE) * cm.cm / tot.n AS exp
             |  FROM rm CROSS JOIN cm CROSS JOIN tot
             |  LEFT JOIN cells ON cells.av = rm.av AND cells.bv = cm.bv),
             |c AS (SELECT max(n) AS n,
             |    CAST(count(DISTINCT av) AS BIGINT) AS r_levels,
             |    CAST(count(DISTINCT bv) AS BIGINT) AS c_levels,
             |    CAST(sum(CAST(floor((obs - exp)*(obs - exp)/exp
             |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s6
             |  FROM grid)
             |SELECT n, r_levels, c_levels,
             |  (r_levels - 1) * (c_levels - 1) AS df,
             |  floor(CAST(s6 AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
             |    / 10000.0 AS chi2,
             |  CASE WHEN least(r_levels - 1, c_levels - 1) <= 0
             |    THEN CAST(NULL AS DOUBLE)
             |    ELSE floor(sqrt(CAST(s6 AS DOUBLE) / 1000000.0 /
             |      (n * least(r_levels - 1, c_levels - 1)))
             |      * 10000.0 + 0.5) / 10000.0 END AS cramers_v
             |FROM c""".stripMargin)),

    // Exact mergeable quantiles: value-count state built from two
    // disjoint halves and SUM-MERGED (proving the merge is lossless on
    // the oracle-checked path), then lower-rank quantiles via the
    // two-phase block prefix sum.
    GraftQuery(
      "qL3_quantiles_merged",
      "Exact p50/p90/p99 of event value from sum-merged per-value " +
        "count state (two disjoint halves merged) — the mergeable-" +
        "exact-quantile path, block prefix sums, integer ranks.",
      (s, d) => {
        val ev = t(s, d, "events")
        val counts = Drift.mergeValueCounts(
          Drift.valueCounts(ev.filter(col("event_id") % 2 === 0),
            col("value")),
          Drift.valueCounts(ev.filter(col("event_id") % 2 === 1),
            col("value")))
        Drift.quantilesFromCounts(counts, Seq(0.5, 0.9, 0.99))
          .orderBy("q")
      },
      Some("""WITH c AS (
             |  SELECT CAST(value AS DOUBLE) AS v, count(*) AS cnt
             |  FROM events WHERE value IS NOT NULL GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
             |cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc FROM c),
             |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE),
             |    CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q)
             |SELECT q,
             |  CAST(ceil(q * (SELECT n FROM tot)) AS BIGINT)
             |    AS target_rank,
             |  min(v) AS v
             |FROM cum, qs
             |WHERE cc >= ceil(q * (SELECT n FROM tot))
             |GROUP BY 1, 2 ORDER BY q""".stripMargin)),

    // The exact first LR gradient step from w = 0: sigma(0) = 0.5
    // exactly, so each gradient component is 0.5/n times an exact
    // BIGINT sum — the oracle-checkable window into the train loop.
    GraftQuery(
      "qL1_lr_step",
      "Exact first logistic-regression gradient step (w = 0, lr 0.1) " +
        "for lang='en' on integer features n_chars / n_tokens — " +
        "per-feature exact integer sums, one final division.",
      (s, d) => LogReg.gradStepFromZero(
        t(s, d, "documents")
          .withColumn("n_tokens",
            size(graft.functions.TextOps.tokens(col("text")))),
        Seq("n_chars" -> col("n_chars"), "n_tokens" -> col("n_tokens")),
        col("lang") === "en", lr = 0.1)
        .orderBy("feature"),
      Some("""WITH f AS (
             |  SELECT n_chars AS f_n_chars,
             |    len(string_split(text, ' ')) AS f_n_tokens,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             |  FROM documents),
             |a AS (SELECT
             |    CAST(sum(f_n_chars * (1 - 2*y)) AS BIGINT) AS s_nc,
             |    CAST(sum(f_n_tokens * (1 - 2*y)) AS BIGINT) AS s_nt,
             |    CAST(sum(1 - 2*y) AS BIGINT) AS s_b,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM f),
             |rows_ AS (
             |  SELECT '__intercept' AS feature, n, s_b AS s_int FROM a
             |  UNION ALL
             |  SELECT 'n_chars', n, s_nc FROM a
             |  UNION ALL
             |  SELECT 'n_tokens', n, s_nt FROM a)
             |SELECT feature, n, s_int,
             |  floor(CAST(s_int AS DOUBLE) * 0.5 / n * 1000000.0 + 0.5)
             |    / 1000000.0 AS grad,
             |  floor(CAST(s_int AS DOUBLE) * 0.5 / n * (-0.1)
             |    * 1000000.0 + 0.5) / 1000000.0 AS w_after
             |FROM rows_ ORDER BY feature""".stripMargin)),

    // Hard-negative mining: per-anchor top-5 most-similar DIFFERENT-
    // label vectors — the contrastive-training batch builder. Anchors
    // broadcast (bounded by the predicate by design, the q35 license);
    // the corpus streams once.
    GraftQuery(
      "qL2_hard_negatives",
      "Top-5 hard negatives (highest-cosine different-label " +
        "candidates) per anchor vector (vec_id < 10).",
      (s, d) => Similarity.hardNegatives(
        t(s, d, "embeddings"), "vec_id", "embedding", "label",
        col("vid") < 10, k = 5)
        .select(col("q_id"), col("label_q"), col("cand_id"),
          col("label_c"),
          (floor(col("cosine") * 10000.0 + 0.5) / 10000.0).as("cosine"),
          col("rank"))
        .orderBy("q_id", "rank"),
      Some(s"""WITH $duckVecNorm,
              |q AS (SELECT * FROM n WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.vec_id AS q_id, q.label AS label_q,
              |    c.vec_id AS cand_id, c.label AS label_c,
              |    list_sum(list_transform(range(1,65),
              |      i -> q.v[i]*c.v[i])) / (q.nrm*c.nrm) AS cosine
              |  FROM q JOIN n c
              |    ON c.vec_id != q.vec_id AND c.label != q.label),
              |ranked AS (SELECT *, row_number() OVER (
              |  PARTITION BY q_id ORDER BY cosine DESC, cand_id) AS rank
              |  FROM scored)
              |SELECT q_id, label_q, cand_id, label_c,
              |  (floor((cosine) * 10000.0 + 0.5) / 10000.0) AS cosine,
              |  rank
              |FROM ranked WHERE rank <= 5
              |ORDER BY q_id, rank""".stripMargin)),

    // Mutual information over the same contingency machinery as qL0:
    // the effect-size / feature-selection companion to the chi-square
    // significance test. Log-bearing sums fold in sorted level order
    // on both engines.
    GraftQuery(
      "qL5_mutual_information",
      "Mutual information (nats) between event_type and the user-id " +
        "residue class: marginal/joint entropies, MI, min-normalized " +
        "NMI — sorted-level folds, 6-dp rounding.",
      (s, d) => graft.operators.Info.mutualInformation(
        t(s, d, "events"), col("event_type"), col("user_id") % 5),
      Some("""WITH cells AS (
             |  SELECT CAST(event_type AS VARCHAR) AS av,
             |    CAST(user_id % 5 AS VARCHAR) AS bv, count(*) AS o
             |  FROM events
             |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             |  GROUP BY 1, 2),
             |rm AS (SELECT av, CAST(sum(o) AS BIGINT) AS rm
             |  FROM cells GROUP BY av),
             |cm AS (SELECT bv, CAST(sum(o) AS BIGINT) AS cm
             |  FROM cells GROUP BY bv),
             |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |sj AS (SELECT list_sum(list(o * ln(CAST(o AS DOUBLE))
             |    ORDER BY av, bv)) AS s_ab FROM cells),
             |sa AS (SELECT list_sum(list(rm * ln(CAST(rm AS DOUBLE))
             |    ORDER BY av)) AS s_a FROM rm),
             |sb AS (SELECT list_sum(list(cm * ln(CAST(cm AS DOUBLE))
             |    ORDER BY bv)) AS s_b FROM cm),
             |j AS (SELECT n,
             |    ln(CAST(n AS DOUBLE)) - s_a / n AS ha,
             |    ln(CAST(n AS DOUBLE)) - s_b / n AS hb,
             |    ln(CAST(n AS DOUBLE)) - s_ab / n AS hab
             |  FROM tot, sa, sb, sj)
             |SELECT n,
             |  floor(ha * 1000000.0 + 0.5) / 1000000.0 AS h_a,
             |  floor(hb * 1000000.0 + 0.5) / 1000000.0 AS h_b,
             |  floor(hab * 1000000.0 + 0.5) / 1000000.0 AS h_ab,
             |  floor((ha + hb - hab) * 1000000.0 + 0.5) / 1000000.0
             |    AS mi,
             |  CASE WHEN least(ha, hb) <= 0 THEN CAST(NULL AS DOUBLE)
             |    ELSE floor((ha + hb - hab) / least(ha, hb)
             |      * 1000000.0 + 0.5) / 1000000.0 END AS nmi
             |FROM j""".stripMargin)),

    // Two-proportion z: the conversion-rate A/B primitive — exact
    // integer counts, one fixed expression tree.
    GraftQuery(
      "qL6_two_proportion_z",
      "Pooled two-proportion z-test of purchase rate between even and " +
        "odd user-id cohorts.",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        Robust.twoProportionZ(
          ev.filter(col("user_id") % 2 === 0),
          ev.filter(col("user_id") % 2 === 1),
          col("event_type") === "purchase")
      },
      Some("""WITH a AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_a,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
             |      ELSE 0 END) AS BIGINT) AS conv_a
             |  FROM events WHERE user_id IS NOT NULL AND user_id % 2 = 0),
             |b AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_b,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
             |      ELSE 0 END) AS BIGINT) AS conv_b
             |  FROM events WHERE user_id IS NOT NULL AND user_id % 2 = 1),
             |j AS (SELECT *,
             |    CAST(conv_a AS DOUBLE) / n_a AS pa,
             |    CAST(conv_b AS DOUBLE) / n_b AS pb,
             |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
             |  FROM a, b)
             |SELECT n_a, conv_a, n_b, conv_b,
             |  floor(pa * 10000.0 + 0.5) / 10000.0 AS p_a,
             |  floor(pb * 10000.0 + 0.5) / 10000.0 AS p_b,
             |  floor((pa - pb) / sqrt(pp * (1.0 - pp) *
             |    (1.0 / n_a + 1.0 / n_b)) * 10000.0 + 0.5) / 10000.0
             |    AS z
             |FROM j""".stripMargin)),

    // Tukey-fence outliers per event_type: exact interpolating
    // quartiles (percentile vs quantile_cont, the qG6 convention),
    // raw-quartile fences, scan-speed detail pass.
    GraftQuery(
      "qL7_iqr_outliers",
      "Per-event-type Tukey-fence (1.5 IQR) outlier summary of event " +
        "value: exact quartiles, fence counts below/above.",
      (s, d) => Robust.iqrOutliers(t(s, d, "events"),
        Seq("event_type"), "value", k = 1.5).orderBy("event_type"),
      Some("""WITH q AS (
             |  SELECT event_type,
             |    quantile_cont(CAST(value AS DOUBLE), 0.25) AS q1r,
             |    quantile_cont(CAST(value AS DOUBLE), 0.75) AS q3r
             |  FROM events WHERE value IS NOT NULL GROUP BY 1),
             |d AS (
             |  SELECT e.event_type, CAST(e.value AS DOUBLE) AS x,
             |    q.q1r, q.q3r
             |  FROM events e JOIN q USING (event_type)
             |  WHERE e.value IS NOT NULL)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  floor(q1r * 10000.0 + 0.5) / 10000.0 AS q1,
             |  floor(q3r * 10000.0 + 0.5) / 10000.0 AS q3,
             |  floor((q3r - q1r) * 10000.0 + 0.5) / 10000.0 AS iqr,
             |  CAST(sum(CASE WHEN x < q1r - 1.5 * (q3r - q1r)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             |  CAST(sum(CASE WHEN x > q3r + 1.5 * (q3r - q1r)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
             |FROM d GROUP BY event_type, q1r, q3r
             |ORDER BY event_type""".stripMargin)),

    // Weekday seasonality profile: Spark weekday()+1 == isodow, all
    // sums integer cents until the final divisions.
    GraftQuery(
      "qL8_weekday_profile",
      "ISO-weekday seasonality profile of event value: per-dow " +
        "volume, day count, mean, and seasonal index vs grand mean.",
      (s, d) => Trend.weekdayProfile(t(s, d, "events"), "ts",
        col("value")).orderBy("dow"),
      Some("""WITH b AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS c
             |  FROM events WHERE value IS NOT NULL),
             |d AS (SELECT CAST(isodow(day) AS BIGINT) AS dow,
             |    CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(count(DISTINCT day) AS BIGINT) AS n_days,
             |    CAST(sum(c) AS BIGINT) AS sc
             |  FROM b GROUP BY 1),
             |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tn,
             |    CAST(sum(sc) AS BIGINT) AS tsc FROM d)
             |SELECT dow, n_events, n_days,
             |  floor(CAST(sc AS DOUBLE) / n_events / 100.0
             |    * 10000.0 + 0.5) / 10000.0 AS mean_value,
             |  floor((CAST(sc AS DOUBLE) / n_events) /
             |    (CAST(tsc AS DOUBLE) / tn) * 10000.0 + 0.5) / 10000.0
             |    AS seasonal_idx
             |FROM d, t ORDER BY dow""".stripMargin)),

    // Exact Gini from integer-cent value counts and the rank-sum
    // identity — cumulative-below via the block prefix sum, the whole
    // rank sum in BIGINTs.
    GraftQuery(
      "qL9_gini",
      "Exact Gini coefficient of event value (integer-cent rank-sum " +
        "identity over the value-count frame).",
      (s, d) => graft.operators.Info.giniCoefficient(
        t(s, d, "events"), col("value")),
      Some("""WITH c AS (
             |  SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v,
             |    count(*) AS c
             |  FROM events WHERE value IS NOT NULL GROUP BY 1),
             |r AS (SELECT v, c,
             |    coalesce(sum(c) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS cbelow
             |  FROM c),
             |s AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |    CAST(sum(v*c) AS BIGINT) AS t,
             |    CAST(sum(v*(c*cbelow + (c*(c+1))//2)) AS BIGINT) AS s
             |  FROM r)
             |SELECT n,
             |  floor(CAST(t AS DOUBLE) / 100.0 * 10000.0 + 0.5)
             |    / 10000.0 AS total,
             |  CASE WHEN t = 0 THEN CAST(NULL AS DOUBLE)
             |    ELSE floor((CAST(s AS DOUBLE) * 2 -
             |      CAST(n + 1 AS DOUBLE) * t) /
             |      (CAST(n AS DOUBLE) * t) * 1000000.0 + 0.5)
             |      / 1000000.0 END AS gini
             |FROM s""".stripMargin)),

    // Source-mix diversity indices of the document corpus.
    GraftQuery(
      "qM0_diversity_indices",
      "Shannon entropy, Simpson index, Gini-Simpson, and effective " +
        "level count of the documents source mix.",
      (s, d) => graft.operators.Info.diversityIndices(
        t(s, d, "documents"), col("source")),
      Some("""WITH l AS (
             |  SELECT source AS av, count(*) AS c FROM documents
             |  WHERE source IS NOT NULL GROUP BY 1),
             |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS levels FROM l),
             |f AS (SELECT
             |    list_sum(list(c * ln(CAST(c AS DOUBLE)) ORDER BY av))
             |      AS s_clnc,
             |    list_sum(list(CAST(c AS DOUBLE) * c ORDER BY av))
             |      AS s_c2
             |  FROM l)
             |SELECT n, levels,
             |  floor((ln(CAST(n AS DOUBLE)) - s_clnc / n)
             |    * 1000000.0 + 0.5) / 1000000.0 AS shannon,
             |  floor(s_c2 / n / n * 1000000.0 + 0.5) / 1000000.0
             |    AS simpson,
             |  floor((1.0 - s_c2 / n / n) * 1000000.0 + 0.5)
             |    / 1000000.0 AS gini_simpson,
             |  floor(1.0 / (s_c2 / n / n) * 10000.0 + 0.5) / 10000.0
             |    AS effective_levels
             |FROM t, f""".stripMargin)),

    // Categorical drift as a chi-square two-sample test: the SAME
    // contingency operator as qL0 with the sample tag as the row
    // dimension — chi2 for categorical snapshots, KS (qJ0) for
    // continuous ones.
    GraftQuery(
      "qM1_chi2_drift",
      "Chi-square two-sample drift check of the event_type mix: " +
        "first-half-of-month days vs the rest, via the qL0 " +
        "contingency operator over a sample tag.",
      (s, d) => Robust.chi2Independence(
        t(s, d, "events"),
        when(dayofmonth(col("ts")) <= 15, "first_half")
          .otherwise("second_half"),
        col("event_type")),
      Some("""WITH cells AS (
             |  SELECT CASE WHEN day(CAST(ts AS DATE)) <= 15
             |      THEN 'first_half' ELSE 'second_half' END AS av,
             |    CAST(event_type AS VARCHAR) AS bv, count(*) AS o
             |  FROM events
             |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |  GROUP BY 1, 2),
             |rm AS (SELECT av, CAST(sum(o) AS BIGINT) AS rm
             |  FROM cells GROUP BY av),
             |cm AS (SELECT bv, CAST(sum(o) AS BIGINT) AS cm
             |  FROM cells GROUP BY bv),
             |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |grid AS (SELECT rm.av, cm.bv, rm.rm, cm.cm, tot.n,
             |    coalesce(cells.o, 0) AS obs,
             |    CAST(rm.rm AS DOUBLE) * cm.cm / tot.n AS exp
             |  FROM rm CROSS JOIN cm CROSS JOIN tot
             |  LEFT JOIN cells ON cells.av = rm.av AND cells.bv = cm.bv),
             |c AS (SELECT max(n) AS n,
             |    CAST(count(DISTINCT av) AS BIGINT) AS r_levels,
             |    CAST(count(DISTINCT bv) AS BIGINT) AS c_levels,
             |    CAST(sum(CAST(floor((obs - exp)*(obs - exp)/exp
             |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s6
             |  FROM grid)
             |SELECT n, r_levels, c_levels,
             |  (r_levels - 1) * (c_levels - 1) AS df,
             |  floor(CAST(s6 AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
             |    / 10000.0 AS chi2,
             |  CASE WHEN least(r_levels - 1, c_levels - 1) <= 0
             |    THEN CAST(NULL AS DOUBLE)
             |    ELSE floor(sqrt(CAST(s6 AS DOUBLE) / 1000000.0 /
             |      (n * least(r_levels - 1, c_levels - 1)))
             |      * 10000.0 + 0.5) / 10000.0 END AS cramers_v
             |FROM c""".stripMargin)),

    // Wald SPRT over the daily purchase-conversion stream: snapped
    // LLR weights/boundaries shared with the generated oracle, first
    // crossing latched.
    GraftQuery(
      "qM2_sprt",
      "Sequential probability ratio test (H0 p=0.18 vs H1 p=0.22, " +
        "alpha=beta=0.05) on daily purchase conversions — running " +
        "LLR, Wald boundaries, latched decision.",
      (s, d) => graft.operators.Timeseries.sprtDaily(
        t(s, d, "events"), "ts", col("event_type") === "purchase",
        p0 = 0.18, p1 = 0.22, alpha = 0.05, beta = 0.05)
        .orderBy("day"),
      Some {
        val (wS, wF, up, lo) = graft.operators.Timeseries.sprtWeights(
          0.18, 0.22, 0.05, 0.05)
        s"""WITH d AS (
           |  SELECT CAST(ts AS DATE) AS day,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
           |      ELSE 0 END) AS BIGINT) AS conv
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |l AS (SELECT *,
           |    conv * CAST($wS AS DOUBLE) +
           |    (n - conv) * CAST($wF AS DOUBLE) AS llr_raw
           |  FROM d),
           |c AS (SELECT *,
           |    sum(llr_raw) OVER (ORDER BY day) AS cum_raw FROM l),
           |x AS (SELECT *,
           |    min(CASE WHEN cum_raw >= CAST($up AS DOUBLE)
           |      THEN day END) OVER (ORDER BY day) AS d_up,
           |    min(CASE WHEN cum_raw <= CAST($lo AS DOUBLE)
           |      THEN day END) OVER (ORDER BY day) AS d_lo
           |  FROM c)
           |SELECT day, n, conv,
           |  floor(llr_raw * 1000000.0 + 0.5) / 1000000.0 AS llr,
           |  floor(cum_raw * 1000000.0 + 0.5) / 1000000.0 AS cum_llr,
           |  CASE WHEN d_up IS NULL AND d_lo IS NULL THEN 'continue'
           |    WHEN d_lo IS NULL OR (d_up IS NOT NULL AND d_up <= d_lo)
           |      THEN 'accept_h1'
           |    ELSE 'accept_h0' END AS decision
           |FROM x ORDER BY day""".stripMargin
      }),

    // Isotonic (PAV) calibration of the event-value score against the
    // purchase outcome: the fit runs as driver PAV over the bounded
    // score-partials frame; the oracle checks it through the minimax
    // identity p(s_i) = max_{j<=i} min_{k>=i} run-average — a
    // different algorithm, the same rationals, and double rounding is
    // monotone so the extrema land on identical values.
    GraftQuery(
      "qM3_isotonic",
      "Isotonic (pool-adjacent-violators) calibration of the binned " +
        "event value (bin = floor(value/50)) vs purchase outcome: " +
        "per-bin fitted monotone rate, checked via the minimax " +
        "identity.",
      (s, d) => graft.operators.Eval.isotonicFit(
        t(s, d, "events"), floor(col("value") / 50),
        col("event_type") === "purchase")
        .orderBy("s"),
      Some("""WITH sc AS (
             |  SELECT CAST(floor(value/50) AS DOUBLE) AS s,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |      AS y
             |  FROM events WHERE value IS NOT NULL),
             |d AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(y) AS BIGINT) AS pos
             |  FROM sc GROUP BY 1),
             |c AS (SELECT s, cnt, pos,
             |    sum(cnt) OVER (ORDER BY s) AS ccnt,
             |    sum(pos) OVER (ORDER BY s) AS cpos
             |  FROM d),
             |runs AS (SELECT j.s AS js, k.s AS ks,
             |    CAST(k.cpos - j.cpos + j.pos AS DOUBLE) /
             |      (k.ccnt - j.ccnt + j.cnt) AS avg
             |  FROM c j JOIN c k ON k.s >= j.s),
             |inner_min AS (SELECT i.s AS s, r.js, min(r.avg) AS mn
             |  FROM d i JOIN runs r ON r.js <= i.s AND r.ks >= i.s
             |  GROUP BY 1, 2),
             |mm AS (SELECT s, max(mn) AS p_raw FROM inner_min
             |  GROUP BY 1)
             |SELECT d.s, d.cnt, d.pos,
             |  floor(mm.p_raw * 1000000.0 + 0.5) / 1000000.0 AS p_fit
             |FROM d JOIN mm ON d.s = mm.s ORDER BY d.s""".stripMargin)),

    // One label-propagation step over the near-dup graph: every tenth
    // doc is seeded with its source label; unlabeled docs take the
    // majority neighbor label (tie -> smallest). The oracle replays
    // the vote with a max-count + min-label pair of aggregates.
    GraftQuery(
      "qM4_label_prop_step",
      "Semi-supervised label-propagation step over the 3-gram-" +
        "Jaccard (t=0.5) near-dup graph: doc_id % 10 == 0 seeded " +
        "with source; majority-neighbor vote, min-label ties.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.ngramJaccardPrefixPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.5)
        val seeded = docs.select(col("doc_id"),
          when(col("doc_id") % 10 === 0, col("source")).as("lbl"))
        graft.operators.Graph.labelPropStep(
          seeded, "doc_id", "lbl", pairs, "doc_a", "doc_b")
          .orderBy("node")
      },
      Some(s"""WITH $duckShingleSets,
              |dir AS (SELECT u AS node, v AS nbr FROM und
              |  UNION ALL SELECT v, u FROM und),
              |lbl AS (SELECT doc_id AS node,
              |    CASE WHEN doc_id % 10 = 0 THEN source END AS lbl
              |  FROM documents),
              |votes AS (SELECT d.node, l.lbl AS nl, count(*) AS cnt
              |  FROM dir d JOIN lbl l
              |    ON l.node = d.nbr AND l.lbl IS NOT NULL
              |  GROUP BY 1, 2),
              |mx AS (SELECT node, max(cnt) AS maxc FROM votes
              |  GROUP BY 1),
              |best AS (SELECT v.node, min(v.nl) AS prop
              |  FROM votes v JOIN mx
              |    ON mx.node = v.node AND v.cnt = mx.maxc
              |  GROUP BY 1)
              |SELECT l.node, coalesce(l.lbl, b.prop) AS label,
              |  l.lbl IS NOT NULL AS seeded
              |FROM lbl l LEFT JOIN best b ON b.node = l.node
              |ORDER BY l.node""".stripMargin)),

    // Local clustering coefficient over the same graph — qE6's
    // triangle counts joined with degrees; the oracle recounts
    // triangles with the naive x<y<z join plus a degree CTE.
    GraftQuery(
      "qM5_clustering_coeff",
      "Per-doc local clustering coefficient (n_tri over deg-choose-2) " +
        "on the 3-gram-Jaccard near-dup graph; null when deg < 2.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.ngramJaccardPrefixPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.5)
        graft.operators.Graph.clusteringCoefficient(
          docs, "doc_id", pairs, "doc_a", "doc_b")
          .withColumnRenamed("node", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckShingleSets,
              |tr AS (
              |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
              |  FROM und e1
              |  JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
              |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v),
              |pn AS (SELECT unnest([x, y, z]) AS node FROM tr),
              |cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
              |  FROM pn GROUP BY node),
              |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              |  FROM (SELECT unnest([u, v]) AS node FROM und)
              |  GROUP BY 1)
              |SELECT d.doc_id,
              |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg,
              |  CAST(coalesce(cnt.n_tri, 0) AS BIGINT) AS n_tri,
              |  CASE WHEN coalesce(dg.deg, 0) < 2
              |    THEN CAST(NULL AS DOUBLE)
              |    ELSE floor(CAST(coalesce(cnt.n_tri, 0) AS DOUBLE) /
              |      ((dg.deg * (dg.deg - 1)) // 2) * 1000000.0 + 0.5)
              |      / 1000000.0 END AS cc
              |FROM documents d
              |LEFT JOIN cnt ON cnt.node = d.doc_id
              |LEFT JOIN dg ON dg.node = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // Hashing-trick vectorizer: vocabulary-free sparse features via
    // the portable md5-prefix hash, reproduced verbatim in SQL.
    GraftQuery(
      "qM6_feature_hashing",
      "64-dimension hashing-trick token vectorizer over documents: " +
        "doc_id, f_idx (portable md5-prefix hash mod 64), cnt.",
      (s, d) => TextAnalysis.featureHash(
        t(s, d, "documents"), "doc_id", "text", dims = 64)
        .orderBy("doc_id", "f_idx"),
      Some("""SELECT doc_id,
             |  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS f_idx,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |      FROM documents)
             |WHERE tok <> ''
             |GROUP BY 1, 2 ORDER BY doc_id, f_idx""".stripMargin)),

    // Exponentially-decayed per-type activity (half-life 7 days,
    // anchored at the newest day): 6-dp-snapped in-engine decay
    // factors, day-ordered folds.
    GraftQuery(
      "qM7_decayed_volume",
      "Time-decayed event count and value sum per event_type " +
        "(half-life 7 days): freshness-weighted activity rollup.",
      (s, d) => graft.operators.Timeseries.decayedDaily(
        t(s, d, "events"), Seq("event_type"), "ts", col("value"),
        halfLifeDays = 7.0).orderBy("event_type"),
      Some {
        val ln2h = math.log(2.0) / 7.0
        s"""WITH dly AS (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |    count(*) AS n,
           |    sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS sc
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |a AS (SELECT max(day) AS d0 FROM dly),
           |w AS (SELECT *,
           |    floor(exp(CAST(date_diff('day', (SELECT d0 FROM a), day)
           |      AS DOUBLE) * CAST($ln2h AS DOUBLE))
           |      * 1000000.0 + 0.5) / 1000000.0 AS w
           |  FROM dly),
           |g AS (SELECT event_type,
           |    CAST(count(*) AS BIGINT) AS n_days,
           |    CAST(sum(n) AS BIGINT) AS n_events,
           |    list_sum(list(n*w ORDER BY day)) AS dn,
           |    list_sum(list(sc*w ORDER BY day)) AS dsum
           |  FROM w GROUP BY 1)
           |SELECT event_type, n_days, n_events,
           |  floor(dn * 10000.0 + 0.5) / 10000.0 AS decayed_n,
           |  floor(dsum / 100.0 * 10000.0 + 0.5) / 10000.0
           |    AS decayed_sum
           |FROM g ORDER BY event_type""".stripMargin
      }),

    // Seasonal-naive (lag-7) forecast error: the weekly baseline every
    // real forecast must beat — calendar equi-join, integer-cent
    // errors, fold-ordered MAPE.
    GraftQuery(
      "qM8_seasonal_naive",
      "Seasonal-naive (lag-7 calendar join) forecast error of the " +
        "daily mean event value: n_forecast, MAE, MAPE.",
      (s, d) => Trend.seasonalNaiveError(t(s, d, "events"), "ts",
        col("value")),
      Some(s"""WITH $duckDaily,
              |l AS (SELECT day + 7 AS day, n AS n_l, sc AS sc_l
              |  FROM dly),
              |j AS (SELECT d.day,
              |    abs(CAST(floor((CAST(d.sc AS DOUBLE)/d.n -
              |      CAST(l.sc_l AS DOUBLE)/l.n_l) * 10000.0 + 0.5)
              |      AS BIGINT)) AS err4,
              |    CAST(floor(CAST(d.sc AS DOUBLE)/d.n * 10000.0 + 0.5)
              |      AS BIGINT) AS act4
              |  FROM dly d JOIN l USING (day)),
              |f AS (SELECT * FROM j WHERE act4 <> 0)
              |SELECT CAST(count(*) AS BIGINT) AS n_forecast,
              |  floor(CAST(sum(err4) AS DOUBLE) / count(*) / 1000000.0
              |    * 10000.0 + 0.5) / 10000.0 AS mae,
              |  floor(list_sum(list(CAST(err4 AS DOUBLE) / act4
              |    ORDER BY day)) / count(*) * 100.0 * 10000.0 + 0.5)
              |    / 10000.0 AS mape
              |FROM f""".stripMargin)),

    // QQ drift table: matched exact quantiles of the two halves of
    // the month — where in the distribution the drift sits, beside
    // qJ0's single-number KS.
    GraftQuery(
      "qM9_qq_table",
      "Quantile-quantile table (p10/p25/p50/p75/p90) of event value, " +
        "first half of the month vs the rest, with per-quantile gaps.",
      (s, d) => {
        // side tag computed at scan time: ONE events pass builds both
        // sides' count tables (the per-side filter form scanned the
        // table once per side; round 19, guide §2.4). A null ts drops
        // on both sides in the filter form — the g-null filter
        // reproduces that.
        val ev = t(s, d, "events")
        val tagged = ev
          .select(when(dayofmonth(col("ts")) <= 15, "a")
              .when(dayofmonth(col("ts")) > 15, "b").as("g"),
            col("value").cast("double").as("v"))
          .filter(col("g").isNotNull && col("v").isNotNull)
          .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
        Drift.qqTableTagged(tagged, Seq(0.1, 0.25, 0.5, 0.75, 0.9))
          .select(col("q"), col("v_a"), col("v_b"), col("gap"))
          .orderBy("q")
      },
      Some("""WITH ca AS (
             |  SELECT CAST(value AS DOUBLE) AS v, count(*) AS cnt
             |  FROM events WHERE value IS NOT NULL
             |    AND day(CAST(ts AS DATE)) <= 15 GROUP BY 1),
             |cb AS (
             |  SELECT CAST(value AS DOUBLE) AS v, count(*) AS cnt
             |  FROM events WHERE value IS NOT NULL
             |    AND day(CAST(ts AS DATE)) > 15 GROUP BY 1),
             |na AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM ca),
             |nb AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cb),
             |cuma AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc
             |  FROM ca),
             |cumb AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc
             |  FROM cb),
             |qs AS (SELECT unnest([CAST(0.1 AS DOUBLE),
             |    CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
             |    CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q),
             |qa AS (SELECT q, min(v) AS v_a FROM cuma, qs
             |  WHERE cc >= ceil(q * (SELECT n FROM na)) GROUP BY 1),
             |qb AS (SELECT q, min(v) AS v_b FROM cumb, qs
             |  WHERE cc >= ceil(q * (SELECT n FROM nb)) GROUP BY 1)
             |SELECT q, v_a, v_b, v_b - v_a AS gap
             |FROM qa JOIN qb USING (q) ORDER BY q""".stripMargin)),

    // Split-conformal prediction interval: per-type mean fitted on
    // the even-id calibration half, q-hat = ceil((n+1)·0.9)-th
    // absolute residual, empirical coverage on the odd-id test half
    // (the distribution-free ≥ 90% guarantee, checked empirically).
    GraftQuery(
      "qN0_conformal",
      "Split-conformal 90% interval for event value predicted by the " +
        "per-type calibration mean: residual-rank q-hat and test-half " +
        "coverage.",
      (s, d) => graft.operators.Eval.splitConformal(
        t(s, d, "events"), col("event_type"), col("value"),
        col("event_id") % 2 === 0, alpha = 0.1),
      Some("""WITH base AS (
             |  SELECT CAST(event_type AS VARCHAR) AS g,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS c,
             |    (event_id % 2 = 0) AS cal
             |  FROM events
             |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
             |means AS (SELECT g, CAST(sum(c) AS DOUBLE)/count(*) AS m
             |  FROM base WHERE cal GROUP BY 1),
             |resid AS (SELECT
             |    CAST(floor(abs(b.c - m.m)*100 + 0.5) AS BIGINT) AS r
             |  FROM base b JOIN means m USING (g) WHERE b.cal),
             |cnts AS (SELECT r, count(*) AS cnt FROM resid GROUP BY 1),
             |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cnts),
             |cum AS (SELECT r, sum(cnt) OVER (ORDER BY r) AS cc
             |  FROM cnts),
             |kk AS (SELECT CAST(ceil(CAST(n + 1 AS DOUBLE) * 0.9)
             |    AS BIGINT) AS k, n FROM nn),
             |q AS (SELECT min(r) AS qr FROM cum, kk
             |  WHERE cc >= least(kk.k, kk.n)),
             |t AS (SELECT count(*) AS n_test,
             |    sum(CASE WHEN CAST(floor(abs(b.c - m.m)*100 + 0.5)
             |      AS BIGINT) <= (SELECT qr FROM q) THEN 1 ELSE 0 END)
             |      AS covered
             |  FROM base b JOIN means m USING (g) WHERE NOT b.cal)
             |SELECT (SELECT n FROM nn) AS n_cal,
             |  CAST(n_test AS BIGINT) AS n_test,
             |  floor(CAST((SELECT qr FROM q) AS DOUBLE) / 10000.0
             |    * 10000.0 + 0.5) / 10000.0 AS qhat,
             |  floor(CAST(covered AS DOUBLE) / n_test * 10000.0 + 0.5)
             |    / 10000.0 AS coverage
             |FROM t""".stripMargin)),

    // Agreement-pattern sufficient statistic for the FS EM fit: 2^3
    // pattern rows from the same blocking chain as qL4 — the one
    // distributed pass behind Linkage.emFit.
    GraftQuery(
      "qN1_fs_patterns",
      "Fellegi-Sunter agreement-pattern counts (lang/source/length) " +
        "over the sorted-neighborhood candidates — the EM fit's " +
        "sufficient statistic.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val cands = graft.operators.Blocking.sortedNeighborhood(
          docs, "doc_id", substring(col("text"), 1, 12), w = 3)
          .select(col("id_a"), col("id_b"))
        val fields = docs.select(col("doc_id"), col("lang"),
          col("source"), col("n_chars"))
        val pairs = cands
          .join(fields.select(col("doc_id").as("id_a"),
            col("lang").as("lang_a"), col("source").as("source_a"),
            col("n_chars").as("nc_a")), Seq("id_a"))
          .join(fields.select(col("doc_id").as("id_b"),
            col("lang").as("lang_b"), col("source").as("source_b"),
            col("n_chars").as("nc_b")), Seq("id_b"))
        Linkage.agreementPatterns(pairs,
          fsFields.map(f => f.name -> f.agree))
          .orderBy("agree_lang", "agree_source", "agree_len")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, substr(text, 1, 12) AS bk, lang, source,
             |    n_chars,
             |    row_number() OVER (ORDER BY substr(text, 1, 12),
             |      doc_id) - 1 AS rank
             |  FROM documents),
             |p AS (
             |  SELECT coalesce(a.lang = b.lang, false) AS agree_lang,
             |    coalesce(a.source = b.source, false) AS agree_source,
             |    coalesce(abs(a.n_chars - b.n_chars) * 10 <=
             |      greatest(a.n_chars, b.n_chars), false) AS agree_len
             |  FROM r a JOIN r b
             |    ON b.rank > a.rank AND b.rank <= a.rank + 3)
             |SELECT agree_lang, agree_source, agree_len,
             |  CAST(count(*) AS BIGINT) AS n_pairs
             |FROM p GROUP BY 1, 2, 3
             |ORDER BY agree_lang, agree_source, agree_len""".stripMargin)),

    // Point lookup through the per-file key-membership manifest over a
    // RANDOM layout (where zone maps would prune nothing) — pruned
    // read equals the plain filter row-for-row.
    GraftQuery(
      "qN2_keyman_read",
      "Point lookup of one customer key through the per-file bucket " +
        "manifest over a randomly-laid-out rewrite of orders — " +
        "bucket-positive files only, exact predicate kept.",
      (s, d) => {
        val out = s"target/keyman_demo/${math.abs(d.hashCode)}"
        t(s, d, "orders")
          .repartition(16, col("o_orderkey"))
          .write.mode("overwrite").parquet(out)
        val man = graft.plans.Fence.bounded(
          graft.operators.Layout.keyManifest(s, out, "o_custkey"))
        val (df, _, _) = graft.operators.Layout.readPrunedByKey(
          s, man, "o_custkey", lit(42L))
        df.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders WHERE o_custkey = 42
             |ORDER BY o_orderkey""".stripMargin)),

    // Brier score of the scaled event value as a purchase
    // probability: integer-1e-4-snapped probabilities, exact BIGINT
    // squared-error sum.
    GraftQuery(
      "qN3_brier",
      "Brier score of value/500 (clamped to 1) as a purchase " +
        "probability.",
      (s, d) => graft.operators.Eval.brierScore(
        t(s, d, "events"),
        least(col("value") / 500.0, lit(1.0)),
        col("event_type") === "purchase"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(least(value/500.0, CAST(1.0 AS DOUBLE))
             |      * 10000.0 + 0.5) AS BIGINT) AS p,
             |    CASE WHEN event_type = 'purchase' THEN 10000 ELSE 0 END
             |      AS y
             |  FROM events WHERE value IS NOT NULL)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |  floor(CAST(sum((p - y)*(p - y)) AS DOUBLE) / count(*)
             |    / 100000000.0 * 1000000.0 + 0.5) / 1000000.0 AS brier
             |FROM b""".stripMargin)),

    // Cohen's kappa between two rule raters over documents:
    // chance-corrected agreement from all-integer confusion margins.
    GraftQuery(
      "qN4_kappa",
      "Cohen's kappa between the length rater (n_chars >= 250) and " +
        "the token rater (>= 50 tokens) on documents.",
      (s, d) => graft.operators.Eval.cohenKappa(
        t(s, d, "documents"),
        col("n_chars") >= 250,
        size(graft.functions.TextOps.tokens(col("text"))) >= 50),
      Some("""WITH r AS (
             |  SELECT coalesce(n_chars >= 250, false) AS a,
             |    coalesce(len(string_split(text, ' ')) >= 50, false)
             |      AS b
             |  FROM documents),
             |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n11,
             |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n10,
             |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n01,
             |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n00
             |  FROM r),
             |k AS (SELECT *,
             |    CAST(n11 + n00 AS DOUBLE) / n AS po_raw,
             |    CAST((n11 + n10)*(n11 + n01) +
             |      (n01 + n00)*(n10 + n00) AS DOUBLE) / n / n AS pe_raw
             |  FROM c)
             |SELECT n, n11, n10, n01, n00,
             |  floor(po_raw * 10000.0 + 0.5) / 10000.0 AS po,
             |  floor(pe_raw * 10000.0 + 0.5) / 10000.0 AS pe,
             |  CASE WHEN pe_raw = 1.0 THEN CAST(NULL AS DOUBLE)
             |    ELSE floor((po_raw - pe_raw) / (1.0 - pe_raw)
             |      * 10000.0 + 0.5) / 10000.0 END AS kappa
             |FROM k""".stripMargin)),

    // DeLong AUC confidence interval from the mergeable score
    // partials: placement variances via one score-ordered fold on
    // both engines.
    GraftQuery(
      "qN5_auc_delong",
      "AUC of value vs purchase with DeLong SE and 95% CI — " +
        "placement variances from the score-partials frame.",
      (s, d) => graft.operators.Eval.aucDelong(
        t(s, d, "events"), col("value"),
        col("event_type") === "purchase"),
      Some("""WITH s AS (
             |  SELECT value AS sc,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |      AS y
             |  FROM events WHERE value IS NOT NULL),
             |p AS (SELECT sc AS s, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(y) AS BIGINT) AS pos
             |  FROM s GROUP BY 1),
             |p2 AS (SELECT s, pos, cnt - pos AS neg FROM p),
             |t AS (SELECT CAST(sum(pos) AS BIGINT) AS n1,
             |    CAST(sum(neg) AS BIGINT) AS n0 FROM p2),
             |w AS (SELECT s, pos, neg,
             |    coalesce(sum(neg) OVER (ORDER BY s
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS cnb,
             |    coalesce(sum(pos) OVER (ORDER BY s
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS cpb
             |  FROM p2),
             |pl AS (SELECT s, pos, neg,
             |    (cnb + neg * 0.5) / (SELECT n0 FROM t) AS ppos,
             |    ((SELECT n1 FROM t) - cpb - pos * 0.5) /
             |      (SELECT n1 FROM t) AS pneg
             |  FROM w),
             |f AS (SELECT
             |    list_sum(list(pos * ppos ORDER BY s)) AS sp1,
             |    list_sum(list(pos * ppos * ppos ORDER BY s)) AS sp2,
             |    list_sum(list(neg * pneg ORDER BY s)) AS sq1,
             |    list_sum(list(neg * pneg * pneg ORDER BY s)) AS sq2
             |  FROM pl),
             |g AS (SELECT t.n1, t.n0, sp1 / t.n1 AS auc_raw,
             |    (sp2 - sp1*sp1/t.n1) / (t.n1 - 1) AS v10,
             |    (sq2 - sq1*sq1/t.n0) / (t.n0 - 1) AS v01
             |  FROM f, t),
             |h AS (SELECT *, sqrt(v10/n1 + v01/n0) AS se_raw FROM g)
             |SELECT n1 AS n_pos, n0 AS n_neg,
             |  floor(auc_raw * 1000000.0 + 0.5) / 1000000.0 AS auc,
             |  floor(se_raw * 1000000.0 + 0.5) / 1000000.0 AS se,
             |  floor((auc_raw - CAST(1.96 AS DOUBLE) * se_raw)
             |    * 1000000.0 + 0.5) / 1000000.0 AS ci95_lo,
             |  floor((auc_raw + CAST(1.96 AS DOUBLE) * se_raw)
             |    * 1000000.0 + 0.5) / 1000000.0 AS ci95_hi
             |FROM h""".stripMargin)),

    // The mergeable-state form of qM1: category counts built per half
    // and fed to the two-sample chi2 reduction — the batch face of the
    // streaming categorical-drift screen.
    GraftQuery(
      "qN6_chi2_counts_drift",
      "Two-sample chi-square of the event_type mix from mergeable " +
        "category-count state (first vs second half of month).",
      (s, d) => {
        val ev = t(s, d, "events")
        Drift.chi2FromCounts(
          Drift.catCounts(ev.filter(dayofmonth(col("ts")) <= 15),
            col("event_type")),
          Drift.catCounts(ev.filter(dayofmonth(col("ts")) > 15),
            col("event_type")))
      },
      Some("""WITH a AS (
             |  SELECT CAST(event_type AS VARCHAR) AS k,
             |    count(*) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL
             |    AND day(CAST(ts AS DATE)) <= 15 GROUP BY 1),
             |b AS (
             |  SELECT CAST(event_type AS VARCHAR) AS k,
             |    count(*) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL
             |    AND day(CAST(ts AS DATE)) > 15 GROUP BY 1),
             |byk AS (SELECT coalesce(a.k, b.k) AS k,
             |    coalesce(a.cnt, 0) AS oa, coalesce(b.cnt, 0) AS ob
             |  FROM a FULL JOIN b ON a.k = b.k),
             |tot AS (SELECT CAST(sum(oa) AS BIGINT) AS na,
             |    CAST(sum(ob) AS BIGINT) AS nb,
             |    CAST(count(*) AS BIGINT) AS c_levels FROM byk),
             |cells AS (SELECT oa, ob, na, nb, c_levels,
             |    oa + ob AS colm, na + nb AS n
             |  FROM byk, tot),
             |e AS (SELECT *,
             |    CAST(na AS DOUBLE) * colm / n AS ea,
             |    CAST(nb AS DOUBLE) * colm / n AS eb
             |  FROM cells),
             |c AS (SELECT max(na) AS n_a, max(nb) AS n_b,
             |    max(c_levels) AS c_levels,
             |    CAST(sum(
             |      CAST(floor((oa - ea)*(oa - ea)/ea * 1000000.0 + 0.5)
             |        AS BIGINT) +
             |      CAST(floor((ob - eb)*(ob - eb)/eb * 1000000.0 + 0.5)
             |        AS BIGINT)) AS BIGINT) AS s6
             |  FROM e)
             |SELECT n_a, n_b, c_levels, c_levels - 1 AS df,
             |  floor(CAST(s6 AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
             |    / 10000.0 AS chi2
             |FROM c""".stripMargin)),

    // One k-core peeling step over the near-dup graph (k = 2):
    // induced-subgraph degrees, survives iff deg >= 2. The iterated
    // decomposition (Graph.kcore) is spec-locked; this is its
    // oracle-checked step (the qM4 convention).
    GraftQuery(
      "qN7_kcore_step",
      "k-core peeling step (k=2) on the 3-gram-Jaccard near-dup " +
        "graph: per-doc induced degree and survival.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = graft.operators.Dedup.ngramJaccardPrefixPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.5)
        graft.operators.Graph.kcoreStep(
          docs, "doc_id", pairs, "doc_a", "doc_b", k = 2)
          .orderBy("node")
      },
      Some(s"""WITH $duckShingleSets,
              |dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              |  FROM (SELECT unnest([u, v]) AS node FROM und)
              |  GROUP BY 1)
              |SELECT d.doc_id AS node,
              |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg,
              |  coalesce(dg.deg, 0) >= 2 AS survives
              |FROM documents d LEFT JOIN dg ON dg.node = d.doc_id
              |ORDER BY node""".stripMargin)),

    // Per-group conformal: qN0's guarantee per event_type — segment
    // tails differ, so the interval should too.
    GraftQuery(
      "qN8_conformal_by_type",
      "Per-event-type split-conformal 90% intervals: group-local " +
        "residual ranks, per-group q-hat and test coverage.",
      (s, d) => graft.operators.Eval.splitConformalBy(
        t(s, d, "events"), col("event_type"), col("value"),
        col("event_id") % 2 === 0, alpha = 0.1).orderBy("g"),
      Some("""WITH base AS (
             |  SELECT CAST(event_type AS VARCHAR) AS g,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS c,
             |    (event_id % 2 = 0) AS cal
             |  FROM events
             |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
             |means AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cal,
             |    CAST(sum(c) AS DOUBLE)/count(*) AS m
             |  FROM base WHERE cal GROUP BY 1),
             |rc AS (SELECT b.g,
             |    CAST(floor(abs(b.c - m.m)*100 + 0.5) AS BIGINT) AS r,
             |    count(*) AS cnt
             |  FROM base b JOIN means m USING (g) WHERE b.cal
             |  GROUP BY 1, 2),
             |cum AS (SELECT g, r,
             |    sum(cnt) OVER (PARTITION BY g ORDER BY r) AS cc
             |  FROM rc),
             |kk AS (SELECT cum.g, cum.r, cum.cc, means.n_cal,
             |    CAST(ceil(CAST(means.n_cal + 1 AS DOUBLE) * 0.9)
             |      AS BIGINT) AS k
             |  FROM cum JOIN means USING (g)),
             |q AS (SELECT g, min(r) AS qr FROM kk
             |  WHERE cc >= least(k, n_cal) GROUP BY 1),
             |t AS (SELECT b.g,
             |    count(*) AS n_test,
             |    sum(CASE WHEN CAST(floor(abs(b.c - means.m)*100 + 0.5)
             |      AS BIGINT) <= q.qr THEN 1 ELSE 0 END) AS covered
             |  FROM base b JOIN means USING (g) JOIN q USING (g)
             |  WHERE NOT b.cal GROUP BY 1)
             |SELECT means.g, n_cal,
             |  CAST(coalesce(t.n_test, 0) AS BIGINT) AS n_test,
             |  floor(CAST(qr AS DOUBLE) / 10000.0 * 10000.0 + 0.5)
             |    / 10000.0 AS qhat,
             |  CASE WHEN t.n_test IS NULL THEN CAST(NULL AS DOUBLE)
             |    ELSE floor(CAST(covered AS DOUBLE) / t.n_test
             |      * 10000.0 + 0.5) / 10000.0 END AS coverage
             |FROM means JOIN q USING (g)
             |LEFT JOIN t ON t.g = means.g
             |ORDER BY means.g""".stripMargin)),

    // t-closeness release screen: per-event-type EMD of the binned
    // value distribution against the global one — the skewness-attack
    // check completing the k-anonymity / l-diversity triad.
    GraftQuery(
      "qN9_t_closeness",
      "t-closeness (ordered EMD, t=0.15) of the binned event value " +
        "per event_type vs the global distribution.",
      (s, d) => graft.operators.Privacy.tCloseness(
        t(s, d, "events"),
        Seq("event_type" -> col("event_type")),
        floor(col("value") / 50), t = 0.15)
        .orderBy("event_type"),
      Some("""WITH base AS (
             |  SELECT event_type, CAST(floor(value/50) AS DOUBLE) AS s
             |  FROM events
             |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
             |gl AS (SELECT s, CAST(count(*) AS BIGINT) AS gc
             |  FROM base GROUP BY 1),
             |gt AS (SELECT CAST(sum(gc) AS BIGINT) AS gn,
             |    CAST(count(*) AS BIGINT) AS m FROM gl),
             |cls AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
             |  FROM base GROUP BY 1),
             |cells AS (SELECT event_type, s, CAST(count(*) AS BIGINT)
             |    AS cc
             |  FROM base GROUP BY 1, 2),
             |grid AS (SELECT cls.event_type, cls.n, gl.s, gl.gc,
             |    coalesce(cells.cc, 0) AS pc
             |  FROM cls CROSS JOIN gl
             |  LEFT JOIN cells ON cells.event_type = cls.event_type
             |    AND cells.s = gl.s),
             |cum AS (SELECT event_type, n, s,
             |    sum(CAST(pc AS DOUBLE)/n -
             |      CAST(gc AS DOUBLE)/(SELECT gn FROM gt))
             |      OVER (PARTITION BY event_type ORDER BY s) AS cum
             |  FROM grid),
             |e AS (SELECT event_type, n,
             |    list_sum(list(abs(cum) ORDER BY s)) AS sabs
             |  FROM cum GROUP BY 1, 2)
             |SELECT event_type, n,
             |  CASE WHEN (SELECT m FROM gt) <= 1 THEN 0.0
             |    ELSE floor(sabs / ((SELECT m FROM gt) - 1)
             |      * 1000000.0 + 0.5) / 1000000.0 END AS emd,
             |  (CASE WHEN (SELECT m FROM gt) <= 1 THEN 0.0
             |    ELSE floor(sabs / ((SELECT m FROM gt) - 1)
             |      * 1000000.0 + 0.5) / 1000000.0 END) <= 0.15 AS close
             |FROM e ORDER BY event_type""".stripMargin)),

    // Per-user event cadence: inter-arrival gaps in exact epoch
    // seconds, user-bounded sorted arrays, lower-rank medians.
    GraftQuery(
      "qO0_interarrival",
      "Per-user inter-arrival profile (users with >= 2 events): " +
        "mean/median/max gap in seconds.",
      (s, d) => graft.operators.Funnel.interArrival(
        t(s, d, "events"), "user_id", "ts").orderBy("user_id"),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
             |  FROM events
             |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
             |g AS (SELECT user_id,
             |    sec - lag(sec) OVER (PARTITION BY user_id
             |      ORDER BY sec) AS gap
             |  FROM e),
             |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
             |  FROM e GROUP BY 1),
             |gg AS (SELECT user_id, list_sort(list(gap)) AS gaps
             |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
             |SELECT u.user_id, u.n_events,
             |  floor(CAST(list_sum(gaps) AS DOUBLE) / (u.n_events - 1)
             |    * 10000.0 + 0.5) / 10000.0 AS mean_gap_s,
             |  CAST(gaps[CAST(ceil(CAST(u.n_events - 1 AS DOUBLE) / 2)
             |    AS INT)] AS BIGINT) AS median_gap_s,
             |  CAST(gaps[-1] AS BIGINT) AS max_gap_s
             |FROM u JOIN gg USING (user_id)
             |WHERE u.n_events >= 2
             |ORDER BY user_id""".stripMargin)),

    // RFM segmentation with scale-safe quintiles: exact lower-rank
    // quantile CUT POINTS broadcast back, bucket assignment a pure
    // projection — no corpus-wide ntile window.
    GraftQuery(
      "qO1_rfm",
      "RFM customer segmentation of the event stream: per-user " +
        "recency/frequency/monetary metrics, exact-quantile quintile " +
        "scores, 3-digit segment code.",
      (s, d) => graft.operators.Rfm.segment(
        t(s, d, "events"), "user_id", "ts", col("value"))
        .orderBy("user_id"),
      Some("""WITH base AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS c
             |  FROM events
             |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
             |a AS (SELECT max(day) AS d0 FROM base),
             |m AS (SELECT user_id,
             |    CAST(min(date_diff('day', day, (SELECT d0 FROM a)))
             |      AS BIGINT) AS recency_days,
             |    CAST(count(*) AS BIGINT) AS frequency,
             |    CAST(sum(c) AS BIGINT) AS monetary_c
             |  FROM base GROUP BY 1),
             |qs AS (SELECT unnest([CAST(0.2 AS DOUBLE),
             |    CAST(0.4 AS DOUBLE), CAST(0.6 AS DOUBLE),
             |    CAST(0.8 AS DOUBLE)]) AS q),
             |rcnt AS (SELECT CAST(recency_days AS DOUBLE) AS v,
             |    count(*) AS cnt FROM m GROUP BY 1),
             |rtot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM rcnt),
             |rcum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc
             |  FROM rcnt),
             |rq AS (SELECT q, min(v) AS v FROM rcum, qs
             |  WHERE cc >= ceil(q * (SELECT n FROM rtot)) GROUP BY 1),
             |fcnt AS (SELECT CAST(frequency AS DOUBLE) AS v,
             |    count(*) AS cnt FROM m GROUP BY 1),
             |ftot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM fcnt),
             |fcum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc
             |  FROM fcnt),
             |fq AS (SELECT q, min(v) AS v FROM fcum, qs
             |  WHERE cc >= ceil(q * (SELECT n FROM ftot)) GROUP BY 1),
             |mcnt AS (SELECT CAST(monetary_c AS DOUBLE) AS v,
             |    count(*) AS cnt FROM m GROUP BY 1),
             |mtot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM mcnt),
             |mcum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cc
             |  FROM mcnt),
             |mq AS (SELECT q, min(v) AS v FROM mcum, qs
             |  WHERE cc >= ceil(q * (SELECT n FROM mtot)) GROUP BY 1),
             |rb AS (SELECT m.user_id,
             |    CAST(1 + sum(CASE WHEN CAST(m.recency_days AS DOUBLE)
             |      > rq.v THEN 1 ELSE 0 END) AS INTEGER) AS b
             |  FROM m CROSS JOIN rq GROUP BY m.user_id),
             |fb AS (SELECT m.user_id,
             |    CAST(1 + sum(CASE WHEN CAST(m.frequency AS DOUBLE)
             |      > fq.v THEN 1 ELSE 0 END) AS INTEGER) AS b
             |  FROM m CROSS JOIN fq GROUP BY m.user_id),
             |mb AS (SELECT m.user_id,
             |    CAST(1 + sum(CASE WHEN CAST(m.monetary_c AS DOUBLE)
             |      > mq.v THEN 1 ELSE 0 END) AS INTEGER) AS b
             |  FROM m CROSS JOIN mq GROUP BY m.user_id)
             |SELECT m.user_id, m.recency_days, m.frequency,
             |  floor(CAST(m.monetary_c AS DOUBLE) / 100.0
             |    * 10000.0 + 0.5) / 10000.0 AS monetary,
             |  CAST(6 - rb.b AS INTEGER) AS r_score,
             |  fb.b AS f_score, mb.b AS m_score,
             |  CAST(6 - rb.b AS VARCHAR) || CAST(fb.b AS VARCHAR) ||
             |    CAST(mb.b AS VARCHAR) AS segment
             |FROM m JOIN rb USING (user_id) JOIN fb USING (user_id)
             |JOIN mb USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // Kaplan-Meier / Nelson-Aalen over days-to-first-purchase with
    // right censoring at the stream horizon — the survival curve of
    // the conversion process; the oracle replays the product fold with
    // a recursive CTE.
    GraftQuery(
      "qO2_kaplan_meier",
      "Kaplan-Meier survival and Nelson-Aalen cumulative hazard of " +
        "days from a user's first event to first purchase, censored " +
        "at the stream horizon.",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val horizon = ev.agg(max(to_date(col("ts"))).as("hz"))
        val perUser = ev.groupBy("user_id").agg(
          min(to_date(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            to_date(col("ts")))).as("tp"))
        val subj = perUser.crossJoin(broadcast(horizon))
          .select(
            when(col("tp").isNotNull, datediff(col("tp"), col("t0")))
              .otherwise(datediff(col("hz"), col("t0")))
              .cast("long").as("dur"),
            col("tp").isNotNull.as("ev"))
        graft.operators.Survival.kaplanMeier(subj, col("dur"),
          col("ev")).orderBy("t")
      },
      Some("""WITH RECURSIVE u AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS t0,
             |    min(CASE WHEN event_type = 'purchase'
             |      THEN CAST(ts AS DATE) END) AS tp
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
             |hz AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events
             |  WHERE user_id IS NOT NULL),
             |subj AS (SELECT
             |    CASE WHEN tp IS NOT NULL
             |      THEN date_diff('day', t0, tp)
             |      ELSE date_diff('day', t0, (SELECT hz FROM hz)) END
             |      AS t,
             |    (tp IS NOT NULL) AS e
             |  FROM u),
             |byt AS (SELECT CAST(t AS BIGINT) AS t,
             |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT)
             |      AS d,
             |    CAST(sum(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT)
             |      AS c
             |  FROM subj GROUP BY 1),
             |ord AS (SELECT *, row_number() OVER (ORDER BY t) AS rk
             |  FROM byt),
             |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM byt),
             |rec AS (
             |  SELECT rk, t, d, c,
             |    (SELECT n FROM tot) AS n_risk,
             |    1.0 * (1.0 - CAST(d AS DOUBLE)/(SELECT n FROM tot))
             |      AS s,
             |    0.0 + CAST(d AS DOUBLE)/(SELECT n FROM tot) AS h
             |  FROM ord WHERE rk = 1
             |  UNION ALL
             |  SELECT o.rk, o.t, o.d, o.c,
             |    rec.n_risk - rec.d - rec.c AS n_risk,
             |    rec.s * (1.0 - CAST(o.d AS DOUBLE) /
             |      (rec.n_risk - rec.d - rec.c)) AS s,
             |    rec.h + CAST(o.d AS DOUBLE) /
             |      (rec.n_risk - rec.d - rec.c) AS h
             |  FROM rec JOIN ord o ON o.rk = rec.rk + 1)
             |SELECT t, n_risk, d AS n_event, c AS n_censored,
             |  floor(s * 1000000.0 + 0.5) / 1000000.0 AS survival,
             |  floor(h * 1000000.0 + 0.5) / 1000000.0 AS cum_hazard
             |FROM rec ORDER BY t""".stripMargin)),

    // RMST: area under the qO2 survival curve up to 14 days — the
    // assumption-free "expected purchase-free days within two weeks".
    GraftQuery(
      "qO4_rmst",
      "Restricted mean survival time (tau = 14 days) of the " +
        "days-to-first-purchase curve.",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val horizon = ev.agg(max(to_date(col("ts"))).as("hz"))
        val perUser = ev.groupBy("user_id").agg(
          min(to_date(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            to_date(col("ts")))).as("tp"))
        val subj = perUser.crossJoin(broadcast(horizon))
          .select(
            when(col("tp").isNotNull, datediff(col("tp"), col("t0")))
              .otherwise(datediff(col("hz"), col("t0")))
              .cast("long").as("dur"),
            col("tp").isNotNull.as("ev"))
        graft.operators.Survival.rmst(subj, col("dur"), col("ev"),
          tau = 14L)
      },
      Some("""WITH RECURSIVE u AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS t0,
             |    min(CASE WHEN event_type = 'purchase'
             |      THEN CAST(ts AS DATE) END) AS tp
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
             |hz AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events
             |  WHERE user_id IS NOT NULL),
             |subj AS (SELECT
             |    CASE WHEN tp IS NOT NULL
             |      THEN date_diff('day', t0, tp)
             |      ELSE date_diff('day', t0, (SELECT hz FROM hz)) END
             |      AS t,
             |    (tp IS NOT NULL) AS e
             |  FROM u),
             |byt AS (SELECT CAST(t AS BIGINT) AS t,
             |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT)
             |      AS d,
             |    CAST(sum(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT)
             |      AS c
             |  FROM subj GROUP BY 1),
             |ord AS (SELECT *, row_number() OVER (ORDER BY t) AS rk
             |  FROM byt WHERE t <= 14),
             |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM byt),
             |rec AS (
             |  SELECT rk, t, d, c,
             |    (SELECT n FROM tot) AS n_risk,
             |    1.0 * (1.0 - CAST(d AS DOUBLE)/(SELECT n FROM tot))
             |      AS s
             |  FROM ord WHERE rk = 1
             |  UNION ALL
             |  SELECT o.rk, o.t, o.d, o.c,
             |    rec.n_risk - rec.d - rec.c AS n_risk,
             |    rec.s * (1.0 - CAST(o.d AS DOUBLE) /
             |      (rec.n_risk - rec.d - rec.c)) AS s
             |  FROM rec JOIN ord o ON o.rk = rec.rk + 1),
             |steps AS (SELECT t, s,
             |    coalesce(lag(s) OVER (ORDER BY t), 1.0) AS s_prev,
             |    coalesce(lag(t) OVER (ORDER BY t), 0) AS t_prev
             |  FROM rec),
             |i AS (SELECT
             |    coalesce(list_sum(list(s_prev * (t - t_prev)
             |      ORDER BY t)), 0.0) AS integ,
             |    coalesce(max(t), 0) AS t_last
             |  FROM steps),
             |tl AS (SELECT coalesce(
             |    (SELECT s FROM steps
             |     WHERE t = (SELECT t_last FROM i)), 1.0) AS s_last)
             |SELECT CAST(14 AS BIGINT) AS tau,
             |  (SELECT n FROM tot) AS n_subjects,
             |  floor((
             |    (SELECT integ FROM i) +
             |    (SELECT s_last FROM tl) *
             |      (14 - (SELECT t_last FROM i)))
             |    * 1000000.0 + 0.5) / 1000000.0 AS rmst""".stripMargin)),

    // Cohen's d effect size beside qJ4's Welch significance.
    GraftQuery(
      "qO5_cohens_d",
      "Cohen's d (pooled-SD effect size) of event value between even " +
        "and odd user-id cohorts.",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        Robust.cohensD(ev.filter(col("user_id") % 2 === 0),
          ev.filter(col("user_id") % 2 === 1), col("value"))
      },
      Some("""WITH a AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS na,
             |    CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))
             |      AS DOUBLE) AS sa,
             |    CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT) *
             |      CAST(floor(value*100 + 0.5) AS BIGINT)) AS DOUBLE)
             |      AS qa
             |  FROM events
             |  WHERE user_id IS NOT NULL AND user_id % 2 = 0
             |    AND value IS NOT NULL),
             |b AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS nb,
             |    CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))
             |      AS DOUBLE) AS sb,
             |    CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT) *
             |      CAST(floor(value*100 + 0.5) AS BIGINT)) AS DOUBLE)
             |      AS qb
             |  FROM events
             |  WHERE user_id IS NOT NULL AND user_id % 2 = 1
             |    AND value IS NOT NULL),
             |j AS (SELECT *,
             |    sa/na AS ma, sb/nb AS mb,
             |    (qa - sa*sa/na)/(na - 1) AS va,
             |    (qb - sb*sb/nb)/(nb - 1) AS vb
             |  FROM a, b),
             |k AS (SELECT *,
             |    sqrt(((na - 1)*va + (nb - 1)*vb)/(na + nb - 2)) AS sp
             |  FROM j)
             |SELECT CAST(na AS BIGINT) AS n_a,
             |  CAST(nb AS BIGINT) AS n_b,
             |  floor(ma/100.0 * 10000.0 + 0.5) / 10000.0 AS mean_a,
             |  floor(mb/100.0 * 10000.0 + 0.5) / 10000.0 AS mean_b,
             |  floor((ma - mb)/sp * 10000.0 + 0.5) / 10000.0
             |    AS cohens_d
             |FROM k""".stripMargin)),

    // Decile lift table of the value score vs purchase outcome —
    // exact-quantile score bands (no corpus ntile), cumulative lift
    // from the top band.
    GraftQuery(
      "qO6_lift_table",
      "Decile gains/lift table of event value as a purchase " +
        "predictor: per-band response rates, cumulative lift.",
      (s, d) => graft.operators.Eval.liftTable(
        t(s, d, "events"), col("value"),
        col("event_type") === "purchase", buckets = 10)
        .orderBy("band"),
      Some("""WITH base AS (
             |  SELECT CAST(value AS DOUBLE) AS s,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |      AS y
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT s, count(*) AS cnt FROM base GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
             |cum AS (SELECT s, sum(cnt) OVER (ORDER BY s) AS cc
             |  FROM c),
             |qs AS (SELECT unnest([CAST(0.1 AS DOUBLE),
             |    CAST(0.2 AS DOUBLE), CAST(0.3 AS DOUBLE),
             |    CAST(0.4 AS DOUBLE), CAST(0.5 AS DOUBLE),
             |    CAST(0.6 AS DOUBLE), CAST(0.7 AS DOUBLE),
             |    CAST(0.8 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q),
             |cuts AS (SELECT q, min(s) AS v FROM cum, qs
             |  WHERE cc >= ceil(q * (SELECT n FROM tot)) GROUP BY 1),
             |banded AS (SELECT b.s, b.y,
             |    10 - (SELECT CAST(sum(CASE WHEN b.s > cuts.v THEN 1
             |      ELSE 0 END) AS INTEGER) FROM cuts) AS band
             |  FROM base b),
             |g AS (SELECT band, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(y) AS BIGINT) AS n_pos
             |  FROM banded GROUP BY 1),
             |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
             |    CAST(sum(n_pos) AS BIGINT) AS tp FROM g),
             |w AS (SELECT *,
             |    CAST(sum(n) OVER (ORDER BY band) AS BIGINT) AS cum_n,
             |    CAST(sum(n_pos) OVER (ORDER BY band) AS BIGINT)
             |      AS cum_pos
             |  FROM g)
             |SELECT band, n, n_pos,
             |  floor(CAST(n_pos AS DOUBLE) / n * 10000.0 + 0.5)
             |    / 10000.0 AS resp_rate,
             |  cum_n, cum_pos,
             |  floor((CAST(cum_pos AS DOUBLE) / cum_n) /
             |    (CAST((SELECT tp FROM t2) AS DOUBLE) /
             |     (SELECT tn FROM t2)) * 10000.0 + 0.5) / 10000.0
             |    AS cum_lift
             |FROM w ORDER BY band""".stripMargin)),

    // Log-rank test between the even- and odd-user cohorts on the
    // same days-to-purchase durations as qO2.
    GraftQuery(
      "qO3_log_rank",
      "Two-group log-rank test of days-to-first-purchase survival: " +
        "even vs odd user-id cohorts, hypergeometric variance.",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val horizon = ev.agg(max(to_date(col("ts"))).as("hz"))
        val perUser = ev.groupBy("user_id").agg(
          min(to_date(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase",
            to_date(col("ts")))).as("tp"))
        val subj = perUser.crossJoin(broadcast(horizon))
          .select(
            when(col("tp").isNotNull, datediff(col("tp"), col("t0")))
              .otherwise(datediff(col("hz"), col("t0")))
              .cast("long").as("dur"),
            col("tp").isNotNull.as("ev"),
            (col("user_id") % 2 === 0).as("grp"))
        graft.operators.Survival.logRank(subj, col("dur"), col("ev"),
          col("grp"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS t0,
             |    min(CASE WHEN event_type = 'purchase'
             |      THEN CAST(ts AS DATE) END) AS tp
             |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
             |hz AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events
             |  WHERE user_id IS NOT NULL),
             |subj AS (SELECT
             |    CAST(CASE WHEN tp IS NOT NULL
             |      THEN date_diff('day', t0, tp)
             |      ELSE date_diff('day', t0, (SELECT hz FROM hz)) END
             |      AS BIGINT) AS t,
             |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e,
             |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
             |  FROM u),
             |byt AS (SELECT t,
             |    CAST(sum(e*a) AS BIGINT) AS da,
             |    CAST(sum((1-e)*a) AS BIGINT) AS ca,
             |    CAST(sum(e*(1-a)) AS BIGINT) AS db,
             |    CAST(sum((1-e)*(1-a)) AS BIGINT) AS cb
             |  FROM subj GROUP BY 1),
             |tot AS (SELECT CAST(sum(da+ca) AS BIGINT) AS n_a,
             |    CAST(sum(db+cb) AS BIGINT) AS n_b FROM byt),
             |w AS (SELECT *,
             |    (SELECT n_a FROM tot) - coalesce(sum(da+ca)
             |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND 1 PRECEDING), 0) AS ra,
             |    (SELECT n_b FROM tot) - coalesce(sum(db+cb)
             |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND 1 PRECEDING), 0) AS rb
             |  FROM byt),
             |terms AS (SELECT t, da,
             |    CAST(da + db AS DOUBLE) * ra / (ra + rb) AS ea,
             |    CASE WHEN ra + rb <= 1 THEN 0.0
             |      ELSE CAST(da + db AS DOUBLE) *
             |        (CAST(ra AS DOUBLE) / (ra + rb)) *
             |        (1.0 - CAST(ra AS DOUBLE) / (ra + rb)) *
             |        CAST((ra + rb) - (da + db) AS DOUBLE) /
             |        ((ra + rb) - 1) END AS vt
             |  FROM w),
             |f AS (SELECT CAST(sum(da) AS BIGINT) AS oa,
             |    list_sum(list(ea ORDER BY t)) AS ea_s,
             |    list_sum(list(CAST(da AS DOUBLE) - ea ORDER BY t))
             |      AS z,
             |    list_sum(list(vt ORDER BY t)) AS v
             |  FROM terms)
             |SELECT (SELECT n_a FROM tot) AS n_a,
             |  (SELECT n_b FROM tot) AS n_b,
             |  oa AS obs_a,
             |  floor(ea_s * 10000.0 + 0.5) / 10000.0 AS exp_a,
             |  floor(z * 10000.0 + 0.5) / 10000.0 AS z,
             |  floor(v * 10000.0 + 0.5) / 10000.0 AS var_s,
             |  CASE WHEN v <= 0 THEN CAST(NULL AS DOUBLE)
             |    ELSE floor(z * z / v * 10000.0 + 0.5) / 10000.0 END
             |    AS chi2
             |FROM f""".stripMargin)),

    // Fellegi-Sunter scoring over the qE9 blocking chain: per-pair
    // log-likelihood-ratio sum of 6-dp-snapped weight literals (the
    // SAME Scala-computed constants are interpolated into the oracle),
    // three-way match/possible/non-match decision.
    GraftQuery(
      "qL4_fellegi_sunter",
      "Fellegi-Sunter linkage scores over sorted-neighborhood " +
        "candidates: lang/source/length agreement fields, snapped " +
        "log2(m/u) weights, match / possible / non_match decision.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val cands = graft.operators.Blocking.sortedNeighborhood(
          docs, "doc_id", substring(col("text"), 1, 12), w = 3)
          .select(col("id_a"), col("id_b"))
        val fields = docs.select(col("doc_id"), col("lang"),
          col("source"), col("n_chars"))
        Linkage.score(
          cands
            .join(fields.select(col("doc_id").as("id_a"),
              col("lang").as("lang_a"), col("source").as("source_a"),
              col("n_chars").as("nc_a")), Seq("id_a"))
            .join(fields.select(col("doc_id").as("id_b"),
              col("lang").as("lang_b"), col("source").as("source_b"),
              col("n_chars").as("nc_b")), Seq("id_b")),
          fsFields, upper = 1.0, lower = 0.0)
          .select(col("id_a"), col("id_b"), col("agree_lang"),
            col("agree_source"), col("agree_len"), col("score"),
            col("decision"))
          .orderBy("id_a", "id_b")
      },
      Some {
        val Seq(fl, fs_, fn) = fsFields
        s"""WITH r AS (
           |  SELECT doc_id, substr(text, 1, 12) AS bk, lang, source,
           |    n_chars,
           |    row_number() OVER (ORDER BY substr(text, 1, 12),
           |      doc_id) - 1 AS rank
           |  FROM documents),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    a.lang = b.lang AS agree_lang,
           |    a.source = b.source AS agree_source,
           |    abs(a.n_chars - b.n_chars) * 10 <=
           |      greatest(a.n_chars, b.n_chars) AS agree_len
           |  FROM r a JOIN r b
           |    ON b.rank > a.rank AND b.rank <= a.rank + 3),
           |sc AS (
           |  SELECT id_a, id_b, agree_lang, agree_source, agree_len,
           |    (CASE WHEN agree_lang THEN CAST(${fl.wAgree} AS DOUBLE)
           |      ELSE CAST(${fl.wDisagree} AS DOUBLE) END +
           |     CASE WHEN agree_source THEN CAST(${fs_.wAgree} AS DOUBLE)
           |      ELSE CAST(${fs_.wDisagree} AS DOUBLE) END +
           |     CASE WHEN agree_len THEN CAST(${fn.wAgree} AS DOUBLE)
           |      ELSE CAST(${fn.wDisagree} AS DOUBLE) END) AS score
           |  FROM p)
           |SELECT id_a, id_b, agree_lang, agree_source, agree_len,
           |  score,
           |  CASE WHEN score >= 1.0 THEN 'match'
           |    WHEN score <= 0.0 THEN 'non_match'
           |    ELSE 'possible' END AS decision
           |FROM sc ORDER BY id_a, id_b""".stripMargin
      })
  )
}
