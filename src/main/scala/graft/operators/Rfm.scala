package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RFM (recency / frequency / monetary) segmentation — the classic
  * customer-value grid, built the way it survives 10^9 users: quintile
  * boundaries come from EXACT lower-rank quantiles of the per-user
  * metric distributions ([[Drift.quantilesFromCounts]] — block prefix
  * sums over value-count state), broadcast back as four cut points per
  * dimension, and bucket assignment is a pure projection (1 + number
  * of cuts strictly below the value). NO corpus-wide ntile window —
  * `ntile(5)` over all users is the one-task global sort this repo's
  * plan sweep exists to forbid.
  *
  * Determinism: per-user metrics are exact integers (days, counts,
  * cents); cut points are exact quantiles of those integers; bucket
  * comparisons are integer-vs-integer. Recency scores INVERT (recent =
  * 5); frequency/monetary score high = 5.
  */
object Rfm {

  /** Output per user: user_id, recency_days, frequency, monetary
    * (4 dp, units), r_score, f_score, m_score (1-5 each), segment
    * ("rfm" digit string).
    */
  def segment(df: DataFrame, userCol: String, tsCol: String,
      value: Column): DataFrame = {
    val base = graft.plans.Fence.corpus(
      df.select(col(userCol).as("user_id"),
          to_date(col(tsCol)).as("day"),
          floor(value.cast("double") * 100 + 0.5).cast("long").as("c"))
        .filter(col("user_id").isNotNull && col("c").isNotNull),
      "rfm_base") // metrics + three cut derivations read it once
    val anchor = base.agg(max("day").as("d0"))
    val metrics0 = base.crossJoin(broadcast(anchor))
      .groupBy("user_id")
      .agg(min(datediff(col("d0"), col("day"))).cast("long")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum("c").as("monetary_c"))
    val metrics = graft.plans.Fence.corpus(metrics0,
      "rfm_metrics") // the one quantile pass + the final projection
    // ONE grouped quantile pass for all three dimensions (round-18;
    // guide §2.4): three per-metric quantilesFromCounts mini-queries
    // were three scans of the metrics stage and three driver
    // round-trips — a tagged explode folds them into a single
    // (dim, v, cnt) pipeline with identical per-dimension cut points
    // (the grouped reduction is the same algorithm keyed by dim).
    val counts3 = metrics.select(explode(map(
        lit("r"), col("recency_days").cast("double"),
        lit("f"), col("frequency").cast("double"),
        lit("m"), col("monetary_c").cast("double"))).as(Seq("g", "v")))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    // |dims|·|qs| rows, ordered in the driver: a distributed ORDER BY of
    // them is a sampling job plus a shuffle job
    val cutRows = Drift.quantilesFromCountsBy(
      counts3, Seq(0.2, 0.4, 0.6, 0.8)).collect()
    def cutsOf(dim: String): Seq[Double] = cutRows.toSeq
      .filter(_.getAs[String]("g") == dim)
      .sortBy(_.getAs[Double]("q"))
      .map(_.getAs[Double]("v"))
    val rc = cutsOf("r")
    val fc = cutsOf("f")
    val mc = cutsOf("m")
    def bucket(metric: Column, cs: Seq[Double]): Column =
      // empty cuts = the dimension was entirely null (its rows drop out
      // of the grouped quantile pass): every row lands in band 1
      // instead of reduce() throwing on an empty list (round-19 ADVICE)
      if (cs.isEmpty) lit(1)
      else cs.map(c => when(metric.cast("double") > lit(c), 1).otherwise(0))
        .reduce(_ + _) + 1
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    metrics
      .withColumn("r_score", lit(6) - bucket(col("recency_days"), rc))
      .withColumn("f_score", bucket(col("frequency"), fc))
      .withColumn("m_score", bucket(col("monetary_c"), mc))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        r4(col("monetary_c").cast("double") / 100.0).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"),
          col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
  }
}
