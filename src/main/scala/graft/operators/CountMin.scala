package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Count-Min frequency sketch (Cormode & Muthukrishnan, J.Alg 2005) as
  * a plain (depth, cell, count) DataFrame — the point-frequency member
  * of the library's mergeable-sketch family (bloom: membership, [[Hll]]:
  * cardinality, [[HeavyHitters]]: top-k, MinHash/SimHash: similarity).
  *
  * Why a table, not a binary blob: counters merge by SUM per cell, so
  * the persisted sketch of each day/shard unions with any other and
  * re-aggregates — same incremental lifecycle as [[Hll.merge]], and the
  * whole build is partial-aggregated codegen (the exchange carries
  * ≤ depth × width rows per group, never the stream).
  *
  * Guarantees: estimates only ever OVERcount; with width w and depth d,
  * err ≤ stream_len · e/w with probability 1 − e^−d. When the sketch is
  * wide enough that no two distinct values share a cell in some row,
  * the min over rows is EXACT — the regime the DuckDB oracle checks on
  * the fixtures (the bound covers the colliding regime at scale).
  * CAVEAT on the bound: because every row's hash derives affinely from
  * ONE 32-bit base hash (see below), two values that collide on the
  * base hash collide in EVERY row — depth resolves cell-level
  * collisions only, not base-hash collisions, so the formal 1 − e^−d
  * independence guarantee holds conditionally on base-hash injectivity
  * (violations ~n²/2³³: negligible below ~10⁶ distinct values per
  * group, an additive overcount source above). Salting the md5 with d
  * would restore the formal bound at the measured 4× hash cost; this
  * sketch deliberately trades that for throughput.
  *
  * Determinism: the value hashes ONCE through the portable md5-based
  * [[TextOps.hash32]]; row d's hash derives arithmetically as
  * `(h·(2d+1) + 31d²+7) mod (2³¹−1)` — the same pairwise-independent
  * affine family [[TextOps.minhashSignature]] uses, reproducible
  * bit-for-bit in any engine. One md5 per occurrence instead of
  * `depth` md5s: the md5 is the sketch build's dominant per-row cost
  * (measured 4× on the depth-4 bench query), the affine derivation is
  * two integer ops.
  *
  * `saltedDepth = true` restores the formal 1 − e^−d bound at that
  * measured ~depth× hash cost: each row hashes `d || ':' || value`
  * through its own md5, so two values colliding on one row's hash are
  * independent on every other row — the base-hash-collision caveat
  * above vanishes. Build and [[estimate]] must agree on the flag
  * (cells are incompatible across modes, like mismatched
  * depth/width).
  */
object CountMin {

  /** Row-d hash of the base 32-bit value hash — exact in long
    * arithmetic (h < 2³², ×(2d+1) ≤ ×17 stays far under 2⁶³).
    */
  private def rowHash(h: Column, d: Column): Column =
    pmod(h * (d * 2 + 1) + (d * d * 31 + 7), lit(2147483647L))

  /** Sketch table (groupCols..., d, cell, cnt): occurrence counts per
    * (row, cell). Missing cells are zero.
    */
  def sketch(df: DataFrame, groupCols: Seq[String], value: Column,
      depth: Int, width: Int, saltedDepth: Boolean = false): DataFrame = {
    require(depth >= 1 && depth <= 8, "depth in [1,8]")
    require(width >= 16, "width >= 16")
    val rows = explode(sequence(lit(0), lit(depth - 1))).as("d")
    // NULL values hash to NULL cells — phantom counter rows; drop them
    val src = df.filter(value.isNotNull)
    (if (saltedDepth)
      src.select((groupCols.map(col) :+
          value.cast("string").as("__v") :+ rows): _*)
        .select((groupCols.map(col) :+ col("d") :+
          pmod(saltedHash(col("__v"), col("d")), lit(width.toLong))
            .as("cell")): _*)
    else
      src.select((groupCols.map(col) :+
          TextOps.hash32(value).as("__h") :+ rows): _*)
        .select((groupCols.map(col) :+ col("d") :+
          pmod(rowHash(col("__h"), col("d")), lit(width.toLong))
            .as("cell")): _*))
      .groupBy((groupCols.map(col) :+ col("d") :+ col("cell")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Row-d salted hash: an independent md5 per (row, value) —
    * `hash32(d || ':' || value)`, the formal-bound mode.
    */
  private def saltedHash(v: Column, d: Column): Column =
    TextOps.hash32(concat(d.cast("string"), lit(":"), v))

  /** Event-time-windowed counter tables — [[graft.operators.Hll
    * .windowedRegisters]]'s Count-Min sibling: `groupBy(window(ts), d,
    * cell) → sum` is a plain streaming aggregation (watermarking and
    * state eviction are Catalyst's); state per window is ≤ depth×width
    * counters regardless of traffic. The same transform runs on batch
    * frames, which is how the spec asserts stream/batch agreement;
    * estimate the emitted per-window tables with [[estimate]].
    */
  def windowedSketch(df: DataFrame, tsCol: String, value: Column,
      depth: Int, width: Int, windowDuration: String,
      watermarkDelay: String, saltedDepth: Boolean = false): DataFrame = {
    require(depth >= 1 && depth <= 8, "depth in [1,8]")
    require(width >= 16, "width >= 16")
    val src = (if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay)
      else df).filter(value.isNotNull)
    val rows = explode(sequence(lit(0), lit(depth - 1))).as("d")
    // build and estimate must agree on saltedDepth (cells are
    // incompatible across modes) — same contract as [[sketch]]
    (if (saltedDepth)
      src.select(window(col(tsCol), windowDuration).as("win"),
          value.cast("string").as("__v"), rows)
        .select(col("win"), col("d"),
          pmod(saltedHash(col("__v"), col("d")), lit(width.toLong))
            .as("cell"))
    else
      src.select(window(col(tsCol), windowDuration).as("win"),
          TextOps.hash32(value).as("__h"), rows)
        .select(col("win"), col("d"),
          pmod(rowHash(col("__h"), col("d")), lit(width.toLong))
            .as("cell")))
      .groupBy(col("win"), col("d"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("win.start").as("window_start"), col("d"),
        col("cell"), col("cnt"))
  }

  /** Merge sketch tables built with the same depth/width: union + sum. */
  def merge(a: DataFrame, b: DataFrame, groupCols: Seq[String])
      : DataFrame =
    a.unionByName(b)
      .groupBy((groupCols.map(col) :+ col("d") :+ col("cell")): _*)
      .agg(sum("cnt").as("cnt"))

  /** Point-frequency estimates for `probes` (a DataFrame of candidate
    * values): per probe, min over rows of its cell's counter (missing
    * cell → 0). The probe side is the small side by contract (a probe
    * list is a bounded artifact) and broadcasts; the sketch never
    * re-shuffles.
    *
    * Output: groupCols..., probe, est_count.
    */
  def estimate(sk0: DataFrame, groupCols: Seq[String], probes: DataFrame,
      probeCol: String, depth: Int, width: Int,
      saltedDepth: Boolean = false): DataFrame = {
    // the sketch is ≤ |groups|·depth·width rows by construction — fence
    // it once: the hit join AND the group-universe leg below otherwise
    // each re-evaluate the sketch build (and the stream scan under it;
    // the round-19 qE4/qP2 plan audit showed the documents table
    // scanned twice through the full md5 pipeline). Bounded tier (the
    // sketch-register class); streaming frames pass through.
    val sk = graft.plans.Fence.bounded(sk0)
    val pr = probes.select(col(probeCol).as("probe")).distinct()
      .withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("cell",
        if (saltedDepth)
          pmod(saltedHash(col("probe").cast("string"), col("d")),
            lit(width.toLong))
        else
          pmod(rowHash(TextOps.hash32(col("probe")), col("d")),
            lit(width.toLong)))
    // a stored cell means counter > 0; an ABSENT cell is a zero
    // counter, which min-dominates — so any probe whose d rows don't
    // all match has estimate 0 (CM never undercounts: value present c
    // times ⇒ every row's cell ≥ c). The inner join loses those
    // probes, so the bounded (group × probe) universe is re-joined on
    // top — every frame past the inner join is sketch/probe-sized,
    // never stream-sized, and the probe side broadcasts.
    val hits = sk.join(broadcast(pr), Seq("d", "cell"))
      .groupBy((groupCols.map(col) :+ col("probe")): _*)
      .agg(min("cnt").as("min_cnt"), count(lit(1)).as("rows_hit"))
    val universe = sk.select(groupCols.map(col): _*).distinct()
      .crossJoin(broadcast(probes.select(col(probeCol).as("probe"))
        .distinct()))
    universe.join(hits, groupCols :+ "probe", "left")
      .select((groupCols.map(col) :+ col("probe") :+
        when(col("rows_hit").isNull || col("rows_hit") < depth, 0L)
          .otherwise(col("min_cnt")).as("est_count")): _*)
  }
}
