package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths, per the pipeline contract:
  *   - `bruteForceTopK`: exact cosine top-k — the correctness baseline.
  *     One shuffle-free map over candidates per query batch (queries are
  *     broadcast), then a bounded per-query window for top-k.
  *   - `lshTopK`: random-hyperplane LSH bucketing — the 100 TB path. The
  *     hyperplanes use deterministic integer weights (no RNG state), so
  *     results are reproducible across engines and runs; candidates are
  *     only pairs sharing a bucket, turning O(n·q) into O(bucket sizes).
  *
  * All vector math runs through the codegen'd VecDot kernel (double
  * precision, left-to-right summation); norms are precomputed once per
  * side.
  */
object Similarity {

  private def asDouble(vec: Column): Column =
    transform(vec, x => x.cast("double"))

  // Codegen'd dot-product kernel (GraftFunctions.vecDot); HOF chains are
  // CodegenFallback and interpreted ~50x slower on the pair hot path.
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDot(a, b)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** Exact cosine top-k: for each query vector (rows matching
    * `isQuery`), the k nearest non-self candidates.
    * Output: q_id, cand_id, cosine, rank.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column, k: Int): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val base = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val queries = base.filter(isQuery)
      .select(col("vid").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = base.as("c")
      .join(broadcast(queries), col("q_id") =!= col("vid"))
      .select(col("q_id"), col("vid").as("cand_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic integer hyperplane weight for (plane j, dim i):
    * ((2j+3)(i+17)) mod 101 − 50 ∈ [−50, 50]. Reproducible in any SQL
    * engine; no RNG state to persist or broadcast.
    */
  private def planeWeight(j: Column, i: Column): Column =
    ((j * 2 + 3) * (i + 17)) % 101 - 50

  /** Corpus-adaptive hyperplane count: the smallest k ∈ [1, 30] with
    * 2^k · targetBucket ≥ n, i.e. enough sign-buckets that expected
    * occupancy stays ≤ targetBucket however large the corpus — the
    * production scale knob for [[lshBucket]]-based pair generators
    * (fixed planes leave bucket occupancy ∝ n, so any same-bucket
    * self-join goes quadratic in the second decade of scale; the
    * round-9 100× probe OOM'd qO9 exactly that way). Pure integer
    * rule, so a SQL oracle replays it exactly:
    *
    * {{{ SELECT min(range) AS k FROM range(1,31)
    *     WHERE (1 << range) * 64 >= (SELECT count(*) FROM t) }}}
    *
    * n is a bounded driver artifact (one count), like the codebooks
    * and cut-point frames. targetBucket=64 reproduces the historical
    * planes=3 at the 500-vector fixture, so correctness rows are
    * unchanged while 100× corpora get 2^12+ buckets.
    */
  def adaptivePlanes(n: Long, targetBucket: Int = 64): Int = {
    var k = 1
    while (k < 30 && (1L << k) * targetBucket < n) k += 1
    k
  }

  /** Corpus-adaptive every-Kth-id codebook stride — [[adaptivePlanes]]'
    * sibling for the IVF/k-means/PQ "every 73rd/97th id is a seed"
    * rules: a FIXED stride leaves |codebook| ∝ n, which both inflates
    * the O(n·|codebook|) assignment pass toward O(n²/stride) and (for
    * the PQ lookup tables, built as per-codeword literal expressions)
    * blows up the compiled plan — the round-12 sf10 probe measured
    * qE5 melting on exactly this. `max(base, ⌈n/maxSeeds⌉)` keeps the
    * codebook ≤ maxSeeds at any corpus size and reproduces the
    * historical stride at fixture scale (n ≤ base·maxSeeds), so
    * correctness rows are bit-unchanged. Integer-exact; the DuckDB
    * oracles replay it as
    * `greatest(base, CAST(ceil(count(*)/maxSeeds.0) AS BIGINT))`.
    */
  def adaptiveEvery(n: Long, base: Int = 73, maxSeeds: Int = 512): Int =
    math.max(base, math.ceil(n.toDouble / maxSeeds).toInt)

  /** Sign-bucket of a vector under `planes` hyperplanes: bit j is set iff
    * Σ_i v[i]·w(j,i) > 0.
    */
  def lshBucket(vec: Column, planes: Int): Column =
    (0 until planes).map { j =>
      when(aggregate(
        transform(vec, (x, i) => x * planeWeight(lit(j), i)),
        lit(0.0d), (acc, v) => acc + v) > 0,
        lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed ANN: queries only score candidates in their own bucket.
    * Output: q_id, cand_id, cosine, rank (per-query top-k within bucket).
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column, planes: Int, k: Int): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val base = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bucket", lshBucket(col("v"), planes))
    val queries = base.filter(isQuery)
      .select(col("vid").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb"))
    val scored = base.as("c")
      .join(broadcast(queries),
        col("qb") === col("bucket") && col("q_id") =!= col("vid"))
      .select(col("q_id"), col("vid").as("cand_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for embedding/contrastive training: for each
    * anchor vector, the k most-similar candidates whose LABEL differs —
    * the highest-loss negatives a triplet/InfoNCE trainer wants. Same
    * plan as [[bruteForceTopK]] (anchors broadcast — bounded by the
    * isAnchor predicate by design — corpus streams, per-anchor top-k
    * window over the scored candidates), plus the label-mismatch
    * predicate pushed into the join so same-label pairs never
    * materialize. The LSH-bucketed variant for 100 TB is the same
    * substitution [[lshTopK]] makes for [[bruteForceTopK]]: bucket both
    * sides, join on the bucket key.
    * Output: q_id, label_q, cand_id, label_c, cosine, rank.
    *
    * NULL labels follow SQL `!=` semantics BY CONTRACT: a null-labeled
    * candidate never qualifies as a hard negative and a null-labeled
    * anchor yields no rows (null != x is null, filtered). This matches
    * the declared query's SQL oracle exactly; callers mining from
    * semi-supervised corpora should filter or impute labels first —
    * a null-safe "different" here would silently diverge from every
    * SQL consumer of the same definition.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, isAnchor: Column, k: Int): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val base = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"),
        col(labelCol).as("lbl"))
      .withColumn("nrm", norm(col("v")))
    val anchors = base.filter(isAnchor)
      .select(col("vid").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("lbl").as("label_q"))
    val scored = base.as("c")
      .join(broadcast(anchors),
        col("q_id") =!= col("vid") && col("label_q") =!= col("lbl"))
      .select(col("q_id"), col("label_q"), col("vid").as("cand_id"),
        col("lbl").as("label_c"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: partition the corpus into cells around
    * centroid vectors, then search only the query's own cell — the
    * coarse-quantization path every billion-vector index uses. Centroids
    * here are picked deterministically (every `centroidEvery`-th id) so
    * the assignment is reproducible cross-engine; a production index
    * would train them with k-means and broadcast the (small) codebook
    * exactly the same way.
    *
    * Cell assignment: argmin over centroids of squared L2, tie-broken by
    * centroid id. The codebook is collected once on the driver (it is
    * small by construction — a production index trains thousands of
    * centroids for billions of vectors) and ships to executors inside the
    * codegen'd `argmin_cell` kernel, so assignment is a pure per-row
    * projection: the cell subtree plans exactly once, and the corpus is
    * never shuffled or nested-loop-joined. Output: q_id, cand_id, cosine,
    * rank (top-k within cell).
    */
  /** (vid, v, nrm, cell) for the whole corpus: cell = argmin-L2 centroid
    * over the deterministic every-`centroidEvery`-th-id codebook.
    *
    * The one driver-side collect — the IVF "train then broadcast the
    * codebook" step — is HARD-BOUNDED at `maxCentroids` rows: the
    * candidate set is counted, the thinning stride derived, and every
    * stride-th candidate (vid-ascending ordinals, the same selection a
    * driver-side thin produced) picked EXECUTOR-side before anything is
    * collected. A fixed `centroidEvery` at 100 TB grows the candidate
    * set linearly, but only ≤ maxCentroids full vectors ever reach the
    * driver. Default 4096 × 64 dims × 8 B ≈ 2 MB shipped.
    */
  private final case class CellAssignment(cells: DataFrame,
      cids: Array[Long], vecs: Array[Array[Double]], cn2s: Array[Double])

  /** The frame whose rows become the codebook: every stride-th row of
    * `cands` in vid-ascending ordinal order, stride = ceil(n /
    * maxCentroids) — ≤ maxCentroids rows by construction
    * (ceil(n/ceil(n/m)) ≤ m). `cands` must carry a unique long `vid`
    * first; payload columns pass through untouched.
    *
    * Ordinal (not vid-modulo) selection is what the codebook contract
    * promises — candidate ids need not be dense — and the ranking uses
    * the [[Order.globalIndex]] two-phase shape rather than a global
    * window (which would funnel every candidate id through ONE task —
    * the melt class the empty-partition-window lint exists to block,
    * merely hidden in a build-time job): the vid RANGE is value-bucketed
    * into order-preserving blocks (deterministic arithmetic, no
    * sampling), the ≤1025 per-block counts are collected and
    * prefix-summed DRIVER-side (bounded by construction — this collect
    * replaces the old single-task window job over the same tiny frame),
    * and each block ranks its own ids in parallel against its
    * broadcast offset. The ≤ maxCentroids surviving ids then
    * broadcast-join back to the full-vector payload. Package-visible so
    * the spec can assert the collected-row bound directly.
    *
    * Value-skew rescue (VERDICT r16 #5): blocks split the id VALUE
    * range, so an adversarial id distribution (a narrow dense cluster
    * inside a huge outlier span) would collapse the in-block rank
    * toward one task over the candidate SET. The per-block counts are
    * a ≤1025-row bounded collect anyway (they drive the offsets), so
    * skew DETECTION is free: when one uniform block holds more than
    * 1/32 of the candidates (and enough rows for single-task ranking
    * to matter — `rebalanceFloor`), the split switches to
    * approxQuantile cut points over vid — one extra narrow-column pass,
    * paid only in the detected regime — and the ordinals stay EXACT
    * under any monotone bucketing (within-block rank by vid + block
    * offset = global vid rank). The degradation and the switch are
    * logged with numbers either way.
    */
  private[graft] final case class BlockPlan(ids: DataFrame,
      counts: Seq[(Long, Long)], rebalanced: Boolean)

  /** Order-preserving `__blk` assignment over `cands.vid` plus the
    * per-block counts (bounded: ≤1025 uniform blocks / ≤1024 quantile
    * buckets), switching to count-balanced quantile blocks when the
    * uniform value-range split is skew-collapsed. Package-visible so
    * the spec can assert the rebalance fires (and balances) on an
    * adversarial id set without going through a full codebook build.
    *
    * PRECONDITION (as for every codebook input): `cands` must be
    * re-execution-deterministic — the counts job and the later ranking
    * job evaluate the lineage independently (true of the previous
    * window shape too, whose groupBy and join branches each scanned
    * the lineage), so a non-deterministic candidate filter (sampling,
    * ties off a shuffle) could mis-align offsets with blocks. Codebook
    * candidates are `pmod(vid, centroidEvery) === 0` filters over a
    * stored corpus, which is deterministic by construction. `vid` must
    * also be NON-NULL (true of stored ids): a null vid would null its
    * `__blk` on either path and fail the counts collect loudly.
    */
  private[graft] def planBlocks(cands: DataFrame, n: Long, lo: Long,
      hi: Long, rebalanceFloor: Long = 1L << 20): BlockPlan = {
    def blockCounts(ids: DataFrame): Seq[(Long, Long)] =
      ids.groupBy("__blk").agg(count(lit(1)).as("bn"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq
    val width = math.max(1L, (hi - lo) / 1024 + 1)
    val uniform = cands.select(col("vid")).withColumn("__blk",
      ((col("vid") - lo) / width).cast("long"))
    val cnts = blockCounts(uniform)
    val maxBn = cnts.map(_._2).max
    if (maxBn <= math.max(n / 32, rebalanceFloor)) {
      // below the floor the single-task rank is trivial, but the
      // scaladoc promises the degradation is VISIBLE with numbers
      // either way — an operator watching for skew must not need the
      // package-private counts to see it
      if (maxBn > n / 32 && n > 32)
        System.err.println(s"[codebook] value-skewed vid space below " +
          s"the rebalance floor: largest uniform block holds $maxBn of " +
          s"$n candidates (floor $rebalanceFloor) — in-block ranking " +
          "runs single-task at this size, which is cheap; the quantile " +
          "rescue engages past the floor")
      BlockPlan(uniform, cnts, rebalanced = false)
    } else {
      // detected: one uniform block would rank maxBn of n candidates in
      // a single task — rebucket on quantile cut points instead
      System.err.println(s"[codebook] value-skewed vid space: largest " +
        s"uniform block holds $maxBn of $n candidates — switching to " +
        "approxQuantile-balanced blocks (one extra vid pass)")
      val probs = (1 to 1023).map(_ / 1024.0).toArray
      val cuts = cands.stat.approxQuantile("vid", probs, 0.001)
        .map(_.toLong).distinct.sorted.toSeq
      // __blk = #cuts <= vid: monotone in vid (order-preserving).
      // cuts_bucket is an upper-bound BINARY search (native codegen
      // expression) — the r17 shape computed the same count with a
      // linear HOF filter over the ≤1023-long literal, 1023
      // comparisons per row, which the r18 rescue probe (SCALE.md)
      // measured as the dominant rescue cost (3.5-3.9x the collapsed
      // path it rescues at 2^22-2^24); log-time bucketing makes the
      // rescue pay what the scaladoc claims: ~the quantile pass
      graft.functions.GraftFunctions.registerAll(cands.sparkSession)
      val balanced = cands.select(col("vid")).withColumn("__blk",
        call_function("cuts_bucket", col("vid"),
          typedlit(cuts)).cast("long"))
      BlockPlan(balanced, blockCounts(balanced), rebalanced = true)
    }
  }

  /** The candidates at every `stride`-th vid-order position, stride =
    * ceil(n / maxCentroids), so at most `maxCentroids` rows survive.
    */
  private[graft] def codebookKept(cands: DataFrame,
      maxCentroids: Int): DataFrame = {
    // one candidate-frame pass serves the whole decision: count (for
    // the stride) and min/max (for the block width) in a single
    // aggregate — the candidate frame is itself a full-corpus filter,
    // so a second scan would double the codebook build's read
    val stats = cands.agg(count(lit(1)).as("n"),
      min(col("vid")).as("lo"), max(col("vid")).as("hi")).collect()(0)
    val n = stats.getLong(0)
    // stride stays a Long end-to-end: the old Int truncation silently
    // produced a wrong (even negative) stride above ~2^31·maxCentroids
    // candidates instead of failing loudly (ADVICE r16)
    val stride = (n + maxCentroids - 1) / maxCentroids
    if (stride <= 1L) cands
    else {
      val (lo, hi) = (stats.getLong(1), stats.getLong(2))
      // (hi - lo) overflows only when the id space spans more than 2^63
      // (a hugely negative AND hugely positive id in one corpus); block
      // arithmetic would silently mis-bucket, so refuse loudly instead
      require(hi - lo >= 0,
        s"vid range [$lo, $hi] spans more than 2^63 — " +
          "re-id the corpus before codebook selection")
      val plan = planBlocks(cands, n, lo, hi)
      // block offsets: a prefix sum over the ≤1025 collected counts —
      // driver-side arithmetic replaces the old single-task
      // Window.orderBy prefix-sum job over the same tiny frame
      var acc = 0L
      val offsets = plan.counts.map { case (blk, bn) =>
        val o = (blk, acc); acc += bn; o }
      val ss = cands.sparkSession
      import ss.implicits._
      val offs = offsets.toDF("__blk", "boff")
      val wIn = Window.partitionBy("__blk").orderBy("vid")
      val kept = plan.ids.join(broadcast(offs), "__blk")
        .withColumn("__ord",
          col("boff") + row_number().over(wIn).cast("long") - 1L)
        .filter(pmod(col("__ord"), lit(stride)) === 0)
        .select(col("vid"))
      cands.join(broadcast(kept), Seq("vid"))
    }
  }

  /** Count → stride → executor-side thin → collect ≤ maxCentroids rows;
    * driver-sorted by vid (the collect arrives in join order).
    */
  private def selectCodebook(cands: DataFrame, maxCentroids: Int,
      emptyMsg: => String): Array[org.apache.spark.sql.Row] = {
    val rows = codebookKept(cands, maxCentroids).collect()
    require(rows.nonEmpty, emptyMsg)
    rows.sortBy(_.getLong(0))
  }

  private def assignCellsWithCodebook(df: DataFrame, idCol: String,
      vecCol: String, centroidEvery: Int,
      maxCentroids: Int): CellAssignment = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val base = df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val centRows = selectCodebook(
      base.filter(pmod(col("vid"), lit(centroidEvery)) === 0)
        .select(col("vid").cast("long"), col("v"),
          (col("nrm") * col("nrm")).as("cn2")),
      maxCentroids,
      s"no centroid ids divisible by $centroidEvery — empty codebook")
    val cids = centRows.map(_.getLong(0))
    val vecs = centRows.map(_.getSeq[Double](1).toArray)
    val cn2s = centRows.map(_.getDouble(2))
    CellAssignment(
      base.withColumn("cell",
        graft.functions.GraftFunctions.argminCell(col("v"), col("nrm"),
          cids, vecs, cn2s)),
      cids, vecs, cn2s)
  }

  private def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, maxCentroids: Int): DataFrame =
    assignCellsWithCodebook(df, idCol, vecCol, centroidEvery,
      maxCentroids).cells

  /** Simplified (centroid-based) silhouette — clustering-quality eval
    * for the k-means/IVF cells: per point, a = distance to its own
    * centroid, b = distance to the nearest OTHER centroid,
    * s = (b−a)/max(a,b) ∈ [−1, 1]; reported as per-cluster means. The
    * full silhouette needs all pairwise point distances (O(n²)); the
    * simplified form is the standard scale substitute (Hruschka et
    * al.) — O(n·k) distances against a broadcast centroid table, a
    * per-point window over ≤ k rows, one aggregate.
    *
    * Same deterministic seed-codebook contract as [[ivfTopK]]
    * (centroids = every `centroidEvery`-th id). Distances clamp at 0
    * before sqrt (FP cancellation can push d² a ulp negative) — the
    * oracle clamps identically.
    *
    * Output per cluster: cell, n, mean_sil (4 dp).
    */
  def simplifiedSilhouette(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, maxCentroids: Int = 4096): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    import graft.functions.GraftFunctions.vecDot
    val base = df.select(col(idCol).cast("long").as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .withColumn("n2", col("nrm") * col("nrm"))
    // same maxCentroids ordinal-thinning as the IVF codebook: the
    // broadcast side of the n×k distance join stays bounded at any
    // corpus size instead of growing as |corpus|/centroidEvery (below
    // the cap codebookKept is the identity, so the plan — and the
    // every-Nth oracle contract — is unchanged)
    val cents = codebookKept(
      base.filter(pmod(col("vid"), lit(centroidEvery)) === 0)
        .select(col("vid").cast("long"), col("v"), col("n2")),
      maxCentroids)
      .select(col("vid").as("cid"), col("v").as("cv"),
        col("n2").as("cn2"))
    val d2 = base.crossJoin(broadcast(cents))
      .select(col("vid"), col("cid"),
        (col("n2") - lit(2.0) * vecDot(col("v"), col("cv")) +
          col("cn2")).as("d2"))
    val w = Window.partitionBy("vid").orderBy(col("d2"), col("cid"))
    val top2 = d2.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("vid")
      .agg(min(when(col("rn") === 1, col("cid"))).as("cell"),
        min(when(col("rn") === 1, col("d2"))).as("da2"),
        min(when(col("rn") === 2, col("d2"))).as("db2"))
    val da = sqrt(greatest(col("da2"), lit(0.0)))
    val db = sqrt(greatest(col("db2"), lit(0.0)))
    val sil = when(greatest(da, db) === 0.0, lit(0.0))
      .otherwise((db - da) / greatest(da, db))
    top2.withColumn("sil", sil)
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        (floor(avg(col("sil")) * 10000.0 + 0.5) / 10000.0)
          .as("mean_sil"))
  }

  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column, centroidEvery: Int, k: Int,
      maxCentroids: Int = 4096): DataFrame = {
    val cells = assignCells(df, idCol, vecCol, centroidEvery, maxCentroids)
    val queries = cells.filter(isQuery)
      .select(col("vid").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("qcell"))
    val scored = cells.as("c")
      .join(broadcast(queries),
        col("qcell") === col("cell") && col("q_id") =!= col("vid"))
      .select(col("q_id"), col("vid").as("cand_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Multi-probe IVF: each query searches its `nProbe` NEAREST cells
    * instead of only its own — the standard recall lever of a
    * production IVF index (a query near a cell boundary misses true
    * neighbors parked one cell over; probing 2-4 cells recovers most of
    * them for a proportional, still corpus-fraction, scan cost).
    *
    * Scale shape: corpus assignment is the same zero-shuffle kernel
    * projection; the probe ranking runs only on the QUERY side — the
    * query set explodes against the broadcast codebook (|queries| ×
    * |codebook| rows, both bounded) and keeps the nProbe least-distance
    * cells; candidates then join probes on the cell key with the
    * probe side broadcast. The corpus is still touched once.
    */
  def ivfTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column, centroidEvery: Int, k: Int, nProbe: Int,
      maxCentroids: Int = 4096): DataFrame = {
    val a = assignCellsWithCodebook(df, idCol, vecCol, centroidEvery,
      maxCentroids)
    val spark = df.sparkSession
    import spark.implicits._
    val codebook = a.cids.indices
      .map(j => (a.cids(j), a.vecs(j).toSeq, a.cn2s(j)))
      .toDF("cid", "cv", "cn2")
    val queries = a.cells.filter(isQuery)
      .select(col("vid").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    // probe ranking: queries × codebook (both sides bounded)
    val pw = Window.partitionBy("q_id")
      .orderBy(col("d2").asc, col("cid").asc)
    val probes = queries.crossJoin(broadcast(codebook))
      .select(col("q_id"), col("qv"), col("qn"), col("cid"),
        (col("qn") * col("qn") - lit(2.0) * dot(col("qv"), col("cv")) +
          col("cn2")).as("d2"))
      .withColumn("probe_rank", row_number().over(pw))
      .filter(col("probe_rank") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("cid").as("pcell"))
    val scored = a.cells.as("c")
      .join(broadcast(probes), col("pcell") === col("c.cell") &&
        col("q_id") =!= col("vid"))
      .select(col("q_id"), col("vid").as("cand_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
      // a candidate can sit in two probed cells of the same query only
      // if cells collide — they cannot (cell is a function of the
      // candidate), so no dedup is needed before ranking
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ: the production-ANN memory path (Jégou, Douze, Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
    * the corpus is stored as `subspaces` small centroid ORDINALS per
    * vector (bytes, not floats: a 64-dim float vector compresses
    * 64× at 4 codes), the coarse IVF cell prunes the candidate set,
    * and query↔candidate distance is ASYMMETRIC: the query computes one
    * lookup table per subspace (distance to every sub-centroid — a
    * bounded |codebook| computation), then each candidate's distance is
    * `subspaces` array lookups over its codes. No candidate vector is
    * ever touched at query time.
    *
    * Scale shape: both codebooks are driver-bounded broadcast objects;
    * encoding is a zero-shuffle per-row kernel projection (same
    * [[graft.functions.Codebook]] argmin as IVF, run per subspace
    * slice); the only join is candidates↔broadcast-queries on the
    * coarse cell key. At 100 TB the encoded corpus (cell + S longs per
    * vector) is what a query scan reads — the raw embeddings are cold
    * storage.
    *
    * Determinism: sub-centroid seeds are every `pqEvery`-th id
    * (ascending-vid ordinals), all distances use the d2 = |q|² − 2·q·c
    * + |c|² form with left-to-right summation, ties break to the
    * smallest ordinal/candidate — bit-reproducible in the oracle.
    *
    * Output: q_id, cand_id, adc (approximate squared L2), rank.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      isQuery: Column, centroidEvery: Int, pqEvery: Int,
      subspaces: Int, k: Int, maxCentroids: Int = 4096): DataFrame = {
    val a = assignCellsWithCodebook(df, idCol, vecCol, centroidEvery,
      maxCentroids)
    val dim = a.vecs(0).length
    require(subspaces >= 1 && dim % subspaces == 0,
      s"dim $dim must split evenly into $subspaces subspaces")
    val m = dim / subspaces
    // same hard cap as the coarse codebook, applied BEFORE the collect:
    // a fixed pqEvery on a 100x corpus would otherwise grow the
    // sub-codebooks, the per-codeword LUT literals in the compiled plan
    // (the exact melt the adaptiveEvery scaladoc records), AND the
    // driver collect itself without bound. Executor-side ordinal
    // thinning (selectCodebook) keeps results bit-reproducible and the
    // collect ≤ maxCentroids rows; below maxCentroids seeds the stride
    // is 1 and nothing changes.
    val seeds = selectCodebook(
      a.cells.filter(pmod(col("vid"), lit(pqEvery)) === 0)
        .select(col("vid").cast("long"), col("v")),
      maxCentroids,
      s"no PQ seed ids divisible by $pqEvery — empty sub-codebooks")
    val seedVecs = seeds.map(_.getSeq[Double](1).toArray)
    val ords = seedVecs.indices.map(_.toLong).toArray
    // per-subspace sub-codebooks (ordinal ids -> argmin returns the
    // LUT index directly)
    val subVs: Array[Array[Array[Double]]] = Array.tabulate(subspaces) {
      s => seedVecs.map(v =>
        java.util.Arrays.copyOfRange(v, s * m, (s + 1) * m))
    }
    val subN2: Array[Array[Double]] = subVs.map(_.map { sv =>
      var t = 0.0d; var i = 0
      while (i < sv.length) { t += sv(i) * sv(i); i += 1 }
      t
    })
    val encoded = (0 until subspaces).foldLeft(a.cells) { (acc, s) =>
      val vs = slice(col("v"), s * m + 1, m)
      acc.withColumn(s"__pq$s", graft.functions.GraftFunctions
        .argminCell(vs, norm(vs), ords, subVs(s), subN2(s)))
    }
    val corpus = encoded.select(
      (col("vid") +: col("cell") +:
        (0 until subspaces).map(s => col(s"__pq$s"))): _*)
    val queries = (0 until subspaces).foldLeft(
      encoded.filter(isQuery).select(col("vid").as("q_id"),
        col("v").as("qv"), col("cell").as("qcell"))) { (acc, s) =>
      val qs = slice(col("qv"), s * m + 1, m)
      val qn = norm(qs)
      acc.withColumn(s"__lut$s", array(seedVecs.indices.map { j =>
        qn * qn - lit(2.0) * dot(qs, lit(subVs(s)(j))) +
          lit(subN2(s)(j))
      }: _*))
    }.drop("qv")
    val adc = (0 until subspaces).map(s =>
      element_at(col(s"__lut$s"), (col(s"__pq$s") + 1).cast("int")))
      .reduce(_ + _)
    val scored = corpus
      .join(broadcast(queries),
        col("qcell") === col("cell") && col("q_id") =!= col("vid"))
      .select(col("q_id"), col("vid").as("cand_id"), adc.as("adc"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cand_id"), col("adc"), col("rank"))
  }

  /** One Lloyd (k-means) refinement step over the IVF codebook: assign
    * every vector to its nearest current centroid (the per-row argmin
    * kernel — zero shuffles), then recompute each cell's centroid as the
    * member mean (VecAgg partial-aggregated buffers — one O(cells)
    * shuffle). Iterating this is exactly how a production IVF index
    * trains its codebook; each step is two narrow passes at any scale.
    *
    * Output: cell, centroid (array<double>), n_members.
    */
  def kmeansStep(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, dim: Int,
      maxCentroids: Int = 4096): DataFrame = {
    val cells = assignCells(df, idCol, vecCol, centroidEvery, maxCentroids)
    VecAgg.meanPool(cells.select(col("cell"), col("v")), "cell", "v", dim)
  }

  /** Full Lloyd training loop: `iterations` rounds of (argmin assign →
    * per-cell mean → re-embed the codebook). Each round is the same two
    * narrow passes as [[kmeansStep]] — a zero-shuffle kernel projection
    * plus one O(cells) partial-aggregated shuffle; the codebook
    * round-trips through the driver between rounds (bounded at
    * `maxCentroids`, the same transport invariant as [[ivfTopK]]).
    *
    * Determinism: refreshed centroid coordinates are fixed-pointed to
    * 1e-9 before re-embedding (the [[Graph.pageRank]] convention), and
    * their norm-squares recompute from the ROUNDED coords in ascending
    * dim order — so the next round's distance comparisons run on
    * bit-identical inputs in any engine. Cells that lose all members
    * drop out (standard Lloyd); labels stay the founding centroid ids.
    *
    * Output: cell, centroid (array<double>), n_members after the final
    * round.
    */
  def kmeansTrain(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Int, dim: Int, iterations: Int,
      maxCentroids: Int = 4096): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val base = graft.plans.Fence.corpus(
      df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
        .withColumn("nrm", norm(col("v"))),
      "kmeans_base") // embedded once, re-read per round as a file scan
    // founding codebook via the shared IVF selection (count → stride →
    // executor-side ordinal thin → collect ≤ maxCentroids rows); the
    // fenced base makes the count + thin passes plain file re-scans.
    // base already carries (vid, double v, nrm), so the helper's
    // re-derivation is a bit-exact no-op projection over the fence.
    val seed = assignCellsWithCodebook(base, "vid", "v", centroidEvery,
      maxCentroids)
    var cids = seed.cids
    var vecs = seed.vecs
    var cn2s = seed.cn2s

    def assignAndPool(): DataFrame = {
      val cells = base.withColumn("cell",
        graft.functions.GraftFunctions.argminCell(col("v"), col("nrm"),
          cids, vecs, cn2s))
      VecAgg.meanPool(cells.select(col("cell"), col("v")), "cell", "v", dim)
    }

    var round = 1
    var means = assignAndPool()
    while (round < iterations) {
      val refreshed = means.collect().sortBy(_.getLong(0))
      cids = refreshed.map(_.getLong(0))
      vecs = refreshed.map(_.getSeq[Double](1).toArray
        .map(x => math.floor(x * 1e9 + 0.5) / 1e9))
      cn2s = vecs.map { v =>
        var s = 0.0d; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        s
      }
      means = assignAndPool()
      round += 1
    }
    means
  }

  /** All-pairs term-frequency cosine over SPARSE text vectors via the
    * inverted index — the classic similarity-join for bag-of-words
    * representations (cf. Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07). Dense-embedding cosine
    * ([[bruteForceTopK]]/[[lshTopK]]) scores every dimension; here a
    * pair is scored ONLY on shared terms, so the join fans out by
    * posting list, not by |corpus|².
    *
    * Numeric determinism: the pair dot product is an exact INTEGER sum
    * (tf_a·tf_b over shared terms — summation order irrelevant), and
    * the per-doc norms are square roots of exact integer sums, so the
    * final cosine is the same IEEE double in any engine. No
    * accumulation-order drift, unlike a naive float-weight sum.
    *
    * Scale shape: one (doc,term) groupBy for tf, one doc groupBy for
    * norms, posting-list self-join pinned to shuffle-hash (both sides
    * corpus-sized — an AQE broadcast would OOM), `maxPosting` drops
    * stopword-grade terms whose |posting|² pair blow-up dominates cost
    * while contributing least signal (default ∞ for oracle parity).
    * Norms join back on the doc key — the pair table's partitioning is
    * reused for doc_a; doc_b's side is one more hash exchange.
    *
    * Output: doc_a < doc_b, dotp (exact), cosine ≥ threshold.
    */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxPosting: Int = Int.MaxValue): DataFrame = {
    import graft.functions.TextOps
    val tf0 = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // fence: tf feeds both posting sides AND the norms — unfenced, the
    // scan→explode→groupBy pipeline re-evaluates once per consumer
    // (audited: 8 scans / 24 exchanges in the declared query's plan).
    // Under maxPosting, tf0 itself has TWO consumers (the hot-term
    // aggregate and the anti-join's probe side), so it gets its own
    // fence first — otherwise the full tokenize pass runs twice
    // (review find).
    val tf1 =
      if (maxPosting == Int.MaxValue) tf0
      else {
        val tfR = graft.plans.Fence.corpus(tf0, "cosine_tf_raw")
        val hot = tfR.groupBy("tok").agg(count(lit(1)).as("posting_n"))
          .filter(col("posting_n") > maxPosting)
        tfR.join(hot, Seq("tok"), "left_anti")
      }
    val tf = graft.plans.Fence.corpus(tf1, "cosine_tf")
    // keep the exact integer norm-square; the pair cosine divides by
    // sqrt(n2_a * n2_b) in ONE square root so identical vectors come
    // out exactly 1.0 (sqrt(x)*sqrt(x) != x in floating point)
    val norms = tf.groupBy("doc_id")
      .agg(sum(col("tf") * col("tf")).as("n2"))
      .hint("shuffle_hash")
    val postings = tf.hint("shuffle_hash")
    val pairs = postings.as("x")
      .join(postings.as("y"),
        col("x.tok") === col("y.tok") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(sum(col("x.tf") * col("y.tf")).as("dotp"))
    pairs
      .join(norms.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n2", "n2_a"), Seq("doc_a"))
      .join(norms.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n2", "n2_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("dotp"),
        (col("dotp").cast("double") /
          sqrt(col("n2_a").cast("double") * col("n2_b").cast("double")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Probe-restricted sparse BoW cosine top-k: rank the corpus against
    * each probe doc's token-frequency vector — the lexical leg of a
    * hybrid retrieval stack (fuse with `bruteForceTopK`/`ivfTopK` via
    * `Fusion.rrf`).
    *
    * Same integer-exact arithmetic as `sparseCosinePairs` (integer dot
    * and norm-squares, ONE double division + sqrt at the end), but a
    * different scale shape: the probe side is |probes| docs, so its
    * postings BROADCAST and the corpus is scored with one tf groupBy +
    * one broadcast join — no corpus-sized self-join, no second corpus
    * shuffle. `isQuery` is a predicate over the `doc_id` column.
    *
    * Output: q_id, cand_id, cosine, rank (per-probe top-k; ties break
    * on cand_id).
    */
  def sparseCosineTopK(df: DataFrame, idCol: String, textCol: String,
      isQuery: Column, k: Int): DataFrame = {
    import graft.functions.TextOps
    val tfq0 = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // fence: tf feeds the corpus side, the probe side, and the norms
    val tf = graft.plans.Fence.corpus(tfq0, "cosine_topk_tf")
    val norms = tf.groupBy("doc_id")
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val qtf = tf.filter(isQuery)
      .select(col("doc_id").as("q_id"), col("tok"), col("tf").as("qtf"))
    val qnorms = norms.filter(isQuery)
      .select(col("doc_id").as("q_id"), col("n2").as("n2_q"))
    val dots = tf.join(broadcast(qtf), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("tf") * col("qtf")).as("dotp"))
    val scored = dots
      .join(broadcast(qnorms), Seq("q_id"))
      .join(norms, Seq("doc_id"))
      .select(col("q_id"), col("doc_id").as("cand_id"),
        (col("dotp").cast("double") /
          sqrt(col("n2_q").cast("double") * col("n2").cast("double")))
          .as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
