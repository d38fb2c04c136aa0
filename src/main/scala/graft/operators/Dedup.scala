package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.{GraftFunctions, TextOps}
import graft.plans.Fence

/** Document deduplication suite for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale notes (the 100 TB contract):
  *   - exact dedup is one hash-shuffle on a 16-byte key — the cheapest op
  *     in the suite; Catalyst partial-aggregates the counts map-side.
  *   - n-gram Jaccard's shingle self-join is quadratic in the worst case;
  *     it is the *verify* step, not the *candidate* step. At scale,
  *     candidates come from MinHash LSH buckets (`minhashLshPairs`), so
  *     the join fan-out is bounded by band-bucket sizes, and hot buckets
  *     (boilerplate shingles) should be capped — see `maxBucket`.
  *   - all signature math is built-in HOFs over arrays (codegen'd), no
  *     UDFs, no driver-side loops; everything is a single distributed
  *     pass + bounded joins.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id.
    * Output: text_hash, keep_id, dup_cnt.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Distinct word-n-gram shingle sets per doc: (id, shingle_hashes),
    * ASCENDING-sorted. Uses the codegen'd single-pass kernel; semantics
    * identical to TextOps.shingleHashSet (asserted by FunctionsSpec),
    * whose output order is unobservable downstream (set ops and the
    * order-invariant MinHash min). Sorting ONCE here — per document, at
    * scan time — lets every pair-verification stage count intersections
    * with the zero-allocation sorted-merge kernel instead of a per-PAIR
    * array_intersect hash set, and gives the prefix join its global
    * token order for free.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int, extra: Seq[String] = Nil): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    df.select(col(idCol).as("doc_id") +:
        array_sort(GraftFunctions.shingleHashSet(
          TextOps.tokens(col(textCol)), n)).as("sh") +: extra.map(col): _*)
      .filter(size(col("sh")) > 0)
  }

  /** Exact n-gram Jaccard near-dup pairs via shingle inverted index:
    * explode shingles → self-join on shingle → count common → Jaccard.
    *
    * `maxPosting` is the hot-shingle guard (the analog of
    * `minhashLshPairs.maxBucket`): a boilerplate shingle shared by a
    * million docs is a 10¹²-pair blow-up in the self-join, so postings
    * lists longer than the cap are dropped before pairing. Common (high
    * document-frequency) shingles carry no near-dup signal anyway —
    * dropping them under-counts `common` slightly, the same
    * approximation the LSH bucket cap makes. `Int.MaxValue` (the
    * default) disables the cap for exact-parity runs.
    *
    * Output: doc_a, doc_b, jaccard (≥ threshold).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxPosting: Int = Int.MaxValue): DataFrame = {
    // same scoped id-keyed floor as bandRowsOf: the shingle-hash map
    // stage of the inverted index is CPU-dense single-core work on a
    // single-split scan (guide §2.5; no-op at scale)
    val sets = shingleSets(
      graft.plans.Parallel.cpuFloor(df, idCol), idCol, textCol, n)
    // Carry the set size through the explode: the Jaccard denominator then
    // falls out of the pair aggregation directly — no back-joins against
    // the corpus (which would re-shingle it twice).
    // shuffle_hash: left alone, AQE broadcasts the exploded inverted
    // index (its size estimate fits locally) — a hash relation of the
    // ENTIRE corpus index, which at 100 TB is an OOM, and measured
    // 1.5-2x slower than the shuffle even at sf0.1. Shuffling on the
    // shingle is the partitioning the pair aggregation wants anyway.
    val inv0 = sets.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val pruned =
      if (maxPosting == Int.MaxValue) inv0
      else {
        val hot = inv0.groupBy("shingle")
          .agg(count(lit(1)).as("posting_n"))
          .filter(col("posting_n") > maxPosting)
        inv0.join(hot, Seq("shingle"), "left_anti")
      }
    val inv = pruned.hint("shuffle_hash")
    inv.as("x")
      .join(inv.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"),
        first(col("x.sz")).as("sa"), first(col("y.sz")).as("sb"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("sa") + col("sb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT Jaccard pairs via PREFIX FILTERING (Bayardo et al., "Scaling
    * Up All Pairs Similarity Search", WWW'07; the ppjoin family) — the
    * third pruning strategy next to the heuristic `maxPosting` cap and
    * the probabilistic MinHash buckets, and the only one that prunes
    * while staying EXACTLY equal to the all-pairs result: two sets with
    * J ≥ t must share a token within their (|x| − ⌈t·|x|⌉ + 1)-length
    * prefixes under any fixed global token order, so only prefix
    * tokens are indexed. The theorem holds for ANY consistent order —
    * which order you pick decides whether the operator SURVIVES a
    * boilerplate-heavy corpus:
    *
    *   - `dfOrdered = true` (DEFAULT): the textbook rare-df-first
    *     order. Costs a df aggregate + join and a per-doc ranking
    *     window, but prefixes hold the LEAST-shared shingles, so a
    *     corpus-wide hot shingle (site boilerplate, license tails)
    *     sorts LAST and falls out of every prefix — its posting list
    *     never self-joins. The round-12 overlapping-boilerplate probe
    *     (SCALE.md): df-order holds exp 0.43/decade over two decades
    *     on a corpus where every doc shares 10 hot shingles, and on
    *     the boilerplate-light bench corpus the extra shuffles cost
    *     ~nothing (2.73 vs 2.76 s at sf0.1) because the same ordering
    *     also shrinks the candidate set.
    *   - `dfOrdered = false`: order by the shingle hash value itself —
    *     a straight `slice` off the already-sorted set array, ZERO
    *     extra shuffles. But value order is a uniform sample, so a hot
    *     shingle lands in ~(1−t) of prefixes and its candidate block
    *     grows ∝ posting²: the same probe melts at exp 0.88 in the
    *     FIRST decade. Only for corpora KNOWN boilerplate-free (e.g.
    *     post-extraction, post-C4 line filtering).
    *
    * Both orders produce the IDENTICAL final pair set (verification is
    * exact); OperatorsSpec asserts their bit-equality to each other
    * and to the all-pairs join.
    *
    * Scale shape (default): prefix slice on the scan, the prefix-only
    * self-join (shuffle-pinned), a size-ratio filter (t·sa ≤ sb ≤
    * sa/t is necessary for J ≥ t), then exact verification on
    * candidates only — set intersection per candidate pair, never per
    * corpus pair.
    *
    * Output: doc_a, doc_b, jaccard (≥ threshold) — bit-identical to
    * [[ngramJaccardPairs]] (OperatorsSpec asserts equality).
    */
  def ngramJaccardPrefixPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      dfOrdered: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "prefix filtering needs a threshold in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // corpus-sized (per-doc shingle sets), read back by three legs
    // (prefix derivation + both verification joins) as pruned scans
    val sets = Fence.corpus(
      shingleSets(df, idCol, textCol, n), "jpp_sets")
    // FP-safe pigeonhole bound: t*sz can round a hair ABOVE the exact
    // rational product (0.1*30 = 3.0000000000000004), inflating the
    // ceil and shortening the prefix below what exactness requires.
    // Subtracting epsilon before ceil only ever LENGTHENS the prefix
    // (more candidates, same exact verification) — conservative-safe.
    def bound(sz: Column): Column =
      sz - ceil(lit(threshold) * sz - lit(1e-6)) + 1
    // Positional (ppjoin) bound inputs: `pos` is the matched token's
    // 0-based rank under the global token order, so sz - pos counts the
    // tokens at-or-after the match. For the FIRST shared token of a pair
    // (shared tokens keep their relative order under one global sort, so
    // "first in x" and "first in y" is the same token) there are no
    // shared tokens before it, hence
    //   overlap ≤ min(sx - px, sy - py),
    // and J ≥ t needs overlap ≥ t/(1+t)·(sx+sy). Each matched row is
    // filtered by its own bound: the first-shared row carries the pair's
    // largest (and valid) bound, so a pair survives iff its valid bound
    // passes — exact, like every prefix-filter here. Cuts the candidate
    // set (and its array_intersect verification allocations) hard: the
    // verify stage is the operator's dominant memory-pressure source.
    val prefix = (if (!dfOrdered) {
      // sh arrives ascending-sorted from shingleSets: the slice IS the
      // value-ordered prefix
      sets.select(col("doc_id"), size(col("sh")).as("sz"),
        posexplode(slice(col("sh"), lit(1),
          bound(size(col("sh"))).cast("int"))).as(Seq("pos", "shingle")))
    } else {
      val inv = sets.select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("shingle"))
      val freq = inv.groupBy("shingle").agg(count(lit(1)).as("df_"))
      // rank rare-df-first per doc; the window partitions on the doc
      // key, so each frame is one doc's |doc| index entries, never a
      // corpus partition. (A collect_list-per-doc restructure was
      // tried and reverted: it halved the exchange count on paper but
      // its per-doc array materialization churned the heap badly
      // enough to show 10-30x wall-time variance in the bench JVM.)
      val w = Window.partitionBy("doc_id")
        .orderBy(col("df_"), col("shingle"))
      // fenced: the prefix frame joins itself (x and y legs) — without
      // the fence the df-aggregate + window chain executes twice
      Fence.corpus(inv.hint("shuffle_hash")
        .join(freq.hint("shuffle_hash"), Seq("shingle"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= bound(col("sz")))
        // rk is 1-based rank under the (df_, shingle) total order — the
        // same 0-based `pos` contract as the value-ordered branch
        .select(col("doc_id"), col("sz"), (col("rk") - 1).as("pos"),
          col("shingle")), "jpp_prefix")
    }).hint("shuffle_hash")
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id") &&
          // size-ratio necessary condition for J >= t, relaxed by the
          // same epsilon so an FP product rounding above the exact
          // rational value can't exclude an exact-boundary pair
          col("y.sz") >= lit(threshold) * col("x.sz") - lit(1e-6) &&
          col("x.sz") >= lit(threshold) * col("y.sz") - lit(1e-6) &&
          // ppjoin positional filter (see `pos` note above)
          least(col("x.sz") - col("x.pos"), col("y.sz") - col("y.pos")) >=
            ceil(lit(threshold / (1.0 + threshold)) *
              (col("x.sz") + col("y.sz")) - lit(1e-6)))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Verification: count the intersection per candidate pair with the
    // zero-allocation two-pointer kernel over the pre-sorted sets —
    // array_intersect would build a hash set + result array per PAIR,
    // the dominant GC load of the whole operator in a shared-JVM bench
    // run.
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        GraftFunctions.sortedIntersectSize(col("sh_a"), col("sh_b"))
          .as("common"),
        size(col("sh_a")).as("sa"), size(col("sh_b")).as("sb"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("sa") + col("sb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT directed containment pairs via PREFIX FILTERING — the
    * [[ngramJaccardPrefixPairs]] treatment for the asymmetric relation
    * of [[containmentPairs]]. Containment C(A→B) = |A∩B|/|A| ≥ t needs
    * overlap ≥ ⌈t·|A|⌉, so by pigeonhole A's value-ordered prefix of
    * length |A| − ⌈t·|A|⌉ + 1 must contain a shared token. Only the
    * CONTAINED side is prefix-sliced: the container side has no size
    * upper bound (that is the point of containment), so B is indexed in
    * full — candidate volume per shingle drops from |posting|² to
    * |prefix-posting| × |posting|, which is what kills the hot-shingle
    * Σp² blow-up (the prefix is an unbiased hash-order sample, so a
    * million-doc boilerplate shingle lands in almost no prefixes at
    * realistic thresholds).
    *
    * Exactness: candidates are a superset of true pairs (pigeonhole +
    * the size filter sb ≥ ⌈t·sa⌉ and the positional filter
    * min(sa−pa, sb−pb) ≥ ⌈t·sa⌉, both necessary conditions — the
    * first-shared-token row always survives, see the `pos` proof in
    * [[ngramJaccardPrefixPairs]]); verification recomputes the exact
    * intersection per candidate. OperatorsSpec asserts bit-equality to
    * [[containmentPairs]].
    *
    * Output: doc_a, doc_b, containment (≥ threshold) — doc_a is the
    * contained (denominator) side.
    */
  def containmentPrefixPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      dfOrdered: Boolean = true): DataFrame =
    containmentPrefixPairsOnSets(
      shingleSets(df, idCol, textCol, n), threshold, dfOrdered)

  /** [[containmentPrefixPairs]] over ALREADY-BUILT shingle sets
    * (doc_id, sh: ascending-sorted distinct hashes — the
    * [[shingleSets]] contract, which both the value-ordered prefix
    * slice and the two-pointer verification kernel rely on) — the
    * entry point for callers that transform the sets before pairing
    * (the inline boilerplate gate [[containmentPrefixPairsDfGated]]).
    */
  private[graft] def containmentPrefixPairsOnSets(rawSets: DataFrame,
      threshold: Double,
      dfOrdered: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "prefix filtering needs a threshold in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sets = Fence.corpus(rawSets, "cpp_sets")
    // same epsilon-guarded ceil as the Jaccard variant: FP rounding may
    // only LENGTHEN the prefix / RELAX the filters, never tighten them
    def need(sz: Column): Column = ceil(lit(threshold) * sz - lit(1e-6))
    // dfOrdered: the same rare-df-first total order as the Jaccard
    // variant — the prefix theorem holds under ANY consistent order,
    // and df-order is the boilerplate-robust choice (a corpus-wide hot
    // shingle is the COMMONEST, so it sorts last and falls out of
    // every prefix; value order samples it into ~(1-t) of prefixes,
    // and its |prefix-posting| x |posting| candidate block grows
    // quadratically with corpus size — the ov-probe melt, SCALE.md).
    // The positional filter compares ranks on BOTH sides, so the full
    // B side must be re-ranked under the same order.
    val ranked = if (dfOrdered) {
      val inv = sets.select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("shingle"))
      val freq = inv.groupBy("shingle").agg(count(lit(1)).as("df_"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("df_"), col("shingle"))
      // fenced: referenced by BOTH join legs — without the fence the
      // df-aggregate + window chain executes once per leg
      Some(Fence.corpus(inv.hint("shuffle_hash")
        .join(freq.hint("shuffle_hash"), Seq("shingle"))
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("sz"), (col("rk") - 1).as("pos"),
          col("shingle")), "cpp_ranked"))
    } else None
    val prefixA = ranked.map(r =>
        r.filter(col("pos") <= col("sz") - need(col("sz"))))
      .getOrElse(
        sets.select(col("doc_id"), size(col("sh")).as("sz"),
          posexplode(slice(col("sh"), lit(1),
            (size(col("sh")) - need(size(col("sh"))) + 1).cast("int")))
            .as(Seq("pos", "shingle"))))
      .hint("shuffle_hash")
    val fullB = ranked.getOrElse(
        sets.select(col("doc_id"), size(col("sh")).as("sz"),
          posexplode(col("sh")).as(Seq("pos", "shingle"))))
      .hint("shuffle_hash")
    val cand = prefixA.as("x")
      .join(fullB.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") =!= col("y.doc_id") &&
          // overlap <= sb, so sb >= ceil(t*sa) is necessary
          col("y.sz") >= need(col("x.sz")) &&
          // positional bound: overlap <= min(sa - pa, sb - pb) for the
          // pair's first shared token (valid there; see Jaccard proof)
          least(col("x.sz") - col("x.pos"), col("y.sz") - col("y.pos")) >=
            need(col("x.sz")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        GraftFunctions.sortedIntersectSize(col("sh_a"), col("sh_b"))
          .as("common"),
        size(col("sh_a")).as("sa"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / col("sa")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** [[containmentPrefixPairs]] behind an INLINE document-frequency
    * boilerplate gate — the raw-web posture for corpora whose shared
    * boilerplate is NOT line-separable (qS0's C4 line gate presumes a
    * "…boilerplate on its own line…" page shape; scraped text often
    * glues the license tail straight into the prose). Shingles whose
    * document frequency exceeds `maxDfFrac` of the corpus are
    * BOILERPLATE BY MEASUREMENT — they carry no pairing signal (they
    * match everything) while inflating true containment AND the
    * prefix-index postings (the ov-melt fuel) — and are dropped from
    * every doc's set before pairing; containment is then computed
    * over the gated sets on both the numerator and the |A|
    * denominator (changed SEMANTICS, not an approximation of the
    * ungated relation — the declared query carries its own oracle).
    *
    * Scale shape: the df statistic is ONE aggregate over the fenced
    * shingle inventory (the same statistic the df-ordered prefix
    * already computes); the hot list is corpus-size-INDEPENDENT —
    * at most Σ|doc| / (maxDfFrac·N) ≈ avg-doc-shingles / maxDfFrac
    * entries (each hot shingle needs df > maxDfFrac·N of the N docs),
    * so it broadcasts at any corpus size. `maxDfFrac = 1` disables
    * the gate exactly (df ≤ N always) and is bit-equal to
    * [[containmentPrefixPairs]].
    *
    * Output: doc_a, doc_b, containment (≥ threshold, over gated
    * sets) — doc_a is the contained (denominator) side.
    */
  def containmentPrefixPairsDfGated(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double, maxDfFrac: Double,
      dfOrdered: Boolean = true): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      "maxDfFrac must be in (0, 1]")
    // corpus-sized (per-doc shingle sets), read by the df aggregate
    // and the gate anti-join — fence so the shingle pipeline runs once
    val raw = Fence.corpus(shingleSets(df, idCol, textCol, n),
      "cppg_sets")
    val inv = raw.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val nDocs = raw.agg(count(lit(1)).as("nd"))
    // scalar broadcast join (1-row corpus count), then the bounded hot
    // list (see scaladoc) — both driver-tiny at any scale
    val hot = inv.groupBy("shingle").agg(count(lit(1)).as("df_"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df_") > lit(maxDfFrac) * col("nd"))
      .select("shingle")
    val gated = inv.join(broadcast(hot), Seq("shingle"), "left_anti")
      .groupBy("doc_id")
      // re-sort after the set rebuild: the prefix slice and the
      // two-pointer intersection kernel both need ascending order
      .agg(sort_array(collect_set(col("shingle"))).as("sh"))
      .filter(size(col("sh")) > 0)
    containmentPrefixPairsOnSets(gated, threshold, dfOrdered)
  }

  /** Directed n-gram CONTAINMENT pairs — the asymmetric near-dup
    * relation Jaccard misses: a short document quoted wholesale inside a
    * much longer one has |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so a
    * Jaccard threshold never flags it. Containment catches
    * quote-inclusion, boilerplate wrapping, and sub-document copies.
    *
    * Same inverted-index + `maxPosting` hot-shingle guard as
    * [[ngramJaccardPairs]]; the only differences are the directed join
    * (a ≠ b, both orders) and the |A| denominator.
    *
    * Output: doc_a, doc_b, containment — fraction of doc_a's shingles
    * also in doc_b, ≥ threshold.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxPosting: Int = Int.MaxValue): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
    val inv0 = sets.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val pruned =
      if (maxPosting == Int.MaxValue) inv0
      else {
        val hot = inv0.groupBy("shingle")
          .agg(count(lit(1)).as("posting_n"))
          .filter(col("posting_n") > maxPosting)
        inv0.join(hot, Seq("shingle"), "left_anti")
      }
    val inv = pruned.hint("shuffle_hash")
    inv.as("x")
      .join(inv.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"), first(col("x.sz")).as("sa"))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / col("sa")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Exact duplicated-n-gram statistics — the substring-level dedup
    * signal (cf. "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022, which removes repeated ≥50-token spans):
    * a positional n-gram is "duplicated" when the same n-gram occurs in
    * ≥ `minDocs` DISTINCT documents; each document reports how much of
    * it is covered by duplicated grams. Downstream either drops
    * high-fraction docs or cuts the flagged spans.
    *
    * Scale shape: positional gram hashes (per-row projection) → ONE
    * groupBy on the gram hash for document frequencies (the inverted
    * index — partial-aggregated, carries one long per gram occurrence) →
    * join back on the same key (partitioning reused, shuffle-pinned so
    * AQE can't broadcast a corpus-sized gram table) → per-doc
    * re-aggregation. Unlike the pair generators there is no quadratic
    * blow-up to cap: the frequency table has one row per distinct gram,
    * so a boilerplate gram costs one aggregate row, not a self-join
    * explosion.
    *
    * Output: doc_id, n_grams, n_dup_grams, dup_fraction (4-dp floor
    * rounding, 0.0 for docs shorter than n tokens).
    */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    val grams = df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode_outer(
        transform(TextOps.shingles(col("toks"), n),
          g => TextOps.hash32(g))).as("g"))
    val docFreq = grams.filter(col("g").isNotNull)
      .groupBy("g").agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .hint("shuffle_hash")
    grams.hint("shuffle_hash")
      .join(docFreq, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(col("g")).as("n_grams"),
        count(col("df")).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        (floor(when(col("n_grams") === 0, 0.0)
          .otherwise(col("n_dup_grams").cast("double") / col("n_grams"))
          * 10000.0 + 0.5) / 10000.0).as("dup_fraction"))
  }

  /** The APPLY side of [[dupNgramStats]]: cut every token covered by a
    * duplicated n-gram out of the document (Lee et al.'s ExactSubstr
    * treatment — duplicated spans are removed, the unique remainder
    * kept).
    *
    * Same inverted-index shape as the stats pass, plus: duplicated gram
    * occurrences explode to their n covered token positions, positions
    * collapse to a per-doc set (collect_set — bounded by doc length, not
    * corpus size), and the cut itself is a per-row `array_except` of the
    * position range minus the covered set — array_except builds a hash
    * set over the covered positions and streams the range through it in
    * order, so the kernel is O(T + C) per row (a per-token
    * `array_contains` scan would be O(T·C): a long fully-covered doc
    * with T = C = 100k would do 10^10 comparisons in one task). One
    * gram-key shuffle + one doc-key shuffle; the rewritten corpus never
    * moves between executors.
    *
    * Output: doc_id, n_tokens, n_removed, clean_hash (portable 32-bit
    * hash of the space-joined remainder).
    */
  def cutDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val grams = docs.select(col("doc_id"), posexplode(
        transform(TextOps.shingles(col("toks"), n),
          g => TextOps.hash32(g))).as(Seq("p", "g")))
    val dupGrams = grams
      .groupBy("g").agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .hint("shuffle_hash")
    val covered = grams.hint("shuffle_hash")
      .join(dupGrams, Seq("g"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (n - 1))).as("c"))
      .groupBy("doc_id").agg(collect_set(col("c")).as("cov"))
    // covered is corpus-sized at scale (every doc with any dup span) —
    // pin the join so AQE can't broadcast it off a small-SF estimate
    docs.join(covered.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("cov",
        coalesce(col("cov"), array().cast("array<int>")))
      // kept positions ascending (sequence order is preserved through
      // array_except), so the remainder join is order-identical to the
      // old per-token filter; sequence(0, -1) would DESCEND, hence the
      // empty-doc guard
      .withColumn("keep_pos",
        when(size(col("toks")) === 0, array().cast("array<int>"))
          .otherwise(array_except(
            sequence(lit(0), size(col("toks")) - 1), col("cov"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        TextOps.hash32(array_join(
          transform(col("keep_pos"), i => element_at(col("toks"), i + 1)),
          " ")).as("clean_hash"))
  }

  /** MinHash + LSH near-dup pairs: signature → banded bucketing →
    * candidate pairs → exact-Jaccard verification on the candidate set
    * only. numHashes = bands × rowsPerBand.
    *
    * `maxBucket` drops pathological buckets (a shingle-band shared by a
    * huge boilerplate cluster) before the pair blow-up — the standard
    * guard when this runs over billions of docs. The declared queries
    * (q32/q74/q58/q59/q68/qA7 and friends) pass maxBucket = 256 and
    * their DuckDB oracles REPLAY the same exclusion, so the cap is
    * oracle-checked, not a fixture-scale shortcut; Int.MaxValue remains
    * available for exact-parity runs against an uncapped ground truth.
    *
    * Output: doc_a, doc_b, jaccard (≥ threshold).
    */
  /** (doc_id, sh, band_idx, band_key) LSH band rows: MinHash signature
    * sliced into `bands` keys of `rowsPerBand` joined values each.
    */
  private def bandRowsOf(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      extra: Seq[String] = Nil): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    // id-keyed floor below the shingle+MinHash projection (guide §2.5):
    // a single-split local scan runs the whole tokenize + shingle-hash
    // + signature pipeline on one core. Scoped HERE — not in the shared
    // shingleSets — because the prefix-filter family measurably LOSES
    // from a floor on its staged pipeline (round-18 blanket A/B);
    // no-op at cluster scale and on non-scan inputs (streaming
    // micro-batch probes pass through untouched).
    val floored = graft.plans.Parallel.cpuFloor(df, idCol)
    val sets = shingleSets(floored, idCol, textCol, shingleN, extra)
    val sigs = sets.withColumn("sig",
      GraftFunctions.minhashSig(col("sh"), bands * rowsPerBand))
    sigs.select(
      col("doc_id") +: col("sh") +: extra.map(col) :+
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        array_join(
          transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string")), "-")))
        .as(Seq("band_idx", "band_key")): _*)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val bandRows = bandRowsOf(df, idCol, textCol, shingleN, bands, rowsPerBand)

    val pruned =
      if (maxBucket == Int.MaxValue) bandRows
      else {
        val hot = bandRows.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") > maxBucket)
        bandRows.join(hot, Seq("band_idx", "band_key"), "left_anti")
      }

    // Candidate pairs from shared buckets; carry both shingle sets along
    // so verification needs no extra join against the corpus.
    // shuffle_hash: the band-rows side carries every shingle set x bands
    // copies — letting AQE broadcast it is an OOM at scale (same hazard
    // as the n-gram inverted index); bucket-key shuffle is the plan.
    val prunedH = pruned.hint("shuffle_hash")
    val cands = prunedH.as("x")
      .join(prunedH.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sh").as("sha"), col("y.sh").as("shb"))
      .dropDuplicates("doc_a", "doc_b")

    cands
      .withColumn("common",
        GraftFunctions.sortedIntersectSize(col("sha"), col("shb")))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("common")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental dedup: screen a NEW batch against the EXISTING corpus —
    * the shape an operating pipeline actually runs (yesterday's corpus is
    * already deduped; today's crawl only needs new-vs-old and new-vs-new
    * handled separately, not an all-corpus re-pairing).
    *
    * Same MinHash+LSH machinery as [[minhashLshPairs]], but the bucket
    * join is new→old only: the band index is computed ONCE and
    * materialized (durable stage fence, same device as
    * [[connectedComponents]]'s edges — splitting the lazy frame by
    * `isNew` would otherwise evaluate the whole shingle→MinHash pipeline
    * twice, doubling the dominant scan phase; a branch-side filter can't
    * be fenced from Catalyst's predicate pushdown any other way). The
    * materialized index is exactly the artifact a production run persists
    * between days. The asymmetric new×old join then never generates
    * corpus×corpus pairs, and stays shuffle-pinned like every pair
    * generator here.
    *
    * Output: one row per NEW doc — doc_id, dup_of (smallest matching old
    * id at jaccard ≥ threshold, null when none), n_matches, is_dup.
    */
  /** Shared decision tail of both screening paths: band-key join →
    * pair dedup → exact-Jaccard gate → per-new-doc summary, left-joined
    * back onto the full new-id set. Keeping the Jaccard formula and the
    * output contract in ONE place — [[screenAgainstIndex]] and
    * [[minhashLshIncremental]] are asserted equal by InfraSpec, but only
    * on one corpus shape.
    */
  private def screenDecisions(newBand: DataFrame, oldBand: DataFrame,
      newIds: DataFrame, threshold: Double): DataFrame = {
    val matches = newBand.join(oldBand, Seq("band_idx", "band_key"))
      .select(col("doc_id"), col("old_id"), col("sh"), col("sho"))
      .dropDuplicates("doc_id", "old_id")
      .withColumn("common",
        GraftFunctions.sortedIntersectSize(col("sh"), col("sho")))
      .filter(col("common").cast("double") /
        (size(col("sh")) + size(col("sho")) - col("common")) >= threshold)
      .groupBy("doc_id")
      .agg(min("old_id").as("dup_of"), count(lit(1)).as("n_matches"))
    newIds.join(matches.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** The persistable LSH band index of a corpus — (doc_id, sh, band_idx,
    * band_key). This is the artifact an operating pipeline writes once
    * per corpus snapshot and screens every future batch against
    * ([[screenAgainstIndex]], `streaming.Ingest.startDedupScreen`).
    */
  def lshBandIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int): DataFrame =
    bandRowsOf(df, idCol, textCol, shingleN, bands, rowsPerBand)

  /** Screen a batch of new docs against a prebuilt [[lshBandIndex]]:
    * asymmetric new→index band join, exact-Jaccard verification on
    * candidates, one decision row per new doc (same output contract as
    * [[minhashLshIncremental]]). The new side's band rows are a per-row
    * projection computed in flight — also valid on a streaming frame,
    * which is how the per-micro-batch streaming screen reuses this
    * unchanged.
    */
  def screenAgainstIndex(newDocs: DataFrame, idCol: String,
      textCol: String, oldIndex: DataFrame, shingleN: Int, bands: Int,
      rowsPerBand: Int, threshold: Double,
      broadcastProbe: Boolean = false): DataFrame =
    screenAgainstIndexRows(
      bandRowsOf(newDocs, idCol, textCol, shingleN, bands, rowsPerBand),
      newDocs.select(col(idCol).as("doc_id")), oldIndex, threshold,
      broadcastProbe)

  /** [[screenAgainstIndex]] given the batch's ALREADY-BUILT band rows
    * ([[lshBandIndex]] schema) — the streaming growing-index screen's
    * entry point, so ONE shingle+signature pass per micro-batch serves
    * both the probe and the index merge (the
    * [[embeddingLshScreenOnIndex]] pattern). `ids` is the full new-id
    * universe — docs whose band rows were filtered upstream still get
    * a no-dup decision row.
    *
    * `maxPosting > 0` caps hot INDEX bands — a (band_idx, band_key)
    * whose posting exceeds the cap is boilerplate shingle content
    * (the minhash twin of [[codeHammingScreen]]'s contract: the new
    * side is never capped, recall degrades gracefully on exactly the
    * bands that would otherwise fan the probe join out by the
    * posting). `hotBands` lets a caller that already KNOWS the
    * over-cap band keys (the streaming minhash screen's compaction
    * sidecar — `Ingest.hotBandList`) pass the exclusion list
    * directly, skipping the per-call index aggregation so the index
    * is scanned exactly once; the caller owns exactness. */
  private[graft] def screenAgainstIndexRows(newBand: DataFrame,
      ids: DataFrame, oldIndex: DataFrame, threshold: Double,
      broadcastProbe: Boolean = false, maxPosting: Int = 0,
      hotBands: Option[DataFrame] = None): DataFrame = {
    require(maxPosting >= 0, "maxPosting must be >= 0 (0 = uncapped)")
    // the hot-list anti-joins are deliberately UNHINTED: a forced
    // broadcast(hot) is unbounded — the over-cap list can reach
    // |index|/cap rows (15M+ at 10^9 band rows, cap 64), the same
    // footgun class boundedBroadcast closes for the probe side. AQE
    // (on in every session config) converts the anti-join to a
    // broadcast at runtime whenever the list is actually small — the
    // common boilerplate case — and shuffles safely when it is not.
    val idx = hotBands match {
      case Some(h) => oldIndex.join(
        h.select("band_idx", "band_key"),
        Seq("band_idx", "band_key"), "left_anti")
      case None if maxPosting > 0 =>
        val hot = oldIndex.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("n")).filter(col("n") > maxPosting)
          .select("band_idx", "band_key")
        oldIndex.join(hot, Seq("band_idx", "band_key"), "left_anti")
      case None => oldIndex
    }
    // broadcastProbe: micro-batch probe side — broadcast it and leave
    // the corpus-scale index shuffle-free (scan-only per batch)
    val old = idx.select(col("doc_id").as("old_id"),
      col("sh").as("sho"), col("band_idx"), col("band_key"))
    if (broadcastProbe)
      screenDecisions(broadcast(newBand), old, ids, threshold)
    else
      screenDecisions(newBand.hint("shuffle_hash"),
        old.hint("shuffle_hash"), ids, threshold)
  }

  def minhashLshIncremental(df: DataFrame, idCol: String, textCol: String,
      isNew: Column, shingleN: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Int = Int.MaxValue): DataFrame = {
    val bandRows = bandRowsOf(
      df.withColumn("is_new", isNew), idCol, textCol,
      shingleN, bands, rowsPerBand, extra = Seq("is_new"))
    val pruned0 =
      if (maxBucket == Int.MaxValue) bandRows
      else {
        val hot = bandRows.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") > maxBucket)
        bandRows.join(hot, Seq("band_idx", "band_key"), "left_anti")
      }
    val pruned = Fence.corpus(pruned0, "lsh_inc_bands")
    val newSide = pruned.filter(col("is_new"))
      .select(col("doc_id"), col("sh"), col("band_idx"), col("band_key"))
      .hint("shuffle_hash")
    val oldSide = pruned.filter(!col("is_new"))
      .select(col("doc_id").as("old_id"), col("sh").as("sho"),
        col("band_idx"), col("band_key"))
      .hint("shuffle_hash")
    screenDecisions(newSide, oldSide,
      df.filter(isNew).select(col(idCol).as("doc_id")), threshold)
  }

  /** Per-doc 60-bit SimHash over whitespace-token hashes.
    * Output: doc_id, simhash.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    df.select(col(idCol).as("doc_id"),
      GraftFunctions.simhash60(
        GraftFunctions.tokenHashes(TextOps.tokens(col(textCol))))
        .as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, using the
    * pigeonhole band trick: split the 60-bit hash into `bandsCount` bands;
    * any pair within distance d < bandsCount must agree on ≥1 band, so the
    * self-join runs per-band on equality, never all-pairs.
    * Output: doc_a, doc_b, hamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bandsCount: Int = 4): DataFrame = {
    require(maxHamming < bandsCount, "need maxHamming < bands (pigeonhole)")
    val bits = 60
    val bandBits = bits / bandsCount
    val mask = (1L << bandBits) - 1
    // 16-byte (id, simhash) rows, consumed by both self-join sides —
    // fence so the tokenize+simhash pipeline runs once, not twice
    // (same rationale as codeHammingPairs)
    val sh = Fence.corpus(simhash(df, idCol, textCol), "simhash_codes")
    // shuffle_hash: don't let AQE broadcast the banded corpus (bands x
    // corpus rows) — shuffle on the band key, as at scale.
    val bandRows = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bandsCount).map(b =>
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band_idx", "band_val")))
      .hint("shuffle_hash")
    bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Banded Hamming pairs over ANY precomputed bit-signature column —
    * the [[simhashPairs]] band trick factored out so other signature
    * families (the 56-bit image dHash, audio fingerprints) reuse it:
    * split the `bits`-wide code into `bandsCount` equal bands; any pair
    * within Hamming distance d < bandsCount agrees on ≥ 1 band
    * (pigeonhole — the recall is EXACT, not probabilistic), so the
    * self-join runs per-band on equality, never all-pairs.
    *
    * Candidate volume scales as O(bands·n²/2^bandBits) — even random
    * codes collide on an 8-bit band at the birthday rate, so beyond
    * ~10⁵ codes per band value the join input grows quadratically
    * (measured: the sf0.1→sf1 probe puts qH9/qI2 at exponent ~1.09).
    * At corpus scale either widen the bands (lower maxHamming per the
    * pigeonhole bound) or set `maxPosting` > 0 to drop band values
    * hotter than the cap — the same discipline as every other blocker
    * here; capping can only lose a pair if ALL of its agreeing bands
    * are hot, so recall degrades gracefully, but it is no longer
    * exact — leave it 0 where the oracle contract needs exactness.
    *
    * Output: doc_a, doc_b, hamming (≤ maxHamming).
    */
  def codeHammingPairs(codes: DataFrame, idCol: String, codeCol: String,
      bits: Int, maxHamming: Int, bandsCount: Int,
      maxPosting: Int = 0): DataFrame = {
    require(maxHamming < bandsCount, "need maxHamming < bands (pigeonhole)")
    require(bits % bandsCount == 0, "bands must divide the bit width")
    require(maxPosting >= 0, "maxPosting must be >= 0 (0 = uncapped)")
    // Materialize the (id, code) frame ONCE: it is 16 bytes/row however
    // expensive the upstream signature pipeline was (decode, downsample,
    // fingerprint), and it is consumed 2-4x below — both self-join
    // sides, plus the hot-band screen and its anti-join when capped.
    // Without the fence the whole decode chain re-executes per consumer
    // (measured: the capped image query ran its synthesis 4x).
    val sh = Fence.corpus(
      codes.select(col(idCol).cast("long").as("doc_id"),
        col(codeCol).cast("long").as("code")), "code_pairs_codes")
    // band decomposition and hot screen shared with the incremental
    // path ([[codeBandIndex]]/[[dropHotBands]]) — one implementation,
    // so batch pairs and the screen cannot drift.
    // shuffle_hash: don't let AQE broadcast the banded corpus
    val bandRows = dropHotBands(
      codeBandIndex(sh, "doc_id", "code", bits, bandsCount), maxPosting)
      .hint("shuffle_hash")
    bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.code").bitwiseXOR(col("y.code")))
          .as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Drop (band_idx, band_val) groups hotter than `maxPosting` via an
    * anti-join on the over-cap list — the shared hot-band screen of
    * [[codeHammingPairs]] and [[codeHammingScreen]]. No-op when
    * maxPosting <= 0. Unhinted on purpose: the over-cap list is tiny
    * for real boilerplate (AQE broadcasts it at runtime) but its
    * worst case is |bands|/cap rows — a forced broadcast would be the
    * unbounded-broadcast footgun. */
  private def dropHotBands(bands: DataFrame, maxPosting: Int)
      : DataFrame =
    if (maxPosting <= 0) bands
    else {
      val hot = bands.groupBy("band_idx", "band_val")
        .agg(count(lit(1)).as("n")).filter(col("n") > maxPosting)
        .select("band_idx", "band_val")
      bands.join(hot, Seq("band_idx", "band_val"), "left_anti")
    }

  /** Persistable band index of a bit-signature table — the media twin of
    * the MinHash band index (see [[lshBandIndex]]/q74): one row per
    * (band_idx, band_val, doc_id, code), written once per corpus
    * snapshot and equi-joined by every subsequent [[codeHammingScreen]]
    * batch. Size is bandsCount × corpus rows of 4 longs.
    */
  def codeBandIndex(codes: DataFrame, idCol: String, codeCol: String,
      bits: Int, bandsCount: Int): DataFrame = {
    require(bits % bandsCount == 0, "bands must divide the bit width")
    val bandBits = bits / bandsCount
    val mask = (1L << bandBits) - 1
    codes.select(col(idCol).cast("long").as("doc_id"),
        col(codeCol).cast("long").as("code"))
      .select(col("doc_id"), col("code"),
        posexplode(array((0 until bandsCount).map(b =>
          shiftright(col("code"), b * bandBits).bitwiseAND(mask)): _*))
          .as(Seq("band_idx", "band_val")))
  }

  /** Incremental banded-Hamming screen — the arrival-time form of
    * [[codeHammingPairs]]: each NEW code probes the persisted
    * [[codeBandIndex]] of the corpus instead of self-joining a rebuilt
    * one, so a daily batch costs O(new × bands) index probes however
    * large the history is. Completes the media-dedup lifecycle the
    * MinHash path already has (batch pairs → incremental screen →
    * persisted index).
    *
    * `maxPosting > 0` caps hot INDEX band values (the new side is
    * never capped — its batches are small by construction); same
    * graceful-recall contract as [[codeHammingPairs]].
    *
    * `hotBands` lets a caller that ALREADY KNOWS the over-cap band
    * values (the streaming media screen, which maintains per-band
    * counts as a compaction artifact — `Ingest.hotBandList`) pass the
    * exclusion list directly: the per-call [[dropHotBands]] index
    * aggregation is skipped, so the index is scanned exactly once.
    * The caller owns exactness — the list must equal what
    * [[dropHotBands]] would derive over `index` at `maxPosting`
    * (Ingest's artifact is exact by construction: base counts at
    * compaction + live delta counts per trigger).
    *
    * Output: one row per NEW doc — doc_id, is_dup, match_id (the
    * nearest in-range indexed doc: min hamming, min id tie-break;
    * null when none), hamming (null when none).
    */
  def codeHammingScreen(newCodes: DataFrame, idCol: String,
      codeCol: String, index: DataFrame, bits: Int, maxHamming: Int,
      bandsCount: Int, maxPosting: Int = 0,
      broadcastProbe: Boolean = false,
      hotBands: Option[DataFrame] = None): DataFrame = {
    require(maxHamming < bandsCount, "need maxHamming < bands (pigeonhole)")
    require(maxPosting >= 0, "maxPosting must be >= 0 (0 = uncapped)")
    // 16-byte rows, consumed by the band probe AND the final left join
    val newSh = Fence.corpus(
      newCodes.select(col(idCol).cast("long").as("doc_id"),
        col(codeCol).cast("long").as("code")), "code_screen_new")
    val nbands = codeBandIndex(newSh, "doc_id", "code", bits, bandsCount)
      .select(col("doc_id").as("nid"), col("code").as("nc"),
        col("band_idx"), col("band_val"))
    // unhinted hot anti-join (see [[dropHotBands]]): AQE broadcasts
    // the sidecar-derived list at runtime when it is small; a forced
    // hint would be unbounded in the adversarial many-hot-bands case
    val idx = (hotBands match {
      case Some(h) => index.join(
        h.select("band_idx", "band_val"),
        Seq("band_idx", "band_val"), "left_anti")
      case None => dropHotBands(index, maxPosting)
    })
      .select(col("doc_id").as("oid"), col("code").as("oc"),
        col("band_idx"), col("band_val"))
    // broadcastProbe: the streaming screens' shape — the probe side is
    // one micro-batch (bounded by the trigger), so broadcasting it
    // makes the PROBE JOIN scan-only over the corpus-scale index (no
    // index shuffle per batch — the difference between reading 32 GB
    // and moving it across the cluster, every trigger, forever).
    // With maxPosting > 0 and no precomputed `hotBands`, the
    // dropHotBands pass above aggregates the index once per call — a
    // second index scan; the streaming screen avoids it by passing
    // the compaction-time artifact.
    val cand = (if (broadcastProbe) broadcast(nbands)
        else nbands.hint("shuffle_hash"))
      .join(if (broadcastProbe) idx else idx.hint("shuffle_hash"),
        Seq("band_idx", "band_val"))
      .select(col("nid"), col("oid"), col("nc"), col("oc"))
      .dropDuplicates("nid", "oid")
      .withColumn("hamming",
        bit_count(col("nc").bitwiseXOR(col("oc"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val best = cand.groupBy("nid")
      .agg(min(struct(col("hamming"), col("oid"))).as("m"))
    newSh.join(best, col("doc_id") === col("nid"), "left")
      .select(col("doc_id"),
        col("m").isNotNull.as("is_dup"),
        col("m.oid").as("match_id"),
        col("m.hamming").as("hamming"))
  }

  /** Embedding-cosine near-dup pairs (brute force; the scale path buckets
    * candidates first — see Similarity.lshTopK). Norms are precomputed
    * per row so the pair stage does one dot product, not three.
    * Output: id_a, id_b, cosine (≥ threshold).
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    val withNorm = df.select(
      col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(GraftFunctions.vecDot(col("v"), col("v"))))
      // zero-norm guard: 0/0 cosine is NaN, which Spark's ordering
      // ranks above every number — NaN >= threshold would pair an
      // all-zero vector with everything (r12 review find)
      .filter(col("norm") > 0)
    withNorm.as("x").join(withNorm.as("y"), col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"),
        (GraftFunctions.vecDot(col("x.v"), col("y.v")) /
          (col("x.norm") * col("y.norm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding near-dup pairs via random-hyperplane LSH buckets — the
    * 100 TB path for [[embeddingCosinePairs]]: vectors are sign-bucketed
    * under `planes` deterministic hyperplanes (Similarity.lshBucket, the
    * same codebook-free bucketing the ANN path uses), and only same-bucket
    * pairs are scored — O(Σ bucket²) instead of O(n²). The bucket
    * self-join is shuffle-pinned like every pair-generating self-join
    * here (AQE would broadcast the bucketed corpus).
    *
    * Sizing contract: `planes` SCALES WITH THE CORPUS. A fixed plane
    * count is a constant-factor (2^planes) reduction of a quadratic —
    * fine at one scale, quadratic again at 100×. Choose
    * planes ≈ log2(n / B) for a target mean bucket size B (e.g.
    * B ≈ 10³-10⁴): expected candidate volume is then O(n·B) — linear
    * in the corpus — while each added plane costs recall only on pairs
    * near the threshold (sign-agreement probability (1−θ/π) per
    * plane). The declared sf0.01 queries use planes=3 because their
    * oracles need exact recall at that scale; the parameter, not the
    * operator, carries the scale knob.
    *
    * Output: id_a, id_b, cosine (≥ threshold, within-bucket only).
    */
  def embeddingLshPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, threshold: Double): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    val base = df.select(
      col(idCol).as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(GraftFunctions.vecDot(col("v"), col("v"))))
      // zero-norm guard: see embeddingCosinePairs — NaN >= threshold
      // is TRUE under Spark's NaN ordering
      .filter(col("norm") > 0)
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
      .hint("shuffle_hash")
    base.as("x")
      .join(base.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"),
        (GraftFunctions.vecDot(col("x.v"), col("y.v")) /
          (col("x.norm") * col("y.norm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** LSH cell index over an embedding corpus — the standing state of
    * the incremental semantic-dedup path ([[embeddingLshScreen]] /
    * `Ingest.startAnnScreen`): one row per vector with its normalized
    * payload and sign-bucket. `planes` is the caller's scale knob
    * (size it with [[Similarity.adaptivePlanes]] on the SEED corpus —
    * the bucket function must stay fixed for the index's lifetime, so
    * a stream sizes it once at screen start).
    * Output: vec_id, v (array<double>), norm, bucket.
    */
  def embeddingLshIndex(df: DataFrame, idCol: String, vecCol: String,
      planes: Int): DataFrame = {
    GraftFunctions.registerAll(df.sparkSession)
    df.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(GraftFunctions.vecDot(col("v"), col("v"))))
      .withColumn("bucket", Similarity.lshBucket(col("v"), planes))
  }

  /** Incremental SEMANTIC dedup: screen a batch of new vectors against
    * a standing [[embeddingLshIndex]] — the embedding analogue of
    * [[screenAgainstIndex]] (MinHash) and [[codeHammingScreen]]
    * (dHash), completing the arrival-time dedup matrix. One
    * bucket-equi-join probe per new vector (never a corpus self-join);
    * a match is any same-bucket index vector with cosine ≥ threshold,
    * and `match_id` is the MINIMUM matching id (the semdedup
    * keep-canonical convention — order-free and deterministic).
    * Output: one row per NEW vector — vec_id, is_dup, match_id
    * (null when no match).
    */
  def embeddingLshScreen(newVecs: DataFrame, idCol: String,
      vecCol: String, index: DataFrame, planes: Int,
      threshold: Double): DataFrame =
    embeddingLshScreenOnIndex(
      embeddingLshIndex(newVecs, idCol, vecCol, planes),
      newVecs.select(col(idCol).as("vec_id")), index, threshold)

  /** [[embeddingLshScreen]] given the batch's ALREADY-BUILT index rows
    * — the streaming screen's entry point, so one projection pass per
    * micro-batch serves both the probe and the index merge. `ids` is
    * the full new-id universe (rows with null/zero-norm embeddings
    * still get a no-dup DECISION, the quarantine discipline).
    *
    * Zero-norm guard on BOTH sides: cosine's denominator is
    * norm·onorm, and 0/0 = NaN, which Spark's ordering ranks ABOVE
    * every number — an unguarded NaN >= threshold is TRUE, declaring
    * an all-zero vector a duplicate of an arbitrary bucket-mate. */
  private[graft] def embeddingLshScreenOnIndex(fresh: DataFrame,
      ids: DataFrame, index: DataFrame, threshold: Double,
      broadcastProbe: Boolean = false): DataFrame = {
    // broadcastProbe: micro-batch probe side — broadcast it and leave
    // the corpus-scale index shuffle-free (scan-only per batch)
    val probe = fresh.filter(col("norm") > 0).as("x")
    val idxSide = index.as("y")
      .select(col("vec_id").as("old_id"), col("v").as("ov"),
        col("norm").as("onorm"), col("bucket"))
      .filter(col("onorm") > 0)
    val matches = (if (broadcastProbe) broadcast(probe)
        else probe.hint("shuffle_hash"))
      .join(if (broadcastProbe) idxSide else idxSide.hint("shuffle_hash"),
        Seq("bucket"))
      .filter(col("x.vec_id") =!= col("old_id"))
      .filter((GraftFunctions.vecDot(col("x.v"), col("ov")) /
        (col("x.norm") * col("onorm"))) >= threshold)
      .groupBy(col("x.vec_id").as("vec_id"))
      .agg(min(col("old_id")).as("match_id"))
    ids
      .join(matches.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_id").isNotNull.as("is_dup"),
        col("match_id"))
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise dedup output into per-document canonical assignment (a
    * pipeline keeps ONE doc per component, not one per pair: with docs
    * A~B and B~C, pair-wise "keep the smaller id" would wrongly keep
    * both A and C).
    *
    * Two size tiers, the two tiers of [[graft.plans.Fence]], chosen by
    * [[graft.plans.Fence.tiered]]: the symmetric edge list is staged
    * plainly (`cc_sym`) and its staged parquet bytes are compared with
    * the fixed driver bound (10 MB).
    *
    *  - DRIVER tier (staged bytes within the bound): the staged
    *    edges are collected once, as primitive id arrays, and
    *    union-find runs in the driver (union toward the smaller root,
    *    path compression); the stage is reclaimed and the labels come
    *    back as a local frame. It always converges fully — every node
    *    gets the minimum id of its whole component, which is what the
    *    recursive-CTE oracles compute — so `maxIter` does not apply.
    *  - CORPUS tier (anything larger): the stage is re-staged bucketed
    *    on `b` ([[graft.plans.Fence.corpusBucketed]], the plain stage
    *    is then reclaimed), and HashMin label propagation runs. Every
    *    node starts as its own label; each round takes the min of its
    *    neighbors' labels; converges to the component-minimum id in
    *    O(component diameter) rounds (fewer with the pointer jump
    *    below). Each round is one distributed join + partial-aggregated
    *    min — the standard MapReduce-era algorithm, still the right
    *    shape at 100 TB. The driver loop iterates over ROUND COUNTS
    *    (small), never over data; each round's label table goes behind
    *    a durable stage fence ([[graft.plans.Fence.corpus]]) so lineage
    *    stays constant-depth and an executor loss replays a file scan,
    *    not the whole propagation history. `maxIter` bounds the relax
    *    rounds of this tier only; near-dup graphs are overwhelmingly
    *    tiny cliques + chains (diameter 1-3), so it only bites on
    *    adversarial chains.
    *
    * Input: edges (a, b) — undirected, any orientation. Pass
    * `edgesSymmetric = true` when the input ALREADY contains both
    * directions of every edge (e.g. [[Density.dbscan]]'s core edges,
    * filtered from an explicitly symmetrized neighbor list): the
    * swap-union is skipped, halving the staged edge volume and every
    * round's join fan-in — VERDICT r11 #2 found the DBSCAN chain
    * staging each core edge twice for exactly this reason.
    * An edge with a null endpoint links nothing and is dropped before
    * staging, so both tiers see the same non-null edge list.
    * Output: node, component (= min node id reachable); the nodes are
    * the staged `a` ids. A node that appears only on a dropped edge has
    * no row: every consumer left-joins its ids and falls back to the id
    * itself.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      edgesSymmetric: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val base = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
    // Materialize the (possibly expensive) edge derivation ONCE — every
    // propagation round joins against the edges, and without a stage
    // the whole upstream pair pipeline (MinHash etc.) would re-execute
    // per round
    Fence.tiered(
      if (edgesSymmetric) base
      else base.unionAll(base.select(col("b").as("a"), col("a").as("b"))),
      "cc_sym") { sym =>
      // DRIVER tier: the stage came back as primitive id columns
      Some(spark.createDataFrame(unionFind(sym.longs(0), sym.longs(1)),
        StructType(Seq(StructField("node", LongType),
          StructField("component", LongType)))))
    } { staged =>
      // CORPUS tier: re-staged BUCKETED on `b` (the side every round's
      // join probes): the durable read-back keeps HashPartitioning(b),
      // so each round shuffles only the label table, never the (larger)
      // edge list — and an executor loss mid-propagation replays a file
      // scan instead of killing the job (the localCheckpoint failure
      // mode)
      val sym = Fence.corpusBucketed(staged, "cc_sym", "b")
      Fence.reclaim(staged)
      hashMin(sym, maxIter)
    }
  }

  /** [[connectedComponents]]' corpus tier: HashMin rounds over the
    * bucketed symmetric edge stage `sym` (a, b). */
  private def hashMin(sym: DataFrame, maxIter: Int): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    // Round 1 fused into initialization: a node's first propagated label
    // is min(self, neighbors), which is one groupBy over the symmetric
    // edge list — no join. (The classic formulation spends a full
    // join-round computing exactly this.)
    // `labels` is the live frame the next batch reads (possibly a lazy
    // pointer-jump over the stage); `stagedLabels` tracks the durable
    // stage itself for in-session reclamation
    var labels = Fence.corpus(
      sym.groupBy("a").agg(min("b").as("nb"))
        .select(col("a").as("node"),
          least(col("a"), col("nb")).as("component")),
      "cc_labels")
    var stagedLabels = labels
    var iter = 1
    var converged = false
    // Rounds are fenced in geometrically growing BATCHES (1, 2, 4, 4,
    // …): inside a batch the rounds chain lazily, so ONE stage write
    // evaluates the whole batch — near-dup graphs converge in 1-3
    // rounds (one write), while a diameter-13 chain pays 5 writes
    // instead of 13. (Cap 8 was tried in r12 and REVERTED on
    // measurement: qO9's chain-like eps graph needs ~15 rounds, and
    // the deeper lazily-chained batch more than repaid the saved
    // barrier writes — 13.3 s vs 5.7 s warm at sf0.1 — because the
    // batch-level convergence check also coarsens, wasting up to a
    // full 8-round no-op batch of join+agg passes.) Within a chained batch each round references the
    // previous label frame twice (the join and the self-union), but
    // both references sit above the round's groupBy exchange, so
    // ReusedExchange dedups the shuffle at every level — the fan-out
    // is a constant 2x re-read of shuffle files per round, never
    // exponential re-computation. The batch cap (4) bounds both the
    // plan depth and the wasted no-op rounds after convergence.
    // The convergence check rides INSIDE the stage-writing job via
    // PER-ROUND accumulators counting shrunk labels: one job per batch
    // instead of a write + a separate count. Retry- and fan-out-safe
    // for the boolean we need — task retries and the 2x reference
    // re-reads can only inflate a non-zero count, never turn a genuine
    // zero non-zero. Convergence keys on the batch's LAST round:
    // relaxation is monotone, so a round that shrank nothing proves the
    // fixpoint — where the old whole-batch count forced one entire
    // extra no-op batch (4 rounds + a stage write + the jump) purely to
    // OBSERVE the zero (round 19; every CC consumer converged one batch
    // later than necessary).
    // batch cap: 4 (r12 measurement, RE-CONFIRMED r19: with the
    // per-round convergence accumulators in place — removing the
    // coarse-check waste r12 partly blamed — an interleaved A/B of
    // cap 4|8 still measured qO9 2.63x WORSE at cap 8; the deep lazy
    // 8-round chain itself is the cost, not the convergence check).
    val batchCap = 4
    var batch = 1
    while (!converged && iter < maxIter) {
      val rounds = math.min(batch, maxIter - iter)
      val changed = Array.tabulate(rounds)(r =>
        spark.sparkContext.longAccumulator(s"cc_changed_${iter}_$r"))
      var cur = labels
      val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (r <- 0 until rounds) {
        // One join + one aggregate per round: neighbor labels and the
        // node's own label meet in a union tagged by provenance, so the
        // min-propagation AND the old label fall out of a single groupBy
        // (the textbook shape joins labels a second time to recover the
        // old value — one more shuffle of the label table per round).
        val acc = changed(r)
        cur = sym.join(cur, col("b") === col("node"))
          .select(col("a"), col("component"), lit(false).as("self"))
          .unionAll(cur.select(col("node").as("a"), col("component"),
            lit(true).as("self")))
          .groupBy("a")
          .agg(min("component").as("component"),
            min(when(col("self"), col("component"))).as("old_c"))
          .as[(Long, Long, Long)]
          .map { row => if (row._2 < row._3) acc.add(1L); (row._1, row._2) }
          .toDF("node", "component")
        // GraphX's checkpoint-interval pattern: persist (NOT
        // localCheckpoint) every in-batch round — the two references
        // the next round makes read the cache instead of re-running
        // the round, while lineage back to the last durable stage
        // stays intact, so an executor loss mid-batch recomputes at
        // most `batch` rounds through native Spark recovery instead
        // of failing the job
        cur = cur.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached += cur
      }
      val next = Fence.corpus(cur, "cc_labels") // write runs the batch
      cached.foreach(_.unpersist(false))
      // the new batch's stage is durable and the old label frame has
      // no remaining consumer -> reclaim it eagerly, so a long
      // propagation holds at most 2 label stages at any moment
      Fence.reclaim(stagedLabels)
      stagedLabels = next
      converged = changed.last.value == 0L
      // POINTER JUMP between batches: label <- min(label,
      // label(label)) — the shortcut that turns O(diameter) relax
      // rounds into ~O(log d) (HashMin labels only ever point at
      // smaller ids, so the jump is monotone and its fixpoint is the
      // same component minimum; when relaxation is stable, labels are
      // component-constant and the jump is the identity, so the
      // relax-only convergence check stays sound). Placed HERE, on the
      // just-staged frame, because the jump's self-join needs TWO
      // reads of the label table — two pruned scans of the stage we
      // just wrote, free — where an in-round jump would double the
      // per-round persist pressure. The next batch's fence evaluates
      // jump + rounds in one job.
      // (A chained DOUBLE jump — label(label(label(label))) — was
      // A/B'd in round 19 and measured a wash: B/A 0.99-1.05 on
      // qO9/qH6/qD5/q86, no query reproducibly faster. At scale each
      // extra jump is two more shuffles of the corpus-sized label
      // table per batch, so the single jump stays.)
      labels =
        if (converged) next
        else next.join(
            next.select(col("node").as("jn"), col("component").as("jc"))
              .hint("shuffle_hash"),
            col("component") === col("jn"), "left")
          .select(col("node"),
            least(col("component"), coalesce(col("jc"), col("component")))
              .as("component"))
      iter += rounds
      batch = math.min(batch * 2, batchCap)
    }
    labels
  }

  /** [[connectedComponents]]' driver tier over the collected edges
    * (a(i), b(i)). The endpoint ids are sorted and deduplicated, so a
    * node's array index is its rank: uniting toward the smaller root
    * index keeps every root at its component's minimum id, and a sorted
    * `Array[Long]` with binary search is the id-to-index map (no boxed
    * map). Returns the (node, component) rows of the `a` ids, in id
    * order. */
  private def unionFind(a: Array[Long], b: Array[Long])
      : java.util.List[Row] = {
    val all = java.util.Arrays.copyOf(a, a.length + b.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    var m = 0
    for (i <- all.indices) if (m == 0 || all(i) != all(m - 1)) {
      all(m) = all(i); m += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    val parent = Array.tabulate(m)(identity)
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var j = i // path compression: point the whole path at the root
      while (parent(j) != root) { val up = parent(j); parent(j) = root; j = up }
      root
    }
    val isNode = new Array[Boolean](m)
    for (i <- a.indices) {
      val ia = idx(a(i))
      isNode(ia) = true
      val ra = find(ia)
      val rb = find(idx(b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = new java.util.ArrayList[Row](m)
    for (i <- 0 until m) if (isNode(i)) out.add(Row(ids(i), ids(find(i))))
    out
  }

  /** Canonical-document assignment: every doc mapped to the minimum id of
    * its near-dup component (itself when it has no duplicates), plus the
    * keep flag. Output: doc_id, canonical, keep.
    */
  def canonicalAssignment(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b")
      : DataFrame = {
    val comp = connectedComponents(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    docs.select(col(idCol).as("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical"))
      .withColumn("keep", col("canonical") === col("doc_id"))
  }

  /** Canonical-document assignment keeping the BEST doc per near-dup
    * component instead of the min-id one: `priority` (evaluated against
    * `docs`' columns) picks the representative — highest wins, ties
    * break on min doc id. The realistic curation policy: among N crawls
    * of the same page, keep the longest / highest-quality copy, not
    * whichever was ingested first.
    *
    * Scale shape: identical to [[canonicalAssignment]] (HashMin
    * components + one left join) plus a per-component ranking window —
    * each frame is one duplicate cluster, bounded by the component
    * size, never a corpus partition.
    *
    * Output: doc_id, canonical, keep — one row per input doc.
    */
  def canonicalByPriority(docs: DataFrame, idCol: String,
      pairs: DataFrame, priority: Column, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = connectedComponents(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")))
    val base = docs.select(col(idCol).as("doc_id"), priority.as("prio"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("prio"),
        coalesce(col("component"), col("doc_id")).as("grp"))
    val w = Window.partitionBy("grp")
      .orderBy(col("prio").desc, col("doc_id").asc)
    val best = base
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("grp"), col("doc_id").as("canonical"))
    base.join(best, Seq("grp"))
      .select(col("doc_id"), col("canonical"),
        (col("canonical") === col("doc_id")).as("keep"))
  }

  /** SemDeDup — semantic deduplication over an embedding column (Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): bucket the corpus into cells, score only
    * within-cell cosine similarity, and keep one representative per group
    * of semantic duplicates.
    *
    * The paper buckets with k-means; this implementation buckets with the
    * same deterministic random-hyperplane cells the ANN/dedup paths use
    * ([[Similarity.lshBucket]]) so the assignment is closed-form and
    * engine-reproducible (swap in [[Similarity.kmeansTrain]] cells when
    * recall matters more than reproducibility — the downstream stages are
    * identical). Within-cell pairs above `threshold` feed the same
    * HashMin [[connectedComponents]] → canonical-min contraction the
    * MinHash path uses, so A~B~C collapses to ONE kept doc even when A~C
    * itself scores under the threshold.
    *
    * Scale shape: cell self-join is shuffle-pinned and O(Σ cell²), CC
    * rounds are join+partial-min with per-round lineage truncation, and
    * the final assignment is one left join — no all-pairs stage anywhere.
    *
    * Output: doc_id, canonical, keep — one row per input vector.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      planes: Int, threshold: Double): DataFrame = {
    val pairs = embeddingLshPairs(df, idCol, vecCol, planes, threshold)
    canonicalAssignment(df, idCol, pairs, "id_a", "id_b")
  }

  /** URL-canonicalization dedup — the cheapest and highest-yield dedup
    * pass in a web-corpus pipeline (CCNet / RefinedWeb run it before any
    * content hashing): normalize each document's URL
    * ([[graft.functions.TextOps.normalizeUrl]] — fragment, tracking
    * params, case, default ports, trailing slashes) and keep the minimum
    * doc id per canonical URL.
    *
    * One hash-partial-aggregated groupBy on the normalized key (the
    * normalization itself is a codegen regexp chain at scan speed), then
    * a broadcast-eligible self-join back for the per-row keep flag —
    * at 100 TB the grouped side is |distinct urls|, not |corpus|.
    *
    * Output: doc_id, url_norm, canonical, n_dupes, keep.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val normed = df.select(col(idCol).as("doc_id"),
      graft.functions.TextOps.normalizeUrl(col(urlCol)).as("url_norm"))
    val groups = normed.groupBy("url_norm")
      .agg(min("doc_id").as("canonical"),
        count(lit(1)).as("n_dupes"))
    normed.join(groups, "url_norm")
      .select(col("doc_id"), col("url_norm"), col("canonical"),
        col("n_dupes"), (col("doc_id") === col("canonical")).as("keep"))
  }

  /** KEEP-FIRST span dedup — C4's sentence-span treatment (Raffel et
    * al. 2020, "Exploring the Limits of Transfer Learning", §2.2:
    * "we discarded all but one of any three-sentence span occurring
    * more than once in the data set") adapted to the corpus format:
    * the token stream is cut into consecutive `spanTokens`-token
    * blocks, and every block whose text occurs elsewhere in the corpus
    * is removed EXCEPT the globally first occurrence (min (doc_id,
    * span_idx) order). The semantic difference from [[cutDupSpans]] is
    * the point: ExactSubstr-style cutting deletes every copy of a
    * duplicated span, C4-style keeps exactly one — the corpus still
    * contains each span once, so no content is lost, only repetition.
    *
    * Scale shape: per-row block projection (no corpus-sized
    * intermediate), ONE groupBy on the block hash computing the
    * min-(doc_id, idx) struct (partial-aggregated — a boilerplate
    * block costs one aggregate row no matter how many copies exist),
    * join back on the same hash key (shuffle-pinned so AQE can't
    * broadcast a corpus-sized group table off a small-SF estimate),
    * then one per-doc re-aggregation whose collect_list is bounded by
    * the DOC's span count, never the corpus. The winner-struct
    * comparison makes keep-first a pure aggregate — no window over the
    * corpus, no second pass.
    *
    * Output: doc_id, n_spans, n_removed, clean_hash (portable 32-bit
    * hash of the space-joined kept remainder, in original span order).
    */
  def keepFirstSpanDedup(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    val docs = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("toks"))
    // consecutive (non-overlapping) spans; the last one may be short —
    // slice past the end just truncates. Empty docs produce zero spans
    // (sequence would DESCEND on a negative upper bound, hence the
    // guard; size() is -1 on NULL text, so <= 0 covers both).
    val spans = docs.select(col("doc_id"),
      posexplode(
        when(size(col("toks")) <= 0, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0),
              floor((size(col("toks")) - 1) / spanTokens).cast("int")),
            i => array_join(
              slice(col("toks"), i * spanTokens + 1, lit(spanTokens)),
              " "))))
        .as(Seq("sp", "stxt")))
      // Group on the FULL 128-bit md5, not a 32-bit prefix: beyond ~10^5
      // distinct spans 32-bit collisions are expected and would falsely
      // remove distinct spans — a destructive decision at corpus scale.
      // The reported clean_hash stays 32-bit (it's a fingerprint, not a
      // grouping key).
      .withColumn("g", md5(col("stxt")))
    val firstOcc = spans
      .groupBy("g")
      .agg(min(struct(col("doc_id"), col("sp"))).as("keep"))
      .hint("shuffle_hash")
    spans.hint("shuffle_hash")
      .join(firstOcc, Seq("g"))
      .withColumn("kept", col("doc_id") === col("keep.doc_id") &&
        col("sp") === col("keep.sp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_removed"),
        sort_array(collect_list(
          struct(col("sp"), when(col("kept"), col("stxt")).as("stxt"))))
          .as("ordered"))
      .select(col("doc_id"), col("n_spans"), col("n_removed"),
        TextOps.hash32(array_join(
          // filter AFTER the positional sort: removed spans drop out,
          // survivors keep original order
          transform(filter(col("ordered"), s => s.getField("stxt").isNotNull),
            s => s.getField("stxt")), " ")).as("clean_hash"))
  }
}
