package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.ops.Ops

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight"),
    (1L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup
    (2L, "the quick brown fox jumps over the lazy cat tonight"), // near dup
    (3L, "completely different words about spark query engines here"),
    (4L, "another unrelated document mentioning join and filter things"))
    .toDF("doc_id", "text")

  test("Dedup.exact keeps min id per content hash") {
    val r = Dedup.exact(corpus, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(r.length == 4) // 5 docs, one exact pair
    val dup = r.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 0L) // keep_id is the min of {0,1}
  }

  test("Dedup.ngramJaccardPairs finds exact + near dups, not others") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
  }

  test("Dedup.ngramJaccardPairs maxPosting bounds a boilerplate cluster") {
    // 30 docs all sharing one boilerplate prefix shingle ("terms of
    // service apply"), each with a unique tail: uncapped, the shared
    // shingle alone makes every doc a candidate pair of every other
    // (30*29/2 = 435 self-join rows through that one posting list).
    val boiler = (0L until 30L).map(i =>
      (i, s"terms of service apply doc$i unique tail $i content"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.0)
    assert(uncapped.count() == 435) // every pair shares >= 1 shingle
    // Cap postings at 10: the 30-doc boilerplate shingles are dropped,
    // and no pair shares a rare shingle, so nothing survives.
    val capped = Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.0,
      maxPosting = 10)
    assert(capped.count() == 0)
    // Default (no cap) is bit-identical to the pre-cap behavior on the
    // oracle corpus.
    val before = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val after = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5,
      maxPosting = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(before == after)
  }

  test("Similarity.sparseCosinePairs scores shared terms only, " +
    "integer-exact") {
    val pairs = Similarity.sparseCosinePairs(corpus, "doc_id", "text", 0.0)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // exact dup pair: identical tf vectors -> cosine exactly 1.0
    assert(pairs((0L, 1L))._2 == 1.0)
    // docs 3 and 4 share no token -> no shared-term posting row, so the
    // pair never materializes (the inverted index prunes it, unlike a
    // dense all-pairs scorer)
    assert(!pairs.contains((3L, 4L)))
    // dot product is the exact integer overlap: docs 0 and 2 share
    // 7 single-occurrence tokens plus "the" (tf 2x2) -> 7 + 4 = 11
    assert(pairs((0L, 2L))._1 == 11L)
    // threshold filters: near-dup survives 0.9, cross-topic does not
    val strict = Similarity.sparseCosinePairs(corpus, "doc_id", "text", 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("Similarity.sparseCosinePairs maxPosting drops stopword-grade " +
    "terms") {
    // 30 docs sharing one stopword; pairs exist only through it
    val boiler = (0L until 30L).map(i => (i, s"common word$i"))
      .toDF("doc_id", "text")
    assert(Similarity.sparseCosinePairs(boiler, "doc_id", "text", 0.0)
      .count() == 435)
    assert(Similarity.sparseCosinePairs(boiler, "doc_id", "text", 0.0,
      maxPosting = 10).count() == 0)
  }

  test("Diff.snapshotDiff classifies added/removed/changed, null-safe") {
    val old = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
        (3L, Some("c"), 30.0), (4L, None: Option[String], 40.0))
      .toDF("k", "s", "v")
    val cur = Seq((1L, Some("a"), 10.0), (2L, Some("B"), 20.0),
        (4L, Some("d"), 40.0), (5L, Some("e"), 50.0))
      .toDF("k", "s", "v")
    val r = Diff.snapshotDiff(old, cur, Seq("k"), Seq("s", "v"))
      .collect().map(x => x.getLong(0) ->
        (x.getString(1), x.getSeq[String](2))).toMap
    assert(r.size == 4) // key 1 unchanged -> absent
    assert(r(2L) == ("changed", Seq("s")))
    assert(r(3L) == ("removed", Seq()))
    assert(r(4L) == ("changed", Seq("s"))) // NULL -> value is a change
    assert(r(5L) == ("added", Seq()))
  }

  test("Diff.snapshotDiff withPayload is an applyable CDC delta: " +
    "old + delta reconstructs cur") {
    val old = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .filter(col("o_orderkey") % 13 =!= 1)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val cur = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .filter(col("o_orderkey") % 11 =!= 2)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val delta = Diff.snapshotDiff(old, cur, Seq("o_orderkey"),
      Seq("o_orderstatus", "o_totalprice"), withPayload = true)
    // apply: drop removed+changed keys from old, union the new_vals of
    // added+changed
    val dropKeys = delta.filter(col("status").isin("removed", "changed"))
      .select("o_orderkey")
    val upserts = delta.filter(col("status").isin("added", "changed"))
      .select(col("o_orderkey"), col("new_vals.o_orderstatus"),
        col("new_vals.o_totalprice"))
    val rebuilt = old.join(dropKeys, Seq("o_orderkey"), "left_anti")
      .union(upserts)
    assert(rebuilt.exceptAll(cur).count() == 0)
    assert(cur.exceptAll(rebuilt).count() == 0)
    assert(delta.filter(col("status") === "changed").count() > 0)
  }

  test("Bpe.train learns the classic merge sequence, corpus-weighted") {
    // words: hug x3, pug, pun, bun, hugs (weights from duplication).
    // round 1 pairs: (u,g)=5 [hug*3 + pug + hugs], (h,u)=4, (p,u)=2,
    // (u,n)=2, (b,u)=1, (g,s)=1 -> merge (u,g).
    // round 2: (h,ug)=4 beats (p,ug)=1, (ug,s)=1, (u,n)=2 -> (h,ug).
    val docs = Seq((1L, "hug hug pug pun"), (2L, "hug bun hugs"))
      .toDF("doc_id", "text")
    val rules = Bpe.train(docs, "text", merges = 2)
      .orderBy("round").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getLong(3)))
    assert(rules.toSeq == Seq((1L, "u", "g", 5L), (2L, "h", "ug", 4L)))
  }

  test("Bpe.train: driver-side and distributed merge loops emit " +
    "identical rule tables") {
    // richer corpus: ties, repeated merges, multi-round cascades
    val docs = Seq((1L, "hug hug pug pun bun hugs"),
      (2L, "lower lowest newer newest wide wider widest"),
      (3L, "aaa aab aba abba banana bandana"))
      .toDF("doc_id", "text")
    def rulesOf(threshold: Long) =
      Bpe.train(docs, "text", merges = 12, localThreshold = threshold)
        .orderBy("round").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getString(2),
          x.getLong(3))).toSeq
    val local = rulesOf(Long.MaxValue) // word table always "fits"
    val dist = rulesOf(0L)             // never fits -> per-round jobs
    assert(local == dist, s"paths diverged:\nlocal $local\ndist  $dist")
    assert(local.length == 12)
  }

  test("Bpe merge is greedy leftmost; segment replays rules in order") {
    // "a a a" with pair (a,a): leftmost pair merges, third stays
    val m = Seq((1L, "aaa")).toDF("doc_id", "text")
    val seg0 = Bpe.segment(m, "doc_id", "text", Seq(("a", "a")))
      .collect()(0).getSeq[String](2)
    assert(seg0 == Seq("aa", "a"))
    // replaying both learned rules segments held-out words correctly
    val docs = Seq((1L, "hugs pun")).toDF("doc_id", "text")
    val seg = Bpe.segment(docs, "doc_id", "text",
      Seq(("u", "g"), ("h", "ug")))
      .collect().map(x => (x.getString(1), x.getSeq[String](2))).toMap
    assert(seg("hugs") == Seq("hug", "s"))
    assert(seg("pun") == Seq("p", "u", "n"))
  }

  test("BpeFixtureRules provenance: Bpe.train on the sf0.01 fixture " +
    "reproduces qQ2's embedded merge table exactly") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01",
      "documents")
    val trained = Bpe.train(docs, "text", merges = 24)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(trained == graft.queries.LlmOps.BpeFixtureRules,
      "the embedded literal diverged from training — re-run " +
        "graft.tools.BpeDump and refresh LlmOps.BpeFixtureRules")
  }

  test("mergeChainSql wrapping reproduces greedy-leftmost kernel " +
    "semantics on the overlap edge cases") {
    // the wrapped-replace encoding must skip-ahead exactly like the
    // kernel: (a,a) on "aaaa" -> [aa, aa]; on "aaa" -> [aa, a];
    // cascaded multi-char rules on a held-out word
    val rules = Seq(("a", "a"), ("aa", "a"))
    val docs = Seq((1L, "aaaa aaa aaaaa")).toDF("doc_id", "text")
    val segs = Bpe.segmentWithPos(docs, "doc_id", "text", rules)
      .collect().map(r => (r.getString(2), r.getSeq[String](3))).toMap
    assert(segs("aaaa") == Seq("aa", "aa"))
    assert(segs("aaa") == Seq("aaa"))          // (a,a) then (aa,a)
    // (a,a): [aa, aa, a]; then (aa,a) first matches at index 1
    assert(segs("aaaaa") == Seq("aa", "aaa"))
    // the generated SQL text unrolls one replace per rule, in order
    val sql = Bpe.mergeChainSql(rules)
    assert(sql.indexOf("'aa'") > 0 && sql.startsWith("replace(replace(s"))
  }

  test("cooldownDedupStreamed (custom physical operator) agrees with " +
    "the fold-based operator on the events table") {
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val fold = Timeseries.cooldownDedup(events,
      Seq("user_id", "event_type"), "ts", "event_id", 7L * 86400L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val exec = Timeseries.cooldownDedupStreamed(events,
      Seq("user_id", "event_type"), "ts", "event_id", 7L * 86400L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(exec == fold)
    assert(exec.nonEmpty)
    // the streamed form is a filter: all input columns survive
    assert(Timeseries.cooldownDedupStreamed(events,
      Seq("user_id"), "ts", "event_id", 60L).columns.toSeq
      == events.columns.toSeq)
  }

  test("Timeseries.cooldownDedup anchors on KEPT events, not lag") {
    // events at t=0, 60, 120 with cooldown 100: greedy keeps {0, 120}
    // (120-0 >= 100); lag-based suppression would keep only {0} since
    // each event is within 100 of its predecessor
    val ev = Seq((1L, 0L, 10L), (1L, 60L, 11L), (1L, 120L, 12L))
      .map { case (u, t, id) => (u, new java.sql.Timestamp(t * 1000L), id) }
      .toDF("user_id", "ts", "event_id")
    val kept = Timeseries.cooldownDedup(ev, Seq("user_id"), "ts",
      "event_id", cooldownSec = 100L)
      .collect().map(_.getLong(2)).sorted
    assert(kept.toSeq == Seq(10L, 12L))
  }

  test("Dedup.ngramJaccardPrefixPairs equals the full inverted-index " +
    "join at several thresholds") {
    // 0.1 is the FP-hazard threshold: 0.1*30 rounds to 3.0000000000000004
    // so a naive ceil over-shortens the prefix by one token (ADVICE r4)
    for (t <- Seq(0.1, 0.3, 0.5, 0.9)) {
      val full = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      for (byDf <- Seq(false, true)) {
        val pref = Dedup.ngramJaccardPrefixPairs(corpus, "doc_id", "text",
            3, t, dfOrdered = byDf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        assert(pref == full,
          s"prefix filter lost pairs at t=$t (dfOrdered=$byDf)")
      }
    }
  }

  test("Dedup.ngramJaccardPrefixPairs keeps the FP-boundary pair " +
    "(t=0.1, sizes 30 vs 3, J exactly 0.1)") {
    // 0.1*30 rounds ABOVE 3.0 in doubles: a naive ceil shortens doc A's
    // prefix to 27 (exact bound: 28) and the naive size-ratio filter
    // rejects sb=3 >= 3.0000000000000004. The 3 shared shingles are made
    // the most frequent (fillers raise their df), so rare-df-first puts
    // them at ranks 28-30 of doc A — only the exact bound indexes rank 28.
    val s = "s1 s2 s3 s4 s5"
    val docA = (1 to 27).map(i => s"a$i").mkString(" ") + " " + s // 30 sh
    val fix = Seq(1L -> docA, 2L -> s,                           // 3 sh
      3L -> s"c1 c2 $s", 4L -> s"d1 d2 $s", 5L -> s"e1 e2 $s")
      .toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(fix, "doc_id", "text", 3, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    for (byDf <- Seq(false, true)) {
      val pref = Dedup.ngramJaccardPrefixPairs(fix, "doc_id", "text",
          3, 0.1, dfOrdered = byDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(pref.exists(p => p._1 == 1L && p._2 == 2L),
        s"boundary pair (1,2) lost to FP rounding (dfOrdered=$byDf): $pref")
      assert(pref == full)
    }
  }

  test("Dedup.containmentPrefixPairs equals the full inverted-index " +
    "containment join at several thresholds, under BOTH prefix orders") {
    for (t <- Seq(0.1, 0.3, 0.6, 0.9); byDf <- Seq(false, true)) {
      val full = Dedup.containmentPairs(corpus, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val pref = Dedup.containmentPrefixPairs(corpus, "doc_id", "text",
          3, t, dfOrdered = byDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(pref == full,
        s"containment prefix filter drifted at t=$t dfOrdered=$byDf")
    }
  }

  test("Dedup.containmentPrefixPairsDfGated: maxDfFrac=1 is bit-equal " +
    "to the ungated operator; a corpus-wide inline boilerplate tail " +
    "is dropped from every set and stops inflating containment") {
    // every doc carries the same glued-on license tail (NO line
    // structure — the posture qS0's C4 line gate cannot cover); doc
    // 1's unique head is a prefix of doc 2's, but only the shared
    // tail pushes its ungated containment over the threshold
    val tail = "all content copyright of the site owners all rights " +
      "reserved forever"
    val head = "red apple green pear yellow plum blue berry black grape"
    val docs = Seq(
      (1L, s"$head $tail"),
      (2L, s"$head white peach extra words $tail"),
      // 3 is SHORT: after the shared tail its ungated containment in
      // everything is ~0.75 — the boilerplate-inflation failure mode
      (3L, s"tiny different words $tail"),
      (4L, s"yet another unrelated document body with its own words " +
        s"$tail"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // frac = 1: nothing can exceed df = N, bit-equal to ungated
    val ungated = Dedup.containmentPrefixPairs(docs, "doc_id", "text",
      3, 0.6)
    val frac1 = Dedup.containmentPrefixPairsDfGated(docs, "doc_id",
      "text", 3, 0.6, maxDfFrac = 1.0)
    assert(ungated.collect().map(_.toString).sorted.toSeq ==
      frac1.collect().map(_.toString).sorted.toSeq)
    // ungated: the shared tail alone puts the short doc 3 >= 0.6
    // inside docs it shares NOTHING real with (the inflation mode)
    assert(pairs(ungated).contains((3L, 4L)), pairs(ungated).toString)
    // gated at 0.5: the tail's shingles sit in all 4 docs (df = N >
    // 0.5N) and are dropped; the true head containment (1 -> 2)
    // survives, computed over the gated sets, and every
    // boilerplate-only pair dies
    val gated = Dedup.containmentPrefixPairsDfGated(docs, "doc_id",
      "text", 3, 0.6, maxDfFrac = 0.5)
    val g = pairs(gated)
    assert(g.contains((1L, 2L)), s"true containment lost: $g")
    assert(!g.exists(p => p._1 >= 3L || p._2 >= 3L),
      s"boilerplate-only pairs survived the gate: $g")
  }

  test("Dedup.containmentPrefixPairs keeps the asymmetric " +
    "short-in-long pair a Jaccard threshold misses") {
    // doc 2 (5 shingles) quoted wholesale inside doc 1 (30 shingles):
    // containment(2→1) = 1.0 while J = 5/30 ≈ 0.17 — and the directed
    // prefix must come from the CONTAINED side only (a full-side
    // prefix would lose the pair: doc 1's prefix at t=0.9 is 4 tokens
    // of 30 and need not hit the 5 shared ones)
    val shared = "s1 s2 s3 s4 s5 s6 s7"
    val fix = Seq(
      1L -> ((1 to 25).map(i => s"a$i").mkString(" ") + " " + shared),
      2L -> shared,
      3L -> "x1 x2 x3 x4 x5 x6 x7 x8").toDF("doc_id", "text")
    val got = Dedup.containmentPrefixPairs(fix, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.exists(p => p._1 == 2L && p._2 == 1L && p._3 == 1.0),
      s"lost the contained pair: ${got.toSeq}")
    val full = Dedup.containmentPairs(fix, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == full.toSet)
  }

  test("connectedComponents: pointer jumping converges a graph whose " +
    "diameter far exceeds the relax-round budget") {
    // a 61-node chain has diameter 60: 20 relax rounds alone cover
    // distance <= 20, so full convergence PROVES the between-batch
    // label <- label(label) shortcut is live (r12 — without it, long
    // chains silently terminated at maxIter with wrong components)
    val chain = spark.range(0, 60).toDF("a")
      .select(col("a"), (col("a") + 1).as("b"))
    onCorpusTier { // the HashMin tier: the driver tier has no relax budget
      val r = Dedup.connectedComponents(chain, maxIter = 20)
      assert(r.count() == 61)
      assert(r.filter(col("component") =!= 0L).count() == 0,
        "diameter-60 chain did not fully converge to the component min")
    }
  }

  test("Dedup.minhashLshPairs agrees with exact Jaccard at threshold") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 8, 4, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("Dedup.minhashLshPairs maxBucket prunes hot buckets") {
    // With maxBucket=0 every bucket is "hot" -> no candidates survive.
    val r = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 8, 4, 0.0,
      maxBucket = 0)
    assert(r.count() == 0)
  }

  test("Dedup.simhash is deterministic; identical docs collide; " +
    "simhashPairs finds the near pair") {
    val sh = Dedup.simhash(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 3, bandsCount = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L))) // hamming 0
  }

  test("Dedup.embeddingCosinePairs flags identical and near vectors") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("Similarity: brute-force top-k ranks by cosine; LSH candidates " +
    "are a subset scored identically") {
    val vecs = (0L until 20L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 7 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      col("vid") === 0, 5).collect()
    assert(bf.length == 5)
    assert(bf.map(_.getLong(3)).toSeq.sorted == Seq(1L, 2L, 3L, 4L, 5L))
    val cos = bf.map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })

    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding",
      col("vid") === 0, planes = 2, k = 5).collect()
    val bfMap = bf.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    lsh.foreach { r =>
      val c = r.getLong(1)
      if (bfMap.contains(c)) assert(bfMap(c) == r.getDouble(2))
    }
  }

  test("TextAnalysis.langId scores profiles and falls back to und") {
    val docs = Seq(
      (0L, "the cat and the hat is here"),
      (1L, "der hund und die katze"),
      (2L, "xyzzy plugh")).toDF("doc_id", "text")
    val r = TextAnalysis.langId(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(r(0L) == "en" && r(1L) == "de" && r(2L) == "und")
  }

  test("TextAnalysis.qualityScore bounds and fields") {
    val docs = Seq((0L, "the and of to a is " * 20 + "end")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(docs, "doc_id", "text").collect()(0)
    val score = r.getAs[Double]("quality_score")
    assert(score >= 0.0 && score <= 1.0)
    assert(r.getAs[Double]("stop_ratio") > 0.5)
  }

  test("TextAnalysis.tokenCounts: regex tokenizer counts punct singly") {
    val docs = Seq((0L, "hello, world! two-words")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(docs, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("ws_tokens") == 3L)
    // hello , world ! two - words
    assert(r.getAs[Long]("regex_tokens") == 7L)
  }

  test("TextAnalysis.fingerprint is order-sensitive") {
    val docs = Seq((0L, "alpha beta gamma"), (1L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.fingerprint(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(0L) != r(1L))
  }

  test("Ops.logPdfCdf: pdf sums to 1, cdf ends at 1, all bins present") {
    val df = Seq.tabulate(1000)(i => ("g", 1.0 + i % 97)).toDF("grp", "x")
    val nb = Ops.numLogBins(1.0, 100.0, 0.1)
    val r = Ops.logPdfCdf(df, "x", "grp", 1.0, 100.0, 0.1)
      .orderBy("bin").collect()
    assert(r.length == nb)
    val pdfSum = r.map(_.getAs[Double]("pdf")).sum
    assert(math.abs(pdfSum - 1.0) < 1e-4)
    assert(math.abs(r.last.getAs[Double]("cdf") - 1.0) < 1e-4)
    // cdf monotone
    val cdfs = r.map(_.getAs[Double]("cdf"))
    assert(cdfs.zip(cdfs.tail).forall { case (a, b) => b >= a - 1e-12 })
  }

  test("Ops.logPdfCdf matches the reference's cross-join semantics") {
    // Small data: compute the histogram the reference's way (cross join
    // every sample with every bin, sum the indicator) and compare counts.
    val xs = Seq(1.5, 2.0, 3.7, 10.0, 55.0, 99.0)
    val df = xs.map(("g", _)).toDF("grp", "x")
    val nb = Ops.numLogBins(1.0, 100.0, 0.5)
    val fast = Ops.logPdfCdf(df, "x", "grp", 1.0, 100.0, 0.5)
      .orderBy("bin").collect().map(r => r.getAs[Long]("bin_cnt")).toSeq
    val edges = (0 to nb).map(k => math.pow(10, 0.0 + k * 0.5))
    val slow = (0 until nb).map { k =>
      xs.count(x => x >= edges(k) && x < edges(k + 1) ||
        (k == nb - 1 && x == edges(nb)))
    }
    // same binning up to right-edge clamp handling
    assert(fast.map(_.toInt).sum == slow.sum)
    assert(fast.map(_.toInt) == slow)
  }

  test("Multimodal: features are deterministic; frame sampling shape") {
    val docs = Seq((0L, "abcdef"), (1L, "xyz")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(0L).n_bytes == 6)
    // checksum: sum of ('a'..'f' codes * position) % 997
    val expect = "abcdef".zipWithIndex.map { case (c, i) => c.toInt * (i + 1) }
      .sum % 997
    assert(feats(0L).checksum == expect)
    val frames = Multimodal.sampleFrames(media, stride = 2)
    assert(frames.filter(col("doc_id") === 0L).count() == 3) // offsets 0,2,4
  }

  test("Multimodal.decodeImage: real PPM/PGM/BMP parse with pixel " +
    "stats; corrupt and truncated bytes return None") {
    // P6 2x2, maxval 255, pixels (R,G,B) = (10,20,30) x4 + a comment line
    val ppm = ("P6\n# c\n2 2\n255\n".getBytes("UTF-8") ++
      Array.fill(4)(Array[Byte](10, 20, 30)).flatten)
    val pi = Multimodal.decodeImage(ppm).get
    assert(pi.format == "ppm" && pi.width == 2 && pi.height == 2)
    assert(pi.meanR == 10.0 && pi.meanG == 20.0 && pi.meanB == 30.0)
    // P5 grayscale 3x1, samples 0,128,255 -> all channel means equal
    val pgm = "P5\n3 1\n255\n".getBytes("UTF-8") ++
      Array[Byte](0, -128, -1) // 0, 128, 255 unsigned
    val gi = Multimodal.decodeImage(pgm).get
    assert(gi.format == "pgm" && gi.width == 3 && gi.height == 1)
    assert(gi.meanR == gi.meanB && math.abs(gi.meanR - 127.666) < 0.01)
    // hand-built 24-bpp BMP, 2x1 (row pads to 8 bytes): BGR order,
    // bottom-up; pixels (R,G,B) = (1,2,3) and (5,6,7)
    def le32(v: Int) = Array[Byte]((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 24) & 0xFF).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte)
    val bmp = ("BM".getBytes("UTF-8") ++ le32(54 + 8) ++ le32(0) ++
      le32(54) ++ // pixel offset
      le32(40) ++ le32(2) ++ le32(1) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(8) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array[Byte](3, 2, 1, 7, 6, 5, 0, 0)) // BGR, BGR, 2 pad bytes
    val bi = Multimodal.decodeImage(bmp).get
    assert(bi.format == "bmp" && bi.width == 2 && bi.height == 1)
    assert(bi.meanR == 3.0 && bi.meanG == 4.0 && bi.meanB == 5.0)
    // corrupt magic / truncated payload / short BMP -> None, no throw
    assert(Multimodal.decodeImage("P7\n2 2\n255\n".getBytes).isEmpty)
    assert(Multimodal.decodeImage(ppm.dropRight(1)).isEmpty)
    assert(Multimodal.decodeImage(bmp.take(40)).isEmpty)
    assert(Multimodal.decodeImage(Array[Byte]()).isEmpty)
  }

  test("AsOfJoin.backward: latest at-or-before per key, null before first, " +
    "multi-key isolation") {
    val left = Seq(
      (1L, "k1", 5L), (2L, "k1", 10L), (3L, "k1", 15L), (4L, "k1", 30L),
      (5L, "k2", 10L), (6L, "k3", 100L))
      .toDF("id", "k", "ts")
    val right = Seq(
      ("k1", 10L, "a"), ("k1", 20L, "b"),
      ("k2", 11L, "x")) // k2's only annotation is AFTER its event
      .toDF("k", "ts", "v")
    val got = AsOfJoin.backward(left, right, Seq("k"), "ts", Seq("v"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(got(1L) == null)  // before first annotation
    assert(got(2L) == "a")   // exact-ts tie: annotation applies
    assert(got(3L) == "a")   // between annotations -> earlier one
    assert(got(4L) == "b")   // after last -> latest
    assert(got(5L) == null)  // k2: annotation strictly later
    assert(got(6L) == null)  // k3: no annotations at all
    // left row count and columns preserved
    val out = AsOfJoin.backward(left, right, Seq("k"), "ts", Seq("v"))
    assert(out.count() == 6 && out.columns.toSeq == Seq("id", "k", "ts", "v"))
  }

  test("ANN recall: IVF and LSH top-k recover most of brute-force top-k " +
    "on clustered vectors") {
    // 4 well-separated clusters of 50 vectors each: approx methods should
    // recover nearly all true neighbors (deterministic data, no RNG)
    val vecs = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      (i, (0 until 8).map(d =>
        (if (d % 4 == c) 10f else 0f) + math.sin(i * 13 + d).toFloat * 0.3f))
    }.toDF("vec_id", "embedding")
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")))
        .toSet
    val isQ = col("vid") % 40 === 0
    val exact = topSet(Similarity.bruteForceTopK(vecs, "vec_id", "embedding", isQ, 5))
    val ivf = topSet(Similarity.ivfTopK(vecs, "vec_id", "embedding", isQ,
      centroidEvery = 37, k = 5))
    val lsh = topSet(Similarity.lshTopK(vecs, "vec_id", "embedding", isQ,
      planes = 3, k = 5))
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    assert(ivfRecall >= 0.6, s"IVF recall $ivfRecall")
    assert(lshRecall >= 0.6, s"LSH recall $lshRecall")
    // multi-probe dominates single-cell: probing 2 cells can only add
    // candidates, so its recall is >= the one-cell recall
    val mp = topSet(Similarity.ivfTopKMultiProbe(vecs, "vec_id",
      "embedding", isQ, centroidEvery = 37, k = 5, nProbe = 2))
    val mpRecall = (exact & mp).size.toDouble / exact.size
    assert(mpRecall >= ivfRecall, s"multi-probe $mpRecall < ivf $ivfRecall")
  }

  test("Similarity codebook selection: collect bounded at maxCentroids, " +
    "ordinal thinning exact on non-dense ids (VERDICT r15 #1)") {
    // 500 candidates with NON-DENSE vids (strictly increasing, gaps of
    // 5-9): ordinal thinning — every stride-th candidate in vid order —
    // differs from any vid-modulo shortcut on this id set, so matching
    // the driver-side reference selection proves the executor-side path
    // implements the ordinal contract, not an approximation.
    val vids = (0 until 500).map(i => i.toLong * 7 + (i % 3))
    val cands = vids.map(v => (v, s"payload$v")).toDF("vid", "p")
    val kept = Similarity.codebookKept(cands, maxCentroids = 64)
    // old path collected all 500 candidate rows; the frame that now
    // feeds the collect is bounded: stride = ceil(500/64) = 8, so
    // ceil(500/8) = 63 rows survive
    assert(kept.count() == 63L)
    val keptVids = kept.collect().map(_.getLong(0)).sorted.toSeq
    val reference = vids.sorted.zipWithIndex.collect {
      case (v, j) if j % 8 == 0 => v }
    assert(keptVids == reference)
    // payload columns ride along untouched
    assert(kept.columns.toSeq == Seq("vid", "p"))
    assert(kept.collect().forall(r => r.getString(1) == s"payload${r.getLong(0)}"))
    // under the cap the frame passes through whole (stride 1)
    assert(Similarity.codebookKept(cands, maxCentroids = 1000).count() == 500L)
    // NEGATIVE ids are legal (block arithmetic is offset from min)...
    val neg = (0 until 300).map(i => (i.toLong * 11 - 1650, i))
      .toDF("vid", "p")
    val negKept = Similarity.codebookKept(neg, maxCentroids = 32)
      .collect().map(_.getLong(0)).sorted.toSeq
    val negWant = neg.collect().map(_.getLong(0)).sorted.toSeq
      .zipWithIndex.collect { case (v, j) if j % 10 == 0 => v }
    assert(negKept == negWant)
    // ...but a >2^63 id span is refused loudly, not silently mis-bucketed
    val spanned = Seq((Long.MinValue + 1, 0), (Long.MaxValue - 1, 1))
      .toDF("vid", "p")
    val e = intercept[IllegalArgumentException] {
      Similarity.codebookKept(spanned, maxCentroids = 1)
    }
    assert(e.getMessage.contains("re-id the corpus"))
  }

  test("codebook block planning rebalances a value-skewed id space " +
    "(VERDICT r16 #5): dense cluster + far outlier switches to " +
    "quantile blocks, ordinals stay exact") {
    // 3000 dense ids [0, 3000) plus ONE outlier at 3e12: the uniform
    // value-range split puts the whole cluster in block 0 (width ~2.9e9)
    // — exactly the documented degradation. Detection must fire and the
    // quantile re-split must actually balance.
    val vids = (0L until 3000L) :+ 3000000000000L
    val cands = vids.map(v => (v, v * 2)).toDF("vid", "p").repartition(8)
    val plan = graft.operators.Similarity.planBlocks(
      cands, n = vids.size.toLong, lo = 0L, hi = 3000000000000L,
      rebalanceFloor = 100L)
    assert(plan.rebalanced, "skew not detected")
    val maxAfter = plan.counts.map(_._2).max
    assert(maxAfter <= vids.size / 32 + 1,
      s"quantile blocks still skewed: max block $maxAfter of ${vids.size}")
    // counts cover every candidate exactly once
    assert(plan.counts.map(_._2).sum == vids.size.toLong)
    // block ids are monotone in vid (order-preserving bucketing) — the
    // property that makes offset+in-block-rank an EXACT global ordinal
    val rows = plan.ids.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.sortBy(_._1).map(_._2).sliding(2).forall(
      w => w.length < 2 || w(0) <= w(1)))
    // ...and the full selection through codebookKept matches the
    // driver-side ordinal reference on the same adversarial set
    // (default floor: this frame is far below 2^20, so the DECLARED
    // queries' plans are untouched — the spec exercises the rescue by
    // lowering the floor explicitly above)
    val kept = graft.operators.Similarity.codebookKept(cands, 64)
      .collect().map(_.getLong(0)).sorted.toSeq
    val stride = (vids.size + 63) / 64
    val want = vids.sorted.zipWithIndex.collect {
      case (v, j) if j % stride == 0 => v }
    assert(kept == want)
    // the uniform path still reports its (un-rebalanced) counts so the
    // degradation is visible with numbers when below the floor
    val unif = graft.operators.Similarity.planBlocks(
      cands, n = vids.size.toLong, lo = 0L, hi = 3000000000000L)
    assert(!unif.rebalanced && unif.counts.map(_._2).max == 3000L)
  }

  test("Skew.saltedJoin: matches plain join, inner and left, salt dropped") {
    // skewed fact: 90% of rows share key 1
    val fact = ((1 to 900).map(i => (1L, i.toDouble)) ++
      (1 to 100).map(i => ((i % 7 + 2).toLong, i.toDouble)) ++
      Seq((999L, -1.0))) // key with no dim match
      .toDF("k", "v").repartition(8)
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"),
      (5L, "d"), (6L, "e"), (7L, "f"), (8L, "g")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val got = Skew.saltedJoin(fact, dim, Seq("k"), 8, jt)
        .groupBy("k", "name").agg(count(lit(1)).as("n"),
          sum("v").as("sv")).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("name")) ->
          (r.getAs[Long]("n"), r.getAs[Double]("sv"))).toMap
      val want = fact.join(dim, Seq("k"), jt)
        .groupBy("k", "name").agg(count(lit(1)).as("n"),
          sum("v").as("sv")).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("name")) ->
          (r.getAs[Long]("n"), r.getAs[Double]("sv"))).toMap
      assert(got == want, s"joinType=$jt")
    }
    assert(!Skew.saltedJoin(fact, dim, Seq("k"), 8).columns.contains("__salt"))
  }

  test("Dedup.connectedComponents: chains, cliques, isolated nodes, " +
    "multi-round convergence") {
    // component 1: a 6-node CHAIN 10-11-12-13-14-15 (diameter 5 forces
    // several HashMin rounds); component 2: a triangle; 99 is isolated
    // (absent from edges entirely)
    val edges = Seq((11L, 10L), (11L, 12L), (12L, 13L), (14L, 13L),
      (14L, 15L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert((10L to 15L).forall(got(_) == 10L))
    assert((20L to 22L).forall(got(_) == 20L))
    assert(!got.contains(99L))

    val docs = (10L to 22L).toDF("doc_id")
    val assign = Dedup.canonicalAssignment(
      docs, "doc_id", edges, "a", "b").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("canonical"), r.getAs[Boolean]("keep"))).toMap
    assert(assign(16L) == (16L, true)) // no-dup doc keeps itself
    assert(assign(15L) == (10L, false) && assign(10L) == (10L, true))
  }

  test("TopK.perGroup: bounded Aggregator matches window top-k incl. ties " +
    "across partitions") {
    // 8 partitions force the merge() path; duplicate scores force the
    // (score desc, id asc) tie-break
    val rows = (0L until 400L).map(i => (s"g${i % 4}", i, (i % 50).toDouble))
    val df = spark.createDataFrame(rows).toDF("g", "id", "v").repartition(8)
    val got = TopK.perGroup(df, "g", "id", "v", k = 5)
      .orderBy("g", "rank").collect()
      .map(r => (r.getString(0), r.getAs[Long]("id"),
        r.getAs[Double]("score"), r.getAs[Long]("rank")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g")
      .orderBy(col("v").desc, col("id").asc)
    val want = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).orderBy("g", "rank").collect()
      .map(r => (r.getString(0), r.getAs[Long]("id"),
        r.getAs[Double]("v"), r.getAs[Int]("rank").toLong))
    assert(got.toSeq == want.toSeq)
  }

  test("TopK property: seeded random scores with heavy ties == reference " +
    "sort, any k") {
    val rnd = new scala.util.Random(4242)
    for (k <- Seq(1, 3, 7)) {
      val rows = (0L until 500L).map(i =>
        ("g" + rnd.nextInt(3), i, rnd.nextInt(20).toDouble)) // many ties
      val df = spark.createDataFrame(rows).toDF("g", "id", "v")
        .repartition(8)
      val got = TopK.perGroup(df, "g", "id", "v", k).collect()
        .map(r => (r.getString(0), r.getAs[Long]("rank")) -> r.getAs[Long]("id"))
        .toMap
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
          .map { case (r, i) => (g, (i + 1).toLong) -> r._2 }
      }
      assert(got == want, s"k=$k")
    }
  }

  test("Catalog.conformTo is idempotent and null-safe on missing nests") {
    import graft.catalog.Catalog
    val df = Seq((1L, "x")).toDF("id", "keep")
    val target = graft.schema.BqSchema.parse("""[
      {"name":"id","type":"INT64","mode":"NULLABLE"},
      {"name":"nested","type":"RECORD","mode":"NULLABLE","fields":[
        {"name":"a","type":"STRING","mode":"NULLABLE"}]},
      {"name":"arr","type":"RECORD","mode":"REPEATED","fields":[
        {"name":"b","type":"INT64","mode":"NULLABLE"}]}]""")
    val once = Catalog.conformTo(df, target)
    val twice = Catalog.conformTo(once, target)
    assert(once.schema == twice.schema)
    val r = twice.collect()(0)
    assert(r.getAs[Long]("id") == 1L && r.getAs[Any]("nested") == null)
  }

  test("Ops.decilesByRank matches exact percentile() on every decile") {
    val rows = (0L until 2000L).map(i => (s"g${i % 7}", (i * 37 % 1009).toDouble))
    val df = spark.createDataFrame(rows).toDF("g", "x").repartition(8)
    val byRank = Ops.decilesByRank(df, "x", "g")
      .collect().map(r => (r.getString(0), r.getAs[Int]("idx")) ->
        r.getAs[Double]("qv")).toMap
    val byPerc = df.groupBy("g")
      .agg(expr("percentile(x, array(0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7," +
        "0.8,0.9,1.0))").as("qs"))
      .select(col("g"), posexplode(col("qs")).as(Seq("idx", "qv")))
      .collect().map(r => (r.getString(0), r.getAs[Int]("idx")) ->
        r.getAs[Double]("qv")).toMap
    assert(byRank.keySet == byPerc.keySet)
    byRank.foreach { case (k, v) =>
      assert(math.abs(v - byPerc(k)) < 1e-9, s"$k: $v vs ${byPerc(k)}") }
  }

  test("Ops.approxDistinct: within the configured error envelope of exact") {
    val df = (0 until 5000).map(i => (i % 2, i % 701, i % 997))
      .toDF("g", "x", "y")
    val got = Ops.approxDistinct(df, "g", Seq("x", "y"), relativeSD = 0.02)
      .collect().map(r => r.getAs[Int]("g") ->
        (r.getAs[Long]("approx_x"), r.getAs[Long]("approx_y"))).toMap
    // exact per group: x has 701 distinct, y 997 (5000 rows cover both mods)
    for (g <- Seq(0, 1); (approx, exact) <- Seq(got(g)._1 -> 701L, got(g)._2 -> 997L))
      assert(math.abs(approx - exact).toDouble / exact < 0.1,
        s"g=$g approx=$approx exact=$exact")
  }

  test("Pack.packSequences: two-phase prefix sum equals the naive global " +
    "window, and packs tile the token stream exactly") {
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 200L).map(i => (i, (i * 31 % 97 + 1).toInt))
      .toDF("doc_id", "ntok").repartition(8)
    val got = Pack.packSequences(docs, "doc_id", col("ntok"),
      contextLen = 64, blockLen = 16)
      .orderBy("doc_id", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // naive oracle: one global running sum
    val naive = docs.withColumn("start", coalesce(sum("ntok").over(
        Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .flatMap { case (id, n, start) =>
        (start / 64 to (start + n - 1) / 64).map { p =>
          val s = math.max(start, p * 64)
          (id, p, s - p * 64, math.min(start + n, (p + 1) * 64) - s)
        }
      }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == naive.toSeq)
    // tiling: per pack, segments sum to 64 (except the final pack)
    val perPack = got.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    val lastPack = perPack.keys.max
    perPack.foreach { case (p, tot) =>
      if (p != lastPack) assert(tot == 64L, s"pack $p has $tot tokens") }
  }

  test("Pack.binPackBySize: start-offset bins match the naive global " +
    "prefix and only oversized rows overflow the target") {
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 300L).map(i => (i, (i * 17 % 97 + 1)))
      .toDF("doc_id", "bytes").repartition(8)
    val got = Pack.binPackBySize(docs, "doc_id", col("bytes"),
      targetBytes = 256L, blockLen = 32L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val naive = docs.withColumn("start", coalesce(sum("bytes").over(
        Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2) / 256L)).toMap
    assert(got == naive)
    // every bin's bytes <= target + its last row's size (rows atomic)
    val perBin = got.values.groupBy(_._2).view
      .mapValues(vs => (vs.map(_._1).sum, vs.map(_._1).max))
    perBin.foreach { case (bin, (tot, mx)) =>
      assert(tot <= 256L + mx, s"bin $bin holds $tot bytes (max row $mx)") }
  }

  test("Sampling.stratified is deterministic and stable under append " +
    "and repartition") {
    val base = (0L until 2000L).map(i =>
      (i, if (i % 3 == 0) "en" else "zh")).toDF("doc_id", "lang")
    val kept1 = Sampling.stratified(base, "doc_id", "lang",
      Map("en" -> 0.3), 0.7).select("doc_id").collect().map(_.getLong(0)).toSet
    val kept2 = Sampling.stratified(base.repartition(13), "doc_id", "lang",
      Map("en" -> 0.3), 0.7).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == kept2) // repartition-stable
    // appending rows never flips existing decisions
    val appended = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else "zh")).toDF("doc_id", "lang")
    val kept3 = Sampling.stratified(appended, "doc_id", "lang",
      Map("en" -> 0.3), 0.7).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept3.filter(_ < 2000L) == kept1)
    // rates land near their targets
    val enRate = kept1.count(_ % 3 == 0).toDouble / (2000 / 3 + 1)
    val zhRate = kept1.count(_ % 3 != 0).toDouble / (2000 - 2000 / 3 - 1)
    assert(math.abs(enRate - 0.3) < 0.05, s"en rate $enRate")
    assert(math.abs(zhRate - 0.7) < 0.05, s"zh rate $zhRate")
  }

  test("VecAgg.meanPool equals explode-and-regroup, with map-side " +
    "partial aggregation") {
    val rows = (0 until 300).map(i =>
      (i % 5, Seq(i.toDouble, (i * 2).toDouble, (i % 7).toDouble)))
    val df = rows.toDF("g", "v").repartition(8)
    val pooled = VecAgg.meanPool(df, "g", "v", 3).collect()
      .map(r => r.getInt(0) -> (r.getSeq[Double](1), r.getLong(2))).toMap
    val oracle = rows.groupBy(_._1).map { case (g, vs) =>
      g -> Seq(0, 1, 2).map(d => vs.map(_._2(d)).sum / vs.size)
    }
    assert(pooled.keySet == oracle.keySet)
    pooled.foreach { case (g, (c, n)) =>
      assert(n == rows.count(_._1 == g).toLong)
      c.zip(oracle(g)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"g=$g: $c vs ${oracle(g)}") }
    }
    val p = VecAgg.meanPool(df, "g", "v", 3)
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
  }

  test("Dedup.minhashLshIncremental screens new-vs-old only, never " +
    "new-vs-new") {
    import spark.implicits._
    // docs 0,1 old near-dups; doc 10 new dup of them; docs 20,21 new
    // exact dups of EACH OTHER but of nothing old.
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight again"),
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (10L, "the quick brown fox jumps over the lazy dog tonight again"),
      (20L, "completely novel content about distributed query engines ok"),
      (21L, "completely novel content about distributed query engines ok"),
      (30L, "unique new document with no twin anywhere in the corpus"))
      .toDF("doc_id", "text")
    val r = Dedup.minhashLshIncremental(docs, "doc_id", "text",
      isNew = col("doc_id") >= 10L, shingleN = 3, bands = 8,
      rowsPerBand = 4, threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), Option(x.get(1)).map(_.asInstanceOf[Long]),
        x.getBoolean(3))).toSeq
    assert(r == Seq(
      (10L, Some(0L), true),   // min matching OLD id
      (20L, None, false),      // new-new dup is NOT reported
      (21L, None, false),
      (30L, None, false)))
  }

  test("vocab_encode maps tokens to 1-based vocab ranks, OOV to 0, " +
    "preserving order and duplicates") {
    import graft.functions.GraftFunctions
    GraftFunctions.registerAll(spark)
    val df = Seq((1L, Seq("b", "a", "zzz", "b", "c"))).toDF("id", "toks")
    val ids = df.select(GraftFunctions.vocabEncode(col("toks"),
      Seq("a", "b", "c")).as("ids")).collect()(0).getSeq[Int](0)
    assert(ids == Seq(2, 1, 0, 2, 3))
  }

  test("Chunk.slidingWindows tiles docs with the right overlap and " +
    "plans with zero exchanges") {
    val docs = Seq((1L, (1 to 50).map(i => s"t$i").mkString(" ")),
      (2L, "a b c")).toDF("doc_id", "text")
    val r = Chunk.slidingWindows(docs, "doc_id", "text", 20, 15)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // doc 1: starts 0,15,30,45 → lengths 20,20,20,5; doc 2: one chunk of 3
    assert(r.toSeq == Seq((1L, 0L, 0L, 20L), (1L, 1L, 15L, 20L),
      (1L, 2L, 30L, 20L), (1L, 3L, 45L, 5L), (2L, 0L, 0L, 3L)))
    val p = Chunk.slidingWindows(docs, "doc_id", "text", 20, 15)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking should not shuffle:\n$p")
  }

  test("Sampling.temporalSplit: floor-fraction per-key boundary, no " +
    "eval event precedes a train event") {
    import java.sql.Timestamp
    val ev = Seq(
      // user 1: five events -> 4 train / 1 eval
      (1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L), (1L, 4L, 40L),
      (1L, 5L, 50L),
      // user 2: three events -> floor(2.4) = 2 train / 1 eval
      (2L, 6L, 10L), (2L, 7L, 20L), (2L, 8L, 30L),
      // user 3: one event -> floor(0.8) = 0 train / 1 eval
      (3L, 9L, 10L))
      .map { case (u, e, t) => (u, e, new Timestamp(t * 1000)) }
      .toDF("user_id", "event_id", "ts")
    val r = Sampling.temporalSplit(ev, "user_id", "ts", "event_id", 4, 5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(3)))
    val trains = r.filter(_._3 == "train").map(t3 => (t3._1, t3._2)).toSet
    assert(trains == Set((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 6L), (2L, 7L)))
    // temporal honesty: per user, max train event precedes min eval one
    r.groupBy(_._1).foreach { case (_, rows) =>
      val (tr, ev2) = rows.partition(_._3 == "train")
      if (tr.nonEmpty && ev2.nonEmpty)
        assert(tr.map(_._2).max < ev2.map(_._2).min)
    }
  }

  test("Pca.topComponentScores recovers a planted dominant direction") {
    import graft.operators.Pca
    // rank-1 data: x_t = t * (3,1,0,0); top component is (3,1,0,0)/√10,
    // so centered projections are exactly t·√10 (t symmetric, mean 0)
    val dir = Seq(3.0, 1.0, 0.0, 0.0)
    val rows = (-5 to 5).map(t =>
      ((t + 5).toLong, dir.map(c => (c * t).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Pca.topComponentScores(df, "vec_id", "embedding", dim = 4)
      .orderBy("vec_id").collect().map(_.getDouble(1))
    assert(math.abs(got(5)) < 1e-6) // the center row projects to zero
    val step = math.sqrt(10.0)
    got.zipWithIndex.foreach { case (p, idx) =>
      assert(math.abs(math.abs(p) - math.abs((idx - 5) * step)) < 1e-2,
        s"row $idx projected to $p") }
    // monotone along the line (consistent sign over the whole component)
    assert(got.zip(got.tail).forall { case (a, b) => a < b } ||
      got.zip(got.tail).forall { case (a, b) => a > b })
  }

  test("Pca: identical vectors (zero covariance) yield finite " +
    "components and zero projections, not NaNs") {
    import graft.operators.Pca
    val df = (1L to 8L).map(i => (i, Seq(2.0f, -1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val (mean, comp) = Pca.topComponent(df, "embedding", dim = 3)
    assert(comp.forall(c => !c.isNaN && !c.isInfinite))
    val scores = Pca.topComponentScores(df, "vec_id", "embedding", dim = 3)
      .collect().map(_.getDouble(1))
    assert(scores.forall(_ == 0.0), scores.mkString(","))
    assert(mean.zip(Seq(2.0, -1.0, 0.5)).forall {
      case (m, e) => math.abs(m - e) < 1e-6 })
  }

  test("TextAnalysis.linearGate: stopword-rich docs outscore " +
    "punctuation-heavy ones; keep is exactly the logit sign") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the a of to and is the quick brown fox jumps over lazy dogs"),
      (2L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.linearGate(docs, "doc_id", "text",
      bias = -0.5, wLogTokens = 0.35, wAvgTokenLen = -0.1,
      wPunct = -2.0, wStop = 1.5, wRep = -1.2)
      .collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getBoolean(2)))).toMap
    assert(r(1L)._1 > r(2L)._1)
    assert(r(1L)._2 && !r(2L)._2)
    r.values.foreach { case (logit, keep) => assert(keep == (logit >= 0.0)) }
    // zero shuffles: model scoring is a scan-speed projection
    val p = TextAnalysis.linearGate(docs, "doc_id", "text",
      0, 1, 0, 0, 0, 0).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"gate should not shuffle:\n$p")
  }

  test("Dedup.dupNgramStats: shared spans counted, unique docs zero, " +
    "short docs report zero grams") {
    val docs = Seq(
      (1L, "one two three four five six alpha"),   // shares 5-gram span w/ 2
      (2L, "one two three four five six beta"),
      (3L, "totally different words here apart beyond gamma"),
      (4L, "tiny doc")) // < 5 tokens
      .toDF("doc_id", "text")
    val r = Dedup.dupNgramStats(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // docs 1/2: 3 grams each, the 2 grams inside "one..six" shared
    assert(r.toSeq == Seq((1L, 3L, 2L), (2L, 3L, 2L), (3L, 3L, 0L),
      (4L, 0L, 0L)))
  }

  test("Dedup.cutDupSpans removes exactly the covered positions and " +
    "hashes the remainder") {
    import graft.functions.TextOps
    val docs = Seq(
      (1L, "one two three four five six alpha"),
      (2L, "one two three four five six beta"),
      (3L, "totally different words here apart beyond gamma"),
      (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val r = Dedup.cutDupSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    def h(s: String): Long = spark.range(1)
      .select(TextOps.hash32(lit(s))).collect()(0).getLong(0)
    // docs 1/2 share grams at starts 0 and 1 → positions 0..5 covered;
    // the unique 7th token survives. 3 and 4 are untouched.
    assert(r.toSeq == Seq(
      (1L, 7L, 6L, h("alpha")), (2L, 7L, 6L, h("beta")),
      (3L, 7L, 0L, h("totally different words here apart beyond gamma")),
      (4L, 2L, 0L, h("tiny doc"))))
  }

  test("Dedup.cutDupSpans handles a long fully-covered doc without a " +
    "quadratic per-row kernel") {
    import graft.functions.TextOps
    // two identical 20k-token docs: every position of both is covered,
    // the remainder is empty. With the old array_contains-per-token
    // kernel this case was O(T*C) = 4*10^8 comparisons per row.
    val long = (0 until 20000).map(i => s"w${i % 97}").mkString(" ")
    val docs = Seq((1L, long), (2L, long), (3L, "lonely unique tail"))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val r = Dedup.cutDupSpans(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    def h(s: String): Long = spark.range(1)
      .select(TextOps.hash32(lit(s))).collect()(0).getLong(0)
    assert(r.toSeq == Seq((1L, 20000L, 20000L, h("")),
      (2L, 20000L, 20000L, h("")),
      (3L, 3L, 0L, h("lonely unique tail"))))
    // generous ceiling: the linear kernel finishes in well under a
    // second; the quadratic one took minutes on this input
    assert(elapsedSec < 60.0, f"cut took $elapsedSec%.1f s — kernel " +
      "regressed to super-linear?")
  }

  test("Dedup.keepFirstSpanDedup keeps exactly the globally first " +
    "occurrence of each span, incl. within-doc repeats") {
    import graft.functions.TextOps
    val docs = Seq(
      (1L, "a b c d e f"),        // both spans original
      (2L, "a b c x y z"),        // first span dups d1's span 0
      (3L, "d e f a b c"),        // both spans dup d1's
      (4L, "q r"),                // short unique doc (one short span)
      (5L, "m n o m n o"))        // WITHIN-doc repeat: first kept
      .toDF("doc_id", "text")
      // a null-text doc must yield zero spans, not a descending
      // sequence of garbage span indices
      .unionByName(Seq(6L).toDF("doc_id")
        .withColumn("text", lit(null).cast("string")))
    val r = Dedup.keepFirstSpanDedup(docs, "doc_id", "text", spanTokens = 3)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    def h(s: String): Long = spark.range(1)
      .select(TextOps.hash32(lit(s))).collect()(0).getLong(0)
    assert(r.toSeq == Seq(
      (1L, 2L, 0L, h("a b c d e f")),
      (2L, 2L, 1L, h("x y z")),
      (3L, 2L, 2L, h("")),
      (4L, 1L, 0L, h("q r")),
      (5L, 2L, 1L, h("m n o"))))
    // the contrast with cutDupSpans is the operator's point: C4 keeps
    // one copy corpus-wide, ExactSubstr-style cutting deletes them all
    val cut = Dedup.cutDupSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect().map(_.getLong(2))
    assert(cut(0) > 0L, "cutDupSpans should remove d1's copies too")
  }

  test("Order.globalIndex equals the naive global row_number and is " +
    "contiguous across blocks") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextOps
    val docs = (0L until 500L).map(Tuple1(_)).toDF("doc_id").repartition(8)
    val got = Order.globalIndex(docs, "doc_id", nBlocks = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val naive = docs.withColumn("h", TextOps.hash32(
        concat(lit("shuffle:"), col("doc_id").cast("string"))))
      .withColumn("pos",
        row_number().over(Window.orderBy("h", "doc_id")).cast("long") - 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == naive)
    assert(got.values.map(_._2).toSeq.sorted == (0L until 500L).toSeq)
  }

  test("Sampling.upsample: copy counts are floor(w)/ceil(w) with the " +
    "right expectation, deterministic across repartition") {
    val docs = (0L until 3000L).map(i =>
      (i, if (i % 2 == 0) "en" else "other")).toDF("doc_id", "lang")
    val up = Sampling.upsample(docs, "doc_id", "lang",
      Map("en" -> 2.3), defaultWeight = 0.5)
    val counts = up.groupBy("doc_id", "lang").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // en docs get 2 or 3 copies; others 0 (absent) or 1
    counts.foreach { case (id, lang, n) =>
      if (lang == "en") assert(n == 2L || n == 3L, s"doc $id: $n")
      else assert(n == 1L, s"doc $id: $n")
    }
    val enMean = counts.filter(_._2 == "en").map(_._3).sum.toDouble / 1500
    val otherKept = counts.count(_._2 == "other").toDouble / 1500
    assert(math.abs(enMean - 2.3) < 0.05, s"en mean $enMean")
    assert(math.abs(otherKept - 0.5) < 0.05, s"other keep $otherKept")
    val again = Sampling.upsample(docs.repartition(11), "doc_id", "lang",
      Map("en" -> 2.3), defaultWeight = 0.5)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == counts.map(c => c._1 -> c._3).toMap)
  }

  test("Funnel.stages counts only in-order progressions") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val events = Seq(
      // user 1: full funnel in order
      (1L, ts(1), 1L, "view"), (1L, ts(2), 2L, "click"),
      (1L, ts(3), 3L, "purchase"),
      // user 2: purchase BEFORE view/click — only stage 1 (the view)
      (2L, ts(1), 4L, "purchase"), (2L, ts(2), 5L, "view"),
      // user 3: click first doesn't count; then view → click = stage 2
      (3L, ts(1), 6L, "click"), (3L, ts(2), 7L, "view"),
      (3L, ts(3), 8L, "click"),
      // user 4: nothing relevant
      (4L, ts(1), 9L, "error"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = Funnel.stages(events, "user_id", "ts", "event_id",
      "event_type", Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 3L, 3L), (2L, 1L, 2L), (3L, 2L, 3L),
      (4L, 0L, 1L)))
  }

  test("Skew.hotKeys finds every truly-hot key via the one-pass CMS " +
    "with near-exact estimates") {
    // 100k rows: key "hot" holds 60%, "warm" 20%, the rest spread thin
    val df = (0 until 100000).map { i =>
      if (i % 10 < 6) "hot" else if (i % 10 < 8) "warm" else s"cold${i % 997}"
    }.toDF("k").repartition(16)
    val cands = Seq("hot", "warm", "cold1", "nosuch")
    val found = Skew.hotKeys(df, "k", cands, threshold = 10000L).toMap
    assert(found.contains("hot") && found.contains("warm"))
    assert(!found.contains("cold1") && !found.contains("nosuch"))
    // CMS never under-counts; over-count stays within eps*n = 100
    assert(found("hot") >= 60000L && found("hot") <= 60100L)
    assert(found("warm") >= 20000L && found("warm") <= 20100L)
  }

  test("BloomScreen.exactScreen equals a plain anti/semi join and the " +
    "candidate set stays near fpp") {
    // 2000 old docs; 400 new: 200 true dups of old, 200 unique
    val rows = (0L until 2000L).map(i => (i, s"old document number $i")) ++
      (10000L until 10200L).map(i => (i, s"old document number ${i - 10000}")) ++
      (20000L until 20200L).map(i => (i, s"fresh unique text $i"))
    val df = rows.toDF("doc_id", "text")
    val got = BloomScreen.exactScreen(df, "doc_id", "text",
      isNew = col("doc_id") >= 10000L, expectedItems = 2000L, fpp = 0.01)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size == 400)
    (10000L until 10200L).foreach(i => assert(got(i), s"missed dup $i"))
    (20000L until 20200L).foreach(i => assert(!got(i), s"false dup $i"))
    // the bloom routes few non-dups into the confirm join
    val bloom = df.filter(col("doc_id") < 10000L)
      .select(md5(col("text")).as("h")).stat.bloomFilter("h", 2000L, 0.01)
    val falsePos = (20000L until 20200L).count(i =>
      bloom.mightContainString(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"fresh unique text $i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString))
    assert(falsePos <= 20, s"bloom fpp blew up: $falsePos/200")
  }

  test("Similarity.kmeansStep: centroids are the member means of their " +
    "argmin cells") {
    // two tight clusters around (0,0) and (100,100); centroid seeds are
    // one member of each (ids 0 and 3 with centroidEvery=3)
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(100.0, 100.0)), (4L, Seq(101.0, 100.0)), (5L, Seq(100.0, 101.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansStep(vecs, "vec_id", "embedding",
      centroidEvery = 3, dim = 2)
      .orderBy("cell").collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1), x.getLong(2)))
    assert(r.length == 2)
    assert(r(0) == ((0L, Seq(1.0 / 3, 1.0 / 3), 3L)))
    assert(r(1) == ((3L, Seq(100.0 + 1.0 / 3, 100.0 + 1.0 / 3), 3L)))
  }

  test("Similarity.kmeansTrain: a captured point migrates to its true " +
    "cluster on the second Lloyd round") {
    // seeds = ids 0 and 4 (centroidEvery=4), placed at (4,0) and (6,0).
    // Round 1: the point at (4.9,0) is nearer seed A=(4,0) than B=(6,0),
    // so A captures it along with the origin cluster — A's mean drops to
    // (1.78,0) while B's rises to (6.5,0). Round 2 against the
    // RE-EMBEDDED codebook flips it: 4.9 is now 3.12 from A's centroid
    // but 1.6 from B's. A one-step kmeansStep cannot see this; only the
    // refreshed-codebook loop does.
    val vecs = Seq(
      (0L, Seq(4.0, 0.0)), (1L, Seq(0.0, 0.0)), (2L, Seq(0.5, 0.0)),
      (3L, Seq(-0.5, 0.0)), (4L, Seq(6.0, 0.0)), (5L, Seq(4.9, 0.0)),
      (6L, Seq(7.0, 0.0)))
      .toDF("vec_id", "embedding")
    val one = Similarity.kmeansTrain(vecs, "vec_id", "embedding",
      centroidEvery = 4, dim = 2, iterations = 1)
      .orderBy("cell").collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1), x.getLong(2)))
    assert(one.map(x => (x._1, x._3)).toSeq == Seq((0L, 5L), (4L, 2L)))
    val two = Similarity.kmeansTrain(vecs, "vec_id", "embedding",
      centroidEvery = 4, dim = 2, iterations = 2)
      .orderBy("cell").collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1), x.getLong(2)))
    assert(two.map(x => (x._1, x._3)).toSeq == Seq((0L, 4L), (4L, 3L)))
    // cell A's final mean is exact in binary: (4 + 0 + 0.5 - 0.5)/4 = 1
    assert(two(0)._2 == Seq(1.0, 0.0))
    // cell B's mean (6 + 4.9 + 7)/3 — partial-sum order varies, compare
    // with tolerance
    assert(math.abs(two(1)._2.head - 17.9 / 3) < 1e-9 &&
      two(1)._2(1) == 0.0)
  }

  private lazy val series = Seq(
    // user 1: days 1, 4 (gap of 2 interior days), 5
    (1L, "2024-01-01 10:00:00", 10.0, 100L),
    (1L, "2024-01-04 09:00:00", 40.0, 101L),
    (1L, "2024-01-05 09:00:00", 50.0, 102L),
    // user 2: one observation only — no gaps, no lead
    (2L, "2024-01-02 12:00:00", 7.0, 103L),
    // user 3: gap wider than maxGap (3 with maxGapDays=2)
    (3L, "2024-01-01 08:00:00", 1.0, 104L),
    (3L, "2024-01-04 08:00:00", 4.0, 105L))
    .toDF("user_id", "ts_s", "value", "event_id")
    .withColumn("ts", to_timestamp(col("ts_s")))

  test("Timeseries.dailyGapFill interpolates interior gaps linearly") {
    val r = Timeseries.dailyGapFill(series, "user_id", "ts", "value",
        maxGapDays = 2)
      .orderBy("user_id", "day").collect()
      .map(x => (x.getLong(0), x.getDate(1).toString, x.getDouble(2),
        x.getBoolean(3)))
    // user 1: 01→04 is a 3-day gap > maxGap=2 → endpoints only;
    // 04→05 adjacent → both observed, nothing synthesized
    assert(r.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSeq ==
      Seq(("2024-01-01", 10.0, true), ("2024-01-04", 40.0, true),
        ("2024-01-05", 50.0, true)))
    // user 2: single day passes through
    assert(r.filter(_._1 == 2L).toSeq ==
      Seq((2L, "2024-01-02", 7.0, true)))
    // user 3 with maxGap=5 would interpolate; re-run to check the math
    val r3 = Timeseries.dailyGapFill(series.filter(col("user_id") === 3),
        "user_id", "ts", "value", maxGapDays = 5)
      .orderBy("day").collect()
      .map(x => (x.getDate(1).toString, x.getDouble(2), x.getBoolean(3)))
    assert(r3.toSeq == Seq(("2024-01-01", 1.0, true),
      ("2024-01-02", 2.0, false), ("2024-01-03", 3.0, false),
      ("2024-01-04", 4.0, true)))
  }

  test("Dedup.canonicalByPriority keeps the max-priority doc per " +
    "component, ties on min id, singletons keep themselves") {
    // component {1,2,3} via chain edges 1-2, 2-3; 4 is a singleton.
    // priorities: doc 2 and 3 tie at 9 (above doc 1's 5) -> canonical 2.
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 7L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val r = Dedup.canonicalByPriority(docs, "doc_id", pairs,
        col("n_chars"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
    assert(r.toSeq == Seq((1L, 2L, false), (2L, 2L, true),
      (3L, 2L, false), (4L, 4L, true)))
    // min-id policy would have kept doc 1 — assert the policies differ
    val minId = Dedup.canonicalAssignment(docs, "doc_id", pairs)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L))
  }

  test("Shard.manifest: counts tile the corpus, checksum is invariant " +
    "under repartitioning, and assignment is stable") {
    val df = (0L until 200L).map(i => (i, s"content of doc $i", i % 37))
      .toDF("doc_id", "text", "n_chars")
    val m1 = Shard.manifest(df, "doc_id", col("n_chars"), col("text"), 8)
      .orderBy("shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m1.map(_._2).sum == 200L)
    assert(m1.map(_._1).toSeq == m1.map(_._1).toSeq.sorted)
    // repartitioning (different row order, different partitioning) must
    // not change any manifest row — XOR is order/partition independent
    val m2 = Shard.manifest(df.repartition(7, col("text")), "doc_id",
        col("n_chars"), col("text"), 8)
      .orderBy("shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m1.toSeq == m2.toSeq)
    // a single corrupted row must flip its shard's checksum
    val corrupted = df.withColumn("text",
      when(col("doc_id") === 5L, lit("tampered")).otherwise(col("text")))
    val m3 = Shard.manifest(corrupted, "doc_id", col("n_chars"),
        col("text"), 8)
      .orderBy("shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m3.map(_._2).toSeq == m1.map(_._2).toSeq) // counts unchanged
    assert(m3.toSeq != m1.toSeq)                     // checksum moved
  }

  test("Dedup.containmentPairs flags subset docs that Jaccard misses") {
    val docs = Seq(
      (0L, "alpha beta gamma delta"), // fully quoted inside doc 1
      (1L, "alpha beta gamma delta " +
        "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen"),
      (2L, "totally unrelated content with other words entirely here"))
      .toDF("doc_id", "text")
    val c = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 0→1 containment = 1.0 (every 3-gram of doc 0 appears in doc 1);
    // the reverse direction and doc 2 stay below threshold
    assert(c.toSeq == Seq((0L, 1L, 1.0)))
    // symmetric Jaccard on the same pair stays below 0.5 — the signal
    // containment exists to catch
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0)
      .filter(col("doc_a") === 0 && col("doc_b") === 1)
      .collect()(0).getDouble(2)
    assert(j < 0.2)
  }

  test("Graph.pageRank conserves mass and ranks hubs above leaves") {
    // star graph: 0 at the center of 1..4, plus isolated node 5
    val nodes = (0L to 5L).toDF("id")
    val spokes = (1L to 4L).map(i => (i, 0L))
    val edges = (spokes ++ spokes.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(nodes, "id", edges, "src", "dst",
        iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // hub outranks spokes outranks the isolated node
    assert(r(0L) > r(1L) && r(1L) > r(5L))
    assert(math.abs(r(1L) - r(4L)) < 1e-12) // spokes symmetric
    // node 5 is dangling (no out-edges): its share of the mass leaks to
    // teleport by the documented convention, so the total settles below
    // 1 by roughly that share (1/6 ≈ 0.17) but no more
    assert(r.values.sum > 0.8 && r.values.sum < 1.0)
  }

  test("Sampling.temperatureMixture flattens toward low-resource strata") {
    // 900 'hi' vs 100 'lo' rows: α=0.5 rates satisfy
    // r_lo/r_hi = sqrt(c_hi/c_lo) = 3 — the low-resource stratum keeps
    // proportionally 3x more
    val df = (0 until 1000).map(i =>
      (i.toLong, if (i < 900) "hi" else "lo")).toDF("doc_id", "lang")
    val rates = Sampling.temperatureMixture(df, "doc_id", "lang", 0.3)
      .groupBy("lang").agg(first("rate").as("r"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(math.abs(rates("lo")._1 / rates("hi")._1 - 3.0) < 1e-9)
    // kept counts track rate·c (hash draws are uniform to ~1%-ish)
    val total = rates("hi")._2 + rates("lo")._2
    assert(total > 200 && total < 400) // target 300
  }

  test("Sampling.weightedSampleK: k per stratum, no row twice, " +
      "weight-biased") {
    val df = (0 until 400).map { i =>
      // half the rows get 20x the weight via a big n_chars
      (i.toLong, "s", if (i % 2 == 0) 1000000L else 2L)
    }.toDF("doc_id", "lang", "n_chars")
    val r = Sampling.weightedSampleK(df, "doc_id", "lang",
        log(lit(1.0) + col("n_chars")), k = 50)
      .select("doc_id").collect().map(_.getLong(0))
    assert(r.length == 50 && r.distinct.length == 50)
    // heavy rows (even ids, ~12.6x the weight) should dominate
    assert(r.count(_ % 2 == 0) > 35)
  }

  test("Timeseries.scd2 compresses unchanged days and marks current") {
    val evs = Seq(
      // user 1: day1 value 5 (last event of day wins: ts tie → max eid),
      // day2 value 5 (unchanged → compressed), day3 value 9
      (1L, "2024-01-01 10:00:00", 4.0, 1L),
      (1L, "2024-01-01 10:00:00", 5.0, 2L),
      (1L, "2024-01-02 11:00:00", 5.0, 3L),
      (1L, "2024-01-03 09:00:00", 9.0, 4L))
      .toDF("user_id", "ts_s", "value", "event_id")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val r = Timeseries.scd2(evs, "user_id", "ts", "event_id", "value")
      .orderBy("valid_from").collect()
      .map(x => (x.getDate(1).toString,
        Option(x.getDate(2)).map(_.toString), x.getDouble(3),
        x.getBoolean(4)))
    assert(r.toSeq == Seq(
      ("2024-01-01", Some("2024-01-03"), 5.0, false),
      ("2024-01-03", None, 9.0, true)))
  }

  test("Fusion.rrf: consensus docs beat either leg's solo winner; " +
    "missing-from-a-leg docs score one term only") {
    // leg A top-3 for q: d10, d11, d12; leg B top-3: d12, d10, d13.
    // d10: 1/61 + 1/62, d12: 1/63 + 1/61, d11: 1/62, d13: 1/62.
    val legA = Seq(("q", 10L, 1L), ("q", 11L, 2L), ("q", 12L, 3L))
      .toDF("query", "doc_id", "rank")
    val legB = Seq(("q", 12L, 1L), ("q", 10L, 2L), ("q", 13L, 3L))
      .toDF("query", "doc_id", "rank")
    val r = Fusion.rrf(Seq(legA, legB), k = 4)
      .orderBy("rank").collect()
      .map(x => (x.getLong(1), x.getDouble(2), x.getLong(3), x.getLong(4)))
    def round4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    assert(r.map(_._1).toSeq == Seq(10L, 12L, 11L, 13L))
    assert(r(0)._2 == round4(1.0 / 61 + 1.0 / 62))
    assert(r(1)._2 == round4(1.0 / 63 + 1.0 / 61))
    // solo docs carry one reciprocal term: d11 = 1/62, d13 = 1/63
    assert(r(2)._2 == round4(1.0 / 62))
    assert(r(3)._2 == round4(1.0 / 63))
    // legs_hit: consensus docs in both legs, solo docs in one
    assert(r.map(_._3).toSeq == Seq(2L, 2L, 1L, 1L))
    assert(r.map(_._4).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("Similarity.sparseCosineTopK agrees with sparseCosinePairs on " +
    "probe rows and ranks the self-identical doc first") {
    val probes = col("doc_id") % 2 === 0
    val topk = Similarity.sparseCosineTopK(corpus, "doc_id", "text",
      probes, k = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // doc 0 and doc 1 are exact duplicates: integer-exact cosine 1.0
    assert(topk((0L, 1L)) == 1.0)
    // every probe-side (a,b) cosine must equal the all-pairs kernel's
    val pairs = Similarity.sparseCosinePairs(corpus, "doc_id", "text",
      threshold = 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    topk.foreach { case ((q, c), cos) =>
      val key = if (q < c) (q, c) else (c, q)
      assert(math.abs(pairs(key) - cos) < 1e-12,
        s"cosine mismatch for probe $q cand $c")
    }
  }

  test("HeavyHitters: exact counts when k >= distinct; Misra-Gries " +
    "bounds (undercount <= n/(k+1), heavy items present) when capped") {
    import spark.implicits._
    // Zipf-ish skew: item_i appears floor(600/i) times — a few heavy
    // hitters over a long tail, spread over 8 partitions so partial
    // sketches genuinely merge.
    val items = (1 to 40).flatMap(i => Seq.fill(600 / i)(f"item_$i%02d"))
    val df = items.toDF("item").repartition(8)
    val truth = items.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = items.size.toLong

    // exact regime: k over distinct count — equals groupBy counts, with
    // the (count desc, item asc) tie-broken ranking
    val exact = HeavyHitters.top(df, "item", k = 64, topN = 40).collect()
    assert(exact.map(r => r.getString(0) -> r.getLong(1)).toMap == truth)
    val expectOrder = truth.toSeq.sortBy { case (it, c) => (-c, it) }
    assert(exact.sortBy(_.getLong(2)).map(_.getString(0)).toSeq ==
      expectOrder.map(_._1))

    // capped regime: k = 8 counters. Counts may undercount by at most
    // n/(k+1) (any merge tree), never overcount; items heavier than the
    // bound must survive in the sketch.
    val k = 8
    val bound = n / (k + 1)
    val capped = HeavyHitters.top(df, "item", k, topN = k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    capped.foreach { case (it, est) =>
      val c = truth(it)
      assert(est <= c, s"$it overcounted: $est > $c")
      assert(est >= c - bound, s"$it undercounted past n/(k+1): $est < ${c - bound}")
    }
    truth.filter(_._2 > bound).keys.foreach(it =>
      assert(capped.contains(it), s"heavy item $it missing from sketch"))
  }

  test("Skew.saltedJoin: null probe keys match nothing (as plain), " +
    "build-outer join types rejected") {
    import spark.implicits._
    val probe = (Seq((1L, "hot"), (2L, null.asInstanceOf[String]),
      (3L, "k1")) ++ (4 to 40).map(i => (i.toLong, "hot")))
      .toDF("id", "k").repartition(5)
    val build = Seq(("hot", 10L), ("k1", 20L)).toDF("k", "payload")
    for (how <- Seq("inner", "left")) {
      val plain = probe.join(build, Seq("k"), how)
      val salted = Skew.saltedJoin(probe, build, Seq("k"), 8, how)
      assert(salted.columns.toSeq == plain.columns.toSeq)
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).groupBy(identity).view
          .mapValues(_.length).toMap
      assert(bag(salted) == bag(plain), s"salted $how join diverged")
    }
    intercept[IllegalArgumentException](
      Skew.saltedJoin(probe, build, Seq("k"), 8, "full"))
  }

  test("Sampling.negatives: exactly k per probe, never the probe " +
    "itself, distinct, and stable under repartitioning") {
    import spark.implicits._
    val docs = (0L until 97L).toDF("doc_id")
    def run(parts: Int) =
      Sampling.negatives(docs.repartition(parts), "doc_id",
        col("doc_id") % 10 === 0, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = run(3)
    assert(a.toSet == run(11).toSet, "negatives depend on partitioning")
    val byProbe = a.groupBy(_._1)
    assert(byProbe.keySet == (0L until 97L by 10).toSet)
    byProbe.foreach { case (p, rows) =>
      assert(rows.length == 5, s"probe $p got ${rows.length} negatives")
      assert(rows.map(_._2).sorted.toSeq == (1L to 5L), s"ranks of $p")
      assert(!rows.map(_._3).contains(p), s"probe $p sampled itself")
      assert(rows.map(_._3).distinct.length == 5, s"dup negatives for $p")
    }
  }

  test("IntervalJoin.pointInInterval equals the nested-loop range join " +
    "on randomized data, incl. negatives and multi-bucket spans") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (0 until 400)
      .map(i => (i.toLong, rnd.nextLong() % 2000L))
      .toDF("pid", "v").repartition(7)
    val iv = (0 until 60).map { i =>
      val lo = rnd.nextLong() % 1800L
      (i.toLong, lo, lo + rnd.nextInt(700).toLong)
    }.toDF("iid", "lo", "hi").repartition(3)
    val naive = pts.join(iv,
        col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    for (w <- Seq(1L, 64L, 256L, 10000L)) {
      val got = IntervalJoin.pointInInterval(pts, "v", iv, "lo", "hi", w)
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.sorted.toSeq == naive.sorted.toSeq, s"W=$w diverged")
    }
  }

  test("Hll registers merge losslessly (split+merge == whole) and the " +
    "estimate lands within the sketch's error bound") {
    import spark.implicits._
    val vals = (0 until 5000).map(i => ("g", s"v${i % 1371}")) ++
      (0 until 800).map(i => ("h", s"w${i % 211}"))
    val df = vals.toDF("grp", "item").repartition(9)
    val whole = Hll.registers(df, Seq("grp"), col("item"), p = 9)
    // split on an arbitrary predicate, sketch each side, merge — the
    // register tables must be IDENTICAL (max is order/partition-free)
    val a = Hll.registers(df.filter(length(col("item")) % 2 === 0),
      Seq("grp"), col("item"), p = 9)
    val b = Hll.registers(df.filter(length(col("item")) % 2 === 1),
      Seq("grp"), col("item"), p = 9)
    val merged = Hll.merge(a, b, Seq("grp"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged register table diverged from the whole-stream sketch")
    // p=9 -> se ~4.6%; assert within 4 sigma (~18%) of the true counts
    val est = Hll.estimate(whole, Seq("grp"), p = 9).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(est("g") - 1371) / 1371.0 < 0.18, s"g: ${est("g")}")
    assert(math.abs(est("h") - 211) / 211.0 < 0.18, s"h: ${est("h")}")
    // set algebra off the registers: identical sets overlap fully,
    // disjoint sets clamp at >= 0 and stay near zero
    val x = Hll.registers((0 until 1000).map(i => s"x$i").toDF("v"),
      Seq.empty, col("v"), p = 9)
    val y = Hll.registers((0 until 1000).map(i => s"y$i").toDF("v"),
      Seq.empty, col("v"), p = 9)
    // null values carry no cardinality: registers identical with and
    // without interleaved nulls
    val withNulls = Hll.registers(
      ((0 until 50).map(i => Some(s"n$i")) ++ Seq(None, None))
        .toDF("v"), Seq.empty, col("v"), p = 9)
    val noNulls = Hll.registers((0 until 50).map(i => s"n$i").toDF("v"),
      Seq.empty, col("v"), p = 9)
    assert(withNulls.exceptAll(noNulls).isEmpty &&
      noNulls.exceptAll(withNulls).isEmpty, "null values leaked into " +
      "the register table")
    val same = Hll.overlapEstimate(x, x, Seq.empty, p = 9).collect()(0)
    assert(math.abs(same.getDouble(0) - same.getDouble(3)) < 1e-9,
      "A overlap A must equal est(A)")
    val disj = Hll.overlapEstimate(x, y, Seq.empty, p = 9).collect()(0)
    assert(disj.getDouble(3) >= 0.0 &&
      disj.getDouble(3) < 0.25 * disj.getDouble(0),
      s"disjoint overlap too large: ${disj.getDouble(3)}")
  }

  test("Hll.registers64: accuracy bound holds at 10^7 synthetic " +
    "distincts; schema/merge interchange with the 32-bit builder") {
    import spark.implicits._
    // 10^7 distinct values, p=12 -> se = 1.04/sqrt(4096) ~ 1.6%;
    // assert 4 sigma (6.5%). This is the regime the 64-bit hash is FOR —
    // still far from 32-bit saturation, but large enough to exercise
    // rho values past the 32-bit builder's range.
    val n = 10000000L
    val ids = spark.range(n).select(concat(lit("id-"), col("id"))
      .as("v"))
    val regs = Hll.registers64(ids, Seq.empty, col("v"), p = 12)
    val est = Hll.estimate(regs, Seq.empty, p = 12)
      .collect()(0).getDouble(1)
    assert(math.abs(est - n) / n < 0.065, s"est $est vs $n")
    // same table schema: the 32-bit builder's output merges with it
    // structurally (semantically only same-hash tables merge — asserted
    // here as schema interchange, not value mixing)
    val r32 = Hll.registers((0 until 100).map(i => s"a$i").toDF("v"),
      Seq.empty, col("v"), p = 12)
    assert(regs.schema == r32.schema)
    // split+merge == whole, exactly as the 32-bit builder
    val half1 = Hll.registers64(ids.filter(length(col("v")) % 2 === 0),
      Seq.empty, col("v"), p = 12)
    val half2 = Hll.registers64(ids.filter(length(col("v")) % 2 === 1),
      Seq.empty, col("v"), p = 12)
    val merged = Hll.merge(half1, half2, Seq.empty)
    assert(merged.exceptAll(regs).isEmpty && regs.exceptAll(merged).isEmpty,
      "64-bit register merge diverged from the whole-stream sketch")
    // rho exactness spot-check: the hex-arithmetic rank agrees with a
    // JVM-side Long computation for a sample of values
    val sample = spark.range(500).select(concat(lit("id-"), col("id"))
      .as("v"))
    val got = Hll.registers64(sample, Seq.empty, col("v"), p = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expect = (0 until 500).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"id-$i".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString
      val hi = java.lang.Long.parseLong(hex.substring(0, 8), 16) & 0x7FFFFFFFL
      val lo = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      val h = hi * 4294967296L + lo
      val w = h >> 12
      val rho = if (w == 0) 52L else 51L - (63 - java.lang.Long.numberOfLeadingZeros(w))
      (h & 4095L, rho)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(got == expect,
      "hex-arithmetic rho diverged from the JVM Long computation")
  }

  test("Winnow: the w+k-1 match guarantee holds, short docs get a " +
    "degenerate window, pair generation respects the posting cap") {
    import graft.operators.Winnow
    val (k, w) = (3, 4)
    // two docs sharing a 6-token run (= w+k-1): MUST share >= 1
    // fingerprint (SIGMOD'03 Theorem: any match of length >= w+k-1
    // contains a full window of shared hashes, whose min is selected
    // identically on both sides)
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two $shared three four five six"),
      (2L, s"seven eight nine ten $shared eleven"),
      (3L, "unrelated words entirely different content here okay"),
      (4L, "tiny doc"), // < k tokens -> no shingles -> no fingerprints
      (5L, "just three tokens")) // exactly 1 shingle -> 1 degenerate win
      .toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "doc_id", "text", k, w)
    val byDoc = fps.collect().groupBy(_.getLong(0))
    val f1 = byDoc(1L).map(_.getLong(2)).toSet
    val f2 = byDoc(2L).map(_.getLong(2)).toSet
    assert((f1 & f2).nonEmpty, "guaranteed shared fingerprint missing")
    assert(!byDoc.contains(4L))
    assert(byDoc(5L).length == 1 && byDoc(5L).head.getInt(1) == 0)
    // density: selections per window position ~ 2/(w+1); assert loose
    // bounds on the long docs (each has ~10 windows)
    for (d <- Seq(1L, 2L, 3L)) {
      val n = byDoc(d).length
      assert(n >= 2 && n <= 8, s"doc $d density off: $n")
    }
    // positions point at real shingles: re-derive the shingle hash at
    // each reported position and compare
    val withText = docs.collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    fps.collect().foreach { r =>
      val toks = withText(r.getLong(0)).split(" ")
      val sh = toks.slice(r.getInt(1), r.getInt(1) + k).mkString(" ")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sh.getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.take(4).map("%02x".format(_)).mkString, 16)
      assert(h == r.getLong(2), s"fingerprint at wrong position: $r")
    }
    // pair generation: docs 1/2 pair up; the cap drops a fingerprint
    // shared by all three docs
    val pairs = Winnow.sharedFingerprintPairs(fps).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    val capped = Winnow.sharedFingerprintPairs(fps, maxPosting = 1)
    assert(capped.count() == 0) // every shared fp has posting length 2
  }

  test("Edits.editDistancePairs is exact vs naive Levenshtein on " +
    "random mutations across edit types and thresholds") {
    import graft.operators.Edits
    val rnd = new scala.util.Random(11)
    val alpha = "abcdefgh"
    def word() = Seq.fill(6 + rnd.nextInt(6))(
      alpha(rnd.nextInt(alpha.length))).mkString
    val bases = Seq.fill(40)(word()).distinct
    // mutations: substitution, insertion, deletion, double edits
    val mutated = bases.zipWithIndex.flatMap { case (s, i) =>
      val sub = s.updated(rnd.nextInt(s.length), 'z')
      val ins = s.take(2) + "q" + s.drop(2)
      val del = s.take(1) + s.drop(2)
      Seq((1000L + i, sub), (2000L + i, ins), (3000L + i, del),
        (4000L + i, sub.updated(0, 'y'))) // distance 2 from s
    }
    val corpus = (bases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      ++ mutated).toDF("id", "s")
    def naive(d: Int): Set[(Long, Long, Int)] = {
      val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib
        dist = org.apache.commons.text.similarity.LevenshteinDistance
          .getDefaultInstance.apply(sa, sb).intValue
        if dist <= d
      } yield (ia, ib, dist)).toSet
    }
    for (d <- Seq(1, 2)) {
      val got = Edits.editDistancePairs(corpus, "id", "s", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(got == naive(d), s"maxDist=$d diverged")
      assert(got.nonEmpty)
    }
  }

  test("Sampling.leakageSafeSplit: duplicate groups never straddle " +
    "splits; unmapped docs are their own canonical") {
    import graft.operators.Sampling
    val docs = (1L to 200L).map(i => (i, s"text-${i % 50}"))
      .toDF("doc_id", "text")
    val canon = docs.groupBy("text").agg(min("doc_id").as("canonical"))
    val mapping = docs.join(canon, "text")
      .select(col("doc_id"), col("canonical"))
    val out = Sampling.leakageSafeSplit(docs, "doc_id", mapping,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // one split per canonical group
    rows.groupBy(_._2).foreach { case (c, g) =>
      assert(g.map(_._3).distinct.length == 1, s"group $c straddles")
    }
    // every split non-empty on 50 groups, and labels are the declared 3
    val bySplit = rows.groupBy(_._3)
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train").length >
      bySplit.getOrElse("val", Array.empty).length)
    // docs missing from the mapping fall back to self-canonical
    val partial = Sampling.leakageSafeSplit(docs, "doc_id",
      mapping.filter(col("doc_id") < 100L),
      Seq("train" -> 0.5, "eval" -> 0.5))
    val self = partial.filter(col("doc_id") >= 100L).collect()
    assert(self.forall(r => r.getLong(1) == r.getLong(0)))
    // ratios must sum to 1
    intercept[IllegalArgumentException] {
      Sampling.leakageSafeSplit(docs, "doc_id", mapping,
        Seq("a" -> 0.5, "b" -> 0.3))
    }
  }

  test("Profile: per-column stats in one pass; expectations count " +
    "violations with null predicates failing closed") {
    import graft.operators.Profile
    val df = Seq(
      (1L, Some("a"), 10.0), (2L, Some("b"), -1.0),
      (3L, None, 5.0), (4L, Some("a"), 7.0))
      .toDF("id", "tag", "x")
    val prof = Profile.profileTable(df, Seq("id", "tag", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getString(5))).toMap
    assert(prof("id") == ((4L, 0L, 4L, "1", "4")))
    assert(prof("tag") == ((4L, 1L, 2L, "a", "b"))) // null excluded
    assert(prof("x")._3 == 4L && prof("x")._4 == "-1.0")
    val rep = Profile.expectations(df, Seq(
      "x_positive" -> (col("x") > 0),
      "tag_not_null" -> col("tag").isNotNull,
      // a predicate that is NULL on the null-tag row must count as a
      // violation (fail closed), not silently pass
      "tag_in_domain" -> col("tag").isin("a", "b")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(rep("x_positive") == ((1L, false)))
    assert(rep("tag_not_null") == ((1L, false)))
    assert(rep("tag_in_domain") == ((1L, false)))
    val clean = Profile.expectations(df.filter(col("x") > 0), Seq(
      "x_positive" -> (col("x") > 0))).collect()(0)
    assert(clean.getBoolean(3))
  }

  test("Incremental: merge of partial states equals the one-shot " +
    "aggregate under any merge tree; read view derives avg/var") {
    import graft.operators.Incremental
    // integer values: every state column is FP-exact, so equality is
    // bitwise, not approximate
    val rows = (1 to 90).map(i => (s"g${i % 3}", (i * 7 % 50).toDouble))
    val df = rows.toDF("grp", "v")
    val whole = Incremental.aggregateState(df, Seq("grp"), "v")
    val parts = Seq(0, 1, 2).map(p =>
      Incremental.aggregateState(
        df.filter(pmod(col("v"), lit(3)) === p), Seq("grp"), "v"))
    // left-leaning and right-leaning merge trees
    val m1 = Incremental.merge(
      Incremental.merge(parts(0), parts(1), Seq("grp")), parts(2),
      Seq("grp"))
    val m2 = Incremental.merge(parts(0),
      Incremental.merge(parts(1), parts(2), Seq("grp")), Seq("grp"))
    for (m <- Seq(m1, m2))
      assert(m.exceptAll(whole).isEmpty && whole.exceptAll(m).isEmpty,
        "merged state diverged from the one-shot aggregate")
    // read view: avg and population variance on a tiny known case
    val known = Seq(("k", 2.0), ("k", 4.0), ("k", 6.0)).toDF("grp", "v")
    val rv = Incremental.readView(
      Incremental.aggregateState(known, Seq("grp"), "v")).collect()(0)
    assert(rv.getAs[Double]("avg_v") == 4.0)
    assert(math.abs(rv.getAs[Double]("var_v") - 8.0 / 3.0) < 1e-12)
  }

  test("Robust.benfordScreen: log-uniform data conforms, uniform " +
    "first digits don't; absent digits count as evidence") {
    import graft.operators.Robust
    // log-uniform magnitudes are exactly Benford-distributed
    val rnd = new scala.util.Random(23)
    val benford = Seq.fill(4000)(("ok", math.pow(10.0,
      1.0 + 3.0 * rnd.nextDouble())))
    // constant leading digit 5: maximally non-Benford
    val rigged = Seq.fill(1000)(("bad", 500.0 + rnd.nextInt(100)))
    val out = Robust.benfordScreen(
      (benford ++ rigged).toDF("src", "x"), Seq("src"), "x")
      .collect()
    val chi = out.groupBy(_.getString(0)).view
      .mapValues(_.head.getAs[Double]("chi2")).toMap
    assert(chi("ok") < 20.1, s"conforming data flagged: ${chi("ok")}")
    assert(chi("bad") > 1000.0, s"rigged data passed: ${chi("bad")}")
    // digit completion: 'bad' has 9 rows, 8 of them zero-observation
    val bad = out.filter(_.getString(0) == "bad")
    assert(bad.length == 9)
    assert(bad.count(_.getAs[Long]("obs_n") == 0L) == 8)
    assert(bad.filter(_.getAs[Int]("digit") == 5)
      .head.getAs[Long]("obs_n") == 1000L)
  }

  test("Robust.madOutlierSummary: hand-computed median/MAD, outlier " +
    "resistance the mean/stddev screen lacks") {
    import graft.operators.Robust
    // group g: 1..9 plus one 1000 outlier. median = 5.5 (interp),
    // deviations sorted: .5 .5 1.5 1.5 2.5 2.5 3.5 3.5 4.5 994.5 ->
    // MAD = 2.5; c=3 -> threshold 7.5 -> exactly the outlier flagged.
    val rows = ((1 to 9).map(v => ("g", v.toDouble)) :+ ("g", 1000.0)) ++
      (1 to 4).map(v => ("h", v.toDouble)) // clean group, no outliers
    val out = Robust.madOutlierSummary(rows.toDF("grp", "x"),
        Seq("grp"), "x", c = 3.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(out("g") == ((10L, 5.5, 2.5, 1L)), s"g: ${out("g")}")
    // h: 1 2 3 4 -> med 2.5, devs 1.5 .5 .5 1.5 -> MAD 1.0 -> none over 3
    assert(out("h") == ((4L, 2.5, 1.0, 0L)), s"h: ${out("h")}")
    // contrast: a 3-sigma mean/stddev screen on g MISSES the outlier's
    // dominance — stddev itself is ~314, pulled by the outlier
    val stats = rows.filter(_._1 == "g").map(_._2)
    val mean = stats.sum / stats.length
    val sd = math.sqrt(stats.map(v => (v - mean) * (v - mean)).sum /
      stats.length)
    assert(sd > 250, "fixture sanity: classical stddev is inflated")
  }

  test("Privacy.kAnonymize levels: exact pass, generalized fallback " +
    "counted over failures only, suppression") {
    import graft.operators.Privacy
    // segment A, nation 1, bucket 0: 5 rows -> level 0
    // segment A, nation 1, buckets 1..5: 1 row each -> 5 failures share
    //   the generalized (A,1) tuple -> level 1 (count excludes the five
    //   level-0 rows: conservative count = 5)
    // segment B, nation 2: 3 rows in distinct buckets -> level 2
    val rows =
      (1L to 5L).map(i => (i, "A", 1L, 0L)) ++
        (6L to 10L).map(i => (i, "A", 1L, i - 5L)) ++
        (11L to 13L).map(i => (i, "B", 2L, i))
    val df = rows.toDF("id", "seg", "nat", "bb")
    val out = Privacy.kAnonymize(df, "id",
      exact = Seq(col("seg"), col("nat"), col("bb")),
      general = Seq(col("seg"), col("nat")), k = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2))).toMap
    (1L to 5L).foreach(i => assert(out(i) == (0, 5L), s"row $i"))
    (6L to 10L).foreach(i => assert(out(i) == (1, 5L), s"row $i"))
    (11L to 13L).foreach(i => assert(out(i) == (2, 3L), s"row $i"))
  }

  test("Itemsets.frequentPairs honors support and downward closure; " +
    "within-doc repeats count once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a a"),   // repeats of a count once per doc
      (2L, "a b d"),
      (3L, "a b e"),
      (4L, "a c e"),
      (5L, "z z z"))       // z frequent? df=1 < 2 -> pruned
      .toDF("doc_id", "text")
    val r = Itemsets.frequentPairs(docs, "doc_id", "text", minSupport = 2)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      .toSet
    // supports: (a,b)=3, (a,c)=2, (a,e)=2; (b,c)=1 etc. below threshold
    assert(r == Set(("a", "b", 3L), ("a", "c", 2L), ("a", "e", 2L)), r)
    // PMI on the same fixture: support(a,b)=3, df_a=4, df_b=3, n=5
    // -> ln(3*5/(4*3)) = ln(1.25)
    val pmi = Itemsets.pmiPairs(docs, "doc_id", "text", minSupport = 2)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3))).toMap
    val (sup, p) = pmi(("a", "b"))
    assert(sup == 3L && math.abs(p - math.log(1.25)) < 1e-12,
      s"PMI(a,b) = $p, want ln(1.25)")
    // hot-basket cap: keep the 2 lexicographically-first frequent
    // tokens per doc -> only (a, b) can still reach support 2
    val capped = Itemsets.frequentPairs(docs, "doc_id", "text",
        minSupport = 2, maxDocItems = 2)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
      .toSet
    assert(capped == Set(("a", "b", 3L)), capped)
  }

  test("Blocking.globalRank equals the naive global row_number for any " +
    "range count, incl. all-equal keys; neighborhood pairs match naive") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val docs = (0L until 300L).map(i =>
      (i, rnd.alphanumeric.take(6).mkString)).toDF("id", "k")
      .repartition(7).localCheckpoint()
    val naive = docs.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("k"), col("id"))).cast("long") - 1L)
      .select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (nr <- Seq(1, 8, 64)) {
      val got = Blocking.globalRank(docs, "id", col("k"), nRanges = nr)
        .select("id", "rank").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive, s"nRanges=$nr diverged from naive rank")
    }
    // all-equal keys: order falls back to id, ranks still a permutation
    val flat = Blocking.globalRank(docs, "id", lit("same"), nRanges = 8)
      .select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flat.values.toSeq.sorted == (0L until 300L),
      "equal-key ranks not a permutation")
    assert(flat.toSeq.sortBy(_._1).map(_._2) == (0L until 300L),
      "equal-key order must fall back to id")
    val pairs = Blocking.sortedNeighborhood(docs, "id", col("k"), w = 2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val byRank = naive.toSeq.sortBy(_._2).map(_._1)
    val expect = (for {
      i <- byRank.indices; j <- (i + 1) to math.min(i + 2, byRank.size - 1)
    } yield (byRank(i), byRank(j))).sorted
    assert(pairs == expect, "neighborhood pairs diverged from naive")
  }

  test("HeavyHitters.topPerGroup keeps sketches independent per group " +
    "and undercounts only") {
    import spark.implicits._
    val rows = (Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      (0 until 20).map(i => ("a", s"a$i")) ++
      Seq.fill(25)(("b", "y")) ++ (0 until 15).map(i => ("b", s"b$i")))
      .toDF("grp", "item").repartition(5)
    val exact = HeavyHitters.topPerGroup(rows, Seq("grp"), "item",
        k = 1000, topN = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(exact == Set(("a", "x", 30L), ("b", "y", 25L)),
      s"per-group winners wrong: $exact") // y hot in b, not in a
    val tight = HeavyHitters.topPerGroup(rows, Seq("grp"), "item",
        k = 2, topN = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    tight.foreach { case (g, i, c) =>
      val truth = Map(("a", "x") -> 30L, ("a", "y") -> 10L,
        ("b", "y") -> 25L)
      assert(c <= truth.getOrElse((g, i), 1L),
        s"MG must undercount only: ($g, $i, $c)")
    }
  }

  test("HistSketch: split+merge equals whole, estimates stay within " +
    "half a bin of the exact quantile, out-of-range clamps to edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vals = (0 until 2000).map(_ => ("g", rnd.nextInt(200) - 20))
    val df = vals.toDF("grp", "v").repartition(6)
    val lo = 0.0; val hi = 128.0; val bins = 64
    val whole = HistSketch.sketch(df, Seq("grp"), col("v"), lo, hi, bins)
    val a = HistSketch.sketch(df.filter(col("v") % 2 === 0),
      Seq("grp"), col("v"), lo, hi, bins)
    val b = HistSketch.sketch(df.filter(col("v") % 2 =!= 0),
      Seq("grp"), col("v"), lo, hi, bins)
    val merged = HistSketch.merge(a, b, Seq("grp"))
    assert(merged.exceptAll(whole).isEmpty &&
      whole.exceptAll(merged).isEmpty, "sum-merge diverged")
    // clamp: bins stay inside [0, 63] even though values span [-20,180)
    val range = whole.agg(min("bin"), max("bin")).collect()(0)
    assert(range.getLong(0) == 0L && range.getLong(1) == 63L)
    // within-range quantiles land within half a bin width (+clamp
    // slack excluded by probing mid-range quantiles only)
    val qs = Seq(0.3, 0.5, 0.7)
    val est = HistSketch.quantiles(whole, Seq("grp"), qs, lo, hi, bins)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val sorted = vals.map(_._2.toDouble).sorted
    qs.foreach { q =>
      val exact = sorted(math.ceil(q * sorted.size - 1e-9).toInt - 1)
      assert(math.abs(est(q) - exact) <= (hi - lo) / bins,
        s"q=$q est=${est(q)} exact=$exact")
    }
  }

  test("HeavyHitters.topExact counts candidates exactly and certifies " +
    "only when the bound genuinely excludes absent items") {
    import spark.implicits._
    val stream = Seq.fill(400)("hot") ++ Seq.fill(150)("warm") ++
      (0 until 450).map(i => s"cold${i % 450}")
    val df = stream.toDF("w").repartition(8)
    // roomy sketch: everything is a candidate, counts exact, and the
    // 2nd-ranked count (150) beats n/(k+1) = 1000/1001 -> certified
    val roomy = HeavyHitters.topExact(df, "w", k = 1000, topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(roomy.toSeq == Seq(("hot", 400L, 1L, true),
      ("warm", 150L, 2L, true)))
    // tight sketch (k=2): hot is GUARANTEED a candidate (400 > n/3 =
    // 333) and its recount is exact; warm (150 < 333) has no such
    // guarantee, so only the certification flag is asserted — the
    // floor can't beat 333, so the result must self-report uncertified
    val tight = HeavyHitters.topExact(df, "w", k = 2, topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(3)))
    assert(tight.exists(t => t._1 == "hot" && t._2 == 400L),
      s"guaranteed hitter lost or miscounted: ${tight.toSeq}")
    assert(tight.forall(!_._3), "k=2 cannot certify: floor <= 1000/3")
  }

  test("Graph.triangleCount: K4 gives every vertex 3, stars give 0, " +
    "duplicate/reversed edges and hubs don't double-count") {
    import spark.implicits._
    // K4 on 1-4; a 5-leaf star on hub 10 (no triangles); one triangle
    // 20-21-22 reported with BOTH orders + a duplicate edge; isolated 99
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val star = (11L to 15L).map(l => (10L, l))
    val tri = Seq((20L, 21L), (21L, 20L), (21L, 22L), (20L, 22L),
      (22L, 20L)) // reversed + dup edges must collapse
    val edges = (k4 ++ star ++ tri).toDF("s", "t").repartition(5)
    val nodes = ((1L to 4L) ++ (10L to 15L) ++ (20L to 22L) ++ Seq(99L))
      .toDF("id")
    val r = Graph.triangleCount(nodes, "id", edges, "s", "t")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    (1L to 4L).foreach(n => assert(r(n) == 3L, s"K4 vertex $n: ${r(n)}"))
    (10L to 15L).foreach(n => assert(r(n) == 0L, s"star vertex $n"))
    (20L to 22L).foreach(n => assert(r(n) == 1L, s"tri vertex $n"))
    assert(r(99L) == 0L, "isolated node")
  }

  test("Similarity.ivfPqTopK with self-seeded sub-codebooks equals the " +
    "exact L2 ranking regardless of subspace count") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val emb = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("vec_id", "embedding").repartition(5)
    // pqEvery = 1: every vector seeds the sub-codebooks, so each
    // subvector encodes to ITSELF and ADC reconstructs the exact
    // squared L2. S=1 computes it whole; S=4 sums four exact partials.
    def run(s: Int) = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        col("vid") % 10 === 0, centroidEvery = 7, pqEvery = 1,
        subspaces = s, k = 3)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2)))
    val s1 = run(1)
    val s4 = run(4)
    assert(s1.map(t => (t._1, t._2, t._3)).toSeq ==
      s4.map(t => (t._1, t._2, t._3)).toSeq,
      "subspace split changed the exact-regime ranking")
    // adc values agree up to FP summation order of the 4 partials
    s1.zip(s4).foreach { case (a, b) =>
      assert(math.abs(a._4 - b._4) < 1e-9, s"adc diverged: $a vs $b") }
    assert(s1.nonEmpty && s1.forall(_._3 <= 3))
  }

  test("CountMin merges by sum, never undercounts, and zeroes absent " +
    "probes") {
    import spark.implicits._
    val stream = (0 until 3000).map(i => ("g", s"t${i % 37}")) ++
      (0 until 500).map(_ => ("g", "hot"))
    val df = stream.toDF("grp", "item").repartition(7)
    // narrow sketch (width 16 << 38 distinct): collisions guaranteed,
    // estimates must still be >= truth (overcount-only)
    val skNarrow = CountMin.sketch(df, Seq("grp"), col("item"), 4, 16)
    val probes = Seq("hot", "t0", "t36", "never_seen").toDF("p")
    val estN = CountMin.estimate(skNarrow, Seq("grp"), probes, "p", 4, 16)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val truth = Map("hot" -> 500L, "t0" -> 82L, "t36" -> 81L,
      "never_seen" -> 0L)
    for ((k, t) <- truth if k != "never_seen")
      assert(estN(k) >= t, s"$k undercounted: ${estN(k)} < $t")
    // wide sketch: split + merge == whole, and the fixture regime is
    // exact (no two of the 38 values collide in every row)
    val a = CountMin.sketch(df.filter(length(col("item")) === 2),
      Seq("grp"), col("item"), 4, 4096)
    val b = CountMin.sketch(df.filter(length(col("item")) =!= 2),
      Seq("grp"), col("item"), 4, 4096)
    val merged = CountMin.merge(a, b, Seq("grp"))
    val whole = CountMin.sketch(df, Seq("grp"), col("item"), 4, 4096)
    assert(merged.exceptAll(whole).isEmpty &&
      whole.exceptAll(merged).isEmpty, "sum-merge diverged")
    val estW = CountMin.estimate(whole, Seq("grp"), probes, "p", 4, 4096)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(estW == truth, s"wide-regime estimates not exact: $estW")
  }

  test("IntervalJoin.intervalOverlap equals the naive overlap join on " +
    "randomized intervals and dedups multi-bucket overlaps for free") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val a = (0 until 80).map { i =>
      val lo = rnd.nextLong() % 1500L
      (i.toLong, lo, lo + rnd.nextInt(400).toLong)
    }.toDF("aid", "alo", "ahi").repartition(5)
    val b = (0 until 120).map { i =>
      val lo = rnd.nextLong() % 1500L
      (i.toLong, lo, lo + rnd.nextInt(250).toLong)
    }.toDF("bid", "blo", "bhi").repartition(3)
    val naive = a.join(b, col("alo") <= col("bhi") &&
        col("blo") <= col("ahi"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    for (w <- Seq(1L, 97L, 512L, 100000L)) {
      val got = IntervalJoin.intervalOverlap(a, "alo", "ahi", b, "blo",
          "bhi", w)
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == naive, s"W=$w diverged from the naive overlap join")
    }
    // wide-cap legs: W=8 makes spans of 400 cover ~50 buckets; capping
    // at 10 diverts many intervals through the broadcast legs — the
    // pair set must be unchanged (incl. wide x wide exactly once)
    val capped = IntervalJoin.intervalOverlap(a, "alo", "ahi", b, "blo",
        "bhi", 8L, maxBucketsPerInterval = 10)
      .select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(capped == naive, "wide-interval broadcast legs diverged")
    intercept[IllegalArgumentException](
      IntervalJoin.intervalOverlap(a, "alo", "ahi", b, "alo", "bhi", 8L))
  }

  test("IntervalJoin: left join keeps unmatched points; wide-interval " +
    "broadcast split is invisible; guards reject bad combos") {
    import spark.implicits._
    val pts = Seq((1L, 5L), (2L, 50L), (3L, 9999L)).toDF("pid", "v")
    val iv = Seq((10L, 0L, 10L), (11L, 40L, 60L), (12L, -5000L, 5000L))
      .toDF("iid", "lo", "hi")
    // wide split: W=8 makes iid=12 span 1251 buckets; cap at 100
    // diverts it to the broadcast leg — pairs must be unchanged.
    val split = IntervalJoin.pointInInterval(pts, "v", iv, "lo", "hi",
        8L, maxBucketsPerInterval = 100)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(split == Seq((1L, 10L), (1L, 12L), (2L, 11L), (2L, 12L)))
    val left = IntervalJoin.pointInInterval(pts, "v", iv, "lo", "hi",
        8L, joinType = "left", maxBucketsPerInterval = 0)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(left == Seq((1L, 10L), (1L, 12L), (2L, 11L), (2L, 12L),
      (3L, -1L)), "left join lost the unmatched point or a pair")
    intercept[IllegalArgumentException](
      IntervalJoin.pointInInterval(pts, "v", iv, "lo", "hi", 0L))
    intercept[IllegalArgumentException](
      IntervalJoin.pointInInterval(pts, "v", iv, "lo", "hi", 8L,
        joinType = "left", maxBucketsPerInterval = 100))
    intercept[IllegalArgumentException](
      IntervalJoin.pointInInterval(pts, "v", iv, "lo", "hi", 8L,
        joinType = "full"))
  }

  test("CountMin.windowedSketch saltedDepth: estimate in the matching " +
    "mode is exact; the mismatched mode visibly corrupts") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val df = (1 to 30).map(i => (ts0, s"v${i % 5}")).toDF("ts", "v")
    val sk = CountMin.windowedSketch(df, "ts", col("v"),
      depth = 4, width = 1 << 16, windowDuration = "1 hour",
      watermarkDelay = "1 hour", saltedDepth = true)
      .withColumnRenamed("window_start", "w")
    val probes = Seq("v0", "v1").toDF("p")
    val good = CountMin.estimate(sk, Seq("w"), probes, "p", 4, 1 << 16,
        saltedDepth = true)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(good("v0") == 6 && good("v1") == 6, s"salted exact: $good")
    // estimating salted cells with affine probe cells must NOT silently
    // agree — the modes are incompatible by contract
    val bad = CountMin.estimate(sk, Seq("w"), probes, "p", 4, 1 << 16)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(bad.values.forall(_ == 0L),
      s"mode mismatch should miss every cell at this width: $bad")
  }

  test("Dedup.codeHammingPairs maxPosting: output equals a reference " +
    "model; capped is a subset of uncapped; a pair is lost ONLY when " +
    "every agreeing band is hot") {
    import spark.implicits._
    val bits = 56
    val bands = 7
    val bandBits = 8
    val maxHamming = 6
    val maxPosting = 10
    // deterministic corpus: 60 random codes, 15 planted near-dup pairs
    // (flip 1-6 bits of a base), plus 18 codes sharing band-0 value
    // 0x55 to plant a HOT band value (count 18 > 10)
    val rnd = new scala.util.Random(42)
    def r56() = rnd.nextLong() & ((1L << 56) - 1)
    val singles = (1L to 60L).map(i => i -> r56())
    val nearDups = (0 until 15).flatMap { j =>
      val b = r56()
      val flipped = (0 to j % 6).foldLeft(b)((acc, t) =>
        acc ^ (1L << ((j * 7 + t * 11) % 56)))
      Seq((100L + j * 2) -> b, (101L + j * 2) -> flipped)
    }
    val hotBand = (0 until 18).map(i =>
      (200L + i) -> ((r56() & ~0xFFL) | 0x55L))
    val codes = (singles ++ nearDups ++ hotBand).toMap
    val df = codes.toSeq.toDF("id", "code")

    // reference model, computed directly from the definition
    def bandVals(c: Long): Seq[(Int, Long)] =
      (0 until bands).map(b => b -> ((c >> (b * bandBits)) & 0xFF))
    val occupancy = codes.values.toSeq.flatMap(bandVals)
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val hot = occupancy.filter(_._2 > maxPosting).keySet
    def pairs(excludeHot: Boolean): Set[(Long, Long, Int)] = (for {
      (ia, ca) <- codes.toSeq
      (ib, cb) <- codes.toSeq
      if ia < ib
      shared = bandVals(ca).toSet intersect bandVals(cb).toSet
      kept = if (excludeHot) shared -- hot else shared
      if kept.nonEmpty
      h = java.lang.Long.bitCount(ca ^ cb)
      if h <= maxHamming
    } yield (ia, ib, h)).toSet
    val expUncapped = pairs(excludeHot = false)
    val expCapped = pairs(excludeHot = true)

    def run(posting: Int) = graft.operators.Dedup.codeHammingPairs(
      df, "id", "code", bits, maxHamming, bands, posting)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2))).toSet
    assert(run(0) == expUncapped, "uncapped output != model")
    assert(run(maxPosting) == expCapped, "capped output != model")
    // the planted hot band must actually fire, and capping must cost
    // recall ONLY on pairs whose every agreeing band is hot
    assert(hot.nonEmpty, "fixture failed to plant a hot band value")
    val lost = expUncapped -- expCapped
    assert(expCapped.subsetOf(expUncapped))
    assert(lost.forall { case (a, b, _) =>
      (bandVals(codes(a)).toSet intersect bandVals(codes(b)).toSet)
        .forall(hot.contains)
    }, "a pair with a non-hot agreeing band was lost")
    // the near-dup population survives: planted pairs don't touch the
    // hot band, so every one of them is in BOTH outputs
    val planted = (0 until 15).map(j => (100L + j * 2, 101L + j * 2))
    planted.foreach { case (a, b) =>
      assert(expCapped.exists(p => p._1 == a && p._2 == b),
        s"planted near-dup ($a,$b) lost under capping") }
  }

  test("Dedup.embeddingLshPairs: added planes REFINE the bucketing — " +
    "pair sets nest monotonically and exact duplicates survive any " +
    "plane count (the planes-scale-with-corpus contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    // 10 planted exact-duplicate pairs (cosine 1.0 -> same bucket under
    // ANY plane count) in a sea of 60 random vectors
    val planted = (0 until 10).flatMap { i =>
      val v = vec()
      Seq((1000L + i * 2) -> v, (1001L + i * 2) -> v)
    }
    val noise = (1L to 60L).map(i => i -> vec())
    val df = (planted ++ noise).toDF("vid", "embedding")
    def pairsAt(planes: Int): Set[(Long, Long)] =
      graft.operators.Dedup.embeddingLshPairs(
        df, "vid", "embedding", planes, threshold = 0.99)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairsAt(1)
    val p3 = pairsAt(3)
    val p6 = pairsAt(6)
    // lshBucket(p) prefixes lshBucket(p+1): same-bucket at more planes
    // implies same-bucket at fewer -> scored sets nest
    assert(p6.subsetOf(p3) && p3.subsetOf(p1),
      s"plane refinement violated: |p1|=${p1.size} |p3|=${p3.size} " +
        s"|p6|=${p6.size}")
    val expected = (0 until 10)
      .map(i => (1000L + i * 2, 1001L + i * 2)).toSet
    Seq(p1, p3, p6).foreach(p => assert(expected.subsetOf(p),
      "an exact-duplicate pair fell out of its bucket"))
  }

  test("Dedup.codeHammingScreen: nearest match with min-id tie-break, " +
    "candidate-but-too-far stays no-dup, index hot cap can hide an " +
    "exact match (graceful recall)") {
    import spark.implicits._
    val D = graft.operators.Dedup
    // old ids 1 (code 0) and 2 (code 3); new id 10 (code 1) is at
    // hamming 1 from BOTH -> tie broken to id 1. new id 11 (0xFF)
    // shares six zero bands with both olds but is 8 bits away -> a
    // generated-then-filtered candidate, reported no-dup.
    val old1 = Seq((1L, 0L), (2L, 3L)).toDF("id", "code")
    val new1 = Seq((10L, 1L), (11L, 0xFFL)).toDF("id", "code")
    val idx1 = D.codeBandIndex(old1, "id", "code", 56, 7)
    val r1 = D.codeHammingScreen(new1, "id", "code", idx1, 56,
        maxHamming = 2, bandsCount = 7)
      .orderBy("doc_id").collect()
    assert(r1(0).getBoolean(1) && r1(0).getLong(2) == 1L &&
      r1(0).getLong(3) == 1L, s"tie-break failed: ${r1(0)}")
    assert(!r1(1).getBoolean(1) && r1(1).isNullAt(2) && r1(1).isNullAt(3),
      s"too-far candidate must be no-dup: ${r1(1)}")
    // three identical indexed codes make EVERY band value hot under
    // maxPosting=1 -> an exact-duplicate probe finds nothing (the
    // documented graceful-recall trade); uncapped it matches id 1
    val old2 = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("id", "code")
    val new2 = Seq((10L, 5L)).toDF("id", "code")
    val idx2 = D.codeBandIndex(old2, "id", "code", 56, 7)
    val capped = D.codeHammingScreen(new2, "id", "code", idx2, 56,
      2, 7, maxPosting = 1).collect()(0)
    assert(!capped.getBoolean(1), s"hot-capped index still matched: $capped")
    val uncapped = D.codeHammingScreen(new2, "id", "code", idx2, 56,
      2, 7).collect()(0)
    assert(uncapped.getBoolean(1) && uncapped.getLong(2) == 1L &&
      uncapped.getLong(3) == 0L)
  }

  test("CountMin.saltedDepth: a genuine base-hash collision overcounts " +
    "in EVERY row of the default affine family but not in salted mode") {
    import spark.implicits._
    // replicate TextOps.hash32 (first 8 md5 hex chars -> long) and
    // birthday-search a real 32-bit collision — ~77k probes for 50%,
    // 400k leaves P(miss) < 1e-4
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val seen = scala.collection.mutable.HashMap.empty[Long, String]
    var pair: Option[(String, String)] = None
    var i = 0
    while (pair.isEmpty && i < 400000) {
      val s = "cmv" + i
      seen.put(h32(s), s).foreach(prev => pair = Some((prev, s)))
      i += 1
    }
    assert(pair.nonEmpty, "no 32-bit md5-prefix collision in 400k probes")
    val (a, b) = pair.get
    val df = Seq(a, b).toDF("v")
    val probes = Seq(a).toDF("p")
    // default affine family: the collision propagates to EVERY row —
    // probing `a` returns 2 (counts `b`'s occurrence too), the caveat
    // CountMin.scala documents
    val skDflt = CountMin.sketch(df, Nil, col("v"), 4, 1 << 20)
    val estDflt = CountMin.estimate(skDflt, Nil, probes, "p", 4, 1 << 20)
      .collect()(0).getLong(1)
    assert(estDflt == 2L,
      s"affine family should overcount the colliding pair, got $estDflt")
    // salted rows: independent md5 per row -> the pair separates and
    // the estimate is exact
    val skSalt = CountMin.sketch(df, Nil, col("v"), 4, 1 << 20,
      saltedDepth = true)
    val estSalt = CountMin.estimate(skSalt, Nil, probes, "p", 4, 1 << 20,
      saltedDepth = true).collect()(0).getLong(1)
    assert(estSalt == 1L,
      s"salted rows should separate the base-hash collision, got $estSalt")
  }
}
