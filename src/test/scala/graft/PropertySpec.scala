package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Bpe, Order, Pack, Sampling, Timeseries}

/** Property-based invariants for the distributed prefix-sum operators and
  * deterministic sampling — randomized doc sizes / id gaps / rates, so
  * the block-boundary arithmetic is exercised far beyond the oracle
  * corpus's shapes (id gaps, singleton blocks, oversized docs, rate 0/1).
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  // scalatestplus bridge isn't on the offline classpath; drive scalacheck
  // Gens directly with fixed seeds (deterministic CI, still randomized
  // shapes)
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val docsGen = for {
    n <- Gen.choose(1, 120)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 9L))
    sizes <- Gen.listOfN(n, Gen.choose(1, 300))
  } yield gaps.scanLeft(0L)(_ + _).tail.zip(sizes)

  test("packSequences: segments tile every pack exactly for random " +
    "sizes, gapped ids, and context/block combinations") {
    val cases = samples(for {
      docs <- docsGen
      ctx <- Gen.choose(8L, 96L)
      blockLen <- Gen.choose(2L, 40L)
    } yield (docs, ctx, blockLen), 5)
    cases.foreach { case (docs, ctx, blockLen) =>
        val df = docs.toDF("doc_id", "ntok")
        val segs = Pack.packSequences(df, "doc_id", col("ntok"), ctx,
          blockLen).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val total = docs.map(_._2.toLong).sum
        // token conservation
        assert(segs.map(_._4).sum == total)
        // every pack except the last is exactly full; none exceed ctx
        val perPack = segs.groupBy(_._2).view.mapValues(_.map(_._4).sum)
        val last = perPack.keys.max
        perPack.foreach { case (p, t) =>
          assert(t <= ctx)
          if (p != last) assert(t == ctx, s"pack $p has $t/$ctx") }
        // segments of one doc are contiguous in the stream
        segs.groupBy(_._1).foreach { case (_, ss) =>
          val sorted = ss.sortBy(_._2)
          sorted.sliding(2).foreach {
            case Array((_, p1, s1, t1), (_, p2, s2, _)) =>
              assert(p2 == p1 + 1 && s2 == 0L && s1 + t1 == ctx)
            case _ => ()
          }
        }
    }
  }

  test("globalIndex: positions are a permutation of [0, N) matching the " +
    "naive rank for random id sets and block counts") {
    val cases = samples(for {
      ids <- Gen.nonEmptyListOf(Gen.choose(0L, 100000L)).map(_.distinct)
      nBlocks <- Gen.choose(1, 64)
    } yield (ids, nBlocks), 5)
    cases.foreach { case (ids, nBlocks) =>
      {
        val df = ids.map(Tuple1(_)).toDF("doc_id")
        val got = Order.globalIndex(df, "doc_id", nBlocks = nBlocks)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        val naive = df.withColumn("h", graft.functions.TextOps.hash32(
            concat(lit("shuffle:"), col("doc_id").cast("string"))))
          .withColumn("pos", row_number().over(
            Window.orderBy("h", "doc_id")).cast("long") - 1L)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        assert(got == naive)
      }
    }
  }

  test("stratified: rate 0 keeps nothing, rate 1 keeps everything, and " +
    "membership is monotone in the rate") {
    samples(Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)), 3)
      .foreach { case (r1, r2) =>
      val df = (0L until 400L).map(i => (i, "s")).toDF("doc_id", "st")
      def kept(r: Double) = Sampling.stratified(df, "doc_id", "st",
        Map.empty, r).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept(0.0).isEmpty)
      assert(kept(1.0).size == 400)
      val (lo, hi) = if (r1 <= r2) (r1, r2) else (r2, r1)
      assert(kept(lo).subsetOf(kept(hi)), s"not monotone at $lo <= $hi")
    }
  }

  test("Bpe.segment: symbol concatenation reconstructs every word under " +
    "random corpora and random learned-rule replays") {
    val corpusGen = for {
      n <- Gen.choose(1, 40)
      words <- Gen.listOfN(n, Gen.nonEmptyListOf(
        Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    } yield words.mkString(" ")
    samples(Gen.zip(corpusGen, Gen.choose(1, 4)), 5).foreach {
      case (text, merges) =>
        val docs = Seq((1L, text)).toDF("doc_id", "text")
        val rules = Bpe.train(docs, "text", merges).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val segs = Bpe.segment(docs, "doc_id", "text", rules)
          .collect().map(r => (r.getString(1), r.getSeq[String](2)))
        // lossless: merging only regroups characters, never drops any
        segs.foreach { case (w, sym) => assert(sym.mkString == w) }
        // compression: each applied rule can only shrink symbol counts
        segs.foreach { case (w, sym) => assert(sym.length <= w.length) }
    }
  }

  test("cooldownDedup: first event per key always kept; kept events are " +
    "pairwise >= cooldown apart; suppressed events are < cooldown after " +
    "their predecessor kept") {
    val evGen = for {
      n <- Gen.choose(1, 60)
      ts <- Gen.listOfN(n, Gen.choose(0L, 500L))
    } yield ts
    samples(Gen.zip(evGen, Gen.choose(10L, 120L)), 5).foreach {
      case (ts, cd) =>
        val df = ts.zipWithIndex.map { case (t, i) =>
          (1L, new java.sql.Timestamp(t * 1000L), i.toLong) }
          .toDF("user_id", "ts", "event_id")
        val kept = Timeseries.cooldownDedup(df, Seq("user_id"), "ts",
          "event_id", cd)
          .collect().map(r => (r.getTimestamp(1).getTime / 1000L,
            r.getLong(2))).sortBy(x => (x._1, x._2))
        val all = ts.zipWithIndex
          .map { case (t, i) => (t, i.toLong) }.sorted
        assert(kept.head == all.head) // earliest event always kept
        kept.toSeq.sliding(2).foreach {
          case Seq(a, b) => assert(b._1 - a._1 >= cd)
          case _ =>
        }
        // greedy maximality: every suppressed event is within cd of the
        // latest kept event at or before it
        val keptTs = kept.map(_._1)
        all.filterNot(kept.contains).foreach { case (t, _) =>
          val anchor = keptTs.filter(_ <= t).max
          assert(t - anchor < cd)
        }
    }
  }

  test("ngramJaccardPrefixPairs equals the full inverted-index join on " +
    "random corpora and FP-hostile thresholds") {
    import graft.operators.Dedup
    // tiny alphabet -> dense shingle overlap -> boundary-rich Jaccards;
    // thresholds include non-representable rationals (1/3, 0.1)
    val docGen = for {
      n <- Gen.choose(3, 24)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    } yield toks.mkString(" ")
    val cases = samples(for {
      nd <- Gen.choose(5, 18)
      docs <- Gen.listOfN(nd, docGen)
      t <- Gen.oneOf(0.1, 0.25, 1.0 / 3, 0.5, 0.7)
    } yield (docs, t), 4)
    cases.foreach { case (docs, t) =>
      val df = docs.zipWithIndex
        .map { case (s2, i) => (i.toLong, s2) }.toDF("doc_id", "text")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1),
          math.floor(r.getDouble(2) * 1e9 + 0.5) / 1e9)
      val full = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      val pref = Dedup.ngramJaccardPrefixPairs(df, "doc_id", "text", 3, t)
        .collect().map(key).toSet
      assert(pref == full,
        s"prefix filter diverged at t=$t over ${docs.length} docs")
    }
  }

  test("Bpe.utf8Lt matches Spark's UTF8String binary order on random " +
    "strings including supplementary characters") {
    import org.apache.spark.unsafe.types.UTF8String
    // fragments chosen to land in the UTF-16-vs-code-point disagreement
    // zone: U+E000..U+FFFF sort ABOVE supplementary chars in UTF-16
    // units but BELOW them in UTF-8 bytes / code points
    val frag = Gen.oneOf("a", "z", "0", " ", "", "�",
      "😀", "ß", "中", "")
    val sGen = Gen.choose(0, 6)
      .flatMap(n => Gen.listOfN(n, frag)).map(_.mkString)
    samples(Gen.zip(sGen, sGen), 400).foreach { case (a, b) =>
      val expected =
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
      assert(Bpe.utf8Lt(a, b) == expected,
        s"utf8Lt(${a.codePoints.toArray.toSeq}, " +
          s"${b.codePoints.toArray.toSeq})")
      assert(!Bpe.utf8Lt(a, a))
    }
    // the disagreement case is REAL: Java's UTF-16 order inverts it
    assert(Bpe.utf8Lt("", "😀"))
    assert("".compareTo("😀") > 0)
  }

  test("Fusion.rrf equals a driver-side reference on random leg sets " +
    "and is invariant under leg permutation") {
    import graft.operators.Fusion
    // random queries, random per-leg candidate subsets with distinct
    // 1-based ranks — duplicate docs across legs, docs unique to one leg
    val legGen = for {
      nq <- Gen.choose(1, 4)
      legs <- Gen.listOfN(3, Gen.listOfN(nq,
        Gen.choose(2, 8).flatMap(k =>
          Gen.pick(k, 0L to 20L).map(_.toSeq.sorted))))
    } yield (nq, legs)
    val cases = samples(legGen, 4)
    cases.foreach { case (nq, legRows) =>
      val queries = (1 to nq).map(i => s"q$i")
      val legs = legRows.map { perQuery =>
        queries.zip(perQuery).flatMap { case (q, docs) =>
          docs.zipWithIndex.map { case (d, i) => (q, d, (i + 1).toLong) }
        }
      }
      val k = 6
      def round4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
      // driver-side reference: sum 1/(60+rank), round, sort, cut
      val expected = legs.flatten
        .groupBy(r => (r._1, r._2))
        .map { case ((q, d), rs) =>
          (q, d, round4(rs.map(r => 1.0 / (60 + r._3)).sum), rs.size.toLong)
        }.toSeq
        .groupBy(_._1)
        .flatMap { case (_, rows) =>
          rows.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
            .map { case (r, i) => (r._1, r._2, r._3, r._4, (i + 1).toLong) }
        }.toSet
      val dfs = legs.map(_.toDF("query", "doc_id", "rank"))
      val got = Fusion.rrf(dfs, k).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == expected, s"rrf diverged from reference (nq=$nq)")
      // leg order must not matter
      val perm = Fusion.rrf(dfs.reverse, k).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(perm == got, "rrf not invariant under leg permutation")
    }
  }

  test("keepFirstSpanDedup: corpus-wide every distinct span text keeps " +
    "EXACTLY one occurrence, and per-doc counts tile the token stream") {
    import graft.operators.Dedup
    val corpusGen = for {
      n <- Gen.choose(2, 40)
      vocab <- Gen.choose(2, 6) // tiny vocab -> heavy span collisions
      sizes <- Gen.listOfN(n, Gen.choose(0, 60))
      words <- Gen.listOfN(sizes.sum max 1,
        Gen.choose(0, vocab - 1).map(i => s"w$i"))
      k <- Gen.choose(1, 7)
    } yield {
      val it = words.iterator
      (sizes.zipWithIndex.map { case (sz, i) =>
        (i.toLong, Seq.fill(sz)(it.next()).mkString(" "))
      }, k)
    }
    samples(corpusGen, 5).foreach { case (docs, k) =>
      val df = docs.toDF("doc_id", "text")
      val r = Dedup.keepFirstSpanDedup(df, "doc_id", "text", k)
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
        .toMap
      // driver-side reference spans (empty-string text -> one "" token,
      // matching split semantics)
      val spans = docs.flatMap { case (id, text) =>
        val toks = text.split(" ", -1).toSeq
        toks.grouped(k).zipWithIndex.map { case (g, i) =>
          (id, i, g.mkString(" ")) }
      }
      val n = spans.size
      val distinct = spans.map(_._3).distinct.size
      // exactly one KEPT occurrence per distinct text
      assert(r.values.map(v => v._1 - v._2).sum == distinct,
        s"k=$k: kept != distinct span texts")
      assert(r.values.map(_._1).sum == n, s"k=$k: span counts don't tile")
      // per-doc: a doc's span count reconstructs ceil(tokens/k)
      docs.foreach { case (id, text) =>
        val t = text.split(" ", -1).length
        assert(r(id)._1 == (t + k - 1) / k, s"doc $id span count")
      }
    }
  }

  test("pointInInterval: bucketization invisible for random widths, " +
    "negative domains, and empty/inverted intervals") {
    import graft.operators.IntervalJoin
    val caseGen = for {
      np <- Gen.choose(1, 150)
      ni <- Gen.choose(1, 40)
      pts <- Gen.listOfN(np, Gen.choose(-3000L, 3000L))
      los <- Gen.listOfN(ni, Gen.choose(-3000L, 3000L))
      spans <- Gen.listOfN(ni, Gen.choose(-50L, 900L)) // some inverted
      w <- Gen.oneOf(1L, 3L, 57L, 1024L, 100000L)
    } yield (pts.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      los.zip(spans).zipWithIndex.map { case ((lo, sp), i) =>
        (i.toLong, lo, lo + sp) }, w)
    samples(caseGen, 5).foreach { case (pts, ivs, w) =>
      val p = pts.toDF("pid", "v")
      val iv = ivs.toDF("iid", "lo", "hi")
      val expected = (for {
        (pid, v) <- pts; (iid, lo, hi) <- ivs
        if v >= lo && v <= hi
      } yield (pid, iid)).sorted
      val got = IntervalJoin.pointInInterval(p, "v", iv, "lo", "hi", w)
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expected, s"W=$w diverged (${pts.size}x${ivs.size})")
    }
  }

  test("quantilesFromCounts: lower-rank quantiles match the sorted " +
    "reference on random multisets at random block counts") {
    import graft.operators.Drift
    val caseGen = for {
      n <- Gen.choose(1, 400)
      vals <- Gen.listOfN(n, Gen.choose(-50, 50))
      nb <- Gen.choose(1, 9)
      qs <- Gen.listOfN(3, Gen.choose(1, 100))
    } yield (vals.map(_.toDouble), nb, qs.map(_ / 100.0))
    samples(caseGen, 6).foreach { case (vals, nb, qs) =>
      val counts = Drift.valueCounts(vals.toDF("x"), col("x"))
      val got = Drift.quantilesFromCounts(counts, qs, nBlocks = nb)
        .collect().map(r => r.getAs[Double]("q") -> r.getAs[Double]("v"))
        .toMap
      val sorted = vals.sorted
      qs.distinct.foreach { q =>
        val k = math.ceil(q * vals.size).toInt.max(1)
        assert(got(q) == sorted(k - 1),
          s"q=$q nb=$nb n=${vals.size}: ${got(q)} vs ${sorted(k - 1)}")
      }
    }
  }

  test("giniCoefficient matches the mean-absolute-difference identity " +
    "on random non-negative data") {
    import graft.operators.Info
    val caseGen = for {
      n <- Gen.choose(2, 200)
      vals <- Gen.listOfN(n, Gen.choose(0, 500))
      nb <- Gen.choose(1, 7)
    } yield (vals.map(_ / 100.0), nb)
    samples(caseGen, 5).foreach { case (vals, nb) =>
      val total = vals.sum
      if (total > 0) {
        val got = Info.giniCoefficient(vals.toDF("x"), col("x"),
          nBlocks = nb).collect()(0).getAs[Double]("gini")
        // independent identity: G = sum_ij |xi - xj| / (2 n^2 mean)
        val n = vals.size
        val mad = (for (a <- vals; b <- vals) yield math.abs(a - b)).sum
        val ref = mad / (2.0 * n * n * (total / n))
        assert(math.abs(got - ref) < 1e-4,
          s"n=$n nb=$nb: $got vs $ref")
      }
    }
  }

  test("isotonicBlocks: monotone rates, conserved mass, pooled means " +
    "on random label sequences") {
    import graft.operators.Eval
    val caseGen = for {
      n <- Gen.choose(1, 60)
      scores <- Gen.listOfN(n, Gen.choose(0, 20))
      ys <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield scores.map(_.toDouble).zip(ys)
    samples(caseGen, 6).foreach { rows =>
      val df = rows.toDF("s", "y")
      val blocks = Eval.isotonicBlocks(df, col("s"), col("y"))
      // strictly increasing rates (equal-rate neighbors pool)
      assert(blocks.map(_.p).sliding(2)
        .forall(p => p.length < 2 || p(0) < p(1)), s"not monotone")
      // mass conservation
      assert(blocks.map(_.cnt).sum == rows.size)
      assert(blocks.map(_.pos).sum == rows.count(_._2))
      // non-overlapping, ordered block ranges
      assert(blocks.sliding(2).forall(b =>
        b.length < 2 || b(0).hi < b(1).lo))
    }
  }

  test("aucDelong AUC equals the direct pair-count AUC on random data") {
    import graft.operators.Eval
    val caseGen = for {
      n <- Gen.choose(10, 150)
      rows <- Gen.listOfN(n, for {
        s <- Gen.choose(0, 30); y <- Gen.oneOf(true, false)
      } yield (s.toDouble, y))
    } yield rows
    samples(caseGen, 5).foreach { rows =>
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      if (pos.size >= 2 && neg.size >= 2) {
        val d = Eval.aucDelong(rows.toDF("s", "y"), col("s"), col("y"))
          .collect()(0)
        val wins = (for (p <- pos; q <- neg)
          yield if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum
        val ref = math.floor(wins / (pos.size.toLong * neg.size)
          * 1e6 + 0.5) / 1e6
        assert(d.getAs[Double]("auc") == ref,
          s"np=${pos.size} nn=${neg.size}")
        assert(d.getAs[Double]("ci95_lo") <= d.getAs[Double]("auc"))
        assert(d.getAs[Double]("ci95_hi") >= d.getAs[Double]("auc"))
      }
    }
  }

  test("codeHammingScreen agrees with codeHammingPairs restricted to " +
    "the old/new cut on random code sets (argmin consistency)") {
    import spark.implicits._
    import graft.operators.Dedup
    val bits = 56
    val bands = 7
    val maxHamming = 5
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      def r56() = rnd.nextLong() & ((1L << 56) - 1)
      // random codes + planted near-dups straddling the old/new cut
      val base = (1L to 80L).map(i => i -> r56())
      val planted = (0 until 12).flatMap { j =>
        val b = r56()
        Seq((200L + j) -> b,
          (300L + j) -> (b ^ (1L << ((j * 13) % 56))))
      }
      val codes = (base ++ planted).toMap
      val all = codes.toSeq.toDF("id", "code")
      val isNew = (id: Long) => id % 2 == 0
      val newDf = all.filter(col("id") % 2 === 0)
      val oldDf = all.filter(col("id") % 2 =!= 0)
      val screen = Dedup.codeHammingScreen(newDf, "id", "code",
        Dedup.codeBandIndex(oldDf, "id", "code", bits, bands),
        bits, maxHamming, bands)
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some((r.getLong(3), r.getLong(2)))))
        .toMap
      // reference: full pair set, restricted to cross-cut pairs, argmin
      val pairs = Dedup.codeHammingPairs(all, "id", "code", bits,
        maxHamming, bands)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
      val best = scala.collection.mutable.Map
        .empty[Long, (Long, Long)] // nid -> (hamming, oid)
      pairs.foreach { case (a, b, h) =>
        val cross = Seq((a, b), (b, a)).filter { case (x, y) =>
          isNew(x) && !isNew(y) }
        cross.foreach { case (nid, oid) =>
          val cur = best.get(nid)
          val cand = (h, oid)
          if (cur.forall(c =>
            cand._1 < c._1 || (cand._1 == c._1 && cand._2 < c._2)))
            best(nid) = cand
        }
      }
      codes.keys.filter(isNew).foreach { nid =>
        assert(screen(nid) == best.get(nid),
          s"seed $seed id $nid: screen ${screen(nid)} vs pairs-argmin " +
            s"${best.get(nid)}")
      }
    }
  }
  test("autoPruneN: 0 exactly below the floor; otherwise a power of " +
    "two in [512, 2^16], monotone nondecreasing in rows") {
    import graft.streaming.Ingest
    val rowsGen = Gen.oneOf(
      Gen.choose(0L, (1L << 26) + (1L << 27)),
      Gen.choose(0L, Long.MaxValue / 4))
    val pts = samples(rowsGen, 400) ++ Seq(0L, (1L << 26) - 1,
      1L << 26, Long.MaxValue / 2)
    for (r <- pts) {
      val n = Ingest.autoPruneN(r)
      if (r < (1L << 26)) assert(n == 0, s"rows=$r -> $n")
      else {
        assert(n >= 512 && n <= (1 << 16), s"rows=$r -> $n")
        assert(Integer.bitCount(n) == 1, s"rows=$r -> $n not a pow2")
      }
    }
    val sortedPts = pts.sorted
    val ns = sortedPts.map(Ingest.autoPruneN)
    assert(ns.zip(ns.tail).forall { case (a, b) => a <= b },
      "autoPruneN must be monotone in rows")
  }

  test("LegacySql: n-leg comma-unions translate to n-1 UNION ALLs and " +
    "the row count is the sum of the legs, for random leg counts and " +
    "sizes") {
    import graft.catalog.LegacySql
    val cases = samples(for {
      k <- Gen.choose(2, 5)
      sizes <- Gen.listOfN(k, Gen.choose(0, 7))
    } yield sizes, 12)
    for ((sizes, ci) <- cases.zipWithIndex) {
      sizes.zipWithIndex.foreach { case (sz, i) =>
        spark.range(sz.toLong).toDF("id")
          .createOrReplaceTempView(s"plsq_${ci}_$i")
      }
      val legs = sizes.indices
        .map(i => s"(SELECT id AS a FROM plsq_${ci}_$i)")
        .mkString(",\n  ")
      val out = LegacySql.translate(s"SELECT * FROM $legs")
      assert("UNION ALL".r.findAllIn(out).length == sizes.length - 1, out)
      assert(spark.sql(out).count() == sizes.sum.toLong, out)
    }
  }

  test("StandardSql.translate: whole-reference backticks split " +
    "per-part, idempotently, with envsubst applied and the dialect " +
    "marker dropped, for random identifier paths") {
    import graft.catalog.{ReferenceViews, StandardSql}
    val part = for {
      h <- Gen.alphaChar
      t <- Gen.listOf(Gen.frequency(8 -> Gen.alphaNumChar,
        1 -> Gen.const('_'), 1 -> Gen.const('-')))
    } yield (h :: t.take(12)).mkString
    val pathGen = for {
      k <- Gen.choose(1, 4)
      ps <- Gen.listOfN(k, part)
    } yield ps
    for (parts <- samples(pathGen, 24)) {
      val sql = s"""#standardSQL
                   |-- body comment
                   |SELECT * FROM `$${PROJECT}.${parts.mkString(".")}`
                   |""".stripMargin
      val out = StandardSql.translate(sql)
      // each dot-part re-quoted individually, project substituted
      val want = (ReferenceViews.Project +: parts)
        .map(p => s"`$p`").mkString(".")
      assert(out.contains(want), s"$out missing $want")
      assert(!out.toLowerCase.contains("#standardsql"), out)
      // idempotent: per-part quoting re-translates to itself
      assert(StandardSql.translate(out) == out, out)
      // custom vars beat nothing, defaults still apply elsewhere
      val out2 = StandardSql.translate(sql,
        vars = Map("PROJECT" -> "proj2"))
      assert(out2.contains(("proj2" +: parts)
        .map(p => s"`$p`").mkString(".")), out2)
    }
  }

  test("codebookKept == the driver-side ordinal reference on random " +
    "non-dense id sets, always within the cap") {
    // random candidate-set sizes and GAPPED, shuffled vids; the kept set
    // must equal "sort by vid, keep every ceil(n/cap)-th ordinal"
    // exactly — the contract the executor-side thinning promises — and
    // never exceed the cap (ceil(n/ceil(n/m)) <= m)
    val caseGen = for {
      n <- Gen.choose(1, 700)
      cap <- Gen.choose(1, 90)
      gaps <- Gen.listOfN(n, Gen.choose(1L, 9L))
    } yield (cap, gaps.scanLeft(0L)(_ + _).tail)
    for ((cap, vids) <- samples(caseGen, 12)) {
      val cands = scala.util.Random.javaRandomToRandom(
        new java.util.Random(cap)).shuffle(vids)
        .map(v => (v, v * 3 + 1)).toDF("vid", "payload")
      val kept = graft.operators.Similarity.codebookKept(cands, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val stride = ((vids.size + cap - 1) / cap).toInt
      val want = vids.sorted.zipWithIndex.collect {
        case (v, j) if j % stride == 0 => (v, v * 3 + 1) }
      assert(kept.length <= cap, s"n=${vids.size} cap=$cap -> ${kept.length}")
      assert(kept.toSeq == want, s"n=${vids.size} cap=$cap")
    }
  }

  test("classifyDrift invariants on random query maps: uniform scaling, " +
    "canary lockstep, permutation invariance, reference-vs-self") {
    import graft.tools.DriftReport.classifyDrift
    val mapGen = for {
      n <- Gen.choose(25, 200)
      ts <- Gen.listOfN(n, Gen.choose(0.05, 20.0))
    } yield ts.zipWithIndex.map { case (t, i) => s"q$i" -> t }.toMap
    for ((m, i) <- samples(mapGen, 10).zipWithIndex) {
      val read = 0.2 + (i % 5) * 0.1
      // a run compared against itself is stable at exactly 1.0
      val self = classifyDrift(m, m, read, read)
      assert(self.verdict == "stable" && math.abs(self.median - 1.0) < 1e-9)
      // a uniform c-times slowdown with FLAT canaries is drifted-code
      // with median == residual == c ...
      val c = 1.2 + (i % 4) * 0.2
      val slowed = m.map { case (k, v) => k -> v * c }
      val code = classifyDrift(m, slowed, read, read)
      assert(math.abs(code.median - c) < 1e-9 &&
        math.abs(code.residual - c) < 1e-9)
      assert(code.verdict == (if (c <= 1.15) "stable" else "drifted-code"))
      // ...and the SAME slowdown with the canary moving in lockstep is
      // canary-explained: residual 1.0, drifted-host (or stable under
      // the wall-time band)
      val host = classifyDrift(m, slowed, read, read * c)
      assert(math.abs(host.residual - 1.0) < 1e-9)
      assert(host.verdict == (if (c <= 1.15) "stable" else "drifted-host"))
      // mover invariants (r18): self and canary-lockstep runs carry
      // ZERO movers (the canary normalizes the band away); a uniform
      // flat-canary slowdown makes EVERY query a mover exactly when it
      // clears the 1.5x threshold, with at most 3 named
      assert(self.movers == 0 && self.top.isEmpty)
      assert(host.movers == 0, host.toString)
      assert(code.movers == (if (c > 1.5) m.size else 0), code.toString)
      assert(code.top.size == (if (c > 1.5) math.min(3, m.size) else 0))
      // the median is a set property: key relabeling cannot move it
      val relabeled = m.map { case (k, v) => s"x$k" -> v }
      val slowedRe = slowed.map { case (k, v) => s"x$k" -> v }
      assert(math.abs(classifyDrift(relabeled, slowedRe, read, read).median -
        code.median) < 1e-9)
      // disjoint maps never manufacture a verdict
      assert(classifyDrift(m, relabeled, read, read).verdict == "no-prior")
    }
  }

  // ---- connected components: driver tier vs corpus tier ----------------

  private type Edge = (Option[Long], Option[Long])

  /** Cliques of 1-5 nodes (a 1-node clique is a self-loop) over distinct
    * random ids in [-500, 500]; returns the cliques' id groups. */
  private def cliquesGen(n: Int): Gen[Seq[Seq[Long]]] = for {
    sizes <- Gen.listOfN(n, Gen.choose(1, 5))
    ids <- Gen.pick(sizes.sum, -500L to 500L)
  } yield sizes.scanLeft(0)(_ + _).zip(sizes).map { case (lo, n) =>
    ids.toSeq.slice(lo, lo + n) }

  private def cliqueEdges(c: Seq[Long]): Seq[(Long, Long)] =
    if (c.size == 1) Seq((c.head, c.head))
    else for (x <- c; y <- c if x < y) yield (x, y)

  /** Random graphs: two chains longer than `relaxRounds`, three
    * cliques, extra self-loops and duplicated edges, null endpoints
    * (an id whose only edge is to null, nulls on linked ids, a (null,
    * null) edge), each edge in a random orientation. A `monotone` chain
    * runs through its ids in ascending or descending order, the shape
    * whose convergence HashMin's pointer jumps guarantee within 8 relax
    * rounds up to 32 nodes; any other chain visits its ids in random
    * order. */
  private def ccGraphGen(relaxRounds: Int, monotone: Boolean): Gen[Seq[Edge]] = for {
    lens <- Gen.listOfN(2, Gen.choose(relaxRounds + 2, 3 * relaxRounds))
    chainIds <- Gen.pick(lens.sum, 501L to 2000L)
    keys <- Gen.listOfN(lens.sum, Gen.choose(0, Int.MaxValue))
    negate <- Gen.listOfN(lens.sum, Gen.prob(0.5))
    descending <- Gen.listOfN(2, Gen.prob(0.5))
    cliques <- cliquesGen(3)
    ids = chainIds.toSeq.zip(negate).map { case (x, n) => if (n) -x else x }
      .zip(keys).sortBy(_._2).map(_._1)
    chains = Seq(ids.take(lens.head), ids.drop(lens.head)).zip(descending)
      .map { case (c, d) =>
        if (!monotone) c else if (d) c.sorted.reverse else c.sorted }
    structural = chains.flatMap(c => c.zip(c.tail)) ++
      cliques.flatMap(cliqueEdges)
    loops <- Gen.someOf(ids ++ cliques.flatten)
    dups <- Gen.someOf(structural)
    nulled <- Gen.someOf(ids ++ cliques.flatten)
    nullNull <- Gen.prob(0.5)
    linked = (structural ++ loops.take(4).map(x => (x, x)) ++ dups.take(6))
      .map { case (x, y) => (Option(x), Option(y)) }
    withNulls = linked ++ (nulled.take(3).toSeq :+ -2001L)
      .map(x => (Option(x), Option.empty[Long])) ++
      (if (nullNull) Seq((Option.empty[Long], Option.empty[Long])) else Nil)
    flips <- Gen.listOfN(withNulls.size, Gen.prob(0.5))
  } yield flips.zip(withNulls).map { case (f, e) => if (f) e.swap else e }

  /** Test-local reference: BFS over the edges without a null endpoint
    * gives every id its component minimum; the nodes are the `a` ids of
    * those edges once symmetrized. */
  private def ccReference(edges: Seq[Edge], symmetric: Boolean)
      : Seq[(Long, Long)] = {
    val linked = edges.collect { case (Some(x), Some(y)) => (x, y) }
    val sym = if (symmetric) linked else linked ++ linked.map(_.swap)
    val adj = sym.groupMap(_._1)(_._2)
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    for (s <- sym.map(_._1).distinct.sorted if !comp.contains(s)) {
      var frontier = Seq(s) // ascending order: s is its component's min
      comp(s) = s
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(comp.contains).distinct
        frontier.foreach(comp(_) = s)
      }
    }
    sym.map(_._1).distinct.map(x => (x, comp(x))).sorted
  }

  test("connectedComponents: the driver tier (union-find) and the corpus " +
    "tier (HashMin) agree row-for-row, and with a BFS reference, on " +
    "random graphs: long chains, cliques, self-loops, duplicates, both " +
    "orientations, symmetric inputs, negative ids, null endpoints") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.operators.Dedup
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
    def symmetrized(es: Seq[Edge], symmetric: Boolean): Seq[Edge] =
      if (symmetric) es ++ es.map(_.swap) else es
    // maxIter 8 = 8 relax rounds; every chain is longer, so the corpus
    // tier only converges through its pointer jumps
    val maxIter = 8
    for ((g, i) <- samples(ccGraphGen(maxIter, monotone = true), 6)
        .zipWithIndex) {
      val symmetric = i % 2 == 1
      val df = symmetrized(g, symmetric).toDF("a", "b")
      val driver = Dedup.connectedComponents(df, maxIter, symmetric)
      assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation],
        "the driver tier was not taken under the driver bound")
      val corpus = onCorpusTier {
        Dedup.connectedComponents(df, maxIter, symmetric)
      }
      assert(!corpus.queryExecution.analyzed.isInstanceOf[LocalRelation])
      val want = ccReference(symmetrized(g, symmetric), symmetric)
      assert(rows(driver) == want, s"driver tier vs reference, sample $i")
      assert(rows(corpus) == want, s"corpus tier vs reference, sample $i")
      assert(driver.schema == corpus.schema)
    }
    // random-order chains, which the corpus tier does not converge
    // within the same relax budget: the driver tier against the
    // reference only
    for ((g, i) <- samples(ccGraphGen(maxIter, monotone = false), 3)
        .zipWithIndex) {
      val got = Dedup.connectedComponents(g.toDF("a", "b"), maxIter)
      assert(rows(got) == ccReference(g, symmetric = false),
        s"driver tier vs reference, random-order sample $i")
    }
  }

  /** A random (v, cnt) count table: values from a domain of 1-6 (ties
    * across rows and a single distinct value are common), counts 0-5,
    * 0-30 rows, duplicate v rows included. */
  private val countTableGen: Gen[Seq[(Double, Long)]] = for {
    domain <- Gen.choose(1, 6)
    n <- Gen.choose(0, 30)
    rows <- Gen.listOfN(n, for {
      v <- Gen.choose(0, domain - 1)
      c <- Gen.choose(0L, 5L)
    } yield (v * 1.5 - 2.0, c))
  } yield rows

  /** Lower-rank quantiles of a (v, cnt) table, plain Scala: the first
    * value in ascending order whose cumulative count reaches
    * ceil(q·n). */
  private def quantileRef(t: Seq[(Double, Long)], qs: Seq[Double])
      : Seq[(Double, Long, Double)] = {
    val n = t.map(_._2).sum
    val cum = t.sortBy(_._1).scanLeft((0.0, 0L)) { case ((_, c), (v, k)) =>
      (v, c + k) }.tail
    qs.distinct.sorted.flatMap { q =>
      val target = math.ceil(q * n).toLong
      cum.find(_._2 >= target).map(x => (q, target, x._1))
    }
  }

  /** Two-sample KS of two (v, cnt) tables, plain Scala, rounded to 6 dp
    * as the reduction rounds it. */
  private def ksRef(a: Seq[(Double, Long)], b: Seq[(Double, Long)])
      : (Long, Long, Double) = {
    val (na, nb) = (a.map(_._2).sum, b.map(_._2).sum)
    val d = (a ++ b).map(_._1).distinct.map { x =>
      math.abs(a.filter(_._1 <= x).map(_._2).sum.toDouble / na -
        b.filter(_._1 <= x).map(_._2).sum.toDouble / nb)
    }.max
    (na, nb, math.floor(d * 1e6 + 0.5).toLong / 1e6)
  }

  test("Drift quantiles and KS: the driver tier, the corpus tier and a " +
    "plain-Scala reference agree on random count tables (ties, one " +
    "distinct value, q = 1.0, duplicate values, zero counts, several " +
    "groups, an empty KS side), and the driver tier throws wherever the " +
    "corpus tier does") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.operators.Drift
    def isLocal(df: DataFrame): Boolean =
      df.queryExecution.analyzed.isInstanceOf[LocalRelation]
    def sorted(df: DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.toString)
    /** Both tiers of `reduce`; the driver tier was taken when `local`,
      * equal schemas and rows, or both throw. */
    def tiers(what: String, local: Boolean)(reduce: => DataFrame)
        : Option[Seq[Row]] = {
      val driver = scala.util.Try { val d = reduce; (d, sorted(d)) }
      val corpus = scala.util.Try(onCorpusTier {
        val c = reduce; (c, sorted(c)) })
      assert(driver.isFailure == corpus.isFailure,
        s"$what: driver tier $driver, corpus tier $corpus")
      corpus.toOption.map { case (c, rows) =>
        val (d, drows) = driver.get
        assert(isLocal(d) == local, s"$what: driver tier taken ${isLocal(d)}")
        assert(!isLocal(c), s"$what: corpus tier ran in the driver")
        assert(d.schema == c.schema, s"$what: ${d.schema} vs ${c.schema}")
        assert(drows == rows, s"$what: driver vs corpus tier")
        rows
      }
    }
    val qsGen = Gen.listOfN(3, Gen.choose(1, 100)).map(_.map(_ / 100.0) :+ 1.0)
    val cases = samples(for {
      t <- countTableGen
      u <- countTableGen
      w <- countTableGen
      qs <- qsGen
    } yield (t, u, w, qs), 12)
    for (((t, u, w, qs), i) <- cases.zipWithIndex) {
      val nb = i % 4 + 1 // block counts 1-4: values share blocks
      // quantilesFromCounts
      val got = tiers(s"quantiles $i", local = true) {
        Drift.quantilesFromCounts(t.toDF("v", "cnt"), qs, nBlocks = nb) }
      assert(got.get.map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1) == quantileRef(t, qs), s"quantiles $i vs reference")
      // quantilesFromCountsBy: three groups, one of them possibly empty
      val groups = Seq("a" -> t, "b" -> u, "c" -> w)
      val tagged = groups.flatMap { case (g, rows) =>
        rows.map { case (v, c) => (g, v, c) } }.toDF("g", "v", "cnt")
      val byGot = tiers(s"grouped quantiles $i", local = true) {
        Drift.quantilesFromCountsBy(tagged, qs, nBlocks = nb) }
      assert(byGot.get.map(r => (r.getString(0), r.getDouble(1),
          r.getLong(2), r.getDouble(3))).sortBy(x => (x._1, x._2)) ==
        groups.flatMap { case (g, rows) => quantileRef(rows, qs)
          .map { case (q, k, v) => (g, q, k, v) } }, s"grouped $i vs reference")
      // ksFromCounts: an empty or all-zero side divides by zero, which
      // both tiers must raise (ANSI) or answer alike
      val ksLocal = t.map(_._2).sum != 0 && u.map(_._2).sum != 0
      tiers(s"ksFromCounts $i", ksLocal) {
        Drift.ksFromCounts(t.toDF("v", "cnt"), u.toDF("v", "cnt"), nb)
      }.filter(_ => ksLocal).foreach { rows =>
        val r = rows.head
        assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ksRef(t, u),
          s"ksFromCounts $i vs reference")
      }
      // ksStatistic over raw values: every (v, cnt) row is cnt values
      val (ra, rb) = (t.flatMap { case (v, c) => Seq.fill(c.toInt)(v) },
        u.flatMap { case (v, c) => Seq.fill(c.toInt)(v) })
      tiers(s"ksStatistic $i", ra.nonEmpty && rb.nonEmpty) {
        Drift.ksStatistic(ra.toDF("x"), rb.toDF("x"), col("x"), nb)
      }.filter(_ => ra.nonEmpty && rb.nonEmpty).foreach { rows =>
        val r = rows.head
        assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ksRef(t, u),
          s"ksStatistic $i vs reference")
      }
    }
    // the empty side, pinned: KS against nothing raises in both tiers
    // under ANSI, and with an empty table neither tier has a quantile
    val empty = Seq.empty[(Double, Long)].toDF("v", "cnt")
    val one = Seq((1.0, 2L)).toDF("v", "cnt")
    assert(tiers("ks vs empty", local = false) {
      Drift.ksFromCounts(one, empty) }.isEmpty == spark.conf
      .get("spark.sql.ansi.enabled").toBoolean)
    assert(tiers("quantiles of empty", local = true) {
      Drift.quantilesFromCounts(empty, Seq(0.5, 1.0)) }.contains(Seq.empty))
  }
}
