package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.operators.{Blocking, Bm25, CountMin, Dedup, Fusion, HeavyHitters, HistSketch, Hll, Itemsets, Layout, Sampling, Shard, Similarity, Skew, TextAnalysis}

/** Corpus-curation operators (round 5): semantic dedup (SemDeDup),
  * URL-canonicalization dedup, the Gopher quality rule bundle, and the
  * temperature-weighted domain mixture planner — the four curation
  * stages between "raw crawl" and "training mixture" that the earlier
  * modules' content-hash dedup and quality gates don't cover.
  *
  * Same oracle-parity conventions as every other module: stable
  * floor-rounding on float outputs on BOTH sides, identical aliases,
  * unique-key ORDER BY.
  */
object Curation {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // Same closed-form vector-norm CTE the LlmOps embedding oracles use.
  private val duckVecNorm =
    """v AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM v)""".stripMargin

  // The raw-URL synthesis shared by qC8's two sides: the corpus has no
  // URL column, so the query derives one deterministically from existing
  // columns — mixed case, default port, sporadic trailing slash,
  // tracking param, sporadic fragment — every mess normalizeUrl handles.
  private val duckRawUrl =
    """'HTTPS://WWW.' || source || '.Example.COM:443/p/' ||
      |    CAST(doc_id % 40 AS VARCHAR) ||
      |    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
      |    '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR) ||
      |    CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END""".stripMargin

  private def sparkRawUrl =
    concat(
      lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/p/"),
      (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 3 === 0, "/").otherwise(""),
      lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
      when(col("doc_id") % 2 === 0, "#frag").otherwise(""))

  /** Gopher-rule DuckDB CTEs over `src` (columns: doc_id, text) —
    * generated once, composed by qC9 (over documents) and qQ1 (over the
    * HTML-extracted content), so both oracles replay the identical rule
    * text.
    */
  private def gopherSqlCtes(src: String): String = {
    val stopSum = TextAnalysis.GopherRequiredWords
      .map(w => s"CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""g_t AS (SELECT doc_id, text, len(text) AS n_chars,
       |    string_split(text, ' ') AS toks FROM $src),
       |g_m AS (SELECT doc_id, n_chars,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(toks,
       |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
       |      AS alpha_words,
       |    CAST($stopSum AS BIGINT) AS stop_hits,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.'))
       |      AS BIGINT) AS symbols
       |  FROM g_t),
       |g_r AS (SELECT doc_id, n_words,
       |    floor((n_chars - (n_words - 1)) * 1.0 / n_words
       |      * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
       |    floor(alpha_words * 1.0 / n_words * 10000.0 + 0.5)
       |      / 10000.0 AS frac_alpha,
       |    stop_hits,
       |    floor(symbols * 1.0 / n_words * 10000.0 + 0.5)
       |      / 10000.0 AS symbol_ratio
       |  FROM g_m)""".stripMargin
  }

  private val gopherKeepSql =
    """(n_words BETWEEN 50 AND 100000)
      |    AND (mean_word_len BETWEEN 3.0 AND 10.0)
      |    AND frac_alpha >= 0.8 AND stop_hits >= 2
      |    AND symbol_ratio <= 0.1""".stripMargin

  private def gopherSqlSelect =
    s"""SELECT doc_id, n_words, mean_word_len, frac_alpha, stop_hits,
       |  symbol_ratio,
       |  $gopherKeepSql AS keep
       |FROM g_r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ HTML
  // Synthetic raw-HTML fixture for the boilerplate-removal stage: the
  // corpus has no HTML column, so the page is built deterministically
  // around each document's text — nav, sidebar (every 3rd doc), ad,
  // footer, script/style/comment chrome, plus a second content
  // paragraph with entities (every 2nd doc). One piece-DSL renders
  // BOTH the Spark Column and the DuckDB expression, so fixture parity
  // holds by construction (same pattern as the raw-URL synthesis
  // above).
  private sealed trait Hp
  private case class HL(s: String) extends Hp
  private case object HText extends Hp
  private case class HSub(from: Int, len: Int) extends Hp
  private case class HWhen(mod: Int, rem: Int, inner: Seq[Hp]) extends Hp

  private val htmlPieces: Seq[Hp] = Seq(
    HL("<html><head><title>doc</title>"),
    HL("<style>body { color: #333; }</style>"),
    HL("<script>var n = 1; if (n < 2) { n = 3; }</script>"),
    HL("</head><body>"),
    HL("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact us</a></nav>"),
    HL("<h1>"), HSub(1, 40), HL("</h1>"),
    HWhen(3, 0, Seq(HL("<div class=\"sidebar\"><ul>" +
      "<li><a href=\"/t/1\">Trending one</a></li>" +
      "<li><a href=\"/t/2\">Trending two</a></li></ul></div>"))),
    HL("<p>"), HText, HL("</p>"),
    HWhen(2, 0, Seq(HL("<p>"), HSub(20, 600),
      HL(" &amp; more on the &quot;topic&quot;.</p>"))),
    HL("<div class=\"ad\"><a href=\"/buy\">Buy now! Limited offer - " +
      "click here to save 20% today</a></div>"),
    HL("<!-- page chrome -->"),
    HL("<footer><a href=\"/privacy\">Privacy</a> " +
      "<a href=\"/terms\">Terms</a> (c) example</footer>"),
    HL("</body></html>"))

  private def htmlSpark(textCol: org.apache.spark.sql.Column,
      idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def piece(p: Hp): org.apache.spark.sql.Column = p match {
      case HL(s) => lit(s)
      case HText => textCol
      case HSub(f, l) => substring(textCol, f, l)
      case HWhen(m, r, inner) =>
        when(idCol % m === r, concat(inner.map(piece): _*)).otherwise("")
    }
    concat(htmlPieces.map(piece): _*)
  }

  private def htmlSql: String = {
    def piece(p: Hp): String = p match {
      case HL(s) => "'" + s.replace("'", "''") + "'"
      case HText => "text"
      case HSub(f, l) => s"substr(text, $f, $l)"
      case HWhen(m, r, inner) =>
        s"CASE WHEN doc_id % $m = $r THEN " +
          inner.map(piece).mkString(" || ") + " ELSE '' END"
    }
    htmlPieces.map(piece).mkString(" ||\n    ")
  }

  val all: Seq[GraftQuery] = Seq(

    // SemDeDup with the deterministic LSH-cell assignment: within-cell
    // cosine pairs -> HashMin components -> canonical-min keep. Oracle:
    // closed-form hyperplane buckets (as q70) + WITH RECURSIVE closure
    // (as q58) — different algorithms, identical assignment.
    GraftQuery(
      "qC7_semdedup",
      "SemDeDup over the embedding corpus: LSH-cell cosine pairs " +
        "(ADAPTIVE hyperplane count: smallest k with 2^k*64 >= n, " +
        "t=0.4) contracted to components, one kept vector per " +
        "semantic-duplicate group.",
      (s, d) => {
        // corpus-adaptive cell count (qO9's production rule): fixed
        // planes leave cell occupancy ∝ n and the within-cell cosine
        // self-join melts at the 100x probe; the adaptive rule keeps
        // expected occupancy <= 64 at any corpus size and reproduces
        // planes=3 at the sf0.01 fixture (rows bit-unchanged)
        val planes = graft.operators.Similarity.adaptivePlanes(
          graft.Tables.rowCount(s, d, "embeddings"))
        Dedup.semDedup(
          t(s, d, "embeddings"), "vec_id", "embedding",
          planes = planes, threshold = 0.4)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $duckVecNorm,
              |pl AS (SELECT coalesce(min(range), 30) AS k FROM range(1,31)
              |  WHERE (1 << range) * 64 >=
              |    (SELECT count(*) FROM embeddings)),
              |b AS (SELECT vec_id, v, nrm,
              |  CAST(list_sum(list_transform(
              |    range(0, (SELECT k FROM pl)), j ->
              |    CASE WHEN list_sum(list_transform(v, (x,i) ->
              |        x * (((2*j+3)*(i+16)) % 101 - 50))) > 0
              |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)
              |    AS bucket
              |  FROM n),
              |p AS (
              |  SELECT a.vec_id AS doc_a, y.vec_id AS doc_b
              |  FROM b a JOIN b y
              |    ON a.bucket = y.bucket AND a.vec_id < y.vec_id
              |  WHERE list_sum(list_transform(range(1,65),
              |      i -> a.v[i]*y.v[i])) / (a.nrm*y.nrm) >= 0.4),
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
              |  UNION ALL SELECT doc_b, doc_a FROM p),
              |reach(node, r) AS (
              |  SELECT a, a FROM edges
              |  UNION
              |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node),
              |comp AS (SELECT node, min(r) AS canonical
              |  FROM reach GROUP BY node)
              |SELECT e.vec_id AS doc_id,
              |  coalesce(c.canonical, e.vec_id) AS canonical,
              |  coalesce(c.canonical, e.vec_id) = e.vec_id AS keep
              |FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
              |ORDER BY doc_id""".stripMargin)),

    // Incremental SEMANTIC dedup: the embedding screen the streaming
    // AnnScreen drives (one implementation; Ingest.startAnnScreen's
    // foreachBatch calls exactly this operator) — new vectors probed
    // against a standing LSH cell index, min matching id wins. The
    // asymmetric sibling of qC7's symmetric semdedup, the q74 shape
    // for vectors.
    GraftQuery(
      "qR4_embedding_screen",
      "Incremental embedding near-dup screen: every-10th-id vectors " +
        "probed against the LSH cell index of the rest (adaptive " +
        "planes, cosine >= 0.4); min matching old id per new vector.",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val planes = graft.operators.Similarity.adaptivePlanes(
          graft.Tables.rowCount(s, d, "embeddings"))
        val idx = Dedup.embeddingLshIndex(
          emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
          planes)
        Dedup.embeddingLshScreen(
          emb.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          idx, planes, threshold = 0.4)
          .orderBy("vec_id")
      },
      Some(s"""WITH $duckVecNorm,
              |pl AS (SELECT coalesce(min(range), 30) AS k FROM range(1,31)
              |  WHERE (1 << range) * 64 >=
              |    (SELECT count(*) FROM embeddings)),
              |b AS (SELECT vec_id, v, nrm,
              |  CAST(list_sum(list_transform(
              |    range(0, (SELECT k FROM pl)), j ->
              |    CASE WHEN list_sum(list_transform(v, (x,i) ->
              |        x * (((2*j+3)*(i+16)) % 101 - 50))) > 0
              |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)
              |    AS bucket
              |  FROM n),
              |news AS (SELECT * FROM b WHERE vec_id % 10 = 0),
              |olds AS (SELECT * FROM b WHERE vec_id % 10 != 0),
              |m AS (
              |  SELECT x.vec_id, min(y.vec_id) AS match_id
              |  FROM news x JOIN olds y
              |    ON x.bucket = y.bucket AND x.vec_id != y.vec_id
              |  WHERE x.nrm > 0 AND y.nrm > 0
              |    AND list_sum(list_transform(range(1,65),
              |      i -> x.v[i]*y.v[i])) / (x.nrm*y.nrm) >= 0.4
              |  GROUP BY x.vec_id)
              |SELECT e.vec_id, m.match_id IS NOT NULL AS is_dup,
              |  m.match_id
              |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0) e
              |LEFT JOIN m ON e.vec_id = m.vec_id
              |ORDER BY e.vec_id""".stripMargin)),

    // URL-canonicalization dedup: the normalization chain is the operator
    // under test (fragment, tracking params, case, default port, trailing
    // slash); the keep-min grouping is the cheapest dedup pass a crawl
    // pipeline runs. Both sides synthesize the same raw URL, then run the
    // same five RE2-safe normalization steps.
    GraftQuery(
      "qC8_url_dedup",
      "Canonical-URL dedup: normalize a synthesized messy URL " +
        "(case/port/params/fragment/slash) and keep the min doc id per " +
        "canonical form.",
      (s, d) => Dedup.urlDedup(
        t(s, d, "documents").select(col("doc_id"), sparkRawUrl.as("url")),
        "doc_id", "url")
        .orderBy("doc_id"),
      Some(s"""WITH raw AS (SELECT doc_id, $duckRawUrl AS u
              |  FROM documents),
              |s1 AS (SELECT doc_id, regexp_replace(u, '#.*$$', '') AS u
              |  FROM raw),
              |s2 AS (SELECT doc_id, regexp_replace(regexp_replace(
              |    regexp_replace(u,
              |      '(?i)(utm_[a-z0-9_]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
              |    '\\?&', '?'), '[?&]$$', '') AS u FROM s1),
              |s3 AS (SELECT doc_id,
              |  lower(regexp_extract(u, '^[^/]*//[^/?#]*')) ||
              |    regexp_replace(u, '^[^/]*//[^/?#]*', '') AS u FROM s2),
              |s4 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
              |    '^(https://[^/:?#]*):443([/?#]|$$)', '\\1\\2'),
              |    '^(http://[^/:?#]*):80([/?#]|$$)', '\\1\\2') AS u
              |  FROM s3),
              |n AS (SELECT doc_id, regexp_replace(regexp_replace(u,
              |    '/+\\?', '?'), '/+$$', '') AS url_norm FROM s4),
              |g AS (SELECT url_norm, min(doc_id) AS canonical,
              |    count(*) AS n_dupes
              |  FROM n GROUP BY 1)
              |SELECT n.doc_id, n.url_norm, g.canonical, g.n_dupes,
              |  n.doc_id = g.canonical AS keep
              |FROM n JOIN g USING (url_norm)
              |ORDER BY doc_id""".stripMargin)),

    // Gopher rule bundle: five per-document signals + the published
    // composite gate, all at scan speed. The gate compares the ROUNDED
    // ratios on both sides so the boolean can't straddle an engine
    // rounding difference.
    GraftQuery(
      "qC9_gopher_rules",
      "Gopher-style quality rules: word count, mean word length, alpha " +
        "fraction, required-stopword hits, symbol ratio, composite gate.",
      (s, d) => TextAnalysis.gopherRules(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"WITH ${gopherSqlCtes("documents")}\n$gopherSqlSelect")),

    // Mixture planner: T=0.5 flattening over per-source token mass, a
    // 10M-token budget. target_toks is floored from the UNROUNDED share
    // on both sides (the 4-dp share column is display-grade); rate and
    // epochs then derive from the integer target, so no compounding FP.
    GraftQuery(
      "qD0_mixture_plan",
      "Temperature-weighted (T=0.5) domain mixture plan over per-source " +
        "token mass: share, target tokens of a 10M budget, sampling " +
        "rate, loader epochs.",
      (s, d) => Sampling.mixturePlan(
        t(s, d, "documents"), "source", "text",
        temperature = 0.5, budgetTokens = 10000000L)
        .orderBy("stratum"),
      Some("""WITH s AS (SELECT source AS stratum,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
             |  FROM documents GROUP BY 1),
             |w AS (SELECT *, pow(CAST(toks AS DOUBLE), 0.5) AS w FROM s),
             |tot AS (SELECT sum(w) AS w_total FROM w),
             |tgt AS (SELECT stratum, toks,
             |    floor(w / w_total * 10000.0 + 0.5) / 10000.0 AS share,
             |    CAST(floor(10000000.0 * (w / w_total) + 0.5) AS BIGINT)
             |      AS target_toks
             |  FROM w, tot)
             |SELECT stratum, toks, share, target_toks,
             |  floor(target_toks * 1.0 / toks * 10000.0 + 0.5) / 10000.0
             |    AS rate,
             |  CAST(ceil(target_toks * 1.0 / toks) AS BIGINT) AS epochs
             |FROM tgt ORDER BY stratum""".stripMargin)),

    // BM25 ranked retrieval: three fixed term queries, top-5 each. The
    // Spark side never explodes tokens (per-term HOF tf columns + one
    // broadcast stats row + two-phase top-k); the oracle is the
    // textbook exploded (doc, term) formulation — different plans,
    // identical ranking because both rank the 4-dp-rounded score.
    GraftQuery(
      "qD1_bm25",
      "Okapi BM25 top-5 per query (k1=1.2, b=0.75) over the document " +
        "corpus for three fixed term queries — zero-explode scoring, " +
        "block-then-global top-k.",
      (s, d) => Bm25.topK(
        t(s, d, "documents"), "doc_id", "text",
        Seq(
          "q_sparkjoin" -> Seq("spark", "join"),
          "q_window" -> Seq("window", "sort", "stream"),
          "q_scan" -> Seq("scan", "hash")),
        k = 5)
        .orderBy("query", "rank"),
      Some("""WITH q(query, term) AS (VALUES
             |    ('q_sparkjoin','spark'), ('q_sparkjoin','join'),
             |    ('q_window','window'), ('q_window','sort'),
             |    ('q_window','stream'),
             |    ('q_scan','scan'), ('q_scan','hash')),
             |dd AS (SELECT doc_id, string_split(text, ' ') AS toks,
             |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
             |  FROM documents),
             |stats AS (SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl
             |  FROM dd),
             |terms AS (SELECT DISTINCT term FROM q),
             |tf AS (SELECT t.term, dd.doc_id, dd.dl,
             |    CAST(len(list_filter(dd.toks, x -> x = t.term))
             |      AS DOUBLE) AS tf
             |  FROM dd CROSS JOIN terms t),
             |dfreq AS (SELECT term,
             |    CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             |      AS dfq
             |  FROM tf GROUP BY 1),
             |scored AS (SELECT q.query, tf.doc_id,
             |    sum(ln(1 + (s.n_docs - d.dfq + 0.5) / (d.dfq + 0.5))
             |      * tf.tf * 2.2
             |      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
             |      AS score,
             |    sum(tf.tf) AS hits
             |  FROM q JOIN tf ON tf.term = q.term
             |    JOIN dfreq d ON d.term = q.term
             |    CROSS JOIN stats s
             |  GROUP BY 1, 2),
             |r AS (SELECT query, doc_id,
             |    floor(score * 10000.0 + 0.5) / 10000.0 AS score
             |  FROM scored WHERE hits > 0),
             |ranked AS (SELECT *, row_number() OVER (
             |    PARTITION BY query ORDER BY score DESC, doc_id) AS rank
             |  FROM r)
             |SELECT query, doc_id, score, rank
             |FROM ranked WHERE rank <= 5
             |ORDER BY query, rank""".stripMargin)),

    // Z-order (Morton) clustering key: the write-side layout lever. The
    // query checks the interleave math row-by-row (the layout itself —
    // range repartition + sort — is exercised in LayoutSpec, where
    // partition-touch counts are asserted against a linear sort).
    GraftQuery(
      "qD2_zorder",
      "Morton Z-value of (l_partkey mod 256, l_suppkey mod 256) per " +
        "lineitem row — the 2-D clustering key a Z-ordered CTAS sorts by.",
      (s, d) => t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(256)).as("a"),
          pmod(col("l_suppkey"), lit(256)).as("b"))
        .withColumn("z", Layout.zValue(col("a"), col("b"), 8))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_partkey % 256 AS a, l_suppkey % 256 AS b,
             |  CAST(list_sum(list_transform(range(0, 8), i ->
             |    (((l_partkey % 256) >> i) & 1) * (1 << (2*i)) +
             |    (((l_suppkey % 256) >> i) & 1) * (1 << (2*i+1))))
             |    AS BIGINT) AS z
             |FROM lineitem
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Hilbert clustering key — qD2's better-locality sibling (no
    // Z-shape jumps: consecutive curve positions are grid neighbors).
    // The oracle's per-bit CTE chain is GENERATED from the same loop
    // that builds the Spark expression (Layout.hilbertOracleCtes), so
    // the two sides cannot drift.
    GraftQuery(
      "qG3_hilbert",
      "Hilbert-curve index of (l_partkey mod 256, l_suppkey mod 256) " +
        "per lineitem row — the 2-D clustering key a Hilbert CTAS " +
        "sorts by; oracle CTE chain generated from the same loop.",
      (s, d) => {
        graft.functions.GraftFunctions.registerAll(s)
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            pmod(col("l_partkey"), lit(256)).as("a"),
            pmod(col("l_suppkey"), lit(256)).as("b"))
          .withColumn("h", Layout.hilbertValue(col("a"), col("b"), 8))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(s"""WITH h0 AS (
              |  SELECT l_orderkey, l_linenumber,
              |    l_partkey % 256 AS hx0, l_suppkey % 256 AS hy0,
              |    CAST(0 AS BIGINT) AS hd0
              |  FROM lineitem),
              |${Layout.hilbertOracleCtes(8)}
              |SELECT l_orderkey, l_linenumber, hx0 AS a, hy0 AS b,
              |  hd8 AS h
              |FROM h8 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // RAG retrieval chain: sliding-window chunking (the q79 expansion,
    // zero-shuffle) feeding BM25 over CHUNKS — retrieval granularity a
    // RAG stack actually serves. The synthetic chunk id (doc·1000+idx)
    // keeps Bm25's single-column id contract; at corpus scale the id
    // would be a struct key. Oracle: the same textbook BM25 over a
    // generate_series chunk expansion.
    GraftQuery(
      "qD3_chunk_bm25",
      "BM25 top-5 CHUNKS per query (window 32, stride 16): sliding-" +
        "window chunk expansion chained into zero-explode BM25 scoring.",
      (s, d) => {
        val window = 32
        val stride = 16
        import graft.functions.TextOps
        val chunks = t(s, d, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .withColumn("start", explode(sequence(lit(0),
            greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
          .select(
            (col("doc_id") * 1000 + (col("start") / stride).cast("long"))
              .as("cid"),
            array_join(slice(col("toks"), col("start") + 1, lit(window)),
              " ").as("chunk_text"))
        Bm25.topK(chunks, "cid", "chunk_text",
          Seq(
            "q_sparkjoin" -> Seq("spark", "join"),
            "q_window" -> Seq("window", "sort", "stream"),
            "q_scan" -> Seq("scan", "hash")),
          k = 5)
          .select(col("query"),
            (col("doc_id") / 1000).cast("long").as("src_doc"),
            pmod(col("doc_id"), lit(1000)).as("chunk_idx"),
            col("score"), col("rank"))
          .orderBy("query", "rank")
      },
      Some("""WITH q(query, term) AS (VALUES
             |    ('q_sparkjoin','spark'), ('q_sparkjoin','join'),
             |    ('q_window','window'), ('q_window','sort'),
             |    ('q_window','stream'),
             |    ('q_scan','scan'), ('q_scan','hash')),
             |base AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |starts AS (SELECT doc_id, toks,
             |    CAST(unnest(range(0, greatest(len(toks), 1), 16))
             |      AS BIGINT) AS start
             |  FROM base),
             |dd AS (SELECT doc_id * 1000 + start // 16 AS cid,
             |    toks[start + 1 : start + 32] AS w,
             |    CAST(len(toks[start + 1 : start + 32]) AS DOUBLE) AS dl
             |  FROM starts),
             |stats AS (SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl
             |  FROM dd),
             |terms AS (SELECT DISTINCT term FROM q),
             |tf AS (SELECT t.term, dd.cid, dd.dl,
             |    CAST(len(list_filter(dd.w, x -> x = t.term)) AS DOUBLE)
             |      AS tf
             |  FROM dd CROSS JOIN terms t),
             |dfreq AS (SELECT term,
             |    CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             |      AS dfq
             |  FROM tf GROUP BY 1),
             |scored AS (SELECT q.query, tf.cid,
             |    sum(ln(1 + (s.n_docs - d.dfq + 0.5) / (d.dfq + 0.5))
             |      * tf.tf * 2.2
             |      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
             |      AS score,
             |    sum(tf.tf) AS hits
             |  FROM q JOIN tf ON tf.term = q.term
             |    JOIN dfreq d ON d.term = q.term
             |    CROSS JOIN stats s
             |  GROUP BY 1, 2),
             |r AS (SELECT query, cid,
             |    floor(score * 10000.0 + 0.5) / 10000.0 AS score
             |  FROM scored WHERE hits > 0),
             |ranked AS (SELECT *, row_number() OVER (
             |    PARTITION BY query ORDER BY score DESC, cid) AS rank
             |  FROM r)
             |SELECT query, cid // 1000 AS src_doc, cid % 1000 AS chunk_idx,
             |  score, rank
             |FROM ranked WHERE rank <= 5
             |ORDER BY query, rank""".stripMargin)),

    // Hybrid retrieval: a dense leg (exact embedding cosine, q35's
    // kernel) and a lexical leg (probe-restricted sparse BoW cosine —
    // broadcast probe postings, no corpus self-join) fused by
    // reciprocal rank. Probes are vec_id % 100 = 0; the corpus
    // contract is vec_id == doc_id. Both legs are bounded top-10s, so
    // the fusion shuffles O(|probes|·10·2) rows whatever the corpus
    // size. Oracle: the same two legs + RRF sum in DuckDB.
    GraftQuery(
      "qD4_hybrid_rrf",
      "Hybrid retrieval: dense cosine top-10 + lexical BoW-cosine " +
        "top-10 per probe doc, reciprocal-rank fused (c=60) to top-5.",
      (s, d) => {
        val dense = Similarity.bruteForceTopK(
          t(s, d, "embeddings"), "vec_id", "embedding",
          col("vid") % 100 === 0, k = 10)
          .select(col("q_id").as("query"), col("cand_id").as("doc_id"),
            col("rank"))
        val lex = Similarity.sparseCosineTopK(
          t(s, d, "documents"), "doc_id", "text",
          col("doc_id") % 100 === 0, k = 10)
          .select(col("q_id").as("query"), col("cand_id").as("doc_id"),
            col("rank"))
        Fusion.rrf(Seq(dense, lex), k = 5)
          .orderBy("query", "rank")
      },
      Some(s"""WITH $duckVecNorm,
              |q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
              |dscored AS (
              |  SELECT q.vec_id AS query, c.vec_id AS doc_id,
              |    list_sum(list_transform(range(1,65),
              |      i -> q.v[i]*c.v[i])) / (q.nrm*c.nrm) AS cosine
              |  FROM q JOIN n c ON c.vec_id != q.vec_id),
              |dleg AS (SELECT query, doc_id, row_number() OVER (
              |    PARTITION BY query ORDER BY cosine DESC, doc_id) AS rank
              |  FROM dscored),
              |tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
              |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |    FROM documents) WHERE tok <> '' GROUP BY 1, 2),
              |norms AS (SELECT doc_id, sum(tf*tf) AS n2 FROM tf
              |  GROUP BY 1),
              |qtf AS (SELECT doc_id AS q_id, tok, tf AS qtf FROM tf
              |  WHERE doc_id % 100 = 0),
              |dots AS (SELECT p.q_id, tf.doc_id, sum(tf.tf*p.qtf) AS dotp
              |  FROM tf JOIN qtf p USING (tok)
              |  WHERE tf.doc_id != p.q_id GROUP BY 1, 2),
              |lscored AS (SELECT d.q_id AS query, d.doc_id,
              |    CAST(d.dotp AS DOUBLE) /
              |      sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE))
              |      AS cosine
              |  FROM dots d
              |    JOIN norms nq ON nq.doc_id = d.q_id
              |    JOIN norms nc ON nc.doc_id = d.doc_id),
              |lleg AS (SELECT query, doc_id, row_number() OVER (
              |    PARTITION BY query ORDER BY cosine DESC, doc_id) AS rank
              |  FROM lscored),
              |u AS (SELECT query, doc_id, rank FROM dleg WHERE rank <= 10
              |  UNION ALL
              |  SELECT query, doc_id, rank FROM lleg WHERE rank <= 10),
              |fused AS (SELECT query, doc_id,
              |    floor(sum(1.0/(60+rank)) * 10000.0 + 0.5) / 10000.0
              |      AS rrf,
              |    count(*) AS legs_hit
              |  FROM u GROUP BY 1, 2),
              |ranked AS (SELECT *, row_number() OVER (
              |    PARTITION BY query ORDER BY rrf DESC, doc_id) AS rank
              |  FROM fused)
              |SELECT query, doc_id, rrf, legs_hit, rank
              |FROM ranked WHERE rank <= 5
              |ORDER BY query, rank""".stripMargin)),

    // Publish manifest for a 16-shard dataset release: deterministic
    // salted-hash shard assignment (stable under repartition and
    // re-ingestion, like the q59 splitter) and per-shard count/bytes/
    // checksum. The checksum is BIT_XOR of salted 32-bit content
    // hashes — order- and partitioning-independent, no engine-specific
    // overflow (a SUM would widen to int128 in DuckDB but wrap in
    // Spark at extreme counts).
    GraftQuery(
      "qD6_shard_manifest",
      "Deterministic 16-shard manifest: per-shard doc count, byte " +
        "total, and order-independent BIT_XOR content checksum.",
      (s, d) => Shard.manifest(
        t(s, d, "documents"), "doc_id", col("n_chars"), col("text"), 16)
        .orderBy("shard_id"),
      Some("""WITH a AS (SELECT
             |    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
             |      1, 8))::BIGINT % 16 AS shard_id,
             |    n_chars,
             |    ('0x' || substr(md5('content:' || text), 1, 8))::BIGINT
             |      AS h
             |  FROM documents)
             |SELECT shard_id, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS bytes,
             |  bit_xor(h) AS checksum
             |FROM a GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Misra-Gries heavy hitters over 3-gram shingles — the bounded-memory
    // frequency sketch for hot-boilerplate detection: a groupBy-count at
    // 100 TB materializes the whole (mostly-singleton) n-gram vocabulary;
    // the sketch's exchange carries <= k entries per partition. On the
    // fixtures k=32768 >= |distinct 3-grams| (16k at sf0.01, 27k at
    // sf0.1), so no decrement fires and counts are EXACT — the regime
    // the oracle checks; the capped regime's n/(k+1) undercount bound is
    // spec-locked in OperatorsSpec.
    GraftQuery(
      "qD7_heavy_hitters",
      "Top-50 3-gram heavy hitters from a 32k-entry Misra-Gries " +
        "mergeable sketch (exact on the fixtures; n/(k+1)-bounded " +
        "undercount when capped at scale).",
      (s, d) => {
        graft.functions.GraftFunctions.registerAll(s)
        val grams = t(s, d, "documents").select(
          explode(graft.functions.GraftFunctions.wordNgrams(
            col("text"), 3)).as("item"))
        HeavyHitters.top(grams, "item", 32768, 50).orderBy("rank")
      },
      Some("""WITH g AS (
             |  SELECT unnest(list_transform(
             |      range(1, len(string_split(text,' ')) - 1),
             |      i -> string_split(text,' ')[i] || ' ' ||
             |           string_split(text,' ')[i+1] || ' ' ||
             |           string_split(text,' ')[i+2])) AS item
             |  FROM documents
             |  WHERE len(string_split(text,' ')) >= 3)
             |SELECT item, CAST(count(*) AS BIGINT) AS est_count,
             |  row_number() OVER (ORDER BY count(*) DESC, item) AS rank
             |FROM g GROUP BY item
             |ORDER BY est_count DESC, item LIMIT 50""".stripMargin)),

    // Salted skew join: every event against its event-type aggregate,
    // with the probe side sharded across 32 (key, salt) sub-keys and
    // the build side replicated per salt — the hot-key treatment for
    // shuffle joins AQE's skew splitting covers only for sort-merge
    // plans. The oracle is the PLAIN join: salting must be invisible
    // in the result.
    GraftQuery(
      "qD8_salted_join",
      "Event-vs-type-average deltas through a 32-bucket salted equi " +
        "join — result bit-equal to the unsalted join.",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        val dim = ev.groupBy("event_type").agg(
          avg("value").as("type_avg"), count(lit(1)).as("type_n"))
        Skew.saltedJoin(ev, dim, Seq("event_type"), 32)
          .select(col("event_id"), col("event_type"),
            graft.functions.SafeOps.stableRound4(
              col("value") - col("type_avg")).as("delta_vs_type"),
            col("type_n"))
          .orderBy("event_id")
      },
      Some("""WITH dim AS (
             |  SELECT event_type, avg(value) AS type_avg,
             |    CAST(count(*) AS BIGINT) AS type_n
             |  FROM events GROUP BY 1)
             |SELECT event_id, e.event_type,
             |  floor((value - type_avg) * 10000.0 + 0.5) / 10000.0
             |    AS delta_vs_type,
             |  type_n
             |FROM events e JOIN dim USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // Contrastive negative sampling: 4 deterministic pseudo-random
    // corpus negatives per probe, via ONE two-phase global ranking of
    // the corpus + an O(probes·k) position join — no probe×corpus
    // cross join. The oracle recomputes the same salted order with a
    // plain window (fine at DuckDB scale, the shape the operator
    // exists to avoid at corpus scale).
    GraftQuery(
      "qD9_negative_sample",
      "4 deterministic contrastive negatives per probe doc from a " +
        "salted global corpus order (block of k+1 consecutive " +
        "positions at the probe's hash draw, self filtered).",
      (s, d) => Sampling.negatives(t(s, d, "documents"), "doc_id",
        col("doc_id") % 50 === 0, k = 4)
        .orderBy("probe_id", "neg_rank"),
      Some("""WITH idx AS (
             |  SELECT doc_id,
             |    row_number() OVER (ORDER BY h, doc_id) - 1 AS pos
             |  FROM (SELECT doc_id,
             |      ('0x' || substr(md5('neg:' ||
             |        CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS h
             |    FROM documents)),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
             |cand AS (
             |  SELECT d.doc_id AS probe_id, j,
             |    (('0x' || substr(md5('neg:probe:' ||
             |        CAST(d.doc_id AS VARCHAR)),1,8))::BIGINT
             |      % nn.n + j) % nn.n AS pos
             |  FROM documents d, nn, LATERAL unnest(range(0, 5)) AS t(j)
             |  WHERE d.doc_id % 50 = 0),
             |hit AS (
             |  SELECT probe_id, j, idx.doc_id AS neg_id
             |  FROM cand JOIN idx USING (pos)
             |  WHERE idx.doc_id != probe_id)
             |SELECT probe_id,
             |  row_number() OVER (PARTITION BY probe_id ORDER BY j)
             |    AS neg_rank,
             |  neg_id
             |FROM hit
             |QUALIFY neg_rank <= 4
             |ORDER BY probe_id, neg_rank""".stripMargin)),

    // C4-style keep-first span dedup: every duplicated 8-token span is
    // removed EXCEPT its globally first occurrence (min (doc_id, idx)),
    // vs cutDupSpans/q83 which deletes every copy. Keep-first is a pure
    // min-struct aggregate — no corpus window. Oracle: row_number per
    // span text (equivalent winner under the same order).
    GraftQuery(
      "qE1_keepfirst_spans",
      "C4-style keep-first span dedup (8-token spans): duplicated " +
        "spans removed except the globally first occurrence; per-doc " +
        "span/removal counts and the hash of the kept remainder.",
      (s, d) => Dedup.keepFirstSpanDedup(
        t(s, d, "documents"), "doc_id", "text", spanTokens = 8)
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts
             |  FROM documents),
             |b0 AS (
             |  SELECT doc_id, ts,
             |    unnest(range(CAST(ceil(len(ts) / 8.0) AS BIGINT))) AS sp
             |  FROM toks),
             |blk AS (
             |  SELECT doc_id, CAST(sp AS BIGINT) AS sp,
             |    array_to_string(ts[sp*8+1 : (sp+1)*8], ' ') AS stxt
             |  FROM b0),
             |mk AS (
             |  -- partition by the SAME full md5 the Spark side groups
             |  -- on (collision-safe at corpus scale, unlike a 32-bit
             |  -- prefix)
             |  SELECT doc_id, sp, stxt,
             |    row_number() OVER (
             |      PARTITION BY md5(stxt)
             |      ORDER BY doc_id, sp) AS rn
             |  FROM blk)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed,
             |  ('0x' || substr(md5(coalesce(
             |      string_agg(CASE WHEN rn = 1 THEN stxt END, ' '
             |        ORDER BY sp), '')), 1, 8))::BIGINT AS clean_hash
             |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // HyperLogLog distinct 3-grams per source: the register table is
    // plain (group, ridx, rho) rows — mergeable by max, persistable,
    // fully codegen. Every step incl. the estimate is deterministic,
    // so the oracle recomputes the SAME sketch closed-form in SQL and
    // the compare checks the estimate itself, alongside the exact
    // count for reference.
    GraftQuery(
      "qE3_hll_cardinality",
      "Per-source HyperLogLog (p=9) distinct-3-gram estimate from the " +
        "mergeable (group, register, rho) sketch table, checked " +
        "bit-for-bit against the oracle's closed-form HLL plus the " +
        "exact distinct count.",
      (s, d) => {
        import graft.functions.{GraftFunctions, SafeOps}
        GraftFunctions.registerAll(s)
        val grams = t(s, d, "documents").select(col("source"),
          explode(GraftFunctions.wordNgrams(col("text"), 3)).as("item"))
        val est = Hll.cardinality(grams, Seq("source"), col("item"), p = 9)
        val exact = grams.groupBy("source")
          .agg(count_distinct(col("item")).as("exact_distinct"))
        est.join(exact, "source")
          .select(col("source"), col("m_used"),
            SafeOps.stableRound4(col("est")).as("est"),
            col("exact_distinct"))
          .orderBy("source")
      },
      Some("""WITH g AS (
             |  SELECT source, unnest(list_transform(
             |      range(1, len(string_split(text,' ')) - 1),
             |      i -> string_split(text,' ')[i] || ' ' ||
             |           string_split(text,' ')[i+1] || ' ' ||
             |           string_split(text,' ')[i+2])) AS item
             |  FROM documents
             |  WHERE len(string_split(text,' ')) >= 3),
             |h AS (SELECT source, item,
             |    ('0x' || substr(md5(item),1,8))::BIGINT AS h FROM g),
             |r AS (SELECT source, h & 511 AS ridx,
             |    max(CASE WHEN (h >> 9) = 0 THEN 24
             |      ELSE 23 - CAST(floor(log2(h >> 9)) AS BIGINT) END)
             |      AS rho
             |  FROM h GROUP BY source, h & 511),
             |e AS (SELECT source, count(*) AS mu,
             |    sum(1.0 / power(2.0, rho)) AS zhit
             |  FROM r GROUP BY source),
             |x AS (SELECT source,
             |    CAST(count(DISTINCT item) AS BIGINT) AS exact_distinct
             |  FROM g GROUP BY source)
             |SELECT e.source, CAST(mu AS BIGINT) AS m_used,
             |  floor((CASE
             |      WHEN (0.7213/(1+1.079/512.0))*512*512
             |          / (zhit + (512 - mu)) <= 1280.0 AND mu < 512
             |        THEN 512 * ln(512.0 / (512 - mu))
             |      ELSE (0.7213/(1+1.079/512.0))*512*512
             |          / (zhit + (512 - mu)) END)
             |    * 10000.0 + 0.5) / 10000.0 AS est,
             |  exact_distinct
             |FROM e JOIN x USING (source) ORDER BY source""".stripMargin)),

    // qE3's 64-bit-hash sibling: the HLL++-style register builder for
    // the 100 TB-distinct regime (Hll.registers64 — 63-bit md5 hash,
    // exact hex-arithmetic rank), same table schema and estimator. The
    // oracle recomputes the identical sketch closed-form, including the
    // integer MSB computation (no floating log2 — w spans past double's
    // mantissa at this hash width).
    GraftQuery(
      "qF8_hll64_cardinality",
      "Per-source HyperLogLog (p=9) distinct-3-gram estimate from the " +
        "64-bit-hash register table (Hll.registers64), checked " +
        "bit-for-bit against the oracle's closed-form sketch plus the " +
        "exact distinct count.",
      (s, d) => {
        import graft.functions.{GraftFunctions, SafeOps}
        GraftFunctions.registerAll(s)
        val grams = t(s, d, "documents").select(col("source"),
          explode(GraftFunctions.wordNgrams(col("text"), 3)).as("item"))
        val est = Hll.estimate(
          Hll.registers64(grams, Seq("source"), col("item"), p = 9),
          Seq("source"), p = 9)
        val exact = grams.groupBy("source")
          .agg(count_distinct(col("item")).as("exact_distinct"))
        est.join(exact, "source")
          .select(col("source"), col("m_used"),
            SafeOps.stableRound4(col("est")).as("est"),
            col("exact_distinct"))
          .orderBy("source")
      },
      Some("""WITH g AS (
             |  SELECT source, unnest(list_transform(
             |      range(1, len(string_split(text,' ')) - 1),
             |      i -> string_split(text,' ')[i] || ' ' ||
             |           string_split(text,' ')[i+1] || ' ' ||
             |           string_split(text,' ')[i+2])) AS item
             |  FROM documents
             |  WHERE len(string_split(text,' ')) >= 3),
             |h AS (SELECT source, item,
             |    (('0x' || substr(md5(item),1,8))::BIGINT & 2147483647)
             |      * 4294967296
             |      + ('0x' || substr(md5(item),9,8))::BIGINT AS h
             |  FROM g),
             |r AS (SELECT source, h & 511 AS ridx,
             |    max(CASE WHEN (h >> 9) = 0 THEN 55
             |      ELSE 54 - ((length(to_hex(h >> 9)) - 1) * 4 +
             |        CASE
             |          WHEN ('0x' || substr(to_hex(h >> 9), 1, 1))::BIGINT
             |            >= 8 THEN 3
             |          WHEN ('0x' || substr(to_hex(h >> 9), 1, 1))::BIGINT
             |            >= 4 THEN 2
             |          WHEN ('0x' || substr(to_hex(h >> 9), 1, 1))::BIGINT
             |            >= 2 THEN 1
             |          ELSE 0 END) END) AS rho
             |  FROM h GROUP BY source, h & 511),
             |e AS (SELECT source, count(*) AS mu,
             |    sum(1.0 / power(2.0, rho)) AS zhit
             |  FROM r GROUP BY source),
             |x AS (SELECT source,
             |    CAST(count(DISTINCT item) AS BIGINT) AS exact_distinct
             |  FROM g GROUP BY source)
             |SELECT e.source, CAST(mu AS BIGINT) AS m_used,
             |  floor((CASE
             |      WHEN (0.7213/(1+1.079/512.0))*512*512
             |          / (zhit + (512 - mu)) <= 1280.0 AND mu < 512
             |        THEN 512 * ln(512.0 / (512 - mu))
             |      ELSE (0.7213/(1+1.079/512.0))*512*512
             |          / (zhit + (512 - mu)) END)
             |    * 10000.0 + 0.5) / 10000.0 AS est,
             |  exact_distinct
             |FROM e JOIN x USING (source) ORDER BY source""".stripMargin)),

    // Count-Min point-frequency sketch: per-source (d, cell, cnt)
    // counter table (merge = SUM — the incremental sibling of qE3's
    // HLL), probed for a fixed token list incl. an absent one. The
    // oracle rebuilds the identical sketch closed-form; true counts
    // ride along to exhibit the overcount-only guarantee.
    GraftQuery(
      "qE4_countmin_freq",
      "Count-Min (d=4, w=8192) per-source token-frequency estimates " +
        "for a fixed probe list — sketch recomputed closed-form by " +
        "the oracle, true counts alongside (CM never undercounts).",
      (s, d) => {
        import s.implicits._
        import graft.functions.TextOps
        val probeVals = Seq("the", "agg", "spark", "row", "zzz_absent")
        // id-keyed floor below the tokenize+md5 sketch build: the
        // single-split local scan otherwise runs the whole per-token
        // hash pipeline on one core (a 1.6 s one-task job in the
        // round-19 profile; guide §2.5 — no-op at cluster scale)
        val toks = graft.plans.Parallel.cpuFloor(
            t(s, d, "documents")
              .select(col("doc_id"), col("source"), col("text")),
            "doc_id")
          .select(col("source"),
            explode(TextOps.tokens(col("text"))).as("item"))
        val sk = CountMin.sketch(toks, Seq("source"), col("item"),
          depth = 4, width = 8192)
        val est = CountMin.estimate(sk, Seq("source"),
          probeVals.toDF("tok"), "tok", depth = 4, width = 8192)
        val truth = toks.filter(col("item").isin(probeVals: _*))
          .groupBy(col("source"), col("item").as("probe"))
          .agg(count(lit(1)).as("tc"))
        est.join(truth, Seq("source", "probe"), "left")
          .select(col("source"), col("probe"), col("est_count"),
            coalesce(col("tc"), lit(0L)).as("true_count"))
          .orderBy("source", "probe")
      },
      Some("""WITH tok AS (
             |  SELECT source, unnest(string_split(text,' ')) AS item
             |  FROM documents),
             |pr AS (SELECT * FROM (VALUES ('the'),('agg'),('spark'),
             |    ('row'),('zzz_absent')) AS t(probe)),
             |cells AS (
             |  -- one md5 per occurrence; row d derives affinely
             |  -- (h*(2d+1) + 31d^2+7 mod 2^31-1), as the Spark side
             |  SELECT source, d,
             |    ((('0x' || substr(md5(item),1,8))::BIGINT * (d*2+1)
             |      + (d*d*31+7)) % 2147483647) % 8192 AS cell,
             |    count(*) AS cnt
             |  FROM tok, LATERAL unnest(range(0, 4)) AS t(d)
             |  GROUP BY 1, 2, 3),
             |prc AS (
             |  SELECT probe, d,
             |    ((('0x' || substr(md5(probe),1,8))::BIGINT * (d*2+1)
             |      + (d*d*31+7)) % 2147483647) % 8192 AS cell
             |  FROM pr, LATERAL unnest(range(0, 4)) AS t(d)),
             |hit AS (
             |  SELECT source, probe, min(cnt) AS mc, count(*) AS rh
             |  FROM cells JOIN prc USING (d, cell) GROUP BY 1, 2),
             |uni AS (SELECT DISTINCT source FROM documents),
             |tc AS (
             |  SELECT source, item AS probe, CAST(count(*) AS BIGINT)
             |    AS true_count
             |  FROM tok WHERE item IN ('the','agg','spark','row',
             |    'zzz_absent')
             |  GROUP BY 1, 2)
             |SELECT u.source AS source, p.probe AS probe,
             |  CAST(CASE WHEN rh IS NULL OR rh < 4 THEN 0 ELSE mc END
             |    AS BIGINT) AS est_count,
             |  coalesce(tc.true_count, 0) AS true_count
             |FROM uni u CROSS JOIN pr p
             |LEFT JOIN hit ON hit.source = u.source AND hit.probe = p.probe
             |LEFT JOIN tc ON tc.source = u.source AND tc.probe = p.probe
             |ORDER BY u.source, p.probe""".stripMargin)),

    // qE4's formal-bound mode: saltedDepth hashes d||':'||value through
    // an independent md5 per row, so two values colliding on one row
    // are independent on every other — the base-hash-collision caveat
    // of the default affine family (CountMin.scala:24-32) vanishes, at
    // the documented ~depth x hash cost. The oracle rebuilds the salted
    // cells closed-form; qE4's default-mode oracle is untouched.
    GraftQuery(
      "qP2_countmin_salted",
      "Count-Min (d=4, w=8192, saltedDepth) per-source token-frequency " +
        "estimates — per-row independent md5s restore the formal " +
        "1-e^-d bound; sketch recomputed closed-form by the oracle.",
      (s, d) => {
        import s.implicits._
        import graft.functions.TextOps
        val probeVals = Seq("the", "agg", "spark", "row", "zzz_absent")
        // same id-keyed floor as qE4 — saltedDepth runs ~4x the md5s,
        // so the one-core sketch build is even more starved here
        val toks = graft.plans.Parallel.cpuFloor(
            t(s, d, "documents")
              .select(col("doc_id"), col("source"), col("text")),
            "doc_id")
          .select(col("source"),
            explode(TextOps.tokens(col("text"))).as("item"))
        val sk = CountMin.sketch(toks, Seq("source"), col("item"),
          depth = 4, width = 8192, saltedDepth = true)
        val est = CountMin.estimate(sk, Seq("source"),
          probeVals.toDF("tok"), "tok", depth = 4, width = 8192,
          saltedDepth = true)
        val truth = toks.filter(col("item").isin(probeVals: _*))
          .groupBy(col("source"), col("item").as("probe"))
          .agg(count(lit(1)).as("tc"))
        est.join(truth, Seq("source", "probe"), "left")
          .select(col("source"), col("probe"), col("est_count"),
            coalesce(col("tc"), lit(0L)).as("true_count"))
          .orderBy("source", "probe")
      },
      Some("""WITH tok AS (
             |  SELECT source, unnest(string_split(text,' ')) AS item
             |  FROM documents),
             |pr AS (SELECT * FROM (VALUES ('the'),('agg'),('spark'),
             |    ('row'),('zzz_absent')) AS t(probe)),
             |cells AS (
             |  -- one independent md5 per (row, occurrence): d||':'||v
             |  SELECT source, d,
             |    ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || item),
             |      1, 8))::BIGINT % 8192 AS cell,
             |    count(*) AS cnt
             |  FROM tok, LATERAL unnest(range(0, 4)) AS t(d)
             |  GROUP BY 1, 2, 3),
             |prc AS (
             |  SELECT probe, d,
             |    ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || probe),
             |      1, 8))::BIGINT % 8192 AS cell
             |  FROM pr, LATERAL unnest(range(0, 4)) AS t(d)),
             |hit AS (
             |  SELECT source, probe, min(cnt) AS mc, count(*) AS rh
             |  FROM cells JOIN prc USING (d, cell) GROUP BY 1, 2),
             |uni AS (SELECT DISTINCT source FROM documents),
             |tc AS (
             |  SELECT source, item AS probe, CAST(count(*) AS BIGINT)
             |    AS true_count
             |  FROM tok WHERE item IN ('the','agg','spark','row',
             |    'zzz_absent')
             |  GROUP BY 1, 2)
             |SELECT u.source AS source, p.probe AS probe,
             |  CAST(CASE WHEN rh IS NULL OR rh < 4 THEN 0 ELSE mc END
             |    AS BIGINT) AS est_count,
             |  coalesce(tc.true_count, 0) AS true_count
             |FROM uni u CROSS JOIN pr p
             |LEFT JOIN hit ON hit.source = u.source AND hit.probe = p.probe
             |LEFT JOIN tc ON tc.source = u.source AND tc.probe = p.probe
             |ORDER BY u.source, p.probe""".stripMargin)),

    // HLL set algebra: the overlap of two shards' distinct 3-gram sets
    // from their REGISTER TABLES alone — union by max-merge, then
    // inclusion-exclusion for the intersection. No raw-data rescan;
    // the exact overlap rides along for reference.
    GraftQuery(
      "qE7_hll_overlap",
      "Distinct-3-gram overlap between even- and odd-doc shards " +
        "estimated purely from HLL registers (union = max-merge, " +
        "intersect = inclusion-exclusion), with the exact overlap " +
        "alongside.",
      (s, d) => {
        import graft.functions.{SafeOps, TextOps}
        // One corpus pass: tokenize+shingle once, reduce to the distinct
        // (shard, item) set, and FENCE it — registers are max-aggregates
        // over distinct items (duplicates can't change a bucket max), and
        // the exact overlap is items present in both shards, so every
        // downstream leg derives from this one materialization instead of
        // re-scanning and re-shingling the corpus per leg (the fencing
        // discipline q84/qC1 use for tokenFreq).
        graft.functions.GraftFunctions.registerAll(s)
        val shards = graft.plans.Fence.corpus(
          t(s, d, "documents").select(
            (col("doc_id") % 2).as("shard"),
            explode(graft.functions.GraftFunctions.wordNgrams(
              col("text"), 3)).as("item"))
            .distinct(), "hll_shards")
        val ra = Hll.registers(shards.filter(col("shard") === 0),
          Seq.empty, col("item"), p = 9)
        val rb = Hll.registers(shards.filter(col("shard") === 1),
          Seq.empty, col("item"), p = 9)
        val est = Hll.overlapEstimate(ra, rb, Seq.empty, p = 9)
        // item in both shards ⟺ its (shard,item) pair count is 2
        val exact = shards.groupBy("item")
          .agg(count(lit(1)).as("n_shards"))
          .filter(col("n_shards") === 2)
          .agg(count(lit(1)).as("exact_overlap"))
        est.crossJoin(exact).select(
          SafeOps.stableRound4(col("est_a")).as("est_a"),
          SafeOps.stableRound4(col("est_b")).as("est_b"),
          SafeOps.stableRound4(col("est_union")).as("est_union"),
          SafeOps.stableRound4(col("est_intersect")).as("est_intersect"),
          col("exact_overlap"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id, unnest(list_transform(
             |      range(1, len(string_split(text,' ')) - 1),
             |      i -> string_split(text,' ')[i] || ' ' ||
             |           string_split(text,' ')[i+1] || ' ' ||
             |           string_split(text,' ')[i+2])) AS item
             |  FROM documents
             |  WHERE len(string_split(text,' ')) >= 3),
             |ha AS (SELECT ('0x' || substr(md5(item),1,8))::BIGINT AS h
             |  FROM g WHERE doc_id % 2 = 0),
             |hb AS (SELECT ('0x' || substr(md5(item),1,8))::BIGINT AS h
             |  FROM g WHERE doc_id % 2 = 1),
             |ra AS (SELECT h & 511 AS ridx,
             |    max(CASE WHEN (h >> 9) = 0 THEN 24
             |      ELSE 23 - CAST(floor(log2(h >> 9)) AS BIGINT) END)
             |      AS rho
             |  FROM ha GROUP BY 1),
             |rb AS (SELECT h & 511 AS ridx,
             |    max(CASE WHEN (h >> 9) = 0 THEN 24
             |      ELSE 23 - CAST(floor(log2(h >> 9)) AS BIGINT) END)
             |      AS rho
             |  FROM hb GROUP BY 1),
             |ru AS (SELECT ridx, max(rho) AS rho FROM (
             |    SELECT * FROM ra UNION ALL SELECT * FROM rb)
             |  GROUP BY 1),
             |ea AS (SELECT count(*) AS mu,
             |    sum(1.0/power(2.0, rho)) AS zh FROM ra),
             |eb AS (SELECT count(*) AS mu,
             |    sum(1.0/power(2.0, rho)) AS zh FROM rb),
             |eu AS (SELECT count(*) AS mu,
             |    sum(1.0/power(2.0, rho)) AS zh FROM ru),
             |es AS (SELECT
             |    (SELECT CASE
             |      WHEN (0.7213/(1+1.079/512.0))*512*512
             |          / (zh + (512 - mu)) <= 1280.0 AND mu < 512
             |        THEN 512 * ln(512.0 / (512 - mu))
             |      ELSE (0.7213/(1+1.079/512.0))*512*512
             |          / (zh + (512 - mu)) END FROM ea) AS est_a,
             |    (SELECT CASE
             |      WHEN (0.7213/(1+1.079/512.0))*512*512
             |          / (zh + (512 - mu)) <= 1280.0 AND mu < 512
             |        THEN 512 * ln(512.0 / (512 - mu))
             |      ELSE (0.7213/(1+1.079/512.0))*512*512
             |          / (zh + (512 - mu)) END FROM eb) AS est_b,
             |    (SELECT CASE
             |      WHEN (0.7213/(1+1.079/512.0))*512*512
             |          / (zh + (512 - mu)) <= 1280.0 AND mu < 512
             |        THEN 512 * ln(512.0 / (512 - mu))
             |      ELSE (0.7213/(1+1.079/512.0))*512*512
             |          / (zh + (512 - mu)) END FROM eu) AS est_union),
             |es2 AS (SELECT est_a, est_b, est_union,
             |    greatest(0.0, (est_a + est_b) - est_union) AS est_i
             |  FROM es),
             |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_overlap
             |  FROM (SELECT DISTINCT item FROM g WHERE doc_id % 2 = 0) a
             |  JOIN (SELECT DISTINCT item FROM g WHERE doc_id % 2 = 1) b
             |    USING (item))
             |SELECT
             |  floor(est_a * 10000.0 + 0.5) / 10000.0 AS est_a,
             |  floor(est_b * 10000.0 + 0.5) / 10000.0 AS est_b,
             |  floor(est_union * 10000.0 + 0.5) / 10000.0 AS est_union,
             |  floor(est_i * 10000.0 + 0.5) / 10000.0 AS est_intersect,
             |  exact_overlap
             |FROM es2, ex""".stripMargin)),

    // A-Priori first rung: token pairs co-occurring in >= 300 docs,
    // downward-closure-pruned before any pair is generated.
    GraftQuery(
      "qE8_frequent_pairs",
      "Frequent doc-level token-pair co-occurrence (support >= 300): " +
        "frequent-item prune first, then the bounded per-doc pair " +
        "self-join and one partial-aggregated support count.",
      (s, d) => Itemsets.frequentPairs(
        t(s, d, "documents"), "doc_id", "text", minSupport = 300)
        .orderBy("tok_a", "tok_b"),
      Some("""WITH it AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(string_split(text, ' '))) AS tok
             |  FROM documents),
             |fi AS (SELECT tok FROM it GROUP BY tok
             |  HAVING count(*) >= 300),
             |pi AS (SELECT it.doc_id, it.tok FROM it JOIN fi USING (tok))
             |SELECT a.tok AS tok_a, b.tok AS tok_b,
             |  CAST(count(*) AS BIGINT) AS support
             |FROM pi a JOIN pi b
             |  ON a.doc_id = b.doc_id AND a.tok < b.tok
             |GROUP BY 1, 2 HAVING count(*) >= 300
             |ORDER BY tok_a, tok_b""".stripMargin)),

    // Sorted-neighborhood blocking: candidate pairs within 3 ranks of
    // the (text-prefix, id) sort order — the O(n*w) entity-resolution
    // candidate generator. The two-phase range rank never runs a
    // corpus-wide window; the oracle is the naive global row_number.
    GraftQuery(
      "qE9_sorted_neighborhood",
      "Sorted-neighborhood candidate pairs (12-char text-prefix key, " +
        "window 3) from the range-partitioned two-phase global rank — " +
        "equal to the naive corpus-wide row_number formulation.",
      (s, d) => Blocking.sortedNeighborhood(
        t(s, d, "documents"), "doc_id",
        substring(col("text"), 1, 12), w = 3)
        .orderBy("id_a", "id_b"),
      Some("""WITH r AS (
             |  SELECT doc_id, substr(text, 1, 12) AS bk,
             |    row_number() OVER (ORDER BY substr(text, 1, 12),
             |      doc_id) - 1 AS rank
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  a.bk AS key_a, b.bk AS key_b,
             |  CAST(b.rank - a.rank AS BIGINT) AS gap
             |FROM r a JOIN r b
             |  ON b.rank > a.rank AND b.rank <= a.rank + 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // Two-pass certified-exact heavy hitters: MG candidates, exact
    // recount of candidates only, and the n/(k+1) absent-item bound
    // turned into a per-result certification flag — exact top-k with
    // no vocabulary-sized state.
    GraftQuery(
      "qF0_exact_heavy_hitters",
      "Certified-exact top-50 3-grams: Misra-Gries candidate pass " +
        "(k=32768), exact broadcast-membership recount, certified " +
        "when the 50th count beats the n/(k+1) absent-item ceiling.",
      (s, d) => {
        graft.functions.GraftFunctions.registerAll(s)
        // word_ngrams kernel: grams as zero-copy byte slices — both
        // exact-contract passes re-scan this explode, so its per-row
        // cost is the query's whole budget (round-9 verdict item 8)
        val grams = t(s, d, "documents").select(
          explode(graft.functions.GraftFunctions.wordNgrams(
            col("text"), 3)).as("item"))
        HeavyHitters.topExact(grams, "item", 32768, 50).orderBy("rank")
      },
      Some("""WITH g AS (
             |  SELECT unnest(list_transform(
             |      range(1, len(string_split(text,' ')) - 1),
             |      i -> string_split(text,' ')[i] || ' ' ||
             |           string_split(text,' ')[i+1] || ' ' ||
             |           string_split(text,' ')[i+2])) AS item
             |  FROM documents
             |  WHERE len(string_split(text,' ')) >= 3),
             |tot AS (SELECT count(*) AS n FROM g),
             |top AS (
             |  SELECT item, CAST(count(*) AS BIGINT) AS cnt,
             |    row_number() OVER (ORDER BY count(*) DESC, item)
             |      AS rank
             |  FROM g GROUP BY item
             |  ORDER BY cnt DESC, item LIMIT 50)
             |SELECT item, cnt, rank,
             |  ((SELECT count(*) FROM top) = 50 AND
             |   (SELECT min(cnt) FROM top) * 1.0 >
             |    (SELECT n FROM tot) * 1.0 / 32769.0) AS certified
             |FROM top ORDER BY rank""".stripMargin)),

    // End-to-end entity resolution: sorted-neighborhood blocking
    // generates O(n*w) candidates, exact token-set Jaccard verifies
    // them — the blocking->verify chain every record-linkage pipeline
    // runs. Verification touches CANDIDATES only, never the n² cross
    // product.
    GraftQuery(
      "qF1_er_chain",
      "Entity-resolution chain: sorted-neighborhood candidates " +
        "(12-char prefix key, window 3) verified by exact distinct-" +
        "token Jaccard >= 0.7.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val cands = Blocking.sortedNeighborhood(
          docs, "doc_id", substring(col("text"), 1, 12), w = 3)
          .select(col("id_a"), col("id_b"))
        val toks = docs.select(col("doc_id"),
          array_distinct(graft.functions.TextOps.tokens(col("text")))
            .as("ts"))
        cands
          .join(toks.select(col("doc_id").as("id_a"),
            col("ts").as("ts_a")), Seq("id_a"))
          .join(toks.select(col("doc_id").as("id_b"),
            col("ts").as("ts_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            (size(array_intersect(col("ts_a"), col("ts_b")))
              .cast("double") /
              (size(col("ts_a")) + size(col("ts_b")) -
                size(array_intersect(col("ts_a"), col("ts_b")))))
              .as("j"))
          .filter(col("j") >= 0.7)
          .select(col("id_a"), col("id_b"),
            (floor(col("j") * 10000.0 + 0.5) / 10000.0).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, list_distinct(string_split(text, ' '))
             |      AS ts,
             |    row_number() OVER (ORDER BY substr(text, 1, 12),
             |      doc_id) - 1 AS rank
             |  FROM documents),
             |p AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    len(list_intersect(a.ts, b.ts)) * 1.0 /
             |      (len(a.ts) + len(b.ts) -
             |       len(list_intersect(a.ts, b.ts))) AS j
             |  FROM r a JOIN r b
             |    ON b.rank > a.rank AND b.rank <= a.rank + 3)
             |SELECT id_a, id_b,
             |  floor(j * 10000.0 + 0.5) / 10000.0 AS jaccard
             |FROM p WHERE j >= 0.7
             |ORDER BY id_a, id_b""".stripMargin)),

    // Histogram quantile sketch: per-source doc-length quantiles from
    // the mergeable (group, bin, cnt) table — the incremental sibling
    // of qE3/qE4. The oracle rebuilds the identical fixed-grid sketch
    // and rank cut (FP-safe ceil(q*n - 1e-9)).
    GraftQuery(
      "qF2_hist_quantiles",
      "Per-source token-count quantiles (p50/p90/p99) from a 64-bin " +
        "[0,128) histogram sketch table — sum-mergeable, bin-midpoint " +
        "estimates, bit-equal to the oracle's closed-form rebuild.",
      (s, d) => {
        import graft.functions.TextOps
        val sk = HistSketch.sketch(t(s, d, "documents"), Seq("source"),
          size(TextOps.tokens(col("text"))), lo = 0.0, hi = 128.0,
          bins = 64)
        HistSketch.quantiles(sk, Seq("source"), Seq(0.5, 0.9, 0.99),
            lo = 0.0, hi = 128.0, bins = 64)
          .select(col("source"), col("q"),
            (floor(col("est") * 10000.0 + 0.5) / 10000.0).as("est"))
          .orderBy("source", "q")
      },
      Some("""WITH v AS (
             |  SELECT source, least(63, greatest(0,
             |    CAST(floor((len(string_split(text, ' ')) * 1.0 - 0.0)
             |      / 2.0) AS BIGINT))) AS bin
             |  FROM documents),
             |c AS (SELECT source, bin, count(*) AS cnt
             |  FROM v GROUP BY 1, 2),
             |cu AS (SELECT source, bin,
             |    sum(cnt) OVER (PARTITION BY source ORDER BY bin)
             |      AS cum,
             |    sum(cnt) OVER (PARTITION BY source) AS n
             |  FROM c),
             |qq AS (SELECT * FROM (VALUES (CAST(0.5 AS DOUBLE)),
             |  (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE)))
             |  AS t(q)),
             |hit AS (
             |  SELECT source, q, min(bin) AS bin
             |  FROM cu, qq
             |  WHERE cum >= ceil(q * n - 0.000000001)
             |  GROUP BY 1, 2)
             |SELECT source, q,
             |  floor((0.0 + (bin + 0.5) * 2.0) * 10000.0 + 0.5)
             |    / 10000.0 AS est
             |FROM hit ORDER BY source, q""".stripMargin)),

    // Grouped Misra-Gries: per-source top-5 3-grams from one sketch
    // per group — the per-domain hot-token monitor. Exact here (k >=
    // per-group distinct); the per-group n/(k+1) bound covers scale.
    GraftQuery(
      "qF3_grouped_hitters",
      "Per-source top-5 3-gram heavy hitters from per-group 32k-entry " +
        "MG sketches; ranking windows are sketch-sized.",
      (s, d) => {
        graft.functions.GraftFunctions.registerAll(s)
        val grams = t(s, d, "documents").select(col("source"),
          explode(graft.functions.GraftFunctions.wordNgrams(
            col("text"), 3)).as("item"))
        HeavyHitters.topPerGroup(grams, Seq("source"), "item",
          32768, 5).orderBy("source", "rank")
      },
      Some("""WITH g AS (
             |  SELECT source, unnest(list_transform(
             |      range(1, len(string_split(text,' ')) - 1),
             |      i -> string_split(text,' ')[i] || ' ' ||
             |           string_split(text,' ')[i+1] || ' ' ||
             |           string_split(text,' ')[i+2])) AS item
             |  FROM documents
             |  WHERE len(string_split(text,' ')) >= 3),
             |c AS (SELECT source, item,
             |    CAST(count(*) AS BIGINT) AS est_count
             |  FROM g GROUP BY 1, 2),
             |r AS (SELECT source, item, est_count,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY est_count DESC, item) AS rank
             |  FROM c)
             |SELECT source, item, est_count, rank
             |FROM r WHERE rank <= 5
             |ORDER BY source, rank""".stripMargin)),

    // PMI over the frequent pairs: the association score separating
    // everywhere-tokens (PMI ~ 0) from true collocations (PMI >> 0).
    // Long arithmetic feeds ln the same double on both engines.
    GraftQuery(
      "qF4_pmi_pairs",
      "Doc-level PMI for token pairs with support >= 300: " +
        "ln(support*n_docs / (df_a*df_b)), 4-dp rounded.",
      (s, d) => Itemsets.pmiPairs(
        t(s, d, "documents"), "doc_id", "text", minSupport = 300)
        .select(col("tok_a"), col("tok_b"), col("support"),
          (floor(col("pmi") * 10000.0 + 0.5) / 10000.0).as("pmi"))
        .orderBy("tok_a", "tok_b"),
      Some("""WITH it AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(string_split(text, ' '))) AS tok
             |  FROM documents),
             |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
             |fi AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_
             |  FROM it GROUP BY tok HAVING count(*) >= 300),
             |pi AS (SELECT it.doc_id, it.tok FROM it
             |  JOIN fi USING (tok)),
             |pr AS (
             |  SELECT a.tok AS tok_a, b.tok AS tok_b,
             |    CAST(count(*) AS BIGINT) AS support
             |  FROM pi a JOIN pi b
             |    ON a.doc_id = b.doc_id AND a.tok < b.tok
             |  GROUP BY 1, 2 HAVING count(*) >= 300)
             |SELECT tok_a, tok_b, support,
             |  floor(ln((support * (SELECT n FROM nd)) * 1.0 /
             |      (fa.df_ * fb.df_)) * 10000.0 + 0.5) / 10000.0
             |    AS pmi
             |FROM pr
             |JOIN fi fa ON fa.tok = pr.tok_a
             |JOIN fi fb ON fb.tok = pr.tok_b
             |ORDER BY tok_a, tok_b""".stripMargin)),

    // Winnowing fingerprints (Schleimer et al. SIGMOD'03 — the MOSS
    // algorithm): per-window argmin over shingle hashes with the
    // rightmost-tie rule, distinct (pos, hash) selections. Zero-shuffle
    // HOF selection; the oracle replays the same windows with a frame
    // min + rightmost-position join. Positions make it the
    // match-LOCATING dedup primitive (vs MinHash's whole-doc estimate).
    GraftQuery(
      "qF9_winnow_fingerprints",
      "Winnowing fingerprints (k=3-token shingles, w=4 windows, " +
        "rightmost-tie argmin): exploded (doc_id, pos, fp) selections " +
        "from a zero-shuffle per-row HOF pipeline.",
      (s, d) => graft.operators.Winnow.fingerprints(
        t(s, d, "documents"), "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id", "pos"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
             |    ('0x' || substr(md5(ts[i+1] || ' ' || ts[i+2] || ' ' ||
             |      ts[i+3]), 1, 8))::BIGINT AS h
             |  FROM toks, LATERAL unnest(range(0,
             |    greatest(len(ts) - 2, 0))) AS t(i)),
             |mw AS (
             |  SELECT doc_id, pos AS win,
             |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
             |    count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM sh),
             |win AS (
             |  SELECT doc_id, win, mn FROM mw
             |  WHERE win < greatest(n - 3, 1)),
             |fp0 AS (
             |  SELECT s.doc_id, CAST(max(s.pos) AS INTEGER) AS pos,
             |    w.mn AS fp
             |  FROM win w JOIN sh s ON s.doc_id = w.doc_id
             |    AND s.pos BETWEEN w.win AND w.win + 3 AND s.h = w.mn
             |  GROUP BY s.doc_id, w.win, w.mn)
             |SELECT DISTINCT doc_id, pos, fp
             |FROM fp0 ORDER BY doc_id, pos""".stripMargin)),

    // K-anonymity release screen (Sweeney 2002) with one generalization
    // fallback: exact quasi-identifier tuples occurring >= k release at
    // full precision; the rest fall back to the caller's coarsening if
    // THAT tuple covers >= k of the failing rows; else suppressed. Two
    // partitioned window counts — each frame one QI group, no self-join.
    GraftQuery(
      "qG0_k_anonymity",
      "Two-level k-anonymity screen (k=5) over customer " +
        "quasi-identifiers: exact (segment, nation, balance-bucket) -> " +
        "generalized (segment, nation) -> suppressed, with the " +
        "deciding group count per row.",
      (s, d) => graft.operators.Privacy.kAnonymize(
        t(s, d, "customer"), "c_custkey",
        exact = Seq(col("c_mktsegment"), col("c_nationkey"),
          floor(col("c_acctbal") / 100).as("bal_bucket")),
        general = Seq(col("c_mktsegment"), col("c_nationkey")),
        k = 5)
        .select(col("row_id"), col("anon_level").cast("long")
          .as("anon_level"), col("group_n"))
        .orderBy("row_id"),
      Some("""WITH q AS (
             |  SELECT c_custkey AS row_id, c_mktsegment AS seg,
             |    c_nationkey AS nat,
             |    CAST(floor(c_acctbal / 100) AS BIGINT) AS bb
             |  FROM customer),
             |n0 AS (
             |  SELECT *, count(*) OVER (PARTITION BY seg, nat, bb) AS n0
             |  FROM q),
             |n1 AS (
             |  SELECT *, count(*) FILTER (WHERE n0 < 5)
             |    OVER (PARTITION BY seg, nat) AS n1
             |  FROM n0)
             |SELECT row_id,
             |  CAST(CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
             |    ELSE 2 END AS BIGINT) AS anon_level,
             |  CAST(CASE WHEN n0 >= 5 THEN n0 ELSE n1 END AS BIGINT)
             |    AS group_n
             |FROM n1 ORDER BY row_id""".stripMargin)),

    // Edit-distance similarity join (Ed-Join prefix scheme): q-gram
    // prefix candidates -> length + count filters -> exact Levenshtein
    // verify. The fixture plants a distance-1 twin for every third part
    // name; the oracle computes the NAIVE all-pairs ground truth, so
    // the compare proves the pruning chain is exact, not just fast.
    GraftQuery(
      "qG1_edit_distance_pairs",
      "Edit-distance <= 1 pairs over part names + planted twins " +
        "(Ed-Join q-gram prefix filter, count filter, Levenshtein " +
        "verify) vs the naive all-pairs oracle.",
      (s, d) => {
        // DISTINCT string domain (the operator's caller contract:
        // duplicate multiplicities square the output — part has 64
        // distinct names over 20k rows at sf0.1); planted append- and
        // substitute-twins guarantee pairs beside the natural ones
        val base = t(s, d, "part")
          .groupBy(col("p_name").as("name"))
          .agg(min(col("p_partkey")).as("pid"))
        val corpus = base.select(col("pid"), col("name"))
          .unionAll(base.select((col("pid") + 10000000L).as("pid"),
            concat(col("name"), lit("x")).as("name")))
          .unionAll(base.select((col("pid") + 20000000L).as("pid"),
            concat(lit("Z"), substring(col("name"), 2, 1000000))
              .as("name")))
        graft.operators.Edits.editDistancePairs(
          corpus, "pid", "name", maxDist = 1, q = 2)
          .select(col("id_a"), col("id_b"), col("dist").cast("long")
            .as("dist"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH b AS (
             |  SELECT min(p_partkey) AS id, p_name AS s FROM part
             |  GROUP BY p_name),
             |s AS (
             |  SELECT id, s FROM b
             |  UNION ALL SELECT id + 10000000, s || 'x' FROM b
             |  UNION ALL SELECT id + 20000000, 'Z' || substr(s, 2)
             |    FROM b)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
             |FROM s a JOIN s b
             |  ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1
             |WHERE levenshtein(a.s, b.s) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),

    // Leakage-safe split: bucket by the salted hash of the dedup
    // CANONICAL id (exact-dup keep-min groups here), so duplicate
    // documents can never straddle train/test — the duplication-axis
    // complement of qC3's temporal split.
    GraftQuery(
      "qG2_leakage_safe_split",
      "80/10/10 train/val/test assignment by salted hash of the " +
        "exact-dup canonical doc id — every duplicate group lands in " +
        "one split.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val canon = docs.groupBy(md5(col("text")).as("th"))
          .agg(min(col("doc_id")).as("canonical"))
        val mapping = docs.select(col("doc_id"), md5(col("text")).as("th"))
          .join(canon, "th").select(col("doc_id"), col("canonical"))
        graft.operators.Sampling.leakageSafeSplit(docs, "doc_id",
          mapping, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .orderBy("doc_id")
      },
      Some("""WITH canon AS (
             |  SELECT doc_id,
             |    min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, canonical,
             |    ('0x' || substr(md5('split|' ||
             |      CAST(canonical AS VARCHAR)), 1, 8))::BIGINT % 1000
             |      AS bucket
             |  FROM canon)
             |SELECT doc_id, canonical, bucket,
             |  CASE WHEN bucket < 800 THEN 'train'
             |       WHEN bucket < 900 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM b ORDER BY doc_id""".stripMargin)),

    // Native Jaro-Winkler expression (codegen'd, no UDF) checked
    // VALUE-for-VALUE against DuckDB's jaro_winkler_similarity — the
    // kernel replicates the RapidFuzz/DuckDB algorithm exactly
    // (greedy window matching, integer transposition halving, 0.7
    // boost threshold, any-empty -> 0), bitwise-verified on 8000
    // fuzzed pairs, so NO rounding is applied on either side.
    GraftQuery(
      "qG4_jaro_winkler",
      "Jaro-Winkler similarity (native codegen expression) of part " +
        "names vs appended/substituted twins and the brand string — " +
        "raw doubles compared bit-for-bit against DuckDB.",
      (s, d) => {
        graft.functions.GraftFunctions.registerAll(s)
        t(s, d, "part").select(col("p_partkey").as("pid"),
          graft.functions.GraftFunctions.jaroWinkler(col("p_name"),
            concat(col("p_name"), lit("x"))).as("jw_append"),
          graft.functions.GraftFunctions.jaroWinkler(col("p_name"),
            concat(lit("Z"), substring(col("p_name"), 2, 1000000)))
            .as("jw_substitute"),
          graft.functions.GraftFunctions.jaroWinkler(col("p_name"), col("p_brand"))
            .as("jw_brand"))
          .orderBy("pid")
      },
      Some("""SELECT p_partkey AS pid,
             |  jaro_winkler_similarity(p_name, p_name || 'x')
             |    AS jw_append,
             |  jaro_winkler_similarity(p_name, 'Z' || substr(p_name, 2))
             |    AS jw_substitute,
             |  jaro_winkler_similarity(p_name, p_brand) AS jw_brand
             |FROM part ORDER BY pid""".stripMargin)),

    // Winnow pair generation end-to-end: capped fingerprint inverted
    // index -> shared-count pairs. The >= 2 floor mirrors practice
    // (one shared fingerprint is the GUARANTEE threshold; two+ is the
    // screening threshold that kills coincidental single-hash hits).
    GraftQuery(
      "qG5_winnow_pairs",
      "Document pairs sharing >= 2 winnowing fingerprints (k=3, w=4, " +
        "posting cap 50) — the match-locating candidate generator over " +
        "the capped fingerprint index.",
      (s, d) => {
        val fps = graft.operators.Winnow.fingerprints(
          t(s, d, "documents"), "doc_id", "text", k = 3, w = 4)
        graft.operators.Winnow.sharedFingerprintPairs(fps,
          maxPosting = 50)
          .filter(col("shared_fps") >= 2)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
             |    ('0x' || substr(md5(ts[i+1] || ' ' || ts[i+2] || ' ' ||
             |      ts[i+3]), 1, 8))::BIGINT AS h
             |  FROM toks, LATERAL unnest(range(0,
             |    greatest(len(ts) - 2, 0))) AS t(i)),
             |mw AS (
             |  SELECT doc_id, pos AS win,
             |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
             |    count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM sh),
             |win AS (
             |  SELECT doc_id, win, mn FROM mw
             |  WHERE win < greatest(n - 3, 1)),
             |fp AS (
             |  SELECT DISTINCT doc_id, mn AS fp FROM win),
             |hot AS (
             |  SELECT fp FROM fp GROUP BY fp HAVING count(*) > 50),
             |cold AS (
             |  SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hot))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(count(*) AS BIGINT) AS shared_fps
             |FROM cold a JOIN cold b
             |  ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 2
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Robust per-group outlier screen: median/MAD (50% breakdown
    // point — the screen a mean/stddev check fails on exactly the data
    // it should catch). Exact interpolating medians on both sides;
    // summary columns 4-dp rounded.
    GraftQuery(
      "qG6_mad_outliers",
      "Per-priority MAD outlier summary of order totals (c=3): group " +
        "size, median, MAD, and the count of |x-med| > 3*MAD rows.",
      (s, d) => {
        import graft.functions.SafeOps
        graft.operators.Robust.madOutlierSummary(
          t(s, d, "orders"), Seq("o_orderpriority"), "o_totalprice",
          c = 3.0)
          .select(col("o_orderpriority"), col("n"),
            SafeOps.stableRound4(col("med")).as("med"),
            SafeOps.stableRound4(col("mad")).as("mad"),
            col("n_outliers"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority AS grp,
             |    quantile_cont(o_totalprice, 0.5) AS med
             |  FROM orders GROUP BY 1),
             |d AS (
             |  SELECT o.o_orderpriority AS grp, m.med,
             |    abs(o.o_totalprice - m.med) AS dev
             |  FROM orders o JOIN m ON o.o_orderpriority = m.grp),
             |md AS (
             |  SELECT grp, quantile_cont(dev, 0.5) AS mad
             |  FROM d GROUP BY 1)
             |SELECT d.grp AS o_orderpriority,
             |  CAST(count(*) AS BIGINT) AS n,
             |  floor(d.med * 10000.0 + 0.5) / 10000.0 AS med,
             |  floor(md.mad * 10000.0 + 0.5) / 10000.0 AS mad,
             |  CAST(sum(CASE WHEN d.dev > 3.0 * md.mad THEN 1 ELSE 0
             |    END) AS BIGINT) AS n_outliers
             |FROM d JOIN md ON d.grp = md.grp
             |GROUP BY d.grp, d.med, md.mad
             |ORDER BY o_orderpriority""".stripMargin)),

    // Incremental view maintenance: the standing aggregate is kept as
    // mergeable partial states (cnt/sum/min/max), the "new day" is
    // aggregated alone, and the refresh is a |groups|-row sum-merge —
    // O(new partition), not O(history). The oracle recomputes the full
    // aggregate directly: incremental == recompute is the maintained
    // invariant.
    GraftQuery(
      "qG7_incremental_agg",
      "Incrementally maintained per-event-type aggregate view: partial " +
        "states of the history and the new window merged, presentation " +
        "columns derived at read time, checked against the full " +
        "recompute.",
      (s, d) => {
        import graft.functions.SafeOps
        import graft.operators.Incremental
        val ev = t(s, d, "events")
        val cutoff = lit("2024-01-21").cast("timestamp")
        val standing = Incremental.aggregateState(
          ev.filter(col("ts") < cutoff), Seq("event_type"), "value")
        val fresh = Incremental.aggregateState(
          ev.filter(col("ts") >= cutoff), Seq("event_type"), "value")
        Incremental.readView(
          Incremental.merge(standing, fresh, Seq("event_type")))
          .select(col("event_type"), col("cnt"),
            SafeOps.stableRound4(col("sum_v")).as("sum_v"),
            SafeOps.stableRound4(col("avg_v")).as("avg_v"),
            SafeOps.stableRound4(col("min_v")).as("min_v"),
            SafeOps.stableRound4(col("max_v")).as("max_v"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(count(value) AS BIGINT) AS cnt,
             |  floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS sum_v,
             |  floor(avg(value) * 10000.0 + 0.5) / 10000.0 AS avg_v,
             |  floor(min(value) * 10000.0 + 0.5) / 10000.0 AS min_v,
             |  floor(max(value) * 10000.0 + 0.5) / 10000.0 AS max_v
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Benford first-digit screen over order totals per status — the
    // aberrant-feed detector for magnitude columns. First digit from
    // the integer-cents STRING (exact, portable — FP log10 can
    // mis-digit at power-of-ten boundaries); absent digits complete to
    // zero rows so the chi-square sees their evidence.
    GraftQuery(
      "qG8_benford",
      "Benford first-significant-digit distribution of o_totalprice " +
        "cents per order status, with per-group chi-square against " +
        "log10(1+1/d).",
      (s, d) => {
        import graft.functions.SafeOps
        graft.operators.Robust.benfordScreen(
          t(s, d, "orders"), Seq("o_orderstatus"), "o_totalprice")
          .select(col("o_orderstatus"), col("digit"), col("obs_n"),
            col("n"),
            SafeOps.stableRound4(col("obs_share")).as("obs_share"),
            SafeOps.stableRound4(col("exp_share")).as("exp_share"),
            SafeOps.stableRound4(col("chi2")).as("chi2"))
          .orderBy("o_orderstatus", "digit")
      },
      Some("""WITH base AS (
             |  SELECT o_orderstatus AS st,
             |    CAST(floor(abs(o_totalprice) * 100 + 0.5) AS BIGINT)
             |      AS c
             |  FROM orders),
             |digits AS (
             |  SELECT st,
             |    CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
             |      AS digit
             |  FROM base WHERE c > 0),
             |counts AS (
             |  SELECT st, digit, CAST(count(*) AS BIGINT) AS obs_n
             |  FROM digits GROUP BY 1, 2),
             |fl AS (
             |  SELECT g.st, CAST(d.d AS INTEGER) AS digit,
             |    coalesce(c.obs_n, 0) AS obs_n
             |  FROM (SELECT DISTINCT st FROM counts) g
             |  CROSS JOIN (SELECT unnest(range(1, 10)) AS d) d
             |  LEFT JOIN counts c ON c.st = g.st AND c.digit = d.d),
             |tot AS (
             |  SELECT *, sum(obs_n) OVER (PARTITION BY st) AS n
             |  FROM fl),
             |sh AS (
             |  SELECT *, obs_n * 1.0 / n AS obs_share,
             |    log10(1.0 + 1.0 / digit) AS exp_share
             |  FROM tot),
             |x2 AS (
             |  SELECT *,
             |    sum((obs_share - exp_share) * (obs_share - exp_share)
             |      / exp_share) OVER (PARTITION BY st) * n AS chi2
             |  FROM sh)
             |SELECT st AS o_orderstatus, digit, obs_n, CAST(n AS BIGINT)
             |    AS n,
             |  floor(obs_share * 10000.0 + 0.5) / 10000.0 AS obs_share,
             |  floor(exp_share * 10000.0 + 0.5) / 10000.0 AS exp_share,
             |  floor(chi2 * 10000.0 + 0.5) / 10000.0 AS chi2
             |FROM x2 ORDER BY o_orderstatus, digit""".stripMargin)),

    // Per-column dataset profile in one aggregation pass — the
    // "know what you just ingested" report. Exact distincts here /
    // for the oracle; the documented scale path swaps in the HLL
    // estimate per column.
    GraftQuery(
      "qG9_profile",
      "Long-format per-column profile of documents (rows, nulls, " +
        "distincts, min/max as strings) from one aggregation pass.",
      (s, d) => graft.operators.Profile.profileTable(
        t(s, d, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("column"),
      Some("""WITH w AS (
             |  SELECT count(*) AS n,
             |    count(doc_id) AS nn1, count(DISTINCT doc_id) AS nd1,
             |    CAST(min(doc_id) AS VARCHAR) AS mn1,
             |    CAST(max(doc_id) AS VARCHAR) AS mx1,
             |    count(lang) AS nn2, count(DISTINCT lang) AS nd2,
             |    min(lang) AS mn2, max(lang) AS mx2,
             |    count(source) AS nn3, count(DISTINCT source) AS nd3,
             |    min(source) AS mn3, max(source) AS mx3,
             |    count(n_chars) AS nn4, count(DISTINCT n_chars) AS nd4,
             |    CAST(min(n_chars) AS VARCHAR) AS mn4,
             |    CAST(max(n_chars) AS VARCHAR) AS mx4
             |  FROM documents)
             |SELECT 'doc_id' AS "column", CAST(n AS BIGINT) AS n,
             |  CAST(n - nn1 AS BIGINT) AS n_null,
             |  CAST(nd1 AS BIGINT) AS n_distinct, mn1 AS min_s,
             |  mx1 AS max_s FROM w
             |UNION ALL SELECT 'lang', n, n - nn2, nd2, mn2, mx2 FROM w
             |UNION ALL SELECT 'source', n, n - nn3, nd3, mn3, mx3 FROM w
             |UNION ALL SELECT 'n_chars', n, n - nn4, nd4, mn4, mx4
             |  FROM w
             |ORDER BY "column"""".stripMargin)),

    // Declarative expectation suite: named row predicates checked in
    // one conditional-sum pass — the contract table a pipeline gates
    // its downstream write on.
    GraftQuery(
      "qH0_expectations",
      "Data-quality contract over orders: five named expectations " +
        "(non-null keys, positive totals, known status domain, date " +
        "range, priority format) counted in one pass.",
      (s, d) => graft.operators.Profile.expectations(
        t(s, d, "orders"), Seq(
          "key_not_null" -> col("o_orderkey").isNotNull,
          "total_positive" -> (col("o_totalprice") > 0),
          "status_domain" -> col("o_orderstatus").isin("F", "O", "P"),
          "date_range" ->
            (col("o_orderdate") >= lit("1992-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1999-01-01").cast("timestamp")),
          "priority_format" -> col("o_orderpriority").rlike("^[1-5]-")))
        .orderBy("check"),
      Some("""WITH w AS (
             |  SELECT count(*) AS n,
             |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
             |      AS v1,
             |    sum(CASE WHEN NOT coalesce(o_totalprice > 0, false)
             |      THEN 1 ELSE 0 END) AS v2,
             |    sum(CASE WHEN NOT coalesce(
             |      o_orderstatus IN ('F','O','P'), false)
             |      THEN 1 ELSE 0 END) AS v3,
             |    sum(CASE WHEN NOT coalesce(
             |      o_orderdate >= TIMESTAMP '1992-01-01' AND
             |      o_orderdate < TIMESTAMP '1999-01-01', false)
             |      THEN 1 ELSE 0 END) AS v4,
             |    sum(CASE WHEN NOT coalesce(
             |      regexp_matches(o_orderpriority, '^[1-5]-'), false)
             |      THEN 1 ELSE 0 END) AS v5
             |  FROM orders)
             |SELECT 'key_not_null' AS "check", CAST(n AS BIGINT) AS n,
             |  CAST(v1 AS BIGINT) AS n_violations, v1 = 0 AS pass FROM w
             |UNION ALL SELECT 'total_positive', n, CAST(v2 AS BIGINT),
             |  v2 = 0 FROM w
             |UNION ALL SELECT 'status_domain', n, CAST(v3 AS BIGINT),
             |  v3 = 0 FROM w
             |UNION ALL SELECT 'date_range', n, CAST(v4 AS BIGINT),
             |  v4 = 0 FROM w
             |UNION ALL SELECT 'priority_format', n, CAST(v5 AS BIGINT),
             |  v5 = 0 FROM w
             |ORDER BY "check"""".stripMargin)),

    // Unicode NFC normalization (UAX #15 canonical composition) —
    // corpus hygiene: composed and decomposed code-point sequences of
    // the same visible text must hash/dedup/tokenize identically. The
    // fixture synthesizes decomposed sequences (base + combining
    // acute) per doc; both engines implement the same standard, so the
    // normalized bytes compare exactly (md5 rider proves it).
    GraftQuery(
      "qH2_nfc_normalize",
      "Unicode NFC normalization of synthesized decomposed strings " +
        "(base letter + combining acute): pre/post code-point counts " +
        "and the md5 of the composed bytes, engine-exact.",
      (s, d) => {
        graft.functions.GraftFunctions.registerAll(s)
        // DECOMPOSED literals: base letter followed by the combining
        // acute U+0301 (raw chars = 17; NFC composes to 15) — Spark's
        // chr() is ASCII-mod-256, not a Unicode code-point
        // constructor, so the mark rides in the string literal
        val raw = concat(lit("Café nr "),
          col("doc_id").cast("string"), lit(" étude"))
        t(s, d, "documents").select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            length(col("raw")).cast("long").as("raw_chars"),
            graft.functions.GraftFunctions.nfcNormalize(col("raw"))
              .as("norm"))
          .select(col("doc_id"), col("raw_chars"),
            length(col("norm")).cast("long").as("norm_chars"),
            md5(col("norm")).as("norm_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH r AS (
             |  SELECT doc_id,
             |    'Cafe' || chr(769) || ' nr ' ||
             |    CAST(doc_id AS VARCHAR) || ' e' || chr(769) || 'tude'
             |      AS raw
             |  FROM documents)
             |SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_chars,
             |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS norm_chars,
             |  md5(nfc_normalize(raw)) AS norm_md5
             |FROM r ORDER BY doc_id""".stripMargin)),

    // HTML main-content extraction (boilerplate removal): the one
    // standard LLM-curation stage between "raw crawl" and the quality
    // gates. The oracle replays the SAME regex chain, generated from
    // the same constants (TextAnalysis.mainContentSqlCtes — the qH7
    // soundexSql parity-by-construction pattern), over the SAME
    // piece-DSL-built HTML fixture.
    GraftQuery(
      "qQ0_html_extract",
      "HTML main-content extraction: strip script/style/comments, " +
        "segment at block tags, per-block tag strip + entity decode + " +
        "whitespace collapse, keep blocks >=25 chars with link " +
        "density <=33%, join kept blocks.",
      (s, d) => TextAnalysis.extractMainContent(
        t(s, d, "documents").select(col("doc_id"),
          htmlSpark(col("text"), col("doc_id")).as("html")),
        "doc_id", "html").orderBy("doc_id"),
      Some(s"""WITH mc_h AS (SELECT doc_id, $htmlSql AS html
              |  FROM documents),
              |${TextAnalysis.mainContentSqlCtes("mc_h")}
              |SELECT doc_id, n_blocks, n_kept, n_chars, content
              |FROM ext ORDER BY doc_id""".stripMargin)),

    // The extraction chained into the Gopher gate — raw HTML to
    // quality verdict in one declared plan, the way q88 chains
    // normalization into dedup. Still scan-speed: two stacked per-row
    // projections, zero shuffles.
    GraftQuery(
      "qQ1_html_gopher_chain",
      "HTML extraction chained into the Gopher quality rules: " +
        "boilerplate-removed content scored by the published gates.",
      (s, d) => {
        // stage boundary: the gopher projection references the
        // extracted content in five signal expressions, so without a
        // barrier the extraction kernel re-evaluates per signal.
        // Production materializes extracted text as a stage table —
        // that is literally what WET files are — so the fence IS a
        // table write: parquet out, columnar scan back (the corpus
        // fence; durable + lineage-free at cluster scale, unlike an
        // executor-local checkpoint's pinned blocks).
        val ext = graft.plans.Fence.corpus(
          TextAnalysis.extractMainContent(
            t(s, d, "documents").select(col("doc_id"),
              htmlSpark(col("text"), col("doc_id")).as("html")),
            "doc_id", "html")
            .where(col("n_kept") > 0)
            .select(col("doc_id"), col("content").as("text")),
          "qQ1_wet")
        TextAnalysis.gopherRules(ext, "doc_id", "text").orderBy("doc_id")
      },
      Some(s"""WITH mc_h AS (SELECT doc_id, $htmlSql AS html
              |  FROM documents),
              |${TextAnalysis.mainContentSqlCtes("mc_h")},
              |mc_x AS (SELECT doc_id, content AS text FROM ext
              |  WHERE n_kept > 0),
              |${gopherSqlCtes("mc_x")}
              |$gopherSqlSelect""".stripMargin)),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2) — the other
    // canonical curation rule set beside Gopher's, applied one level
    // below it. The corpus has no newlines, so the fixture builds a
    // 7-line page around each document deterministically (terminal
    // punctuation present/absent, a JavaScript boilerplate line, a
    // lorem-ipsum page poison every 7th doc, a code-brace line every
    // 11th); both engines replay identical construction and rules.
    GraftQuery(
      "qQ3_c4_line_filters",
      "C4-style line filters: keep lines ending in terminal " +
        "punctuation with >=3 words and no 'javascript'; drop pages " +
        "with braces, 'lorem ipsum', or <5 sentences retained.",
      (s, d) => {
        val page = concat(
          substring(col("text"), 1, 60), lit(".\n"),
          lit("short line\n"),
          substring(col("text"), 30, 80), lit("!\n"),
          lit("Please enable JavaScript to view this page.\n"),
          substring(col("text"), 90, 60), lit(".\n"),
          when(col("doc_id") % 7 === 0,
            lit("lorem ipsum dolor sit amet."))
            .otherwise(concat(substring(col("text"), 60, 70), lit("?"))),
          lit("\n"),
          when(col("doc_id") % 11 === 0,
            lit("function f() { return 1; }"))
            .otherwise(lit("\"A final quoted closing line here.\"")))
        TextAnalysis.c4LineFilters(
          t(s, d, "documents").select(col("doc_id"), page.as("text")),
          "doc_id", "text").orderBy("doc_id")
      },
      Some(s"""WITH c4 AS (SELECT doc_id,
              |    substr(text, 1, 60) || '.' || chr(10) ||
              |    'short line' || chr(10) ||
              |    substr(text, 30, 80) || '!' || chr(10) ||
              |    'Please enable JavaScript to view this page.' ||
              |      chr(10) ||
              |    substr(text, 90, 60) || '.' || chr(10) ||
              |    CASE WHEN doc_id % 7 = 0
              |      THEN 'lorem ipsum dolor sit amet.'
              |      ELSE substr(text, 60, 70) || '?' END || chr(10) ||
              |    CASE WHEN doc_id % 11 = 0
              |      THEN 'function f() { return 1; }'
              |      ELSE '"A final quoted closing line here."' END
              |      AS text
              |  FROM documents),
              |c4k AS (SELECT doc_id,
              |    CAST(len(string_split(text, chr(10))) AS BIGINT)
              |      AS n_lines,
              |    list_filter(string_split(text, chr(10)), x ->
              |      regexp_matches(trim(x),
              |        '${TextAnalysis.C4TerminalRe}')
              |      AND len(list_filter(string_split(trim(x), ' '),
              |        w -> w <> '')) >= ${TextAnalysis.C4MinLineWords}
              |      AND NOT contains(lower(x), 'javascript')) AS kept,
              |    contains(text, '{') AS has_brace,
              |    contains(lower(text), 'lorem ipsum') AS has_lorem
              |  FROM c4),
              |c4m AS (SELECT doc_id, n_lines,
              |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
              |    array_to_string(kept, chr(10)) AS clean_text,
              |    has_brace, has_lorem
              |  FROM c4k),
              |c4r AS (SELECT doc_id, n_lines, n_kept_lines,
              |    CAST(len(regexp_extract_all(clean_text, '[.!?]'))
              |      AS BIGINT) AS n_sentences,
              |    has_brace, has_lorem, clean_text
              |  FROM c4m)
              |SELECT doc_id, n_lines, n_kept_lines, n_sentences,
              |  (NOT has_brace AND NOT has_lorem AND
              |    n_sentences >= ${TextAnalysis.C4MinSentences})
              |    AS keep_doc,
              |  clean_text
              |FROM c4r ORDER BY doc_id""".stripMargin)),

    // Web corpus-build capstone — the q86 shape with the round-9 web
    // front end: raw HTML through boilerplate removal, the Gopher
    // quality gate and exact content dedup to a per-doc disposition,
    // in ONE declared plan. Scale shape: extraction at scan speed
    // behind the WET-style stage boundary, one 16-byte-key shuffle for
    // the dedup groups (the q30 shape), broadcast-eligible joins back.
    GraftQuery(
      "qQ4_web_corpus_build",
      "Web corpus build: HTML -> main-content extraction -> Gopher " +
        "gate -> exact content dedup (md5, keep-min) -> disposition " +
        "(keep = quality AND canonical).",
      (s, d) => {
        // extraction stage boundary — durable WET-style stage table
        // (see qQ1); the quality and hash legs each read it back as
        // an independent column-pruned parquet scan.
        val ext = graft.plans.Fence.corpus(
          TextAnalysis.extractMainContent(
            t(s, d, "documents").select(col("doc_id"),
              htmlSpark(col("text"), col("doc_id")).as("html")),
            "doc_id", "html")
            .where(col("n_kept") > 0)
            .select(col("doc_id"), col("content").as("text")),
          "qQ4_wet")
        val quality = TextAnalysis.gopherRules(ext, "doc_id", "text")
          .select(col("doc_id"), col("keep").as("quality_keep"))
        val hashed = ext.select(col("doc_id"),
          md5(col("text")).as("content_hash"))
        val groups = hashed.groupBy("content_hash")
          .agg(min("doc_id").as("canonical"),
            count(lit(1)).as("n_dupes"))
        hashed.join(groups, "content_hash")
          .join(quality, "doc_id")
          .select(col("doc_id"), col("content_hash"), col("canonical"),
            col("n_dupes"), col("quality_keep"),
            (col("quality_keep") && col("doc_id") === col("canonical"))
              .as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH mc_h AS (SELECT doc_id, $htmlSql AS html
              |  FROM documents),
              |${TextAnalysis.mainContentSqlCtes("mc_h")},
              |mc_x AS (SELECT doc_id, content AS text FROM ext
              |  WHERE n_kept > 0),
              |${gopherSqlCtes("mc_x")},
              |wq AS (SELECT doc_id, $gopherKeepSql AS quality_keep
              |  FROM g_r),
              |wh AS (SELECT doc_id, md5(text) AS content_hash
              |  FROM mc_x),
              |wg AS (SELECT content_hash, min(doc_id) AS canonical,
              |    count(*) AS n_dupes
              |  FROM wh GROUP BY 1)
              |SELECT wh.doc_id, wh.content_hash, wg.canonical,
              |  wg.n_dupes, wq.quality_keep,
              |  (wq.quality_keep AND wh.doc_id = wg.canonical) AS keep
              |FROM wh
              |JOIN wg ON wh.content_hash = wg.content_hash
              |JOIN wq ON wh.doc_id = wq.doc_id
              |ORDER BY wh.doc_id""".stripMargin)),

    // Boilerplate-gated containment -- the production posture
    // SCALE.md's cpp adjudication prescribes for containment over
    // boilerplate-heavy corpora, as ONE declared plan: every page
    // carries two corpus-wide boilerplate lines (the melt fuel -- a
    // shared line's shingles land in every doc's set, inflating true
    // containment and the prefix-index postings alike), the C4 line
    // gate strips them BEFORE pairing, and directed containment runs
    // on the cleaned text only. Scale shape: the gate is a per-row
    // HOF pass at scan speed; the pair stage then sees a
    // boilerplate-FREE corpus, which is what keeps the prefix-index
    // candidate volume at its measured sub-linear decade exponent
    // (the ungated ov corpus is output-bound linear -- SCALE.md).
    GraftQuery(
      "qS0_gated_containment",
      "Boilerplate-gated containment chain: C4 line filters strip " +
        "corpus-wide boilerplate lines, then directed 3-gram " +
        "containment (>= 0.6) pairs run on the cleaned text only.",
      (s, d) => {
        val page = concat(
          substring(col("text"), 1, 150), lit(".\n"),
          lit("Please enable JavaScript to view this page.\n"),
          lit("All content copyright of the site owners all rights " +
            "reserved\n"),
          substring(col("text"), 151, 100000), lit("."))
        val cleaned = TextAnalysis.c4LineFilters(
          t(s, d, "documents").select(col("doc_id"), page.as("text")),
          "doc_id", "text")
          .where(col("n_kept_lines") > 0)
          .select(col("doc_id"),
            regexp_replace(col("clean_text"), "\n", " ").as("text"))
        Dedup.containmentPrefixPairs(cleaned, "doc_id", "text",
          n = 3, threshold = 0.6)
          .select(col("doc_a"), col("doc_b"),
            graft.functions.SafeOps.stableRound4(col("containment"))
              .as("containment"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH page AS (SELECT doc_id,
              |    substr(text, 1, 150) || '.' || chr(10) ||
              |    'Please enable JavaScript to view this page.' ||
              |      chr(10) ||
              |    'All content copyright of the site owners all ' ||
              |      'rights reserved' || chr(10) ||
              |    substr(text, 151, 100000) || '.' AS text
              |  FROM documents),
              |ckept AS (SELECT doc_id,
              |    list_filter(string_split(text, chr(10)), x ->
              |      regexp_matches(trim(x),
              |        '${TextAnalysis.C4TerminalRe}')
              |      AND len(list_filter(string_split(trim(x), ' '),
              |        w -> w <> '')) >= ${TextAnalysis.C4MinLineWords}
              |      AND NOT contains(lower(x), 'javascript'))
              |      AS lines
              |  FROM page),
              |clean AS (SELECT doc_id,
              |    array_to_string(lines, ' ') AS text
              |  FROM ckept WHERE len(lines) > 0),
              |sets AS (
              |  SELECT doc_id,
              |    list_distinct(list_transform(
              |      list_transform(
              |        range(1, len(string_split(text,' ')) - 1),
              |        i -> string_split(text,' ')[i] || ' ' ||
              |             string_split(text,' ')[i+1] || ' ' ||
              |             string_split(text,' ')[i+2]),
              |      g -> ('0x' || substr(md5(g),1,8))::BIGINT)) AS sh
              |  FROM clean
              |  WHERE len(string_split(text,' ')) >= 3),
              |p AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    len(list_intersect(a.sh, b.sh)) AS common,
              |    len(a.sh) AS sa
              |  FROM sets a JOIN sets b ON a.doc_id != b.doc_id)
              |SELECT doc_a, doc_b,
              |  floor((CAST(common AS DOUBLE) / sa) * 10000.0 + 0.5)
              |    / 10000.0 AS containment
              |FROM p WHERE CAST(common AS DOUBLE) / sa >= 0.6
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // The INLINE-boilerplate posture qS0 cannot cover (VERDICT r13
    // #8): here the corpus-wide boilerplate is glued straight into
    // the prose — no newlines, so a LINE gate has nothing to strip.
    // The df gate measures it instead: a shingle in > 50% of docs is
    // boilerplate by document frequency (the df-ordered prefix
    // already computes the statistic), dropped from every set BEFORE
    // pairing — which both restores the pair stage's sub-linear
    // candidate volume (the hot postings never self-join) and stops
    // shared boilerplate from inflating true containment. The oracle
    // replays the gate + brute-force all-pairs containment over the
    // gated sets in DuckDB, independent of the Spark prefix index.
    GraftQuery(
      "qS1_df_gated_containment",
      "Inline df-gated containment: shingles with document frequency " +
        "above 50% of the corpus are dropped as boilerplate (no line " +
        "structure assumed), then directed 3-gram containment " +
        "(>= 0.6) runs over the gated sets.",
      (s, d) => {
        val page = concat(
          substring(col("text"), 1, 150), lit(". "),
          lit("Please enable JavaScript to view this page. "),
          lit("All content copyright of the site owners all rights " +
            "reserved "),
          substring(col("text"), 151, 100000), lit("."))
        Dedup.containmentPrefixPairsDfGated(
          t(s, d, "documents").select(col("doc_id"), page.as("text")),
          "doc_id", "text", n = 3, threshold = 0.6, maxDfFrac = 0.5)
          .select(col("doc_a"), col("doc_b"),
            graft.functions.SafeOps.stableRound4(col("containment"))
              .as("containment"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH page AS (SELECT doc_id,
              |    substr(text, 1, 150) || '. ' ||
              |    'Please enable JavaScript to view this page. ' ||
              |    'All content copyright of the site owners all ' ||
              |      'rights reserved ' ||
              |    substr(text, 151, 100000) || '.' AS text
              |  FROM documents),
              |sets AS (
              |  SELECT doc_id,
              |    list_distinct(list_transform(
              |      list_transform(
              |        range(1, len(string_split(text,' ')) - 1),
              |        i -> string_split(text,' ')[i] || ' ' ||
              |             string_split(text,' ')[i+1] || ' ' ||
              |             string_split(text,' ')[i+2]),
              |      g -> ('0x' || substr(md5(g),1,8))::BIGINT)) AS sh
              |  FROM page
              |  WHERE len(string_split(text,' ')) >= 3),
              |nd AS (SELECT count(*) AS n FROM sets),
              |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
              |hot AS (SELECT shingle FROM inv GROUP BY 1
              |  HAVING count(*) > 0.5 * (SELECT n FROM nd)),
              |ginv AS (SELECT i.doc_id, i.shingle FROM inv i
              |  LEFT JOIN hot h ON i.shingle = h.shingle
              |  WHERE h.shingle IS NULL),
              |gsets AS (SELECT doc_id, list(shingle) AS sh
              |  FROM ginv GROUP BY doc_id),
              |p AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    len(list_intersect(a.sh, b.sh)) AS common,
              |    len(a.sh) AS sa
              |  FROM gsets a JOIN gsets b ON a.doc_id != b.doc_id)
              |SELECT doc_a, doc_b,
              |  floor((CAST(common AS DOUBLE) / sa) * 10000.0 + 0.5)
              |    / 10000.0 AS containment
              |FROM p WHERE CAST(common AS DOUBLE) / sa >= 0.6
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // U3 — the legacySQL dialect shim, exercised on a view body in
    // the exact shape of the reference's one live legacy view
    // (views_legacysql/ndt_plx.sql:4-20): `#legacySQL` marker,
    // bracket table refs, and the COMMA-UNION, which standard SQL
    // would silently read as a CROSS JOIN. The oracle is the
    // standard-SQL UNION ALL the legacy text means.
    GraftQuery(
      "qS2_legacy_comma_union",
      "legacySQL dialect shim: #legacySQL marker + bracket table " +
        "refs + FROM comma-union translated to Spark SQL (UNION " +
        "ALL), run over two filtered legs of orders.",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("graft_legacy_orders")
        val legacy = """#legacySQL
          |-- All order data, both eras, mapped to one leg-tagged
          |-- stream (the ndt_plx comma-union shape).
          |SELECT k, price, leg
          |FROM (
          |  SELECT o_orderkey AS k, o_totalprice AS price,
          |    'pre' AS leg
          |  FROM [${PROJECT}:legacy.orders]
          |  WHERE o_orderkey % 3 = 0),
          |  (
          |  SELECT o_orderkey AS k, o_totalprice AS price,
          |    'post' AS leg
          |  FROM [${PROJECT}:legacy.orders]
          |  WHERE o_orderkey % 3 = 1)""".stripMargin
        s.sql(graft.catalog.LegacySql.translate(legacy,
            Map("legacy.orders" -> "graft_legacy_orders")
              .withDefault(identity)))
          .orderBy("k", "leg")
      },
      Some("""WITH u AS (
             |  SELECT o_orderkey AS k, o_totalprice AS price,
             |    'pre' AS leg
             |  FROM orders WHERE o_orderkey % 3 = 0
             |  UNION ALL
             |  SELECT o_orderkey AS k, o_totalprice AS price,
             |    'post' AS leg
             |  FROM orders WHERE o_orderkey % 3 = 1)
             |SELECT k, price, leg FROM u
             |ORDER BY k, leg""".stripMargin)))
}
