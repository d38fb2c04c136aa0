package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * Single-pass, per-row column math only — no shuffles, no UDFs; at
  * 100 TB these run at scan speed and pipeline into whatever filter or
  * aggregation follows.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword-hit
    * language heuristic. (A real deployment swaps in bigger lists; the
    * mechanism — count profile hits per language, argmax with a fixed
    * priority order — is the operator.)
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "de", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  // Codegen'd set-membership count (GraftFunctions.stopHits); the HOF
  // filter chain is interpreted and was the slowest scan in the bench.
  private def hitCount(toks: Column, words: Seq[String]): Column =
    graft.functions.GraftFunctions.stopHits(toks, words)

  /** Language-ID heuristic: stopword-profile hit counts + argmax with
    * fixed priority (en > de > es > fr; "und" when nothing hits).
    * Output: doc_id, s_en, s_de, s_es, s_fr, pred_lang.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val toks = TextOps.tokens(col(textCol))
    val scores = StopwordProfiles.map { case (lang, words) =>
      lang -> hitCount(toks, words)
    }
    val Seq(en, de, es, fr) = scores.map(_._2)
    df.select(
      col(idCol).as("doc_id"),
      en.cast("long").as("s_en"), de.cast("long").as("s_de"),
      es.cast("long").as("s_es"), fr.cast("long").as("s_fr"))
      .withColumn("pred_lang",
        when(col("s_en") + col("s_de") + col("s_es") + col("s_fr") === 0,
          "und")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
            col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"),
            "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
  }

  /** Quality metrics + a composite score.
    * Output: doc_id, n_chars, n_tokens, avg_token_len, punct_ratio,
    * stop_ratio, quality_score — all ratios rounded for cross-engine
    * stability.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val txt = col(textCol)
    val toks = TextOps.tokens(txt)
    val allStop = StopwordProfiles.flatMap(_._2).distinct
    df.select(
      col(idCol).as("doc_id"),
      length(txt).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      hitCount(toks, allStop).as("stop_hits"),
      length(regexp_replace(txt, "[A-Za-z0-9 ]", "")).as("punct_chars"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"),
        // stableRound4, not round: composite ratios land on exact .xxxx5
        // boundaries where Spark/DuckDB round() semantics diverge.
        graft.functions.SafeOps.stableRound4(
          (col("n_chars") - (col("n_tokens") - 1)).cast("double") /
            col("n_tokens")).as("avg_token_len"),
        graft.functions.SafeOps.stableRound4(
          col("punct_chars").cast("double") / col("n_chars"))
          .as("punct_ratio"),
        graft.functions.SafeOps.stableRound4(
          col("stop_hits").cast("double") / col("n_tokens"))
          .as("stop_ratio"))
      .withColumn("quality_score",
        graft.functions.SafeOps.stableRound4(
          least(col("n_tokens").cast("double") / 100, lit(1.0)) *
            (lit(0.5) + lit(0.5) * least(col("stop_ratio") * 5, lit(1.0))) *
            (lit(1.0) - least(col("punct_ratio") * 2, lit(1.0)))))
  }

  /** Linear quality-classifier gate — the fasttext-style "trained model
    * at scan speed" shape a corpus pipeline gates on: the weight vector
    * is a bounded driver artifact riding into the projection as
    * literals (like the sampling-rate tables and the IVF codebook), the
    * features are per-row quality signals, and the decision is
    * logit ≥ 0 (p ≥ 0.5 under the sigmoid — gating on the monotone
    * logit needs no exp, keeping the output bit-reproducible across
    * engines). Zero shuffles; the corpus is scored at scan speed.
    *
    * Features (each 4-dp floor-rounded BEFORE the dot product so both
    * engines dot identical values): ln(n_tokens + 1), avg token length,
    * punctuation ratio, stopword ratio, within-doc repetition ratio.
    *
    * Output: doc_id, logit (4-dp), keep.
    */
  def linearGate(df: DataFrame, idCol: String, textCol: String,
      bias: Double, wLogTokens: Double, wAvgTokenLen: Double,
      wPunct: Double, wStop: Double, wRep: Double): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val txt = col(textCol)
    val toks = TextOps.tokens(txt)
    val allStop = StopwordProfiles.flatMap(_._2).distinct
    val r4 = graft.functions.SafeOps.stableRound4 _
    df.select(
      col(idCol).as("doc_id"),
      length(txt).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      hitCount(toks, allStop).as("stop_hits"),
      length(regexp_replace(txt, "[A-Za-z0-9 ]", "")).as("punct_chars"))
      .select(
        col("doc_id"),
        r4((col("n_chars") - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens")).as("avg_token_len"),
        r4(col("punct_chars").cast("double") / col("n_chars"))
          .as("punct_ratio"),
        r4(col("stop_hits").cast("double") / col("n_tokens"))
          .as("stop_ratio"),
        r4((col("n_tokens") - col("n_distinct")).cast("double") /
          col("n_tokens")).as("rep_ratio"),
        col("n_tokens"))
      .withColumn("logit", r4(
        lit(bias) +
          lit(wLogTokens) * log(col("n_tokens").cast("double") + 1) +
          lit(wAvgTokenLen) * col("avg_token_len") +
          lit(wPunct) * col("punct_ratio") +
          lit(wStop) * col("stop_ratio") +
          lit(wRep) * col("rep_ratio")))
      .select(col("doc_id"), col("logit"),
        (col("logit") >= 0.0).as("keep"))
  }

  /** Token counts: whitespace tokens + a BPE-ish regex tokenizer
    * (alnum runs | single non-alnum-non-space), the standard
    * pre-tokenization shape. Output: doc_id, ws_tokens, regex_tokens,
    * chars_per_token.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val txt = col(textCol)
    df.select(
      col(idCol).as("doc_id"),
      size(TextOps.tokens(txt)).cast("long").as("ws_tokens"),
      size(expr(
        s"regexp_extract_all($textCol, '[A-Za-z0-9]+|[^A-Za-z0-9 ]', 0)"))
        .cast("long").as("regex_tokens"),
      length(txt).cast("long").as("n_chars"))
      .withColumn("chars_per_token",
        graft.functions.SafeOps.stableRound4(
          col("n_chars").cast("double") / col("ws_tokens")))
  }

  /** Corpus token-frequency table — the shared vocabulary frame the
    * vocab consumers (top-k listing, unigram LM, id encoding) all start
    * from: ONE explode + partial-aggregated count over the token stream,
    * producing a |vocab|-row frame. Consumers needing several scalars
    * (top-k AND total mass) should fence it with
    * [[graft.plans.Fence.bounded]] and run their tiny follow-up jobs
    * against the bounded frame instead of re-scanning the corpus.
    */
  def tokenFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))

  /** Hashing-trick vectorizer: tokens → fixed-`dims` sparse count
    * vectors via the portable md5-prefix hash — the feature builder
    * that feeds [[graft.operators.LogReg]] without a vocabulary pass
    * (no dictionary state, new tokens never break the model; the cost
    * is hash collisions, bounded by dims). One explode + one hash
    * aggregate keyed (doc, idx); the hash is the engine-portable
    * [[TextOps.hash32]], so any SQL engine reproduces the indices.
    * Output: doc_id, f_idx (0..dims−1), cnt.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dims: Int): DataFrame = {
    require(dims > 0, "dims must be positive")
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("f_idx", TextOps.hash32(col("tok")) % dims)
      .groupBy("doc_id", "f_idx")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-document lexical diversity — the vocabulary-richness quality
    * signals (type-token ratio, hapax share) a curation pipeline reads
    * alongside [[qualityScore]]'s surface ratios: generated text and
    * keyword stuffing both crater TTR, boilerplate craters hapax share.
    * Pure per-row array math (distinct + per-type occurrence counts via
    * higher-order functions, O(types·tokens) within the DOC — bounded
    * by the row, scan-speed, no explode/shuffle).
    * Output: doc_id, n_tokens, n_types, ttr (4 dp), hapax_ratio (4 dp).
    */
  def lexicalDiversity(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    // one-pass codegen kernel (lexical_stats): the nested-filter HOF
    // form is CodegenFallback and O(types·tokens) per row
    val stats = graft.functions.GraftFunctions.lexicalStats(
      TextOps.tokens(col(textCol)))
    df.select(col(idCol).as("doc_id"), stats.as("st"))
      .select(
        col("doc_id"),
        element_at(col("st"), 1).as("n_tokens"),
        element_at(col("st"), 2).as("n_types"),
        element_at(col("st"), 3).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        graft.functions.SafeOps.stableRound4(
          col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        graft.functions.SafeOps.stableRound4(
          col("n_hapax").cast("double") / col("n_tokens"))
          .as("hapax_ratio"))
  }

  /** Corpus Zipf fit: OLS of ln(count) on ln(rank) over the top-k of a
    * [[tokenFreq]] frame — the classic rank-frequency diagnostic (a
    * natural corpus fits slope ≈ −1; template spam and deduplication
    * failures bend it). The top-k is a TakeOrderedAndProject over the
    * vocab aggregate (never a global sort), and the OLS sums run as a
    * sorted-array fold over the bounded k-row frame so the double
    * summation order is pinned on both engines.
    * Output: one row — k, slope (4 dp), intercept (4 dp).
    */
  def zipfSlope(tf: DataFrame, k: Int): DataFrame = {
    require(k > 1, "need at least 2 ranks for a slope")
    val top = tf.orderBy(col("cnt").desc, col("tok")).limit(k)
      .select(col("tok"), col("cnt"))
    val ranked = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"), col("rank"))
    def r4(c: Column) = floor(c * 10000.0 + 0.5) / 10000.0
    ranked
      .agg(sort_array(collect_list(
        struct(col("rank"), col("x"), col("y")))).as("rows"))
      .select(size(col("rows")).cast("double").as("n"),
        aggregate(col("rows"), lit(0.0),
          (a, s) => a + s.getField("x")).as("sx"),
        aggregate(col("rows"), lit(0.0),
          (a, s) => a + s.getField("y")).as("sy"),
        aggregate(col("rows"), lit(0.0),
          (a, s) => a + s.getField("x") * s.getField("x")).as("sxx"),
        aggregate(col("rows"), lit(0.0),
          (a, s) => a + s.getField("x") * s.getField("y")).as("sxy"))
      .select(col("n").cast("long").as("k"),
        r4((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        r4((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n")).as("intercept"))
  }

  /** Top-k vocabulary of a [[tokenFreq]] frame, rank order
    * (cnt desc, tok) — plans as TakeOrderedAndProject over the
    * aggregate, no global sort. Returns (token, count) rank-ordered.
    */
  def topVocab(tf: DataFrame, k: Int): Seq[(String, Long)] =
    tf.orderBy(col("cnt").desc, col("tok")).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Position-weighted rolling document fingerprint:
    * Σ_i h(tok_i) · ((i mod 64) + 1)  mod 1_000_000_007.
    * Order-sensitive (re-ordered docs fingerprint differently), pure
    * integer math (engine-portable), single map pass.
    * Output: doc_id, fingerprint.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      (aggregate(
        transform(TextOps.tokens(col(textCol)),
          (t, i) => TextOps.hash32(t) * ((i % 64) + 1)),
        lit(0L), (acc, v) => acc + v) % 1000000007L).as("fingerprint"))

  /** The eight English function words Gopher's quality filter requires a
    * document to contain at least two of (Rae et al. 2021, appendix A).
    */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality rule bundle (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", appendix A — the rule set most
    * web-corpus pipelines still start from): per-document word count,
    * mean word length, fraction of words containing an alphabetic
    * character, required-stopword hits, and symbol ratio (`#` / `...`
    * per word), each with Gopher's published thresholds folded into one
    * composite `keep` gate:
    *
    *   50 ≤ words ≤ 100000, 3 ≤ mean_word_len ≤ 10, frac_alpha ≥ 0.8,
    *   stop_hits ≥ 2, symbol_ratio ≤ 0.1.
    *
    * Pure per-row projection — codegen'd HOFs and regexp counts, zero
    * shuffles; at 100 TB this runs at scan speed like [[linearGate]].
    * All ratio outputs 4-dp floor-rounded for cross-engine parity.
    *
    * Output: doc_id, n_words, mean_word_len, frac_alpha, stop_hits,
    * symbol_ratio, keep.
    */
  /** Terminal-punctuation class a kept C4 line must end with. */
  val C4TerminalRe = "[.!?\"]$"

  /** Minimum words per kept line (Raffel et al. 2020 §2.2: "removed
    * any line with fewer than 3 words").
    */
  val C4MinLineWords = 3

  /** Minimum sentences per kept page (§2.2: "discarded any page with
    * fewer than 5 sentences"), counted as `[.!?]` occurrences in the
    * retained text.
    */
  val C4MinSentences = 5

  /** C4-style LINE-level cleaning + page gate (Raffel et al. 2020,
    * §2.2 — the other canonical rule set beside Gopher's, applied one
    * level below it): a line is kept iff it ends in terminal
    * punctuation, has ≥ [[C4MinLineWords]] words, and does not mention
    * "javascript" (case-insensitive); the page is kept iff it contains
    * no `{` (code), no "lorem ipsum", and its retained text has
    * ≥ [[C4MinSentences]] sentences. Pure per-row HOF/regexp column
    * math over the newline-split lines — zero shuffles, scan speed at
    * 100 TB, pipelines into [[gopherRules]] exactly like the HTML
    * extractor does.
    *
    * Output: doc_id, n_lines, n_kept_lines, n_sentences, keep_doc,
    * clean_text (kept lines re-joined with newlines).
    */
  def c4LineFilters(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val lines = split(col(textCol), "\n")
    def words(l: Column): Column =
      size(filter(split(trim(l), " "), w => w =!= ""))
    val kept = filter(lines, l =>
      trim(l).rlike(C4TerminalRe) &&
        words(l) >= C4MinLineWords &&
        !lower(l).contains("javascript"))
    df.select(col(idCol).as("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept_lines"),
        array_join(kept, "\n").as("clean_text"),
        (instr(col(textCol), "{") > 0).as("has_brace"),
        lower(col(textCol)).contains("lorem ipsum").as("has_lorem"))
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        size(expr("regexp_extract_all(clean_text, '[.!?]', 0)"))
          .cast("long").as("n_sentences"),
        col("has_brace"), col("has_lorem"), col("clean_text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"),
        (!col("has_brace") && !col("has_lorem") &&
          col("n_sentences") >= C4MinSentences).as("keep_doc"),
        col("clean_text"))
  }

  def gopherRules(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    val txt = col(textCol)
    val toks = TextOps.tokens(txt)
    df.select(
      col(idCol).as("doc_id"),
      length(txt).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_words"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
        .as("alpha_words"),
      // DISTINCT presence ("contains ≥2 of the 8"), not occurrence
      // count — an 8-term membership sum, not hitCount's total tally.
      GopherRequiredWords.map(w => array_contains(toks, w).cast("int"))
        .reduce(_ + _).cast("long").as("stop_hits"),
      size(expr(s"regexp_extract_all($textCol, '#|\\\\.\\\\.\\\\.', 0)"))
        .cast("long").as("symbols"))
      .select(
        col("doc_id"), col("n_words"),
        graft.functions.SafeOps.stableRound4(
          (col("n_chars") - (col("n_words") - 1)).cast("double") /
            col("n_words")).as("mean_word_len"),
        graft.functions.SafeOps.stableRound4(
          col("alpha_words").cast("double") / col("n_words"))
          .as("frac_alpha"),
        col("stop_hits"),
        graft.functions.SafeOps.stableRound4(
          col("symbols").cast("double") / col("n_words"))
          .as("symbol_ratio"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("frac_alpha") >= 0.8 &&
          col("stop_hits") >= 2 &&
          col("symbol_ratio") <= 0.1)
  }

  // ---------------------------------------------------------------- HTML

  // Rule constants live in graft.functions.HtmlOps (shared by the JVM
  // kernel, the HOF reference formulation below, and the generated
  // oracle); re-exported here for spec/doc continuity.
  val HtmlScriptRe: String = graft.functions.HtmlOps.ScriptRe
  val HtmlStyleRe: String = graft.functions.HtmlOps.StyleRe
  val HtmlCommentRe: String = graft.functions.HtmlOps.CommentRe
  val HtmlBlockTagRe: String = graft.functions.HtmlOps.BlockTagRe
  val HtmlAnchorRe: String = graft.functions.HtmlOps.AnchorRe
  val HtmlTagRe: String = graft.functions.HtmlOps.TagRe
  val HtmlEntities: Seq[(String, String)] = graft.functions.HtmlOps.Entities
  val HtmlMinBlockChars: Int = graft.functions.HtmlOps.MinBlockChars
  val HtmlWsRe: String = graft.functions.HtmlOps.WsRe
  val HtmlMaxLinkDensityPct: Int = graft.functions.HtmlOps.MaxLinkDensityPct
  private val HtmlSep = graft.functions.HtmlOps.Sep

  /** Main-content extraction from raw HTML (boilerplate removal) — the
    * standard LLM-curation stage between "crawl WARC" and the quality
    * gates ([[gopherRules]]); jusText/Arria-style rules, no DOM
    * library:
    *
    *  1. strip `<script>`/`<style>` blocks, then comments;
    *  2. segment at block-level tags;
    *  3. per block: strip residual tags, decode entities, collapse
    *     whitespace;
    *  4. keep blocks ≥ [[HtmlMinBlockChars]] chars with link density
    *     ≤ [[HtmlMaxLinkDensityPct]]% (anchor-text chars / text chars);
    *  5. join kept blocks with a single space.
    *
    * Pure per-row column math (codegen'd regexp + HOFs), zero shuffles
    * — at 100 TB this runs at scan speed and pipelines straight into
    * the Gopher gate, exactly like the reference's parser stages feed
    * its annotation views (ref: schema/README.md ingestion pipeline).
    *
    * Output: doc_id, n_blocks (non-empty blocks), n_kept, n_chars,
    * content.
    */
  def extractMainContent(df: DataFrame, idCol: String, htmlCol: String)
      : DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    // one codegen'd kernel expression (graft.functions.HtmlOps) — the
    // stacked-projection Column formulation re-evaluated the regex
    // chain up to ~8x per row (CodegenFallback HOFs get no CSE);
    // extractMainContentHof keeps that formulation as the specced
    // parity reference
    df.select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.htmlMainContent(col(htmlCol))
          .as("mc"))
      .select(col("doc_id"), col("mc.n_blocks").as("n_blocks"),
        col("mc.n_kept").as("n_kept"), col("mc.n_chars").as("n_chars"),
        col("mc.content").as("content"))
  }

  /** The Column-HOF reference formulation of [[extractMainContent]] —
    * identical semantics built only from Spark's own regexp/HOF
    * surface (same `java.util.regex` engine as the kernel). Kept
    * non-private for the kernel↔HOF parity spec; not the engine path
    * (interpreted CodegenFallback, and every downstream field
    * reference re-evaluates the chain).
    */
  private[graft] def extractMainContentHof(df: DataFrame, idCol: String,
      htmlCol: String): DataFrame = {
    def entityDecode(c: Column): Column =
      HtmlEntities.foldLeft(c) { case (acc, (f, to)) =>
        replace(acc, lit(f), lit(to)) }
    def cleanBlock(b: Column): Column =
      trim(regexp_replace(
        entityDecode(regexp_replace(b, HtmlTagRe, " ")), HtmlWsRe, " "))
    def anchorChars(b: Column): Column =
      aggregate(
        transform(regexp_extract_all(b, lit(HtmlAnchorRe), lit(1)),
          a => length(trim(regexp_replace(entityDecode(a), HtmlWsRe, " ")))
            .cast("long")),
        lit(0L), (acc, v) => acc + v)
    val stripped = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(col(htmlCol), HtmlScriptRe, " "),
      HtmlStyleRe, " "), HtmlCommentRe, " "), HtmlBlockTagRe, HtmlSep)
    val blocks = split(stripped, HtmlSep)
    df.select(col(idCol).as("doc_id"),
        transform(blocks, b => cleanBlock(b)).as("ct"),
        transform(blocks, b => anchorChars(b)).as("al"))
      .select(col("doc_id"),
        size(filter(col("ct"), t => length(t) > 0)).cast("long")
          .as("n_blocks"),
        filter(col("ct"), (t, i) =>
          length(t) >= HtmlMinBlockChars &&
            element_at(col("al"), i + 1) * 100 <=
              length(t).cast("long") * HtmlMaxLinkDensityPct)
          .as("kept"))
      .select(col("doc_id"), col("n_blocks"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("content"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        length(col("content")).cast("long").as("n_chars"),
        col("content"))
  }

  /** DuckDB CTE chain replaying [[extractMainContent]] over `src`
    * (columns: doc_id, html) — generated from the SAME regex constants
    * and thresholds, so parity holds by construction (the
    * [[graft.functions.PhoneticOps.soundexSql]] pattern). Emits CTEs
    * `mc_s, mc_b, mc_p, mc_r, ext`; `ext` has (doc_id, n_blocks,
    * n_kept, n_chars, content). Caller composes it inside a `WITH`.
    */
  def mainContentSqlCtes(src: String): String = {
    def decode(e: String): String =
      HtmlEntities.foldLeft(e) { case (acc, (f, to)) =>
        s"replace($acc, '$f', '${to.replace("'", "''")}')" }
    def clean(x: String): String =
      s"trim(regexp_replace(" +
        decode(s"regexp_replace($x, '$HtmlTagRe', ' ', 'g')") +
        s", '$HtmlWsRe', ' ', 'g'))"
    val aLen =
      "CAST(coalesce(list_sum(list_transform(" +
        s"regexp_extract_all(x, '$HtmlAnchorRe', 1), " +
        "y -> len(trim(regexp_replace(" + decode("y") +
        s", '$HtmlWsRe', ' ', 'g'))))), 0) AS BIGINT)"
    s"""mc_s AS (SELECT doc_id, regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(html,
       |    '$HtmlScriptRe', ' ', 'g'),
       |    '$HtmlStyleRe', ' ', 'g'),
       |    '$HtmlCommentRe', ' ', 'g'),
       |    '$HtmlBlockTagRe', chr(30), 'g') AS st
       |  FROM $src),
       |mc_b AS (SELECT doc_id, string_split(st, chr(30)) AS blocks
       |  FROM mc_s),
       |mc_p AS (SELECT doc_id,
       |    list_transform(blocks, x -> ${clean("x")}) AS ct,
       |    list_transform(blocks, x -> $aLen) AS al
       |  FROM mc_b),
       |mc_r AS (SELECT doc_id,
       |    CAST(len(list_filter(ct, x -> len(x) > 0)) AS BIGINT)
       |      AS n_blocks,
       |    list_filter(ct, (x, i) -> len(x) >= $HtmlMinBlockChars
       |      AND al[i]*100 <= len(x)*$HtmlMaxLinkDensityPct) AS kept
       |  FROM mc_p),
       |ext AS (SELECT doc_id, n_blocks,
       |    CAST(len(kept) AS BIGINT) AS n_kept,
       |    CAST(len(array_to_string(kept, ' ')) AS BIGINT) AS n_chars,
       |    array_to_string(kept, ' ') AS content
       |  FROM mc_r)""".stripMargin
  }
}
