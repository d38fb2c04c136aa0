package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.functions.PhoneticOps
import graft.operators.{Density, Eval, Multimodal}

/** Round-6 fifth batch: classifier evaluation (exact ROC AUC +
  * calibration table), real RIFF/WAVE PCM decode, density clustering
  * (DBSCAN) over the embedding corpus, and phonetic (Soundex) blocking —
  * the eval-and-modality operators around a quality-gated curation
  * pipeline.
  *
  * Same oracle-parity conventions as every other module: stable
  * floor-rounding on float outputs on BOTH sides (or integer/one-IEEE-op
  * derivations proven exact), identical aliases, unique-key ORDER BY.
  */
object Evaluation {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // Shared vector-norm CTE (same closed form the LlmOps/Curation
  // embedding oracles use).
  private val duckVecNorm =
    """v AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM v)""".stripMargin

  /** Hex md5 via a caller-owned digest — the one formatting helper both
    * trio fixture builders close over (one per-partition MessageDigest,
    * one implementation of the hex convention the oracles replay).
    */
  private def md5HexOf(md: java.security.MessageDigest,
      text: String): String =
    md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** qH9/qP0 fixture: md5-noise trio P5 images as a media table
    * (doc_id, media, mime, n_bytes). Base image shared by doc-id TRIOS;
    * the two variant docs perturb ~5% of pixels (+v*24 where
    * (31x+17y)%19=0), so within-trio pairs land at Hamming 0-6 and
    * cross-trio pairs are 56-bit-random. Pair volume therefore scales
    * LINEARLY with the corpus, like a real near-dup population.
    *
    * The md5 noise is hoisted out of the per-pixel lambda: higher-order
    * functions evaluate INTERPRETED per element, so one digest per
    * pixel would cost 252 interpreted md5s/row. One md5 covers 16
    * pixels (16 hex pairs): 28 digests into an array column, per-pixel
    * work drops to element_at + substring.
    */
  private def trioImageMedia(docs: DataFrame): DataFrame = {
    // typed mapPartitions builder: interpreted per-pixel Catalyst HOFs
    // cost ~250 subexpressions/row; this builds the IDENTICAL bytes
    // (same md5 scheme, verified by the unchanged closed-form oracles)
    // with one MessageDigest per partition — the fixture is test
    // machinery, the operators under test consume the media table
    // exactly as before
    val spark = docs.sparkSession
    import spark.implicits._
    val w = 18
    val h = 14
    // floor on the 8-byte id frame, BELOW the digest synthesis: the
    // builder's md5 work is the expensive part, so it must be born
    // distributed (graft.plans.Parallel scaladoc; round-18 A/B)
    graft.plans.Parallel.cpuFloor(
        docs.select(col("doc_id").cast("long")), "doc_id")
      .as[Long]
      .mapPartitions { ids =>
        val md = java.security.MessageDigest.getInstance("MD5")
        ids.map { id =>
          val base = id - id % 3
          val hex = Array.tabulate(2 * h)(r =>
            md5HexOf(md, s"$base:${r / 2}:${r % 2}"))
          val header = s"P5\n$w $h\n255\n".getBytes("UTF-8")
          val out = new Array[Byte](header.length + w * h)
          System.arraycopy(header, 0, out, 0, header.length)
          var j = 0
          while (j < w * h) {
            val x = j % w
            val y = j / w
            val hs = hex(y * 2 + x / 16)
            val noise =
              Integer.parseInt(hs.substring((x % 16) * 2, (x % 16) * 2 + 2), 16)
            val pert = if ((x * 31 + y * 17) % 19 == 0) (id % 3) * 24 else 0L
            out(header.length + j) = (((noise + pert) % 256).toInt).toByte
            j += 1
          }
          (id, out, "image/x-portable-graymap",
            out.length.toLong)
        }
      }.toDF("doc_id", "media", "mime", "n_bytes")
  }

  /** qI2/qP1 fixture: md5-noise trio WAV clips as a media table — the
    * same linear-scaling trio design as [[trioImageMedia]] (base signal
    * shared by doc-id trios, variants bump every 9th sample by v*150);
    * 114 samples -> 57 two-sample fingerprint frames. One md5 covers 10
    * samples (3 hex chars each): 12 digests/clip instead of 114.
    */
  private def trioWavMedia(docs: DataFrame): DataFrame = {
    // typed mapPartitions builder — same rationale and identical bytes
    // as [[trioImageMedia]]'s (the closed-form oracles are unchanged)
    val spark = docs.sparkSession
    import spark.implicits._
    val n = 114
    // same id-frame floor as trioImageMedia (digest synthesis below)
    graft.plans.Parallel.cpuFloor(
        docs.select(col("doc_id").cast("long")), "doc_id")
      .as[Long]
      .mapPartitions { ids =>
        val md = java.security.MessageDigest.getInstance("MD5")
        ids.map { id =>
          val base = id - id % 3
          val hex = Array.tabulate(12)(g => md5HexOf(md, s"$base:$g"))
          val samples = Array.tabulate(n) { j =>
            val h3 = hex(j / 10).substring((j % 10) * 3, (j % 10) * 3 + 3)
            val noise = Integer.parseInt(h3, 16) % 4001 - 2000
            val pert = if (j % 9 == 0) ((id % 3) * 150).toInt else 0
            noise + pert
          }
          // the canonical encoder decimatePcm also uses — one writer
          val out = Multimodal.writeWavMono16(8000, samples)
          (id, out, "audio/wav", out.length.toLong)
        }
      }.toDF("doc_id", "media", "mime", "n_bytes")
  }

  /** qP4 fixture: per-doc "videos" of `frames` concatenated 18×14 P5
    * frames, frame f's pixel noise = hex pairs of md5(doc:f:y:g) —
    * per-doc (no trio structure; this fixture exercises the frame
    * scanner/sampler plumbing, not dedup). Because no perturbation is
    * applied, a payload ROW is literally its digests' hex: 16 pixels
    * from md5(d:f:y:0) plus the first 2 from md5(d:f:y:1) — so the
    * synthesis is h concats per frame, not w·h interpreted pixel
    * lambdas (measured 6.2 → 2.0 s at sf0.1).
    */
  private def videoMedia(docs: DataFrame, frames: Int,
      frameKey: Int => Column = _ => col("doc_id")): DataFrame = {
    val w = 18
    val h = 14
    def frameBin(f: Int): Column = {
      def m(y: Column, g: Int) =
        md5(concat(frameKey(f).cast("string"), lit(s":$f:"),
          y.cast("string"), lit(s":$g")))
      val payloadHex = array_join(
        transform(sequence(lit(0L), lit(h - 1L)), y =>
          concat(m(y, 0), substring(m(y, 1), 1, 2 * (w - 16)))), "")
      concat(encode(lit(s"P5\n$w $h\n255\n"), "UTF-8"),
        unhex(payloadHex))
    }
    val media = concat((0 until frames).map(frameBin): _*)
    // id-frame floor below the per-frame md5 expression chain — the
    // same §8 shape as the typed builders above
    graft.plans.Parallel.cpuFloor(docs.select(col("doc_id")), "doc_id")
      .select(col("doc_id"),
        media.as("media"), lit("video/x-pnm-frames").as("mime"),
        octet_length(media).cast("long").as("n_bytes"))
  }

  /** qP4 oracle cell: the 9×7 box-mean over frame `fE`'s 18×14 grid —
    * the per-frame twin of [[dhashCellSql]] (no trio perturbation).
    */
  private def dhashCellVideoSql(txE: String, tyE: String, fE: String,
      keyE: String = "doc_id"): String = {
    def pix(xE: String, yE: String): String =
      s"(('0x' || substr(md5(CAST($keyE AS VARCHAR) || ':' || " +
        s"CAST($fE AS VARCHAR) || ':' || CAST($yE AS VARCHAR) || ':' " +
        s"|| CAST(($xE) // 16 AS VARCHAR)), " +
        s"2*(($xE) % 16)+1, 2))::BIGINT)"
    val tx = s"($txE)"
    val ty = s"($tyE)"
    s"((${pix(s"2*$tx", s"2*$ty")} + ${pix(s"2*$tx+1", s"2*$ty")} + " +
      s"${pix(s"2*$tx", s"2*$ty+1")} + ${pix(s"2*$tx+1", s"2*$ty+1")}) // 4)"
  }

  val all: Seq[GraftQuery] = Seq(

    // Exact ROC AUC as a distributed rank-sum: per-distinct-score
    // partials, two-phase block prefix sum (no global one-task sort),
    // Mann-Whitney identity with average ranks for ties. The oracle
    // computes the same identity with a window rank — different
    // algorithm, identical statistic.
    GraftQuery(
      "qH3_binary_auc",
      "Exact ROC AUC of `value` as a predictor of purchase events " +
        "(Mann-Whitney rank-sum, tie-averaged ranks, block-parallel " +
        "prefix sum) — one row: n_pos, n_neg, auc.",
      (s, d) => Eval.binaryAuc(
        t(s, d, "events"), col("value"), col("event_type") === "purchase"),
      Some("""WITH s AS (
             |  SELECT value AS sc,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             |  FROM events WHERE value IS NOT NULL),
             |r AS (
             |  SELECT y, rank() OVER (ORDER BY sc) +
             |    (count(*) OVER (PARTITION BY sc) - 1) / 2.0 AS ar
             |  FROM s),
             |a AS (
             |  SELECT sum(CASE WHEN y = 1 THEN ar ELSE 0 END) AS rpos,
             |    sum(y) AS np, count(*) AS n
             |  FROM r)
             |SELECT CAST(np AS BIGINT) AS n_pos,
             |  CAST(n - np AS BIGINT) AS n_neg,
             |  floor((rpos - np * (np + 1) / 2.0) / (np * (n - np))
             |    * 1000000 + 0.5) / 1000000 AS auc
             |FROM a""".stripMargin)),

    // Reliability table for the same score: equal-width bins, observed
    // positive rate vs mean score. Scores snapped to integer 1e-4 units
    // before summing so both engines' sums are exact.
    GraftQuery(
      "qH4_calibration_bins",
      "Calibration (reliability) table of `value` vs purchase outcome: " +
        "10 equal-width bins over [0,500], per-bin volume, mean score, " +
        "observed positive rate.",
      (s, d) => Eval.calibrationBins(
        t(s, d, "events"), col("value"), col("event_type") === "purchase",
        lo = 0.0, hi = 500.0, bins = 10)
        .orderBy("bin"),
      Some("""WITH s AS (
             |  SELECT value AS sc,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             |  FROM events
             |  WHERE value IS NOT NULL AND value >= 0 AND value <= 500),
             |b AS (
             |  SELECT least(9, CAST(floor(sc / 50.0) AS BIGINT)) AS bin,
             |    CAST(floor(sc * 10000.0 + 0.5) AS BIGINT) AS s4, y
             |  FROM s)
             |SELECT bin,
             |  floor(bin * 50.0 * 10000.0 + 0.5) / 10000.0 AS lo_edge,
             |  count(*) AS n,
             |  floor(sum(s4) / CAST(count(*) AS DOUBLE) / 10000.0
             |    * 10000.0 + 0.5) / 10000.0 AS mean_score,
             |  floor(sum(y) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5)
             |    / 1000000 AS frac_pos
             |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // REAL audio decode end-to-end: RIFF/WAVE PCM16 bytes synthesized
    // per doc (constant header fields precomputed as hex literals, LE
    // sample bytes from the closed-form sample generator), decoded by
    // the pure-JVM chunk-walking parser inside mapPartitions. Stats are
    // integer sums (exact) + one IEEE sqrt/div — engine-reproducible.
    // Every 41st doc gets a corrupt magic (RIFX) for the quarantine path.
    GraftQuery(
      "qH5_wav_decode",
      "Pure-JVM RIFF/WAVE PCM16 decode round trip under mapPartitions: " +
        "synthesized mono 8 kHz clips -> header fields, mean/RMS/peak " +
        "amplitude, zero crossings; corrupt-magic rows as decoded=false.",
      (s, d) => {
        import graft.functions.SafeOps
        def u16le(c: Column): Column = concat(
          lpad(hex(pmod(c, lit(256L))), 2, "0"),
          lpad(hex(pmod(floor(c / 256).cast("long"), lit(256L))), 2, "0"))
        def u32le(c: Column): Column = concat(
          u16le(pmod(c, lit(65536L))),
          u16le(floor(c / 65536).cast("long")))
        val n = (col("doc_id") % 7 * 4 + 16).cast("long") // samples
        val dataLen = n * 2
        // sample j: v = (doc_id*31 + j*97) % 4001 - 2000, LE as v & 0xFFFF
        val samplesHex = array_join(
          transform(sequence(lit(0L), n - 1), j =>
            u16le(pmod((col("doc_id") * 31 + j * 97) % 4001 - 2000,
              lit(65536L)))), "")
        val magicHex = when(col("doc_id") % 41 === 0, lit("52494658"))
          .otherwise(lit("52494646")) // "RIFX" / "RIFF"
        // "WAVEfmt " + size16 + PCM + mono + 8000 Hz + 16000 B/s +
        // block 2 + 16 bit  (all constant -> one hex literal)
        val fmtHex = "57415645666d7420" + "10000000" + "0100" + "0100" +
          "401f0000" + "803e0000" + "0200" + "1000" + "64617461"
        val media = unhex(concat(magicHex, u32le(dataLen + 36),
          lit(fmtHex), u32le(dataLen), samplesHex))
        val mediaTbl = t(s, d, "documents").select(col("doc_id"),
          media.as("media"), lit("audio/wav").as("mime"),
          octet_length(media).cast("long").as("n_bytes"))
        Multimodal.decodeWavs(mediaTbl)
          .select(col("doc_id"), col("decoded"), col("channels"),
            col("sample_rate"), col("n_frames"),
            SafeOps.stableRound4(col("mean_amp")).as("mean_amp"),
            SafeOps.stableRound4(col("rms")).as("rms"),
            col("peak_abs"), col("zero_cross"))
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, doc_id % 7 * 4 + 16 AS n,
             |    doc_id % 41 = 0 AS corrupt
             |  FROM documents),
             |sm AS (
             |  SELECT doc_id, n, corrupt,
             |    list_transform(range(0, n),
             |      j -> (doc_id*31 + j*97) % 4001 - 2000) AS v
             |  FROM base),
             |st AS (
             |  SELECT doc_id, n, corrupt,
             |    list_sum(v) AS sv,
             |    list_sum(list_transform(v, x -> x*x)) AS svv,
             |    list_max(list_transform(v, x -> abs(x))) AS pk,
             |    list_sum(list_transform(range(1, n), j ->
             |      CASE WHEN (v[j] < 0) <> (v[j+1] < 0)
             |        THEN 1 ELSE 0 END)) AS zc
             |  FROM sm)
             |SELECT doc_id, NOT corrupt AS decoded,
             |  CASE WHEN corrupt THEN NULL ELSE 1 END AS channels,
             |  CASE WHEN corrupt THEN NULL ELSE 8000 END AS sample_rate,
             |  CASE WHEN corrupt THEN NULL
             |    ELSE CAST(n AS BIGINT) END AS n_frames,
             |  CASE WHEN corrupt THEN NULL ELSE
             |    floor(sv / CAST(n AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             |    END AS mean_amp,
             |  CASE WHEN corrupt THEN NULL ELSE
             |    floor(sqrt(svv / CAST(n AS DOUBLE)) * 10000.0 + 0.5)
             |      / 10000.0 END AS rms,
             |  CASE WHEN corrupt THEN NULL
             |    ELSE CAST(pk AS INTEGER) END AS peak_abs,
             |  CASE WHEN corrupt THEN NULL
             |    ELSE CAST(zc AS BIGINT) END AS zero_cross
             |FROM st ORDER BY doc_id""".stripMargin)),

    // DBSCAN over the embedding corpus: exact cosine eps-neighbors
    // (the oracle-matched generator; the 100 TB path swaps in the LSH
    // generator), core test, HashMin components over core-core edges,
    // min-cluster border attachment. The oracle replays the definition
    // with a recursive closure — different algorithm, identical
    // role/cluster assignment.
    GraftQuery(
      "qH6_dbscan",
      "DBSCAN over embeddings (cosine >= 0.3 neighbors, minPts=4): " +
        "core/border/noise roles and min-core-id cluster labels via " +
        "neighbor-pair degree + connected components.",
      (s, d) => Density.dbscanCosine(
        t(s, d, "embeddings"), "vec_id", "embedding",
        cosThreshold = 0.3, minPts = 4)
        .orderBy("id"),
      Some(s"""WITH RECURSIVE $duckVecNorm,
              |p AS (
              |  SELECT a.vec_id AS ia, b.vec_id AS ib
              |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
              |  WHERE list_sum(list_transform(range(1,65),
              |      i -> a.v[i]*b.v[i])) / (a.nrm*b.nrm) >= 0.3),
              |deg AS (SELECT ia, count(*) AS nbrs FROM p GROUP BY ia),
              |core AS (SELECT ia AS id FROM deg WHERE nbrs + 1 >= 4),
              |ce AS (
              |  SELECT p.ia AS a, p.ib AS b FROM p
              |  JOIN core c1 ON p.ia = c1.id
              |  JOIN core c2 ON p.ib = c2.id),
              |reach(node, r) AS (
              |  SELECT a, a FROM ce
              |  UNION
              |  SELECT e.a, r.r FROM ce e JOIN reach r ON e.b = r.node),
              |comp AS (SELECT node, min(r) AS cluster
              |  FROM reach GROUP BY node),
              |corecl AS (
              |  SELECT c.id, coalesce(comp.cluster, c.id) AS cluster
              |  FROM core c LEFT JOIN comp ON c.id = comp.node),
              |bordercl AS (
              |  SELECT p.ia AS id, min(cc.cluster) AS cluster
              |  FROM p JOIN corecl cc ON p.ib = cc.id
              |  WHERE p.ia NOT IN (SELECT id FROM core)
              |  GROUP BY p.ia)
              |SELECT e.vec_id AS id,
              |  CASE WHEN cc.id IS NOT NULL THEN 'core'
              |    WHEN bc.id IS NOT NULL THEN 'border'
              |    ELSE 'noise' END AS role,
              |  coalesce(cc.cluster, bc.cluster) AS cluster
              |FROM embeddings e
              |LEFT JOIN corecl cc ON e.vec_id = cc.id
              |LEFT JOIN bordercl bc ON e.vec_id = bc.id
              |ORDER BY id""".stripMargin)),

    // qH6's scale path, declared: the SAME density core
    // (degree/core/components/border) fed by the LSH-bucketed cosine
    // generator instead of the exact all-pairs one — Density.dbscan
    // takes the pair frame as an argument precisely so the O(n²)
    // generator swaps out at corpus scale (the q34→q70 pairing, now
    // proven for DBSCAN too). The oracle replays the generator-composed
    // definition: neighbors are same-bucket cosine hits, so the
    // assignment matches EXACTLY by construction, no recall caveat.
    // The plan contains only equi-joins (bucket equality + id keys) —
    // the PlanSpec sweep's no-cartesian/no-BNLJ guard covers it.
    GraftQuery(
      "qO9_dbscan_lsh",
      "DBSCAN over embeddings with the LSH-bucketed pair generator " +
        "(ADAPTIVE hyperplane count: smallest k with 2^k*64 >= n, " +
        "cosine >= 0.3 within bucket, minPts=4): bucketed generator " +
        "composed into the qH6 density core — the declared 100 TB " +
        "path, no all-pairs join, bucket occupancy bounded at any n.",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // corpus stats via the session-cached count — the production
        // scale knob: fixed planes leave occupancy ∝ n and the 100×
        // probe OOMs; see Similarity.adaptivePlanes
        val planes = graft.operators.Similarity.adaptivePlanes(
          graft.Tables.rowCount(s, d, "embeddings"))
        val pairs = graft.operators.Dedup.embeddingLshPairs(
          emb, "vec_id", "embedding", planes = planes, threshold = 0.3)
        Density.dbscan(emb, "vec_id", pairs, "id_a", "id_b", minPts = 4)
          .orderBy("id")
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
              |p0 AS (
              |  SELECT a.vec_id AS ia, y.vec_id AS ib
              |  FROM b a JOIN b y
              |    ON a.bucket = y.bucket AND a.vec_id < y.vec_id
              |  WHERE list_sum(list_transform(range(1,65),
              |      i -> a.v[i]*y.v[i])) / (a.nrm*y.nrm) >= 0.3),
              |p AS (SELECT ia, ib FROM p0
              |  UNION ALL SELECT ib AS ia, ia AS ib FROM p0),
              |deg AS (SELECT ia, count(*) AS nbrs FROM p GROUP BY ia),
              |core AS (SELECT ia AS id FROM deg WHERE nbrs + 1 >= 4),
              |ce AS (
              |  SELECT p.ia AS a, p.ib AS b FROM p
              |  JOIN core c1 ON p.ia = c1.id
              |  JOIN core c2 ON p.ib = c2.id),
              |reach(node, r) AS (
              |  SELECT a, a FROM ce
              |  UNION
              |  SELECT e.a, r.r FROM ce e JOIN reach r ON e.b = r.node),
              |comp AS (SELECT node, min(r) AS cluster
              |  FROM reach GROUP BY node),
              |corecl AS (
              |  SELECT c.id, coalesce(comp.cluster, c.id) AS cluster
              |  FROM core c LEFT JOIN comp ON c.id = comp.node),
              |bordercl AS (
              |  SELECT p.ia AS id, min(cc.cluster) AS cluster
              |  FROM p JOIN corecl cc ON p.ib = cc.id
              |  WHERE p.ia NOT IN (SELECT id FROM core)
              |  GROUP BY p.ia)
              |SELECT e.vec_id AS id,
              |  CASE WHEN cc.id IS NOT NULL THEN 'core'
              |    WHEN bc.id IS NOT NULL THEN 'border'
              |    ELSE 'noise' END AS role,
              |  coalesce(cc.cluster, bc.cluster) AS cluster
              |FROM embeddings e
              |LEFT JOIN corecl cc ON e.vec_id = cc.id
              |LEFT JOIN bordercl bc ON e.vec_id = bc.id
              |ORDER BY id""".stripMargin)),

    // Phonetic blocking: Soundex keys (translate + RE2-safe
    // regexp_replace chain — the DuckDB side is GENERATED from the same
    // loop, so parity holds by construction) over the distinct part-name
    // vocabulary, same-key pairs verified with the native Jaro-Winkler
    // expression (raw doubles, bit-for-bit as in qG4).
    GraftQuery(
      "qH7_soundex_blocking",
      "Soundex phonetic blocking over distinct part-name words: " +
        "same-code pairs with their Jaro-Winkler similarity — the " +
        "classic cheap blocking key ahead of string-metric verification.",
      (s, d) => {
        graft.functions.GraftFunctions.registerAll(s)
        // The 16-word part vocabulary is too clean for natural phonetic
        // collisions (one: red/rod), so each word also contributes a
        // vowel-rotated "misspelling" — Soundex codes vowels to 0, so
        // every twin collides with its source, exercising the
        // block-then-verify shape at real volume.
        val base = t(s, d, "part")
          .select(explode(split(col("p_name"), " ")).as("w"))
          .filter(length(col("w")) > 0)
        val words = base
          .unionAll(base.select(
            translate(col("w"), "aeiou", "eioua").as("w")))
          .distinct()
          .withColumn("code", PhoneticOps.soundex(col("w")))
        words.as("a").join(words.as("b"),
          col("a.code") === col("b.code") && col("a.w") < col("b.w"))
          .select(col("a.w").as("w1"), col("b.w").as("w2"),
            col("a.code").as("code"),
            graft.functions.GraftFunctions.jaroWinkler(
              col("a.w"), col("b.w")).as("jw"))
          .orderBy("w1", "w2")
      },
      Some(s"""WITH w0 AS (
              |  SELECT unnest(string_split(p_name, ' ')) AS w FROM part),
              |w AS (
              |  SELECT DISTINCT w FROM (
              |    SELECT w FROM w0
              |    UNION ALL
              |    SELECT translate(w, 'aeiou', 'eioua') FROM w0)),
              |c AS (SELECT w, ${PhoneticOps.soundexSql("w")} AS code
              |  FROM w WHERE length(w) > 0)
              |SELECT a.w AS w1, b.w AS w2, a.code AS code,
              |  jaro_winkler_similarity(a.w, b.w) AS jw
              |FROM c a JOIN c b ON a.code = b.code AND a.w < b.w
              |ORDER BY w1, w2""".stripMargin)),

    // Precision/recall curve over integer thresholds of the event
    // score: distinct-threshold partials + the two-phase block prefix
    // sum (binaryAuc's shape); confusion counts are integers, each
    // ratio is a single division. The oracle replays with a window
    // cumulative — different algorithm, identical table.
    GraftQuery(
      "qH8_pr_curve",
      "Precision/recall/F1 at every integer threshold of `value` for " +
        "the purchase-prediction rule score >= t — confusion counts " +
        "plus single-division ratios, block-parallel cumulatives.",
      (s, d) => Eval.prCurve(
        t(s, d, "events"), floor(col("value")),
        col("event_type") === "purchase")
        .orderBy("threshold"),
      prCurveOracleBody),

    // Perceptual image dedup end-to-end: P5 pixel grids synthesized per
    // doc — md5-noise base images shared by doc-id TRIOS, with the two
    // variant docs perturbing ~5% of pixels (+v·24 where
    // (31x+17y)%19=0), so within-trio pairs land at Hamming 0-6 and
    // cross-trio pairs are 56-bit-random (P[d≤6] ≈ 4e-10: none). Pair
    // volume therefore scales LINEARLY with the corpus, like a real
    // near-dup population — not quadratically like a shared-gradient
    // fixture would. Real grayscale decode + 9×7 box-downsample +
    // 56-bit dHash under mapPartitions, then the pigeonhole banded
    // Hamming join. The oracle rebuilds the hash closed-form from the
    // generator and takes exact all-pairs — banding with 7 bands is
    // lossless for d ≤ 6, so the sets must match exactly.
    GraftQuery(
      "qH9_dhash_pairs",
      "Visually-duplicate image pairs via 56-bit dHash (real decode + " +
        "box downsample) and exact-recall banded Hamming join (d <= 6, " +
        "7 bands) over md5-noise trio images.",
      (s, d) => {
        val hashes = graft.operators.Multimodal.dhashImages(
          trioImageMedia(t(s, d, "documents")))
        graft.operators.Dedup.codeHammingPairs(
          hashes.toDF(), "doc_id", "dhash",
          bits = 56, maxHamming = 6, bandsCount = 7)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("int").as("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH hsh AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 56), i ->
              |      CASE WHEN ${dhashCellSql("i % 8", "i // 8")} >
              |          ${dhashCellSql("i % 8 + 1", "i // 8")}
              |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
              |        ELSE 0 END)) AS dh
              |  FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(bit_count(xor(a.dh, b.dh)) AS INTEGER) AS hamming
              |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.dh, b.dh)) <= 6
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // ECE: the one-number calibration summary, exact-integer until one
    // final division (n_b·|acc−conf| telescopes to |1e4·pos − Σs4|).
    GraftQuery(
      "qI0_ece",
      "Expected calibration error of value/500 as a purchase " +
        "probability over 10 equal-width bins — integer-exact " +
        "deviation sums, one final division.",
      (s, d) => Eval.ece(t(s, d, "events"),
        col("value") / 500, col("event_type") === "purchase", bins = 10),
      Some("""WITH s AS (
             |  SELECT value/500 AS p,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             |  FROM events
             |  WHERE value IS NOT NULL
             |    AND value/500 >= 0 AND value/500 <= 1),
             |b AS (
             |  SELECT least(9, CAST(floor(p*10) AS BIGINT)) AS bin,
             |    CAST(floor(p*10000 + 0.5) AS BIGINT) AS s4, y
             |  FROM s),
             |g AS (SELECT bin, count(*) AS nb, sum(y) AS pb,
             |    sum(s4) AS sb
             |  FROM b GROUP BY bin)
             |SELECT CAST(sum(nb) AS BIGINT) AS n,
             |  CAST(count(*) AS BIGINT) AS bins_used,
             |  floor(sum(abs(pb*10000 - sb)) / (sum(nb)*10000.0)
             |    * 1000000 + 0.5) / 1000000 AS ece
             |FROM g""".stripMargin)),

    // Sliced AUC: one statistic per day — the model-monitoring form
    // (is the quality score degrading on recent data?). Every window in
    // the reduction is partitioned by the slice, so slices parallelize;
    // undefined slices (no positives or no negatives) surface as null
    // rather than an error.
    GraftQuery(
      "qI1_auc_by_day",
      "Per-day ROC AUC of `value` vs purchase outcome (grouped " +
        "Mann-Whitney rank sums, group-partitioned block prefix sums, " +
        "null AUC for undefined slices).",
      (s, d) => Eval.binaryAucBy(
        t(s, d, "events"), to_date(col("ts")), col("value"),
        col("event_type") === "purchase")
        .orderBy("group"),
      Some("""WITH s AS (
             |  SELECT CAST(ts AS DATE) AS g, value AS sc,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             |  FROM events WHERE value IS NOT NULL),
             |r AS (
             |  SELECT g, y, rank() OVER (PARTITION BY g ORDER BY sc) +
             |    (count(*) OVER (PARTITION BY g, sc) - 1) / 2.0 AS ar
             |  FROM s),
             |a AS (
             |  SELECT g, sum(CASE WHEN y = 1 THEN ar ELSE 0 END) AS rpos,
             |    sum(y) AS np, count(*) AS n
             |  FROM r GROUP BY g)
             |SELECT g AS "group", CAST(np AS BIGINT) AS n_pos,
             |  CAST(n - np AS BIGINT) AS n_neg,
             |  CASE WHEN np > 0 AND n - np > 0 THEN
             |    floor((rpos - np * (np + 1) / 2.0) / (np * (n - np))
             |      * 1000000 + 0.5) / 1000000 END AS auc
             |FROM a ORDER BY "group"""".stripMargin)),

    // Near-duplicate audio detection end-to-end: md5-noise trio clips
    // (same linear-scaling fixture design as qH9 — base signal shared
    // by doc-id trios, variants bump every 9th sample by v·150), real
    // PCM decode + 57-frame energy envelope + 56-bit gradient
    // fingerprint under mapPartitions, pigeonhole banded Hamming join.
    GraftQuery(
      "qI2_audio_fp_pairs",
      "Near-duplicate audio pairs via the 56-bit frame-energy " +
        "fingerprint (real WAV decode, box frames, gradient bits) and " +
        "the exact-recall banded Hamming join (d <= 6, 7 bands).",
      (s, d) => {
        val fps = Multimodal.audioFingerprints(
          trioWavMedia(t(s, d, "documents")))
        graft.operators.Dedup.codeHammingPairs(
          fps.toDF(), "doc_id", "afp",
          bits = 56, maxHamming = 6, bandsCount = 7)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("int").as("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH fp AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 56), i ->
              |      CASE WHEN ${afpEnergySql("i")} > ${afpEnergySql("i+1")}
              |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
              |        ELSE 0 END)) AS f
              |  FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
              |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.f, b.f)) <= 6
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // qH9's declared scale path: the SAME trio-image dHash pipeline
    // with the hot-band cap ON (maxPosting=12 over 8-bit bands) — band
    // values hotter than the cap are screened out by the broadcast
    // anti-join before the self-join, so candidate volume per (band,
    // value) is bounded by maxPosting² at ANY corpus size instead of
    // growing with the birthday rate. The cap is deterministic, so the
    // oracle replays the identical exclusion (bands → over-cap list →
    // anti-join → band-equality join); recall degrades gracefully — a
    // pair is lost only when ALL of its agreeing bands are hot — and
    // the fixture's measured sf0.01 band occupancy (max 21, p99 15)
    // makes the cap FIRE here, so the green row checks the exclusion
    // logic itself, not a no-op.
    GraftQuery(
      "qP0_dhash_pairs_capped",
      "Visually-duplicate image pairs via 56-bit dHash and the CAPPED " +
        "banded Hamming join (d <= 6, 7 bands, maxPosting=12): " +
        "qH9's declared 100 TB form — hot-band screen bounds the " +
        "self-join at any scale.",
      (s, d) => {
        val hashes = graft.operators.Multimodal.dhashImages(
          trioImageMedia(t(s, d, "documents")))
        graft.operators.Dedup.codeHammingPairs(
          hashes.toDF(), "doc_id", "dhash",
          bits = 56, maxHamming = 6, bandsCount = 7, maxPosting = 12)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("int").as("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH hsh AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 56), i ->
              |      CASE WHEN ${dhashCellSql("i % 8", "i // 8")} >
              |          ${dhashCellSql("i % 8 + 1", "i // 8")}
              |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
              |        ELSE 0 END)) AS dh
              |  FROM documents),
              |bands AS (
              |  SELECT doc_id, dh, band_idx,
              |    (dh >> CAST(8*band_idx AS INTEGER)) & 255 AS band_val
              |  FROM hsh, (SELECT unnest(range(7)) AS band_idx)),
              |hot AS (SELECT band_idx, band_val FROM bands
              |  GROUP BY 1, 2 HAVING count(*) > 12),
              |kept AS (
              |  SELECT b.* FROM bands b
              |  LEFT JOIN hot h ON b.band_idx = h.band_idx
              |    AND b.band_val = h.band_val
              |  WHERE h.band_idx IS NULL),
              |pr AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    a.dh AS ha, b.dh AS hb
              |  FROM kept a JOIN kept b
              |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              |    AND a.doc_id < b.doc_id)
              |SELECT doc_a, doc_b,
              |  CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
              |FROM pr WHERE bit_count(xor(ha, hb)) <= 6
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // qI2's declared scale path via the OTHER knob: wider bands. Four
    // 14-bit bands instead of seven 8-bit ones (pigeonhole then allows
    // d <= 3) cut the random per-band collision rate 64x — measured
    // occupancy avg 2.0/max 7 at sf0.01 vs 4.1/21 for 8-bit bands —
    // and the maxPosting=5 guard (which DOES fire on the sf0.01
    // fixture's hottest values) bounds any residual skew. Candidate
    // volume stays near-linear in the corpus; the oracle replays band
    // decomposition, cap, and join exactly.
    GraftQuery(
      "qP1_audio_fp_pairs_wide",
      "Near-duplicate audio pairs via the 56-bit fingerprint and the " +
        "WIDE-band capped Hamming join (d <= 3, 4 x 14-bit bands, " +
        "maxPosting=5): qI2's declared 100 TB form.",
      (s, d) => {
        val fps = Multimodal.audioFingerprints(
          trioWavMedia(t(s, d, "documents")))
        graft.operators.Dedup.codeHammingPairs(
          fps.toDF(), "doc_id", "afp",
          bits = 56, maxHamming = 3, bandsCount = 4, maxPosting = 5)
          .select(col("doc_a"), col("doc_b"),
            col("hamming").cast("int").as("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH fp AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 56), i ->
              |      CASE WHEN ${afpEnergySql("i")} > ${afpEnergySql("i+1")}
              |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
              |        ELSE 0 END)) AS f
              |  FROM documents),
              |bands AS (
              |  SELECT doc_id, f, band_idx,
              |    (f >> CAST(14*band_idx AS INTEGER)) & 16383 AS band_val
              |  FROM fp, (SELECT unnest(range(4)) AS band_idx)),
              |hot AS (SELECT band_idx, band_val FROM bands
              |  GROUP BY 1, 2 HAVING count(*) > 5),
              |kept AS (
              |  SELECT b.* FROM bands b
              |  LEFT JOIN hot h ON b.band_idx = h.band_idx
              |    AND b.band_val = h.band_val
              |  WHERE h.band_idx IS NULL),
              |pr AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    a.f AS fa, b.f AS fb
              |  FROM kept a JOIN kept b
              |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              |    AND a.doc_id < b.doc_id)
              |SELECT doc_a, doc_b,
              |  CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
              |FROM pr WHERE bit_count(xor(fa, fb)) <= 3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // The arrival-time form of the media dedup — completes the
    // lifecycle the MinHash path has (q32 batch / q74 incremental /
    // q85 bloom): NEW images (the doc_id%3==1 trio variants) probe the
    // persisted band index of the rest of the corpus, capped with the
    // same hot-band screen as qP0. Each new doc reports its nearest
    // indexed neighbor (min hamming, min id) or no-dup. The oracle
    // replays index build, cap, probe, and argmin.
    GraftQuery(
      "qP3_dhash_screen",
      "Incremental visual-dup screen: new images (doc_id%3==1) probe " +
        "the capped persisted dHash band index of the corpus rest " +
        "(d <= 6, 7 bands, maxPosting=12) — nearest match or no-dup " +
        "per new doc.",
      (s, d) => {
        val media = trioImageMedia(t(s, d, "documents"))
        // fence: in production the band index is a PERSISTED table;
        // here it and the hot screen would otherwise re-run the decode
        // chain per consumer (the codeHammingPairs fence rationale)
        val hashes = graft.plans.Fence.corpus(
          graft.operators.Multimodal.dhashImages(media).toDF(),
          "dhash_index")
        val newSide = hashes.filter(pmod(col("doc_id"), lit(3L)) === 1)
        val oldSide = hashes.filter(pmod(col("doc_id"), lit(3L)) =!= 1)
        val index = graft.operators.Dedup.codeBandIndex(
          oldSide, "doc_id", "dhash", bits = 56, bandsCount = 7)
        graft.operators.Dedup.codeHammingScreen(
          newSide, "doc_id", "dhash", index,
          bits = 56, maxHamming = 6, bandsCount = 7, maxPosting = 12)
          .select(col("doc_id"), col("is_dup"), col("match_id"),
            col("hamming").cast("int").as("hamming"))
          .orderBy("doc_id")
      },
      Some(s"""WITH hsh AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 56), i ->
              |      CASE WHEN ${dhashCellSql("i % 8", "i // 8")} >
              |          ${dhashCellSql("i % 8 + 1", "i // 8")}
              |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
              |        ELSE 0 END)) AS dh
              |  FROM documents),
              |obands AS (
              |  SELECT doc_id, dh, band_idx,
              |    (dh >> CAST(8*band_idx AS INTEGER)) & 255 AS band_val
              |  FROM hsh, (SELECT unnest(range(7)) AS band_idx)
              |  WHERE doc_id % 3 != 1),
              |hot AS (SELECT band_idx, band_val FROM obands
              |  GROUP BY 1, 2 HAVING count(*) > 12),
              |okept AS (
              |  SELECT o.* FROM obands o
              |  LEFT JOIN hot h ON o.band_idx = h.band_idx
              |    AND o.band_val = h.band_val
              |  WHERE h.band_idx IS NULL),
              |nbands AS (
              |  SELECT doc_id, dh, band_idx,
              |    (dh >> CAST(8*band_idx AS INTEGER)) & 255 AS band_val
              |  FROM hsh, (SELECT unnest(range(7)) AS band_idx)
              |  WHERE doc_id % 3 = 1),
              |scored AS (
              |  SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid,
              |    bit_count(xor(n.dh, o.dh)) AS h
              |  FROM nbands n JOIN okept o
              |    ON n.band_idx = o.band_idx AND n.band_val = o.band_val
              |  WHERE bit_count(xor(n.dh, o.dh)) <= 6),
              |best AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (
              |      PARTITION BY nid ORDER BY h, oid) AS rn
              |    FROM scored) WHERE rn = 1)
              |SELECT n.doc_id,
              |  best.oid IS NOT NULL AS is_dup,
              |  best.oid AS match_id,
              |  CAST(best.h AS INTEGER) AS hamming
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 1) n
              |LEFT JOIN best ON n.doc_id = best.nid
              |ORDER BY n.doc_id""".stripMargin)),

    // Video frame-sampling: 4-frame P5 "videos" scanned frame-by-frame
    // (self-delimiting headers, the post-demux shape), every 2nd frame
    // kept and dHashed — the training-pipeline sampling step, one
    // mapPartitions pass, no shuffle. The oracle rebuilds each sampled
    // frame's hash closed-form from the generator (the qH9 discipline,
    // per frame). Frame hashes feed the same banded-Hamming machinery
    // as stills for near-dup VIDEO detection.
    GraftQuery(
      "qP4_video_frame_sample",
      "Frame-sample + dHash over multi-frame P5 video columns " +
        "(4 frames, every 2nd kept): self-delimiting frame scan under " +
        "mapPartitions, per-frame 56-bit perceptual hash.",
      (s, d) => {
        val media = videoMedia(t(s, d, "documents"), frames = 4)
        Multimodal.frameSampleDhash(media, everyK = 2).toDF()
          .select(col("doc_id"), col("frame_idx"), col("dhash"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(s"""WITH fr AS (SELECT unnest([0, 2]) AS f),
              |hsh AS (
              |  SELECT doc_id, f,
              |    list_sum(list_transform(range(0, 56), i ->
              |      CASE WHEN ${dhashCellVideoSql("i % 8", "i // 8", "f")} >
              |          ${dhashCellVideoSql("i % 8 + 1", "i // 8", "f")}
              |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
              |        ELSE 0 END)) AS dh
              |  FROM documents, fr)
              |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
              |  CAST(dh AS BIGINT) AS dhash
              |FROM hsh ORDER BY doc_id, frame_idx""".stripMargin)),

    // Video-level near-dup: clips sharing >= 2 sampled-frame hashes —
    // the same coincidental-single-hit screen as the winnowing text
    // pairs (qG5). Pure composition: frameSampleDhash feeds the
    // generic shared-signature inverted index
    // (Winnow.sharedFingerprintPairs, hot-key cap available), matching
    // on hash only (not frame position: shifted clips still match).
    // Fixture: trio videos share all frames except each doc's "own"
    // frame (frame doc%3 keyed per-doc; for the v0 member the own key
    // equals the base key, so v0 is the unmodified original). Of the
    // sampled frames {0, 2}: (v0,v1) share both, (v0,v2) and (v1,v2)
    // share one — so the >= 2 threshold keeps exactly the (v0,v1)
    // pairs and screens the single-hash ones, which the oracle
    // replays closed-form.
    GraftQuery(
      "qP5_video_neardup",
      "Near-duplicate video pairs sharing >= 2 sampled-frame dHashes " +
        "(hash-only inverted index, the winnowing pair machinery " +
        "reused) over trio videos with per-doc own frames.",
      (s, d) => {
        val media = videoMedia(t(s, d, "documents"), frames = 4,
          frameKey = f =>
            when(pmod(col("doc_id"), lit(3L)) === f, col("doc_id"))
              .otherwise(col("doc_id") - pmod(col("doc_id"), lit(3L))))
        val fps = Multimodal.frameSampleDhash(media, everyK = 2).toDF()
          .filter(col("dhash").isNotNull)
          .select(col("doc_id"), col("dhash").as("fp"))
        graft.operators.Winnow.sharedFingerprintPairs(fps)
          .filter(col("shared_fps") >= 2)
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val key = "CASE WHEN doc_id % 3 = f THEN doc_id " +
          "ELSE doc_id - doc_id % 3 END"
        s"""WITH fr AS (SELECT unnest([0, 2]) AS f),
           |hsh AS (
           |  SELECT doc_id, f,
           |    CAST(list_sum(list_transform(range(0, 56), i ->
           |      CASE WHEN ${dhashCellVideoSql("i % 8", "i // 8", "f",
                  key)} >
           |          ${dhashCellVideoSql("i % 8 + 1", "i // 8", "f",
                  key)}
           |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
           |        ELSE 0 END)) AS BIGINT) AS dh
           |  FROM documents, fr)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(count(*) AS BIGINT) AS shared_fps
           |FROM hsh a JOIN hsh b
           |  ON a.dh = b.dh AND a.doc_id < b.doc_id
           |GROUP BY 1, 2
           |HAVING count(*) >= 2
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // The media-corpus capstone — the image-side q86: decode gate →
    // CAPPED banded-Hamming pairs (the qP0 scale form) → HashMin
    // components → canonical keep-min disposition per doc. One
    // composite proving the media dedup lifecycle end-to-end with the
    // scale-path generator, oracle-replayed via the recursive-CTE
    // closure (the qH6/qF1 discipline).
    GraftQuery(
      "qP6_media_corpus_build",
      "Media corpus build: dHash decode gate -> capped banded pairs " +
        "(maxPosting=12) -> connected components -> per-doc " +
        "keep/drop disposition with cluster id.",
      (s, d) => {
        val media = trioImageMedia(t(s, d, "documents"))
        val hashes = graft.plans.Fence.corpus(
          graft.operators.Multimodal.dhashImages(media).toDF(),
          "dhash_corpus")
        val good = hashes
          .filter(col("decoded") && col("dhash").isNotNull)
        val pairs = graft.operators.Dedup.codeHammingPairs(
          good, "doc_id", "dhash",
          bits = 56, maxHamming = 6, bandsCount = 7, maxPosting = 12)
        val comp = graft.operators.Dedup.connectedComponents(
          pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
        good.join(comp, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster"))
          .withColumn("kept", col("cluster") === col("doc_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE hsh AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 56), i ->
              |      CASE WHEN ${dhashCellSql("i % 8", "i // 8")} >
              |          ${dhashCellSql("i % 8 + 1", "i // 8")}
              |        THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
              |        ELSE 0 END)) AS dh
              |  FROM documents),
              |bands AS (
              |  SELECT doc_id, dh, band_idx,
              |    (dh >> CAST(8*band_idx AS INTEGER)) & 255 AS band_val
              |  FROM hsh, (SELECT unnest(range(7)) AS band_idx)),
              |hot AS (SELECT band_idx, band_val FROM bands
              |  GROUP BY 1, 2 HAVING count(*) > 12),
              |kept_b AS (
              |  SELECT b.* FROM bands b
              |  LEFT JOIN hot h ON b.band_idx = h.band_idx
              |    AND b.band_val = h.band_val
              |  WHERE h.band_idx IS NULL),
              |pr AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM kept_b a JOIN kept_b b
              |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              |    AND a.doc_id < b.doc_id
              |  WHERE bit_count(xor(a.dh, b.dh)) <= 6),
              |e AS (SELECT doc_a AS a, doc_b AS b FROM pr
              |  UNION ALL SELECT doc_b, doc_a FROM pr),
              |reach(node, r) AS (
              |  SELECT a, a FROM e
              |  UNION
              |  SELECT e.a, r.r FROM e JOIN reach r ON e.b = r.node),
              |comp AS (SELECT node, min(r) AS cluster
              |  FROM reach GROUP BY node)
              |SELECT h.doc_id,
              |  coalesce(c.cluster, h.doc_id) AS cluster,
              |  coalesce(c.cluster, h.doc_id) = h.doc_id AS kept
              |FROM hsh h LEFT JOIN comp c ON h.doc_id = c.node
              |ORDER BY h.doc_id""".stripMargin)),

    // Image resize as a media→media transform: integer box downsample
    // to 9×7 (the same kernel the dHash path uses — one implementation,
    // no drift), re-encoded P5, then re-decoded for its header fields
    // and pixel mean. The 18×14→9×7 boxes are exactly 2×2 integer
    // means, so the oracle rebuilds every resized pixel closed-form
    // (dhashCellSql) and checks byte length + mean.
    GraftQuery(
      "qP7_image_resize",
      "Resize the trio images 18x14 -> 9x7 (integer box downsample, " +
        "P5 re-encode) and re-decode: byte length, dims, and resized " +
        "pixel mean checked closed-form.",
      (s, d) => {
        val media = trioImageMedia(t(s, d, "documents"))
        // fence: the 74-byte/row thumbnail table is what production
        // would persist; without it the synthesis+resize chain re-runs
        // for the decode leg and the n_bytes leg
        val resized = graft.plans.Fence.corpus(
          graft.operators.Multimodal.resizeGray(media, 9, 7),
          "thumb_table")
        val decoded = graft.operators.Multimodal.decodeImages(resized)
          .toDF()
        decoded.join(resized.select(col("doc_id"), col("n_bytes")),
            Seq("doc_id"))
          .select(col("doc_id"), col("n_bytes"),
            col("width").cast("long").as("out_w"),
            col("height").cast("long").as("out_h"),
            (floor(col("mean_r") * 10000.0 + 0.5) / 10000.0)
              .as("mean_pix"))
          .orderBy("doc_id")
      },
      Some(s"""WITH cellsum AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 63), i ->
              |      ${dhashCellSql("i % 9", "i // 9")})) AS cs
              |  FROM documents)
              |SELECT doc_id, CAST(74 AS BIGINT) AS n_bytes,
              |  CAST(9 AS BIGINT) AS out_w, CAST(7 AS BIGINT) AS out_h,
              |  floor(CAST(cs AS DOUBLE) / 63 * 10000.0 + 0.5) / 10000.0
              |    AS mean_pix
              |FROM cellsum ORDER BY doc_id""".stripMargin)),

    // Audio decimation — the audio twin of qP7's resize: keep every
    // 2nd PCM sample, halve the header rate, re-encode RIFF/WAVE, then
    // re-decode for header fields and amplitude stats. Every kept
    // sample is closed-form (the same generator the fingerprint oracle
    // replays), so the oracle checks the whole
    // decode→decimate→re-encode→decode round trip exactly.
    GraftQuery(
      "qP8_audio_decimate",
      "Decimate the trio WAVs by 2 (every 2nd sample, 8 kHz -> 4 kHz, " +
        "RIFF re-encode) and re-decode: header fields and " +
        "mean/RMS/peak over the kept samples, checked closed-form.",
      (s, d) => {
        val media = trioWavMedia(t(s, d, "documents"))
        val dec = graft.operators.Multimodal.decimatePcm(media, 2)
        graft.operators.Multimodal.decodeWavs(dec).toDF()
          .select(col("doc_id"),
            col("sample_rate"), col("n_frames"),
            (floor(col("mean_amp") * 10000.0 + 0.5) / 10000.0)
              .as("mean_amp"),
            (floor(col("rms") * 10000.0 + 0.5) / 10000.0).as("rms"),
            col("peak_abs"))
          .orderBy("doc_id")
      },
      Some(s"""WITH st AS (
              |  SELECT doc_id,
              |    list_sum(list_transform(range(0, 57), i ->
              |      CAST(${wavSampleSql("2*i")} AS DOUBLE))) AS sv,
              |    list_sum(list_transform(range(0, 57), i ->
              |      CAST(${wavSampleSql("2*i")} AS DOUBLE) *
              |      CAST(${wavSampleSql("2*i")} AS DOUBLE))) AS svv,
              |    list_max(list_transform(range(0, 57), i ->
              |      abs(${wavSampleSql("2*i")}))) AS pk
              |  FROM documents)
              |SELECT doc_id, CAST(4000 AS INTEGER) AS sample_rate,
              |  CAST(57 AS BIGINT) AS n_frames,
              |  floor(sv / 57 * 10000.0 + 0.5) / 10000.0 AS mean_amp,
              |  floor(sqrt(svv / 57) * 10000.0 + 0.5) / 10000.0 AS rms,
              |  CAST(pk AS INTEGER) AS peak_abs
              |FROM st ORDER BY doc_id""".stripMargin))) ++ tail

  /** Tail queries (qJ0+) — split into a second Seq only to keep the
    * primary literal under the compiler's method-size comfort zone.
    */
  private lazy val tail: Seq[GraftQuery] = Seq(

    // Exact two-sample KS over raw values — the bin-free drift alarm
    // beside qB2's PSI dashboard: engagement-event values vs
    // conversion-event values. The oracle replays the definition with
    // one global window; the operator's block-parallel cumulatives must
    // land on the identical step-function max.
    GraftQuery(
      "qJ0_ks_drift",
      "Two-sample Kolmogorov-Smirnov statistic between engagement " +
        "(click/view) and conversion (purchase/signup/error) value " +
        "distributions — exact, bin-free, block-parallel CDFs.",
      (s, d) => {
        val ev = t(s, d, "events")
        val isEng = col("event_type").isin("click", "view")
        graft.operators.Drift.ksStatistic(
          ev.filter(isEng), ev.filter(!isEng), col("value"))
      },
      Some("""WITH u AS (
             |  SELECT value AS v,
             |    CASE WHEN event_type IN ('click','view')
             |      THEN 1 ELSE 0 END AS ta,
             |    CASE WHEN event_type IN ('click','view')
             |      THEN 0 ELSE 1 END AS tb
             |  FROM events WHERE value IS NOT NULL),
             |g AS (SELECT v, sum(ta) AS ca, sum(tb) AS cb
             |  FROM u GROUP BY v),
             |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
             |c AS (SELECT v,
             |    sum(ca) OVER (ORDER BY v) AS cca,
             |    sum(cb) OVER (ORDER BY v) AS ccb
             |  FROM g)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  floor(max(abs(cca/CAST(na AS DOUBLE) -
             |    ccb/CAST(nb AS DOUBLE))) * 1000000 + 0.5) / 1000000
             |    AS ks
             |FROM c, t GROUP BY na, nb""".stripMargin)),

    // nDCG@10 of the LSH ANN run against the exact brute-force ranking
    // — qA7's recall eval upgraded to a graded, order-aware statistic
    // (recall can be perfect while the ordering is scrambled). Folds
    // are explicitly ordered on both sides (array_sort + sequential
    // aggregate vs list(... ORDER BY) + list_sum) so the log-bearing
    // doubles hash-match at 4 dp.
    GraftQuery(
      "qJ1_ann_ndcg",
      "Per-query nDCG@10 of 4-plane LSH ANN vs the exact cosine " +
        "ranking: linear graded relevance from the ideal rank, " +
        "log2-discounted, order-deterministic folds.",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val isQ = col("vid") % 100 === 0
        val ideal = graft.operators.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", isQ, 10)
        val test = graft.operators.Similarity.lshTopK(
          emb, "vec_id", "embedding", isQ, planes = 4, k = 10)
        Eval.ndcgAtK(ideal, test, 10).orderBy("q_id")
      },
      Some(s"""WITH $duckVecNorm,
              |q0 AS (SELECT * FROM n WHERE vec_id % 100 = 0),
              |bscored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
              |    list_sum(list_transform(range(1,65),
              |      i -> q.v[i]*c.v[i])) / (q.nrm*c.nrm) AS cosine
              |  FROM q0 q JOIN n c ON c.vec_id != q.vec_id),
              |brute AS (SELECT q_id, cand_id, rank FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cosine DESC, cand_id) AS rank FROM bscored)
              |  WHERE rank <= 10),
              |bk AS (SELECT vec_id, v, nrm,
              |  CAST(list_sum(list_transform(range(0,4), j ->
              |    CASE WHEN list_sum(list_transform(v, (x,i) ->
              |        x * (((2*j+3)*(i+16)) % 101 - 50))) > 0
              |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)
              |    AS bucket
              |  FROM n),
              |lq AS (SELECT * FROM bk WHERE vec_id % 100 = 0),
              |lscored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
              |    list_sum(list_transform(range(1,65),
              |      i -> q.v[i]*c.v[i])) / (q.nrm*c.nrm) AS cosine
              |  FROM lq q JOIN bk c
              |    ON c.bucket = q.bucket AND c.vec_id != q.vec_id),
              |lsh AS (SELECT q_id, cand_id, rank AS trank FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cosine DESC, cand_id) AS rank FROM lscored)
              |  WHERE rank <= 10),
              |h AS (
              |  SELECT l.q_id, l.trank,
              |    coalesce(11 - b.rank, 0) AS rel
              |  FROM lsh l LEFT JOIN brute b
              |    ON b.q_id = l.q_id AND b.cand_id = l.cand_id),
              |idcg AS (
              |  SELECT list_sum(list_transform(range(1, 11), d ->
              |    (11 - d) * ln(2) / ln(CAST(d + 1 AS DOUBLE)))) AS w),
              |g AS (
              |  SELECT q_id,
              |    CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_hits,
              |    list_sum(list(rel * ln(2) /
              |      ln(CAST(trank + 1 AS DOUBLE)) ORDER BY trank))
              |      AS dcg
              |  FROM h GROUP BY q_id)
              |SELECT q_id, n_hits,
              |  floor(dcg / (SELECT w FROM idcg) * 10000.0 + 0.5)
              |    / 10000.0 AS ndcg
              |FROM g ORDER BY q_id""".stripMargin)),

    // Rank-biased overlap between the same two runs — the label-free
    // companion to qJ1: compares the rankings directly, top-weighted
    // (p=0.9 ≈ the top ranks carry most of the weight). The oracle
    // recomputes the per-entry-depth weights with the same left-fold
    // power products (0.9::DOUBLE throughout — a bare 0.9 is DECIMAL in
    // the oracle engine and would arithmetic differently).
    GraftQuery(
      "qJ2_rbo",
      "Per-query rank-biased overlap (p=0.9, depth 10) between the " +
        "LSH ANN ranking and the exact cosine ranking — label-free " +
        "top-weighted ranking agreement.",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val isQ = col("vid") % 100 === 0
        val ideal = graft.operators.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", isQ, 10)
        val test = graft.operators.Similarity.lshTopK(
          emb, "vec_id", "embedding", isQ, planes = 4, k = 10)
        Eval.rbo(test, ideal, k = 10, p = 0.9).orderBy("q_id")
      },
      Some(s"""WITH $duckVecNorm,
              |q0 AS (SELECT * FROM n WHERE vec_id % 100 = 0),
              |bscored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
              |    list_sum(list_transform(range(1,65),
              |      i -> q.v[i]*c.v[i])) / (q.nrm*c.nrm) AS cosine
              |  FROM q0 q JOIN n c ON c.vec_id != q.vec_id),
              |brute AS (SELECT q_id, cand_id, rank FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cosine DESC, cand_id) AS rank FROM bscored)
              |  WHERE rank <= 10),
              |bk AS (SELECT vec_id, v, nrm,
              |  CAST(list_sum(list_transform(range(0,4), j ->
              |    CASE WHEN list_sum(list_transform(v, (x,i) ->
              |        x * (((2*j+3)*(i+16)) % 101 - 50))) > 0
              |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)
              |    AS bucket
              |  FROM n),
              |lq AS (SELECT * FROM bk WHERE vec_id % 100 = 0),
              |lscored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
              |    list_sum(list_transform(range(1,65),
              |      i -> q.v[i]*c.v[i])) / (q.nrm*c.nrm) AS cosine
              |  FROM lq q JOIN bk c
              |    ON c.bucket = q.bucket AND c.vec_id != q.vec_id),
              |lsh AS (SELECT q_id, cand_id, rank FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cosine DESC, cand_id) AS rank FROM lscored)
              |  WHERE rank <= 10),
              |sh AS (
              |  SELECT l.q_id, greatest(l.rank, b.rank) AS m
              |  FROM lsh l JOIN brute b
              |    ON b.q_id = l.q_id AND b.cand_id = l.cand_id),
              |cm AS (SELECT q_id, m, count(*) AS cnt
              |  FROM sh GROUP BY q_id, m),
              |wm AS (
              |  SELECT q_id, m, cnt,
              |    cnt * list_sum(list_transform(range(m, 11), d ->
              |      coalesce(list_product(list_transform(range(1, d),
              |        x -> 0.9::DOUBLE)), 1.0::DOUBLE) / d)) AS term
              |  FROM cm),
              |g AS (
              |  SELECT q_id, CAST(sum(cnt) AS BIGINT) AS n_shared,
              |    list_sum(list(term ORDER BY m)) AS s
              |  FROM wm GROUP BY q_id)
              |SELECT q_id, n_shared,
              |  floor(s * (1 - 0.9::DOUBLE) * 10000.0 + 0.5) / 10000.0
              |    AS rbo
              |FROM g ORDER BY q_id""".stripMargin)),

    // l-diversity release screen: nation×segment quasi-groups must
    // carry >= 3 distinct balance bands — the homogeneity-attack
    // check k-anonymity (qG0) misses.
    GraftQuery(
      "qJ3_l_diversity",
      "l-diversity screen over customer (quasi: nation x segment; " +
        "sensitive: 1000-unit balance band; l=3) — group sizes, " +
        "distinct sensitive counts, release flags.",
      (s, d) => graft.operators.Privacy.lDiversity(
        t(s, d, "customer"),
        Seq("c_nationkey" -> col("c_nationkey"),
          "c_mktsegment" -> col("c_mktsegment")),
        floor(col("c_acctbal") / 1000), l = 3)
        .orderBy("c_nationkey", "c_mktsegment"),
      Some("""SELECT c_nationkey, c_mktsegment,
             |  count(*) AS n,
             |  CAST(count(DISTINCT floor(c_acctbal/1000)) AS BIGINT)
             |    AS n_sensitive,
             |  count(DISTINCT floor(c_acctbal/1000)) >= 3 AS diverse
             |FROM customer GROUP BY c_nationkey, c_mktsegment
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // Welch's t-test between purchase and view values — the A/B
    // primitive: each side reduces to three integer-exact sums, every
    // derived double is one fixed expression tree.
    GraftQuery(
      "qJ4_welch_ttest",
      "Welch unequal-variance t statistic (purchase vs view values): " +
        "counts, means, t, and Welch-Satterthwaite df from " +
        "integer-cents sums.",
      (s, d) => {
        val ev = t(s, d, "events")
        graft.operators.Robust.welchTTest(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"), col("value"))
      },
      Some("""WITH ca AS (
             |  SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS c
             |  FROM events
             |  WHERE event_type = 'purchase' AND value IS NOT NULL),
             |cb AS (
             |  SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS c
             |  FROM events
             |  WHERE event_type = 'view' AND value IS NOT NULL),
             |sa AS (SELECT CAST(count(*) AS DOUBLE) AS na,
             |  CAST(sum(c) AS DOUBLE) AS sa_,
             |  CAST(sum(c*c) AS DOUBLE) AS qa FROM ca),
             |sb AS (SELECT CAST(count(*) AS DOUBLE) AS nb,
             |  CAST(sum(c) AS DOUBLE) AS sb_,
             |  CAST(sum(c*c) AS DOUBLE) AS qb FROM cb),
             |m AS (
             |  SELECT na, nb, sa_/na AS ma, sb_/nb AS mb,
             |    (qa - sa_*sa_/na) / (na - 1) / na AS sea,
             |    (qb - sb_*sb_/nb) / (nb - 1) / nb AS seb
             |  FROM sa, sb)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  floor(ma/100.0 * 10000.0 + 0.5) / 10000.0 AS mean_a,
             |  floor(mb/100.0 * 10000.0 + 0.5) / 10000.0 AS mean_b,
             |  floor((ma - mb)/sqrt(sea + seb) * 10000.0 + 0.5)
             |    / 10000.0 AS t_stat,
             |  floor((sea + seb)*(sea + seb) /
             |    (sea*sea/(na - 1) + seb*seb/(nb - 1)) * 100.0 + 0.5)
             |    / 100.0 AS df_welch
             |FROM m""".stripMargin)),

    // CUSUM changepoint chart over the daily value mean — the
    // sequential-looking recurrence telescoped to two running windows
    // over the |days| frame.
    GraftQuery(
      "qJ5_cusum",
      "One-sided CUSUM over daily mean event value (target 49.00, " +
        "slack 0.50, h 15.00): per-day statistic and alarm flags via " +
        "the P_t - min P_i telescoping.",
      (s, d) => graft.operators.Timeseries.cusumDaily(
        t(s, d, "events"), "ts", col("value"),
        targetCents = 4900L, slackCents = 50L, hCents = 1500L)
        .orderBy("day"),
      Some("""WITH dly AS (
             |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
             |    sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS sc
             |  FROM events WHERE value IS NOT NULL
             |  GROUP BY 1),
             |p AS (
             |  SELECT day, n, sc,
             |    sum(sc/CAST(n AS DOUBLE) - CAST(4900 AS DOUBLE)
             |      - CAST(50 AS DOUBLE)) OVER (ORDER BY day) AS pp
             |  FROM dly),
             |s AS (
             |  SELECT day, n, sc, pp,
             |    pp - least(min(pp) OVER (ORDER BY day),
             |      CAST(0 AS DOUBLE)) AS ss
             |  FROM p)
             |SELECT day, n,
             |  floor(sc/CAST(n AS DOUBLE)/100.0 * 10000.0 + 0.5)
             |    / 10000.0 AS xbar,
             |  floor(ss/100.0 * 10000.0 + 0.5) / 10000.0 AS s_pos,
             |  ss > CAST(1500 AS DOUBLE) AS alarm
             |FROM s ORDER BY day""".stripMargin)),

    // MMR diversified re-rank over the ANN candidates: the RAG stage
    // between retrieval and the context window. The greedy argmax
    // chain is per-query flatMapGroups (tier-(d), justified: k
    // dependent steps have no join/window decomposition) over the
    // bounded top-10 pool; the oracle replays each step with an
    // unrolled CTE chain generated from the same loop. Scores compare
    // as identical doubles (kernel-parity rel, ascending dot folds,
    // literal 0.7/0.3), so both engines pick the same docs.
    GraftQuery(
      "qJ6_mmr_rerank",
      "MMR diversified top-5 from each query's brute top-10 " +
        "(lambda=0.7, mu=0.3): greedy relevance-vs-redundancy " +
        "selection, min-id tie-breaks, unrolled-step oracle.",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val isQ = col("vid") % 100 === 0
        val cands = graft.operators.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", isQ, 10)
          .select(col("q_id"), col("cand_id"), col("cosine").as("rel"))
          .join(emb.select(col("vec_id").as("cand_id"),
            col("embedding").as("v")), "cand_id")
        graft.operators.Fusion.mmrSelect(cands, k = 5,
          lambda = 0.7, mu = 0.3)
          .orderBy("q_id", "step")
      },
      Some(s"""WITH $duckVecNorm,
              |q0 AS (SELECT * FROM n WHERE vec_id % 100 = 0),
              |bscored AS (
              |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
              |    list_sum(list_transform(range(1,65),
              |      i -> q.v[i]*c.v[i])) / (q.nrm*c.nrm) AS cosine
              |  FROM q0 q JOIN n c ON c.vec_id != q.vec_id),
              |cand AS (SELECT q_id, cand_id, cosine AS rel FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cosine DESC, cand_id) AS rank FROM bscored)
              |  WHERE rank <= 10),
              |${mmrOracleSteps(5)}
              |SELECT q_id, step, cand_id FROM u5
              |ORDER BY q_id, step""".stripMargin)),

    // Zone-map round trip as a declared query: write orders
    // date-clustered (range partition + in-file sort — the layout the
    // maintenance operators produce), collect per-file zones, and
    // answer a date-range query THROUGH the pruned read. The oracle is
    // a plain filter — correctness is independent of how many files
    // were skipped (zones are necessary-not-sufficient + residual
    // predicate); the LayoutSpec contrast pins that skipping happens.
    GraftQuery(
      "qK0_zonemap_read",
      "Date-range revenue query answered through zone-map file " +
        "skipping over a clustered rewrite of orders — pruned read " +
        "equals the plain filter row-for-row.",
      (s, d) => {
        val out = s"target/zones_demo/${math.abs(d.hashCode)}"
        t(s, d, "orders")
          .repartitionByRange(16, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode("overwrite").parquet(out)
        val zones = graft.plans.Fence.bounded(
          graft.operators.Layout.collectZones(s, out, Seq("o_orderdate")))
        val (df, _, _) = graft.operators.Layout.readPruned(
          s, zones, "o_orderdate",
          lit("1996-01-01").cast("timestamp"),
          lit("1996-06-30").cast("timestamp"))
        df.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate <= TIMESTAMP '1996-06-30'
             |ORDER BY o_orderkey""".stripMargin)),

    // Token-budget context assembly on top of qD3's chunk-BM25 chain:
    // per query, keep the rank-order prefix of top-10 chunks fitting a
    // 64-token budget — the last RAG stage before the prompt.
    GraftQuery(
      "qK1_context_pack",
      "Context packing: per-query top-10 BM25 chunks cut to the rank " +
        "prefix whose cumulative token count fits 64 tokens " +
        "(truncate-at-overflow semantics).",
      (s, d) => {
        val window = 32
        val stride = 16
        import graft.functions.TextOps
        import graft.operators.Bm25
        // id-keyed floor below the chunking + BM25 tf pipeline: the
        // single-split scan otherwise tokenizes, slices and scores on
        // one core (0.42 + 0.54 s one-task jobs in the round-19
        // profile; guide §2.5 — no-op at cluster scale). Fenced: the
        // chunk table is read three times (BM25 stats pass, scoring
        // pass, the n_toks attach) and each leg otherwise re-runs the
        // tokenize+slice chain over the corpus (guide §2.4).
        val chunks = graft.plans.Fence.corpus(
          graft.plans.Parallel.cpuFloor(
              t(s, d, "documents").select(col("doc_id"), col("text")),
              "doc_id")
            .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
            .withColumn("start", explode(sequence(lit(0),
              greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
            .select(
              (col("doc_id") * 1000 + (col("start") / stride).cast("long"))
                .as("cid"),
              array_join(slice(col("toks"), col("start") + 1, lit(window)),
                " ").as("chunk_text"),
              size(slice(col("toks"), col("start") + 1, lit(window)))
                .cast("long").as("n_toks")),
          "qk1_chunks")
        val ranked = Bm25.topK(chunks, "cid", "chunk_text",
          Seq(
            "q_sparkjoin" -> Seq("spark", "join"),
            "q_window" -> Seq("window", "sort", "stream"),
            "q_scan" -> Seq("scan", "hash")),
          k = 10)
          .join(chunks.select(col("cid").as("doc_id"), col("n_toks")),
            "doc_id")
          .select(col("query"), col("rank"), col("doc_id"),
            col("n_toks").as("tokens"))
        graft.operators.Fusion.packContext(ranked, budget = 64)
          .select(col("query"), col("rank"),
            (col("doc_id") / 1000).cast("long").as("src_doc"),
            pmod(col("doc_id"), lit(1000)).as("chunk_idx"),
            col("tokens"), col("cum_tokens"))
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
             |  FROM r),
             |topk AS (SELECT query, cid, rank FROM ranked
             |  WHERE rank <= 10),
             |wt AS (SELECT t.query, t.rank, t.cid,
             |    CAST(d.dl AS BIGINT) AS tokens
             |  FROM topk t JOIN dd d ON d.cid = t.cid),
             |cum AS (SELECT query, rank, cid, tokens,
             |    sum(tokens) OVER (PARTITION BY query ORDER BY rank
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum_tokens
             |  FROM wt)
             |SELECT query, CAST(rank AS BIGINT) AS rank,
             |  cid // 1000 AS src_doc, cid % 1000 AS chunk_idx,
             |  tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
             |FROM cum WHERE cum_tokens <= 64
             |ORDER BY query, rank""".stripMargin)),

    // Dataset card: the one-stop (metric, value) summary a release
    // ships with — corpus volume, token mass, source diversity, exact
    // duplication rate, length profile — each metric one bounded
    // aggregate over the corpus, unioned into a long-format report.
    GraftQuery(
      "qK2_dataset_card",
      "Long-format dataset card over documents: doc/source counts, " +
        "token and char mass, exact-dup rate, short-doc share — six " +
        "release-readme metrics in one frame.",
      (s, d) => {
        import graft.functions.TextOps
        val docs = t(s, d, "documents")
        def r6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
        val base = docs.select(col("doc_id"), col("source"),
          col("n_chars"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"),
          md5(col("text")).as("h"))
        val agg = base.agg(
          count(lit(1)).cast("double").as("n_docs"),
          countDistinct("source").cast("double").as("n_sources"),
          sum("n_toks").cast("double").as("total_tokens"),
          sum("n_chars").cast("double").as("total_chars"),
          countDistinct("h").cast("double").as("n_distinct"),
          sum(when(col("n_chars") < 50, 1L).otherwise(0L))
            .cast("double").as("n_short"))
        def m(name: String, v: Column) =
          struct(lit(name).as("metric"), v.cast("double").as("value"))
        agg.select(
          array(
            m("n_docs", col("n_docs")),
            m("n_sources", col("n_sources")),
            m("total_tokens", col("total_tokens")),
            m("total_chars", col("total_chars")),
            m("exact_dup_rate",
              r6((col("n_docs") - col("n_distinct")) / col("n_docs"))),
            m("short_doc_share",
              r6(col("n_short") / col("n_docs")))).as("m"))
          .select(explode(col("m")).as("kv"))
          .select(col("kv.metric").as("metric"),
            col("kv.value").as("value"))
          .orderBy("metric")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, source, n_chars,
             |    len(string_split(text, ' ')) AS n_toks,
             |    md5(text) AS h
             |  FROM documents),
             |a AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             |    CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
             |    CAST(sum(n_toks) AS DOUBLE) AS total_tokens,
             |    CAST(sum(n_chars) AS DOUBLE) AS total_chars,
             |    CAST(count(DISTINCT h) AS DOUBLE) AS n_distinct,
             |    CAST(sum(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END)
             |      AS DOUBLE) AS n_short
             |  FROM b)
             |SELECT metric, value FROM (
             |  SELECT 'n_docs' AS metric, n_docs AS value FROM a
             |  UNION ALL SELECT 'n_sources', n_sources FROM a
             |  UNION ALL SELECT 'total_tokens', total_tokens FROM a
             |  UNION ALL SELECT 'total_chars', total_chars FROM a
             |  UNION ALL SELECT 'exact_dup_rate',
             |    floor((n_docs - n_distinct) / n_docs * 1000000 + 0.5)
             |      / 1000000 FROM a
             |  UNION ALL SELECT 'short_doc_share',
             |    floor(n_short / n_docs * 1000000 + 0.5) / 1000000
             |    FROM a)
             |ORDER BY metric""".stripMargin)),

    // Deterministic error bars: hash-bucket jackknife SE + 95% CI for
    // the mean event value — reproducible across engines because the
    // "resampling" is a salted hash, not an RNG, and the two B-term
    // folds run bucket-sorted on both sides.
    GraftQuery(
      "qK3_jackknife_ci",
      "Hash-bucket (B=50) jackknife standard error and 95% CI for " +
        "mean event value — deterministic grouped jackknife, exact " +
        "integer leave-one-out sums.",
      (s, d) => graft.operators.Robust.bucketJackknife(
        t(s, d, "events"), col("event_id"), col("value"), buckets = 50),
      Some("""WITH rows_ AS (
             |  SELECT ('0x' || substr(md5('jk:' ||
             |      CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 50
             |      AS b,
             |    CAST(floor(value*100 + 0.5) AS BIGINT) AS c
             |  FROM events WHERE value IS NOT NULL),
             |g AS (SELECT b, count(*) AS nb, sum(c) AS sb
             |  FROM rows_ GROUP BY b),
             |t AS (SELECT sum(nb) AS n, sum(sb) AS s,
             |    count(*) AS bn FROM g),
             |loo AS (
             |  SELECT g.b,
             |    CAST(t.s - g.sb AS DOUBLE) /
             |      CAST(t.n - g.nb AS DOUBLE) AS loo
             |  FROM g, t),
             |lm AS (
             |  SELECT list_sum(list(loo ORDER BY b)) /
             |    (SELECT bn FROM t) AS loomean
             |  FROM loo),
             |se AS (
             |  SELECT sqrt(list_sum(list(
             |      (loo - lm.loomean) * (loo - lm.loomean) ORDER BY b))
             |    * ((SELECT bn FROM t) - 1.0) / (SELECT bn FROM t))
             |    AS se
             |  FROM loo, lm GROUP BY lm.loomean)
             |SELECT CAST(t.n AS BIGINT) AS n,
             |  floor(CAST(t.s AS DOUBLE)/t.n/100.0 * 10000.0 + 0.5)
             |    / 10000.0 AS mean,
             |  floor(se.se/100.0 * 1000000 + 0.5) / 1000000 AS se_jack,
             |  floor((CAST(t.s AS DOUBLE)/t.n - 1.96*se.se)/100.0
             |    * 10000.0 + 0.5) / 10000.0 AS ci_lo,
             |  floor((CAST(t.s AS DOUBLE)/t.n + 1.96*se.se)/100.0
             |    * 10000.0 + 0.5) / 10000.0 AS ci_hi
             |FROM t, se""".stripMargin)),

    // Clustering-quality eval: simplified (centroid-based) silhouette
    // over the IVF seed cells — the label-free "are these clusters
    // real?" number beside the k-means training itself. O(n·k)
    // distances vs the broadcast codebook; the full-pairwise
    // silhouette is the documented O(n²) non-starter at scale.
    GraftQuery(
      "qK4_silhouette",
      "Per-cluster simplified silhouette over the every-73rd-id seed " +
        "cells: s = (b-a)/max(a,b) against own vs nearest-other " +
        "centroid, clamped sqrt, per-cell means.",
      (s, d) => graft.operators.Similarity.simplifiedSilhouette(
        t(s, d, "embeddings"), "vec_id", "embedding",
        centroidEvery = graft.operators.Similarity.adaptiveEvery(
          graft.Tables.rowCount(s, d, "embeddings")))
        .orderBy("cell"),
      Some(s"""WITH $duckVecNorm,
              |ce AS (SELECT greatest(73, CAST(ceil(count(*) / 512.0)
              |    AS BIGINT)) AS e FROM embeddings),
              |c AS (SELECT vec_id AS cid, v AS cv, nrm*nrm AS cn2
              |  FROM n WHERE vec_id % (SELECT e FROM ce) = 0),
              |a0 AS (
              |  SELECT n.vec_id, c.cid,
              |    (n.nrm*n.nrm - 2*list_sum(list_transform(range(1,65),
              |      i -> n.v[i]*c.cv[i])) + c.cn2) AS d2
              |  FROM n, c),
              |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
              |    ORDER BY d2, cid) AS rn FROM a0),
              |p AS (
              |  SELECT vec_id,
              |    min(CASE WHEN rn = 1 THEN cid END) AS cell,
              |    min(CASE WHEN rn = 1 THEN d2 END) AS da2,
              |    min(CASE WHEN rn = 2 THEN d2 END) AS db2
              |  FROM r WHERE rn <= 2 GROUP BY vec_id),
              |sl AS (
              |  SELECT cell,
              |    CASE WHEN greatest(sqrt(greatest(da2, 0.0)),
              |        sqrt(greatest(db2, 0.0))) = 0 THEN 0.0
              |      ELSE (sqrt(greatest(db2, 0.0)) -
              |          sqrt(greatest(da2, 0.0))) /
              |        greatest(sqrt(greatest(da2, 0.0)),
              |          sqrt(greatest(db2, 0.0))) END AS sil
              |  FROM p)
              |SELECT cell, CAST(count(*) AS BIGINT) AS n,
              |  floor(avg(sil) * 10000.0 + 0.5) / 10000.0 AS mean_sil
              |FROM sl GROUP BY cell ORDER BY cell""".stripMargin)))

  /** qJ6's unrolled greedy-step CTEs, generated from the same loop
    * bounds as the operator (k steps; λ=0.7, μ=0.3 as literals on both
    * sides — never derived 1−λ).
    */
  private def mmrOracleSteps(k: Int): String = {
    val sim = "list_sum(list_transform(range(1,65), " +
      "t -> vr.v[t]*vs.v[t])) / (vr.nrm*vs.nrm)"
    val sb = new StringBuilder
    sb.append(
      """sel1 AS (SELECT q_id, cand_id FROM (
        |  SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY 0.7::DOUBLE * rel DESC, cand_id) AS r FROM cand)
        |  WHERE r = 1),
        |u1 AS (SELECT q_id, 1 AS step, cand_id FROM sel1)""".stripMargin)
    for (i <- 2 to k) {
      sb.append(s""",
        |ms$i AS (
        |  SELECT c.q_id, c.cand_id, c.rel, max($sim) AS msim
        |  FROM cand c
        |  JOIN u${i - 1} s ON s.q_id = c.q_id
        |  JOIN n vr ON vr.vec_id = c.cand_id
        |  JOIN n vs ON vs.vec_id = s.cand_id
        |  WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} x
        |    WHERE x.q_id = c.q_id AND x.cand_id = c.cand_id)
        |  GROUP BY c.q_id, c.cand_id, c.rel),
        |sel$i AS (SELECT q_id, cand_id FROM (
        |  SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY 0.7::DOUBLE * rel - 0.3::DOUBLE * msim DESC,
        |      cand_id) AS r FROM ms$i)
        |  WHERE r = 1),
        |u$i AS (SELECT * FROM u${i - 1}
        |  UNION ALL SELECT q_id, $i AS step, cand_id FROM sel$i)"""
        .stripMargin)
    }
    sb.toString
  }

  /** qI2 oracle frame energy, generated from the same constants as the
    * Spark-side sample synthesizer (integer v² sums, no FP).
    */
  /** Closed-form PCM sample j of the trio WAV fixture — sample noise =
    * hex triple (j mod 10) of md5(base:(j div 10)), the grouped-digest
    * scheme the Spark side hoists into an array; shared by the frame
    * energies (qI2) and the decimation oracle (qP8).
    */
  private def wavSampleSql(jE: String): String =
    s"((('0x' || substr(md5(CAST(doc_id - doc_id%3 AS VARCHAR) || " +
      s"':' || CAST(($jE) // 10 AS VARCHAR)), 3*(($jE) % 10)+1, 3))" +
      s"::BIGINT) % 4001 - 2000 + " +
      s"CASE WHEN ($jE) % 9 = 0 THEN (doc_id%3)*150 ELSE 0 END)"

  private def afpEnergySql(tE: String): String = {
    val v0 = wavSampleSql(s"2*($tE)")
    val v1 = wavSampleSql(s"2*($tE)+1")
    s"(($v0)*($v0) + ($v1)*($v1))"
  }

  /** dHash oracle cell: the 9×7 box-mean over the synthesized 18×14
    * grid is exactly a 2×2 integer-mean block — generated here so the
    * SQL cannot drift from the Spark-side generator/decoder pair.
    */
  private def dhashCellSql(txE: String, tyE: String): String = {
    // pixel noise = hex pair (x mod 16) of md5(base:y:(x div 16)) —
    // the row-half digest scheme the Spark side hoists into an array
    def pix(xE: String, yE: String): String =
      s"((('0x' || substr(md5(CAST(doc_id - doc_id%3 AS VARCHAR) || " +
        s"':' || CAST($yE AS VARCHAR) || ':' || " +
        s"CAST(($xE) // 16 AS VARCHAR)), 2*(($xE) % 16)+1, 2))::BIGINT + " +
        s"CASE WHEN (($xE)*31 + ($yE)*17) % 19 = 0 " +
        s"THEN (doc_id%3)*24 ELSE 0 END) % 256)"
    val tx = s"($txE)"
    val ty = s"($tyE)"
    s"((${pix(s"2*$tx", s"2*$ty")} + ${pix(s"2*$tx+1", s"2*$ty")} + " +
      s"${pix(s"2*$tx", s"2*$ty+1")} + ${pix(s"2*$tx+1", s"2*$ty+1")}) // 4)"
  }

  /** qH8's oracle, split out for readability (lazy: defined textually
    * after `all`, which references it during object init).
    */
  private lazy val prCurveOracleBody: Option[String] =
    Some("""WITH s AS (
           |  SELECT floor(value) AS t,
           |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           |  FROM events WHERE value IS NOT NULL),
           |g AS (SELECT t, count(*) AS c, sum(y) AS p
           |  FROM s GROUP BY t),
           |tot AS (SELECT sum(c) AS n, sum(p) AS np FROM g),
           |cum AS (
           |  SELECT t, c, p,
           |    coalesce(sum(c) OVER (ORDER BY t
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cb,
           |    coalesce(sum(p) OVER (ORDER BY t
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS pb
           |  FROM g)
           |SELECT CAST(t AS DOUBLE) AS threshold,
           |  CAST(n - cb AS BIGINT) AS n_ge,
           |  CAST(np - pb AS BIGINT) AS tp,
           |  CAST(n - cb - np + pb AS BIGINT) AS fp,
           |  CAST(pb AS BIGINT) AS fn,
           |  floor((np - pb) / CAST(n - cb AS DOUBLE) * 1000000 + 0.5)
           |    / 1000000 AS "precision",
           |  floor((np - pb) / CAST(np AS DOUBLE) * 1000000 + 0.5)
           |    / 1000000 AS recall,
           |  floor(2*(np - pb) / CAST(2*(np - pb) + (n - cb - np + pb)
           |      + pb AS DOUBLE) * 1000000 + 0.5) / 1000000 AS f1
           |FROM cum, tot ORDER BY threshold""".stripMargin)

}
