package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  Trigger}
import org.apache.spark.sql.types.StructType

import graft.plans.Fence

/** Structured Streaming ingestion — the clean extension SURVEY.md §2.9
  * identifies: the reference's "stream" is daily batch partitions appended
  * by the upstream parser (/root/reference/schema/README.md:6-9), so the
  * same view chain becomes streaming by swapping `read` for `readStream`:
  * file-arrival source → dedup by test id under a watermark → windowed
  * aggregation / append to the date-partitioned table.
  *
  * All transforms here are also valid on batch DataFrames (Structured
  * Streaming's unified-API contract), which is how the specs assert
  * semantics without a long-running query — with ONE exception:
  * [[dedupByIdWithWatermark]] uses `dropDuplicatesWithinWatermark`,
  * which Spark defines for streaming Datasets only (its state-expiry
  * semantics have no batch meaning), so that transform throws on a
  * batch frame; its spec drives it through a real stream.
  */
object Ingest {

  /** Starts every stream of this object: `sink` configures the writer,
    * then the checkpoint location and `trigger` are set and the query
    * starts. One start path, so no stream can bypass the checkpoint
    * manager choice below (an InfraSpec guard fails on any other
    * `writeStream` in `src/main`).
    *
    * Before `start()`, [[SchemeCheckpointFileManager.install]] makes
    * [[SchemeCheckpointFileManager]] the session's checkpoint manager,
    * unless the session already names a manager of its own, which is
    * kept. Checkpoints on the `file` scheme are then written through
    * the Hadoop FileSystem API; any other scheme keeps Spark's default
    * `FileContext` manager, so HDFS behaviour is unchanged. The setting
    * stays on the session: the source log is created later, on the
    * stream thread, in a clone of the session, so setting it only
    * around `start()` would race with that clone. A later stream of
    * the same session with a `file` checkpoint, started here or not,
    * is therefore written through the FileSystem API as well: Spark's
    * own `FileSystemBasedCheckpointFileManager`, with the same files
    * and the same write-then-rename protocol.
    *
    * The cause. Spark's default manager promotes each metadata file by
    * `FileContext.rename`; on local disk that runs through `ChecksumFs`
    * to `RawLocalFileSystem.getFileLinkStatus`, and without the native
    * Hadoop library every link check forks a `readlink` process
    * (`FileUtil.readLink` → `Shell.execCommand`). One metadata file
    * cost 8 forks; a micro-batch writes 4 (source log, offset log, the
    * file sink's `_spark_metadata` log, commit log), so 32 forks a
    * batch. A JFR `jdk.ProcessStart` recording of one `daily_ingest`
    * round (30 append batches, 3 screen batches) counted 1,048
    * `readlink` forks, all from `renameTempFile`; the FileSystem-based
    * manager renames with `File.renameTo`, and the same round forked
    * none. The timings are in ROADMAP.md.
    */
  private def startStream(df: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row])
      : StreamingQuery = {
    SchemeCheckpointFileManager.install(df.sparkSession)
    sink(df.writeStream)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** File-arrival stream over a directory of parquet drops. */
  def streamTable(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(schema)
    // rate limit ⇒ micro-batch granularity (honored by AvailableNow);
    // 0 = everything available in one batch
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r
    r2.parquet(dir)
  }

  /** At-least-once → effectively-once: drop duplicate test ids within the
    * watermark horizon (the reference relies on the parser's daily
    * idempotence; here it is explicit state).
    *
    * dropDuplicatesWithinWatermark, NOT dropDuplicates: with the
    * event-time column absent from the dedup keys, plain
    * dropDuplicates keeps one state entry per distinct id FOREVER —
    * the watermark bounds nothing, a long-running ingest stream fills
    * the state store, and the semantics silently become
    * "dedup across all history" instead of the documented horizon
    * (review find; the batch-mode spec could never catch it because
    * batch execution ignores watermarks). Streaming-only by contract —
    * the WithinWatermark operator has no batch counterpart. */
  def dedupByIdWithWatermark(df: DataFrame, idCol: String, tsCol: String,
      watermark: String = "1 day"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(idCol))

  /** Tumbling-window counts per key — the streaming analog of the
    * reference's hourly rollups
    * (views/website/entry07_platform_hourly_downloads_after.sql:76).
    */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
      window: String = "1 hour", watermark: Option[String] = None,
      valueCol: String = "value"): DataFrame =
    watermark.fold(df)(w => df.withWatermark(tsCol, w))
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("cnt"),
        sum(valueCol).as("total_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("cnt"), col("total_value"))

  /** Stream-stream equi + event-time interval join: enrich a measurement
    * stream with an annotation stream that may arrive up to
    * `maxDelaySec` later (either direction). Both sides carry
    * watermarks, and the time-bound condition is what lets the engine
    * EXPIRE join state — an unbounded stream-stream join would buffer
    * both streams forever. State per key is bounded by
    * watermark + maxDelay.
    *
    * Left columns keep their names AND positions (keyCol included),
    * followed by the right payload columns in source order; right
    * payload columns must not collide (rename before calling). Valid
    * on batch frames too (the unified-API contract) — the spec asserts
    * batch/stream agreement.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, maxDelaySec: Long,
      watermark: String = "1 hour", joinType: String = "inner")
      : DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    // the surviving key must COALESCE the two sides, not just keep the
    // left one: under right_outer/full_outer an unmatched right row
    // has a null left key, and dropping r(keyCol) would emit the row
    // with no key at all (review find)
    val joined = l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $maxDelaySec SECONDS") &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $maxDelaySec SECONDS"),
      joinType)
      .withColumn("__ij_key", coalesce(l(keyCol), r(keyCol)))
      .drop(l(keyCol)).drop(r(keyCol))
      .withColumnRenamed("__ij_key", keyCol)
    // the coalesce/drop/rename moved keyCol to the end; re-select the
    // schema into left-then-right source order so positional consumers
    // see the same layout the join inputs promise (ADVICE r15)
    joined.select((left.columns ++
      right.columns.filterNot(_ == keyCol)).map(col).toSeq: _*)
  }

  /** Streaming incremental dedup: screen every arriving micro-batch of
    * documents against a static, prebuilt corpus band index
    * (`Dedup.lshBandIndex`) and append one decision row per new doc.
    *
    * `foreachBatch` is the right harness here — the screen aggregates
    * per doc over its band matches, which is a batch-scoped aggregation
    * (each doc's bands arrive together in its micro-batch), not
    * cross-batch streaming state; the static index is the only standing
    * state and it lives outside the stream. This is the daily-crawl
    * topology: yesterday's corpus indexed once, today's docs screened as
    * they land.
    */
  def startDedupScreen(newDocs: DataFrame, oldIndex: DataFrame,
      idCol: String, textCol: String, shingleN: Int, bands: Int,
      rowsPerBand: Int, threshold: Double, outDir: String,
      checkpointDir: String, broadcastProbe: Boolean = false,
      broadcastMaxRows: Long = BroadcastMaxRows)
      : StreamingQuery =
    startStream(newDocs, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // enforced contract (same as the growing-index screens): the
        // probe — |batch| x bands band rows — only broadcasts while it
        // is actually micro; a backfill arriving as one giant batch
        // falls back to the shuffle-hash plan instead of OOMing the
        // driver. The bound is a conservative upper count (band rows
        // are at most batch rows x bands), evaluated by name only
        // when broadcasting was requested.
        val bcast = boundedBroadcast(broadcastProbe,
          batch.count() * bands, broadcastMaxRows)
        // exactly-once like every sibling screen: a crash between a
        // plain append and the checkpoint commit would replay the
        // batch and append DUPLICATE decision rows — corrupting a
        // downstream disposition join, with no batch_id to dedup on
        // (review find; this was the one screen still on mode(append))
        writeVersionedOnce(batch.sparkSession, outDir, batchId) {
          graft.operators.Dedup.screenAgainstIndex(batch, idCol, textCol,
            oldIndex, shingleN, bands, rowsPerBand, threshold, bcast)
            .withColumn("batch_id", lit(batchId))
        }
      }
    }

  /** [[startDedupScreen]] with a GROWING index — the MinHash face of
    * the arrival-time dedup matrix (dHash [[startMediaScreen]],
    * embedding [[startAnnScreen]], exact-hash [[startWebScreen]],
    * THIS): where the static screen only catches duplicates of the
    * seed corpus, this one also catches a doc that duplicates an
    * EARLIER BATCH. Per micro-batch:
    *
    *   1. ONE shingle + MinHash-signature pass
    *      ([[graft.operators.Dedup.lshBandIndex]]), consumed by both
    *      the probe and the index merge — micro-batch-bounded, so the
    *      fence is [[graft.plans.Fence.bounded]];
    *   2. screen against the standing band index with the batch
    *      operator ([[graft.operators.Dedup.screenAgainstIndexRows]] —
    *      one implementation, stream and batch cannot drift),
    *      decisions written EXACTLY-ONCE to `outDir/v_<batchId>`;
    *   3. append the batch's own band rows as a DELTA layer of the
    *      layered standing index ([[appendVersioned]]) — O(batch)
    *      written bytes per batch, full rewrite only at compaction.
    *
    * Crash/replay ordering is [[startMediaScreen]]'s: decisions land
    * before the index layer, so a replay either skips both or redoes
    * the append against the still-intact standing state.
    */
  def startMinhashScreen(stream: DataFrame, idCol: String,
      textCol: String, seedIndex: DataFrame, shingleN: Int, bands: Int,
      rowsPerBand: Int, threshold: Double, idxDir: String,
      outDir: String, checkpointDir: String, compactEvery: Int = 16,
      broadcastProbe: Boolean = true, pruneBuckets: Int = 0,
      broadcastMaxRows: Long = BroadcastMaxRows, maxPosting: Int = 0)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // b = hash(band key) mod N (see the Prune harness) — a
        // function of the band join key, so pruning loses no match
        // (and a band key's full posting lives in ONE bucket, so the
        // maxPosting hot-band counts stay EXACT under pruning)
        val prune = pruneFor(spark, idxDir, pruneBuckets, (df, n) =>
          df.withColumn("b",
            pmod(xxhash64(col("band_idx"), col("band_key")), lit(n))
              .cast("int")))
        val freshBands = prune.withB(Fence.bounded(
          graft.operators.Dedup.lshBandIndex(
            batch, idCol, textCol, shingleN, bands, rowsPerBand)))
        val standingAll = standingIndex(spark, idxDir)
        val standing = prune.restrict(standingAll, freshBands)
        val seedFallback = prune.withB(seedIndex)
        // enforced contract: the probe (= the batch's band rows) only
        // broadcasts while it is actually micro
        val bcast = boundedBroadcast(broadcastProbe, freshBands.count(),
          broadcastMaxRows)
        // capped screens take the hot-band exclusion from the sidecar
        // artifact + deltas (one index scan per trigger — the media
        // screen's machinery with the minhash band column); None
        // before the first base commit or when uncapped, where
        // screenAgainstIndexRows' per-call aggregation is the right
        // path (a boilerplate-hot shingle band in a GROWN text index
        // otherwise has no exclusion path — VERDICT r14 #3)
        val hotList =
          if (maxPosting > 0)
            hotBandList(spark, idxDir, maxPosting, "band_key")
          else None
        writeVersionedOnce(spark, outDir, batchId) {
          graft.operators.Dedup.screenAgainstIndexRows(freshBands,
            batch.select(col(idCol).as("doc_id")),
            standing.getOrElse(seedFallback), threshold,
            broadcastProbe = bcast, maxPosting = maxPosting,
            hotBands = hotList)
            .withColumn("batch_id", lit(batchId))
        }
        val init =
          if (standingAll.isEmpty) seedFallback.unionByName(freshBands)
          else freshBands
        val compacted = appendVersioned(spark, idxDir, batchId, init,
          compactEvery,
          compact = u => {
            val (adopted, n) = prune.adoptN(u, u.count())
            (adopted, None, n)
          })
        // refresh the sidecar eagerly at compaction cadence (rides the
        // rewrite that just happened); a crash before this self-heals
        // on the next trigger's hotBandList
        if (maxPosting > 0)
          compacted.foreach(_ => ensureBandStats(spark, idxDir,
            maxPosting, "band_key"))
        ()
      }
    }

  /** Per-micro-batch distribution-drift screen: each arriving batch is
    * histogrammed on `binExpr` and scored (PSI) against a STATIC
    * baseline histogram — the ingest-path monitoring loop that catches
    * an upstream format/mix change before it lands in the corpus. Like
    * the dedup screen, the baseline is the only standing state; the
    * per-batch score is one row appended to `outDir`.
    */
  def startDriftScreen(stream: DataFrame,
      baseline: DataFrame, binExpr: org.apache.spark.sql.Column,
      outDir: String, checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val counts = batch.groupBy(binExpr.as("bin"))
          .agg(count(lit(1)).as("n"))
        val psi = graft.operators.Drift.psiTotal(baseline, counts)
        val n = batch.count()
        Seq((batchId, n, psi)).toDF("batch_id", "n_rows", "psi")
          .write.mode("append").parquet(outDir)
      }
    }

  /** Committed `v_*` version dirs under `dir`, oldest → newest (empty
    * when the dir itself does not exist yet) — the ONE listing every
    * version-layout consumer (merge, standing reader, decision reader)
    * goes through, so the naming/ordering protocol lives in one place.
    */
  private def versionPaths(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(dir)
    val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(base)) Seq.empty
    else fsys.listStatus(base).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("v_")).sortBy(_.getName)
  }

  /** Atomic tmp-write + rename promote of `df` into
    * `baseDir/v_<batchId>` — the shared commit step of the versioned
    * layout (committed versions are never mutated in place).
    */
  private def promoteVersion(spark: SparkSession, baseDir: String,
      batchId: Long, df: DataFrame): org.apache.hadoop.fs.Path = {
    val name = f"v_$batchId%020d"
    promoteNamed(spark, baseDir, name, df)
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(baseDir), name)
  }

  /** Exactly-once merge of a per-batch sketch into a standing versioned
    * sketch table at `baseDir` (layout: `baseDir/v_<batchId>` parquet
    * dirs; readers resolve the latest via [[standingSketch]]).
    *
    * Crash/replay contract (foreachBatch re-runs the last uncommitted
    * batch after a failure):
    *   - idempotent replay: if `v_<batchId>` already exists the batch
    *     was fully merged — return it, merge nothing (a sum-merge like
    *     Count-Min would otherwise double-count the replayed batch);
    *   - atomic promote: the merged sketch lands in a `_tmp_` dir and
    *     is RENAMED into place (atomic on HDFS and local file systems;
    *     object stores degrade to copy but stay crash-consistent
    *     because committed versions are never mutated in place);
    *   - portable existence checks through the Hadoop FileSystem API —
    *     a java.io.File probe is local-only and would silently report
    *     false on HDFS/S3, dropping the standing state.
    *
    * Versions are |groups| × sketch-width rows — tiny; the previous
    * version is deleted after promote so at most two live at once.
    * Returns the standing sketch as of `batchId`.
    *
    * This full-rewrite merge is for BOUNDED state only (the sketch
    * screens, whose standing tables are |groups| × width rows — a
    * rewrite is cheaper than layering). Corpus-scale standing state
    * (the dedup screens' indexes) uses [[appendVersioned]], whose
    * per-batch write cost is the batch, not the index.
    */
  private[graft] def mergeVersioned(spark: SparkSession, baseDir: String,
      batchId: Long, fresh: DataFrame,
      mergeFn: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(base, f"v_$batchId%020d")
    if (fsys.exists(target)) { // replayed, already-committed batch
      // a crash after the rename promote but before the prev delete
      // leaves stale versions behind; retry the cleanup here so the
      // "at most two live versions" contract self-heals on replay
      versionPaths(spark, baseDir)
        .filter(_.getName < target.getName)
        .foreach(p => fsys.delete(p, true))
      spark.read.parquet(target.toString)
    } else {
      val prev = versionPaths(spark, baseDir).lastOption
      val merged = prev match {
        case Some(p) => mergeFn(spark.read.parquet(p.toString), fresh)
        case None => fresh
      }
      val committed = promoteVersion(spark, baseDir, batchId, merged)
      prev.foreach(p => fsys.delete(p, true))
      spark.read.parquet(committed.toString)
    }
  }

  // ------------------------------------------------------------------
  // Layered standing-index layout — the corpus-scale sibling of
  // [[mergeVersioned]].
  //
  // mergeVersioned rewrites the FULL standing state every micro-batch,
  // which is the right trade for the sketch screens (state is
  // |groups| × sketch-width rows — a rewrite is cheaper than a layered
  // read) but a scale-killer for the dedup screens, whose standing
  // index is CORPUS-scale: a 1000-row batch against a 10⁹-row band
  // index would rewrite 10⁹ rows, O(B·|index|) write amplification
  // across B batches (VERDICT r12 #1). The layered layout bounds
  // per-batch I/O by the BATCH instead:
  //
  //   baseDir/v_<batchId>b[_p<planes>]  — compacted BASE (≤1 live)
  //   baseDir/v_<batchId>d              — per-batch DELTA dirs
  //
  // Standing state = latest base ∪ all newer deltas. A normal batch
  // appends ONE delta dir of exactly its own rows (O(batch) written
  // bytes); every `compactEvery`-th batch folds base+deltas+fresh into
  // a new base (O(index), amortized O(index/compactEvery) per batch)
  // so the read side never layers more than `compactEvery` dirs.
  //
  // BROADCAST-PROBE CONTRACT: the screens default to broadcasting the
  // micro-batch probe side (index stays scan-only, never shuffled per
  // trigger). A broadcast hint BYPASSES autoBroadcastJoinThreshold, so
  // this is only safe while the batch is actually micro — and the
  // trigger does NOT guarantee that (streamTable's default of 0 folds
  // EVERYTHING available into a single batch, so a default-configured
  // bulk backfill would force-broadcast a corpus-scale probe and OOM
  // the driver — VERDICT r13 #1). The contract is therefore ENFORCED
  // per batch, not documented: every screen counts its fenced probe
  // rows (one cheap job over already-fenced data) and
  // falls back to the shuffle-hash path past `broadcastMaxRows` —
  // decisions are bit-equal either way, only the plan shape changes.
  //
  // The exactly-once contract is mergeVersioned's, unchanged: versions
  // are tmp-written and atomically renamed, a replayed batch whose
  // version dir already exists (base OR delta) appends nothing, and
  // dirs older than the latest base are stale compaction leftovers
  // that every call self-heals away. Correctness requires deltas to be
  // PURE ADDITIONS (new rows only — the dedup indexes are append-only
  // by construction; the web screen anti-joins its batch hashes
  // against the standing index so a delta never re-states a hash).
  // ------------------------------------------------------------------

  /** Default probe-row bound for the broadcast-probe fallback: ~4M
    * probe-side rows (band rows / hash rows / vectors — tens of MB
    * serialized) is the edge of what a driver comfortably broadcasts;
    * past it the batch is not "micro" and the shuffle-hash plan is
    * the safe one. */
  val BroadcastMaxRows: Long = 4L << 20

  /** The enforced broadcast-probe contract (see the layout comment
    * above): broadcast only when requested AND the batch's probe rows
    * stay under the bound. `probeRows` is by-name — the count job
    * (cheap: the probe is already fenced) only runs when a broadcast
    * was requested at all. */
  private def boundedBroadcast(requested: Boolean, probeRows: => Long,
      maxRows: Long): Boolean =
    requested && probeRows <= maxRows

  /** One committed layer of a layered standing index. */
  private case class IndexLayer(path: org.apache.hadoop.fs.Path,
      batchId: Long, isBase: Boolean, planes: Option[Int],
      pruneN: Option[Int] = None)

  /** Parse the committed layers under `dir`, oldest → newest.
    *
    * MIGRATION: a plain `v_<digits>` dir is the old single-version
    * (mergeVersioned) layout — its latest version IS the full
    * standing state, so it parses as a BASE layer (no planes tag).
    * A screen upgraded in place therefore keeps every duplicate it
    * has ever seen: the first post-upgrade batch appends a delta on
    * top of the legacy base (or compacts it into the new naming),
    * and the self-heal deletes superseded legacy versions exactly
    * like superseded layers. Without this, standingIndex would
    * return None over a legacy dir and the screen would silently
    * re-seed (round-13 review find). */
  private def indexLayers(spark: SparkSession, dir: String)
      : Seq[IndexLayer] = {
    val Base = """v_(\d{20})b(?:_p(\d+))?(?:_n(\d+))?""".r
    val Delta = """v_(\d{20})d""".r
    val Legacy = """v_(\d{20})""".r
    versionPaths(spark, dir).flatMap { p =>
      p.getName match {
        case Base(id, pl, n) => Some(IndexLayer(p, id.toLong,
          isBase = true, Option(pl).map(_.toInt), Option(n).map(_.toInt)))
        case Delta(id) => Some(IndexLayer(p, id.toLong, isBase = false,
          None))
        case Legacy(id) => Some(IndexLayer(p, id.toLong, isBase = true,
          None))
        case _ => None
      }
    }
  }

  /** The LIVE layers of a layered index: the latest base (if any) plus
    * every delta newer than it. Anything older is a stale compaction
    * leftover awaiting self-heal. */
  private def liveLayers(spark: SparkSession, dir: String)
      : Seq[IndexLayer] = {
    val layers = indexLayers(spark, dir)
    val base = layers.filter(_.isBase).lastOption
    base.toSeq ++ layers.filter(l =>
      !l.isBase && base.forall(_.batchId < l.batchId))
  }

  /** Current standing index under the layered layout: latest base ∪
    * newer deltas, or None before the first commit. One multi-path
    * parquet scan — the read cost is the standing state itself, same
    * as the single-version layout, just split across ≤compactEvery
    * dirs. */
  def standingIndex(spark: SparkSession, dir: String): Option[DataFrame] = {
    val live = liveLayers(spark, dir)
    if (live.isEmpty) None
    else if (live.exists(l => l.isBase && l.pruneN.isDefined))
      // bucket-pruned layout: the base stores its partition column in
      // the directory names while deltas carry it as data — one
      // multi-path read cannot mix the two, so read per layer and
      // union BY NAME; a bucket filter above pushes into each leg,
      // where the base leg becomes a PARTITION-PRUNED scan
      Some(live.map(l => spark.read.parquet(l.path.toString))
        .reduce(_.unionByName(_)))
    else
      // unpruned layout: one multi-path scan relation (same plan
      // shape the round-13 screens probe measured)
      Some(spark.read.parquet(live.map(_.path.toString): _*))
  }

  /** The planes tag recorded on the latest base layer (the ANN
    * screen's bucket-function generation), if any. */
  private[graft] def standingIndexPlanes(spark: SparkSession,
      dir: String): Option[Int] =
    indexLayers(spark, dir).filter(_.isBase).lastOption.flatMap(_.planes)

  /** The prune-bucket modulus tag on the latest base layer, if any. */
  private[graft] def standingIndexPruneN(spark: SparkSession,
      dir: String): Option[Int] =
    indexLayers(spark, dir).filter(_.isBase).lastOption.flatMap(_.pruneN)

  /** Operational inspection of a layered-index dir — one row per
    * COMMITTED object (the surface every LSM layout ships: what is
    * live, what is a stale crash leftover awaiting self-heal, how big
    * the base is vs its deltas, which layout generations are tagged).
    * Columns: name, kind (base|delta|legacy|stats), batch_id, live
    * (part of the current standing state — stats count as live iff
    * they describe the live base), bytes, files, planes, prune_n.
    * Read-only: safe to call concurrently with a running screen
    * (in-flight `_tmp_*` dirs are never listed). */
  def describeIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Base = """v_(\d{20})b(?:_p(\d+))?(?:_n(\d+))?""".r
    val Delta = """v_(\d{20})d""".r
    val Legacy = """v_(\d{20})""".r
    val Stats = """v_(\d{20})s_c(\d+)""".r
    val live = liveLayers(spark, dir)
    val liveBase = live.filter(_.isBase).lastOption.map(_.batchId)
    val livePaths = live.map(_.path.toString).toSet
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fsys = hPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    versionPaths(spark, dir).flatMap { p =>
      val cs = fsys.getContentSummary(p)
      val row = p.getName match {
        case Base(id, pl, n) => Some((id.toLong, "base",
          livePaths(p.toString), Option(pl).map(_.toInt),
          Option(n).map(_.toInt)))
        case Delta(id) => Some((id.toLong, "delta",
          livePaths(p.toString), None, None))
        case Legacy(id) => Some((id.toLong, "legacy",
          livePaths(p.toString), None, None))
        case Stats(id, _) => Some((id.toLong, "stats",
          liveBase.contains(id.toLong), None, None))
        case _ => None
      }
      row.map { case (id, kind, isLive, planes, pruneN) =>
        (p.getName, kind, id, isLive, cs.getLength, cs.getFileCount,
          planes, pruneN)
      }
    }.toDF("name", "kind", "batch_id", "live", "bytes", "files",
      "planes", "prune_n")
  }

  // ------------------------------------------------------------------
  // Hot-band stats sidecar — the compaction-time artifact that lets a
  // CAPPED media screen (maxPosting > 0) build its per-trigger
  // hot-band exclusion list without re-aggregating the standing index
  // (ADVICE/VERDICT r13: dropHotBands per call was a second full index
  // scan on the hot path).
  //
  //   idxDir/v_<baseId>s_c<cap> — per-band counts of the base layer
  //     with that id, computed under that cap, partitioned by
  //     (hot = n > cap, sb = hash(band) mod StatsBuckets)
  //
  // Per trigger the EXACT hot set over base+deltas is then:
  //   hot(base) ∪ { band ∈ deltas : n_base(band) + n_delta(band) > cap }
  // which reads the hot=true partitions (tiny), the sb partitions the
  // DELTA bands hash into (partition-pruned — the cold counts are
  // index-order, but a trigger touches only its deltas' share), and
  // the delta layers themselves (O(compactEvery x batch)). Bit-equal
  // to the per-call aggregation by construction: base counts are
  // exact at compaction, deltas are pure additions, and under
  // pruneBuckets a band's full posting lives in one bucket so
  // restricted-read counts match global counts for every band the
  // restricted read contains.
  //
  // Lifecycle: written right after a compaction promotes its base;
  // the name is invisible to [[indexLayers]] (neither base, delta,
  // nor legacy), so layer logic never reads it. A sidecar for an
  // older base is superseded and deleted by [[ensureBandStats]];
  // same-base sidecars for OTHER caps coexist (callers alternating
  // caps each pay one aggregation per base, never a per-trigger
  // thrash). A missing sidecar (crash between base promote and
  // sidecar write, a pre-feature index, a new cap) self-heals with
  // one O(index) aggregation — the cost the per-call path paid EVERY
  // trigger.
  // ------------------------------------------------------------------

  /** Modulus for the sidecar's `sb` partition column. */
  private[graft] val StatsBuckets = 256

  /** Base-layer byte sizes, keyed by base path — a committed base is
    * immutable, so its recursive content summary is computed once per
    * base generation, not per trigger. Bounded: superseded entries
    * are dropped when a new base is promoted (and the map only ever
    * holds paths of live bases of indexes this JVM appends to). */
  private val baseBytesCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private val StatsRe = """v_(\d{20})s_c(\d+)""".r

  /** Ensure the hot-band stats sidecar for the CURRENT base layer and
    * cap exists (write it if missing, delete superseded ones); None
    * when the index has no base layer yet. `bandCol` names the band
    * VALUE column of the index's schema — `band_val` for the media
    * screen's [[graft.operators.Dedup.codeBandIndex]], `band_key` for
    * the minhash screen's [[graft.operators.Dedup.lshBandIndex]];
    * the sidecar machinery is otherwise identical. */
  private[graft] def ensureBandStats(spark: SparkSession, idxDir: String,
      cap: Int, bandCol: String = "band_val")
      : Option[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val baseOpt = indexLayers(spark, idxDir).filter(_.isBase).lastOption
    baseOpt.map { b =>
      val name = f"v_${b.batchId}%020ds_c$cap"
      val dirPath = new Path(idxDir)
      val fsys = dirPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // superseded = sidecars of OLDER BASES only. Same-base sidecars
      // for other caps are KEPT: deleting them would make two callers
      // alternating caps on one index thrash an O(index) aggregation
      // per trigger (each deleting the other's artifact) — kept, each
      // (base, cap) pays its aggregation once, storage is bounded by
      // the distinct caps in use, and every stale cap's sidecar dies
      // with its base at the next compaction.
      versionPaths(spark, idxDir)
        .filter(p => StatsRe.findFirstMatchIn(p.getName)
          .exists(_.group(1).toLong != b.batchId))
        .foreach(p => fsys.delete(p, true))
      val target = new Path(dirPath, name)
      if (!fsys.exists(target)) {
        val stats = spark.read.parquet(b.path.toString)
          .groupBy("band_idx", bandCol)
          .agg(count(lit(1)).as("n"))
          // int flag, not boolean: partition-column type inference on
          // read-back only covers numeric/date/string
          .withColumn("hot", (col("n") > cap).cast("int"))
          .withColumn("sb",
            pmod(xxhash64(col("band_idx"), col(bandCol)),
              lit(StatsBuckets)).cast("int"))
        // an EMPTY stats frame must be written UNPARTITIONED — the
        // read side filters on hot/sb as DATA columns, which an empty
        // frame satisfies trivially; promoteNamed's partitioned-write
        // guard handles the empty case (one isEmpty probe, not two)
        promoteNamed(spark, idxDir, name, stats, Seq("hot", "sb"))
      }
      target
    }
  }

  /** The EXACT hot-band exclusion list (band_idx, band_val with
    * posting count > cap over base+deltas) for a capped screen's
    * current trigger, derived from the sidecar + the live delta
    * layers — never a scan of the base band rows (the screen join is
    * then the trigger's ONLY index scan). None before the first base
    * commit (the caller falls back to the per-call aggregation over
    * its seed fallback). */
  private[graft] def hotBandList(spark: SparkSession, idxDir: String,
      cap: Int, bandCol: String = "band_val"): Option[DataFrame] =
    ensureBandStats(spark, idxDir, cap, bandCol).map { statsPath =>
      val stats = spark.read.parquet(statsPath.toString)
      val baseHot = stats.filter(col("hot") === 1)
        .select("band_idx", bandCol)
      val layers = indexLayers(spark, idxDir)
      val baseId = layers.filter(_.isBase).last.batchId
      val deltas = layers.filter(l => !l.isBase && l.batchId > baseId)
      if (deltas.isEmpty) baseHot
      else {
        // micro-batch-bounded fence (<= compactEvery x batch band
        // rows aggregated to distinct bands): consumed by the sb-set
        // collect AND the cold-count join below
        val dCounts = Fence.bounded(spark.read
          .parquet(deltas.map(_.path.toString): _*)
          .groupBy("band_idx", bandCol)
          .agg(count(lit(1)).as("dn"))
          .withColumn("sb",
            pmod(xxhash64(col("band_idx"), col(bandCol)),
              lit(StatsBuckets)).cast("int")))
        val sbSet = dCounts.select("sb").distinct()
          .collect().map(_.getInt(0)).toSeq // <= StatsBuckets ints
        val cold = stats.filter(col("hot") === 0 &&
          col("sb").isin(sbSet: _*))
          .select("band_idx", bandCol, "n")
        val newHot = dCounts
          .join(cold, Seq("band_idx", bandCol), "left")
          .filter(col("dn") + coalesce(col("n"), lit(0L)) > cap)
          .select("band_idx", bandCol)
        baseHot.unionByName(newHot)
      }
    }

  /** `pruneBuckets` sentinel: derive N at each compaction from the
    * index's own row count — 0 (pruning declined) below
    * [[AutoPruneMinRows]], else the next power of two of
    * rows / [[AutoPruneTargetRows]] clamped to [[MaxPruneN]] — instead
    * of a hand-picked constant: the 100 TB read bound should not
    * depend on the operator guessing the index's eventual size, and
    * the measured small-index regime (SCALE.md r14) should not pay
    * pruning overhead for nothing. The derived N is tagged on the
    * base dir exactly like a manual N, and a resize (including the
    * decline→engage transition as the index grows) adopts at
    * compaction through the same lifecycle. */
  val AutoPrune: Int = -1

  /** Target rows per prune bucket under [[AutoPrune]]: 128k rows of
    * band/hash entries keep each bucket file in the multi-MB range.
    * MEASURED (SCALE.md r14 prune probe): small buckets are a trap —
    * a 256-row target put a 300k-row index at N = 2048 two-KB files
    * and the per-batch wall at 2-4x the UNPRUNED read (file-open +
    * listing overhead swamps byte savings when the whole index is
    * tens of MB). Pruning is a big-index device: the read saving is
    * ~indexBytes / (batchBuckets x bucketBytes), which only exceeds 1
    * when the index is well past batchRows x bucketBytes. */
  private[graft] val AutoPruneTargetRows = 128L * 1024

  /** Below this index size [[AutoPrune]] stays OFF (adoptN returns 0
    * and the layout stays unpruned): under the floor N would be small
    * enough that a realistic batch touches most buckets — all
    * overhead, no pruning (the measured r14 regime). At the floor
    * N = 512; from there bucket COUNT grows with the index until the
    * 2^16 clamp, after which bucket SIZE grows — a 10^10-row index is
    * 64k files of ~150k rows and a 500-row batch reads < 1% of it. */
  private[graft] val AutoPruneMinRows = 1L << 26

  /** Upper clamp on any prune modulus (manual or auto): past 2^16
    * partition dirs the filesystem metadata cost dominates whatever
    * the extra pruning saves. */
  private[graft] val MaxPruneN = 1 << 16

  /** Buckets past which a batch's restriction is NOT applied: the
    * bucket set is collected to the driver (bounded by this, never by
    * N or the batch), and a batch touching this many buckets reads
    * ~the whole index under any restriction, so the fallback to the
    * unrestricted standing read costs nothing (ADVICE r13: no
    * unbounded driver materialization on the trigger path). */
  private[graft] val MaxRestrictBuckets = 4096

  private[graft] def autoPruneN(rows: Long): Int =
    if (rows < AutoPruneMinRows) 0
    else {
      val want = math.max(16L, rows / AutoPruneTargetRows)
      // next power of two >= want (powers of two keep pmod cheap and
      // make resize ratios clean in the layout tags)
      val p2 = java.lang.Long.highestOneBit(want * 2 - 1)
      math.min(MaxPruneN.toLong, p2).toInt
    }

  /** Bucket-pruning harness shared by the four screens (one
    * implementation of the effective-N/restrict/delta/adopt
    * invariants). The EFFECTIVE modulus for a batch is the LAYOUT's
    * `_n` tag — pruning is a property of the index, not of the call:
    * a restart with a different `param` (including 0, [[AutoPrune]],
    * or against a pre-pruning/legacy index with no `b` column) keeps
    * reading and writing under the layout's current scheme and ADOPTS
    * the new parameter at the next compaction, the only point that
    * rewrites every row. This is what makes N changes and on/off
    * toggles safe: a batch never computes `b` under one modulus and
    * filters a base written under another (which would silently drop
    * true matches), and never unions a b-carrying delta onto a b-less
    * layout (which would throw).
    *
    * `attach` overwrites/creates the `b` column from the screen's
    * JOIN KEY under a given modulus — b must be functional on the key
    * so the restriction can never lose a match. */
  private[graft] case class Prune(effN: Int, param: Int,
      attach: (DataFrame, Int) => DataFrame) {
    def on: Boolean = effN > 0
    /** b under the CURRENT layout scheme (deltas, probe side). */
    def withB(df: DataFrame): DataFrame =
      if (on) attach(df, effN) else df
    /** Restrict the standing read to the probe's bucket set —
      * partition pruning on the base, a data filter on deltas.
      * The collect is bounded by [[MaxRestrictBuckets]] (the limit
      * pushes into the distinct, so the driver never materializes
      * more); a batch touching more buckets than that falls back to
      * the unrestricted read, which it was going to pay anyway. */
    def restrict(standing: Option[DataFrame], probeWithB: DataFrame)
        : Option[DataFrame] =
      if (!on) standing
      else standing.map { idx =>
        val wanted = probeWithB.select("b").distinct()
          .limit(MaxRestrictBuckets + 1)
          .collect().map(_.getInt(0)).toSeq
        if (wanted.size > MaxRestrictBuckets) idx
        else idx.filter(col("b").isin(wanted: _*))
      }
    /** Adopt `param` at compaction: re-derive b for every row (or
      * drop it when turning pruning off), resolving [[AutoPrune]]
      * against `rows` (by-name — the count is only evaluated when the
      * param IS auto; the ANN screen passes its already-computed
      * rotation count). Returns the frame and the adopted N for the
      * base dir's `_n` tag. */
    def adoptN(df: DataFrame, rows: => Long): (DataFrame, Int) = {
      val n =
        if (param == AutoPrune) autoPruneN(rows)
        else math.min(param, MaxPruneN)
      val out =
        if (n > 0) attach(df, n)
        else if (df.columns.contains("b")) df.drop("b")
        else df
      (out, n)
    }
  }

  private[graft] def pruneFor(spark: SparkSession, idxDir: String, param: Int,
      attach: (DataFrame, Int) => DataFrame): Prune = {
    val layers = indexLayers(spark, idxDir)
    val effN =
      if (layers.isEmpty) math.max(param, 0) // fresh index: the param
        // creates it (auto resolves at the seeding compaction, so the
        // very first batch computes no b — the seed base adopts one)
      else layers.filter(_.isBase).lastOption
        .flatMap(_.pruneN).getOrElse(0) // existing: the layout's truth
    Prune(effN, param, attach)
  }

  /** Exactly-once append of a micro-batch's NEW index rows into the
    * layered standing index at `baseDir`. A normal batch writes one
    * delta dir of exactly `fresh` — unless `fresh` is EMPTY (an
    * all-duplicate web batch, an all-undecodable media batch), which
    * writes nothing: an empty delta would consume a layer toward
    * `compactEvery` and trigger needless full compactions on
    * idle/duplicate-heavy streams, and replay stays safe because a
    * replayed empty batch recomputes an identical empty delta and
    * skips again (ADVICE r13). Every `compactEvery`-th batch (and the
    * first, which seeds the base) compacts base+deltas+fresh through
    * `compact`, which may rewrite rows (e.g. the ANN rotation
    * re-buckets) and returns the planes tag and the ADOPTED
    * prune-bucket modulus for the base dir name (0 = unpruned; the
    * modulus is a compact-time result, not a parameter, so
    * [[AutoPrune]] sizing can derive it from the compacted count).
    * Replayed batches append nothing; stale pre-base layers are
    * self-healed on every call.
    *
    * COMPACTION POLICY: count-based (`compactEvery` layers) OR
    * size-ratio, whichever fires first. The count alone is wrong
    * under variable batch sizes — one backfill-sized delta would sit
    * unfolded for compactEvery-1 more triggers, inflating every
    * standing read and restatement in between — so once the base is
    * past `sizePolicyMinBase` bytes (below it, parquet per-file
    * metadata dominates and the ratio is meaningless — unit-scale
    * indexes stay count-based), committed delta bytes reaching
    * `compactDeltaFrac` of the base also trigger a fold: the LSM
    * bound that keeps the layered read amplification ≤ 1 + frac
    * whatever the arrival pattern. Cost of the check: one recursive
    * length listing per live layer per trigger (≤ compactEvery small
    * dirs).
    *
    * Returns `Some(batchId)` iff THIS call promoted a new base
    * (callers hang compaction-time artifacts — e.g. the media
    * screen's hot-band stats — off that signal); `None` for delta
    * appends and replays.
    */
  private[graft] def appendVersioned(spark: SparkSession, baseDir: String,
      batchId: Long, fresh: DataFrame, compactEvery: Int,
      compact: DataFrame => (DataFrame, Option[Int], Int) =
        df => (df, None, 0),
      compactDeltaFrac: Double = 1.0,
      sizePolicyMinBase: Long = 64L << 20): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layers = indexLayers(spark, baseDir)
    def selfHeal(ls: Seq[IndexLayer]): Unit = {
      val latestBase = ls.filter(_.isBase).lastOption
      latestBase.foreach(b => ls.filter(_.batchId < b.batchId)
        .foreach(l => fsys.delete(l.path, true)))
    }
    if (layers.exists(_.batchId == batchId)) { selfHeal(layers); None }
    else {
      val baseOpt = layers.filter(_.isBase).lastOption
      val deltas = layers.filter(l =>
        !l.isBase && baseOpt.forall(_.batchId < l.batchId))
      def bytes(l: IndexLayer): Long =
        fsys.getContentSummary(l.path).getLength
      // def, not val: the size listing runs ONLY when the count
      // policy did not already decide — and the BASE's length (a
      // recursive listing over up to 2^16 bucket dirs at the design
      // point) is memoized per base layer, which is immutable once
      // promoted, so the per-trigger cost is the ≤compactEvery small
      // delta dirs the scaladoc claims
      def sizeTrip = compactDeltaFrac > 0 && deltas.nonEmpty &&
        baseOpt.exists { b =>
          val bb = baseBytesCache.getOrElseUpdate(
            b.path.toString, bytes(b))
          bb >= sizePolicyMinBase &&
            deltas.map(bytes).sum >= compactDeltaFrac * bb
        }
      if (baseOpt.isEmpty || deltas.size + 1 >= compactEvery ||
          sizeTrip) {
        val standing = (baseOpt.toSeq ++ deltas).map(_.path.toString)
        val unioned =
          if (standing.isEmpty) fresh
          else standing.map(spark.read.parquet(_))
            .reduce(_.unionByName(_)).unionByName(fresh)
        val (compacted, planes, pruneN) = compact(unioned)
        // the base dir name carries BOTH layout generations: the ANN
        // plane count (_p) and the prune-bucket modulus (_n) — each a
        // property of the INDEX, not of the call, so restarts with a
        // different parameter read the layout's truth and adopt the
        // new parameter only here, at compaction (the only point that
        // rewrites every row). Only BASE layers are bucket-partitioned:
        // a delta is one small batch (partitioning it would spray tiny
        // files), and the data column it carries serves the post-union
        // filter.
        val suffix = "b" + planes.map(p => s"_p$p").getOrElse("") +
          (if (pruneN > 0) s"_n$pruneN" else "")
        promoteNamed(spark, baseDir, f"v_$batchId%020d$suffix",
          compacted, if (pruneN > 0) Seq("b") else Nil)
        // compaction supersedes everything older; delete AFTER the
        // promote so a crash in between leaves a readable (stale but
        // complete) state that the next call self-heals
        layers.foreach(l => fsys.delete(l.path, true))
        layers.filter(_.isBase)
          .foreach(l => baseBytesCache.remove(l.path.toString))
        Some(batchId)
      } else {
        selfHeal(layers)
        if (!fresh.isEmpty)
          promoteNamed(spark, baseDir, f"v_$batchId%020dd", fresh)
        None
      }
    }
  }

  /** [[promoteVersion]] with an explicit dir name (the layered layout
    * encodes base/delta and the planes generation in the name). */
  private def promoteNamed(spark: SparkSession, baseDir: String,
      name: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(base, name)
    val tmp = new Path(base, s"_tmp_$name")
    fsys.delete(tmp, true)
    // partitioned promotes co-locate each partition value in ONE task
    // first: partitionBy alone writes a file per (task x value) pair —
    // at N prune buckets over the default 32 shuffle partitions that
    // is a 32N tiny-file spray; after the repartition it is exactly
    // one file per bucket, the layout the read side wants.
    // An EMPTY frame must be written UNPARTITIONED: the dynamic-
    // partition writer emits no parquet files for zero rows, leaving a
    // committed dir that fails schema inference on every later read —
    // a permanent wedge (same guard as ensureBandStats). The wedge
    // only exists for PARTITIONED writes, and isEmpty is not free — it
    // is a limit(1) job over the frame's full lineage, which for the
    // screens' per-trigger decision writes (partitionCols = Nil) would
    // re-run the corpus-scale index join a second time per trigger —
    // so the probe is gated on partitionCols.nonEmpty.
    val parts =
      if (partitionCols.nonEmpty && df.isEmpty) Nil else partitionCols
    val out = if (parts.isEmpty) df
      else df.repartition(parts.map(col): _*)
    val w = out.write.mode("overwrite")
    (if (parts.isEmpty) w else w.partitionBy(parts: _*))
      .parquet(tmp.toString)
    if (!fsys.rename(tmp, target))
      throw new java.io.IOException(s"promote failed: $tmp -> $target")
    ()
  }

  /** Resolve the current standing sketch written by the incremental
    * screens (the latest committed `v_<batchId>` version under `dir`).
    */
  def standingSketch(spark: SparkSession, dir: String): DataFrame =
    versionPaths(spark, dir).lastOption
      .map(p => spark.read.parquet(p.toString))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed sketch version under $dir"))

  /** Incremental-cardinality screen: each micro-batch's values are
    * sketched ([[graft.operators.Hll.registers]]) and max-merged into
    * the standing register table at `regDir` — the streaming face of
    * the HLL lifecycle (per-batch registers are tiny, merge is
    * idempotent, and the estimate over the merged table equals the
    * estimate over the concatenated stream, any arrival order). Each
    * batch also appends a running per-group estimate row to `outDir`,
    * which is the monitoring signal: distinct-URL/token growth per
    * source as the crawl lands.
    *
    * The standing table is versioned + rename-promoted and batch-id
    * checked (see [[mergeVersioned]]): the register merge is
    * exactly-once under foreachBatch replay. The `outDir` estimate
    * append is at-least-once — a crash between promote and append can
    * replay the row — so monitoring consumers dedup on `batch_id`.
    */
  def startCardinalityScreen(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, p: Int, regDir: String, outDir: String,
      checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = graft.operators.Hll.registers(
          batch, groupCols, col(valueCol), p)
        val standing = mergeVersioned(spark, regDir, batchId, fresh,
          graft.operators.Hll.merge(_, _, groupCols))
        graft.operators.Hll.estimate(standing, groupCols, p)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
    }

  /** Incremental-frequency screen — [[startCardinalityScreen]]'s
    * Count-Min sibling: per micro-batch counter tables sum-merge into
    * the standing sketch at `skDir` (sum is associative/commutative,
    * so the merged table equals the sketch of the concatenated
    * stream), and each batch appends the probe list's running
    * frequency estimates — hot-key / hot-domain watch on the ingest
    * path without counting the vocabulary.
    *
    * Unlike the HLL screen's max-merge, the sum-merge is NOT naturally
    * idempotent — replaying a batch would double-count it — so the
    * [[mergeVersioned]] batch-id check is load-bearing here, not just
    * tidy.
    */
  def startFrequencyScreen(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, depth: Int, width: Int, probes: Seq[String],
      skDir: String, outDir: String, checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val fresh = graft.operators.CountMin.sketch(
          batch, groupCols, col(valueCol), depth, width)
        val standing = mergeVersioned(spark, skDir, batchId, fresh,
          graft.operators.CountMin.merge(_, _, groupCols))
        graft.operators.CountMin.estimate(standing, groupCols,
            probes.toDF("probe"), "probe", depth, width)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
    }

  /** Incremental aggregate-view screen — the streaming face of
    * [[graft.operators.Incremental]]: each micro-batch's partial
    * states (cnt/sum/min/max/sum²) sum-merge into the standing view
    * through the same versioned exactly-once layout as the sketch
    * screens ([[mergeVersioned]] — the sum-merge double-counts on
    * replay without it), and each batch appends the derived
    * presentation row per group to `outDir` (at-least-once, dedup on
    * batch_id). This is daily-rollup maintenance as a stream: the
    * refresh cost per batch is the batch's own aggregation plus a
    * |groups|-row merge.
    */
  def startIncrementalAggScreen(stream: DataFrame,
      groupCols: Seq[String], valueCol: String, stateDir: String,
      outDir: String, checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = graft.operators.Incremental.aggregateState(
          batch, groupCols, valueCol)
        val standing = mergeVersioned(spark, stateDir, batchId, fresh,
          graft.operators.Incremental.merge(_, _, groupCols))
        graft.operators.Incremental.readView(standing)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
    }

  /** Incremental ranking-quality screen — the AUC face of the sketch
    * screens: each micro-batch's per-score (s, cnt, pos) partials
    * ([[graft.operators.Eval.scorePartials]]) sum-merge into the
    * standing table through the versioned exactly-once layout (the
    * sum-merge double-counts on replay without [[mergeVersioned]] —
    * same load-bearing check as the Count-Min screen), and each batch
    * appends the RUNNING EXACT AUC of everything ingested so far —
    * live "is the quality score still ranking well?" monitoring
    * without re-scanning history. `scoreExpr` should be quantized
    * (e.g. `floor(score·1000)/1000`) so the standing table stays
    * bounded; the AUC is then exact for the quantized score.
    */
  def startAucScreen(stream: DataFrame,
      scoreExpr: org.apache.spark.sql.Column,
      labelExpr: org.apache.spark.sql.Column, stateDir: String, outDir: String,
      checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = graft.operators.Eval.scorePartials(
          batch, scoreExpr, labelExpr)
        val standing = mergeVersioned(spark, stateDir, batchId, fresh,
          graft.operators.Eval.mergePartials(_, _))
        graft.operators.Eval.aucFromPartials(standing)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
    }

  /** Incremental KS drift screen — the alarm-grade sibling of
    * [[startDriftScreen]]'s PSI (which needs a binning choice and only
    * sees the CURRENT batch): the stream's per-value counts
    * ([[graft.operators.Drift.valueCounts]]) sum-merge into a standing
    * table through the versioned exactly-once layout, and each batch
    * appends the exact two-sample KS of EVERYTHING ingested so far
    * against the static `baseline` counts. Quantize `valueExpr` so the
    * standing table stays bounded; the statistic is exact for the
    * quantized value.
    */
  def startKsScreen(stream: DataFrame,
      valueExpr: org.apache.spark.sql.Column, baseline: DataFrame,
      stateDir: String, outDir: String, checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = graft.operators.Drift.valueCounts(batch, valueExpr)
        val standing = mergeVersioned(spark, stateDir, batchId, fresh,
          graft.operators.Drift.mergeValueCounts(_, _))
        graft.operators.Drift.ksFromCounts(standing, baseline)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
    }

  /** Streaming exact-quantile screen: each micro-batch's values fold
    * into the same sum-mergeable per-value count state the KS screen
    * keeps (one state layout can serve both alarms), and the RUNNING
    * EXACT quantiles of everything ingested so far are appended per
    * batch — tail-latency / tail-size monitoring with no sketch error.
    * Replayed batches read the already-committed version (the
    * [[mergeVersioned]] exactly-once contract), so the emitted
    * quantiles equal the batch statistic of the concatenated stream.
    */
  def startQuantileScreen(stream: DataFrame,
      valueExpr: org.apache.spark.sql.Column, qs: Seq[Double],
      stateDir: String, outDir: String, checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = graft.operators.Drift.valueCounts(batch, valueExpr)
        val standing = mergeVersioned(spark, stateDir, batchId, fresh,
          graft.operators.Drift.mergeValueCounts(_, _))
        graft.operators.Drift.quantilesFromCounts(standing, qs)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
    }

  /** Streaming categorical-drift screen: micro-batch category counts
    * sum-merge into standing state; each batch appends the running χ²
    * of EVERYTHING ingested vs the static baseline mix — the
    * categorical sibling of [[startKsScreen]], same versioned
    * exactly-once layout.
    */
  def startChi2Screen(stream: DataFrame,
      categoryExpr: org.apache.spark.sql.Column, baseline: DataFrame,
      stateDir: String, outDir: String, checkpointDir: String)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fresh = graft.operators.Drift.catCounts(batch, categoryExpr)
        val standing = mergeVersioned(spark, stateDir, batchId, fresh,
          graft.operators.Drift.mergeCatCounts(_, _))
        graft.operators.Drift.chi2FromCounts(standing, baseline)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
    }

  /** Append sink into the engine's date-partitioned layout: the streaming
    * continuation of the CTAS contract (transform/web100.sql:8-13).
    */
  def startPartitionedAppend(df: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    // Spark's default trigger: back-to-back micro-batches until stopped
    startStream(df.withColumn("date", to_date(col("ts"))), checkpointDir,
        Trigger.ProcessingTime(0L)) { _
      .format("parquet")
      .option("path", outDir)
      .partitionBy("date")
      .outputMode("append")
    }

  /** Latest committed `v_<batchId>` version under `dir`, if any. */
  private def latestVersion(spark: SparkSession, dir: String)
      : Option[DataFrame] =
    versionPaths(spark, dir).lastOption
      .map(p => spark.read.parquet(p.toString))

  /** Exactly-once per-batch output write: `df` lands in
    * `baseDir/v_<batchId>` via tmp-write + atomic rename, and a
    * replayed batch whose version already exists writes NOTHING — the
    * stronger sibling of the screens' at-least-once `mode("append")`
    * rows, for outputs where a duplicated decision row would corrupt a
    * downstream join rather than merely repeat a monitoring line.
    * `df` is evaluated only when the write actually happens.
    */
  private def writeVersionedOnce(spark: SparkSession, baseDir: String,
      batchId: Long)(df: => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(new Path(base, f"v_$batchId%020d")))
      promoteVersion(spark, baseDir, batchId, df)
    ()
  }

  /** All committed decision rows written by a versioned screen
    * ([[startMediaScreen]]): one parquet dir per batch under `dir`,
    * resolved through the Hadoop FileSystem API (committed `v_*`
    * versions only — in-flight `_tmp_*` dirs are never read).
    */
  def versionedRows(spark: SparkSession, dir: String): DataFrame = {
    val versions = versionPaths(spark, dir)
    require(versions.nonEmpty, s"no committed versions under $dir")
    spark.read.parquet(versions.map(_.toString): _*)
  }

  /** Streaming visual near-dup screen — qP3's arrival-time face with a
    * GROWING index, completing the media-dedup lifecycle the MinHash
    * path already has (batch pairs qP0 → incremental screen qP3 →
    * THIS). Per micro-batch of media rows:
    *
    *   1. decode + 56-bit dHash ([[graft.operators.Multimodal
    *      .dhashImages]] — undecodable rows ride through with null
    *      hash and screen as no-dup, the quarantine discipline);
    *   2. screen against the STANDING band index (previous batches +
    *      the seed corpus) with the SAME capped probe as the batch
    *      operator ([[graft.operators.Dedup.codeHammingScreen]] — one
    *      implementation, so stream and batch cannot drift), decisions
    *      written EXACTLY-ONCE to `outDir/v_<batchId>` (a replayed
    *      batch re-emits nothing — a duplicated decision row would
    *      corrupt a downstream disposition join);
    *   3. merge the batch's own band rows into the standing index
    *      through the versioned rename-promoted layout
    *      ([[mergeVersioned]]), so later batches screen against
    *      everything that arrived before them.
    *
    * Crash/replay: decisions are written BEFORE the index version, so
    * on replay either both exist (skip both), or only decisions exist
    * (skip 2, redo 3 against the still-intact previous version) —
    * index-committed-but-no-decisions cannot occur.
    *
    * `seedIndex` is the prebuilt corpus index
    * ([[graft.operators.Dedup.codeBandIndex]] schema: doc_id, code,
    * band_idx, band_val); it is folded into the base layer on the
    * first batch. At 100 TB the standing index is bands × corpus rows
    * of 4 longs and each batch costs O(new × bands) equi-join probes,
    * however large the history — the qP3 scale shape, now with
    * arrival-time state. Index maintenance is the LAYERED layout
    * ([[appendVersioned]]): a batch writes one delta dir of its own
    * band rows (O(batch) bytes), compacted every `compactEvery`
    * batches — never the full-index rewrite the single-version layout
    * would pay per batch.
    */
  def startMediaScreen(stream: DataFrame, seedIndex: DataFrame,
      bits: Int, maxHamming: Int, bandsCount: Int, maxPosting: Int,
      idxDir: String, outDir: String, checkpointDir: String,
      compactEvery: Int = 16, broadcastProbe: Boolean = true,
      pruneBuckets: Int = 0,
      broadcastMaxRows: Long = BroadcastMaxRows)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // one decode pass per batch, consumed by screen AND index build
        val hashes = Fence.bounded(
          graft.operators.Multimodal.dhashImages(batch).toDF())
        // b = hash(band key) mod N (see the Prune harness). NOTE: a
        // band value's full posting lives in ONE bucket (b is
        // functional on the key), so the maxPosting hot-band counts
        // over the restricted read remain EXACT.
        val prune = pruneFor(spark, idxDir, pruneBuckets, (df, n) =>
          df.withColumn("b",
            pmod(xxhash64(col("band_idx"), col("band_val")), lit(n))
              .cast("int")))
        val freshBands = prune.withB(graft.operators.Dedup.codeBandIndex(
          hashes.filter(col("dhash").isNotNull),
          "doc_id", "dhash", bits, bandsCount))
        val standingAll = standingIndex(spark, idxDir)
        val standing = prune.restrict(standingAll, freshBands)
        val seedFallback = prune.withB(seedIndex)
        // enforced contract: the probe (the batch's band rows —
        // |batch| x bands) only broadcasts while it is actually micro
        val bcast = boundedBroadcast(broadcastProbe,
          hashes.count() * bandsCount, broadcastMaxRows)
        // capped screens take the hot-band exclusion from the sidecar
        // artifact + deltas instead of re-aggregating the standing
        // index every trigger (exact — see the sidecar comment block);
        // None before the first base commit (seed-fallback phase) or
        // when uncapped, where the per-call path is the right one
        val hotList =
          if (maxPosting > 0) hotBandList(spark, idxDir, maxPosting)
          else None
        writeVersionedOnce(spark, outDir, batchId) {
          graft.operators.Dedup.codeHammingScreen(
            hashes, "doc_id", "dhash", standing.getOrElse(seedFallback),
            bits, maxHamming, bandsCount, maxPosting,
            broadcastProbe = bcast, hotBands = hotList)
            .withColumn("batch_id", lit(batchId))
        }
        // undecodable rows still get a no-dup DECISION above, but
        // their null hashes never equi-match and would otherwise
        // accumulate as permanent dead weight in the standing index
        val init =
          if (standingAll.isEmpty) seedFallback.unionByName(freshBands)
          else freshBands
        val compacted = appendVersioned(spark, idxDir, batchId, init,
          compactEvery,
          compact = u => {
            val (adopted, n) = prune.adoptN(u, u.count())
            (adopted, None, n)
          })
        // refresh the hot-band sidecar eagerly at compaction cadence
        // (the O(index) aggregation rides the compaction that already
        // rewrote the index); a crash before this self-heals on the
        // next trigger's hotBandList
        if (maxPosting > 0)
          compacted.foreach(_ => ensureBandStats(spark, idxDir,
            maxPosting))
        ()
      }
    }

  /** Streaming SEMANTIC near-dup screen — the embedding face of the
    * arrival-time dedup matrix (MinHash [[startDedupScreen]], dHash
    * [[startMediaScreen]], exact-hash [[startWebScreen]], THIS): per
    * micro-batch of (id, embedding) rows, screen against the GROWING
    * LSH cell index with the batch operator
    * ([[graft.operators.Dedup.embeddingLshScreen]] — one
    * implementation, stream and batch cannot drift), write decisions
    * EXACTLY-ONCE to `outDir/v_<batchId>`, then merge the batch's own
    * index rows into the standing state via the versioned
    * rename-promoted layout. Crash/replay ordering is the media
    * screen's: decisions before index, so a replay either skips both
    * or redoes the merge against the intact previous version.
    *
    * `seedIndex` is the prebuilt corpus index
    * ([[graft.operators.Dedup.embeddingLshIndex]]); `seedPlanes` must
    * be the value the seed was built with. The bucket function is the
    * index's identity, so it never changes IN PLACE — but a growing
    * stream outgrows any fixed plane count (bucket occupancy ∝
    * n/2^planes, and the screen join cost is O(new × occupancy)), so
    * compaction ROTATES the index generation: when the standing count
    * crosses the `Similarity.adaptivePlanes` target, the compacted
    * base is re-bucketed from its stored normalized vectors under the
    * larger plane count and the base dir name carries the new
    * generation tag (`_p<planes>`); subsequent batches probe and
    * append under the rotated generation. Decisions already written
    * are append-only and untouched, and an exact duplicate of an
    * already-seen vector still screens as a duplicate across a
    * rotation (identical vectors share a bucket under ANY plane
    * count). At 100 TB the standing index is one row per vector ever
    * seen; index maintenance is the layered layout
    * ([[appendVersioned]]) — O(batch) written bytes per batch, full
    * rewrite only at compaction.
    */
  def startAnnScreen(stream: DataFrame, idCol: String, vecCol: String,
      seedIndex: DataFrame, seedPlanes: Int, threshold: Double,
      idxDir: String, outDir: String, checkpointDir: String,
      compactEvery: Int = 16, targetBucket: Int = 64,
      broadcastProbe: Boolean = true, pruneBuckets: Int = 0,
      broadcastMaxRows: Long = BroadcastMaxRows)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the CURRENT bucket-function generation: the latest base's
        // planes tag, else the seed's (pre-first-compaction batches)
        val planes = standingIndexPlanes(spark, idxDir)
          .getOrElse(seedPlanes)
        // ONE projection pass per batch (cast + norm + plane dots),
        // consumed by the screen probe AND the index merge —
        // micro-batch-bounded, so the fence is Fence.bounded
        val fresh = Fence.bounded(graft.operators.Dedup.embeddingLshIndex(
          batch, idCol, vecCol, planes))
        // b = LSH bucket mod N (see the Prune harness); rotation
        // changes the bucket, so the compaction adoption below
        // re-derives b AFTER the (possible) rotation
        val prune = pruneFor(spark, idxDir, pruneBuckets, (df, n) =>
          df.withColumn("b",
            pmod(col("bucket"), lit(n.toLong)).cast("int")))
        val standingAll = standingIndex(spark, idxDir)
        val standing = prune.restrict(standingAll, prune.withB(fresh))
        val seedFallback = prune.withB(seedIndex)
        // enforced contract: the probe (one projected row per batch
        // vector) only broadcasts while it is actually micro
        val bcast = boundedBroadcast(broadcastProbe, fresh.count(),
          broadcastMaxRows)
        writeVersionedOnce(spark, outDir, batchId) {
          graft.operators.Dedup.embeddingLshScreenOnIndex(
            fresh, batch.select(col(idCol).as("vec_id")),
            standing.getOrElse(seedFallback), threshold,
            broadcastProbe = bcast)
            .withColumn("batch_id", lit(batchId))
        }
        // null/zero-norm rows still got a no-dup DECISION above, but
        // they can never match (the screen's norm guard) and would
        // otherwise accumulate as permanent dead weight in the
        // standing index — the media screen's quarantine discipline
        val freshRows = prune.withB(fresh.filter(col("norm") > 0))
        val init =
          if (standingAll.isEmpty) seedFallback.unionByName(freshRows)
          else freshRows
        appendVersioned(spark, idxDir, batchId, init, compactEvery,
          compact = unioned => {
            // rotation decision: planes only grows (adaptivePlanes is
            // monotone in n), and the count is paid at compaction
            // cadence, not per batch
            val n = unioned.count()
            val next = math.max(planes,
              graft.operators.Similarity.adaptivePlanes(n, targetBucket))
            val rotated =
              if (next != planes)
                unioned.withColumn("bucket",
                  graft.operators.Similarity.lshBucket(col("v"), next))
              else unioned
            // adopt the prune parameter on the (possibly rotated)
            // bucket — b must follow the NEW bucket function; the
            // rotation count doubles as the AutoPrune sizing input
            val (adopted, nAdopt) = prune.adoptN(rotated, n)
            (adopted, Some(next), nAdopt)
          })
        ()
      }
    }

  /** Streaming web-curation screen — qQ4's corpus build (HTML → main-
    * content extraction → Gopher quality gate → exact-content-hash
    * dedup → disposition) at arrival time, with a GROWING canonical
    * index in the [[startMediaScreen]] layout. Per micro-batch of raw
    * (doc_id, html) rows:
    *
    *   1. ONE extraction pass (the expensive kernel), consumed by both
    *      the quality leg and the hash leg — micro-batch-bounded, so
    *      the in-batch fence is [[graft.plans.Fence.bounded]], not a
    *      stage write;
    *   2. resolve each batch hash against the STANDING canonical index
    *      (content_hash → first-arrival canonical doc id): the match
    *      set comes from ONE inner join of the index against the
    *      (broadcast) batch hashes — an outer join cannot broadcast
    *      its preserved side, so novel hashes are derived by a
    *      batch-local anti-join against that match set. A hash seen
    *      in ANY earlier batch keeps its standing canonical — the
    *      cross-batch duplicate only a growing index catches; unseen
    *      hashes take the batch-minimum id, qQ4's keep-min rule;
    *   3. write the disposition rows (doc_id, content_hash, canonical,
    *      quality_keep, keep = quality AND canonical) EXACTLY-ONCE to
    *      `outDir/v_<batchId>` — a duplicated disposition would corrupt
    *      the downstream corpus join;
    *   4. append ONLY the novel hashes as this batch's delta layer
    *      ([[appendVersioned]]) — layers stay disjoint (union-exact)
    *      and the write is O(batch); compaction min-merges
    *      defensively.
    *
    * Crash/replay ordering is [[startMediaScreen]]'s: dispositions land
    * before the index version, so replay either skips both or redoes
    * the merge against the still-intact previous version.
    *
    * At 100 TB the standing index is one (16-byte hash, id) row per
    * DISTINCT document ever seen, and each batch costs one equi-join of
    * the batch hashes against it — the exact-dedup scale shape, now
    * with arrival-time state. Index maintenance is the layered layout
    * ([[appendVersioned]]): a batch's delta holds only the hashes the
    * standing index had NOT seen (the batch-local anti-join above
    * marks them), so layers are disjoint by construction and a batch
    * writes O(its own novel hashes) bytes — never the full-index
    * rewrite. InfraSpec asserts stream == batch
    * (qQ4's disposition over the concatenated batches) with a
    * cross-batch duplicate that only the growing index catches.
    */
  def startWebScreen(stream: DataFrame, idCol: String, htmlCol: String,
      idxDir: String, outDir: String, checkpointDir: String,
      compactEvery: Int = 16, broadcastProbe: Boolean = true,
      pruneBuckets: Int = 0,
      broadcastMaxRows: Long = BroadcastMaxRows)
      : StreamingQuery =
    startStream(stream, checkpointDir) { _
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // one extraction pass per batch, consumed by two legs
        val ext = Fence.bounded(graft.operators.TextAnalysis
          .extractMainContent(batch, idCol, htmlCol)
          .where(col("n_kept") > 0)
          .select(col("doc_id"), col("content").as("text")))
        val quality = graft.operators.TextAnalysis
          .gopherRules(ext, "doc_id", "text")
          .select(col("doc_id"), col("keep").as("quality_keep"))
        val hashed = ext.select(col("doc_id"),
          md5(col("text")).as("content_hash"))
        // b = hash(content_hash) mod N (see the Prune harness):
        // partition the standing BASE by b and restrict each batch's
        // read to ITS OWN bucket set — parquet partition pruning then
        // bounds the per-batch READ by the batch's bucket share of
        // the index, not the whole index. Size N well above the
        // typical batch row count or the batch touches every bucket
        // and nothing prunes — or pass [[AutoPrune]] and let each
        // compaction derive N from the index's own row count.
        val prune = pruneFor(spark, idxDir, pruneBuckets, (df, n) =>
          df.withColumn("b",
            pmod(xxhash64(col("content_hash")), lit(n)).cast("int")))
        val standingAll = standingIndex(spark, idxDir)
        // fenced (micro-batch-bounded: <= |batch| distinct hashes):
        // consumed by the restrict bucket-set collect, the probe join,
        // and the novel-hash anti-join leg — without the fence the
        // md5+groupBy pass re-executes per consumer, and the restrict
        // collect becomes an extra full hash pass per trigger
        // (ADVICE r13)
        val batchMin = Fence.bounded(prune.withB(hashed
          .groupBy("content_hash").agg(min("doc_id").as("batch_min"))))
        val standing = prune.restrict(standingAll, batchMin)
        // `novel` marks hashes the standing index had not seen — they
        // and ONLY they go into this batch's index delta, which keeps
        // the layers disjoint (union-exact) and delta size O(batch).
        // The resolve against the standing index is an INNER join with
        // the micro-batch side BROADCAST (an outer join cannot
        // broadcast its preserved side, and a small-left outer join
        // would SHUFFLE the corpus-scale index every batch); the
        // unmatched = novel hashes come from a batch-local anti-join
        // against the (checkpointed, batch-bounded) match set.
        // enforced contract: the probe (distinct batch hashes, already
        // fenced) only broadcasts while it is actually micro
        val bcast = boundedBroadcast(broadcastProbe, batchMin.count(),
          broadcastMaxRows)
        // one resolve pass: decisions leg + delta leg
        val resolved = Fence.bounded(standing match {
          case Some(idx) =>
            val bCols = if (prune.on) Seq(col("b")) else Seq.empty
            val probeSide = batchMin.select(col("content_hash") +: bCols: _*)
            val probe = if (bcast) broadcast(probeSide)
              else probeSide
            val joinKeys = "content_hash" +:
              (if (prune.on) Seq("b") else Seq.empty)
            // one index scan; read by both legs
            val seen = Fence.bounded(idx
              .withColumnRenamed("canonical", "standing")
              .join(probe, joinKeys))
            seen.select(col("content_hash") +:
                col("standing").as("canonical") +:
                lit(false).as("novel") +: bCols: _*)
              .unionByName(batchMin
                .join(seen.select("content_hash"),
                  Seq("content_hash"), "left_anti")
                .select(col("content_hash") +:
                  col("batch_min").as("canonical") +:
                  lit(true).as("novel") +: bCols: _*))
          case None => batchMin
            .select(col("content_hash") +:
              col("batch_min").as("canonical") +:
              lit(true).as("novel") +: (if (prune.on)
                Seq(col("b")) else Seq.empty): _*)
        })
        writeVersionedOnce(spark, outDir, batchId) {
          hashed.join(resolved.drop("novel")
              .select("content_hash", "canonical"), "content_hash")
            .join(quality, "doc_id")
            .select(col("doc_id"), col("content_hash"), col("canonical"),
              col("quality_keep"),
              (col("quality_keep") && col("doc_id") === col("canonical"))
                .as("keep"),
              lit(batchId).as("batch_id"))
        }
        appendVersioned(spark, idxDir, batchId,
          resolved.filter(col("novel")).drop("novel"), compactEvery,
          // defensive min-merge at compaction: layers are disjoint by
          // construction, so this is a no-op that self-heals any
          // duplicate a future edge case might introduce. The prune
          // parameter is ADOPTED here (b re-derived from the hash
          // after the merge — functional on the grouping key).
          compact = u => {
            val merged = u.groupBy("content_hash")
              .agg(min("canonical").as("canonical"))
            val (adopted, n) = prune.adoptN(merged, merged.count())
            (adopted, None, n)
          })
        ()
      }
    }
}
