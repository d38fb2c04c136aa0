package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._

import graft.streaming.{Ingest, SchemeCheckpointFileManager}

/** The ingest streams' checkpoint manager: local checkpoints go through
  * the FileSystem API, results equal Spark's default manager's, and a
  * restarted append lands every row exactly once. */
class CheckpointSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The appended columns of the sf0.001 events. */
  private def events: DataFrame = Tables.load(spark, sf, "events")
    .select("event_id", "ts", "user_id", "value")

  /** Write each (i, frame) as one parquet drop `drop_<i>` under `dir`,
    * drop i's file stamped i seconds after a common base, so the file
    * source (one file per micro-batch) takes the drops in order. */
  private def writeDrops(dir: File, drops: Seq[(Int, DataFrame)]): Unit = {
    val base = System.currentTimeMillis() - 100000L
    for ((i, df) <- drops) {
      val d = new File(dir, f"drop_$i%02d")
      df.repartition(1).write.parquet(d.getAbsolutePath)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(base + i * 1000L))
    }
  }

  /** The sf0.001 events of `days` (indices into the sorted distinct
    * event dates) as one drop per day. */
  private def writeEventDrops(dir: File, days: Range): Unit = {
    val ev = events
    val dates = ev.select(to_date(col("ts")).as("d")).distinct()
      .orderBy("d").collect().map(_.getDate(0).toString)
    writeDrops(dir, days.map(i =>
      i -> ev.where(to_date(col("ts")) === lit(dates(i)).cast("date"))))
  }

  private def eventStream(in: File): DataFrame =
    Ingest.streamTable(spark, in.getAbsolutePath + "/drop_*",
      events.schema, maxFilesPerTrigger = 1)

  /** Run the partitioned append until the input is drained, then stop. */
  private def append(in: File, out: String, ckpt: String): Unit = {
    val q = Ingest.startPartitionedAppend(eventStream(in), out, ckpt)
    try q.processAllAvailable() finally q.stop()
  }

  /** (date, event_id) of every appended row, read through the sink's
    * `_spark_metadata` log. */
  private def appended(out: String): Seq[(String, Long)] =
    spark.read.parquet(out).select(col("date").cast("string"),
      col("event_id")).collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sorted

  private def tmp(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  /** (date, event_id) of every sf0.001 event dated up to `last`. */
  private def eventsThrough(last: String): Seq[(String, Long)] =
    events
      .select(to_date(col("ts")).cast("string").as("d"), col("event_id"))
      .where(col("d") <= last)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  test("checkpoint manager scheme rule: file paths take the " +
    "FileSystem-based manager, hdfs paths keep Spark's default") {
    import SchemeCheckpointFileManager.fileSystemApi
    val conf = new Configuration(false)
    assert(fileSystemApi(new Path("file:/tmp/ckpt"), conf))
    assert(fileSystemApi(new Path("file:///tmp/ckpt"), conf))
    // a scheme-less path resolves against the default file system
    assert(fileSystemApi(new Path("/tmp/ckpt"), conf))
    assert(!fileSystemApi(new Path("hdfs://nn:8020/ckpt"), conf))
    assert(!fileSystemApi(new Path("s3a://bucket/ckpt"), conf))
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!fileSystemApi(new Path("/tmp/ckpt"), conf))
    assert(fileSystemApi(new Path("file:/tmp/ckpt"), conf))
    // and the manager Spark builds for a local checkpoint delegates to
    // the FileSystem-based one
    val m = new SchemeCheckpointFileManager(
      new Path(tmp("ck-rule").getAbsolutePath),
      spark.sessionState.newHadoopConf())
    assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(m.isLocal)
  }

  test("checkpoint manager install: a session that names no manager " +
    "gets the scheme-chosen one; a session that names its own keeps it") {
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(ManagerKey).isEmpty)
    SchemeCheckpointFileManager.install(fresh)
    assert(fresh.conf.get(ManagerKey) ==
      classOf[SchemeCheckpointFileManager].getName)
    SchemeCheckpointFileManager.install(fresh)
    assert(fresh.conf.get(ManagerKey) ==
      classOf[SchemeCheckpointFileManager].getName)
    // a deployment's own manager, set before any stream starts
    val own = spark.newSession()
    own.conf.set(ManagerKey,
      classOf[FileContextBasedCheckpointFileManager].getName)
    SchemeCheckpointFileManager.install(own)
    assert(own.conf.get(ManagerKey) ==
      classOf[FileContextBasedCheckpointFileManager].getName)
    // the installed setting is per session
    assert(spark.newSession().conf.getOption(ManagerKey).isEmpty)
  }

  test("checkpoint manager equivalence: the partitioned append and the " +
    "MinHash screen give the same rows, decisions and index layers under " +
    "Spark's default manager and under the FileSystem-based one") {
    import graft.operators.Dedup
    val eventsIn = tmp("ck-ev-in")
    writeEventDrops(eventsIn, 0 until 5)
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val docsIn = tmp("ck-doc-in")
    writeDrops(docsIn, (0 until 3).map(k =>
      k -> docs.where(pmod(col("doc_id"), lit(3)) === k)))
    val (sn, bands, rpb, t) = (3, 8, 4, 0.5)
    val seedIndex = Dedup.lshBandIndex(docs.limit(0), "doc_id", "text",
      sn, bands, rpb).localCheckpoint()

    /** One round of both streams into fresh dirs: the appended rows,
      * the screen decisions, the index layer names and the standing
      * index rows, and the manager class the session had installed. */
    def round() = {
      val out = tmp("ck-ev-out").getAbsolutePath
      append(eventsIn, out, tmp("ck-ev-ck").getAbsolutePath)
      val installed = spark.conf.get(ManagerKey)
      val idx = tmp("ck-idx").getAbsolutePath
      val dec = tmp("ck-dec").getAbsolutePath
      val q = Ingest.startMinhashScreen(
        Ingest.streamTable(spark, docsIn.getAbsolutePath + "/drop_*",
          docs.schema, maxFilesPerTrigger = 1),
        "doc_id", "text", seedIndex, sn, bands, rpb, t, idx, dec,
        tmp("ck-doc-ck").getAbsolutePath, compactEvery = 2)
      assert(q.awaitTermination(120000))
      q.exception.foreach(e => throw e)
      val decisions = Ingest.versionedRows(spark, dec)
        .select("doc_id", "is_dup", "dup_of", "batch_id").collect()
        .map(_.toString).toSeq.sorted
      val layers = new File(idx).listFiles().map(_.getName)
        .filter(_.startsWith("v_")).toSeq.sorted
      val standing = Ingest.standingIndex(spark, idx).get.collect()
        .map(_.toString).toSeq.sorted
      (appended(out), decisions, layers, standing, installed)
    }

    // a session naming Spark's default manager keeps it; with no
    // manager named, the helper installs the scheme-chosen one
    val preset = spark.conf.getOption(ManagerKey)
    val (viaDefault, viaHelper) = try {
      spark.conf.set(ManagerKey,
        classOf[FileContextBasedCheckpointFileManager].getName)
      val d = round()
      spark.conf.unset(ManagerKey)
      (d, round())
    } finally preset match {
      case Some(c) => spark.conf.set(ManagerKey, c)
      case None => spark.conf.unset(ManagerKey)
    }
    assert(viaDefault._5 == classOf[FileContextBasedCheckpointFileManager].getName)
    assert(viaHelper._5 == classOf[SchemeCheckpointFileManager].getName)
    // every sf0.001 row of the 5 days, once
    assert(viaHelper._1.map(_._1).distinct.size == 5)
    assert(viaHelper._1 == eventsThrough(viaHelper._1.map(_._1).max))
    assert(viaHelper._1 == viaDefault._1, "appended rows per date")
    assert(viaHelper._2.size == 500)
    assert(viaHelper._2 == viaDefault._2, "screen decisions")
    // 3 batches with compactEvery 2: a base, a delta, then the fold of
    // both into a new base, which supersedes them
    assert(viaHelper._3 == Seq("v_00000000000000000002b"),
      viaHelper._3.mkString(", "))
    assert(viaHelper._3 == viaDefault._3, "index layers")
    assert(viaHelper._4 == viaDefault._4, "standing index rows")
  }

  test("checkpoint restart: an append stopped after k of n drops and " +
    "restarted, then re-run from a deleted last commit, lands every row " +
    "exactly once") {
    val in = tmp("ck-rs-in")
    val out = tmp("ck-rs-out").getAbsolutePath
    val ckpt = tmp("ck-rs-ck").getAbsolutePath
    val (k, n) = (3, 6)
    def commits: Seq[String] = Option(new File(ckpt, "commits").list())
      .getOrElse(Array.empty[String]).filter(_.forall(_.isDigit))
      .toSeq.sortBy(_.toInt)
    def sinkBatches: Seq[String] =
      new File(out, "_spark_metadata").list()
        .filter(_.forall(_.isDigit)).toSeq.sortBy(_.toInt)
    def exactlyOnce(days: Int): Seq[(String, Long)] = {
      val rows = appended(out)
      assert(rows.map(_._2).distinct.size == rows.size, "a row landed twice")
      assert(rows.map(_._1).distinct.size == days)
      rows
    }

    // k drops, then stop
    writeEventDrops(in, 0 until k)
    append(in, out, ckpt)
    assert(commits == (0 until k).map(_.toString))
    val firstK = exactlyOnce(k)

    // the rest arrive; the restart resumes at batch k
    writeEventDrops(in, k until n)
    append(in, out, ckpt)
    assert(commits == (0 until n).map(_.toString))
    val all = exactlyOnce(n)
    assert(firstK.toSet.subsetOf(all.toSet))
    assert(all == eventsThrough(all.map(_._1).max))
    val filesBefore = spark.read.parquet(out).inputFiles.toSet

    // lose the last commit: the restart re-runs batch n-1, whose sink
    // write is already in _spark_metadata, so it appends nothing again
    val last = n - 1
    new File(ckpt, s"commits/$last").delete()
    new File(ckpt, s"commits/.$last.crc").delete()
    assert(commits == (0 until last).map(_.toString))
    append(in, out, ckpt)
    assert(commits == (0 until n).map(_.toString), "batch n-1 was not re-run")
    assert(sinkBatches == (0 until n).map(_.toString))
    assert(exactlyOnce(n) == all)
    assert(spark.read.parquet(out).inputFiles.toSet == filesBefore)
  }
}
