package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, SparkEntry, Tables}
import graft.catalog.ReferenceViews
import graft.operators.Dedup
import graft.streaming.Ingest

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <batchDir> <ingestDir> <outDir> <cpus>
  * }}}
  *
  * It sets the workload up once, then runs whole passes (or
  * ingest rounds) until `seconds` have passed, and writes `run.json`
  * to `outDir`: the raw timings, the attempted and failed operations,
  * the per-layer ledger of a traced run, and where each output lies
  * for the checks that `run.py` makes afterwards. The program is
  * driven only through its public entry points; every layer is timed
  * by timestamps around those calls and by listeners the harness
  * registers.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, batchDir: String, ingestDir: String, out: String,
      cpus: Int)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, all threads together. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The metrics that have a value: one taken over no successful
    * operation is left out, and run.py refuses a run that lacks it. */
  def defined(ms: (String, Double)*): Map[String, Double] =
    ms.filterNot(_._2.isNaN).toMap

  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      // the check pass writes timestamps in DuckDB's Arrow unit
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File("warehouse").getAbsolutePath)
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, batchDir, ingestDir, out, cpus) = args
    val c = Conf(workload, seed.toLong, seconds.toDouble, trace == "1",
      batchDir, ingestDir, out, cpus.toInt)
    new File(c.out).mkdirs()
    val w: Workload = workload match {
      case "batch_mix" => new BatchWorkload(c, Workloads.viewSurface ++ Workloads.curation)
      case "daily_ingest" => new IngestWorkload(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: from the start of the JVM to ready, i.e. a session up,
    // the base tables loaded and the workload's own preparation done
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def since(ms: Long) = (System.currentTimeMillis() - ms) / 1e3
    val mainS = since(jvmStart)
    val spark = session(c)
    val sessionS = since(jvmStart)
    Tables.names.filter(n => new File(s"${w.dataDir}/$n.parquet").exists)
      .foreach(Tables.load(spark, w.dataDir, _))
    val tablesS = since(jvmStart)
    w.prepare(spark)
    val setupS = since(jvmStart)
    val result = w.run(spark)
    val catalog =
      if (!c.trace) Map.empty[String, Any]
      else {
        // the catalog layer, measured once in every traced run
        val t0 = System.nanoTime()
        val names = ReferenceViews.deploy(spark, c.batchDir, force = true)
        Map("catalog.deploy_s" -> secs(t0), "catalog.views" -> names.size)
      }
    val doc = Map(
      "workload" -> workload, "seed" -> c.seed, "trace" -> c.trace,
      "cpus" -> c.cpus, "setup_s" -> setupS,
      "setup_marks_s" -> Map("main" -> mainS, "session" -> sessionS,
        "tables" -> tablesS, "ready" -> setupS)) ++
      result ++ Map("catalog" -> catalog)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(c.out, "run.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc))
    spark.stop()
  }

  /** The per-layer totals over a set of ledger entries. */
  def layerTotals(entries: Iterable[((String, String, String), Acc)],
      wall: Double, cpus: Int, written: Long): Map[String, Double] = {
    def sum(p: (((String, String, String), Acc)) => Boolean): Acc = {
      val a = new Acc
      entries.filter(p).foreach(e => a += e._2)
      a
    }
    val all = sum(_ => true)
    val build = sum(_._1._2 == "build")
    val exec = sum(_._1._2 == "exec")
    def site(s: String) = sum(_._1._3 == s)
    val fence = site(Sites.FenceBounded)
    val stage = site(Sites.Stage)
    val cc = site(Sites.Cc)
    def pct(a: Acc) = 100.0 * a.jobMs / 1e3 / wall
    Map(
      "build.jobs" -> build.jobs.toDouble, "build.tasks" -> build.tasks.toDouble,
      "exec.jobs" -> exec.jobs.toDouble, "exec.tasks" -> exec.tasks.toDouble,
      "scan.bytes_read" -> all.bytesRead.toDouble,
      "shuffle.read_bytes" -> all.shuffleRead.toDouble,
      "shuffle.write_bytes" -> all.shuffleWrite.toDouble,
      "task.cpu_s" -> all.cpuNs / 1e9,
      "task.busy_ratio" -> all.runMs / 1e3 / (wall * cpus),
      "gc.s" -> all.gcMs / 1e3,
      "task.failed" -> all.failedTasks.toDouble,
      "fence_bounded.jobs" -> fence.jobs.toDouble, "fence_bounded.pct" -> pct(fence),
      "stage.jobs" -> stage.jobs.toDouble, "stage.pct" -> pct(stage),
      "stage.bytes_written" -> written.toDouble,
      "cc.jobs" -> cc.jobs.toDouble, "cc.pct" -> pct(cc),
      "collect.jobs" -> sum(e => e._1._2 == "build" &&
        e._1._3 == Sites.Collect).jobs.toDouble)
  }

  def ledgerJson(entries: Iterable[((String, String, String), Acc)])
      : Seq[Map[String, Any]] =
    entries.toSeq.sortBy(_._1).map { case ((_, phase, site), a) =>
      Map("phase" -> phase, "site" -> site) ++ a.toMap }
}

trait Workload {
  def dataDir: String
  def prepare(spark: SparkSession): Unit
  def run(spark: SparkSession): Map[String, Any]
}

object Workloads {
  /** The statistics view read through five stacked deployed views
    * (qR0), the era-union and pin-diff chains whose planning is the
    * heaviest in the suite (q69, qH1), and the pdf/cdf table function
    * (q20). */
  val viewSurface: Seq[String] = Seq("qR0", "q69", "qH1", "q20")

  /** DBSCAN over LSH candidates, with an iterative connected-components
    * loop and stage writes (qO9), and the bounded-fence stats family's
    * fenced Q-Q table (qM9). */
  val curation: Seq[String] = Seq("qO9", "qM9")

  def select(ids: Seq[String]): Seq[GraftQuery] = {
    val byId = SparkEntry.allQueries.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    ids.map(id => byId.getOrElse(id, throw new NoSuchElementException(id)))
  }
}

/** A closed loop over a fixed query set, in the seed's order, on the
  * deployed reference views. */
final class BatchWorkload(c: Main.Conf, ids: Seq[String]) extends Workload {
  import Main._

  val dataDir: String = c.batchDir
  private val queries = new scala.util.Random(c.seed).shuffle(Workloads.select(ids))

  def prepare(spark: SparkSession): Unit = {
    ReferenceViews.deploy(spark, dataDir, force = true)
    ()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val counter = new JobCounter
    sc.addSparkListener(counter)
    val tracer = new Tracer
    val written = new WriteBytes
    val failures = mutable.Buffer.empty[Map[String, Any]]
    def attempt(pass: String, q: GraftQuery)(body: => Unit): Boolean =
      try { body; true } catch {
        case e: Exception =>
          failures += Map("op" -> q.name, "pass" -> pass,
            "message" -> String.valueOf(e.getMessage).take(500))
          false
      }

    // untimed check pass, which also warms the JVM and fills every
    // per-session memo (views, row counts): each result is written for
    // the oracle compare that follows the timed passes
    val outputs = mutable.Buffer.empty[Map[String, Any]]
    queries.foreach { q =>
      val dir = new File(c.out, s"results/${q.name}").getAbsolutePath
      if (attempt("check", q)(q.run(spark, dataDir).coalesce(1).write
          .mode("overwrite").parquet(dir)))
        outputs += Map("name" -> q.name, "dir" -> dir,
          "oracle" -> q.oracle.orNull)
    }
    if (c.trace) { sc.addSparkListener(tracer); spark.listenerManager.register(written) }

    val times = mutable.Map.empty[String, mutable.Buffer[Double]]
    val passes = mutable.Buffer.empty[Map[String, Any]]
    var attempted = 0
    val t0 = System.nanoTime()
    do {
      System.gc()
      PerfbenchBus.drain(sc)
      val jobs0 = counter.jobs.get
      val cpu0 = cpuS()
      val written0 = written.bytes.get
      var passS = 0.0
      val phases = mutable.Map("build" -> 0.0, "plan" -> 0.0, "exec" -> 0.0)
      val ledger = mutable.Buffer.empty[Map[String, Any]]
      val entries = mutable.Buffer.empty[((String, String, String), Acc)]
      val passNo = passes.size
      var clean = true
      queries.foreach { q =>
        attempted += 1
        val ok =
          if (!c.trace) {
            val q0 = System.nanoTime()
            val ok = attempt(s"timed$passNo", q)(noop(q.run(spark, dataDir)))
            if (ok) { val s = secs(q0); passS += s; times.getOrElseUpdate(q.name, mutable.Buffer.empty) += s }
            ok
          } else {
            sc.setLocalProperty(Props.Query, q.name)
            val ts = new Array[Long](4)
            val ok = attempt(s"timed$passNo", q) {
              sc.setLocalProperty(Props.Phase, "build")
              ts(0) = System.nanoTime()
              val df = q.run(spark, dataDir)
              ts(1) = System.nanoTime()
              sc.setLocalProperty(Props.Phase, "plan")
              df.queryExecution.executedPlan
              ts(2) = System.nanoTime()
              sc.setLocalProperty(Props.Phase, "exec")
              noop(df)
              ts(3) = System.nanoTime()
            }
            sc.setLocalProperty(Props.Phase, null)
            sc.setLocalProperty(Props.Query, null)
            PerfbenchBus.drain(sc)
            val mine = tracer.take().filter(_._1._1 == q.name)
            if (ok) {
              val Seq(b, p, e) = (1 to 3).map(i => (ts(i) - ts(i - 1)) / 1e9)
              val wall = (ts(3) - ts(0)) / 1e9
              phases("build") += b; phases("plan") += p; phases("exec") += e
              passS += wall
              times.getOrElseUpdate(q.name, mutable.Buffer.empty) += wall
              entries ++= mine
              ledger += Map("query" -> q.name, "wall_s" -> wall,
                "build_s" -> b, "plan_s" -> p, "exec_s" -> e,
                "jobs" -> ledgerJson(mine))
            }
            ok
          }
        clean &&= ok
      }
      val passCpu = cpuS() - cpu0
      PerfbenchBus.drain(sc)
      val jobs = counter.jobs.get - jobs0
      passes += Map("pass_s" -> passS, "cpu_s" -> passCpu, "jobs" -> jobs,
        "clean" -> clean) ++
        (if (!c.trace) Map.empty
         else Map("layers" -> (layerTotals(entries, passS, c.cpus,
           written.bytes.get - written0) ++
           phases.map { case (k, v) => s"$k.s" -> v }), "ledger" -> ledger))
    } while (secs(t0) < c.seconds)
    sc.removeSparkListener(tracer)
    spark.listenerManager.unregister(written)

    // a pass with a failed query has no whole-pass time, and a query
    // that failed every time has no time at all
    val perQuery = times.map { case (k, v) => k -> median(v.toSeq) }
    val whole = passes.filter(_("clean") == true).toSeq
    Map(
      "attempted" -> attempted,
      "failed" -> failures.count(_("pass").toString.startsWith("timed")),
      "failures" -> failures.toSeq,
      "order" -> queries.map(_.name),
      "passes" -> passes.toSeq,
      "per_query_s" -> perQuery.toMap,
      "metrics" -> (defined(
        "suite_s" -> median(whole.map(_("pass_s").asInstanceOf[Double])),
        "query_geomean_s" -> geomean(perQuery.values.toSeq)) ++ Map(
        "spark_jobs" -> median(passes.map(_("jobs").asInstanceOf[Long].toDouble).toSeq))),
      "outputs" -> outputs.toSeq)
  }
}

/** The production shape: daily drops appended to a date-partitioned
  * table, documents screened against a growing MinHash band index,
  * and a partition-filtered read of the appended table. */
final class IngestWorkload(c: Main.Conf) extends Workload {
  import Main._

  val dataDir: String = c.ingestDir
  // three document drops cross one compaction: a base, a delta, then
  // the fold of both into a new base
  val CompactEvery = 2
  // MinHash screen parameters (the streaming screen spec's)
  val (shingleN, bands, rowsPerBand, threshold) = (3, 8, 4, 0.5)
  val ReadFrom = "2024-01-08"
  val ReadTo = "2024-01-21"

  // the drops, staged by run.py before the JVM starts: one parquet
  // file per drop under drop_NN, oldest first
  private val stagingDir = new File("staging").getAbsolutePath
  private def eventsIn = s"$stagingDir/events"
  private def docsIn = s"$stagingDir/documents"
  private def drops(dir: String) =
    Option(new File(dir).listFiles()).map(_.count(_.getName.startsWith("drop_"))).getOrElse(0)
  private val eventDrops = drops(eventsIn)
  private val docDrops = drops(docsIn)

  def prepare(spark: SparkSession): Unit = ()

  def run(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val counter = new JobCounter
    sc.addSparkListener(counter)
    val streams = new StreamTracer
    spark.streams.addListener(streams)
    val tracer = new Tracer
    val written = new WriteBytes
    val evSchema = Tables.load(spark, dataDir, "events").schema
    val docs = Tables.load(spark, dataDir, "documents")
    val nEvents = Tables.rowCount(spark, dataDir, "events")
    val nDocs = Tables.rowCount(spark, dataDir, "documents")
    val seedIndex = Dedup.lshBandIndex(docs.limit(0), "doc_id", "text",
      shingleN, bands, rowsPerBand).localCheckpoint()
    val failures = mutable.Buffer.empty[Map[String, Any]]
    var attempted = 0
    var failed = 0

    /** One ingest round into fresh output dirs. */
    def round(k: Int): Map[String, Any] = {
      val dir = new File(c.out, s"ingest/round_$k").getAbsolutePath
      val appended = s"$dir/events_by_date"
      val idxDir = s"$dir/index"
      val decisions = s"$dir/decisions"
      PerfbenchBus.drain(sc)
      streams.take()
      tracer.take()
      val jobs0 = counter.jobs.get
      val written0 = written.bytes.get
      val ops = eventDrops + docDrops + 1
      var okOps = 0
      var clean = true
      def fail(op: String, e: Throwable): Unit =
        failures += Map("op" -> op, "pass" -> s"timed$k",
          "message" -> String.valueOf(e.getMessage).take(500))

      sc.setLocalProperty(Props.Query, "daily_ingest")
      sc.setLocalProperty(Props.Phase, "stream")
      val t0 = System.nanoTime()
      try {
        val q = Ingest.startPartitionedAppend(
          Ingest.streamTable(spark, s"$eventsIn/drop_*", evSchema, maxFilesPerTrigger = 1),
          appended, s"$dir/ckpt_events")
        try q.processAllAvailable() finally q.stop()
      } catch { case e: Exception => clean = false; fail("events_stream", e) }
      val t1 = System.nanoTime()
      // the index layers on disk, polled while the screen runs: every
      // base layer promoted by a compaction is seen
      val bases = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      @volatile var polling = true
      def listBases(): Unit = Option(new File(idxDir).listFiles()).foreach(
        _.map(_.getName).filter(n => n.startsWith("v_") && n.contains("b"))
          .foreach(bases.add))
      val poller = new Thread(() => while (polling) { listBases(); Thread.sleep(5) })
      poller.setDaemon(true)
      poller.start()
      try {
        val q = Ingest.startMinhashScreen(
          Ingest.streamTable(spark, s"$docsIn/drop_*", docs.schema, maxFilesPerTrigger = 1),
          "doc_id", "text", seedIndex, shingleN, bands, rowsPerBand, threshold,
          idxDir, decisions, s"$dir/ckpt_docs", compactEvery = CompactEvery)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      } catch { case e: Exception => clean = false; fail("documents_stream", e) }
      polling = false
      poller.join()
      listBases()
      val t2 = System.nanoTime()
      val layers = Option(new File(idxDir).listFiles()).map(
        _.count(_.getName.startsWith("v_"))).getOrElse(0)

      // the partition-filtered read, timed by phase like a batch query
      sc.setLocalProperty(Props.Phase, "build")
      val r0 = System.nanoTime()
      var readRows: Seq[Map[String, Any]] = Nil
      var r1, r2 = r0
      try {
        val df = spark.read.parquet(appended)
          .where(col("date").between(ReadFrom, ReadTo))
          .groupBy("date").agg(count(lit(1)).as("n"), sum("value").as("value_sum"))
        r1 = System.nanoTime()
        sc.setLocalProperty(Props.Phase, "plan")
        df.queryExecution.executedPlan
        r2 = System.nanoTime()
        sc.setLocalProperty(Props.Phase, "exec")
        readRows = df.collect().toSeq.map(r =>
          Map("date" -> r.getDate(0).toString, "n" -> r.getLong(1), "value_sum" -> r.getDouble(2)))
        okOps += 1
      } catch { case e: Exception => clean = false; fail("partition_read", e) }
      val r3 = System.nanoTime()
      sc.setLocalProperty(Props.Phase, null)
      sc.setLocalProperty(Props.Query, null)
      PerfbenchBus.drain(sc)
      val jobs = counter.jobs.get - jobs0
      val progress = streams.take()
      okOps += progress.size
      val batchS = progress.map(_.durationMs.get("triggerExecution").toDouble / 1e3)
      val streamS = (t2 - t0) / 1e9
      val readS = (r3 - r0) / 1e9
      attempted += ops
      failed += ops - okOps
      // a round in which a stream or the read threw has no round time:
      // only its micro-batches that completed keep their own times
      val base = Map(
        "dir" -> dir, "appended" -> appended, "decisions" -> decisions,
        "clean" -> clean, "stream_s" -> streamS,
        "events_stream_s" -> (t1 - t0) / 1e9, "documents_stream_s" -> (t2 - t1) / 1e9,
        "read_s" -> readS, "batch_s" -> batchS, "jobs" -> jobs,
        "round_s" -> (streamS + readS),
        "rows_per_s" -> (nEvents + nDocs) / streamS,
        "op_geomean_s" -> geomean(batchS :+ readS),
        "read_from" -> ReadFrom, "read_to" -> ReadTo, "read_rows" -> readRows,
        "ok_ops" -> okOps, "ops" -> ops)
      if (!c.trace) base
      else {
        def dur(key: String) = progress.map(_.durationMs.get(key).toDouble).sum
        val trig = dur("triggerExecution")
        val entries = tracer.take()
        base ++ Map("layers" -> (layerTotals(entries, streamS + readS, c.cpus,
          written.bytes.get - written0) ++ Map(
          "build.s" -> (r1 - r0) / 1e9, "plan.s" -> (r2 - r1) / 1e9,
          "exec.s" -> (r3 - r2) / 1e9,
          "stream.batches" -> progress.size.toDouble,
          "stream.add_batch_pct" -> 100.0 * dur("addBatch") / trig,
          "stream.planning_pct" -> 100.0 * dur("queryPlanning") / trig,
          "stream.commit_pct" -> 100.0 * dur("commitOffsets") / trig,
          "stream.index_layers" -> layers.toDouble,
          "stream.compactions" -> (bases.size - 1).toDouble)),
          "ledger" -> ledgerJson(entries))
      }
    }

    // whole rounds until time is up; set-up's staging writes warm the
    // JVM, and a round is long enough to need no warm round of its own
    if (c.trace) { sc.addSparkListener(tracer); spark.listenerManager.register(written) }
    val rounds = mutable.Buffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    do rounds += round(rounds.size + 1) while (secs(t0) < c.seconds)
    sc.removeSparkListener(tracer)
    val whole = rounds.filter(_("clean") == true).toSeq
    def med(key: String) = median(whole.map(_(key).asInstanceOf[Double]))
    Map(
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq,
      "event_drops" -> eventDrops, "doc_drops" -> docDrops,
      "rows" -> (nEvents + nDocs),
      "passes" -> rounds.toSeq,
      "metrics" -> (defined(
        "suite_s" -> med("round_s"),
        "query_geomean_s" -> med("op_geomean_s"),
        "rows_per_s" -> med("rows_per_s")) ++ Map(
        "spark_jobs" -> median(rounds.map(_("jobs").asInstanceOf[Long].toDouble).toSeq))))
  }
}
