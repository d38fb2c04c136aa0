package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Benchmark main: runs every declared query against SPARK_GRAFT_SF_DIR
  * and prints one JSON line.
  *
  * Queries are executed through the `noop` sink, not `count()` — count lets
  * Catalyst prune every non-grouping column and skip the aggregate math,
  * which would under-report; noop materializes the full result columns.
  *
  * The stdout line carries, in order: `metric` ("total"), `value` (the sum
  * of the per-query minima, seconds), `unit`, `load_ok`/`load1` (the
  * start-load fence), `canary_pre`/`canary_post` ({read, write} seconds,
  * -1 when the canary failed), `queries` (qNN prefix -> min seconds),
  * `failed` (qNN prefixes of the queries that threw in a timed pass) and
  * `sf`. `target/bench_last.json` is a copy of that line, and
  * `target/BENCH_full.json` carries the same run under full query names
  * with both per-pass readings and each canary's raw `/proc/loadavg`.
  * Both files are written on full runs only (no SPARK_GRAFT_ONLY). A run
  * with any failed query exits non-zero after writing them.
  *
  * The bench records raw readings only: cross-run comparison, with the
  * read canary divided out, is the job of the test-scope tool
  * `graft.tools.DriftReport`.
  */
object Bench {

  /** Per-query minimum seconds, in declaration order, of the queries that
    * completed in every timed pass, and the names of those that threw in
    * any pass. A failure's time-to-exception is not a timing: it enters
    * neither `queries` nor `total`.
    */
  private[graft] final case class Timings(queries: Seq[(String, Double)],
      failed: Seq[String]) {
    def total: Double = queries.map(_._2).sum
  }

  /** One timed pass over `queries` through the noop sink: seconds per
    * query that completed. A query that throws is reported on stderr and
    * is absent from the map. The pass starts on a clean heap so the
    * previous pass's garbage doesn't bill a major GC to whichever query
    * trips it.
    */
  private[graft] def timedPass(spark: SparkSession, sfDir: String,
      queries: Seq[GraftQuery]): Map[String, Double] = {
    System.gc()
    queries.flatMap { q =>
      val t0 = System.nanoTime()
      try {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some(q.name -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          None
      }
    }.toMap
  }

  /** Folds the timed passes over the queries `names` into [[Timings]]. */
  private[graft] def minima(names: Seq[String],
      passes: Seq[Map[String, Double]]): Timings = {
    val (ok, failed) = names.partition(n => passes.forall(_.contains(n)))
    Timings(ok.map(n => n -> passes.map(_(n)).min), failed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Probe mode: SPARK_GRAFT_ONLY=qB7,q28 restricts the run to the named
    // queries (short qNN prefixes or full names) — for steady-state
    // regression probes without paying the full-suite wall time.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // Load fence: a benchmark started on an already-busy host measures
    // the neighbors, not the engine (two past round artifacts recorded
    // 1.3-3.4x phantom regressions that vanished on an idle re-run).
    // Record the 1-min load average at start (-1 where the OS has none)
    // and flag the artifact — readings taken with load_ok=false should
    // be discarded in favor of SCALE.md's clean-run numbers.
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val nCpu = Runtime.getRuntime.availableProcessors
    // idle threshold: anything over half the cores already running when
    // the bench starts will contend with the 32 task threads
    val loadOk = load1 < 0 || load1 <= nCpu * 0.5
    if (!loadOk)
      System.err.println(f"[bench] WARNING: start load1=$load1%.1f on " +
        s"$nCpu cpus — timings will include neighbor contention")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // I/O-regime canary: a FIXED read (full scan of the largest base
    // table through noop) and a FIXED write (2M-row parquet overwrite,
    // the flush-sensitive side — the r14 evening band was D-state
    // flush load with idle CPU), each min-of-2, plus the raw
    // /proc/loadavg, captured BEFORE the warmup and AFTER the last
    // timed pass. A band where the canaries and the trivial tail
    // inflate uniformly is host weather; a regression confined to
    // specific queries with flat canaries is code. DriftReport divides
    // the read canary out when it compares two artifacts.
    def loadavg(): String = try {
      new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    } catch { case NonFatal(_) => "" } // no /proc off Linux: record none
    def canary(): (Double, Double, String) = {
      // a FAILED canary must record -1, not its time-to-exception: a
      // fast failure would read as healthy I/O
      def readOnce(): Double = {
        val t0 = System.nanoTime()
        try {
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case NonFatal(_) => -1.0 }
      }
      def writeOnce(): Double = {
        val t0 = System.nanoTime()
        try {
          spark.range(2000000L)
            .selectExpr("id", "id * 37 % 1000 AS k",
              "CAST(id AS STRING) AS s")
            .write.mode("overwrite").parquet("target/bench_canary.parquet")
          (System.nanoTime() - t0) / 1e9
        } catch { case NonFatal(_) => -1.0 }
      }
      def minOk(a: Double, b: Double): Double =
        if (a < 0 || b < 0) -1.0 else math.min(a, b)
      (minOk(readOnce(), readOnce()),
        minOk(writeOnce(), writeOnce()), loadavg())
    }
    val canaryPre = canary()

    // Untimed warm-up pass over the full query set: JIT compilation (C2
    // churning under 32 concurrent task threads) and janino codegen of a
    // fresh JVM otherwise land on RANDOM queries, measured as 10-30% noise
    // swings between identical runs. One pass compiles every hot path;
    // the timed pass below then measures steady-state engine throughput —
    // standard harness methodology (JMH warmup iterations).
    // Budgets scale with the query count (the set has grown across
    // rounds; fixed cutoffs tuned for 67 queries silently skipped the
    // refinement pass once the first pass naturally summed past them).
    val benchQueries = SparkEntry.allQueries.filter(q => only.forall(sel =>
      sel.contains(q.name) || sel.contains(q.name.takeWhile(_ != '_'))))
    val nQueries = benchQueries.size
    val warmBudgetSec = math.max(100L, nQueries * 2L)
    val warmDeadline = System.nanoTime() + warmBudgetSec * 1000000000L
    benchQueries.foreach { q =>
      // on a degraded host, cap warmup rather than blow the wall budget —
      // un-warmed queries just measure slightly colder
      if (System.nanoTime() < warmDeadline) {
        try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case NonFatal(_) => () } // the timed passes record it
      }
    }

    // Two timed passes, per-query minimum: transient host-level stalls
    // (GC, scheduler, VM neighbors) land on random queries and inflate a
    // single pass by up to 30%; the min of two independent passes is the
    // steady-state throughput the engine actually sustains.
    val p1 = timedPass(spark, sfDir, benchQueries)
    // On a healthy host pass 1 sums to well under 2s/query; if the
    // machine is badly degraded, skip the refinement pass rather than
    // risk the harness's wall budget — min-of-one is just pass 1.
    val p2 =
      if (p1.values.sum < nQueries * 2.0) timedPass(spark, sfDir, benchQueries)
      else p1
    val canaryPost = canary()
    val timings = minima(benchQueries.map(_.name), Seq(p1, p2))

    // The stdout line has been read from a 2000-char log tail (BENCH_r03's
    // "tail" field is exactly 2000 chars). 3-decimal values plus
    // qNN-prefix keys keep it compact; the intact artifact is the file
    // twin below. Full query names remain in CORRECTNESS_r*.json; qNN is
    // the unique prefix of each.
    def short(name: String): String = name.takeWhile(_ != '_')
    require(benchQueries.map(q => short(q.name)).distinct.size == nQueries,
      "bench short keys collide — fix query numbering")
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def names(ns: Seq[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    // stdout stays numeric-compact; the raw loadavg strings live in the
    // file twin below
    def canaryJson(c: (Double, Double, String), full: Boolean): String =
      s"""{"read":${fmt(c._1)},"write":${fmt(c._2)}""" +
        (if (full) s""","loadavg":"${c._3}"}""" else "}")
    val qs = timings.queries.map { case (k, v) =>
      "\"" + short(k) + "\":" + fmt(v) }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${fmt(timings.total)},"unit":"sec",""" +
        s""""load_ok":$loadOk,"load1":${fmt(load1)},""" +
        s""""canary_pre":${canaryJson(canaryPre, full = false)},""" +
        s""""canary_post":${canaryJson(canaryPost, full = false)},""" +
        s""""queries":$qs,"failed":${names(timings.failed.map(short))},""" +
        s""""sf":"$sfDir"}"""
    println(json)
    // File twin of the stdout line: the same two-pass minima under FULL
    // query names plus both per-pass readings, so a reader never depends
    // on a truncated log tail. Full runs only — a SPARK_GRAFT_ONLY probe
    // can't clobber the last full-suite numbers.
    if (only.isEmpty) {
      val fullQs = timings.queries.map { case (k, v) =>
        s""""$k":{"min":${fmt(v)},"p1":${fmt(p1(k))},"p2":${fmt(p2(k))}}"""
      }.mkString("{", ",", "}")
      val fullJson =
        s"""{"metric":"total","value":${fmt(timings.total)},"unit":"sec",""" +
          s""""load_ok":$loadOk,"load1":${fmt(load1)},""" +
          s""""canary_pre":${canaryJson(canaryPre, full = true)},""" +
          s""""canary_post":${canaryJson(canaryPost, full = true)},""" +
          s""""n_queries":$nQueries,"queries":$fullQs,""" +
          s""""failed":${names(timings.failed)},"sf":"$sfDir"}"""
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/bench_last.json"), json)
      Files.writeString(Paths.get("target/BENCH_full.json"), fullJson)
    }
    spark.stop()
    if (timings.failed.nonEmpty) sys.exit(1)
  }
}
