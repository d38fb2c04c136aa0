package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM; ~5 s startup paid once).
  * Extensions are installed so the partition-filter check rule is live,
  * exactly as a production session would run.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // The scan/CPU parallelism floor (Tables.load, Parallel.cpuFloor)
      // fires exactly when splits < cores — i.e. on every single-file
      // test fixture but never at cluster scale. The suite's plan-shape
      // pins audit the SCALE shape, so the shared session runs with the
      // floor off; the floor's own conditional behavior has a dedicated
      // spec on a fresh newSession (PlanSpec). Set at session creation
      // because Tables.load memoizes frames per session — a mid-suite
      // conf flip would race the cache.
      .config("graft.scan.parallelismFloor", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Run `body` with the driver bound of `Fence.driverBounded` at -1,
    * so no staged frame is driver-bounded and every `Fence.tiered`
    * caller takes its corpus tier (`Dedup.connectedComponents` its
    * HashMin rounds, the `Drift` reductions their prefix-sum plans). */
  protected def onCorpusTier[A](body: => A): A =
    graft.plans.Fence.driverBoundBytes.withValue(-1L)(body)
}
