package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection tool: prints the formatted physical plan of selected
  * queries plus a scale scorecard (pushed filters, scan schema width,
  * exchange count, broadcast vs sort-merge joins, codegen coverage).
  *
  * Usage: runMain graft.PlanAudit [sfDir] [queryName ...]
  */
object PlanAudit {

  /** `PLAN_CONF` ("k=v,k2=v2") as (key, value) pairs, split on each
    * entry's first `=`. Empty entries are skipped; an entry without `=`
    * fails naming it.
    */
  private[graft] def parseConf(spec: String): Seq[(String, String)] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"PLAN_CONF entry '$kv' has no '=' (expected k=v,k2=v2)")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val wanted = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // PLAN_CONF="k=v,k2=v2": session confs for the audited plans —
    // lets a conf-gated optimization dump its before shape (e.g.
    // graft.scan.parallelismFloor=0)
    sys.env.get("PLAN_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })

    SparkEntry.allQueries
      .filter(q => wanted.isEmpty || wanted(q.name))
      .foreach { q =>
        val df = q.run(spark, sfDir)
        // Formatted mode includes scan details (PushedFilters, ReadSchema)
        // that AdaptiveSparkPlan's toString abbreviates away.
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val exchanges = "Exchange".r.findAllIn(plan).size
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        val pushed = "PushedFilters: \\[[^\\]]*[a-zA-Z][^\\]]*\\]".r
          .findAllIn(plan).size
        println(s"== ${q.name}: exchanges=$exchanges bhj=$bhj smj=$smj " +
          s"bnlj=$bnl scansWithPushedFilters=$pushed")
        if (sys.env.contains("PLAN_FULL")) {
          df.explain("formatted")
        }
      }
    spark.stop()
  }
}
