package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool: per-JOB wall breakdown of one or more declared queries —
  * which Spark jobs a query spends its seconds in (stage fences,
  * propagation rounds, the final noop sink), with per-stage shuffle
  * volumes. The bench gives per-query totals; this tool answers "where
  * inside the query" before an optimization touches it (guide §1).
  *
  *   JobProfile <sfDir> <queryName> [queryName ...]
  *
  * Mirrors Bench's session shape (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus, AQE on) so the breakdown matches what the bench
  * measures, and times through the same noop sink.
  */
object JobProfile {

  private case class JobRow(id: Int, desc: String, sec: Double,
      stages: Int, tasks: Int, shuffleReadMB: Double,
      shuffleWriteMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <sfDir> <query> [...]")
    val sfDir = args(0)
    val wanted = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[JobRow]())
    val stageShuffle = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double, Int)]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStart.put(js.jobId, (System.nanoTime(), desc))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stageShuffle.put(sc.stageInfo.stageId,
          (m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            sc.stageInfo.numTasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(je.jobId)).foreach { case (t0, desc) =>
          var (rd, wr, tasks, stages) = (0.0, 0.0, 0, 0)
          stageToJob.forEach { (sid, jid) =>
            if (jid == je.jobId) Option(stageShuffle.get(sid)).foreach {
              case (r, w, t) => rd += r; wr += w; tasks += t; stages += 1
            }
          }
          rows.add(JobRow(je.jobId, desc,
            (System.nanoTime() - t0) / 1e9, stages, tasks, rd, wr))
        }
      }
    })

    val qs = graft.SparkEntry.allQueries.filter(q => wanted(q.name))
    // one warm pass (JIT/codegen), then the profiled pass
    qs.foreach { q =>
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => println(s"[profile] warm ${q.name} failed: $e") }
    }
    // listener events are async: the scheduler posts a job's JobEnd
    // before the action returns, so once the bus is drained every job
    // of the finished query has its row. A drain that times out is
    // reported, and the rows seen so far are printed.
    def drain(): Unit =
      try TestBus.drain(spark.sparkContext)
      catch { case e: java.util.concurrent.TimeoutException =>
        println(s"[profile] listener bus not drained: $e") }
    qs.foreach { q =>
      drain()
      rows.clear()
      spark.sparkContext.setJobDescription(s"${q.name}")
      val t0 = System.nanoTime()
      val failure =
        try { q.run(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case NonFatal(e) => Some(e) }
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      drain()
      failure match {
        case Some(e) =>
          println(f"%n==== ${q.name}: FAILED after ${rows.size} jobs: $e ====")
        case None =>
          println(f"%n==== ${q.name}: total $total%.3f s, ${rows.size} jobs ====")
      }
      val it = rows.iterator()
      var sum = 0.0
      while (it.hasNext) {
        val r = it.next()
        sum += r.sec
        println(f"  job ${r.id}%4d ${r.sec}%7.3f s stages=${r.stages}%2d " +
          f"tasks=${r.tasks}%4d shufR=${r.shuffleReadMB}%8.2f MB " +
          f"shufW=${r.shuffleWriteMB}%8.2f MB  ${r.desc.take(80)}")
      }
      println(f"  [sum of job walls $sum%.3f s; gap to total = driver/planning]")
    }
    spark.stop()
  }
}
