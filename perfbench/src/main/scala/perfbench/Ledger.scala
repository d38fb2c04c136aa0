package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the harness sets around each call it times; Spark
  * copies them into every job the call starts, including jobs started
  * from broadcast and adaptive-execution threads. */
object Props {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
}

/** The bare job-start counter of the untraced runs. */
final class JobCounter extends SparkListener {
  val jobs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
}

/** The code site that launched a job, read off the call-site stack
  * Spark records for the job's result stage, or, for a job started on
  * one of Spark's own threads (a broadcast, an adaptive query stage),
  * the stack recorded when its SQL execution started. The first
  * `graft.` frame decides, except that every job started under
  * `Dedup.connectedComponents` counts as a CC round: its label stages
  * are written through `Stage`, whose frame comes first. */
object Sites {
  val Cc = "cc"
  val FenceBounded = "fence_bounded"
  val Stage = "stage"
  val Collect = "collect"
  val Harness = "harness"

  def of(callStack: String): String = {
    val frames = callStack.split('\n').map(_.trim).filter(_.startsWith("graft."))
    if (frames.exists(_.contains("connectedComponents"))) Cc
    else frames.headOption match {
      case Some(f) if f.startsWith("graft.plans.Fence$.bounded") => FenceBounded
      case Some(f) if f.startsWith("graft.plans.Stage") ||
          f.startsWith("graft.plans.Fence$.corpus") => Stage
      case Some(_) => Collect
      case None => Harness
    }
  }
}

/** Task-level totals of the jobs one (query, phase, site) started. */
final class Acc {
  var jobs, tasks, failedTasks, jobMs, runMs, cpuNs, gcMs = 0L
  var bytesRead, shuffleRead, shuffleWrite = 0L

  def +=(o: Acc): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    jobMs += o.jobMs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    bytesRead += o.bytesRead; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "job_s" -> jobMs / 1e3, "task_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "bytes_read" -> bytesRead,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite)
}

/** The traced runs' job ledger: every job is keyed by the query and
  * phase the harness had set when it started and by its launching
  * site; its tasks' metrics are summed under that key. */
final class Tracer extends SparkListener {
  type Key = (String, String, String)
  private val accs = mutable.Map.empty[Key, Acc]
  private val jobs = mutable.Map.empty[Int, (Key, Long)]
  private val stages = mutable.Map.empty[Int, Key]
  private val executions = mutable.Map.empty[Long, String]

  private def acc(k: Key): Acc = accs.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(name: String) =
      p.flatMap(x => Option(x.getProperty(name))).getOrElse("-")
    val stack =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val own = Sites.of(stack)
    val site =
      if (own != Sites.Harness) own
      else p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(id => executions.get(id.toLong)).getOrElse(own)
    val k = (prop(Props.Query), prop(Props.Phase), site)
    acc(k).jobs += 1
    jobs(e.jobId) = (k, e.time)
    e.stageIds.foreach(stages(_) = k)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executions(s.executionId) = Sites.of(s.details) }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (k, t0) => acc(k).jobMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { k =>
      val a = acc(k)
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.bytesRead += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Takes the ledger collected so far and starts an empty one. */
  def take(): Map[Key, Acc] = synchronized {
    val out = accs.toMap
    accs.clear()
    executions.clear()
    out
  }
}

/** Bytes the program's DataFrame writes put on disk (stage writes,
  * screen decisions, index layers), from each write command's
  * `numOutputBytes`: file writes leave the tasks' output metrics at 0. */
final class WriteBytes extends QueryExecutionListener {
  val bytes = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.executedPlan.foreach(_.metrics.get("numOutputBytes").foreach(m => bytes.addAndGet(m.value)))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Progress of every micro-batch that read input rows. */
final class StreamTracer extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) { batches.add(e.progress); () }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def take(): Seq[StreamingQueryProgress] = {
    val out = Seq.newBuilder[StreamingQueryProgress]
    var p = batches.poll()
    while (p != null) { out += p; p = batches.poll() }
    out.result()
  }
}
