package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine. `layer` names the module the call
  * belongs to (`engine`, `ops`, `store`, `stream`, `spark`); `parent` is
  * the enclosing span (0 at the top). The request id doubles as the Spark
  * job group, so every job the call starts can be attributed to it. */
final case class Span(id: Int, name: String, layer: String, parent: Int, start: Long) {
  var end: Long = 0L
  def requestId: String = s"pb-$id"
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls, kept in memory until the run ends.
  * When off, `span` only runs its body. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, name, layer, stack.headOption.fold(0)(_.id), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.requestId, s.name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.requestId, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Span id a job group belongs to, if the group is one of ours. */
  def owner(group: String): Option[Int] =
    if (group.startsWith("pb-")) Some(group.drop(3).toInt) else None
}

/** Per-job task totals from the Spark listener bus. `streamQuery` is the
  * id of the streaming query whose micro-batch ran the job, if any; such
  * jobs run on the query's own thread, inside the benchmark's `stream.*`
  * span that started the query, but under the query's job group. */
final class JobRec(val id: Int, val group: String, val streamQuery: String, val start: Long) {
  var end: Long = -1L
  var stages, tasks = 0L
  var runMs, cpuNs, gcMs, shW, shR, fetchMs, spill, inBytes, inRecs = 0L
}

final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop("sql.streaming.queryId"), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).filter(_ => m != null).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shW += m.shuffleWriteMetrics.bytesWritten
      j.shR += m.shuffleReadMetrics.totalBytesRead
      j.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inBytes += m.inputMetrics.bytesRead
      j.inRecs += m.inputMetrics.recordsRead
    }
  }
}

/** Running totals of the plan listener. */
final case class PlanTotals(actions: Long = 0, nodes: Long = 0, scans: Long = 0,
                            exchanges: Long = 0, files: Long = 0, analysisMs: Long = 0,
                            optimizeMs: Long = 0, physicalMs: Long = 0) {
  def minus(o: PlanTotals): PlanTotals = PlanTotals(actions - o.actions, nodes - o.nodes,
    scans - o.scans, exchanges - o.exchanges, files - o.files, analysisMs - o.analysisMs,
    optimizeMs - o.optimizeMs, physicalMs - o.physicalMs)
}

/** Catalyst phase times and plan shape of every action. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var totals = PlanTotals()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val (n, s, x, f) = shape(qe.executedPlan)
    synchronized {
      val t = totals
      totals = PlanTotals(t.actions + 1, t.nodes + n, t.scans + s, t.exchanges + x, t.files + f,
        t.analysisMs + ms("analysis"), t.optimizeMs + ms("optimization"),
        t.physicalMs + ms("planning"))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def shape(p: SparkPlan): (Long, Long, Long, Long) = {
    var n, s, x, f = 0L
    foreach(p) { node =>
      n += 1
      node match {
        case scan: FileSourceScanExec =>
          s += 1; f += scan.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _: BatchScanExec => s += 1
        case _: Exchange => x += 1
        case _ =>
      }
    }
    (n, s, x, f)
  }
}

/** One row per micro-batch: its run id and `durationMs` phases. */
final case class Trigger(runId: String, rows: Long, phases: Map[String, Long])

final class StreamListener extends StreamingQueryListener {
  val triggers = mutable.ArrayBuffer[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    triggers += Trigger(p.runId.toString, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  def snapshot: Seq[Trigger] = synchronized(triggers.toList)
}
