package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkAccess
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span (`p<pass>/<op>/<span>`), filled from task and job
  * events. */
final class SpanAgg {
  var jobs, stages, tasks, taskMs, taskFailures = 0L
  var shuffleWrite, shuffleRead, spill, peakExec, inputBytes, inputRows = 0L
  var skew = 1.0
}

/** One finished SQL execution as the QueryExecutionListener saw it; `qe`
  * is the identity of its QueryExecution. */
final case class QeEvent(
    qe: Int, planMs: Long,
    exchanges: Int, smj: Int, shj: Int, bhj: Int)

/** One micro-batch as the StreamingQueryListener saw it. */
final case class Progress(
    op: String, queryId: String, batchId: Long, startMs: Long,
    durationMs: Map[String, Long], stateCommitMs: Long, stateRows: Long)

/** The traced run's collector. Listeners live on Spark's asynchronous
  * listener bus; they forward into this one object. Jobs are attributed to
  * spans through the `perfbench.span` local property the harness sets on
  * its own thread (stream threads inherit it; jobs without it fall back to
  * the running op's build span), and to micro-batches through the
  * `sql.streaming.queryId` / `streaming.sql.batchId` job properties. The
  * harness drains the bus after each op, so an event is always handled
  * while its op is still the current one. */
object Trace {
  val SpanProperty = "perfbench.span"
  private val QueryIdProperty = "sql.streaming.queryId"
  private val BatchIdProperty = "streaming.sql.batchId"
  private val ExecIdProperty = "spark.sql.execution.id"

  @volatile var enabled = false
  @volatile var currentOp = ""

  private val lock = new Object
  private val aggs = mutable.HashMap[String, SpanAgg]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val stageTaskMs = mutable.HashMap[Int, ArrayBuffer[Long]]()
  private val execSpan = mutable.HashMap[Long, String]()
  private val qeExec = mutable.HashMap[Int, Long]()
  private val qeEvents = ArrayBuffer[QeEvent]()
  private val batchJobs = mutable.HashMap[(String, String, String), Int]()
  private val progress = ArrayBuffer[Progress]()

  private def agg(span: String) = aggs.getOrElseUpdate(span, new SpanAgg)

  def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) lock.synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanProperty).getOrElse(currentOp + "/build")
    agg(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
    prop(ExecIdProperty).foreach(id => execSpan.getOrElseUpdate(id.toLong, span))
    for (q <- prop(QueryIdProperty); b <- prop(BatchIdProperty)) {
      val k = (span.substring(0, span.lastIndexOf('/')), q, b)
      batchJobs(k) = batchJobs.getOrElse(k, 0) + 1
    }
  }

  def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) lock.synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val a = agg(span)
      a.tasks += 1
      if (e.reason != Success) a.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += m.executorRunTime
      }
    }
  }

  def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) lock.synchronized {
    val id = e.stageInfo.stageId
    stageSpan.get(id).foreach { span =>
      val a = agg(span)
      a.stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2)
        if (median > 0) a.skew = math.max(a.skew, sorted.last.toDouble / median)
      }
    }
  }

  /** Plan nodes of an executed plan, through adaptive stages, subqueries
    * and the plan of any cached relation the query materialized (the dual
    * sink writes its aggregate through a cache). A cached plan is walked
    * once per run, by the execution that computed it. */
  private object PlanWalk extends AdaptiveSparkPlanHelper {
    private val walkedCaches = mutable.HashSet[Int]()
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
      .flatMap {
        case m: InMemoryTableScanExec
            if walkedCaches.add(System.identityHashCode(m.relation.cacheBuilder)) =>
          m +: nodes(m.relation.cachedPlan)
        case n => Seq(n)
      }
  }

  def onQueryExecution(qe: QueryExecution): Unit = if (enabled) try {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val ev = lock.synchronized {
      val n = PlanWalk.nodes(qe.executedPlan)
      QeEvent(System.identityHashCode(qe), planMs,
        n.count(_.isInstanceOf[ShuffleExchangeLike]),
        n.count(_.isInstanceOf[SortMergeJoinExec]),
        n.count(_.isInstanceOf[ShuffledHashJoinExec]),
        n.count(_.isInstanceOf[BroadcastHashJoinExec]))
    }
    lock.synchronized(qeEvents += ev)
  } catch { case scala.util.control.NonFatal(_) => () }

  def onExecutionEnd(e: SparkListenerSQLExecutionEnd): Unit = if (enabled) {
    val qe = SparkAccess.queryExecution(e)
    if (qe != null) lock.synchronized(qeExec(System.identityHashCode(qe)) = e.executionId)
  }

  def onProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
    val p = e.progress
    val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.longValue }.toMap
    val ev = Progress(currentOp, p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, d,
      p.stateOperators.map(_.commitTimeMs).sum,
      p.stateOperators.map(_.numRowsTotal).sum)
    lock.synchronized(progress += ev)
  }

  def span(key: String): SpanAgg = lock.synchronized(aggs.getOrElse(key, new SpanAgg))

  /** QueryExecutionListener events whose execution ran a job in `span`. */
  def qeIn(span: String): Seq[QeEvent] = lock.synchronized {
    qeEvents.filter(e => qeExec.get(e.qe).flatMap(execSpan.get).contains(span)).toSeq
  }

  def progressOf(op: String): Seq[Progress] = lock.synchronized(progress.filter(_.op == op).toSeq)

  /** (micro-batches, jobs they ran) seen through job properties for `op`. */
  def batchJobsOf(op: String): (Int, Int) = lock.synchronized {
    val mine = batchJobs.filter(_._1._1 == op)
    (mine.size, mine.values.sum)
  }
}

/** Registered on the SparkContext by the harness. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onJobStart(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.onTaskEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.onStageCompleted(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => Trace.onExecutionEnd(end)
    case _                                 => ()
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, a static conf,
  * so that child sessions made with `newSession()` get one too. */
final class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.onQueryExecution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, for
  * the same reason. */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Trace.onProgress(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
