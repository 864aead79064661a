package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task metrics summed over one stage attempt. */
final class StageAgg {
  var tasks, tasksWithInput = 0L
  var runMs, cpuNs, gcMs, delayMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
}

final case class JobRec(id: Int, start: Double, end: Double, stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, start: Double, end: Double,
    agg: StageAgg)
/** One QueryExecution that ran: when it started planning, its Catalyst
  * phase intervals and its plan counts.
  */
final case class QeRec(at: Double, phases: Map[String, (Double, Double)],
    nodes: Map[String, Int])
/** One micro-batch progress event. */
final case class BatchRec(start: Double, end: Double, inputRows: Long,
    durations: Map[String, Long], stateRows: Long, stateCommitMs: Long)

/** Every micro-batch progress event of the session. Cheap enough to stay
  * on in untraced runs, where it gives the speed path's batch latency;
  * the traced run reads the same records through [[Tracer]].
  */
final class BatchLog(spark: SparkSession) extends StreamingQueryListener {
  private val recs = mutable.ArrayBuffer.empty[BatchRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val rec = BatchRec(start, start + d.getOrElse("triggerExecution", 0L),
      p.numInputRows, d, p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.commitTimeMs).sum)
    synchronized(recs += rec)
  }
  def start(): Unit = spark.streams.addListener(this)
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(this)
  }
  def records: Seq[BatchRec] = synchronized(recs.toSeq)
}

/** Spark listeners that record jobs, stages, tasks, Catalyst phases and
  * plan shapes in memory while a traced run is active; micro-batches come
  * from the session's [[BatchLog]]. All callbacks arrive on Spark's
  * listener-bus threads; [[drain]] waits until every posted event has been
  * delivered before the records are read.
  */
final class Tracer(spark: SparkSession, batchLog: BatchLog) {
  private val lock = new Object
  private val jobStart = mutable.Map.empty[Int, (Double, Seq[Int])]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageAggs = mutable.Map.empty[(Int, Int), StageAgg]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = (e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, st) =>
        jobs += JobRec(e.jobId, t, e.time.toDouble, st)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val a = stageAggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.tasks += 1
      if (m != null) {
        val i = e.taskInfo
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.delayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) a.tasksWithInput += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val agg = stageAggs.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAgg)
      val end = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      stages += StageRec(i.stageId, i.attemptNumber(),
        i.submissionTime.map(_.toDouble).getOrElse(end), end, agg)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    // the listener runs after the action, on the bus thread: time the
    // record by its own phases, not by when the event is delivered
    val at = phases.values.map(_._1).minOption.getOrElse(System.currentTimeMillis().toDouble)
    val rec = QeRec(at, phases, Tracer.planNodes(qe.executedPlan))
    lock.synchronized(qes += rec)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Records whose start lies in [lo, hi] (ms), for one query execution. */
  def within(lo: Double, hi: Double): Tracer.Window = {
    def in(t: Double) = t >= lo - 1 && t <= hi + 1
    val batches = batchLog.records.filter(b => in(b.start))
    lock.synchronized(Tracer.Window(jobs.filter(j => in(j.start)).toSeq,
      stages.filter(s => in(s.start)).toSeq,
      qes.filter(q => in(q.at)).toSeq, batches))
  }
}

object Tracer {
  final case class Window(jobs: Seq[JobRec], stages: Seq[StageRec],
      qes: Seq[QeRec], batches: Seq[BatchRec])

  /** Node counts of an executed plan, looking through adaptive plans,
    * query stages and subqueries; a reused exchange counts once.
    */
  def planNodes(plan: SparkPlan): Map[String, Int] = {
    val n = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => n("exchanges") += 1
        case _: BroadcastExchangeLike => n("broadcasts") += 1
        case _: SortExec => n("sorts") += 1
        case _: WindowExec => n("windows") += 1
        case _: ObjectHashAggregateExec => n("obj_hash_aggs") += 1
        case _ =>
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil // ran once, where it was first planned
        case other => other.children
      }
      (inner ++ p.subqueries).foreach(walk)
    }
    walk(plan)
    n.toMap
  }
}
