package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's counters: a `SparkListener` (jobs, stages, tasks and
  * their metrics), a `StreamingQueryListener` (micro-batch progress and
  * state stores) and a `QueryExecutionListener` (Catalyst phase times from
  * `qe.tracker.phases`, and rows out of Generate nodes). All are public
  * Spark listener APIs; graft itself is not touched. Registered only when
  * tracing is on. */
final class Probes(countGenerate: Boolean) {
  val c: ConcurrentHashMap[String, AtomicLong] = new ConcurrentHashMap
  def add(k: String, v: Long): Unit = {
    c.computeIfAbsent(k, _ => new AtomicLong(0L)).addAndGet(v); ()
  }

  private val jobStart = new ConcurrentHashMap[Integer, (Long, Long)]

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (e.time, parent))
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        Trace.record(parent, s"job ${e.jobId}", "spark", -1L,
          Trace.msToNs(t0), Trace.msToNs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_ms", m.executorRunTime)
        add("spark.executor_cpu_ns", m.executorCpuTime)
        add("spark.task_overhead_ms",
          math.max(0L, e.taskInfo.duration - m.executorRunTime))
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val lastState = new ConcurrentHashMap[String, (Long, Long)]

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add("streaming.batches", 1)
      add("streaming.trigger_ms", d.getOrElse("triggerExecution", 0L))
      add("streaming.planning_ms", d.getOrElse("queryPlanning", 0L))
      add("streaming.commit_ms",
        d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L))
      val ops = p.stateOperators.toSeq
      add("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum)
      lastState.put(p.id.toString,
        (ops.map(_.numRowsTotal).sum, ops.map(_.numStateStoreInstances).sum))
    }
  }

  def stateRows: Long = lastState.values.asScala.map(_._1).sum
  def stateStores: Long = lastState.values.asScala.map(_._2).sum

  private val seenMetrics = ConcurrentHashMap.newKeySet[java.lang.Long]()

  val execution: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = {
    val ph = scala.util.Try(qe.tracker.phases).getOrElse(Map.empty)
    Seq("analysis", "optimization", "planning").foreach { k =>
      add(s"spark.${k}_ms", ph.get(k).map(_.durationMs).getOrElse(0L))
    }
    if (countGenerate)
      scala.util.Try(add("ext.generate_rows", generateRows(qe.executedPlan)))
    ()
  }

  /** Rows out of Generate nodes, through adaptive stages, subqueries and
    * cached relations; each SQL metric is counted once per run. */
  private def generateRows(root: SparkPlan): Long = {
    var n = 0L
    def visit(p: SparkPlan): Unit = {
      if (p.nodeName == "Generate")
        p.metrics.get("numOutputRows").foreach { m =>
          if (seenMetrics.add(m.id)) n += m.value
        }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case i: InMemoryTableScanExec => visit(i.relation.cachedPlan)
        case _ => ()
      }
      p.innerChildren.foreach {
        case s: SparkPlan => visit(s)
        case r: InMemoryRelation => visit(r.cachedPlan)
        case _ => ()
      }
    }
    visit(root)
    n
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.streams.addListener(streaming)
    s.listenerManager.register(execution)
  }
}
