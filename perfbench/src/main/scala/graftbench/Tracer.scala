package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced call, summed from the events of its job group. */
final class CallStats {
  var stages, tasks, shuffleBytes, spillBytes, peakExecMem = 0L
  var taskRunMs, taskCpuNs, taskWaitMs, jobMs = 0L
  var exchanges, planMs, scanBytes, scanRows = 0L
  private[graftbench] val cachedPlans = mutable.Set[Int]()
}

/** One call into a module: `kind` is op (a whole timed operation), build
  * (the module's public function), exec (the action on its frame), write
  * (an eager index write) or compact (an index maintenance check). */
final case class Span(id: Long, parent: Long, name: String, kind: String, module: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's instrumentation, all of it outside the engine: a
  * SparkListener and a QueryExecutionListener that attribute every job,
  * stage, task and query execution to the job group of the call that
  * caused it, and an in-memory span list. Threads the engine starts for
  * a call (graft.Par.jobs, broadcast builds) inherit the job group. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val prefix = "graftbench-"
  private val stats = new ConcurrentHashMap[String, CallStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  val spans = mutable.ArrayBuffer[Span]()
  val cachedBytes = mutable.ArrayBuffer[Long]()
  private var lastId = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def group(id: Long) = prefix + id

  /** Run `body` (given the span's id, the parent of its child spans) as a
    * span. Each span runs under a job group of its own, so every Spark
    * job it causes is counted against it; the parent's group is restored
    * when it ends. */
  def span[T](name: String, kind: String, module: String, parent: Long = 0L)(body: Long => T): T = {
    lastId += 1
    val id = lastId
    val sc = spark.sparkContext
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans += Span(id, parent, name, kind, module, t0, System.nanoTime())
      if (parent == 0L) sc.clearJobGroup()
      else sc.setJobGroup(group(parent), name, interruptOnCancel = false)
    }
  }

  /** Counters of a span and its direct children. */
  def callStats(op: Span): CallStats = {
    val all = (op +: spans.filter(_.parent == op.id).toSeq).flatMap(s => Option(stats.get(group(s.id))))
    val sum = new CallStats
    all.foreach { s =>
      sum.stages += s.stages; sum.tasks += s.tasks; sum.shuffleBytes += s.shuffleBytes
      sum.spillBytes += s.spillBytes; sum.peakExecMem = math.max(sum.peakExecMem, s.peakExecMem)
      sum.taskRunMs += s.taskRunMs; sum.taskCpuNs += s.taskCpuNs; sum.taskWaitMs += s.taskWaitMs
      sum.jobMs += s.jobMs; sum.exchanges += s.exchanges; sum.planMs += s.planMs
      sum.scanBytes += s.scanBytes; sum.scanRows += s.scanRows
    }
    sum
  }

  /** Storage held by cached RDDs right now (called before Caches.release). */
  def sampleCachedBytes(): Unit =
    cachedBytes += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def statsFor(g: String): Option[CallStats] =
    Option(g).filter(_.startsWith(prefix)).map(k => stats.computeIfAbsent(k, _ => new CallStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(prefix)) {
      jobs.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (g, t0) =>
      statsFor(g).foreach(s => s.synchronized(s.jobMs += e.time - t0))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    statsFor(stageGroup.get(e.stageInfo.stageId)).foreach(s => s.synchronized(s.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    statsFor(stageGroup.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        val submitted = stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime)
        s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
        Option(e.taskMetrics).foreach { m =>
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
        }
      }
    }

  /** A finished query execution reaches the QueryExecutionListener first
    * and this SparkListener right after, on the same listener-bus thread:
    * the session's execution-listener bus sits earlier in the shared queue
    * than a listener added after the session was created. So onSuccess
    * parks the QueryExecution and the SQLExecutionEnd that follows names
    * its execution id, hence its job group. */
  @volatile private var finished: QueryExecution = null

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    finished = qe

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(prefix)).foreach(execGroup.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      val qe = finished
      finished = null
      if (qe != null) statsFor(execGroup.remove(end.executionId)).foreach { s =>
        s.synchronized {
          s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
          walk(qe.executedPlan, s)
        }
      }
    case _ =>
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    finished = null

  /** Count shuffle exchanges and file-scan volume in an executed plan,
    * through adaptive stages, subqueries and (once per call) the plans
    * that filled the caches the call read. */
  private def walk(p: SparkPlan, s: CallStats): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, s)
      case q: QueryStageExec => walk(q.plan, s)
      case _: ReusedExchangeExec =>
      case m: InMemoryTableScanExec =>
        val cached = m.relation.cacheBuilder.cachedPlan
        if (s.cachedPlans.add(System.identityHashCode(cached))) walk(cached, s)
      case _ =>
        p match {
          case _: ShuffleExchangeLike => s.exchanges += 1
          case f: FileSourceScanExec =>
            s.scanBytes += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
            s.scanRows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case _ =>
        }
        p.children.foreach(walk(_, s))
    }
    p.subqueries.foreach(walk(_, s))
  }
}
