package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of the `spark` layer at one instant. */
final case class SparkCounters(jobs: Long, stages: Long, tasks: Long,
    taskMs: Long, gcMs: Long, inputBytes: Long, shuffleBytes: Long,
    spillBytes: Long, planMs: Long, spreadExchanges: Long, actions: Long) {
  def -(o: SparkCounters): SparkCounters = SparkCounters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, planMs - o.planMs,
    spreadExchanges - o.spreadExchanges, actions - o.actions)
  def +(o: SparkCounters): SparkCounters = SparkCounters(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, planMs + o.planMs,
    spreadExchanges + o.spreadExchanges, actions + o.actions)
}

object SparkCounters {
  val zero: SparkCounters = SparkCounters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** A `SparkListener` plus a `QueryExecutionListener`, attached only in a
  * traced run. Counters are cumulative; [[measure]] drains the listener bus
  * around a body and returns what the body added.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobs, stages, tasks, taskMs, gcMs, inputBytes, shuffleBytes,
    spillBytes, planMs, spread, actions = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def onQuery(qe: QueryExecution): Unit = {
    actions.incrementAndGet()
    val phases = qe.tracker.phases
    planMs.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
    // a query that failed in planning has no executed plan to count
    try spread.addAndGet(SparkProbe.roundRobinExchanges(qe.executedPlan))
    catch { case _: Exception => }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onQuery(qe)

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def counters: SparkCounters = SparkCounters(jobs.get, stages.get,
    tasks.get, taskMs.get, gcMs.get, inputBytes.get, shuffleBytes.get,
    spillBytes.get, planMs.get, spread.get, actions.get)

  /** Runs `body` and returns its result with the counters it added. */
  def measure[T](body: => T): (T, SparkCounters) = {
    PerfbenchBus.drain(spark.sparkContext)
    val before = counters
    val out = body
    PerfbenchBus.drain(spark.sparkContext)
    (out, counters - before)
  }
}

object SparkProbe {

  /** Round-robin shuffle exchanges in an executed plan: the exchanges
    * `graft.core.Spread` inserts to spread a single-split stage.
    */
  def roundRobinExchanges(plan: SparkPlan): Int = {
    val own = plan match {
      case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1
      case _ => 0
    }
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    own + inner.map(roundRobinExchanges).sum
  }
}
