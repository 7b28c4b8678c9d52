package perfbench

import scala.collection.mutable
import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** The traced run's measurement probe, registered from outside the program:
  * a `SparkListener` (jobs, stages, tasks, task/CPU/GC time, shuffle, spill,
  * newly materialised RDD blocks) plus a `QueryExecutionListener`
  * (`QueryExecution.tracker` phase times and a walk of each action's
  * AQE-final plan for exchanges), plus Catalyst rule time. [[window]] returns the `spark.*` layer
  * metrics of everything its body ran. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val st = new Probe.State
  private val jobStarts = mutable.Map[Int, Long]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = st.synchronized {
    st.jobs += 1; jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = st.synchronized {
    st.intervals += ((jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    st.synchronized { st.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = st.synchronized {
    st.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId if e.blockUpdatedInfo.storageLevel.isValid =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        st.synchronized {
          st.rdds += b.rddId
          st.blocks(b.name) = math.max(st.blocks.getOrElse(b.name, 0L), size)
        }
      case _ =>
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = Probe.walk(qe.executedPlan)
    st.synchronized {
      st.optimizationMs += ms("optimization")
      st.planningMs += ms("planning")
      st.exchanges += nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      st.reused += nodes.count(_.isInstanceOf[ReusedExchangeExec])
    }
  }

  /** Run `body` and return its value with the `spark.*` metrics of exactly
    * the work it did (the listener bus is drained on both sides).
    *
    * `spark.analysis_s` is all Catalyst rule-executor time in the window
    * minus the actions' optimisation phases: a DataFrame is analysed
    * eagerly as it is built (each `withColumn` re-analyses), under a
    * tracker no action reports, so the actions' own analysis phases alone
    * would miss most of it. */
  def window[T](body: => T): (T, Map[String, Double]) = {
    BusShim.drain(spark.sparkContext)
    st.synchronized(st.reset())
    val rules0 = RuleExecutor.getCurrentMetrics().time
    val t0 = System.currentTimeMillis()
    val out = body
    BusShim.drain(spark.sparkContext)
    val t1 = System.currentTimeMillis()
    val ruleS = (RuleExecutor.getCurrentMetrics().time - rules0) / 1e9
    val m = st.synchronized(st.metrics(t0, t1))
    (out, m + ("spark.analysis_s" ->
      math.max(0.0, ruleS - m("spark.optimization_s"))))
  }
}

object Probe {
  /** Every node of a physical plan, looking through AQE wrappers and query
    * stages to the final plan and into subqueries; a reused exchange is a
    * leaf so the exchange it points at is counted once. */
  def walk(p: SparkPlan): Seq[SparkPlan] = {
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    p +: next.flatMap(walk)
  }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  private final class State {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var optimizationMs, planningMs, exchanges, reused = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
    val rdds = mutable.Set[Int]()
    val blocks = mutable.Map[String, Long]()

    def reset(): Unit = {
      jobs = 0; stages = 0; tasks = 0
      runMs = 0; cpuNs = 0; gcMs = 0; shuffleRead = 0; shuffleWrite = 0
      spill = 0; optimizationMs = 0; planningMs = 0
      exchanges = 0; reused = 0
      intervals.clear(); rdds.clear(); blocks.clear()
    }

    def metrics(t0: Long, t1: Long): Map[String, Double] = Map(
      "spark.optimization_s" -> optimizationMs / 1e3,
      "spark.planning_s" -> planningMs / 1e3,
      "spark.driver_gap_s" -> (t1 - t0 - covered(intervals.toSeq, t0, t1)) / 1e3,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_s" -> runMs / 1e3,
      "spark.executor_cpu_s" -> cpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.exchanges" -> exchanges.toDouble,
      "spark.reused_exchanges" -> reused.toDouble,
      "spark.materialized_rdds" -> rdds.size.toDouble,
      "spark.materialized_bytes" -> blocks.values.sum.toDouble)
  }
}
