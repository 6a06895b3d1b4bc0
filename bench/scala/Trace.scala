package graftbench

import scala.collection.mutable
import org.apache.spark.{GraftBenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reported while one traced operation ran. */
final class Acc {
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)] // id -> (start, end) ms
  var stages, tasks, taskFailures = 0L
  var busyMs, waitMs, gcMs, shuffleWrite, shuffleRead, spill = 0.0
  val qes = mutable.ArrayBuffer.empty[QueryExecution]
}

/** Spark's public listeners, attached by the benchmark in traced mode
  * only: job/stage/task events and every finished query execution are
  * collected into the current operation's [[Acc]]. Operations run one at
  * a time and the listener bus is drained between them, so attribution
  * needs no ids inside the engine. */
object Trace extends SparkListener with QueryExecutionListener {
  @volatile private var acc: Acc = null
  private def cur(f: Acc => Unit): Unit = { val a = acc; if (a != null) a.synchronized(f(a)) }

  def begin(sc: SparkContext): Acc = { GraftBenchBus.drain(sc); val a = new Acc; acc = a; a }
  def end(sc: SparkContext): Acc = { GraftBenchBus.drain(sc); val a = acc; acc = null; a }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    cur(_.jobs(e.jobId) = (e.time, Long.MaxValue))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    cur(a => a.jobs.get(e.jobId).foreach { case (s, _) => a.jobs(e.jobId) = (s, e.time) })
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cur(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur { a =>
    a.tasks += 1
    if (e.reason != Success) a.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      a.busyMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // scheduler delay as the Spark UI defines it
      a.waitMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    cur(_.qes += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    cur(_.qes += qe)

  /** Total length of the union of [start, end) intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var hi = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > hi) { total += e - math.max(s, hi); hi = e }
    }
    total.toDouble
  }

  /** Parquet files opened by a plan's scans (AQE-unwrapped numFiles). */
  def filesScanned(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(plan).collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
  }

  /** Split an operation's Spark-side time and counters. `buildEndMs` is
    * the wall clock at which the statement/driver function returned its
    * DataFrame: jobs that started before it ran eagerly inside the front
    * end. `extra` are query executions the
    * caller holds (a built DataFrame's), merged with the reported ones. */
  def summarize(a: Acc, buildEndMs: Long, extra: Seq[QueryExecution]): Map[String, Double] = {
    val now = System.currentTimeMillis()
    val jobs = a.jobs.values.map { case (s, e) => (s, if (e == Long.MaxValue) now else e) }.toSeq
    val eager = jobs.filter(_._1 < buildEndMs)
    val trackers = (extra ++ a.qes).map(_.tracker).distinct
    val phases = trackers.flatMap(_.phases.values.map(p => (p.startTimeMs, p.endTimeMs)))
    // graft's rules may run jobs while Catalyst optimizes, so planning
    // phases and jobs can overlap; after the build their union is the
    // time some layer accounts for
    val coveredAfterBuild = unionMs((phases ++ jobs).collect {
      case (s, e) if e > buildEndMs => (math.max(s, buildEndMs), e) })
    var analysis, optimize, plan = 0.0
    var ruleNs, ruleInv, ruleEff = 0L
    trackers.foreach { t =>
      t.phases.foreach { case (name, p) =>
        name match {
          case "analysis" => analysis += p.durationMs
          case "optimization" => optimize += p.durationMs
          case "planning" => plan += p.durationMs
          case _ =>
        }
      }
      t.rules.foreach { case (rule, s) =>
        if (rule.startsWith("org.apache.spark.sql.graft.")) {
          ruleNs += s.totalTimeNs; ruleInv += s.numInvocations
          ruleEff += s.numEffectiveInvocations
        }
      }
    }
    Map(
      "analysis" -> analysis, "optimize" -> optimize, "plan" -> plan,
      "covered_after_build" -> coveredAfterBuild,
      "rule_ms" -> ruleNs / 1e6, "rule_inv" -> ruleInv.toDouble, "rule_eff" -> ruleEff.toDouble,
      "exec_ms" -> unionMs(jobs),
      "jobs" -> jobs.size.toDouble, "eager_jobs" -> eager.size.toDouble,
      "stages" -> a.stages.toDouble, "tasks" -> a.tasks.toDouble,
      "task_busy" -> a.busyMs, "task_wait" -> a.waitMs, "gc" -> a.gcMs,
      "shuffle_w" -> a.shuffleWrite, "shuffle_r" -> a.shuffleRead,
      "spill" -> a.spill, "task_failures" -> a.taskFailures.toDouble)
  }
}
