package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlShims, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One executed operator's SQLMetrics, raw values under Spark's names. */
final case class OperatorMetrics(node: String, metrics: Seq[(String, Long)])

/** What one measured body did in Spark.
  *
  * @param jobs      jobs started; `jobKinds` histograms them by the first
  *                  line of the final stage's call site
  * @param stages    stages that ran (skipped stages are not counted)
  * @param tasks     tasks that ended
  * @param executions SQL executions (Dataset actions) that ended, in any
  *                  session of the context; `planningMs` sums their
  *                  `QueryPlanningTracker` phases and `execMs` the
  *                  durations of the successful ones
  * @param gcMs      JVM-wide GC time while the body ran
  * @param compilations whole-stage codegen compilations while the body ran
  * @param operators every executed plan's operators that carry metrics,
  *                  AQE stages and subqueries included
  */
final case class Profile(
    wallMs: Double,
    jobs: Int, stages: Int, tasks: Int,
    jobKinds: Map[String, Int],
    executions: Int, planningMs: Double, execMs: Double,
    taskRunMs: Long, taskCpuMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    gcMs: Long, compilations: Long,
    operators: Seq[OperatorMetrics]) {

  /** Task CPU time over task run time: how much of the tasks' wall time
    * was spent computing rather than waiting.
    */
  def cpuOverWall: Double = if (taskRunMs <= 0) 0.0 else taskCpuMs.toDouble / taskRunMs

  /** The Spark-side scalar fields as one compact JSON object (no wall,
    * GC or compilation figures, no operators or kinds).
    */
  def json: String =
    f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"executions":$executions,""" +
      f""""plan_ms":$planningMs%.1f,"exec_ms":$execMs%.1f,"cpu_wall":$cpuOverWall%.3f,""" +
      s""""shuffle_read":$shuffleReadBytes,"shuffle_write":$shuffleWriteBytes,"spill":$spillBytes}"""
}

/** Per-query profiler: one `SparkListener` on the context's shared bus,
  * attached explicitly by the caller (no session installs it), so it
  * sees the executions of every session, `newSession()` ones included.
  * [[measure]] attributes to its body every event posted while the body
  * runs, so bodies must run one at a time.
  */
final class QueryProfile private (spark: SparkSession)
    extends SparkListener with AdaptiveSparkPlanHelper {

  private final class Acc {
    var jobs, stages, tasks, executions = 0
    var planningMs, execMs = 0.0
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
    val kinds = mutable.Map.empty[String, Int]
    val operators = mutable.ArrayBuffer.empty[OperatorMetrics]
  }
  private var acc = new Acc

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobs += 1
    val kind = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
    acc.kinds(kind) = acc.kinds.getOrElse(kind, 0) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      GraftSqlShims.executionEnd(end).foreach { case (qe, durationNs, failure) =>
        // a failed execution may have no executed plan: reading it would plan again
        val (execMs, ops) =
          if (failure.isDefined) (0.0, Nil)
          else (durationNs / 1e6, collectWithSubqueries(qe.executedPlan) {
            case p if p.metrics.nonEmpty =>
              OperatorMetrics(p.nodeName.trim, p.metrics.toSeq.sortBy(_._1).map { case (k, m) => k -> m.value })
          })
        val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
        synchronized {
          acc.executions += 1
          acc.planningMs += planningMs
          acc.execMs += execMs
          acc.operators ++= ops
        }
      }
    case _ =>
  }

  /** Runs `body` and profiles what it did, waiting for the listener bus
    * to deliver every event the body posted. An exception from `body`
    * propagates, and its events are discarded by the next call.
    */
  def measure[T](body: => T): (T, Profile) = {
    GraftSqlShims.drainListenerBus(spark.sparkContext)
    synchronized { acc = new Acc }
    val (gc0, nc0, t0) = (QueryProfile.gcMs(), QueryProfile.compilations(), System.nanoTime())
    val out = body
    val wallMs = (System.nanoTime() - t0) / 1e6
    val (gc, nc) = (QueryProfile.gcMs() - gc0, QueryProfile.compilations() - nc0)
    GraftSqlShims.drainListenerBus(spark.sparkContext)
    synchronized {
      val a = acc
      out -> Profile(wallMs, a.jobs, a.stages, a.tasks, a.kinds.toMap,
        a.executions, a.planningMs, a.execMs, a.runMs, a.cpuNs / 1000000L,
        a.shuffleRead, a.shuffleWrite, a.spill, gc, nc, a.operators.toList)
    }
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object QueryProfile {
  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private def compilations(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
