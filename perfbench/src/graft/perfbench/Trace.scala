package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark ran for one measured operation, summed over its jobs. */
final case class OpProfile(
    wallS: Double, planS: Double, jobs: Int, stages: Int,
    execCoreS: Double, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, maxTaskS: Double, taskSkew: Double, taskFailures: Int,
    broadcastBytes: Long)

/** Listener-side record of jobs, stages, tasks and query executions.
  * `reset()` before an operation, `profile()` after it: the profile
  * first drains the listener bus, so every event of the operation has
  * been delivered before it is read. */
final class StageLog(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final class StageAcc {
    var runMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var failures = 0
    val taskMs = ArrayBuffer.empty[Long]
  }
  private val stageAcc = scala.collection.mutable.HashMap.empty[(Int, Int), StageAcc]
  private var jobs = 0
  private var stagesDone = 0
  private val executions = ArrayBuffer.empty[QueryExecution]

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def reset(): Unit = {
    BusDrain.drain(spark.sparkContext)
    synchronized { stageAcc.clear(); jobs = 0; stagesDone = 0; executions.clear() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stagesDone += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    if (e.reason != Success) a.failures += 1
    if (e.taskInfo != null) a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { executions += qe }

  def profile(wallS: Double): OpProfile = {
    BusDrain.drain(spark.sparkContext)
    synchronized {
      val accs = stageAcc.values.toSeq
      val all = accs.flatMap(_.taskMs)
      // skew of the stage that kept the cores busiest: its slowest task
      // over its median task
      val skew = if (accs.isEmpty) 1.0 else {
        val big = accs.maxBy(_.runMs).taskMs.sorted
        if (big.isEmpty) 1.0 else big.last.toDouble / math.max(1L, big(big.length / 2))
      }
      val planNs = executions.map { qe =>
        qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
      }.sum
      OpProfile(
        wallS = wallS, planS = planNs / 1e9, jobs = jobs, stages = stagesDone,
        execCoreS = accs.map(_.runMs).sum / 1e3,
        shuffleWriteBytes = accs.map(_.shuffleWrite).sum,
        shuffleReadBytes = accs.map(_.shuffleRead).sum,
        spillBytes = accs.map(_.spill).sum,
        maxTaskS = if (all.isEmpty) 0.0 else all.max / 1e3,
        taskSkew = skew, taskFailures = accs.map(_.failures).sum,
        broadcastBytes = executions.map(PlanMetrics.broadcastBytes).sum)
    }
  }
}

object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** Bytes that broadcast exchanges of an executed query shipped. */
  def broadcastBytes(qe: QueryExecution): Long =
    try collectWithSubqueries(qe.executedPlan) { case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
    catch { case _: Exception => 0L }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      attrs: Seq[(String, String)])

/** In-memory spans around the benchmark's calls into each layer,
  * written out once when the run ends. */
final class Spans(enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private val origin = System.nanoTime()

  def apply[A](name: String, attrs: (String, String)*)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        done += Span(id, parent, name, t0 - origin, System.nanoTime() - origin, attrs)
      }
    }

  def json: String = done.sortBy(_.id).map { s =>
    val a = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startNs / 1e6},"end_ms":${s.endNs / 1e6},"attrs":$a}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Host CPU ticks from /proc/stat: (all, stolen). */
object HostCpu {
  def ticks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }
}

object Jvm {
  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** seconds since this JVM started */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  /** peak resident set of this process, MB (VmHWM) */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
