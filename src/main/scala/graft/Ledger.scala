package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.{SparkContext, Success, TaskKilled}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerExecutorAdded, SparkListenerExecutorRemoved, SparkListenerJobStart, SparkListenerSpeculativeTaskSubmitted, SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** The engine's one listener on the bus: monotonic counters of what the
  * scheduler did, read as a window of two [[snapshot]]s and their
  * [[Ledger.Counts]] delta.
  *
  * Task CPU is the deployment-independent CPU attribution:
  * [[BenchCore.processCpuSeconds]] reads this JVM's clock, which sees
  * the plan's compute only while the master is `local[n]`; under a
  * `local-cluster` master every task runs in a forked executor. Shuffle
  * reads are split by locality: remote bytes prove that blocks crossed
  * executor JVMs, which `local[n]` (one BlockManager) cannot do.
  *
  * `shuffle_` block updates reach the master only when a
  * decommissioning executor migrates its map outputs; `rdd_` updates
  * also come from plain caching, so a caller counts them from a
  * snapshot taken at its signal.
  *
  * Jobs started under the [[Ledger.DecisionKey]] local property record
  * its value in [[Ledger.Counts.decisions]]: the engine decisions a
  * window's jobs ran under.
  *
  * The bus is asynchronous: an action's events can still be queued
  * when it returns, so [[snapshot]] drains the bus first and a window's
  * tail never bleeds into the next one.
  */
final class Ledger private (private val sc: SparkContext) extends SparkListener {
  private val taskCpuNs, taskRunMs, tasksStarted, tasksEnded, tasksFailed,
    tasksKilled, speculatableMarked, speculativeLaunched, jobs, stages,
    stageReattempts, executorsAdded, executorsRemoved, shuffleBlocks, rddBlocks,
    remoteShuffleBytes, localShuffleBytes = new LongAdder
  // appended only on the bus's dispatch thread
  @volatile private var decisions = Vector.empty[String]

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    tasksStarted.increment()
    if (e.taskInfo.speculative) speculativeLaunched.increment()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.increment()
    if (e.reason != Success) tasksFailed.increment()
    if (e.reason.isInstanceOf[TaskKilled]) tasksKilled.increment()
    Option(e.taskMetrics).foreach { m =>
      taskCpuNs.add(m.executorCpuTime)
      taskRunMs.add(m.executorRunTime)
      remoteShuffleBytes.add(m.shuffleReadMetrics.remoteBytesRead)
      localShuffleBytes.add(m.shuffleReadMetrics.localBytesRead)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.DecisionKey)))
      .foreach(d => decisions :+= d)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.increment()
    if (e.stageInfo.attemptNumber() > 0) stageReattempts.increment()
  }
  override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
    executorsAdded.increment()
  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
    executorsRemoved.increment()
  override def onSpeculativeTaskSubmitted(e: SparkListenerSpeculativeTaskSubmitted): Unit =
    speculatableMarked.increment()
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val id = e.blockUpdatedInfo.blockId.name
    if (id.startsWith("shuffle_")) shuffleBlocks.increment()
    else if (id.startsWith("rdd_")) rddBlocks.increment()
  }

  /** The counters as the bus has delivered them so far, undrained: for
    * a thread that watches a running job. A window uses [[snapshot]].
    */
  def live(): Ledger.Counts = Ledger.Counts(taskCpuNs.sum(), taskRunMs.sum(),
    tasksStarted.sum(), tasksEnded.sum(), tasksFailed.sum(), tasksKilled.sum(),
    speculatableMarked.sum(), speculativeLaunched.sum(), jobs.sum(), stages.sum(),
    stageReattempts.sum(), executorsAdded.sum(), executorsRemoved.sum(),
    shuffleBlocks.sum(), rddBlocks.sum(), remoteShuffleBytes.sum(),
    localShuffleBytes.sum(), decisions)

  /** The counters after every event of the actions that already
    * returned. A drain timeout degrades the boundary (the snapshot may
    * be early), never the caller.
    */
  def snapshot(): Ledger.Counts = {
    try org.apache.spark.graft.ListenerBusDrain.drain(sc)
    catch { case _: java.util.concurrent.TimeoutException => () }
    live()
  }
}

object Ledger {
  /** Job local property naming the engine decision a job runs under. */
  val DecisionKey = "graft.decision"

  /** Totals since the ledger was installed; `later - earlier` is a window. */
  final case class Counts(taskCpuNs: Long, taskRunMs: Long,
      tasksStarted: Long, tasksEnded: Long, tasksFailed: Long, tasksKilled: Long,
      speculatableMarked: Long, speculativeLaunched: Long, jobs: Long,
      stages: Long, stageReattempts: Long, executorsAdded: Long,
      executorsRemoved: Long, shuffleBlocks: Long, rddBlocks: Long,
      remoteShuffleBytes: Long, localShuffleBytes: Long, decisions: Vector[String]) {
    def taskCpuS: Double = taskCpuNs / 1e9
    def taskRunS: Double = taskRunMs / 1e3
    def inFlight: Long = tasksStarted - tasksEnded
    def -(o: Counts): Counts = Counts(taskCpuNs - o.taskCpuNs,
      taskRunMs - o.taskRunMs, tasksStarted - o.tasksStarted,
      tasksEnded - o.tasksEnded, tasksFailed - o.tasksFailed,
      tasksKilled - o.tasksKilled, speculatableMarked - o.speculatableMarked,
      speculativeLaunched - o.speculativeLaunched, jobs - o.jobs,
      stages - o.stages, stageReattempts - o.stageReattempts,
      executorsAdded - o.executorsAdded, executorsRemoved - o.executorsRemoved,
      shuffleBlocks - o.shuffleBlocks, rddBlocks - o.rddBlocks,
      remoteShuffleBytes - o.remoteShuffleBytes,
      localShuffleBytes - o.localShuffleBytes, decisions.drop(o.decisions.size))
  }

  private var installed: Option[Ledger] = None

  /** The ledger of the session's context, installed on its first call:
    * one registration per `SparkContext`, so windows taken by different
    * callers count every event once.
    */
  def of(spark: SparkSession): Ledger = synchronized {
    val sc = spark.sparkContext
    installed.filter(_.sc eq sc).getOrElse {
      val l = new Ledger(sc)
      sc.addSparkListener(l)
      installed = Some(l)
      l
    }
  }
}
