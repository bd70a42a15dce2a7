package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Sums executor task CPU: the untraced run's only listener. */
final class CpuListener extends SparkListener {
  @volatile var cpuNs: Long = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized { cpuNs += e.taskMetrics.executorCpuTime }
  def drain(s: SparkSession): Unit =
    org.apache.spark.graft.ListenerBusDrain.drain(s.sparkContext)
}

object Span {
  /** Run `body` as span `name` of operation `op` when tracing. */
  def around[T](t: Option[Tracer], op: String, name: String)(body: => T): T = t match {
    case None => body
    case Some(tr) => tr.span(op, name)(body)
  }
}

/** The traced run's recorder. Every phase of an operation is a span and
  * runs under its own job group (`setJobGroup`), so each job, stage and
  * task is attributed to the span, and through it to the operation, that
  * started it. Catalyst phase times come from each execution's
  * `queryExecution.tracker`. Spans stay in memory and are written once,
  * at the end, with the self time of each layer.
  */
final class Tracer(spark: SparkSession, cpus: Int) extends SparkListener {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def nowUs: Double = (System.nanoTime() - t0Ns) / 1e3
  private def msToUs(ms: Long): Double = (ms - t0Ms) * 1e3

  final case class S(id: Int, name: String, op: String, parent: Int,
      start: Double, var end: Double)
  private val spans = mutable.ArrayBuffer.empty[S]
  private def add(name: String, op: String, parent: Int, start: Double): S = synchronized {
    val s = S(spans.size, name, op, parent, start, start)
    spans += s
    s
  }

  /** Per-span counters; tasks reach a span through stage -> job -> group. */
  final class Agg {
    var jobs, schemaJobs, stages, tasks = 0L
    var schemaJobMs, taskWallMs, schedMs, runMs, gcMs = 0L
    var cpuNs, shuffleW, shuffleR, spill, input = 0L
    var peakMem = 0L
  }
  private val aggs = mutable.Map.empty[Int, Agg]
  private def agg(span: Int): Agg = synchronized { aggs.getOrElseUpdate(span, new Agg) }
  private val jobSpan = mutable.Map.empty[Int, S]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]

  // Catalyst and plan counts per operation
  private val phases = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  private val opCounts = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  @volatile private var currentOp: String = ""
  private var opSpan: S = _
  private var roundSpan: S = _
  var rounds = 0
  private var traceWallS = 0.0

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val op = currentOp
        qe.tracker.phases.foreach { case (p, s) => phases((op, p)) += s.durationMs / 1e3 }
        val nodes = Tracer.nodes(qe.executedPlan)
        opCounts((op, "exchanges")) += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
        nodes.collect { case f: FileSourceScanExec => f }.foreach { f =>
          f.metrics.get("numFiles").foreach(m => opCounts((op, "files_read")) += m.value)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  sc.addSparkListener(this)
  spark.listenerManager.register(qel)

  def sessionCreate(seconds: Double): Unit = {
    val s = add("session.create", "", -1, nowUs)
    s.end = s.start + seconds * 1e6
  }

  def roundStart(): Unit = roundSpan = add("round", "", -1, nowUs)
  def roundEnd(): Unit = {
    roundSpan.end = nowUs
    traceWallS += (roundSpan.end - roundSpan.start) / 1e6
    rounds += 1
  }
  def opStart(op: String): Unit = {
    currentOp = op
    opSpan = add("op", op, roundSpan.id, nowUs)
  }
  def opDone(op: String): Unit = {
    // all events of this operation are delivered before the next starts
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    opSpan.end = nowUs
  }

  def span[T](op: String, name: String)(body: => T): T = {
    val s = add(name, op, opSpan.id, nowUs)
    sc.setJobGroup(s.id.toString, s"$op $name", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      s.end = nowUs
    }
  }

  def analysis(op: String, df: DataFrame): Unit = synchronized {
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => phases((op, "analysis")) += p.durationMs / 1e3)
  }
  def pinned(op: String, n: Int): Unit = synchronized { opCounts((op, "pinned")) += n }
  def wrote(op: String, dir: String): Unit = synchronized {
    val (f, b) = PerfBench.dirSize(new File(dir))
    opCounts((op, "files_written")) += f
    opCounts((op, "bytes_written")) += b
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val parent = group.flatMap(_.toIntOption).getOrElse(-1)
    val op = if (parent >= 0) spans(parent).op else "unattributed"
    val s = add("spark.job", op, parent, msToUs(e.time))
    jobSpan(e.jobId) = s
    e.stageIds.foreach(st => stageSpan(st) = s.id)
    val a = agg(s.id)
    a.jobs += 1
    if (e.stageInfos.exists(i => i.name.contains("Tables.scala") ||
        i.details.contains("graft.Tables"))) a.schemaJobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { s =>
      s.end = msToUs(e.time)
      val a = agg(s.id)
      if (a.schemaJobs > 0) a.schemaJobMs += ((s.end - s.start) / 1e3).toLong
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { sp =>
      val a = agg(sp)
      a.stages += 1
      // wait from stage submission to its first task launch
      for (sub <- info.submissionTime; first <- stageFirstLaunch.get(info.stageId))
        a.schedMs += math.max(0L, first - sub)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    stageFirstLaunch(e.stageId) = math.min(stageFirstLaunch.getOrElse(e.stageId, Long.MaxValue),
      i.launchTime)
    stageSpan.get(e.stageId).foreach { sp =>
      val a = agg(sp)
      a.tasks += 1
      val wall = i.finishTime - i.launchTime
      a.taskWallMs += wall
      if (m != null) {
        val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        a.schedMs += math.max(0L, wall - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - getting)
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private def detach(): Unit = {
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
  }

  /** Task CPU of the given operations over the traced window. */
  def opCpuNs(ops: Set[String]): Double = synchronized {
    aggs.toSeq.collect { case (id, a) if ops(spans(id).op) => a.cpuNs.toDouble }.sum
  }

  /** Per-layer metrics, per traced round. */
  def metrics(): Seq[(String, Double)] = {
    detach()
    synchronized {
      val r = math.max(rounds, 1).toDouble
      val all = aggs.values
      def sum(f: Agg => Long): Double = all.map(a => f(a).toDouble).sum
      def underPhase(name: String, f: Agg => Long): Double =
        aggs.toSeq.collect { case (id, a) if spans(id).parent >= 0 &&
          spans(spans(id).parent).name == name => f(a).toDouble }.sum
      def spanS(name: String): Double =
        spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum
      def phase(p: String): Double = phases.collect { case ((_, q), v) if q == p => v }.sum
      def count(c: String): Double = opCounts.collect { case ((_, q), v) if q == c => v }.sum
      val mb = 1024.0 * 1024.0
      val creates = spans.filter(_.name == "session.create").map(s => (s.end - s.start) / 1e6).sorted
      Seq(
        "session.create_s" -> (if (creates.isEmpty) 0.0 else creates(creates.size / 2)),
        "sources.load_s" -> sum(_.schemaJobMs) / 1e3 / r,
        "sources.schema_jobs" -> sum(_.schemaJobs) / r,
        "queries.build_s" -> spanS("queries.build") / r,
        "queries.build_jobs" -> (underPhase("queries.build", _.jobs) -
          underPhase("queries.build", _.schemaJobs)) / r,
        "plans.analysis_s" -> phase("analysis") / r,
        "plans.optimization_s" -> phase("optimization") / r,
        "plans.planning_s" -> phase("planning") / r,
        "plans.exchanges" -> count("exchanges") / r,
        "operators.pin_s" -> spanS("operators.pin") / r,
        "operators.caches_pinned" -> count("pinned") / r,
        "spark.jobs" -> sum(_.jobs) / r,
        "spark.stages" -> sum(_.stages) / r,
        "spark.tasks" -> sum(_.tasks) / r,
        "spark.sched_wait_s" -> sum(_.schedMs) / 1e3 / r,
        "spark.core_busy_frac" -> sum(_.taskWallMs) / 1e3 / math.max(traceWallS * cpus, 1e-9),
        "spark.task_run_s" -> sum(_.runMs) / 1e3 / r,
        "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9 / r,
        "spark.gc_s" -> sum(_.gcMs) / 1e3 / r,
        "spark.shuffle_write_mb" -> sum(_.shuffleW) / mb / r,
        "spark.shuffle_read_mb" -> sum(_.shuffleR) / mb / r,
        "spark.spill_mb" -> sum(_.spill) / mb / r,
        "spark.input_mb" -> sum(_.input) / mb / r,
        "spark.peak_exec_mem_mb" -> all.map(_.peakMem).foldLeft(0L)(math.max) / mb,
        "sources.files_written" -> count("files_written") / r,
        "sources.bytes_written" -> count("bytes_written") / r,
        "sources.lookup_files_read" -> count("files_read") / r,
        "sources.lookup_bytes_read" -> underPhase("sources.lookup", _.input) / r) ++
        selfTimes.toSeq.sortBy(_._1).map { case (n, v) => s"self.${n}_s" -> v / r }
    }
  }

  /** Self time per span name: duration minus the union of its children. */
  private def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val names = Seq("queries.build", "operators.pin", "spark.exec",
      "sources.write", "sources.lookup", "spark.job", "op")
    names.map { n =>
      n -> spans.filter(_.name == n).map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start),
          math.min(c.end, s.end))).filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0.0; var hi = Double.MinValue
        iv.foreach { case (a, b) =>
          val lo = math.max(a, hi)
          if (b > lo) covered += b - lo
          hi = math.max(hi, b)
        }
        ((s.end - s.start) - covered) / 1e6
      }.sum
    }.toMap
  }

  def writeSpans(f: File): Unit = synchronized {
    val body = spans.map(s => Json.obj("id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "op" -> Json.str(s.op), "parent" -> Json.num(s.parent),
      "start_us" -> Json.num(s.start), "end_us" -> Json.num(s.end)))
    val self = selfTimes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
    Files.writeString(f.toPath, Json.obj("spans" -> Json.arr(body),
      "self_s" -> Json.obj(self: _*)))
  }
}

object Tracer {
  /** Every physical node, through adaptive plans, query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
}
