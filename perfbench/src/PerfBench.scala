package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SessionDefaults, SparkEntry, Tables}
import graft.operators.Staging
import graft.sources.Store

/** The benchmark's JVM side: one closed-loop client over one session.
  *
  * `run.py` generates the inputs, picks the operations and starts this
  * main; it writes `result.json` (raw samples, failures, per-layer
  * values) into the work directory, and `run.py` turns the samples into
  * metrics and checks the dumped query results against the oracle.
  *
  * Order of a run: set-up (five times), one untimed pass over the
  * operations that dumps every result for the output check and warms the
  * JIT (skipped by the curation batch, whose timed round writes its own
  * results), the timed window of whole rounds, the store read-back check,
  * and in a traced run one untraced base round, a traced window and the
  * microbenchmarks.
  */
object PerfBench {

  final case class Args(workload: String, data: String, work: String,
      rounds: Int, trace: Boolean, seed: Long, ops: Seq[String], cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("rounds").toInt,
      m("trace") == "1", m("seed").toLong, m("ops").split(",").toSeq.filter(_.nonEmpty),
      m("cpus").toInt)
  }

  /** The Bench session recipe: SessionDefaults, local[cpus], shuffle
    * partitions = cores, AQE on, no UI.
    */
  def session(cpus: Int, localDir: String): SparkSession = {
    val master = SessionDefaults.master(cpus.toString)
    val s = SessionDefaults.masterConfigs(master).foldLeft(
      SessionDefaults(SparkSession.builder().master(master))
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", localDir)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One operation of a round: a query into its sink, a query saved
    * through a `Store` writer, or a lookup against what was saved.
    */
  sealed trait Op { def id: String; def kind: String }
  final case class QueryOp(id: String) extends Op { val kind = "query" }
  final case class SaveOp(id: String, layout: String) extends Op { val kind = "save" }
  final case class LookupOp(id: String, target: String, pred: Pred) extends Op {
    val kind = "lookup"
  }

  /** A lookup predicate, evaluable both as a Spark filter (the pruned
    * read) and over the saved rows on the driver (the expected answer).
    */
  sealed trait Pred { def column: org.apache.spark.sql.Column; def keep(r: Row): Boolean }
  final case class Rect(s0: Double, s1: Double, y0: Double, y1: Double) extends Pred {
    def column = col("strike").between(s0, s1) && col("year_frac").between(y0, y1)
    def keep(r: Row) = {
      val s = r.getAs[Double]("strike"); val y = r.getAs[Double]("year_frac")
      s >= s0 && s <= s1 && y >= y0 && y <= y1
    }
  }
  final case class PartitionKey(right: String, date: java.time.LocalDate) extends Pred {
    def column = col("right") === right && col("date") === lit(java.sql.Date.valueOf(date))
    def keep(r: Row) = r.getAs[String]("right") == right &&
      r.getAs[java.sql.Timestamp]("datetime").toLocalDateTime.toLocalDate == date
  }

  final case class Sample(round: Int, op: String, kind: String, latS: Double,
      traced: Boolean, error: Option[String])
  final case class RoundStat(round: Int, wallS: Double, taskCpuS: Double, traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(a.work).getAbsoluteFile
    val localDir = new File(work, "tmp").getAbsolutePath
    new File(localDir).mkdirs()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit =
      println(f"[phase] $name%-12s at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")

    // --- set-up: process start (first) or session start (re-runs) to a
    // session whose input schemas are asserted
    val setupS = ArrayBuffer.empty[Double]
    val createS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      if (spark != null) SessionDefaults.stopAndReap(spark)
      val t0 = System.nanoTime()
      spark = session(a.cpus, localDir)
      createS += (System.nanoTime() - t0) / 1e9
      Tables.assertSchemas(spark, a.data)
      setupS += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }
    phase("set-up")
    val sc = spark.sparkContext
    val cpu = new CpuListener
    sc.addSparkListener(cpu)

    // curation_batch_x10 is a batch: its first round, in a fresh session,
    // is the timed one and writes the results the output check reads
    val batch = a.workload == "curation_batch_x10"
    val store = new File(work, "store").getAbsolutePath
    val dumpDir = new File(work, "dump")
    val failures = ArrayBuffer.empty[(String, String)]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val samples = ArrayBuffer.empty[Sample]
    val rounds = ArrayBuffer.empty[RoundStat]
    var tracer: Option[Tracer] = None

    def build(name: String): DataFrame = {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      fn(spark, a.data)
    }

    // workload-specific sinks: the enriched chains are z-clustered on
    // strike x year_frac, the bar-shaped q81 is partitioned by (right, date)
    def save(df: DataFrame, op: SaveOp): Unit = op.layout match {
      case "zclustered" => Store.writeZClustered(df, s"$store/${op.id}", "strike", "year_frac", 8)
      case "bars" => Store.writePartitionedBars(df, s"$store/${op.id}", "right", "datetime")
    }

    /** Build, pin and materialize one query frame; each phase is a span
      * when tracing. `sink` is the materialization.
      */
    def phased(op: Op)(sink: DataFrame => Unit): Unit = {
      val t = tracer
      val df = Span.around(t, op.id, "queries.build")(build(queryOf(op)))
      t.foreach(_.analysis(op.id, df))
      val pinned = Span.around(t, op.id, "operators.pin")(Staging.pinCaches(df))
      t.foreach(_.pinned(op.id, pinned))
      val sinkSpan = op match {
        case _: SaveOp => "sources.write"
        case _ => "spark.exec"
      }
      Span.around(t, op.id, sinkSpan)(sink(df))
    }

    def queryOf(op: Op): String = op.id.split("@").head

    val saved = collection.mutable.Map.empty[String, Array[Row]]
    val savedCols = collection.mutable.Map.empty[String, Seq[String]]
    var lastLookup: Array[Row] = Array.empty

    def runOp(op: Op): Unit = op match {
      case q: QueryOp if batch =>
        phased(q)(_.write.mode("overwrite").parquet(new File(dumpDir, q.id).getPath))
      case q: QueryOp =>
        phased(q)(_.write.format("noop").mode("overwrite").save())
      case s: SaveOp =>
        phased(s)(df => save(df, s))
        tracer.foreach(_.wrote(s.id, s"$store/${s.id}"))
      case l: LookupOp =>
        lastLookup = Span.around(tracer, l.id, "sources.lookup") {
          spark.read.parquet(s"$store/${l.target}").filter(l.pred.column)
            .select(savedCols(l.target).map(col): _*).collect()
        }
    }

    /** A lookup must return exactly the saved rows its predicate selects;
      * checked outside the op's timing.
      */
    def verify(op: Op): Unit = op match {
      case l: LookupOp =>
        val want = saved(l.target).filter(l.pred.keep)
        if (canon(lastLookup) != canon(want))
          throw new IllegalStateException(
            s"lookup returned ${lastLookup.length} rows, the predicate selects ${want.length}")
      case _ =>
    }

    val ops: Seq[Op] = a.workload match {
      case "enrich_store" => Seq(SaveOp("q43_risk_enrichment", "zclustered"),
        SaveOp("q89_missing_vol_rescue", "zclustered"),
        SaveOp("q81_option_data_to_save", "bars"))
      case _ => a.ops.map(QueryOp)
    }

    // --- untimed pass: dump every query result for the oracle check
    dumpDir.mkdirs()
    for (op <- ops if !batch) {
      val name = queryOf(op)
      try {
        val df = build(name)
        Staging.pinCaches(df)
        df.coalesce(1).write.mode("overwrite").parquet(new File(dumpDir, name).getPath)
        spark.catalog.clearCache()
        op match {
          case s: SaveOp =>
            // what the store must hold: the oracle-checked result itself
            val dumped = spark.read.parquet(new File(dumpDir, name).getPath)
            savedCols(s.id) = dumped.columns.toSeq
            saved(s.id) = dumped.collect()
          case _ =>
        }
      } catch { case e: Throwable =>
        failures += ((name, oneLine(e)))
      }
      spark.catalog.clearCache()
    }

    phase("dump pass")

    // seeded lookups against what was written: a rectangle on each
    // z-clustered chain, a (right, date) partition on the bars
    val lookups: Seq[Op] = if (a.workload != "enrich_store") Nil else {
      val rnd = new scala.util.Random(a.seed)
      val perTarget = 4
      saved.keys.toSeq.sorted.flatMap { t =>
        val rows = saved(t)
        (0 until perTarget).flatMap { i =>
          if (rows.isEmpty) None else {
            val r = rows(rnd.nextInt(rows.length))
            val pred: Pred =
              if (t.startsWith("q81")) PartitionKey(r.getAs[String]("right"),
                r.getAs[java.sql.Timestamp]("datetime").toLocalDateTime.toLocalDate)
              else {
                val s = r.getAs[Double]("strike"); val y = r.getAs[Double]("year_frac")
                Rect(s - 6.0, s + 6.0, y - 0.08, y + 0.08)
              }
            Some(LookupOp(s"$t@lookup$i", t, pred))
          }
        }
      }
    }
    val roundOps: Seq[Op] = ops ++ new scala.util.Random(a.seed + 1).shuffle(lookups)

    // --- timed windows: whole rounds, closed loop, one client. `run.py`
    // fixes the number of rounds, so every run does the same work whatever
    // the pace of the machine.
    def window(traced: Boolean, n: Int): Unit = {
      for (_ <- 0 until n) {
        cpu.drain(spark)
        val c0 = cpu.cpuNs
        val r0 = System.nanoTime()
        tracer.foreach(_.roundStart())
        for (op <- roundOps) {
          tracer.foreach(_.opStart(op.id))
          val s0 = System.nanoTime()
          var lat = 0.0
          val err = try {
            runOp(op)
            lat = (System.nanoTime() - s0) / 1e9
            verify(op)
            None
          } catch { case e: Throwable => Some(oneLine(e)) }
          spark.catalog.clearCache()
          samples += Sample(rounds.size, op.id, op.kind, lat, traced, err)
          err.foreach(e => failures += ((op.id, e)))
          tracer.foreach(_.opDone(op.id))
        }
        val wall = (System.nanoTime() - r0) / 1e9
        cpu.drain(spark)
        tracer.foreach(_.roundEnd())
        rounds += RoundStat(rounds.size, wall, (cpu.cpuNs - c0) / 1e9, traced)
      }
    }

    window(traced = false, a.rounds)
    phase("timed window")
    // the whole store must read back as the saved result
    for (s <- ops.collect { case s: SaveOp if saved.contains(s.id) => s }) {
      val back = spark.read.parquet(s"$store/${s.id}").select(savedCols(s.id).map(col): _*).collect()
      val ok = canon(back) == canon(saved(s.id))
      checks += ((s"store:${s.id}", ok,
        if (ok) "" else s"store holds ${back.length} rows, saved ${saved(s.id).length}"))
    }
    val layers = collection.mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      // an untraced round just before the traced one: the overhead base
      window(traced = false, 1)
      val t = new Tracer(spark, a.cpus)
      tracer = Some(t)
      createS.foreach(s => t.sessionCreate(s))
      window(traced = true, 1)
      tracer = None
      layers ++= t.metrics()
      phase("traced window")
      val micro = new Micro(a.seed)
      layers ++= micro.kernels()
      phase("kernels")
      layers ++= micro.analytics()
      phase("analytics")
      // enrich-op task CPU per enriched row over the riskOf kernel cost:
      // how much work the enrichment spends per row beyond one solve
      val enrichRows = Seq("q43_risk_enrichment", "q89_missing_vol_rescue")
        .flatMap(saved.get).map(_.length).sum
      val enrichCpuNs = t.opCpuNs(Set("q43_risk_enrichment", "q89_missing_vol_rescue"))
      val perRound = enrichCpuNs / math.max(t.rounds, 1)
      layers("analytics.cpu_per_row_over_kernel") =
        if (enrichRows == 0) 0.0 else perRound / enrichRows / layers("analytics.risk_of_ns")
      t.writeSpans(new File(work, "spans.json"))
    }

    val storeStats = if (a.workload != "enrich_store") Map.empty[String, Double] else {
      val (files, bytes) = saved.keys.map(k => dirSize(new File(s"$store/$k")))
        .foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }
      Map("files" -> files.toDouble, "bytes" -> bytes.toDouble,
        "rows" -> saved.values.map(_.length).sum.toDouble)
    }

    val json = Json.obj(
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "session_create_s" -> Json.arr(createS.map(Json.num)),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "samples" -> Json.arr(samples.map(s => Json.obj("round" -> Json.num(s.round),
        "op" -> Json.str(s.op), "kind" -> Json.str(s.kind), "lat_s" -> Json.num(s.latS),
        "traced" -> Json.bool(s.traced),
        "error" -> s.error.map(Json.str).getOrElse("null")))),
      "rounds" -> Json.arr(rounds.map(r => Json.obj("round" -> Json.num(r.round),
        "wall_s" -> Json.num(r.wallS),
        "task_cpu_s" -> Json.num(r.taskCpuS), "traced" -> Json.bool(r.traced)))),
      "oracle_sql" -> Json.obj(ops.map(queryOf).distinct.map(n =>
        n -> Json.str(SparkEntry.oracleSql.getOrElse(n, ""))): _*),
      "failures" -> Json.arr(failures.map { case (o, e) =>
        Json.obj("op" -> Json.str(o), "error" -> Json.str(e)) }),
      "checks" -> Json.arr(checks.map { case (n, ok, why) =>
        Json.obj("name" -> Json.str(n), "ok" -> Json.bool(ok), "why" -> Json.str(why)) }),
      "store" -> Json.obj(storeStats.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(Paths.get(work.getPath, "result.json"), json)
    SessionDefaults.stopAndReap(spark)
  }

  /** Rows as a sorted multiset of canonical strings. */
  def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("\u0001")).sorted

  def oneLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).linesIterator.take(1).mkString

  /** Parquet part files under `dir` and their bytes. */
  def dirSize(dir: File): (Long, Long) = {
    val files = Files.walk(dir.toPath).filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    (files.length.toLong, files.map(p => Files.size(p)).sum)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) return -1.0
    scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
