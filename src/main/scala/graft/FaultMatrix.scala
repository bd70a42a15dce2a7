package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import BenchCore.{jarr, jnum, jobj, jstr}

/** Fault-injection attestation under a forked-executor master
  * (`GRAFT_MASTER=local-cluster[w,c,m]`, the only master that forks
  * REAL executor JVMs). One main, one scenario per run:
  *
  * {{{
  *   sbt "runMain graft.FaultMatrix <scenario> [sfDir] [query...]"
  * }}}
  *
  *  - `kill`: each query runs healthy (reference hash), then again
  *    while one executor is SIGKILLed mid-flight. Its shuffle outputs
  *    vanish, MetadataFetchFailed drives a stage retry, the master
  *    re-provisions, and the hash must not change (CHAOS_r18.md).
  *  - `decommission`: SIGPWR instead, with the decommission and
  *    storage-migration confs on: the victim drains, its shuffle and
  *    RDD blocks MIGRATE to peers, and the job completes with zero
  *    failed tasks and zero stage re-attempts (CHAOS_r19.md).
  *  - `speculation`: reference hashes with speculation off, then the
  *    same queries under aggressive speculation; the scheduler must
  *    mark stragglers speculatable and the hashes must hold.
  *  - `stream-kill`: a running watermark-dedup stream loses its WHOLE
  *    fleet between micro-batches, so batch 2's dedup can only come
  *    from state reloaded from the checkpoint; exactly one row per key
  *    must survive.
  *  - `dynalloc`: a dynamic-allocation fleet starting at one executor.
  *    [[Tables.loadSpread]] must pin its width to
  *    [[SessionDefaults.computeWidth]] whatever `defaultParallelism`
  *    says, and a query's hash must not depend on the fleet's ramp-up
  *    or decay.
  *
  * Every scenario guards against vacuous passes (the
  * ThetaTransportSpec rule): the fault must demonstrably land while
  * the work is in flight, or the pass is retried (up to three times)
  * or fails. Evidence comes from the session's [[Ledger]]: each pass
  * reads a window from a snapshot taken at its start, and snapshots
  * drain the listener bus, so a previous pass's late events can never
  * count as this pass's.
  * Each scenario prints one JSON line per query plus a summary line
  * (or a single line), and the run exits 1 unless it attested.
  */
object FaultMatrix {

  private type Query = (SparkSession, String) => DataFrame

  /** One validated invocation. */
  private final case class Run(master: String, cpus: String, sfDir: String,
      queries: Seq[(String, Query)]) {
    def session(extra: Map[String, String] = Map.empty): SparkSession =
      SessionDefaults.session(master, cpus, extra)
  }

  /** A scenario: its default data dir and queries, and the run, which
    * prints its JSON and returns whether it attested.
    */
  private final case class Scenario(sfDir: String, queries: Seq[String],
      run: Run => Boolean)

  /** The driver's test-data root; each scenario defaults to one scale. */
  private val testdata = "/root/testdata"

  private val scenarios: Map[String, Scenario] = Map(
    "kill" -> Scenario(s"$testdata/sf0.1", Seq("q113_winnow_near_dup",
      "q82_dedup_clusters", "q102_leakage_safe_split", "q160_ivfpq_search"), kill),
    "decommission" -> Scenario(s"$testdata/sf0.1",
      Seq("q113_winnow_near_dup", "q160_ivfpq_search"), decommission),
    "speculation" -> Scenario(s"$testdata/sf0.1", Seq("q37_stratified_sample",
      "q97_ivf_kmeans", "q104_corpus_shuffle_split", "q161_training_shuffle"),
      speculation),
    // self-contained: writes its own stream input, reads no sfDir
    "stream-kill" -> Scenario("", Nil, streamKill),
    "dynalloc" -> Scenario(s"$testdata/sf0.01",
      Seq("q82_dedup_clusters"), dynalloc))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && scenarios.contains(args(0)),
      s"usage: FaultMatrix <${scenarios.keys.toSeq.sorted.mkString("|")}> " +
        "[sfDir] [query...]")
    val scenario = scenarios(args(0))
    val queries = SparkEntry.select(
      if (args.length > 2) args.drop(2).toSeq else scenario.queries)
    val cpus = SessionDefaults.cpus()
    val master = SessionDefaults.master(cpus)
    require(master.startsWith("local-cluster"),
      s"FaultMatrix ${args(0)} needs forked executors: " +
        s"GRAFT_MASTER=local-cluster[...], got $master")
    val run = Run(master, cpus, args.lift(1).getOrElse(scenario.sfDir), queries)
    if (!scenario.run(run)) sys.exit(1)
  }

  /** Canonical result hash: rows rendered, sorted, md5'd — order- and
    * partitioning-independent, so a healthy and a post-retry run
    * compare by content only.
    */
  def canonicalHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Run a frame to completion: its canonical hash and wall seconds. */
  private def timedHash(df: => DataFrame): (String, Double) = {
    val t0 = System.nanoTime()
    val h = canonicalHash(df.collect())
    (h, (System.nanoTime() - t0) / 1e9)
  }

  /** Worker (= executor JVM) count encoded in a local-cluster URL. */
  private def fleetSize(master: String): Int =
    master.drop("local-cluster[".length).takeWhile(_ != ',').toInt

  /** Live executor-backend JVMs — never this driver JVM. */
  def executorPids(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.pid() != self && p.isAlive)
      .filter(_.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false))
      .map(_.pid()).toSeq.sorted
  }

  /** This session's fleet: backends born after `preexisting` was
    * snapshotted — zombies of earlier sessions must never be offered
    * to a killer (shooting one attests nothing).
    */
  private def fleetPids(preexisting: Set[Long]): Seq[Long] =
    executorPids().filterNot(preexisting)

  /** Poll `done` every `pollMs` until it holds or `seconds` pass. */
  private def awaitUntil(seconds: Double, pollMs: Long)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (!done && System.nanoTime() < deadline) Thread.sleep(pollMs)
  }

  /** Wait (2 min cap) for the fleet to reach `n`, then REQUIRE it —
    * proceeding with a short fleet would stall or under-attest.
    */
  private def waitForFleet(preexisting: Set[Long], n: Int): Unit = {
    awaitUntil(120, 250)(fleetPids(preexisting).size >= n)
    require(fleetPids(preexisting).size >= n,
      s"fleet never reached $n executors: ${fleetPids(preexisting)}")
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Run `pass` until its result lands, at most three times (arranging
    * a coincidence honestly: a miss is neither an attestation nor a
    * failure). Each retry sees the previous result. Returns the last
    * result and the attempt count.
    */
  private def untilLanded[A](landed: A => Boolean)(pass: Option[A] => A): (A, Int) = {
    var attempts = 1
    var last = pass(None)
    while (attempts < 3 && !landed(last)) {
      attempts += 1
      last = pass(Some(last))
    }
    (last, attempts)
  }

  private final case class KillPass(equal: Boolean, pid: Long, removed: Long,
      failed: Long, reatt: Long, wall: Double) {
    // two-factor: the kill registered (removal event, grace-waited)
    // AND left in-run task evidence — a kill landing after the job
    // finished removes an executor with zero failed tasks
    def landed: Boolean = pid > 0 && removed > 0 && (failed > 0 || reatt > 0)
  }

  /** Executor SIGKILL mid-query. The killer waits until the fleet is
    * demonstrably BUSY (in-flight tasks > 2× executor count — a victim
    * chosen during a one-task training stage is idle and the kill
    * disturbs nothing), then force-kills one of THIS session's
    * executors.
    */
  private def kill(r: Run): Boolean = {
    val n = fleetSize(r.master)
    val preexisting = executorPids().toSet
    val spark = r.session()
    val ledger = Ledger.of(spark)
    waitForFleet(preexisting, n)
    val results = r.queries.map { case (name, fn) =>
      spark.catalog.clearCache()
      val (healthy, wallHealthy) = timedHash(fn(spark, r.sfDir))
      spark.catalog.clearCache()
      val (p, attempts) = untilLanded[KillPass](_.landed) { _ =>
        val start = ledger.snapshot()
        val killed = new AtomicLong(-1L)
        val killer = daemon(s"chaos-killer-$name") {
          awaitUntil(30, 5)((ledger.live() - start).inFlight >= 2 * n)
          fleetPids(preexisting).headOption.foreach { pid =>
            ProcessHandle.of(pid).ifPresent { h =>
              if (h.destroyForcibly()) killed.set(pid)
            }
          }
        }
        val (chaos, wall) = timedHash(fn(spark, r.sfDir))
        killer.join(90000)
        // drain, THEN read: in-run failure events may still be queued
        // at collect return; a post-job kill generates none, so the
        // drained counters are exact in-run evidence either way
        val run = ledger.snapshot() - start
        // the master's executor-removed event is asynchronous — a
        // kill in the job's last second reports a beat after collect
        def removed = (ledger.live() - start).executorsRemoved
        awaitUntil(15, 200)(killed.get() <= 0 || removed > 0)
        spark.catalog.clearCache()
        waitForFleet(preexisting, n) // re-provision
        KillPass(healthy == chaos, killed.get(), removed, run.tasksFailed,
          run.stageReattempts, wall)
      }
      println(jobj(Seq("query" -> jstr(name), "equal" -> p.equal.toString,
        "killed_pid" -> p.pid.toString, "executors_removed" -> p.removed.toString,
        "tasks_failed" -> p.failed.toString, "stage_reattempts" -> p.reatt.toString,
        "landed" -> p.landed.toString, "attempts" -> attempts.toString,
        "wall_healthy_s" -> jnum(wallHealthy, 2), "wall_chaos_s" -> jnum(p.wall, 2))))
      name -> (p.equal && p.landed)
    }
    val failed = results.collect { case (name, false) => name }
    println(jobj(Seq("metric" -> jstr("chaos_probe"),
      "queries" -> results.size.toString,
      "all_equal_and_landed" -> failed.isEmpty.toString,
      "failed" -> jarr(failed.map(jstr)))))
    SessionDefaults.stopAndReap(spark)
    failed.isEmpty
  }

  private final case class DecomPass(equal: Boolean, pid: Long, removed: Long,
      migrated: Long, rddMig: Long, failed: Long, reatt: Long, inFlight: Boolean,
      healthyHash: String, wallHealthy: Double, wall: Double) {
    def landed: Boolean = pid > 0 && inFlight && removed > 0 && migrated > 0 &&
      failed == 0 && reatt == 0
  }

  private def sigpwr(pid: Long): Boolean =
    new ProcessBuilder("kill", "-PWR", pid.toString)
      .inheritIO().start().waitFor() == 0

  /** Graceful decommission (SIGPWR) mid-query — the spot-reclaim path.
    *
    * Migration evidence is direct: shuffle data/index blocks are
    * tracked by the MapOutputTracker and NEVER reported to the
    * BlockManager master in normal execution; only a decommissioning
    * BlockManager handing its files to a peer registers a `shuffle_*`
    * block, so `shuffle_blocks_migrated > 0` proves the victim held
    * map outputs and a peer now serves them.
    *
    * Each pass runs in a FRESH session: a standalone master will not
    * reliably re-provision a decommissioned worker for the same app,
    * so a shared session's fleet shrinks across passes (observed: a
    * second pass stuck at 3/4 executors). The healthy hash is computed
    * in the first pass's session and reused by retries.
    *
    * Guards: the SIGPWR lands on this pass's fleet WHILE the job is in
    * flight, the executor-removed event registers, migrated shuffle
    * blocks are observed, and zero failed tasks / re-attempts hold.
    */
  private def decommission(r: Run): Boolean = {
    val n = fleetSize(r.master)
    val results = r.queries.map { case (name, fn) =>
      val (p, attempts) = untilLanded[DecomPass](_.landed) { prev =>
        val preexisting = executorPids().toSet
        val spark = r.session(Map(
          "spark.decommission.enabled" -> "true",
          "spark.storage.decommission.enabled" -> "true",
          "spark.storage.decommission.rddBlocks.enabled" -> "true",
          "spark.storage.decommission.shuffleBlocks.enabled" -> "true"))
        try {
          val ledger = Ledger.of(spark)
          waitForFleet(preexisting, n)
          // caches pinned before the window, as Bench and Verify run a
          // query: the signal then reaches tasks that read finished
          // caches, never one storing a cache block (a decommissioning
          // BlockManager refuses it and the task fails). Both walls time
          // only the collect of a pinned frame.
          def pinned(): DataFrame = {
            val df = fn(spark, r.sfDir)
            graft.operators.Staging.pinCaches(df)
            df
          }
          // the reference hash is deterministic and session-independent:
          // a retry re-paying the full healthy run attests nothing extra
          val (healthy, wallHealthy) = prev.map(p => (p.healthyHash, p.wallHealthy))
            .getOrElse { val df = pinned(); timedHash(df) }
          spark.catalog.clearCache()
          val df = pinned()
          val start = ledger.snapshot()
          val victim = new AtomicLong(-1L)
          val delivered = new AtomicLong(Long.MaxValue)
          val atSignal = new AtomicReference[Ledger.Counts]()
          val drainer = daemon(s"decommissioner-$name") {
            // busy fleet AND at least one finished wave: the victim must
            // plausibly HOLD map outputs for migration to attest anything
            awaitUntil(30, 5) {
              val c = ledger.live() - start
              c.inFlight >= 2 * n && c.tasksEnded >= 2 * n
            }
            fleetPids(preexisting).headOption.foreach { pid =>
              // `rdd_` blocks count from a snapshot taken BEFORE the
              // signal can possibly deliver (counting wants the earliest
              // bound): plain caching posts the same event class, and
              // the drained snapshot holds every update posted before it …
              val fence = ledger.snapshot()
              if (sigpwr(pid)) {
                atSignal.set(fence)
                victim.set(pid)
                // … but the IN-FLIGHT check wants the latest bound:
                // kill(2) delivers during the kill process's syscall,
                // which precedes its exit, so a post-waitFor stamp is a
                // sound UPPER bound on delivery — `delivered <
                // collectEnd` can then never hold for a signal that
                // actually landed after the job finished
                delivered.set(System.nanoTime())
              }
            }
          }
          val (decom, wall) = timedHash(df)
          val collectEnd = System.nanoTime()
          drainer.join(90000)
          // a signal after collect returned drains leftover blocks of a
          // FINISHED job and attests nothing (retried)
          val inFlight = victim.get() > 0 && delivered.get() < collectEnd
          val run = ledger.snapshot() - start
          // the drain ends in a real executor exit — grace-wait for the
          // master's asynchronous removal event, and only THEN read the
          // migration counters: the block handoff finishes before the
          // executor exits, so reading at collect-return would
          // undercount a drain still in flight. The executor exits only
          // after a migration round that starts once its last task has
          // ended, and rounds are 30 s apart (Spark's
          // replicationReattemptInterval): over pinned caches the
          // collect ends seconds after the signal, so wait out a round
          awaitUntil(60, 200)(victim.get() <= 0 || (ledger.live() - start).executorsRemoved > 0)
          val end = ledger.snapshot()
          DecomPass(healthy == decom, victim.get(), (end - start).executorsRemoved,
            (end - start).shuffleBlocks, Option(atSignal.get).fold(0L)(s => (end - s).rddBlocks),
            run.tasksFailed, run.stageReattempts, inFlight, healthy, wallHealthy, wall)
        } finally SessionDefaults.stopAndReap(spark)
      }
      println(jobj(Seq("query" -> jstr(name), "equal" -> p.equal.toString,
        "decommissioned_pid" -> p.pid.toString,
        "executors_removed" -> p.removed.toString,
        "shuffle_blocks_migrated" -> p.migrated.toString,
        "rdd_blocks_migrated" -> p.rddMig.toString,
        "tasks_failed" -> p.failed.toString, "stage_reattempts" -> p.reatt.toString,
        "landed" -> p.landed.toString, "attempts" -> attempts.toString,
        "wall_healthy_s" -> jnum(p.wallHealthy, 2), "wall_decom_s" -> jnum(p.wall, 2))))
      name -> (p.equal && p.landed)
    }
    val failed = results.collect { case (name, false) => name }
    println(jobj(Seq("metric" -> jstr("decommission_probe"),
      "queries" -> results.size.toString,
      "all_landed_no_recompute" -> failed.isEmpty.toString,
      "failed" -> jarr(failed.map(jstr)))))
    failed.isEmpty
  }

  /** Speculative execution: task CLONING is the scheduler behaviour
    * the engine's determinism-by-construction claim (seeded sampling,
    * total-order tie-breaks) had never met. Reference hashes come from
    * a clean session; a second session speculates aggressively
    * (tuned to trigger, not to be realistic).
    *
    * One box can attest only the decision half: the scheduler MARKS
    * stragglers speculatable, but a clone launches only on a host with
    * no attempt of the task (TaskSetManager's hasAttemptOnHost
    * exclusion), and every local-cluster executor shares one host. So
    * `speculative_tasks_launched` is reported, not guarded on; the
    * guard is marks > 0 across the run.
    */
  private def speculation(r: Run): Boolean = {
    val n = fleetSize(r.master)
    val ref = {
      val preexisting = executorPids().toSet
      val spark = r.session()
      waitForFleet(preexisting, n)
      val hashes = r.queries.map { case (name, fn) =>
        spark.catalog.clearCache()
        name -> timedHash(fn(spark, r.sfDir))
      }.toMap
      SessionDefaults.stopAndReap(spark)
      hashes
    }
    val preexisting = executorPids().toSet
    val spark = r.session(Map(
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "10ms",
      "spark.speculation.multiplier" -> "1.01",
      "spark.speculation.quantile" -> "0.4",
      // Spark 3.4+ gates speculation on per-task data-processing-rate
      // "inefficiency" — uniform healthy tasks are all efficient, so
      // with the gate on NOTHING clones on a quiet box. Off = the
      // classic runtime-quantile rule.
      "spark.speculation.efficiency.enabled" -> "false"))
    val ledger = Ledger.of(spark)
    waitForFleet(preexisting, n)
    val results = r.queries.map { case (name, fn) =>
      spark.catalog.clearCache()
      val start = ledger.snapshot()
      val (h, wall) = timedHash(fn(spark, r.sfDir))
      val run = ledger.snapshot() - start
      val (refHash, refWall) = ref(name)
      val equal = h == refHash
      println(jobj(Seq("query" -> jstr(name), "equal" -> equal.toString,
        "speculatable_marked" -> run.speculatableMarked.toString,
        "speculative_tasks_launched" -> run.speculativeLaunched.toString,
        "killed_tasks" -> run.tasksKilled.toString,
        "wall_ref_s" -> jnum(refWall, 2), "wall_spec_s" -> jnum(wall, 2))))
      (name, equal, run.speculatableMarked)
    }
    val failed = results.collect { case (name, false, _) => name }
    val totalMarked = results.map(_._3).sum
    val landed = totalMarked > 0
    println(jobj(Seq("metric" -> jstr("speculation_probe"),
      "queries" -> results.size.toString, "all_equal" -> failed.isEmpty.toString,
      "speculatable_marked_total" -> totalMarked.toString,
      "landed" -> landed.toString, "failed" -> jarr(failed.map(jstr)))))
    SessionDefaults.stopAndReap(spark)
    failed.isEmpty && landed
  }

  case class Tick(ts: Timestamp, contract: String, value: Double, seq: Long)

  /** Streaming state recovery after the WHOLE fleet dies between
    * micro-batches of one running query. StreamRecoverySpec covers a
    * query RESTART; killing every executor means no warm in-memory
    * state-store map survives anywhere, so batch 2's dedup can only
    * come from state RELOADED from the checkpoint (killing one
    * executor would exercise the reload only when the victim owned the
    * key's state partition — a mostly vacuous pass).
    *
    * Shape: the watermark dedup over a file source. Batch 1 seeds two
    * keys and advances the watermark; the fleet dies; batch 2 replays
    * an exact duplicate of a kept row from AHEAD of the recovered
    * watermark plus two new keys. Lost state re-emits the duplicate.
    */
  private def streamKill(r: Run): Boolean = {
    val n = fleetSize(r.master)
    val preexisting = executorPids().toSet
    val spark = r.session()
    import spark.implicits._
    val ledger = Ledger.of(spark)
    waitForFleet(preexisting, n)
    val start = ledger.snapshot()

    val src = Files.createTempDirectory("schaos_src")
    val ckpt = Files.createTempDirectory("schaos_ckpt")
    val out = Files.createTempDirectory("schaos_out")
    def ts(s: String) = Timestamp.valueOf(s)
    def addFile(name: String, rows: Seq[Tick]): Unit = {
      val tmp = Files.createTempDirectory("schaos_stage")
      rows.toDF().coalesce(1).write.mode("overwrite").json(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".json")).get
      finally listing.close()
      Files.move(part, src.resolve(name))
    }

    val schema = Seq.empty[Tick].toDF().schema
    val stream = graft.streaming.StreamOps.dedupWithWatermark(
      spark.readStream.schema(schema).json(src.toString),
      "ts", "10 minutes", Seq("contract"))
    val q = stream.writeStream
      .format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    var killed = 0
    try {
      // batch 1: two keys; watermark advances to 10:20 - 10min = 10:10
      addFile("b1.json", Seq(
        Tick(ts("2024-01-01 10:15:00"), "A", 1.0, 1),
        Tick(ts("2024-01-01 10:20:00"), "B", 2.0, 2)))
      q.processAllAvailable()

      // the kill: the WHOLE fleet dies — every executor's state-store
      // cache is gone; only the checkpoint remains
      val victims = fleetPids(preexisting)
      victims.foreach { pid =>
        ProcessHandle.of(pid).ifPresent { h =>
          if (h.destroyForcibly()) killed += 1
        }
      }
      awaitUntil(60, 200)((ledger.live() - start).executorsRemoved >= killed)
      // the master re-provisions; wait so batch 2 runs on FRESH JVMs
      waitForFleet(preexisting ++ victims, n)

      // batch 2 ON THE SAME RUNNING QUERY: A's kept row replayed from
      // ahead of the watermark (must be dropped by RELOADED state),
      // plus two new keys
      addFile("b2.json", Seq(
        Tick(ts("2024-01-01 10:15:00"), "A", 1.0, 3), // cross-kill dup
        Tick(ts("2024-01-01 10:25:00"), "C", 3.0, 4),
        Tick(ts("2024-01-01 12:00:00"), "D", 4.0, 5)))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.read.parquet(out.toString)
      .select($"contract", $"seq").as[(String, Long)].collect().sorted.toSeq
    val keys = rows.map(_._1)
    val exactlyOnce = keys == keys.distinct && keys.sorted == Seq("A", "B", "C", "D")
    val dupDropped = rows.toMap.get("A").contains(1L)
    val removed = (ledger.snapshot() - start).executorsRemoved
    println(jobj(Seq("metric" -> jstr("stream_chaos"), "killed" -> killed.toString,
      "executors_removed" -> removed.toString, "keys" -> keys.size.toString,
      "dup_dropped" -> dupDropped.toString, "exactly_once" -> exactlyOnce.toString)))
    SessionDefaults.stopAndReap(spark)
    exactlyOnce && dupDropped && removed > 0 && killed == n
  }

  /** Dynamic allocation, the last SessionDefaults assumption with no
    * other witness: `computeWidth` pins compute-dense repartitions to
    * the STATIC `spark.sql.shuffle.partitions` because
    * `defaultParallelism` reflects however few executors are
    * registered at PLAN time. On a fleet scaled down to one initial
    * executor it measures (1) `defaultParallelism` vs computeWidth vs
    * the partitions [[Tables.loadSpread]] produces, (2) a shuffle-heavy
    * query during ramp-up vs a steady-state rerun, and (3) a requery
    * after idle decay. Guards: the fleet ramped beyond the initial
    * executor during the first run, and idle decommission fired.
    */
  private def dynalloc(r: Run): Boolean = {
    require(r.queries.size == 1, "dynalloc runs exactly one query")
    val fn = r.queries.head._2
    val spark = r.session(Map(
      "spark.dynamicAllocation.enabled" -> "true",
      "spark.dynamicAllocation.shuffleTracking.enabled" -> "true",
      "spark.dynamicAllocation.minExecutors" -> "1",
      "spark.dynamicAllocation.initialExecutors" -> "1",
      "spark.dynamicAllocation.maxExecutors" -> "4",
      "spark.dynamicAllocation.executorIdleTimeout" -> "4s",
      "spark.dynamicAllocation.shuffleTracking.timeout" -> "8s",
      "spark.dynamicAllocation.schedulerBacklogTimeout" -> "1s"))
    // counted from the ledger's install on this fresh context, so the
    // initial executor's registration counts
    val ledger = Ledger.of(spark)

    // 1. plan-time width gap, measured BEFORE any load ramps the fleet
    val dp0 = spark.sparkContext.defaultParallelism
    val width = SessionDefaults.computeWidth(spark)
    val spreadParts = Tables.loadSpread(spark, r.sfDir, "documents")
      .rdd.getNumPartitions
    val widthPinned = spreadParts == width

    // 2. shuffle-heavy query during ramp-up vs at steady state
    val rampHash = timedHash(fn(spark, r.sfDir))._1
    // ramp evidence snapshots HERE (behind the bus barrier): adds
    // counted later — the requery's own ramp — must not satisfy the
    // "scaled up during the ramp query" claim
    val addedDuringRamp = ledger.snapshot().executorsAdded
    spark.catalog.clearCache()
    val steadyHash = timedHash(fn(spark, r.sfDir))._1
    spark.catalog.clearCache()
    val hashEqual = rampHash == steadyHash

    // 3. let the fleet decay below max, then demand work again
    awaitUntil(45, 500)(ledger.live().executorsRemoved > 0)
    val requeryOk = timedHash(fn(spark, r.sfDir))._1 == steadyHash

    val end = ledger.snapshot()
    val ramped = addedDuringRamp >= 2 // beyond the single initial executor
    val decayed = end.executorsRemoved > 0
    println(jobj(Seq("metric" -> jstr("dynalloc_probe"), "dp_at_start" -> dp0.toString,
      "compute_width" -> width.toString, "spread_partitions" -> spreadParts.toString,
      "width_pinned" -> widthPinned.toString,
      "execs_added_ramp" -> addedDuringRamp.toString,
      "execs_added" -> end.executorsAdded.toString,
      "execs_removed" -> end.executorsRemoved.toString,
      "ramped" -> ramped.toString, "decayed" -> decayed.toString,
      "hash_equal" -> hashEqual.toString, "requery_ok" -> requeryOk.toString)))
    SessionDefaults.stopAndReap(spark)
    widthPinned && hashEqual && requeryOk && ramped && decayed
  }
}
