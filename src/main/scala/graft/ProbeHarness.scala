package graft

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the fault-injection probe mains ([[ChaosProbe]],
  * [[StreamChaosProbe]], [[DynAllocProbe]]) — one copy of the
  * forked-executor session recipe, the fleet discovery/wait logic and
  * the listener-bus barrier, so the three probes cannot drift (the
  * first drift bug — a hardcoded fleet size next to a parsed one —
  * already happened).
  */
object ProbeHarness {

  /** Enforce a forked-executor master and return it. */
  def requireLocalCluster(probe: String): String = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = SessionDefaults.master(cpus)
    require(master.startsWith("local-cluster"),
      s"$probe needs forked executors: GRAFT_MASTER=local-cluster[...], got $master")
    master
  }

  /** Worker (= executor JVM) count encoded in a local-cluster URL. */
  def fleetSize(master: String): Int =
    master.drop("local-cluster[".length).takeWhile(_ != ',').toInt

  /** The standard probe session: SessionDefaults + master configs +
    * the UTC/shuffle-width contract, plus any probe-specific confs.
    */
  def session(master: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = SessionDefaults(SparkSession.builder().master(master))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (SessionDefaults.masterConfigs(master) ++ extra).foldLeft(base) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

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
  def fleetPids(preexisting: Set[Long]): Seq[Long] =
    executorPids().filterNot(preexisting)

  /** Wait (2 min cap) for the fleet to reach `n`, then REQUIRE it —
    * proceeding with a short fleet would stall or under-attest.
    */
  def waitForFleet(preexisting: Set[Long], n: Int): Unit = {
    val deadline = System.nanoTime() + 120e9.toLong
    while (fleetPids(preexisting).size < n && System.nanoTime() < deadline)
      Thread.sleep(250)
    require(fleetPids(preexisting).size >= n,
      s"fleet never reached $n executors: ${fleetPids(preexisting)}")
  }

  /** SIGKILL one fleet executor; returns its pid (or -1). */
  def killOne(preexisting: Set[Long]): Long = {
    var killed = -1L
    fleetPids(preexisting).headOption.foreach { pid =>
      ProcessHandle.of(pid).ifPresent { h =>
        if (h.destroyForcibly()) killed = pid
      }
    }
    killed
  }

  /** Listener-bus quiescence barrier: the bus delivers events
    * asynchronously, so a probe that resets its counters between
    * passes (or reads them at collect return) drains it first. Without
    * it a previous pass's late task-failure events would be credited
    * to the current pass and could attest a kill that missed. See
    * [[TaskMetricsProbe.drain]].
    */
  def drainListeners(spark: SparkSession): Unit = TaskMetricsProbe.drain(spark)
}
