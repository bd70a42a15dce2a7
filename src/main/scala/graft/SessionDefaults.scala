package graft

import org.apache.spark.sql.SparkSession

/** Shared session hygiene + the engine's plan-critical defaults,
  * applied by every entry point (tests, [[Verify]], [[Bench]],
  * [[PlanDump]], [[FaultMatrix]]) through [[session]].
  *
  * Hygiene: Derby — the embedded Hive-metastore database — and the
  * SQL warehouse both live under `target/`, so a test or bench run
  * leaves no `derby.log` / `metastore_db/` / `spark-warehouse/`
  * droppings in the repo root that would eventually be committed by
  * accident. Derby resolves both its log and relative database names
  * against the `derby.system.home` JVM property, so one property
  * covers both artifacts.
  *
  * Plan defaults follow the session's MASTER, the one deploy decision
  * ([[inProcess]]): the split-size and coalescing knobs that are right
  * for an in-process box would be pathological verbatim on a real
  * fleet (8 MB splits over 100 TB ≈ 12.5M scan tasks), so
  * [[masterConfigs]] gives them to in-process masters only; [[apply]]
  * sets just the confs that are the same on every master.
  */
object SessionDefaults {

  /** Size of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), set in every
    * session. Spark keeps the Janino-compiled whole-stage and
    * expression classes in one LRU per JVM — the driver and each
    * executor — keyed by the generated source. The engine's working
    * set is far larger than 100: the ten `finance_interactive` queries
    * compile about 210 distinct classes and all 174 queries about
    * 2,400–2,500. An LRU cycled over more keys than it holds never
    * hits, so at the default every repeated query recompiled every
    * class, which was about half the task CPU of a warm finance
    * round. 4096 holds the whole engine plus headroom for the classes
    * whose source inlines data-dependent literals (a second pass over
    * all 174 queries still compiles a few dozen of those).
    *
    * It is a STATIC conf: Spark reads it once, when the first session
    * of the JVM initializes the code generator, so it must be set in
    * that session's builder — which [[apply]] does for every entry
    * point. Setting it on a live session has no effect. Cost: the
    * classes stay loaded; after two passes over all 174 queries
    * metaspace held about 20 MB more than at the default.
    */
  val CodegenCacheEntries: Int = 4096

  /** The ONE deploy decision: true iff `master` runs the whole session
    * in this JVM — `local` or `local[...]`, Spark's own
    * `SparkContext.isLocal` rule. `local-cluster`, `spark://`, `yarn`
    * and `k8s://` masters are fleets. [[masterConfigs]] picks the plan
    * tuning from it, [[Tables.loadSpreadLocal]] its plan shape and
    * [[graft.operators.Checkpoints.stable]] its lineage-cut path.
    */
  def inProcess(master: String): Boolean =
    master == "local" || master.startsWith("local[")

  /** Core count for the entry points: `SPARK_GRAFT_CPUS` if set, else
    * the cores this JVM sees. Each entry point sizes its master and
    * `spark.sql.shuffle.partitions` from it.
    */
  def cpus(): String = cpus(sys.env)

  def cpus(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  /** Session master for the entry points: `GRAFT_MASTER` env wins
    * (any Spark master URL), else `local[cpus]`. The value this
    * exists for is `local-cluster[workers,coresEach,memEachMB]` —
    * Spark's own multi-executor test topology: a real standalone
    * master + workers in the driver JVM and one FORKED executor JVM
    * per worker, so every claim local[32] cannot test (one
    * BlockManager per executor, real Netty shuffle + broadcast
    * transport, cross-executor cache misses) executes for real on one
    * box. The caller keeps `spark.sql.shuffle.partitions` /
    * SPARK_GRAFT_CPUS sized to the TOTAL core count either way.
    */
  def master(cpus: String): String = master(cpus, sys.env)

  def master(cpus: String, env: Map[String, String]): String =
    env.getOrElse("GRAFT_MASTER", s"local[$cpus]")

  /** The executor-JVM flags a forked-executor master needs and
    * in-process masters ignore. Mirrors build.sbt's driver-side list
    * (org.apache.spark.launcher.JavaModuleOptions): spark-submit
    * injects these for executors, but local-cluster executors are
    * forked by ExecutorRunner from $SPARK_HOME, which on JDK 17 needs
    * the same --add-opens set, plus this build's classes on the
    * executor classpath (the driver got them from sbt).
    */
  private val executorAddOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** The plan tuning a master gets, pure and unit-testable without
    * building a session (SessionDefaultsSpec asserts every master
    * kind).
    *
    * In-process masters ([[inProcess]], the bench/test topology):
    *  - AQE's post-shuffle partition COALESCING is off: it merges
    *    partitions by shuffle BYTES, which is blind to compute-dense
    *    rows — the r14 q134 finding, where a few MB of candidate
    *    pairs coalesced to ONE partition and serialized seconds of
    *    Levenshtein DP through a single core (and the range-sort's
    *    sampling pass ran the single-task join twice). This engine's
    *    heavy stages are hash/DP/regex per row, not bytes, so
    *    parallelism-first is the right local default; AQE itself
    *    (runtime re-plan, skew-join splitting) stays ON.
    *  - 8 MB split sizing: the test/probe parquet is a handful of
    *    10–50 MB files, which at the 128 MB default is ONE split (=
    *    one scan task) each — and Spark runs scan-stage expressions,
    *    including join-inferred IsNotNull over derived kernel
    *    columns, at split parallelism. 8 MB maps these files onto
    *    an in-process box the way a real 100 TB table's thousands of
    *    row groups map onto a cluster (SURVEY §4 sizing note).
    *
    * Fleets: split size stays at Spark's default
    * (`spark.sql.files.maxPartitionBytes`, 128 MB) and AQE coalescing
    * stays on — on real data volumes its byte heuristic and the
    * fleet's parallelism floor are no longer misled by toy file
    * sizes; 8 MB splits over 100 TB would be ≈ 12.5M scan tasks. Only
    * the coalescing floor is lowered (see below). `spark-submit
    * --conf` and [[session]]'s `extra` still reach every knob.
    *
    * `local-cluster` also needs the executor fork's confs, and two env
    * vars this JVM cannot set for itself — both validated LOUDLY here:
    * SPARK_HOME (where ExecutorRunner finds the distribution; use
    * tools/mk_local_cluster_home.sh for a writable shim so executor
    * sandboxes land under target/, not /opt/spark) and
    * SPARK_SCALA_VERSION (load-spark-env.sh normally sets it; without
    * it the launcher's classpath builder dies with "Cannot find any
    * build directories").
    */
  def masterConfigs(master: String): Map[String, String] =
    masterConfigs(master, sys.env)

  def masterConfigs(master: String, env: Map[String, String]): Map[String, String] =
    if (inProcess(master)) Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> (8 * 1024 * 1024).toString)
    else Map(
      // Measured (round 16, sf1 probe under the fleet tuning): AQE's
      // post-shuffle coalescing is blind to compute-dense rows, and
      // its 1 MB minPartitionSize floor defeats parallelismFirst on
      // small-byte stages — q134's blocked Levenshtein join
      // coalesced to ~1 task and ran 13.3 s vs 1.9 s coalescing-off
      // (2.5 s with this floor). Lowering the floor to 64 KB only
      // binds when totalBytes/defaultParallelism < 1 MB — i.e.
      // exactly the small-byte compute-dense class; a real 100 TB
      // stage's bytes/parallelism is far above either floor, so its
      // coalescing is unchanged. Preferred over the deprecated
      // minPartitionNum, which Spark 4 ignores (measured: no
      // effect), and over disabling coalescing wholesale.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536") ++
      (if (master.startsWith("local-cluster")) forkConfigs(master, env)
       else Map.empty)

  private def forkConfigs(master: String,
      env: Map[String, String]): Map[String, String] = {
    val missing =
      Seq("SPARK_HOME", "SPARK_SCALA_VERSION").filterNot(env.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"master '$master' forks executor JVMs and needs env " +
        s"${missing.mkString(", ")} — e.g. " +
        "SPARK_HOME=$(tools/mk_local_cluster_home.sh) SPARK_SCALA_VERSION=2.13")
    Map(
      "spark.executor.extraClassPath" ->
        new java.io.File("target/scala-2.13/classes").getAbsolutePath,
      "spark.executor.extraJavaOptions" -> executorAddOpens)
  }

  /** The session's stable full compute width — the target partition
    * count for compute-dense spreads ([[Tables.loadSpread]], the q134
    * block join). `spark.sql.shuffle.partitions` is a STATIC conf the
    * deployment sizes to its executor fleet, unlike
    * `sparkContext.defaultParallelism`, which under dynamic
    * allocation reflects however few executors happen to be
    * registered when the plan is built (a query planned right after
    * startup would bake that floor into its partitioning for its
    * whole run). On the bench/test boxes the two coincide (the entry
    * points pin shuffle.partitions = cores).
    */
  def computeWidth(s: SparkSession): Int =
    s.sessionState.conf.numShufflePartitions

  /** Delete this session's reliable-checkpoint residue, then stop it —
    * the shutdown path for every entry point (Bench, Verify, PlanDump,
    * FaultMatrix). `spark.cleaner.referenceTracking.cleanCheckpoints`
    * only deletes a superseded checkpoint's files when the driver GCs
    * the RDD reference, so a long-lived driver accumulates loop-round
    * files under `spark.checkpoint.dir` between GCs and keeps the
    * final frames' files forever; this bounds checkpoint-dir growth
    * deterministically at session end. Deletes ONLY the session's own
    * per-app subdirectory (`SparkContext.setCheckpointDir` mints a
    * UUID dir under the configured parent), so concurrent sessions
    * sharing one parent dir are untouched. Hadoop-FS API, not
    * java.io.File: a real deploy's checkpoint dir is a DFS path.
    */
  def stopAndReap(spark: SparkSession): Unit = {
    reapCheckpoints(spark)
    spark.stop()
  }

  def reapCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getCheckpointDir.foreach { d =>
      val path = new org.apache.hadoop.fs.Path(d)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(path, true)
      ()
    }

  /** The one session recipe every entry point builds from: [[apply]]'s
    * hygiene and master-independent confs, the master, a shuffle width of `cpus`,
    * UTC, no UI, then [[masterConfigs]] and the caller's `extra` (which
    * therefore win over everything before them). Log level WARN. AQE
    * is not set: it is on by default in Spark 4.1 (SessionDefaultsSpec
    * reads it back from a recipe-built session).
    */
  def session(master: String, cpus: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val base = apply(SparkSession.builder())
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (masterConfigs(master) ++ extra).foldLeft(base) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The confs that are the same on every master: the engine's own
    * extensions (the native SQL functions resolve, and the rank-limit
    * rewrite turns the SQL row_number idiom into the bounded-heap
    * aggregate — the same plan contract the Column API gets), the
    * codegen cache (per JVM, on the driver and on every executor, see
    * [[CodegenCacheEntries]]), the warehouse, the checkpoint dir and
    * its cleaner. The master's tuning comes from [[masterConfigs]].
    */
  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val derby = new java.io.File("target/derby")
    derby.mkdirs()
    System.setProperty("derby.system.home", derby.getAbsolutePath)
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.warehouse.dir", dirUri("target/spark-warehouse"))
      // Reliable-checkpoint home for [[graft.operators.Checkpoints]]
      // (the fleet's executor-loss-tolerant lineage cut — the r18
      // chaos finding). Valid here because every local-cluster
      // executor shares this filesystem; a multi-NODE deployment
      // overrides it with a DFS path. The cleaner conf lets superseded
      // loop-round checkpoints delete their files once the driver GCs
      // the RDD reference.
      .config("spark.checkpoint.dir", dirUri("target/checkpoints"))
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
  }

  /** `file:` URI of `dir` (relative to the working directory), built
    * from its absolute path alone. `File.toURI` appends a `/` only when
    * the directory already exists, so the first session in a fresh
    * checkout and every later one would get different confs.
    */
  private[graft] def dirUri(dir: String): String =
    new java.net.URI("file", null, new java.io.File(dir).getAbsolutePath, null).toString
}
