package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session layer IS part of the plan contract: coalescing-off and
  * the local split size are what keep compute-dense stages parallel
  * (DESIGN.md round-14 section), and the extensions wire the native
  * SQL functions + the top-k rewrite. A refactor that drops one of
  * these would silently reintroduce the serialized-stage class while
  * every result stays correct — so the spec pins them, per master
  * kind: the session's master is the one deploy decision
  * (`SessionDefaults.inProcess`), and the in-process values must NOT
  * leak onto a fleet (8 MB splits over 100 TB ≈ 12.5M scan tasks).
  */
class SessionDefaultsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("plan-critical session defaults are applied (local profile)") {
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "false")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == (8 * 1024 * 1024).toString)
    assert(spark.conf.get("spark.sql.extensions").contains("graft.plans.GraftExtensions"))
    // AQE itself (runtime re-plan, skew splitting) must stay available
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") != "false")
  }

  test("session recipe: UTC, shuffle width = cpus, no UI, AQE on, extra wins") {
    // the live test session was built by the recipe (TestSpark)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // nobody sets AQE: Spark 4.1 has it on by default
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // `extra` is applied after the recipe's own shuffle width; on a
    // live JVM getOrCreate returns the running session with the
    // runtime confs applied, so restore the shared session's width
    try {
      val s = SessionDefaults.session("local[4]", "4",
        Map("spark.sql.shuffle.partitions" -> "3"))
      assert(s eq spark)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("no SparkSession.builder in src/main outside SessionDefaults") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val walk = java.nio.file.Files.walk(root)
    val sites = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "SessionDefaults.scala")
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(_.toString).toList.sorted
    finally walk.close()
    assert(sites.isEmpty, s"build sessions via SessionDefaults.session: $sites")
  }

  test("local profile pins the bench-box knobs") {
    // the in-process tuning comes from masterConfigs; apply() adds the
    // master-independent confs on top
    val c = SessionDefaults.masterConfigs("local[4]", Map.empty)
    assert(c("spark.sql.adaptive.coalescePartitions.enabled") == "false")
    assert(c("spark.sql.files.maxPartitionBytes") == (8 * 1024 * 1024).toString)
    assert(spark.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }

  test("cluster profile raises the split size back to Spark's default") {
    val c = SessionDefaults.masterConfigs("spark://h:7077", Map.empty)
    // neither knob is forced: split size reverts to Spark's 128 MB
    // default and AQE coalescing comes back on
    assert(!c.contains("spark.sql.files.maxPartitionBytes"))
    assert(!c.contains("spark.sql.adaptive.coalescePartitions.enabled"))
    // ...but the coalescing FLOOR is lowered (round-16 measurement:
    // the 1 MB minPartitionSize defeated parallelismFirst on q134's
    // small-byte compute-dense join, 13.3 s vs 2.5 s at sf1; inert on
    // real-scale stages where bytes/parallelism >> 1 MB)
    assert(c("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "65536")
    // the extensions are master-independent: apply() sets them
    assert(!c.contains("spark.sql.extensions"))
  }

  test("masterConfigs: the master alone picks the tuning, per master kind") {
    val inProcessTuning = Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> (8 * 1024 * 1024).toString)
    val fleetTuning = Map(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536")
    val forkEnv = Map("SPARK_HOME" -> "/tmp/sh", "SPARK_SCALA_VERSION" -> "2.13")
    val forkKeys = Set("spark.executor.extraClassPath", "spark.executor.extraJavaOptions")
    for (m <- Seq("local", "local[4]", "local[*]", "local[4,2]")) {
      assert(SessionDefaults.inProcess(m), m)
      assert(SessionDefaults.masterConfigs(m, Map.empty) == inProcessTuning, m)
    }
    val noEnv = Map.empty[String, String]
    for ((m, env) <- Seq("local-cluster[2,2,2048]" -> forkEnv,
        "spark://h:7077" -> noEnv, "yarn" -> noEnv, "k8s://https://h:443" -> noEnv)) {
      assert(!SessionDefaults.inProcess(m), m)
      val c = SessionDefaults.masterConfigs(m, env)
      assert(c -- forkKeys == fleetTuning, m)
      assert(c.keySet.intersect(forkKeys) ==
        (if (m.startsWith("local-cluster")) forkKeys else Set.empty), m)
    }
    // the predicate is Spark's own SparkContext.isLocal rule
    assert(SessionDefaults.inProcess(spark.sparkContext.master) ==
      spark.sparkContext.isLocal)
  }

  test("computeWidth follows the configured shuffle width, not live parallelism") {
    // the stable source for compute-dense spreads (loadSpread, the
    // q134 block join, defaultLoopWidth): a static conf the deploy
    // sizes, immune to dynamic allocation's registration timing
    assert(SessionDefaults.computeWidth(spark) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(graft.operators.Components.defaultLoopWidth(spark) ==
      math.max(8, SessionDefaults.computeWidth(spark) / 4))
  }

  test("master resolution: GRAFT_MASTER wins, else local[cpus]") {
    assert(SessionDefaults.master("32", Map.empty) == "local[32]")
    assert(SessionDefaults.master("32",
      Map("GRAFT_MASTER" -> "local-cluster[4,8,7168]")) ==
      "local-cluster[4,8,7168]")
  }

  test("masterConfigs: in-process masters need nothing extra") {
    // nothing beyond the tuning: an in-process master forks no executor
    for (m <- Seq("local[32]", "local[*]")) {
      val c = SessionDefaults.masterConfigs(m, Map.empty)
      assert(!c.keySet.exists(_.startsWith("spark.executor.")), m)
    }
  }

  test("masterConfigs: local-cluster ships classes + JDK flags to the forked executors") {
    val env = Map("SPARK_HOME" -> "/tmp/sh", "SPARK_SCALA_VERSION" -> "2.13")
    val c = SessionDefaults.masterConfigs("local-cluster[2,8,2048]", env)
    assert(c("spark.executor.extraClassPath").endsWith("target/scala-2.13/classes"))
    assert(c("spark.executor.extraJavaOptions")
      .contains("--add-opens=java.base/sun.nio.ch=ALL-UNNAMED"))
  }

  test("masterConfigs: a local-cluster master without the fork env fails loudly") {
    // the executor fork reads SPARK_HOME/SPARK_SCALA_VERSION from the
    // process env, which this JVM cannot set for itself — silently
    // proceeding would die later with the launcher's opaque "Cannot
    // find any build directories"
    val e = intercept[IllegalArgumentException](
      SessionDefaults.masterConfigs("local-cluster[2,8,2048]",
        Map("SPARK_HOME" -> "/tmp/sh")))
    assert(e.getMessage.contains("SPARK_SCALA_VERSION"))
  }

  test("every profile sizes the codegen cache to the engine's working set") {
    // a per-JVM cache on the driver and on every executor, so the cap
    // is set by apply() on every master, not by the master's tuning
    for (m <- Seq("local[4]", "spark://h:7077"))
      assert(!SessionDefaults.masterConfigs(m, Map.empty)
        .contains("spark.sql.codegen.cache.maxEntries"), m)
    // above the ~2,400–2,500 classes one pass of all 174 queries compiles
    assert(SessionDefaults.CodegenCacheEntries > 2500)
    // a static conf: it reaches the live session only because the
    // first session's builder set it
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SessionDefaults.CodegenCacheEntries.toString)
  }

  test("one core-count default: SPARK_GRAFT_CPUS wins, else availableProcessors") {
    assert(SessionDefaults.cpus(Map("SPARK_GRAFT_CPUS" -> "7")) == "7")
    assert(SessionDefaults.cpus(Map.empty) ==
      Runtime.getRuntime.availableProcessors.toString)
  }

  test("src/main reads only the deployment env vars, and the core count in one place") {
    // the session's master is the one deploy decision: no GRAFT_* env
    // var may pick plan tuning, checkpoint paths or any conf (the
    // codegen cache included), so every GRAFT_*/SPARK_GRAFT_* name in
    // a src/main string literal is an address or a data location
    import scala.jdk.CollectionConverters._
    val allowed = Set("GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_SF1_DIR", "SPARK_GRAFT_BENCH_BUDGET_S")
    val literal = "\"(?:[^\"\\\n]|\\\\.)*\"".r
    val name = "\\b(?:SPARK_)?GRAFT_[A-Z0-9_]*[A-Z0-9]".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val walk = java.nio.file.Files.walk(root)
    val uses = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        literal.findAllIn(src).flatMap(name.findAllIn(_))
          .map(n => (p.getFileName.toString, n))
      }.toList
    finally walk.close()
    val stray = uses.filterNot { case (_, n) => allowed(n) }
    assert(stray.isEmpty, s"GRAFT env vars outside the allowed set: $stray")
    val cpuReaders = uses.collect { case (f, "SPARK_GRAFT_CPUS") => f }.toSet
    assert(cpuReaders == Set("SessionDefaults.scala"),
      s"read the core count through SessionDefaults.cpus: $cpuReaders")
  }

  test("the directory confs do not depend on whether the directories exist yet") {
    val root = java.nio.file.Files.createTempDirectory("session-dirs").toFile
    val dir = new java.io.File(root, "target/checkpoints")
    try {
      val absent = SessionDefaults.dirUri(dir.getPath)
      assert(dir.mkdirs())
      assert(SessionDefaults.dirUri(dir.getPath) == absent)
      assert(absent == "file:" + dir.getAbsolutePath, absent)
    } finally Seq(dir, dir.getParentFile, root).foreach(_.delete())
  }
}
