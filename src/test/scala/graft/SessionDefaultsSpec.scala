package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session layer IS part of the plan contract: coalescing-off and
  * the local split size are what keep compute-dense stages parallel
  * (DESIGN.md round-14 section), and the extensions wire the native
  * SQL functions + the top-k rewrite. A refactor that drops one of
  * these would silently reintroduce the serialized-stage class while
  * every result stays correct — so the spec pins them, per profile:
  * the local values must NOT leak into a cluster deployment (8 MB
  * splits over 100 TB ≈ 12.5M scan tasks).
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
    val c = SessionDefaults.profileConfigs("local", env = Map.empty)
    assert(c("spark.sql.adaptive.coalescePartitions.enabled") == "false")
    assert(c("spark.sql.files.maxPartitionBytes") == (8 * 1024 * 1024).toString)
    assert(c("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }

  test("cluster profile raises the split size back to Spark's default") {
    val c = SessionDefaults.profileConfigs("cluster", env = Map.empty)
    // neither knob is forced: split size reverts to Spark's 128 MB
    // default and AQE coalescing comes back on
    assert(!c.contains("spark.sql.files.maxPartitionBytes"))
    assert(!c.contains("spark.sql.adaptive.coalescePartitions.enabled"))
    // ...but the coalescing FLOOR is lowered (round-16 measurement:
    // the 1 MB minPartitionSize defeated parallelismFirst on q134's
    // small-byte compute-dense join, 13.3 s vs 2.5 s at sf1; inert on
    // real-scale stages where bytes/parallelism >> 1 MB)
    assert(c("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "65536")
    // the extensions are profile-independent
    assert(c("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }

  test("coalescing-floor and minPartitionNum env overrides are wired") {
    val env = Map(
      "GRAFT_MIN_PARTITION_SIZE" -> "1m",
      "GRAFT_MIN_PARTITION_NUM" -> "16")
    val c = SessionDefaults.profileConfigs("cluster", env)
    assert(c("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1m")
    assert(c("spark.sql.adaptive.coalescePartitions.minPartitionNum") == "16")
  }

  test("an unknown profile fails loudly instead of inheriting bench-box knobs") {
    val e = intercept[IllegalArgumentException](
      SessionDefaults.profileConfigs("prod", env = Map.empty))
    assert(e.getMessage.contains("GRAFT_DEPLOY"))
  }

  test("localProfile mirrors the profile names and the loud-failure rule") {
    assert(SessionDefaults.localProfile("local"))
    assert(!SessionDefaults.localProfile("cluster"))
    val e = intercept[IllegalArgumentException](
      SessionDefaults.localProfile("Prod"))
    assert(e.getMessage.contains("GRAFT_DEPLOY"))
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
    assert(SessionDefaults.masterConfigs("local[32]", Map.empty).isEmpty)
    assert(SessionDefaults.masterConfigs("local[*]", Map.empty).isEmpty)
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
    // is not a local-only knob
    for (profile <- Seq("local", "cluster")) {
      val c = SessionDefaults.profileConfigs(profile, env = Map.empty)
      assert(c("spark.sql.codegen.cache.maxEntries") ==
        SessionDefaults.CodegenCacheEntries.toString, profile)
    }
    // above the ~2,400–2,500 classes one pass of all 174 queries compiles
    assert(SessionDefaults.CodegenCacheEntries > 2500)
    // a static conf: it reaches the live session only because the
    // first session's builder set it
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      SessionDefaults.CodegenCacheEntries.toString)
  }

  test("the env overrides are exactly the four partition knobs") {
    // no env var reaches the codegen cache (or anything else new): a
    // GRAFT_* name outside the override list changes nothing
    val knobs = Map(
      "GRAFT_MAX_PARTITION_BYTES" -> "spark.sql.files.maxPartitionBytes",
      "GRAFT_COALESCE" -> "spark.sql.adaptive.coalescePartitions.enabled",
      "GRAFT_MIN_PARTITION_NUM" ->
        "spark.sql.adaptive.coalescePartitions.minPartitionNum",
      "GRAFT_MIN_PARTITION_SIZE" ->
        "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val stray = Seq("GRAFT_CODEGEN_CACHE", "GRAFT_CODEGEN_CACHE_MAX_ENTRIES",
      "GRAFT_CACHE_MAX_ENTRIES", "GRAFT_MAX_ENTRIES")
    for (profile <- Seq("local", "cluster")) {
      val plain = SessionDefaults.profileConfigs(profile, env = Map.empty)
      val env = (knobs.keys ++ stray).map(_ -> "7").toMap
      val c = SessionDefaults.profileConfigs(profile, env)
      val changed = c.keySet.filter(k => !plain.get(k).contains(c(k)))
      assert(changed == knobs.values.toSet, profile)
      assert(c("spark.sql.codegen.cache.maxEntries") ==
        SessionDefaults.CodegenCacheEntries.toString, profile)
    }
  }

  test("explicit env overrides beat either profile") {
    val env = Map(
      "GRAFT_MAX_PARTITION_BYTES" -> "33554432",
      "GRAFT_COALESCE" -> "true")
    val local = SessionDefaults.profileConfigs("local", env)
    assert(local("spark.sql.files.maxPartitionBytes") == "33554432")
    assert(local("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    val cluster = SessionDefaults.profileConfigs("cluster", env)
    assert(cluster("spark.sql.files.maxPartitionBytes") == "33554432")
  }
}
