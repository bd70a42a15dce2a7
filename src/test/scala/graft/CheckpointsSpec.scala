package graft

import org.apache.spark.sql.functions.md5
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpoints

/** Locks for [[Checkpoints.stable]] — the deploy-aware lineage cut
  * the r18 chaos probe forced into existence (CHAOS_r18.md): both
  * paths must truncate lineage (the iterative-loop plan-blowup
  * guarantee), the reliable path must actually write recoverable
  * files (the executor-loss guarantee), and the master switch must
  * classify the in-process master as local.
  */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def isLineageCut(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  test("both paths cut lineage to a flat LogicalRDD") {
    val src = spark.range(100).select($"id", ($"id" % 7).as("k"))
    val local = Checkpoints.stable(src, reliable = false)
    val rel = Checkpoints.stable(src, reliable = true)
    assert(isLineageCut(local) && isLineageCut(rel),
      "checkpointed plans must be flat — persist-style lineage doubles per loop round")
    assert(local.collect().toSet == rel.collect().toSet)
  }

  test("the reliable path writes files under spark.checkpoint.dir") {
    val dirConf = spark.conf.get("spark.checkpoint.dir")
    val dir = new java.io.File(new java.net.URI(dirConf))
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      if (dir.exists()) walk(dir).map(_.getPath).toSet else Set.empty
    }
    val before = files()
    val df = Checkpoints.stable(
      spark.range(1000).select($"id", md5($"id".cast("string")).as("h")),
      reliable = true)
    assert(df.count() == 1000)
    val added = files() -- before
    assert(added.nonEmpty,
      s"reliable checkpoint must persist recoverable files under $dirConf")
  }

  test("reliable checkpoint computes the frame ONCE and drops its scaffolding persist") {
    // RDD.checkpoint's write is a SEPARATE job re-running the lineage;
    // without the persist every loop/training frame under a remote-
    // executor master would compute twice. Count per-row evaluations.
    val acc = spark.sparkContext.longAccumulator("ckpt_evals")
    val tick = org.apache.spark.sql.functions.udf((i: Long) => { acc.add(1); i })
    val src = spark.range(400).select(tick($"id").as("v"))
    val out = Checkpoints.stable(src, reliable = true)
    assert(out.count() == 400)
    assert(acc.value == 400L,
      s"frame evaluated ${acc.value} row-times for 400 rows — the checkpoint " +
        "write job must read the persisted blocks, not recompute from lineage")
    assert(src.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the persist is scaffolding for the write job only — it must be " +
        "unpersisted once the checkpoint files are materialized")
  }

  test("reliable checkpoint leaves a CALLER-owned cache in place") {
    // CacheManager is plan-keyed: when the caller already persisted
    // the same plan, the scaffolding persist/unpersist pair would
    // silently evict THEIR cache after the write. stable() must
    // detect the existing persist and leave ownership with the caller.
    val src = spark.range(300).select($"id", md5($"id".cast("string")).as("h"))
    src.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = Checkpoints.stable(src, reliable = true)
      assert(isLineageCut(out) && out.count() == 300)
      assert(src.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        "a pre-existing caller persist must survive the checkpoint")
    } finally src.unpersist(blocking = true)
  }

  test("stop-time reap deletes the session's checkpoint subdir (recreatable)") {
    val sc = spark.sparkContext
    val appDir = sc.getCheckpointDir.get
    assert(Checkpoints.stable(spark.range(50).toDF(), reliable = true).count() == 50)
    val f = new java.io.File(new java.net.URI(appDir).getPath)
    assert(f.exists(), s"reliable checkpoint should have populated $appDir")
    SessionDefaults.reapCheckpoints(spark)
    assert(!f.exists(), "reap must delete the per-app UUID subdir")
    assert(f.getParentFile.exists() || !new java.io.File(
      new java.net.URI(spark.conf.get("spark.checkpoint.dir")).getPath).exists(),
      "reap must never delete the shared parent spark.checkpoint.dir")
    // the NEXT reliable checkpoint re-mkdirs its path (parents included),
    // so reaping is safe even mid-session — later frames still work
    val again = Checkpoints.stable(spark.range(20).toDF(), reliable = true)
    assert(again.count() == 20 && f.exists())
  }

  test("the master switch: in-process test master takes the local path") {
    // TestSpark runs local[4] — sparkContext.isLocal must be true, so
    // the default stable() call picks localCheckpoint here; the
    // reliable path under a REAL fleet is exercised end-to-end by
    // `FaultMatrix kill` (CHAOS_r18.md) and the multiexec verify runs
    assert(spark.sparkContext.isLocal)
    val df = Checkpoints.stable(spark.range(10).toDF())
    assert(isLineageCut(df) && df.count() == 10)
  }
}
