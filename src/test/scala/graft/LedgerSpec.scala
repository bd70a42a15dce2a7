package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Ledger]], the engine's one listener: task metrics accumulate for
  * real work, a drained window is boundary-clean, and the local-master
  * invariant (every shuffle read is LOCAL — one BlockManager) holds,
  * because its violation is exactly the multi-executor evidence
  * `remote_mb` exists to carry.
  */
class LedgerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("task metrics accumulate across a shuffle and drain is boundary-clean") {
    val ledger = Ledger.of(spark)
    val before = ledger.snapshot()
    spark.range(0, 200000, 1, 8)
      .selectExpr("id % 97 as k")
      .groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    val delta = ledger.snapshot() - before
    assert(delta.tasksEnded > 0, "completed tasks must be recorded")
    assert(delta.taskCpuS > 0, "executor CPU must be recorded")
    assert(delta.taskRunS >= delta.taskCpuS * 0.1, "run time accompanies CPU time")
    // one JVM, one BlockManager: every shuffle-read byte is local
    assert(delta.remoteShuffleBytes == 0,
      "local[n] cannot produce remote shuffle reads")
    assert(delta.localShuffleBytes > 0,
      "the groupBy above must read its shuffle locally")
    // boundary cleanliness: after a drain with no further actions the
    // snapshot is stable
    val idle = ledger.snapshot() - ledger.snapshot()
    assert(idle.tasksEnded == 0 && idle.taskCpuS == 0.0)
  }

  test("Ledger.of returns one listener per context, registered once") {
    val ledger = Ledger.of(spark)
    assert(Ledger.of(spark) eq ledger)
    val before = ledger.snapshot()
    spark.sparkContext.parallelize(1 to 3, 3).count()
    val delta = ledger.snapshot() - before
    // a second registration would deliver every event twice
    assert(delta.jobs == 1 && delta.stages == 1, delta)
    assert(delta.tasksStarted == 3 && delta.tasksEnded == 3, delta)
  }

  test("in src/main only Ledger listens on the bus and drains it") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val walk = java.nio.file.Files.walk(root)
    // comment lines may name them
    val prose = Seq("//", "*", "/*")
    val listening = Seq("extends SparkListener", "with SparkListener", "new SparkListener",
      "addSparkListener(", "removeSparkListener(", "ListenerBusDrain.drain(")
    val sites = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Ledger.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !prose.exists(line.trim.startsWith) &&
              listening.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList.sorted
    finally walk.close()
    assert(sites.isEmpty, s"read the scheduler through Ledger: $sites")
  }
}
