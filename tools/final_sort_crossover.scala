// Final-sort crossover: wall time and task time of a global sort over
// generated parquet inputs of several sizes, to place the bound of
// graft.plans.FinalSortToSinglePartition (a quarter of
// spark.sql.adaptive.advisoryPartitionSizeInBytes, 16 MB by default;
// DESIGN.md "Final ordering"). Two shapes per input: `scan`, a
// scan-only sort (the rule compares the input's bytes on disk and
// shuffles it to one partition), and `agg`, a sort over an aggregate of
// nearly unique groups above a hash shuffle (the rule compares the
// shuffle's map-output bytes and runs the final aggregate in the sort's
// one task). Each is run twice per repetition, in alternating order:
// range-partitioned (the bound lowered to 1 byte, so the rule never
// fires) and on one partition (the bound raised over every input). The
// session is the engine's own (SessionDefaults.session on local[n], n
// reduce partitions).
//
//   sbt compile
//   $SPARK_HOME/bin/spark-shell --master 'local[1]' --driver-memory 2g \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false -I tools/final_sort_crossover.scala
//
// Env: CROSSOVER_CPUS (n, default 4), CROSSOVER_DIR (inputs, default
// target/crossover; reused when present), CROSSOVER_MB (target input
// sizes, default "8,16,32,64,128,256"), CROSSOVER_REPS (default 3).
// Prints one `crossover` line per size, shape and mode: on-disk MB, the
// MB the rule's estimate compares with the bound (on-disk bytes for
// `scan`, the hash shuffle's map output for `agg`), the final sort's
// partitioning (range, single: a single-partition exchange, fused: no
// exchange), and the medians of jobs, wall seconds and summed task run
// time.

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

object FinalSortCrossover extends AdaptiveSparkPlanHelper {
  def main(): Unit = {
    val cpus = sys.env.getOrElse("CROSSOVER_CPUS", "4")
    val s = graft.SessionDefaults.session(s"local[$cpus]", cpus)
    val root = sys.env.getOrElse("CROSSOVER_DIR", "target/crossover")
    val sizesMb = sys.env.getOrElse("CROSSOVER_MB", "8,16,32,64,128,256").split(",").map(_.trim.toInt)
    val reps = sys.env.getOrElse("CROSSOVER_REPS", "3").toInt

    val jobs = new AtomicLong()
    val taskMs = new AtomicLong()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => taskMs.addAndGet(m.executorRunTime))
    })

    def bytesOn(dir: String): Long = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

    // rows: a random sort key, a random double, a 16-character string
    def frame(rows: Long) = s.range(rows).select(
      xxhash64(col("id"), lit(7)).as("k"), rand(11).as("d"), hex(xxhash64(col("id"))).as("s"))

    val calib = s"$root/calibration"
    if (!new java.io.File(calib).exists()) frame(1L << 20).repartition(4).write.parquet(calib)
    val bytesPerRow = bytesOn(calib).toDouble / (1L << 20)

    val inputs = sizesMb.map { mb =>
      val dir = s"$root/mb$mb"
      if (!new java.io.File(dir).exists())
        frame((mb * 1048576L / bytesPerRow).toLong).repartition(math.max(4, mb / 16)).write.parquet(dir)
      (mb, dir)
    }

    val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "scan" -> (_.orderBy("k")),
      "agg" -> (_.groupBy(shiftright(col("k"), 1).as("g"))
        .agg(sum("d").as("d"), max("s").as("s")).orderBy("g")))

    val bound = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def sortOnce(dir: String, shape: DataFrame => DataFrame,
        advisory: String): (Long, Double, Long, String, Long) = {
      s.conf.set(bound, advisory)
      val qe = shape(s.read.parquet(dir)).queryExecution
      Thread.sleep(200)
      val (j0, t0) = (jobs.get(), taskMs.get())
      val start = System.nanoTime()
      // run the frame's own execution, rows discarded on the executors
      // (as graft.PlanDump does), so its final plan is the one that ran
      SQLExecution.withNewExecutionId(qe)(qe.executedPlan.execute().foreach(_ => ()))
      val wall = (System.nanoTime() - start) / 1e9
      Thread.sleep(500)
      val plan = qe.executedPlan
      val parts = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
      val part = if (parts.exists(_.startsWith("rangepartitioning"))) "range"
        else if (parts.contains("SinglePartition")) "single" else "fused"
      val hashBytes = collect(plan) {
        case q: ShuffleQueryStageExec if q.shuffle.outputPartitioning.isInstanceOf[HashPartitioning] =>
          q.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)
      }.sum
      (jobs.get() - j0, wall, taskMs.get() - t0, part, hashBytes)
    }

    def median[T](xs: Seq[T])(implicit o: Ordering[T]): T = xs.sorted(o)(xs.size / 2)
    val modes = Seq("range" -> "1", "single" -> Long.MaxValue.toString)
    for ((_, shape) <- shapes) sortOnce(inputs.head._2, shape, "1") // warm-up
    for ((_, dir) <- inputs; (shapeName, shape) <- shapes) {
      val runs = (0 until reps).flatMap { r =>
        val order = if (r % 2 == 0) modes else modes.reverse
        order.map { case (name, advisory) => name -> sortOnce(dir, shape, advisory) }
      }
      for ((name, _) <- modes) {
        val rs = runs.filter(_._1 == name).map(_._2)
        val estMb = if (shapeName == "scan") bytesOn(dir) / 1048576.0
          else median(rs.map(_._5)) / 1048576.0
        println(f"crossover cpus=$cpus input_mb=${bytesOn(dir) / 1048576.0}%.1f shape=$shapeName " +
          f"est_mb=$estMb%.1f mode=$name plan=${rs.map(_._4).distinct.mkString("/")} " +
          f"jobs=${median(rs.map(_._1))} wall_s=${median(rs.map(_._2))}%.2f " +
          f"task_s=${median(rs.map(_._3)) / 1000.0}%.2f")
      }
    }
    s.conf.unset(bound)
    s.stop()
  }
}

spark.stop()
FinalSortCrossover.main()
System.exit(0)
