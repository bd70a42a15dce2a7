// Final-sort crossover: wall time and task time of a scan-only global
// sort over generated parquet inputs of several sizes, to place the
// bound of graft.plans.FinalSortToSinglePartition (a quarter of
// spark.sql.adaptive.advisoryPartitionSizeInBytes, 16 MB by default,
// compared with the input's bytes on disk; DESIGN.md "Final
// ordering"). Each input is sorted twice per repetition, in alternating
// order: range-partitioned (the bound lowered to 1 byte, so the rule
// never fires) and shuffled to one partition (the bound raised over
// every input). The session is the engine's own
// (SessionDefaults.session on local[n], n reduce partitions).
//
//   sbt compile
//   $SPARK_HOME/bin/spark-shell --master 'local[1]' --driver-memory 2g \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false -I tools/final_sort_crossover.scala
//
// Env: CROSSOVER_CPUS (n, default 4), CROSSOVER_DIR (inputs, default
// target/crossover; reused when present), CROSSOVER_MB (target input
// sizes, default "8,16,32,64,128,256"), CROSSOVER_REPS (default 3).
// Prints one `crossover` line per size and mode: on-disk MB, the final
// exchange's partitioning, and the medians of jobs, wall seconds and
// summed task run time.

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

object FinalSortCrossover {
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

    val bound = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def sortOnce(dir: String, advisory: String): (Long, Double, Long, String) = {
      s.conf.set(bound, advisory)
      val df = s.read.parquet(dir).orderBy("k")
      Thread.sleep(200)
      val (j0, t0) = (jobs.get(), taskMs.get())
      val start = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - start) / 1e9
      Thread.sleep(500)
      val plan = df.queryExecution.executedPlan.toString
      val part = if (plan.contains("rangepartitioning")) "range" else "single"
      (jobs.get() - j0, wall, taskMs.get() - t0, part)
    }

    def median[T](xs: Seq[T])(implicit o: Ordering[T]): T = xs.sorted(o)(xs.size / 2)
    val modes = Seq("range" -> "1", "single" -> Long.MaxValue.toString)
    sortOnce(inputs.head._2, "1") // warm-up
    for ((mb, dir) <- inputs) {
      val runs = (0 until reps).flatMap { r =>
        val order = if (r % 2 == 0) modes else modes.reverse
        order.map { case (name, advisory) => name -> sortOnce(dir, advisory) }
      }
      for ((name, _) <- modes) {
        val rs = runs.filter(_._1 == name).map(_._2)
        println(f"crossover cpus=$cpus input_mb=${bytesOn(dir) / 1048576.0}%.1f mode=$name " +
          f"plan=${rs.map(_._4).distinct.mkString("/")} jobs=${median(rs.map(_._1))} " +
          f"wall_s=${median(rs.map(_._2))}%.2f task_s=${median(rs.map(_._3)) / 1000.0}%.2f")
      }
    }
    s.conf.unset(bound)
    s.stop()
  }
}

spark.stop()
FinalSortCrossover.main()
System.exit(0)
