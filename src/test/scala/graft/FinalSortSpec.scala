package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.FinalSortToSinglePartition]]: a global sort over an
  * input within a quarter of the advisory partition size shuffles to a
  * single partition and runs no range-bounds sampling job; a larger
  * input, a row-multiplying map side and `repartitionByRange` keep
  * their range exchange. Jobs are counted with a listener, as in [[PlanPurity]].
  */
class FinalSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("final-sort").toString
    spark.range(400).select(($"id" % 37).as("k"), $"id".as("v"))
      .repartition(4).write.parquet(s"$d/small")
    spark.range(800).select(($"id" % 4).as("k"), $"id".as("v"))
      .repartition(2).write.parquet(s"$d/many_a")
    spark.range(800).select(($"id" % 4).as("k"), ($"id" * 3).as("w"))
      .repartition(2).write.parquet(s"$d/many_b")
    spark.range(400).select($"id".as("k")).where($"k" < 0)
      .write.parquet(s"$d/empty")
    spark.range(1).select($"id".as("k"), lit("one").as("s"))
      .write.parquet(s"$d/one")
    d
  }

  private def small = spark.read.parquet(s"$dir/small")

  /** Rows of `build()`'s collect, the jobs it started, and the
    * partitionings of the shuffles its final plan ran.
    */
  private def run(build: => DataFrame): (Seq[Row], Int, Seq[(Partitioning, Any)]) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // built first: the fixture writes and the reader's schema job are not the query's
    val df = build
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = df.collect().toSeq
      ListenerBusDrain.drain(spark.sparkContext)
      (rows, jobs.get(), shuffles(df.queryExecution.executedPlan))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def shuffles(plan: org.apache.spark.sql.execution.SparkPlan) =
    collect(plan) { case e: ShuffleExchangeExec => (e.outputPartitioning, e.shuffleOrigin) }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def aggSorted = small.groupBy("k").agg(sum("v").as("s")).orderBy($"s".desc, $"k")

  test("a small global sort shuffles to one partition and runs no sampling job") {
    val (rows, jobs, parts) = run(aggSorted)
    assert(parts.map(_._1).exists(_ == SinglePartition), parts)
    assert(!parts.exists(_._1.isInstanceOf[RangePartitioning]), parts)
    // the existing range path: the same query with the bound below its input
    val (rangeRows, rangeJobs, rangeParts) =
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(run(aggSorted))
    assert(rangeParts.exists(_._1.isInstanceOf[RangePartitioning]), rangeParts)
    assert(jobs == rangeJobs - 1, s"rule: $jobs jobs, range path: $rangeJobs")
    // the reference without AQE (range partitioning, no stage rules)
    val (plainRows, _, plainParts) =
      withConf("spark.sql.adaptive.enabled" -> "false")(run(aggSorted))
    assert(plainParts.exists(_._1.isInstanceOf[RangePartitioning]), plainParts)
    assert(rows.size == 37 && rows == plainRows && rows == rangeRows)
  }

  test("a scan-only sort is decided from the file sizes before any stage runs") {
    val df = small.orderBy($"v".desc)
    assert(shuffles(df.queryExecution.executedPlan).map(_._1) == Seq(SinglePartition))
    val (rows, _, _) = run(df)
    assert(rows.map(_.getLong(1)) == (399L to 0L by -1L))
  }

  test("the bound is a quarter of the advisory partition size") {
    val bytes = new java.io.File(s"$dir/small").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    def finalShuffles(advisory: Long) =
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString) {
        shuffles(small.orderBy($"v".desc).queryExecution.executedPlan).map(_._1)
      }
    assert(finalShuffles(4 * bytes) == Seq(SinglePartition))
    assert(finalShuffles(4 * bytes - 4).forall(_.isInstanceOf[RangePartitioning]))
  }

  test("an input over the bound keeps range partitioning") {
    val (rows, _, parts) =
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64")(run(aggSorted))
    assert(parts.exists(_._1.isInstanceOf[RangePartitioning]), parts)
    assert(!parts.exists(_._1 == SinglePartition), parts)
    assert(rows.size == 37)
  }

  test("an explode under the sort keeps range partitioning") {
    val (rows, _, parts) = run(
      small.select(explode(array($"k", $"v")).as("x"), $"v").orderBy("x", "v"))
    assert(parts.map(_._1).exists(_.isInstanceOf[RangePartitioning]), parts)
    assert(!parts.exists(_._1 == SinglePartition), parts)
    assert(rows.size == 800)
  }

  test("a many-to-many join under the sort keeps range partitioning") {
    // 800 rows a side on 4 keys: 160,000 joined rows from two files of a
    // few KB each; joined on a side distinct on the key, 800 rows
    val a = spark.read.parquet(s"$dir/many_a")
    val b = spark.read.parquet(s"$dir/many_b")
    val manyToMany = a.join(b, "k").orderBy("k", "v", "w")
    val distinctSide = b.groupBy(($"w" / 3).cast("long").as("v")).agg(max($"k").as("bk"))
    val oneToOne = a.join(distinctSide, "v").orderBy("v")
    // broadcast hash join, then sort-merge join
    for (broadcast <- Seq("10MB", "-1")) withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> broadcast) {
      // a bound of 1 MB: over the joined inputs, under 800 times them
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB") {
        val (rows, _, parts) = run(manyToMany)
        assert(parts.exists(_._1.isInstanceOf[RangePartitioning]), parts)
        assert(!parts.exists(_._1 == SinglePartition), parts)
        assert(rows.size == 160000)
        val (oneRows, _, oneParts) = run(oneToOne)
        assert(oneParts.exists(_._1 == SinglePartition), oneParts)
        assert(!oneParts.exists(_._1.isInstanceOf[RangePartitioning]), oneParts)
        assert(oneRows.map(_.getLong(0)) == (0L until 800L))
      }
    }
  }

  test("Store.writeZClustered keeps its repartitionByRange exchange") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.sources.Store.writeZClustered(small, s"$dir/z", "k", "v", 4)
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val parts = plans.asScala.toSeq.flatMap(qe => shuffles(qe.executedPlan))
    assert(parts.exists { case (p, o) => p.isInstanceOf[RangePartitioning] &&
      p.numPartitions == 4 && o == REPARTITION_BY_NUM }, parts)
    assert(!parts.exists(_._1 == SinglePartition), parts)
    assert(new java.io.File(s"$dir/z").listFiles().count(_.getName.endsWith(".parquet")) == 4)
  }

  test("empty and one-row inputs return their typed result") {
    val (empty, _, emptyParts) = run(spark.read.parquet(s"$dir/empty").orderBy($"k".desc))
    assert(empty.isEmpty)
    assert(emptyParts.forall { case (p, o) => p == SinglePartition && o == ENSURE_REQUIREMENTS },
      emptyParts)
    val one = spark.read.parquet(s"$dir/one").orderBy("k")
    val (rows, _, _) = run(one)
    assert(one.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("k" -> "bigint", "s" -> "string"))
    assert(rows == Seq(Row(0L, "one")))
    val (agg, _, _) = run(spark.read.parquet(s"$dir/empty")
      .groupBy("k").count().orderBy("k"))
    assert(agg.isEmpty)
  }
}
