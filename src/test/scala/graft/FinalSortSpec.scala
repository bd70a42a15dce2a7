package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, QueryExecution, ShufflePartitionSpec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, Cost, CostEvaluator, SimpleCost}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.FinalSortToSinglePartition]]: a global sort over an
  * input within a quarter of the advisory partition size runs on a
  * single partition and runs no range-bounds sampling job. Over
  * materialized shuffle stages it reads each stage as one partition with
  * no exchange; over a scan or a user-specified spread it shuffles to a
  * single partition. A larger input, a row-multiplying map side and
  * `repartitionByRange` keep their range exchange. Jobs are counted in a
  * [[Ledger]] window, as in [[PlanPurity]].
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
    val ledger = Ledger.of(spark)
    // built first: the fixture writes and the reader's schema job are not the query's
    val df = build
    val before = ledger.snapshot()
    val rows = df.collect().toSeq
    (rows, (ledger.snapshot() - before).jobs.toInt, shuffles(df.queryExecution.executedPlan))
  }

  private def shuffles(plan: SparkPlan) =
    collect(plan) { case e: ShuffleExchangeExec => (e.outputPartitioning, e.shuffleOrigin) }

  /** The partition specs of each shuffle read in `df`'s final plan. */
  private def reads(df: DataFrame): Seq[Seq[ShufflePartitionSpec]] =
    collect(df.queryExecution.executedPlan) { case r: AQEShuffleReadExec => r.partitionSpecs }

  /** Whether a read covers its whole shuffle as one partition. */
  private def readsAsOne(specs: Seq[ShufflePartitionSpec]) = specs match {
    case Seq(CoalescedPartitionSpec(0, _, _)) => true
    case _ => false
  }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def aggSorted = small.groupBy("k").agg(sum("v").as("s")).orderBy($"s".desc, $"k")

  /** `aggSorted` on the single-partition exchange path: AQE kept from
    * taking the plan with fewer exchanges.
    */
  private def withSingleExchange[T](body: => T): T = withConf(
    "spark.sql.adaptive.customCostEvaluatorClass" -> classOf[KeepExchanges].getName)(body)

  test("a small global sort shuffles to one partition and runs no sampling job") {
    val (rows, jobs, parts) = withSingleExchange(run(aggSorted))
    assert(parts.exists(_ == ((SinglePartition, ENSURE_REQUIREMENTS))), parts)
    assert(!parts.exists(_._1.isInstanceOf[RangePartitioning]), parts)
    // the existing range path: the same query with the bound below its input
    val (rangeRows, rangeJobs, rangeParts) =
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(run(aggSorted))
    assert(rangeParts.exists(_._1.isInstanceOf[RangePartitioning]), rangeParts)
    assert(jobs == rangeJobs - 1, s"single: $jobs jobs, range path: $rangeJobs")
    // the reference without AQE (range partitioning, no stage rules)
    val (plainRows, _, plainParts) =
      withConf("spark.sql.adaptive.enabled" -> "false")(run(aggSorted))
    assert(plainParts.exists(_._1.isInstanceOf[RangePartitioning]), plainParts)
    assert(rows.size == 37 && rows == plainRows && rows == rangeRows)
  }

  test("a small aggregate sort reads its shuffle as one partition: no exchange, no sampling job") {
    val df = aggSorted
    val (rows, jobs, parts) = run(df)
    // only the aggregate's own shuffle; the sort runs in the final aggregate's task
    assert(parts == Seq((parts.head._1, ENSURE_REQUIREMENTS)) &&
      parts.head._1.isInstanceOf[HashPartitioning], parts)
    assert(reads(df).size == 1 && reads(df).forall(readsAsOne), reads(df))
    // one job fewer than the single-partition exchange path
    val (singleRows, singleJobs, _) = withSingleExchange(run(aggSorted))
    assert(jobs == singleJobs - 1, s"fused: $jobs jobs, single-partition exchange: $singleJobs")
    val (plainRows, _, _) = withConf("spark.sql.adaptive.enabled" -> "false")(run(aggSorted))
    assert(rows.size == 37 && rows == singleRows && rows == plainRows)
  }

  test("a shuffled join of two small stages reads both sides as one partition") {
    val byK = small.groupBy("k").agg(max("v").as("m"))
    def joined = small.join(byK, "k").orderBy($"m".desc, $"v")
    val (plainRows, _, _) = withConf("spark.sql.adaptive.enabled" -> "false")(run(joined))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = joined
      val (rows, _, parts) = run(df)
      assert(parts.nonEmpty && parts.forall { case (p, o) =>
        p.isInstanceOf[HashPartitioning] && o == ENSURE_REQUIREMENTS }, parts)
      assert(reads(df).size == 2 && reads(df).forall(readsAsOne), reads(df))
      assert(rows.size == 400 && rows == plainRows)
      // with AQE coalescing on, as under the fleet tuning, the result is the same
      withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "true") {
        val (coalescedRows, _, _) = run(joined)
        assert(coalescedRows == plainRows)
      }
    }
  }

  test("a repartition(n) spread under the sort keeps its n-way stage and the exchange") {
    val df = small.repartition(3).select(($"v" * 2).as("x"), $"k").orderBy($"x".desc)
    val (rows, _, parts) = run(df)
    assert(parts.toSet == Set((RoundRobinPartitioning(3), REPARTITION_BY_NUM),
      (SinglePartition, ENSURE_REQUIREMENTS)), parts)
    assert(reads(df).isEmpty, reads(df))
    assert(rows.map(_.getLong(0)) == (798L to 0L by -2L))
  }

  test("a scan-only sort is decided from the file sizes before any stage runs") {
    val df = small.orderBy($"v".desc)
    assert(shuffles(df.queryExecution.executedPlan).map(_._1) == Seq(SinglePartition))
    val (rows, _, parts) = run(df)
    // the final plan keeps the exchange: the scan stays as wide as its files
    assert(parts == Seq((SinglePartition, ENSURE_REQUIREMENTS)), parts)
    assert(reads(df).isEmpty, reads(df))
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
        // one partition: a single-partition exchange over the broadcast
        // join's scan, one-partition reads of the sort-merge join's stages
        val (oneRows, _, oneParts) = run(oneToOne)
        assert(oneParts.exists(_._1 == SinglePartition) || reads(oneToOne).exists(readsAsOne),
          oneParts)
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
      Ledger.of(spark).snapshot() // drains the bus the plans arrive on
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

/** Rates a plan with more exchanges cheaper, so AQE keeps its current
  * plan rather than re-plan one with an exchange fewer: the final sort
  * keeps the single-partition exchange it was first planned with.
  */
class KeepExchanges extends CostEvaluator {
  override def evaluateCost(plan: SparkPlan): Cost =
    SimpleCost(-plan.collect { case s: ShuffleExchangeLike => s }.size)
}
