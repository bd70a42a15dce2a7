package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CoreOps._

class AggregatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CoreOps OHLC bundle equals the min_by/max_by resample composition") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val ord = struct($"ts", $"event_id")
    val aggs = ohlcBy($"value", ord) :+ count(lit(1)).as("n")
    val viaBundle = ev
      .groupBy(window($"ts", "1 hour")("start").as("bucket"), $"event_type")
      .agg(aggs.head, aggs.tail: _*)
    // the reference: the first/last rule written out by hand
    val viaComposition = ev
      .groupBy(window($"ts", "1 hour")("start").as("bucket"), $"event_type")
      .agg(min_by($"value", ord).as("open"), max($"value").as("high"),
        min($"value").as("low"), max_by($"value", ord).as("close"),
        count(lit(1)).as("n"))
    assert(viaBundle.count() == viaComposition.count())
    assert(viaBundle.except(viaComposition).count() == 0)
    assert(viaComposition.except(viaBundle).count() == 0)
  }

  test("CoreOps OHLC bundle is partitioning-invariant") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val aggs = ohlcBy($"value", struct($"ts", $"event_id")) :+ count(lit(1)).as("n")
    def run(parts: Int) = ev.repartition(parts)
      .groupBy($"event_type")
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSet
    assert(run(1) == run(13))
  }

  test("saltedSumCount equals plain aggregation") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val salted = saltedSumCount(li, Seq("l_returnflag"), "l_quantity",
      "l_orderkey", 16).orderBy("l_returnflag").collect()
    val plain = li.groupBy($"l_returnflag")
      .agg(dsum($"l_quantity").as("sum_l_quantity"), count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    assert(salted.toSeq == plain.toSeq)
  }
}
