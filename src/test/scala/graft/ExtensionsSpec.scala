package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans._

class ExtensionsSpec extends AnyFunSuite {
  test("GraftExtensions injects all seven SQL functions") {
    // the shared session is built by SessionDefaults with
    // `spark.sql.extensions=graft.plans.GraftExtensions`, the only
    // place the functions are registered
    val spark = TestSpark.spark
    val injected = Seq(
      "simhash64" -> classOf[SimHash64],
      "rolling_hash64" -> classOf[RollingHash64],
      "byte_entropy" -> classOf[ByteEntropy],
      "trading_day_roll" -> classOf[TradingDayRoll],
      "bounded_top_k" -> classOf[BoundedTopK],
      "bounded_rank_top_k" -> classOf[BoundedRankTopK],
      "bpe_encode" -> classOf[BpeEncode])
    for ((name, cls) <- injected) {
      assert(spark.catalog.functionExists(name), name)
      assert(spark.catalog.getFunction(name).className == cls.getName, name)
    }
  }

  test("the shared session runs with the extensions installed") {
    val spark = TestSpark.spark
    // native SQL functions resolve without any manual registration
    val r = spark.sql(
      "SELECT bounded_top_k(struct(x), 2) AS t FROM VALUES (3), (1), (2) v(x)")
      .selectExpr("transform(t, e -> e.x) AS xs").head().getSeq[Int](0)
    assert(r == Seq(1, 2))
    // and the rank-limit rewrite fires on the plain-SQL window idiom
    val df = spark.sql(
      """SELECT * FROM (
        |  SELECT x, g, row_number() OVER (PARTITION BY g ORDER BY x) AS rn
        |  FROM VALUES (1, 'a'), (2, 'a'), (3, 'b') v(x, g)) WHERE rn <= 1""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }
}
