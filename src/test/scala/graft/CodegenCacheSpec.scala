package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps the classes it compiles for generated code in one LRU
  * per JVM, sized by the static conf `spark.sql.codegen.cache.maxEntries`
  * (Spark's default: 100). An analyst's session repeats the same query
  * shapes, and the ten `finance_interactive` queries alone compile
  * about 200 classes, so at the default every repeat recompiled every
  * class. [[SessionDefaults.CodegenCacheEntries]] sizes the cache to
  * the engine's working set; this spec pins the effect end to end.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** perfbench's finance_interactive set: one query per latency decile
    * of the FinanceDatabase-surface queries.
    */
  private val finance = Seq("q07_batch_update", "q88_stream_stream_join",
    "q93_asof_forward", "q10_resample_ohlc_1h", "q153_daily_returns",
    "q40_occ_roundtrip", "q74_bulk_open_interest", "q95_asof_by_channel",
    "q48_streaming_windowed_agg", "q65_catalog_lifecycle")

  /** One pass through the noop sink, as Bench runs a query; returns the
    * classes compiled during the pass.
    */
  private def pass(): Long = {
    val before = BenchCore.codegenCompiles()
    finance.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      graft.operators.Staging.pinCaches(df)
      df.write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    BenchCore.codegenCompiles() - before
  }

  test("a repeated pass over the finance queries compiles no class") {
    val first = pass()
    val second = pass()
    info(s"classes compiled: first pass $first, second pass $second")
    // more distinct classes than Spark's default cache holds, so a
    // 100-entry LRU would thrash and the second pass would recompile
    assert(first > 100, s"first pass compiled only $first classes")
    assert(second == 0, s"second pass recompiled $second classes (first: $first)")
  }
}
