package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{BulkApi, SyntheticContractMarket}
import graft.operators.TickerSplice

/** [[graft.api.BulkApi]] — the bulk/chain/snapshot retrieval family:
  * contract-identity invariants, the alias-splice routing
  * (resolve_ticker_history, v2.py:1069-1079), snapshot latest-row
  * semantics, and the plan contracts (time predicate pushed to the
  * scan, no window operator anywhere in the family).
  */
class BulkApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def api(aliases: Seq[TickerSplice.Alias] = Nil) = new BulkApi(
    SyntheticContractMarket.quotes(spark, dir),
    SyntheticContractMarket.trades(spark, dir),
    SyntheticContractMarket.oi(spark, dir),
    aliases = aliases)

  test("bulk EOD: one row per (contract, day), identity complete") {
    val eod = api().retrieveBulkEod(3L, None, "2024-01-02", "2024-01-28")
    val n = eod.count()
    assert(n > 0)
    assert(eod.select($"datetime", $"expiration", $"right", $"strike")
      .distinct().count() == n, "EOD must be unique per (contract, day)")
    assert(eod.filter($"expiration".isNull || $"right".isNull ||
      $"strike".isNull).count() == 0)
    // quote timeline is complete: volume 0 where no trades printed
    assert(eod.filter($"volume" === 0.0).count() >= 0)
  }

  test("bulk EOD: exp filter restricts to one expiration") {
    val all = api().retrieveBulkEod(3L, None, "2024-01-02", "2024-01-28")
    val exps = all.select($"expiration").distinct().count()
    assert(exps > 1, "fixture must span multiple expirations")
    val one = api().retrieveBulkEod(3L, Some("2026-01-16"),
      "2024-01-02", "2024-01-28")
    assert(one.select($"expiration").distinct().count() == 1)
  }

  test("alias splice widens a bulk scan with pre-rename history") {
    // root 9 doesn't exist (roots are 0-4): without an alias the scan
    // is empty; with alias 9<-2 the pre-rename history flows in under
    // the new identity, exactly the resolve_ticker_history routing.
    val none = api().retrieveBulkEod(9L, None, "2024-01-02", "2024-01-28")
    assert(none.count() == 0)
    val spliced = api(Seq(TickerSplice.Alias(9L, 2L, "2024-02-01")))
      .retrieveBulkEod(9L, None, "2024-01-02", "2024-01-28")
    assert(spliced.count() > 0)
    assert(spliced.select($"root").distinct().collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("alias splice keeps every contract quoted at the same instant") {
    // root 1 holds two contracts quoted at one instant; the splice must
    // dedup per contract, not per timestamp across the whole root
    val q = Seq(
      (1L, "2026-01-16", "C", 90.0, "2024-01-02 10:00:00", 1L),
      (1L, "2026-01-16", "P", 100.0, "2024-01-02 10:00:00", 2L))
      .toDF("root", "expiration", "right", "strike", "ts", "seq")
      .select($"root", to_date($"expiration").as("expiration"), $"right", $"strike",
        to_timestamp($"ts").as("ts"), $"seq",
        lit(1.0).as("bid"), lit(1.1).as("ask"), lit(1L).as("bid_size"), lit(1L).as("ask_size"))
    assert(new BulkApi(q, q, q).snapshotQuote(1L).count() == 2)
    val spliced = new BulkApi(q, q, q, Seq(TickerSplice.Alias(1L, 9L, "2024-01-01")))
    assert(spliced.snapshotQuote(1L).count() == 2)
  }

  test("chain bulk: right filter and at-time cut apply") {
    val chain = api().retrieveChainBulk(2L, None, "2024-01-02", "2024-01-28",
      "14:30", right = Some("C"))
    assert(chain.count() > 0)
    assert(chain.filter($"right" =!= "C").count() == 0)
    // one row per (contract, day)
    assert(chain.select($"date", $"expiration", $"strike").distinct().count()
      == chain.count())
  }

  test("snapshotQuote: exactly the latest quote per contract") {
    val q = SyntheticContractMarket.quotes(spark, dir).filter($"root" === 4L)
    val contracts = q.select($"expiration", $"right", $"strike").distinct().count()
    val snap = api().snapshotQuote(4L)
    assert(snap.count() == contracts, "one snapshot row per contract")
    // the snapshot timestamp is the max ts of that contract's stream
    val joined = snap.join(
      q.groupBy($"expiration", $"right", $"strike").agg(max($"ts").as("max_ts")),
      Seq("expiration", "right", "strike"))
    assert(joined.filter($"datetime" =!= $"max_ts").count() == 0)
  }

  test("snapshotOi returns one latest row per contract") {
    val snap = api().snapshotOi(1L)
    assert(snap.count() > 0)
    assert(snap.select($"expiration", $"right", $"strike").distinct().count()
      == snap.count())
  }

  test("plan: time-range predicate reaches the parquet scan; no window") {
    for (df <- Seq(
        api().retrieveBulkEod(3L, None, "2024-01-02", "2024-01-28"),
        api().retrieveChainBulk(2L, None, "2024-01-02", "2024-01-28", "14:30"),
        api().snapshotGreeks(4L),
        api().snapshotOhlc(0L))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        "bulk family must aggregate, never window-sort:\n" + p.take(400))
    }
    val eodPlan = api().retrieveBulkEod(3L, None, "2024-01-02", "2024-01-28")
      .queryExecution.executedPlan.toString
    // on a (root, date)-partitioned production layout the root/date
    // predicates prune partitions; on the flat test parquet the
    // loader's schema-adaptive range filter must reach the scan. For
    // the native-timestamp vintage that means a true parquet
    // PushedFilter on ts; for the legacy nanos vintage (raw INT64, the
    // range is a bigint comparison) at least scan-adjacent DataFilters.
    val scanLine = eodPlan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("events.parquet"))
      .getOrElse("")
    val pushedNative = scanLine.contains("GreaterThanOrEqual(ts") &&
      scanLine.contains("LessThan(ts")
    val nanosAdjacent = scanLine.contains("DataFilters") &&
      scanLine.contains("timestamp_micros")
    assert(pushedNative || nanosAdjacent,
      "time-range filter must be pushed (native ts) or scan-adjacent (nanos):\n" + scanLine)
  }
}
