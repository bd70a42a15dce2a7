package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{CoreOps, TickerSplice}
import graft.operators.CoreOps._

/** Market-hours configuration (reference PRICING_CONFIG uses at
  * v2.py:623, 899-901, 1432-1437). `quoteStartMin` (09:45) is the
  * QUOTE_DATA_START_TIME applied when quotes BOOTSTRAP an OHLC frame
  * — the v2.py:1432-1437 one-time fix "to ensure there is data for
  * open"; plain quote retrieval still starts at market open.
  */
final case class MarketConfig(openMin: Int = 570, closeMin: Int = 960,
    eodHour: Int = 16, quoteStartMin: Int = 585) {

  /** The end-of-day stamp of a day-start timestamp: `day + eodHour`. */
  def eodStamp(day: Column): Column = day + expr(s"interval $eodHour hours")
}

/** The reference's public retrieval surface (SURVEY §7.1 module 5 /
  * §3.1) re-expressed over DataFrame-backed market tables:
  * `retrieveQuote`, `retrieveOhlc`, `retrieveEodOhlc` (quote⟕ohlc
  * J1), `retrieveOpenInterest`, `listDates`, `listContracts`,
  * `snapshotQuote` — each a declarative pipeline of the engine's
  * operators (formatting → derived columns → business hours →
  * agg-map resample → splice/dedup), so a reference user can switch
  * call-for-call.
  *
  * Tables are injected (storage-agnostic): `quotes(root, ts, seq,
  * bid, ask, bid_size, ask_size)`, `ohlc(root, ts, seq, open, high,
  * low, close, volume)`, `oi(root, day, seq, open_interest)`.
  * Corporate actions come from the alias list (R1).
  */
final class FinanceApi(
    quotes: DataFrame,
    ohlc: DataFrame,
    oi: DataFrame,
    aliases: Seq[TickerSplice.Alias] = Nil,
    cfg: MarketConfig = MarketConfig(),
    contracts: DataFrame = null) {

  /** R1: widen a single-root scan with its pre-rename history. */
  private val spliced = TickerSplice.spliced(aliases, Seq("seq")) _

  private def inRange(df: DataFrame, tsCol: String, start: String, end: String) =
    df.filter(col(tsCol) >= to_timestamp(lit(start)) &&
      col(tsCol) < to_timestamp(lit(end)))

  /** §3.1 steps 4-8: quotes → midpoint/weighted midpoint → business
    * hours → interval resample with the A1 agg map.
    */
  def retrieveQuote(root: Any, start: String, end: String,
      interval: String): DataFrame =
    quoteBars(root, start, end, interval, cfg.openMin)

  private def quoteBars(root: Any, start: String, end: String,
      interval: String, fromMin: Int): DataFrame = {
    val base = inRange(spliced(quotes, root, "ts"), "ts", start, end)
      .withColumn("mid", midpoint(col("bid"), col("ask")))
      .withColumn("weighted_midpoint",
        weightedMidpoint(col("bid"), col("ask"), col("bid_size"), col("ask_size")))
      .filter(businessHours(col("ts"), fromMin, cfg.closeMin))
    val ord = struct(col("ts"), col("seq"))
    val aggs = ohlcBy(col("mid"), ord) ++ Seq(
      lastBy(col("bid"), ord).as("close_bid"),
      lastBy(col("ask"), ord).as("close_ask"),
      lastBy(col("bid_size"), ord).as("bid_size"),
      lastBy(col("ask_size"), ord).as("ask_size"),
      lastBy(col("weighted_midpoint"), ord).as("weighted_midpoint"))
    base.groupBy(window(col("ts"), interval)("start").as("datetime"), col("root"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Trade bars for a root over a range, resampled. */
  def retrieveOhlc(root: Any, start: String, end: String,
      interval: String): DataFrame = {
    val base = inRange(spliced(ohlc, root, "ts"), "ts", start, end)
      .filter(businessHours(col("ts"), cfg.openMin, cfg.closeMin))
    val ord = struct(col("ts"), col("seq"))
    base.groupBy(window(col("ts"), interval)("start").as("datetime"), col("root"))
      .agg(
        firstBy(col("open"), ord).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        lastBy(col("close"), ord).as("close"),
        dsum(col("volume")).as("volume"))
  }

  /** J1 + J2 — EOD: quote side is the complete timeline, OHLC
    * attaches where trades exist, midpoint bootstraps missing bars
    * (F9), volume fillna(0), and the open-interest series left-joins
    * onto the EOD stamp (Organizers.py:274-279's `merge(openInterest,
    * on='Datetime', how='left')`) — nullable where no OI print exists,
    * exactly like the reference's NaN.
    */
  def retrieveEodOhlc(root: Any, start: String, end: String): DataFrame = {
    // quotes that BOOTSTRAP ohlc start at quoteStartMin (09:45), the
    // v2.py:1432-1437 gating, so the bootstrapped open has data behind it
    val q = quoteBars(root, start, end, "1 day", cfg.quoteStartMin)
      .withColumn("datetime", cfg.eodStamp(col("datetime")))
    val o = retrieveOhlc(root, start, end, "1 day")
      .withColumn("datetime", cfg.eodStamp(col("datetime")))
      .select(col("datetime"), col("root"),
        col("open").as("t_open"), col("high").as("t_high"),
        col("low").as("t_low"), col("close").as("t_close"), col("volume"))
    val oiDaily = retrieveOpenInterest(root, start, end)
      .select(col("root"), cfg.eodStamp(col("day").cast("timestamp")).as("datetime"),
        col("open_interest"))
    q.join(o, Seq("datetime", "root"), "left")
      .join(oiDaily, Seq("datetime", "root"), "left")
      .select(
        col("datetime"), col("root"),
        coalesce(col("t_open"), col("close")).as("open"),
        coalesce(col("t_high"), col("close")).as("high"),
        coalesce(col("t_low"), col("close")).as("low"),
        coalesce(col("t_close"), col("close")).as("close"),
        coalesce(col("volume"), lit(0.0)).as("volume"),
        col("close_bid"), col("close_ask"),
        col("bid_size"), col("ask_size"),
        midpoint(col("close_bid"), col("close_ask")).as("midpoint"),
        col("weighted_midpoint"),
        col("open_interest"))
  }

  /** OI series: keep-last per day (W1 on the OI stream). */
  def retrieveOpenInterest(root: Any, start: String, end: String): DataFrame =
    CoreOps.dedupKeepLast(
      spliced(oi, root, "day")
        .filter(col("day") >= to_date(lit(start)) && col("day") < to_date(lit(end))),
      Seq("root", "day"), Seq("seq"))

  /** Available dates across alias history, sorted (list_dates). */
  def listDates(root: Any): DataFrame =
    spliced(quotes, root, "ts")
      .select(to_date(col("ts")).as("date"))
      .distinct()
      .orderBy(col("date"))

  /** Latest quote per root "as of now" (snapshot, T1/T2). */
  def snapshotQuote(): DataFrame =
    CoreOps.dedupKeepLast(quotes, Seq("root"), Seq("ts", "seq"))

  /** S7 — contract list (Alpaca `get_option_contracts_all`,
    * Alpaca.py:553-583): the filter surface of the REST endpoint
    * (underlying, type, expiration window, strike window) over the
    * injected contracts table, with OCC symbology attached
    * (tests exercise `symbol/strike/expiration/right`). Pagination is
    * source-internal in the reference; a DataFrame is already the
    * fully-accumulated list, so every filter pushes into the scan.
    */
  def listContracts(root: Any, right: Option[String] = None,
      expirationGte: Option[String] = None, expirationLte: Option[String] = None,
      strikeGte: Option[Double] = None, strikeLte: Option[Double] = None): DataFrame = {
    require(contracts != null, "FinanceApi built without a contracts table")
    val filters = Seq(
      Some(col("root") === lit(root)),
      right.map(r => col("right") === lit(r)),
      expirationGte.map(d => col("expiration") >= to_date(lit(d))),
      expirationLte.map(d => col("expiration") <= to_date(lit(d))),
      strikeGte.map(v => col("strike") >= lit(v)),
      strikeLte.map(v => col("strike") <= lit(v))).flatten
    filters.foldLeft(contracts)(_ filter _)
      .withColumn("occ", graft.functions.OccSymbol.generate(
        concat(lit("R"), col("root").cast("string")),
        col("expiration"), col("right"), col("strike")))
      .select(col("occ"), col("root"), col("expiration"), col("right"),
        col("strike"))
      .orderBy(col("expiration"), col("strike"), col("right"))
  }
}

/** Deterministic synthetic option-market tables derived from the
  * events stream — the fixture factory for the API (the driver
  * corpus has no market tables).
  */
object SyntheticMarket {

  def quotes(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      (col("user_id") % 10).as("root"),
      col("ts"),
      col("event_id").as("seq"),
      col("value").as("bid"),
      (col("value") + 0.10 + (col("event_id") % 7).cast("double") * 0.01).as("ask"),
      (lit(1L) + col("event_id") % 5).as("bid_size"),
      (lit(1L) + col("event_id") % 3).as("ask_size"))

  def ohlc(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase") // trades are sparse
      .select(
        (col("user_id") % 10).as("root"),
        col("ts"),
        col("event_id").as("seq"),
        col("value").as("open"),
        (col("value") * 1.02).as("high"),
        (col("value") * 0.98).as("low"),
        (col("value") * 1.01).as("close"),
        (col("event_id") % 100).cast("double").as("volume"))

  def oi(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .filter(col("event_type") === "signup")
      .select(
        (col("user_id") % 10).as("root"),
        to_date(col("ts")).as("day"),
        col("event_id").as("seq"),
        (col("event_id") % 10000).as("open_interest"))

  /** Deterministic option-contract table (root, expiration, right,
    * strike) derived from orders, mirroring the Alpaca contract-list
    * shape.
    */
  def contracts(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "orders").select(
      (col("o_orderkey") % 10).as("root"),
      date_add(lit(java.sql.Date.valueOf("2026-01-01")),
        (col("o_orderkey") % 300).cast("int")).as("expiration"),
      when(col("o_orderkey") % 4 < 2, "C").otherwise("P").as("right"),
      (lit(50.0) + (col("o_orderkey") % 200).cast("double") * 0.5).as("strike"))
      .distinct()
}
