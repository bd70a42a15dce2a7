package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analytics.RiskKernels
import graft.operators.{CalendarOps, CoreOps, TickerSplice}
import graft.operators.CoreOps._

/** The reference's BULK retrieval surface — its highest-throughput
  * query family ("Bulk endpoints are much more efficient",
  * v3/endpoints.py:241-244): every row carries the FULL contract
  * identity `(root, expiration, right, strike)`, one row per
  * (timestamp, contract).
  *
  *  - `retrieveBulkEod` (v2.py:1055-1160): one EOD row per
  *    (contract, day) — trade OHLC/volume, close bid/ask + sizes from
  *    the last quote, midpoint/weighted midpoint, quote-close
  *    bootstrap where no trades printed (F9/R4), volume fillna(0).
  *  - `retrieveBulkOpenInterest` (v2.py:1682-1760): one OI row per
  *    (contract, day), keep-last per day.
  *  - `retrieveChainBulk` (v2.py:2096-2212): the whole chain "at a
  *    time" — for each day in range, the quote (or OI, `oi=true`)
  *    prevailing at `endTime`, optionally filtered to one right.
  *  - `snapshotQuote/snapshotOhlc/snapshotOi/snapshotGreeks`
  *    (v2.py:456-524): latest state per contract of a root; the
  *    greeks variant composes the quote snapshot with
  *    [[graft.analytics.RiskKernels]].
  *
  * Tables are injected, contract-keyed tick streams:
  * `quotes(root, expiration, right, strike, ts, seq, bid, ask,
  * bid_size, ask_size)`, `trades(..., ts, seq, price, volume)`,
  * `oi(..., day, seq, open_interest)`.
  *
  * 100 TB design: every method filters (root, time-range) FIRST — on a
  * production layout partitioned by (root, date) both prune at the
  * source (here the ts/day predicates reach the parquet scan, asserted
  * in PlanSpec) — then aggregates per (contract, day) in ONE hash
  * aggregation keyed by the full identity: cardinality scales with
  * contracts × days, never with tick volume, and no window operator
  * appears anywhere. The corporate-action splice (R1) widens a root's
  * scan with its pre-rename history exactly like
  * [[FinanceApi.retrieveQuote]] (resolve_ticker_history,
  * v2.py:1069-1079 routes bulk calls through the same alias map).
  */
final class BulkApi(
    quotes: DataFrame,
    trades: DataFrame,
    oi: DataFrame,
    aliases: Seq[TickerSplice.Alias] = Nil,
    cfg: MarketConfig = MarketConfig()) {

  private val cid = Seq("expiration", "right", "strike")
  private val cidCols = cid.map(col)

  private val spliced = TickerSplice.spliced(aliases, Seq("seq"), cid) _

  private def expFilter(df: DataFrame, exp: Option[String]): DataFrame =
    // exp=None is the reference's `exp=0` — all expirations of the root
    exp.map(e => df.filter(col("expiration") === to_date(lit(e)))).getOrElse(df)

  private def dayRange(df: DataFrame, tsCol: String, start: String, end: String) =
    df.filter(col(tsCol) >= to_timestamp(lit(start)) &&
      col(tsCol) < to_timestamp(lit(end)))

  /** "HH:MM" → minute-of-day (convert_time_to_miliseconds,
    * v2.py:2013-2020, at minute resolution).
    */
  private def minuteOf(hhmm: String): Int = {
    val Array(h, m) = hhmm.split(":").map(_.trim.toInt)
    h * 60 + m
  }

  /** v2.py:1055-1160 — bulk EOD: one row per (contract, day) with the
    * §1.4 bulk schema. Quote side (gated at QUOTE_DATA_START_TIME like
    * [[FinanceApi.retrieveEodOhlc]]) is the complete per-contract
    * timeline; trade OHLC attaches where prints exist, the quote close
    * bootstraps the rest (F9/R4), volume fillna(0).
    */
  def retrieveBulkEod(root: Any, exp: Option[String],
      start: String, end: String): DataFrame = {
    val ord = struct(col("ts"), col("seq"))
    val eod = (c: Column) => cfg.eodStamp(date_trunc("day", c))
    val q = dayRange(expFilter(spliced(quotes, root, "ts"), exp), "ts", start, end)
      .filter(businessHours(col("ts"), cfg.quoteStartMin, cfg.closeMin))
      .withColumn("mid", midpoint(col("bid"), col("ask")))
      .withColumn("wmid",
        weightedMidpoint(col("bid"), col("ask"), col("bid_size"), col("ask_size")))
      .groupBy(eod(col("ts")).as("datetime") +: col("root") +: cidCols: _*)
      .agg(
        lastBy(col("mid"), ord).as("q_close"),
        lastBy(col("bid"), ord).as("close_bid"),
        lastBy(col("ask"), ord).as("close_ask"),
        lastBy(col("bid_size"), ord).as("bid_size"),
        lastBy(col("ask_size"), ord).as("ask_size"),
        lastBy(col("wmid"), ord).as("weighted_midpoint"))
    val tAggs = ohlcBy(col("price"), ord, "t_") :+ dsum(col("volume")).as("volume")
    val t = dayRange(expFilter(spliced(trades, root, "ts"), exp), "ts", start, end)
      .filter(businessHours(col("ts"), cfg.openMin, cfg.closeMin))
      .groupBy(eod(col("ts")).as("datetime") +: col("root") +: cidCols: _*)
      .agg(tAggs.head, tAggs.tail: _*)
    q.join(t, Seq("datetime", "root") ++ cid, "left")
      .select(
        col("datetime"), col("root"), col("strike"), col("expiration"), col("right"),
        coalesce(col("t_open"), col("q_close")).as("open"),
        coalesce(col("t_high"), col("q_close")).as("high"),
        coalesce(col("t_low"), col("q_close")).as("low"),
        coalesce(col("t_close"), col("q_close")).as("close"),
        coalesce(col("volume"), lit(0.0)).as("volume"),
        col("bid_size"), col("close_bid"), col("ask_size"), col("close_ask"),
        midpoint(col("close_bid"), col("close_ask")).as("midpoint"),
        col("weighted_midpoint"))
  }

  /** v2.py:1682-1760 — bulk open interest: keep-last OI print per
    * (contract, day) over the range.
    */
  def retrieveBulkOpenInterest(root: Any, exp: Option[String],
      start: String, end: String): DataFrame =
    CoreOps.dedupKeepLast(
      expFilter(spliced(oi, root, "day"), exp)
        .filter(col("day") >= to_date(lit(start)) && col("day") < to_date(lit(end))),
      Seq("root", "day") ++ cid, Seq("seq"))
      .select(col("root") +: col("day") +: cidCols :+ col("open_interest"): _*)

  /** v2.py:2096-2212 — chain "at a time": for each day in
    * [start, end), the quote (or OI print, `oi=true`) of every
    * contract prevailing at `endTime` ("HH:MM"), optionally one right.
    * One keep-last aggregation per (contract, day) — the
    * `bulk_at_time` endpoint family.
    */
  def retrieveChainBulk(root: Any, exp: Option[String],
      start: String, end: String, endTime: String,
      right: Option[String] = None, oiMode: Boolean = false): DataFrame = {
    val endMin = minuteOf(endTime)
    if (oiMode) {
      val base = expFilter(spliced(oi, root, "day"), exp)
        .filter(col("day") >= to_date(lit(start)) && col("day") < to_date(lit(end)))
      val filtered = right.map(r => base.filter(col("right") === lit(r))).getOrElse(base)
      CoreOps.dedupKeepLast(filtered, Seq("root", "day") ++ cid, Seq("seq"))
        .select(col("root") +: cidCols :+ col("day").as("date") :+ col("open_interest"): _*)
    } else {
      val base = dayRange(expFilter(spliced(quotes, root, "ts"), exp), "ts", start, end)
        // quote prevailing at end_time: last print at-or-before the cut
        .filter(CalendarOps.msOfDay(col("ts")) <= lit(endMin * 60000L))
      val filtered = right.map(r => base.filter(col("right") === lit(r))).getOrElse(base)
      val ord = struct(col("ts"), col("seq"))
      filtered
        .groupBy(col("root") +: cidCols :+ to_date(col("ts")).as("date"): _*)
        .agg(
          lastBy(col("bid"), ord).as("close_bid"),
          lastBy(col("ask"), ord).as("close_ask"),
          lastBy(col("bid_size"), ord).as("bid_size"),
          lastBy(col("ask_size"), ord).as("ask_size"),
          lastBy(weightedMidpoint(col("bid"), col("ask"),
            col("bid_size"), col("ask_size")), ord).as("weighted_midpoint"))
        .select(col("root"), col("expiration"), col("strike"), col("right"),
          col("bid_size"), col("close_bid"), col("ask_size"), col("close_ask"),
          col("date"),
          midpoint(col("close_bid"), col("close_ask")).as("midpoint"),
          col("weighted_midpoint"))
    }
  }

  /** The reference's flagship SAVE pipeline
    * (`generate_optionData_to_save`, Organizers.py:27-125, bulk=True
    * branch): bulk EOD per contract → underlier daily close attached
    * per day (Organizers.py:107-118's index-aligned assignment) →
    * forward-fill over trade-less days (`data.ffill`, :121) → constant
    * risk-free rate / dividend yield columns → OCC OptionTick per row
    * (:114-117) → IV/greeks enrichment (`Calc_Risks`, :125) with the
    * q43 self-verification booleans.
    *
    * Deterministic market shaping (oracle-mirrorable arithmetic): the
    * underlier is the root's base price plus a bounded wiggle from the
    * day's last trade print (`base + fmod(spot, 10)`), and the option
    * price is intrinsic + an 8-13% extrinsic band of the underlier —
    * above the European lower bound S·e^(-qT) − K·e^(-rT) even at the
    * fixture's longest expiry (~2.3y, where discounting lifts that
    * bound up to ~7.7% of S above intrinsic), so every IV solve is
    * well-posed and the RiskCheck booleans hold.
    */
  def optionDataToSave(root: Any, start: String, end: String,
      rfRate: Double = 0.045, divYield: Double = 0.012): DataFrame = {
    val eod = retrieveBulkEod(root, None, start, end)
    val ord = struct(col("ts"), col("seq"))
    val spot = dayRange(spliced(trades, root, "ts"), "ts", start, end)
      .groupBy(cfg.eodStamp(date_trunc("day", col("ts"))).as("datetime"), col("root"))
      .agg(lastBy(col("price"), ord).as("spot"))
    val joined = eod.join(spot, Seq("datetime", "root"), "left")
    val filled = CoreOps.ffill(joined, Seq("spot"),
      Seq("root", "expiration", "right", "strike"), Seq("datetime"))
    val base = filled
      .withColumn("underlier_price",
        lit(100.0) + col("root").cast("double") * 5.0 +
          coalesce(col("spot") % 10.0, lit(0.0)))
      .withColumn("rf_rate", lit(rfRate))
      .withColumn("div_yield", lit(divYield))
      .withColumn("year_frac",
        datediff(col("expiration"), to_date(col("datetime"))).cast("double") / 365.0)
      .withColumn("option_tick", graft.functions.OccSymbol.generate(
        concat(lit("R"), col("root").cast("string")),
        col("expiration"), col("right"), col("strike")))
      .withColumn("price",
        greatest(
          when(col("right") === "C", col("underlier_price") - col("strike"))
            .otherwise(col("strike") - col("underlier_price")), lit(0.0)) +
          col("underlier_price") *
            (lit(0.08) + (dayofmonth(col("datetime")) % 11).cast("double") / 200.0))
    // Explicit pre-kernel spread (round-16 cluster-profile lesson):
    // the IV solves + greeks below are expensive PER ROW at any width,
    // and without this the kernel rides whatever partitioning the
    // ffill window left — which AQE's byte-blind coalescing shrinks to
    // ~1 task on small-byte frames (q81 ran 4.2 s vs 2.1 s
    // coalescing-off at sf1). An explicit repartition is never
    // coalesced, so the kernel holds computeWidth under every profile;
    // the exchange itself moves only the slim EOD frame.
    val spread = base.repartition(graft.SessionDefaults.computeWidth(base.sparkSession))
    RiskKernels.calcRisksVerified(spread, "price")
      .select(col("datetime"), col("option_tick"), col("root").as("underlier"),
        col("expiration"), col("right"), col("strike"),
        col("open"), col("high"), col("low"), col("close"), col("volume"),
        col("underlier_price"), col("rf_rate"), col("div_yield"),
        col("year_frac"), col("price"),
        col("bs_roundtrip_ok"), col("binomial_roundtrip_ok"),
        col("delta_in_range"), col("gamma_nonneg"), col("vega_nonneg"),
        col("dollar_delta_exact"))
  }

  /** v2.py:510-531 — quote snapshot: the latest quote of every
    * contract of a root ("now" = end of stream).
    */
  def snapshotQuote(root: Any): DataFrame =
    CoreOps.dedupKeepLast(spliced(quotes, root, "ts"),
        Seq("root") ++ cid, Seq("ts", "seq"))
      .select(col("root") +: cidCols :+ col("ts").as("datetime") :+
        col("bid") :+ col("ask") :+ col("bid_size") :+ col("ask_size") :+
        midpoint(col("bid"), col("ask")).as("midpoint") :+
        weightedMidpoint(col("bid"), col("ask"),
          col("bid_size"), col("ask_size")).as("weighted_midpoint"): _*)

  /** v2.py:474-489 — OHLC snapshot: the current session's bar per
    * contract = the aggregated OHLC of each contract's LAST traded
    * day. Two aggregations on the same identity key (per-day bars,
    * then keep-latest-day), no window.
    */
  def snapshotOhlc(root: Any): DataFrame = {
    val aggs = ohlcBy(col("price"), struct(col("ts"), col("seq"))) :+
      dsum(col("volume")).as("volume")
    val daily = spliced(trades, root, "ts")
      .groupBy(col("root") +: cidCols :+ to_date(col("ts")).as("day"): _*)
      .agg(aggs.head, aggs.tail: _*)
    CoreOps.dedupKeepLast(daily, Seq("root") ++ cid, Seq("day"))
      .select(col("root") +: cidCols :+ col("day") :+ col("open") :+
        col("high") :+ col("low") :+ col("close") :+ col("volume"): _*)
  }

  /** v2.py:492-507 — open-interest snapshot: latest OI per contract. */
  def snapshotOi(root: Any): DataFrame =
    CoreOps.dedupKeepLast(spliced(oi, root, "day"),
        Seq("root") ++ cid, Seq("day", "seq"))
      .select(col("root") +: cidCols :+ col("day") :+ col("open_interest"): _*)

  /** v2.py:456-471 — greeks snapshot: the quote snapshot enriched with
    * IV + greeks per contract ([[RiskKernels.calcRisksVerified]], the
    * q43 self-verification pattern). Deterministic market inputs:
    * underlier from the root, year fraction from (expiration −
    * snapshot day), option price = intrinsic + a seq-derived extrinsic
    * band (always above intrinsic, so the IV solve is well-posed —
    * the same construction q43 uses).
    */
  def snapshotGreeks(root: Any, rfRate: Double = 0.045,
      divYield: Double = 0.012): DataFrame = {
    val snap = CoreOps.dedupKeepLast(spliced(quotes, root, "ts"),
        Seq("root") ++ cid, Seq("ts", "seq"))
      .withColumn("underlier_price", lit(100.0) + col("root").cast("double") * 5.0)
      .withColumn("year_frac",
        datediff(col("expiration"), to_date(col("ts"))).cast("double") / 365.0)
      .withColumn("rf_rate", lit(rfRate))
      .withColumn("div_yield", lit(divYield))
      .withColumn("price",
        greatest(
          when(col("right") === "C", col("underlier_price") - col("strike"))
            .otherwise(col("strike") - col("underlier_price")), lit(0.0)) +
          col("underlier_price") * (lit(0.02) + (col("seq") % 11).cast("double") / 200.0))
    RiskKernels.calcRisksVerified(snap, "price")
      .select(col("root") +: cidCols :+ col("ts").as("datetime") :+
        col("underlier_price") :+ col("year_frac") :+ col("price") :+
        col("bs_roundtrip_ok") :+ col("binomial_roundtrip_ok") :+
        col("delta_in_range") :+ col("gamma_nonneg") :+ col("vega_nonneg") :+
        col("dollar_delta_exact"): _*)
  }
}

/** Deterministic synthetic CONTRACT-KEYED market tables from the
  * events stream — the §1.4 bulk-table shape (full contract identity
  * per tick). Identity arithmetic is events-column math so the DuckDB
  * oracle derives identical contracts: 5 roots × 4 expirations ×
  * 2 rights × 3 strikes.
  */
object SyntheticContractMarket {

  private def identity(df: DataFrame): DataFrame =
    df.select(
      (col("user_id") % 5).as("root"),
      date_add(lit(java.sql.Date.valueOf("2026-01-16")),
        ((col("event_id") % 4) * 28).cast("int")).as("expiration"),
      when(col("event_id") % 2 === 0, "C").otherwise("P").as("right"),
      (lit(90.0) + (col("event_id") % 3).cast("double") * 10.0).as("strike"),
      col("ts"), col("event_id").as("seq"),
      col("event_type"), col("value"))

  def quotes(s: SparkSession, dir: String): DataFrame =
    identity(Tables.load(s, dir, "events")).select(
      col("root"), col("expiration"), col("right"), col("strike"),
      col("ts"), col("seq"),
      col("value").as("bid"),
      (col("value") + 0.10 + (col("seq") % 7).cast("double") * 0.01).as("ask"),
      (lit(1L) + col("seq") % 5).as("bid_size"),
      (lit(1L) + col("seq") % 3).as("ask_size"))

  def trades(s: SparkSession, dir: String): DataFrame =
    identity(Tables.load(s, dir, "events"))
      .filter(col("event_type") === "purchase")
      .select(
        col("root"), col("expiration"), col("right"), col("strike"),
        col("ts"), col("seq"),
        col("value").as("price"),
        (col("seq") % 100).cast("double").as("volume"))

  def oi(s: SparkSession, dir: String): DataFrame =
    identity(Tables.load(s, dir, "events"))
      .filter(col("event_type") === "signup")
      .select(
        col("root"), col("expiration"), col("right"), col("strike"),
        to_date(col("ts")).as("day"), col("seq"),
        (col("seq") % 10000).as("open_interest"))
}
