package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analytics.RiskKernels
import graft.functions.OccSymbol
import graft.operators.CoreOps._
import graft.operators.{Patches, TickerSplice}

/** Finance-domain operator coverage: OCC symbology (F11/F12), the
  * corporate-action ticker splice (R1), the canonical quote→bars
  * formatting pipeline (§3.1 steps 4-8: midpoint/weighted-midpoint,
  * business hours, 30-minute agg-map resample), and the IV/greeks
  * risk enrichment (§2.9 U1-U6, oracle-checked via kernel
  * self-verification booleans).
  */
object FinanceQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Synthetic option contracts derived deterministically from orders
    * (the test corpus has no options table; identities are arithmetic
    * on order columns so Spark and DuckDB derive identical contracts).
    */
  private def contracts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Expirations anchored in 2026+ so the OCC YYMMDD year is
    // unambiguous under both Spark's reduced-year (base 2000) and
    // DuckDB's POSIX %y pivot.
    // loadSpread STAYS here (r17 lesson on shared helpers): this
    // frame feeds q43/q89's IV root-finding — expensive per row at
    // ANY width — and a plain scan serialized that kernel onto one
    // split (1.1 s / 20 s CPU parallel -> 15.8 s wall ≈ CPU, the r14
    // scan-riding failure class, re-measured before reverting).
    Tables.loadSpread(s, dir, "orders")
      .select(
        $"o_orderkey",
        regexp_replace(upper($"o_orderpriority"), "[^A-Z]", "").as("root"),
        date_add(lit(java.sql.Date.valueOf("2026-01-01")),
          ($"o_orderkey" % 700).cast("int")).as("expiration"),
        when($"o_orderkey" % 2 === 0, "C").otherwise("P").as("right"),
        ((round($"o_totalprice").cast("long") % 10000).cast("double") + 0.5).as("strike"))
  }

  /** F11/F12 — OCC symbol generate + parse roundtrip. */
  def occRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = contracts(s, dir)
    c.select($"o_orderkey", $"root", $"expiration", $"right", $"strike",
        OccSymbol.generate($"root", $"expiration", $"right", $"strike").as("occ"))
      .withColumn("parsed_root", OccSymbol.parseRoot($"occ"))
      .withColumn("parsed_expiration", OccSymbol.parseExpiration($"occ"))
      .withColumn("parsed_right", OccSymbol.parseRight($"occ"))
      .withColumn("parsed_strike", OccSymbol.parseStrike($"occ"))
      .withColumn("roundtrip_ok",
        $"parsed_root" === $"root" && $"parsed_expiration" === $"expiration" &&
          $"parsed_right" === $"right" && $"parsed_strike" === $"strike")
      .orderBy($"o_orderkey")
  }

  val occRoundtripSql: String =
    """WITH c AS (
      |  SELECT o_orderkey,
      |    regexp_replace(upper(o_orderpriority), '[^A-Z]', '', 'g') AS root,
      |    DATE '2026-01-01' + CAST(o_orderkey % 700 AS INTEGER) AS expiration,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'C' ELSE 'P' END AS "right",
      |    CAST(CAST(round(o_totalprice) AS BIGINT) % 10000 AS DOUBLE) + 0.5 AS strike
      |  FROM orders),
      |g AS (
      |  SELECT *, root || strftime(expiration, '%y%m%d') || "right" ||
      |    lpad(CAST(CAST(round(strike * 1000) AS BIGINT) AS VARCHAR), 8, '0') AS occ
      |  FROM c)
      |SELECT o_orderkey, root, expiration, "right", strike, occ,
      |  regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 1) AS parsed_root,
      |  strptime(regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 2), '%y%m%d')::DATE AS parsed_expiration,
      |  regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 3) AS parsed_right,
      |  CAST(CAST(regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 4) AS BIGINT) AS DOUBLE) / 1000.0 AS parsed_strike,
      |  (regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 1) = root
      |    AND strptime(regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 2), '%y%m%d')::DATE = expiration
      |    AND regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 3) = "right"
      |    AND CAST(CAST(regexp_extract(occ, '^([A-Z]+)([0-9]{6})([CP])([0-9]{8})$', 4) AS BIGINT) AS DOUBLE) / 1000.0 = strike) AS roundtrip_ok
      |FROM g
      |ORDER BY o_orderkey""".stripMargin

  /** R1 — ticker-change splice on the events stream: entity 7 was
    * "renamed" to 8 on 2024-01-15; the full history of 8 is the union
    * of both segments, identity normalized, keep-last dedup at the
    * boundary.
    */
  def tickerSplice(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    TickerSplice.splicedHistory(ev, "user_id", "ts",
        TickerSplice.Alias(8L, 7L, "2024-01-15"), Seq("event_id"))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"ts", $"event_id")
  }

  val tickerSpliceSql: String =
    """WITH spliced AS (
      |  SELECT event_id, ts, CAST(8 AS BIGINT) AS user_id, event_type, value, 0 AS seg
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events) e
      |  WHERE user_id = 7 AND ts < TIMESTAMP '2024-01-15'
      |  UNION ALL
      |  SELECT event_id, ts, CAST(8 AS BIGINT) AS user_id, event_type, value, 1 AS seg
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events) e
      |  WHERE user_id = 8 AND ts >= TIMESTAMP '2024-01-15'),
      |deduped AS (
      |  SELECT event_id, ts, user_id, event_type, value,
      |    row_number() OVER (PARTITION BY ts ORDER BY seg DESC, event_id DESC) AS rn
      |  FROM spliced)
      |SELECT event_id, ts, user_id, event_type, value
      |FROM deduped WHERE rn = 1
      |ORDER BY ts, event_id""".stripMargin

  /** §3.1 steps 4-8 — the canonical quote-formatting pipeline:
    * synthetic per-contract quotes → midpoint / weighted midpoint →
    * business-hours filter → 30-minute agg-map resample (open→first,
    * high→max, low→min, close→last, volume→sum, closebid/closeask→
    * last). ONE aggregation (firstBy/lastBy), no window shuffle.
    */
  def quotePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val quotes = ev.select(
        ($"user_id" % 20).as("contract"),
        $"ts", $"event_id",
        $"value".as("bid"),
        ($"value" + 0.10 + ($"event_id" % 7).cast("double") * 0.01).as("ask"),
        (lit(1L) + $"event_id" % 5).as("bid_size"),
        (lit(1L) + $"event_id" % 3).as("ask_size"))
      .withColumn("mid", midpoint($"bid", $"ask"))
      .withColumn("wmid", weightedMidpoint($"bid", $"ask", $"bid_size", $"ask_size"))
      .filter(businessHours($"ts"))
    val ord = struct($"ts", $"event_id")
    val aggs = ohlcBy($"mid", ord) ++ Seq(
      sum($"bid_size" + $"ask_size").as("volume"),
      lastBy($"bid", ord).as("close_bid"),
      lastBy($"ask", ord).as("close_ask"),
      lastBy($"wmid", ord).as("weighted_midpoint"))
    quotes
      .groupBy(window($"ts", "30 minutes")("start").as("bucket"), $"contract")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"bucket", $"contract")
  }

  val quotePipelineSql: String =
    """WITH quotes AS (
      |  SELECT user_id % 20 AS contract, ts, event_id,
      |    value AS bid,
      |    value + 0.10 + CAST(event_id % 7 AS DOUBLE) * 0.01 AS ask,
      |    1 + event_id % 5 AS bid_size,
      |    1 + event_id % 3 AS ask_size
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events) e
      |  WHERE (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 570 AND 960),
      |derived AS (
      |  SELECT *, (bid + ask) / 2.0 AS mid,
      |    CASE WHEN bid_size + ask_size = 0 THEN (bid + ask) / 2.0
      |         ELSE (bid * bid_size + ask * ask_size) / (bid_size + ask_size) END AS wmid,
      |    time_bucket(INTERVAL '30 minutes', ts) AS bucket
      |  FROM quotes),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY contract, bucket ORDER BY ts, event_id) AS rna,
      |    row_number() OVER (PARTITION BY contract, bucket ORDER BY ts DESC, event_id DESC) AS rnd
      |  FROM derived)
      |SELECT bucket, contract,
      |  MAX(CASE WHEN rna = 1 THEN mid END) AS open,
      |  MAX(mid) AS high,
      |  MIN(mid) AS low,
      |  MAX(CASE WHEN rnd = 1 THEN mid END) AS close,
      |  CAST(SUM(bid_size + ask_size) AS BIGINT) AS volume,
      |  MAX(CASE WHEN rnd = 1 THEN bid END) AS close_bid,
      |  MAX(CASE WHEN rnd = 1 THEN ask END) AS close_ask,
      |  MAX(CASE WHEN rnd = 1 THEN wmid END) AS weighted_midpoint
      |FROM ranked
      |GROUP BY bucket, contract
      |ORDER BY bucket, contract""".stripMargin

  /** U1-U6 — the risk-enrichment kernel (BS IV, binomial IV, greeks,
    * Dollar_Delta, cleanup) on synthetic contracts, oracle-checked:
    * root-finding isn't SQL-expressible, so the output carries the
    * kernel's self-verification booleans
    * ([[graft.analytics.RiskKernels.RiskCheck]] — price roundtrips
    * through bsPrice/binomialPrice at the solved IV, greeks bounds,
    * Dollar_Delta ≡ Delta×S) which the DuckDB oracle asserts TRUE; it
    * reproduces the contract identity/price arithmetic exactly.
    * Numeric values themselves stay locked by BlackScholesSpec
    * (put-call parity, IV roundtrip, binomial→BS convergence).
    */
  def riskEnrichment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = contracts(s, dir).filter($"o_orderkey" < 2000)
      .withColumn("underlier_price", lit(100.0) + ($"o_orderkey" % 50).cast("double"))
      .withColumn("strike",
        $"underlier_price" * (lit(0.8) + ($"o_orderkey" % 9).cast("double") / 20.0))
      .withColumn("year_frac", lit(0.05) + ($"o_orderkey" % 24).cast("double") / 24.0)
      .withColumn("rf_rate", lit(0.045))
      .withColumn("div_yield", lit(0.012))
      .withColumn("price", RiskKernels.intrinsic +
        $"underlier_price" * (lit(0.02) + ($"o_orderkey" % 11).cast("double") / 200.0))
    RiskKernels.calcRisksVerified(c, "price")
      .select($"o_orderkey",
        OccSymbol.generate($"root", $"expiration", $"right", $"strike").as("option_tick"),
        $"right", $"underlier_price", $"strike", $"year_frac", $"price",
        $"bs_roundtrip_ok", $"binomial_roundtrip_ok", $"delta_in_range",
        $"gamma_nonneg", $"vega_nonneg", $"dollar_delta_exact")
      .orderBy($"o_orderkey")
  }

  val riskEnrichmentSql: String =
    """WITH c AS (
      |  SELECT o_orderkey,
      |    regexp_replace(upper(o_orderpriority), '[^A-Z]', '', 'g') AS root,
      |    DATE '2026-01-01' + CAST(o_orderkey % 700 AS INTEGER) AS expiration,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'C' ELSE 'P' END AS "right",
      |    100.0 + CAST(o_orderkey % 50 AS DOUBLE) AS underlier_price
      |  FROM orders WHERE o_orderkey < 2000),
      |d AS (
      |  SELECT *,
      |    underlier_price * (0.8 + CAST(o_orderkey % 9 AS DOUBLE) / 20.0) AS strike,
      |    0.05 + CAST(o_orderkey % 24 AS DOUBLE) / 24.0 AS year_frac
      |  FROM c),
      |p AS (
      |  SELECT *,
      |    greatest(CASE WHEN "right" = 'C' THEN underlier_price - strike
      |                  ELSE strike - underlier_price END, 0.0)
      |      + underlier_price * (0.02 + CAST(o_orderkey % 11 AS DOUBLE) / 200.0) AS price
      |  FROM d)
      |SELECT o_orderkey,
      |  root || strftime(expiration, '%y%m%d') || "right" ||
      |    lpad(CAST(CAST(round(strike * 1000) AS BIGINT) AS VARCHAR), 8, '0') AS option_tick,
      |  "right", underlier_price, strike, year_frac, price,
      |  TRUE AS bs_roundtrip_ok, TRUE AS binomial_roundtrip_ok,
      |  TRUE AS delta_in_range, TRUE AS gamma_nonneg, TRUE AS vega_nonneg,
      |  TRUE AS dollar_delta_exact
      |FROM p
      |ORDER BY o_orderkey""".stripMargin

  /** U4 — missing-vol rescue (Organizers.py:172-185): rows whose
    * primary-price IV ([[RiskKernels.bsIv]], BS-only: nothing here
    * reads the binomial IV or greeks) solved to 0 are re-solved from
    * the midpoint via
    * [[RiskKernels.rescueMissingVol]] — a declarative `when` over a
    * second kernel call on the same row, no second pass and no union.
    * Here the broken primary is a dead price of 0.0 (the reference's
    * missing-quote case) on every o_orderkey % 4 == 0 row; contracts
    * are strictly OTM with pure-time-value midpoints in (0, f(σ=5)),
    * so the fallback solve provably succeeds. The oracle reproduces
    * the contract arithmetic exactly and asserts the four
    * self-verification booleans TRUE (q43/q75 pattern):
    * primary IV was 0 where rescued, rescued rows solved, untouched
    * rows kept their IV bit-for-bit, and the final IV roundtrips
    * through bsPrice at whichever price the solve used (the
    * `bs_roundtrip_ok` rule, [[RiskKernels.bsRoundtripOk]]).
    */
  def missingVolRescue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = contracts(s, dir).filter($"o_orderkey" < 2000)
      .withColumn("underlier_price", lit(100.0) + ($"o_orderkey" % 50).cast("double"))
      .withColumn("strike",
        $"underlier_price" * (when($"right" === "C",
          lit(1.05) + ($"o_orderkey" % 4).cast("double") / 20.0)
          .otherwise(lit(0.95) - ($"o_orderkey" % 4).cast("double") / 20.0)))
      .withColumn("year_frac", lit(0.05) + ($"o_orderkey" % 24).cast("double") / 24.0)
      .withColumn("rf_rate", lit(0.045))
      .withColumn("div_yield", lit(0.012))
      .withColumn("mid_price",
        $"underlier_price" * (lit(0.02) + ($"o_orderkey" % 11).cast("double") / 200.0))
      .withColumn("needs_rescue", $"o_orderkey" % 4 === 0)
      .withColumn("price", when($"needs_rescue", lit(0.0)).otherwise($"mid_price"))
    val enriched = c.withColumn("bs_iv", RiskKernels.bsIv("price"))
      .withColumn("iv_before", $"bs_iv")
    RiskKernels.rescueMissingVol(enriched, "bs_iv", "mid_price")
      .withColumn("primary_zero_ok", !$"needs_rescue" || $"iv_before" === 0.0)
      .withColumn("rescued_solved_ok", !$"needs_rescue" || $"bs_iv" > 0.0)
      .withColumn("untouched_ok", $"needs_rescue" || $"bs_iv" === $"iv_before")
      .withColumn("rescue_roundtrip_ok",
        RiskKernels.bsRoundtrip($"bs_iv",
          when($"needs_rescue", $"mid_price").otherwise($"price")))
      .select($"o_orderkey", $"right", $"underlier_price", $"strike",
        $"year_frac", $"price", $"mid_price", $"needs_rescue",
        $"primary_zero_ok", $"rescued_solved_ok", $"untouched_ok",
        $"rescue_roundtrip_ok")
      .orderBy($"o_orderkey")
  }

  val missingVolRescueSql: String =
    """WITH c AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'C' ELSE 'P' END AS "right",
      |    100.0 + CAST(o_orderkey % 50 AS DOUBLE) AS underlier_price
      |  FROM orders WHERE o_orderkey < 2000),
      |d AS (
      |  SELECT *,
      |    underlier_price * (CASE WHEN "right" = 'C'
      |        THEN 1.05 + CAST(o_orderkey % 4 AS DOUBLE) / 20.0
      |        ELSE 0.95 - CAST(o_orderkey % 4 AS DOUBLE) / 20.0 END) AS strike,
      |    0.05 + CAST(o_orderkey % 24 AS DOUBLE) / 24.0 AS year_frac,
      |    underlier_price * (0.02 + CAST(o_orderkey % 11 AS DOUBLE) / 200.0) AS mid_price,
      |    (o_orderkey % 4 = 0) AS needs_rescue
      |  FROM c)
      |SELECT o_orderkey, "right", underlier_price, strike, year_frac,
      |  CASE WHEN needs_rescue THEN CAST(0.0 AS DOUBLE) ELSE mid_price END AS price,
      |  mid_price, needs_rescue,
      |  TRUE AS primary_zero_ok, TRUE AS rescued_solved_ok,
      |  TRUE AS untouched_ok, TRUE AS rescue_roundtrip_ok
      |FROM d
      |ORDER BY o_orderkey""".stripMargin

  /** §3.1 end-to-end through the public API surface
    * ([[graft.api.FinanceApi]]): corporate-action splice + keep-last
    * dedup + business hours + hourly agg-map resample, invoked the
    * way a reference user calls `retrieve_quote`.
    */
  def apiRetrieveQuote(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val api = new graft.api.FinanceApi(
      graft.api.SyntheticMarket.quotes(s, dir),
      graft.api.SyntheticMarket.ohlc(s, dir),
      graft.api.SyntheticMarket.oi(s, dir),
      aliases = Seq(TickerSplice.Alias(3L, 2L, "2024-01-15")))
    api.retrieveQuote(3L, "2024-01-02", "2024-01-28", "1 hour")
      .orderBy($"datetime")
  }

  val apiRetrieveQuoteSql: String =
    """WITH quotes AS (
      |  SELECT user_id % 10 AS root, ts, event_id AS seq,
      |    value AS bid,
      |    value + 0.10 + CAST(event_id % 7 AS DOUBLE) * 0.01 AS ask,
      |    1 + event_id % 5 AS bid_size,
      |    1 + event_id % 3 AS ask_size
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events) e),
      |spliced AS (
      |  SELECT CAST(3 AS BIGINT) AS root, ts, seq, bid, ask, bid_size, ask_size, 0 AS seg
      |  FROM quotes WHERE root = 2 AND ts < TIMESTAMP '2024-01-15'
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), ts, seq, bid, ask, bid_size, ask_size, 1
      |  FROM quotes WHERE root = 3 AND ts >= TIMESTAMP '2024-01-15'),
      |deduped AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY ts ORDER BY seg DESC, seq DESC) AS rn
      |    FROM spliced) t WHERE rn = 1),
      |filtered AS (
      |  SELECT *, (bid + ask) / 2.0 AS mid,
      |    CASE WHEN bid_size + ask_size = 0 THEN (bid + ask) / 2.0
      |         ELSE (bid * bid_size + ask * ask_size) / (bid_size + ask_size) END AS wmid,
      |    date_trunc('hour', ts) AS datetime
      |  FROM deduped
      |  WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-28'
      |    AND (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 570 AND 960),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY datetime ORDER BY ts, seq) AS rna,
      |    row_number() OVER (PARTITION BY datetime ORDER BY ts DESC, seq DESC) AS rnd
      |  FROM filtered)
      |SELECT datetime, root,
      |  MAX(CASE WHEN rna = 1 THEN mid END) AS open,
      |  MAX(mid) AS high,
      |  MIN(mid) AS low,
      |  MAX(CASE WHEN rnd = 1 THEN mid END) AS close,
      |  MAX(CASE WHEN rnd = 1 THEN bid END) AS close_bid,
      |  MAX(CASE WHEN rnd = 1 THEN ask END) AS close_ask,
      |  MAX(CASE WHEN rnd = 1 THEN bid_size END) AS bid_size,
      |  MAX(CASE WHEN rnd = 1 THEN ask_size END) AS ask_size,
      |  MAX(CASE WHEN rnd = 1 THEN wmid END) AS weighted_midpoint
      |FROM ranked
      |GROUP BY datetime, root
      |ORDER BY datetime""".stripMargin

  /** The reference's flagship call — `retrieve_eod_ohlc` (§3.1) —
    * through the public API: daily quote bars (complete timeline) ⟕
    * trade bars, OHLC bootstrapped from the quote close where no
    * trades exist (F9/R4), volume fillna(0), EOD 16:00 stamping, the
    * bootstrap-quote side gated at 09:45 (QUOTE_DATA_START_TIME,
    * v2.py:1432-1437), and the open-interest series left-joined per
    * day (J2, Organizers.py:274-279).
    */
  def apiRetrieveEod(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val api = new graft.api.FinanceApi(
      graft.api.SyntheticMarket.quotes(s, dir),
      graft.api.SyntheticMarket.ohlc(s, dir),
      graft.api.SyntheticMarket.oi(s, dir))
    api.retrieveEodOhlc(5L, "2024-01-02", "2024-01-28")
      .orderBy($"datetime")
  }

  val apiRetrieveEodSql: String =
    """WITH raw AS (
      |  SELECT user_id % 10 AS root, ts, event_id AS seq, event_type,
      |    value AS bid,
      |    value + 0.10 + CAST(event_id % 7 AS DOUBLE) * 0.01 AS ask,
      |    1 + event_id % 5 AS bid_size,
      |    1 + event_id % 3 AS ask_size,
      |    value
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events) e),
      |q0 AS (
      |  SELECT *, (bid + ask) / 2.0 AS mid,
      |    CASE WHEN bid_size + ask_size = 0 THEN (bid + ask) / 2.0
      |         ELSE (bid * bid_size + ask * ask_size) / (bid_size + ask_size) END AS wmid,
      |    date_trunc('day', ts) + INTERVAL 16 HOUR AS datetime
      |  FROM raw
      |  WHERE root = 5 AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-28'
      |    AND (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 585 AND 960),
      |qr AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY datetime ORDER BY ts, seq) AS rna,
      |    row_number() OVER (PARTITION BY datetime ORDER BY ts DESC, seq DESC) AS rnd
      |  FROM q0),
      |q AS (
      |  SELECT datetime, root,
      |    MAX(CASE WHEN rnd = 1 THEN mid END) AS q_close,
      |    MAX(CASE WHEN rnd = 1 THEN bid END) AS close_bid,
      |    MAX(CASE WHEN rnd = 1 THEN ask END) AS close_ask,
      |    MAX(CASE WHEN rnd = 1 THEN bid_size END) AS bid_size,
      |    MAX(CASE WHEN rnd = 1 THEN ask_size END) AS ask_size,
      |    MAX(CASE WHEN rnd = 1 THEN wmid END) AS weighted_midpoint
      |  FROM qr GROUP BY datetime, root),
      |t0 AS (
      |  SELECT root, ts, seq,
      |    value AS t_open, value * 1.02 AS t_high, value * 0.98 AS t_low,
      |    value * 1.01 AS t_close,
      |    CAST(seq % 100 AS DOUBLE) AS t_vol,
      |    date_trunc('day', ts) + INTERVAL 16 HOUR AS datetime
      |  FROM raw
      |  WHERE event_type = 'purchase' AND root = 5
      |    AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-28'
      |    AND (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 570 AND 960),
      |tr AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY datetime ORDER BY ts, seq) AS rna,
      |    row_number() OVER (PARTITION BY datetime ORDER BY ts DESC, seq DESC) AS rnd
      |  FROM t0),
      |t AS (
      |  SELECT datetime, root,
      |    MAX(CASE WHEN rna = 1 THEN t_open END) AS t_open,
      |    MAX(t_high) AS t_high,
      |    MIN(t_low) AS t_low,
      |    MAX(CASE WHEN rnd = 1 THEN t_close END) AS t_close,
      |    CAST(SUM(CAST(t_vol AS DECIMAL(30,4))) AS DOUBLE) AS volume
      |  FROM tr GROUP BY datetime, root),
      |oi AS (
      |  SELECT root, datetime, open_interest FROM (
      |    SELECT root,
      |      CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 16 HOUR AS datetime,
      |      seq % 10000 AS open_interest,
      |      row_number() OVER (PARTITION BY root, CAST(ts AS DATE)
      |                         ORDER BY seq DESC) AS rn
      |    FROM raw
      |    WHERE event_type = 'signup' AND root = 5
      |      AND CAST(ts AS DATE) >= DATE '2024-01-02'
      |      AND CAST(ts AS DATE) < DATE '2024-01-28') z
      |  WHERE rn = 1)
      |SELECT q.datetime, q.root,
      |  COALESCE(t.t_open, q.q_close) AS open,
      |  COALESCE(t.t_high, q.q_close) AS high,
      |  COALESCE(t.t_low, q.q_close) AS low,
      |  COALESCE(t.t_close, q.q_close) AS close,
      |  COALESCE(t.volume, 0.0) AS volume,
      |  q.close_bid, q.close_ask, q.bid_size, q.ask_size,
      |  (q.close_bid + q.close_ask) / 2.0 AS midpoint,
      |  q.weighted_midpoint,
      |  oi.open_interest
      |FROM q LEFT JOIN t ON q.datetime = t.datetime AND q.root = t.root
      |LEFT JOIN oi ON q.datetime = oi.datetime AND q.root = oi.root
      |ORDER BY q.datetime""".stripMargin

  /** S7 — the Alpaca contract-list surface (`get_option_contracts_all`
    * filter params, Alpaca.py:553-583) through the public API: filter
    * by underlying/right/expiration window/strike window over the
    * synthetic contracts table, OCC symbology attached.
    */
  def apiListContracts(s: SparkSession, dir: String): DataFrame = {
    val api = new graft.api.FinanceApi(
      graft.api.SyntheticMarket.quotes(s, dir),
      graft.api.SyntheticMarket.ohlc(s, dir),
      graft.api.SyntheticMarket.oi(s, dir),
      contracts = graft.api.SyntheticMarket.contracts(s, dir))
    api.listContracts(5L, right = Some("C"),
      expirationGte = Some("2026-03-01"), expirationLte = Some("2026-08-01"),
      strikeGte = Some(60.0), strikeLte = Some(120.0))
  }

  val apiListContractsSql: String =
    """WITH c AS (
      |  SELECT DISTINCT o_orderkey % 10 AS root,
      |    DATE '2026-01-01' + CAST(o_orderkey % 300 AS INTEGER) AS expiration,
      |    CASE WHEN o_orderkey % 4 < 2 THEN 'C' ELSE 'P' END AS "right",
      |    50.0 + CAST(o_orderkey % 200 AS DOUBLE) * 0.5 AS strike
      |  FROM orders),
      |f AS (
      |  SELECT * FROM c
      |  WHERE root = 5 AND "right" = 'C'
      |    AND expiration >= DATE '2026-03-01' AND expiration <= DATE '2026-08-01'
      |    AND strike >= 60.0 AND strike <= 120.0)
      |SELECT 'R' || CAST(root AS VARCHAR) || strftime(expiration, '%y%m%d')
      |    || "right"
      |    || lpad(CAST(CAST(round(strike * 1000) AS BIGINT) AS VARCHAR), 8, '0') AS occ,
      |  root, expiration, "right", strike
      |FROM f
      |ORDER BY expiration, strike, "right"""".stripMargin

  /** R3 — the data-correction patch framework applied inside a query
    * (patches/main.py:42-64 + p1.py:5-101): a `list_dates`-shaped
    * result (per-entity distinct dates) goes through the registered
    * patch chain — a corrections-table removal (the removal-bucket
    * rule) then the conditional split-artifact rule, which drops the
    * marker date ONLY for entities showing the full vendor signature
    * (marker + first-valid present, gap days absent). Entity 1 has the
    * gap carved so it qualifies; every other entity keeps the marker —
    * the patched result provably differs from the unpatched scan.
    */
  def patchRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gap = Seq("2024-01-11", "2024-01-12", "2024-01-13")
    // inject the artifact signature for entity 1 (marker + first-valid
    // present) so the qualifying branch triggers at every scale factor
    val days = Tables.load(s, dir, "events")
      .select($"user_id", to_date($"ts").as("date"))
      .unionByName(Seq(
        (1L, java.sql.Date.valueOf("2024-01-10")),
        (1L, java.sql.Date.valueOf("2024-01-15"))).toDF("user_id", "date"))
      .distinct()
    val shaped = days.filter(!($"user_id" === 1 && $"date".isin(gap: _*)))
    val corrections = Seq((3L, java.sql.Date.valueOf("2024-02-01")))
      .toDF("user_id", "date")
    val registry = Map("list_dates" -> Seq(
      Patches.removeCorrections(corrections, Seq("user_id", "date")),
      Patches.removeSplitArtifact("user_id", "date",
        "2024-01-10", "2024-01-15", gap)))
    Patches.applyAll(registry, "list_dates", shaped)
      .orderBy($"user_id", $"date")
  }

  val patchRulesSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, date FROM (
      |    SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date FROM events
      |    UNION ALL SELECT 1, DATE '2024-01-10'
      |    UNION ALL SELECT 1, DATE '2024-01-15') u),
      |shaped AS (
      |  SELECT * FROM days
      |  WHERE NOT (user_id = 1 AND date IN
      |    (DATE '2024-01-11', DATE '2024-01-12', DATE '2024-01-13'))),
      |corrected AS (
      |  SELECT * FROM shaped
      |  WHERE NOT (user_id = 3 AND date = DATE '2024-02-01')),
      |qual AS (
      |  SELECT user_id FROM corrected GROUP BY user_id
      |  HAVING MAX(CASE WHEN date = DATE '2024-01-10' THEN 1 ELSE 0 END) = 1
      |     AND MAX(CASE WHEN date = DATE '2024-01-15' THEN 1 ELSE 0 END) = 1
      |     AND MAX(CASE WHEN date IN
      |       (DATE '2024-01-11', DATE '2024-01-12', DATE '2024-01-13')
      |       THEN 1 ELSE 0 END) = 0)
      |SELECT user_id, date FROM corrected
      |WHERE NOT (user_id IN (SELECT user_id FROM qual)
      |           AND date = DATE '2024-01-10')
      |ORDER BY user_id, date""".stripMargin

  /** The broker order-lifecycle state machine
    * ([[graft.operators.OrderLifecycle]], Alpaca.py:735-860 cancel→
    * poll→repost): a deterministic synthetic event stream (creates,
    * partial/full fills, rejects, cancels, replace requests — overlaps
    * intentional, so every poll outcome occurs) folded to final order
    * states; replaced orders spawn a `new` replacement with the
    * remaining qty at the new price, while fills/rejects during the
    * cancel poll abort the repost exactly like the reference.
    */
  def orderLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders").filter($"o_orderkey" < 3000)
      .select($"o_orderkey".as("order_id"),
        (lit(10L) + $"o_orderkey" % 90).as("qty"),
        (lit(50.0) + ($"o_orderkey" % 200).cast("double") * 0.5).as("price"))
    val ev = o.select($"order_id", explode(array(
        struct(lit(1L).as("seq"), lit("create").as("kind"),
          $"qty", $"price"),
        when($"order_id" % 3 === 1, struct(lit(2L).as("seq"),
          lit("fill").as("kind"), expr("qty div 2").as("qty"),
          lit(null).cast("double").as("price"))),
        when($"order_id" % 7 === 2, struct(lit(3L).as("seq"),
          lit("fill").as("kind"), $"qty",
          lit(null).cast("double").as("price"))),
        when($"order_id" % 11 === 3, struct(lit(4L).as("seq"),
          lit("reject").as("kind"), lit(null).cast("long").as("qty"),
          lit(null).cast("double").as("price"))),
        when($"order_id" % 5 === 4, struct(lit(5L).as("seq"),
          lit("cancel_request").as("kind"), lit(null).cast("long").as("qty"),
          lit(null).cast("double").as("price"))),
        when($"order_id" % 4 === 0, struct(lit(6L).as("seq"),
          lit("replace_request").as("kind"), lit(null).cast("long").as("qty"),
          ($"price" * 0.98).as("price"))))))
      .filter($"col".isNotNull)
      .select($"order_id", $"col.seq".as("seq"), $"col.kind".as("kind"),
        $"col.qty".as("qty"), $"col.price".as("price"))
    graft.operators.OrderLifecycle.finalStates(ev)
      .orderBy($"order_id")
  }

  val orderLifecycleSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS order_id,
      |    10 + o_orderkey % 90 AS qty,
      |    50.0 + CAST(o_orderkey % 200 AS DOUBLE) * 0.5 AS price
      |  FROM orders WHERE o_orderkey < 3000),
      |ev AS (
      |  SELECT order_id, 'create' AS kind, qty, price FROM o
      |  UNION ALL SELECT order_id, 'fill', qty // 2, NULL FROM o WHERE order_id % 3 = 1
      |  UNION ALL SELECT order_id, 'fill', qty, NULL FROM o WHERE order_id % 7 = 2
      |  UNION ALL SELECT order_id, 'reject', NULL, NULL FROM o WHERE order_id % 11 = 3
      |  UNION ALL SELECT order_id, 'cancel_request', NULL, NULL FROM o WHERE order_id % 5 = 4
      |  UNION ALL SELECT order_id, 'replace_request', NULL, price * 0.98 FROM o WHERE order_id % 4 = 0),
      |agg AS (
      |  SELECT order_id,
      |    MAX(CASE WHEN kind = 'create' THEN qty END) AS qty,
      |    MAX(CASE WHEN kind = 'create' THEN price END) AS limit_price,
      |    CAST(COALESCE(SUM(CASE WHEN kind = 'fill' THEN qty END), 0) AS BIGINT) AS filled_qty,
      |    MAX(CASE WHEN kind = 'cancel_request' THEN 1 ELSE 0 END) AS has_cancel,
      |    MAX(CASE WHEN kind = 'reject' THEN 1 ELSE 0 END) AS has_reject,
      |    MAX(CASE WHEN kind = 'replace_request' THEN price END) AS replace_price
      |  FROM ev GROUP BY order_id),
      |st AS (
      |  SELECT *,
      |    CASE WHEN filled_qty >= qty THEN 'filled'
      |         WHEN has_reject = 1 THEN 'rejected'
      |         WHEN replace_price IS NOT NULL THEN 'canceled'
      |         WHEN has_cancel = 1 THEN 'canceled'
      |         WHEN filled_qty > 0 THEN 'partially_filled'
      |         ELSE 'accepted' END AS status
      |  FROM agg)
      |SELECT order_id, qty, limit_price, filled_qty, status,
      |  CAST(NULL AS BIGINT) AS replaced_from FROM st
      |UNION ALL
      |SELECT order_id + 1000000, qty - filled_qty, replace_price,
      |  CAST(0 AS BIGINT), 'new', order_id
      |FROM st WHERE status = 'canceled' AND replace_price IS NOT NULL
      |ORDER BY order_id""".stripMargin

  /** Order creation/replacement parameter validation
    * ([[graft.operators.OrderValidation]]; Alpaca.py:99-120, :193-202,
    * :776-860): every reference `ValueError` branch re-expressed as a
    * classification column over a deterministic synthetic order batch
    * that exercises each branch — mleg/simple/oco/bracket/unknown
    * classes, simple-with-legs, missing symbol, off-domain type and
    * time-in-force, missing limit price, zero remaining quantity, the
    * min(requested, remaining) clamp, and the 128-char client-order-id
    * truncation. Pure codegen column math, one scan, no UDFs.
    */
  def orderValidation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shaped = Tables.load(s, dir, "orders")
      .filter($"o_orderkey" < 4000)
      .select($"o_orderkey".as("order_id"))
      .withColumn("order_class",
        when($"order_id" % 13 === 0, "oco")
          .when($"order_id" % 13 === 1, "bracket")
          .when($"order_id" % 13 === 2, "unknown")
          .when($"order_id" % 3 === 0, "mleg")
          .otherwise("simple"))
      .withColumn("n_legs",
        when($"order_class" === "mleg", lit(1L) + $"order_id" % 4)
          .when($"order_class" === "simple" && $"order_id" % 17 === 0, lit(1L))
          .when($"order_class" === "unknown", $"order_id" % 2)
          .otherwise(lit(0L)))
      .withColumn("symbol",
        when($"order_id" % 19 === 0, lit(null).cast("string"))
          // empty string: Python-falsy but SQL-non-null — must be
          // rejected exactly like the missing symbol
          .when($"order_id" % 19 === 5, lit(""))
          .otherwise(concat(lit("SYM"), ($"order_id" % 50).cast("string"))))
      .withColumn("otype",
        when($"order_id" % 23 === 0, "twap")
          // missing type: the reference defaults it to 'limit' on the
          // replace path, so these rows must stay replaceable
          .when($"order_id" % 23 === 7, lit(null).cast("string"))
          .otherwise(element_at(
            array(lit("market"), lit("limit"), lit("stop"),
              lit("stop_limit"), lit("trailing_stop")),
            ($"order_id" % 5).cast("int") + 1)))
      .withColumn("tif",
        when($"order_id" % 29 === 0, "until_close")
          .when($"order_id" % 6 === 5, lit(null).cast("string"))
          .otherwise(element_at(
            array(lit("gtc"), lit("ioc"), lit("fok"), lit("day"), lit("opg")),
            ($"order_id" % 6).cast("int") + 1)))
      .withColumn("limit_price",
        when($"order_id" % 7 === 0, lit(null).cast("double"))
          .otherwise(lit(50.0) + ($"order_id" % 100).cast("double") * 0.25))
      .withColumn("order_qty", lit(10L) + $"order_id" % 90)
      .withColumn("filled_qty", least($"order_qty", ($"order_id" % 6) * 10))
      .withColumn("qty_requested", lit(1L) + $"order_id" % 150)
      .withColumn("client_order_id_len", lit(1L) + $"order_id" % 200)
    graft.operators.OrderValidation.validate(shaped)
      .select($"order_id", $"order_class", $"recreate_kind", $"otype",
        $"tif_eff", $"type_ok", $"tif_ok", $"limit_price_ok", $"remaining",
        $"remaining_ok", $"new_qty", $"qty_clamped", $"coid_len", $"replace_ok")
      .orderBy($"order_id")
  }

  val orderValidationSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS order_id FROM orders WHERE o_orderkey < 4000),
      |c1 AS (
      |  SELECT order_id,
      |    CASE WHEN order_id % 13 = 0 THEN 'oco'
      |         WHEN order_id % 13 = 1 THEN 'bracket'
      |         WHEN order_id % 13 = 2 THEN 'unknown'
      |         WHEN order_id % 3 = 0 THEN 'mleg'
      |         ELSE 'simple' END AS order_class,
      |    CASE WHEN order_id % 19 = 0 THEN NULL
      |         WHEN order_id % 19 = 5 THEN ''
      |         ELSE 'SYM' || CAST(order_id % 50 AS VARCHAR) END AS symbol,
      |    CASE WHEN order_id % 23 = 0 THEN 'twap'
      |         WHEN order_id % 23 = 7 THEN NULL
      |         ELSE CASE order_id % 5 WHEN 0 THEN 'market' WHEN 1 THEN 'limit'
      |              WHEN 2 THEN 'stop' WHEN 3 THEN 'stop_limit'
      |              ELSE 'trailing_stop' END END AS otype,
      |    CASE WHEN order_id % 29 = 0 THEN 'until_close'
      |         WHEN order_id % 6 = 5 THEN NULL
      |         ELSE CASE order_id % 6 WHEN 0 THEN 'gtc' WHEN 1 THEN 'ioc'
      |              WHEN 2 THEN 'fok' WHEN 3 THEN 'day' ELSE 'opg' END END AS tif,
      |    CASE WHEN order_id % 7 = 0 THEN NULL
      |         ELSE 50.0 + CAST(order_id % 100 AS DOUBLE) * 0.25 END AS limit_price,
      |    10 + order_id % 90 AS order_qty,
      |    1 + order_id % 150 AS qty_requested,
      |    1 + order_id % 200 AS client_order_id_len
      |  FROM base),
      |c2 AS (
      |  SELECT *,
      |    CASE WHEN order_class = 'mleg' THEN 1 + order_id % 4
      |         WHEN order_class = 'simple' AND order_id % 17 = 0 THEN 1
      |         WHEN order_class = 'unknown' THEN order_id % 2
      |         ELSE 0 END AS n_legs,
      |    LEAST(order_qty, (order_id % 6) * 10) AS filled_qty
      |  FROM c1),
      |v AS (
      |  SELECT *,
      |    CASE WHEN order_class = 'mleg' THEN 'mleg'
      |         WHEN order_class IN ('oco', 'bracket') THEN 'reject_oco_bracket'
      |         WHEN order_class = 'simple' AND n_legs > 0 THEN 'reject_simple_with_legs'
      |         WHEN order_class = 'simple' THEN 'simple'
      |         WHEN symbol IS NOT NULL AND symbol <> '' AND n_legs = 0 THEN 'simple'
      |         ELSE 'reject_unsupported' END AS recreate_kind,
      |    COALESCE(tif, 'day') AS tif_eff,
      |    order_qty - filled_qty AS remaining
      |  FROM c2)
      |SELECT order_id, order_class, recreate_kind, otype, tif_eff,
      |  otype IN ('market', 'limit', 'stop', 'stop_limit', 'trailing_stop') AS type_ok,
      |  tif_eff IN ('gtc', 'ioc', 'fok', 'day', 'opg') AS tif_ok,
      |  limit_price IS NOT NULL AS limit_price_ok,
      |  remaining,
      |  remaining > 0 AS remaining_ok,
      |  CASE WHEN remaining > 0 THEN LEAST(qty_requested, remaining) END AS new_qty,
      |  remaining > 0 AND qty_requested > remaining AS qty_clamped,
      |  LEAST(client_order_id_len, 128) AS coid_len,
      |  (limit_price IS NOT NULL AND remaining > 0
      |    AND tif_eff IN ('gtc', 'ioc', 'fok', 'day', 'opg')
      |    AND (recreate_kind = 'mleg' OR (recreate_kind = 'simple'
      |         AND COALESCE(otype, 'limit') = 'limit'
      |         AND symbol IS NOT NULL AND symbol <> ''))) AS replace_ok
      |FROM v ORDER BY order_id""".stripMargin

  val defs: Map[String, Q] = Map(
    "q90_order_validation" -> (orderValidation(_, _)),
    "q78_order_lifecycle" -> (orderLifecycle(_, _)),
    "q40_occ_roundtrip" -> (occRoundtrip(_, _)),
    "q41_ticker_splice" -> (tickerSplice(_, _)),
    "q42_quote_pipeline" -> (quotePipeline(_, _)),
    "q43_risk_enrichment" -> (riskEnrichment(_, _)),
    "q89_missing_vol_rescue" -> (missingVolRescue(_, _)),
    "q46_api_retrieve_quote" -> (apiRetrieveQuote(_, _)),
    "q52_api_retrieve_eod" -> (apiRetrieveEod(_, _)),
    "q66_patch_rules" -> (patchRules(_, _)),
    "q67_list_contracts" -> (apiListContracts(_, _)))

  val oracles: Map[String, String] = Map(
    "q90_order_validation" -> orderValidationSql,
    "q78_order_lifecycle" -> orderLifecycleSql,
    "q40_occ_roundtrip" -> occRoundtripSql,
    "q41_ticker_splice" -> tickerSpliceSql,
    "q42_quote_pipeline" -> quotePipelineSql,
    "q43_risk_enrichment" -> riskEnrichmentSql,
    "q89_missing_vol_rescue" -> missingVolRescueSql,
    "q46_api_retrieve_quote" -> apiRetrieveQuoteSql,
    "q52_api_retrieve_eod" -> apiRetrieveEodSql,
    "q66_patch_rules" -> patchRulesSql,
    "q67_list_contracts" -> apiListContractsSql)
}
