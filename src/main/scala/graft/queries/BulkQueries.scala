package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{BulkApi, SyntheticContractMarket}
import graft.operators.CoreOps.{lastBy, midpoint}

/** The reference's bulk/chain/snapshot retrieval family through
  * [[graft.api.BulkApi]] — full contract identity (root, expiration,
  * right, strike) on every row (v2.py:1055-1160, 1682-1760, 2096-2212,
  * 456-524). Every query is DuckDB-oracle-checked: the oracle rederives
  * the synthetic contract-keyed tables and replays the same
  * aggregation.
  */
object BulkQueries {

  type Q = (SparkSession, String) => DataFrame

  private def api(s: SparkSession, dir: String) = new BulkApi(
    SyntheticContractMarket.quotes(s, dir),
    SyntheticContractMarket.trades(s, dir),
    SyntheticContractMarket.oi(s, dir))

  /** Shared oracle CTE: the contract-keyed tick stream rederived from
    * events (mirrors [[SyntheticContractMarket]] arithmetic exactly).
    */
  private val rawSql: String =
    """raw AS (
      |  SELECT user_id % 5 AS root,
      |    DATE '2026-01-16' + CAST((event_id % 4) * 28 AS INTEGER) AS expiration,
      |    CASE WHEN event_id % 2 = 0 THEN 'C' ELSE 'P' END AS "right",
      |    90.0 + CAST(event_id % 3 AS DOUBLE) * 10.0 AS strike,
      |    ts, event_id AS seq, event_type, value
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |        FROM events) e)""".stripMargin

  private val quoteColsSql: String =
    """value AS bid,
      |    value + 0.10 + CAST(seq % 7 AS DOUBLE) * 0.01 AS ask,
      |    1 + seq % 5 AS bid_size,
      |    1 + seq % 3 AS ask_size""".stripMargin

  /** v2.py:1055-1160 — bulk EOD for every contract of root 3 over the
    * January window: quote timeline + trade OHLC + bootstrap + fillna,
    * one row per (contract, day).
    */
  def bulkEod(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    api(s, dir).retrieveBulkEod(3L, None, "2024-01-02", "2024-01-28")
      .orderBy($"datetime", $"expiration", $"right", $"strike")
  }

  /** The q72 oracle CTE chain (root-parametrized), ending in an `eod`
    * CTE with the bulk-EOD schema — reused by q81's pipeline oracle.
    */
  private def bulkEodCtes(root: Int): String =
    s"""$rawSql,
       |q0 AS (
       |  SELECT root, expiration, "right", strike, ts, seq, $quoteColsSql,
       |    date_trunc('day', ts) + INTERVAL 16 HOUR AS datetime
       |  FROM raw
       |  WHERE root = $root AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-28'
       |    AND (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 585 AND 960),
       |q1 AS (
       |  SELECT *, (bid + ask) / 2.0 AS mid,
       |    CASE WHEN bid_size + ask_size = 0 THEN (bid + ask) / 2.0
       |         ELSE (bid * bid_size + ask * ask_size) / (bid_size + ask_size) END AS wmid
       |  FROM q0),
       |qr AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY datetime, expiration, "right", strike
       |      ORDER BY ts DESC, seq DESC) AS rnd
       |  FROM q1),
       |q AS (
       |  SELECT datetime, root, expiration, "right", strike,
       |    MAX(CASE WHEN rnd = 1 THEN mid END) AS q_close,
       |    MAX(CASE WHEN rnd = 1 THEN bid END) AS close_bid,
       |    MAX(CASE WHEN rnd = 1 THEN ask END) AS close_ask,
       |    MAX(CASE WHEN rnd = 1 THEN bid_size END) AS bid_size,
       |    MAX(CASE WHEN rnd = 1 THEN ask_size END) AS ask_size,
       |    MAX(CASE WHEN rnd = 1 THEN wmid END) AS weighted_midpoint
       |  FROM qr GROUP BY datetime, root, expiration, "right", strike),
       |t0 AS (
       |  SELECT root, expiration, "right", strike, ts, seq,
       |    value AS price, CAST(seq % 100 AS DOUBLE) AS vol,
       |    date_trunc('day', ts) + INTERVAL 16 HOUR AS datetime
       |  FROM raw
       |  WHERE event_type = 'purchase' AND root = $root
       |    AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-28'
       |    AND (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 570 AND 960),
       |tr AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY datetime, expiration, "right", strike
       |                       ORDER BY ts, seq) AS rna,
       |    row_number() OVER (PARTITION BY datetime, expiration, "right", strike
       |                       ORDER BY ts DESC, seq DESC) AS rnd
       |  FROM t0),
       |t AS (
       |  SELECT datetime, root, expiration, "right", strike,
       |    MAX(CASE WHEN rna = 1 THEN price END) AS t_open,
       |    MAX(price) AS t_high,
       |    MIN(price) AS t_low,
       |    MAX(CASE WHEN rnd = 1 THEN price END) AS t_close,
       |    CAST(SUM(CAST(vol AS DECIMAL(30,4))) AS DOUBLE) AS volume
       |  FROM tr GROUP BY datetime, root, expiration, "right", strike),
       |eod AS (
       |  SELECT q.datetime, q.root, q.strike, q.expiration, q."right",
       |    COALESCE(t.t_open, q.q_close) AS open,
       |    COALESCE(t.t_high, q.q_close) AS high,
       |    COALESCE(t.t_low, q.q_close) AS low,
       |    COALESCE(t.t_close, q.q_close) AS close,
       |    COALESCE(t.volume, 0.0) AS volume,
       |    q.bid_size, q.close_bid, q.ask_size, q.close_ask,
       |    (q.close_bid + q.close_ask) / 2.0 AS midpoint,
       |    q.weighted_midpoint
       |  FROM q LEFT JOIN t
       |    ON q.datetime = t.datetime AND q.expiration = t.expiration
       |    AND q."right" = t."right" AND q.strike = t.strike)""".stripMargin

  val bulkEodSql: String =
    s"""WITH ${bulkEodCtes(3)}
       |SELECT * FROM eod
       |ORDER BY datetime, expiration, "right", strike""".stripMargin

  /** v2.py:2096-2212 — the call side of root 2's chain at 14:30 each
    * day: last quote at-or-before the cut per (contract, day).
    */
  def chainBulk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    api(s, dir).retrieveChainBulk(2L, None, "2024-01-02", "2024-01-28",
        "14:30", right = Some("C"))
      .orderBy($"date", $"expiration", $"strike")
  }

  val chainBulkSql: String =
    s"""WITH $rawSql,
       |q0 AS (
       |  SELECT root, expiration, "right", strike, ts, seq, $quoteColsSql,
       |    CAST(ts AS DATE) AS date
       |  FROM raw
       |  WHERE root = 2 AND "right" = 'C'
       |    AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-28'
       |    AND EXTRACT(hour FROM ts) * 3600000 + EXTRACT(minute FROM ts) * 60000
       |      + CAST(EXTRACT(second FROM ts) AS BIGINT) * 1000 <= 52200000),
       |q1 AS (
       |  SELECT *,
       |    CASE WHEN bid_size + ask_size = 0 THEN (bid + ask) / 2.0
       |         ELSE (bid * bid_size + ask * ask_size) / (bid_size + ask_size) END AS wmid,
       |    row_number() OVER (PARTITION BY date, expiration, "right", strike
       |                       ORDER BY ts DESC, seq DESC) AS rnd
       |  FROM q0)
       |SELECT root, expiration, strike, "right",
       |  MAX(CASE WHEN rnd = 1 THEN bid_size END) AS bid_size,
       |  MAX(CASE WHEN rnd = 1 THEN bid END) AS close_bid,
       |  MAX(CASE WHEN rnd = 1 THEN ask_size END) AS ask_size,
       |  MAX(CASE WHEN rnd = 1 THEN ask END) AS close_ask,
       |  date,
       |  (MAX(CASE WHEN rnd = 1 THEN bid END) + MAX(CASE WHEN rnd = 1 THEN ask END)) / 2.0 AS midpoint,
       |  MAX(CASE WHEN rnd = 1 THEN wmid END) AS weighted_midpoint
       |FROM q1
       |GROUP BY root, expiration, strike, "right", date
       |ORDER BY date, expiration, strike""".stripMargin

  /** v2.py:1682-1760 — bulk open interest: keep-last OI print per
    * (contract, day) of root 1 over the window.
    */
  def bulkOpenInterest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    api(s, dir).retrieveBulkOpenInterest(1L, None, "2024-01-02", "2024-01-28")
      .orderBy($"day", $"expiration", $"right", $"strike")
  }

  val bulkOpenInterestSql: String =
    s"""WITH $rawSql,
       |o AS (
       |  SELECT root, CAST(ts AS DATE) AS day, expiration, "right", strike,
       |    seq, seq % 10000 AS open_interest
       |  FROM raw
       |  WHERE event_type = 'signup' AND root = 1
       |    AND CAST(ts AS DATE) >= DATE '2024-01-02'
       |    AND CAST(ts AS DATE) < DATE '2024-01-28'),
       |r AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY day, expiration, "right", strike
       |      ORDER BY seq DESC) AS rn
       |  FROM o)
       |SELECT root, day, expiration, "right", strike, open_interest
       |FROM r WHERE rn = 1
       |ORDER BY day, expiration, "right", strike""".stripMargin

  /** v2.py:456-471 — greeks snapshot of root 4: latest quote per
    * contract, enriched with IV/greeks; the oracle asserts the
    * RiskCheck booleans TRUE (q43 pattern) and mirrors the
    * deterministic market inputs exactly.
    */
  def snapshotGreeks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    api(s, dir).snapshotGreeks(4L)
      .orderBy($"expiration", $"right", $"strike")
  }

  val snapshotGreeksSql: String =
    s"""WITH $rawSql,
       |r AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY expiration, "right", strike
       |      ORDER BY ts DESC, seq DESC) AS rn
       |  FROM raw WHERE root = 4),
       |snap AS (
       |  SELECT root, expiration, "right", strike, ts AS datetime, seq,
       |    100.0 + CAST(root AS DOUBLE) * 5.0 AS underlier_price,
       |    CAST(date_diff('day', CAST(ts AS DATE), expiration) AS DOUBLE) / 365.0 AS year_frac
       |  FROM r WHERE rn = 1)
       |SELECT root, expiration, "right", strike, datetime,
       |  underlier_price, year_frac,
       |  greatest(CASE WHEN "right" = 'C' THEN underlier_price - strike
       |                ELSE strike - underlier_price END, 0.0)
       |    + underlier_price * (0.02 + CAST(seq % 11 AS DOUBLE) / 200.0) AS price,
       |  TRUE AS bs_roundtrip_ok, TRUE AS binomial_roundtrip_ok,
       |  TRUE AS delta_in_range, TRUE AS gamma_nonneg, TRUE AS vega_nonneg,
       |  TRUE AS dollar_delta_exact
       |FROM snap
       |ORDER BY expiration, "right", strike""".stripMargin

  /** v2.py:474-489 — OHLC snapshot of root 0: each contract's last
    * traded day's aggregated bar.
    */
  def snapshotOhlc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    api(s, dir).snapshotOhlc(0L)
      .orderBy($"expiration", $"right", $"strike")
  }

  val snapshotOhlcSql: String =
    s"""WITH $rawSql,
       |t0 AS (
       |  SELECT root, expiration, "right", strike, CAST(ts AS DATE) AS day,
       |    ts, seq, value AS price, CAST(seq % 100 AS DOUBLE) AS vol
       |  FROM raw WHERE event_type = 'purchase' AND root = 0),
       |tr AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY day, expiration, "right", strike
       |                       ORDER BY ts, seq) AS rna,
       |    row_number() OVER (PARTITION BY day, expiration, "right", strike
       |                       ORDER BY ts DESC, seq DESC) AS rnd
       |  FROM t0),
       |daily AS (
       |  SELECT root, expiration, "right", strike, day,
       |    MAX(CASE WHEN rna = 1 THEN price END) AS open,
       |    MAX(price) AS high,
       |    MIN(price) AS low,
       |    MAX(CASE WHEN rnd = 1 THEN price END) AS close,
       |    CAST(SUM(CAST(vol AS DECIMAL(30,4))) AS DOUBLE) AS volume
       |  FROM tr GROUP BY root, expiration, "right", strike, day),
       |latest AS (
       |  SELECT *, row_number() OVER (PARTITION BY expiration, "right", strike
       |                               ORDER BY day DESC) AS rn
       |  FROM daily)
       |SELECT root, expiration, "right", strike, day, open, high, low, close, volume
       |FROM latest WHERE rn = 1
       |ORDER BY expiration, "right", strike""".stripMargin

  /** v2.py:2096-2212 `oi=true` — the chain's open-interest prints per
    * day (the `bulk_at_time/option/open_interest` arm).
    */
  def chainBulkOi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    api(s, dir).retrieveChainBulk(2L, None, "2024-01-02", "2024-01-28",
        "15:00", right = None, oiMode = true)
      .orderBy($"date", $"expiration", $"right", $"strike")
  }

  val chainBulkOiSql: String =
    s"""WITH $rawSql,
       |o AS (
       |  SELECT root, CAST(ts AS DATE) AS date, expiration, "right", strike,
       |    seq, seq % 10000 AS open_interest
       |  FROM raw
       |  WHERE event_type = 'signup' AND root = 2
       |    AND CAST(ts AS DATE) >= DATE '2024-01-02'
       |    AND CAST(ts AS DATE) < DATE '2024-01-28'),
       |r AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY date, expiration, "right", strike
       |      ORDER BY seq DESC) AS rn
       |  FROM o)
       |SELECT root, expiration, "right", strike, date, open_interest
       |FROM r WHERE rn = 1
       |ORDER BY date, expiration, "right", strike""".stripMargin

  /** Organizers.py:27-125 `generate_optionData_to_save` (bulk=True) —
    * the reference's flagship save frame: bulk EOD + underlier close
    * attached per day + ffill + rates/dividend + OCC tick + IV/greeks
    * enrichment, the full composition a production writer persists.
    * RiskCheck booleans asserted TRUE by the oracle (q43/q75 pattern);
    * every other column is mirrored arithmetic.
    */
  def optionDataToSave(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    api(s, dir).optionDataToSave(3L, "2024-01-02", "2024-01-28")
      .orderBy($"datetime", $"expiration", $"right", $"strike")
  }

  val optionDataToSaveSql: String =
    s"""WITH ${bulkEodCtes(3)},
       |spot0 AS (
       |  SELECT date_trunc('day', ts) + INTERVAL 16 HOUR AS datetime,
       |    root, ts, seq, value AS price
       |  FROM raw
       |  WHERE event_type = 'purchase' AND root = 3
       |    AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-28'),
       |spot AS (
       |  SELECT datetime, root, price AS spot FROM (
       |    SELECT *, row_number() OVER (PARTITION BY datetime
       |      ORDER BY ts DESC, seq DESC) AS rn FROM spot0) z
       |  WHERE rn = 1),
       |joined AS (
       |  SELECT e.*, s.spot FROM eod e
       |  LEFT JOIN spot s ON e.datetime = s.datetime AND e.root = s.root),
       |grp AS (
       |  SELECT *, COUNT(CASE WHEN spot IS NOT NULL THEN 1 END) OVER (
       |      PARTITION BY expiration, "right", strike ORDER BY datetime
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM joined),
       |filled AS (
       |  SELECT *, MAX(spot) OVER (PARTITION BY expiration, "right", strike, g)
       |    AS spot_f
       |  FROM grp),
       |enriched AS (
       |  SELECT *,
       |    100.0 + 15.0 + COALESCE(spot_f % 10.0, 0.0) AS underlier_price,
       |    CAST(date_diff('day', CAST(datetime AS DATE), expiration) AS DOUBLE)
       |      / 365.0 AS year_frac,
       |    'R3' || strftime(expiration, '%y%m%d') || "right" ||
       |      lpad(CAST(CAST(round(strike * 1000) AS BIGINT) AS VARCHAR), 8, '0')
       |      AS option_tick
       |  FROM filled)
       |SELECT datetime, option_tick, root AS underlier, expiration, "right",
       |  strike, open, high, low, close, volume,
       |  underlier_price, CAST(0.045 AS DOUBLE) AS rf_rate,
       |  CAST(0.012 AS DOUBLE) AS div_yield, year_frac,
       |  greatest(CASE WHEN "right" = 'C' THEN underlier_price - strike
       |                ELSE strike - underlier_price END, 0.0)
       |    + underlier_price
       |      * (0.08 + CAST(EXTRACT(day FROM datetime) % 11 AS DOUBLE) / 200.0)
       |    AS price,
       |  TRUE AS bs_roundtrip_ok, TRUE AS binomial_roundtrip_ok,
       |  TRUE AS delta_in_range, TRUE AS gamma_nonneg, TRUE AS vega_nonneg,
       |  TRUE AS dollar_delta_exact
       |FROM enriched
       |ORDER BY datetime, expiration, "right", strike""".stripMargin

  /** q143: put-call parity residual scan — the no-arbitrage monitor a
    * market-data platform runs over every chain (reference stakes: the
    * Organizers enrichment joins the same C/P/underlier triple): each
    * (root, expiration, strike, day) pairs its call and put daily
    * close midpoints and scores the zero-rate parity residual
    * (C − P) − (S − K). Shape: one keyed aggregate collapses ticks to
    * per-contract daily closes (keep-last via max_by — the q10/q11
    * discipline), the C/P pairing is an equi-join on the full contract
    * key, and the per-(root, day) synthetic spot broadcasts back
    * (5 roots × days — bounded). Output is contract-universe-sized,
    * independent of tick volume.
    */
  def parityScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The standard synthetic identity derives right from event_id % 2
    // and expiration from event_id % 4 — correlated, so a call and a
    // put never share an expiration and parity has no pairs. This
    // query's tick stream uses an INDEPENDENT bit-field for the right
    // ((event_id div 4) % 2; periods 4, 8, 3 are coprime-free of each
    // other over lcm 24, so every (expiration, right, strike) combo
    // trades) with the same bid/ask arithmetic, mirrored in the
    // oracle.
    val ev = graft.Tables.load(s, dir, "events")
    val q = ev.select(
        ($"user_id" % 5).as("root"),
        date_add(lit(java.sql.Date.valueOf("2026-01-16")),
          (($"event_id" % 4) * 28).cast("int")).as("expiration"),
        when(expr("event_id div 4") % 2 === 0, "C").otherwise("P").as("right"),
        (lit(90.0) + ($"event_id" % 3).cast("double") * 10.0).as("strike"),
        $"ts", $"event_id".as("seq"),
        $"value".as("bid"),
        ($"value" + 0.10 + ($"event_id" % 7).cast("double") * 0.01).as("ask"))
      .withColumn("day", to_date($"ts"))
      .withColumn("mid", midpoint($"bid", $"ask"))
    val close = q.groupBy($"root", $"expiration", $"strike", $"right", $"day")
      .agg(lastBy($"mid", struct($"ts", $"seq")).as("close_mid"))
    val calls = close.filter($"right" === "C")
      .select($"root", $"expiration", $"strike", $"day",
        $"close_mid".as("c_mid"))
    val puts = close.filter($"right" === "P")
      .select($"root", $"expiration", $"strike", $"day",
        $"close_mid".as("p_mid"))
    val spot = q.groupBy($"root", $"day")
      .agg((sum($"bid".cast("decimal(30,6)")).cast("double") /
        count(lit(1)).cast("double")).as("spot"))
    calls.join(puts, Seq("root", "expiration", "strike", "day"))
      .join(broadcast(spot), Seq("root", "day"))
      .select($"root", $"expiration", $"strike", $"day",
        $"c_mid", $"p_mid", $"spot",
        (($"c_mid" - $"p_mid") - ($"spot" - $"strike")).as("parity_residual"))
      .orderBy($"root", $"expiration", $"strike", $"day")
  }

  val parityScanSql: String =
    s"""WITH q0 AS (
       |  SELECT user_id % 5 AS root,
       |    DATE '2026-01-16' + CAST((event_id % 4) * 28 AS INTEGER) AS expiration,
       |    CASE WHEN (event_id // 4) % 2 = 0 THEN 'C' ELSE 'P' END AS "right",
       |    90.0 + CAST(event_id % 3 AS DOUBLE) * 10.0 AS strike,
       |    ts, event_id AS seq,
       |    value AS bid,
       |    value + 0.10 + CAST(event_id % 7 AS DOUBLE) * 0.01 AS ask,
       |    CAST(ts AS DATE) AS day
       |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
       |        FROM events) e),
       |m AS (SELECT *, (bid + ask) / 2.0 AS mid FROM q0),
       |clo AS (
       |  SELECT root, expiration, strike, "right", day, mid AS close_mid FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY root, expiration, strike, "right", day
       |      ORDER BY ts DESC, seq DESC) AS rn
       |    FROM m) t WHERE rn = 1),
       |spot AS (
       |  SELECT root, day,
       |    CAST(SUM(CAST(bid AS DECIMAL(30,6))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS spot
       |  FROM q0 GROUP BY 1, 2),
       |c AS (SELECT root, expiration, strike, day, close_mid AS c_mid
       |      FROM clo WHERE "right" = 'C'),
       |p AS (SELECT root, expiration, strike, day, close_mid AS p_mid
       |      FROM clo WHERE "right" = 'P')
       |SELECT c.root, c.expiration, c.strike, c.day, c.c_mid, p.p_mid, s.spot,
       |  (c.c_mid - p.p_mid) - (s.spot - c.strike) AS parity_residual
       |FROM c JOIN p USING (root, expiration, strike, day)
       |JOIN spot s USING (root, day)
       |ORDER BY c.root, c.expiration, c.strike, c.day""".stripMargin

  /** q152: order-flow microstructure — per (root, day): the
    * bid/ask size imbalance (bid share of posted size, exact-integer
    * ppb — the NON-NEGATIVE form on purpose: Spark's `div` truncates
    * toward zero while DuckDB's `//` floors, so signed integer
    * division is NOT engine-portable) and the mean microprice premium
    * (size-weighted fair price minus midpoint — positive when ask
    * pressure outweighs bid pressure), a computed double averaged in
    * the floor(x·1e6) fixed point the q150 boundary lesson mandates.
    * One keyed aggregate over ticks; output is (roots × days)-sized.
    */
  def flowImbalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = SyntheticContractMarket.quotes(s, dir)
      .withColumn("day", to_date($"ts"))
      .withColumn("mp",
        ($"bid" * $"ask_size" + $"ask" * $"bid_size") /
          ($"bid_size" + $"ask_size").cast("double"))
      .withColumn("premium", $"mp" - midpoint($"bid", $"ask"))
    // sizes summed in decimal(38,0) (not BIGINT) so sb + sa and the
    // 1e9 multiply share DuckDB's HUGEINT exactness instead of
    // silently wrapping in non-ANSI Spark at extreme tick volumes
    q.groupBy($"root", $"day")
      .agg(count(lit(1)).as("n_ticks"),
        sum($"bid_size".cast("decimal(38,0)")).as("sb"),
        sum($"ask_size".cast("decimal(38,0)")).as("sa"),
        sum(floor($"premium" * 1000000.0).cast("decimal(38,0)")).as("pfx"))
      .select($"root", $"day", $"n_ticks",
        expr("cast((sb * 1000000000) div (sb + sa) as bigint)")
          .as("bid_share_ppb"),
        ($"pfx".cast("double") /
          ($"n_ticks".cast("double") * 1000000.0)).as("mean_micro_premium"))
      .orderBy($"root", $"day")
  }

  val flowImbalanceSql: String =
    s"""WITH $rawSql,
       |q0 AS (
       |  SELECT root, expiration, "right", strike, ts, seq, $quoteColsSql,
       |    CAST(ts AS DATE) AS day
       |  FROM raw),
       |m AS (
       |  SELECT *,
       |    (bid * ask_size + ask * bid_size)
       |      / CAST(bid_size + ask_size AS DOUBLE) AS mp
       |  FROM q0),
       |p AS (SELECT *, mp - (bid + ask) / 2.0 AS premium FROM m)
       |SELECT root, day, COUNT(*) AS n_ticks,
       |  CAST((SUM(CAST(bid_size AS HUGEINT)) * 1000000000)
       |    // (SUM(CAST(bid_size AS HUGEINT)) + SUM(CAST(ask_size AS HUGEINT)))
       |    AS BIGINT) AS bid_share_ppb,
       |  CAST(SUM(CAST(FLOOR(premium * 1000000.0) AS HUGEINT)) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_micro_premium
       |FROM p GROUP BY root, day
       |ORDER BY root, day""".stripMargin

  /** q153: daily returns + trailing realized volatility per root —
    * the risk series every desk derives first. Daily closes come from
    * the q143 keep-last discipline; the return is
    * floor((close − prev) · 1e9 / prev) — floor, NOT integer div,
    * because the sign can be negative and floor is the one integer
    * rounding both engines share. Realized vol is the trailing 5-day
    * root-mean-square of the returns with the SQUARE quantized to
    * 1e-6 fixed point before summing — squared ppb integers pass
    * 2^53, where decimal→double conversion stops being ulp-identical
    * across engines (observed), while the quantized sums stay exactly
    * double-representable AND association-free under DuckDB's
    * segment-tree window evaluation. IEEE sqrt is correctly rounded,
    * so the final double matches bit-for-bit. All windows run over
    * the (roots × days) grid, never the tick stream.
    */
  def dailyReturns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val q = SyntheticContractMarket.quotes(s, dir)
      .withColumn("day", to_date($"ts"))
      .withColumn("mid", midpoint($"bid", $"ask"))
    val closes = q.groupBy($"root", $"day")
      .agg(lastBy($"mid", struct($"ts", $"seq")).as("close"))
    val wLag = Window.partitionBy($"root").orderBy($"day")
    val wVol = wLag.rowsBetween(-4, 0)
    closes
      .withColumn("prev_close", lag($"close", 1).over(wLag))
      // guard: a synthetic close can sit near zero, making the raw
      // ratio unbounded (the ppb int would blow past int64); a
      // sub-unit previous close yields null, mirrored in the oracle
      .withColumn("ret_ppb",
        when($"prev_close" >= 1.0,
          floor(($"close" - $"prev_close") * 1000000000.0 / $"prev_close"))
          .cast("long"))
      // the squared return is quantized to 1e-6 BEFORE summing:
      // squared ppb ints pass 2^53 where decimal->double conversion
      // is no longer ulp-identical across engines (observed 1 row);
      // floor(r^2 * 1e6) keeps every sum exactly double-representable
      .withColumn("rsq_fx",
        floor(($"ret_ppb".cast("double") / 1e9) *
          ($"ret_ppb".cast("double") / 1e9) * 1000000.0).cast("long"))
      .withColumn("rv_num", sum($"rsq_fx").over(wVol))
      .withColumn("rv_n", count($"rsq_fx").over(wVol))
      .select($"root", $"day", $"close", $"ret_ppb",
        when($"rv_n" > 0,
          sqrt($"rv_num".cast("double") /
            ($"rv_n".cast("double") * 1000000.0)))
          .as("realized_vol_5d"))
      .orderBy($"root", $"day")
  }

  val dailyReturnsSql: String =
    s"""WITH $rawSql,
       |q0 AS (
       |  SELECT root, expiration, "right", strike, ts, seq, $quoteColsSql,
       |    CAST(ts AS DATE) AS day
       |  FROM raw),
       |m AS (SELECT *, (bid + ask) / 2.0 AS mid FROM q0),
       |clo AS (
       |  SELECT root, day, mid AS close FROM (
       |    SELECT *, row_number() OVER (PARTITION BY root, day
       |                                 ORDER BY ts DESC, seq DESC) AS rn
       |    FROM m) t WHERE rn = 1),
       |r AS (
       |  SELECT *,
       |    CAST(CASE WHEN lag(close) OVER w >= 1.0 THEN
       |      FLOOR((close - lag(close) OVER w) * 1000000000.0
       |        / lag(close) OVER w) END AS BIGINT) AS ret_ppb
       |  FROM clo WINDOW w AS (PARTITION BY root ORDER BY day)),
       |r2 AS (
       |  SELECT *,
       |    CAST(FLOOR((CAST(ret_ppb AS DOUBLE) / 1e9)
       |      * (CAST(ret_ppb AS DOUBLE) / 1e9) * 1000000.0) AS BIGINT)
       |      AS rsq_fx
       |  FROM r),
       |v AS (
       |  SELECT *,
       |    SUM(rsq_fx) OVER wv AS rv_num,
       |    COUNT(rsq_fx) OVER wv AS rv_n
       |  FROM r2 WINDOW wv AS (PARTITION BY root ORDER BY day
       |                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       |SELECT root, day, close, ret_ppb,
       |  CASE WHEN rv_n > 0 THEN
       |    sqrt(CAST(rv_num AS DOUBLE) / (CAST(rv_n AS DOUBLE) * 1000000.0))
       |  END AS realized_vol_5d
       |FROM v
       |ORDER BY root, day""".stripMargin

  val defs: Map[String, Q] = Map(
    "q152_flow_imbalance" -> (flowImbalance(_, _)),
    "q153_daily_returns" -> (dailyReturns(_, _)),
    "q143_parity_scan" -> (parityScan(_, _)),
    "q72_bulk_eod" -> (bulkEod(_, _)),
    "q73_chain_bulk" -> (chainBulk(_, _)),
    "q74_bulk_open_interest" -> (bulkOpenInterest(_, _)),
    "q75_snapshot_greeks" -> (snapshotGreeks(_, _)),
    "q76_snapshot_ohlc" -> (snapshotOhlc(_, _)),
    "q77_chain_bulk_oi" -> (chainBulkOi(_, _)),
    "q81_option_data_to_save" -> (optionDataToSave(_, _)))

  val oracles: Map[String, String] = Map(
    "q152_flow_imbalance" -> flowImbalanceSql,
    "q153_daily_returns" -> dailyReturnsSql,
    "q143_parity_scan" -> parityScanSql,
    "q72_bulk_eod" -> bulkEodSql,
    "q73_chain_bulk" -> chainBulkSql,
    "q74_bulk_open_interest" -> bulkOpenInterestSql,
    "q75_snapshot_greeks" -> snapshotGreeksSql,
    "q76_snapshot_ohlc" -> snapshotOhlcSql,
    "q77_chain_bulk_oi" -> chainBulkOiSql,
    "q81_option_data_to_save" -> optionDataToSaveSql)
}
