package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.CalendarOps._
import graft.operators.CoreOps._

/** Calendar-frequency coverage: the anchored buckets behind the
  * reference's resample frequency aliases (utils.py:349-357 — W-FRI,
  * BME, BYS, business days), the business-day range generator (P5),
  * ms-of-day conversions (F4/F5), the EOD timestamp shift (F13), and
  * JSON payload extraction (the Alpaca nested-JSON surface, §1.2).
  */
object CalendarQueries {

  type Q = (SparkSession, String) => DataFrame

  /** A1 anchored frequencies — W-FRI weekly and BME month-end buckets
    * over lineitem shipments, plus the business-day filter (B).
    */
  def anchoredBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .withColumn("ship_day", to_date($"l_shipdate"))
      .filter(isWeekday($"ship_day"))
    li.groupBy(
        weekEndingFriday($"ship_day").as("week_fri"),
        monthEnd($"ship_day").as("month_end"),
        yearStart($"ship_day").as("year_start"))
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("sum_qty"))
      .orderBy($"week_fri", $"month_end")
  }

  val anchoredBucketsSql: String =
    """WITH d AS (
      |  SELECT CAST(l_shipdate AS DATE) AS ship_day, l_quantity
      |  FROM lineitem
      |  WHERE dayofweek(CAST(l_shipdate AS DATE)) NOT IN (0, 6))
      |SELECT
      |  ship_day + CAST((5 - dayofweek(ship_day) + 7) % 7 AS INTEGER) AS week_fri,
      |  last_day(ship_day) AS month_end,
      |  CAST(date_trunc('year', ship_day) AS DATE) AS year_start,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
      |FROM d
      |GROUP BY 1, 2, 3
      |ORDER BY week_fri, month_end""".stripMargin

  /** P5 — business-day range generator with holiday pruning, joined
    * against the event stream: per business day of Jan 2024 (minus two
    * synthetic holidays), event count and value (0 on no-event days —
    * the complete-timeline semantics of the quote side in J1).
    */
  def busDayCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val holidays = Seq("2024-01-01", "2024-01-15")
    val days = busRange(s, "2024-01-01", "2024-01-31", holidays)
    val ev = Tables.load(s, dir, "events")
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
    days.join(ev, Seq("day"), "left")
      .select($"day",
        coalesce($"n_events", lit(0L)).as("n_events"),
        coalesce($"total_value", lit(0.0)).as("total_value"))
      .orderBy($"day")
  }

  val busDayCoverageSql: String =
    """WITH days AS (
      |  SELECT CAST(d.range AS DATE) AS day
      |  FROM range(DATE '2024-01-01', DATE '2024-02-01', INTERVAL 1 DAY) d
      |  WHERE dayofweek(CAST(d.range AS DATE)) NOT IN (0, 6)
      |    AND CAST(d.range AS DATE) NOT IN (DATE '2024-01-01', DATE '2024-01-15')),
      |ev AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
      |  FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events) e
      |  GROUP BY 1)
      |SELECT days.day,
      |  COALESCE(ev.n_events, 0) AS n_events,
      |  COALESCE(ev.total_value, 0.0) AS total_value
      |FROM days LEFT JOIN ev ON days.day = ev.day
      |ORDER BY days.day""".stripMargin

  /** F4/F5/F13 — time-of-day conversions and the EOD shift: ms-of-day,
    * HH:MM:SS rendering, and midnight→16:00 EOD stamping.
    */
  def timeConversions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events").filter($"event_id" < 500)
    ev.select(
        $"event_id", $"ts",
        msOfDay($"ts").as("ms_of_day"),
        msToTimeString(msOfDay($"ts")).as("time_str"),
        eodShift(date_trunc("day", $"ts")).as("eod_ts"),
        toMidnight($"ts").as("midnight_ts"))
      .orderBy($"event_id")
  }

  val timeConversionsSql: String =
    """SELECT event_id, ts,
      |  EXTRACT(hour FROM ts) * 3600000 + EXTRACT(minute FROM ts) * 60000
      |    + CAST(EXTRACT(second FROM ts) AS BIGINT) * 1000 AS ms_of_day,
      |  strftime(ts, '%H:%M:%S') AS time_str,
      |  date_trunc('day', ts) + INTERVAL 16 HOUR AS eod_ts,
      |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS midnight_ts
      |FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
      |WHERE event_id < 500
      |ORDER BY event_id""".stripMargin

  /** Nested-JSON payload extraction (Alpaca order JSON surface,
    * Alpaca.py:471-483): pull the numeric field out of `props`,
    * aggregate per event_type.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    ev.select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val jsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Nested-JSON legs (Alpaca multi-leg orders, Alpaca.py:125-145:
    * `legs: list[dict]` with symbol/ratio_qty/side/position_intent):
    * an Alpaca-shaped JSON array payload per order, parsed with
    * `from_json` into `ArrayType(StructType)` and exploded to one row
    * per leg — the nested-struct path q19's flat `$.k` extraction
    * doesn't cover. Orders divisible by 5 carry a third closing leg,
    * so array lengths vary. The oracle rebuilds the same legs from
    * first principles (no JSON), independently checking the parse.
    */
  def multilegOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val legSchema = ArrayType(StructType(Seq(
      StructField("symbol", StringType),
      StructField("ratio_qty", DoubleType),
      StructField("side", StringType),
      StructField("position_intent", StringType))))
    val o = Tables.load(s, dir, "orders")
      .filter($"o_orderkey" < 2000)
      .select($"o_orderkey".as("order_id"))
    val twoLegs = format_string(
      """[{"symbol":"S%d","ratio_qty":%d.0,"side":"buy","position_intent":"buy_to_open"},""" +
        """{"symbol":"S%d","ratio_qty":%d.0,"side":"sell","position_intent":"sell_to_open"}]""",
      $"order_id" % 7, $"order_id" % 3 + 1, ($"order_id" + 1) % 7, $"order_id" % 2 + 1)
    val threeLegs = format_string(
      """[{"symbol":"S%d","ratio_qty":%d.0,"side":"buy","position_intent":"buy_to_open"},""" +
        """{"symbol":"S%d","ratio_qty":%d.0,"side":"sell","position_intent":"sell_to_open"},""" +
        """{"symbol":"S9","ratio_qty":1.0,"side":"buy","position_intent":"buy_to_close"}]""",
      $"order_id" % 7, $"order_id" % 3 + 1, ($"order_id" + 1) % 7, $"order_id" % 2 + 1)
    o.withColumn("legs_json",
        when($"order_id" % 5 === 0, threeLegs).otherwise(twoLegs))
      .withColumn("legs", from_json($"legs_json", legSchema))
      // posexplode_OUTER, deliberately: the inner generate makes
      // Catalyst infer `size(legs) > 0` (InferFiltersFromGenerate)
      // and push the WHOLE from_json kernel into the parquet scan as
      // a data filter — the r14 scan-riding-kernel class, serialized
      // at scan-split width and then evaluated a second time by the
      // explode. Every legs array has 2–3 elements by construction,
      // so outer == inner row-for-row; the outer form just cannot
      // have the filter inferred, keeping the scan on o_orderkey and
      // the JSON kernel after the spread. (PlanSpec pins the scan.)
      .select($"order_id", posexplode_outer($"legs").as(Seq("leg_idx", "leg")))
      .select($"order_id", $"leg_idx",
        $"leg.symbol".as("symbol"), $"leg.ratio_qty".as("ratio_qty"),
        $"leg.side".as("side"), $"leg.position_intent".as("position_intent"))
      .orderBy($"order_id", $"leg_idx")
  }

  val multilegOrdersSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS order_id FROM orders WHERE o_orderkey < 2000),
      |legs AS (
      |  SELECT order_id, 0 AS leg_idx,
      |    'S' || CAST(order_id % 7 AS VARCHAR) AS symbol,
      |    CAST(order_id % 3 + 1 AS DOUBLE) AS ratio_qty,
      |    'buy' AS side, 'buy_to_open' AS position_intent
      |  FROM o
      |  UNION ALL
      |  SELECT order_id, 1, 'S' || CAST((order_id + 1) % 7 AS VARCHAR),
      |    CAST(order_id % 2 + 1 AS DOUBLE), 'sell', 'sell_to_open'
      |  FROM o
      |  UNION ALL
      |  SELECT order_id, 2, 'S9', 1.0, 'buy', 'buy_to_close'
      |  FROM o WHERE order_id % 5 = 0)
      |SELECT order_id, leg_idx, symbol, ratio_qty, side, position_intent
      |FROM legs
      |ORDER BY order_id, leg_idx""".stripMargin

  /** A1 anchored-hour buckets — pandas `origin=MARKET_OPEN_TIME`
    * (utils.py:349-357, 396): hourly windows anchored at 09:30 via
    * Spark's window startTime, so intraday bars run 09:30-10:30,
    * 10:30-11:30, … exactly like the reference's resample.
    */
  def marketHourBars(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .filter(graft.operators.CoreOps.businessHours($"ts"))
    val ord = struct($"ts", $"event_id")
    val aggs = ohlcBy($"value", ord) :+ count(lit(1)).as("n")
    ev.groupBy(
        window($"ts", "1 hour", "1 hour", "30 minutes")("start").as("bar_start"),
        $"event_type")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"bar_start", $"event_type")
  }

  val marketHourBarsSql: String =
    """WITH f AS (
      |  SELECT event_type, ts, event_id, value,
      |    time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes') AS bar_start
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events) e
      |  WHERE (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 570 AND 960),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, bar_start ORDER BY ts, event_id) AS rna,
      |    row_number() OVER (PARTITION BY event_type, bar_start ORDER BY ts DESC, event_id DESC) AS rnd
      |  FROM f)
      |SELECT bar_start, event_type,
      |  MAX(CASE WHEN rna = 1 THEN value END) AS open,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  MAX(CASE WHEN rnd = 1 THEN value END) AS close,
      |  COUNT(*) AS n
      |FROM ranked
      |GROUP BY bar_start, event_type
      |ORDER BY bar_start, event_type""".stripMargin

  val defs: Map[String, Q] = Map(
    "q16_anchored_buckets" -> (anchoredBuckets(_, _)),
    "q17_bus_day_coverage" -> (busDayCoverage(_, _)),
    "q18_time_conversions" -> (timeConversions(_, _)),
    "q19_json_extract" -> (jsonExtract(_, _)),
    "q53_market_hour_bars" -> (marketHourBars(_, _)),
    "q68_multileg_orders" -> (multilegOrders(_, _)))

  val oracles: Map[String, String] = Map(
    "q16_anchored_buckets" -> anchoredBucketsSql,
    "q17_bus_day_coverage" -> busDayCoverageSql,
    "q18_time_conversions" -> timeConversionsSql,
    "q19_json_extract" -> jsonExtractSql,
    "q53_market_hour_bars" -> marketHourBarsSql,
    "q68_multileg_orders" -> multilegOrdersSql)
}
