package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.CoreOps._

/** Time-series operator coverage (SURVEY §2.4 A1-A4, §2.5 W1-W3, §2.3
  * J3, §2.2 P3) over the `events` stream table, each with a DuckDB
  * oracle. `events(event_id, ts, user_id, event_type, value, props)`
  * stands in for the reference's bar/quote stream.
  */
object TimeSeriesQueries {

  type Q = (SparkSession, String) => DataFrame

  /** A1 — the engine's core resample: tumbling 1-hour buckets per
    * event_type with the reference's per-column OHLCV agg map
    * (utils.py:303-399: open→first, high→max, low→min, close→last,
    * volume→sum). first/last tie-broken on (ts, event_id).
    */
  def resampleOhlc1h(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val ord = struct($"ts", $"event_id")
    val aggs = ohlcBy($"value", ord) :+ dsum($"value").as("volume") :+
      count(lit(1)).as("n_events")
    ev.groupBy(window($"ts", "1 hour")("start").as("bucket"), $"event_type")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"bucket", $"event_type")
  }

  val resampleOhlc1hSql: String =
    """WITH ranked AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
      |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |                       ORDER BY ts, event_id) AS rna,
      |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rnd
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events)
      |SELECT bucket, event_type,
      |  MAX(CASE WHEN rna = 1 THEN value END) AS open,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  MAX(CASE WHEN rnd = 1 THEN value END) AS close,
      |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS volume,
      |  COUNT(*) AS n_events
      |FROM ranked
      |GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** q154: A1 at a SUB-MINUTE grain — the 10-second OHLCV resample,
    * exercising the bottom of the v3 interval surface
    * ([[graft.functions.Intervals.validIntervals]], vars.py:200-216:
    * tick/10ms/…/1h) that the hourly corpus never touches. The
    * interval string goes through the real plumbing —
    * `validateInterval` (the MINIMUM_MILLISECONDS gate,
    * v3/utils.py:311-313) then `toSparkInterval` — so the query IS
    * the proof the grain machinery composes. Same tumbling-window
    * shape as q10: at any scale the shuffle is keyed on
    * (bucket, event_type) and output is grid-sized, so a 6× finer
    * grain costs rows, never a new plan. Oracle buckets via DuckDB's
    * time_bucket, whose sub-month origin follows the TimescaleDB
    * convention of 2000-01-03 00:00:00; Spark's window() aligns to
    * the 1970 epoch. The grids coincide iff the origins' offset is a
    * whole multiple of the bucket width — 2000-01-03 is 946857600 s
    * from the epoch, a multiple of 10 s, so they align here; a width
    * that does not divide that offset would need an explicit
    * time_bucket origin argument.
    */
  def resampleOhlc10s(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Intervals
    Intervals.validateInterval("10s")
    val grain = Intervals.toSparkInterval("10s")
    val ev = Tables.load(s, dir, "events")
    val ord = struct($"ts", $"event_id")
    val aggs = ohlcBy($"value", ord) :+ dsum($"value").as("volume") :+
      count(lit(1)).as("n_events")
    ev.groupBy(window($"ts", grain)("start").as("bucket"), $"event_type")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"bucket", $"event_type")
  }

  val resampleOhlc10sSql: String =
    """WITH ranked AS (
      |  SELECT event_type, time_bucket(INTERVAL '10 seconds', ts) AS bucket, value,
      |    row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '10 seconds', ts)
      |                       ORDER BY ts, event_id) AS rna,
      |    row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '10 seconds', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rnd
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events)
      |SELECT bucket, event_type,
      |  MAX(CASE WHEN rna = 1 THEN value END) AS open,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  MAX(CASE WHEN rnd = 1 THEN value END) AS close,
      |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS volume,
      |  COUNT(*) AS n_events
      |FROM ranked
      |GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** q155: A1 at the 100 MILLISECOND grain — the finest enumerated
    * non-tick interval of the v3 surface (vars.py:200-216), driven
    * through the same gate as q154 but with the minimum lowered to
    * admit sub-second grains (`validateInterval("100ms", "100ms")` —
    * the MINIMUM_MILLISECONDS knob, v3/utils.py:311-313). The hourly
    * corpus has no sub-second density, so the query first maps every
    * event onto a DENSE ONE-MINUTE SLICE deterministically
    * (base + event_id mod 60000 milliseconds — pure arithmetic both
    * engines replay exactly), then buckets at 100 ms: 600 grid cells
    * per event_type, every one multiply occupied at sf0.01+. Oracle
    * buckets by integer epoch-millisecond division (DuckDB's
    * time_bucket is not defined on sub-second widths), which equals
    * Spark's epoch-aligned window() since the base is a multiple of
    * 100 ms. Same scale shape as q10/q154: one shuffle keyed on
    * (bucket, event_type), grid-sized output.
    */
  def resampleOhlc100ms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Intervals
    Intervals.validateInterval("100ms", minimum = "100ms")
    val grain = Intervals.toSparkInterval("100ms")
    // 2024-01-02 00:00:00 UTC in epoch ms — a multiple of 100 ms
    val baseMs = 1704153600000L
    val ev = Tables.load(s, dir, "events")
      .withColumn("mts",
        timestamp_millis(lit(baseMs) + pmod($"event_id", lit(60000L))))
    val ord = struct($"mts", $"event_id")
    val aggs = ohlcBy($"value", ord) :+ dsum($"value").as("volume") :+
      count(lit(1)).as("n_events")
    ev.groupBy(window($"mts", grain)("start").as("bucket"), $"event_type")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"bucket", $"event_type")
  }

  val resampleOhlc100msSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type, value,
      |    1704153600000 + event_id % 60000 AS ems
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events),
      |ranked AS (
      |  SELECT event_type, value,
      |    make_timestamp((ems // 100 * 100) * 1000) AS bucket,
      |    row_number() OVER (PARTITION BY event_type, ems // 100
      |                       ORDER BY ems, event_id) AS rna,
      |    row_number() OVER (PARTITION BY event_type, ems // 100
      |                       ORDER BY ems DESC, event_id DESC) AS rnd
      |  FROM e)
      |SELECT bucket, event_type,
      |  MAX(CASE WHEN rna = 1 THEN value END) AS open,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  MAX(CASE WHEN rnd = 1 THEN value END) AS close,
      |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS volume,
      |  COUNT(*) AS n_events
      |FROM ranked
      |GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** q157: the TICK passthrough — the last enumerated entry of the v3
    * interval surface (vars.py:200-216). "tick" names the raw feed:
    * the reference's converter has no millisecond value for it
    * (validateInterval treats it as 0 ms) and a tick "resample" is the
    * identity on timestamps — NO bucketing, no grid; the only
    * transform is the feed contract that at most one row survives per
    * exact (key, timestamp), keep-last by arrival. Driven through the
    * real gate with the minimum lowered to admit it
    * (`validateInterval("tick", "0ms")` must return 0 — asserted — and
    * the default "1s" minimum still rejects it, IntervalsSpec). The
    * hourly corpus has no exact-ts duplicates, so events map onto a
    * DENSE 600 ms SLICE deterministically (base + event_id mod 600
    * milliseconds — pure arithmetic both engines replay exactly),
    * which makes every grid cell multiply occupied from sf0.001 up.
    * Scale shape: one hash aggregation keyed on (event_type, mts) —
    * exactly [[dedupKeepLast]]'s max_by, partial-aggregable map-side;
    * no windows, no joins. With q154 (10 s), q155 (100 ms) and the
    * hourly family, every v3 interval class is now executed.
    */
  def resampleTick(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Intervals
    val tickMs = Intervals.validateInterval("tick", minimum = "0ms")
    require(tickMs == 0L, s"tick must resolve to 0 ms, got $tickMs")
    // 2024-01-02 00:00:00 UTC in epoch ms (q155's base)
    val baseMs = 1704153600000L
    val ev = Tables.load(s, dir, "events")
      .withColumn("mts",
        timestamp_millis(lit(baseMs) + pmod($"event_id", lit(600L))))
      .select($"event_type", $"mts", $"event_id", $"value")
    dedupKeepLast(ev, Seq("event_type", "mts"), Seq("event_id"))
      .orderBy($"event_type", $"mts")
  }

  val resampleTickSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    make_timestamp((1704153600000 + event_id % 600) * 1000) AS mts,
      |    event_id, value,
      |    row_number() OVER (PARTITION BY event_type, event_id % 600
      |                       ORDER BY event_id DESC) AS rn
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events)
      |SELECT event_type, mts, event_id, value
      |FROM e WHERE rn = 1
      |ORDER BY event_type, mts""".stripMargin

  /** W1/W2 — keep-last dedup on a composite key (utils.py:684-690,
    * v2.py:1658-1663): latest event per (user_id, event_type), arrival
    * order made explicit via (ts, event_id).
    */
  def dedupKeepLastQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    dedupKeepLast(ev, Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val dedupKeepLastSql: String =
    """SELECT event_id, ts, user_id, event_type, value, props FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |                               ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** J3 — as-of join (Organizers.py:107-118 underlier-alignment): each
    * 'click' event gets the value of the user's most recent 'purchase'
    * at or before the click. Right side deduped to one row per
    * (user_id, ts) first, as the operator contract requires.
    */
  def asofClickPurchase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"ts", $"user_id", $"value")
    // ~tenth of purchase values planted NULL: the matched row's null
    // must SURVIVE the fill (pandas merge_asof row semantics) — this
    // makes the DuckDB differential sensitive to any per-column
    // ignoreNulls fill that would pull a farther row's value instead
    val purchases = dedupKeepLast(
      ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value", $"event_id"),
      Seq("user_id", "ts"), Seq("event_id"))
      .select($"user_id".as("p_user"), $"ts".as("pts"),
        when($"value" >= 10.0, $"value").as("purchase_value"))
    asofJoin(clicks, purchases, "user_id", "p_user", "ts", "pts", Seq("purchase_value"))
      .select($"event_id", $"ts", $"user_id", $"value", $"purchase_value")
      .orderBy($"event_id")
  }

  val asofClickPurchaseSql: String =
    """WITH p AS (
      |  SELECT user_id AS p_user, ts AS pts,
      |    CASE WHEN value >= 10 THEN value END AS purchase_value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                 ORDER BY event_id DESC) AS rn
      |    FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'purchase') t WHERE rn = 1),
      |c AS (
      |  SELECT event_id, ts, user_id, value FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'click')
      |SELECT c.event_id, c.ts, c.user_id, c.value, p.purchase_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.p_user AND c.ts >= p.pts
      |ORDER BY c.event_id""".stripMargin

  /** J3, forward direction — pandas `merge_asof(direction="forward")`:
    * each click attributed to the NEXT purchase at-or-after it per
    * user (conversion attribution), the mirror of q12's LOCF
    * backward match. Same union + single sort-window plan, scanned in
    * DESCENDING timestamp order so the fill stays on the incremental
    * `UNBOUNDED PRECEDING .. CURRENT ROW` frame (never the quadratic
    * `UNBOUNDED FOLLOWING` one); DuckDB's ASOF `ON c.ts <= p.pts` is
    * the oracle.
    */
  def asofNextPurchase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"ts", $"user_id", $"value")
    val purchases = dedupKeepLast(
      ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value", $"event_id"),
      Seq("user_id", "ts"), Seq("event_id"))
      .select($"user_id".as("p_user"), $"ts".as("pts"),
        when($"value" >= 10.0, $"value").as("next_purchase_value"))
    asofJoin(clicks, purchases, "user_id", "p_user", "ts", "pts",
        Seq("next_purchase_value"), direction = "forward")
      .select($"event_id", $"ts", $"user_id", $"value", $"next_purchase_value")
      .orderBy($"event_id")
  }

  val asofNextPurchaseSql: String =
    """WITH p AS (
      |  SELECT user_id AS p_user, ts AS pts,
      |    CASE WHEN value >= 10 THEN value END AS next_purchase_value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                 ORDER BY event_id DESC) AS rn
      |    FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'purchase') t WHERE rn = 1),
      |c AS (
      |  SELECT event_id, ts, user_id, value FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'click')
      |SELECT c.event_id, c.ts, c.user_id, c.value, p.next_purchase_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.p_user AND c.ts <= p.pts
      |ORDER BY c.event_id""".stripMargin

  /** J3 with a match-distance bound — pandas
    * `merge_asof(direction="forward", tolerance=...)`: the q93
    * attribution, but a purchase more than 2 hours after the click no
    * longer counts. Same one-shuffle plan; the tolerance is a
    * post-predicate on the matched timestamp. The oracle states the
    * definition directly as a bounded correlated subquery (DuckDB
    * decorrelates it); ASOF JOIN has no tolerance, which is exactly
    * why the operator carries it.
    */
  def asofTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"ts", $"user_id", $"value")
    val purchases = dedupKeepLast(
      ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value", $"event_id"),
      Seq("user_id", "ts"), Seq("event_id"))
      .select($"user_id".as("p_user"), $"ts".as("pts"),
        when($"value" >= 10.0, $"value").as("next_purchase_value"))
    asofJoin(clicks, purchases, "user_id", "p_user", "ts", "pts",
        Seq("next_purchase_value"), direction = "forward",
        toleranceSeconds = Some(7200L))
      .select($"event_id", $"ts", $"user_id", $"value", $"next_purchase_value")
      .orderBy($"event_id")
  }

  val asofToleranceSql: String =
    """WITH p AS (
      |  SELECT user_id AS p_user, ts AS pts,
      |    CASE WHEN value >= 10 THEN value END AS next_purchase_value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                 ORDER BY event_id DESC) AS rn
      |    FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'purchase') t WHERE rn = 1),
      |c AS (
      |  SELECT event_id, ts, user_id, value FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'click')
      |SELECT c.event_id, c.ts, c.user_id, c.value,
      |  (SELECT p.next_purchase_value FROM p
      |   WHERE p.p_user = c.user_id AND p.pts >= c.ts
      |     AND p.pts <= c.ts + INTERVAL 2 HOUR
      |   ORDER BY p.pts LIMIT 1) AS next_purchase_value
      |FROM c ORDER BY c.event_id""".stripMargin

  /** J3, nearest direction — pandas `merge_asof(direction="nearest",
    * tolerance=...)`: each click attributed to the CLOSEST purchase
    * within ±2 hours, whichever side it falls on (ties prefer the
    * backward match). Both directional fills run inside ONE key
    * shuffle (two sorts, same exchange — PlanSpec holds the as-of
    * one-shuffle contract on this query too). DuckDB ASOF JOIN has no
    * nearest mode, so the oracle states the definition directly with
    * bounded correlated subqueries for both sides and picks by
    * distance.
    */
  def asofNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"ts", $"user_id", $"value")
    val purchases = dedupKeepLast(
      ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value", $"event_id"),
      Seq("user_id", "ts"), Seq("event_id"))
      .select($"user_id".as("p_user"), $"ts".as("pts"),
        when($"value" >= 10.0, $"value").as("nearest_purchase_value"))
    asofJoin(clicks, purchases, Seq("user_id"), Seq("p_user"), "ts", "pts",
        Seq("nearest_purchase_value"), "nearest", Some(7200L),
        allowExactMatches = true)
      .select($"event_id", $"ts", $"user_id", $"value",
        $"nearest_purchase_value")
      .orderBy($"event_id")
  }

  val asofNearestSql: String =
    """WITH p AS (
      |  SELECT user_id AS p_user, ts AS pts,
      |    CASE WHEN value >= 10 THEN value END AS pv FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |                                 ORDER BY event_id DESC) AS rn
      |    FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'purchase') t WHERE rn = 1),
      |c AS (
      |  SELECT event_id, ts, user_id, value FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events WHERE event_type = 'click'),
      |m AS (
      |  SELECT c.event_id, c.ts, c.user_id, c.value,
      |    (SELECT p.pts FROM p WHERE p.p_user = c.user_id AND p.pts <= c.ts
      |     ORDER BY p.pts DESC LIMIT 1) AS bts,
      |    (SELECT p.pv FROM p WHERE p.p_user = c.user_id AND p.pts <= c.ts
      |     ORDER BY p.pts DESC LIMIT 1) AS bv,
      |    (SELECT p.pts FROM p WHERE p.p_user = c.user_id AND p.pts >= c.ts
      |     ORDER BY p.pts LIMIT 1) AS fts,
      |    (SELECT p.pv FROM p WHERE p.p_user = c.user_id AND p.pts >= c.ts
      |     ORDER BY p.pts LIMIT 1) AS fv
      |  FROM c),
      |d AS (
      |  SELECT *,
      |    bts IS NOT NULL AND epoch(ts) - epoch(bts) <= 7200 AS bok,
      |    fts IS NOT NULL AND epoch(fts) - epoch(ts) <= 7200 AS fok
      |  FROM m)
      |SELECT event_id, ts, user_id, value,
      |  CASE WHEN bok AND (NOT fok OR epoch(ts) - epoch(bts) <= epoch(fts) - epoch(ts)) THEN bv
      |       WHEN fok THEN fv END AS nearest_purchase_value
      |FROM d ORDER BY event_id""".stripMargin

  /** J3, composite key — pandas `merge_asof(by=["user_id", "channel"])`:
    * the q12 LOCF attribution, but aligned per (user, channel) where
    * `channel` is derived from the event's props payload — a purchase
    * on channel 2 never fills a click on channel 1 even for the same
    * user. Exercises the Seq-keys asofJoin surface: both key columns
    * pack into one `__k` struct, so the plan is still one hash shuffle
    * + one incremental-frame window scan.
    */
  def asofByChannel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .withColumn("channel", channel($"props"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"ts", $"user_id", $"channel", $"value")
    val purchases = dedupKeepLast(
      ev.filter($"event_type" === "purchase")
        .select($"user_id", $"channel", $"ts", $"value", $"event_id"),
      Seq("user_id", "channel", "ts"), Seq("event_id"))
      .select($"user_id".as("p_user"), $"channel".as("p_channel"),
        $"ts".as("pts"),
        when($"value" >= 10.0, $"value").as("purchase_value"))
    asofJoin(clicks, purchases, Seq("user_id", "channel"),
        Seq("p_user", "p_channel"), "ts", "pts", Seq("purchase_value"),
        "backward", None, allowExactMatches = true)
      .select($"event_id", $"ts", $"user_id", $"channel", $"value",
        $"purchase_value")
      .orderBy($"event_id")
  }

  val asofByChannelSql: String =
    s"""WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
      |    $channelSqlExpr AS channel
      |  FROM events),
      |p AS (
      |  SELECT user_id AS p_user, channel AS p_channel, ts AS pts,
      |    CASE WHEN value >= 10 THEN value END AS purchase_value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, channel, ts
      |                                 ORDER BY event_id DESC) AS rn
      |    FROM e WHERE event_type = 'purchase') t WHERE rn = 1),
      |c AS (
      |  SELECT event_id, ts, user_id, channel, value FROM e WHERE event_type = 'click')
      |SELECT c.event_id, c.ts, c.user_id, c.channel, c.value, p.purchase_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.p_user AND c.channel = p.p_channel AND c.ts >= p.pts
      |ORDER BY c.event_id""".stripMargin

  /** W3 + A3 — forward-fill and per-group windowed transform
    * (v2.py:2063 `groupby("date").transform("mean")`;
    * Organizers.py:118 ffill): per user ordered by (ts, event_id),
    * carry forward the last 'purchase' value, plus a running event
    * count and the user's deterministic mean value.
    */
  def ffillRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy($"user_id")
    ev.select(
        $"event_id", $"ts", $"user_id", $"event_type", $"value",
        last(when($"event_type" === "purchase", $"value"), ignoreNulls = true)
          .over(run).as("last_purchase_value"),
        count(lit(1)).over(run).as("events_so_far"),
        (sum($"value".cast("decimal(30,6)")).over(all).cast("double") /
          count(lit(1)).over(all).cast("double")).as("user_mean_value"))
      .orderBy($"event_id")
  }

  val ffillRunningSql: String =
    """SELECT event_id, ts, user_id, event_type, value,
      |  MAX(CASE WHEN event_type = 'purchase' THEN value END) OVER
      |    (PARTITION BY user_id, grp) AS last_purchase_value,
      |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS events_so_far,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (PARTITION BY user_id) AS DOUBLE)
      |    / CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE) AS user_mean_value
      |FROM (
      |  SELECT *, COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events) t
      |ORDER BY event_id""".stripMargin

  /** P3/P4 — business-hours + date-range predicate
    * (dbase/utils.py:39-49, v2.py:358-362): events inside [09:30,
    * 16:00] time-of-day within a date window, aggregated per day.
    * Pure column arithmetic → pushed into the scan stage.
    */
  def businessHoursDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // range predicate applied on the raw nanos column so it reaches
    // the parquet scan (see Tables.eventsInRange)
    val ev = Tables.eventsInRange(s, dir, "2024-01-05", "2024-01-20")
    ev.filter(businessHours($"ts"))
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .orderBy($"day")
  }

  val businessHoursDailySql: String =
    """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
      |FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events
      |WHERE (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) BETWEEN 570 AND 960
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A4 — per-group arg-min selection (v2.py:2064-2068): within each
    * day pick the event whose value is closest to the day's mean.
    * Mean computed deterministically (decimal sum); tie-break on
    * event_id like pandas idxmin takes the first positional match.
    * Day means come from a partial-aggregating groupBy broadcast back
    * onto the rows (the q54 decorrelation pattern) — NOT a window
    * partitioned by day, which would funnel each day's full row set
    * through a single task at scale.
    */
  def closestToMean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events").withColumn("day", to_date($"ts"))
    val means = ev.groupBy($"day")
      .agg((sum($"value".cast("decimal(30,6)")).cast("double") /
        count(lit(1)).cast("double")).as("day_mean"))
    ev.join(broadcast(means), "day")
      .groupBy($"day")
      .agg(firstBy(struct($"event_id", $"value", $"day_mean"),
        struct(abs($"value" - $"day_mean"), $"event_id")).as("r"))
      .select($"day", $"r.event_id".as("event_id"), $"r.value".as("value"),
        $"r.day_mean".as("day_mean"))
      .orderBy($"day")
  }

  val closestToMeanSql: String =
    """WITH m AS (
      |  SELECT *, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (PARTITION BY CAST(ts AS DATE)) AS DOUBLE)
      |      / CAST(COUNT(*) OVER (PARTITION BY CAST(ts AS DATE)) AS DOUBLE) AS day_mean
      |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events) events),
      |r AS (
      |  SELECT day, event_id, value, day_mean,
      |    row_number() OVER (PARTITION BY day ORDER BY ABS(value - day_mean), event_id) AS rn
      |  FROM m)
      |SELECT day, event_id, value, day_mean FROM r WHERE rn = 1 ORDER BY day""".stripMargin

  /** A1 full pandas-resample semantics — gap buckets emitted, close
    * forward-filled across empty days, volume zero-filled
    * (utils.py:359-399: default-ffill + fillna(0)). Daily purchase
    * bars per user.
    */
  def resampleWithGapsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val purchases = Tables.load(s, dir, "events")
      .filter($"event_type" === "purchase")
    resampleWithGaps(purchases, "ts", "1 day", Seq("user_id"),
        Seq(("close", "value", AggLast), ("volume", "value", AggSum)), "event_id",
        ffillCols = Seq("close"), zeroCols = Seq("volume"))
      .orderBy($"user_id", $"bucket")
  }

  private val resampleWithGapsSqlBody: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      |  FROM events WHERE event_type = 'purchase'),
      |daily AS (
      |  SELECT user_id, date_trunc('day', ts) AS bucket,
      |    max(CASE WHEN rnd = 1 THEN value END) AS close,
      |    CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS volume
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |                                     ORDER BY ts DESC, event_id DESC) AS rnd
      |        FROM p) t
      |  GROUP BY user_id, date_trunc('day', ts)),
      |bounds AS (
      |  SELECT user_id, min(date_trunc('day', ts)) AS t0, max(date_trunc('day', ts)) AS t1
      |  FROM p GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS bucket
      |  FROM bounds),
      |joined AS (
      |  SELECT g.user_id, g.bucket, d.close, COALESCE(d.volume, 0.0) AS volume,
      |    COUNT(d.close) OVER (PARTITION BY g.user_id ORDER BY g.bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.bucket = d.bucket)
      |SELECT user_id, bucket,
      |  MAX(close) OVER (PARTITION BY user_id, grp) AS close,
      |  volume
      |FROM joined
      |ORDER BY user_id, bucket""".stripMargin

  val resampleWithGapsSql: String = resampleWithGapsSqlBody

  /** T3/T4 — the STREAMING transform run in batch mode: watermark
    * dedup (degrades to exact dedup on bounded data) then the
    * windowed aggregate from [[graft.streaming.StreamOps]]. One code
    * path for live and backfill, oracle-checked here.
    */
  def streamingWindowedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"ts", $"user_id", $"event_type", $"value")
    val deduped = graft.streaming.StreamOps.dedupWithWatermark(
      ev, "ts", "10 minutes", Seq("user_id", "event_type"))
    graft.streaming.StreamOps.windowedAgg(
        deduped, "ts", "10 minutes", "15 minutes", Seq("event_type"))
      .select($"bucket", $"event_type", $"n_events", $"high", $"low", $"volume")
      .orderBy($"bucket", $"event_type")
  }

  val streamingWindowedAggSql: String =
    """WITH deduped AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type, ts
      |                                 ORDER BY event_id) AS rn
      |    FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events) e) t
      |  WHERE rn = 1)
      |SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket, event_type,
      |  COUNT(*) AS n_events,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS volume
      |FROM deduped
      |GROUP BY 1, 2
      |ORDER BY bucket, event_type""".stripMargin

  /** Stream-stream interval join run in batch mode (the q48 pattern:
    * the SAME transform is streaming-legal — StreamOpsSpec asserts
    * stream==batch parity through MemoryStream): signup events joined
    * with the same user's purchases within the following 30 minutes,
    * aggregated per user. Delays are exact integer microseconds;
    * money sums use the exact-decimal pattern.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val a = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("a_ts"), $"event_id".as("a_id"))
    val b = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("b_user"), $"ts".as("b_ts"),
        $"event_id".as("b_id"), $"value".as("b_value"))
    graft.streaming.StreamOps.intervalJoin(
        a, b, Seq("user_id" -> "b_user"), "a_ts", "b_ts", "10 minutes", "30 minutes")
      .withColumn("delay_us", unix_micros($"b_ts") - unix_micros($"a_ts"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        min($"delay_us").as("min_delay_us"),
        max($"delay_us").as("max_delay_us"),
        graft.operators.CoreOps.dsum($"b_value").as("total_purchase"))
      .orderBy($"user_id")
  }

  val streamStreamJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |  FROM events),
      |a AS (SELECT user_id, ts AS a_ts, event_id AS a_id FROM e WHERE event_type = 'signup'),
      |b AS (SELECT user_id AS b_user, ts AS b_ts, event_id AS b_id, value AS b_value
      |      FROM e WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT a.user_id, epoch_us(b_ts) - epoch_us(a_ts) AS delay_us, b_value
      |  FROM a JOIN b ON a.user_id = b.b_user
      |   AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 30 MINUTE)
      |SELECT user_id, COUNT(*) AS n_pairs,
      |  MIN(delay_us) AS min_delay_us, MAX(delay_us) AS max_delay_us,
      |  CAST(SUM(CAST(b_value AS DECIMAL(30,4))) AS DOUBLE) AS total_purchase
      |FROM j GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Point-in-interval join with NO equality key: purchases that fall
    * inside per-hour error-burst windows (each window = [first, last]
    * error timestamp of an hour with ≥2 errors). Runs through
    * [[graft.operators.CoreOps.pointInIntervalJoin]] — the bucketized
    * rewrite — so the physical plan is an equi-join on the time
    * bucket, never a BroadcastNestedLoopJoin (PlanSpec asserts this):
    * the shape that survives 100 TB of points against a derived
    * window table.
    */
  def errorWindowJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val windows = ev.filter($"event_type" === "error")
      .groupBy(date_trunc("hour", $"ts").as("w_hour"))
      .agg(count(lit(1)).as("n_errors"),
        min($"ts").as("w_start"), max($"ts").as("w_end"))
      .filter($"n_errors" >= 2)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"ts".as("p_ts"), $"value".as("p_value"))
    graft.operators.CoreOps.pointInIntervalJoin(
        purchases, "p_ts", windows, "w_start", "w_end", 3600L * 1000000L)
      .groupBy($"w_hour", $"n_errors")
      .agg(count(lit(1)).as("n_purchases"),
        graft.operators.CoreOps.dsum($"p_value").as("purchase_value"))
      .orderBy($"w_hour")
  }

  val errorWindowJoinSql: String =
    """WITH e AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |w AS (
      |  SELECT date_trunc('hour', ts) AS w_hour, COUNT(*) AS n_errors,
      |    MIN(ts) AS w_start, MAX(ts) AS w_end
      |  FROM e WHERE event_type = 'error'
      |  GROUP BY 1 HAVING COUNT(*) >= 2),
      |p AS (SELECT ts AS p_ts, value AS p_value FROM e WHERE event_type = 'purchase')
      |SELECT w_hour, n_errors, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(p_value AS DECIMAL(30,4))) AS DOUBLE) AS purchase_value
      |FROM p JOIN w ON p_ts >= w_start AND p_ts <= w_end
      |GROUP BY w_hour, n_errors
      |ORDER BY w_hour""".stripMargin

  /** The q88 skew mitigation made real: same signup→purchase funnel,
    * but purchases are PRE-AGGREGATED per (user, 15-minute bucket)
    * before the join, and each signup joins its ≤3 covered buckets
    * (bucket-aligned window semantics: buckets b..b+2 cover
    * [signup_ts, signup_ts + 30 min] and never reach past 45 min).
    * Where q88 must emit every (signup, purchase) pair — output
    * quadratic in hot-key density (34× under the sf1skew probe) —
    * this plan's join input AND output per key are bounded by the
    * key's distinct buckets, so a hot user costs what a cold user
    * costs per unit time. This is the semantic rewrite SCALE_PROBE.md
    * names for q88-shaped pipelines.
    */
  def bucketedIntervalCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 15L * 60 * 1000000
    val ev = Tables.load(s, dir, "events")
    def bucket(c: org.apache.spark.sql.Column) =
      graft.operators.CoreOps.timeBucket(c, w)
    val p = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id".as("p_user"), bucket($"ts").as("p_b"))
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(30,4)")).as("v"))
    val a = ev.filter($"event_type" === "signup")
      .select($"user_id", $"event_id", bucket($"ts").as("a_b"))
    a.join(p, $"user_id" === $"p_user" &&
        $"p_b" >= $"a_b" && $"p_b" <= $"a_b" + 2)
      .groupBy($"user_id")
      .agg(countDistinct($"event_id").as("n_signups"),
        sum($"n").as("n_bucket_purchases"),
        sum($"v").cast("double").as("total_purchase"))
      .orderBy($"user_id")
  }

  val bucketedIntervalCountSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |  FROM events),
      |p AS (
      |  SELECT user_id AS p_user, epoch_us(ts) // 900000000 AS p_b,
      |    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(30,4))) AS v
      |  FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |a AS (
      |  SELECT user_id, event_id, epoch_us(ts) // 900000000 AS a_b
      |  FROM e WHERE event_type = 'signup')
      |SELECT user_id, COUNT(DISTINCT event_id) AS n_signups,
      |  CAST(SUM(n) AS BIGINT) AS n_bucket_purchases,
      |  CAST(SUM(v) AS DOUBLE) AS total_purchase
      |FROM a JOIN p ON user_id = p_user AND p_b BETWEEN a_b AND a_b + 2
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** The OTHER q88 mitigation: cap what a single key may contribute.
    * Purchases are downsampled to ≤8 per user by
    * [[graft.operators.CoreOps.capPerKey]] (seeded multiplicative
    * hash — a fixed pseudo-random subset both engines replay exactly)
    * BEFORE the interval join, so a hot user's pair count is bounded
    * by 8 × its signups instead of signups × purchases. Training-data
    * pipelines use the same operator to cap documents per domain.
    */
  def cappedIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val a = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("a_ts"))
    val b = graft.operators.CoreOps.capPerKey(
        ev.filter($"event_type" === "purchase")
          .select($"user_id", $"event_id", $"ts", $"value"),
        Seq("user_id"), "event_id", 8)
      .select($"user_id".as("b_user"), $"ts".as("b_ts"), $"value".as("b_value"))
    graft.streaming.StreamOps.intervalJoin(
        a, b, Seq("user_id" -> "b_user"), "a_ts", "b_ts", "10 minutes", "30 minutes")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        graft.operators.CoreOps.dsum($"b_value").as("total_purchase"))
      .orderBy($"user_id")
  }

  val cappedIntervalJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |  FROM events),
      |a AS (SELECT user_id, ts AS a_ts FROM e WHERE event_type = 'signup'),
      |b AS (
      |  SELECT user_id AS b_user, ts AS b_ts, value AS b_value
      |  FROM e WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER (
      |    PARTITION BY user_id
      |    -- HUGEINT replays the engine's overflow-free split multiply
      |    -- ((id mod 2^32) * seed mod 2^32) exactly for ANY id
      |    ORDER BY CAST((CAST(event_id % 4294967296 AS HUGEINT) * 2654435761)
      |               % 4294967296 AS BIGINT), event_id) <= 8),
      |j AS (
      |  SELECT a.user_id, b_value
      |  FROM a JOIN b ON a.user_id = b_user
      |   AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 30 MINUTE)
      |SELECT user_id, COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(b_value AS DECIMAL(30,4))) AS DOUBLE) AS total_purchase
      |FROM j GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q137: gap-fill with LINEAR INTERPOLATION — the numeric
    * completeness op q47's forward-fill cannot express (pandas
    * `Series.interpolate(method="time")`): hourly mean value per
    * event_type, empty hours rebuilt as the time-weighted blend of the
    * nearest observed neighbors. The scale discipline is aggregate-
    * first: the raw stream collapses to (type, hour) means in one
    * hash shuffle, and only THEN do the per-type window scans run —
    * over grid rows (|hours| × |types|, thousands), never raw events,
    * so per-type skew in the stream cannot funnel into a sort task.
    * Both directional neighbor scans use the incremental
    * `UNBOUNDED PRECEDING .. CURRENT ROW` frame (the second over a
    * descending sort — the q93 convention), and neighbor (bucket,
    * value) travel in ONE struct so they can never disagree about
    * which row they came from.
    */
  def linearInterpolate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val hourly = ev
      .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
      .agg((sum($"value".cast("decimal(30,6)")).cast("double") /
        count(lit(1)).cast("double")).as("v"))
    linearInterpolateCore(hourly)
      .orderBy($"event_type", $"bucket")
  }

  /** Core over any (event_type, bucket, v) hourly frame — the grid
    * build + both neighbor scans + the blend, fixture-testable.
    */
  def linearInterpolateCore(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    val grid = hourly.groupBy($"event_type")
      .agg(min($"bucket").as("t0"), max($"bucket").as("t1"))
      .select($"event_type",
        explode(sequence($"t0", $"t1", expr("interval 1 hour"))).as("bucket"))
    val joined = grid.join(hourly, Seq("event_type", "bucket"), "left")
    val wAsc = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy($"event_type").orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obs = when($"v".isNotNull, struct($"bucket", $"v"))
    // micros differences are exact BIGINT math, cast to double only at
    // the ratio — byte-identical to the oracle's epoch_us arithmetic
    val dtPrev = (unix_micros($"bucket") - unix_micros($"p.bucket")).cast("double")
    val dtSpan = (unix_micros($"n.bucket") - unix_micros($"p.bucket")).cast("double")
    joined
      .withColumn("p", last(obs, ignoreNulls = true).over(wAsc))
      .withColumn("n", last(obs, ignoreNulls = true).over(wDesc))
      .select($"event_type", $"bucket",
        when($"v".isNotNull, $"v")
          .when($"p".isNotNull && $"n".isNotNull,
            $"p.v" + ($"n.v" - $"p.v") * (dtPrev / dtSpan))
          .as("value_filled"),
        $"v".isNull.as("is_interpolated"))
  }

  val linearInterpolateSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM e GROUP BY 1, 2),
      |bounds AS (
      |  SELECT event_type, MIN(bucket) AS t0, MAX(bucket) AS t1
      |  FROM hourly GROUP BY 1),
      |grid AS (
      |  SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket
      |  FROM bounds),
      |j AS (
      |  SELECT g.event_type, g.bucket, h.v
      |  FROM grid g LEFT JOIN hourly h USING (event_type, bucket)),
      |f AS (
      |  SELECT *,
      |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wa AS pb,
      |    last_value(v IGNORE NULLS) OVER wa AS pv,
      |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wb AS nb,
      |    first_value(v IGNORE NULLS) OVER wb AS nv
      |  FROM j
      |  WINDOW wa AS (PARTITION BY event_type ORDER BY bucket
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wb AS (PARTITION BY event_type ORDER BY bucket
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, bucket,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
      |         pv + (nv - pv) * (CAST(epoch_us(bucket) - epoch_us(pb) AS DOUBLE)
      |                           / CAST(epoch_us(nb) - epoch_us(pb) AS DOUBLE))
      |  END AS value_filled,
      |  v IS NULL AS is_interpolated
      |FROM f ORDER BY event_type, bucket""".stripMargin

  /** q141: exponential moving average — the recency-weighted smoother
    * q56's flat moving average cannot express. α = 1/2 over a 24-hour
    * horizon, so the weights are EXACT powers of two (2^(23−d) for a
    * reading d hours back) and the whole kernel is integer arithmetic:
    * hourly totals are exact decimal(30,4) sums scaled to 1e4 fixed
    * point, each observed hour EXPLODES its ≤24 future contributions
    * (weight by bit-shift), and one hash aggregate per (type, target
    * hour) sums numerator and denominator — order-independent, bit-
    * identical on any cluster size, libm-free. Gaps self-correct: a
    * missing hour contributes nothing and the denominator adapts.
    * The contribution fan-out is ×24 on GRID-sized data (the raw
    * stream is aggregated first), and the plan is explode → hash agg
    * → co-partitioned join back — no window, no range self-join.
    */
  def emaHourly(s: SparkSession, dir: String): DataFrame =
    emaHourlyCore(Tables.load(s, dir, "events"))

  /** Core over any (event_type, ts, value) frame — fixture-testable. */
  def emaHourlyCore(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val hourly = ev
      .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
      .agg(sum($"value".cast("decimal(30,4)")).as("vdec"))
      .select($"event_type", $"bucket",
        ($"vdec" * 10000).cast("long").as("v_fp"),
        expr("unix_micros(bucket) div 3600000000").as("hidx"))
    val contrib = hourly
      .select($"event_type", $"hidx", $"v_fp",
        explode(sequence(lit(0), lit(23))).as("d"))
      .select($"event_type", ($"hidx" + $"d").as("t_idx"),
        // decimal(38,0): a hot hour's v_fp can pass 2^40 at target
        // scale and ×2^23 would wrap int64 (the q139 discipline)
        expr("cast(v_fp as decimal(38,0)) * shiftleft(cast(1 as bigint), cast(23 - d as int))")
          .as("num"),
        expr("shiftleft(cast(1 as bigint), cast(23 - d as int))").as("den"))
    contrib.groupBy($"event_type", $"t_idx")
      .agg(sum($"num").as("num"), sum($"den").as("den"))
      .join(hourly.select($"event_type", $"hidx".as("t_idx"), $"bucket", $"v_fp"),
        Seq("event_type", "t_idx"))
      .select($"event_type", $"bucket",
        ($"v_fp".cast("double") / 10000.0).as("hour_value"),
        (($"num".cast("double") / $"den".cast("double")) / 10000.0).as("ema"))
      .orderBy($"event_type", $"bucket")
  }

  val emaHourlySql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(30,4))) * 10000 AS BIGINT) AS v_fp,
      |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx
      |  FROM e GROUP BY 1, 2),
      |contrib AS (
      |  -- HUGEINT: a hot hour's v_fp x 2^23 passes int64 at scale
      |  SELECT event_type, hidx + r.range AS t_idx,
      |    CAST(v_fp AS HUGEINT) * (CAST(1 AS BIGINT) << CAST(23 - r.range AS INTEGER)) AS num,
      |    CAST(1 AS BIGINT) << CAST(23 - r.range AS INTEGER) AS den
      |  FROM hourly CROSS JOIN range(0, 24) r),
      |agg AS (
      |  SELECT event_type, t_idx, SUM(num) AS num, SUM(den) AS den
      |  FROM contrib GROUP BY 1, 2)
      |SELECT h.event_type, h.bucket,
      |  CAST(h.v_fp AS DOUBLE) / 10000.0 AS hour_value,
      |  (CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE)) / 10000.0 AS ema
      |FROM agg a JOIN hourly h ON a.event_type = h.event_type AND a.t_idx = h.hidx
      |ORDER BY h.event_type, h.bucket""".stripMargin

  /** q150: seasonal decomposition (STL-lite) — every observability
    * and forecasting pipeline's first transform: hourly series per
    * event type split into TREND (centered ±12-hour moving average),
    * SEASONAL (mean detrended value per hour-of-day), and RESIDUAL.
    * Aggregate-first (the q137/q141 discipline): the stream collapses
    * to (type, hour) means before the centered window runs over GRID
    * rows. Both means run in floor(x·1e6) integer fixed point: a
    * float moving-window sum is NOT engine-portable (DuckDB computes
    * windowed aggregates over a segment tree, so its addition order
    * differs from Spark's frame scan), and a decimal CAST of a
    * computed double can straddle a rounding boundary where the two
    * engines' conversions disagree — floor of one IEEE multiply is
    * exact on both, and the integer sum is association-free. The
    * seasonal means come from the (type, hour-of-day) aggregate
    * broadcast back — never a second window.
    */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val hourly = ev
      .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
      .agg((sum($"value".cast("decimal(30,6)")).cast("double") /
        count(lit(1)).cast("double")).as("v"))
    val w = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(-12, 12)
    // v is a COMPUTED double too — same boundary hazard as the
    // seasonal mean (at sf0.1 one grid value's decimal rounding
    // differed between engines), so the trend uses the same exact
    // floor(x·1e6) fixed point inside the window sum
    val trended = hourly
      .withColumn("trend",
        sum(floor($"v" * 1000000.0).cast("decimal(38,0)")).over(w)
          .cast("double") /
          (count(lit(1)).over(w).cast("double") * 1000000.0))
      .withColumn("hod", hour($"bucket").cast("long"))
      .withColumn("detrended", $"v" - $"trend")
    // detrended is a COMPUTED double: a decimal cast of it can land
    // within an ulp of a .5 rounding boundary and the two engines'
    // double->decimal conversions disagree (observed: 1 row in ~900).
    // floor(x * 1e6) is exact on both engines (one IEEE multiply +
    // floor), so the fixed-point sum is association-free AND
    // boundary-free; decimal keeps the sum exact at any group size.
    val seasonal = trended.groupBy($"event_type", $"hod")
      .agg((sum(floor($"detrended" * 1000000.0).cast("decimal(38,0)"))
          .cast("double") /
        (count(lit(1)).cast("double") * 1000000.0)).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("event_type", "hod"))
      .select($"event_type", $"bucket", $"v", $"trend", $"seasonal",
        ($"v" - $"trend" - $"seasonal").as("residual"))
      .orderBy($"event_type", $"bucket")
  }

  val seasonalDecomposeSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM e GROUP BY 1, 2),
      |t AS (
      |  SELECT *,
      |    CAST(SUM(CAST(FLOOR(v * 1000000.0) AS HUGEINT)) OVER w AS DOUBLE)
      |      / (CAST(COUNT(*) OVER w AS DOUBLE) * 1000000.0) AS trend,
      |    CAST(EXTRACT(hour FROM bucket) AS BIGINT) AS hod
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
      |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |d AS (SELECT *, v - trend AS detrended FROM t),
      |s AS (
      |  SELECT event_type, hod,
      |    CAST(SUM(CAST(FLOOR(detrended * 1000000.0) AS HUGEINT)) AS DOUBLE)
      |      / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS seasonal
      |  FROM d GROUP BY 1, 2)
      |SELECT d.event_type, d.bucket, d.v, d.trend, s.seasonal,
      |  d.v - d.trend - s.seasonal AS residual
      |FROM d JOIN s USING (event_type, hod)
      |ORDER BY d.event_type, d.bucket""".stripMargin

  val defs: Map[String, Q] = Map(
    "q10_resample_ohlc_1h" -> (resampleOhlc1h(_, _)),
    "q154_resample_ohlc_10s" -> (resampleOhlc10s(_, _)),
    "q155_resample_ohlc_100ms" -> (resampleOhlc100ms(_, _)),
    "q157_resample_tick" -> (resampleTick(_, _)),
    "q137_linear_interpolate" -> (linearInterpolate(_, _)),
    "q141_ema_hourly" -> (emaHourly(_, _)),
    "q150_seasonal_decompose" -> (seasonalDecompose(_, _)),
    "q11_dedup_keep_last" -> (dedupKeepLastQ(_, _)),
    "q12_asof_join" -> (asofClickPurchase(_, _)),
    "q93_asof_forward" -> (asofNextPurchase(_, _)),
    "q94_asof_tolerance" -> (asofTolerance(_, _)),
    "q95_asof_by_channel" -> (asofByChannel(_, _)),
    "q98_asof_nearest" -> (asofNearest(_, _)),
    "q13_ffill_running" -> (ffillRunning(_, _)),
    "q14_business_hours_daily" -> (businessHoursDaily(_, _)),
    "q15_closest_to_mean" -> (closestToMean(_, _)),
    "q47_resample_with_gaps" -> (resampleWithGapsQ(_, _)),
    "q48_streaming_windowed_agg" -> (streamingWindowedAgg(_, _)),
    "q88_stream_stream_join" -> (streamStreamJoin(_, _)),
    "q99_error_window_join" -> (errorWindowJoin(_, _)),
    "q100_bucketed_interval_count" -> (bucketedIntervalCount(_, _)),
    "q103_capped_interval_join" -> (cappedIntervalJoin(_, _)))

  val oracles: Map[String, String] = Map(
    "q10_resample_ohlc_1h" -> resampleOhlc1hSql,
    "q154_resample_ohlc_10s" -> resampleOhlc10sSql,
    "q155_resample_ohlc_100ms" -> resampleOhlc100msSql,
    "q157_resample_tick" -> resampleTickSql,
    "q137_linear_interpolate" -> linearInterpolateSql,
    "q141_ema_hourly" -> emaHourlySql,
    "q150_seasonal_decompose" -> seasonalDecomposeSql,
    "q11_dedup_keep_last" -> dedupKeepLastSql,
    "q12_asof_join" -> asofClickPurchaseSql,
    "q93_asof_forward" -> asofNextPurchaseSql,
    "q94_asof_tolerance" -> asofToleranceSql,
    "q95_asof_by_channel" -> asofByChannelSql,
    "q98_asof_nearest" -> asofNearestSql,
    "q13_ffill_running" -> ffillRunningSql,
    "q14_business_hours_daily" -> businessHoursDailySql,
    "q15_closest_to_mean" -> closestToMeanSql,
    "q47_resample_with_gaps" -> resampleWithGapsSql,
    "q48_streaming_windowed_agg" -> streamingWindowedAggSql,
    "q88_stream_stream_join" -> streamStreamJoinSql,
    "q99_error_window_join" -> errorWindowJoinSql,
    "q100_bucketed_interval_count" -> bucketedIntervalCountSql,
    "q103_capped_interval_join" -> cappedIntervalJoinSql)
}
