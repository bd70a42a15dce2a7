package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, StructType}

/** Core relational/time-series operators of the engine.
  *
  * Each operator restates a behavior of the reference
  * (Zino-ctrlZ/FinanceDatabase, snapshot at /root/reference) as a
  * declarative Spark transform so Catalyst keeps predicate pushdown,
  * column pruning, partial aggregation and whole-stage codegen.
  */
object CoreOps {

  /** Order-independent sum of a double column.
    *
    * Doubles summed in different partition orders differ in final ulps;
    * casting each value to a fixed-scale decimal first makes the sum
    * exact and therefore identical on any cluster size (and identical
    * to a single-threaded oracle). Partial aggregation still applies —
    * decimal sums combine associatively — so this costs nothing at
    * scale. Result is cast back to double for a stable schema.
    */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType)

  /** Channel id derived from an event's props payload: the first
    * digit run (capped at 9 digits so the int cast can never
    * overflow under ANSI) mod 4; rows with no digits map to null.
    * Shared by the q95 as-of-by-channel family and q142 attribution —
    * one definition, one oracle fragment ([[channelSqlExpr]]), so the
    * two can't silently drift apart.
    */
  def channel(props: Column): Column =
    nullif(regexp_extract(props, "[0-9]{1,9}", 0), lit("")).cast("int") % 4

  /** DuckDB mirror of [[channel]] (TRY_CAST = the engine's
    * null-on-no-digits; the {1,9} cap = the engine's no-overflow).
    */
  val channelSqlExpr: String =
    "TRY_CAST(regexp_extract(props, '[0-9]{1,9}') AS INTEGER) % 4"

  /** Order-independent mean built from the exact decimal sum. */
  def davg(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType) /
      count(c).cast(DoubleType)

  /** A 2-decimal money/rate column lifted to exact decimal arithmetic.
    *
    * Products of doubles rounded *after* multiplication diverge between
    * engines (double→decimal cast rounding is implementation-defined on
    * values with long decimal expansions); casting each factor first
    * makes every subsequent multiply/sum exact integer arithmetic —
    * identical on any engine and any partitioning.
    */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact `price * (1-discount)` revenue sum, as double. */
  def revenueSum(price: Column, discount: Column): Column =
    sum(money(price) * (lit(1) - money(discount))).cast(DoubleType)

  // -------------------------------------------------------------------
  // A1/A2 — time-bucket resample with per-column OHLCV agg semantics.
  // Reference: dbase/DataAPI/ThetaData/utils.py:303-399 (per-column agg
  // map open->first, high->max, low->min, close->last, volume->sum).
  // -------------------------------------------------------------------

  /** The engine's one first/last rule: the `value` of the row that is
    * first (least) or last (greatest) under the total order `ord`,
    * usually `struct(ts, seq)`. Rows with a null `ord` are skipped; a
    * struct `ord` is never null, and in it a null field orders below
    * any value, so such rows still compete. A full `ord` tie takes the
    * row seen later, so `ord` must be unique per group for a
    * partitioning-independent result. Null and NaN values pass
    * through. Every first/last/OHLC reduction in the engine goes
    * through this pair.
    */
  def firstBy(value: Column, ord: Column): Column = min_by(value, ord)

  /** Last-row counterpart of [[firstBy]]. */
  def lastBy(value: Column, ord: Column): Column = max_by(value, ord)

  /** open/high/low/close of `price` under `ord`, named
    * `<prefix>open` … `<prefix>close`: the OHLC half of the A1 agg
    * map, for callers that aggregate one price column.
    */
  def ohlcBy(price: Column, ord: Column, prefix: String = ""): Seq[Column] = Seq(
    firstBy(price, ord).as(s"${prefix}open"),
    max(price).as(s"${prefix}high"),
    min(price).as(s"${prefix}low"),
    lastBy(price, ord).as(s"${prefix}close"))

  /** Per-column aggregation method for [[resampleOhlc]]. */
  sealed trait AggMethod
  case object AggFirst extends AggMethod
  case object AggLast extends AggMethod
  case object AggMax extends AggMethod
  case object AggMin extends AggMethod
  case object AggSum extends AggMethod

  /** Bucket rows of `df` into tumbling windows of `interval` per group
    * key, applying the reference's per-column OHLCV semantics.
    *
    * `first`/`last` are made deterministic by ordering on
    * `(tsCol, tieBreak)` — pandas "first in bucket" is positional; on a
    * distributed engine position must be an explicit total order
    * (SURVEY §7.4 item 4). Implemented with [[firstBy]]/[[lastBy]] over
    * a struct key so the whole resample is ONE aggregation with
    * map-side partial combine — no window function, no second shuffle.
    *
    * Scale: shuffle is on (keys, bucket); at 100 TB with date-
    * partitioned input the partial aggregation collapses each
    * partition's rows before the exchange.
    */
  def resampleOhlc(
      df: DataFrame,
      tsCol: String,
      interval: String,
      keys: Seq[String],
      aggs: Seq[(String, String, AggMethod)],
      tieBreak: String): DataFrame = {
    val bucket = window(col(tsCol), interval)("start").as("bucket")
    val ord = struct(col(tsCol), col(tieBreak))
    val aggCols = aggs.map { case (out, src, m) =>
      val c = m match {
        case AggFirst => firstBy(col(src), ord)
        case AggLast  => lastBy(col(src), ord)
        case AggMax   => max(col(src))
        case AggMin   => min(col(src))
        case AggSum   => dsum(col(src))
      }
      c.as(out)
    }
    df.groupBy(bucket +: keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Full pandas-resample semantics (utils.py:359-399): emit EVERY
    * bucket between each key's first and last observation — not just
    * non-empty ones — then forward-fill the `ffillCols` (pandas'
    * default method for non-OHLCV columns and the source of continuity
    * between sparse bars) and zero-fill `zeroCols` (`fillna(0)`).
    *
    * Gap buckets are generated distributively AND memory-bounded: per
    * key the bucket range is exploded in two levels — a chunk index
    * (≤ n/[[gridChunkBuckets]] elements) then the in-chunk sequence
    * (≤ [[gridChunkBuckets]] elements) — so a multi-year key at a
    * 1-minute interval never materializes its millions of buckets in a
    * single row's array. All arithmetic is exact integer micros on the
    * already-aligned window starts. The grid then left-joins the
    * aggregated buckets. Two shuffles total (agg + ffill window), both
    * on the same key — at scale the second reuses the first's
    * partitioning.
    */
  val gridChunkBuckets = 4096

  def resampleWithGaps(
      df: DataFrame,
      tsCol: String,
      interval: String,
      keys: Seq[String],
      aggs: Seq[(String, String, AggMethod)],
      tieBreak: String,
      ffillCols: Seq[String],
      zeroCols: Seq[String],
      gridChunk: Int = gridChunkBuckets): DataFrame = {
    val agged = resampleOhlc(df, tsCol, interval, keys, aggs, tieBreak)
    // one interval's length in micros, computed at plan time (epoch 0
    // + interval); resample intervals are fixed-duration day-time
    // intervals, so this is a constant
    val ivlUs = unix_micros(
      to_timestamp(lit("1970-01-01 00:00:00")) + expr(s"interval $interval"))
    // clamp so chunkSize * ivlUs can't overflow Long for any sane
    // bucket width (2^20 buckets × ≤100-day intervals < 2^63 µs)
    val chunkSize = math.max(1, math.min(gridChunk, 1 << 20)).toLong
    val chunkSpan = lit(chunkSize) * ivlUs
    val ranges = df
      .groupBy(keys.map(col): _*)
      .agg(
        unix_micros(min(window(col(tsCol), interval)("start"))).as("__first_us"),
        unix_micros(max(window(col(tsCol), interval)("start"))).as("__last_us"))
    val chunks = ranges.select(keys.map(col) ++ Seq(col("__first_us"), col("__last_us"),
      explode(sequence(lit(0L),
        floor((col("__last_us") - col("__first_us")) / chunkSpan).cast("long")))
        .as("__chunk")): _*)
    val chunkStart = col("__first_us") + col("__chunk") * chunkSpan
    val chunkEnd = least(col("__last_us"),
      chunkStart + lit(chunkSize - 1) * ivlUs)
    val grid = chunks
      .select(keys.map(col) :+
        explode(sequence(chunkStart, chunkEnd, ivlUs)).as("__bucket_us"): _*)
      .select(keys.map(col) :+ timestamp_micros(col("__bucket_us")).as("bucket"): _*)
    val joined = grid.join(agged, keys :+ "bucket", "left")
    val filled = ffill(joined, ffillCols, keys, Seq("bucket"))
    zeroCols.foldLeft(filled)((d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0.0).cast(d.schema(c).dataType))))
  }

  // -------------------------------------------------------------------
  // W1/W2 — keep-last dedup.
  // Reference: v2.py:1658-1663 (`~data.Datetime.duplicated(keep="last")`),
  // utils.py:684-690 (subset keys after chunk concat).
  // -------------------------------------------------------------------

  /** Keep, for every key combination, the row that is last in the total
    * order defined by `orderCols`.
    *
    * Implemented as [[lastBy]]`(struct(*), struct(orderCols))` — a single
    * hash aggregation with partial combine, which scales strictly
    * better than the row_number window (no per-partition sort, half
    * the shuffled data after map-side combine).
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(orderCols.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(lastBy(payload, ord).as("__row"))
      .select(col("__row.*"))
  }

  // -------------------------------------------------------------------
  // W3 — forward fill (last observation carried forward).
  // Reference: utils.py:322,396-399 (resample default method "ffill"),
  // Organizers.py:118 (`data.ffill()` after enrichment joins).
  // -------------------------------------------------------------------

  /** LOCF over `cols`, per `partitionCols` group, ordered by `orderCols`.
    *
    * `last(_, ignoreNulls = true)` over a running frame. One shuffle on
    * the partition keys; at scale the partition key (contract / user)
    * bounds state, so no executor ever holds more than one group's
    * history slice.
    */
  def ffill(df: DataFrame, cols: Seq[String], partitionCols: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  // -------------------------------------------------------------------
  // J3 — as-of join (timestamp alignment + LOCF).
  // Reference: Organizers.py:107-118 — pandas index-aligned assignment
  // of underlier close / dividend / risk-free rate onto option bars,
  // then ffill. Equi-align on timestamp with last-known-value fallback
  // is exactly an as-of join.
  // -------------------------------------------------------------------

  /** For every left row, attach the right-side `valueCols` of the
    * nearest right row with equal join key: `direction = "backward"`
    * (default, pandas `merge_asof` default) takes the most recent
    * right row with `right(rightTs) <= left(leftTs)`; `"forward"`
    * takes the earliest with `right(rightTs) >= left(leftTs)`. Exact
    * timestamp matches are included in both directions.
    *
    * `toleranceSeconds` bounds the match distance (pandas
    * `tolerance`): a nearest row farther than the bound yields null,
    * applied as a post-predicate on the matched timestamp — the plan
    * is unchanged.
    *
    * Implemented as union + single sort-window pass (at equal
    * timestamps, right rows are ordered on the lookup side of left
    * rows so the match is inclusive): one shuffle on the key, linear
    * scan per partition. This is the scalable plan — a correlated
    * subquery or a range-join would be O(n·m) or need an interval
    * index; the union trick is O((n+m) log) and streams. BOTH
    * directions use the incremental `[UNBOUNDED PRECEDING, CURRENT
    * ROW]` frame — forward simply scans the partition in descending
    * timestamp order (Spark's `UnboundedFollowing` frame re-aggregates
    * the whole tail per row, O(n²) on a hot key, and is never used
    * here). All filled columns travel in one struct so every value —
    * and the tolerance bound's timestamp — comes from the same matched
    * right row, matching pandas row semantics even when the matched
    * row carries nulls.
    *
    * Output row order is not defined (the forward path scans
    * descending); apply an `orderBy` downstream if order matters.
    * Right side must be unique per (key, ts); pre-dedup with
    * [[dedupKeepLast]] if not.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      direction: String = "backward",
      toleranceSeconds: Option[Long] = None,
      allowExactMatches: Boolean = true): DataFrame =
    asofJoin(left, right, Seq(leftKey), Seq(rightKey), leftTs, rightTs,
      valueCols, direction, toleranceSeconds, allowExactMatches)

  /** Composite-key as-of join — pandas `merge_asof(by=[...])`. The key
    * columns are packed into ONE struct (`__k`), so the plan shape is
    * identical to the single-key form: one hash shuffle on `__k`, one
    * incremental-frame window scan per partition. Rows align when every
    * key field is null-safe-equal (struct grouping treats nulls as
    * equal, like `groupBy`).
    *
    * `direction = "nearest"` (pandas `direction="nearest"`) takes the
    * closer of the backward and forward matches (ties prefer the
    * backward one); it runs BOTH incremental-frame fills inside the
    * same single key shuffle — two sorts, one exchange — never a
    * second shuffle or a quadratic frame. `allowExactMatches = false`
    * (pandas `allow_exact_matches=False`) makes the comparison strict:
    * an equal-timestamp right row no longer matches, implemented
    * purely by flipping the side order at equal timestamps (left rows
    * sort before right rows, so the fill can't see them) — the plan
    * is unchanged.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      rightKeys: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      direction: String,
      toleranceSeconds: Option[Long],
      allowExactMatches: Boolean): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoin direction must be backward|forward|nearest, got $direction")
    val nearest = direction == "nearest"
    val forward = direction == "forward"
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      s"asofJoin needs matching non-empty key lists, got $leftKeys vs $rightKeys")
    require(valueCols.distinct == valueCols,
      s"asofJoin valueCols must be distinct, got $valueCols")
    // A filled column that shadows a left column would emit two
    // same-named output columns — ambiguous downstream. Fail fast.
    val shadowed = valueCols.intersect(left.columns.toSeq)
    require(shadowed.isEmpty,
      s"asofJoin valueCols collide with left columns: ${shadowed.mkString(", ")}" +
        " — rename on one side first")
    val reserved = Seq("__k", "__ts", "__side", "__m", "__mb", "__mf", "__rts")
    require(!(valueCols ++ left.columns).exists(reserved.contains),
      s"asofJoin reserves column names ${reserved.mkString(", ")}")
    // The matched right timestamp rides along as one more filled
    // field when a tolerance or nearest-pick needs the distance.
    val needRts = toleranceSeconds.isDefined || nearest
    val rightIn =
      if (needRts) right.withColumn("__rts", col(rightTs))
      else right
    val fillCols = if (needRts) valueCols :+ "__rts" else valueCols
    // One struct carries every filled field, so the fill picks a
    // whole matched ROW at once — a null value inside the matched row
    // stays null instead of being replaced by a farther row's value.
    val matchType = StructType(fillCols.map(c =>
      StructField(c, rightIn.schema(c).dataType, nullable = true)))
    val leftCols = left.columns
    // Keys pack into one struct column regardless of arity; right-side
    // fields are renamed to the left names so the structs are
    // type-compatible for the union and hash identically.
    val l = left
      .withColumn("__k", struct(leftKeys.map(col): _*))
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .select(Seq(col("__k"), col("__ts"), col("__side")) ++
        leftCols.map(col) :+ lit(null).cast(matchType).as("__m"): _*)
    val r = rightIn
      .withColumn("__k", struct(
        rightKeys.zip(leftKeys).map { case (rk, lk) => col(rk).as(lk) }: _*))
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(0))
      .select(Seq(col("__k"), col("__ts"), col("__side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(fillCols.map(col): _*).as("__m"): _*)
    // Scan direction puts the match BEHIND the current row in both
    // modes: ascending ts for backward, descending for forward. The
    // fill is then always last(...) over [UNBOUNDED PRECEDING,
    // CURRENT ROW] — the frame Spark evaluates incrementally, O(n)
    // per partition. At equal __ts, right rows (side 0) sort before
    // left rows when exact matches are allowed — inclusive — and
    // AFTER them when they aren't, so the fill can't see them.
    val sideOrd =
      if (allowExactMatches) col("__side").asc else col("__side").desc
    def fill(ord: Column) =
      last(col("__m"), ignoreNulls = true).over(
        Window.partitionBy(col("__k")).orderBy(ord, sideOrd)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val union = l.unionByName(r)
    if (nearest) {
      // Both directional fills inside the SAME key shuffle (the two
      // windows share the hash partitioning — Spark plans one
      // Exchange and two sorts), then pick per row by distance.
      val both = union
        .withColumn("__mb", fill(col("__ts").asc))
        .withColumn("__mf", fill(col("__ts").desc))
        .filter(col("__side") === 1)
      val db = col(leftTs).cast("double") -
        col("__mb").getField("__rts").cast("double")
      val df = col("__mf").getField("__rts").cast("double") -
        col(leftTs).cast("double")
      val bOk = col("__mb").isNotNull &&
        toleranceSeconds.map(t => db <= t.toDouble).getOrElse(lit(true))
      val fOk = col("__mf").isNotNull &&
        toleranceSeconds.map(t => df <= t.toDouble).getOrElse(lit(true))
      // tie (db == df) prefers the backward match
      val chosen = when(bOk && (!fOk || db <= df), col("__mb"))
        .when(fOk, col("__mf"))
      both.withColumn("__m", chosen)
        .select(leftCols.toIndexedSeq.map(col) ++
          valueCols.map(c => col("__m").getField(c).as(c)): _*)
    } else {
      val ord = if (forward) col("__ts").desc else col("__ts").asc
      val matched = union
        .withColumn("__m", fill(ord))
        .filter(col("__side") === 1)
        .select(leftCols.toIndexedSeq.map(col) ++
          fillCols.map(c => col("__m").getField(c).as(c)): _*)
      toleranceSeconds match {
        case None => matched
        case Some(tol) =>
          // signed seconds from left to matched right (fractional-
          // second exact via epoch doubles); out-of-bound matches
          // null out
          val dt = col("__rts").cast("double") - col(leftTs).cast("double")
          val ok = if (forward) dt <= tol else -dt <= tol
          valueCols.foldLeft(matched) { (df, c) =>
            df.withColumn(c, when(ok, col(c)))
          }.drop("__rts")
      }
    }
  }

  // -------------------------------------------------------------------
  // Skew handling — salted two-phase aggregation.
  // -------------------------------------------------------------------

  /** Aggregate `sum(valueCol), count(*)` per `keys` with salting: a
    * hot key is first spread over `buckets` reducers (phase 1 groups
    * on keys+salt), then merged (phase 2 on keys alone).
    *
    * The salt is `hash(saltSource) % buckets` — deterministic, so
    * results are reproducible; AQE's skew handling covers joins, but a
    * single mega-key AGGREGATION still funnels into one reducer
    * without this. Only algebraic aggregates compose this way.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
      saltSource: String, buckets: Int): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(col(saltSource)), lit(buckets)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol).cast(DecimalType(30, 4))).as("__psum"),
        count(lit(1)).as("__pcnt"))
    phase1.groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).cast(DoubleType).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("n"))
  }

  /** Deterministic per-key downsample: keep at most `k` rows per key,
    * chosen by a seeded multiplicative hash of `idCol` — the
    * "cap matches per key" mitigation for hot-key joins whose OUTPUT
    * grows quadratically in key density (the q88 shape: no plan can
    * emit a hot user's million pairs faster than linearly, so the fix
    * is to bound what a single key may contribute).
    *
    * The Knuth multiplier is odd, hence invertible mod 2^32: distinct
    * ids map to distinct hash values, so the selection is a fixed
    * pseudo-random subset — stable across runs, partitionings and
    * engines. The hash is `(id mod 2^32) * seed mod 2^32`, computed
    * as a SPLIT multiply (hi/lo 16-bit halves of the reduced id) so
    * every intermediate stays below 2^49 — a naive `id * seed` wraps
    * BIGINT for ids ≥ ~3.47e9 (2^63 / 2654435761), which silently
    * diverges from any engine with checked 64-bit arithmetic. An
    * oracle replays the same value via int128 (`HUGEINT`) without
    * needing the split. Runs on the
    * [[graft.plans.BoundedTopK]] k-heap aggregate — O(n log k)
    * map-side, ≤k rows per (key, task) on the wire, groups spread
    * across reducers — never the single-reducer window sort the
    * equivalent row_number idiom would plan without the rewrite rule
    * installed.
    */
  def capPerKey(df: DataFrame, keys: Seq[String], idCol: String, k: Int,
      seed: Long = 2654435761L): DataFrame = {
    require(k >= 1, s"capPerKey k must be >= 1, got $k")
    require(!df.columns.contains("__h") && !df.columns.contains("__e"),
      "columns __h, __e are reserved by capPerKey")
    require(keys.nonEmpty && keys.forall(df.columns.contains) &&
      df.columns.contains(idCol) && !keys.contains(idCol),
      s"capPerKey needs key columns and a non-key id column in ${df.columns.mkString(", ")}")
    val nonKeys = df.columns.filterNot(keys.contains).toSeq
    // (id32 * seed32) mod 2^32 without 64-bit overflow:
    //   id32 = hi·2^16 + lo  ⇒  hash = (2^16·(hi·s mod 2^16) + lo·s) mod 2^32
    // (2^16·x mod 2^32 = 2^16·(x mod 2^16); every product is < 2^49).
    val m32 = 4294967296L
    val m16 = 65536L
    val seed32 = ((seed % m32) + m32) % m32
    require(seed32 % 2 == 1, s"capPerKey seed must be odd mod 2^32, got $seed")
    val id32 = pmod(col(idCol), lit(m32))
    val hi = shiftright(id32, 16)
    val lo = pmod(id32, lit(m16))
    val h = pmod(pmod(hi * lit(seed32), lit(m16)) * lit(m16) + lo * lit(seed32), lit(m32))
    val st = struct((h.as("__h") +:
      col(idCol) +: nonKeys.filterNot(_ == idCol).map(col)): _*)
    df.groupBy(keys.map(col): _*)
      .agg(graft.plans.BoundedTopK.boundedTopK(st, k).as("__e"))
      .select((keys.map(col) :+ explode(col("__e")).as("__e")): _*)
      .select(df.columns.toSeq.map(c =>
        if (keys.contains(c)) col(c) else col(s"__e.$c").as(c)): _*)
  }

  /** Z-order (Morton) key: interleave the bits of two non-negative
    * dimension values so that sorting/range-splitting by ONE key
    * clusters rows that are close in BOTH dimensions — the standard
    * physical layout for two-column pruning at 100 TB (a (key, time)
    * clustered table answers `key range × time range` scans from a
    * small file subset, where a single-column sort prunes only its own
    * column). Each input must fit in 31 bits (range-reduce first:
    * `pmod(user_id, 2^20)`, a day/time bucket, etc.); the result is a
    * non-negative long, so range partitioning and parquet min/max
    * stats behave.
    *
    * Pure built-in bit arithmetic (the classic Part1By1 spread — five
    * mask-and-shift rounds per dimension), so it stays inside
    * whole-stage codegen and replays exactly in any engine with 64-bit
    * shifts (the DuckDB oracle runs the same five rounds).
    */
  def zOrderKey(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      // 31-bit value -> even bit positions of a 62-bit value
      val masks = Seq(
        (16, 0x0000FFFF0000FFFFL),
        (8, 0x00FF00FF00FF00FFL),
        (4, 0x0F0F0F0F0F0F0F0FL),
        (2, 0x3333333333333333L),
        (1, 0x5555555555555555L))
      masks.foldLeft(c.cast("long")) { case (x, (s, m)) =>
        x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
      }
    }
    val inRange = a >= 0 && b >= 0 && a < lit(1L << 31) && b < lit(1L << 31)
    when(inRange, spread(a).bitwiseOR(shiftleft(spread(b), 1)))
      .otherwise(raise_error(
        lit("zOrderKey inputs must be in [0, 2^31); range-reduce first")))
  }

  // -------------------------------------------------------------------
  // Range joins — bucketized rewrite of the no-equi-key interval join.
  // -------------------------------------------------------------------

  /** Floor time bucket of `ts` at `widthUs` microseconds, as an exact
    * long. Built as `(us - pmod(us, w)) / w`: the numerator is an
    * exact multiple of `w`, so the division is exact in double and the
    * cast is lossless — no floating-point boundary flicker at any
    * epoch, unlike `floor(us / w)` on raw micros. Works for negative
    * (pre-1970) timestamps because `pmod` returns the positive
    * remainder.
    */
  def timeBucket(ts: Column, widthUs: Long): Column = {
    require(widthUs > 0, s"timeBucket width must be positive, got $widthUs")
    val us = unix_micros(ts)
    ((us - pmod(us, lit(widthUs))) / lit(widthUs)).cast("long")
  }

  /** Point-in-interval join WITHOUT an equality key — `point.ts ∈
    * [interval.start, interval.end]` and nothing else to hash on.
    * Spark plans that predicate as BroadcastNestedLoopJoin (every
    * point compared with every interval — O(P×I) and a broadcast of
    * one whole side), which is exactly the shape that dies first at
    * 100 TB. The bucketized rewrite turns it into an equi-join:
    * each interval explodes to the `span/width + 1` time buckets it
    * covers, each point maps to exactly ONE bucket, both sides
    * hash-partition on the bucket, and the exact containment check
    * survives as a cheap post-filter on the matched pairs. Cost is
    * O(P + I·⌈span/width⌉ + bucket-local pairs): pick `widthUs` near
    * the typical interval span so the explode factor stays ~2 and a
    * bucket holds only genuinely-near rows.
    *
    * Intervals are typically derived aggregates (maintenance windows,
    * error bursts, trading halts), so the exploded side stays small;
    * Catalyst still broadcasts it when it fits, but unlike the nested
    * loop the fallback is a shuffled hash/sort-merge join on the
    * bucket — linear, partitioned, AQE-splittable.
    */
  def pointInIntervalJoin(points: DataFrame, pointTs: String,
      intervals: DataFrame, startCol: String, endCol: String,
      widthUs: Long, maxBucketsPerInterval: Int = 1 << 14): DataFrame = {
    val reserved = Seq("__b", "__bs", "__be")
    require(reserved.forall(c => !points.columns.contains(c) &&
      !intervals.columns.contains(c)),
      s"columns ${reserved.mkString(", ")} are reserved by pointInIntervalJoin")
    require(points.columns.intersect(intervals.columns).isEmpty,
      "pointInIntervalJoin requires disjoint column names; rename before joining: " +
        points.columns.intersect(intervals.columns).mkString(", "))
    // A width far below the interval span multiplies the exploded side
    // by span/width. At 100 TB that's the silent way this operator
    // OOMs a stage, so a pathological (interval, width) pairing fails
    // the task loudly with the offending span instead — the caller
    // picks a width near the typical span, or raises the cap knowingly.
    val bs = timeBucket(col(startCol), widthUs)
    val be = timeBucket(col(endCol), widthUs)
    val guarded = when(be - bs >= maxBucketsPerInterval,
      raise_error(concat(
        lit(s"pointInIntervalJoin: interval spans >= $maxBucketsPerInterval " +
          s"buckets of $widthUs us (start="), col(startCol).cast("string"),
        lit(", end="), col(endCol).cast("string"),
        lit("); widen widthUs or raise maxBucketsPerInterval"))))
      .otherwise(be)
    // A REVERSED interval (end < start) matches no point under the
    // containment predicate, but `sequence(bs, be)` would descend and
    // explode ~|bs-be| junk bucket rows per reversed interval — cost
    // without semantics. Dropping them pre-explode is exactly what the
    // plain nested-loop predicate would produce (zero matches), at
    // zero explode cost.
    val exploded = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__b", explode(sequence(bs, guarded)))
    points.withColumn("__b", timeBucket(col(pointTs), widthUs))
      .join(exploded, Seq("__b"))
      .filter(col(pointTs) >= col(startCol) && col(pointTs) <= col(endCol))
      .drop("__b")
  }

  // -------------------------------------------------------------------
  // F7-F9 — quote arithmetic.
  // Reference: v2.py:889 (midpoint), v3/utils.py:355-357 (weighted
  // midpoint), utils.py:278-300 (bootstrap_ohlc).
  // -------------------------------------------------------------------

  /** (bid+ask)/2 — v2.py:889. */
  def midpoint(bid: Column, ask: Column): Column = (bid + ask) / 2.0

  /** (bid*bid_size + ask*ask_size)/(bid_size+ask_size) —
    * v3/utils.py:355-357; 0-size guarded to midpoint like the
    * reference's NaN→fill path.
    */
  def weightedMidpoint(bid: Column, ask: Column, bidSize: Column, askSize: Column): Column =
    when(bidSize + askSize === 0, midpoint(bid, ask))
      .otherwise((bid * bidSize + ask * askSize) / (bidSize + askSize))

  /** Copy midpoint into missing O/H/L/C — utils.py:278-300. */
  def bootstrapOhlc(df: DataFrame, mid: String = "midpoint"): DataFrame =
    Seq("open", "high", "low", "close").foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, coalesce(col(c), col(mid))) else d
    }

  // -------------------------------------------------------------------
  // P3 — business-hours filter.
  // Reference: dbase/utils.py:39-49 (`enforce_bus_hours`, keep rows in
  // [09:30, 16:00] time-of-day).
  // -------------------------------------------------------------------

  /** Predicate: time-of-day of `ts` within [openMin, closeMin] minutes.
    * Pure column arithmetic — stays inside whole-stage codegen and is
    * eligible for pushdown past projections.
    */
  def businessHours(ts: Column, openMin: Int = 570, closeMin: Int = 960): Column = {
    val mod = hour(ts) * 60 + minute(ts)
    mod >= openMin && mod <= closeMin
  }
}
