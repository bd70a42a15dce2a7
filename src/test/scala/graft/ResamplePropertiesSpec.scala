package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CoreOps._

/** Property tests for the resample/dedup invariants (SURVEY §5 test
  * plan): OHLC ordering, bucket containment, volume conservation
  * under re-bucketing, dedup idempotence, and the first/last contract
  * of `firstBy`/`lastBy`.
  */
class ResamplePropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Drive a generator over 5 deterministic seeds (ScalaCheck without
    * the scalatest bridge, which isn't in the offline dep set).
    */
  private def forAll[A](g: Gen[A])(body: A => Unit): Unit =
    (1 to 5).foreach { i =>
      val v = g.pureApply(Gen.Parameters.default.withSize(60), Seed(i.toLong))
      body(v)
    }

  private val base = Timestamp.valueOf("2024-03-04 00:00:00").getTime

  private val tickGen = for {
    key <- Gen.oneOf("A", "B")
    offMin <- Gen.choose(0L, 3 * 24 * 60L)
    value <- Gen.choose(-1000, 100000).map(_ / 100.0)
  } yield (key, new Timestamp(base + offMin * 60000), value)

  private val ticksGen = Gen.nonEmptyListOf(tickGen)

  test("OHLC ordering: low <= open, close <= high in every bucket") {
    forAll(ticksGen) { ticks =>
      val df = ticks.zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("key", "ts", "value", "seq")
      val r = resampleOhlc(df, "ts", "1 hour", Seq("key"),
        Seq(("value", "value", AggFirst)), "seq")
        .withColumnRenamed("value", "open")
      val checks = resampleOhlc(df, "ts", "1 hour", Seq("key"),
        Seq(("value", "value", AggLast)), "seq").withColumnRenamed("value", "close")
        .join(r, Seq("bucket", "key"))
        .join(df.groupBy(window($"ts", "1 hour")("start").as("bucket"), $"key")
          .agg(max($"value").as("high"), min($"value").as("low")),
          Seq("bucket", "key"))
      val bad = checks.filter(
        $"low" > $"open" || $"low" > $"close" ||
          $"high" < $"open" || $"high" < $"close").count()
      assert(bad == 0)
    }
  }

  test("bucket containment + count conservation") {
    forAll(ticksGen) { ticks =>
      val df = ticks.zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("key", "ts", "value", "seq")
      val buckets = df.groupBy(window($"ts", "30 minutes")("start").as("bucket"), $"key")
        .agg(count(lit(1)).as("n"))
      // counts conserve
      assert(buckets.agg(sum($"n")).head().getLong(0) == ticks.length)
      // every bucket start is 30-minute aligned
      val misaligned = buckets
        .filter((unix_timestamp($"bucket") % 1800) =!= 0).count()
      assert(misaligned == 0)
    }
  }

  test("volume conservation under re-bucketing (1h of 15m == direct 1h)") {
    forAll(ticksGen) { ticks =>
      val df = ticks.zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("key", "ts", "value", "seq")
      val fine = df.groupBy(window($"ts", "15 minutes")("start").as("b15"), $"key")
        .agg(sum($"value".cast("decimal(30,4)")).as("v"))
      val re = fine.groupBy(window($"b15", "1 hour")("start").as("bucket"), $"key")
        .agg(sum($"v").cast("double").as("volume"))
      val direct = df.groupBy(window($"ts", "1 hour")("start").as("bucket"), $"key")
        .agg(sum($"value".cast("decimal(30,4)")).cast("double").as("volume"))
      assert(re.join(direct, Seq("bucket", "key"))
        .filter(re("volume") =!= direct("volume")).count() == 0)
      assert(re.count() == direct.count())
    }
  }

  test("dedupKeepLast is idempotent and keeps one row per key") {
    forAll(ticksGen) { ticks =>
      val df = ticks.zipWithIndex
        .map { case ((k, t, v), i) => (k, t, v, i.toLong) }
        .toDF("key", "ts", "value", "seq")
      val once = dedupKeepLast(df, Seq("key", "ts"), Seq("seq"))
      val twice = dedupKeepLast(once, Seq("key", "ts"), Seq("seq"))
      assert(once.count() ==
        df.select($"key", $"ts").distinct().count())
      assert(once.collect().toSet == twice.collect().toSet)
    }
  }

  test("chunked gap grid: multi-year sparse key, any chunk size, same result") {
    // two observations ~30 years apart: the daily grid spans ~11k
    // buckets; chunk sizes straddling divisor/non-divisor/edge cases
    // must all produce the identical complete grid with correct ffill
    val rows = Seq(
      ("K", Timestamp.valueOf("1994-01-03 10:00:00"), 5.0, 0L),
      ("K", Timestamp.valueOf("2024-02-29 15:30:00"), 7.0, 1L),
      ("L", Timestamp.valueOf("2024-02-28 09:00:00"), 9.0, 2L)
    ).toDF("key", "ts", "value", "seq")
    def run(chunk: Int) = resampleWithGaps(rows, "ts", "1 day", Seq("key"),
      Seq(("close", "value", AggLast), ("volume", "value", AggSum)), "seq",
      ffillCols = Seq("close"), zeroCols = Seq("volume"), gridChunk = chunk)
      .orderBy($"key", $"bucket")
      .collect().toSeq
    val expectedDays =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse("1994-01-03"),
        java.time.LocalDate.parse("2024-02-29")) + 1
    val reference = run(1 << 30) // single chunk = unchunked grid
    assert(reference.count(_.getString(0) == "K") == expectedDays)
    assert(reference.count(_.getString(0) == "L") == 1)
    // every gap bucket carries the forward-filled close, zero volume
    val kGaps = reference.filter(r => r.getString(0) == "K" && r.getDouble(3) == 0.0)
    assert(kGaps.size == expectedDays - 2)
    assert(kGaps.forall(_.getDouble(2) == 5.0))
    for (chunk <- Seq(1, 16, 4096, 11011, 11012))
      assert(run(chunk) == reference, s"gridChunk=$chunk diverged")
  }

  /** (group, ts micros, seq, value) with SQL nulls as None: null ts and
    * seq, NaN and null values, and seq at both ends of the long range.
    */
  private val keyedRowGen = for {
    g <- Gen.choose(0, 3)
    ts <- Gen.frequency(1 -> Gen.const(None), 5 -> Gen.choose(0L, 4L).map(Some(_)))
    seq <- Gen.frequency(1 -> Gen.const(None),
      2 -> Gen.oneOf(Long.MinValue, Long.MaxValue).map(Some(_)),
      5 -> Gen.choose(-2L, 2L).map(Some(_)))
    value <- Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)),
      5 -> Gen.choose(-100.0, 100.0).map(Some(_)))
  } yield (g, ts, seq, value)

  // (ts, seq) unique per group, so the reference's row_number is total
  private val keyedRowsGen = Gen.nonEmptyListOf(keyedRowGen)
    .map(_.distinctBy { case (g, ts, seq, _) => (g, ts, seq) })

  /** group -> value bits (None = null), NaN-safe to compare. */
  private def byGroup(rows: Array[Row]): Map[Int, Option[Long]] =
    rows.map(r => r.getInt(0) -> Option(r.get(1))
      .map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))).toMap

  test("firstBy/lastBy over struct(ts, seq) equal the row_number reference") {
    val prop = Prop.forAllNoShrink(keyedRowsGen) { rows =>
      val df = rows.toDF("g", "t", "seq", "value")
        .select($"g", timestamp_micros($"t").as("ts"), $"seq", $"value")
        .repartition(3)
      val ord = struct($"ts", $"seq")
      val got = df.groupBy($"g")
        .agg(firstBy($"value", ord).as("first"), lastBy($"value", ord).as("last"))
        .collect()
      def reference(order: Column*) = byGroup(df
        .withColumn("rn", row_number().over(Window.partitionBy($"g").orderBy(order: _*)))
        .filter($"rn" === 1).select($"g", $"value").collect())
      val first = reference($"ts".asc_nulls_first, $"seq".asc_nulls_first)
      val last = reference($"ts".desc_nulls_last, $"seq".desc_nulls_last)
      Prop(byGroup(got.map(r => Row(r.get(0), r.get(1)))) == first &&
        byGroup(got.map(r => Row(r.get(0), r.get(2)))) == last) :| s"rows=$rows"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
  }

  // min_by/max_by keep their buffer only while it is strictly better
  // than the incoming row, so a full tie takes the row seen later
  test("firstBy/lastBy: on a full (ts, seq) tie the last row seen wins") {
    val t0 = Some(Timestamp.valueOf("2024-03-04 10:00:00"))
    val t1 = Some(Timestamp.valueOf("2024-03-04 11:00:00"))
    val df = Seq(
      ("A", t0, Some(1L), 1.0), ("A", t0, Some(1L), 2.0), ("A", t0, Some(1L), 3.0),
      ("B", t0, Some(1L), 4.0), ("B", t0, Some(1L), 5.0),
      ("B", t1, Some(2L), 6.0), ("B", t1, Some(2L), 7.0),
      ("C", None, None, 8.0), ("C", None, None, 9.0)
    ).toDF("key", "ts", "seq", "value").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val ord = struct($"ts", $"seq")
    val out = df.groupBy($"key")
      .agg(firstBy($"value", ord).as("first"), lastBy($"value", ord).as("last"))
      .orderBy($"key").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(out == Seq(("A", 3.0, 3.0), ("B", 5.0, 7.0), ("C", 9.0, 9.0)))
  }
}
