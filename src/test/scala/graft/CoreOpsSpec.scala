package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CoreOps._

object TestSpark {
  lazy val spark: SparkSession = SessionDefaults.session("local[4]", "4")
}

class CoreOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dedupKeepLast keeps the row latest in explicit order") {
    val df = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1L, 1.0),
      ("A", ts("2024-01-01 10:00:00"), 2L, 2.0),
      ("A", ts("2024-01-01 09:00:00"), 3L, 3.0),
      ("B", ts("2024-01-01 11:00:00"), 4L, 4.0)
    ).toDF("key", "t", "seq", "v")
    val out = dedupKeepLast(df, Seq("key"), Seq("t", "seq"))
      .orderBy("key").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(3))).toSeq ==
      Seq(("A", 2.0), ("B", 4.0)))
  }

  test("dedup is idempotent") {
    val df = Seq(("A", 1L, 1.0), ("A", 2L, 2.0)).toDF("key", "seq", "v")
    val once = dedupKeepLast(df, Seq("key"), Seq("seq"))
    val twice = dedupKeepLast(once, Seq("key"), Seq("seq"))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("ffill carries last non-null forward per key") {
    val df = Seq(
      ("A", 1L, Some(10.0)), ("A", 2L, None), ("A", 3L, None),
      ("A", 4L, Some(40.0)), ("B", 1L, None), ("B", 2L, Some(5.0))
    ).toDF("key", "seq", "v")
    val out = ffill(df, Seq("v"), Seq("key"), Seq("seq"))
      .orderBy("key", "seq").as[(String, Long, Option[Double])].collect()
    assert(out.map(_._3).toSeq ==
      Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0), None, Some(5.0)))
  }

  test("asofJoin matches most recent right row, inclusive at equal ts") {
    val left = Seq(
      (1L, "A", ts("2024-01-01 10:00:00")),
      (2L, "A", ts("2024-01-01 12:00:00")),
      (3L, "A", ts("2024-01-01 08:00:00")),
      (4L, "B", ts("2024-01-01 10:00:00"))
    ).toDF("id", "key", "t")
    val right = Seq(
      ("A", ts("2024-01-01 09:00:00"), 1.0),
      ("A", ts("2024-01-01 10:00:00"), 2.0),
      ("A", ts("2024-01-01 11:00:00"), 3.0)
    ).toDF("rkey", "rt", "rv")
    val out = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv"))
      .orderBy("id").as[(Long, String, Timestamp, Option[Double])].collect()
    assert(out.map(_._4).toSeq == Seq(Some(2.0), Some(3.0), None, None))
  }

  test("asofJoin forward matches earliest right row at-or-after, else null") {
    val left = Seq(
      (1L, "A", ts("2024-01-01 10:00:00")), // exact match at 10:00
      (2L, "A", ts("2024-01-01 10:30:00")), // next is 11:00
      (3L, "A", ts("2024-01-01 12:00:00")), // nothing after -> null
      (4L, "B", ts("2024-01-01 10:00:00")) // no right key -> null
    ).toDF("id", "key", "t")
    val right = Seq(
      ("A", ts("2024-01-01 09:00:00"), 1.0),
      ("A", ts("2024-01-01 10:00:00"), 2.0),
      ("A", ts("2024-01-01 11:00:00"), 3.0)
    ).toDF("rkey", "rt", "rv")
    val out = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv"),
        direction = "forward")
      .orderBy("id").as[(Long, String, Timestamp, Option[Double])].collect()
    assert(out.map(_._4).toSeq == Seq(Some(2.0), Some(3.0), None, None))
  }

  test("asofJoin randomized differential vs brute force (both directions, tolerance)") {
    // The union + sort-window trick has subtle tie/frame edges; check
    // it against the O(n*m) definition on seeded random data with
    // heavy timestamp collisions (20 distinct seconds, 5 keys).
    val rnd = new scala.util.Random(11)
    val base = ts("2024-01-01 00:00:00").getTime
    val leftRows = Seq.tabulate(120)(i =>
      (i.toLong, s"k${rnd.nextInt(5)}", new Timestamp(base + rnd.nextInt(20) * 1000L)))
    // unique (key, ts) on the right, as the operator contract requires
    val rightRows = rnd.shuffle(
      (for (k <- 0 until 5; t <- 0 until 20) yield (s"k$k", t)).toSeq)
      .take(60)
      .map { case (k, t) => (k, new Timestamp(base + t * 1000L), rnd.nextDouble()) }
    val left = leftRows.toDF("id", "key", "t").repartition(5)
    val right = rightRows.toDF("rkey", "rt", "rv").repartition(3)

    def brute(forward: Boolean, tol: Option[Long]): Map[Long, Option[Double]] =
      leftRows.map { case (id, k, t) =>
        val cands = rightRows.filter { case (rk, rt, _) =>
          rk == k &&
            (if (forward) rt.getTime >= t.getTime else rt.getTime <= t.getTime) &&
            tol.forall(s => math.abs(rt.getTime - t.getTime) <= s * 1000L)
        }
        id -> (if (cands.isEmpty) None
          else Some((if (forward) cands.minBy(_._2.getTime) else cands.maxBy(_._2.getTime))._3))
      }.toMap

    for (forward <- Seq(false, true); tol <- Seq(None, Some(4L), Some(0L))) {
      val got = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv"),
          direction = if (forward) "forward" else "backward",
          toleranceSeconds = tol)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      assert(got == brute(forward, tol), s"forward=$forward tol=$tol")
    }
  }

  test("asofJoin tolerance nulls matches beyond the bound, keeps the boundary") {
    val left = Seq(
      (1L, "A", ts("2024-01-01 10:00:00")), // exact match: dt=0
      (2L, "A", ts("2024-01-01 10:30:00")), // next at 11:00, dt=30min == bound
      (3L, "A", ts("2024-01-01 07:00:00")) // next at 09:00, dt=2h > bound
    ).toDF("id", "key", "t")
    val right = Seq(
      ("A", ts("2024-01-01 09:00:00"), 1.0),
      ("A", ts("2024-01-01 10:00:00"), 2.0),
      ("A", ts("2024-01-01 11:00:00"), 3.0)
    ).toDF("rkey", "rt", "rv")
    val out = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv"),
        direction = "forward", toleranceSeconds = Some(1800L))
      .orderBy("id").as[(Long, String, Timestamp, Option[Double])].collect()
    assert(out.map(_._4).toSeq == Seq(Some(2.0), Some(3.0), None))
    // backward with the same bound: 10:30 looks back to 10:00 (30 min,
    // kept); 07:00 has 09:00 only ahead of it -> null either way
    val back = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv"),
        toleranceSeconds = Some(1800L))
      .orderBy("id").as[(Long, String, Timestamp, Option[Double])].collect()
    assert(back.map(_._4).toSeq == Seq(Some(2.0), Some(2.0), None))
  }

  test("asofJoin randomized differential: multi-column fills with random nulls") {
    // The struct-fill contract under fire: with a second value column
    // that is null on ~1/3 of right rows, every output row must carry
    // BOTH values from the single matched row — any per-column
    // ignoreNulls fill would mix rows whenever the matched row has a
    // null. Brute force picks the matched row then projects it.
    val rnd = new scala.util.Random(23)
    val base = ts("2024-01-01 00:00:00").getTime
    val leftRows = Seq.tabulate(100)(i =>
      (i.toLong, s"k${rnd.nextInt(4)}", new Timestamp(base + rnd.nextInt(16) * 1000L)))
    val rightRows = rnd.shuffle(
      (for (k <- 0 until 4; t <- 0 until 16) yield (s"k$k", t)).toSeq)
      .take(40)
      .map { case (k, t) => (k, new Timestamp(base + t * 1000L), rnd.nextDouble(),
        if (rnd.nextInt(3) == 0) None else Some(rnd.nextDouble())) }
    val left = leftRows.toDF("id", "key", "t").repartition(4)
    val right = rightRows.toDF("rkey", "rt", "rv", "rw").repartition(3)

    def brute(forward: Boolean, tol: Option[Long]): Map[Long, (Option[Double], Option[Double])] =
      leftRows.map { case (id, k, t) =>
        val cands = rightRows.filter { case (rk, rt, _, _) =>
          rk == k &&
            (if (forward) rt.getTime >= t.getTime else rt.getTime <= t.getTime) &&
            tol.forall(s => math.abs(rt.getTime - t.getTime) <= s * 1000L)
        }
        id -> (if (cands.isEmpty) (None, None)
          else {
            val m = if (forward) cands.minBy(_._2.getTime) else cands.maxBy(_._2.getTime)
            (Some(m._3), m._4) // the matched row's values, nulls included
          })
      }.toMap

    for (forward <- Seq(false, true); tol <- Seq(None, Some(3L))) {
      val got = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv", "rw"),
          direction = if (forward) "forward" else "backward",
          toleranceSeconds = tol)
        .select("id", "rv", "rw")
        .as[(Long, Option[Double], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == brute(forward, tol), s"forward=$forward tol=$tol")
    }
  }

  test("asofJoin nearest + strict: randomized differential vs brute force") {
    // direction="nearest" picks the closer of backward/forward (ties
    // -> backward); allowExactMatches=false excludes equal-timestamp
    // rows entirely. Heavy ts collisions (15 distinct seconds) make
    // both the tie rule and the strictness observable.
    val rnd = new scala.util.Random(61)
    val base = ts("2024-01-01 00:00:00").getTime
    val leftRows = Seq.tabulate(120)(i =>
      (i.toLong, s"k${rnd.nextInt(4)}", new Timestamp(base + rnd.nextInt(15) * 1000L)))
    val rightRows = rnd.shuffle(
      (for (k <- 0 until 4; t <- 0 until 15) yield (s"k$k", t)).toSeq)
      .take(40)
      .map { case (k, t) => (k, new Timestamp(base + t * 1000L), rnd.nextDouble()) }
    val left = leftRows.toDF("id", "key", "t").repartition(5)
    val right = rightRows.toDF("rkey", "rt", "rv").repartition(3)

    def brute(direction: String, tol: Option[Long], exact: Boolean): Map[Long, Option[Double]] =
      leftRows.map { case (id, k, t) =>
        def cands(fwd: Boolean) = rightRows.filter { case (rk, rt, _) =>
          rk == k &&
            (if (fwd) rt.getTime > t.getTime || (exact && rt.getTime == t.getTime)
             else rt.getTime < t.getTime || (exact && rt.getTime == t.getTime)) &&
            tol.forall(s => math.abs(rt.getTime - t.getTime) <= s * 1000L)
        }
        val b = cands(fwd = false).sortBy(_._2.getTime).lastOption
        val f = cands(fwd = true).sortBy(_._2.getTime).headOption
        val m = direction match {
          case "backward" => b
          case "forward" => f
          case "nearest" => (b, f) match {
            case (Some(bm), Some(fm)) =>
              val db = t.getTime - bm._2.getTime
              val df = fm._2.getTime - t.getTime
              if (db <= df) Some(bm) else Some(fm)
            case _ => b.orElse(f)
          }
        }
        id -> m.map(_._3)
      }.toMap

    for (direction <- Seq("backward", "forward", "nearest");
        tol <- Seq(None, Some(3L));
        exact <- Seq(true, false)) {
      val got = asofJoin(left, right, Seq("key"), Seq("rkey"), "t", "rt",
          Seq("rv"), direction, tol, allowExactMatches = exact)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      assert(got == brute(direction, tol, exact),
        s"direction=$direction tol=$tol exact=$exact")
    }
  }

  test("asofJoin composite keys: randomized differential vs brute force with null keys") {
    // pandas merge_asof(by=["instrument", "venue"]) analog: rows align
    // only when BOTH key fields are (null-safe) equal. One key field is
    // null on ~1/4 of rows on each side — struct grouping must treat
    // null==null as a match, like groupBy, and never cross-match
    // distinct venues at the same instrument.
    val rnd = new scala.util.Random(47)
    val base = ts("2024-01-01 00:00:00").getTime
    def venue(): Option[String] =
      if (rnd.nextInt(4) == 0) None else Some(s"v${rnd.nextInt(3)}")
    val leftRows = Seq.tabulate(150)(i =>
      (i.toLong, s"k${rnd.nextInt(4)}", venue(),
        new Timestamp(base + rnd.nextInt(16) * 1000L)))
    val rightRows = rnd.shuffle(
      (for (k <- 0 until 4; v <- -1 until 3; t <- 0 until 16)
        yield (s"k$k", if (v < 0) None else Some(s"v$v"), t)).toSeq)
      .take(90)
      .map { case (k, v, t) =>
        (k, v, new Timestamp(base + t * 1000L), rnd.nextDouble()) }
    val left = leftRows.toDF("id", "key", "ven", "t").repartition(5)
    val right = rightRows.toDF("rkey", "rven", "rt", "rv").repartition(3)

    def brute(forward: Boolean, tol: Option[Long]): Map[Long, Option[Double]] =
      leftRows.map { case (id, k, v, t) =>
        val cands = rightRows.filter { case (rk, rv2, rt, _) =>
          rk == k && rv2 == v &&
            (if (forward) rt.getTime >= t.getTime else rt.getTime <= t.getTime) &&
            tol.forall(s => math.abs(rt.getTime - t.getTime) <= s * 1000L)
        }
        id -> (if (cands.isEmpty) None
          else Some((if (forward) cands.minBy(_._3.getTime)
            else cands.maxBy(_._3.getTime))._4))
      }.toMap

    for (forward <- Seq(false, true); tol <- Seq(None, Some(3L))) {
      val got = asofJoin(left, right, Seq("key", "ven"), Seq("rkey", "rven"),
          "t", "rt", Seq("rv"),
          if (forward) "forward" else "backward", tol, allowExactMatches = true)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      assert(got == brute(forward, tol), s"forward=$forward tol=$tol")
    }
  }

  test("asofJoin rejects valueCols that collide with left columns") {
    val left = Seq((1L, "A", ts("2024-01-01 10:00:00"), 9.0)).toDF("id", "key", "t", "rv")
    val right = Seq(("A", ts("2024-01-01 09:00:00"), 1.0)).toDF("rkey", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv"))
    }
    assert(e.getMessage.contains("collide with left columns"))
  }

  test("forward as-of survives a single hot key (300k left + 300k right, one partition)") {
    // The scale contract behind the round-9 rewrite: ALL rows share
    // one join key, so the whole dataset lands in one window
    // partition. On the incremental frame this is a sort + linear
    // scan (~seconds); on the old [CURRENT ROW, UNBOUNDED FOLLOWING]
    // frame it is 300k × 300k aggregate rebuilds and this test would
    // not return. Interleaved timestamps: left i at 2i matches right
    // i at 2i+1... except the last left row, whose match is exact-ts
    // only if present — right covers [1, 2n-1], so every left i<n has
    // nearest-after right at 2i+1 with value i.
    val n = 300000
    val spark2 = spark
    import spark2.implicits._
    val left = spark.range(n).select(
      $"id", lit("hot").as("key"),
      timestamp_micros($"id" * 2000000L).as("t"))
    val right = spark.range(n).select(
      lit("hot").as("rkey"),
      timestamp_micros($"id" * 2000000L + 1000000L).as("rt"),
      $"id".cast("double").as("rv"))
    val out = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv"),
        direction = "forward")
    assert(out.count() == n)
    val sampled = out.filter($"id".isin(0L, 1L, 149999L, 299999L))
      .select("id", "rv").as[(Long, Double)].collect().toMap
    assert(sampled == Map(0L -> 0.0, 1L -> 1.0,
      149999L -> 149999.0, 299999L -> 299999.0))
  }

  test("asofJoin composite keys + nearest compose (randomized differential)") {
    // The two new surfaces used together: (key, venue) struct keys
    // with the nearest distance pick and a tolerance bound.
    val rnd = new scala.util.Random(83)
    val base = ts("2024-01-01 00:00:00").getTime
    val leftRows = Seq.tabulate(100)(i =>
      (i.toLong, s"k${rnd.nextInt(3)}", s"v${rnd.nextInt(2)}",
        new Timestamp(base + rnd.nextInt(12) * 1000L)))
    val rightRows = rnd.shuffle(
      (for (k <- 0 until 3; v <- 0 until 2; t <- 0 until 12)
        yield (s"k$k", s"v$v", t)).toSeq)
      .take(40)
      .map { case (k, v, t) =>
        (k, v, new Timestamp(base + t * 1000L), rnd.nextDouble()) }
    val left = leftRows.toDF("id", "key", "ven", "t").repartition(4)
    val right = rightRows.toDF("rkey", "rven", "rt", "rv").repartition(3)

    def brute(tol: Option[Long]): Map[Long, Option[Double]] =
      leftRows.map { case (id, k, v, t) =>
        val cands = rightRows.filter { case (rk, rv2, rt, _) =>
          rk == k && rv2 == v &&
            tol.forall(s => math.abs(rt.getTime - t.getTime) <= s * 1000L)
        }
        val b = cands.filter(_._3.getTime <= t.getTime)
          .sortBy(_._3.getTime).lastOption
        val f = cands.filter(_._3.getTime >= t.getTime)
          .sortBy(_._3.getTime).headOption
        val m = (b, f) match {
          case (Some(bm), Some(fm)) =>
            if (t.getTime - bm._3.getTime <= fm._3.getTime - t.getTime) Some(bm)
            else Some(fm)
          case _ => b.orElse(f)
        }
        id -> m.map(_._4)
      }.toMap

    for (tol <- Seq(None, Some(2L))) {
      val got = asofJoin(left, right, Seq("key", "ven"), Seq("rkey", "rven"),
          "t", "rt", Seq("rv"), "nearest", tol, allowExactMatches = true)
        .select("id", "rv").as[(Long, Option[Double])].collect().toMap
      assert(got == brute(tol), s"tol=$tol")
    }
  }

  test("nearest as-of survives a single hot key (300k + 300k, one partition)") {
    // nearest runs BOTH directional fills on the hot partition — two
    // incremental-frame scans, one shuffle. Right i sits at 2i+1,
    // between left i (2i) and left i+1 (2i+2): forward distance from
    // left i is 1s, backward distance 1s from right i-1 — a pure tie
    // landscape where every left i>0 has backward right i-1 at -1s
    // and forward right i at +1s; the tie rule picks backward (i-1),
    // while left 0 has only the forward match (0).
    val n = 300000
    val spark2 = spark
    import spark2.implicits._
    val left = spark.range(n).select(
      $"id", lit("hot").as("key"),
      timestamp_micros($"id" * 2000000L).as("t"))
    val right = spark.range(n).select(
      lit("hot").as("rkey"),
      timestamp_micros($"id" * 2000000L + 1000000L).as("rt"),
      $"id".cast("double").as("rv"))
    val out = asofJoin(left, right, Seq("key"), Seq("rkey"), "t", "rt",
      Seq("rv"), "nearest", None, allowExactMatches = true)
    assert(out.count() == n)
    val sampled = out.filter($"id".isin(0L, 1L, 149999L, 299999L))
      .select("id", "rv").as[(Long, Double)].collect().toMap
    assert(sampled == Map(0L -> 0.0, 1L -> 0.0,
      149999L -> 149998.0, 299999L -> 299998.0))
  }

  test("asofJoin keeps the matched row's nulls (no fill from farther rows)") {
    // pandas merge_asof picks ONE nearest row and takes all its
    // values — including its nulls. A per-column ignoreNulls fill
    // would instead pull rv from 09:00 while rw comes from 10:00,
    // mixing rows; the struct fill must not.
    val left = Seq((1L, "A", ts("2024-01-01 10:30:00"))).toDF("id", "key", "t")
    val right = Seq(
      ("A", ts("2024-01-01 09:00:00"), Some(7.0), Some(70.0)),
      ("A", ts("2024-01-01 10:00:00"), None: Option[Double], Some(80.0))
    ).toDF("rkey", "rt", "rv", "rw")
    val out = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv", "rw"))
      .select("rv", "rw").as[(Option[Double], Option[Double])].collect()
    assert(out.toSeq == Seq((None, Some(80.0))))
    // with a tolerance, the bound is judged against the SAME matched
    // row's timestamp: 10:00 is within 1h of 10:30, so rw survives
    // and rv stays null — never 7.0 from the out-of-window 09:00 row
    val tol = asofJoin(left, right, "key", "rkey", "t", "rt", Seq("rv", "rw"),
        toleranceSeconds = Some(3600L))
      .select("rv", "rw").as[(Option[Double], Option[Double])].collect()
    assert(tol.toSeq == Seq((None, Some(80.0))))
  }

  test("resampleOhlc applies the per-column agg map deterministically") {
    val df = Seq(
      ("X", ts("2024-01-01 10:05:00"), 1L, 10.0),
      ("X", ts("2024-01-01 10:20:00"), 2L, 30.0),
      ("X", ts("2024-01-01 10:50:00"), 3L, 20.0),
      ("X", ts("2024-01-01 11:10:00"), 4L, 5.0)
    ).toDF("key", "t", "seq", "v")
    val out = resampleOhlc(df, "t", "1 hour", Seq("key"),
      Seq(("v", "v", AggFirst)), "seq")
      .orderBy("bucket").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("v") == 10.0)
    assert(out(1).getAs[Double]("v") == 5.0)
  }

  test("no min_by/max_by call in src/main outside CoreOps") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val walk = java.nio.file.Files.walk(root)
    // comment lines and `|` SQL-literal lines may name the functions
    val prose = Seq("//", "*", "/*", "|")
    val sites = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "CoreOps.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !prose.exists(line.trim.startsWith) &&
              (line.contains("min_by(") || line.contains("max_by(")) => s"$p:${i + 1}"
        }
      }.toList.sorted
    finally walk.close()
    assert(sites.isEmpty, s"reduce first/last through CoreOps.firstBy/lastBy: $sites")
  }

  test("midpoint and weighted midpoint match reference arithmetic") {
    val df = Seq((10.0, 12.0, 2L, 6L), (10.0, 12.0, 0L, 0L))
      .toDF("bid", "ask", "bid_size", "ask_size")
    val out = df.select(
      midpoint($"bid", $"ask").as("m"),
      weightedMidpoint($"bid", $"ask", $"bid_size", $"ask_size").as("wm"))
      .collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(0).getDouble(1) == (10.0 * 2 + 12.0 * 6) / 8)
    assert(out(1).getDouble(1) == 11.0) // zero sizes fall back to midpoint
  }

  test("timeBucket floors exactly, including pre-1970 timestamps") {
    val hour = 3600L * 1000000L
    val df = Seq(
      ts("2024-01-01 10:00:00"), ts("2024-01-01 10:59:59"),
      ts("2024-01-01 11:00:00"), ts("1960-06-15 00:30:00")
    ).toDF("t")
    val out = df.select(timeBucket($"t", hour).as("b")).collect().map(_.getLong(0))
    assert(out(0) == out(1), "same hour, same bucket")
    assert(out(2) == out(0) + 1, "next hour, next bucket")
    // floor semantics for negative epochs: -1960 bucket * width <= us
    val us1960 = java.time.LocalDateTime.of(1960, 6, 15, 0, 30)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(out(3) * hour <= us1960 && us1960 < (out(3) + 1) * hour)
  }

  test("pointInIntervalJoin matches the naive range join (randomized)") {
    val rnd = new scala.util.Random(911)
    val base = ts("2024-03-01 00:00:00").getTime
    val points = (1 to 400).map { i =>
      (i.toLong, new Timestamp(base + rnd.nextInt(48 * 3600) * 1000L))
    }.toDF("p_id", "p_ts")
    // interval spans 0s..3h: some cross multiple 1h buckets, some empty
    val intervals = (1 to 60).map { i =>
      val s = base + rnd.nextInt(48 * 3600) * 1000L
      (i.toLong, new Timestamp(s), new Timestamp(s + rnd.nextInt(3 * 3600) * 1000L))
    }.toDF("i_id", "i_start", "i_end")
    val got = pointInIntervalJoin(points, "p_ts", intervals,
        "i_start", "i_end", 3600L * 1000000L)
      .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.join(intervals,
        $"p_ts" >= $"i_start" && $"p_ts" <= $"i_end")
      .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty, "differential vacuous — widen the fixture")
  }

  test("pointInIntervalJoin keeps boundary-equal points and rejects clashes") {
    val points = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("p_id", "p_ts")
    val intervals = Seq(
      (10L, ts("2024-01-01 09:00:00"), ts("2024-01-01 10:00:00")),
      (11L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      (12L, ts("2024-01-01 10:00:01"), ts("2024-01-01 11:00:00"))
    ).toDF("i_id", "i_start", "i_end")
    val got = pointInIntervalJoin(points, "p_ts", intervals,
        "i_start", "i_end", 3600L * 1000000L)
      .select("i_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L), "closed [start, end] containment")
    val clash = points.withColumnRenamed("p_id", "i_id")
    intercept[IllegalArgumentException] {
      pointInIntervalJoin(clash, "p_ts", intervals, "i_start", "i_end", 1000000L)
    }
  }

  test("pointInIntervalJoin fails loudly on a pathological span/width pairing") {
    val points = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("p_id", "p_ts")
    val yearLong = Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-12-31 00:00:00")))
      .toDF("i_id", "i_start", "i_end")
    // one-second buckets over a year-long interval: ~31M exploded rows
    val bad = pointInIntervalJoin(points, "p_ts", yearLong,
      "i_start", "i_end", 1000000L)
    val e = intercept[Exception] { bad.count() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("pointInIntervalJoin")), e.toString)
    // the same pairing passes when the caller raises the cap knowingly
    val ok = pointInIntervalJoin(points, "p_ts", yearLong,
      "i_start", "i_end", 3600L * 1000000L * 24 * 40)
    assert(ok.count() == 1)
  }

  test("capPerKey matches the row_number idiom and ignores partitioning") {
    val rnd = new scala.util.Random(27)
    val df = (1 to 500).map { i =>
      (s"k${rnd.nextInt(5)}", i.toLong, rnd.nextDouble())
    }.toDF("key", "id", "v")
    val got = capPerKey(df, Seq("key"), "id", 7)
    // reference: the window idiom over the same seeded hash
    val h = pmod($"id" * lit(2654435761L), lit(4294967296L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy(h.asc, $"id".asc)
    val want = df.withColumn("__rn", row_number().over(w))
      .filter($"__rn" <= 7).drop("__rn")
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 35, "cap must bind: 5 keys x 7")
    assert(got.columns.toSeq == df.columns.toSeq, "column order preserved")
    // partitioning-independence: same subset from any layout
    assert(capPerKey(df.repartition(13), Seq("key"), "id", 7).collect().toSet ==
      got.collect().toSet)
    // under the cap, everything is kept
    assert(capPerKey(df, Seq("key"), "id", 1000).count() == 500)
  }

  test("capPerKey: huge ids (id*seed would wrap BIGINT) still hash exactly") {
    // ids around 2^33 ≈ 8.6e9: the naive id*2654435761 product exceeds
    // 2^63 and wraps. The split multiply must equal the true
    // (id mod 2^32)*seed mod 2^32 — computed here via BigInt.
    val base = 8589934592L // 2^33
    val df = (0 until 40).map { i =>
      (s"k${i % 2}", base + i * 1000000007L, i.toDouble)
    }.toDF("key", "id", "v")
    val got = capPerKey(df, Seq("key"), "id", 5)
    def trueHash(id: Long): BigInt =
      (BigInt(id) % BigInt(4294967296L)) * BigInt(2654435761L) % BigInt(4294967296L)
    val want = df.collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).values.flatMap { rows =>
        rows.sortBy(t => (trueHash(t._2), t._2)).take(5)
      }.toSet
    assert(got.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSet == want)
    assert(got.count() == 10)
  }

  test("pointInIntervalJoin: reversed intervals match nothing and explode nothing") {
    val points = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("p_id", "p_ts")
    // end a year BEFORE start: a descending sequence() would explode
    // ~31M junk bucket rows at 1 s width; the operator must emit zero
    // matches (the containment predicate is unsatisfiable) quickly.
    val reversed = Seq((1L, ts("2024-12-31 00:00:00"), ts("2024-01-01 00:00:00")))
      .toDF("i_id", "i_start", "i_end")
    val joined = pointInIntervalJoin(points, "p_ts", reversed,
      "i_start", "i_end", 1000000L)
    assert(joined.count() == 0)
    // mixed input: the valid interval still matches
    val mixed = Seq(
      (1L, ts("2024-12-31 00:00:00"), ts("2024-01-01 00:00:00")),
      (2L, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("i_id", "i_start", "i_end")
    val m = pointInIntervalJoin(points, "p_ts", mixed,
      "i_start", "i_end", 60L * 1000000L).collect()
    assert(m.length == 1 && m.head.getAs[Long]("i_id") == 2L)
  }

  test("zOrderKey interleaves bits exactly; out-of-range inputs raise") {
    def ref(a: Long, b: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1439L),
      (123456789L, 987654321L), ((1L << 31) - 1, (1L << 31) - 1))
    val got = pairs.toDF("a", "b")
      .select(zOrderKey($"a", $"b").as("z")).collect().map(_.getLong(0))
    assert(got.toSeq == pairs.map { case (a, b) => ref(a, b) })
    // the full-range key stays non-negative (sortable, stats-friendly)
    assert(got.forall(_ >= 0))
    // locality smell: adjacent points differ in few low bits
    assert(ref(5L, 7L) >> 6 == ref(4L, 6L) >> 6)
    val bad = Seq((-1L, 0L)).toDF("a", "b").select(zOrderKey($"a", $"b"))
    val e = intercept[Exception] { bad.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("zOrderKey")), e.toString)
  }

  test("businessHours keeps [09:30, 16:00] inclusive") {
    val df = Seq(
      ts("2024-01-01 09:29:59"), ts("2024-01-01 09:30:00"),
      ts("2024-01-01 12:00:00"), ts("2024-01-01 16:00:59"),
      ts("2024-01-01 16:01:00")
    ).toDF("t")
    assert(df.filter(businessHours($"t")).count() == 3)
  }
}
