package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.RiskKernels
import graft.operators.{Formatting, Patches}

class FormattingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("legacy dialect round-trips to canonical") {
    val canonical = Seq((1.0, 2.0, 3L, 4L, 1.5, 1.6))
      .toDF("bid", "ask", "bid_size", "ask_size", "midpoint", "weighted_midpoint")
    val legacy = Formatting.toLegacy(canonical)
    assert(legacy.columns.toSeq == Seq("CloseBid", "CloseAsk", "Bid_size",
      "Ask_size", "Midpoint", "Weighted_midpoint"))
    assert(Formatting.toCanonical(legacy).columns.toSeq == canonical.columns.toSeq)
  }

  test("patch registry applies chained corrections per query") {
    val corrections = Seq((7L, "2024-01-03")).toDF("key", "day")
    val registry = Map("list_dates" -> Seq(
      Patches.removeCorrections(corrections, Seq("key", "day")),
      (df: org.apache.spark.sql.DataFrame) => df.filter($"key" >= 0)))
    val data = Seq((7L, "2024-01-03"), (7L, "2024-01-04"), (8L, "2024-01-03"))
      .toDF("key", "day")
    val out = Patches.applyAll(registry, "list_dates", data)
      .orderBy("key", "day").as[(Long, String)].collect()
    assert(out.toSeq == Seq((7L, "2024-01-04"), (8L, "2024-01-03")))
    // unknown query: untouched
    assert(Patches.applyAll(registry, "other", data).count() == 3)
  }

  test("split-artifact patch removes marker only on the full signature") {
    val gap = Seq("2024-01-11", "2024-01-12", "2024-01-13")
    val patch = Patches.removeSplitArtifact("sym", "day",
      "2024-01-10", "2024-01-15", gap)
    val data = Seq(
      // qualifies: marker + first-valid present, gap absent
      ("A", "2024-01-10"), ("A", "2024-01-15"), ("A", "2024-01-16"),
      // gap day present -> signature incomplete -> marker kept
      ("B", "2024-01-10"), ("B", "2024-01-12"), ("B", "2024-01-15"),
      // no first-valid -> marker kept
      ("C", "2024-01-10"), ("C", "2024-01-20")
    ).toDF("sym", "day")
    val out = patch(data).orderBy("sym", "day").as[(String, String)].collect()
    assert(out.toSeq == Seq(
      ("A", "2024-01-15"), ("A", "2024-01-16"),
      ("B", "2024-01-10"), ("B", "2024-01-12"), ("B", "2024-01-15"),
      ("C", "2024-01-10"), ("C", "2024-01-20")))
  }

  test("split-artifact patch is idempotent") {
    val gap = Seq("2024-01-11", "2024-01-12", "2024-01-13")
    val patch = Patches.removeSplitArtifact("sym", "day",
      "2024-01-10", "2024-01-15", gap)
    val data = Seq(
      ("A", "2024-01-10"), ("A", "2024-01-15"), ("A", "2024-01-16"),
      ("B", "2024-01-10"), ("B", "2024-01-12"), ("B", "2024-01-15")
    ).toDF("sym", "day")
    val once = patch(data).orderBy("sym", "day").collect().toSeq
    val twice = patch(patch(data)).orderBy("sym", "day").collect().toSeq
    assert(once == twice)
  }

  test("missing-vol rescue re-solves zeros from the fallback price") {
    val rows = Seq(
      // solvable close price
      ("C", 100.0, 100.0, 1.0, 0.05, 0.0, 10.45, 10.45),
      // garbage close price (below intrinsic -> iv 0), good midpoint
      ("C", 100.0, 60.0, 1.0, 0.05, 0.0, 1.0, 43.5)
    ).toDF("right", "underlier_price", "strike", "year_frac", "rf_rate",
      "div_yield", "price", "mid_price")
    val base = rows.withColumn("bs_iv", RiskKernels.bsIv("price"))
    val rescued = RiskKernels.rescueMissingVol(base, "bs_iv", "mid_price")
      .select($"strike", $"bs_iv").orderBy($"strike").collect()
    assert(rescued(0).getDouble(1) > 0.0) // rescued from midpoint
    assert(rescued(1).getDouble(1) > 0.0) // untouched original solve
    val unrescued = base.filter($"strike" === 60.0).select($"bs_iv").head().getDouble(0)
    assert(unrescued == 0.0)
  }
}
