package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: every oracle belongs to a registered
  * query (an orphaned oracle earns zero correctness rows — the exact
  * round-2 wiring bug), names follow the qNN convention, and the
  * registry has no duplicate names across families.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracle key has a registered query") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
  }

  test("every query is oracle-checked (no rows-only stragglers)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"queries without oracles: $rowsOnly")
  }

  test("select: sorted, all queries when none are named, unknown names fail") {
    assert(SparkEntry.select(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    val picked = SparkEntry.select(Seq("q82_dedup_clusters", "q10_resample_ohlc_1h"))
    assert(picked.map(_._1) == Seq("q10_resample_ohlc_1h", "q82_dedup_clusters"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q10_resample_ohlc_1h", "q8x_typo", "q0_nope")))
    assert(e.getMessage.contains("unknown queries: q0_nope, q8x_typo"))
  }

  test("query names follow the qNN_snake convention") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("^q[0-9]{2,3}_[a-z0-9_]+$"))
    assert(bad.isEmpty, s"non-conforming names: $bad")
  }
}
