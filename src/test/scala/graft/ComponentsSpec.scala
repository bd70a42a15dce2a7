package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

/** [[Components.minLabelComponents]] — min-label fast path with
  * star-round escalation: exact components on cliques/chains
  * REGARDLESS of id placement or round budget (a tripped fast-path
  * budget escalates to the alternating star algorithm instead of
  * failing), with early exit at the detected fixed point.
  */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)], iters: Int = 8): Map[Long, Long] = {
    val df = edges.toDF("i", "j")
    Components.minLabelComponents(df, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("disjoint pairs and a triangle cluster correctly") {
    val got = comps(Seq((1L, 2L), (5L, 6L), (6L, 7L), (5L, 7L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L,
      10L -> 10L, 11L -> 10L))
  }

  test("a chain converges to the min endpoint") {
    val got = comps(Seq((4L, 3L), (3L, 2L), (2L, 1L)), iters = 5)
    assert(got.values.toSet == Set(1L))
  }

  test("a tripped fast-path budget escalates and still resolves exactly") {
    // a 200-node path cannot reach the label fixed point in 2 fast
    // rounds — the star escalation must deliver the exact clustering
    // anyway, never a partial one
    val path = (1L to 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(comps(path, iters = 2).values.toSet == Set(1L))
    // the diagnostic slots record the
    // escalation: tripped, and a positive star-round count
    assert(Components.lastEscalated && Components.lastStarRounds > 0)
    // ...and a fast-path-converged call resets them
    assert(comps(Seq((7L, 8L))) == Map(7L -> 7L, 8L -> 7L))
    assert(!Components.lastEscalated && Components.lastStarRounds == -1)
  }

  test("long ascending chain resolves (doubling covers it within the fast budget)") {
    // ascending ids are the label loop's GOOD case: the pointer chase
    // doubles per round, so 12 fast rounds cover a diameter-199 chain
    // (the boilerplate-chain shape a real corpus dedup hits)
    val path = (1L to 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(comps(path, iters = 12).values.toSet == Set(1L))
  }

  test("adversarial id placement: alternating local minima still converge") {
    // the label loop's trap: small ids interleaved with large ones
    // make every small id a LOCAL minimum, so label chasing
    // degenerates to one position per round and the fast budget
    // trips. The star escalation is id-order independent — both
    // chains resolve exactly at the default budget.
    val ids = Seq(2L, 100L, 3L, 101L, 4L, 102L, 5L, 103L, 1L)
    val path = ids.sliding(2).map(s => (s(0), s(1))).toSeq
    assert(comps(path).values.toSet == Set(1L))
    // 100 nodes, every odd position a fresh local minimum
    val longIds = (0 until 50).flatMap(k => Seq(k.toLong + 2, 1000L + k))
      .:+ (1L)
    val longPath = longIds.sliding(2).map(s => (s(0), s(1))).toSeq
    assert(comps(longPath).values.toSet == Set(1L))
  }

  test("early exit: tiny components finish before the round cap") {
    // pairs have diameter 1 — a huge cap must not cost extra rounds
    // (observable as: it terminates fast and correctly)
    val got = comps(Seq((100L, 200L)), iters = 50)
    assert(got == Map(100L -> 100L, 200L -> 100L))
  }

  test("duplicate and reversed input pairs do not change the clustering") {
    val got = comps(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("localCheckpoint's analyzed plan is LogicalRDD (freeCheckpoint's match)") {
    // freeCheckpoint (Components.scala) pattern-matches the analyzed
    // plan of a localCheckpoint'ed frame as execution.LogicalRDD to
    // reach its persisted RDD. A Spark upgrade that changes that plan
    // shape would silently turn every eager free into a no-op and the
    // loop's storage footprint would grow one frame per round again —
    // this is the loud canary for that match.
    val df = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert(df.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"localCheckpoint plan shape changed: ${df.queryExecution.analyzed.getClass}")
    df.unpersist()
  }

  test("superseded round checkpoints are actually freed (storage probe)") {
    // End-to-end guard on the same invariant: after a multi-round run,
    // the ONLY persistent RDD the call may leave behind is the
    // terminal checkpoint (the returned labels read it — it cannot be
    // freed until the caller materializes). If freeCheckpoint ever
    // stops hitting, every superseded round's blocks linger and the
    // added-RDD count grows with the round count.
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // ascending chain: multiple fast-path rounds (pointer doubling)
    val edges = (1L until 16L).map(i => (i, i + 1)).toDF("i", "j")
    val out = Components.minLabelComponents(edges, iters = 8)
    assert(out.count() == 16) // materialize through the terminal checkpoint
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1,
      s"expected only the terminal checkpoint to remain, found ${added.size}")

    // Same invariant through the ESCALATION tier (star rounds free
    // large-star intermediates and superseded edge sets per round).
    val before2 = spark.sparkContext.getPersistentRDDs.keySet
    val out2 = Components.minLabelComponents(edges, iters = 2) // trip the budget
    assert(out2.count() == 16)
    val added2 = spark.sparkContext.getPersistentRDDs.keySet -- before2
    assert(added2.size == 1,
      s"star path: expected only the terminal checkpoint, found ${added2.size}")
  }

  test("a Staging scope frees the terminal checkpoint after the action") {
    // The one frame a bare call leaves behind (previous test) is
    // released when the caller runs under Staging.run/scoped — the
    // library-caller lifecycle (VERDICT r15 advice: terminal
    // checkpoint lifetime).
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = (1L until 16L).map(i => (i, i + 1)).toDF("i", "j")
    val n = graft.operators.Staging.scoped {
      Components.minLabelComponents(edges, iters = 8).count()
    }
    assert(n == 16)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"scope exit must free the terminal checkpoint too, found ${added.size}")
  }
}
