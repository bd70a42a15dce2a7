package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Unit locks for [[FaultMatrix]]'s helpers — the parts that must be
  * correct for a fault attestation to mean anything. The scenarios
  * themselves need a forked-executor master (`GRAFT_MASTER=
  * local-cluster[...]`) and run as a main; CHAOS_r18–r20.md record
  * their evidence.
  */
class FaultMatrixSpec extends AnyFunSuite {

  test("canonicalHash is row-order independent and content sensitive") {
    val a = Array(Row(1L, "x"), Row(2L, "y"), Row(3L, "z"))
    val b = Array(Row(3L, "z"), Row(1L, "x"), Row(2L, "y"))
    assert(FaultMatrix.canonicalHash(a) == FaultMatrix.canonicalHash(b),
      "post-retry partition order must not affect the comparison")
    val c = Array(Row(1L, "x"), Row(2L, "y"), Row(3L, "Z"))
    assert(FaultMatrix.canonicalHash(a) != FaultMatrix.canonicalHash(c),
      "a single changed value must change the hash")
    // concatenation cannot blur row boundaries into a collision
    val d = Array(Row("ab"), Row("c"))
    val e = Array(Row("a"), Row("bc"))
    assert(FaultMatrix.canonicalHash(d) != FaultMatrix.canonicalHash(e))
  }

  test("executorPids never offers the driver JVM to the killer") {
    // on a plain test box there are no CoarseGrainedExecutorBackend
    // processes; the invariant that matters is self-exclusion
    assert(!FaultMatrix.executorPids().contains(ProcessHandle.current().pid()))
  }
}
