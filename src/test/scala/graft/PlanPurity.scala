package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared harness for the "plan construction is pure" specs
  * (BandCapSpec/JaccardCapSpec, and TablesSpec's loads): builds a DataFrame
  * under a job tag and returns the Spark jobs it started —
  * the runtime-existence-check pattern (`limit(1).count()` at plan time)
  * must never reappear in any q24-family constructor. One copy of the
  * window, so a fix to it can't land in one spec and silently miss the
  * other.
  */
object PlanPurity {

  /** Runs `build`, forces analysis + optimization of its result, and
    * returns the number of jobs started during either. Only jobs that
    * carry the window's job tag count: the tag is a local property of
    * the building thread, inherited by threads it starts and captured
    * by AQE's stage threads, so every job the construction launches
    * carries it. A job an earlier query left running does not: AQE can
    * submit a stage it no longer needs after the query's action has
    * returned (q25's capped runs do, some milliseconds later), and a
    * count of every job on the context would charge it to the next
    * construction. One marker job under a tag of its own, after the
    * build, closes the window: the bus is FIFO, so once the status
    * tracker shows the marker every construction-time job has counted
    * too. Callers must resolve their SOURCE frames before calling (a
    * bare spark.read.parquet pays its own schema-inference job, which
    * is the scan's, not the query's; TablesSpec holds `Tables` loads to
    * zero jobs). The count lets the caller's assert carry a
    * query-specific message.
    */
  def jobsDuringConstruction(spark: SparkSession)(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    val tag = s"plan-purity-${System.nanoTime()}"
    def tagged[T](t: String)(body: => T): T = {
      sc.addJobTag(t)
      try body finally sc.removeJobTag(t)
    }
    try {
      tagged(tag)(build.queryExecution.optimizedPlan) // force analysis + optimization
      tagged(s"$tag-marker")(sc.parallelize(Seq(1), 1).count())
      Ledger.of(spark).snapshot() // drains the bus
      assert(sc.statusTracker.getJobIdsForTag(s"$tag-marker").nonEmpty,
        "listener flush marker never observed")
      sc.statusTracker.getJobIdsForTag(tag).length
    } finally spark.catalog.clearCache()
  }
}
