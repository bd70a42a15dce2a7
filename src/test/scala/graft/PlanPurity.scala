package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared harness for the "plan construction is pure" specs
  * (BandCapSpec/JaccardCapSpec, and TablesSpec's loads): builds a DataFrame
  * inside a [[Ledger]] window and returns the Spark jobs it started —
  * the runtime-existence-check pattern (`limit(1).count()` at plan time)
  * must never reappear in any q24-family constructor. One copy of the
  * window, so a fix to it can't land in one spec and silently miss the
  * other.
  */
object PlanPurity {

  /** Runs `build`, forces analysis + optimization of its result, and
    * returns the number of jobs started during either. The window's
    * snapshots drain the listener bus, so a job started earlier (such
    * as the caller's last action) counts before it. One marker job,
    * tagged with a [[Ledger.DecisionKey]] value, closes the window: the
    * bus is FIFO, so once the ledger shows the marker every
    * construction-time job has counted too. Callers must resolve their
    * SOURCE frames before calling (a bare spark.read.parquet pays its
    * own schema-inference job, which is the scan's, not the query's;
    * TablesSpec holds `Tables` loads to zero jobs). The count lets the
    * caller's assert carry a query-specific message.
    */
  def jobsDuringConstruction(spark: SparkSession)(build: => DataFrame): Int = {
    val ledger = Ledger.of(spark)
    val sc = spark.sparkContext
    val marker = s"plan-purity-marker-${System.nanoTime()}"
    val before = ledger.snapshot()
    try {
      build.queryExecution.optimizedPlan // force analysis + optimization
      sc.setLocalProperty(Ledger.DecisionKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Ledger.DecisionKey, null)
      val window = ledger.snapshot() - before
      assert(window.decisions.contains(marker), "listener flush marker never observed")
      (window.jobs - 1).toInt
    } finally spark.catalog.clearCache()
  }
}
