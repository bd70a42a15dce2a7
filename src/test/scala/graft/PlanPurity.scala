package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared harness for the "plan construction is pure" specs
  * (BandCapSpec/JaccardCapSpec, and TablesSpec's loads): builds a DataFrame under a
  * job-counting listener and asserts ZERO Spark jobs ran — the
  * runtime-existence-check pattern (`limit(1).count()` at plan time)
  * must never reappear in any q24-family constructor. One copy of the
  * listener/marker machinery, so a fix to the async-bus race handling
  * can't land in one spec and silently miss the other.
  */
object PlanPurity {

  /** Runs `build`, forces analysis + optimization of its result, and
    * asserts no Spark job started during either. The listener bus is
    * async and FIFO, so it is drained before the listener is added
    * (a job that started earlier, such as the caller's last action, can
    * still be queued) and a tagged marker job is run afterwards and the
    * wait is for ITS event — any construction-time job event would
    * have to arrive before it. Callers must resolve their SOURCE
    * frames before calling (a bare spark.read.parquet pays its own
    * schema-inference job, which is the scan's, not the query's;
    * TablesSpec holds `Tables` loads to zero jobs).
    *
    * Returns the number of jobs observed so the caller's assert
    * carries a query-specific message.
    */
  def jobsDuringConstruction(spark: SparkSession)(build: => DataFrame): Int = {
    val marker = s"plan-purity-marker-${System.nanoTime()}"
    val planJobs = new AtomicInteger(0)
    val markerSeen = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            marker == js.properties.getProperty("spark.jobGroup.id"))
          markerSeen.incrementAndGet()
        else planJobs.incrementAndGet()
    }
    ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = build
      df.queryExecution.optimizedPlan // force analysis + optimization
      spark.sparkContext.setJobGroup(marker, "listener flush")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime + 5L * 1000 * 1000 * 1000
      while (markerSeen.get() == 0 && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(markerSeen.get() > 0, "listener flush marker never observed")
      planJobs.get()
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }
}
