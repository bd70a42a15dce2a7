// Build-rule probe: how much of a query's frame build is Catalyst rule
// work. Each of the four risk queries (q43, q75, q81, q89; edit `names`
// to probe others) is built (its `SparkEntry.queries` function called,
// which analyses every Dataset step; nothing is executed) 3 times to warm
// up, then 10 times with the rule metering reset before each build. The
// session is the engine's own (SessionDefaults.session on local[4]).
//
//   sbt compile
//   SPARK_GRAFT_SF_DIR=<test tables> $SPARK_HOME/bin/spark-shell --master 'local[1]' \
//     --driver-memory 2g --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false -I tools/build_rules_probe.scala
//
// SPARK_GRAFT_SF_DIR names the tables (required). Prints one `build`
// line per timed build (wall ms of the build, rule runs and rule ms from
// RuleExecutor.getCurrentMetrics(), effective runs being those that
// changed the plan) and one `build_median` line per query (the mean of
// the two middle builds). The rule meter is process-wide, so run nothing else in the JVM.

import org.apache.spark.sql.catalyst.rules.RuleExecutor

object BuildRulesProbe {
  def main(): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a directory of test tables"))
    val names = Seq("q43_risk_enrichment", "q75_snapshot_greeks",
      "q81_option_data_to_save", "q89_missing_vol_rescue")
    val warmups = 3
    val builds = 10
    val s = graft.SessionDefaults.session("local[4]", "4")

    def median(xs: Seq[Double]): Double = {
      val v = xs.sorted
      (v((v.size - 1) / 2) + v(v.size / 2)) / 2
    }
    for ((name, fn) <- graft.SparkEntry.select(names)) {
      (0 until warmups).foreach(_ => fn(s, dir))
      val rows = (0 until builds).map { i =>
        RuleExecutor.resetMetrics()
        val t0 = System.nanoTime()
        fn(s, dir)
        val ms = (System.nanoTime() - t0) / 1e6
        val m = RuleExecutor.getCurrentMetrics()
        println(f"build query=$name i=$i build_ms=$ms%.1f rule_runs=${m.numRuns} " +
          f"effective_runs=${m.numEffectiveRuns} rule_ms=${m.time / 1e6}%.1f")
        (ms, m.numRuns.toDouble, m.time / 1e6)
      }
      println(f"build_median query=$name builds=$builds build_ms=${median(rows.map(_._1))}%.1f " +
        f"rule_runs=${median(rows.map(_._2))}%.0f rule_ms=${median(rows.map(_._3))}%.1f")
    }
    s.stop()
  }
}

spark.stop()
BuildRulesProbe.main()
System.exit(0)
