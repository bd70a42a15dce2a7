package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Plan-evidence dumper for optimization rounds: writes
  * `.explain("formatted")` of the plan each named query (default: all)
  * RAN to `<outDir>/<query>_<tag>.txt`, building each query's frame
  * exactly as Bench/Verify do (same SessionDefaults, same
  * SPARK_GRAFT_SF_DIR data). Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <tag> [query...]"
  *
  * Each query executes once ([[dump]]), so the dump is AQE's final plan
  * (`isFinalPlan=true`) with every runtime re-plan in it: join
  * switches, coalescing and the final-sort decision from stage sizes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.select(args.drop(2).toSeq)
    val cpus = SessionDefaults.cpus()
    val spark = SessionDefaults.session(SessionDefaults.master(cpus), cpus)
    dump(spark, sfDir, args(0), args(1), queries)
    SessionDefaults.stopAndReap(spark)
  }

  /** Builds each query's frame, pins its multi-consumer caches
    * ([[graft.operators.Staging.pinCaches]]), runs it once through its
    * own `QueryExecution` with the rows discarded on the executors (none
    * reach the driver), and writes that execution's
    * `explain("formatted")` to `<outDir>/<query>_<tag>.txt`.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      graft.operators.Staging.pinCaches(df)
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe)(qe.executedPlan.execute().foreach(_ => ()))
      // the private explainString surface, via the public Dataset
      // API: capture what .explain("formatted") prints
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        df.explain("formatted")
      }
      val file = Paths.get(outDir, s"${name}_$tag.txt")
      Files.write(file, out.toByteArray)
      spark.catalog.clearCache()
      println(s"[plandump] $name -> $file")
    }
  }
}
