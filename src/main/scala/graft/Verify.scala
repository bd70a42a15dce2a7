package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

import BenchCore.{jobj, jstr}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_failures.json naming each query that failed ([[dump]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: run only the named queries (local iteration;
    // the driver always passes exactly two args → full dump)
    val queries = SparkEntry.select(args.drop(2).toSeq)
    val cpus = SessionDefaults.cpus()
    // GRAFT_MASTER support (SessionDefaults.master): the multi-executor
    // attestation reruns this SAME dump under local-cluster, proving
    // the oracle-green results hold across real executor boundaries.
    // NOTE: default INT96 parquet timestamps are intentional — they
    // read back as tz-naive values matching the DuckDB oracle's naive
    // timestamps; TIMESTAMP_MICROS would add a UTC tz annotation and
    // break value comparison.
    val spark = SessionDefaults.session(SessionDefaults.master(cpus), cpus)
    // Fail LOUDLY before any query runs if the driver regenerated the
    // testdata with different column types (the Aug-13 drift cost 39
    // queries one silent analysis error at a time).
    Tables.assertSchemas(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // structural guard: an oracle without a query would silently earn
    // zero correctness rows (the round-2 OlapQueries wiring bug)
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    if (orphaned.nonEmpty) {
      System.err.println(
        s"[verify] oracles without queries: ${orphaned.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    dump(spark, sfDir, outDir, queries)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql))
    SessionDefaults.stopAndReap(spark)
  }

  /** Writes each query's result to `outDir/<name>` as parquet, and
    * `outDir/verify_failures.json`: each query whose build or write
    * threw, mapped to `"ExceptionClass: message"` (`{}` on a clean run).
    * Returns that map.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Map[String, String] = {
    val failures = queries.toSeq.flatMap { case (name, fn) =>
      val failure =
        try {
          val df = fn(spark, sfDir)
          // ordered materialization (see Staging.pinCaches): build each
          // multi-consumer cache once, sequentially, so no concurrent
          // stage of the dump races an unbuilt cache
          graft.operators.Staging.pinCaches(df)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      // drop per-query persists (q24/q25 signature staging) so cached
      // blocks don't accumulate across the 50+ query dumps
      spark.catalog.clearCache()
      failure
    }.toMap
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      jsonObject(failures.toSeq.sorted))
    failures
  }

  // string → string as `"k": "v"` (a space after each colon), so both
  // files stay byte-comparable with earlier dumps
  private def jsonObject(kv: Iterable[(String, String)]): String =
    jobj(kv.map { case (k, v) => k -> (" " + jstr(v)) })
}
