package graft

/** Plan-evidence dumper for optimization rounds: writes
  * `.explain("formatted")` for the named queries (default: all) to
  * `<outDir>/<query>_<tag>.txt`, building each query's frame exactly
  * as Bench/Verify do (same SessionDefaults, same SPARK_GRAFT_SF_DIR
  * data). Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <tag> [query...]"
  *
  * Plan construction only — no query executes (collect-bearing cores
  * run their bounded build-time jobs, as in any plan build).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [query...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.select(args.drop(2).toSeq)
    val cpus = SessionDefaults.cpus()
    val spark = SessionDefaults.session(SessionDefaults.master(cpus), cpus)
    java.nio.file.Files.createDirectories(outDir)
    queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      // the private explainString surface, via the public Dataset
      // API: capture what .explain("formatted") prints
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        df.explain("formatted")
      }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        out.toByteArray)
      spark.catalog.clearCache()
      println(s"[plandump] $name -> ${outDir.resolve(s"${name}_$tag.txt")}")
    }
    SessionDefaults.stopAndReap(spark)
  }
}
