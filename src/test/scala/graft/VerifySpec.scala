package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def failuresFile(out: String): String =
    Files.readString(Paths.get(out, "verify_failures.json"))

  test("a query that throws lands in verify_failures.json") {
    val out = Files.createTempDirectory("verify_dump").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_boom" -> ((_, _) => throw new IllegalStateException("boom \"here\"\tthen")))
    val failures = Verify.dump(spark, "unused", out, queries)
    assert(failures == Map("q_boom" -> "java.lang.IllegalStateException: boom \"here\"\tthen"))
    assert(failuresFile(out) ==
      """{"q_boom": "java.lang.IllegalStateException: boom \"here\"\tthen"}""")
  }

  test("a clean dump writes each result and an empty verify_failures.json") {
    val out = Files.createTempDirectory("verify_dump").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s, _) => s.range(3).toDF("id")))
    assert(Verify.dump(spark, "unused", out, queries).isEmpty)
    assert(failuresFile(out) == "{}")
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
  }

  test("a misspelled query name fails instead of dumping nothing") {
    val out = Files.createTempDirectory("verify_dump").toString
    val e = intercept[IllegalArgumentException](
      Verify.main(Array("unused", out, "q8x_typo")))
    assert(e.getMessage.contains("unknown queries: q8x_typo"))
    assert(!Files.exists(Paths.get(out, "verify_failures.json")))
  }

  test("fewer than two args is a usage error, not a MatchError") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("/tmp/only")))
    assert(e.getMessage.contains("usage: Verify <sfDir> <outDir>"))
  }
}
