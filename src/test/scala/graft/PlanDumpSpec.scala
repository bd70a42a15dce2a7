package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanDump.dump]] writes the plan AQE ran, not the initial one. */
class PlanDumpSpec extends AnyFunSuite {

  test("a finance query dumps its final adaptive plan") {
    val out = Files.createTempDirectory("plandump")
    val name = "q88_stream_stream_join"
    PlanDump.dump(TestSpark.spark, "/root/testdata/sf0.001", out.toString, "t",
      SparkEntry.select(Seq(name)))
    val text = new String(Files.readAllBytes(out.resolve(s"${name}_t.txt")), UTF_8)
    assert(text.contains("== Final Plan ==") && text.contains("Arguments: isFinalPlan=true"),
      text.take(2000))
    assert(!text.contains("isFinalPlan=false"), text.take(2000))
  }
}
