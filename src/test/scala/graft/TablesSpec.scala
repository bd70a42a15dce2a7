package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MetadataBuilder}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Store

/** The schema-adaptive events loader and the testdata-drift guard —
  * the Aug-13 regeneration changed `events.ts`'s parquet physical
  * type and silently killed every events query; these tests pin the
  * loader's branch behavior and prove the guard names drift loudly.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val driverDir = "/root/testdata/sf0.001"

  /** A copy of the tables [[Tables.assertSchemas]] checks, each passed
    * through `change(name, frame)` on the way.
    */
  private def driftedCopy(change: (String, DataFrame) => DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    Seq("events", "documents", "embeddings", "lineitem", "orders").foreach { t =>
      change(t, spark.read.parquet(s"$driverDir/$t.parquet"))
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("events loads with a session-TZ timestamp ts whatever the vintage") {
    val df = Tables.load(spark, driverDir, "events")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.count() > 0)
  }

  test("eventsInRange pushes the range into the scan and brackets correctly") {
    val all = Tables.load(spark, driverDir, "events")
    val lo = "2024-01-05"
    val hi = "2024-01-07"
    val ranged = Tables.eventsInRange(spark, driverDir, lo, hi)
    val expected = all.filter(
      col("ts") >= lit(s"$lo 00:00:00").cast("timestamp") &&
        col("ts") < lit(s"$hi 00:00:00").cast("timestamp")).count()
    assert(ranged.count() == expected && expected > 0)
    // the predicate must reach the FileScan, not sit above a conversion
    val scan = ranged.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PushedFilters") &&
      (scan.contains("GreaterThanOrEqual(ts") || scan.contains("DataFilters")),
      scan)
  }

  test("loadSpreadLocal: spreads on the local profile, plain scan on cluster") {
    val dir = "/root/testdata/sf0.001"
    val localPlan = Tables.loadSpreadLocal(spark, dir, "lineitem", spread = true)
      .queryExecution.executedPlan.toString
    assert(localPlan.contains("Exchange RoundRobinPartitioning"),
      "local profile must round-robin the scan:\n" + localPlan)
    val clusterPlan = Tables.loadSpreadLocal(spark, dir, "lineitem", spread = false)
      .queryExecution.executedPlan.toString
    assert(!clusterPlan.contains("Exchange"),
      "cluster profile must be the untouched scan (row groups parallelize it):\n" + clusterPlan)
  }

  test("assertSchemas passes on driver data and names a drifted column") {
    Tables.assertSchemas(spark, driverDir) // must not throw
    // plant a drifted copy: events.ts as a string (a shape the guard
    // must call out when the loader contract breaks), every other
    // checked table copied as is
    val dir = driftedCopy {
      case ("events", df) => df.withColumn("ts", lit("not a timestamp"))
      case (_, df) => df
    }
    val e = intercept[RuntimeException] { Tables.assertSchemas(spark, dir) }
    assert(e.getMessage.contains("events") && e.getMessage.contains("ts"),
      e.getMessage)
  }

  test("the footer schema is the schema Spark's inference job finds") {
    for (sf <- Seq("sf0.001", "sf0.01"); t <- Tables.all) {
      val path = s"/root/testdata/$sf/$t.parquet"
      assert(Tables.readParquet(spark, path).schema == spark.read.parquet(path).schema,
        s"$sf/$t")
    }
    // Store-written directories: several part files, a Spark schema with
    // field metadata in each footer, and hive-style partition directories
    val meta = new MetadataBuilder().putString("unit", "usd").build()
    val bars = spark.range(200).select(
      (col("id") % 4).as("root"),
      timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("ts"),
      col("id").cast("double").as("px", meta))
    val base = java.nio.file.Files.createTempDirectory("footer").toString
    Store.writeZClustered(bars, s"$base/z", "root", "px", 4)
    Store.writePartitionedBars(bars, s"$base/bars", "root", "ts")
    for (d <- Seq(s"$base/z", s"$base/bars")) {
      val want = spark.read.parquet(d).schema
      assert(Tables.readParquet(spark, d).schema == want, d)
      assert(want("px").metadata == meta, d)
    }
  }

  test("Tables.load starts no Spark job") {
    val loads = Tables.all.map(t => t -> (() => Tables.load(spark, driverDir, t))) :+
      ("eventsInRange" -> (() => Tables.eventsInRange(spark, driverDir, "2024-01-05", "2024-01-07")))
    for ((name, load) <- loads) {
      val jobs = PlanPurity.jobsDuringConstruction(spark)(load())
      assert(jobs == 0, s"loading $name started $jobs Spark job(s)")
    }
  }

  test("assertSchemas names a renamed and a retyped column of a drifted copy") {
    val dir = driftedCopy {
      case ("lineitem", df) => df.withColumnRenamed("l_quantity", "l_qty")
      case ("orders", df) => df.withColumn("o_orderkey", col("o_orderkey").cast(IntegerType))
      case (_, df) => df
    }
    val e = intercept[RuntimeException] { Tables.assertSchemas(spark, dir) }
    assert(e.getMessage.contains("lineitem.l_quantity: MISSING") &&
      e.getMessage.contains("orders.o_orderkey") && !e.getMessage.contains("events"),
      e.getMessage)
  }
}
