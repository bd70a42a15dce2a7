package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EnvCatalog, PaginatedSource, Store}

class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("insertIgnore appends only new keys") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    val out = Store.insertIgnore(existing, incoming, Seq("k"))
      .orderBy("k").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("insertIgnore and presaveFilter are idempotent") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    val once = Store.insertIgnore(existing, incoming, Seq("k"))
    val twice = Store.insertIgnore(once, incoming, Seq("k"))
    assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
    val messy = Seq((Some(1L), Some("a")), (Some(1L), Some("a")), (None, None))
      .toDF("K", "V")
    val f1 = Store.presaveFilter(messy)
    assert(Store.presaveFilter(f1).orderBy("k").collect().toSeq ==
      f1.orderBy("k").collect().toSeq)
  }

  test("batchUpdate rewrites only matching rows") {
    val t = Seq((1L, "open", 10.0), (2L, "done", 20.0)).toDF("k", "status", "x")
    val out = Store.batchUpdate(t, $"status" === "open",
        Map("x" -> ($"x" * 2), "status" -> lit("closed")))
      .orderBy("k").as[(Long, String, Double)].collect()
    assert(out.toSeq == Seq((1L, "closed", 20.0), (2L, "done", 20.0)))
  }

  test("filteredDelete keeps the complement, null-safe") {
    val t = Seq((1L, Some("x")), (2L, None), (3L, Some("y"))).toDF("k", "v")
    val out = Store.filteredDelete(t, $"v" === "x").orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L)) // null cond row kept
  }

  test("presaveFilter lowercases, drops all-null rows, dups, dup columns") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("a")),
      (None, None), (Some(2L), None)
    ).toDF("K", "V")
    val out = Store.presaveFilter(df)
    assert(out.columns.toSeq == Seq("k", "v"))
    assert(out.count() == 2) // dup dropped, all-null dropped
  }

  test("EnvCatalog resolves prod/base/registry rules") {
    val reg = Seq(
      ("portfolio_dev1", "portfolio", "dev", null.asInstanceOf[String], "me", true),
      ("portfolio_old", "portfolio", "dev", null.asInstanceOf[String], "me", false),
      ("vol_stage", "vol_surface", "stage", null.asInstanceOf[String], "me", true)
    ).toDF("database_name", "base_name", "environment", "branch_name",
      "created_by", "is_active")
    val cat = new EnvCatalog(reg)
    assert(cat.resolve("master_config", "dev").contains("master_config"))
    assert(cat.resolve("portfolio", "prod").contains("portfolio"))
    assert(cat.resolve("portfolio", "dev").contains("portfolio_dev1")) // active only
    assert(cat.resolve("vol_surface", "dev").isEmpty)
    assert(cat.resolve("vol_surface", "stage").contains("vol_stage"))
  }

  test("diffEnvironments reports bases missing from target") {
    val reg = Seq(
      ("a_dev", "a", "dev", null.asInstanceOf[String], "me", true),
      ("b_dev", "b", "dev", null.asInstanceOf[String], "me", true),
      ("a_stage", "a", "stage", null.asInstanceOf[String], "me", true)
    ).toDF("database_name", "base_name", "environment", "branch_name",
      "created_by", "is_active")
    val missing = new EnvCatalog(reg).diffEnvironments("dev", "stage")
      .as[String].collect()
    assert(missing.toSeq == Seq("b"))
  }

  test("register + softDelete lifecycle") {
    val reg = Seq(("x_dev", "x", "dev", null.asInstanceOf[String], "me", true))
      .toDF("database_name", "base_name", "environment", "branch_name",
        "created_by", "is_active")
    val cat = new EnvCatalog(reg)
    val reg2 = cat.register("y_dev", "y", "dev", "me")
    assert(reg2.count() == 2)
    // re-register same name is ignored (INSERT IGNORE semantics)
    assert(new EnvCatalog(reg2).register("y_dev", "y", "dev", "me").count() == 2)
    val reg3 = new EnvCatalog(reg2).softDelete("y_dev")
    assert(new EnvCatalog(reg3).resolve("y", "dev").isEmpty)
  }

  test("EnvCatalog reads a parquet registry once; the next registry is local") {
    val dir = java.nio.file.Files.createTempDirectory("registry").toString
    Seq(("a_dev", "a", "dev", null.asInstanceOf[String], "me", true),
      ("b_test", "b", "test", null.asInstanceOf[String], "me", true))
      .toDF("database_name", "base_name", "environment", "branch_name",
        "created_by", "is_active")
      .write.mode("overwrite").parquet(dir)
    val reg0 = Tables.readParquet(spark, dir) // footer read, no job
    var missing, reg3: org.apache.spark.sql.DataFrame = null
    val jobs = PlanPurity.jobsDuringConstruction(spark) {
      val reg1 = new EnvCatalog(reg0).register("c_dev", "c", "dev", "me")
      val reg2 = new EnvCatalog(reg1).register("c_dev", "c", "dev", "me")
      missing = new EnvCatalog(reg2).diffEnvironments("test", "dev")
      reg3 = new EnvCatalog(reg2).deleteEnvironment(Seq("dev"))
      missing.queryExecution.optimizedPlan
      reg3
    }
    assert(jobs == 1, s"the lifecycle ran $jobs jobs; only the first registry read may run one")
    for (df <- Seq(missing, reg3)) {
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        df.queryExecution.optimizedPlan.treeString)
    }
    assert(missing.as[String].collect().toSeq == Seq("b"))
    assert(reg3.orderBy("database_name").select("database_name", "is_active")
      .as[(String, Boolean)].collect().toSeq ==
      Seq(("a_dev", false), ("b_test", true), ("c_dev", false)))
  }

  test("EnvCatalog: null is_active or environment is inactive and survives delete") {
    val reg = Seq(
      ("n_dev", "n", "dev", null.asInstanceOf[String], "me", Option.empty[Boolean]),
      ("e_none", "e", null.asInstanceOf[String], null.asInstanceOf[String], "me", Some(true)),
      ("z_dev", "z", "dev", null.asInstanceOf[String], "me", Some(true)),
      ("y_dev", "z", "dev", null.asInstanceOf[String], "me", Some(true)),
      ("x_dev", "z", "dev", null.asInstanceOf[String], "me", Some(false)),
      ("d1_test", "d", "test", null.asInstanceOf[String], "me", Some(true)),
      ("d2_test", "d", "test", null.asInstanceOf[String], "me", Some(true))
    ).toDF("database_name", "base_name", "environment", "branch_name",
      "created_by", "is_active")
    val cat = new EnvCatalog(reg)
    assert(cat.resolve("n", "dev").isEmpty)
    assert(cat.resolve("e", "dev").isEmpty && cat.resolve("e", null).isEmpty)
    assert(cat.resolve("z", "dev").contains("y_dev")) // smallest ACTIVE name
    // left-anti multiplicities: one row per active source row
    assert(cat.diffEnvironments("test", "dev").as[String].collect().toSeq == Seq("d", "d"))
    // an existing name registers as a no-op, whatever the other fields say
    assert(cat.register("z_dev", "other", "stage", "you").collect().toSeq ==
      reg.collect().toSeq)
    val next = cat.deleteEnvironment(Seq("dev"))
      .select("database_name", "is_active").as[(String, Option[Boolean])].collect().toMap
    assert(next == Map("n_dev" -> None, "e_none" -> Some(true), "z_dev" -> Some(false),
      "y_dev" -> Some(false), "x_dev" -> Some(false), "d1_test" -> Some(true),
      "d2_test" -> Some(true)))
  }

  test("jdbcScan reads, partitions, and pushes filters into Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE bars") catch { case _: java.sql.SQLException => }
      st.execute("CREATE TABLE bars(k BIGINT, px DOUBLE)")
      (0L until 10L).foreach(i =>
        st.execute(s"INSERT INTO bars VALUES ($i, ${i * 1.5})"))
    } finally conn.close()
    val plain = Store.jdbcScan(spark, url, "bars")
    assert(plain.count() == 10)
    assert(plain.filter($"k" === 3L).select($"px").head().getDouble(0) == 4.5)
    // partitioned read: n range predicates = n parallel tasks
    val parted = Store.jdbcScan(spark, url, "bars", Some(("k", 0L, 10L, 3)))
    assert(parted.rdd.getNumPartitions == 3)
    assert(parted.agg(sum($"k")).head().getLong(0) == 45L)
    // filter reaches the JDBC relation (remote engine), not Spark
    val plan = plain.filter($"k" === 3L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(K,3)"), plan)
    // write side: append then read back
    Store.jdbcAppend(Seq((100L, 9.9)).toDF("k", "px"), url, "bars")
    assert(Store.jdbcScan(spark, url, "bars").count() == 11)
  }

  test("truncate keeps schema, empties data") {
    val t = Seq((1L, "a")).toDF("k", "v")
    val out = Store.truncate(t)
    assert(out.schema == t.schema)
    assert(out.count() == 0)
  }

  test("paginatedScan follows tokens, accumulates pages, bounds the walk") {
    def page(rows: Seq[Long]) = rows.toDF("k")
    val pages = Map(
      None -> (page(Seq(1L, 2L)), Some("p2")),
      Some("p2") -> (page(Seq(3L)), Some("p3")),
      Some("p3") -> (page(Seq(4L, 5L)), None))
    val out = PaginatedSource.paginatedScan(pages(_))
      .orderBy("k").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // a token walk that never terminates trips the page guard
    assertThrows[IllegalStateException](
      PaginatedSource.paginatedScan(
        _ => (page(Seq(9L)), Some("again")), maxPages = 3))
  }

  test("validateName whitelists identifiers, rejects injection shapes") {
    assert(EnvCatalog.validateName("portfolio_dev-1") == "portfolio_dev-1")
    for (bad <- Seq(null, "", "a b", "a;b", "a`b", "a'b", "a--b", "db.t", "a/*b*/"))
      assertThrows[IllegalArgumentException](EnvCatalog.validateName(bad))
    assert(EnvCatalog.parseProtectedEnvironments(" prod , prod ,stage") ==
      Seq("prod", "stage"))
    assert(EnvCatalog.parseProtectedEnvironments(null).isEmpty)
    assertThrows[IllegalArgumentException](
      EnvCatalog.parseProtectedEnvironments("prod,bad name"))
  }

  private def emptyRegistry = Seq.empty[(String, String, String, String, String, Boolean)]
    .toDF("database_name", "base_name", "environment", "branch_name",
      "created_by", "is_active")

  /** Drop a test database AND scrub its warehouse location — a failed
    * earlier run can leave an orphaned directory that blocks managed-
    * table creation (LOCATION_ALREADY_EXISTS).
    */
  private def resetDb(name: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"$name.db")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  test("cloneSchema clones tables (schema-only and with data)") {
    Seq("clone_src", "clone_tgt", "clone_tgt_data").foreach(resetDb)
    spark.sql("CREATE DATABASE clone_src")
    Seq((1L, 2.0)).toDF("k", "px").write.saveAsTable("clone_src.bars")
    val cat = new EnvCatalog(emptyRegistry)
    assert(cat.cloneSchema("clone_src", "clone_tgt") == Seq("bars"))
    assert(spark.table("clone_tgt.bars").schema ==
      spark.table("clone_src.bars").schema)
    assert(spark.table("clone_tgt.bars").count() == 0) // schema only
    cat.cloneSchema("clone_src", "clone_tgt_data", withData = true)
    assert(spark.table("clone_tgt_data.bars").count() == 1)
    // source untouched
    assert(spark.table("clone_src.bars").count() == 1)
    // session temp views are NOT part of the database schema
    Seq((9L, 9.0)).toDF("k", "px").createOrReplaceTempView("stray_view")
    resetDb("clone_tgt2")
    assert(cat.cloneSchema("clone_src", "clone_tgt2") == Seq("bars"))
    spark.catalog.dropTempView("stray_view")
  }

  test("syncMissingTables dry-runs by default, applies on request") {
    Seq("sync_src", "sync_tgt").foreach(resetDb)
    spark.sql("CREATE DATABASE sync_src")
    spark.sql("CREATE DATABASE sync_tgt")
    Seq((1L, "a")).toDF("k", "v").write.saveAsTable("sync_src.t1")
    Seq((2L, "b")).toDF("k", "v").write.saveAsTable("sync_src.t2")
    Seq((9L, "z")).toDF("k", "v").write.saveAsTable("sync_tgt.t1")
    val cat = new EnvCatalog(emptyRegistry)
    val dry = cat.syncMissingTables("sync_src", "sync_tgt")
    assert(dry == EnvCatalog.SyncResult(Seq("t2"), dryRun = true))
    assert(!spark.catalog.tableExists("sync_tgt.t2")) // dry run: no DDL
    val applied = cat.syncMissingTables("sync_src", "sync_tgt",
      copyData = true, apply = true)
    assert(applied == EnvCatalog.SyncResult(Seq("t2"), dryRun = false))
    assert(spark.table("sync_tgt.t2").count() == 1)
    assert(spark.table("sync_tgt.t1").count() == 1) // pre-existing untouched
  }

  test("syncEnvironments clones + registers missing bases; dry-run inert") {
    Seq("envsync_a_dev", "envsync_a_stage").foreach(resetDb)
    spark.sql("CREATE DATABASE envsync_a_dev")
    Seq((1L, 1.5)).toDF("k", "px").write.saveAsTable("envsync_a_dev.q")
    val reg = Seq(("envsync_a_dev", "envsync_a", "dev", null.asInstanceOf[String], "me", true))
      .toDF("database_name", "base_name", "environment", "branch_name",
        "created_by", "is_active")
    val cat = new EnvCatalog(reg)
    val (sameReg, plan) = cat.syncEnvironments("dev", "stage")
    assert(plan == Seq("envsync_a" -> "envsync_a_stage"))
    assert(sameReg eq reg) // dry run: registry unchanged, no DDL
    assert(!spark.catalog.databaseExists("envsync_a_stage"))
    val (nextReg, _) = cat.syncEnvironments("dev", "stage", apply = true)
    assert(spark.catalog.tableExists("envsync_a_stage.q"))
    assert(new EnvCatalog(nextReg).resolve("envsync_a", "stage")
      .contains("envsync_a_stage"))
  }

  test("syncEnvironments plans and clones a base shared by two rows once") {
    Seq("envsync_b_dev1", "envsync_b_dev2", "envsync_b_stage").foreach(resetDb)
    spark.sql("CREATE DATABASE envsync_b_dev1")
    spark.sql("CREATE DATABASE envsync_b_dev2")
    Seq((1L, 1.5)).toDF("k", "px").write.saveAsTable("envsync_b_dev1.t1")
    Seq((2L, 2.5)).toDF("k", "px").write.saveAsTable("envsync_b_dev2.t2")
    val reg = Seq(
      ("envsync_b_dev2", "envsync_b", "dev", null.asInstanceOf[String], "me", true),
      ("envsync_b_dev1", "envsync_b", "dev", null.asInstanceOf[String], "me", true)
    ).toDF("database_name", "base_name", "environment", "branch_name",
      "created_by", "is_active")
    val cat = new EnvCatalog(reg)
    assert(cat.syncEnvironments("dev", "stage")._2 == Seq("envsync_b" -> "envsync_b_stage"))
    val creates = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.nodeName.startsWith("CreateTableLike")) creates.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (nextReg, plan) = try cat.syncEnvironments("dev", "stage", apply = true) finally {
      Ledger.of(spark).snapshot() // drains the bus the executions arrive on
      spark.listenerManager.unregister(listener)
    }
    assert(plan == Seq("envsync_b" -> "envsync_b_stage"))
    // one clone, from envsync_b_dev1: the database resolve picks for the base
    assert(cat.resolve("envsync_b", "dev").contains("envsync_b_dev1"))
    assert(creates.get == 1)
    assert(spark.catalog.listTables("envsync_b_stage").collect()
      .filterNot(_.isTemporary).map(_.name).toSeq == Seq("t1"))
    assert(new EnvCatalog(nextReg).resolve("envsync_b", "stage").contains("envsync_b_stage"))
  }

  test("deleteEnvironment refuses protected envs, drops + soft-deletes others") {
    resetDb("doomed_db_dev")
    spark.sql("CREATE DATABASE doomed_db_dev")
    val reg = Seq(
      ("doomed_db_dev", "doomed_db", "dev", null.asInstanceOf[String], "me", true),
      ("keep_db_prod", "keep_db", "prod", null.asInstanceOf[String], "me", true)
    ).toDF("database_name", "base_name", "environment", "branch_name",
      "created_by", "is_active")
    val cat = new EnvCatalog(reg, protectedEnvs = Seq("prod"))
    val ex = intercept[IllegalArgumentException](cat.deleteEnvironment(Seq("prod")))
    assert(ex.getMessage.contains("protected"))
    assert(spark.catalog.databaseExists("doomed_db_dev"))
    val next = cat.deleteEnvironment(Seq("dev"))
    assert(!spark.catalog.databaseExists("doomed_db_dev"))
    assert(new EnvCatalog(next).resolve("doomed_db", "dev").isEmpty)
    // audit trail: the row survives, inactive
    assert(next.filter($"database_name" === "doomed_db_dev").count() == 1)
  }

  test("writePartitionedBars lays out (key, date) directories and prunes") {
    import java.sql.Timestamp
    val bars = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-02 10:00:00"), 2.0),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 3.0)
    ).toDF("root", "ts", "px")
    val dir = java.nio.file.Files.createTempDirectory("bars").toString
    Store.writePartitionedBars(bars, dir, "root", "ts")
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("root="))
    assert(dirs.toSet == Set("root=1", "root=2"))
    // partition pruning: only the matching directory is scanned
    val pruned = spark.read.parquet(dir)
      .filter($"root" === 1L && $"date" === "2024-01-01")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 1)
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("writeZClustered: every file covers a small rectangle of BOTH dims") {
    // 64x64 grid, one row per cell, written as 16 z-clustered files:
    // a perfect z-curve gives each file a 16x16 rectangle (span 15 per
    // dim). A single-column sort would give span 63 on the other dim
    // for every file — the layout either prunes both dims or it
    // doesn't cluster at all.
    val grid = spark.range(64L * 64)
      .select(($"id" % 64).as("a"), ($"id" / 64).cast("long").as("b"),
        $"id".as("v"))
    val dir = java.nio.file.Files.createTempDirectory("zclust").toString
    Store.writeZClustered(grid, dir, "a", "b", 16)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length == 16, files.length.toString)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max($"a") - min($"a"), max($"b") - min($"b")).head()
      (r.getLong(0), r.getLong(1))
    }
    // range boundaries can land mid-rectangle; 31 (= 2 rectangles)
    // still prunes 75% of files for a point query per dim, vs 63
    // (no clustering) pruning nothing
    assert(spans.forall { case (sa, sb) => sa <= 31 && sb <= 31 },
      spans.mkString(", "))
  }

  test("writeBucketed: co-bucketed join plans without a shuffle exchange") {
    Seq("bkt_orders", "bkt_lineitem").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val dir = "/root/testdata/sf0.001"
    Store.writeBucketed(
      Tables.load(spark, dir, "orders").select($"o_orderkey", $"o_totalprice"),
      "bkt_orders", "o_orderkey", 8)
    Store.writeBucketed(
      Tables.load(spark, dir, "lineitem")
        .select($"l_orderkey".as("o_orderkey"), $"l_quantity"),
      "bkt_lineitem", "o_orderkey", 8)
    val joined = spark.table("bkt_orders")
      .join(spark.table("bkt_lineitem"), "o_orderkey")
    // the bucket layout satisfies the join's distribution requirement:
    // no hashpartitioning exchange on either side
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
    // and the result matches the plain (shuffling) join
    val plain = Tables.load(spark, dir, "orders").select($"o_orderkey", $"o_totalprice")
      .join(Tables.load(spark, dir, "lineitem")
        .select($"l_orderkey".as("o_orderkey"), $"l_quantity"), "o_orderkey")
    assert(joined.count() == plain.count())
    Seq("bkt_orders", "bkt_lineitem").foreach(t => spark.sql(s"DROP TABLE $t"))
  }
}
