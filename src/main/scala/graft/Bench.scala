package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import BenchCore.{jarr, jnum, jobj, jstr}

/** Benchmark main (driver contract): one JSON line with total and
  * per-query wall seconds at SPARK_GRAFT_SF_DIR.
  *
  * Methodology: one warmup pass (JIT + codegen + shuffle-service warm)
  * whose times seed the measurement, two more timed passes (min-of-3
  * total; sub-0.3 s-warmup queries take one — they cannot move the 2×
  * bar), outlier re-measure via [[BenchCore]], a hard wall-clock
  * budget (SPARK_GRAFT_BENCH_BUDGET_S, default 1400 s), and
  * incremental JSON persistence after every sample. A corpus query's
  * per-query arrays thus hold 1 warmup + 1 timed pass (warmup under
  * 0.3 s) or 2 + 0-2 reruns (spread over 3x), budget permitting: their
  * length can differ between runs of the same code, so a parity check
  * compares that rule, not raw lengths. Every run also
  * records its process-CPU delta: the JSON carries per-query "cpu"
  * (the CPU seconds of the pass that produced the min) and
  * "cpu_passes", so a slow entry is attributable to plan compute vs
  * a loaded box without a rerun. The warmup warms codegen only
  * because [[SessionDefaults.CodegenCacheEntries]] sizes Spark's
  * compiled-class cache to the whole engine; at Spark's default of
  * 100 entries the ~2,480 classes of a full pass evicted each other
  * and every timed pass recompiled them. "codegen_compiles" (per
  * query, per pass, read outside the timed window) shows it: a warm
  * pass compiles ~0. The sf1 scale probe (warmup + 1
  * pass + ratio-alarm confirms, [[BenchCore.probeMeasure]]) persists
  * per-entry samples/spread_all/pass counts (spread_all includes the
  * seeded warmup, unlike the corpus "spread" — the probe seed runs
  * in a warm JVM), names all-runs-failed entries in "failed" and
  * budget-cut ones in "truncated" (value maps hold only measured
  * entries), and records the budget left at its start/end, so a
  * superlinear number in the artifact is re-measured evidence, never
  * a budget-truncated single sample. Each query is forced through the
  * noop sink so every column is materialized (a bare count() would
  * let Catalyst prune the computation being measured).
  */
object Bench {
  /** sf1 probe set: the most expensive queries AND the fastest-growing
    * ones from the full SCALE_PROBE audit (q88 9.2x, q26 8.5x on 10x
    * data) — a superlinear drift shows here first. BenchSpec asserts
    * every entry resolves against SparkEntry.queries so a rename can't
    * silently shrink the probe.
    */
  val probeNames: Seq[String] = Seq("q26_simhash_near_dup",
    "q80_ivf_multiprobe", "q81_option_data_to_save", "q82_dedup_clusters",
    "q83_semantic_dedup", "q86_bm25_topk", "q87_bloom_decontaminate",
    "q88_stream_stream_join", "q93_asof_forward", "q94_asof_tolerance",
    "q96_image_decode",
    // the q88 mitigation pair and the bucketized range join: cheap at
    // sf1, and a superlinear drift in any of them means the skew story
    // (SCALE_PROBE.md round-11 table) no longer holds
    "q99_error_window_join", "q100_bucketed_interval_count",
    "q103_capped_interval_join",
    // round 11: the substring-dedup gram index, the winnow-sketch
    // candidate self-join, and the DSIR double-scan are the newest
    // full-corpus-shuffle queries — the class whose sf1 ratio matters
    "q107_substring_dedup", "q113_winnow_near_dup", "q114_dsir_resample",
    // round 13: the hybrid-retrieval fusion (two bounded candidate
    // lists — its sf1 ratio should track the corpus scan, not the
    // fusion) and the PQ pipeline (training is sample-bound; encode +
    // ADC is the corpus-linear part)
    "q122_hybrid_rrf", "q123_pq_adc_search",
    // round 13 (late): retention composes the LSH pair + component
    // machinery end-to-end (the heaviest dedup chain), and the
    // edit-distance dedup's prefix blocks must stay capped — both
    // would show any quadratic drift here first
    "q128_dedup_retention", "q134_edit_distance_dedup",
    // round 14: the calibration audit was the costliest sf0.1 query
    // pre-slim; its sf1 ratio now guards both the band-bucket cap and
    // the candidate-bounded shingle refetch
    "q147_minhash_calibration",
    // round 15: the leakage-safe split is now the heaviest corpus
    // query and composes the newest machinery end-to-end (LSH pairs ∪
    // exact-md5 star edges → pointer-doubled components → fold hash) —
    // a superlinear drift in any of those parts shows here first
    "q102_leakage_safe_split",
    // round 16: chunk retrieval was the cluster-profile probe's worst
    // coalescing casualty (31.6 s serialized -> 4.7 s after the
    // spread + literal-df rework); its ratio now guards the chunker
    // spread and the bounded-collect scoring shape
    "q125_chunk_retrieval",
    // round 18: the streaming LSH gate's batch face — its ratio
    // guards the stream-static anti-join + windowed all-bands check
    // over the full band index (and the corpus-side kernel spread)
    "q159_neardup_gate",
    // round 19: the composed IVFADC index — assignment/encode must
    // stay one map-only corpus scan (both quantizers enter as
    // literals), so its sf1 ratio guards the whole literal-index
    // discipline; scoring is cell-restricted (~nprobe/nlist)
    "q160_ivfpq_search",
    // round 19: the global shuffle's per-shard rank is the newest
    // corpus-wide window — its ratio guards the derived-k shard
    // bound (k floors at 8 across probe scales, so the window
    // partition grows with the corpus here; sub-linear wall means
    // the 8-task sort is not yet the bottleneck, and past 8·100k
    // docs k itself grows)
    "q161_training_shuffle",
    // round 18 (driver): the two compute-densest crawl extractions —
    // the HTML strip is ~20 regex passes/row and the BPE apply an
    // O(word²·merges) worst-case loop; both must stay linear map-only
    // scans, so their sf1 ratio guards the kernel-spread shape (the
    // URL family rides the same scan and is strictly cheaper)
    "q162_html_extract", "q164_bpe_apply",
    // round 19 (driver): the tokenizer lifecycle — training's corpus
    // cost is ONE word-frequency aggregation (rounds are vocab-bound,
    // so the end-to-end q168 ratio should track the two corpus scans
    // and stay far below 10×), and the quality classifier must stay a
    // single codegen scan (the q110 class)
    "q167_quality_classifier", "q168_bpe_pipeline",
    // round 20: the two new corpus-wide compute shapes — embedding
    // inference × the broadcast-kNN candidate fan-out (corpus-linear
    // × |query set|, the q30 class with engine-produced vectors), and
    // the exact-substring gram index (the q107 shuffle class plus the
    // occurrence-level join-back and per-doc reassembly). q171's
    // bench cost is dominated by the fixture-writer scaffolding (not
    // the scan under test) and q172 is q168 + bounded catalog I/O —
    // both stay out, guarded by q162/q168's ratios
    "q170_embed_knn", "q173_exact_substring_remove")

  private type Query = (SparkSession, String) => DataFrame

  /** One run of one query. `wall` and `cpu` (process-CPU seconds) are
    * -1 when the run failed, `cpu` also when the JVM has no process
    * clock; `task` is the run's window of the [[Ledger]], `compiles` the
    * classes Janino compiled in it. The plan diagnostics: `multiUse`, a
    * multi-consumer cache in the final plan; `unpinned`, the
    * multi-consumer caches unmaterialized at build time (the q84-class
    * race precondition).
    */
  final case class Run(wall: Double, cpu: Double, task: Option[Ledger.Counts],
      compiles: Long, multiUse: Boolean, unpinned: Seq[String]) {
    def ok: Boolean = wall >= 0
    def taskCpu: Double = task.fold(-1.0)(_.taskCpuS)
  }

  private val failedRun = Run(-1.0, -1.0, None, -1L, multiUse = false, Nil)

  /** The run a query's minimum wall came from (the first of equal
    * walls); its CPU fields are the ones the JSON reports for the min.
    */
  def minRun(runs: Seq[Run]): Option[Run] = runs.filter(_.ok).minByOption(_.wall)

  def main(args: Array[String]): Unit = {
    // Optional args: query names to bench (default: all); an unknown
    // name fails before any session starts.
    val queries = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 10x scale-probe section: when the sf1 dataset exists (generated
    // by tools/gen_sf1.py into probe_data/sf1 — NOT under target/,
    // which sbt clean wipes) and this run isn't already at sf1,
    // re-bench the heavy subset there so every bench JSON carries a
    // second scale point — a superlinear plan shows up as a ratio far
    // above the 10x input growth instead of hiding until an audit.
    // Skipped for filtered (arg-driven A/B) runs. A renamed or removed
    // probe query fails here, before any work (BenchSpec enforces the
    // same invariant at test time).
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "probe_data/sf1")
    val probe = SparkEntry.select(probeNames)
    val sf1 =
      if (args.nonEmpty || !new java.io.File(sf1Dir, "documents.parquet").exists() ||
          new java.io.File(sfDir).getCanonicalPath ==
            new java.io.File(sf1Dir).getCanonicalPath) None
      else Some(sf1Dir -> probe)
    // Hard wall-clock budget (BENCH_r11 died rc=124 with NOTHING
    // written because the full corpus + probe overran the driver's
    // timeout and the JSON only landed at the end).
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1400").toDouble
    val cpus = SessionDefaults.cpus()
    val spark = SessionDefaults.session(SessionDefaults.master(cpus), cpus)
    println(measure(spark, sfDir, queries, sf1, budgetS,
      java.nio.file.Paths.get("target", "bench_full.json")))
    SessionDefaults.stopAndReap(spark)
  }

  /** Benches `queries` at `sfDir` in `spark`, and the scale probe when
    * `sf1` names its directory and queries; returns the JSON line. The
    * JSON is rewritten to `out` after every corpus run (min so far per
    * query, marked `"partial":true`), so a driver-side kill costs only
    * the tail, and written whole at the end: the console line can be
    * lost to log-tail truncation. The deadline `budgetS` from now is
    * consulted before every individual run; whatever samples exist when
    * it trips are summarized.
    */
  def measure(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      sf1: Option[(String, Seq[(String, Query)])], budgetS: Double,
      out: java.nio.file.Path): String = {
    val ledger = Ledger.of(spark)
    val start = ledger.snapshot()
    val deadlineNanos = System.nanoTime() + (budgetS * 1e9).toLong
    val outOfBudget = () => System.nanoTime() > deadlineNanos
    def budgetLeftS: Double = (deadlineNanos - System.nanoTime()) / 1e9

    def runOnce(fn: Query, dir: String): Run = {
      // both ledger snapshots drain the bus, so the window holds exactly
      // this run's tasks; they sit OUTSIDE the timed window
      val task0 = ledger.snapshot()
      val cg0 = BenchCore.codegenCompiles()
      val c0 = BenchCore.processCpuSeconds()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        val unpinned = graft.operators.Staging.unpinnedMultiUse(df)
        // ordered materialization INSIDE the timed window (building
        // the staged tables is part of the query's cost): one
        // sequential job per multi-consumer cache pins the
        // deterministic low-CPU mode the per-core blocking-count
        // discipline achieved by hand — no concurrent stage can race
        // an unbuilt cache into a duplicate kernel recompute.
        graft.operators.Staging.pinCaches(df)
        df.write.format("noop").mode("overwrite").save()
        val c1 = BenchCore.processCpuSeconds()
        val wall = (System.nanoTime() - t0) / 1e9
        Run(wall, if (c0 < 0 || c1 < 0) -1.0 else c1 - c0, Some(ledger.snapshot() - task0),
          BenchCore.codegenCompiles() - cg0,
          // occurrence count is stable across execution; checked outside
          // the timed window
          graft.operators.Staging.cacheUse(df).exists(_._2 >= 2), unpinned)
      } catch { case _: Throwable => failedRun }
    }

    type Runs = collection.mutable.LinkedHashMap[String, Vector[Run]]
    /** One section's warmup and measurement, the same path for the corpus
      * and the probe: each query's warmup (JIT + codegen +
      * shuffle-service warm) seeds `measureWith`, and every run lands in
      * `runs` in the order taken. A failed warmup is not kept, as
      * BenchCore drops it from the samples, so a query's runs line up
      * with its samples. Cache cleared per run so persists don't
      * accumulate. Deadline-gated PER QUERY (a takeWhile over the strict
      * Seq would evaluate every predicate before any warmup ran). Returns
      * the measurement and the warmup walls.
      */
    def section[R](qs: Seq[(String, Query)], dir: String, runs: Runs,
        afterRun: () => Unit)(measureWith: (String => Double, Map[String, Double]) => R)
        : (R, Map[String, Double]) = {
      val fns = qs.toMap
      def take(name: String, keep: Run => Boolean): Double = {
        val r = runOnce(fns(name), dir)
        spark.catalog.clearCache()
        if (keep(r)) runs(name) = runs.getOrElse(name, Vector.empty) :+ r
        afterRun()
        r.wall
      }
      val warm = qs.flatMap { case (name, _) =>
        if (outOfBudget()) None else Some(name -> take(name, _.ok))
      }.toMap
      (measureWith(take(_, _ => true), warm), warm)
    }

    java.nio.file.Files.createDirectories(out.toAbsolutePath.getParent)
    val corpus = new Runs
    def runsOf(n: String): Vector[Run] = corpus.getOrElse(n, Vector.empty)
    def persistPartial(): Unit = {
      val qs = jobj(corpus.toSeq.flatMap { case (n, rs) =>
        minRun(rs).map(r => n -> r.wall.toString) })
      val partial = jobj(Seq("metric" -> jstr("total"), "value" -> "-1",
        "unit" -> jstr("sec"), "partial" -> "true", "queries" -> qs,
        "sf" -> jstr(sfDir)))
      java.nio.file.Files.write(out, partial.getBytes("UTF-8"))
    }

    // Timed passes keep the per-query minimum (robust against
    // transient co-tenant load and GC pauses; observed swings >40%
    // between whole runs on this box), and BenchCore re-measures any
    // query whose pass spread exceeds 3x its min — so a future
    // regression flag must survive a clean re-measure before anyone
    // bisects it. quickThresholdS: a query whose warmup came in sub-0.3
    // s takes one timed pass, not two — it cannot move the 2x headline
    // bar, and the saved wall time is exactly the headroom the sf1
    // probe needs to never again be budget-truncated into a noisy
    // artifact (r13).
    val names = queries.map(_._1)
    val (measured, warm) = section(queries, sfDir, corpus, () => persistPartial())(
      (run, seed) => BenchCore.measure(names, run, seed = seed,
        outOfBudget = outOfBudget, quickThresholdS = 0.3))
    val results = names.map(name => name -> measured(name).min)

    // Value maps carry only MEASURED entries (the probe section's
    // rule, applied to the corpus too): a query whose every run
    // failed (min = -1) is named in "failed", a budget-cut one in
    // "truncated" — neither leaks a -1 into queries/spread/cpu
    // unmarked. The raw passes/cpu_passes logs keep every sample,
    // including failed (-1) ones, on purpose.
    def measuredOk(k: String): Boolean =
      !measured(k).truncated && measured(k).min >= 0
    // one JSON map over the names `keep` admits, in query order
    def perQuery(keep: String => Boolean)(value: String => String): String =
      jobj(names.filter(keep).map(n => n -> value(n)))
    val qs = perQuery(measuredOk)(n => measured(n).min.toString)
    // Every raw sample per query (3 passes + any outlier reruns), so a
    // reader can see run-to-run noise directly instead of inferring it
    // from the min — a loaded box shows one inflated slot, a plan
    // regression shows consistent slowness; spread/reruns summarize it.
    val ps = perQuery(_ => true)(n => jarr(measured(n).samples.map(_.toString)))
    val spreads = perQuery(measuredOk)(n => jnum(measured(n).spread, 3))
    val reruns = perQuery(measured(_).reruns > 0)(n => measured(n).reruns.toString)
    val total = results.map(_._2).filter(_ >= 0).sum

    val sf1Section = sf1.filterNot(_ => outOfBudget()).map { case (dir, probe) =>
      val budgetAtStart = budgetLeftS
      // Probe warmups seed the probe measure too, and the SAME deadline
      // governs every probe run — the probe is a ratio check, so a
      // budget-truncated probe (fewer entries) is still useful where a
      // blown driver timeout is not. Warmup + 1 timed pass per entry;
      // any entry whose best still exceeds 10x its same-run corpus min
      // gets confirmation passes (BenchCore.probeMeasure) — a
      // superlinear number in this artifact has survived
      // re-measurement, and every sample, spread and pass count is
      // persisted so a reader can tell box noise from plan drift (the
      // r13 40.5x lesson).
      val probeRuns = new Runs
      val (pMeasured, _) = section(probe, dir, probeRuns, () => ())((run, seed) =>
        BenchCore.probeMeasure(probe.map(_._1), run, baseline = results.toMap,
          ratioAlarm = 10.0, outOfBudget = outOfBudget, seed = seed))
      // Output-row count per entry (one count() job each, budget-
      // gated): a wall ratio alone cannot distinguish "superlinear
      // plan" from "the OUTPUT grew superlinearly" — q88's standing
      // 3.2x is pair-output growth, and cost-per-output-row is the
      // machine-readable way the artifact says so instead of a prose
      // re-explanation each round.
      val pRows = probe.flatMap { case (name, fn) =>
        if (outOfBudget()) None
        else {
          val n = try fn(spark, dir).count() catch { case _: Throwable => -1L }
          spark.catalog.clearCache()
          if (n >= 0) Some(name -> n) else None
        }
      }.toMap
      // Value fields carry only MEASURED entries: a probe whose
      // every run failed (min = -1) is named in "failed", a probe
      // the budget cut before any sample in "truncated" — neither
      // may leak a -1 into the queries/ratio maps unmarked.
      def pOk(n: String): Boolean =
        !pMeasured(n).truncated && pMeasured(n).min >= 0
      def pField(f: (String, BenchCore.ProbeResult) => String): String =
        jobj(probe.collect { case (n, _) if pOk(n) => n -> f(n, pMeasured(n)) })
      def pMin(n: String): Option[Run] = minRun(probeRuns.getOrElse(n, Vector.empty))
      // "spread_all", not "spread": unlike the corpus section's
      // spread (timed passes only, seed excluded), the probe spread
      // includes the seeded warmup — the probe runs in a warm JVM,
      // so its seed is a real sample; the name records the
      // difference in semantics. rows_out obeys the same
      // measured-entries invariant as every other value field.
      jobj(Seq("dir" -> jstr(dir),
        "budget_left_start_s" -> jnum(budgetAtStart, 1),
        "queries" -> pField((_, r) => r.min.toString),
        "ratio" -> pField((_, r) => jnum(r.ratio, 2)),
        "spread_all" -> pField((_, r) => jnum(r.spread, 3)),
        "passes" -> pField((_, r) => r.samples.size.toString),
        "samples" -> pField((_, r) => jarr(r.samples.map(_.toString))),
        "cpu" -> pField((n, _) => jnum(pMin(n).fold(-1.0)(_.cpu), 3)),
        "cpu_task" -> pField((n, _) => jnum(pMin(n).fold(-1.0)(_.taskCpu), 3)),
        "rows_out" -> jobj(probe.collect {
          case (n, _) if pRows.contains(n) && pOk(n) => n -> pRows(n).toString }),
        "truncated" -> jarr(probe.collect {
          case (n, _) if pMeasured(n).truncated => jstr(n) }),
        "failed" -> jarr(probe.collect {
          case (n, _) if !pMeasured(n).truncated && pMeasured(n).min < 0 => jstr(n) }),
        "budget_left_end_s" -> jnum(budgetLeftS, 1)))
    }

    // Budget-truncated queries (no samples at all) are UNMEASURED, not
    // broken — named separately so a -1 never masquerades as a failure.
    val truncated = jarr(names.filter(measured(_).truncated).map(jstr))
    // All-runs-failed queries (min = -1, not budget-cut) — excluded
    // from the value maps above, named here.
    val failed = jarr(names.filter(n =>
      !measured(n).truncated && measured(n).min < 0).map(jstr))
    // Per-query process-CPU seconds of the run that produced the min
    // (cpu ≈ wall × busy-cores → plan compute; cpu ≪ that → box/IO),
    // plus every run's CPU in "passes" order. cpu_task/cpu_task_passes
    // are the same from the task metrics: on local[n] cpu_task ≈ cpu
    // minus harness threads; under a forked-executor master cpu_task
    // is the ONLY valid plan-CPU attribution (cpu collapses to driver
    // overhead).
    val cpuMin = perQuery(measuredOk)(n => jnum(minRun(runsOf(n)).fold(-1.0)(_.cpu), 3))
    val cpuPasses = perQuery(_ => true)(n => jarr(runsOf(n).map(r => jnum(r.cpu, 3))))
    val cpuTaskMin =
      perQuery(measuredOk)(n => jnum(minRun(runsOf(n)).fold(-1.0)(_.taskCpu), 3))
    val cpuTaskPasses =
      perQuery(_ => true)(n => jarr(runsOf(n).map(r => jnum(r.taskCpu, 3))))
    // Generated classes compiled in each run (-1 for a failed run). The
    // count is this JVM's (CodegenMetrics is per JVM): complete on
    // local[n], driver-side compiles only under a forked-executor
    // master.
    val compilePasses =
      perQuery(_ => true)(n => jarr(runsOf(n).map(_.compiles.toString)))
    // The q84-class race, machine-visible (r16 verdict #4): queries
    // whose warm CPU passes (the seeded warmup dropped) spread >1.5x
    // (gap >5s) WITH a multi-consumer cache in the plan of their last
    // successful run. Since pinCaches runs in every timed pass, a
    // firing here is box contention or a pinning gap — the shortlist
    // for an isolated re-measure. "unpinned_caches" records which
    // query plans REQUIRED pinning (pure cores whose caches pinCaches
    // built); RaceDisciplineSpec asserts the pinned plans are
    // race-free for every query. BOTH cpu series feed the flag: under
    // a forked-executor master the process clock collapses to driver
    // overhead (a race there would be invisible to it), so the
    // task-metric series carries the detection; in local mode the
    // process series additionally sees driver-side compute.
    val raceFlags = jarr(names.filter { n =>
      val rs = runsOf(n)
      val multiUse = rs.filter(_.ok).lastOption.exists(_.multiUse)
      Seq(rs.map(_.cpu), rs.map(_.taskCpu)).exists(series => BenchCore.cpuRaceFlag(
        if (warm.get(n).exists(_ >= 0)) series.drop(1) else series, multiUse))
    }.map(jstr))
    val unpinnedJson = jobj(names.flatMap(n =>
      runsOf(n).filter(_.ok).map(_.unpinned).filter(_.nonEmpty).lastOption
        .map(caches => n -> jarr(caches.map(jstr)))))
    // Whole-run shuffle transport totals (all passes, warmups and the
    // probe included): remote vs local read bytes split by the
    // BlockManager locality of the fetch. remote_mb > 0 is the
    // machine-readable attestation that this run moved shuffle blocks
    // between executor JVMs over the wire — impossible on local[n],
    // expected under local-cluster.
    val whole = ledger.snapshot() - start
    val shuffle = jobj(Seq(
      "remote_mb" -> jnum(whole.remoteShuffleBytes / 1048576.0, 1),
      "local_mb" -> jnum(whole.localShuffleBytes / 1048576.0, 1),
      "tasks" -> whole.tasksEnded.toString))
    // reruns, truncated, failed, cpu_race_flags and unpinned_caches
    // appear only when non-empty
    def ifAny(key: String, v: String): Option[(String, String)] =
      if (v == "{}" || v == "[]") None else Some(key -> v)
    val json = jobj(Seq("metric" -> jstr("total"), "value" -> total.toString,
      "unit" -> jstr("sec"), "master" -> jstr(spark.sparkContext.master),
      "queries" -> qs, "passes" -> ps, "spread" -> spreads, "cpu" -> cpuMin,
      "cpu_passes" -> cpuPasses, "cpu_task" -> cpuTaskMin,
      "cpu_task_passes" -> cpuTaskPasses, "codegen_compiles" -> compilePasses) ++
      ifAny("reruns", reruns) ++ ifAny("truncated", truncated) ++
      ifAny("failed", failed) ++ ifAny("cpu_race_flags", raceFlags) ++
      ifAny("unpinned_caches", unpinnedJson) ++
      Seq("shuffle" -> shuffle, "sf" -> jstr(sfDir)) ++ sf1Section.map("sf1" -> _))
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    json
  }
}
