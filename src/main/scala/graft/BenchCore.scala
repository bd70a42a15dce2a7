package graft

/** Measurement core behind [[Bench]], separated so the outlier logic is
  * unit-testable with injected (fake) runners.
  *
  * This box's noise band is wide enough to manufacture phantom
  * regressions: identical binaries have differed 42% between whole
  * runs, and single passes have spiked 47× (52 s vs a 1.1 s min).
  * min-of-N rescues the headline number, but a noisy pass set still
  * reads as "maybe a regression" to anyone comparing rounds. So: any
  * query whose pass spread (max/min) exceeds `spreadThreshold` is
  * re-measured up to `maxReruns` more times, stopping early once a
  * re-run lands within `cleanFactor` of the running min — a clean
  * confirmation that the min is reproducible, not a fluke. The
  * emitted per-query {min, spread, reruns} lets a future reader
  * distinguish "consistently slower" (small spread, no reruns, higher
  * min) from "loaded box" (huge spread, reruns that reconfirm the old
  * min) without a bisect.
  *
  * Round 12 additions, after BENCH_r11 died rc=124 with nothing
  * written: the warmup pass can be fed back in as each query's first
  * sample (`seed`) so one whole pass of wall time is saved without
  * giving up min-of-3, and every run is guarded by `outOfBudget` so
  * the caller can enforce a hard wall-clock deadline — when the
  * budget trips, measurement stops where it is and whatever samples
  * exist are summarized instead of lost.
  */
object BenchCore {

  /** Process-CPU clock in seconds (JVM-wide, monotonic). The delta
    * around a run attributes a slow pass without a rerun: cpu ≈ wall ×
    * busy-cores means the plan really computed that long (plan
    * regression), cpu ≪ that means the box was loaded or the run
    * blocked (noise). -1 when the JVM does not expose the extension.
    */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val t = b.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }

  /** Generated classes Janino has compiled in this JVM so far (Spark's
    * `CodegenMetrics` compile-time histogram counts one sample per
    * compile; a codegen-cache hit adds none). The delta around a warm
    * run is 0 when the cache holds the query's classes.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount

  /** Locale-independent fixed-decimal rendering for the bench JSON.
    * The f-interpolator uses the JVM default locale, so under e.g.
    * de_DE the decimal separator becomes ',' and the artifact is
    * malformed JSON; every numeric field the bench emits goes through
    * here instead.
    */
  def jnum(v: Double, decimals: Int): String =
    if (v.isNaN || v.isInfinite) "-1" // JSON has no NaN/Infinity literal
    else String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Full JSON string escape — backslash, quote, and ALL control
    * chars (<0x20). Cache names in the bench artifact are abbreviated
    * plan strings, and Verify's oracle SQL and failure messages can
    * carry tabs or CRs; a partial escaper would make the whole artifact
    * unparseable (and a driver's json.load of it fail).
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON object over pre-rendered values, keys escaped, in the
    * given order — the one writer behind every JSON file and line the
    * entry points emit.
    */
  def jobj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** JSON array over pre-rendered items, in the given order. */
  def jarr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  /** Post-hoc CPU-spread race flag for the bench artifact: a query
    * whose WARM cpu passes (seed excluded — the seed pays JIT) spread
    * past `ratio` with an absolute gap past `floorS`, AND whose plan
    * holds a multi-consumer cache, is flagged. With
    * [[graft.operators.Staging.pinCaches]] in the bench's run path
    * this should never fire for a cache race — a firing means either
    * box contention or a pinning gap worth an isolated re-measure;
    * it does not by itself convict the plan.
    */
  def cpuRaceFlag(warmCpu: Seq[Double], multiUseCache: Boolean,
      ratio: Double = 1.5, floorS: Double = 5.0): Boolean = {
    val valid = warmCpu.filter(_ >= 0)
    multiUseCache && valid.size >= 2 && valid.min > 0 &&
      valid.max / valid.min > ratio && valid.max - valid.min > floorS
  }

  /** The CPU sample paired with the minimum VALID wall sample — the
    * pass the headline min came from. Pairs are positional; if THAT
    * pass's CPU sample is missing or invalid (the recording loop can
    * be cut short by a budget trip), the answer is -1 (unattributable)
    * — substituting a different pass's CPU would silently mislabel the
    * artifact, attributing the min wall to compute it didn't do.
    */
  def cpuOfMin(walls: Seq[Double], cpus: Seq[Double]): Double = {
    val validWalls = walls.zipWithIndex.filter(_._1 >= 0)
    if (validWalls.isEmpty) -1.0
    else {
      val minIdx = validWalls.minBy(_._1)._2
      cpus.lift(minIdx).filter(_ >= 0).getOrElse(-1.0)
    }
  }

  /** One query's measurement: best wall seconds, raw-pass spread
    * (max/min of the timed passes, excluding any seeded warmup sample,
    * before any rerun; 1.0 when all passes agree or fewer than two
    * passes ran, -1 when every sample failed), rerun count, and every
    * sample taken (seed first when present).
    *
    * `min == -1` is overloaded by callers' runners ("this query
    * failed"), so [[truncated]] distinguishes the other -1 case: the
    * wall-clock budget tripped before this query took ANY sample.
    * A truncated query is unmeasured, not broken — downstream readers
    * (bench JSON, round-over-round diffs) must not count it as a
    * failure.
    */
  final case class QueryResult(
      min: Double, spread: Double, reruns: Int, samples: Seq[Double]) {
    def truncated: Boolean = samples.isEmpty
  }

  /** Run `names` through timed passes of `run` (which returns wall
    * seconds, or a negative value on failure), then re-measure
    * outliers. Pass-major order: queries interleave across passes so a
    * transient load spike hits one pass of many queries rather than
    * all passes of one.
    *
    * `seed` supplies an already-taken sample per query (the warmup
    * pass); a seeded query then gets `passes - 1` timed passes, so
    * `passes` is always the target sample count. Seed samples pay the
    * JIT/codegen cost (they are COLD), so a cold seed can't beat a
    * warm pass and including it in the min is harmless — but it is
    * excluded from the spread, otherwise every query would look like
    * an outlier and the rerun logic would burn the budget the seeding
    * saved. A FAILED warmup (negative seed value) is ignored entirely
    * rather than occupying a sample slot, so that query still gets the
    * full `passes` timed chances at a valid measurement.
    *
    * `outOfBudget` is consulted before every individual run (passes
    * and reruns); once it returns true no further work is started and
    * the samples already taken are summarized.
    *
    * `quickThresholdS` (0 disables): a query whose WARMUP sample came
    * in below the threshold takes a single timed pass instead of
    * `passes - 1` — a sub-0.3 s query cannot move a 2× headline bar,
    * and the saved passes are budget the scale probe needs. Only a
    * valid seed qualifies (an unseeded or failed-warmup query still
    * gets the full pass count: there is no evidence it is quick).
    */
  def measure(
      names: Seq[String],
      run: String => Double,
      passes: Int = 3,
      spreadThreshold: Double = 3.0,
      maxReruns: Int = 2,
      cleanFactor: Double = 1.5,
      outOfBudget: () => Boolean = () => false,
      seed: Map[String, Double] = Map.empty,
      quickThresholdS: Double = 0.0): Map[String, QueryResult] = {
    val validSeed = seed.filter(_._2 >= 0)
    val target = names.map { n =>
      n -> (if (validSeed.get(n).exists(_ < quickThresholdS)) math.min(2, passes)
            else passes)
    }.toMap
    val acc = collection.mutable.LinkedHashMap(
      names.map(n => n -> validSeed.get(n).toVector): _*)
    var pass = 0
    while (pass < passes && !outOfBudget()) {
      names.foreach { n =>
        if (acc(n).size < target(n) && !outOfBudget()) acc(n) :+= run(n)
      }
      pass += 1
    }
    names.map { name =>
      val all = acc(name)
      val seeded = validSeed.contains(name)
      val timed = if (seeded) all.drop(1) else all
      val ok = all.filter(_ >= 0)
      val timedOk = timed.filter(_ >= 0)
      if (ok.isEmpty) {
        name -> QueryResult(-1.0, -1.0, 0, all)
      } else {
        val spread =
          if (timedOk.size < 2 || timedOk.min <= 0) 1.0
          else timedOk.max / timedOk.min
        var best = ok.min
        var extra = List.empty[Double]
        if (spread > spreadThreshold) {
          var clean = false
          while (!clean && extra.size < maxReruns && !outOfBudget()) {
            val t = run(name)
            extra ::= t
            if (t >= 0) {
              clean = t <= best * cleanFactor
              if (t < best) best = t
            }
          }
        }
        name -> QueryResult(best, spread, extra.size, all ++ extra.reverse)
      }
    }.toMap
  }

  /** One scale-probe entry: best wall seconds, spread over ALL valid
    * samples (seed included — the probe runs after the corpus in a
    * warm JVM, so the seed is not JIT-cold the way the corpus warmup
    * is), every sample, and the ratio of the best to the caller's
    * baseline (-1 when no baseline or no valid sample exists).
    */
  final case class ProbeResult(
      min: Double, spread: Double, samples: Seq[Double], ratio: Double) {
    def truncated: Boolean = samples.isEmpty
  }

  /** Scale-probe measurement: ratio evidence, not a headline number.
    *
    * Each entry takes its seeded warmup plus ONE timed pass (half the
    * cost of the corpus's min-of-3 — a probe needs to distinguish
    * "~6× on 10× data" from "~40×", not win a 2× bar), and then —
    * the round-13 lesson, where a budget-truncated single sample on a
    * thrashing box recorded 40.5× into the artifact of record — any
    * entry whose running best still exceeds `ratioAlarm ×` its
    * baseline gets up to `maxConfirm` confirmation passes. A
    * superlinear pin in the output has therefore survived repeated
    * re-measurement, and the per-entry sample list + spread land in
    * the artifact so a reader can tell noise from drift without a
    * bisect.
    *
    * `baseline` is the same-run corpus minimum per query (the probe
    * dir holds `scale ×` the corpus input, so ratio ≈ scale means
    * linear). Entries without a baseline (corpus run truncated) just
    * skip the alarm. `outOfBudget` gates every run, as in measure().
    */
  def probeMeasure(
      names: Seq[String],
      run: String => Double,
      baseline: Map[String, Double],
      ratioAlarm: Double = 10.0,
      maxConfirm: Int = 2,
      outOfBudget: () => Boolean = () => false,
      seed: Map[String, Double] = Map.empty): Map[String, ProbeResult] = {
    names.map { name =>
      var samples = seed.get(name).filter(_ >= 0).toVector
      if (!outOfBudget()) samples :+= run(name)
      def ok = samples.filter(_ >= 0)
      if (ok.isEmpty) {
        name -> ProbeResult(-1.0, -1.0, samples, -1.0)
      } else {
        val base = baseline.get(name).filter(_ > 0)
        def best = ok.min
        var confirms = 0
        while (base.exists(b => best / b > ratioAlarm) &&
            confirms < maxConfirm && !outOfBudget()) {
          samples :+= run(name)
          confirms += 1
        }
        val spread = if (ok.size < 2 || ok.min <= 0) 1.0 else ok.max / ok.min
        name -> ProbeResult(best, spread, samples,
          base.map(best / _).getOrElse(-1.0))
      }
    }.toMap
  }
}
