package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's noise defenses, exercised with injected fake
  * runners — no Spark session needed.
  */
class BenchSpec extends AnyFunSuite {

  test("a synthetic spike is detected and re-measured; min survives") {
    // "spiky" hits a 50x load spike on pass 1 (the q70 pattern:
    // 52 s vs a 1.1 s min), then measures clean. BenchCore must flag
    // the spread, re-run, and confirm the clean min.
    val script = collection.mutable.Map(
      "spiky" -> List(5.0, 0.1, 0.1, 0.1), // 3 passes + 1 rerun
      "steady" -> List(0.2, 0.2, 0.2))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("spiky", "steady"), run)
    val spiky = out("spiky")
    assert(spiky.spread > 3.0) // detected
    assert(spiky.reruns == 1) // first rerun was clean -> stopped
    assert(spiky.min == 0.1)
    assert(spiky.samples == Seq(5.0, 0.1, 0.1, 0.1))
    val steady = out("steady")
    assert(steady.spread == 1.0 && steady.reruns == 0 && steady.min == 0.2)
    assert(script.values.forall(_.isEmpty)) // exactly the scripted calls
  }

  test("reruns cap even when the noise never clears") {
    // Every sample disagrees wildly: rerun budget (2) must bound the
    // extra work, and the min still takes the best sample seen.
    var calls = 0
    def run(name: String): Double = {
      calls += 1
      Seq(9.0, 1.0, 8.0, 7.0, 6.0)(calls - 1)
    }
    val out = BenchCore.measure(Seq("wild"), run)
    assert(calls == 5) // 3 passes + 2 reruns, no more
    assert(out("wild").reruns == 2)
    assert(out("wild").min == 1.0)
    assert(out("wild").spread == 9.0)
  }

  test("a rerun can improve the min") {
    val script = collection.mutable.Map(
      "late" -> List(10.0, 2.0, 9.0, 1.0, 1.2))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("late"), run)
    // passes 10,2,9 -> spread 5 -> rerun 1.0 (better min, but 1.0 <=
    // 2.0*1.5 so it is itself the clean confirmation)
    assert(out("late").min == 1.0)
    assert(out("late").reruns == 1)
    assert(script("late") == List(1.2)) // second rerun never taken
  }

  test("failed passes don't poison the spread or the min") {
    val script = collection.mutable.Map("flaky" -> List(-1.0, 0.5, 0.6))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("flaky"), run)
    assert(out("flaky").min == 0.5)
    assert(out("flaky").spread == 1.2)
    assert(out("flaky").reruns == 0)
  }

  test("a seeded query takes passes-1 timed runs; seed counts for min, not spread") {
    // Seed 0.05 (a cold warmup that happened to be fastest — rare but
    // possible on a loaded box): it must win the min, yet the spread
    // must come from the two timed passes only (0.5/0.25 = 2, NOT
    // 0.5/0.05 = 10, which would trigger a pointless rerun).
    // Exact binary fractions so the spread compare is exact.
    val script = collection.mutable.Map("s" -> List(0.25, 0.5))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("s"), run, seed = Map("s" -> 0.05))
    assert(script("s").isEmpty) // exactly 2 timed runs, not 3
    assert(out("s").min == 0.05)
    assert(out("s").spread == 2.0)
    assert(out("s").reruns == 0)
    assert(out("s").samples == Seq(0.05, 0.25, 0.5))
  }

  test("a failed warmup seed does not occupy a sample slot") {
    val script = collection.mutable.Map("f" -> List(0.5, 0.5, 0.5))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("f"), run, seed = Map("f" -> -1.0))
    assert(script("f").isEmpty) // full 3 timed passes despite the seed entry
    assert(out("f").min == 0.5)
    assert(out("f").samples == Seq(0.5, 0.5, 0.5))
  }

  test("budget trip mid-pass stops work and summarizes partial samples") {
    // Budget allows exactly 3 runs: pass 1 covers a+b, pass 2 reaches
    // only a. b keeps its single sample; nothing else runs.
    var calls = 0
    def run(name: String): Double = { calls += 1; 0.3 }
    val out = BenchCore.measure(Seq("a", "b"), run,
      outOfBudget = () => calls >= 3)
    assert(calls == 3)
    assert(out("a").samples.size == 2 && out("a").min == 0.3)
    assert(out("b").samples.size == 1 && out("b").min == 0.3)
    assert(!out("a").truncated && !out("b").truncated)
  }

  test("budget trip before any sample marks the query truncated, not failed") {
    def run(name: String): Double = fail("must not run when out of budget")
    val out = BenchCore.measure(Seq("never"), run, outOfBudget = () => true)
    assert(out("never").truncated)
    assert(out("never").min == -1.0 && out("never").samples.isEmpty)
  }

  test("budget trip mid-rerun keeps the samples already taken") {
    // Passes produce a dirty spread (rerun needed); budget dies right
    // after the passes, so zero reruns happen but the summary stands.
    var calls = 0
    def run(name: String): Double = { calls += 1; Seq(9.0, 1.0, 8.0)(calls - 1) }
    val out = BenchCore.measure(Seq("w"), run, outOfBudget = () => calls >= 3)
    assert(calls == 3) // no rerun started
    assert(out("w").reruns == 0)
    assert(out("w").min == 1.0 && out("w").spread == 9.0)
  }

  test("a quick seeded query takes one timed pass; slow and unseeded take full passes") {
    val script = collection.mutable.Map(
      "quick" -> List(0.1), // seed 0.2 < 0.3 -> exactly 1 timed pass
      "slow" -> List(1.0, 1.0), // seed 2.0 >= 0.3 -> 2 timed passes
      "unseeded" -> List(0.1, 0.1, 0.1)) // no seed -> full 3 passes
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("quick", "slow", "unseeded"), run,
      seed = Map("quick" -> 0.2, "slow" -> 2.0), quickThresholdS = 0.3)
    assert(script.values.forall(_.isEmpty)) // exactly the scripted calls
    assert(out("quick").min == 0.1 && out("quick").samples == Seq(0.2, 0.1))
    assert(out("slow").min == 1.0 && out("slow").samples.size == 3)
    assert(out("unseeded").samples.size == 3)
  }

  test("quickThresholdS=0 (the default) changes nothing") {
    val script = collection.mutable.Map("q" -> List(0.1, 0.1))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.measure(Seq("q"), run, seed = Map("q" -> 0.1))
    assert(script("q").isEmpty) // passes - 1 = 2 timed runs
    assert(out("q").samples.size == 3)
  }

  test("probe: a clean ratio takes warmup + one timed pass, no confirms") {
    val script = collection.mutable.Map("lin" -> List(6.0))
    def run(name: String): Double = {
      val t :: rest = script(name): @unchecked
      script(name) = rest
      t
    }
    val out = BenchCore.probeMeasure(Seq("lin"), run,
      baseline = Map("lin" -> 1.0), seed = Map("lin" -> 7.0))
    assert(script("lin").isEmpty)
    val r = out("lin")
    assert(r.min == 6.0 && r.ratio == 6.0 && r.samples == Seq(7.0, 6.0))
    assert(r.spread == 7.0 / 6.0)
  }

  test("probe: a suspicious ratio is re-measured until clean or capped") {
    // First samples say 40x (the r13 artifact); the confirm pass lands
    // at 6x -> the alarm clears and the clean min is the pin.
    val noisy = collection.mutable.Map("n" -> List(41.0, 6.0))
    def runNoisy(name: String): Double = {
      val t :: rest = noisy(name): @unchecked
      noisy(name) = rest
      t
    }
    val out = BenchCore.probeMeasure(Seq("n"), runNoisy,
      baseline = Map("n" -> 1.0), seed = Map("n" -> 40.0))
    assert(noisy("n").isEmpty)
    assert(out("n").min == 6.0 && out("n").ratio == 6.0)
    assert(out("n").samples == Seq(40.0, 41.0, 6.0))

    // Genuinely superlinear: every confirm agrees -> capped at
    // maxConfirm extra runs, and the pin keeps the (real) 40x with the
    // evidence trail in samples.
    var calls = 0
    def runReal(name: String): Double = { calls += 1; 40.0 }
    val real = BenchCore.probeMeasure(Seq("r"), runReal,
      baseline = Map("r" -> 1.0), seed = Map("r" -> 40.0))
    assert(calls == 3) // 1 timed + 2 confirms
    assert(real("r").ratio == 40.0 && real("r").samples.size == 4)
  }

  test("probe: no baseline means no alarm; budget trip marks truncated") {
    var calls = 0
    def run(name: String): Double = { calls += 1; 50.0 }
    val out = BenchCore.probeMeasure(Seq("nb"), run, baseline = Map.empty)
    assert(calls == 1 && out("nb").ratio == -1.0)
    val t = BenchCore.probeMeasure(Seq("cut"), run, baseline = Map.empty,
      outOfBudget = () => true)
    assert(t("cut").truncated && t("cut").min == -1.0)
  }

  test("cpuOfMin pairs the CPU sample with the winning wall pass") {
    // min wall is the 3rd pass -> its cpu (2.0) is the answer, not the
    // min cpu (0.5, which belongs to a failed-wall slot)
    assert(BenchCore.cpuOfMin(Seq(3.0, -1.0, 1.0), Seq(9.0, 0.5, 2.0)) == 2.0)
    // the MIN-WALL pass's cpu sample is invalid: the answer is -1
    // (unattributable), NOT the next-best pass's cpu — substituting a
    // slower pass's cpu would silently mislabel the artifact
    assert(BenchCore.cpuOfMin(Seq(1.0, 2.0), Seq(-1.0, 4.0)) == -1.0)
    // same when the recording loop was cut short and the min-wall pass
    // simply has no cpu slot at all
    assert(BenchCore.cpuOfMin(Seq(2.0, 1.0, 0.1), Seq(5.0, 3.0)) == -1.0)
    // ...but a short cpu list still resolves when the min-wall pass is
    // inside the recorded prefix
    assert(BenchCore.cpuOfMin(Seq(2.0, 1.0, 5.0), Seq(5.0, 3.0)) == 3.0)
    // nothing valid -> -1 sentinel
    assert(BenchCore.cpuOfMin(Seq(-1.0), Seq(1.0)) == -1.0)
    assert(BenchCore.cpuOfMin(Nil, Nil) == -1.0)
  }

  test("jnum renders fixed decimals independent of the default locale") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(BenchCore.jnum(1234.5678, 3) == "1234.568")
      assert(BenchCore.jnum(-1.0, 2) == "-1.00")
      // contrast: the f-interpolator under de_DE uses ',' — the bug
      // jnum exists to avoid
      assert(f"${1.5}%.1f" == "1,5")
    } finally java.util.Locale.setDefault(saved)
  }

  test("jobj/jarr: empty, order kept, keys fully escaped") {
    assert(BenchCore.jobj(Nil) == "{}")
    assert(BenchCore.jarr(Nil) == "[]")
    assert(BenchCore.jobj(Seq("z" -> "1", "a" -> "[2]", "m" -> "\"x\"")) ==
      """{"z":1,"a":[2],"m":"x"}""")
    assert(BenchCore.jarr(Seq("3", "1", "2")) == "[3,1,2]")
    // a key with a quote, a tab and a control char
    assert(BenchCore.jobj(Seq("q\"t\tc\u0001" -> "0")) ==
      "{\"q\\\"t\\tc\\u0001\":0}")
  }

  test("processCpuSeconds is monotonic and advances under compute") {
    val c0 = BenchCore.processCpuSeconds()
    assume(c0 >= 0, "JVM does not expose process CPU time")
    // burn a visible amount of CPU
    var x = 0L
    val t0 = System.nanoTime
    while (System.nanoTime - t0 < 50L * 1000 * 1000) { x += x * 31 + 1 }
    assert(x != Long.MinValue) // keep the loop observable
    val c1 = BenchCore.processCpuSeconds()
    assert(c1 >= c0)
    assert(c1 - c0 > 0.0) // the busy loop is attributed
  }

  test("every sf1 probe name resolves to a registered query") {
    val missing = Bench.probeNames.filterNot(SparkEntry.queries.keySet)
    assert(missing.isEmpty,
      s"probe names without a registered query: ${missing.mkString(", ")}")
  }
}
