package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.BlackScholes._

class BlackScholesSpec extends AnyFunSuite {

  /** The CRR tree as it was before the payoff table: `pow` at every
    * node. Kept only as the bit-identity reference for
    * [[graft.analytics.BlackScholes.binomialPrice]].
    */
  private def perNodeBinomialPrice(isCall: Boolean, s: Double, k: Double,
      t: Double, r: Double, q: Double, sigma: Double, steps: Int): Double = {
    if (t <= 0.0 || sigma <= 0.0)
      return if (isCall) math.max(s - k, 0.0) else math.max(k - s, 0.0)
    val dt = t / steps
    val u = math.exp(sigma * math.sqrt(dt))
    val d = 1.0 / u
    val disc = math.exp(-r * dt)
    val p = (math.exp((r - q) * dt) - d) / (u - d)
    if (p <= 0.0 || p >= 1.0) return 0.0
    val values = new Array[Double](steps + 1)
    var i = 0
    while (i <= steps) {
      val st = s * math.pow(u, 2 * i - steps)
      values(i) = if (isCall) math.max(st - k, 0.0) else math.max(k - st, 0.0)
      i += 1
    }
    var step = steps - 1
    while (step >= 0) {
      var j = 0
      while (j <= step) {
        val cont = disc * (p * values(j + 1) + (1.0 - p) * values(j))
        val st = s * math.pow(u, 2 * j - step)
        val ex = if (isCall) math.max(st - k, 0.0) else math.max(k - st, 0.0)
        values(j) = math.max(cont, ex)
        j += 1
      }
      step -= 1
    }
    values(0)
  }

  /** The bisection of `BlackScholes.impliedVol`, over any pricer. */
  private def bisectIv(price: Double, f: Double => Double): Double = {
    if (!java.lang.Double.isFinite(price) || price <= 0.0) return 0.0
    if (price <= f(1e-9) || price >= f(5.0)) return 0.0
    var lo = 1e-9
    var hi = 5.0
    var i = 0
    while (i < 100 && hi - lo > 1e-10) {
      val mid = (lo + hi) / 2.0
      if (f(mid) < price) lo = mid else hi = mid
      i += 1
    }
    val root = (lo + hi) / 2.0
    if (math.abs(f(root) - price) < 1e-6) root else 0.0
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def assertProp(prop: Prop, tests: Int): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(tests).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("normCdf matches known values to 1e-9") {
    assert(math.abs(normCdf(0.0) - 0.5) < 1e-12)
    assert(math.abs(normCdf(1.0) - 0.8413447460685429) < 1e-9)
    assert(math.abs(normCdf(-1.96) - 0.024997895148220435) < 1e-9)
    assert(math.abs(normCdf(3.0) - 0.9986501019683699) < 1e-9)
  }

  test("bsPrice matches the canonical textbook value") {
    // S=100 K=100 t=1 r=5% q=0 sigma=20%: call = 10.450583572185565
    val c = bsPrice(isCall = true, 100, 100, 1.0, 0.05, 0.0, 0.2)
    assert(math.abs(c - 10.450583572185565) < 1e-9)
    val p = bsPrice(isCall = false, 100, 100, 1.0, 0.05, 0.0, 0.2)
    // put-call parity: C - P = S e^{-qt} - K e^{-rt}
    assert(math.abs((c - p) - (100 - 100 * math.exp(-0.05))) < 1e-9)
  }

  test("implied vol inverts bsPrice across moneyness/expiry grid") {
    for {
      sigma <- Seq(0.08, 0.2, 0.55, 1.2)
      k <- Seq(60.0, 95.0, 100.0, 140.0)
      t <- Seq(0.02, 0.25, 1.0, 2.5)
      isCall <- Seq(true, false)
    } {
      val price = bsPrice(isCall, 100, k, t, 0.04, 0.01, sigma)
      val floor = bsPrice(isCall, 100, k, t, 0.04, 0.01, 1e-9)
      // skip numerically unidentifiable points (vega ~ 0: deep ITM,
      // near expiry — price indistinguishable from intrinsic)
      if (price > 1e-6 && price - floor > 1e-7) {
        val iv = bsImpliedVol(isCall, price, 100, k, t, 0.04, 0.01)
        assert(math.abs(iv - sigma) < 1e-6,
          s"sigma=$sigma k=$k t=$t call=$isCall got=$iv")
      }
    }
  }

  test("out-of-bounds prices coerce to zero vol like the reference") {
    assert(bsImpliedVol(isCall = true, -1.0, 100, 100, 1, 0.05, 0.0) == 0.0)
    assert(bsImpliedVol(isCall = true, 0.0, 100, 100, 1, 0.05, 0.0) == 0.0)
    // below discounted intrinsic
    assert(bsImpliedVol(isCall = true, 1.0, 100, 50, 1, 0.05, 0.0) == 0.0)
    // above no-arb cap
    assert(bsImpliedVol(isCall = true, 150.0, 100, 100, 1, 0.05, 0.0) == 0.0)
  }

  test("binomial European-limit converges to Black-Scholes") {
    val bs = bsPrice(isCall = true, 100, 110, 0.5, 0.03, 0.0, 0.3)
    val bin = binomialPrice(isCall = true, 100, 110, 0.5, 0.03, 0.0, 0.3, 500)
    assert(math.abs(bs - bin) < 0.02) // American call, no dividend = European
  }

  test("american put carries early-exercise premium") {
    val eu = bsPrice(isCall = false, 100, 120, 1.0, 0.08, 0.0, 0.2)
    val am = binomialPrice(isCall = false, 100, 120, 1.0, 0.08, 0.0, 0.2, 200)
    assert(am > eu)
    assert(am >= 20.0) // at least immediate exercise value
  }

  test("greeks: delta bounds, gamma positive, put-call delta parity") {
    val g = bsGreeks(isCall = true, 100, 100, 1.0, 0.05, 0.0, 0.2)
    val gp = bsGreeks(isCall = false, 100, 100, 1.0, 0.05, 0.0, 0.2)
    assert(g.delta > 0 && g.delta < 1)
    assert(gp.delta > -1 && gp.delta < 0)
    assert(math.abs((g.delta - gp.delta) - 1.0) < 1e-9) // e^{-qt}=1
    assert(g.gamma > 0 && math.abs(g.gamma - gp.gamma) < 1e-12)
    assert(g.vega > 0 && math.abs(g.vega - gp.vega) < 1e-12)
    // finite-difference check of delta
    val eps = 1e-4
    val up = bsPrice(isCall = true, 100 + eps, 100, 1.0, 0.05, 0.0, 0.2)
    val dn = bsPrice(isCall = true, 100 - eps, 100, 1.0, 0.05, 0.0, 0.2)
    assert(math.abs((up - dn) / (2 * eps) - g.delta) < 1e-6)
  }

  test("binomialPrice is bit-identical to the per-node CRR tree") {
    // σ ≤ 0 and t ≤ 0 take the intrinsic branch; σ below about
    // |r - q|·sqrt(t/steps) drives p out of (0, 1), the zero branch
    val sigma = Gen.frequency(
      1 -> Gen.oneOf(0.0, -0.0, -0.3),
      2 -> Gen.choose(1e-8, 1e-2),
      6 -> Gen.choose(1e-2, 5.0))
    val t = Gen.frequency(1 -> Gen.oneOf(0.0, -0.25), 8 -> Gen.choose(1e-4, 3.0))
    val r = Gen.frequency(1 -> Gen.oneOf(-0.4, 0.6), 6 -> Gen.choose(-0.02, 0.12))
    val args = for {
      isCall <- Gen.oneOf(true, false)
      s <- Gen.choose(1.0, 400.0)
      k <- Gen.choose(1.0, 400.0)
      tt <- t
      rr <- r
      q <- Gen.choose(0.0, 0.08)
      sg <- sigma
      steps <- Gen.frequency(1 -> Gen.oneOf(1, 2, 300), 6 -> Gen.choose(1, 300))
    } yield (isCall, s, k, tt, rr, q, sg, steps)
    var degenerate = 0
    assertProp(Prop.forAll(args) { case (isCall, s, k, tt, rr, q, sg, steps) =>
      val want = perNodeBinomialPrice(isCall, s, k, tt, rr, q, sg, steps)
      if (tt > 0.0 && sg > 0.0) {
        val dt = tt / steps
        val u = math.exp(sg * math.sqrt(dt))
        val p = (math.exp((rr - q) * dt) - 1.0 / u) / (u - 1.0 / u)
        if (p <= 0.0 || p >= 1.0) degenerate += 1
      }
      bits(binomialPrice(isCall, s, k, tt, rr, q, sg, steps)) == bits(want)
    }, tests = 2000)
    assert(degenerate > 0, "no case reached the degenerate-p branch")
  }

  test("binomialImpliedVol is bit-identical to the per-node CRR solve") {
    var solved = 0
    for {
      k <- (80 to 120 by 5).map(_.toDouble)
      t <- Seq(0.05, 0.3, 0.55, 0.8, 1.05)
      premium <- Seq(0.02, 0.045, 0.07)
      isCall <- Seq(true, false)
    } {
      val price = math.max(if (isCall) 100.0 - k else k - 100.0, 0.0) +
        100.0 * premium
      val got = binomialImpliedVol(isCall, price, 100.0, k, t, 0.045, 0.012)
      val want = bisectIv(price,
        sg => perNodeBinomialPrice(isCall, 100.0, k, t, 0.045, 0.012, sg, 100))
      assert(bits(got) == bits(want), s"k=$k t=$t premium=$premium call=$isCall")
      if (got > 0.0) solved += 1
    }
    assert(solved > 100)
  }
}
