package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.BlackScholes._
import graft.analytics.RiskKernels

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

  /** The bisection `BlackScholes.impliedVol` used before the Brent
    * solve, over any pricer: the σ it converged to (0 when the price is
    * out of bounds) and the IV it returned, which is that σ if it prices
    * back to within 1e-6 and 0 otherwise. Kept only as the reference
    * the solver is compared with.
    */
  private def bisect(price: Double, f: Double => Double): (Double, Double) = {
    if (!java.lang.Double.isFinite(price) || price <= 0.0) return (0.0, 0.0)
    if (price <= f(1e-9) || price >= f(5.0)) return (0.0, 0.0)
    var lo = 1e-9
    var hi = 5.0
    var i = 0
    while (i < 100 && hi - lo > 1e-10) {
      val mid = (lo + hi) / 2.0
      if (f(mid) < price) lo = mid else hi = mid
      i += 1
    }
    val root = (lo + hi) / 2.0
    (root, if (math.abs(f(root) - price) < 1e-6) root else 0.0)
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

  /** Exceptions [[disagreement]] accepted, counted for the report. */
  private var jumpSolves = 0
  private var flatSolves = 0

  /** The checks of a solve `got` against the bisection reference
    * `ref = bisect(price, f)`; `None` when all hold:
    *  - a non-zero σ prices back to within 1e-6;
    *  - the zero/non-zero verdict matches the reference;
    *  - σ is within 1e-9 of the reference's where both solve, unless
    *    the price does not identify σ that closely: both σ price to
    *    within 1e-12 of each other (relative), as on the flat stretch
    *    of a deep-ITM American put priced at intrinsic, where rounding
    *    makes `f(σ) >= price` hold on scattered σ and each solver closes
    *    onto a different one (counted in `flatSolves`).
    * One verdict may differ, and only for a pricer with a jump (`jumps`,
    * the tree: 0 below its degenerate-p edge, and not monotone just
    * above it). Bisection closes onto the first sign change of
    * `f - price`; where that is the jump, its σ does not price back and
    * it returns 0. The Brent solve may close onto the edge from the
    * side that prices back, or onto a true root past a dip just above
    * the edge. A non-zero σ that prices back is then accepted although
    * the reference returned 0 (counted in `jumpSolves`).
    */
  private def disagreement(got: Double, ref: (Double, Double),
      f: Double => Double, price: Double, jumps: Boolean): Option[String] = {
    val (root, want) = ref
    if (got != 0.0 && !(math.abs(f(got) - price) < 1e-6))
      Some(s"roundtrip: f($got)=${f(got)} price=$price")
    else if (want == 0.0 && got != 0.0) {
      if (jumps && root > 0.0) { jumpSolves += 1; None }
      else Some(s"verdict: got=$got want=0 (bisection converged to $root)")
    }
    else if (want != 0.0 && got == 0.0) Some(s"verdict: got=0 want=$want")
    else if (math.abs(got - want) <= 1e-9) None
    else if (math.abs(f(got) - f(want)) <= 1e-12 * price) { flatSolves += 1; None }
    else Some(s"|dσ| > 1e-9: got=$got want=$want")
  }

  test("binomialImpliedVol agrees with the per-node CRR bisection solve") {
    var solved = 0
    for {
      k <- (80 to 120 by 5).map(_.toDouble)
      t <- Seq(0.05, 0.3, 0.55, 0.8, 1.05)
      premium <- Seq(0.02, 0.045, 0.07)
      isCall <- Seq(true, false)
    } {
      val price = math.max(if (isCall) 100.0 - k else k - 100.0, 0.0) +
        100.0 * premium
      val tree = (sg: Double) => binomialPrice(isCall, 100.0, k, t, 0.045, 0.012, sg)
      val ref = bisect(price,
        sg => perNodeBinomialPrice(isCall, 100.0, k, t, 0.045, 0.012, sg, 100))
      val guess = bsImpliedVol(isCall, price, 100.0, k, t, 0.045, 0.012)
      for (got <- Seq(
          binomialImpliedVol(isCall, price, 100.0, k, t, 0.045, 0.012),
          binomialImpliedVol(isCall, price, 100.0, k, t, 0.045, 0.012, guess = guess))) {
        val bad = disagreement(got, ref, tree, price, jumps = false)
        assert(bad.isEmpty, s"k=$k t=$t premium=$premium call=$isCall: $bad")
      }
      if (ref._2 > 0.0) solved += 1
    }
    assert(solved > 100)
  }

  test("BS and binomial IV solves agree with bisection on edge-heavy inputs") {
    // price shapes: below intrinsic, at or above the no-arbitrage cap,
    // a tiny-σ price (the tree's degenerate-p region lies below
    // |r - q|·sqrt(t/100)), a deep-ITM American put (its tree root sits
    // above the European BS seed), and ordinary prices
    val args = for {
      isCall <- Gen.oneOf(true, false)
      s <- Gen.choose(1.0, 400.0)
      t <- Gen.frequency(1 -> Gen.choose(1e-4, 1e-2), 3 -> Gen.choose(1e-2, 3.0))
      r <- Gen.choose(-0.02, 0.12)
      q <- Gen.choose(0.0, 0.08)
      kind <- Gen.choose(0, 4)
      m <- Gen.choose(0.5, 1.5)
      u <- Gen.choose(0.0, 1.0)
      sg <- Gen.choose(1e-2, 3.0)
      tiny <- Gen.choose(1e-8, 1e-2)
    } yield {
      val call = isCall && kind != 3
      val k = if (kind == 3) s * (1.3 + m) else s * m
      val intrinsic = math.max(if (call) s - k else k - s, 0.0)
      val price = kind match {
        case 0 => intrinsic * u
        case 1 => (if (call) s else k) * (1.0 + u)
        case 2 => bsPrice(call, s, k, t, r, q, tiny)
        case 3 => binomialPrice(call, s, k, t, r, q, sg)
        case _ => bsPrice(call, s, k, t, r, q, sg)
      }
      (call, s, k, t, r, q, price)
    }
    var solved = 0
    var cases = 0
    assertProp(Prop.forAllNoShrink(args) { case (call, s, k, t, r, q, price) =>
      val bs = (sg: Double) => bsPrice(call, s, k, t, r, q, sg)
      val tree = (sg: Double) => binomialPrice(call, s, k, t, r, q, sg)
      val bsIv = bsImpliedVol(call, price, s, k, t, r, q)
      val binRef = bisect(price, sg => perNodeBinomialPrice(call, s, k, t, r, q, sg, 100))
      val bad = Seq(
        "bs" -> disagreement(bsIv, bisect(price, bs), bs, price, jumps = false),
        "binomial" -> disagreement(binomialImpliedVol(call, price, s, k, t, r, q),
          binRef, tree, price, jumps = true),
        "seeded binomial" -> disagreement(
          binomialImpliedVol(call, price, s, k, t, r, q, guess = bsIv),
          binRef, tree, price, jumps = true))
        .collect { case (name, Some(why)) => s"$name $why" }
      cases += 1
      if (binRef._2 > 0.0) solved += 1
      Prop(bad.isEmpty) :| bad.mkString("; ")
    }, tests = 2000)
    assert(solved > cases / 4, s"only $solved of $cases binomial solves succeeded")
    info(s"$solved of $cases binomial solves succeeded; accepted $jumpSolves " +
      s"solves at the degenerate-p edge and $flatSolves on a flat price")
  }

  /** (isCall, S, K, t, r, q, price) rows shaped like the three risk
    * queries' inputs: q43's contract grid, q89's OTM midpoints and
    * q81's EOD chain (8-13% extrinsic band, expiries up to 2.3 years).
    */
  private val queryShapedRows: Seq[(Boolean, Double, Double, Double, Double, Double, Double)] = {
    def intrinsic(call: Boolean, s: Double, k: Double) =
      math.max(if (call) s - k else k - s, 0.0)
    val q43 = (0 until 2000).map { o =>
      val call = o % 2 == 0
      val s = 100.0 + o % 50
      val k = s * (0.8 + (o % 9) / 20.0)
      (call, s, k, 0.05 + (o % 24) / 24.0, 0.045, 0.012,
        intrinsic(call, s, k) + s * (0.02 + (o % 11) / 200.0))
    }
    val q89 = (0 until 2000).filter(_ % 4 != 0).map { o =>
      val call = o % 2 == 0
      val s = 100.0 + o % 50
      val k = s * (if (call) 1.05 + (o % 4) / 20.0 else 0.95 - (o % 4) / 20.0)
      (call, s, k, 0.05 + (o % 24) / 24.0, 0.045, 0.012, s * (0.02 + (o % 11) / 200.0))
    }
    val q81 = for {
      root <- 0 until 10
      call <- Seq(true, false)
      j <- 0 to 12
      days <- Seq(1, 30, 90, 180, 365, 600, 840)
    } yield {
      val s = 100.0 + root * 5.0 + (root * 7 + j) % 10
      val k = s * (0.7 + 0.05 * j)
      (call, s, k, days / 365.0, 0.045, 0.012,
        intrinsic(call, s, k) + s * (0.08 + (days % 11) / 200.0))
    }
    q43 ++ q89 ++ q81
  }

  test("binomial IV solve builds at most 8 trees seeded and 12 unseeded") {
    var seededTrees = 0L
    var unseededTrees = 0L
    var solved = 0
    for ((call, s, k, t, r, q, price) <- queryShapedRows) {
      var trees = 0
      val tree = (sg: Double) => { trees += 1; binomialPrice(call, s, k, t, r, q, sg) }
      val guess = bsImpliedVol(call, price, s, k, t, r, q)
      val seeded = impliedVol(price, tree, guess)
      seededTrees += trees
      trees = 0
      val unseeded = impliedVol(price, tree)
      unseededTrees += trees
      val row = s"call=$call s=$s k=$k t=$t price=$price"
      assert((seeded == 0.0) == (unseeded == 0.0), row)
      if (seeded > 0.0) solved += 1
      // the counted solve is the one the risk kernel runs
      assert(bits(binomialImpliedVol(call, price, s, k, t, r, q, guess = guess)) == bits(seeded), row)
      assert(bits(RiskKernels.riskOf(if (call) "C" else "P", price, s, k, t, r, q)
        .binomial_iv) == bits(seeded), row)
    }
    val n = queryShapedRows.size.toDouble
    val (perSeeded, perUnseeded) = (seededTrees / n, unseededTrees / n)
    assert(perSeeded <= 8.0, f"$perSeeded%.2f trees per seeded solve")
    assert(perUnseeded <= 12.0, f"$perUnseeded%.2f trees per unseeded solve")
    assert(solved > n * 0.9, s"only $solved of ${n.toInt} rows solved")
    info(f"${n.toInt} rows: $perSeeded%.2f trees per seeded solve, $perUnseeded%.2f unseeded")
  }
}
