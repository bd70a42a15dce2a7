package graft.analytics

/** Option-pricing kernels: Black-Scholes price/IV/greeks and CRR
  * binomial price/IV.
  *
  * Restates the reference's row-wise analytics
  * (Organizers.py:127-285 — BS_IV, Binomial_IV, greeks, Dollar_Delta,
  * zero-vol rescue, ±inf/NaN→0 cleanup at Organizers.py:288-292) as
  * pure deterministic Scala, to be lifted into Spark UDFs by
  * [[RiskKernels]]. The normal CDF uses West (2005)'s double-precision
  * rational approximation (~1e-15 abs error). Both IVs invert their
  * pricer with one bracketed solver ([[impliedVol]], Brent's method):
  * about 7 evaluations per solve, and about 7 CRR trees per binomial
  * solve seeded from the row's BS IV (10 unseeded).
  */
object BlackScholes {

  /** Standard normal CDF — West (2005) "Better approximations to
    * cumulative normal functions", double precision.
    */
  def normCdf(x: Double): Double = {
    val xabs = math.abs(x)
    val c =
      if (xabs > 37.0) 0.0
      else {
        val e = math.exp(-xabs * xabs / 2.0)
        if (xabs < 7.07106781186547) {
          var b = 3.52624965998911e-2 * xabs + 0.700383064443688
          b = b * xabs + 6.37396220353165
          b = b * xabs + 33.912866078383
          b = b * xabs + 112.079291497871
          b = b * xabs + 221.213596169931
          b = b * xabs + 220.206867912376
          val num = e * b
          var d = 8.83883476483184e-2 * xabs + 1.75566716318264
          d = d * xabs + 16.064177579207
          d = d * xabs + 86.7807322029461
          d = d * xabs + 296.564248779674
          d = d * xabs + 637.333633378831
          d = d * xabs + 793.826512519948
          d = d * xabs + 440.413735824752
          num / d
        } else {
          var b = xabs + 0.65
          b = xabs + 4.0 / b
          b = xabs + 3.0 / b
          b = xabs + 2.0 / b
          b = xabs + 1.0 / b
          e / b / 2.506628274631
        }
      }
    if (x > 0) 1.0 - c else c
  }

  /** Standard normal PDF. */
  def normPdf(x: Double): Double =
    math.exp(-x * x / 2.0) / 2.5066282746310002 // sqrt(2*pi)

  /** European Black-Scholes price with continuous dividend yield q.
    * isCall matches the reference's 'C'/'P' right flag (§F15).
    */
  def bsPrice(isCall: Boolean, s: Double, k: Double, t: Double,
      r: Double, q: Double, sigma: Double): Double = {
    if (t <= 0.0 || sigma <= 0.0) {
      // at expiry / zero vol: discounted intrinsic
      val fwd = s * math.exp(-q * math.max(t, 0.0))
      val disc = k * math.exp(-r * math.max(t, 0.0))
      return if (isCall) math.max(fwd - disc, 0.0) else math.max(disc - fwd, 0.0)
    }
    val sq = sigma * math.sqrt(t)
    val d1 = (math.log(s / k) + (r - q + sigma * sigma / 2.0) * t) / sq
    val d2 = d1 - sq
    if (isCall)
      s * math.exp(-q * t) * normCdf(d1) - k * math.exp(-r * t) * normCdf(d2)
    else
      k * math.exp(-r * t) * normCdf(-d2) - s * math.exp(-q * t) * normCdf(-d1)
  }

  /** Black-Scholes implied vol by [[impliedVol]] (unseeded: about 7
    * `bsPrice` evaluations per solve).
    *
    * Out-of-bounds prices (below discounted intrinsic / above the
    * no-arbitrage cap) return 0.0 — the reference coerces failed IV
    * solves to 0 in its cleanup pass (Organizers.py:288-292), and its
    * missing-vol rescue re-solves zeros (Organizers.py:172-185).
    */
  def bsImpliedVol(isCall: Boolean, price: Double, s: Double, k: Double,
      t: Double, r: Double, q: Double): Double =
    impliedVol(price, sigma => bsPrice(isCall, s, k, t, r, q, sigma))

  /** The σ in (1e-9, 5) with `f(σ) = price`, by Brent's method: inverse
    * quadratic or secant steps inside a bracket that always holds the
    * root, with a halving step whenever interpolation would not shrink
    * it fast enough, until the bracket is about 1e-10 wide.
    *
    * A `guess` with `guess·0.95 > 1e-9` and `guess·1.05 < 5` is tried
    * first: `f` at the guess and at `guess·1.05` (if `f(guess) < price`)
    * or `guess·0.95` (otherwise) bracket the root when the guess is
    * within 5% of it. For `f` monotone in σ that bracket already lies
    * inside the bound checks below, so the bounds `f(1e-9)` and `f(5)`
    * are evaluated only when there is no guess (NaN, the default), the
    * guess is out of range, or it does not bracket the price.
    *
    * Edge contract, each case 0.0 (the reference's coercion for
    * unsolvable IVs): a non-finite or non-positive price; a price
    * outside `(f(1e-9), f(5))`; a root whose price misses by 1e-6 or
    * more. The last covers a discontinuous pricer — the CRR tree's
    * degenerate-probability branch at tiny σ returns 0, which can leave
    * no σ with `f(σ) = price` although the bounds bracket it; the
    * solver then closes onto the jump. At most 104 evaluations: 2 for
    * the guess, 2 for the bounds, 100 iterations.
    */
  private[graft] def impliedVol(price: Double, f: Double => Double,
      guess: Double = Double.NaN): Double = {
    if (!java.lang.Double.isFinite(price) || price <= 0.0) return 0.0
    val lo = 1e-9
    val hi = 5.0
    // [a, b] brackets the root of g = f - price: one end below
    // (g < 0), the other not (g >= 0); NaN is neither, so never brackets
    var a = 0.0; var ga = 0.0
    var b = 0.0; var gb = 0.0
    val seeded = guess * 0.95 > lo && guess * 1.05 < hi && {
      a = guess; ga = f(a) - price
      b = if (ga < 0.0) a * 1.05 else a * 0.95
      gb = f(b) - price
      ga < 0.0 && gb >= 0.0 || ga >= 0.0 && gb < 0.0
    }
    if (!seeded) {
      a = lo; ga = f(lo) - price
      b = hi; gb = f(hi) - price
      if (!(ga < 0.0 && gb > 0.0)) return 0.0
    }
    // b is the best point, c the far end of the bracket, e the step
    // before last: the classic Brent (1973) bookkeeping. The bracket
    // closes onto the smallest σ with f(σ) >= price, so a flat stretch
    // of exact roots (a deep-ITM American put priced at intrinsic)
    // yields its left end; hence no early exit on g == 0.
    var c = b; var gc = gb
    var d = b - a; var e = d
    var i = 0
    var done = false
    while (!done) {
      if ((gb < 0.0) == (gc < 0.0)) {
        c = a; gc = ga; d = b - a; e = d
      }
      if (math.abs(gc) < math.abs(gb)) {
        a = b; b = c; c = a; ga = gb; gb = gc; gc = ga
      }
      val tol = 2.0 * math.ulp(b) + 5e-11
      val m = 0.5 * (c - b)
      if (math.abs(m) <= tol || i == 100) done = true
      else {
        if (math.abs(e) >= tol && math.abs(ga) > math.abs(gb)) {
          val s = gb / ga
          var p = 0.0
          var q = 0.0
          if (a == c) { // secant
            p = 2.0 * m * s
            q = 1.0 - s
          } else { // inverse quadratic
            val qa = ga / gc
            val rb = gb / gc
            p = s * (2.0 * m * qa * (qa - rb) - (b - a) * (rb - 1.0))
            q = (qa - 1.0) * (rb - 1.0) * (s - 1.0)
          }
          if (p > 0.0) q = -q else p = -p
          if (2.0 * p < math.min(3.0 * m * q - math.abs(tol * q), math.abs(e * q))) {
            e = d; d = p / q
          } else { d = m; e = m }
        } else { d = m; e = m }
        a = b; ga = gb
        b += (if (math.abs(d) > tol) d else if (m > 0.0) tol else -tol)
        gb = f(b) - price
        i += 1
      }
    }
    if (math.abs(gb) < 1e-6) b else 0.0
  }

  /** BS greeks (call/put), per-unit conventions: Theta per year, Vega
    * per 1.0 vol, Rho per 1.0 rate. Returned as a tuple struct the UDF
    * expands into columns (Organizers.py:148-158, 245-271).
    */
  final case class Greeks(delta: Double, gamma: Double, theta: Double,
      vega: Double, rho: Double)

  def bsGreeks(isCall: Boolean, s: Double, k: Double, t: Double,
      r: Double, q: Double, sigma: Double): Greeks = {
    if (t <= 0.0 || sigma <= 0.0 || s <= 0.0 || k <= 0.0)
      return Greeks(0.0, 0.0, 0.0, 0.0, 0.0)
    val sq = sigma * math.sqrt(t)
    val d1 = (math.log(s / k) + (r - q + sigma * sigma / 2.0) * t) / sq
    val d2 = d1 - sq
    val eqt = math.exp(-q * t)
    val ert = math.exp(-r * t)
    val pdf = normPdf(d1)
    val delta = if (isCall) eqt * normCdf(d1) else -eqt * normCdf(-d1)
    val gamma = eqt * pdf / (s * sq)
    val vega = s * eqt * pdf * math.sqrt(t)
    val theta =
      if (isCall)
        -s * eqt * pdf * sigma / (2.0 * math.sqrt(t)) -
          r * k * ert * normCdf(d2) + q * s * eqt * normCdf(d1)
      else
        -s * eqt * pdf * sigma / (2.0 * math.sqrt(t)) +
          r * k * ert * normCdf(-d2) - q * s * eqt * normCdf(-d1)
    val rho =
      if (isCall) k * t * ert * normCdf(d2)
      else -k * t * ert * normCdf(-d2)
    Greeks(delta, gamma, theta, vega, rho)
  }

  /** American option price on a CRR binomial tree (the reference's
    * second IV basis, Organizers.py:138-147).
    *
    * Cost per tree: `2·steps+1` `pow` calls plus O(steps²)
    * multiply-adds. A node at depth `step`, index `j` sits on lattice
    * level `m = 2j - step ∈ [-steps, steps]`, so the exercise payoff of
    * each level is computed once into `ex(m + steps)` from the same
    * `s * pow(u, m)` a per-node evaluation would use, and backward
    * induction reads it from the table. The result is bit-identical to
    * evaluating `pow` at every node (same operands, same order; JDK 17
    * doubles are strict, so nothing is contracted to FMA).
    */
  def binomialPrice(isCall: Boolean, s: Double, k: Double, t: Double,
      r: Double, q: Double, sigma: Double, steps: Int = 100): Double = {
    if (t <= 0.0 || sigma <= 0.0)
      return if (isCall) math.max(s - k, 0.0) else math.max(k - s, 0.0)
    val dt = t / steps
    val u = math.exp(sigma * math.sqrt(dt))
    val d = 1.0 / u
    val disc = math.exp(-r * dt)
    val p = (math.exp((r - q) * dt) - d) / (u - d)
    if (p <= 0.0 || p >= 1.0) return 0.0
    val pd = 1.0 - p
    val ex = new Array[Double](2 * steps + 1)
    var m = 0
    while (m <= 2 * steps) {
      val st = s * math.pow(u, m - steps)
      ex(m) = if (isCall) math.max(st - k, 0.0) else math.max(k - st, 0.0)
      m += 1
    }
    val values = new Array[Double](steps + 1)
    var i = 0
    while (i <= steps) {
      values(i) = ex(2 * i)
      i += 1
    }
    var step = steps - 1
    while (step >= 0) {
      val off = steps - step
      var j = 0
      while (j <= step) {
        val cont = disc * (p * values(j + 1) + pd * values(j))
        values(j) = math.max(cont, ex(2 * j + off))
        j += 1
      }
      step -= 1
    }
    values(0)
  }

  /** Binomial implied vol by [[impliedVol]], same edge conventions as
    * BS. Each evaluation builds one tree. A `guess` near the root — the
    * row's BS IV, as [[RiskKernels.riskOf]] passes — brackets it in two
    * trees: about 7 trees per solve seeded, 10 unseeded.
    */
  def binomialImpliedVol(isCall: Boolean, price: Double, s: Double,
      k: Double, t: Double, r: Double, q: Double, steps: Int = 100,
      guess: Double = Double.NaN): Double =
    impliedVol(price,
      sigma => binomialPrice(isCall, s, k, t, r, q, sigma, steps), guess)
}
