package graft.analytics

/** Option-pricing kernels: Black-Scholes price/IV/greeks and CRR
  * binomial price/IV.
  *
  * Restates the reference's row-wise analytics
  * (Organizers.py:127-285 — BS_IV, Binomial_IV, greeks, Dollar_Delta,
  * zero-vol rescue, ±inf/NaN→0 cleanup at Organizers.py:288-292) as
  * pure deterministic Scala, to be lifted into Spark UDFs by
  * [[RiskKernels]]. The normal CDF uses West (2005)'s double-precision
  * rational approximation (~1e-15 abs error); IV inversion is
  * monotone bisection, robust across deep ITM/OTM and near-expiry.
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

  /** Implied vol by monotone bisection on [lo, hi].
    *
    * Out-of-bounds prices (below discounted intrinsic / above the
    * no-arbitrage cap) return 0.0 — the reference coerces failed IV
    * solves to 0 in its cleanup pass (Organizers.py:288-292), and its
    * missing-vol rescue re-solves zeros (Organizers.py:172-185).
    */
  def bsImpliedVol(isCall: Boolean, price: Double, s: Double, k: Double,
      t: Double, r: Double, q: Double): Double =
    impliedVol(price, sigma => bsPrice(isCall, s, k, t, r, q, sigma))

  private[analytics] def impliedVol(price: Double, f: Double => Double): Double = {
    if (!java.lang.Double.isFinite(price) || price <= 0.0) return 0.0
    val lo0 = 1e-9
    val hi0 = 5.0
    if (price <= f(lo0) || price >= f(hi0)) return 0.0
    var lo = lo0
    var hi = hi0
    var i = 0
    while (i < 100 && hi - lo > 1e-10) {
      val mid = (lo + hi) / 2.0
      if (f(mid) < price) lo = mid else hi = mid
      i += 1
    }
    val root = (lo + hi) / 2.0
    // Validate the root: a discontinuous pricer (the CRR tree's
    // degenerate-probability branch at tiny σ returns 0) can leave NO
    // σ with f(σ) = price even though the bracket check passed —
    // bisection then converges onto the jump. A failed solve is 0.0,
    // the reference's coercion for unsolvable IVs.
    if (math.abs(f(root) - price) < 1e-6) root else 0.0
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

  /** Binomial implied vol by bisection (same edge conventions as BS). */
  def binomialImpliedVol(isCall: Boolean, price: Double, s: Double,
      k: Double, t: Double, r: Double, q: Double, steps: Int = 100): Double =
    impliedVol(price, sigma => binomialPrice(isCall, s, k, t, r, q, sigma, steps))
}
