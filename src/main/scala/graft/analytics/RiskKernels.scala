package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's analytics enrichment (§3.2 / Organizers.py:125-292
  * `Calc_Risks`, with the missing-vol rescue of lines 172-185) as two
  * per-row kernels over the same input columns (right ('C'/'P'),
  * underlier_price, strike, year_frac, rf_rate, div_yield, and a price
  * column):
  *
  *  - [[riskVerifiedOf]] ([[calcRisksVerified]], q43/q75/q81): BS IV,
  *    binomial IV, greeks and Dollar_Delta after the ±inf/NaN→0
  *    cleanup, plus the [[RiskCheck]] self-verification booleans;
  *  - [[bsIvOf]] ([[bsIv]], q89 and its [[rescueMissingVol]]): the BS
  *    IV alone, equal to `riskOf(...).bs_iv` by construction.
  *
  * They are deterministic Scala UDFs, the one place the engine leaves
  * codegen, exactly as SURVEY §2.9 prescribes (no Spark built-in
  * exists); every Scala UDF of the engine is defined here. The full
  * kernel returns ONE struct per row, so each row pays a single kernel
  * invocation, not one per output column; Catalyst expands the struct
  * into columns for free.
  *
  * The full kernel's cost is dominated by the binomial IV solve: about
  * 7 CRR trees of 100 steps, each `2·steps+1` `pow` calls plus
  * O(steps²) multiply-adds (see [[BlackScholes.binomialPrice]]). The
  * solve is seeded with the row's BS IV, which brackets the tree's root
  * in two trees; Brent steps close the bracket
  * ([[BlackScholes.impliedVol]]). The BS solve and greeks are
  * closed-form by comparison, so the BS-only kernel builds no tree.
  */
object RiskKernels {

  import BlackScholes._

  /** (isCall?, price, S, K, t, r, q) → (bsIv, binIv, delta, gamma,
    * theta, vega, rho, dollarDelta). Null-safe: any null input yields
    * zeros, mirroring the reference's fillna(0).
    */
  final case class Risk(bs_iv: Double, binomial_iv: Double, delta: Double,
      gamma: Double, theta: Double, vega: Double, rho: Double,
      dollar_delta: Double)

  private def isCallRight(right: String): Boolean =
    right != null && right.nonEmpty &&
      Character.toUpperCase(right.charAt(0)) == 'C'

  private def anyNull(right: String, xs: java.lang.Double*): Boolean =
    right == null || xs.contains(null)

  /** ±inf/NaN→0 cleanup (Organizers.py:288-292). */
  private def z(x: Double): Double = if (java.lang.Double.isFinite(x)) x else 0.0

  def riskOf(right: String, price: java.lang.Double, s: java.lang.Double,
      k: java.lang.Double, t: java.lang.Double, r: java.lang.Double,
      q: java.lang.Double): Risk = {
    if (anyNull(right, price, s, k, t, r, q))
      return Risk(0, 0, 0, 0, 0, 0, 0, 0)
    val isCall = isCallRight(right)
    val iv = bsImpliedVol(isCall, price, s, k, t, r, q)
    val binIv = binomialImpliedVol(isCall, price, s, k, t, r, q, guess = iv)
    val g =
      if (iv > 0.0) bsGreeks(isCall, s, k, t, r, q, iv)
      else Greeks(0, 0, 0, 0, 0)
    Risk(z(iv), z(binIv), z(g.delta), z(g.gamma), z(g.theta), z(g.vega),
      z(g.rho), z(g.delta * s))
  }

  /** `riskOf(...).bs_iv` without the binomial solve and greeks. */
  def bsIvOf(right: String, price: java.lang.Double, s: java.lang.Double,
      k: java.lang.Double, t: java.lang.Double, r: java.lang.Double,
      q: java.lang.Double): Double =
    if (anyNull(right, price, s, k, t, r, q)) 0.0
    else z(bsImpliedVol(isCallRight(right), price, s, k, t, r, q))

  /** The BS roundtrip rule: a nonzero `iv` prices back to `price`
    * within 1e-6; a zero `iv` (unsolved) passes. */
  def bsRoundtripOk(right: String, iv: Double, price: Double, s: Double,
      k: Double, t: Double, r: Double, q: Double): Boolean =
    iv == 0.0 || math.abs(bsPrice(isCallRight(right), s, k, t, r, q, iv) - price) < 1e-6

  private val bsIvUdf = udf(bsIvOf _)
  private val bsRoundtripUdf = udf(bsRoundtripOk _)

  private def inputs(price: Column): Seq[Column] =
    Seq(col("right"), price, col("underlier_price"), col("strike"),
      col("year_frac"), col("rf_rate"), col("div_yield"))

  /** [[bsIvOf]] of each row at `priceCol`. */
  def bsIv(priceCol: String): Column = bsIvUdf(inputs(col(priceCol)): _*)

  /** [[bsRoundtripOk]] of each row's `iv` at `price`. */
  def bsRoundtrip(iv: Column, price: Column): Column =
    bsRoundtripUdf(col("right") +: iv +: inputs(price).tail: _*)

  /** Intrinsic value: max(S − K, 0) for a call, max(K − S, 0) for a put. */
  def intrinsic: Column =
    greatest(when(col("right") === "C", col("underlier_price") - col("strike"))
      .otherwise(col("strike") - col("underlier_price")), lit(0.0))

  /** Self-verification of the risk kernel, per row: each boolean holds
    * whenever the kernels are internally consistent, independent of
    * the input data — which makes the whole enrichment oracle-checkable
    * (the DuckDB oracle asserts TRUE) even though root-finding itself
    * is not SQL-expressible.
    *
    *  - `bs_roundtrip_ok`    — bsPrice(bs_iv) recovers the input price
    *    to 1e-6 (the Brent solve, about 7 evaluations, closes a bracket
    *    of about 1e-10 on σ; vega bounds the price error well inside
    *    1e-6), or the solve was out-of-bounds (iv=0).
    *  - `binomial_roundtrip_ok` — same through the CRR tree (American
    *    exercise: the tree price is monotone in σ, so the bracketed
    *    root is exact; the solve, seeded from bs_iv, builds about 7
    *    trees; no BS-vs-binomial closeness is asserted because the
    *    early-exercise premium over vega is data-dependent).
    *  - `delta_in_range` / `gamma_nonneg` / `vega_nonneg` — greeks
    *    sanity on solved rows.
    *  - `dollar_delta_exact` — Dollar_Delta ≡ Delta × S bit-for-bit.
    */
  final case class RiskCheck(bs_roundtrip_ok: Boolean,
      binomial_roundtrip_ok: Boolean, delta_in_range: Boolean,
      gamma_nonneg: Boolean, vega_nonneg: Boolean,
      dollar_delta_exact: Boolean)

  def verifyRisk(right: String, price: Double, s: Double, k: Double,
      t: Double, r: Double, q: Double, risk: Risk): RiskCheck = {
    val isCall = isCallRight(right)
    val bsOk = bsRoundtripOk(right, risk.bs_iv, price, s, k, t, r, q)
    val binOk = risk.binomial_iv == 0.0 ||
      math.abs(binomialPrice(isCall, s, k, t, r, q, risk.binomial_iv) - price) < 1e-6
    val solved = risk.bs_iv > 0.0
    val deltaOk = !solved ||
      (if (isCall) risk.delta >= 0.0 && risk.delta <= 1.0
       else risk.delta >= -1.0 && risk.delta <= 0.0)
    RiskCheck(bsOk, binOk, deltaOk,
      !solved || risk.gamma >= 0.0, !solved || risk.vega >= 0.0,
      risk.dollar_delta == risk.delta * s)
  }

  final case class RiskVerified(risk: Risk, check: RiskCheck)

  /** Null inputs yield the zero Risk, which is trivially consistent. */
  def riskVerifiedOf(right: String, price: java.lang.Double,
      s: java.lang.Double, k: java.lang.Double, t: java.lang.Double,
      r: java.lang.Double, q: java.lang.Double): RiskVerified = {
    val risk = riskOf(right, price, s, k, t, r, q)
    if (anyNull(right, price, s, k, t, r, q))
      RiskVerified(risk, RiskCheck(bs_roundtrip_ok = true,
        binomial_roundtrip_ok = true, delta_in_range = true,
        gamma_nonneg = true, vega_nonneg = true, dollar_delta_exact = true))
    else RiskVerified(risk, verifyRisk(right, price, s, k, t, r, q, risk))
  }

  private val riskVerifiedUdf = udf(riskVerifiedOf _)

  /** The [[Risk]] columns and the [[RiskCheck]] self-verification
    * booleans of each row at `priceCol`, appended to `df` in field
    * order: one kernel invocation per row. */
  def calcRisksVerified(df: DataFrame, priceCol: String): DataFrame =
    df.withColumn("__v", riskVerifiedUdf(inputs(col(priceCol)): _*))
      .select(col("*"), col("__v.risk.*"), col("__v.check.*"))
      .drop("__v")

  /** U4 — missing-vol rescue (Organizers.py:172-185): rows whose
    * primary-price IV solved to 0 are re-solved with a fallback price
    * column (the reference retries with the midpoint). Declarative
    * `when` over a second kernel call on the SAME row — no second
    * pass over the data, no union. The re-solve is BS-only
    * ([[bsIv]]), like the primary IV it replaces.
    */
  def rescueMissingVol(df: DataFrame, ivCol: String,
      fallbackPriceCol: String): DataFrame =
    df.withColumn(ivCol,
      when(col(ivCol) === 0.0, bsIv(fallbackPriceCol)).otherwise(col(ivCol)))
}
