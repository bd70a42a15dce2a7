package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.BlackScholes._
import graft.analytics.RiskKernels._

class RiskKernelsSpec extends AnyFunSuite {

  private val degenerate = Seq(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, 0.0, -1.0)

  /** (field, price, S, K, t): one of price, S, K, t degenerate, the
    * rest an ordinary at-the-money contract. */
  private val degenerateRows = for {
    field <- Seq("price", "s", "k", "t")
    v <- degenerate
  } yield {
    def at(name: String, ok: Double) = if (name == field) v else ok
    (s"$field=$v", at("price", 5.0), at("s", 100.0), at("k", 100.0), at("t", 0.5))
  }

  private val (r, q) = (0.045, 0.012)

  private def finite(xs: Iterator[Any]): Boolean = xs.forall {
    case d: Double => java.lang.Double.isFinite(d)
    case _ => true
  }

  /** Evaluations `impliedVol` makes on `f` at most: 2 for the guess,
    * 2 for the bounds, 100 iterations. */
  private val evalCap = 104

  private def counted(price: Double, f: Double => Double, guess: Double): (Double, Int) = {
    var n = 0
    val iv = impliedVol(price, sg => { n += 1; f(sg) }, guess)
    (iv, n)
  }

  test("riskOf, riskVerifiedOf and bsIvOf give finite zeros on degenerate S, K, t and price") {
    for ((what, price, s, k, t) <- degenerateRows; right <- Seq("C", "P")) {
      val row = s"$right $what"
      val risk = riskOf(right, price, s, k, t, r, q)
      val verified = riskVerifiedOf(right, price, s, k, t, r, q)
      val bsIv = bsIvOf(right, price, s, k, t, r, q)
      assert(finite(risk.productIterator), s"$row: $risk")
      assert(risk.bs_iv == 0.0 && risk.binomial_iv == 0.0 && bsIv == 0.0, s"$row: $risk")
      assert(verified.risk == risk, row)
      assert(verified.check.bs_roundtrip_ok && verified.check.binomial_roundtrip_ok, row)
      val isCall = right == "C"
      for ((name, f) <- Seq(
          "bs" -> ((sg: Double) => bsPrice(isCall, s, k, t, r, q, sg)),
          "tree" -> ((sg: Double) => binomialPrice(isCall, s, k, t, r, q, sg)));
          guess <- Seq(Double.NaN, 0.2)) {
        val (iv, evals) = counted(price, f, guess)
        assert(iv == 0.0 && evals <= evalCap, s"$row $name guess=$guess: iv=$iv evals=$evals")
      }
    }
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  test("bsIvOf matches riskOf bit for bit and bsRoundtripOk matches bsPrice, ordinary and degenerate rows") {
    def orDegenerate(g: Gen[Double]) = Gen.frequency(1 -> Gen.oneOf(degenerate), 5 -> g)
    val args = for {
      // both rights, in the spellings the kernels read by first letter
      right <- Gen.oneOf("C", "P", "c", "put", null)
      s <- orDegenerate(Gen.choose(20.0, 400.0))
      // K/S: ITM, ATM and OTM for either right
      m <- Gen.oneOf(Gen.oneOf(0.8, 1.0, 1.25), Gen.choose(0.5, 1.5))
      k <- orDegenerate(Gen.const((if (s > 0.0 && java.lang.Double.isFinite(s)) s else 100.0) * m))
      t <- orDegenerate(Gen.choose(1e-3, 2.5))
      sg <- Gen.choose(0.05, 1.5)
      u <- Gen.choose(0.0, 1.0)
      kind <- Gen.choose(0, 3)
      bad <- Gen.oneOf(degenerate)
    } yield {
      val isCall = right != null && right.toUpperCase.startsWith("C")
      // a degenerate price, one below intrinsic, one above the
      // no-arbitrage cap, or the BS price at σ
      val price = kind match {
        case 0 => bad
        case 1 => math.max(if (isCall) s - k else k - s, 0.0) * u
        case 2 => (if (isCall) s else k) * (1.0 + u)
        case _ => bsPrice(isCall, s, k, t, r, q, sg)
      }
      (right, isCall, price, s, k, t, sg)
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(500).withInitialSeed(Seed(20261022L)),
      Prop.forAllNoShrink(args) { case (right, isCall, price, s, k, t, sg) =>
        val risk = riskOf(right, price, s, k, t, r, q)
        val bsIv = bsIvOf(right, price, s, k, t, r, q)
        // the rule against the BS price of the right read from its
        // first letter: a call/put mix-up fails ITM and OTM rows
        val atSg = math.abs(bsPrice(isCall, s, k, t, r, q, sg) - price) < 1e-6
        val checks = Seq(
          s"bsIvOf $bsIv != riskOf.bs_iv ${risk.bs_iv}" -> (bits(bsIv) == bits(risk.bs_iv)),
          s"no roundtrip at the solved iv $bsIv" ->
            bsRoundtripOk(right, bsIv, price, s, k, t, r, q),
          s"roundtrip at sigma=$sg != bsPrice within 1e-6 ($atSg)" ->
            (bsRoundtripOk(right, sg, price, s, k, t, r, q) == atSg))
        val why = checks.collect { case (msg, false) => msg }
        Prop(why.isEmpty) :| s"$right price=$price s=$s k=$k t=$t: ${why.mkString("; ")}"
      })
    assert(res.passed, res.status.toString)
  }

  test("an out-of-range guess falls back to the unseeded solve") {
    for {
      isCall <- Seq(true, false)
      k <- Seq(80.0, 100.0, 125.0)
      t <- Seq(0.004, 0.5, 2.0)
    } {
      val price = bsPrice(isCall, 100.0, k, t, r, q, 0.3) + 0.5
      val tree = (sg: Double) => binomialPrice(isCall, 100.0, k, t, r, q, sg)
      val (want, wantEvals) = counted(price, tree, Double.NaN)
      assert(want > 0.0, s"call=$isCall k=$k t=$t")
      for (guess <- Seq(Double.NaN, 0.0, -0.0, -0.3, 5.0, 7.5,
          Double.PositiveInfinity, Double.NegativeInfinity)) {
        val (got, evals) = counted(price, tree, guess)
        assert(java.lang.Double.doubleToRawLongBits(got) ==
          java.lang.Double.doubleToRawLongBits(want) && evals == wantEvals,
          s"call=$isCall k=$k t=$t guess=$guess: got=$got want=$want evals=$evals/$wantEvals")
        assert(evals <= evalCap)
        assert(binomialImpliedVol(isCall, price, 100.0, k, t, r, q, guess = guess) == want)
      }
    }
  }
}
