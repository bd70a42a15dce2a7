package graft

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
