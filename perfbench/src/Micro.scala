package perfbench

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.analytics.{BlackScholes, RiskKernels}
import graft.plans._

/** Microbenchmarks of the traced run, on seeded inputs of fixed size, all
  * single-threaded on the driver.
  *
  * Kernels: each of the 26 `NativeExpressions` kernels is compiled the way
  * a `select` compiles it (a generated `UnsafeProjection`) and timed over
  * [[Rows]] unsafe input rows, as ns per row (median of three loops after a
  * warm-up loop). Timing the projection rather than a `select` job keeps
  * the per-job launch cost, about a second per job on a 4-core sandbox,
  * out of a per-row figure. Analytics: loops over the pricing calls
  * `riskOf` is made of.
  */
final class Micro(seed: Long) {
  val Rows = 2000
  private val rnd = new Random(seed)
  private val PqM = 8
  private val PqKs = 16
  private val PqD = 8

  private val fields = Seq(
    "words" -> ArrayType(StringType, containsNull = false),
    "words2" -> ArrayType(StringType, containsNull = false),
    "text" -> StringType,
    "vec" -> ArrayType(FloatType, containsNull = false),
    "lvec" -> ArrayType(LongType, containsNull = false),
    "lvec2" -> ArrayType(LongType, containsNull = false),
    "day" -> DateType,
    "codes" -> ArrayType(IntegerType, containsNull = false),
    "dt" -> ArrayType(LongType, containsNull = false),
    "nsq" -> LongType)
  private def c(name: String): Expression = {
    val i = fields.indexWhere(_._1 == name)
    BoundReference(i, fields(i)._2, nullable = false)
  }

  private def longs(n: Int, bound: Int): Array[Long] =
    Array.fill(n)(rnd.nextInt(2 * bound + 1).toLong - bound)
  private def words(): Array[String] =
    Array.fill(10 + rnd.nextInt(50))(Micro.Vocab(rnd.nextInt(Micro.Vocab.length)))
  private def strings(ws: Array[String]) =
    new GenericArrayData(ws.map(w => UTF8String.fromString(w): Any))

  /** The seeded input rows, in the unsafe format a scan hands a projection. */
  private lazy val input: Array[UnsafeRow] = {
    val toUnsafe = UnsafeProjection.create(fields.map(f => c(f._1)))
    Array.fill(Rows) {
      val w = words()
      val v = longs(64, 100000)
      val w2 = w.map(x => if (rnd.nextInt(4) == 0) Micro.Vocab(rnd.nextInt(Micro.Vocab.length)) else x)
      toUnsafe(InternalRow(strings(w), strings(w2), UTF8String.fromString(w.mkString(" ")),
        UnsafeArrayData.fromPrimitiveArray(v.map(x => x / 1e6f)),
        UnsafeArrayData.fromPrimitiveArray(v),
        UnsafeArrayData.fromPrimitiveArray(longs(64, 100000)),
        19723 + rnd.nextInt(365),
        UnsafeArrayData.fromPrimitiveArray(Array.fill(PqM)(1 + rnd.nextInt(PqKs))),
        UnsafeArrayData.fromPrimitiveArray(Array.fill(PqM * PqKs)(rnd.nextInt(1000).toLong)),
        v.map(x => x * x).sum)).copy()
    }
  }

  /** The 26 NativeExpressions kernels with representative arguments. */
  def kernelExprs(): Seq[(String, Expression)] = {
    val book = longs(PqM * PqKs * PqD, 100000)
    Seq(
      "SimHash64" -> SimHash64(c("words")),
      "TradingDayRoll" -> TradingDayRoll(c("day"),
        Array("2024-01-01", "2024-07-04", "2024-12-25").map(d =>
          java.time.LocalDate.parse(d).toEpochDay.toInt)),
      "IntDotProduct" -> IntDotProduct(c("lvec"), c("lvec2")),
      "RhpSignature" -> RhpSignature(c("lvec"), longs(16 * 64, 1), 64),
      "ByteEntropy" -> ByteEntropy(c("text")),
      "HashedBagScore" -> HashedBagScore(c("text"), Seq.fill(1024)(rnd.nextGaussian()), 0.1),
      "HashedBagEmbed" -> HashedBagEmbed(c("text"), Seq.fill(256 * 8)(rnd.nextGaussian()), 8),
      "RollingHash64" -> RollingHash64(c("text")),
      "Shingles" -> Shingles(c("words"), 3),
      "MinHashes" -> MinHashes(c("words"), 0, 16),
      "WinnowSelect" -> WinnowSelect(c("words"), 3, 4),
      "QuantizeVec" -> QuantizeVec(c("vec"), 1e6),
      "IntSqDist" -> IntSqDist(c("lvec"), c("lvec2")),
      "PqEncode" -> PqEncode(c("lvec"), book, PqM, PqD, PqKs),
      "PqAdcTable" -> PqAdcTable(c("lvec"), book, PqM, PqD, PqKs),
      "PqAdcScore" -> PqAdcScore(c("dt"), c("codes"), PqKs),
      "LongVecSub" -> LongVecSub(c("lvec"), c("lvec2")),
      "PqEncodeResid" -> PqEncodeResid(c("lvec"), c("lvec2"), book, PqM, PqD, PqKs),
      "PqAdcTableResid" -> PqAdcTableResid(c("lvec"), c("lvec2"), book, PqM, PqD, PqKs),
      "IvfNearestIdx" -> IvfNearestIdx(c("lvec"), longs(16 * 64, 100000), 64),
      "Bigrams" -> Bigrams(c("words")),
      "GramsWithPos" -> GramsWithPos(c("words"), 3),
      "TermCounts" -> TermCounts(c("words"), Array("spark", "join", "hash")),
      "EqCount" -> EqCount(c("words"), c("words2")),
      "RenormQuantize" -> RenormQuantize(c("lvec"), c("nsq")),
      "WordChunks" -> WordChunks(c("words"), 16))
  }

  def kernels(): Seq[(String, Double)] = kernelExprs().map { case (name, e) =>
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val rows = input
    val ns = Micro.loop(Rows)(i => proj(rows(i)))
    println(f"[micro] $name%-16s $ns%12.1f ns/row")
    s"plans.$name.ns_per_row" -> ns
  }

  def analytics(): Seq[(String, Double)] = {
    final case class In(call: Boolean, s: Double, k: Double, t: Double, sigma: Double, price: Double)
    val r = 0.045; val q = 0.012
    val ins = Array.fill(512) {
      val call = rnd.nextBoolean(); val s = 100.0; val k = 80.0 + 40.0 * rnd.nextDouble()
      val t = 0.05 + rnd.nextDouble(); val sigma = 0.1 + 0.5 * rnd.nextDouble()
      In(call, s, k, t, sigma, BlackScholes.bsPrice(call, s, k, t, r, q, sigma))
    }
    def at(i: Int) = ins(i % ins.length)
    val bsIv = Micro.loop(4096) { i =>
      val x = at(i); BlackScholes.bsImpliedVol(x.call, x.price, x.s, x.k, x.t, r, q) }
    val binIv = Micro.loop(32) { i =>
      val x = at(i); BlackScholes.binomialImpliedVol(x.call, x.price, x.s, x.k, x.t, r, q) }
    val greeks = Micro.loop(65536) { i =>
      val x = at(i); BlackScholes.bsGreeks(x.call, x.s, x.k, x.t, r, q, x.sigma) }
    val risk = Micro.loop(32) { i =>
      val x = at(i); RiskKernels.riskOf(if (x.call) "C" else "P", x.price, x.s, x.k, x.t, r, q) }
    println(f"[micro] bsImpliedVol $bsIv%.0f ns, binomialImpliedVol $binIv%.0f ns, " +
      f"bsGreeks $greeks%.0f ns, riskOf $risk%.0f ns")
    Seq("analytics.bs_iv_ns" -> bsIv, "analytics.binomial_iv_ns" -> binIv,
      "analytics.greeks_ns" -> greeks, "analytics.risk_of_ns" -> risk)
  }
}

object Micro {
  val Vocab: Array[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part " +
    "fast row the agg key query a scan batch").split(" ")
  @volatile var blackhole: Any = null

  /** ns per call of `f` over 0 until n: median of three loops after one
    * warm-up loop. The last result is kept live so no call is elided.
    */
  def loop(n: Int)(f: Int => Any): Double = {
    var last: Any = null
    (0 until n).foreach(i => last = f(i))
    val ns = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      (0 until n).foreach(i => last = f(i))
      (System.nanoTime() - t0).toDouble / n
    }.sorted.apply(1)
    blackhole = last
    ns
  }
}
