package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: registers the engine's SQL
  * functions ([[GraftExtensions.Functions]]) with any session built with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), so cluster users reach the
  * native expressions from SQL without code changes, plus the
  * [[RewriteRankLimitToBoundedTopK]] optimizer rule that turns the
  * `row_number()/rank()/dense_rank() <= k` window idiom (including
  * conjunctive filters and `= c` equality bounds) into the bounded
  * aggregate plans, plus the [[FinalSortToSinglePartition]] AQE
  * query-stage preparation rule that runs a global sort over an input
  * known to be small (a quarter of the advisory partition size) on a
  * single partition, with no range-bounds sampling job, and with no
  * exchange at all when the input reads only materialized shuffle
  * stages.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteRankLimitToBoundedTopK)
    e.injectQueryStagePrepRule(_ => FinalSortToSinglePartition)
    GraftExtensions.Functions.foreach { case (name, cls, build) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}

object GraftExtensions {

  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** The SQL functions: name, the expression class, and its builder. */
  private val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("simhash64", classOf[SimHash64], e => SimHash64(e.head)),
    ("rolling_hash64", classOf[RollingHash64], e => RollingHash64(e.head)),
    ("byte_entropy", classOf[ByteEntropy], e => ByteEntropy(e.head)),
    ("trading_day_roll", classOf[TradingDayRoll], buildTradingDayRoll),
    ("bounded_top_k", classOf[BoundedTopK], buildBoundedTopK),
    ("bounded_rank_top_k", classOf[BoundedRankTopK], buildBoundedRankTopK),
    ("bpe_encode", classOf[BpeEncode], BpeMerges.build))

  /** `trading_day_roll(dateCol, array('yyyy-MM-dd', ...))` — the
    * holiday argument must be a foldable literal (it parameterizes the
    * expression, like a format string).
    */
  private def buildTradingDayRoll(exprs: Seq[Expression]): TradingDayRoll = {
    val holidays: Array[Int] = exprs.lift(1) match {
      case None => Array.empty
      case Some(h) if h.foldable =>
        val arr = h.eval().asInstanceOf[ArrayData]
        (0 until arr.numElements()).map(i =>
          java.time.LocalDate.parse(arr.getUTF8String(i).toString)
            .toEpochDay.toInt).sorted.toArray
      case Some(_) => throw new IllegalArgumentException(
        "trading_day_roll holidays must be a literal array of date strings")
    }
    TradingDayRoll(exprs.head, holidays)
  }

  /** An optional literal `array(bool, ...)` argument — per-field sort
    * flags for the SQL surfaces below. The element type and null-ness
    * are checked explicitly: `ArrayData.getBoolean` would happily
    * reinterpret `array(1, 0)` bytes as booleans and read a null slot
    * as `false`, silently inverting a sort direction.
    */
  private def boolArrayArg(
      exprs: Seq[Expression], i: Int, fn: String, name: String): Seq[Boolean] = {
    def fail(): Nothing = throw new IllegalArgumentException(
      s"$fn $name must be a literal array of non-null booleans")
    exprs.lift(i) match {
      case None => Nil
      case Some(e) if e.foldable =>
        e.dataType match {
          case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.BooleanType, _) =>
            e.eval() match {
              case arr: ArrayData =>
                (0 until arr.numElements()).map { j =>
                  if (arr.isNullAt(j)) fail()
                  arr.getBoolean(j)
                }
              case _ => fail()
            }
          case _ => fail()
        }
      case Some(_) => fail()
    }
  }

  /** `bounded_top_k(struct(sortKeys..., payload...), k[, descFlags
    * [, nullsLastFlags]])` with literal arguments; the flag arrays give
    * struct field i its sort direction / null placement (direction
    * default when absent), so SQL reaches everything the Column API
    * does.
    */
  private def buildBoundedTopK(exprs: Seq[Expression]): BoundedTopK = {
    val k = exprs.lift(1) match {
      case Some(Literal(k: Int, _)) => k
      case Some(other) if other.foldable =>
        other.eval().asInstanceOf[Number].intValue()
      case _ => throw new IllegalArgumentException(
        "bounded_top_k k must be a literal integer")
    }
    BoundedTopK(exprs.head, k,
      boolArrayArg(exprs, 2, "bounded_top_k", "descFlags"),
      boolArrayArg(exprs, 3, "bounded_top_k", "nullsLastFlags"))
  }

  /** `bounded_rank_top_k(struct(keys..., payload...), k, keyCount
    * [, dense[, descFlags[, nullsLastFlags]]])` with literal arguments
    * — the tie-aware rank/dense_rank form of bounded_top_k. The flag
    * arrays address the leading key fields exactly as in
    * `bounded_top_k`.
    */
  private def buildBoundedRankTopK(exprs: Seq[Expression]): BoundedRankTopK = {
    def intArg(i: Int, name: String): Int = exprs.lift(i) match {
      case Some(e) if e.foldable => e.eval().asInstanceOf[Number].intValue()
      case _ => throw new IllegalArgumentException(
        s"bounded_rank_top_k $name must be a literal integer")
    }
    val dense = exprs.lift(3) match {
      case None => false
      case Some(e) if e.foldable => e.eval().asInstanceOf[Boolean]
      case _ => throw new IllegalArgumentException(
        "bounded_rank_top_k dense must be a literal boolean")
    }
    BoundedRankTopK(exprs.head, intArg(1, "k"), intArg(2, "keyCount"), dense,
      boolArrayArg(exprs, 4, "bounded_rank_top_k", "descFlags"),
      boolArrayArg(exprs, 5, "bounded_rank_top_k", "nullsLastFlags"))
  }
}
