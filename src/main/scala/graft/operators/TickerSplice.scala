package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** R1 — corporate-action ticker splice (reference:
  * v3/utils.py:560-749 `_split_date_range_by_ticker_change` /
  * `_with_ticker_change_handling`; v2.py:338-438
  * `resolve_ticker_history`).
  *
  * A query for the current symbol's history is rewritten at plan time
  * into `scan(old symbol, ts < changeDate) ∪ scan(new symbol,
  * ts >= changeDate)`, the identity column normalized to the current
  * symbol, then keep-last dedup at the boundary (segment priority =
  * pandas concat order, made explicit per SURVEY §7.4 item 4).
  *
  * This is a plan-level rewrite — both branches are plain filtered
  * scans, so partition pruning and predicate pushdown apply to each
  * segment independently (no custom Catalyst rule needed).
  */
object TickerSplice {

  final case class Alias(currentKey: Any, oldKey: Any, changeDate: String)

  /** The scan of one `root` of `df`: the root's row filter, or, when
    * `aliases` names a pre-rename key for it, its [[splicedHistory]]
    * with `idCols` telling the root's series apart and `arrivalCols`
    * ordering rows at the boundary.
    */
  def spliced(aliases: Seq[Alias], arrivalCols: Seq[String],
      idCols: Seq[String] = Nil)(
      df: DataFrame, root: Any, tsCol: String): DataFrame =
    aliases.find(_.currentKey == root) match {
      case Some(a) => splicedHistory(df, "root", tsCol, a, arrivalCols, idCols)
      case None => df.filter(col("root") === lit(root))
    }

  /** The history of `alias.currentKey`: the old key's rows before the
    * change date and the new key's rows from it on, under the new key.
    * One row is kept per (`tsCol`, `idCols`): `idCols` name the series
    * a key holds (a root's option contracts), so two series quoted at
    * the same instant both survive.
    */
  def splicedHistory(
      data: DataFrame,
      keyCol: String,
      tsCol: String,
      alias: Alias,
      arrivalCols: Seq[String],
      idCols: Seq[String] = Nil): DataFrame = {
    val change = to_timestamp(lit(alias.changeDate))
    val oldSeg = data
      .filter(col(keyCol) === lit(alias.oldKey) && col(tsCol) < change)
      .withColumn("__segment", lit(0))
    val newSeg = data
      .filter(col(keyCol) === lit(alias.currentKey) && col(tsCol) >= change)
      .withColumn("__segment", lit(1))
    val unioned = oldSeg.unionByName(newSeg)
      .withColumn(keyCol, lit(alias.currentKey))
    CoreOps.dedupKeepLast(unioned, tsCol +: idCols, "__segment" +: arrivalCols)
      .drop("__segment")
  }
}
