package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY §2 to
  * a DataFrame program over the driver test tables; `oracleSql` holds
  * the DuckDB-equivalent SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.pricingSummary(spark, "/root/testdata/sf0.001")

  private val families: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (RelationalQueries.defs, RelationalQueries.oracles),
      (TimeSeriesQueries.defs, TimeSeriesQueries.oracles),
      (TextQueries.defs, TextQueries.oracles),
      (SimilarityQueries.defs, SimilarityQueries.oracles),
      (FinanceQueries.defs, FinanceQueries.oracles),
      (CalendarQueries.defs, CalendarQueries.oracles),
      (PipelineQueries.defs, PipelineQueries.oracles),
      (SessionQueries.defs, SessionQueries.oracles),
      (AnalyticsQueries.defs, AnalyticsQueries.oracles),
      (OlapQueries.defs, OlapQueries.oracles),
      (BulkQueries.defs, BulkQueries.oracles),
      (CurationQueries.defs, CurationQueries.oracles),
      (RetrievalQueries.defs, RetrievalQueries.oracles),
      (CrawlQueries.defs, CrawlQueries.oracles))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(_._1).reduce(_ ++ _)

  /** The named queries sorted by name, or all of them when `names` is
    * empty. An unknown name fails loudly: a misspelled filter would
    * otherwise select nothing and report a clean run.
    */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct.sorted
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    all.toSeq.filter { case (n, _) => names.isEmpty || names.contains(n) }
      .sortBy(_._1)
  }

  def oracleSql: Map[String, String] =
    families.map(_._2).reduce(_ ++ _)
}
