package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory lives in [[RelationalQueries]] (SURVEY.md §2.2–2.9) and
  * [[PipelineQueries]] (§2.11); supporting operator library under
  * `graft.sources` / `graft.operators` / `graft.functions` /
  * `graft.streaming`.
  */
object SparkEntry {

  /** Flagship: the repo's namesake parquet-merge capability (S13) — read N
    * inputs, reconcile schemas by name, aggregate the merged dataset.
    * Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val merged = graft.sources.ParquetIO.read(spark,
      Seq(s"$dir/lineitem.parquet", s"$dir/lineitem.parquet"))
    merged.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ PipelineQueries.queries

  /** The query names a comma-separated `filter` selects, or `None` when
    * it is unset (every query). An empty filter or an unknown name
    * fails: a typo must not select nothing and pass as a clean run.
    * `knob` names the setting the filter came from in the message. */
  private[graft] def selected(knob: String, filter: Option[String]): Option[Set[String]] =
    filter.map { f =>
      val names = f.split(",").map(_.trim).filter(_.nonEmpty).toSet
      if (names.isEmpty) throw new IllegalArgumentException(
        s"$knob is set but empty — unset it to run every query")
      val unknown = names.diff(queries.keySet)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown query names in $knob: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ PipelineQueries.oracle
}
