package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Harness contract — see SURVEY.md §7.
  *
  * Every query is declared once, as a [[Query]] in its domain module
  * under `graft.queries`; `queries` and `oracleSql` are projections of
  * that one registry.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full §7.3 medallion chain: clean → hash keys → dedup →
    * deterministic surrogate ids. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.medallion(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val registry: Seq[Query] =
    RefQueries.queries ++ RelationalQueries.queries ++ EventQueries.queries ++
      TextQueries.queries ++ SimilarityQueries.queries ++
      AdvancedQueries.queries ++ CurationQueries.queries

  /** Each query's `build` function over `(session, sfDir)`. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
