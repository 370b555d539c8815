package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Relational
import graft.queries._

/** Driver contract — see SURVEY.md §7 (repository root).
  *
  * Every entry in `queries` is one operator from SURVEY §2 re-expressed as a
  * declarative Spark program; `oracleSql` carries the DuckDB-equivalent SQL
  * the driver hash-compares against at sf0.01. Both come from one
  * [[graft.queries.Query]] record per query, kept by its operator family
  * under `graft.queries`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.groupAgg(spark, "/root/testdata/sf0.001")

  private val byName: Map[String, Query] = Query.index(Seq(
    RelationalQueries.all, CatalogQueries.all, PublishQueries.all,
    TextQueries.all, DedupQueries.all, SimilarityQueries.all,
    MultimodalQueries.all, LayoutQueries.all, CurationQueries.all,
  ).flatten)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (name, q) => name -> q.build }

  val oracleSql: Map[String, String] =
    byName.map { case (name, q) => name -> q.oracleSql }
}
