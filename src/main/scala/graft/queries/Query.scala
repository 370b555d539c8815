package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: an operator re-expressed as a Spark program
  * (`build(spark, sfDir)`), and the DuckDB SQL whose result gates it. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Query {

  /** Name → record. A name registered twice is an error here, where a
    * `Map(...)` literal would keep one binding and drop the other. */
  def index(queries: Seq[Query]): Map[String, Query] = {
    val twice = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query names registered more than once: ${twice.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}
