package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see SURVEY.md §7. Every query is declared once, with
  * its oracle, in the file of its family under `graft/queries/`.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("vc_returnflag")(spark, "/root/testdata/sf0.001")

  /** The families in Bench's run order (cache-aware: a family's queries
    * share session-cached subtrees, and Bench clears the cache between
    * families). */
  val registry: Registry = Registry(
    MinhashQueries.family,
    ShingleQueries.family,
    TextQualityQueries.family,
    AnnQueries.family,
    TokenQueries.family,
    TableQueries.family,
    RankingQueries.family,
    VizQueries.family,
    TpchQueries.family,
    EventsQueries.family)

  /** Name → plan for every declared query. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = registry.plans
}
