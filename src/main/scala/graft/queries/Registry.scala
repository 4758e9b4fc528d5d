package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, its Spark plan and its DuckDB oracle SQL,
  * side by side. The pair is the behaviour contract: `graft.Verify` writes
  * the plan's result and the oracle, and the two results must hash equal
  * (`tools/check_oracle.py` compares them).
  *
  * Conventions shared by every (plan, oracle) pair:
  *  - every computed column is aliased identically on both sides;
  *  - double aggregates are summed as DECIMAL(30,2) then cast back to
  *    double — order-independent and bit-identical across engines, so the
  *    hash compare needs no tolerance;
  *  - each query has a deterministic ORDER BY including a tie-break.
  *
  * The oracle is generated on first read, not when the query is declared:
  * only Verify reads oracles, so building the registry costs no SQL.
  */
final class Query private (val name: String,
    val plan: (SparkSession, String) => DataFrame, sql: () => String) {
  lazy val oracle: String = {
    val s = sql()
    require(s != null && s.trim.nonEmpty, s"query $name has an empty oracle")
    s
  }
}

object Query {
  /** `Query("name")((s, dir) => plan) { oracle SQL }` */
  def apply(name: String)(plan: (SparkSession, String) => DataFrame)(oracle: => String): Query =
    new Query(name, plan, () => oracle)
}

/** A Bench family: queries that share session-cached subtrees, listed in
  * the cache-aware order Bench runs them in. Membership is the file a
  * query is declared in.
  */
final case class Family(queries: Query*)

/** Every declared query, family by family, in Bench's run order. */
final class Registry private (val families: Seq[Family]) {
  val queries: Seq[Query] = families.flatMap(_.queries)

  /** Name → plan: the view `SparkEntry.queries` exposes. */
  def plans: Map[String, (SparkSession, String) => DataFrame] =
    queries.map(q => q.name -> q.plan).toMap

  /** Name → oracle SQL, in registry order. Reads (and so checks) every
    * oracle. */
  def oracles: Seq[(String, String)] = queries.map(q => q.name -> q.oracle)
}

object Registry {
  /** Raises `IllegalArgumentException` when a query name is declared
    * twice, in one family or across two. */
  def apply(families: Family*): Registry = {
    val names = families.flatMap(_.queries.map(_.name))
    val repeated = names.diff(names.distinct).distinct
    require(repeated.isEmpty, s"query names declared more than once: ${repeated.mkString(", ")}")
    new Registry(families)
  }
}
