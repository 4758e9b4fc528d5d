package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Family, Query, Registry}

/** The query registry: one declaration per name, oracles read lazily. */
class RegistrySpec extends AnyFunSuite {
  private val plan: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  test("a name declared twice in one family is rejected") {
    val e = intercept[IllegalArgumentException] {
      Registry(Family(Query("q")(plan)("SELECT 1"), Query("q")(plan)("SELECT 2")))
    }
    assert(e.getMessage.contains("q"))
  }

  test("a name declared in two families is rejected") {
    intercept[IllegalArgumentException] {
      Registry(Family(Query("a")(plan)("SELECT 1"), Query("b")(plan)("SELECT 2")),
        Family(Query("b")(plan)("SELECT 3")))
    }
  }

  test("oracles are generated on first read, and an empty one is rejected") {
    var generated = 0
    val r = Registry(Family(
      Query("ok")(plan) { generated += 1; "SELECT 1" },
      Query("empty")(plan) { generated += 1; "  " }))
    assert(generated == 0, "building the registry generates no oracle SQL")
    assert(r.queries.head.oracle == "SELECT 1")
    assert(generated == 1)
    intercept[IllegalArgumentException](r.oracles)
  }

  test("SparkEntry.queries is the registry's name -> plan view") {
    val reg = SparkEntry.registry
    assert(reg.families.forall(_.queries.nonEmpty))
    assert(SparkEntry.queries.keySet == reg.queries.map(_.name).toSet)
    assert(SparkEntry.queries.size == reg.queries.size)
    reg.queries.foreach(q => assert(SparkEntry.queries(q.name) eq q.plan))
  }

  test("every declared oracle is non-empty") {
    assert(SparkEntry.registry.oracles.forall(_._2.trim.nonEmpty))
  }
}
