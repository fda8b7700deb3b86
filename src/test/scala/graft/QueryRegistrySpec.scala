package graft

import graft.queries._
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one `Query(name, run, oracleSql)` list per family,
  * and `SparkEntry.queries` / `SparkEntry.oracleSql` as views of it.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val families = Seq(
    "x_" -> ExtractionQueries.all,
    "d_" -> DedupQueries.all,
    "p_" -> PipelineQueries.all,
    "q_" -> RelationalQueries.all,
    "s_" -> SearchQueries.all,
    "t_" -> TextQueries.all,
    "w_" -> GraphQueries.all,
    "m_" -> MultimodalQueries.all)

  test("the registry is the eight family lists, 209 queries") {
    assert(SparkEntry.registry == families.flatMap(_._2))
    assert(families.map(_._2.size) == Seq(29, 19, 54, 20, 17, 43, 12, 15))
  }

  test("query names are unique across families") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("a duplicate name makes the registry build throw") {
    val q = ExtractionQueries.all.head
    val e = intercept[IllegalArgumentException](
      Query.byName(Seq(q, DedupQueries.all.head, q.copy(oracleSql = "SELECT 1"))))
    assert(e.getMessage.contains(q.name))
  }

  test("each query name carries its family's prefix") {
    for ((prefix, qs) <- families; q <- qs)
      assert(q.name.startsWith(prefix), s"${q.name} listed in the $prefix family")
  }

  test("every oracle is non-empty SQL") {
    for (q <- SparkEntry.registry) assert(q.oracleSql.trim.nonEmpty, q.name)
  }

  test("queries and oracleSql hold exactly one entry per Query value") {
    val reg = SparkEntry.registry
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == reg.size && SparkEntry.oracleSql.size == reg.size)
    for (q <- reg) {
      assert(SparkEntry.queries(q.name) eq q.run, q.name)
      assert(SparkEntry.oracleSql(q.name) eq q.oracleSql, q.name)
    }
  }
}
