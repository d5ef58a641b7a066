package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry is one list of specs spread over family files; a name
  * registered twice would silently shadow the other entry once the list
  * becomes the driver's maps. */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = QueryRegistry.specs.map(_.name)

  test("the registry holds 286 specs with names unique across families") {
    assert(names.size == 286)
    assert(names.diff(names.distinct).isEmpty, "duplicate query names")
  }

  test("every spec has non-blank oracle SQL") {
    val blank = QueryRegistry.specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  test("SparkEntry.queries and SparkEntry.oracleSql name the same queries") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}
