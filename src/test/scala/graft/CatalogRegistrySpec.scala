package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's shape, checked without a Spark session: every
  * catalog query has exactly one name and a non-empty DuckDB oracle. */
class CatalogRegistrySpec extends AnyFunSuite {

  test("90 distinct query names, each with a non-empty oracle") {
    val names = catalog.Catalog.all.map(_.name)
    assert(names.size == 90, names)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).mkString("duplicate names: ", ", ", ""))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, empty)
  }
}
