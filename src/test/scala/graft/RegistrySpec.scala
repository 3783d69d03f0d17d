package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: each name declared once, with a non-empty
  * oracle, and `queries` / `oracleSql` derived from it whole. Stream
  * twins that share a batch oracle are checked in StreamingSpec. */
class RegistrySpec extends AnyFunSuite {

  test("registry: names are unique and every oracle SQL is non-empty") {
    val names = SparkEntry.registry.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate registry names: ${dupes.mkString(", ")}")
    val empty = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"empty oracle SQL: ${empty.mkString(", ")}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }
}
