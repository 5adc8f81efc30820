package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry consistency. Each [[graft.queries.Query]] carries its own
  * oracle, so a query without an oracle (or an oracle without a query)
  * cannot be written. What the type cannot rule out is one name listed
  * twice: `toMap` keeps only the last entry, and the shadowed
  * implementation would silently never be graded.
  */
class RegistrySpec extends AnyFunSuite {

  test("no query name is registered by two modules") {
    val collisions = SparkEntry.registry.groupBy(_.name).filter(_._2.size > 1)
    assert(collisions.isEmpty,
      s"query names registered more than once: ${collisions.keys.toSeq.sorted}")
  }
}
