package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The registry is keyed by query name (`Registry.queries`,
  * `Registry.oracleSql`), so a repeated name would silently drop one of
  * the two queries from every run and every oracle compare. */
class RegistrySpec extends AnyFunSuite {

  test("query names are unique, and a repeated name fails the registry") {
    val names = Registry.all.map(_.name)
    assert(names.size == names.distinct.size,
      s"repeated: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val q = Registry.all.head
    val e = intercept[IllegalArgumentException](Registry.unique(Seq(q, q)))
    assert(e.getMessage.contains(q.name))
  }
}
