package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {

  test("the catalog workload draws on every module") {
    assert(Catalog.entries.map(_.module).toSet == Catalog.modules.toSet)
  }

  test("a pass is the workload's entries in a seeded order") {
    val names = Catalog.entries.map(_.name)
    assert(Catalog.pass(9, 0).map(_.name).sorted == names.sorted)
    assert(Catalog.pass(9, 0) == Catalog.pass(9, 0))
    assert((1L to 10L).map(Catalog.pass(_, 0).map(_.name)).distinct.size > 5)
  }
}
