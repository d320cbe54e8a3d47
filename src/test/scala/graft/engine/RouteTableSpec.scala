package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The dispatch table is an exact lookup followed by prefix families, so
  * an exact key that a prefix also matched would silently change which
  * parser wins. */
class RouteTableSpec extends AnyFunSuite {

  test("exact route keys are unique and no prefix family matches one") {
    val keys = Extractor.routeKeys
    assert(keys.distinct.size == keys.size,
      keys.diff(keys.distinct).mkString("duplicated: ", ", ", ""))
    val shadowed = for (k <- keys; p <- Extractor.prefixKeys if k.startsWith(p))
      yield s"$k ~ $p"
    assert(shadowed.isEmpty, shadowed.mkString(", "))
  }
}
