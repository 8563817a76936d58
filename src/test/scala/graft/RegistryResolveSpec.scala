package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry

/** `Registry.resolve` is how every main turns its name arguments into
  * queries (Verify, Explain, ScaleCheck, ProfileQ): no names means the
  * whole registry, and a name the registry does not hold is refused up
  * front instead of failing halfway through a run or selecting nothing. */
class RegistryResolveSpec extends AnyFunSuite {

  test("unknown names are refused, all of them named in one error") {
    val e = intercept[IllegalArgumentException](
      Registry.resolve(Seq("q1_agg", "no_such_query", "dedup_minhash_lsh")))
    assert(e.getMessage.contains("no_such_query"))
    assert(e.getMessage.contains("dedup_minhash_lsh"))
    assert(!e.getMessage.contains("q1_agg"))
  }

  test("no names resolves every registered query, in registry order") {
    val all = Registry.resolve(Nil).map(_.name)
    assert(all == Registry.all.map(_.name))
    assert(all.size == 234 && all.distinct.size == 234)
    assert(all.toSet == SparkEntry.queries.keySet)
  }

  test("named queries resolve in the order given") {
    val names = Seq("t_tfidf", "q1_agg")
    assert(Registry.resolve(names).map(_.name) == names)
  }

  test("the mains' default name lists resolve") {
    assert(Registry.resolve(Explain.defaultNames).map(_.name) ==
      Explain.defaultNames)
    assert(Registry.resolve(ScaleCheck.scaleSet).map(_.name) ==
      ScaleCheck.scaleSet)
  }
}
