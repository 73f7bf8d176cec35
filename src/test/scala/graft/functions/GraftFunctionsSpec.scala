package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSuite

/** The one graft_* function table and its run-time registration. */
class GraftFunctionsSpec extends SparkSuite {

  test("register adds all 19 graft functions once per registry") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val names = GraftFunctions.table.map { case (name, _, _) => FunctionIdentifier(name) }
    assert(names.size == 19 && names.distinct.size == 19)
    assert(names.contains(FunctionIdentifier("graft_bloom_agg")))
    assert(names.contains(FunctionIdentifier("graft_might_contain")))
    assert(names.forall(n => !reg.functionExists(n)))
    GraftFunctions.register(s)
    val first = names.map(n => n -> reg.lookupFunction(n).get)
    GraftFunctions.register(s)
    first.foreach { case (n, info) =>
      assert(reg.lookupFunction(n).get eq info, s"$n was replaced")
    }
  }
}
